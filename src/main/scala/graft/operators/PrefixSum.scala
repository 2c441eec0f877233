package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed prefix (running) sum over a global ordering — the
  * primitive behind sequence packing, global row numbering and offset
  * assignment in a training-data pipeline.
  *
  * The naive form — `sum(x).over(Window.orderBy(k))` with no partition —
  * collapses the whole dataset into ONE task (Spark warns exactly that)
  * and is the classic 100 TB cliff. This operator computes the same
  * result scalably, the textbook two-phase scan:
  *
  *   1. range-partition by the order key (partition index order == key
  *      order), running sum WITHIN each partition (parallel);
  *   2. per-partition totals (numParts rows, tiny) get an exclusive
  *      running sum of their own — each partition's global offset;
  *   3. broadcast the offsets back and add.
  *
  * The result is independent of the partition boundaries the range
  * sampler picks, so the output is deterministic even though
  * `repartitionByRange` samples.
  */
object PrefixSum {

  /** Adds `outCol` = running sum of `valueCol` over ascending `orderCol`
    * (inclusive of the current row). `orderCol` must be globally unique
    * (it defines the total order).
    */
  def withRunningSum(df: DataFrame, orderCol: String, valueCol: String,
      outCol: String, numParts: Int = 32): DataFrame = {
    require(!df.columns.exists(_.startsWith("__ps_")),
      "__ps_* columns are reserved by PrefixSum")
    // eager cut: BOTH downstream branches (local sums and
    // per-partition totals) must see the SAME partition boundaries, and
    // repartitionByRange samples nondeterministically — without the
    // materialization, disabling exchange reuse (or any plan divergence)
    // would execute the range exchange twice with different boundaries
    // and silently mis-assign offsets. The checkpoint also makes the
    // two branches one scan instead of two.
    val parted = Materialize.cut(df.repartitionByRange(numParts, col(orderCol))
      .withColumn("__ps_pid", spark_partition_id()))
    val wIn = Window.partitionBy(col("__ps_pid")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parted.withColumn("__ps_local", sum(col(valueCol)).over(wIn))
    // per-partition totals: numParts rows — the single-partition window
    // here scans a PARTITION COUNT, not the data
    val wOff = Window.orderBy(col("__ps_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parted.groupBy(col("__ps_pid"))
      .agg(sum(col(valueCol)).as("__ps_total"))
      .withColumn("__ps_offset", coalesce(sum(col("__ps_total")).over(wOff), lit(0L)))
      .select(col("__ps_pid"), col("__ps_offset"))
    local.join(broadcast(offsets), "__ps_pid")
      .withColumn(outCol, col("__ps_local") + col("__ps_offset"))
      .drop("__ps_pid", "__ps_local", "__ps_offset")
  }
}
