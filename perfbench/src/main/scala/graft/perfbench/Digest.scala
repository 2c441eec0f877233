package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** An order-independent digest of a result: its row count and the wrapping
  * sum of one `xxhash64` per row over every column. Collecting the per-row
  * hash runs the whole plan (sorts and every projected column included),
  * unlike `.count()`, which lets the optimizer prune columns and UDFs.
  *
  * Doubles are hashed as stored: the oracle compare
  * (`scripts/oracle_check.py`'s `canon`) reads them exactly, with -0.0
  * folded into 0.0, and Spark's hash folds -0.0 the same way.
  */
final case class Digest(rows: Long, sum: Long) {
  override def toString: String = s"$rows:$sum"
}

object Digest {
  def parse(s: String): Digest = {
    val Array(r, h) = s.split(":")
    Digest(r.toLong, h.toLong)
  }

  /** Map columns are unordered, so they are hashed as their sorted entries. */
  private def hashable(df: DataFrame): Seq[Column] = df.schema.fields.toSeq.map { f =>
    f.dataType match {
      case _: MapType => array_sort(map_entries(col(s"`${f.name}`")))
      case _ => col(s"`${f.name}`")
    }
  }

  def of(df: DataFrame): Digest = {
    val hashes = df.select(xxhash64(hashable(df): _*)).collect()
    var sum = 0L
    hashes.foreach(r => sum += r.getLong(0))
    Digest(hashes.length.toLong, sum)
  }
}
