package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.CheckpointStats

/** The ONE owner of every lineage cut in the engine, and the one
  * cluster-posture decision for all of them, selected by
  * `spark.graft.materialize`.
  *
  * Two entry points:
  *
  *  - [[apply]] — an OPTIONAL trunk materialization. Several pipeline
  *    trunks are referenced by multiple downstream stages and Catalyst
  *    expands the full subtree per reference (zero exchange reuse across
  *    the references), so the engine materializes them once: the curate
  *    stage-1–3 marker frame under the containment stage (one row per
  *    doc with its gate/exact-dup/contamination markers — the stage-3
  *    survivors are its filter, the verdict join starts from it), the
  *    sourceOverlap/noveltyCurve window-explode frames (engine surfaces),
  *    and the streaming-containment batch shingle frames.
  *  - [[cut]] — a MANDATORY cut: iterative loops ([[ConnectedComponents]]
  *    and [[NnDescent]] rounds, IVF/PQ training), the session memo builds
  *    (materialization is part of the memo's semantics), and every frame
  *    that must be computed exactly once before a write or a
  *    multi-reference plan — among them the curate CLI's verdict frame,
  *    whose row count and parquet write both read the one cut.
  *    [[release]] deletes a superseded cut's durable file.
  *
  * The posture:
  *
  *  - `local` (default) — `localCheckpoint`: executor-local blocks, no
  *    configuration needed, the right choice for local mode and stable
  *    clusters. Caveat: blocks are NOT reliable storage — on a cluster
  *    with executor decommissioning/churn a lost block fails the query
  *    (it cannot be recomputed; lineage was truncated).
  *  - `reliable` — `checkpoint`: durable blocks under the session's
  *    checkpoint dir (`SparkContext.setCheckpointDir` must be called, and
  *    every cut fails loudly up front if it is not); survives executor
  *    loss at the cost of writing each frame to the checkpoint
  *    filesystem. The production posture wherever executors are
  *    preemptible: in a multi-round iteration at 100 TB, executor churn
  *    is a certainty, not a tail risk.
  *  - `lazy` — affects trunks only: [[apply]] returns the stateless plan,
  *    re-deriving the trunk per reference (the A/B arm, and the escape
  *    for regimes where the trunk is cheaper to recompute than to store;
  *    the CONTRACT rows that pin a stateless plan pass explicit flags and
  *    never reach this policy). [[cut]] still cuts with
  *    `localCheckpoint` — an uncut iterative lineage grows exponentially.
  */
object Materialize {
  val ConfKey = "spark.graft.materialize"

  def mode(df: DataFrame): String = {
    val m = df.sparkSession.conf.getOption(ConfKey).getOrElse("local")
    require(m == "local" || m == "reliable" || m == "lazy",
      s"$ConfKey must be local|reliable|lazy, got '$m'")
    m
  }

  /** Materialize the optional trunk `df` per the session policy (see
    * object doc); `lazy` returns `df` untouched. */
  def apply(df: DataFrame): DataFrame =
    if (mode(df) == "lazy") df else cut(df)

  /** Cut `df`'s lineage: durable `checkpoint` under `reliable`,
    * `localCheckpoint` otherwise. A lazy cut (`eager = false`) writes its
    * blocks during the first action over the result. */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame =
    if (mode(df) == "reliable") {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$ConfKey=reliable needs a durable checkpoint dir: call " +
          "SparkContext.setCheckpointDir(<HDFS/object-store path>) first")
      df.checkpoint(eager)
    } else df.localCheckpoint(eager)

  /** Delete the durable checkpoint file backing `df`, a [[cut]] that a
    * later, already computed cut superseded — nothing may read `df`
    * afterwards. Spark never cleans reliable checkpoints itself (the
    * reference-tracking cleaner is off by default), so an iterative loop
    * that does not release its outgoing round keeps one full copy per
    * round. Local blocks have no file: a no-op outside `reliable`. */
  def release(df: DataFrame): Unit =
    CheckpointStats.checkpointFile(df).foreach { f =>
      val p = new Path(f)
      p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
}
