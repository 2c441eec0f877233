package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Session-memoized corpus row counts for DERIVED-KNOB defaults
  * (r17 verdict task 5).
  *
  * [[graft.queries.VectorOps.knnLshAt]] (derived banding) and the
  * derived-√n [[Ivf.defaultCells]] call sites each paid a full
  * `count()` job per invocation — at corpus scale on a shared session
  * that is a full scan per operator call, for a number that changes
  * only when the corpus files do. Keyed by the canonicalized logical
  * plan ([[SessionMemo]] adds the session and the fingerprint of the
  * plan's input files): [[graft.queries.Tables.t]] returns the SAME
  * frame per (session, path), so every contract-query invocation hits
  * after the first; ad-hoc frames with equal canonical plans share the
  * entry, genuinely fresh plans (e.g. per-build `localCheckpoint`
  * frames) miss and pay their own count — correct, since their data
  * really is new.
  *
  * Only DEFAULT-geometry derivation routes through this memo; explicit
  * knob callers never count at all. Each family is priced by its own
  * warmFamilies row so bench rows stay per-query (WarmRegistrySpec-
  * pinned).
  */
object CorpusCount {
  private val counts = SessionMemo.family[LogicalPlan, Long]("corpus_count")

  def of(df: DataFrame): Long =
    counts(df.sparkSession, df.queryExecution.logical.canonicalized,
      SessionMemo.inputsOf(df))(df.count())

  private val dupCounts =
    SessionMemo.family[(LogicalPlan, String), (Long, Long)]("corpus_dup_stats")

  /** Session-memoized (rows, distinct values of `colName`) of a frame —
    * ONE map-combinable aggregate job on miss. Feeds derived
    * FORM switches (r19: [[graft.queries.VectorOps.dedupSimhashAt]]
    * collapses identical hashes only when the corpus actually carries
    * duplicate mass — both forms are bit-equal, so like [[of]] the memo
    * can only ever steer a plan choice, never a result value).
    */
  def dupStats(df: DataFrame, colName: String): (Long, Long) =
    dupCounts(df.sparkSession,
      (df.queryExecution.logical.canonicalized, colName),
      SessionMemo.inputsOf(df)) {
      val r = df.agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.count_distinct(
          org.apache.spark.sql.functions.col(colName))).head()
      (r.getLong(0), r.getLong(1))
    }
}
