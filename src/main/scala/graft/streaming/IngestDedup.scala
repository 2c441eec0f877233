package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Materialize
import graft.queries.VectorOps

/** Streaming ingest deduplication — the production loop a continuously-
  * ingesting corpus runs, composed from the engine's incremental pieces:
  * each micro-batch is probed against the persisted MinHash index
  * ([[graft.queries.VectorOps.neardupDeltaIndexed]] — the corpus is never
  * re-shingled), near-dups are dropped, survivors are written out and
  * their signatures appended to the index so the NEXT batch sees them.
  * [[runVectors]] is the embedding-space twin over the persisted cosine
  * index (semantic ingest dedup), sharing the same drop policy.
  *
  * Drop policy (keep-first, the cluster-rep convention): a batch doc is
  * dropped iff it near-dups an already-admitted corpus doc (cross pair —
  * drop the new end) or a smaller-id doc of its own batch (within pair —
  * drop the larger end). Conservative on chains: a doc whose only
  * near-dup was itself dropped is still dropped (pair-based, no CC in
  * the hot path) — over-drop is the safe direction for training data.
  *
  * Fault tolerance: the INDEX is the pipeline's state — durable parquet,
  * not stream-internal state, so a restart resumes from the checkpoint
  * with the corpus intact. foreachBatch is at-least-once, and every
  * write a replay re-executes is an OVERWRITE of that batch's own
  * partition dir — the survivor output AND the index increment — so a
  * replayed batch leaves both byte-equivalent (no duplicated index
  * rows); the id-equality guard keeps a replayed survivor from
  * near-dup-matching its own already-indexed copy.
  */
object IngestDedup {

  /** Start the pipeline over a streaming (doc_id, text) frame. The index
    * at `indexPath` must exist ([[graft.queries.VectorOps.writeNeardupIndex]]
    * over the existing corpus, or over an empty frame for a fresh start).
    * `compactEvery` > 0 folds the index's accumulated `batch=` increments
    * into one partition after every N batches
    * ([[graft.queries.VectorOps.compactNeardupIndex]]) — safe here
    * because foreachBatch serializes, so the compaction swap never races
    * a probe.
    */
  def run(docs: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, threshold: Double = 0.5,
      compactEvery: Int = 0, pairLog: Option[String] = None): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), batchId, indexPath, outPath, threshold,
          pairLog)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          VectorOps.compactNeardupIndex(batch.sparkSession, indexPath)
      }
      .start()

  /** The embedding-space twin of [[run]]: a streaming (vec_id, embedding)
    * frame deduplicated against (and growing) a persisted cosine index
    * ([[graft.queries.VectorOps.writeCosineIndex]]). Same drop policy,
    * same fault-tolerance posture; `numPlanes`/`bands`/`seed` must match
    * the index build.
    */
  def runVectors(vecs: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, threshold: Double, numPlanes: Int = 16,
      bands: Int = 8, seed: Long = 42L,
      compactEvery: Int = 0, pairLog: Option[String] = None): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processVectorBatch(batch.toDF(), batchId, indexPath, outPath,
          threshold, numPlanes, bands, seed, pairLog)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          VectorOps.compactCosineIndex(batch.sparkSession, indexPath)
      }
      .start()

  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      indexPath: String, outPath: String, threshold: Double,
      pairLog: Option[String] = None): Unit = {
    // a restart after a crash mid-compaction-swap must self-repair
    // BEFORE the probe reads the index, or every replay dies on the
    // missing component dir
    VectorOps.recoverNeardupIndex(batch.sparkSession, indexPath)
    // materialized once: the batch feeds the probe, the survivor
    // anti-join, the output write and the index append. The FULL batch
    // schema rides through — the probe only needs (doc_id, text), but a
    // production batch carries metadata (source, fetch time, license)
    // that must survive into the output
    val b = Materialize.cut(batch)
    val pairs0 = VectorOps.neardupDeltaIndexed(
      batch.sparkSession, indexPath, b.select(col("doc_id"), col("text")),
      threshold)
    // with the log on, the probe plan (the batch's costliest join) feeds
    // two actions — materialize it once instead of executing it twice
    val pairs = if (pairLog.isDefined) Materialize.cut(pairs0) else pairs0
    logPairs(pairs, "d1", "d2", pairLog, batchId)
    val survivors = admit(b, pairs, "doc_id", "d1", "d2")
    survivors.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
    VectorOps.appendNeardupIndex(survivors, indexPath, batchId.toString)
  }

  private[graft] def processVectorBatch(batch: DataFrame, batchId: Long,
      indexPath: String, outPath: String, threshold: Double,
      numPlanes: Int, bands: Int, seed: Long,
      pairLog: Option[String] = None): Unit = {
    VectorOps.recoverCosineIndex(batch.sparkSession, indexPath)
    val b = Materialize.cut(batch)
    val pairs0 = VectorOps.cosineDeltaIndexed(
      batch.sparkSession, indexPath,
      b.select(col("vec_id"), col("embedding")), threshold, numPlanes,
      bands, seed)
    val pairs = if (pairLog.isDefined) Materialize.cut(pairs0) else pairs0
    logPairs(pairs, "v1", "v2", pairLog, batchId)
    val survivors = admit(b, pairs, "vec_id", "v1", "v2")
    survivors.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
    VectorOps.appendCosineIndex(survivors, indexPath, batchId.toString,
      numPlanes, bands, seed)
  }

  /** Optional dedup provenance: every verified near-dup pair a batch saw
    * (cross AND within), written to `$dir/batch=<id>` — the same
    * replay-idempotent overwrite convention as the survivor output and
    * the index increments. Pairs are logged CANONICALIZED — unordered
    * (min, max) ids, deduplicated, no orientation marker — because the
    * raw probe output is NOT replay-stable: on a replayed batch the
    * original run's survivors are already indexed, so a doc first
    * dropped via a within-batch pair now ALSO matches its keeper's
    * indexed copy as a cross pair. As unordered ids those are the same
    * edge, so the canonical row set is identical on any replay; the
    * `cross` marker stays an admit()-internal concern. The log is
    * append-only EVENT state; cluster labels are DERIVED from it on
    * demand ([[clusterLabelsFromLog]]) rather than maintained as a
    * mutable table each batch would have to read-modify-rewrite (and
    * could crash-corrupt mid-swap). The log answers the audit question
    * the drop policy erases: which admitted document each dropped one
    * duplicated.
    */
  private def logPairs(pairs: DataFrame, c1: String, c2: String,
      pairLog: Option[String], batchId: Long): Unit =
    pairLog.foreach { dir =>
      pairs.filter(col(c1) =!= col(c2))
        .select(least(col(c1), col(c2)).as("src"),
          greatest(col(c1), col(c2)).as("dst"))
        .distinct()
        .write.mode("overwrite").parquet(s"$dir/batch=$batchId")
    }

  /** Cluster labels over everything the ingest loop has ever matched:
    * connected components of the full pair log ((id, rep), rep = min id
    * of the duplicate cluster — the same labels a from-scratch
    * [[graft.queries.VectorOps]] cluster query would assign to these
    * pairs). Small logs finish as a driver union-find, huge ones run the
    * distributed loop (see
    * [[graft.operators.ConnectedComponents.runOnPairs]]); for a
    * standing label table, feed the previous result and only the new
    * batches' pairs to [[graft.operators.ConnectedComponents.mergeLabels]].
    */
  def clusterLabelsFromLog(spark: SparkSession,
      pairLogDir: String, maxRounds: Int = 50): DataFrame =
    graft.operators.ConnectedComponents.runOnPairs(
      spark.read.parquet(pairLogDir).select(col("src"), col("dst")),
      maxRounds)

  /** Shared drop policy over a delta pair frame carrying the `cross`
    * marker. The marker, not batch membership, classifies the pair: on a
    * replayed batch the survivors are ALREADY in the index, so a cross
    * pair's far end can be a batch id too — inferring "within" from
    * membership would drop the previously-admitted doc (replay data
    * loss). The id-equality filter keeps a replayed survivor from
    * matching its own indexed copy.
    */
  private[streaming] def admit(b: DataFrame, pairDf: DataFrame, idCol: String,
      c1: String, c2: String): DataFrame = {
    val pairs = pairDf.filter(col(c1) =!= col(c2))
    val dropCross = pairs.filter(col("cross")).select(col(c1).as(idCol))
    val dropWithin = pairs.filter(!col("cross")).select(col(c2).as(idCol))
    Materialize.cut(
      b.join(dropCross.union(dropWithin).distinct(), Seq(idCol), "left_anti"))
  }
}
