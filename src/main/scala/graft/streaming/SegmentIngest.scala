package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.queries.TextOps

/** Streaming segment (paragraph) dedup — [[IngestDedup]]'s twin at
  * sub-document granularity, composed from the engine's incremental
  * pieces: each micro-batch is deduplicated against the persisted
  * seen-segment set ([[graft.queries.TextOps.segmentDedupDelta]] — old
  * documents are never re-segmented), the rewritten docs (novel
  * segments only, reassembled) are written out, and the batch's novel
  * hashes grow the index so the NEXT batch sees them. The Dolma-style
  * paragraph-dedup pass, as a continuously-running pipeline.
  *
  * Fault tolerance: the index is durable parquet, foreachBatch is
  * at-least-once, and both writes a replay re-executes (the rewrite
  * output and the index increment) are OVERWRITES of the batch's own
  * `batch=b<id>` dirs — a replayed batch reproduces its first run
  * byte-equivalently because its own increment is excluded from the
  * seen-set it probes ([[graft.queries.TextOps.segmentDedupDelta]]'s
  * replay window).
  *
  * Compaction cadence: [[graft.queries.TextOps.compactSegmentIndex]]
  * CLOSES the replay window of the tags it folds, so the cadence runs
  * at the START of a batch — every earlier batch is checkpoint-committed
  * and will never replay — and SKIPS when a prior attempt of the
  * current batch already appended its increment (folding the current
  * tag would close exactly the window the at-least-once retry needs;
  * the skipped compaction happens on the next cadence hit instead).
  */
object SegmentIngest {

  /** Start the pipeline over a streaming (doc_id, text) frame. Output:
    * one `batch=b<id>` dir of (doc_id, clean_text, n_seg, n_kept) rows
    * — the rewrite digest; batch metadata joins back on doc_id. A fresh
    * corpus needs no index bootstrap: the first batch creates it.
    */
  def run(docs: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, width: Int = 8,
      compactEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), batchId, indexPath, outPath, width,
          compactEvery)
      }
      .start()

  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      indexPath: String, outPath: String, width: Int,
      compactEvery: Int = 0): Unit = {
    val spark = batch.sparkSession
    val tag = s"b$batchId"
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0 &&
        !graft.operators.IndexStore.tagExists(spark, indexPath, "seen", tag))
      TextOps.compactSegmentIndex(spark, indexPath)
    TextOps.segmentDedupDelta(spark, indexPath, batch, width, tag)
      .write.mode("overwrite").parquet(s"$outPath/batch=$tag")
  }
}
