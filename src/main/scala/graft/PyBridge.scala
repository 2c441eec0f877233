package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{CurateConfig, TextOps, VectorOps}

/** Py4j-friendly facade for PySpark callers (r13 verdict task 7).
  *
  * The engine is JVM-first, but a PySpark user reaches every entry
  * point through the session's JVM gateway — this object keeps that
  * crossing trivial by exposing ONLY gateway-clean signatures: no
  * case-class configs, no `Option`s, no default arguments (py4j can't
  * see Scala defaults — they compile to synthetic `…$default$n`
  * methods), no Scala collections. DataFrames cross the bridge as
  * their java handles (`df._jdf` on the way in,
  * `pyspark.sql.DataFrame(jdf, spark)` on the way out) — zero data
  * movement, the plan stays lazy in the one shared JVM.
  *
  * Usage from PySpark (see `scripts/pyspark_smoke.py`, which runs this
  * end-to-end):
  * {{{
  *   bridge = spark._jvm.graft.PyBridge
  *   df = DataFrame(bridge.query(spark._jsparkSession, "q_agg_group", sf), spark)
  *   curated = DataFrame(bridge.curateSemantic(docs._jdf, 0.35), spark)
  * }}}
  */
object PyBridge {

  /** All registered contract query names, sorted (a discovery surface
    * for the Python side).
    */
  def queryNames(): java.util.List[String] = {
    val l = new java.util.ArrayList[String]()
    SparkEntry.queries.keys.toSeq.sorted.foreach(l.add)
    l
  }

  /** Run any registered contract query by name against an sf dir. */
  def query(spark: SparkSession, name: String, sfDir: String): DataFrame =
    SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown query '$name' — names are PyBridge.queryNames()"))(spark, sfDir)

  /** The batch curation pipeline at contract defaults over a
    * (doc_id, text, n_chars, …) frame.
    */
  def curate(docs: DataFrame): DataFrame = TextOps.curateOn(docs)

  /** Curation with the segment-dedup leading stage. */
  def curateSegments(docs: DataFrame, width: Int): DataFrame =
    TextOps.curateOn(docs, CurateConfig(segmentDedupWidth = Some(width)))

  /** Curation with the containment (excerpt/truncation) stage on —
    * contained docs drop as `contained_dup` before the symmetric
    * near-dup stage; the streaming loop runs the same stage against a
    * persisted shingle-postings index when its CurateConfig carries the
    * threshold.
    */
  def curateContainment(docs: DataFrame, threshold: Double): DataFrame =
    TextOps.curateOn(docs, CurateConfig(containmentThreshold = Some(threshold)))

  /** Curation with the semantic trailing stage — `docs` must carry an
    * `embedding` column (join your embeddings on doc_id first).
    */
  def curateSemantic(docs: DataFrame, threshold: Double): DataFrame =
    TextOps.curateOn(docs, CurateConfig(semanticThreshold = Some(threshold)))

  /** Mixed-media curation from Python (r16 verdict task 6): `media` is
    * a list of "column:kind" entries (kind ∈ image|audio|video,
    * declaration order = probe order); `byKind = true` labels each
    * media drop with the modality that fired (`media_dup:<kind>`)
    * instead of the order-independent `media_dup`.
    */
  def curateMedia(docs: DataFrame, media: java.util.List[String],
      byKind: Boolean): DataFrame = {
    import scala.jdk.CollectionConverters._
    TextOps.curateOn(docs, CurateConfig(
      media = media.asScala.toSeq.map { s =>
        s.split(":", 2) match {
          case Array(c, k) if c.nonEmpty && k.nonEmpty => (c, k)
          case _ => throw new IllegalArgumentException(
            s"media entries are column:kind, got '$s'")
        }
      },
      mediaDupByKind = byKind))
  }

  /** Exact near-dup pairs (Jaccard over 3-shingles) at `threshold`. */
  def neardupPairs(docs: DataFrame, threshold: Double): DataFrame =
    TextOps.neardupJaccardAt(docs, threshold)

  /** MinHash-LSH verified near-dup pairs — the scale path. */
  def neardupPairsLsh(docs: DataFrame, threshold: Double): DataFrame =
    graft.queries.VectorOps.minhashPairsOn(docs, threshold)

  /** SimHash near-dup pairs at `maxHamming` — corpus-derived banding
    * (candidate-exhaustive to hamming 7; r18). 2-arg overload because
    * Scala default args are invisible over Py4J.
    */
  def neardupPairsSimhash(docs: DataFrame, maxHamming: Int): DataFrame =
    graft.queries.VectorOps.dedupSimhashAt(docs, maxHamming)

  def neardupPairsSimhash(docs: DataFrame): DataFrame =
    neardupPairsSimhash(docs, 6)

  /** Exact cosine top-k of `queries` rows against `corpus` (both need
    * (vec_id, embedding)).
    */
  def knn(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    graft.queries.VectorOps.knn(corpus, queries, k)

  // ------------------------------------- index history / as-of (r13)

  /** One health view of a persisted index — batches with file stats,
    * sidecars, lifecycle flags ([[graft.operators.IndexStore.indexInfo]]).
    */
  def indexInfo(spark: SparkSession, path: String): DataFrame =
    graft.operators.IndexStore.indexInfo(spark, path)

  /** A persisted index's admitted batch tags, in append order. */
  def indexHistory(spark: SparkSession, path: String): java.util.List[String] = {
    val l = new java.util.ArrayList[String]()
    graft.operators.IndexStore.indexHistory(spark, path).foreach(l.add)
    l
  }

  /** Exact-dedup delta against a persisted digest index (admits `tag`). */
  def exactDedupDelta(spark: SparkSession, path: String, batch: DataFrame,
      tag: String): DataFrame =
    TextOps.exactDedupDelta(spark, path, batch, tag)

  /** [[exactDedupDelta]] against the index AS OF a recorded tag —
    * read-only reproducibility probe (see DEPLOY.md, as-of reads).
    */
  def exactDedupDeltaAsOf(spark: SparkSession, path: String,
      batch: DataFrame, asOf: String): DataFrame =
    TextOps.exactDedupDeltaAsOf(spark, path, batch, asOf)

  // ------------------------------------------ corpus interchange (r13)

  /** Read a JSONL corpus with the schema of another frame (py4j-clean
    * stand-in for passing a StructType: build an empty frame with the
    * target schema in Python, or read one parquet shard, and pass it).
    */
  def readJsonl(spark: SparkSession, path: String,
      schemaFrom: DataFrame): DataFrame =
    graft.queries.Formats.readJsonl(spark, path, schemaFrom.schema)

  def writeJsonl(df: DataFrame, path: String): Unit =
    graft.queries.Formats.writeJsonl(df, path)

  // ------------------------------- ingest monitoring + decon (r14)
  // The per-batch observability trio a scheduled Python job runs on
  // the ingest cadence: corpus drift (document stats), embedding
  // drift (vector space), and semantic decontamination — each a plain
  // frame-in/frame-out call, zero data movement across py4j.

  /** Per-bin PSI drift terms between a baseline document corpus and a
    * batch (n_chars bins / lang / source) — TextOps.corpusDriftOn.
    */
  def corpusDrift(baseline: DataFrame, batch: DataFrame): DataFrame =
    TextOps.corpusDriftOn(baseline, batch)

  /** Embedding-space PSI drift terms (hyperplane-bucket occupancy +
    * argmax dim) between two (vec_id, embedding) frames.
    */
  def vecDrift(baseline: DataFrame, batch: DataFrame): DataFrame =
    VectorOps.vecDriftOn(baseline, batch)

  /** One micro-batch of the streaming curation pipeline driven from an
    * EXTERNAL scheduler (Airflow-style) instead of Structured Streaming
    * — the foreachBatch body, same persisted state, same replay
    * discipline. `driftBaseline` ("" = off) additionally emits the
    * batch's PSI terms vs that pinned corpus under
    * `<outPath>_drift/batch=b<id>` (the r15 drift side output). The
    * baseline is re-profiled per call here (~one aggregate over the
    * baseline corpus); a long-running scheduler should prefer the
    * streaming form, which profiles once per stream.
    */
  def curateIngestBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, statePath: String, outPath: String,
      driftBaseline: String): Unit = {
    val db = if (driftBaseline.isEmpty) None
      else Some(graft.streaming.CurateIngest.driftProfile(
        spark.read.parquet(driftBaseline)))
    graft.streaming.CurateIngest.processBatch(batch, batchId, statePath,
      outPath, CurateConfig(), driftBase = db)
  }

  /** Hybrid lexical+semantic retrieval over any (doc_id, text) corpus
    * and id-aligned (vec_id, embedding) table: BM25 pool ∪ cosine pool
    * fused by RRF — TextOps.searchHybridOn at explicit knobs (py4j
    * sees no Scala defaults).
    */
  def searchHybrid(docs: DataFrame, embs: DataFrame, k: Int, pool: Int,
      rrfK: Long, queryId: Long): DataFrame =
    TextOps.searchHybridOn(docs, embs, k, pool, rrfK, queryId)

  /** The 100 TB hybrid form: semantic pool from a persisted routed
    * graph-index probe (graphWriteIndex's layout) instead of the exact
    * corpus scan — TextOps.searchHybridRouted.
    */
  def searchHybridRouted(spark: SparkSession, docs: DataFrame,
      embs: DataFrame, indexPath: String, k: Int, pool: Int, rrfK: Long,
      queryId: Long, beam: Int, hops: Int, nprobe: Int,
      hubsPerCell: Int): DataFrame =
    TextOps.searchHybridRouted(spark, docs, embs, indexPath, k, pool,
      rrfK, queryId, beam, hops, nprobe, hubsPerCell)

  /** Pairwise source-overlap matrix over shared `width`-token windows
    * (n_shared + exact containment share) — TextOps.sourceOverlapOn.
    */
  def sourceOverlap(docs: DataFrame, width: Int): DataFrame =
    TextOps.sourceOverlapOn(docs, width)

  /** Nearest-centroid assignment confusion matrix over a (vec_id,
    * embedding, label) frame — VectorOps.vecCentroidAssignOn.
    */
  def vecCentroidAssign(embs: DataFrame): DataFrame =
    VectorOps.vecCentroidAssignOn(embs)

  /** Directional shingle-containment near-dup pairs (truncated-copy
    * detector) — TextOps.neardupContainmentOn.
    */
  def neardupContainment(docs: DataFrame, threshold: Double): DataFrame =
    TextOps.neardupContainmentOn(docs, threshold)

  /** Corpus saturation curve (per-tranche novelty of width-token
    * windows, bucketDocs ids per tranche) — TextOps.noveltyCurveOn.
    */
  def noveltyCurve(docs: DataFrame, width: Int, bucketDocs: Long): DataFrame =
    TextOps.noveltyCurveOn(docs, width, bucketDocs)

  /** Per-batch novelty vs the persisted seen-segment index (read-only
    * probe) — TextOps.noveltyDelta; the incremental saturation signal
    * an operator loop polls per ingest batch.
    */
  def noveltyDelta(spark: SparkSession, path: String, batch: DataFrame,
      width: Int): DataFrame =
    TextOps.noveltyDelta(spark, path, batch, width)

  /** [[noveltyDelta]] against the seen-set snapshot as of a batch tag. */
  def noveltyDeltaAsOf(spark: SparkSession, path: String, batch: DataFrame,
      width: Int, asOf: String): DataFrame =
    TextOps.noveltyDelta(spark, path, batch, width, Some(asOf))

  // ------------------------- containment postings index (r15 s2)

  /** Containment pairs of a (doc_id, text, n_chars) batch vs the
    * postings index + within the batch (admit convention: cross rows
    * drop c1, within rows drop c2) — TextOps.containmentDeltaIndexed.
    */
  def containmentDelta(spark: SparkSession, path: String, batch: DataFrame,
      threshold: Double, tag: String): DataFrame =
    TextOps.containmentDeltaIndexed(spark, path, batch, threshold, tag)

  /** The cross half as of a recorded tag — read-only. */
  def containmentDeltaAsOf(spark: SparkSession, path: String,
      batch: DataFrame, threshold: Double, asOf: String): DataFrame =
    TextOps.containmentDeltaIndexedAsOf(spark, path, batch, threshold, asOf)

  /** Post a kept batch's shingle hashes under batch=tag. */
  def appendContainmentIndex(spark: SparkSession, path: String,
      keepers: DataFrame, tag: String): Unit =
    TextOps.appendContainmentIndex(spark, path, keepers, tag)

  def compactContainmentIndex(spark: SparkSession, path: String): Unit =
    TextOps.compactContainmentIndex(spark, path)

  /** Exact semantic decontamination of a corpus frame against a
    * broadcast eval frame — per-vector n_hits / max_cos / verdict.
    */
  def semanticDecontaminate(corpus: DataFrame, evalVecs: DataFrame,
      threshold: Double): DataFrame =
    VectorOps.semanticDecontaminateOn(corpus, evalVecs, threshold)

  /** The pruned path against a persisted eval-set cosine index
    * (writeCosineIndex) — read-only on the index.
    */
  def semanticDecontaminateIndexed(spark: SparkSession, path: String,
      corpus: DataFrame, threshold: Double): DataFrame =
    VectorOps.semanticDecontaminateIndexed(spark, path, corpus, threshold)

  /** The indexed semantic decon AS OF a recorded tag — "what would
    * eval release R have flagged" (read-only; the shingle family's
    * as-of decontaminateIndexed question, embedding-space).
    */
  def semanticDecontaminateIndexedAsOf(spark: SparkSession, path: String,
      corpus: DataFrame, threshold: Double, asOf: String): DataFrame =
    VectorOps.semanticDecontaminateIndexed(spark, path, corpus, threshold,
      asOf = Some(asOf))

  /** Persist an eval set as the cosine index the indexed decon probes. */
  def writeCosineIndex(vecs: DataFrame, path: String): Unit =
    VectorOps.writeCosineIndex(vecs, path)

  // ----------------------------------- index operator loop (r14)
  // The watch → rebuild → verify loop a scheduled Python job runs
  // against live ANN/dedup indexes: drift verdicts, zero-downtime
  // aside-rebuilds, and the as-of probes that verify them. Vector
  // frames cross as (vec_id, embedding) — n2 is derived here so the
  // Python side never computes norms.

  private def withN2(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(col("vec_id"), col("embedding"),
      org.apache.spark.sql.graft.VectorExpressions
        .dotProduct(col("embedding"), col("embedding")).as("n2"))
  }

  /** IVF index drift roll-up (one row, `rebuild_recommended` verdict). */
  def ivfDriftSummary(spark: SparkSession, path: String): DataFrame =
    graft.operators.Ivf.driftSummary(spark, path)

  /** The wired IVF loop — verdict-to-cure symmetry with
    * [[graphMaybeRebuildAside]] (the r14 verdict's asymmetry): aside-
    * rebuild the IVF index with retrained centroids (read from its own
    * cells, cell count derived from its own stored centroids) iff the
    * drift verdict recommends it; returns whether a rebuild ran.
    */
  def ivfMaybeRebuildAside(spark: SparkSession, path: String): Boolean =
    graft.operators.Ivf.maybeRebuildAside(spark, path)

  /** Graph (NN-Descent) index drift roll-up — the IVF columns plus the
    * exact-sampled edge staleness (the graph decay signal).
    */
  def graphDriftSummary(spark: SparkSession, path: String): DataFrame =
    graft.operators.NnDescent.driftSummary(spark, path)

  /** Exact-sampled graph edge staleness on its own (bounded probe). */
  def graphEdgeStaleness(spark: SparkSession, path: String,
      sample: Int): DataFrame =
    graft.operators.NnDescent.edgeStaleness(spark, path, sample)

  /** The wired loop: aside-rebuild the graph index iff its drift
    * verdict recommends it; returns whether a rebuild ran.
    */
  def graphMaybeRebuildAside(spark: SparkSession, path: String, k: Int,
      iters: Int): Boolean =
    graft.operators.NnDescent.maybeRebuildAside(spark, path, k, iters)

  /** Build / grow / search the persisted graph index from Python. */
  def graphWriteIndex(base: DataFrame, path: String, k: Int,
      iters: Int): Unit =
    graft.operators.NnDescent.writeIndex(withN2(base), path, k, iters)

  def graphAppendIndex(spark: SparkSession, vecs: DataFrame, path: String,
      tag: String, k: Int): Unit =
    graft.operators.NnDescent.appendIndex(spark, withN2(vecs), path, tag, k)

  def graphSearchRouted(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, beam: Int, hops: Int): DataFrame =
    graft.operators.NnDescent.searchIndexRouted(spark, path,
      withN2(queries), k, beam, hops)

  /** Routed graph search against a recorded as-of snapshot — the verify
    * half of the loop (read-only).
    */
  def graphSearchRoutedAsOf(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, beam: Int, hops: Int,
      asOf: String): DataFrame =
    graft.operators.NnDescent.searchIndexRouted(spark, path,
      withN2(queries), k, beam, hops, asOf = Some(asOf))

  /** The generic index health view with the graph drift verdict
    * appended as section = "drift" rows.
    */
  def graphIndexInfoWithDrift(spark: SparkSession, path: String): DataFrame =
    graft.operators.NnDescent.indexInfoWithDrift(spark, path)

  /** IVF index build / grow / search (+ as-of) from Python; centroids
    * are seeded with the contract rule ([[graft.operators.Ivf
    * .seedCentroids]]). `cells <= 0` derives ~√n geometry from the
    * corpus being indexed ([[graft.operators.Ivf.defaultCells]]) — the
    * scale-safe default; pass explicit cells to pin geometry.
    */
  def ivfWriteIndex(base: DataFrame, path: String, cells: Int = 0): Unit = {
    val b = withN2(base)
    val c = if (cells > 0) cells
      else graft.operators.Ivf.defaultCells(graft.operators.CorpusCount.of(b))
    graft.operators.Ivf.writeIndex(b,
      graft.operators.Ivf.seedCentroids(b, c), path)
  }

  /** Py4J-visible 2-arg overload: Scala default arguments do not exist
    * over Py4J (a Python caller omitting `cells` got a method-
    * resolution error, so the advertised derive-√n default was Scala-
    * only — r16 advice). Python callers omit cells and get derived
    * geometry; passing cells <= 0 explicitly does the same.
    */
  def ivfWriteIndex(base: DataFrame, path: String): Unit =
    ivfWriteIndex(base, path, 0)

  def ivfAppendIndex(spark: SparkSession, vecs: DataFrame, path: String,
      tag: String): Unit =
    graft.operators.Ivf.appendIndex(spark, withN2(vecs), path, tag)

  def ivfSearch(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    graft.operators.Ivf.searchIndex(spark, path, withN2(queries), k, nprobe)

  def ivfSearchAsOf(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int, asOf: String): DataFrame =
    graft.operators.Ivf.searchIndex(spark, path, withN2(queries), k,
      nprobe, asOf = Some(asOf))

  /** Zero-downtime aside-rebuilds for the IVF and MinHash families
    * (the graph form is [[graphMaybeRebuildAside]]'s unconditional
    * half, [[graft.operators.NnDescent.rebuildIndexAside]]).
    */
  def ivfRebuildIndexAside(base: DataFrame, path: String,
      cells: Int = 0): Unit = {
    val b = withN2(base)
    val c = if (cells > 0) cells
      else graft.operators.Ivf.defaultCells(graft.operators.CorpusCount.of(b))
    graft.operators.Ivf.rebuildIndexAside(b,
      graft.operators.Ivf.seedCentroids(b, c), path)
  }

  /** Py4J-visible 2-arg overload (see [[ivfWriteIndex]] — Scala
    * defaults are invisible over Py4J): derived geometry for Python.
    */
  def ivfRebuildIndexAside(base: DataFrame, path: String): Unit =
    ivfRebuildIndexAside(base, path, 0)

  def rebuildNeardupIndexAside(docs: DataFrame, path: String): Unit =
    graft.queries.VectorOps.rebuildNeardupIndexAside(docs, path)

  /** MinHash dedup index build / grow / probe (+ as-of) from Python. */
  def writeNeardupIndex(docs: DataFrame, path: String): Unit =
    graft.queries.VectorOps.writeNeardupIndex(docs, path)

  def appendNeardupIndex(docs: DataFrame, path: String, tag: String): Unit =
    graft.queries.VectorOps.appendNeardupIndex(docs, path, tag)

  def minhashPairsIndexed(spark: SparkSession, path: String,
      threshold: Double): DataFrame =
    graft.queries.VectorOps.minhashPairsIndexed(spark, path, threshold)

  def minhashPairsIndexedAsOf(spark: SparkSession, path: String,
      threshold: Double, asOf: String): DataFrame =
    graft.queries.VectorOps.minhashPairsIndexed(spark, path, threshold,
      asOf = Some(asOf))

  /** Persisted media-signature dedup from Python: ingest a batch of
    * (idCol, contentCol) media rows against the aHash index at `path`
    * (decodes only the batch; r14). Returns (id1, id2, hamming, cross)
    * pairs; kind is pinned on first admit.
    */
  def imageDedupDelta(spark: SparkSession, path: String, df: DataFrame,
      tag: String, idCol: String, contentCol: String): DataFrame =
    graft.extract.Multimodal.imageDedupDelta(spark, path, df, tag, idCol,
      contentCol)

  def audioDedupDelta(spark: SparkSession, path: String, df: DataFrame,
      tag: String, idCol: String, contentCol: String): DataFrame =
    graft.extract.Multimodal.audioDedupDelta(spark, path, df, tag, idCol,
      contentCol)

  /** Read-only as-of twins of the two hash-kind deltas. */
  def imageDedupDeltaAsOf(spark: SparkSession, path: String, df: DataFrame,
      asOf: String, idCol: String, contentCol: String): DataFrame =
    graft.extract.Multimodal.imageDedupDeltaAsOf(spark, path, df, asOf,
      idCol, contentCol)

  def audioDedupDeltaAsOf(spark: SparkSession, path: String, df: DataFrame,
      asOf: String, idCol: String, contentCol: String): DataFrame =
    graft.extract.Multimodal.audioDedupDeltaAsOf(spark, path, df, asOf,
      idCol, contentCol)

  /** Persisted video dedup from Python: frame-set overlap against the
    * index at `path` (the Jaccard twin of the hash index; cadence is
    * pinned on first admit). Returns (id1, id2, overlap, jaccard,
    * cross) pairs.
    */
  def videoDedupDelta(spark: SparkSession, path: String, df: DataFrame,
      tag: String, idCol: String, contentCol: String, everyNthMs: Long,
      durationMs: Long, minJaccard: Double): DataFrame =
    graft.extract.Multimodal.videoDedupDelta(spark, path, df, tag, idCol,
      contentCol, everyNthMs = everyNthMs, durationMs = durationMs,
      minJaccard = minJaccard)

  /** [[videoDedupDelta]]'s read-only as-of twin. */
  def videoDedupDeltaAsOf(spark: SparkSession, path: String, df: DataFrame,
      asOf: String, idCol: String, contentCol: String, everyNthMs: Long,
      durationMs: Long, minJaccard: Double): DataFrame =
    graft.extract.Multimodal.videoDedupDeltaAsOf(spark, path, df, asOf,
      idCol, contentCol, everyNthMs = everyNthMs, durationMs = durationMs,
      minJaccard = minJaccard)

  /** Standing media cluster labels: merge a batch's pair output into a
    * (med_id, rep_id) label table without re-clustering history.
    */
  def mediaClusterLabels(pairs: DataFrame): DataFrame =
    graft.extract.Multimodal.mediaClusterLabels(pairs)

  def mediaClusterDelta(labels: DataFrame, pairs: DataFrame): DataFrame =
    graft.extract.Multimodal.mediaClusterDelta(labels, pairs)

  // ------------------------------------------ compaction cadence (r14)
  // The scheduled Python operator's other recurring duty beside the
  // drift loop: fold each index's batch increments into batch=init on
  // the seen-set cadence (folded tags' replay windows close, as-of
  // reach resets to init). Skip the tag currently in flight — folding
  // it would close its own replay window (CurateIngest's guard).

  def compactNeardupIndex(spark: SparkSession, path: String): Unit =
    graft.queries.VectorOps.compactNeardupIndex(spark, path)

  def compactCosineIndex(spark: SparkSession, path: String): Unit =
    graft.queries.VectorOps.compactCosineIndex(spark, path)

  def compactSegmentIndex(spark: SparkSession, path: String): Unit =
    TextOps.compactSegmentIndex(spark, path)

  def compactMediaIndex(spark: SparkSession, path: String): Unit =
    graft.extract.Multimodal.compactMediaIndex(spark, path)

  def compactVideoIndex(spark: SparkSession, path: String): Unit =
    graft.extract.Multimodal.compactVideoIndex(spark, path)
}
