package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.LongType
import graft.operators.{IndexStore, Materialize}
import graft.queries.{CurateConfig, TextOps, VectorOps}

/** The CONTINUOUSLY-RUNNING curation pipeline — [[IngestDedup]]'s
  * single-stage loop grown to the full [[graft.queries.TextOps.curateOn]]
  * stage order, every stage incremental against persisted state:
  *
  *   1. segment (paragraph) dedup — optional, vs the persisted
  *      seen-segment set ([[graft.queries.TextOps.segmentDedupDelta]]);
  *      every later stage sees the REWRITTEN text and emptied docs drop
  *      (the batch pipeline's stage order exactly);
  *   2. quality gate — stateless, on the (rewritten) text;
  *   3. exact dedup — vs the persisted digest set
  *      ([[graft.queries.TextOps.exactDedupDelta]]);
  *   4. decontamination — optional, vs a FIXED eval corpus (the
  *      production shape: eval data must never leak into training; the
  *      batch pipeline's hash-split is a single-corpus stand-in);
  *   5. near-dup — vs the growing MinHash index, keep-FIRST arrival
  *      order ([[IngestDedup]]'s admit policy; the batch pipeline's
  *      keep-best needs the whole cluster — the standard incremental
  *      trade-off [[graft.queries.TextOps.curateDeltaOn]] documents);
  *   6. semantic near-dup — optional, for batches carrying an
  *      `embedding` column: cosine-LSH vs the growing cosine index
  *      (`drop_reason = "semantic_dup"`), catching paraphrases the
  *      shingle stages can't see. Same admit policy and lifecycle.
  *   7. media dedup — optional, for batches carrying image/audio/video
  *      binary columns: aHash vs the persisted media-signature index
  *      ([[graft.extract.Multimodal.mediaHashProbe]];
  *      `drop_reason = "media_dup"`), catching the same bytes (or a
  *      re-encode within Hamming 6 — a radius the multi-probe banding
  *      guarantees) re-arriving under fresh text. The video kind
  *      probes the frame-SET index instead
  *      ([[graft.extract.Multimodal.videoFrameProbe]]) — clips sharing
  *      ≥ minJaccard of their sampled frames drop even when a suffix
  *      differs, where a whole-file hash sees unrelated blobs. Same
  *      admit policy and lifecycle. A multimodal corpus sets
  *      `CurateConfig.media = Seq(col -> kind, …)` — one entry per
  *      modality, each against its OWN per-kind index root, sub-stages
  *      chained in declaration order with one shared `media_dup` reason
  *      — or `media_dup:<kind>` naming the first kind that fired, under
  *      the opt-in [[graft.queries.CurateConfig.mediaDupByKind]] flag
  *      (`mediaColumn`/`mediaKind` is the one-entry sugar on the
  *      legacy root).
  *
  * Every stage is switched and tuned by the one [[CurateConfig]] the
  * batch pipeline reads (`semanticThreshold`, the media fields and
  * `videoConfig` included) — stream and batch cannot be handed
  * different stage lists.
  *
  * Output per batch: the full batch rows (text REWRITTEN when the
  * segment stage is on, n_chars recomputed) plus (kept, drop_reason) —
  * first-drop-reason audit exactly like the batch pipeline; survivors
  * are `filter(kept)`.
  *
  * With `driftBaseline` set, every batch also emits its PSI drift terms
  * vs the pinned baseline as a side output at `<outPath>_drift/batch=` —
  * corpus metrics always ([[graft.queries.TextOps.corpusDriftOn]]'s
  * n_chars/lang/source), embedding-space metrics
  * ([[graft.queries.VectorOps.vecDriftOn]]'s lsh_bucket/argmax) when
  * both the baseline and the batch carry `embedding`. The baseline is
  * profiled ONCE at stream start into its aggregated bin counts; each
  * batch pays only its own melt plus a bins-sized join. The operator
  * loop reads drift from storage (`sum(psi_term) > 0.25 per family,
  * metric` is the conventional page threshold) instead of scheduling
  * batch drift jobs.
  *
  * Fault tolerance: all state is durable parquet; every state write a
  * replay re-executes is an overwrite of the batch's own `batch=` dir
  * (the seen-set deltas exclude their own tag, the MinHash admit guards
  * self-matches), so an at-least-once replay reproduces its first run.
  * The compaction cadence follows [[SegmentIngest]]: at batch START,
  * skipped when the current batch already appended (folding the
  * in-flight tag would close its replay window); the MinHash index
  * compacts on the same cadence (safe at any point — replay duplicates
  * there are benign and healed by recompaction).
  */
object CurateIngest {

  /** Start the loop over a streaming (doc_id, text, n_chars, …) frame.
    * State lives under `statePath`/{segments, digests, minhash} plus,
    * when the matching stages are on, {cosine} and the per-kind media
    * roots ([[mediaStageEntries]]);
    * `evalPath` (optional) is a parquet of (doc_id, text) eval docs to
    * decontaminate against — shingled ONCE at stream start, for the
    * fixed-eval-corpus case. `evalIndexPath` (optional, exclusive with
    * `evalPath`) points at a PERSISTED eval-shingle index
    * ([[graft.queries.TextOps.writeEvalIndex]]): read per micro-batch,
    * so eval examples appended mid-stream
    * ([[graft.queries.TextOps.appendEvalIndex]]) change verdicts from
    * the next batch without a restart. No bootstrap needed — first
    * batch creates every state component (the eval index, being an
    * input, must exist up front; an empty `writeEvalIndex` seeds it).
    */
  def run(docs: DataFrame, statePath: String, outPath: String,
      checkpoint: String, cfg: CurateConfig = CurateConfig(),
      evalPath: Option[String] = None,
      compactEvery: Int = 0,
      evalIndexPath: Option[String] = None,
      driftBaseline: Option[String] = None): StreamingQuery = {
    // fail at start (media kind validation) with the same resolution
    // processBatch applies
    mediaStageEntries(cfg)
    require(evalPath.isEmpty || evalIndexPath.isEmpty,
      "pass evalPath (fixed corpus) or evalIndexPath (growable index), not both")
    // drift monitoring (r14 verdict gap #2): the baseline corpus is
    // profiled ONCE at stream start into its ~30 aggregated PSI bin
    // counts (TextOps.psiSideCounts — the evalShingles posture, and the
    // only baseline form that scales: re-melting a pinned 100 TB
    // baseline every micro-batch would dwarf the batch itself). A
    // baseline carrying an `embedding` column also pins the
    // embedding-space profile; batches that ride embeddings then emit
    // vec-PSI beside corpus-PSI.
    val driftBase = driftBaseline.map(p =>
      driftProfile(docs.sparkSession.read.parquet(p)))
    // the fixed eval corpus is shingled + distinct'd ONCE at start —
    // per-batch re-shingling would make the eval pass the dominant
    // fixed cost of every micro-batch. The INDEX form instead re-reads
    // per batch (a parquet scan of stored distinct shingles — the
    // shingling is already paid at index build/append).
    val evalShingles = evalPath.map { ep =>
      Materialize.cut(TextOps.shingleRows(docs.sparkSession.read.parquet(ep)
          .select(col("doc_id"), col("text")))
        .select(col("s")).distinct())
    }
    // fail at start, not on batch one: a typo'd index path silently
    // disabling decontamination is the worst failure mode
    evalIndexPath.foreach { p =>
      TextOps.readEvalShingles(docs.sparkSession, p).schema
    }
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), batchId, statePath, outPath, cfg,
          evalShingles, compactEvery, evalIndexPath, driftBase)
      }
      .start()
  }

  /** The resolved media stage list of `cfg`: (column, kind,
    * index-root-leaf). The single-column sugar (`mediaColumn`/
    * `mediaKind`) keeps the PRE-r15 roots (`media` for the hash kinds,
    * `media_video` for video) — on-disk layout existing streams resume
    * against; the multi-column `media` form gets one root PER KIND
    * (`media_image`/`media_audio`/`media_video` — the r14 media_video
    * split generalized): two hash kinds can never share a root, whose
    * `_params` pins exactly one kind. Form exclusivity and kind
    * distinctness are [[CurateConfig]]'s requires.
    */
  private[graft] def mediaStageEntries(cfg: CurateConfig)
      : Seq[(String, String, String)] = {
    val legacy = cfg.mediaColumn.map { c =>
      (c, cfg.mediaKind,
        graft.extract.Multimodal.mediaKindLayout(cfg.mediaKind)._1)
    }.toSeq
    val multi = cfg.media.map { case (c, k) =>
      graft.extract.Multimodal.mediaKindLayout(k) // kind validation
      (c, k, if (k == "video") "media_video" else s"media_$k")
    }
    legacy ++ multi
  }

  /** The pinned baseline's drift profile: its aggregated corpus PSI bin
    * counts, plus the embedding-space counts when the baseline carries
    * an `embedding` column — eagerly checkpointed (a ~30-row frame), the
    * once-per-stream cost [[run]] pays so no micro-batch ever re-melts
    * the baseline corpus.
    */
  private[graft] def driftProfile(baseline: DataFrame)
      : (DataFrame, Option[DataFrame]) = {
    val corpusCounts = Materialize.cut(
      TextOps.psiSideCounts(TextOps.corpusBins(baseline, "base")))
    val vecCounts =
      if (baseline.columns.contains("embedding"))
        Some(Materialize.cut(TextOps.psiSideCounts(
          VectorOps.vecBins(baseline.select(col("embedding")), "base"))))
      else None
    (corpusCounts, vecCounts)
  }

  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      statePath: String, outPath: String, cfg: CurateConfig,
      evalShingles: Option[DataFrame] = None,
      compactEvery: Int = 0,
      evalIndexPath: Option[String] = None,
      driftBase: Option[(DataFrame, Option[DataFrame])] = None): Unit = {
    val spark = batch.sparkSession
    val tag = s"b$batchId"
    val mediaEntries = mediaStageEntries(cfg)
    val vc = cfg.videoConfig

    // crash recovery FIRST — before any existence probe: after a crash
    // mid-compaction-swap the minhash corpus lives ONLY in the
    // .compacting twin, and a bootstrap check that sees the missing
    // component would rebuild an empty index over the twin's grave
    // (deleting the only copy). IngestDedup has the same ordering.
    VectorOps.recoverNeardupIndex(spark, s"$statePath/minhash")

    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
      if (!IndexStore.tagExists(spark, s"$statePath/digests", "seen", tag))
        TextOps.compactSegmentIndex(spark, s"$statePath/digests")
      if (cfg.segmentDedupWidth.isDefined &&
          !IndexStore.tagExists(spark, s"$statePath/segments", "seen", tag))
        TextOps.compactSegmentIndex(spark, s"$statePath/segments")
      if (cfg.containmentThreshold.isDefined &&
          !IndexStore.tagExists(spark, s"$statePath/containment",
            "postings", tag))
        TextOps.compactContainmentIndex(spark, s"$statePath/containment")
      if (componentExists(spark, s"$statePath/minhash/sets"))
        VectorOps.compactNeardupIndex(spark, s"$statePath/minhash")
      if (componentExists(spark, s"$statePath/cosine/vectors"))
        VectorOps.compactCosineIndex(spark, s"$statePath/cosine")
      // media indexes: same skip-if-in-flight guard as the seen-sets —
      // folding the current tag would close its replay window. One root
      // per stage entry (mediaStageEntries) — compact whichever this
      // stream grows.
      mediaEntries.foreach { case (_, kind, rootLeaf) =>
        val comp = if (kind == "video") "frames" else "hashes"
        if (componentExists(spark, s"$statePath/$rootLeaf/$comp") &&
            !IndexStore.tagExists(spark, s"$statePath/$rootLeaf", comp,
              tag)) {
          if (kind == "video")
            graft.extract.Multimodal.compactVideoIndex(spark,
              s"$statePath/$rootLeaf")
          else
            graft.extract.Multimodal.compactMediaIndex(spark,
              s"$statePath/$rootLeaf")
        }
      }
    }

    val b = Materialize.cut(batch)

    // 1. optional segment rewrite vs the persisted seen-segment set —
    // FIRST, exactly like the batch composed pipeline: emptied docs
    // (n_kept = 0) drop as segment_dup, everything downstream (the gate
    // included) measures the rewritten text
    val (rewritten, segDroppedIds) = cfg.segmentDedupWidth match {
      case None => (b, b.limit(0).select(col("doc_id")))
      case Some(w) =>
        val rw = Materialize.cut(TextOps.segmentDedupDelta(spark,
          s"$statePath/segments", b, w, tag))
        // LEFT join + original-text fallback: a doc producing no segment
        // rows at all (null text) must still flow through with its
        // arrival text and get a verdict — the batch composed pipeline's
        // rewriteSegmentsCounted contract, mirrored
        val cur = b
          .withColumnRenamed("text", "graft_orig_text")
          .withColumnRenamed("n_chars", "graft_orig_n_chars")
          .join(rw.select(col("doc_id"), col("clean_text"), col("n_kept")),
            Seq("doc_id"), "left")
          .withColumn("text",
            when(col("n_kept").isNotNull, col("clean_text"))
              .otherwise(col("graft_orig_text")))
          .withColumn("n_chars",
            when(col("n_kept").isNotNull,
              length(col("clean_text")).cast(LongType))
              .otherwise(col("graft_orig_n_chars")))
          .filter(coalesce(col("n_kept"), lit(1L)) > 0)
          .drop("clean_text", "graft_orig_text", "graft_orig_n_chars", "n_kept")
        (Materialize.cut(cur),
          rw.filter(col("n_kept") === 0).select(col("doc_id")))
    }

    // 2. gate on the (rewritten) text
    val current = Materialize.cut(rewritten.filter(TextOps.gopherAll(cfg)))

    // 3. exact dedup vs the persisted digest set (normalizeForHash
    // flows through, so stream and batch verdicts cannot diverge)
    val exKept = TextOps.exactDedupDelta(spark, s"$statePath/digests",
      current, tag, normalize = cfg.normalizeForHash)

    // 4. optional decontamination vs the eval corpus — either the fixed
    // start-of-stream shingle set, or the persisted index read FRESH
    // this batch (so mid-stream appendEvalIndex calls take effect on the
    // next batch). A doc drops when shared shingles ≥ num/den of its own
    // shingles (the config's exact rational, Long cross-multiplication —
    // no float boundary).
    val evalShNow = evalIndexPath
      .map(p => TextOps.readEvalShingles(spark, p))
      .orElse(evalShingles)
    val decon = evalShNow match {
      case None => exKept
      case Some(evalSh) =>
        // the gate is TextOps.contamScores — ONE implementation shared
        // with the batch paths, so stream/batch verdicts are equal by
        // construction, not by parallel maintenance
        val sh = TextOps.shingleRows(exKept.select(col("doc_id"), col("text")))
        val contaminatedIds = TextOps.contamScores(
          exKept.select(col("doc_id")), cfg,
          sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh")),
          sh.join(evalSh, "s").groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_shared")))
          .filter(col("contaminated")).select(col("doc_id"))
        exKept.join(contaminatedIds, Seq("doc_id"), "left_anti")
    }

    // 4b. optional containment dedup vs the persisted shingle-postings
    // index — BEFORE the symmetric near-dup stage, mirroring the batch
    // pipeline's order (the excerpt/truncation verdict is the more
    // specific one). Cross-batch keep-first: a batch doc ≥ t contained
    // in a STORED doc drops (the stored copy already shipped);
    // within-batch: the batch stage's directional better rule, so
    // stream/batch verdicts agree wherever keep-first == keep-best.
    // The postings append is DEFERRED to the final keepers below.
    val cn = cfg.containmentThreshold match {
      case None => decon
      case Some(th) =>
        val cnPairs = TextOps.containmentDeltaIndexed(spark,
          s"$statePath/containment",
          decon.select(col("doc_id"), col("text"), col("n_chars")), th, tag)
        IngestDedup.admit(decon, cnPairs, "doc_id", "c1", "c2")
    }

    // 5. near-dup vs the growing MinHash index (keep-first, as every
    // ingest loop here) — bootstrap the index from the batch's own
    // schema on first contact, via the SENTINEL-FREE empty bootstrap
    // (a crash mid-bootstrap loses nothing and must not wedge the
    // stream's recovery path — [[VectorOps.bootstrapNeardupIndex]])
    if (!componentExists(spark, s"$statePath/minhash/sets"))
      VectorOps.bootstrapNeardupIndex(
        b.select(col("doc_id"), col("text")), s"$statePath/minhash")
    VectorOps.recoverNeardupIndex(spark, s"$statePath/minhash")
    val pairs = VectorOps.neardupDeltaIndexed(spark, s"$statePath/minhash",
      cn.select(col("doc_id"), col("text")), cfg.jaccardThreshold)
    val admitted = IngestDedup.admit(cn, pairs, "doc_id", "d1", "d2")

    // 6. optional semantic near-dup vs the growing cosine index — for
    // corpora carrying an `embedding` column: a doc that says the same
    // thing in different words passes the MinHash stage (no shared
    // shingles) but lands next to its twin in embedding space. Same
    // keep-first admit policy and index lifecycle as stage 5, over
    // [[VectorOps.cosineDeltaIndexed]]; only docs the text stages kept
    // probe (first-drop-reason order preserved).
    val sem = cfg.semanticThreshold match {
      case None => admitted
      case Some(th) =>
        require(b.columns.contains("embedding"),
          "semanticThreshold needs an `embedding` column on the batch")
        // recovery BEFORE the existence probe — after a crash mid-swap
        // the vectors live only in the .compacting twin, and a probe
        // that sees the missing dir would bootstrap an empty index over
        // the twin's grave (the minhash ordering above, mirrored).
        // Bootstrap is the sentinel-free empty form for the same
        // no-wedge reason as stage 5's.
        VectorOps.recoverCosineIndex(spark, s"$statePath/cosine")
        if (!componentExists(spark, s"$statePath/cosine/vectors"))
          VectorOps.bootstrapCosineIndex(
            b.select(col("doc_id").as("vec_id"), col("embedding")),
            s"$statePath/cosine")
        val vpairs = VectorOps.cosineDeltaIndexed(spark, s"$statePath/cosine",
          admitted.select(col("doc_id").as("vec_id"), col("embedding")), th)
        // the append happens AFTER the media stage below, with the
        // FINAL keepers — appending here would let a media-dropped
        // doc's embedding join the semantic corpus (review catch r14)
        IngestDedup.admit(admitted, vpairs, "doc_id", "v1", "v2")
    }
    // 7. optional media dedup vs the persisted media-signature indexes —
    // for batches carrying image/audio/video binary columns: the SAME
    // bytes (or a re-encode/tweak within Hamming 6 — a radius the
    // multi-probe banding guarantees) arriving under a new doc_id drops
    // as media_dup, even when its text passed every stage above. Only
    // survivors of the text+semantic stages probe (first-drop-reason
    // precedence after semantic_dup), and with SEVERAL media entries
    // the sub-stages chain in declaration order — kind k probes kind
    // k-1's survivors, so each kind decodes only what is still alive
    // (the batch twin's fold, mirrored). Every index root is per kind
    // (mediaStageEntries); every index grows with the FINAL keepers
    // only (the stage-5/6 discipline), so the per-kind probes run
    // inside the fold while the appends are DEFERRED until the last
    // sub-stage settles the keeper set — appending kind 1's survivors
    // eagerly would let a doc kind 2 later drops join kind 1's corpus.
    // Undecodable media rows pass the stage — no fingerprint, nothing
    // to compare.
    val (med, mediaAppends, mdDropKinds) = mediaEntries
      .foldLeft((sem, Seq.empty[DataFrame => Unit],
          Option.empty[DataFrame])) {
        case ((surv, appends, dropsAcc), (mc, kind, rootLeaf)) =>
          require(b.columns.contains(mc),
            s"media column '$mc' is not on the batch")
          val mediaPath = s"$statePath/$rootLeaf"
          // per-kind attribution (mediaDupByKind): this kind's drops are
          // the survivors it removed — the FIRST kind that drops a doc
          // labels it, matching the batch fold's declaration order
          def kindDrops(kept: DataFrame): Option[DataFrame] =
            if (!cfg.mediaDupByKind) dropsAcc
            else {
              val d = surv.select(col("doc_id"))
                .join(kept.select(col("doc_id")), Seq("doc_id"), "left_anti")
                .select(col("doc_id"), lit(kind).as("md_kind"))
              Some(dropsAcc.fold(d)(_.unionByName(d)))
            }
          if (kind == "video") {
            // the video index lives under its OWN root (media_video,
            // not media): the hash and frame-set families share one
            // `_params` per root, so co-rooting them would let a
            // mid-stream kind switch silently re-pin the other kind's
            // sidecar (r14 review catch). A frames/ component under the
            // old SHARED media/ root is pre-split state — fail loudly
            // rather than silently bootstrapping an empty index beside
            // it (which would forget every admitted clip while the old
            // index rots unprobed).
            require(!componentExists(spark, s"$statePath/media/frames"),
              s"found a frame-set index under $statePath/media (the " +
                s"pre-split shared root); move it to " +
                s"$statePath/media_video before resuming the stream")
            // decode paid once (checkpointed inside batchFrameSet): one
            // frame-signature pass feeds the probe and the keepers'
            // deferred append
            val frames = graft.extract.Multimodal.batchFrameSet(
              surv.select(col("doc_id").cast("string").as("med_id"),
                col(mc)),
              "med_id", mc, vc.decoder, vc.everyNthMs, vc.durationMs)
            // admit = true: this loop IS the admit path (the hash-kind
            // rationale below applies verbatim)
            val rawPairs = graft.extract.Multimodal.videoFrameProbe(spark,
              mediaPath, frames, tag, vc.everyNthMs, vc.durationMs,
              vc.minJaccard, vc.maxPerSig, admitParams = true)
            val kept = IngestDedup.admit(surv, normalizePairs(rawPairs),
              "doc_id", "m1", "m2")
            (kept, appends :+ ((keepers: DataFrame) =>
              graft.extract.Multimodal.appendVideoIndex(spark, mediaPath,
                frames.join(keepers.select(col("doc_id").cast("string")
                  .as("video_id")), "video_id"),
                tag, vc.everyNthMs, vc.durationMs)), kindDrops(kept))
          } else {
            // a multi-media stream beside a legacy single-kind index:
            // the per-kind root would silently bootstrap empty while
            // the old shared-root index rots unprobed — same fail-loud
            // posture as the video pre-split guard
            if (rootLeaf != "media")
              require(!componentExists(spark, s"$statePath/media/hashes"),
                s"found a legacy hash index under $statePath/media (the " +
                  s"single-kind root); move it to $statePath/$rootLeaf " +
                  "before resuming with the multi-media config")
            val hashFn =
              if (kind == "audio") graft.extract.Multimodal.audioAHash
              else graft.extract.Multimodal.imageAHash
            // decode paid once: one hash pass feeds the probe and the
            // keepers' deferred append
            val hashed = Materialize.cut(surv
              .select(col("doc_id").cast("string").as("med_id"),
                hashFn(col(mc)).as("ahash"))
              .filter(col("ahash").isNotNull))
            // admit = true: this loop IS the admit path, so a crashed
            // first contact (sidecar present, hashes/ absent)
            // re-records rather than wedging the stream (the TextOps
            // window semantics)
            val rawPairs = graft.extract.Multimodal.mediaHashProbe(spark,
              mediaPath, hashed, tag, kind, admitParams = true)
            val kept = IngestDedup.admit(surv, normalizePairs(rawPairs),
              "doc_id", "m1", "m2")
            (kept, appends :+ ((keepers: DataFrame) =>
              graft.extract.Multimodal.appendMediaIndex(spark, mediaPath,
                hashed.join(keepers.select(col("doc_id").cast("string")
                  .as("med_id")), "med_id"), tag, kind)), kindDrops(kept))
          }
      }
    mediaAppends.foreach(_(med))

    // ALL indexes grow with the FINAL keepers only, after every stage:
    // appending an earlier stage's survivors would let a later-dropped
    // doc's text/embedding join a dedup corpus, and a later dup of it
    // would be dropped against a doc that is not in the kept output —
    // every index must stay exactly the kept corpus
    VectorOps.appendNeardupIndex(
      med.select(col("doc_id"), col("text")), s"$statePath/minhash", tag)
    if (cfg.containmentThreshold.isDefined)
      TextOps.appendContainmentIndex(spark, s"$statePath/containment",
        med.select(col("doc_id"), col("text")), tag)
    if (cfg.semanticThreshold.isDefined)
      VectorOps.appendCosineIndex(
        med.select(col("doc_id").as("vec_id"), col("embedding")),
        s"$statePath/cosine", tag)

    // verdicts: first-drop-reason in the batch pipeline's stage order;
    // rewritten text (when the segment stage ran) rides into the output
    val keepId = (df: DataFrame, name: String) =>
      df.select(col("doc_id"), lit(true).as(name))
    // the quality branch fires on gate === FALSE, not on gate-not-true:
    // a null-text doc's gate is NULL and the batch pipeline's when-chain
    // then falls through to exact_dup — mirrored exactly so stream and
    // batch verdicts agree on every input, nulls included
    // segment-dropped docs (n_kept = 0) have NO row in `rewritten` —
    // coalesce their text/n_chars back to the arrival batch's values so
    // the verdict really is "full batch rows" (audits of a dropped doc
    // need its text; before this the left join nulled it out)
    val verdict = b
      .withColumnRenamed("text", "graft_b_text")
      .withColumnRenamed("n_chars", "graft_b_n_chars")
      .join(rewritten.select(col("doc_id"), col("text"), col("n_chars"),
          TextOps.gopherAll(cfg).as("gv")),
        Seq("doc_id"), "left")
      .withColumn("text", coalesce(col("text"), col("graft_b_text")))
      .withColumn("n_chars", coalesce(col("n_chars"), col("graft_b_n_chars")))
      .drop("graft_b_text", "graft_b_n_chars")
      .join(segDroppedIds.select(col("doc_id"), lit(true).as("seg_drop")),
        Seq("doc_id"), "left")
      .join(keepId(exKept, "ex_ok"), Seq("doc_id"), "left")
      .join(keepId(decon, "de_ok"), Seq("doc_id"), "left")
      // the containment stage sits BEFORE near_dup in the CASE; with it
      // off, a true literal silences its branch (aliasing a LATER
      // marker would mislabel that stage's drops — the batch builder's
      // rule, mirrored)
      .transform(v => cfg.containmentThreshold match {
        case Some(_) => v.join(keepId(cn, "cn_ok"), Seq("doc_id"), "left")
        case None => v.withColumn("cn_ok", lit(true))
      })
      .join(keepId(admitted, "nd_ok"), Seq("doc_id"), "left")
      // with the semantic stage off, sem eq admitted — alias the marker
      // instead of paying a join whose result is nd_ok by construction
      .transform(v => cfg.semanticThreshold match {
        case Some(_) => v.join(keepId(sem, "sm_ok"), Seq("doc_id"), "left")
        case None => v.withColumn("sm_ok", col("nd_ok"))
      })
      // with the media stage off, med eq sem — alias, same as above
      .transform(v =>
        if (mediaEntries.nonEmpty)
          v.join(keepId(med, "md_ok"), Seq("doc_id"), "left")
        else v.withColumn("md_ok", col("sm_ok")))
      // per-kind attribution rides in only when the flag built a drops
      // frame; any doc reaching the media branch survived every earlier
      // stage, so it carries exactly one md_kind (the batch rule)
      .transform(v => mdDropKinds.fold(v)(dk =>
        v.join(dk, Seq("doc_id"), "left")))
      .withColumn("drop_reason",
        when(col("seg_drop").isNotNull, "segment_dup")
          .when(col("gv") === false, "quality")
          .when(col("ex_ok").isNull, "exact_dup")
          .when(col("de_ok").isNull, "decontaminated")
          .when(col("cn_ok").isNull, "contained_dup")
          .when(col("nd_ok").isNull, "near_dup")
          .when(col("sm_ok").isNull, "semantic_dup")
          .when(col("md_ok").isNull,
            if (mdDropKinds.isEmpty) lit("media_dup")
            else concat(lit("media_dup:"), col("md_kind"))))
      .withColumn("kept", col("drop_reason").isNull)
      .drop("gv", "seg_drop", "ex_ok", "de_ok", "cn_ok", "nd_ok", "sm_ok",
        "md_ok", "md_kind")
    verdict.write.mode("overwrite").parquet(s"$outPath/batch=$tag")

    // drift side output — the monitoring twin of the verdict output:
    // per-bin PSI terms of THIS batch vs the pinned baseline profile,
    // under the same batch= layout, so the operator loop reads drift
    // from storage on its own cadence instead of scheduling batch jobs.
    // Measured on the FULL ARRIVAL batch (b), not the keepers: drift
    // watches what comes in the door — a dedup storm is a curation
    // outcome and must not mask an upstream distribution shift.
    // Deterministic bytes: the term frame is ~30-110 rows, sorted and
    // collapsed to one file; an at-least-once replay overwrites its own
    // batch= dir with identical content (same batch + same pinned
    // profile), the whole pipeline's replay discipline.
    driftBase.foreach { case (corpusBase, vecBase) =>
      val corpusTerms = TextOps.psiFromCounts(corpusBase.unionByName(
          TextOps.psiSideCounts(TextOps.corpusBins(b, "batch"))))
        .withColumn("family", lit("corpus"))
      val terms = vecBase match {
        case Some(vb) if b.columns.contains("embedding") =>
          corpusTerms.unionByName(
            TextOps.psiFromCounts(vb.unionByName(TextOps.psiSideCounts(
                VectorOps.vecBins(b.select(col("embedding")), "batch"))))
              .withColumn("family", lit("embedding")))
        case _ => corpusTerms
      }
      terms.select(col("family"), col("metric"), col("bin"),
          col("base_share"), col("batch_share"), col("psi_term"))
        .orderBy(col("family"), col("metric"), col("bin"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"${outPath}_drift/batch=$tag")
    }
  }

  /** Whether the index component dir `dir` exists. */
  private def componentExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Media-stage pairs → the admit frame: within-batch keep-first must
    * compare doc_ids NUMERICALLY — the index's med_id is a string, and
    * string order inverts for ids of different digit lengths
    * ("10" < "2") — so normalize the within pairs after the cast; cross
    * pairs keep their batch-vs-corpus orientation (review catch r14,
    * shared by the hash and frame-set kinds).
    */
  private def normalizePairs(rawPairs: DataFrame): DataFrame = {
    val cast = rawPairs.select(
      col("id1").cast(LongType).as("c1"),
      col("id2").cast(LongType).as("c2"), col("cross"))
    cast.select(
      when(!col("cross"), least(col("c1"), col("c2")))
        .otherwise(col("c1")).as("m1"),
      when(!col("cross"), greatest(col("c1"), col("c2")))
        .otherwise(col("c2")).as("m2"),
      col("cross"))
  }
}
