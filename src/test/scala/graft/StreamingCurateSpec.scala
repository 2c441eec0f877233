package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.CurateConfig
import graft.streaming.CurateIngest

/** The continuously-running curation pipeline (CurateIngest): every
  * stage incremental against persisted state, cross-batch behavior per
  * stage, byte-equivalent at-least-once replay, and the segment-stage
  * variant rewriting text before the gate — the streaming twin of the
  * batch pipeline's stage order.
  */
class StreamingCurateSpec extends AnyFunSuite with SparkSessionFixture {

  private def doc(id: Long, prefix: String, n: Int, extra: String = "") = {
    val text = ((0 until n).map(i => s"${prefix}w$i") ++
      (if (extra.isEmpty) Nil else Seq(extra))).mkString(" ")
    (id, text, text.length.toLong)
  }

  private def docsDf(rows: Seq[(Long, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "n_chars")
  }

  private def verdicts(path: String): Map[Long, (Boolean, Option[String])] =
    spark.read.parquet(path).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("kept"), Option(r.getAs[String]("drop_reason")))))
      .toMap

  test("stage-by-stage cross-batch verdicts; replay is byte-equivalent") {
    val state = java.nio.file.Files.createTempDirectory("ci_state").toString
    val out = java.nio.file.Files.createTempDirectory("ci_out").toString
    val evalSh = graft.queries.TextOps.shingleRows(
        docsDf(Seq(doc(100L, "gamma", 40))))
      .select(col("s")).distinct().localCheckpoint(true)
    val alpha = doc(1L, "alpha", 40)

    val b0 = docsDf(Seq(
      alpha,                                   // clean → kept
      (2L, "tiny words", 10L),                 // → quality
      (3L, alpha._2, alpha._3),                // within-batch copy → exact_dup
      doc(4L, "alpha", 40, extra = "alphatail")// near-dup of 1 → near_dup
    ))
    CurateIngest.processBatch(b0, 0L, state, out, CurateConfig(),
      evalShingles = Some(evalSh))
    assert(verdicts(s"$out/batch=b0") == Map(
      1L -> ((true, None)),
      2L -> ((false, Some("quality"))),
      3L -> ((false, Some("exact_dup"))),
      4L -> ((false, Some("near_dup")))))

    val gamma = doc(100L, "gamma", 40)
    val b1 = docsDf(Seq(
      (11L, alpha._2, alpha._3),                 // cross-batch copy → exact_dup (digest index)
      doc(12L, "alpha", 40, extra = "othertail"),// cross-batch near-dup → near_dup (minhash index)
      doc(13L, "bravo", 40),                     // clean → kept
      (14L, gamma._2, gamma._3)                  // eval leak → decontaminated
    ))
    CurateIngest.processBatch(b1, 1L, state, out, CurateConfig(),
      evalShingles = Some(evalSh))
    val want1 = Map(
      11L -> ((false, Some("exact_dup"))),
      12L -> ((false, Some("near_dup"))),
      13L -> ((true, None)),
      14L -> ((false, Some("decontaminated"))))
    assert(verdicts(s"$out/batch=b1") == want1)

    // at-least-once replay of batch 1: same verdicts, state unchanged
    val digestsBefore = spark.read.parquet(s"$state/digests/seen").count()
    val setsBefore = spark.read.parquet(s"$state/minhash/sets").count()
    CurateIngest.processBatch(b1, 1L, state, out, CurateConfig(),
      evalShingles = Some(evalSh))
    assert(verdicts(s"$out/batch=b1") == want1, "replay must reproduce")
    assert(spark.read.parquet(s"$state/digests/seen").count() == digestsBefore)
    assert(spark.read.parquet(s"$state/minhash/sets").count() == setsBefore)
  }

  test("segment stage rewrites before the gate; compaction cadence skips the in-flight tag") {
    val state = java.nio.file.Files.createTempDirectory("ci_seg_state").toString
    val out = java.nio.file.Files.createTempDirectory("ci_seg_out").toString
    val cfg = CurateConfig(segmentDedupWidth = Some(8))
    val alpha = doc(1L, "alpha", 40)
    CurateIngest.processBatch(docsDf(Seq(alpha)), 0L, state, out, cfg)
    assert(verdicts(s"$out/batch=b0") == Map(1L -> ((true, None))))

    val bravoText = (0 until 40).map(i => s"bravow$i").mkString(" ")
    val b1 = docsDf(Seq(
      (21L, alpha._2, alpha._3),                 // every segment seen → segment_dup
      (22L, alpha._2 + " " + bravoText,          // alpha half drops, bravo half survives
        (alpha._2 + " " + bravoText).length.toLong),
      (23L, null.asInstanceOf[String], 0L)       // null text → exact_dup (batch parity)
    ))
    CurateIngest.processBatch(b1, 1L, state, out, cfg)
    val got = spark.read.parquet(s"$out/batch=b1").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((Option(r.getAs[String]("drop_reason")), r.getAs[String]("text"))))
      .toMap
    assert(got(21L)._1 == Some("segment_dup"))
    // "full batch rows" contract: a segment-dropped doc has NO row in
    // the rewritten frame, but its verdict must still carry the ARRIVAL
    // text (audits of why a doc dropped need the doc)
    assert(got(21L)._2 == alpha._2,
      s"segment_dup verdict must keep the arrival text: ${got(21L)}")
    // null-text docs get the BATCH pipeline's verdict (its when-chain
    // skips the quality branch on a null gate and lands on exact_dup)
    assert(got(23L)._1 == Some("exact_dup"), s"null doc: ${got(23L)}")
    assert(got(22L)._1.isEmpty, s"doc 22 must survive: ${got(22L)}")
    assert(got(22L)._2 == bravoText,
      "the surviving doc must carry its REWRITTEN text (alpha half gone)")

    // cadence at batch 2 folds b0/b1; an immediate replay of batch 2
    // (crash before commit) skips the cadence and reproduces
    val b2 = docsDf(Seq(doc(31L, "delta", 40)))
    CurateIngest.processBatch(b2, 2L, state, out, cfg, compactEvery = 2)
    val v2 = verdicts(s"$out/batch=b2")
    assert(v2 == Map(31L -> ((true, None))))
    CurateIngest.processBatch(b2, 2L, state, out, cfg, compactEvery = 2)
    assert(verdicts(s"$out/batch=b2") == v2, "replay through cadence")
  }

  test("run(): foreachBatch wiring end-to-end") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val state = java.nio.file.Files.createTempDirectory("ci_run_state").toString
    val out = java.nio.file.Files.createTempDirectory("ci_run_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ci_run_ckpt").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long)]
    val q = CurateIngest.run(input.toDF().toDF("doc_id", "text", "n_chars"),
      state, out, ckpt)
    try {
      val a = doc(1L, "alpha", 40)
      input.addData(Seq(a))
      q.processAllAvailable()
      input.addData(Seq((2L, a._2, a._3), doc(3L, "bravo", 40)))
      q.processAllAvailable()
    } finally q.stop()
    assert(verdicts(s"$out/batch=b1") == Map(
      2L -> ((false, Some("exact_dup"))), 3L -> ((true, None))))
  }

  test("growable eval index: appending eval docs mid-stream changes " +
      "verdicts on the next batch; overlapping appends stay a set") {
    import graft.queries.TextOps
    val state = java.nio.file.Files.createTempDirectory("ci_ev_state").toString
    val out = java.nio.file.Files.createTempDirectory("ci_ev_out").toString
    val evalIdx = java.nio.file.Files.createTempDirectory("ci_ev_idx").toString
    val gamma = doc(100L, "gamma", 40)
    val delta = doc(101L, "delta", 40)
    TextOps.writeEvalIndex(docsDf(Seq(gamma)), evalIdx)

    // batch 0: the gamma copy is contaminated, the delta copy is NOT
    // (delta isn't in the eval set yet)
    val b0 = docsDf(Seq((1L, gamma._2, gamma._3), (2L, delta._2, delta._3)))
    CurateIngest.processBatch(b0, 0L, state, out, CurateConfig(),
      evalIndexPath = Some(evalIdx))
    assert(verdicts(s"$out/batch=b0") == Map(
      1L -> ((false, Some("decontaminated"))),
      2L -> ((true, None))))

    // mid-stream: delta joins the eval set — NO restart, next batch
    // must decontaminate a fresh near-copy of it
    TextOps.appendEvalIndex(docsDf(Seq(delta)), evalIdx, "e1")
    val deltaCopy = doc(11L, "delta", 40, extra = "tailword")
    val b1 = docsDf(Seq(deltaCopy, doc(12L, "epsilon", 40)))
    CurateIngest.processBatch(b1, 1L, state, out, CurateConfig(),
      evalIndexPath = Some(evalIdx))
    assert(verdicts(s"$out/batch=b1") == Map(
      11L -> ((false, Some("decontaminated"))),
      12L -> ((true, None))))

    // set semantics: re-appending overlapping eval docs under a new tag
    // adds NO rows (every shingle already stored), so shared-shingle
    // counts can never double; a same-tag replay rewrites itself
    val before = spark.read.parquet(s"$evalIdx/shingles").count()
    TextOps.appendEvalIndex(docsDf(Seq(delta, gamma)), evalIdx, "e2")
    assert(spark.read.parquet(s"$evalIdx/shingles").count() == before,
      "overlapping append must add no duplicate shingles")
    TextOps.appendEvalIndex(docsDf(Seq(delta)), evalIdx, "e1")
    assert(spark.read.parquet(s"$evalIdx/shingles").count() == before,
      "same-tag replay must rewrite, not duplicate")

    // compaction folds increments; a replayed append after the fold
    // writes an empty increment — union unchanged
    TextOps.compactEvalIndex(spark, evalIdx)
    assert(spark.read.parquet(s"$evalIdx/shingles").count() == before)
    TextOps.appendEvalIndex(docsDf(Seq(delta)), evalIdx, "e1")
    assert(spark.read.parquet(s"$evalIdx/shingles").count() == before)
    val b2 = docsDf(Seq(doc(21L, "delta", 40, extra = "othertail")))
    CurateIngest.processBatch(b2, 2L, state, out, CurateConfig(),
      evalIndexPath = Some(evalIdx))
    assert(verdicts(s"$out/batch=b2") == Map(
      21L -> ((false, Some("decontaminated")))))
  }

  test("decontaminateIndexed: batch one-shot against the persisted eval " +
      "index agrees with the streaming stage doc-for-doc") {
    import graft.queries.TextOps
    val evalIdx = java.nio.file.Files.createTempDirectory("dc_idx").toString
    val gamma = doc(100L, "gamma", 40)
    TextOps.writeEvalIndex(docsDf(Seq(gamma)), evalIdx)
    val corpus = docsDf(Seq(
      (1L, gamma._2, gamma._3),          // full eval copy → contaminated
      doc(2L, "alpha", 40),              // clean
      doc(3L, "gamma", 2)                // tiny overlap: 1 shared shingle of 1? below ratio? n=2 words → 0 shingles
    ))
    val got = TextOps.decontaminateIndexed(corpus, evalIdx).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(4), r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(1L)._1, s"full copy must be contaminated: ${got(1L)}")
    assert(!got(2L)._1, s"clean doc flagged: ${got(2L)}")
    assert(got.size == 3 && !got(3L)._1, s"sub-shingle doc: ${got(3L)}")

    // stream parity: the same corpus through CurateIngest with the same
    // index — exactly the contaminated docs drop as `decontaminated`
    val state = java.nio.file.Files.createTempDirectory("dc_state").toString
    val out = java.nio.file.Files.createTempDirectory("dc_out").toString
    CurateIngest.processBatch(corpus, 0L, state, out, CurateConfig(),
      evalIndexPath = Some(evalIdx))
    val streamed = verdicts(s"$out/batch=b0")
    assert(streamed(1L) == ((false, Some("decontaminated"))))
    assert(streamed(2L) == ((true, None)))
    // doc 3 fails the quality gate (2 words), never reaching decon —
    // stage order, not a disagreement on contamination
    assert(streamed(3L) == ((false, Some("quality"))))
  }

  test("semantic stage: a cross-batch paraphrase (zero shared shingles) " +
      "drops as semantic_dup via the growing cosine index; replay " +
      "reproduces") {
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("ci_sem_state").toString
    val out = java.nio.file.Files.createTempDirectory("ci_sem_out").toString
    def axis(i: Int, scale: Float = 1f): Seq[Float] =
      Seq.tabulate(8)(j => if (j == i) scale else 0f)
    def vdocs(rows: Seq[(Long, String, Long, Seq[Float])]) =
      rows.toDF("doc_id", "text", "n_chars", "embedding")
    val alpha = doc(1L, "alpha", 40)
    val bravo = doc(2L, "bravo", 40)
    val b0 = vdocs(Seq(
      (alpha._1, alpha._2, alpha._3, axis(0)),
      (bravo._1, bravo._2, bravo._3, axis(1))))
    CurateIngest.processBatch(b0, 0L, state, out, CurateConfig(
      semanticThreshold = Some(0.9)))
    assert(verdicts(s"$out/batch=b0") == Map(
      1L -> ((true, None)), 2L -> ((true, None))))

    // batch 1: doc 11 shares NO 3-shingle with doc 1 (different word
    // stream) but its embedding is colinear with doc 1's — the
    // paraphrase case only the semantic stage can catch. Doc 12 is a
    // TEXT near-dup of doc 1: stage order must verdict it near_dup
    // (first-drop-reason), not semantic_dup. Doc 13 is clean both ways.
    val para = doc(11L, "charlie", 40)
    val nd = doc(12L, "alpha", 40, extra = "tailword")
    val clean = doc(13L, "echo", 40)
    val b1 = vdocs(Seq(
      (para._1, para._2, para._3, axis(0, 3f)),
      (nd._1, nd._2, nd._3, axis(2)),
      (clean._1, clean._2, clean._3, axis(3))))
    CurateIngest.processBatch(b1, 1L, state, out, CurateConfig(
      semanticThreshold = Some(0.9)))
    val want1 = Map(
      11L -> ((false, Some("semantic_dup"))),
      12L -> ((false, Some("near_dup"))),
      13L -> ((true, None)))
    assert(verdicts(s"$out/batch=b1") == want1)

    // at-least-once replay: same verdicts, cosine index unchanged
    // (only ADMITTED vectors were appended — dropped ones never join)
    val vecsBefore = spark.read.parquet(s"$state/cosine/vectors").count()
    CurateIngest.processBatch(b1, 1L, state, out, CurateConfig(
      semanticThreshold = Some(0.9)))
    assert(verdicts(s"$out/batch=b1") == want1, "replay must reproduce")
    assert(spark.read.parquet(s"$state/cosine/vectors").count() == vecsBefore)
    // BOTH indexes hold exactly the kept docs: the semantically-dropped
    // doc 11's TEXT must not join the minhash corpus either, or a later
    // text-dup of it would near_dup against a doc absent from the output
    assert(spark.read.parquet(s"$state/cosine/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 13L))
    assert(spark.read.parquet(s"$state/minhash/sets")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 13L))
  }

  test("batch/stream semantic parity: when keep-first and keep-best " +
      "pick the same keepers, verdicts are doc-for-doc equal") {
    import spark.implicits._
    import graft.queries.TextOps
    // the two pipelines' only semantic-stage difference is the admit
    // policy (stream keep-FIRST vs batch keep-BEST). On a corpus where
    // each dup cluster's first arrival is also its longest member the
    // policies coincide, so the composed batch pipeline and one stream
    // micro-batch must agree on EVERY document — stage order,
    // drop-reason precedence and the semantic verdict included.
    def axis(i: Int, scale: Float = 1f): Seq[Float] =
      Seq.tabulate(8)(j => if (j == i) scale else 0f)
    val kept = doc(1L, "alpha", 41) // semantic keeper: first AND longest
    val para = doc(21L, "charlie", 30) // zero shared shingles, colinear
    val tdup1 = doc(3L, "bravo", 41) // text near-dup keeper: first AND longest
    val tdup2 = doc(31L, "bravo", 40)
    val clean = doc(13L, "echo", 40)
    val corpus = Seq(
      (kept._1, kept._2, kept._3, axis(0)),
      (para._1, para._2, para._3, axis(0, 2f)),
      (tdup1._1, tdup1._2, tdup1._3, axis(2)),
      (tdup2._1, tdup2._2, tdup2._3, axis(3)),
      (clean._1, clean._2, clean._3, axis(4)))
      .toDF("doc_id", "text", "n_chars", "embedding")

    val batchV = TextOps.curateOn(corpus,
        CurateConfig(semanticThreshold = Some(0.9)))
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2)))))
      .toMap

    val state = java.nio.file.Files.createTempDirectory("ci_par_state").toString
    val out = java.nio.file.Files.createTempDirectory("ci_par_out").toString
    CurateIngest.processBatch(corpus, 0L, state, out, CurateConfig(
      semanticThreshold = Some(0.9)))
    assert(verdicts(s"$out/batch=b0") == batchV,
      "stream and batch must verdict every doc identically")
    // and the case is non-trivial: a semantic drop, a text near-dup
    // drop (precedence: the shingle stage fires before the semantic
    // one), and survivors
    assert(batchV(21L) == ((false, Some("semantic_dup"))))
    assert(batchV(31L) == ((false, Some("near_dup"))))
    assert(batchV(1L) == ((true, None)) && batchV(13L) == ((true, None)))
  }

  test("batch/stream media parity: when keep-first and keep-best pick " +
      "the same keepers, verdicts are doc-for-doc equal") {
    import spark.implicits._
    import graft.queries.TextOps
    def img(kind: Int, format: String = "png"): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 64).foreach { x =>
        (0 until 64).foreach { y =>
          val v = kind match {
            case 0 => x * 255 / 63
            case 1 => y * 255 / 63
            case _ => (x + y) * 255 / 126
          }
          im.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, format, bos)
      bos.toByteArray
    }
    // each media cluster's keeper must be first AND best so keep-FIRST
    // (stream) and keep-BEST (batch) coincide: alpha-41 beats chm-40 in
    // n_chars; echo == golf so both policies tie-break to the smaller
    // id; alpha-41 vs alpha-40+tailword is an exact n_chars TIE, so
    // keep-best falls to min doc_id — the stream's keep-first answer.
    // Ids matter for the BATCH decon stage (a hash-bucket self-split on
    // doc_id): the shingle-sharing near-dup pair must sit in TRAIN
    // buckets (detHash%10 < 8 — ids 3 → 4, 12 → 3); a test-bucket id
    // like 1 (bucket 9) sharing shingles with a train doc would drop as
    // decontaminated in the batch pipeline while the stream (decon off)
    // keeps it — a real stage difference, not a policy one
    val kept = doc(3L, "alpha", 41)
    val mdup = doc(11L, "chm", 40) // fresh text, re-encoded copy of 3's image
    val nd = doc(12L, "alpha", 40, extra = "tailword") // text near-dup
    val c1 = doc(13L, "echo", 40)
    val c2 = doc(15L, "golf", 40) // same image as 13: media_dup both ways
    val junk = doc(14L, "foxtrot", 40) // undecodable media: kept both ways
    val corpus = Seq(
      (kept._1, kept._2, kept._3, img(0)),
      (mdup._1, mdup._2, mdup._3, img(0, format = "jpg")),
      (nd._1, nd._2, nd._3, img(1)),
      (c1._1, c1._2, c1._3, img(2)),
      (c2._1, c2._2, c2._3, img(2)),
      (junk._1, junk._2, junk._3, Array[Byte](1, 2, 3)))
      .toDF("doc_id", "text", "n_chars", "image")

    val batchV = TextOps.curateOn(corpus,
        CurateConfig(mediaColumn = Some("image")))
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2)))))
      .toMap

    val state = java.nio.file.Files.createTempDirectory("ci_mpar_state").toString
    val out = java.nio.file.Files.createTempDirectory("ci_mpar_out").toString
    CurateIngest.processBatch(corpus, 0L, state, out, CurateConfig(
      mediaColumn = Some("image")))
    assert(verdicts(s"$out/batch=b0") == batchV,
      "stream and batch must verdict every doc identically")
    // and the case is non-trivial: a media drop through a re-encode, a
    // text near-dup drop (precedence: the shingle stage fires first),
    // a within-cluster media drop, and an undecodable pass-through
    assert(batchV(11L) == ((false, Some("media_dup"))))
    assert(batchV(12L) == ((false, Some("near_dup"))))
    assert(batchV(15L) == ((false, Some("media_dup"))))
    assert(batchV(3L) == ((true, None)) && batchV(13L) == ((true, None)) &&
      batchV(14L) == ((true, None)))
  }

  test("containment stage: a cross-batch excerpt drops via the stored " +
      "postings; within-batch better rule; replay; batch parity; as-of") {
    val state = java.nio.file.Files.createTempDirectory("cn_state").toString
    val out = java.nio.file.Files.createTempDirectory("cn_out").toString
    val cfg = CurateConfig(containmentThreshold = Some(0.8))
    def toks(r: Range) = r.map(i => f"cword$i%04d").mkString(" ")
    def d(id: Long, r: Range) = { val t = toks(r); (id, t, t.length.toLong) }
    val container = d(1L, 1 to 70)
    val other = d(2L, 200 to 270)
    CurateIngest.processBatch(docsDf(Seq(container, other)), 0L, state, out, cfg)
    assert(verdicts(s"$out/batch=b0") ==
      Map(1L -> ((true, None)), 2L -> ((true, None))))
    // batch 1: an excerpt of the STORED container (J ≈ 0.44 — invisible
    // to the minhash stage), a fresh doc, and a within-batch
    // container/excerpt pair at the same shape
    val b1 = docsDf(Seq(d(11L, 1 to 32), d(12L, 300 to 370),
      d(13L, 400 to 470), d(14L, 400 to 431)))
    CurateIngest.processBatch(b1, 1L, state, out, cfg)
    val want1 = Map(
      11L -> ((false, Some("contained_dup"))), // cross-batch via postings
      12L -> ((true, None)),
      13L -> ((true, None)),
      14L -> ((false, Some("contained_dup")))) // within-batch better rule
    assert(verdicts(s"$out/batch=b1") == want1)
    // at-least-once replay: verdicts reproduce, postings unchanged
    val before = spark.read.parquet(s"$state/containment/postings").count()
    CurateIngest.processBatch(b1, 1L, state, out, cfg)
    assert(verdicts(s"$out/batch=b1") == want1, "replay must reproduce")
    assert(spark.read.parquet(s"$state/containment/postings").count() == before)
    // the postings hold EXACTLY the kept corpus (deferred append)
    assert(spark.read.parquet(s"$state/containment/postings")
      .select(col("doc")).distinct().collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 12L, 13L))
    // doc-for-doc batch parity on this keep-first == keep-best corpus
    val union = docsDf(Seq(container, other, d(11L, 1 to 32),
      d(12L, 300 to 370), d(13L, 400 to 470), d(14L, 400 to 431)))
    val batchV = graft.queries.TextOps.curateOn(union, cfg).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), Option(r.getString(2))))).toMap
    assert(batchV == verdicts(s"$out/batch=b0") ++ verdicts(s"$out/batch=b1"))
    // the read-only as-of probe reproduces batch 1's cross answer
    val asOf = graft.queries.TextOps.containmentDeltaIndexedAsOf(spark,
        s"$state/containment",
        b1.select(col("doc_id"), col("text"), col("n_chars")), 0.8, "b0")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(asOf == Set((11L, 1L)))
  }

  test("hot-shingle guard: an over-cap postings bucket leaves the probe " +
      "join with a warning; verdicts inside the threshold slack survive") {
    import spark.implicits._
    import graft.queries.TextOps
    // batch doc 100 carries 5 shingle keys; stored doc 50 posts all 5
    // (true containment 1.0); stored docs 1..40 ALL post k1 — the
    // planted universal-boilerplate shingle a cap of 10 must pull out
    // of the probe join instead of letting it go quadratic
    val e = (1 to 5).map(i => (100L, 5L, s"k$i")).toDF("doc_id", "n", "key")
    val stored = ((1L to 40L).map(dd => ("k1", dd)) ++
      (1 to 5).map(i => (s"k$i", 50L))).toDF("h", "doc")
    def pairs(th: Double, cap: Int) =
      TextOps.crossContainmentPairs(e, stored, th, maxPostings = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ungated: the true pair at containment 1.0, at both thresholds
    assert(pairs(0.8, Int.MaxValue) == Set((100L, 50L)))
    assert(pairs(0.9, Int.MaxValue) == Set((100L, 50L)))
    // HYBRID: doc 100 carries the hot shingle, so its probe re-routes
    // through the rarest-prefix branch against the FULL postings — the
    // verdict a pure cap-10 guard would flip at 0.9 (it drops k1's
    // 41-posting bucket and measures 4/5) is EXACT, and the hot shingle
    // is still warned
    val beforeH = graft.operators.BandedHamming.droppedHotBucketRows.get()
    assert(pairs(0.9, 10) == Set((100L, 50L)),
      "the hot-route hybrid must recover the verdict the guard flipped")
    assert(graft.operators.BandedHamming.droppedHotBucketRows.get() > beforeH,
      "the hybrid must still warn the over-cap shingle")
    assert(pairs(0.8, 10) == Set((100L, 50L)))
  }

  test("a crash mid-bootstrap self-heals: partial empty components are " +
      "rewritten, the stream is never wedged") {
    val state = java.nio.file.Files.createTempDirectory("ci_boot_state").toString
    val out = java.nio.file.Files.createTempDirectory("ci_boot_out").toString
    // simulate a first-contact bootstrap killed between its two writes:
    // bands landed, sets did not (the existence probe keys on sets)
    val b0 = docsDf(Seq(doc(1L, "alpha", 40)))
    graft.queries.VectorOps.bootstrapNeardupIndex(
      b0.select(col("doc_id"), col("text")), s"$state/minhash")
    assert(new java.io.File(s"$state/minhash/sets").exists())
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec); f.delete()
    }
    deleteRec(new java.io.File(s"$state/minhash/sets"))
    // the next batch must re-bootstrap and proceed — no _building
    // sentinel exists to wedge recovery (empty bootstraps are
    // sentinel-free by design)
    assert(!new java.io.File(s"$state/minhash/_building").exists())
    CurateIngest.processBatch(b0, 0L, state, out, CurateConfig())
    assert(verdicts(s"$out/batch=b0") == Map(1L -> ((true, None))))
  }

  test("media stage: a cross-batch image re-encode under fresh text drops " +
      "as media_dup via the persisted media index; replay reproduces") {
    import spark.implicits._
    def img(horizontal: Boolean, diag: Boolean = false,
        format: String = "png"): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 64).foreach { x =>
        (0 until 64).foreach { y =>
          val v = if (diag) (x + y) * 255 / 126
            else if (horizontal) x * 255 / 63 else y * 255 / 63
          im.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, format, bos)
      bos.toByteArray
    }
    val state = java.nio.file.Files.createTempDirectory("ci_med_state").toString
    val out = java.nio.file.Files.createTempDirectory("ci_med_out").toString
    def mdocs(rows: Seq[(Long, String, Long, Array[Byte])]) =
      rows.toDF("doc_id", "text", "n_chars", "image")
    val alpha = doc(1L, "alpha", 40)
    val bravo = doc(2L, "bravo", 40)
    val b0 = mdocs(Seq(
      (alpha._1, alpha._2, alpha._3, img(horizontal = true)),
      (bravo._1, bravo._2, bravo._3, img(horizontal = false))))
    CurateIngest.processBatch(b0, 0L, state, out, CurateConfig(
      mediaColumn = Some("image")))
    assert(verdicts(s"$out/batch=b0") == Map(
      1L -> ((true, None)), 2L -> ((true, None))))

    // batch 1: doc 11 carries FRESH text (no shared shingle with doc 1)
    // but its image is a JPEG re-encode of doc 1's — only the media
    // stage can catch it, through the STORED hash (doc 1's bytes are
    // not in this batch). Doc 12 is a TEXT near-dup of doc 1 with a new
    // image: stage order must verdict it near_dup (precedence). Doc 13
    // is clean both ways; doc 14's media is undecodable (passes — no
    // fingerprint, nothing to compare); doc 15 repeats doc 13's image
    // WITHIN the batch.
    val para = doc(11L, "charlie", 40)
    val nd = doc(12L, "alpha", 40, extra = "tailword")
    val clean = doc(13L, "echo", 40)
    val junk = doc(14L, "foxtrot", 40)
    val win = doc(15L, "golf", 40)
    val b1 = mdocs(Seq(
      (para._1, para._2, para._3, img(horizontal = true, format = "jpg")),
      (nd._1, nd._2, nd._3, img(horizontal = false, diag = true)),
      (clean._1, clean._2, clean._3, img(horizontal = true, diag = true)),
      (junk._1, junk._2, junk._3, Array[Byte](1, 2, 3)),
      (win._1, win._2, win._3, img(horizontal = true, diag = true))))
    CurateIngest.processBatch(b1, 1L, state, out, CurateConfig(
      mediaColumn = Some("image")))
    val want1 = Map(
      11L -> ((false, Some("media_dup"))),
      12L -> ((false, Some("near_dup"))),
      13L -> ((true, None)),
      14L -> ((true, None)),
      15L -> ((false, Some("media_dup"))))
    assert(verdicts(s"$out/batch=b1") == want1)

    // the index holds exactly the kept docs' decodable fingerprints:
    // dropped docs never join (12's diag image must NOT be there — it
    // died in the text stage), and 14 has no fingerprint to hold
    assert(spark.read.parquet(s"$state/media/hashes")
      .select("med_id").collect().map(_.getString(0)).toSet ==
      Set("1", "2", "13"))
    // at-least-once replay: same verdicts, index unchanged
    val hashesBefore = spark.read.parquet(s"$state/media/hashes").count()
    CurateIngest.processBatch(b1, 1L, state, out, CurateConfig(
      mediaColumn = Some("image")))
    assert(verdicts(s"$out/batch=b1") == want1, "replay must reproduce")
    assert(spark.read.parquet(s"$state/media/hashes").count() == hashesBefore)
  }

  test("media stage, video kind: a cross-batch clip sharing most frames " +
      "drops as media_dup via the stored frame sets; replay reproduces") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def blob(n: Int) = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
    val state = java.nio.file.Files.createTempDirectory("ci_vid_state").toString
    val out = java.nio.file.Files.createTempDirectory("ci_vid_out").toString
    def vdocs(rows: Seq[(Long, String, Long, Array[Byte])]) =
      rows.toDF("doc_id", "text", "n_chars", "video")
    // 1000-byte clips, 10 sampled frames at the 500ms/5s cadence; the
    // a-family shares frames 0-7 (title+mid), jaccard 8/12 > 0.5
    val title = blob(300); val mid = blob(500)
    def aClip = title ++ mid ++ blob(200)
    val alpha = doc(1L, "alpha", 40)
    val bravo = doc(2L, "bravo", 40)
    val vcfg = graft.extract.Multimodal.VideoDedupConfig(
      everyNthMs = 500, durationMs = 5000)
    val b0 = vdocs(Seq(
      (alpha._1, alpha._2, alpha._3, aClip),
      (bravo._1, bravo._2, bravo._3, blob(1000))))
    CurateIngest.processBatch(b0, 0L, state, out, CurateConfig(
      mediaColumn = Some("video"), mediaKind = "video", videoConfig = vcfg))
    assert(verdicts(s"$out/batch=b0") == Map(
      1L -> ((true, None)), 2L -> ((true, None))))

    // batch 1: doc 11 carries FRESH text but a clip sharing 8/10 frames
    // with doc 1's — only the stored frame sets can catch it (doc 1's
    // bytes are not in this batch). Doc 12 is a TEXT near-dup of doc 1
    // with a fresh clip: stage order must verdict it near_dup. Doc 13
    // is clean both ways; doc 15 repeats doc 13's clip WITHIN the batch
    // (keep-first by numeric id).
    val para = doc(11L, "charlie", 40)
    val nd = doc(12L, "alpha", 40, extra = "tailword")
    val clean = doc(13L, "echo", 40)
    val win = doc(15L, "golf", 40)
    val cleanClip = blob(1000)
    val b1 = vdocs(Seq(
      (para._1, para._2, para._3, aClip),
      (nd._1, nd._2, nd._3, blob(1000)),
      (clean._1, clean._2, clean._3, cleanClip),
      (win._1, win._2, win._3, cleanClip)))
    CurateIngest.processBatch(b1, 1L, state, out, CurateConfig(
      mediaColumn = Some("video"), mediaKind = "video", videoConfig = vcfg))
    val want1 = Map(
      11L -> ((false, Some("media_dup"))),
      12L -> ((false, Some("near_dup"))),
      13L -> ((true, None)),
      15L -> ((false, Some("media_dup"))))
    assert(verdicts(s"$out/batch=b1") == want1)

    // the frame-set index holds exactly the kept docs' frames: dropped
    // docs never join (12's clip must NOT be there — it died in the
    // text stage; 11's and 15's were media-dropped)
    assert(spark.read.parquet(s"$state/media_video/frames")
      .select("video_id").distinct().collect().map(_.getString(0)).toSet ==
      Set("1", "2", "13"))
    // at-least-once replay: same verdicts, index unchanged
    val framesBefore = spark.read.parquet(s"$state/media_video/frames").count()
    CurateIngest.processBatch(b1, 1L, state, out, CurateConfig(
      mediaColumn = Some("video"), mediaKind = "video", videoConfig = vcfg))
    assert(verdicts(s"$out/batch=b1") == want1, "replay must reproduce")
    assert(spark.read.parquet(s"$state/media_video/frames").count() == framesBefore)
  }

  test("media + semantic: every index holds the FINAL keepers; media " +
      "keep-first compares doc_ids numerically; bogus kind refused") {
    import spark.implicits._
    def img(seedRow: Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 64).foreach { x =>
        (0 until 64).foreach { y =>
          // per-seed structured pattern (flat fills all hash 0)
          val v = ((x * (seedRow + 2) + y) % 64) * 255 / 63
          im.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    def axis(i: Int, scale: Float = 1f): Seq[Float] =
      Seq.tabulate(8)(j => if (j == i) scale else 0f)
    val state = java.nio.file.Files.createTempDirectory("ci_ms_state").toString
    val out = java.nio.file.Files.createTempDirectory("ci_ms_out").toString
    def mdocs(rows: Seq[(Long, String, Long, Seq[Float], Array[Byte])]) =
      rows.toDF("doc_id", "text", "n_chars", "embedding", "image")

    // batch 0: docs 2 and 10 share an image — within-batch media pair.
    // Numeric keep-first must keep doc 2; STRING comparison would
    // invert it ("10" < "2") and keep doc 10 (r14 review catch)
    val d2 = doc(2L, "alpha", 40); val d10 = doc(10L, "bravo", 40)
    val b0 = mdocs(Seq(
      (2L, d2._2, d2._3, axis(0), img(1)),
      (10L, d10._2, d10._3, axis(1), img(1))))
    CurateIngest.processBatch(b0, 0L, state, out, CurateConfig(
      semanticThreshold = Some(0.9), mediaColumn = Some("image")))
    assert(verdicts(s"$out/batch=b0") == Map(
      2L -> ((true, None)), 10L -> ((false, Some("media_dup")))))

    // batch 1: doc 24 passes text AND semantic but its image is doc 2's
    // — drops as media_dup, and its EMBEDDING must not join the cosine
    // index (it is not in the kept corpus; r14 review catch)
    val d24 = doc(24L, "charlie", 40)
    val b1 = mdocs(Seq((24L, d24._2, d24._3, axis(4), img(1))))
    CurateIngest.processBatch(b1, 1L, state, out, CurateConfig(
      semanticThreshold = Some(0.9), mediaColumn = Some("image")))
    assert(verdicts(s"$out/batch=b1") == Map(
      24L -> ((false, Some("media_dup")))))
    assert(spark.read.parquet(s"$state/cosine/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet == Set(2L),
      "cosine index must hold exactly the final keepers")
    assert(spark.read.parquet(s"$state/media/hashes")
      .select("med_id").collect().map(_.getString(0)).toSet == Set("2"))

    // batch 2: a paraphrase of the media-dropped doc 24 must be KEPT —
    // 24 is not in the kept corpus, so nothing may drop against it
    val d31 = doc(31L, "delta", 40)
    val b2 = mdocs(Seq((31L, d31._2, d31._3, axis(4, 3f), img(7))))
    CurateIngest.processBatch(b2, 2L, state, out, CurateConfig(
      semanticThreshold = Some(0.9), mediaColumn = Some("image")))
    assert(verdicts(s"$out/batch=b2") == Map(31L -> ((true, None))),
      "a paraphrase of a media-dropped doc must not semantic_dup " +
        "against a doc outside the kept corpus")

    // a typo'd kind fails loudly instead of silently no-op'ing the stage
    val err = intercept[IllegalArgumentException] {
      CurateIngest.processBatch(b2, 3L, state, out, CurateConfig(
        semanticThreshold = Some(0.9), mediaColumn = Some("image"),
        mediaKind = "wav"))
    }
    assert(err.getMessage.contains("mediaKind"))
  }

  test("multi-media curation: image AND audio columns on one corpus — " +
      "cross-batch dups caught per kind against per-kind roots, replay " +
      "reproduces, batch/stream parity, legacy single-kind root refused") {
    import spark.implicits._
    import graft.queries.TextOps
    def img(kind: Int, format: String = "png"): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 64).foreach { x =>
        (0 until 64).foreach { y =>
          val v = kind match {
            case 0 => x * 255 / 63
            case 1 => y * 255 / 63
            case _ => (x + y) * 255 / 126
          }
          im.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, format, bos)
      bos.toByteArray
    }
    // the gain ENVELOPE is what the fingerprint hashes (noise washes
    // out in frame energies), so distinct clips need distinct section
    // periods, not just seeds
    def wav(seed: Long, section: Int): Array[Byte] = {
      import javax.sound.sampled._
      var h = seed
      val samples = (0 until 6400).map { j =>
        h = h * 6364136223846793005L + 1442695040888963407L
        val noise = ((h >>> 48).toInt - 32768) / 4
        val gain = ((j / section) % 4) match {
          case 0 => 4; case 1 => 1; case 2 => 3; case _ => 0
        }
        (noise * gain / 4).toShort
      }.toArray
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f,
        16, 1, 2, 8000f, false)
      val data = new Array[Byte](samples.length * 2)
      samples.indices.foreach { i =>
        data(2 * i) = (samples(i) & 0xff).toByte
        data(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      }
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, samples.length),
        AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    def rows(ds: Seq[((Long, String, Long), Array[Byte], Array[Byte])]) =
      ds.map { case (d, im, au) => (d._1, d._2, d._3, im, au) }
        .toDF("doc_id", "text", "n_chars", "image", "audio")
    val mediaCfg = Seq("image" -> "image", "audio" -> "audio")

    val state = java.nio.file.Files.createTempDirectory("ci_mm_state").toString
    val out = java.nio.file.Files.createTempDirectory("ci_mm_out").toString
    // keeper first AND best (41 chars, smallest id) so keep-first
    // (stream) and keep-best (batch) coincide — the parity precondition
    val b0 = rows(Seq(((doc(3L, "alpha", 41)), img(0), wav(1L, 300))))
    CurateIngest.processBatch(b0, 0L, state, out, CurateConfig(
      media = mediaCfg))
    assert(verdicts(s"$out/batch=b0") == Map(3L -> ((true, None))))

    val b1 = rows(Seq(
      (doc(11L, "chm", 40), img(0, format = "jpg"), wav(2L, 430)), // image re-encode of 3's
      (doc(12L, "delta", 40), img(1), wav(1L, 300)),          // audio copy of 3's
      (doc(13L, "echo", 40), img(2), wav(3L, 520))            // clean
    ))
    CurateIngest.processBatch(b1, 1L, state, out, CurateConfig(
      media = mediaCfg))
    val want1 = Map(
      11L -> ((false, Some("media_dup"))), // via the IMAGE index
      12L -> ((false, Some("media_dup"))), // via the AUDIO index
      13L -> ((true, None)))
    assert(verdicts(s"$out/batch=b1") == want1)

    // per-kind roots, both grown with the final keepers only
    def ids(root: String) = spark.read
      .parquet(s"$state/$root/hashes").select("med_id")
      .collect().map(_.getString(0)).toSet
    assert(ids("media_image") == Set("3", "13"),
      s"image index must hold the keepers: ${ids("media_image")}")
    assert(ids("media_audio") == Set("3", "13"),
      s"audio index must hold the keepers: ${ids("media_audio")}")

    // at-least-once replay reproduces verdicts and state
    CurateIngest.processBatch(b1, 1L, state, out, CurateConfig(
      media = mediaCfg))
    assert(verdicts(s"$out/batch=b1") == want1, "replay must reproduce")
    assert(ids("media_image") == Set("3", "13"))

    // batch twin: curateOn over the union with cfg.media — doc-for-doc
    val batchV = TextOps.curateOn(b0.unionByName(b1),
        CurateConfig(media = mediaCfg))
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2)))))
      .toMap
    assert(batchV == (want1 + (3L -> ((true, None)))),
      s"batch/stream multi-media parity broke: $batchV")

    // a legacy single-kind root beside the multi-media config is
    // pre-split state — refused loudly, never silently re-bootstrapped
    val state2 = java.nio.file.Files.createTempDirectory("ci_mm_leg").toString
    val out2 = java.nio.file.Files.createTempDirectory("ci_mm_leg_out").toString
    CurateIngest.processBatch(b0, 0L, state2, out2, CurateConfig(
      mediaColumn = Some("image")))
    val err = intercept[IllegalArgumentException] {
      CurateIngest.processBatch(b1, 1L, state2, out2, CurateConfig(
        media = mediaCfg))
    }
    assert(err.getMessage.contains("legacy hash index"))
  }

  test("mediaDupByKind: the drop reason names the modality that fired, " +
      "batch and stream identically; default keeps the shared reason") {
    import spark.implicits._
    import graft.queries.TextOps
    def img(kind: Int, format: String = "png"): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 64).foreach { x =>
        (0 until 64).foreach { y =>
          val v = kind match {
            case 0 => x * 255 / 63
            case 1 => y * 255 / 63
            case _ => (x + y) * 255 / 126
          }
          im.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, format, bos)
      bos.toByteArray
    }
    def wav(seed: Long, section: Int): Array[Byte] = {
      import javax.sound.sampled._
      var h = seed
      val samples = (0 until 6400).map { j =>
        h = h * 6364136223846793005L + 1442695040888963407L
        val noise = ((h >>> 48).toInt - 32768) / 4
        val gain = ((j / section) % 4) match {
          case 0 => 4; case 1 => 1; case 2 => 3; case _ => 0
        }
        (noise * gain / 4).toShort
      }.toArray
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f,
        16, 1, 2, 8000f, false)
      val data = new Array[Byte](samples.length * 2)
      samples.indices.foreach { i =>
        data(2 * i) = (samples(i) & 0xff).toByte
        data(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      }
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, samples.length),
        AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    def rows(ds: Seq[((Long, String, Long), Array[Byte], Array[Byte])]) =
      ds.map { case (d, im, au) => (d._1, d._2, d._3, im, au) }
        .toDF("doc_id", "text", "n_chars", "image", "audio")
    val mediaCfg = Seq("image" -> "image", "audio" -> "audio")
    val cfgKind = CurateConfig(media = mediaCfg, mediaDupByKind = true)
    // the multi-media parity corpus: 11 dups 3's IMAGE (re-encode),
    // 12 dups 3's AUDIO, 13 is clean — so the flag must attribute the
    // two drops to DIFFERENT kinds from one run
    val b0 = rows(Seq(((doc(3L, "alpha", 41)), img(0), wav(1L, 300))))
    val b1 = rows(Seq(
      (doc(11L, "chm", 40), img(0, format = "jpg"), wav(2L, 430)),
      (doc(12L, "delta", 40), img(1), wav(1L, 300)),
      (doc(13L, "echo", 40), img(2), wav(3L, 520))))
    val want = Map(
      3L -> ((true, None)),
      11L -> ((false, Some("media_dup:image"))),
      12L -> ((false, Some("media_dup:audio"))),
      13L -> ((true, None)))
    val batchV = TextOps.curateOn(b0.unionByName(b1), cfgKind).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2)))))
      .toMap
    assert(batchV == want, s"batch per-kind attribution broke: $batchV")
    val state = java.nio.file.Files.createTempDirectory("ci_mk_state").toString
    val out = java.nio.file.Files.createTempDirectory("ci_mk_out").toString
    CurateIngest.processBatch(b0, 0L, state, out, cfgKind)
    CurateIngest.processBatch(b1, 1L, state, out, cfgKind)
    assert(verdicts(s"$out/batch=b0") ++ verdicts(s"$out/batch=b1") == want,
      "stream per-kind attribution must match the batch twin")
    // flag OFF over the same corpus: the shared reason, unchanged —
    // the default's verdict equality across declaration orders
    val plainV = TextOps.curateOn(b0.unionByName(b1),
        CurateConfig(media = mediaCfg)).collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(plainV(11L).contains("media_dup") &&
      plainV(12L).contains("media_dup"))
  }

  test("cfg-only stage config drives the stream: CurateConfig.media / " +
      ".semanticThreshold run their stages without explicit stream params") {
    import spark.implicits._
    // a CurateConfig the BATCH pipeline honors must not silently skip
    // stages in the stream (r15 review catch): media via cfg only
    def img(kind: Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 64).foreach { x => (0 until 64).foreach { y =>
        val v = if (kind == 0) x * 255 / 63 else y * 255 / 63
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }}
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    val state = java.nio.file.Files.createTempDirectory("ci_cfg_state").toString
    val out = java.nio.file.Files.createTempDirectory("ci_cfg_out").toString
    val cfg = CurateConfig(media = Seq("image" -> "image"))
    def row(d: (Long, String, Long), k: Int) = (d._1, d._2, d._3, img(k))
    val b0 = Seq(row(doc(1L, "alpha", 40), 0))
      .toDF("doc_id", "text", "n_chars", "image")
    CurateIngest.processBatch(b0, 0L, state, out, cfg)
    val b1 = Seq(row(doc(11L, "bravo", 40), 0), row(doc(12L, "chm", 40), 1))
      .toDF("doc_id", "text", "n_chars", "image")
    CurateIngest.processBatch(b1, 1L, state, out, cfg)
    assert(verdicts(s"$out/batch=b1") == Map(
      11L -> ((false, Some("media_dup"))), // via the cfg-driven stage
      12L -> ((true, None))))
    // the cfg-driven run above used the PER-KIND root (cfg.media form)
    assert(new java.io.File(s"$state/media_image/hashes").exists(),
      "cfg.media must drive the per-kind root")
  }

  test("drift side output: a distribution-true batch reads stable, a " +
      "shifted batch crosses 0.25 in ITS OWN batch= dir; replay is " +
      "reproducible; no-embedding batches emit corpus terms only") {
    import spark.implicits._
    def embDocs(rows: Seq[(Long, String, Long)], emb: Seq[Float]): DataFrame =
      rows.map(r => (r._1, r._2, r._3, emb))
        .toDF("doc_id", "text", "n_chars", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
    val baseEmb = Seq(1.0f, 0.4f) ++ Seq.fill(62)(0.0f)
    val state = java.nio.file.Files.createTempDirectory("ci_drift_state").toString
    val out = java.nio.file.Files.createTempDirectory("ci_drift_out").toString
    val blDir = java.nio.file.Files.createTempDirectory("ci_drift_base").toString

    // pinned baseline: 40-word docs (~320 chars), one embedding region;
    // profiled once, the run() posture
    embDocs((0 until 30).map(i => doc(1000L + i, s"base$i", 40)), baseEmb)
      .write.mode("overwrite").parquet(blDir)
    val profile = CurateIngest.driftProfile(spark.read.parquet(blDir))

    def famPsi(tag: String): Map[(String, String), Double] =
      spark.read.parquet(s"${out}_drift/batch=$tag").collect()
        .groupBy(r => (r.getAs[String]("family"), r.getAs[String]("metric")))
        .map { case (k, rs) => k -> rs.map(_.getAs[Double]("psi_term")).sum }

    // batch 0: same word shape as the baseline (same n_chars bin, same
    // embedding region) — every family/metric stable. PSI with 2-doc
    // batches is deliberately brutal: ONE doc in a bin the baseline
    // never populated clamps to a huge term, so 'similar' means
    // bin-identical here.
    CurateIngest.processBatch(
      embDocs(Seq(doc(1L, "base31", 40), doc(2L, "base32", 40)), baseEmb),
      0L, state, out, CurateConfig(), driftBase = Some(profile))
    val stable = famPsi("b0")
    assert(stable.keySet.map(_._1) == Set("corpus", "embedding"))
    stable.foreach { case (k, v) =>
      assert(v < 0.25, s"stable batch drifted on $k: $v") }

    // batch 1: long docs (gt0500 bin) in a NEGATED embedding region —
    // both families cross the 0.25 page threshold in b1's own side
    // output while b0's stays stable on disk
    val shifted = embDocs(
      Seq(doc(11L, "charlie", 100), doc(12L, "deltafour", 100)),
      baseEmb.map(-_))
    CurateIngest.processBatch(shifted, 1L, state, out, CurateConfig(),
      driftBase = Some(profile))
    val moved = famPsi("b1")
    assert(moved(("corpus", "n_chars")) > 0.25,
      s"shifted length distribution not flagged: ${moved(("corpus", "n_chars"))}")
    assert(moved(("embedding", "lsh_bucket")) > 0.25,
      s"shifted embedding region not flagged: ${moved(("embedding", "lsh_bucket"))}")
    famPsi("b0").foreach { case (k, v) =>
      assert(v < 0.25, s"b0's stored terms changed after b1: $k $v") }

    // at-least-once replay: identical term rows, same batch= dir
    val before = spark.read.parquet(s"${out}_drift/batch=b1").collect()
      .map(_.toString).sorted.toSeq
    CurateIngest.processBatch(shifted, 1L, state, out, CurateConfig(),
      driftBase = Some(profile))
    val after = spark.read.parquet(s"${out}_drift/batch=b1").collect()
      .map(_.toString).sorted.toSeq
    assert(before == after, "replay must reproduce the drift terms")

    // a batch WITHOUT an embedding column: corpus terms only (the vec
    // profile waits for batches that ride embeddings)
    CurateIngest.processBatch(docsDf(Seq(doc(21L, "echo", 40))), 2L,
      state, out, CurateConfig(), driftBase = Some(profile))
    assert(famPsi("b2").keySet.map(_._1) == Set("corpus"))
  }
}
