package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.IndexStore
import graft.queries.{Tables, TextOps, VectorOps}

/** Index as-of reads — the reproducibility half of the persisted-index
  * lifecycle: every admit records its tag in the `_history` sidecar, and
  * an as-of probe answers against exactly the batch prefix some earlier
  * admit left behind, partition-pruned to those `batch=` dirs. The laws:
  * a historical batch's output reproduces bit-for-bit after the index
  * moves on; history is replay-idempotent and rebuild/compaction-reset;
  * unknown or folded tags fail loudly; the snapshot scan LISTS only the
  * prefix's directories.
  */
class IndexAsOfSpec extends AnyFunSuite with SparkSessionFixture {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rm(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("exact dedup: a batch's output reproduces as-of the prior tag after the index moved on") {
    val docs = Tables.t(spark, Sf0001, "documents")
    val idx = tmpDir("asof_exact")
    try {
      def b(i: Int) = docs.filter(col("doc_id") % 3 === i)
      TextOps.exactDedupDelta(spark, idx, b(0), "t0")
      val orig1 = rows(TextOps.exactDedupDelta(spark, idx, b(1), "t1")
        .orderBy("doc_id"))
      TextOps.exactDedupDelta(spark, idx, b(2), "t2") // index moves on
      assert(IndexStore.indexHistory(spark, idx) == Seq("t0", "t1", "t2"))

      val replay = rows(TextOps.exactDedupDeltaAsOf(spark, idx, b(1), "t0")
        .orderBy("doc_id"))
      assert(replay == orig1,
        "as-of t0 must reproduce t1's original output bit-for-bit")
      assert(replay.nonEmpty, "fixture must admit docs in t1")

      // as-of the LATEST tag == what the next delta would see: every
      // digest in b(1) is already admitted (by t0 or by t1 itself), so
      // the probe is empty
      assert(TextOps.exactDedupDeltaAsOf(spark, idx, b(1), "t2").isEmpty,
        "as-of the latest tag must see t1's own admissions")
    } finally rm(idx)
  }

  test("history is replay-idempotent; unknown as-of tags fail loudly") {
    val docs = Tables.t(spark, Sf0001, "documents")
    val idx = tmpDir("asof_hist")
    try {
      def b(i: Int) = docs.filter(col("doc_id") % 2 === i)
      TextOps.exactDedupDelta(spark, idx, b(0), "t0")
      TextOps.exactDedupDelta(spark, idx, b(1), "t1")
      // at-least-once replay of t1: same data, same single history line
      TextOps.exactDedupDelta(spark, idx, b(1), "t1")
      assert(IndexStore.indexHistory(spark, idx) == Seq("t0", "t1"))

      val e = intercept[IllegalArgumentException] {
        TextOps.exactDedupDeltaAsOf(spark, idx, b(1), "nope").collect()
      }
      assert(e.getMessage.contains("append history"))
    } finally rm(idx)
  }

  test("compaction closes as-of reach; init remains the folded baseline") {
    import spark.implicits._
    val mk = (ids: Seq[Long]) =>
      ids.map(i => (i, s"alpha beta gamma delta epsilon zeta eta theta " +
        s"unique token $i")).toDF("doc_id", "text")
    val idx = tmpDir("asof_fold")
    try {
      TextOps.segmentDedupDelta(spark, idx, mk(Seq(1L, 2L)), 8, "t0")
      TextOps.segmentDedupDelta(spark, idx, mk(Seq(3L)), 8, "t1")
      TextOps.compactSegmentIndex(spark, idx)
      assert(IndexStore.indexHistory(spark, idx) == Seq("init"))
      val e = intercept[IllegalArgumentException] {
        TextOps.segmentDedupDeltaAsOf(spark, idx, mk(Seq(9L)), 8, "t0")
          .collect()
      }
      assert(e.getMessage.contains("append history"))
      // the folded baseline answers as-of init: doc 1's segments are all
      // seen (admitted by t0), the genuinely novel doc is kept intact
      val asInit = TextOps
        .segmentDedupDeltaAsOf(spark, idx, mk(Seq(1L, 99L)), 8, "init")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(!asInit.contains(1L) || asInit(1L).isEmpty ||
        !asInit(1L).contains("alpha"),
        "doc 1's t0-admitted segments must be dropped against the baseline")
      assert(asInit.get(99L).exists(_.contains("unique token 99")),
        "novel doc must survive the as-of-init probe")
    } finally rm(idx)
  }

  test("minhash index: as-of pairs == pairs of an index built from the prefix alone") {
    val docs = Tables.t(spark, Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val b0 = docs.filter(col("doc_id") < 200)
    val b1 = docs.filter(col("doc_id") >= 200 && col("doc_id") < 400)
    val b2 = docs.filter(col("doc_id") >= 400)
    val live = tmpDir("asof_nd_live")
    val pinned = tmpDir("asof_nd_pin")
    try {
      VectorOps.writeNeardupIndex(b0, live)
      VectorOps.appendNeardupIndex(b1, live, "tA")
      VectorOps.appendNeardupIndex(b2, live, "tB")
      assert(IndexStore.indexHistory(spark, live) == Seq("init", "tA", "tB"))

      VectorOps.writeNeardupIndex(b0.unionByName(b1), pinned)
      val want = rows(VectorOps.minhashPairsIndexed(spark, pinned))
      val got = rows(VectorOps.minhashPairsIndexed(spark, live,
        asOf = Some("tA")))
      assert(got == want,
        "as-of tA must equal the index that never saw tB")
      assert(got.nonEmpty, "fixture prefix must contain near-dup pairs")

      // the delta probe sees the same snapshot
      val wantDelta = rows(VectorOps.neardupDeltaIndexed(spark, pinned, b2))
      val gotDelta = rows(VectorOps.neardupDeltaIndexed(spark, live, b2,
        asOf = Some("tA")))
      assert(gotDelta == wantDelta)
    } finally { rm(live); rm(pinned) }
  }

  test("cosine index: as-of delta == delta against an index that never saw later batches") {
    val vecs = Tables.t(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val b0 = vecs.filter(col("vec_id") < 200)
    val b1 = vecs.filter(col("vec_id") >= 200 && col("vec_id") < 350)
    val b2 = vecs.filter(col("vec_id") >= 350)
    val live = tmpDir("asof_cos_live")
    val pinned = tmpDir("asof_cos_pin")
    try {
      VectorOps.writeCosineIndex(b0, live)
      VectorOps.appendCosineIndex(b1, live, "tA")
      VectorOps.appendCosineIndex(b2, live, "tB")
      assert(IndexStore.indexHistory(spark, live) == Seq("init", "tA", "tB"))
      VectorOps.writeCosineIndex(b0.unionByName(b1), pinned)
      val want = rows(VectorOps.cosineDeltaIndexed(spark, pinned, b2, 0.35))
      val got = rows(VectorOps.cosineDeltaIndexed(spark, live, b2, 0.35,
        asOf = Some("tA")))
      assert(got == want)
      assert(got.nonEmpty, "fixture prefix must contain cosine pairs")
    } finally { rm(live); rm(pinned) }
  }

  test("semantic eval index: indexed decon as-of a release tag == against " +
      "the eval cosine index of that day; flags only grow") {
    val vecs = Tables.t(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val e0 = vecs.filter(col("vec_id") % 10 === 0 && col("vec_id") < 200)
    val e1 = vecs.filter(col("vec_id") % 10 === 0 &&
      col("vec_id") >= 200 && col("vec_id") < 350)
    val e2 = vecs.filter(col("vec_id") % 10 === 0 && col("vec_id") >= 350)
    val corpus = vecs.filter(col("vec_id") % 10 =!= 0)
    val live = tmpDir("asof_sdec_live")
    val pinned = tmpDir("asof_sdec_pin")
    try {
      VectorOps.writeCosineIndex(e0, live)
      VectorOps.appendCosineIndex(e1, live, "tA")
      VectorOps.appendCosineIndex(e2, live, "tB")
      VectorOps.writeCosineIndex(e0, pinned)
      VectorOps.appendCosineIndex(e1, pinned, "tA")
      val want = rows(
        VectorOps.semanticDecontaminateIndexed(spark, pinned, corpus, 0.35))
      val got = rows(VectorOps.semanticDecontaminateIndexed(
        spark, live, corpus, 0.35, asOf = Some("tA")))
      assert(got == want,
        "the as-of probe must reproduce the never-saw-later index")
      def flagged(df: DataFrame) = df.filter(col("contaminated"))
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      val snapFlags = flagged(VectorOps.semanticDecontaminateIndexed(
        spark, live, corpus, 0.35, asOf = Some("tA")))
      assert(snapFlags.nonEmpty, "fixture prefix must flag something")
      // the eval set only grows, so the snapshot's flags are a subset
      assert(snapFlags.subsetOf(flagged(
        VectorOps.semanticDecontaminateIndexed(spark, live, corpus, 0.35))))
    } finally { rm(live); rm(pinned) }
  }

  test("eval index: decontamination as-of a release tag == against the eval set of that day") {
    val docs = Tables.t(spark, Sf0001, "documents")
    val e0 = docs.filter(col("doc_id") < 50)
    val e1 = docs.filter(col("doc_id") >= 50 && col("doc_id") < 100)
    val e2 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
    val train = docs.filter(col("doc_id") >= 150 && col("doc_id") < 250)
    val live = tmpDir("asof_eval_live")
    val pinned = tmpDir("asof_eval_pin")
    try {
      TextOps.writeEvalIndex(e0, live)
      TextOps.appendEvalIndex(e1, live, "tA")
      TextOps.appendEvalIndex(e2, live, "tB")
      TextOps.writeEvalIndex(e0, pinned)
      TextOps.appendEvalIndex(e1, pinned, "tA")
      val want = rows(TextOps.decontaminateIndexed(train, pinned))
      val got = rows(TextOps.decontaminateIndexed(train, live, asOf = Some("tA")))
      assert(got == want)
      assert(want.nonEmpty)
      // the eval set only grows, so the snapshot's flagged docs are a
      // subset of the live index's
      def flagged(df: DataFrame) = df.filter(col("contaminated"))
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(flagged(TextOps.decontaminateIndexed(train, live, asOf = Some("tA")))
        .subsetOf(flagged(TextOps.decontaminateIndexed(train, live))))
    } finally { rm(live); rm(pinned) }
  }

  test("IVF index: as-of search == the search the index answered when the tag was live") {
    import graft.operators.Ivf
    val vecs = Tables.t(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"),
        org.apache.spark.sql.graft.VectorExpressions
          .dotProduct(col("embedding"), col("embedding")).as("n2"))
    val b0 = vecs.filter(col("vec_id") < 250)
    val b1 = vecs.filter(col("vec_id") >= 250 && col("vec_id") < 400)
    val b2 = vecs.filter(col("vec_id") >= 400)
    val queries = vecs.filter(col("vec_id") < 5)
    val idx = tmpDir("asof_ivf")
    try {
      val cents = Ivf.train(b0, k = 8, iters = 3)
      Ivf.writeIndex(b0, cents, idx)
      Ivf.appendIndex(spark, b1, idx, "tA")
      val thenAnswer = rows(Ivf.searchIndex(spark, idx, queries,
        k = 5, nprobe = 4))
      Ivf.appendIndex(spark, b2, idx, "tB")
      assert(graft.operators.IndexStore.indexHistory(spark, idx) ==
        Seq("init", "tA", "tB"))
      val nowAsOf = rows(Ivf.searchIndex(spark, idx, queries,
        k = 5, nprobe = 4, asOf = Some("tA")))
      assert(nowAsOf == thenAnswer,
        "the as-of search must reproduce the historical answer")
      assert(rows(Ivf.searchIndex(spark, idx, queries, 5, 4)) != thenAnswer,
        "sanity: tB's vectors must actually change the live answer")
    } finally rm(idx)
  }

  test("graph index: as-of search == the search the graph answered when the tag was live") {
    import graft.operators.NnDescent
    val vecs = Tables.t(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"),
        org.apache.spark.sql.graft.VectorExpressions
          .dotProduct(col("embedding"), col("embedding")).as("n2"))
    val b0 = vecs.filter(col("vec_id") < 250)
    val b1 = vecs.filter(col("vec_id") >= 250 && col("vec_id") < 400)
    val b2 = vecs.filter(col("vec_id") >= 400)
    val queries = vecs.filter(col("vec_id") < 5)
    val idx = tmpDir("asof_nnd")
    try {
      NnDescent.writeIndex(b0, idx, k = 10, iters = 2, cells = 8)
      NnDescent.appendIndex(spark, b1, idx, "tA", k = 10)
      val thenPlain = rows(NnDescent.searchIndex(spark, idx, queries,
        k = 5, beam = 40, hops = 3))
      val thenRouted = rows(NnDescent.searchIndexRouted(spark, idx, queries,
        k = 5, beam = 40, hops = 3))
      NnDescent.appendIndex(spark, b2, idx, "tB", k = 10)
      assert(graft.operators.IndexStore.indexHistory(spark, idx) ==
        Seq("init", "tA", "tB"))
      assert(rows(NnDescent.searchIndex(spark, idx, queries,
        k = 5, beam = 40, hops = 3, asOf = Some("tA"))) == thenPlain)
      assert(rows(NnDescent.searchIndexRouted(spark, idx, queries,
        k = 5, beam = 40, hops = 3, asOf = Some("tA"))) == thenRouted)
    } finally rm(idx)
  }

  test("PQ index: as-of ADC search == the historical answer; rebuild resets history") {
    import graft.operators.{Ivf, Pq}
    val vecs = Tables.t(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"),
        org.apache.spark.sql.graft.VectorExpressions
          .dotProduct(col("embedding"), col("embedding")).as("n2"))
    val b0 = vecs.filter(col("vec_id") < 250)
    val b1 = vecs.filter(col("vec_id") >= 250 && col("vec_id") < 400)
    val b2 = vecs.filter(col("vec_id") >= 400)
    val queries = vecs.filter(col("vec_id") < 5)
    val idx = tmpDir("asof_pq")
    try {
      val cents = Ivf.train(b0, k = 8, iters = 3)
      val books = Pq.train(b0, m = 8, ks = 16, iters = 3)
      Pq.writeIndex(b0, cents, books, idx, m = 8)
      Pq.appendIndex(spark, b1, idx, "tA", m = 8)
      val thenAnswer = rows(Pq.searchIndex(spark, idx, queries,
        k = 5, nprobe = 4, shortlist = 32, m = 8))
      Pq.appendIndex(spark, b2, idx, "tB", m = 8)
      assert(graft.operators.IndexStore.indexHistory(spark, idx) ==
        Seq("init", "tA", "tB"))
      assert(rows(Pq.searchIndex(spark, idx, queries,
        k = 5, nprobe = 4, shortlist = 32, m = 8, asOf = Some("tA"))) ==
        thenAnswer)
      Pq.writeIndex(b0, cents, books, idx, m = 8)
      assert(graft.operators.IndexStore.indexHistory(spark, idx) == Seq("init"))
    } finally rm(idx)
  }

  test("pre-history index: first post-upgrade append seeds every legacy batch into reach") {
    val docs = Tables.t(spark, Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val b0 = docs.filter(col("doc_id") < 200)
    val b1 = docs.filter(col("doc_id") >= 200 && col("doc_id") < 400)
    val b2 = docs.filter(col("doc_id") >= 400)
    val idx = tmpDir("asof_legacy")
    try {
      VectorOps.writeNeardupIndex(b0, idx)
      VectorOps.appendNeardupIndex(b1, idx, "tOld")
      // simulate an index built before the sidecar existed
      assert(new java.io.File(s"$idx/_history").delete())
      assert(IndexStore.indexHistory(spark, idx).isEmpty)
      VectorOps.appendNeardupIndex(b2, idx, "tNew")
      // the legacy increment was seeded BEFORE tNew was recorded, so
      // tNew's prefix contains it — as-of tNew must see tOld's corpus
      assert(IndexStore.indexHistory(spark, idx) == Seq("init", "tOld", "tNew"))
      val pinned = tmpDir("asof_legacy_pin")
      try {
        VectorOps.writeNeardupIndex(b0.unionByName(b1).unionByName(b2), pinned)
        assert(rows(VectorOps.minhashPairsIndexed(spark, idx,
            asOf = Some("tNew"))) ==
          rows(VectorOps.minhashPairsIndexed(spark, pinned)),
          "as-of the post-upgrade tag must include every legacy batch")
      } finally rm(pinned)
    } finally rm(idx)
  }

  test("a crashed multi-component fold refuses as-of reads until the compaction re-runs") {
    val docs = Tables.t(spark, Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val idx = tmpDir("asof_folding")
    try {
      VectorOps.writeNeardupIndex(docs.filter(col("doc_id") < 100), idx)
      VectorOps.appendNeardupIndex(
        docs.filter(col("doc_id") >= 100 && col("doc_id") < 200), idx, "tA")
      // simulate a compaction that died between its two component folds
      new java.io.File(s"$idx/_folding").createNewFile()
      val e = intercept[IllegalArgumentException] {
        VectorOps.minhashPairsIndexed(spark, idx, asOf = Some("tA")).collect()
      }
      assert(e.getMessage.contains("unfinished compaction"))
      // live reads are unaffected — the batch union is fold-invariant
      VectorOps.minhashPairsIndexed(spark, idx).collect()
      // re-running the compaction clears the sentinel and as-of(init)
      // answers from the folded baseline
      VectorOps.compactNeardupIndex(spark, idx)
      assert(IndexStore.indexHistory(spark, idx) == Seq("init"))
      VectorOps.minhashPairsIndexed(spark, idx, asOf = Some("init")).collect()
    } finally rm(idx)
  }

  test("an as-of read refuses a snapshot whose batch dirs are missing") {
    val docs = Tables.t(spark, Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val idx = tmpDir("asof_missing")
    try {
      VectorOps.writeNeardupIndex(docs.filter(col("doc_id") < 100), idx)
      VectorOps.appendNeardupIndex(
        docs.filter(col("doc_id") >= 100 && col("doc_id") < 200), idx, "tA")
      // simulate the reset-before-fold crash window: data for a
      // recorded tag is gone while history still lists it
      rm(s"$idx/bands/batch=tA")
      val e = intercept[IllegalArgumentException] {
        VectorOps.minhashPairsIndexed(spark, idx, asOf = Some("tA")).collect()
      }
      assert(e.getMessage.contains("missing batch dirs"))
    } finally rm(idx)
  }

  test("rebuild resets history to init") {
    val docs = Tables.t(spark, Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val idx = tmpDir("asof_rebuild")
    try {
      VectorOps.writeNeardupIndex(docs.filter(col("doc_id") < 100), idx)
      VectorOps.appendNeardupIndex(
        docs.filter(col("doc_id") >= 100 && col("doc_id") < 200), idx, "tA")
      VectorOps.writeNeardupIndex(docs.filter(col("doc_id") < 200), idx)
      assert(IndexStore.indexHistory(spark, idx) == Seq("init"),
        "a rebuild starts a new history — pre-rebuild tags left the data")
    } finally rm(idx)
  }

  test("indexInfo reports batches, sidecars, and lifecycle flags in one view") {
    val docs = Tables.t(spark, Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val idx = tmpDir("info_idx")
    try {
      VectorOps.writeNeardupIndex(docs.filter(col("doc_id") < 100), idx)
      VectorOps.appendNeardupIndex(
        docs.filter(col("doc_id") >= 100 && col("doc_id") < 200), idx, "tA")
      def info() = IndexStore.indexInfo(spark, idx).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3)))
      val i0 = info()
      // every component x batch with real file stats
      for (c <- Seq("bands", "sets"); b <- Seq("batch=init", "batch=tA"))
        assert(i0.exists(r => r._1 == "data" && r._2 == c && r._3 == b &&
          r._4.contains("files=") && !r._4.contains("bytes=0")),
          s"missing data row $c/$b in ${i0.mkString("\n")}")
      // the history sidecar rides along, flattened
      assert(i0.exists(r => r._1 == "sidecar" && r._3 == "_history" &&
        r._4 == "init,tA"))
      assert(!i0.exists(_._1 == "flag"), s"fresh index must raise no flags")

      // lifecycle flags appear as they arise
      new java.io.File(s"$idx/_folding").createNewFile()
      new java.io.File(s"$idx.rebuilding").mkdirs()
      val i1 = info()
      assert(i1.exists(r => r._1 == "flag" && r._3 == "_folding"))
      assert(i1.exists(r => r._1 == "flag" &&
        r._3 == "aside_rebuild_in_progress_or_orphaned"))
    } finally { rm(idx); rm(s"$idx.rebuilding") }
  }

  test("the as-of scan partition-prunes to the prefix's batch dirs") {
    val docs = Tables.t(spark, Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val idx = tmpDir("asof_prune")
    try {
      VectorOps.writeNeardupIndex(docs.filter(col("doc_id") < 200), idx)
      VectorOps.appendNeardupIndex(
        docs.filter(col("doc_id") >= 200 && col("doc_id") < 300), idx, "tA")
      VectorOps.appendNeardupIndex(
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 400), idx, "tB")
      val scan = VectorOps.minhashPairsIndexed(spark, idx, asOf = Some("tA"))
      // finalize THIS df's own AQE plan, then traverse THROUGH the
      // adaptive/stage wrappers (their current plans are fields, not
      // children — a plain collect sees none of the scans)
      scan.queryExecution.toRdd.count()
      def allScans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(q.plan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(allScans)
      }
      val fsScans = allScans(scan.queryExecution.executedPlan)
      assert(fsScans.nonEmpty)
      fsScans.foreach { s =>
        assert(s.partitionFilters.nonEmpty,
          "the as-of tag set must land as partitionFilters on the scan")
        val readTags = s.relation.location
          .listFiles(s.partitionFilters, Nil)
          .flatMap(_.files).map(_.getPath.toString)
          .flatMap("batch=([a-zA-Z0-9]+)".r.findFirstMatchIn(_)
            .map(_.group(1))).toSet
        assert(readTags == Set("init", "tA"),
          s"pruned listing must touch exactly the prefix dirs, got $readTags")
      }
    } finally rm(idx)
  }

  test("as-of snapshots keep leading-zero tags on an init-less all-numeric index") {
    // append-only index, no batch=init dir, every tag numeric: partition
    // type inference would type `batch` INT, '007' would collapse to 7,
    // and the isin('007') prefix filter would silently return an EMPTY
    // snapshot while requireBatchesPresent (raw dir names) passes —
    // the as-of read must pin the partition column to STRING (r13 advice)
    val docs = Tables.t(spark, Sf0001, "documents")
    val idx = tmpDir("asof_numtag")
    try {
      VectorOps.appendNeardupIndex(docs.filter(col("doc_id") % 2 === 0),
        idx, "007")
      VectorOps.appendNeardupIndex(docs.filter(col("doc_id") % 2 === 1),
        idx, "010")
      assert(IndexStore.indexHistory(spark, idx) == Seq("007", "010"))
      val snap007 = IndexStore.open(spark, idx, Seq("sets"),
        IndexStore.View.AsOf("007"))("sets")
      assert(snap007.schema("batch").dataType ==
        org.apache.spark.sql.types.StringType,
        "batch partition column must stay STRING under numeric tags")
      val n007 = snap007.count()
      val nAll = IndexStore.open(spark, idx, Seq("sets"),
        IndexStore.View.AsOf("010"))("sets").count()
      assert(n007 > 0, "as-of '007' lost the leading-zero batch")
      assert(nAll > n007, "as-of the later tag must add the second batch")
      // and the probe surface over it answers (not silently empty)
      assert(VectorOps.minhashPairsIndexed(spark, idx, asOf = Some("007"))
        .columns.toSeq == Seq("d1", "d2", "jaccard"))
    } finally rm(idx)
  }

  test("read-only as-of probes never write _params (crashed-first-contact window)") {
    val docs = Tables.t(spark, Sf0001, "documents")
    val idx = tmpDir("asof_params")
    try {
      // simulate a first admit that crashed after recording its knobs
      // and before any data landed: sidecar present, seen/ absent
      IndexStore.writeSidecar(spark, s"$idx/_params", "normalize=true")
      val err = intercept[IllegalArgumentException] {
        TextOps.exactDedupDeltaAsOf(spark, idx, docs, "t0",
          normalize = false)
      }
      assert(err.getMessage.contains("read-only"))
      assert(IndexStore.readSidecar(spark, s"$idx/_params")
        .contains("normalize=true"),
        "a mismatched probe must not overwrite the first-contact record")
      // an ADMIT with different knobs in the same window re-records —
      // the legitimate-first-contact semantics the window exists for
      TextOps.exactDedupDelta(spark, idx, docs.limit(5), "t0",
        normalize = false)
      assert(IndexStore.readSidecar(spark, s"$idx/_params")
        .contains("normalize=false"))
    } finally rm(idx)
  }

  test("every as-of read at the last admitted tag equals the live read") {
    import spark.implicits._
    import graft.operators.{Ivf, NnDescent, Pq}
    import graft.extract.Multimodal
    val docs = Tables.t(spark, Sf0001, "documents")
    val vecs = Tables.t(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"),
        org.apache.spark.sql.graft.VectorExpressions
          .dotProduct(col("embedding"), col("embedding")).as("n2"))
    def third(df: DataFrame, id: String, i: Int) = df.filter(col(id) % 3 === i)
    def d(i: Int) = third(docs, "doc_id", i)
    def v(i: Int) = third(vecs, "vec_id", i)
    val probeDocs = docs.filter(col("doc_id") < 60)
    val probeVecs = vecs.filter(col("vec_id") < 8)
    val hashed = (0 until 12).map(i => (s"m$i", (i % 4).toLong * 0x1111L))
      .toDF("med_id", "ahash")
    def h(i: Int) = hashed.filter(col("med_id").substr(2, 2).cast("int") % 3 === i)
    // (family, build with two appends tA and tB, reads by asOf)
    val families: Seq[(String, String => Unit,
        Seq[(String, Option[String]) => DataFrame])] = Seq(
      ("minhash", { p: String =>
        VectorOps.writeNeardupIndex(d(0), p)
        VectorOps.appendNeardupIndex(d(1), p, "tA")
        VectorOps.appendNeardupIndex(d(2), p, "tB")
      }, Seq(
        (p, a) => VectorOps.minhashPairsIndexed(spark, p, asOf = a),
        (p, a) => VectorOps.neardupDeltaIndexed(spark, p,
          probeDocs.withColumn("doc_id", col("doc_id") + 100000L), asOf = a))),
      ("cosine", { p: String =>
        VectorOps.writeCosineIndex(v(0).drop("n2"), p)
        VectorOps.appendCosineIndex(v(1).drop("n2"), p, "tA")
        VectorOps.appendCosineIndex(v(2).drop("n2"), p, "tB")
      }, Seq(
        (p, a) => VectorOps.cosineDeltaIndexed(spark, p,
          probeVecs.drop("n2").withColumn("vec_id", col("vec_id") + 100000L),
          0.35, asOf = a),
        (p, a) => VectorOps.semanticDecontaminateIndexed(spark, p,
          probeVecs.drop("n2"), 0.35, asOf = a))),
      ("eval shingles", { p: String =>
        TextOps.writeEvalIndex(d(0), p)
        TextOps.appendEvalIndex(d(1), p, "tA")
        TextOps.appendEvalIndex(d(2), p, "tB")
      }, Seq((p, a) => TextOps.decontaminateIndexed(probeDocs, p, asOf = a))),
      ("seen segments", { p: String =>
        TextOps.segmentDedupDelta(spark, p, d(0), 8, "tA")
        TextOps.segmentDedupDelta(spark, p, d(1), 8, "tB")
      }, Seq((p, a) => TextOps.noveltyDelta(spark, p, d(2), 8, asOf = a))),
      ("containment postings", { p: String =>
        TextOps.appendContainmentIndex(spark, p, d(0), "tA")
        TextOps.appendContainmentIndex(spark, p, d(1), "tB")
      }, Seq((p, a) => a match {
        case Some(t) => TextOps.containmentDeltaIndexedAsOf(spark, p,
          probeDocs, 0.8, t)
        case None => TextOps.containmentDeltaIndexed(spark, p, probeDocs,
          0.8, "tLive").filter(col("cross"))
      })),
      ("media hashes", { p: String =>
        Multimodal.appendMediaIndex(spark, p, h(0), "tA", "image")
        Multimodal.appendMediaIndex(spark, p, h(1), "tB", "image")
      }, Seq((p, a) => a match {
        case Some(t) => Multimodal.mediaHashDeltaAsOf(spark, p, h(2), t,
          "image")
        case None => Multimodal.mediaHashProbe(spark, p, h(2), "tLive",
          "image")
      })),
      ("ivf", { p: String =>
        Ivf.writeIndex(v(0), Ivf.train(v(0), k = 8, iters = 2), p)
        Ivf.appendIndex(spark, v(1), p, "tA")
        Ivf.appendIndex(spark, v(2), p, "tB")
      }, Seq((p, a) => Ivf.searchIndex(spark, p, probeVecs, k = 5,
        nprobe = 4, asOf = a))),
      ("pq", { p: String =>
        Pq.writeIndex(v(0), Ivf.train(v(0), k = 8, iters = 2),
          Pq.train(v(0), m = 8, ks = 16, iters = 2), p, m = 8)
        Pq.appendIndex(spark, v(1), p, "tA", m = 8)
        Pq.appendIndex(spark, v(2), p, "tB", m = 8)
      }, Seq((p, a) => Pq.searchIndex(spark, p, probeVecs, k = 5,
        nprobe = 4, shortlist = 32, m = 8, asOf = a))),
      ("nn-descent graph", { p: String =>
        NnDescent.writeIndex(v(0), p, k = 8, iters = 2, cells = 8)
        NnDescent.appendIndex(spark, v(1), p, "tA", k = 8)
        NnDescent.appendIndex(spark, v(2), p, "tB", k = 8)
      }, Seq(
        (p, a) => NnDescent.searchIndex(spark, p, probeVecs, k = 5,
          beam = 40, hops = 3, asOf = a),
        (p, a) => NnDescent.searchIndexRouted(spark, p, probeVecs, k = 5,
          beam = 40, hops = 3, asOf = a))))
    families.foreach { case (family, build, reads) =>
      val idx = tmpDir("asof_eq")
      try {
        build(idx)
        val last = IndexStore.indexHistory(spark, idx).last
        assert(last == "tB", s"$family: history ends at the last append")
        reads.zipWithIndex.foreach { case (read, i) =>
          def sorted(df: DataFrame) = rows(df).sortBy(_.toString)
          val live = sorted(read(idx, None))
          assert(sorted(read(idx, Some(last))) == live,
            s"$family read $i: as-of the last tag must equal the live read")
        }
      } finally rm(idx)
    }
  }

  test("source lint: only IndexStore knows the index layout protocol") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def text(p: java.nio.file.Path) = new String(Files.readAllBytes(p), "UTF-8")
    // lines of code only: scaladoc and comments may name the protocol
    def code(p: java.nio.file.Path) = text(p).split("\n").iterator
      .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("//") ||
        l.trim.startsWith("/*"))
    val marker = ("\"[^\"\n]*(?<![A-Za-z0-9])(_history|_building|_folding|" +
      "_compacted_tags|\\.compacting|\\.rebuilding|\\.retired)[^\"\n]*\"").r
    val markerOffenders = sources
      .filterNot(_.getFileName.toString == "IndexStore.scala")
      .filter(p => code(p).exists(l => marker.findFirstIn(l).isDefined))
    assert(markerOffenders.isEmpty,
      s"index layout names outside IndexStore: ${markerOffenders.mkString(", ")}")
    val helpers = Seq("componentAsOf", "historyPrefix", "indexHistory",
      "recordHistory", "seedHistoryIfEmpty", "resetHistory", "beginFold",
      "endFold", "beginIndexBuild", "endIndexBuild", "requireNotBuilding",
      "requireBatchesPresent", "finishCrashedSwap", "ensureBatchLayout",
      "compactComponent", "resetComponent", "recoverPromote", "rebuildAside",
      "requireTag", "readSidecar", "writeSidecar", "requireIndexParamsAt")
    val call = ("\\b(" + helpers.mkString("|") + ")\\s*\\(").r
    val families = Set("TextOps.scala", "VectorOps.scala", "Ivf.scala",
      "Pq.scala", "NnDescent.scala", "Multimodal.scala")
    val calls = sources.filter(p => families(p.getFileName.toString))
      .flatMap(p => code(p).flatMap(l => call.findAllMatchIn(l)
        .map(m => s"${p.getFileName}: ${m.group(1)}")))
    assert(families.size == sources.count(p => families(p.getFileName.toString)))
    assert(calls.isEmpty,
      s"index families calling protocol helpers: ${calls.mkString(", ")}")
  }
}
