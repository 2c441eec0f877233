package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{CurateConfig, Tables, TextOps, VectorOps}

/** The parameterized engine surfaces behind the fixture-pinned contract
  * queries (r7 VERDICT task 2): a user pointing this engine at their own
  * corpus calls these with their own frames/thresholds — the contract
  * queries are pinned instantiations, so every test here also guards the
  * instantiation identity.
  */
class ParamApiSpec extends AnyFunSuite with SparkSessionFixture {

  // the engine's deterministic split hash (TextOps.detHash), mirrored so
  // tests can place synthetic docs in known train/test buckets
  private def bucketOf(id: Long): Long =
    (id % 1000003L) * 2654435761L % 1000003L % 10L

  /** Synthetic (doc_id, text, n_chars) corpus rows that pass the default
    * Gopher gate: `n` unique ~5-char words drawn from a per-doc prefix so
    * vocabularies are disjoint across prefixes.
    */
  private def doc(id: Long, prefix: String, n: Int, extra: Seq[String] = Nil) = {
    val words = (0 until n).map(i => s"${prefix}w$i") ++ extra
    val text = words.mkString(" ")
    (id, text, text.length.toLong)
  }

  private def docsDf(rows: Seq[(Long, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "n_chars")
  }

  // ------------------------------------------------------ jaccard

  test("neardupJaccardAt: thresholds are monotone and every pair passes its gate") {
    val docs = Tables.t(spark, Sf0001, "documents")
    def pairs(t: Double) = TextOps.neardupJaccardAt(docs, t).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val loose = pairs(0.3)
    val mid = pairs(0.5)
    val tight = pairs(0.8)
    assert(loose.nonEmpty && mid.nonEmpty, "fixture has planted near-dups")
    assert(mid.keySet.subsetOf(loose.keySet), "0.5 pairs must appear at 0.3")
    assert(tight.keySet.subsetOf(mid.keySet), "0.8 pairs must appear at 0.5")
    assert(loose.values.forall(_ >= 0.3) && tight.values.forall(_ >= 0.8))
    // the contract query IS the 0.5 instantiation
    val contract = TextOps.neardupJaccard(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(contract == mid.keySet)
  }

  test("dedupSimhashAt: hamming gates are monotone, every pair passes " +
      "its gate, and the contract query IS the default instantiation") {
    val docs = Tables.t(spark, Sf0001, "documents")
    def pairs(h: Int) = VectorOps.dedupSimhashAt(docs, maxHamming = h)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val tight = pairs(2)
    val mid = pairs(6)
    val loose = pairs(7)
    assert(mid.nonEmpty, "fixture has planted near-dups")
    assert(tight.keySet.subsetOf(mid.keySet) && mid.keySet.subsetOf(loose.keySet))
    assert(tight.values.forall(_ <= 2) && mid.values.forall(_ <= 6))
    val contract = VectorOps.dedupSimhash(spark, Sf0001).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(contract == mid)
    // the derived-banding exhaustiveness guarantee stops at d = 7
    intercept[IllegalArgumentException] {
      VectorOps.dedupSimhashAt(docs, maxHamming = 8)
    }
  }

  test("neardupJaccardPrefixAt: bit-identical to the direct join at every threshold") {
    val docs = Tables.t(spark, Sf0001, "documents")
    for (t <- Seq(0.3, 0.5, 0.8, 1.0)) {
      val direct = TextOps.neardupJaccardAt(docs, t).collect().toSeq
      val pref = TextOps.neardupJaccardPrefixAt(docs, t).collect().toSeq
      assert(pref == direct, s"prefix-filtered join diverged at t=$t")
      if (t == 0.5) assert(direct.nonEmpty, "fixture has planted near-dups")
    }
  }

  test("neardupJaccardPrefixAt: hot shared shingle does not lose pairs") {
    // every doc shares one boilerplate 3-gram (max-frequency shingle, the
    // degenerate case for the direct join); true near-dup pairs differ
    // only in their rare tail — prefix filtering must still find exactly
    // the direct join's pairs, including a J=1.0 identical pair
    val boiler = Seq("all", "rights", "reserved")
    val rows = (0L until 40L).map { i =>
      val words = boiler ++ (0 until 8).map(j => s"d${i}w$j")
      (i, words.mkString(" "), 0L)
    } ++ Seq(
      (100L, (boiler ++ (0 until 8).map(j => s"d7w$j")).mkString(" "), 0L),
      (101L, (boiler ++ (0 until 7).map(j => s"d9w$j") :+ "zz").mkString(" "), 0L))
    val docs = docsDf(rows)
    for (t <- Seq(0.4, 0.5, 1.0)) {
      val direct = TextOps.neardupJaccardAt(docs, t).collect().toSeq
      val pref = TextOps.neardupJaccardPrefixAt(docs, t).collect().toSeq
      assert(pref == direct, s"hot-shingle corpus diverged at t=$t")
    }
    val at1 = TextOps.neardupJaccardPrefixAt(docs, 1.0).collect()
    assert(at1.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((7L, 100L)),
      "the planted identical pair must survive threshold 1.0")
  }

  test("shingleBlowup: deterministic, and brackets the direct/prefix switch") {
    // distinct-vocabulary corpus: every shingle df=1, blowup 0 — the
    // session pair build must keep the direct join (fixture regime)
    val distinct = docsDf((0L until 2000L).map(i => doc(i, s"u$i", 10)))
    val bLow = TextOps.shingleBlowup(distinct)
    assert(bLow == TextOps.shingleBlowup(distinct), "probe must be deterministic")
    assert(bLow <= TextOps.DirectJaccardMaxBlowup,
      s"distinct corpus must stay direct (blowup=$bLow)")
    // boilerplate corpus: a 30-token suffix shared by every NON-duplicate
    // doc — hot shingles with ~zero true pairs, the regime the PairsScale
    // ladder measured 27x against the direct join; must cross to prefix
    val boiler = (0 until 30).map(j => s"boil$j")
    val hot = docsDf((0L until 2000L).map(i => doc(i, s"u$i", 10, boiler)))
    val bHigh = TextOps.shingleBlowup(hot)
    assert(bHigh > TextOps.DirectJaccardMaxBlowup,
      s"boilerplate corpus must switch to prefix (blowup=$bHigh)")
    // sf0.001 contract fixture sits on the direct side (pins that the
    // contract rows' plan shape is unchanged by the switch)
    assert(TextOps.shingleBlowup(Tables.t(spark, Sf0001, "documents"))
      <= TextOps.DirectJaccardMaxBlowup)
  }

  test("corpusReportOn: contract pin, config monotonicity, custom grouping") {
    val docs = Tables.t(spark, Sf0001, "documents")
    // the contract query IS the default instantiation
    val contract = TextOps.corpusReport(spark, Sf0001).collect().toSeq
    assert(contract == TextOps.corpusReportOn(docs).collect().toSeq)
    assert(contract.nonEmpty)
    // a stricter Gopher gate can only lower each group's quality count
    val strict = TextOps.corpusReportOn(docs,
      CurateConfig(minWords = 60L)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    contract.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      assert(strict(k) <= r.getLong(4), s"stricter gate raised n_quality at $k")
    }
    // custom grouping: per-lang card sums to the same corpus totals
    val byLang = TextOps.corpusReportOn(docs, by = Seq("lang")).collect()
    assert(byLang.map(_.getLong(1)).sum == contract.map(_.getLong(2)).sum,
      "per-lang doc counts must sum to the corpus total")
  }

  // ------------------------------------------------------ knn

  test("knn: external query frame gets exact top-k against the corpus") {
    val base = Tables.t(spark, Sf0001, "embeddings")
    // external ids: same vectors, disjoint id space — exercises the
    // queries-not-subset-of-base path (no self-exclusion applies)
    val queries = base.filter(col("vec_id") >= 5 && col("vec_id") < 8)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val out = VectorOps.knn(base, queries, k = 3).collect()
    val perQ = out.groupBy(_.getLong(0))
    assert(perQ.keySet == Set(1000005L, 1000006L, 1000007L))
    perQ.values.foreach { rows =>
      assert(rows.length == 3)
      assert(rows.map(_.getInt(3)).sorted.toSeq == Seq(1, 2, 3))
      // each query's own source vector (cos = 1) must rank first
      assert(rows.find(_.getInt(3) == 1).get.getDouble(2) == 1.0)
    }
    // k is a true prefix: top-3 of each query == first 3 of top-5
    val k5 = VectorOps.knn(base, queries, k = 5).collect()
      .filter(_.getInt(3) <= 3)
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    val k3 = out.map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(k3 == k5)
  }

  test("knnLshAt: external query frame recalls the exact top-k") {
    val base = Tables.t(spark, Sf0001, "embeddings")
    val queries = base.filter(col("vec_id") >= 5 && col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val truth = VectorOps.knn(base, queries, k = 5)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = VectorOps.knnLshAt(base, queries, k = 5)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(found.contains).toDouble / truth.size
    // each query's identical twin shares every band, so recall is far
    // above the random-pair floor; 0.6 mirrors the contract-path bound
    assert(recall >= 0.6, s"external-probe recall $recall over ${truth.size}")
  }

  // ------------------------------------------------------ curate

  test("curateOn: generic path at defaults is bit-identical to the contract query") {
    val docs = Tables.t(spark, Sf0001, "documents")
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getBoolean(1), Option(r.getString(2)))).toSeq
    // labels built from scratch (no memoization) — proves the engine
    // surface needs nothing from the contract scaffolding
    val generic = rows(TextOps.curateOn(docs))
    val contract = rows(TextOps.curate(spark, Sf0001))
    assert(generic == contract)
  }

  test("curateOn segmentDedupWidth: composed == segment-rewrite then doc-level curate") {
    val docs = Tables.t(spark, Sf0001, "documents")
    def verdicts(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2))))).toMap
    val composed =
      verdicts(TextOps.curateOn(docs, CurateConfig(segmentDedupWidth = Some(8))))
    assert(composed.size == 500, "every doc verdicted exactly once")

    // staged equivalent through the standalone public surfaces: rebuild
    // the rewritten corpus from dedupSegmentsAt, doc-level-curate the
    // docs with surviving segments, verdict the emptied (n_kept = 0 —
    // the "emptied BY DEDUP" criterion, not text emptiness) segment_dup
    val seg = TextOps.dedupSegmentsAt(docs, 8)
    val emptied = seg.filter(col("n_kept") === 0L)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val rwdocs = docs.drop("text", "n_chars")
      .join(seg.filter(col("n_kept") > 0L)
        .select(col("doc_id"), col("clean_text").as("text"),
          length(col("clean_text")).cast("long").as("n_chars")), Seq("doc_id"))
    val staged =
      verdicts(TextOps.curateOn(rwdocs, CurateConfig())) ++
        emptied.map(_ -> ((false, Option("segment_dup"))))
    assert(composed == staged)

    // the fixture exercises the stage non-trivially: fully-boilerplate
    // docs (exact copies of earlier docs) drop as segment_dup, and the
    // stage changes verdicts beyond those (stages downstream measure the
    // REWRITTEN text)
    assert(emptied.nonEmpty, "fixture must contain fully-duplicate docs")
    val default = verdicts(TextOps.curateOn(docs))
    assert(composed.exists { case (id, (kept, _)) => default(id)._1 != kept },
      "segment stage must affect downstream verdicts on the fixture")

    // survivor invariant: every survivor's REWRITTEN text passes the
    // Gopher gate (the gate judged unique content, not boilerplate)
    def gopherPass(text: String): Boolean = {
      val tk = text.split(" ", -1)
      val nW = tk.length.toLong
      val sumLen = text.length.toLong - (nW - 1)
      nW >= 30 && nW <= 10000 &&
        sumLen >= nW * 4 && sumLen <= nW * 10 &&
        tk.count(_.length <= 2) * 20L <= nW &&
        tk.distinct.length * 2L >= nW
    }
    val rwText = rwdocs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val survivors = composed.collect { case (id, (true, _)) => id }
    assert(survivors.nonEmpty)
    survivors.foreach(id => assert(gopherPass(rwText(id)),
      s"survivor $id fails the gate on its rewritten text"))
  }

  test("curateOn containmentThreshold: the stage-3 trunk checkpoint is " +
      "plan-only — verdicts bit-identical to the lazy plan, trunk truncated") {
    // the r18 optimization (OPTIMIZATION_r18.md §7): with containment on,
    // stage3 is materialized so later stages stop re-expanding the
    // gate+hash+decontaminate subtree per reference. This pin holds BOTH
    // halves: (1) results are unchanged by the materialization, via the
    // session-wide spark.graft.materialize=lazy posture (r19 — the one
    // knob that replaced the per-site ckptStage3 hatch); (2) the
    // checkpoint actually truncates — the default plan reads the trunk
    // from checkpoint leaves and carries strictly fewer file-relation
    // leaves than the lazy expansion (73 parquet scans at the contract
    // query before the change).
    val docs = Tables.t(spark, Sf0001, "documents")
    val cfg = CurateConfig(containmentThreshold = Some(0.8))
    val ckptDf = TextOps.curateOn(docs, cfg)
    def leaves(df: DataFrame) = df.queryExecution.optimizedPlan.collectLeaves()
    def fileLeaves(df: DataFrame) = leaves(df).count {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _ => false
    }
    assert(leaves(ckptDf).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
      "default containment plan must read stage3 from a checkpoint leaf")
    spark.conf.set(graft.operators.Materialize.ConfKey, "lazy")
    val (lazyDf, lazyRows) =
      try {
        val d = TextOps.curateOn(docs, cfg)
        (d, d.collect().toSeq)
      } finally spark.conf.unset(graft.operators.Materialize.ConfKey)
    assert(leaves(lazyDf).forall(
      !_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
      "lazy posture must restore the fully-lazy plan")
    assert(fileLeaves(ckptDf) < fileLeaves(lazyDf),
      s"checkpoint must truncate file-relation fan-out " +
        s"(${fileLeaves(ckptDf)} vs ${fileLeaves(lazyDf)})")
    assert(ckptDf.collect().toSeq == lazyRows,
      "materialization changed verdicts — it must be plan-only")
  }

  test("Materialize posture knob: invalid mode rejected loudly, lazy is " +
      "a no-op frame") {
    val df = Tables.t(spark, Sf0001, "documents").select(col("doc_id"))
    spark.conf.set(graft.operators.Materialize.ConfKey, "bogus")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.operators.Materialize(df)
      }
      assert(e.getMessage.contains("local|reliable|lazy"))
      spark.conf.set(graft.operators.Materialize.ConfKey, "lazy")
      assert(graft.operators.Materialize(df) eq df,
        "lazy posture must return the input frame untouched")
      // lazy skips optional trunks only: a mandatory cut still cuts
      assert(graft.operators.Materialize.cut(df).queryExecution.logical
        .collectLeaves().exists(
          _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
        "lazy posture must still cut lineage in Materialize.cut")
    } finally spark.conf.unset(graft.operators.Materialize.ConfKey)
  }

  test("source lint: every lineage cut goes through Materialize") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val main = Paths.get("src/main/scala")
    assert(main.toFile.isDirectory, s"run from the repo root: $main missing")
    // lines of code only: scaladoc and comments may name the calls
    val banned = "\\.(localCheckpoint|checkpoint)\\b|reliable:\\s*Boolean".r
    val offenders = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith("graft/operators/Materialize.scala"))
      .flatMap { p =>
        new String(Files.readAllBytes(p), "UTF-8").split("\n").iterator
          .zipWithIndex
          .filterNot { case (l, _) => l.trim.startsWith("*") ||
            l.trim.startsWith("//") || l.trim.startsWith("/*") }
          .filter { case (l, _) => banned.findFirstIn(l).isDefined }
          .map { case (_, i) => s"${main.relativize(p)}:${i + 1}" }
      }.toList
    assert(offenders.isEmpty,
      s"direct checkpoint calls or per-call reliable flags: $offenders — " +
        "cut through Materialize.cut, whose posture is the session conf")
  }

  test("curateOn semanticThreshold: composed == doc-level curate then " +
      "semantic keep-best over its survivors") {
    val docs = Tables.t(spark, Sf0001, "documents")
      .join(Tables.t(spark, Sf0001, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"), "left")
    def verdicts(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2))))).toMap
    val composed = verdicts(TextOps.curateOn(docs,
      CurateConfig(semanticThreshold = Some(0.35))))
    assert(composed.size == 500, "every doc verdicted exactly once")

    // staged equivalent through the standalone public surfaces: text-only
    // pipeline, then semantic keep-best (cluster labels from
    // semanticClustersOn, the near_dup stage's exact metric) applied to
    // its survivors — any survivor not its cluster's keeper re-verdicts
    // as semantic_dup, every other verdict rides unchanged
    val plain = TextOps.curateOn(docs, CurateConfig()).localCheckpoint(true)
    val labels = VectorOps.semanticClustersOn(
      docs.select(col("doc_id").as("vec_id"), col("embedding")), 0.35)
    val keepers = plain.filter(col("kept")).select(col("doc_id"))
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .join(labels.select(col("vec_id").as("doc_id"), col("rep")),
        Seq("doc_id"), "left")
      .groupBy(coalesce(col("rep"), col("doc_id")))
      .agg(max_by(col("doc_id"),
        col("n_chars") * lit(1000000000L) - col("doc_id")).as("doc_id"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val staged = verdicts(plain).map {
      case (id, (true, _)) if !keepers(id) =>
        id -> ((false, Option("semantic_dup")))
      case other => other
    }
    assert(composed == staged)
    // the fixture exercises the stage non-trivially
    assert(composed.count(_._2._2.contains("semantic_dup")) > 0,
      "fixture must produce semantic_dup drops")

    // a doc WITHOUT an embedding is a singleton cluster: absence of a
    // vector must never drop a document
    val partial = docs.withColumn("embedding",
      when(col("doc_id") === 13L, lit(null)).otherwise(col("embedding")))
    val pv = verdicts(TextOps.curateOn(partial,
      CurateConfig(semanticThreshold = Some(0.35))))
    assert(pv(13L)._2 != Option("semantic_dup"),
      "embedding-less doc must not be a semantic drop")

    // no embedding column at all → loud refusal, not a silently-off stage
    val e = intercept[IllegalArgumentException] {
      TextOps.curateOn(Tables.t(spark, Sf0001, "documents"),
        CurateConfig(semanticThreshold = Some(0.35)))
    }
    assert(e.getMessage.contains("embedding"))

    // the contract wrapper rides BOTH session memos (text labels +
    // full-embeddings cosine clusters) — pin it bit-identical to the
    // pure composed path, which is also the proof that full-table
    // cluster labels equal the docs-joined build on this corpus
    // (embeddings ⊆ documents here)
    val contract = verdicts(TextOps.curateSemantic(spark, Sf0001))
    assert(contract == composed,
      "memoized contract path must equal the pure composed pipeline")

    // supplied semanticLabels also lift the embedding-column refusal:
    // labels already carry everything the stage needs
    val supplied = verdicts(TextOps.curateOn(
      Tables.t(spark, Sf0001, "documents"),
      CurateConfig(semanticThreshold = Some(0.35)),
      semanticLabels = Some(labels)))
    assert(supplied == composed,
      "caller-supplied cosine clusters must reproduce the built-in stage")
  }

  test("curateOn segmentDedupWidth: empty-on-arrival docs are quality drops, not segment_dup") {
    import spark.implicits._
    // two empty docs + clean unique docs: the FIRST empty doc's lone ""
    // segment survives dedup (n_kept = 1, still reassembles to "") —
    // it was empty on arrival, so it belongs to the quality gate; the
    // SECOND empty doc's "" segment IS a dup of the first's → segment_dup
    val rows = Seq(doc(1L, "alpha", 40), doc(2L, "bravo", 40),
      (90L, "", 0L), (91L, "", 0L), (92L, null.asInstanceOf[String], 0L))
    val docs = rows.toDF("doc_id", "text", "n_chars")
    val got = TextOps.curateOn(docs, CurateConfig(segmentDedupWidth = Some(8)))
      .collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(got.size == rows.size, "every doc verdicted exactly once, nulls included")
    assert(got(90L) == Some("quality"), s"first empty doc: ${got(90L)}")
    assert(got(91L) == Some("segment_dup"), s"second empty doc: ${got(91L)}")
    assert(got(1L).isEmpty && got(2L).isEmpty, "clean docs survive")
    // a null-text doc produces no segments at all — it must still get a
    // verdict row, and the SAME verdict the plain pipeline gives it
    val plain = TextOps.curateOn(docs)
      .collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(got(92L) == plain(92L), s"null doc: composed ${got(92L)} vs plain ${plain(92L)}")
    // raw-text labels cannot be mixed into the rewritten-text pipeline
    val labels = Some(TextOps.clusterLabelsOn(docs))
    val e = intercept[IllegalArgumentException] {
      TextOps.curateOn(docs, CurateConfig(segmentDedupWidth = Some(8)), labels)
    }
    assert(e.getMessage.contains("omit labels"))
  }

  test("curateOn: tightening the quality gate never keeps more documents") {
    val docs = Tables.t(spark, Sf0001, "documents")
    val labels = Some(TextOps.clusterLabelsOn(docs))
    def kept(cfg: CurateConfig) = TextOps.curateOn(docs, cfg, labels)
      .filter(col("kept")).count()
    val default = kept(CurateConfig())
    val tight = kept(CurateConfig(minWords = 60L, maxShortRatio = (1L, 40L)))
    assert(default > 0)
    // survivor set shrinks; clusters-with-survivors can only shrink with it
    assert(tight <= default, s"tight=$tight default=$default")
  }

  test("curateDeltaOn: disjoint-vocabulary ingest resumes exactly (union == full rerun)") {
    // all ids in train buckets so decontamination cannot couple the
    // old and new corpora through the split
    val trainIds = Iterator.iterate(1L)(_ + 1).filter(bucketOf(_) < 8)
    val oldIds = trainIds.take(6).toSeq
    val newIds = Iterator.iterate(oldIds.max + 1)(_ + 1)
      .filter(bucketOf(_) < 8).take(4).toSeq
    val d0 = oldIds.zipWithIndex.map { case (id, i) => doc(id, s"old$i", 40) } ++
      // a near-dup pair inside the old corpus (one keeps, one drops)
      Seq(doc(oldIds.head + 1000003L, "old0", 40, extra = Seq("tail")))
    val dNew = newIds.zipWithIndex.map { case (id, i) => doc(id, s"new$i", 40) }
    val prev = TextOps.curateOn(docsDf(d0)).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), Option(r.getString(2))))
    val full = TextOps.curateOn(docsDf(d0 ++ dNew)).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), Option(r.getString(2))))
    val delta = TextOps.curateDeltaOn(docsDf(d0 ++ dNew),
        docsDf(d0).select(col("doc_id"))).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), Option(r.getString(2))))
    // delta emits exactly the new ids, and prev ∪ delta is the full rerun
    assert(delta.map(_._1).toSet == newIds.toSet)
    assert((prev ++ delta).toSet == full.toSet)
    // resume over the SAME corpus: done ∪ delta == full, by construction
    val resume = TextOps.curateDeltaOn(docsDf(d0),
        docsDf(d0.take(3)).select(col("doc_id"))).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), Option(r.getString(2))))
    assert((prev.filter(r => d0.take(3).map(_._1).contains(r._1)) ++ resume).toSet
      == prev.toSet)
    // fully-done corpus → empty delta (idempotent resume)
    assert(TextOps.curateDeltaOn(docsDf(d0), docsDf(d0).select(col("doc_id")))
      .count() == 0)
  }

  test("curateDeltaOn: ingest touching an existing cluster diverges as documented") {
    val ids = Iterator.iterate(1L)(_ + 1).filter(bucketOf(_) < 8)
    val oldId = ids.next()
    val newId = ids.next()
    val d0 = Seq(doc(oldId, "base", 40))
    // the new doc is a LONGER near-dup of the old keeper (J ≈ 38/41 on
    // 3-shingles); extra words are >2 chars so the Gopher short-word
    // gate stays green
    val dNew = Seq(doc(newId, "base", 40, extra = Seq("extraa", "extrab", "extrac")))
    val prevKept = TextOps.curateOn(docsDf(d0)).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(prevKept(oldId), "old doc is kept before the ingest")
    val full = TextOps.curateOn(docsDf(d0 ++ dNew)).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // full rerun flips the keeper to the longer new member …
    assert(full(newId) && !full(oldId))
    // … while the delta path leaves the old row untouched (both "kept"):
    // the documented bounded-staleness tradeoff of incremental curation
    val delta = TextOps.curateDeltaOn(docsDf(d0 ++ dNew),
        docsDf(d0).select(col("doc_id"))).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(delta.keySet == Set(newId) && delta(newId))
  }

  // ------------------------------------------------ bloom decontamination

  test("decontaminateBloomOn: bit-identical to exact at default AND degenerate sizing") {
    val docs = Tables.t(spark, Sf0001, "documents")
    val exact = TextOps.decontaminateOn(docs, CurateConfig()).collect().toSeq
    assert(exact.nonEmpty)
    val bloom = TextOps.decontaminateBloomOn(docs).collect().toSeq
    assert(bloom == exact)
    // a comically undersized filter (near-100% false-positive rate)
    // degrades pruning, never results: no false negatives by construction
    val tiny = TextOps.decontaminateBloomOn(docs,
      expectedShingles = 16L, numBits = 64L).collect().toSeq
    assert(tiny == exact)
  }

  // ------------------------------------------------ semantic clustering

  test("semanticClustersOn: dup set shrinks monotonically with threshold; contract = 0.35 instantiation") {
    val vecs = Tables.t(spark, Sf0001, "embeddings")
    def dups(t: Double) = VectorOps.semanticClustersOn(vecs, t).collect()
      .filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    val loose = dups(0.30)
    val mid = dups(0.35)
    val tight = dups(0.45)
    assert(loose.nonEmpty, "fixture has cos >= 0.30 pairs")
    // fewer edges ⇒ fewer paths to a smaller id ⇒ is_dup can only flip off
    assert(mid.subsetOf(loose) && tight.subsetOf(mid))
    // the contract query IS the 0.35 instantiation
    val contract = VectorOps.dedupClusterCosine(spark, Sf0001).collect()
      .filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(contract == mid)
  }

  test("semanticClustersLshOn: a non-contract banding still under-merges the exact clusters") {
    val vecs = Tables.t(spark, Sf0001, "embeddings")
    val exactRep = VectorOps.semanticClustersOn(vecs, 0.35).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // different planes/bands/seed than the contract pin: the under-merge
    // containment is a property of verify-then-cluster, not of the knobs
    val lsh = VectorOps.semanticClustersLshOn(vecs, 0.35,
      numPlanes = 32, bands = 4, seed = 7L).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(lsh.length == exactRep.size, "every vector labeled")
    lsh.groupBy(_._2).values.foreach { members =>
      val reps = members.map(m => exactRep(m._1)).distinct
      assert(reps.length == 1, s"LSH cluster spans exact clusters $reps")
    }
  }

  // ------------------------------------------------- label-cache lifecycle

  private def memoSize(family: String): Int =
    graft.operators.SessionMemo.sizes(spark)(family)

  test("label cache: dead-session entries are purged, live ones survive and rebuild") {
    // populate (any cluster-composed query builds + memoizes the labels)
    TextOps.dedupCluster(spark, Sf0001).count()
    assert(memoSize("text_cluster_labels") >= 1)
    // live predicate keeps the entry
    graft.operators.SessionMemo.purge(s => !s.sparkContext.isStopped)
    assert(memoSize("text_cluster_labels") >= 1)
    // a service whose sessions all died drops every entry …
    graft.operators.SessionMemo.purge(_ => false)
    assert(memoSize("text_cluster_labels") == 0)
    // … and a fresh access rebuilds from scratch, same answer
    val rebuilt = TextOps.dedupCluster(spark, Sf0001)
    assert(rebuilt.count() > 0 && memoSize("text_cluster_labels") >= 1)
    // the curate-reasons memo shares the same lifecycle: populated by
    // either curate query, dropped by the same purge
    TextOps.curate(spark, Sf0001).count()
    assert(memoSize("text_curate_reasons") >= 1)
    // the label build went through the memoized jaccard pair frame
    assert(memoSize("text_jaccard_pairs") >= 1)
    graft.operators.SessionMemo.purge(_ => false)
    assert(memoSize("text_curate_reasons") == 0 &&
      memoSize("text_cluster_labels") == 0 &&
      memoSize("text_jaccard_pairs") == 0)
  }

  test("domainResampleOn: contract pin, own-weight monotonicity, zero-weight drop") {
    def ids(df: DataFrame) = df.collect().map(_.getLong(0)).toSet
    val docs = Tables.t(spark, Sf0001, "documents")
    val contractW = ((0 to 4).map(i => s"src$i" -> 4L) ++
      (5 to 9).map(i => s"src$i" -> 2L)).toMap
    // independent truth, NOT the engine path: replicate the keep rule
    // with the hardcoded Σw = 40 the oracle SQL pins, over collected rows
    val bySource = docs.select(col("doc_id"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val nS = bySource.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nTot = bySource.length.toLong
    def hash(id: Long) = (id % 1000003L) * 2654435761L % 1000003L
    val expected = bySource.collect { case (id, s)
      if BigInt(hash(id)) * 40 * nS(s) <
        BigInt(contractW.getOrElse(s, 1L)) * nTot * 1000003L => id }.toSet
    assert(ids(TextOps.domainResampleOn(docs, contractW)) == expected)
    assert(ids(TextOps.domainResample(spark, Sf0001)) == expected)
    // raising ONE source's weight never shrinks ITS kept set
    val before = ids(TextOps.domainResampleOn(docs, contractW)
      .filter(col("source") === "src15"))
    val after = ids(TextOps.domainResampleOn(docs, contractW + ("src15" -> 2L))
      .filter(col("source") === "src15"))
    assert(before.subsetOf(after))
    // weight 0 drops the source entirely
    assert(ids(TextOps.domainResampleOn(docs, contractW + ("src15" -> 0L))
      .filter(col("source") === "src15")).isEmpty)
  }

  test("pair cache: memoized contract pairs == pure engine paths; same lifecycle") {
    def canon(df: DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))
    graft.operators.SessionMemo.purge(_ => false)
    assert(memoSize("vec_pairs") == 0)
    // the memoized cluster queries must be bit-identical to the pure
    // (uncached) parameterized engine surfaces they pin
    val emb = Tables.t(spark, Sf0001, "embeddings")
    assert(canon(VectorOps.dedupClusterCosine(spark, Sf0001)) ==
      canon(VectorOps.semanticClustersOn(emb, 0.35)))
    assert(canon(VectorOps.dedupSemantic(spark, Sf0001)) ==
      canon(VectorOps.semanticClustersLshOn(emb, 0.35, numPlanes = 16, bands = 8)))
    // each shared pair frame was built once for its two consumers
    assert(memoSize("vec_pairs") == 2)
    VectorOps.dedupMinhash(spark, Sf0001).count()
    assert(memoSize("vec_pairs") == 3)
    // repeated access hits the cache; purge-all rebuilds the same answer
    val first = canon(VectorOps.neardupCosine(spark, Sf0001))
    assert(memoSize("vec_pairs") == 3)
    graft.operators.SessionMemo.purge(_ => false)
    assert(memoSize("vec_pairs") == 0)
    assert(canon(VectorOps.neardupCosine(spark, Sf0001)) == first)
  }

  test("corpus drift: self-drift is zero; a length-shifted batch flags " +
      "n_chars and only n_chars strongly") {
    val docs = Tables.t(spark, Sf0001, "documents")
    // PSI of a corpus against itself: every share pair equal, every
    // term exactly 0 (the clamp never engages on equal shares)
    val self = TextOps.corpusDriftOn(docs, docs).collect()
    assert(self.nonEmpty)
    self.foreach { r =>
      assert(r.getDouble(2) == r.getDouble(3), s"shares differ: $r")
      assert(r.getDouble(4) == 0.0, s"self psi_term nonzero: $r")
    }
    // a batch of only-long documents: the n_chars distribution shifts
    // hard (short bins vanish -> clamped terms), language mix barely
    val shifted = TextOps.corpusDriftOn(docs, docs.filter(col("n_chars") > 300))
      .collect()
    def psi(metric: String) = shifted.filter(_.getString(0) == metric)
      .map(_.getDouble(4)).sum
    assert(psi("n_chars") > 0.25,
      s"length shift must cross the industry 'shifted' line: ${psi("n_chars")}")
    assert(psi("n_chars") > 10 * psi("lang"),
      s"the shift is in length, not language: ${psi("n_chars")} vs ${psi("lang")}")
  }

  test("vec drift: self-drift is zero; a region shift flags lsh_bucket; " +
      "a dimension takeover flags argmax") {
    val e = Tables.t(spark, Sf0001, "embeddings")
    val self = VectorOps.vecDriftOn(e, e).collect()
    assert(self.nonEmpty)
    self.foreach { r =>
      assert(r.getDouble(2) == r.getDouble(3), s"shares differ: $r")
      assert(r.getDouble(4) == 0.0, s"self psi_term nonzero: $r")
    }
    def psi(rows: Array[org.apache.spark.sql.Row], metric: String) =
      rows.filter(_.getString(0) == metric).map(_.getDouble(4)).sum
    // region shift: the batch moves to a new region of embedding space —
    // a strong offset along one axis (components span ±0.5, so +5 on
    // dim 1 dominates every hyperplane dot and the batch collapses into
    // one cell; measured PSI ≈ 13 on this fixture). MEASURED FIRST per
    // the r14 drift-metric lesson: the "obvious" negate-everything shift
    // only permutes a near-uniform occupancy to its complement cells and
    // reads 0.086 — far below the line; a shift PSI can see must change
    // the occupancy HISTOGRAM, not just relabel cells.
    val shifted = e.withColumn("embedding",
      transform(col("embedding"), (x, i) =>
        when(i === 0, x + 5.0f).otherwise(x)))
    val region = VectorOps.vecDriftOn(e, shifted).collect()
    assert(psi(region, "lsh_bucket") > 0.25,
      s"region shift must cross the 'shifted' line: ${psi(region, "lsh_bucket")}")
    // dimension takeover: one component dominates every batch vector —
    // the embedding-model-bump signature; argmax mass collapses to d3
    val takeover = e.withColumn("embedding",
      transform(col("embedding"), (x, i) =>
        when(i === 2, lit(9.0f)).otherwise(x)))
    val dim = VectorOps.vecDriftOn(e, takeover).collect()
    assert(psi(dim, "argmax") > 0.25,
      s"dimension takeover must cross the 'shifted' line: ${psi(dim, "argmax")}")
    val d3 = dim.filter(r => r.getString(0) == "argmax" && r.getString(1) == "d3")
    assert(d3.length == 1 && d3.head.getDouble(3) == 1.0,
      s"all takeover mass lands in d3: ${d3.toSeq}")
  }

  test("graph cache: memoized q_knn_graph == pure build+search; same lifecycle") {
    def canon(df: DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))
    graft.operators.SessionMemo.purge(_ => false)
    assert(memoSize("vec_graph") == 0)
    // memoized contract query must be bit-identical to the pure
    // (uncached) build + search it pins
    val base = Tables.t(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"),
        org.apache.spark.sql.graft.VectorExpressions
          .dotProduct(col("embedding"), col("embedding")).as("n2"))
      .localCheckpoint(true)
    // knobs mirror the contract instantiation: 48×24 are the r18
    // small-corpus floors (n = 500 here, so the n/25, n/62 linear
    // terms stay below them)
    val pure = graft.operators.NnDescent.searchGraph(base,
      graft.operators.NnDescent.buildGraph(base, k = 10, iters = 2,
        cells = 16),
      base.filter(col("vec_id") < 5), k = 5, beam = 48, hops = 3,
      entries = 24)
    val first = canon(VectorOps.knnGraph(spark, Sf0001))
    assert(first == canon(pure))
    assert(memoSize("vec_graph") == 1)
    // repeat hits the cache (no rebuild); purge-all rebuilds the same
    // answer — memoization must be observationally pure
    assert(canon(VectorOps.knnGraph(spark, Sf0001)) == first)
    assert(memoSize("vec_graph") == 1)
    graft.operators.SessionMemo.purge(_ => false)
    assert(memoSize("vec_graph") == 0)
    assert(canon(VectorOps.knnGraph(spark, Sf0001)) == first)
  }

  // ------------------------------------------------ text normalization

  test("normalization canonicalizes case/punctuation/spacing variants to one digest") {
    import spark.implicits._
    // the fixture corpus is already lowercase single-spaced (normalize is
    // the identity there, which the oracle pins); the operator's point
    // shows on a dirty corpus: all three variants of one document must
    // collapse to a single keeper, the distinct doc must survive
    val dirty = Seq(
      (1L, "Hello, World!  This is   GREAT."),
      (2L, "hello world this is great"),
      (3L, "HELLO WORLD — this is great"),
      (4L, "entirely different content")).toDF("doc_id", "text")
    val dirName = java.nio.file.Files.createTempDirectory("norm_docs").toString
    dirty.write.mode("overwrite").parquet(s"$dirName/documents.parquet")
    val groups = TextOps.dedupNormalized(spark, dirName).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(groups == Seq((1L, 3L), (4L, 1L)),
      s"variants must collapse under one keeper: $groups")
    val norm = TextOps.textNormalize(spark, dirName).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(norm(1L) == "hello world this is great")
    assert(norm(3L) == "hello world this is great")
    assert(norm(4L) == "entirely different content")
  }

  test("curateOn normalizeForHash: case/punct variants collapse only when enabled") {
    // doc 11 repeats doc 10's content uppercased with punctuation — raw
    // sha256 sees two documents, the normalized hash sees one
    val base = doc(10L, "nf", 40)
    val variant = {
      val (_, text, _) = base
      val loud = text.split(" ").map(w => w.toUpperCase + ",").mkString(" ")
      (11L, loud, loud.length.toLong)
    }
    val docs = docsDf(Seq(base, variant, doc(12L, "other", 40)))
    def keptIds(cfg: CurateConfig) = TextOps.curateOn(docs, cfg)
      .filter(col("kept")).collect().map(_.getLong(0)).toSet
    def reasonOf(cfg: CurateConfig, id: Long) = TextOps.curateOn(docs, cfg)
      .filter(col("doc_id") === id).collect().head.getString(2)
    assert(keptIds(CurateConfig()) == Set(10L, 11L, 12L),
      "raw hashing must keep the variant")
    assert(keptIds(CurateConfig(normalizeForHash = true)) == Set(10L, 12L),
      "normalized hashing must collapse the variant under the first doc")
    assert(reasonOf(CurateConfig(normalizeForHash = true), 11L) == "exact_dup")
  }

  test("normalization is idempotent: a second pass changes nothing") {
    import spark.implicits._
    // the canonicalization must be a projection (norm ∘ norm == norm) or
    // chained pipeline stages would keep mutating text
    val edge = Seq((1L, "A--B  c!!"), (2L, ""), (3L, "  x  "), (4L, "ok"))
      .toDF("doc_id", "text")
    val dir1 = java.nio.file.Files.createTempDirectory("norm_idem1").toString
    edge.write.mode("overwrite").parquet(s"$dir1/documents.parquet")
    val once = TextOps.textNormalize(spark, dir1)
    val dir2 = java.nio.file.Files.createTempDirectory("norm_idem2").toString
    once.select(col("doc_id"), col("norm_text").as("text"))
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val twice = TextOps.textNormalize(spark, dir2)
    assert(once.collect().map(_.toString).sorted.toSeq ==
      twice.collect().map(_.toString).sorted.toSeq)
    // and on the real corpus
    val fixOnce = TextOps.textNormalize(spark, Sf0001)
    val dir3 = java.nio.file.Files.createTempDirectory("norm_idem3").toString
    fixOnce.select(col("doc_id"), col("norm_text").as("text"))
      .write.mode("overwrite").parquet(s"$dir3/documents.parquet")
    assert(TextOps.textNormalize(spark, dir3).exceptAll(fixOnce).isEmpty)
  }

  // --------------------------------------- segment / paragraph dedup

  test("dedupParagraphsAt: corpus-wide first occurrence wins, docs reassemble") {
    import spark.implicits._
    // doc 1 owns paragraphs A and B; doc 2 repeats A (cross-doc dup) and
    // adds C; doc 3 repeats B twice (intra-doc dup) and is otherwise
    // empty of new content; doc 4 is entirely paragraph A (fully dropped)
    val docs = Seq(
      (1L, "alpha beta\n\ngamma delta"),
      (2L, "alpha beta\n\nepsilon zeta"),
      (3L, "gamma delta\n\ngamma delta"),
      (4L, "alpha beta")).toDF("doc_id", "text")
    val got = TextOps.dedupParagraphsAt(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, "alpha beta\n\ngamma delta", 2L, 2L),
      (2L, "epsilon zeta", 2L, 1L),
      (3L, "", 2L, 0L),
      (4L, "", 1L, 0L)))
  }

  test("dedupSegmentsAt: widths partition the token stream; unique corpus keeps everything") {
    import spark.implicits._
    val docs = Seq(
      (10L, (0 until 17).map(i => s"u$i").mkString(" ")),
      (11L, (100 until 105).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val got = TextOps.dedupSegmentsAt(docs, width = 8).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // 17 tokens at width 8 -> 3 segments (8 + 8 + 1); all vocab unique
    // so nothing drops and reassembly is the identity
    assert(got == Seq(
      (10L, (0 until 17).map(i => s"u$i").mkString(" "), 3L, 3L),
      (11L, (100 until 105).map(i => s"u$i").mkString(" "), 1L, 1L)))
  }

  test("q_dedup_segments contract pin: width-8 instantiation over documents") {
    val docs = Tables.t(spark, Sf0001, "documents")
    val pinned = TextOps.dedupSegments(spark, Sf0001).collect().map(_.toString)
    val generic = TextOps.dedupSegmentsAt(docs, width = 8).collect().map(_.toString)
    assert(pinned.toSeq == generic.toSeq)
    // conservation: kept never exceeds total, and the corpus loses
    // SOMETHING (the fixture vocabulary is tiny, so dup segments exist)
    val rows = TextOps.dedupSegments(spark, Sf0001)
      .agg(sum(col("n_seg")), sum(col("n_kept"))).head()
    assert(rows.getLong(1) < rows.getLong(0),
      s"expected drops on the fixture corpus: ${rows.toString}")
  }
}
