package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.NnDescent
import graft.queries.{Tables, VectorOps}

/** Graph-based ANN (NN-Descent build + beam search): the high-recall
  * leg beside LSH/IVF/PQ. The laws pinned here: the graph is bounded
  * and improves under refinement, search degenerates to the exact
  * answer when the beam opens, the contract instantiation recalls the
  * brute-force top-5, and the persisted index shares the standard
  * lifecycle (fail-closed build, growth-only replay-idempotent
  * appends, appended nodes reachable).
  */
class NnDescentSpec extends AnyFunSuite with SparkSessionFixture {

  private def base: DataFrame =
    Tables.t(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"),
        VectorExpressions.dotProduct(col("embedding"), col("embedding")).as("n2"))

  private def topkPairs(df: DataFrame): Set[(Long, Long)] =
    df.select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("graph build: bounded degree, refinement improves neighbor quality") {
    val b = base.localCheckpoint(true)
    val g0 = NnDescent.buildGraph(b, k = 10, iters = 0)
    val g2 = NnDescent.buildGraph(b, k = 10, iters = 2)
    // ≤ k out-edges per node, no self-loops, every node covered
    Seq(g0, g2).foreach { g =>
      assert(g.groupBy("src").count().filter(col("count") > 10).count() == 0)
      assert(g.filter(col("src") === col("dst")).count() == 0)
    }
    assert(g2.select(countDistinct(col("src"))).head.getLong(0) == 500)
    // NN-Descent's whole point: neighbors-of-neighbors rounds raise the
    // mean neighbor similarity over the ring init
    val m0 = g0.agg(avg(col("sim"))).head.getDouble(0)
    val m2 = g2.agg(avg(col("sim"))).head.getDouble(0)
    assert(m2 > m0, s"refinement must improve: init $m0, refined $m2")
    // and approaches the TRUE degree-10 graph's quality
    val ideal = VectorOps.knn(
      b.select(col("vec_id"), col("embedding")),
      b.select(col("vec_id"), col("embedding")), 10)
      .agg(avg(col("cos"))).head.getDouble(0)
    assert(m2 > 0.85 * ideal, s"refined $m2 vs ideal $ideal")
  }

  test("reliable (durable-checkpoint) build is bit-identical to local mode") {
    val b = base.localCheckpoint(true)
    def canon(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val sc = spark.sparkContext
    val posture = graft.operators.Materialize.ConfKey
    // fail fast without a durable dir — the one thing reliable mode
    // cannot silently degrade on (a localCheckpoint fallback would
    // defeat the whole executor-churn story)
    if (sc.getCheckpointDir.isEmpty) {
      spark.conf.set(posture, "reliable")
      try intercept[IllegalArgumentException] {
        NnDescent.buildGraph(b, k = 10, iters = 1)
      } finally spark.conf.unset(posture)
    }
    // the checkpoint dir is deliberately NOT deleted afterwards:
    // setCheckpointDir mutates the suite-shared SparkContext with no
    // unset API, and deleting the dir would leave later reliable
    // checkpoint users in the JVM pointing at a dead path (r14 review)
    val dir = java.nio.file.Files.createTempDirectory("nnd_ckpt").toString
    sc.setCheckpointDir(dir)
    // identical loop, only block durability differs (the CC contract)
    spark.conf.set(posture, "reliable")
    val durable =
      try canon(NnDescent.buildGraph(b, k = 10, iters = 1))
      finally spark.conf.unset(posture)
    // each round releases the edges it superseded: only the returned
    // graph's durable copy is left, not one copy per round
    val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
    assert(rddDirs == 1, s"expected the final edges' checkpoint only, found $rddDirs")
    assert(durable == canon(NnDescent.buildGraph(b, k = 10, iters = 1)))
  }

  test("open beam degenerates to the exact answer bit-for-bit") {
    val b = base.localCheckpoint(true)
    val edges = NnDescent.buildGraph(b, k = 10, iters = 1)
    val queries = b.filter(col("vec_id") < 5)
    // entries = corpus: every node is scored before any hop, so the
    // result must equal the brute-force top-k exactly (same rounding,
    // same tiebreak)
    val open = NnDescent.searchGraph(b, edges, queries, k = 5, beam = 500,
      hops = 0, entries = 500)
    val exact = VectorOps.knn(
      b.select(col("vec_id"), col("embedding")),
      queries.select(col("vec_id"), col("embedding")), 5)
    def canon(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sorted
    assert(canon(open) == canon(exact))
  }

  test("contract instantiation recalls the brute-force top-5") {
    val truth = topkPairs(VectorOps.knnBruteforce(spark, Sf0001))
    val got = topkPairs(VectorOps.knnGraph(spark, Sf0001))
    val recall = truth.count(got.contains).toDouble / truth.size
    assert(recall >= 0.8, s"graph recall@5 $recall")
  }

  test("in-corpus query at beam == k still yields k rows: self never " +
      "holds a beam slot") {
    val b = base.localCheckpoint(true)
    val edges = NnDescent.buildGraph(b, k = 10, iters = 1)
    val got = NnDescent.searchGraph(b, edges, b.filter(col("vec_id") < 3),
      k = 5, beam = 5, hops = 3)
    val counts = got.groupBy("q_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts == Map(0L -> 5L, 1L -> 5L, 2L -> 5L), s"got $counts")
    assert(got.filter(col("q_id") === col("vec_id")).count() == 0)
  }

  test("persisted index: search == in-memory, fail-closed build, " +
      "growth-only appends keep new nodes reachable, replay idempotent") {
    val b = base.localCheckpoint(true)
    val init = b.filter(col("vec_id") < 480)
    val extra = b.filter(col("vec_id") >= 480)
    val dir = java.nio.file.Files.createTempDirectory("nnd_idx").toString
    NnDescent.writeIndex(init, dir, k = 10, iters = 1)
    val queries = b.filter(col("vec_id") < 5)
    def canon(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sorted
    val mem = NnDescent.searchGraph(init,
      NnDescent.buildGraph(init, k = 10, iters = 1), queries,
      k = 5, beam = 20, hops = 3)
    assert(canon(NnDescent.searchIndex(spark, dir, queries, k = 5,
      beam = 20, hops = 3)) == canon(mem))

    // crashed build fails closed (the shared _building discipline)
    assert(new java.io.File(s"$dir/_building").createNewFile())
    intercept[IllegalArgumentException] {
      NnDescent.searchIndex(spark, dir, queries, k = 5, beam = 20, hops = 3)
        .count()
    }
    intercept[IllegalArgumentException] {
      NnDescent.appendIndex(spark, extra, dir, "g1", k = 10)
    }
    assert(new java.io.File(s"$dir/_building").delete())

    // append: the new vectors' graph edges come from searching the
    // existing graph; symmetrized expansion makes them REACHABLE — a
    // query at an appended vector must find it at rank 1 (cos 1.0)
    NnDescent.appendIndex(spark, extra, dir, "g1", k = 10)
    val probe = extra.filter(col("vec_id") === 480)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
        col("n2"))
    val found = NnDescent.searchIndex(spark, dir, probe, k = 5, beam = 20,
      hops = 3).collect()
    assert(found.head.getLong(1) == 480L && found.head.getDouble(2) == 1.0,
      s"appended vector not reachable: ${found.toSeq}")

    // replay of the same tag rewrites itself; a re-sent id under a new
    // tag is dropped (growth-only)
    val v1 = spark.read.parquet(s"$dir/vectors").count()
    NnDescent.appendIndex(spark, extra, dir, "g1", k = 10)
    assert(spark.read.parquet(s"$dir/vectors").count() == v1)
    NnDescent.appendIndex(spark, extra, dir, "g2", k = 10)
    assert(spark.read.parquet(s"$dir/vectors").count() == v1)
    val dupIds = spark.read.parquet(s"$dir/vectors")
      .groupBy("vec_id").count().filter(col("count") > 1).count()
    assert(dupIds == 0)
  }

  test("routed persisted search == in-memory routed; append grows the " +
      "routing state; rebuild folds and restores refined structure") {
    val b = base.localCheckpoint(true)
    val init = b.filter(col("vec_id") < 480)
    val extra = b.filter(col("vec_id") >= 480)
    val dir = java.nio.file.Files.createTempDirectory("nnd_routed").toString
    NnDescent.writeIndex(init, dir, k = 10, iters = 1)
    val queries = b.filter(col("vec_id") < 5)
    def canon(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sorted
    // no appends: stored routing state == the deterministic seed
    // assignment, so persisted routed search is bit-identical to the
    // in-memory routed form over the same base
    val memRouted = NnDescent.searchGraphRouted(init,
      NnDescent.buildGraph(init, k = 10, iters = 1), queries,
      k = 5, beam = 20, hops = 3)
    assert(canon(NnDescent.searchIndexRouted(spark, dir, queries, k = 5,
      beam = 20, hops = 3)) == canon(memRouted))

    // append: the routing state grows — the increment's rows are filed
    // under the FROZEN centroids, and a routed probe at an appended
    // vector finds it at rank 1
    NnDescent.appendIndex(spark, extra, dir, "g1", k = 10)
    assert(spark.read.parquet(s"$dir/cells")
      .select(countDistinct(col("vec_id"))).head.getLong(0) == 500)
    val probe = extra.filter(col("vec_id") === 480)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
        col("n2"))
    val foundR = NnDescent.searchIndexRouted(spark, dir, probe, k = 5,
      beam = 20, hops = 3).collect()
    assert(foundR.head.getLong(1) == 480L && foundR.head.getDouble(2) == 1.0)

    // drift verdict: 20 appended rows on a 480-node index is benign —
    // no growth skew, no rebuild flag
    val drift = NnDescent.driftSummary(spark, dir).collect().head
    assert(drift.getAs[Long]("n_appended") == 20L)
    assert(!drift.getAs[Boolean]("rebuild_recommended"),
      s"benign append flagged: $drift")

    // rebuild: every batch folds into init, appended nodes get refined
    // in-edges (in-degree > 0 in the rebuilt DIRECTED graph — appends
    // alone only give them out-edges), and the probe still lands.
    // Run it over a stale crash sentinel: rebuild IS the repair, and
    // the vector corpus must survive (the fold is durable-first —
    // never only in process memory)
    assert(new java.io.File(s"$dir/_building").createNewFile())
    NnDescent.rebuildIndex(spark, dir, k = 10, iters = 1)
    assert(!new java.io.File(s"$dir/_building").exists(),
      "rebuild must clear the sentinel it repaired")
    assert(spark.read.parquet(s"$dir/vectors")
      .select(countDistinct(col("vec_id"))).head.getLong(0) == 500)
    Seq("vectors", "edges", "cells").foreach { c =>
      assert(spark.read.parquet(s"$dir/$c").count() > 0)
      val extraBatches = new java.io.File(s"$dir/$c").listFiles()
        .map(_.getName)
        .count(n => n.startsWith("batch=") && n != "batch=init")
      assert(extraBatches == 0, s"$c not folded to batch=init")
    }
    val inDeg = spark.read.parquet(s"$dir/edges")
      .filter(col("dst") >= 480).count()
    assert(inDeg > 0, "rebuilt graph gives appended nodes refined in-edges")
    val foundAfter = NnDescent.searchIndexRouted(spark, dir, probe, k = 5,
      beam = 20, hops = 3).collect()
    assert(foundAfter.head.getLong(1) == 480L &&
      foundAfter.head.getDouble(2) == 1.0)
    // the fold resets the drift baseline: everything is init again
    val after = NnDescent.driftSummary(spark, dir).collect().head
    assert(after.getAs[Long]("n_appended") == 0L &&
      !after.getAs[Boolean]("rebuild_recommended"))
  }

  test("graph drift: a same-batch-blind heavy append sags routed recall, " +
      "edge staleness flags it, the aside-rebuild restores it") {
    import spark.implicits._
    val init = base.localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("nnd_drift").toString
    try {
      NnDescent.writeIndex(init, dir, k = 10, iters = 2)
      val fresh = NnDescent.driftSummary(spark, dir).collect().head
      assert(!fresh.getAs[Boolean]("rebuild_recommended"))

      // the heavy append: a 200-member RANDOM-WALK filament seeded at
      // the first two stored centroids' midpoint — consecutive members
      // are true near-dups, distant members decorrelate (no single
      // funnel direction an init vector could serve), and the whole
      // walk lands in ONE batch, so no member gets an edge to any
      // other (insert-time search sees only the pre-batch graph).
      // Exactly the population append-only growth is blind against.
      val cents = spark.read.parquet(s"$dir/centroids").orderBy("c_id")
        .collect()
      def embOf(r: org.apache.spark.sql.Row) = r.getSeq[Float](1).toArray
      def norm(v: Array[Float]) = {
        val n = math.sqrt(v.map(x => x.toDouble * x).sum)
        v.map(x => (x / n).toFloat)
      }
      val mid = norm(embOf(cents(0)).zip(embOf(cents(1)))
        .map { case (a, b) => a + b })
      def mix(a: Long): Long = {
        var z = a * 0x9E3779B97F4A7C15L
        z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L
        z ^= (z >>> 27); z *= 0x94D049BB133111EBL
        z ^ (z >>> 31)
      }
      val walk = Iterator.iterate((mid, 0)) { case (v, j) =>
        val step = v.indices.toArray.map(i =>
          ((mix(j * 64L + i) % 2000001L) / 1000000.0f - 1f) * 0.12f)
        (norm(v.indices.toArray.map(i => v(i) + step(i))), j + 1)
      }.take(200).map(_._1).toArray
      def withN2(df: DataFrame): DataFrame =
        df.select(col("vec_id"), col("embedding"),
          VectorExpressions.dotProduct(col("embedding"), col("embedding"))
            .as("n2"))
      val famDf = withN2((0 until 200).map(j => (10000L + j, walk(j).toSeq))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding")))
        .localCheckpoint(true)
      NnDescent.appendIndex(spark, famDf, dir, "a1", k = 10)

      // the thermometer: sampled appended nodes' stored best edge sits
      // far below their exact best neighbor (their walk sibling at
      // ~0.99 vs the best init vector at ~0.4 — measured 0.44 gap),
      // and the verdict fires on staleness ALONE (quantizer thresholds
      // disabled) — the graph-side signal, not the cell-growth one
      val stale = NnDescent.edgeStaleness(spark, dir).collect().head
      assert(stale.getAs[Long]("n_appended_sampled") == 200L)
      assert(stale.getAs[Double]("staleness") > 0.3,
        s"walk append must read stale: $stale")
      val drifted = NnDescent.driftSummary(spark, dir,
        growthMax = 1e9, residRatioMax = 1e9).collect().head
      assert(drifted.getAs[Boolean]("rebuild_recommended"),
        s"staleness alone must recommend the rebuild: $drifted")

      // recall really sags: queries are walk members at offset ids,
      // truth their walk neighbors — unreachable without member-to-
      // member edges at the tight budget (measured 0.42 drifted vs
      // 0.98 rebuilt; generous margins)
      val queries = withN2(
        (20 until 190 by 8).map(j => (90000L + j, walk(j).toSeq))
          .toDF("vec_id", "embedding")
          .select(col("vec_id"),
            col("embedding").cast("array<float>").as("embedding")))
        .localCheckpoint(true)
      val grown = init.unionByName(famDf).localCheckpoint(true)
      val truth = VectorOps.knn(
          grown.select(col("vec_id"), col("embedding")),
          queries.select(col("vec_id"), col("embedding")), 5)
        .select(col("q_id"), col("vec_id")).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => (q, rs.map(_.getLong(1)).toSet) }
      def recall(res: DataFrame): Double = {
        val got = res.select(col("q_id"), col("vec_id")).collect()
          .groupBy(_.getLong(0))
          .map { case (q, rs) => (q, rs.map(_.getLong(1)).toSet) }
        val r = truth.map { case (q, t) =>
          got.getOrElse(q, Set.empty[Long]).count(t.contains).toDouble / t.size }
        r.sum / r.size
      }
      def routedRecall(): Double =
        recall(NnDescent.searchIndexRouted(spark, dir, queries, k = 5,
          beam = 12, hops = 2, nprobe = 2, hubsPerCell = 4))
      val sagged = routedRecall()
      assert(sagged <= 0.6, s"drifted routed recall $sagged should sag")

      // the wired cure: watch → rebuild (zero-downtime aside) → verify
      assert(NnDescent.maybeRebuildAside(spark, dir, k = 10, iters = 2),
        "flagged index must rebuild")
      val restored = routedRecall()
      assert(restored >= 0.9,
        s"rebuilt routed recall $restored must restore (was $sagged)")
      val after = NnDescent.driftSummary(spark, dir).collect().head
      assert(!after.getAs[Boolean]("rebuild_recommended"))
      // idempotent watch: a healthy index is left untouched
      assert(!NnDescent.maybeRebuildAside(spark, dir, k = 10, iters = 2))
      // and the one-stop health view carries the drift section
      val infoRows = NnDescent.indexInfoWithDrift(spark, dir)
        .filter(col("section") === "drift").collect()
        .map(r => (r.getString(2), r.getString(3))).toMap
      assert(infoRows("rebuild_recommended") == "false")
      assert(infoRows.contains("staleness"))
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
