package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.queries._

/** Algebraic laws over the contract operators (SURVEY.md §5.2.3) plus the
  * exactness proof-by-test of the [[Det.avg4]] scheme. Property cases are
  * drawn from ScalaCheck generators with a fixed seed (the scalatestplus
  * bridge is not in the offline cache).
  */
class LawsSpec extends AnyFunSuite with SparkSessionFixture {

  test("avg4 equals BigDecimal HALF_UP average on random positive groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 200 groups x up to 40 members of positive "money" doubles
    val rows = for {
      g <- 0 until 200
      _ <- 0 until (1 + rnd.nextInt(40))
    } yield (g, math.rint(rnd.nextDouble() * 1e8) / 1e4 + 0.0001)
    val df = rows.toDF("g", "x")
    val got = df.groupBy($"g")
      .agg(Det.avg4(sum(Det.moneyInt($"x")), count(lit(1))).as("a"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    rows.groupBy(_._1).foreach { case (g, members) =>
      val xs = members.map(_._2)
      val sumInt = xs.map(x => BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .*(BigDecimal(10000)).toLongExact).sum
      val expect = (BigDecimal(sumInt) / BigDecimal(xs.size * 10000L))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(g) == expect, s"group $g: got ${got(g)} expect $expect")
    }
  }

  test("avg4Big matches avg4 in-range and is exact past the Long bound") {
    import spark.implicits._
    // in range: identical to avg4
    val small = Seq((1L, 12345678L), (1L, 999L), (2L, 7L)).toDF("g", "s")
      .groupBy($"g")
      .agg(Det.avg4(sum($"s"), count(lit(1))).as("a"),
        Det.avg4Big(sum($"s"), count(lit(1))).as("b"))
      .collect()
    small.foreach(r => assert(r.getDouble(1) == r.getDouble(2)))
    // past the bound: 2*sum overflows Long (avg4 would wrap); avg4Big is
    // exact — sum of two ~2^62 values averaged
    val big = 4611686018427387000L // ~2^62, 4dp-scaled units
    val df = Seq((1L, big), (1L, big)).toDF("g", "s")
      .groupBy($"g").agg(Det.avg4Big(sum($"s"), count(lit(1))).as("b"))
      .collect().head.getDouble(1)
    val expect = (BigDecimal(big) / BigDecimal(10000L))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(df == expect, s"got $df expect $expect")
  }

  test("div6 equals BigDecimal HALF_UP on random integer ratios") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(500)((rnd.nextInt(2000000).toLong, 1L + rnd.nextInt(5000)))
    val got = rows.toDF("a", "b")
      .select(Det.div6($"a", $"b").as("r")).collect().map(_.getDouble(0))
    rows.zip(got).foreach { case ((a, b), r) =>
      val expect = (BigDecimal(a) / BigDecimal(b))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r == expect, s"$a/$b: got $r expect $expect")
    }
  }

  test("semi ⊎ anti partitions the build side") {
    val all = Tables.t(spark, Sf0001, "customer").count()
    // same predicate on both: orders with status F
    val o = Tables.t(spark, Sf0001, "orders").filter(col("o_orderstatus") === "F")
    val c = Tables.t(spark, Sf0001, "customer")
    val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi").count()
    val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti").count()
    assert(semi + anti == all)
  }

  test("except ⊎ intersect partitions the left side (on distinct keys)") {
    val keys = Tables.t(spark, Sf0001, "customer").select(col("c_custkey")).distinct()
    val inCredit = Tables.t(spark, Sf0001, "customer")
      .filter(col("c_acctbal") > 0).select(col("c_custkey")).distinct()
    val n = keys.count()
    assert(keys.except(inCredit).count() + keys.intersect(inCredit).count() == n)
  }

  test("union all is count-additive; union distinct bounded by sum") {
    val p = Relational.unionAll(spark, Sf0001)
    val e = Tables.t(spark, Sf0001, "events")
    val np = e.filter(col("event_type") === "purchase").count()
    val ns = e.filter(col("event_type") === "signup").count()
    assert(p.count() == np + ns)
    assert(Relational.unionDistinct(spark, Sf0001).count() <=
      Tables.t(spark, Sf0001, "orders").count() +
        Tables.t(spark, Sf0001, "customer").count())
  }

  test("exact dedup is idempotent") {
    val once = TextOps.dedupExact(spark, Sf0001)
    val again = once.groupBy(col("digest"))
      .agg(min(col("keeper")).as("keeper"), count(lit(1)).as("n"))
    assert(again.filter(col("n") > 1).count() == 0)
  }

  test("global top-k is the k-prefix of the full sort") {
    val full = Relational.sortMulti(spark, Sf0001) // different keys — use lineitem
    val top = Relational.topkGlobal(spark, Sf0001).collect()
    val sorted = Tables.t(spark, Sf0001, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(50).collect()
    assert(top.toSeq == sorted.toSeq)
    assert(full.count() > 0)
  }

  test("jaccard pairs are symmetric-canonical and within [0,1]") {
    val rows = TextOps.neardupJaccard(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getDouble(3) >= 0.5 && r.getDouble(3) <= 1.0))
  }

  test("leakage-safe split: no exact-jaccard pair straddles a split " +
      "boundary; the per-doc split DOES leak on the same fixture") {
    val pairs = TextOps.neardupJaccard(spark, Sf0001)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val safe = TextOps.splitLeakageSafe(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    pairs.foreach { case (a, b) =>
      assert(safe(a) == safe(b),
        s"near-dup pair ($a, $b) straddles splits ${safe(a)}/${safe(b)}")
    }
    // non-vacuous: the plain per-doc hash split separates at least one
    // near-dup pair on this fixture — the exact leak the cluster-rep
    // split exists to close
    val perDoc = TextOps.sampleSplit(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(pairs.exists { case (a, b) => perDoc(a) != perDoc(b) },
      "fixture no longer demonstrates the per-doc split leak")
  }

  test("budget selection keeps exactly ceil(n*num/den) per source, " +
      "monotone in the fraction") {
    import spark.implicits._
    val scored = TextOps.selectQualityBudget(spark, Sf0001) // contract 1/5
    val docs = Tables.t(spark, Sf0001, "documents")
    val perSource = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept15 = scored.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perSource.foreach { case (src, n) =>
      val expect = (n + 4) / 5 // ceil(n/5)
      assert(kept15.getOrElse(src, 0L) == expect,
        s"source $src: kept ${kept15.getOrElse(src, 0L)}, want $expect of $n")
    }
    // rational form: a 2/3 budget keeps ceil(2n/3) and contains the 1/5
    // selection (same ordering, larger prefix)
    val base = docs.select(col("doc_id"), col("source"),
      (col("doc_id") % 97).cast("double").as("score"))
    val small = TextOps.selectBudgetOn(base, 1, 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val big = TextOps.selectBudgetOn(base, 2, 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(big), "a larger budget must contain the smaller")
    val big23 = TextOps.selectBudgetOn(base, 2, 3).groupBy(col("source"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perSource.foreach { case (src, n) =>
      val expect = (2 * n + 2) / 3 // ceil(2n/3)
      assert(big23(src) == expect, s"source $src 2/3: ${big23(src)} vs $expect")
    }
  }

  test("page fan-out row count equals Σ ceil(n_chars/100)") {
    val docs = Tables.t(spark, Sf0001, "documents")
    val expect = docs.agg(sum(ceil(col("n_chars") / 100.0))).collect()(0).getLong(0)
    assert(Extraction.pageFanout(spark, Sf0001).count() == expect)
  }

  test("resume after full completion leaves zero tasks") {
    val tasks = Extraction.pageFanout(spark, Sf0001)
    val remaining = tasks.join(tasks.withColumnRenamed("doc_id", "d")
        .withColumnRenamed("page", "p"),
      col("doc_id") === col("d") && col("page") === col("p"), "left_anti")
    assert(remaining.count() == 0)
  }

  test("r3 operators: structural laws (unpivot, rolling hash, corr, percentiles, dist windows)") {
    // unpivot doubles the row count (2 value columns)
    val nPart = Tables.t(spark, Sf0001, "part").count()
    assert(Relational.unpivotQ(spark, Sf0001).count() == 2 * nPart)
    // rolling hash stays in [0, 2^31-1) and is total (no null rows)
    val rh = TextOps.fingerprintRolling(spark, Sf0001)
    assert(rh.filter(col("rhash").isNull ||
      col("rhash") < 0 || col("rhash") >= 2147483647L).count() == 0)
    // correlation within [-1, 1]
    assert(Aggregates.aggCorr(spark, Sf0001)
      .filter(abs(col("corr_qty_price")) > 1.0).count() == 0)
    // quartiles are monotone
    assert(Aggregates.aggPercentile(spark, Sf0001)
      .filter(col("q25") > col("q50") || col("q50") > col("q75")).count() == 0)
    // percent_rank/cume_dist in [0,1], cume_dist strictly positive
    assert(Aggregates.winDist(spark, Sf0001)
      .filter(col("pct_rank") < 0 || col("pct_rank") > 1 ||
        col("cume") <= 0 || col("cume") > 1).count() == 0)
  }

  test("sample fraction lands near p and is deterministic per seed") {
    val l = Tables.t(spark, Sf0001, "lineitem")
    val a = l.sample(withReplacement = false, 0.1, seed = 42).count()
    val b = l.sample(withReplacement = false, 0.1, seed = 42).count()
    assert(a == b)
    assert(a > 600 * 0.5 && a < 600 * 2, s"fraction way off: $a of 6000")
  }

  test("map functions: build, keys, element_at (MapType demo, no oracle)") {
    import spark.implicits._
    val df = Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "k", "v")
      .select(col("id"), map_from_arrays(array(col("k")), array(col("v"))).as("m"))
    val rows = df.select(col("id"),
      map_keys(col("m")).getItem(0).as("key0"),
      element_at(col("m"), lit("a")).as("va")) // element_at on map, 'a' key
      .orderBy("id").collect()
    assert(rows(0).getString(1) == "a" && rows(0).getInt(2) == 10)
    assert(rows(1).getString(1) == "b" && rows(1).isNullAt(2))
  }

  test("connected components: 60-deep chain converges in O(log d) rounds") {
    import spark.implicits._
    // a chain 0-1-2-…-59 has label-propagation distance 59 — the exact shape
    // that silently broke a fixed-cap plain-propagation loop; double
    // pointer jumping must close it in ~log4(60) rounds and label
    // everything 0. The single-jump form took 8 rounds here; the bound
    // pins the round count (= blocking driver actions) from regressing
    val nodes = (0L until 60L).toDF("id")
    val edges = (0L until 59L).map(i => (i, i + 1)).toDF("src", "dst")
    val (labels, rounds) =
      graft.operators.ConnectedComponents.runCounted(nodes, edges)
    assert(rounds <= 6, s"expected ~log4(d) rounds, got $rounds")
    val reps = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps.size == 60 && reps.values.forall(_ == 0L))
  }

  test("connected components: disjoint clusters + isolated nodes; cap failure is loud") {
    import spark.implicits._
    // two triangles {0,1,2} {10,11,12} and isolated nodes 20, 21
    val nodes = Seq(0L, 1L, 2L, 10L, 11L, 12L, 20L, 21L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (10L, 11L), (11L, 12L)).toDF("src", "dst")
    val reps = graft.operators.ConnectedComponents.run(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 21L))
    // a cap too small to converge must throw, never emit partial labels
    val deepNodes = (0L until 40L).toDF("id")
    val deepEdges = (0L until 39L).map(i => (i, i + 1)).toDF("src", "dst")
    assertThrows[IllegalStateException] {
      graft.operators.ConnectedComponents.run(deepNodes, deepEdges, maxRounds = 2)
    }
    // empty graph (a corpus with no dup pairs): empty result, no failure
    val none = spark.emptyDataset[Long].toDF("id")
    val noEdges = spark.emptyDataset[(Long, Long)].toDF("src", "dst")
    assert(graft.operators.ConnectedComponents.run(none, noEdges).count() == 0)
  }

  test("connected components: local finish ≡ distributed loop on the pair graph") {
    import spark.implicits._
    // chain + triangle + isolated pair + a late edge merging 777 into the
    // chain's component — shapes that exercise cross-component unions
    val pairs = ((0L until 29L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L),
        (200L, 201L), (777L, 5L))).toDF("src", "dst")
    val local = graft.operators.ConnectedComponents.runOnPairs(pairs)
    // under the gate the labels are a LocalRelation: exact known size,
    // so every downstream corpus join plans as a broadcast
    assert(local.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.nonEmpty, "local finish must return a LocalRelation label table")
    val dist = graft.operators.ConnectedComponents
      .runOnPairs(pairs, localFinishMaxPairs = 0)
    val lm = local.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dm = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lm == dm, "local finish diverged from the distributed loop")
    assert(lm(777L) == 0L && lm(102L) == 100L && lm(201L) == 200L)
  }

  test("connected components: mergeLabels ≡ full re-cluster on the union") {
    import spark.implicits._
    val p1 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("src", "dst")
    // p2 bridges {1,2,3} with {10,11}, adds a fresh cluster {30,31},
    // and leaves {20,21} untouched — the three incremental cases
    val p2 = Seq((3L, 10L), (30L, 31L)).toDF("src", "dst")
    val cc = graft.operators.ConnectedComponents
    val inc = cc.mergeLabels(cc.runOnPairs(p1), p2)
    val full = cc.runOnPairs(p1.union(p2))
    assert(inc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      full.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      "incremental merge diverged from full re-clustering")
    val m = inc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(11L) == 1L, "bridged cluster must adopt the global min rep")
    assert(m(31L) == 30L && m(21L) == 20L)
  }

  test("property: mergeLabels ≡ full re-cluster on random pair graphs") {
    import spark.implicits._
    // random graphs over a small id space force heavy component overlap
    // between the two batches — bridges, absorptions, and fresh clusters
    // all occur across the seeds
    // filter-free generator (a suchThat can exhaust retries): src in
    // 0..40, dst = src + 1..20 — distinct by construction
    val genPairs = Gen.nonEmptyListOf(for {
      a <- Gen.chooseNum(0L, 40L)
      d <- Gen.chooseNum(1L, 20L)
    } yield (a, a + d))
    val cc = graft.operators.ConnectedComponents
    (0 until 4).foreach { i =>
      val p1s = genPairs(Gen.Parameters.default, Seed(i.toLong)).get
      val p2s = genPairs(Gen.Parameters.default, Seed(1000L + i)).get
      val p1 = p1s.toDF("src", "dst")
      val p2 = p2s.toDF("src", "dst")
      val inc = cc.mergeLabels(cc.runOnPairs(p1), p2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = cc.runOnPairs(p1.union(p2))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(inc == full, s"seed $i: p1=$p1s p2=$p2s")
    }
  }

  test("connected components: durable-checkpoint mode = same labels, same rounds") {
    import spark.implicits._
    val nodes = (0L until 60L).toDF("id")
    val edges = (0L until 59L).map(i => (i, i + 1)).toDF("src", "dst")
    val posture = graft.operators.Materialize.ConfKey
    // reliable mode refuses to start without a durable checkpoint dir —
    // Spark's own failure would otherwise surface mid-round-1 as an
    // opaque SparkException from deep inside the first cut()
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      spark.conf.set(posture, "reliable")
      val err =
        try intercept[IllegalArgumentException] {
          graft.operators.ConnectedComponents.run(nodes, edges)
        } finally spark.conf.unset(posture)
      assert(err.getMessage.contains("checkpoint dir"))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      // the loop is mode-agnostic by construction (only cut() differs);
      // pin that durable blocks change neither the labels nor the number
      // of blocking rounds (the expensive resource the algorithm manages)
      val (local, lr) = graft.operators.ConnectedComponents
        .runCounted(nodes, edges)
      spark.conf.set(posture, "reliable")
      val (durable, dr) =
        try graft.operators.ConnectedComponents.runCounted(nodes, edges)
        finally spark.conf.unset(posture)
      assert(dr == lr, s"durable mode took $dr rounds vs local $lr")
      // the session posture really reached the loop: the returned labels
      // are backed by a durable checkpoint file, not executor blocks
      assert(org.apache.spark.sql.graft.CheckpointStats
        .checkpointFile(durable).isDefined,
        "reliable posture must cut CC rounds with durable checkpoints")
      val lm = local.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dm = durable.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dm == lm)
      assert(dm.values.forall(_ == 0L))
      // the durable blocks really went to the configured dir
      assert(new java.io.File(dir).listFiles != null &&
        new java.io.File(dir).listFiles.nonEmpty,
        "durable mode must write RDD checkpoints under the checkpoint dir")
      // superseded rounds are deleted as they go: live rdd-* checkpoints
      // stay O(1) (edges + final labels), not O(rounds) — at 100 TB one
      // label-table copy per round fills the checkpoint store mid-job
      val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("rdd-"))
        .count()
      assert(rddDirs <= 3,
        s"expected O(1) live checkpoints (edges + final labels), found $rddDirs")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("r7 ops: keep-best dominance, bounded ratios, vote consistency") {
    // keep-best: the keeper really is the longest member of its near-dup
    // cluster (ties to min doc_id) — recompute the policy per cluster
    // from the cluster labels + lengths independently of the aggregate
    val lens = Tables.t(spark, Sf0001, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val members = TextOps.dedupCluster(spark, Sf0001).collect()
      .groupBy(_.getLong(1)).map { case (rep, rows) => rep -> rows.map(_.getLong(0)) }
    val kept = TextOps.dedupKeepBest(spark, Sf0001).collect()
    assert(kept.map(_.getLong(0)).toSet == members.keySet)
    kept.foreach { r =>
      val (rep, keeper, chars, n) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val ms = members(rep)
      assert(ms.length == n && ms.contains(keeper))
      val mx = ms.map(lens).max
      assert(chars == mx, s"cluster $rep: keeper_chars $chars != member max $mx")
      assert(keeper == ms.filter(lens(_) == mx).min,
        s"cluster $rep: keeper $keeper is not the min-id longest member")
    }
    assert(kept.map(_.getLong(3)).sum == 500, "members must partition the corpus")
    // the policy is non-vacuous on the fixture: some cluster keeps a
    // member that is NOT its min-id label (longer copy wins)
    assert(kept.exists(r => r.getLong(1) != r.getLong(0)),
      "fixture has no cluster where the longest member differs from the label — policy untested")
    // repetition ratio: distinct <= total, fraction in [0,1] (or null on
    // sub-shingle docs)
    TextOps.repetitionRatio(spark, Sf0001).collect().foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      if (!r.isNullAt(3)) assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // domain mix: doc counts partition the corpus; shares sum to ~1
    val mix = TextOps.domainMix(spark, Sf0001).collect()
    assert(mix.map(_.getLong(1)).sum == 500)
    val shareSum = mix.map(_.getDouble(3)).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares sum to $shareSum")
    // knn label: the vote really is the neighbor-label mode (tie -> min)
    val nbLabels = Tables.t(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val topk = graft.queries.VectorOps.knnBruteforce(spark, Sf0001).collect()
      .groupBy(_.getLong(0)).map { case (q, rows) =>
        val counts = rows.map(r => nbLabels(r.getLong(1)).toLong)
          .groupBy(identity).map { case (l, v) => l -> v.length }
        val bestVotes = counts.values.max
        q -> (counts.filter(_._2 == bestVotes).keys.min, bestVotes.toLong)
      }
    graft.queries.VectorOps.knnLabel(spark, Sf0001).collect().foreach { r =>
      assert(topk(r.getLong(0)) == (r.getLong(1), r.getLong(2)),
        s"q ${r.getLong(0)}: engine vote (${r.getLong(1)}, ${r.getLong(2)}) " +
          s"vs recomputed ${topk(r.getLong(0))}")
    }
  }

  test("curation pipeline: reasons partition the corpus, survivors clean") {
    val rows = TextOps.curate(spark, Sf0001).collect()
    assert(rows.length == 500)
    val kept = rows.filter(_.getBoolean(1)).map(_.getLong(0)).toSet
    // kept <=> no drop_reason; dropped rows carry exactly one first-stage reason
    rows.foreach(r => assert(r.getBoolean(1) == r.isNullAt(2)))
    val reasons = rows.filter(!_.isNullAt(2)).groupBy(_.getString(2))
      .map { case (k, v) => k -> v.length }
    assert(reasons.keySet.subsetOf(
      Set("quality", "exact_dup", "near_dup", "decontaminated")))
    assert(reasons.getOrElse("quality", 0) > 0, "fixture must exercise the gate")
    assert(reasons.getOrElse("near_dup", 0) > 0, "fixture must exercise near-dup drops")
    assert(kept.nonEmpty)
    // survivors pass the quality gate
    val pass = TextOps.qualityGopher(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(6)).toMap
    kept.foreach(id => assert(pass(id) == 1L, s"survivor $id fails gopher"))
    // at most one survivor per near-dup cluster
    val rep = TextOps.dedupCluster(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perCluster = kept.groupBy(rep)
    perCluster.foreach { case (c, m) =>
      assert(m.size == 1, s"cluster $c kept ${m.size} members: $m")
    }
    // no survivor is contaminated
    val contam = TextOps.decontaminate(spark, Sf0001)
      .filter(col("contaminated")).collect().map(_.getLong(0)).toSet
    assert(kept.intersect(contam).isEmpty)
  }

  test("curation on a planted corpus: every stage fires; contaminated keeper cannot doom its cluster") {
    import spark.implicits._
    // the fixture has no exact dups and no contaminated survivor, so
    // stages 2 and 4 would otherwise be vacuously green — plant a corpus
    // that exercises every reason, including the ordering hazard: a
    // contaminated doc that is the LONGEST member of its near-dup
    // cluster must not win keep-best and doom the cluster's clean copy
    def bucket(id: Long): Long = ((id % 1000003L) * 2654435761L % 1000003L) % 10L
    val trainIds = (0L until 200L).filter(bucket(_) < 8L)
    val testIds = (0L until 200L).filter(bucket(_) >= 9L)
    val Seq(qf, p1, p2, t) = trainIds.take(4).toSeq
    val c = testIds.head
    def doc(id: Long, text: String) = (id, text, "en", "planted", text.length.toLong)
    val pairText = (1 to 40).map(i => f"pw$i%02d").mkString(" ")
    val tWords = (1 to 43).map(i => f"tw$i%02d")
    val rows = Seq(
      doc(qf, "too short to pass"),                    // fails the Gopher gate
      doc(p1, pairText), doc(p2, pairText),            // exact dups, both quality-ok
      doc(t, tWords.mkString(" ")),                    // clean train doc
      // C ⊃ T's shingles (41 of its 51 -> contaminated) and LONGER than T
      doc(c, (tWords ++ (1 to 10).map(i => f"cx$i%02d")).mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft-curate").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = TextOps.curate(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), Option(r.getString(2)))).toMap
    assert(got(qf) == (false, Some("quality")))
    assert(got(math.max(p1, p2)) == (false, Some("exact_dup")))
    assert(got(math.min(p1, p2)) == (true, None))
    assert(got(c) == (false, Some("decontaminated")),
      s"contaminated doc $c: ${got(c)}")
    // the ordering pin: T shares a J>=0.5 cluster with the longer,
    // contaminated C; decontamination runs BEFORE keep-best, so T survives
    assert(got(t) == (true, None), s"clean cluster member $t: ${got(t)}")
  }

  test("SQL-surface views re-register when the sf dir changes in one session") {
    // regression: the view cache must key on the CURRENT dir, not on
    // (session, dir) ever-seen — otherwise switching back silently
    // serves the other dir's data
    val first = Relational.sqlQ3(spark, Sf0001).collect().map(_.toSeq).toSeq
    val other = Relational.sqlQ3(spark, Sf001).collect().map(_.toSeq).toSeq
    val back = Relational.sqlQ3(spark, Sf0001).collect().map(_.toSeq).toSeq
    assert(first != other, "different SFs must differ (fixture sanity)")
    assert(back == first, "returning to a previously-used dir must re-register views")
  }

  test("sessionize rows aggregate to stream_session's per-session counts") {
    // the row-level assignment and the session_window aggregate must
    // describe the same sessions: counts per (user, k-th session) match
    val rows = EventOps.sessionize(spark, Sf0001)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("user_id"), col("session_seq"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val agg = EventOps.streamSession(spark, Sf0001)
      .orderBy(col("user_id"), col("session_start_us"))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(rows.nonEmpty && rows == agg)
  }

  test("pack_chunks invariants: offsets tile the token stream, chunks ordered") {
    val rows = TextOps.packChunks(spark, Sf0001)
      .orderBy(col("doc_id")).collect()
    assert(rows.nonEmpty)
    var expectOff = 0L
    rows.foreach { r =>
      val (n, off, cf, cl) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(off == expectOff, s"doc ${r.getLong(0)}: offset $off != $expectOff")
      assert(cf <= cl && cf == off / 2048 && cl == (off + n - 1) / 2048)
      expectOff += n
    }
  }

  test("vec_quantize: q8 in [-127,127], dequantization error within half a step") {
    val rows = VectorOps
      .quantizeVectors(Tables.t(spark, Sf0001, "embeddings"))
      .orderBy(col("vec_id")).limit(50).collect()
    val embs = Tables.t(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding")).limit(50)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getDouble(1)
      val q = r.getSeq[Int](2)
      assert(q.forall(v => v >= -127 && v <= 127))
      val x = embs(r.getLong(0))
      q.zip(x).foreach { case (qi, xi) =>
        assert(math.abs(qi * scale / 127.0 - xi) <= scale / 254.0 + 1e-9,
          s"vec ${r.getLong(0)}: q=$qi x=$xi scale=$scale")
      }
    }
  }

  test("vec_quantize digests are consistent with the engine's q8 arrays") {
    val digests = VectorOps.vecQuantize(spark, Sf0001).limit(50).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val full = VectorOps
      .quantizeVectors(Tables.t(spark, Sf0001, "embeddings"))
      .orderBy(col("vec_id")).limit(50).collect()
    assert(full.nonEmpty)
    full.foreach { r =>
      val (scaleE4, sum, wsum) = digests(r.getLong(0))
      val q = r.getSeq[Int](2)
      assert(scaleE4 == math.floor(r.getDouble(1) * 10000.0 + 0.5).toLong)
      assert(sum == q.map(_.toLong).sum)
      assert(wsum == q.zipWithIndex.map { case (v, i) => v.toLong * (i + 1) }.sum)
    }
  }

  test("distributed prefix sum equals the single-partition global window") {
    import graft.operators.PrefixSum
    val li = Tables.t(spark, Sf0001, "lineitem")
      .select(col("l_orderkey") * 100 + col("l_linenumber")).toDF("k")
      .withColumn("v", (col("k") % 7) + 1)
    val scalable = PrefixSum.withRunningSum(li, "k", "v", "run", numParts = 8)
      .select(col("k"), col("run"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val naive = li.withColumn("run", sum(col("v")).over(w))
      .select(col("k"), col("run"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scalable.nonEmpty && scalable == naive)
    // result is partition-count independent
    val other = PrefixSum.withRunningSum(li, "k", "v", "run", numParts = 3)
      .select(col("k"), col("run"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(other == naive)
  }

  test("sampleDiverse: deterministic, quota-exact per cell, covers every cell") {
    import org.apache.spark.sql.graft.VectorExpressions
    import graft.operators.Ivf
    val emb = Tables.t(spark, Sf001, "embeddings")
    val s1 = VectorOps.sampleDiverse(spark, Sf001).collect().map(_.toString)
    val s2 = VectorOps.sampleDiverse(spark, Sf001).collect().map(_.toString)
    assert(s1.nonEmpty && s1.toSeq == s2.toSeq, "hash-order pick must be deterministic")
    // per-cell count == min(perCell, cell size) against the same
    // train/assign the operator runs, and every non-empty cell appears
    val base = emb.select(col("vec_id"), col("embedding"),
      VectorExpressions.dotProduct(col("embedding"), col("embedding")).as("n2"))
    val cellSizes = Ivf.assign(base, Ivf.train(base, 16, 2))
      .groupBy(col("cell")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sample = VectorOps.sampleDiverse(spark, Sf001)
    val got = sample.groupBy(col("cell")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == cellSizes.keySet, "every non-empty cell must be sampled")
    got.foreach { case (cell, n) =>
      assert(n == math.min(8L, cellSizes(cell)), s"cell $cell quota: $n")
    }
    // ranks are dense 1..quota, ids come from the corpus
    val ids = emb.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val rows = sample.collect()
    assert(rows.forall(r => ids.contains(r.getLong(0))))
    assert(rows.groupBy(_.getLong(1)).values.forall { cellRows =>
      cellRows.map(_.getLong(2)).sorted.toSeq == (1L to cellRows.length).toSeq
    })
  }

  test("searchHybrid: fused set ⊆ pool union, rrf9 recomputes from ranks, " +
      "param refusal") {
    val docs = Tables.t(spark, Sf001, "documents")
    val embs = Tables.t(spark, Sf001, "embeddings")
    val fused = TextOps.searchHybridOn(docs, embs).collect()
    assert(fused.length == 20)
    fused.foreach { r =>
      val (rl, rs) = (Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]))
      assert(rl.nonEmpty || rs.nonEmpty, "a fused doc must come from a pool")
      assert(rl.forall(x => x >= 1 && x <= 50) && rs.forall(x => x >= 1 && x <= 50))
      val expect = rl.map(x => 1000000000L / (x + 60)).getOrElse(0L) +
        rs.map(x => 1000000000L / (x + 60)).getOrElse(0L)
      assert(r.getLong(3) == expect, s"rrf9 must recompute from ranks: $r")
    }
    // fused scores are emitted in non-increasing order (doc_id tiebreak)
    assert(fused.map(_.getLong(3)).sliding(2).forall(p => p(0) >= p(1)))
    intercept[IllegalArgumentException] {
      TextOps.searchHybridOn(docs, embs, k = 60, pool = 50)
    }
    // an absent query row must refuse, not silently degrade to
    // lexical-only; a duplicated one must refuse, not multiply the pool
    intercept[IllegalArgumentException] {
      TextOps.searchHybridOn(docs, embs, queryId = -1L)
    }
    intercept[IllegalArgumentException] {
      TextOps.searchHybridOn(docs,
        embs.unionByName(embs.filter(col("vec_id") === 0)))
    }
  }

  test("searchHybridRouted: the indexed semantic backend fuses like the " +
      "exact one — identical lexical ranks, high fused overlap") {
    import graft.operators.NnDescent
    val docs = Tables.t(spark, Sf0001, "documents")
    val embs = Tables.t(spark, Sf0001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("hyb_idx").toString
    try {
      val base = embs.select(col("vec_id"), col("embedding"),
        org.apache.spark.sql.graft.VectorExpressions
          .dotProduct(col("embedding"), col("embedding")).as("n2"))
      NnDescent.writeIndex(base, dir, k = 10, iters = 2)
      val exact = TextOps.searchHybridOn(docs, embs).collect()
      val routed = TextOps.searchHybridRouted(spark, docs, embs, dir,
        beam = 30, hops = 4).collect()
      assert(routed.length == 20)
      // the semantic pool is pool-deep, not beam-capped: a tiny beam
      // auto-raises to pool, so beam=5 and beam=pool fuse identically
      // (before the raise, beam=5 silently starved the pool at 6 rows)
      val tiny = TextOps.searchHybridRouted(spark, docs, embs, dir,
        beam = 5, hops = 4).collect()
      val atPool = TextOps.searchHybridRouted(spark, docs, embs, dir,
        beam = 50, hops = 4).collect()
      assert(tiny.map(_.toString).toSeq == atPool.map(_.toString).toSeq,
        "beam below pool must auto-raise, not starve the semantic pool")
      // lexical side is byte-identical machinery: every fused row that
      // carries an r_lex must carry the same r_lex as the exact form
      val exactLex = exact.filter(!_.isNullAt(1))
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      routed.filter(!_.isNullAt(1)).foreach { r =>
        exactLex.get(r.getLong(0)).foreach(rl => assert(rl == r.getLong(1),
          s"lexical rank drifted for doc ${r.getLong(0)}"))
      }
      // fused top-20 overlap: the ANN pool approximates the exact pool
      val overlap = routed.map(_.getLong(0)).toSet
        .intersect(exact.map(_.getLong(0)).toSet).size
      assert(overlap >= 16, s"fused overlap $overlap/20 too low")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("sourceOverlap: bounded by the smaller side, containment in (0,1], " +
      "relabel-invariant") {
    val docs = Tables.t(spark, Sf001, "documents")
    val m = TextOps.sourceOverlapOn(docs).collect()
    assert(m.nonEmpty, "fixture window overlap must be dense at sf0.001")
    // the materialized (scan-once, engine default) and stateless
    // (contract-pinned) plans are bit-identical in output — the
    // checkpoint is a cost decision, never a semantic one
    assert(TextOps.sourceOverlapOn(docs, materialize = false).collect()
      .map(_.toString).toSeq == m.map(_.toString).toSeq)
    m.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pairs are ordered once")
      assert(r.getLong(2) >= 1)
      val c = r.getDouble(3)
      assert(c > 0.0 && c <= 1.0, s"containment out of range: $r")
    }
    // bijective source relabeling permutes rows but preserves the matrix
    val relabeled = TextOps.sourceOverlapOn(
      docs.withColumn("source", concat(lit("z_"), col("source"))))
      .collect()
      .map(r => (r.getString(0).stripPrefix("z_"),
        r.getString(1).stripPrefix("z_"), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(relabeled == m.map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet)
  }

  test("vecCentroidAssign: planted well-separated clusters recover a " +
      "diagonal confusion matrix; counts conserve the corpus") {
    import spark.implicits._
    // 3 clusters at axis-aligned far-apart centers, tight noise
    val rows = for (lbl <- 0 until 3; i <- 0 until 20) yield {
      val base = Array.fill(8)(0.0f)
      base(lbl) = 10.0f
      // deterministic per-row jitter, well under the separation
      base(7) = (((lbl * 20 + i) * 2654435761L % 100) / 1000.0).toFloat
      (lbl * 20 + i).toLong -> (base, lbl)
    }
    val df = rows.map { case (id, (e, l)) => (id, e.toSeq, l) }
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
    val conf = VectorOps.vecCentroidAssignOn(df).collect()
    assert(conf.map(_.getLong(2)).sum == 60, "every vector assigned exactly once")
    conf.foreach { r =>
      assert(r.getLong(0) == r.getLong(1),
        s"well-separated cluster must self-assign: $r")
      assert(r.getLong(2) == 20)
    }
    // label values carry NO range assumption (the struct tiebreak):
    // shifting every label by 5000 shifts the diagonal and nothing else
    val shifted = VectorOps.vecCentroidAssignOn(
      df.withColumn("label", col("label") + lit(5000))).collect()
    assert(shifted.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      == conf.map(r => (r.getLong(0) + 5000, r.getLong(1) + 5000,
        r.getLong(2))).toSet, "confusion matrix must be label-shift-covariant")
    // a null-component embedding is excluded from assignment (and from
    // the centroids), matching the SQL mirror's explicit filter
    val dirty = df.withColumn("embedding",
      when(col("vec_id") === 0L,
        array((lit(null).cast("float") +: (1 to 7).map(_ => lit(0.0f))): _*))
        .otherwise(col("embedding")))
    val confD = VectorOps.vecCentroidAssignOn(dirty).collect()
    assert(confD.map(_.getLong(2)).sum == 59,
      "the dirty vector must be excluded, not null-assigned")
    // a DIMENSION-MISMATCHED vector is excluded like a null one (r15
    // advice): dotProductLong nulls on a length mismatch and the
    // struct-min sorts a null key first, so without the modal-dim
    // filter a ragged vector lands on an arbitrary centroid while the
    // SQL mirror's pos-join computes a partial d² — silent divergence
    val ragged = df.withColumn("embedding",
      when(col("vec_id") === 0L,
        array((1 to 7).map(_ => lit(0.5f)): _*).cast("array<float>"))
        .otherwise(col("embedding")))
    val confR = VectorOps.vecCentroidAssignOn(ragged).collect()
    assert(confR.map(_.getLong(2)).sum == 59,
      "a ragged-dim vector must be excluded, not arbitrarily assigned")
  }

  test("neardupContainment: catches the truncated copy symmetric jaccard " +
      "misses; dominates jaccard pairwise") {
    import spark.implicits._
    // doc 2 = the first 6 tokens of doc 1 (4 of 38 shingles: J ≈ 0.1,
    // containment 1.0) — the excerpt/re-post shape the operator exists for
    val full = (1 to 40).map(i => s"tok$i").mkString(" ")
    val excerpt = (1 to 6).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, full), (2L, excerpt)).toDF("doc_id", "text")
    val contained = TextOps.neardupContainmentOn(docs, 0.8).collect()
    assert(contained.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 1L)), "exactly the excerpt→original direction")
    assert(contained.head.getDouble(4) == 1.0)
    assert(TextOps.neardupJaccardAt(docs, 0.5).count() == 0,
      "symmetric jaccard at 0.5 must miss the truncation")
    // dominance on the fixture: for every jaccard pair, the small-side
    // containment ≥ jaccard (inter/min ≥ inter/union)
    val fx = Tables.t(spark, Sf0001, "documents")
    val jac = TextOps.neardupJaccardAt(fx, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val cont = TextOps.neardupContainmentOn(fx, 0.5)
      .collect()
      .groupBy(r => { val a = r.getLong(0); val b = r.getLong(1)
        (math.min(a, b), math.max(a, b)) })
      .view.mapValues(_.map(_.getDouble(4)).max).toMap
    assert(jac.nonEmpty)
    jac.foreach { case (pair, j) =>
      assert(cont.getOrElse(pair, 0.0) >= j,
        s"containment must dominate jaccard on $pair")
    }
  }

  test("noveltyCurve: new-window counts conserve the distinct-window " +
      "total; a replayed tranche has zero novelty") {
    import spark.implicits._
    val docs = Tables.t(spark, Sf0001, "documents")
    val curve = TextOps.noveltyCurveOn(docs).collect()
    // materialized (engine default) == stateless (contract-pinned)
    assert(TextOps.noveltyCurveOn(docs, materialize = false).collect()
      .map(_.toString).toSeq == curve.map(_.toString).toSeq)
    val wDistinct = docs.select(col("doc_id"), explode(
      org.apache.spark.sql.graft.ShingleExpressions.ngrams(col("text"), 8,
        distinct = true)).as("win"))
      .select(col("win")).distinct().count()
    assert(curve.map(_.getLong(2)).sum == wDistinct,
      "every distinct window is new in exactly one bucket")
    curve.foreach(r => assert(r.getLong(2) <= r.getLong(1) &&
      r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
    // replay: append the first 50 docs again under later ids — the
    // replayed bucket introduces nothing new
    val replay = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    val curve2 = TextOps.noveltyCurveOn(
      docs.select(col("doc_id"), col("text")).unionByName(replay)).collect()
    val replayBucket = curve2.find(_.getLong(0) == 200L).get
    assert(replayBucket.getLong(2) == 0L && replayBucket.getDouble(3) == 0.0,
      s"replayed tranche must be zero-novelty: $replayBucket")
  }

  test("curate marker trunk: containment verdicts are identical whether " +
      "the stage-1–3 marker frame is cut or left lazy") {
    import spark.implicits._
    // planted: an original, its exact copy, a case variant (folded by
    // normalizeForHash), a near copy (every 12th token edited: J ≈ 0.64,
    // containment ≈ 0.78 < 0.8), an excerpt (its first 50 tokens), a
    // fresh doc and a gate failure. Ids sit in train buckets, so the
    // decontamination markers stay empty and every dup reason fires.
    def toks(r: Seq[Int]) = r.map(i => f"word$i%04d").mkString(" ")
    val orig = toks(1 to 70)
    val near = toks((1 to 70).map(i => if (i % 12 == 0) 9000 + i else i))
    val planted = Seq(2L -> orig, 3L -> orig, 4L -> orig.toUpperCase,
        6L -> near, 7L -> toks(1 to 50), 8L -> toks(200 to 280),
        9L -> "too short to pass")
      .map { case (id, t) => (id, t, t.length.toLong) }
      .toDF("doc_id", "text", "n_chars")
    val cfg = CurateConfig(containmentThreshold = Some(0.8),
      normalizeForHash = true)
    val posture = graft.operators.Materialize.ConfKey
    def verdicts(docs: org.apache.spark.sql.DataFrame, mode: String) = {
      spark.conf.set(posture, mode)
      try TextOps.curateOn(docs, cfg).collect().toSeq
      finally spark.conf.unset(posture)
    }
    for (docs <- Seq(Tables.t(spark, Sf0001, "documents"), planted))
      assert(verdicts(docs, "local") == verdicts(docs, "lazy"),
        "the marker-frame cut must be plan-only")
    val reasons = verdicts(planted, "local")
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(reasons == Map(2L -> None, 3L -> Some("exact_dup"),
      4L -> Some("exact_dup"), 6L -> Some("near_dup"),
      7L -> Some("contained_dup"), 8L -> None, 9L -> Some("quality")),
      s"planted corpus must fire every dup marker: $reasons")
  }

  test("curate containment stage: a true excerpt drops as contained_dup " +
      "where the plain pipeline keeps it; upstream-dropped containers " +
      "shield nothing away; fixture kept-set parity") {
    import spark.implicits._
    // container: 70 distinct 8-char tokens (passes every gate rule);
    // excerpt: its first 32 tokens — containment 1.0 while
    // J = 30/68 ≈ 0.44 < 0.5, the excerpt shape jaccard can't see
    def toks(r: Range) = r.map(i => f"word$i%04d").mkString(" ")
    val container = toks(1 to 70)
    val excerpt = toks(1 to 32)
    val mk = (id: Long, t: String) => (id, t, t.length.toLong)
    val docs = Seq(mk(1L, container), mk(2L, excerpt),
        mk(3L, toks(100 to 170)))
      .toDF("doc_id", "text", "n_chars")
    val cfg = CurateConfig(containmentThreshold = Some(0.8))
    val withStage = TextOps.curateOn(docs, cfg).collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(withStage(2L).contains("contained_dup"),
      s"the excerpt must drop as contained_dup: $withStage")
    assert(withStage(1L).isEmpty && withStage(3L).isEmpty)
    val plain = TextOps.curateOn(docs).collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(plain(2L).isEmpty,
      s"J < 0.5 must hide the excerpt from the plain pipeline: $plain")
    // shielding: when the CONTAINER fails the quality gate, the excerpt
    // is the only surviving copy and must be kept. The failing container
    // REPEATS the real container's tokens (×3 → distinct ratio 1/3 <
    // 1/2 → quality) so it still FULLY contains the excerpt's shingles
    // (containment 1.0) — a regression that judges pairs against the
    // raw corpus instead of the stage-3 survivors is caught here, which
    // a vocabulary-disjoint low-quality doc would not catch (r15
    // session-2 review)
    val repeatedContainer = (1 to 3).map(_ => container).mkString(" ")
    val shortContainer = Seq(mk(1L, repeatedContainer),
        mk(2L, excerpt), mk(3L, toks(100 to 170)))
      .toDF("doc_id", "text", "n_chars")
    assert(TextOps.neardupContainmentOn(
        shortContainer.select(col("doc_id"), col("text")), 0.8)
      .filter(col("contained") === 2L && col("container") === 1L).count() == 1,
      "fixture sanity: the raw corpus DOES contain the excerpt pair")
    val shielded = TextOps.curateOn(shortContainer, cfg).collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(shielded(1L).contains("quality") && shielded(2L).isEmpty,
      s"an upstream-dropped container must not take its excerpt down: $shielded")
    // fixture parity: every fixture containment pair is also a same-
    // keeper near-dup, so the KEPT set is unchanged — only reasons
    // upgrade (a fixture property the composition relies on for its
    // keeper semantics, pinned so a fixture regen that breaks it is
    // seen here, not in a verdict)
    val fx = Tables.t(spark, Sf0001, "documents")
    def keptSet(c: CurateConfig) = TextOps.curateOn(fx, c).filter(col("kept"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(keptSet(cfg) == keptSet(CurateConfig()))
    // doc_id ≥ 10⁹: the directional better rule compares (n_chars,
    // −doc_id) as a STRUCT, not the arg_max family's injective BIGINT
    // encoding (nc·10⁹ − id), which inverts once the id gap exceeds
    // (nc gap)·10⁹ (r15 advice; the encoding's domain note lives on
    // CurateConfig). Adversarial shape: the container is ~340 chars
    // longer but carries id 4·10¹¹, so its encoded score 629·10⁹ −
    // 4·10¹¹ ≈ 229·10⁹ falls BELOW the excerpt's 287·10⁹ − 1 — the
    // encoding would keep the excerpt; the struct order drops it.
    // testBucketsFrom = 10 disables the decontamination stage, whose
    // id-hash bucketing would otherwise see the excerpt's shingles as
    // train/test contamination under these synthetic ids.
    val bigIdCfg = cfg.copy(testBucketsFrom = 10L)
    val bigId = Seq(mk(400000000000L, container), mk(1L, excerpt),
        mk(3L, toks(100 to 170)))
      .toDF("doc_id", "text", "n_chars")
    val bigIdReasons = TextOps.curateOn(bigId, bigIdCfg).collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(bigIdReasons(1L).contains("contained_dup"),
      s"the excerpt must drop past the 10⁹ id boundary: $bigIdReasons")
    assert(bigIdReasons(400000000000L).isEmpty,
      s"the longer huge-id container must be kept: $bigIdReasons")
    // …and the AGGREGATING keeper edges (near-dup keep-best, one max
    // over the (n_chars, −doc_id) struct since r16) carry the same
    // order: with the containment stage OFF, a J ≥ 0.5 near-dup pair
    // whose LONGER member has id 4·10¹¹ keeps the longer one — the
    // former injective encoding docked the huge id ~400 chars' worth
    // of score and silently kept the SHORTER copy
    val ndBig = Seq(mk(400000000000L, container + " word9999"),
        mk(1L, container), mk(3L, toks(100 to 170)))
      .toDF("doc_id", "text", "n_chars")
    val ndReasons = TextOps.curateOn(ndBig,
        CurateConfig(testBucketsFrom = 10L)).collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(ndReasons(1L).contains("near_dup") &&
      ndReasons(400000000000L).isEmpty,
      s"keep-best must keep the longer huge-id member: $ndReasons")
  }

  test("property: containment pairs match a brute-force set-arithmetic " +
      "reference on random corpora") {
    import spark.implicits._
    // small random corpora with planted structure: shared vocab chunks
    // force overlaps, varying lengths force asymmetric containment
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val vocab = (0 until 40).map(i => f"v${trial}t$i%02d")
      val docs = (0 until 12).map { id =>
        val len = 5 + rnd.nextInt(30)
        val start = rnd.nextInt(vocab.size - 4)
        // a contiguous vocab run (shared across docs) + a unique tail
        val toks = vocab.slice(start, math.min(start + len, vocab.size)) ++
          (0 until rnd.nextInt(6)).map(j => s"u${trial}_${id}_$j")
        (id.toLong, toks.mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val got = TextOps.neardupContainmentOn(df, 0.5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // brute force: distinct 3-shingle sets in plain Scala
      def sh(t: String): Set[String] = {
        val w = t.split(" ")
        if (w.length < 3) Set.empty
        else (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
      }
      val sets = docs.map { case (id, t) => id -> sh(t) }.toMap
      val want = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
        if a != b && sa.nonEmpty
        inter = (sa intersect sb).size
        if BigDecimal(inter.toDouble / sa.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP) >= BigDecimal("0.5")
        if inter > 0
      } yield (a, b, inter.toLong, sa.size.toLong)).toSet
      assert(got == want, s"trial $trial: got ${got.size}, want ${want.size}")
    }
  }

  test("property: the cross-batch containment probe (all three forms) " +
      "matches a brute-force reference on random stored/batch splits") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 3) {
      val vocab = (0 until 40).map(i => f"p${trial}t$i%02d")
      val corpus = (0 until 14).map { id =>
        val len = 5 + rnd.nextInt(30)
        val start = rnd.nextInt(vocab.size - 4)
        val toks = vocab.slice(start, math.min(start + len, vocab.size)) ++
          (0 until rnd.nextInt(6)).map(j => s"u${trial}_${id}_$j")
        (id.toLong, toks.mkString(" "))
      }
      // even ids are the STORED keepers (full postings), odd the batch
      val (storedDocs, batchDocs) = corpus.partition(_._1 % 2 == 0)
      def sh(t: String): Set[String] = {
        val w = t.split(" ")
        if (w.length < 3) Set.empty
        else (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
      }
      val want = (for {
        (bid, bt) <- batchDocs; sb = sh(bt); if sb.nonEmpty
        (sid, st) <- storedDocs
        inter = (sb intersect sh(st)).size
        if BigDecimal(inter.toDouble / sb.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP) >= BigDecimal("0.5")
      } yield (bid, sid)).toSet
      val e = TextOps.hashedShingles(
        batchDocs.toDF("doc_id", "text")).localCheckpoint(true)
      val stored = TextOps.hashedShingles(
          storedDocs.toDF("doc_id", "text"))
        .select(col("key").as("h"), col("doc_id").as("doc"))
        .localCheckpoint(true)
      def got(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got(TextOps.crossContainmentPairs(e, stored, 0.5)) == want,
        s"trial $trial window-guard form diverged from brute force")
      assert(got(TextOps.crossContainmentPairsPrefixRarest(e, stored, 0.5))
          == want,
        s"trial $trial rarest-prefix form diverged from brute force")
      // hot-route hybrid at a TINY cap: most shingles go over-cap, so
      // nearly every batch doc routes through the rarest-prefix branch —
      // the r17 exactness claim (hybrid ≡ ungated direct join) under
      // randomized corpora
      assert(got(TextOps.crossContainmentPairs(e, stored, 0.5,
        maxPostings = 2)) == want,
        s"trial $trial window-guard HYBRID diverged from brute force")
    }
  }

  test("noveltyDelta: replayed content reads 0, fresh reads 1, the as-of " +
      "probe reproduces the pre-admit answer read-only") {
    val docs = Tables.t(spark, Sf0001, "documents")
    val dir = java.nio.file.Files.createTempDirectory("novelty_idx").toString
    try {
      val idx = s"$dir/idx"
      def half(i: Int) = docs.filter(col("doc_id") % 2 === i)
        .select(col("doc_id"), col("text"))
      TextOps.segmentDedupDelta(spark, idx, half(0), width = 8, tag = "t0")
      // t1's novelty, asked BEFORE t1 is admitted
      val before = TextOps.noveltyDelta(spark, idx, half(1), 8).collect()(0)
      assert(before.getLong(0) > 0 && before.getDouble(2) > 0.0)
      TextOps.segmentDedupDelta(spark, idx, half(1), width = 8, tag = "t1")
      // replayed t0 content under fresh ids: nothing is new
      val replay = TextOps.noveltyDelta(spark, idx,
        half(0).select((col("doc_id") + 10000L).as("doc_id"), col("text")),
        8).collect()(0)
      assert(replay.getLong(1) == 0L && replay.getDouble(2) == 0.0, s"$replay")
      // fresh synthetic content: everything is new
      import spark.implicits._
      val fresh = Seq((1L, (1 to 32).map(i => s"zz$i").mkString(" ")))
        .toDF("doc_id", "text")
      val f = TextOps.noveltyDelta(spark, idx, fresh, 8).collect()(0)
      assert(f.getLong(0) == f.getLong(1) && f.getDouble(2) == 1.0, s"$f")
      // as-of t0 reproduces the pre-admit answer after the live index
      // moved, and writes nothing (read-only probe)
      val asOf = TextOps.noveltyDelta(spark, idx, half(1), 8, asOf = Some("t0"))
        .collect()(0)
      assert(asOf == before, s"as-of $asOf != pre-admit $before")
      // width mismatch refuses (the _params pin), read-only
      intercept[IllegalArgumentException] {
        TextOps.noveltyDelta(spark, idx, fresh, 12)
      }
      val live = TextOps.noveltyDelta(spark, idx, half(1), 8).collect()(0)
      assert(live.getLong(1) == 0L, "t1 is fully seen after its admit")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("property: avg4 on arbitrary small groups matches exact rational HALF_UP") {
    import spark.implicits._
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(1, 99999999).map(_ / 10000.0))
    val cases = (0 until 5).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)))
    assert(cases.nonEmpty)
    cases.foreach { xs =>
      val df = xs.toDF("x")
      val got = df.agg(Det.avg4(sum(Det.moneyInt($"x")), count(lit(1))))
        .collect()(0).getDouble(0)
      val sumInt = xs.map(x => BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .*(BigDecimal(10000)).toLongExact).sum
      val expect = (BigDecimal(sumInt) / BigDecimal(xs.size * 10000L))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got == expect, s"xs=$xs")
    }
  }

  test("property: incremental pairs under a segment rewrite ≡ the direct " +
      "build, with BOTH branches (reused and fresh) non-trivial") {
    import spark.implicits._
    // Planted corpus exercising every changed-status class the r18
    // incremental pair maintenance (jaccardPairsUnderRewrite) partitions
    // on, for width-8 segment rewrite at J >= 0.5:
    //  - shifted twins: doc + one-token-prefix copy — 3-shingle sets are
    //    near-identical (shingles are position-free) but NO width-8
    //    segment aligns (segments are position-fixed), so the rewrite
    //    leaves BOTH byte-identical -> the pair must ride the REUSED
    //    branch;
    //  - boilerplate pairs: two near-identical docs sharing a leading
    //    8-token boilerplate run — the second occurrence loses it, so
    //    both docs come out CHANGED -> their pair must be recomputed on
    //    rewritten text (FRESH branch, changed x changed);
    //  - a doc + its boilerplate-appended variant: the variant loses the
    //    appended run and becomes byte-equal-similar to the original ->
    //    FRESH branch, changed x unchanged;
    //  - exact duplicates: the copy is emptied (every segment seen) and
    //    leaves the survivor frame entirely;
    //  - random filler docs with unique vocab (no pairs, mostly
    //    unchanged) to keep the join honest.
    val rnd = new scala.util.Random(13)
    for (trial <- 0 until 3) {
      def toks(tag: String, n: Int): Seq[String] =
        (0 until n).map(i => s"$tag$i")
      val boiler = toks(s"bp${trial}_", 8)
      var id = -1L
      def nid(): Long = { id += 1; id }
      val docs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      // shifted twins (reused pairs among unchanged docs)
      for (k <- 0 until 3) {
        val body = toks(s"tw${trial}_${k}_", 24 + rnd.nextInt(16))
        docs += ((nid(), body.mkString(" ")))
        docs += ((nid(), (s"shift${trial}_$k" +: body).mkString(" ")))
      }
      // a standalone boilerplate doc: every later aligned occurrence drops
      docs += ((nid(), boiler.mkString(" ")))
      // changed x changed fresh pairs: both docs lose the leading
      // boilerplate segment; the second also carries a one-token shift,
      // so the rewritten survivors (Y vs shift++Y) stay near-identical
      // in shingle space while sharing no aligned segment
      for (k <- 0 until 3) {
        val y = toks(s"bl${trial}_${k}_", 24)
        docs += ((nid(), (boiler ++ y).mkString(" ")))
        docs += ((nid(), (boiler ++ (s"sh${trial}_$k" +: y)).mkString(" ")))
      }
      // changed x unchanged fresh pairs: plain doc (kept verbatim) vs a
      // boilerplate-prefixed shifted copy (loses the boilerplate only)
      for (k <- 0 until 2) {
        val z = toks(s"ap${trial}_${k}_", 32)
        docs += ((nid(), z.mkString(" ")))
        docs += ((nid(), (boiler ++ (s"zz${trial}_$k" +: z)).mkString(" ")))
      }
      // exact duplicate (copy emptied by the rewrite)
      val dupBody = toks(s"dp${trial}_", 16).mkString(" ")
      docs += ((nid(), dupBody)); docs += ((nid(), dupBody))
      // unique filler
      for (k <- 0 until 6)
        docs += ((nid(), toks(s"fl${trial}_${k}_",
          8 + rnd.nextInt(30)).mkString(" ")))
      val raw = docs.toSeq.toDF("doc_id", "text")
        .withColumn("n_chars", length($"text").cast("long"))
      val rw = TextOps.rewriteSegmentsAt(raw, 8)
        .select($"doc_id", $"text").filter(length($"text") > 0)
      val rawPairs = TextOps.neardupJaccardAt(raw, 0.5).localCheckpoint(true)
      def norm(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.select($"d1", $"d2", $"inter", $"jaccard")
          .collect().map(_.toString).sorted.toSeq
      val direct = norm(TextOps.neardupJaccardAt(rw, 0.5))
      val incr = norm(TextOps.jaccardPairsUnderRewrite(raw, rw, rawPairs, 0.5))
      assert(incr == direct,
        s"trial $trial: incremental ${incr.size} != direct ${direct.size}")
      // the fixture must exercise both branches: unchanged-unchanged
      // pairs exist (shifted twins) and changed pairs exist (boilerplate)
      val changed = rw.as("r").join(raw.as("o"), Seq("doc_id"))
        .filter(!($"r.text" <=> $"o.text")).select($"doc_id")
        .collect().map(_.getLong(0)).toSet
      val pairsIds = TextOps.neardupJaccardAt(rw, 0.5)
        .select($"d1", $"d2").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairsIds.exists { case (a, b) =>
        !changed(a) && !changed(b) }, s"trial $trial: no reused-branch pair")
      assert(pairsIds.exists { case (a, b) =>
        changed(a) || changed(b) }, s"trial $trial: no fresh-branch pair")
    }
  }
}
