package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-round quantitative differentials for the no-oracle contract
  * queries. Hash/sketch values are engine-specific, so the driver's
  * DuckDB compare records them as `no_oracle` — this module closes the
  * gap with NUMBERS instead of a bare "runs": each approximate query is
  * measured against its exact in-engine baseline (itself DuckDB-oracled),
  * and Verify writes the result as `containment.json` beside the
  * correctness dump, so recall/precision drift is visible round-over-round
  * rather than only at ScalaTest fixture scale.
  *
  * The laws measured are the ones the scale designs promise:
  *  - LSH/MinHash/SimHash pair finders: verified pairs ⊆ exact pairs at
  *    the same threshold (precision 1.0 by construction — any violation
  *    is a bug, not noise) + recall against the exact pair set;
  *  - cluster variants: every approximate cluster is contained in an
  *    exact cluster (under-merge only) + the fraction of docs whose
  *    representative matches the exact clustering;
  *  - ANN top-k: mean overlap with the brute-force top-k;
  *  - sketches (HLL, KLL): max relative error against the exact value.
  */
object Containment {

  private def ratio(num: Long, den: Long): Double =
    if (den == 0L) 1.0 else num.toDouble / den.toDouble

  private def pairSet(df: DataFrame, c1: String, c2: String): Set[(Long, Long)] =
    df.select(col(c1), col(c2)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** rep-agreement + containment stats of an approximate (id, rep)
    * clustering vs the exact one over the same universe.
    */
  private def clusterStats(approx: DataFrame, exact: DataFrame,
      idCol: String): Seq[(String, Double)] = {
    val j = approx.select(col(idCol), col("rep").as("rep_a"))
      .join(exact.select(col(idCol), col("rep").as("rep_e")), idCol)
    val n = j.count()
    val agree = j.filter(col("rep_a") === col("rep_e")).count()
    // containment: an approx cluster spanning TWO exact clusters would be
    // an over-merge — impossible while verified pairs ⊆ exact pairs
    val overMerged = j.groupBy(col("rep_a"))
      .agg(countDistinct(col("rep_e")).as("ne"))
      .filter(col("ne") > 1).count()
    Seq("rep_agree" -> ratio(agree, n),
      "over_merged_clusters" -> overMerged.toDouble)
  }

  /** Mean per-query overlap of an approximate top-k with the exact one. */
  private def knnOverlap(approx: DataFrame, exact: DataFrame): Double = {
    val hits = approx.select(col("q_id"), col("vec_id"))
      .intersect(exact.select(col("q_id"), col("vec_id"))).count()
    ratio(hits, exact.count())
  }

  def metrics(spark: SparkSession, dir: String): Seq[(String, Seq[(String, Double)])] = {
    import graft.queries.{Aggregates, Tables, TextOps, VectorOps}
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[(String, Double)])]

    // ---- text near-dup: exact Jaccard ≥ 0.5 is the oracled baseline
    val exactJ = pairSet(TextOps.neardupJaccard(spark, dir), "d1", "d2")
    val mh = pairSet(VectorOps.dedupMinhash(spark, dir), "d1", "d2")
    out += "q_dedup_minhash" -> Seq(
      "pairs" -> mh.size.toDouble, "exact_pairs" -> exactJ.size.toDouble,
      "precision" -> ratio((mh & exactJ).size.toLong, mh.size.toLong),
      "recall" -> ratio((mh & exactJ).size.toLong, exactJ.size.toLong))

    // SimHash's hamming ≤ 6 gate is a different similarity than J ≥ 0.5,
    // so only the RECALL of the exact pairs is a containment law here
    // (simhash-only pairs are in-contract, not false positives)
    val sh = pairSet(VectorOps.dedupSimhash(spark, dir), "d1", "d2")
    out += "q_dedup_simhash" -> Seq(
      "pairs" -> sh.size.toDouble,
      "exact_j05_recall" -> ratio((sh & exactJ).size.toLong, exactJ.size.toLong))

    out += "q_dedup_cluster_lsh" -> clusterStats(
      VectorOps.dedupClusterLsh(spark, dir),
      TextOps.dedupCluster(spark, dir), "doc_id")

    // ---- embedding near-dup: exact cosine ≥ 0.35 is the oracled baseline
    val exactC = pairSet(VectorOps.neardupCosine(spark, dir), "v1", "v2")
    val lshC = pairSet(VectorOps.neardupCosineLsh(spark, dir), "v1", "v2")
    out += "q_neardup_cosine_lsh" -> Seq(
      "pairs" -> lshC.size.toDouble, "exact_pairs" -> exactC.size.toDouble,
      "precision" -> ratio((lshC & exactC).size.toLong, lshC.size.toLong),
      "recall" -> ratio((lshC & exactC).size.toLong, exactC.size.toLong))

    out += "q_dedup_semantic" -> clusterStats(
      VectorOps.dedupSemantic(spark, dir),
      VectorOps.dedupClusterCosine(spark, dir), "vec_id")

    // ---- ANN: brute-force top-5 is the oracled baseline
    val bf = VectorOps.knnBruteforce(spark, dir)
    out += "q_knn_lsh" -> Seq("recall_at_5" -> knnOverlap(VectorOps.knnLsh(spark, dir), bf))
    out += "q_knn_ivf" -> Seq("recall_at_5" -> knnOverlap(VectorOps.knnIvf(spark, dir), bf))
    out += "q_knn_pq" -> Seq("recall_at_5" -> knnOverlap(VectorOps.knnPq(spark, dir), bf))
    out += "q_knn_graph" -> Seq("recall_at_5" -> knnOverlap(VectorOps.knnGraph(spark, dir), bf))

    // ---- sketches: max relative error vs the exact aggregate
    val hllErr = {
      val exact = Tables.t(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      Aggregates.aggApprox(spark, dir).join(exact, "l_returnflag")
        .select(max(abs(col("approx_parts") - col("exact_parts")) /
          col("exact_parts")).as("e"))
        .head.getDouble(0)
    }
    out += "q_agg_approx" -> Seq("max_rel_err" -> hllErr)

    val pctErr = {
      val exact = Tables.t(spark, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))").as("qe"))
        .select(col("o_orderstatus"),
          col("qe").getItem(0).as("e25"), col("qe").getItem(1).as("e50"),
          col("qe").getItem(2).as("e75"))
      Aggregates.aggApproxPct(spark, dir).join(exact, "o_orderstatus")
        .select(greatest(
          abs(col("p25") - col("e25")) / col("e25"),
          abs(col("p50") - col("e50")) / col("e50"),
          abs(col("p75") - col("e75")) / col("e75")).as("e"))
        .agg(max(col("e"))).head.getDouble(0)
    }
    out += "q_agg_approx_pct" -> Seq("max_rel_err" -> pctErr)

    val hllMergeErr = {
      val exact = Tables.t(spark, dir, "events")
        .groupBy(unix_micros(date_trunc("week", col("ts"))).as("week_us"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      Aggregates.aggHllMerge(spark, dir).join(exact, "week_us")
        .select(max(abs(col("approx_users") - col("exact_users")) /
          col("exact_users")).as("e"))
        .head.getDouble(0)
    }
    out += "q_agg_hll_merge" -> Seq("max_rel_err" -> hllMergeErr)

    // ---- persisted day-sketch rollup (r12): stored HLL union over the
    // ranged days vs the exact ranged distinct count
    val distinctDaysErr = {
      import graft.queries.EventOps.utcDay
      val events = Tables.t(spark, dir, "events")
      val d0 = java.time.LocalDate.parse(
        events.agg(min(utcDay(col("ts"))).as("d0")).head.getString(0))
      val exact = events
        .filter(utcDay(col("ts")) >= lit(d0.plusDays(7).toString) &&
          utcDay(col("ts")) < lit(d0.plusDays(14).toString))
        .select(countDistinct(col("user_id"))).head.getLong(0)
      val approx = graft.queries.EventOps.distinctDays(spark, dir)
        .head.getLong(0)
      ratio(math.abs(approx - exact), exact)
    }
    out += "q_distinct_days" -> Seq("rel_err" -> distinctDaysErr)

    // ---- diversity sampling: the law is balance, not recall — equal
    // per-cell quotas must flatten the cell distribution (sample max
    // share ≤ corpus max share) while covering every non-empty cell
    val diverse = {
      import graft.operators.Ivf
      val base = Tables.t(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          org.apache.spark.sql.graft.VectorExpressions
            .dotProduct(col("embedding"), col("embedding")).as("n2"))
      val assigned = Ivf.assign(base, Ivf.train(base, 16, 2))
        .select(col("vec_id"), col("cell"))
      val n = assigned.count()
      val corpusMax = assigned.groupBy(col("cell")).count()
        .agg(max(col("count"))).head.getLong(0)
      val sample = VectorOps.sampleDiverse(spark, dir)
      val m = sample.count()
      val sampleMax = sample.groupBy(col("cell")).count()
        .agg(max(col("count"))).head.getLong(0)
      val covered = sample.select(col("cell")).distinct().count()
      val nonEmpty = assigned.select(col("cell")).distinct().count()
      Seq("rows" -> m.toDouble,
        "cells_covered" -> ratio(covered, nonEmpty),
        "max_cell_share_corpus" -> ratio(corpusMax, n),
        "max_cell_share_sample" -> ratio(sampleMax, m))
    }
    out += "q_sample_diverse" -> diverse

    out.toSeq
  }

  /** Render [[metrics]] as one JSON object keyed by query name. */
  def toJson(m: Seq[(String, Seq[(String, Double)])]): String =
    m.map { case (name, kvs) =>
      "\"" + name + "\": {" + kvs.map { case (k, v) =>
        "\"" + k + "\": " + "%.6f".formatLocal(java.util.Locale.ROOT, v)
      }.mkString(", ") + "}"
    }.mkString("{", ", ", "}")

  /** The STANDING 3-SF gate (r14 verdict task 8): every no-oracle
    * differential at sf0.001 / sf0.01 / sf0.1 in one artifact, keyed
    * query → sf → metrics. The single-SF sweep let the q_knn_graph
    * fixed search budget silently decay to recall 0.48 at sf0.1 through
    * three rounds — recall floors are only floors if they are measured
    * at every scale the fixtures offer, every round.
    *
    * Usage: `sbt "runMain graft.Containment [sfDir ...]"` (defaults to
    * the three driver SFs); writes `CONTAINMENT_SF.json` to the repo
    * root (the round-close snapshot copies it to CONTAINMENT_r{N}.json)
    * and prints it.
    */
  def main(args: Array[String]): Unit = {
    val sfDirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val spark = Session.getOrCreate(Some(Session.cpus))
    val perSf = sfDirs.map { d =>
      val sfName = d.split('/').last
      sfName -> metrics(spark, d).toMap
    }
    // invert to query -> sf -> kvs so a per-query recall floor reads as
    // one adjacent block across scales
    val queries = perSf.flatMap(_._2.keys).distinct
    val json = queries.map { q =>
      "\"" + q + "\": {" + perSf.collect {
        case (sf, m) if m.contains(q) =>
          "\"" + sf + "\": {" + m(q).map { case (k, v) =>
            "\"" + k + "\": " + "%.6f".formatLocal(java.util.Locale.ROOT, v)
          }.mkString(", ") + "}"
      }.mkString(", ") + "}"
    }.mkString("{", ", ", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("CONTAINMENT_SF.json"), json)
    println(json)
    spark.stop()
  }
}
