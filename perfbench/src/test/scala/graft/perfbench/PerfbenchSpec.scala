package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  /** Tests run from the benchmark's directory; the checkout is its parent. */
  private val root = Paths.get("").toAbsolutePath.getParent
  private val work = Paths.get("target", "selftest-work").toAbsolutePath

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = SparkSession.getActiveSession.foreach(_.stop())

  test("generators: a seed names byte-identical inputs, another seed other inputs") {
    val (e1, e2) = (ExtractCorpus.generate(7, docs = 300), ExtractCorpus.generate(7, docs = 300))
    assert(e1.sha256 == e2.sha256)
    assert(ExtractCorpus.generate(8, docs = 300).sha256 != e1.sha256)
    val (c1, c2) = (CurateCorpus.generate(7, docs = 300), CurateCorpus.generate(7, docs = 300))
    assert(c1.sha256 == c2.sha256)
    assert(c1.exactGroups == c2.exactGroups)
    assert(CurateCorpus.generate(8, docs = 300).sha256 != c1.sha256)
  }

  test("generators: every seed gets the same input mix") {
    val es = Seq(1L, 2L, 3L).map(ExtractCorpus.generate(_, docs = 400))
    assert(es.map(e => e.rows(e.base)).distinct.size == 1)
    assert(es.map(_.base.count(_.corrupt)).distinct == Seq(12))
    assert(es.head.grown.size == 40)
    val cs = Seq(1L, 2L, 3L).map(CurateCorpus.generate(_, docs = 400))
    assert(cs.map(_.base.size).distinct == Seq(400))
    assert(cs.forall(_.exactGroups.nonEmpty))
  }

  test("digest: independent of row order and partitioning, sensitive to content") {
    val df = spark.range(0, 500).select(col("id"), (col("id") * 0.25).as("d"),
      concat(lit("s"), col("id").cast("string")).as("s"),
      map(lit("k"), col("id")).as("m"))
    val d = Digest.of(df)
    assert(d.rows == 500)
    assert(Digest.of(df.orderBy(rand(3))) == d)
    assert(Digest.of(df.repartition(7)) == d)
    assert(Digest.of(df.withColumn("d", when(col("id") === 17, 0.5).otherwise(col("d")))) != d)
    assert(Digest.of(df.union(df.limit(1))) != d)
  }

  test("percentile rule: the highest level with ten samples beyond it") {
    assert(Stats.beyond(161, 0.9) == 16)
    assert(Stats.beyond(161, 0.95) == 8)
    assert(Stats.tailLevel(161) == Some(0.9))
    assert(Stats.tailLevel(20) == Some(0.5))
    assert(Stats.tailLevel(18).isEmpty)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 0.9) == 90.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 4.0)) == 2.5)
  }

  private def queriesRun(): Run = {
    Files.createDirectories(work)
    val run = new Run(Main.Args("queries", 1, 1, trace = false, root, work))
    run.setup()
    run
  }

  test("queries: rows whose digests match the pinned ones pass") {
    val run = queriesRun()
    try {
      run.queryRows(Seq("q_join_inner", "q_agg_group"))
      assert(run.attempted == 2 && run.failed == 0)
      assert(run.resultLine.startsWith("""{"correct": true, "attempted": 2, "failed": 0"""))
    } finally run.stop()
  }

  test("queries: a throwing row and a corrupted digest count as failed, never as fast") {
    val run = queriesRun()
    try {
      run.throwRows = Set("q_join_inner")
      run.corruptDigests = Set("q_agg_group")
      run.queryRows(Seq("q_join_inner", "q_agg_group", "q_scan_parquet"))
      assert(run.attempted == 3 && run.failed == 2)
      assert(run.rowLatencies.keySet == Set("q_scan_parquet"))
      assert(run.endToEnd.find(_._1 == "failed_frac").get._2 == 2.0 / 3)
      assert(run.resultLine.startsWith("""{"correct": false, "attempted": 3, "failed": 2"""))
    } finally run.stop()
  }
}
