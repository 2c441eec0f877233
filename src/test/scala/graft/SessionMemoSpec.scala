package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CorpusCount, SessionMemo}
import graft.queries.{Tables, TextOps, VectorOps}

/** Pins [[graft.operators.SessionMemo]]'s lifecycle: entries follow the
  * input files (a rewrite mid-session rebuilds instead of serving the
  * old answer), die with their session in every family, and no other
  * main source keeps a per-session map of its own.
  */
class SessionMemoSpec extends AnyFunSuite with SparkSessionFixture {

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** Overwrite `dir/name.parquet` (a single file) with `df` as one file. */
  private def overwrite(dir: Path, name: String, df: DataFrame): Unit = {
    val out = Files.createTempDirectory("memo_rewrite")
    df.coalesce(1).write.mode("overwrite").parquet(out.resolve("t").toString)
    val part = Files.list(out.resolve("t")).iterator()
    val file = Iterator.continually(part.next())
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(file, dir.resolve(s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }

  test("rewriting the files under a dir mid-session rebuilds every memo " +
      "that reads them") {
    val dir = Files.createTempDirectory("memo_sf")
    try {
      Files.list(Paths.get(Sf0001)).forEach(f =>
        Files.copy(f, dir.resolve(f.getFileName)))
      val d = dir.toString
      val before = canon(TextOps.neardupJaccard(spark, d))
      TextOps.curate(spark, d).count()
      val nVec = CorpusCount.of(Tables.t(spark, d, "embeddings"))
      val nDoc = Tables.t(spark, d, "documents").count()
      // drop every third doc: each pair through a dropped doc vanishes
      val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      overwrite(dir, "documents", docs.filter(col("doc_id") % 3 =!= 0))
      overwrite(dir, "embeddings",
        spark.read.parquet(s"$Sf0001/embeddings.parquet")
          .filter(col("vec_id") % 2 === 0))
      val fresh = spark.read.parquet(s"$d/documents.parquet")
      val pairs = canon(TextOps.neardupJaccard(spark, d))
      assert(pairs == canon(TextOps.neardupJaccardAt(fresh, 0.5)))
      assert(pairs != before, "the rewrite must change the pair set")
      assert(canon(TextOps.curate(spark, d)) ==
        canon(TextOps.curateReasonsOn(fresh)))
      val vecs = spark.read.parquet(s"$d/embeddings.parquet").count()
      assert(vecs < nVec)
      assert(CorpusCount.of(Tables.t(spark, d, "embeddings")) == vecs)
      val n = fresh.count()
      assert(n < nDoc)
      assert(Tables.t(spark, d, "documents").count() == n)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("purge drops a stopped session's entries from every family and " +
      "keeps the live session's") {
    def warmAll(s: org.apache.spark.sql.SparkSession): Unit =
      (TextOps.warmFamilies(s, Sf0001) ++ VectorOps.warmFamilies(s, Sf0001))
        .foreach { case (_, thunk) => thunk() }
    warmAll(spark)
    val other = spark.newSession()
    warmAll(other)
    val kept = SessionMemo.sizes(spark)
    val built = SessionMemo.sizes(other)
    built.foreach { case (family, n) =>
      assert(n > 0, s"the warm pass built no $family entry")
      assert(kept(family) > 0, s"the suite session has no $family entry")
    }
    SessionMemo.purge(_ ne other)
    assert(SessionMemo.sizes(other).values.forall(_ == 0),
      s"entries of the purged session survive: ${SessionMemo.sizes(other)}")
    assert(SessionMemo.sizes(spark) == kept,
      "purging another session must keep the live session's entries")
  }

  test("no main source but SessionMemo keys a ConcurrentHashMap by " +
      "SparkSession") {
    val main = Paths.get("src/main/scala")
    val offenders = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => !p.endsWith("graft/operators/SessionMemo.scala"))
      .filter(p => "ConcurrentHashMap\\s*\\[\\s*\\(?\\s*SparkSession".r
        .findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
      .map(p => main.relativize(p).toString).toList
    assert(main.toFile.isDirectory, s"run from the repo root: $main missing")
    assert(offenders.isEmpty,
      s"per-session memo maps outside SessionMemo: $offenders — add a " +
        "SessionMemo.family instead")
  }
}
