package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{Tables, TextOps}

/** The `graft.Main curate` CLI surface: argument contract, end-to-end run,
  * resume (only missing verdicts re-emitted), and the durable-state path.
  */
class CliCurateSpec extends AnyFunSuite with SparkSessionFixture {

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // --- parse: the exit-code-2 surface (main prints usage and exits 2 on
  // --- IllegalArgumentException — same dispatch as the extract CLI)

  test("parse: positional args + flags") {
    val cfg = CurateCli.parse(Seq("in.parquet", "out", "--state", "s",
      "--jaccard", "0.7", "--normalize-hash", "--no-resume", "--num-cpus", "4"))
    assert(cfg == CurateCli.Config("in.parquet", "out", Some("s"), 0.7,
      segmentWidth = None, normalizeHash = true, resume = false,
      numCpus = Some(4)))
    assert(CurateCli.parse(Seq("a", "b", "--segment-width", "6"))
      .segmentWidth == Some(6))
    assert(!CurateCli.parse(Seq("a", "b")).normalizeHash,
      "normalized hashing must be opt-in")
  }

  test("parse: malformed input throws with a usable message") {
    for (bad <- Seq(
        Seq("only_one"),
        Seq("a", "b", "c"),
        Seq("a", "b", "--jaccard", "nope"),
        Seq("a", "b", "--jaccard", "1.5"),
        Seq("a", "b", "--num-cpus", "0"),
        Seq("a", "b", "--state"),
        Seq("a", "b", "--segment-width", "0"),
        Seq("a", "b", "--segment-width", "8", "--state", "s"),
        Seq("a", "b", "--containment-max-postings", "5"),
        Seq("a", "b", "--frobnicate")))
      intercept[IllegalArgumentException](CurateCli.parse(bad))
  }

  /** (name, size) of every file in `dir` — a no-op rerun must leave it
    * byte-for-byte alone, not rewrite the same rows. */
  private def listing(dir: String): Seq[(String, Long)] =
    new java.io.File(dir).listFiles.map(f => f.getName -> f.length).toSeq.sorted

  // the plain pipeline and the containment one (whose stage-1–3 trunk
  // is materialized) share the CLI's one-cut tail
  for (cn <- Seq(None, Some(0.8))) {
    val flag = cn.fold("")(t => s" (--containment $t)")
    val curateCfg = graft.queries.CurateConfig(containmentThreshold = cn)

    test("end-to-end run == curateOn; rerun on complete output writes nothing" + flag) {
      val docs = Tables.t(spark, Sf0001, "documents")
      val in = tmp("cli_in")
      val out = s"${tmp("cli_out")}/verdicts"
      docs.write.mode("overwrite").parquet(in)
      val n = CurateCli.run(spark, CurateCli.Config(in, out, containment = cn))
      assert(n == docs.count())
      val got = spark.read.parquet(out)
      assert(got.count() == n)
      assert(got.orderBy(col("doc_id")).collect().toSeq ==
        TextOps.curateOn(docs, curateCfg).collect().toSeq)
      // complete output + resume on: nothing to do, and nothing touched
      val before = listing(out)
      assert(CurateCli.run(spark, CurateCli.Config(in, out, containment = cn)) == 0L)
      assert(listing(out) == before, "a no-op resume must not write")
    }

    test("resume: an interrupted run's rerun emits ONLY the missing verdicts" + flag) {
      val docs = Tables.t(spark, Sf0001, "documents")
      val in = tmp("cli_rin")
      val out = s"${tmp("cli_rout")}/verdicts"
      docs.write.mode("overwrite").parquet(in)
      // the interruption: half the verdicts made it out
      TextOps.curateOn(docs, curateCfg).filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(out)
      val before = spark.read.parquet(out).count()
      val n = CurateCli.run(spark, CurateCli.Config(in, out, containment = cn))
      assert(n == docs.filter(col("doc_id") % 2 === 1).count(),
        "resume must emit exactly the missing half")
      // the union equals the full pipeline, no duplicates, and the
      // returned count is exactly what the append added
      val got = spark.read.parquet(out)
      assert(got.count() - before == n)
      assert(got.count() == docs.count())
      assert(got.select(col("doc_id")).distinct().count() == docs.count())
      assert(got.orderBy(col("doc_id")).collect().toSeq ==
        TextOps.curateOn(docs, curateCfg).collect().toSeq)
    }
  }

  test("a fresh run over an empty corpus still writes its (empty) output") {
    val in = tmp("cli_ein")
    val out = s"${tmp("cli_eout")}/verdicts"
    Tables.t(spark, Sf0001, "documents").limit(0)
      .write.mode("overwrite").parquet(in)
    assert(CurateCli.run(spark, CurateCli.Config(in, out)) == 0L)
    assert(new java.io.File(s"$out/_SUCCESS").exists(),
      "a fresh run writes even when it has no verdicts")
    assert(spark.read.parquet(out).count() == 0L)
  }

  test("--containment parses, validates its range, and runs the stage") {
    val c = CurateCli.parse(Seq("in.parquet", "outdir", "--containment", "0.8"))
    assert(c.containment.contains(0.8))
    intercept[IllegalArgumentException] {
      CurateCli.parse(Seq("in.parquet", "outdir", "--containment", "1.5"))
    }
    intercept[IllegalArgumentException] {
      CurateCli.parse(Seq("in.parquet", "outdir", "--containment", "x"))
    }
    val docs = Tables.t(spark, Sf0001, "documents")
    val in = tmp("cli_cn_in")
    val out = s"${tmp("cli_cn_out")}/verdicts"
    docs.write.mode("overwrite").parquet(in)
    CurateCli.run(spark, CurateCli.Config(in, out, containment = Some(0.8)))
    val got = spark.read.parquet(out)
    assert(got.filter(col("drop_reason") === "contained_dup").count() ==
      TextOps.curateOn(docs,
        graft.queries.CurateConfig(containmentThreshold = Some(0.8)))
        .filter(col("drop_reason") === "contained_dup").count())
  }

  test("--media parses repeatably and runs the multi-media batch stage") {
    // parser: repeatable COL:KIND, order preserved
    assert(CurateCli.parse(Seq("a", "b", "--media", "img:image",
        "--media", "aud:audio")).media ==
      Seq("img" -> "image", "aud" -> "audio"))
    for (bad <- Seq(
        Seq("a", "b", "--media"),            // missing value
        Seq("a", "b", "--media", "imgonly"), // no colon
        Seq("a", "b", "--media", ":image"),  // empty column
        Seq("a", "b", "--media", "img:")))   // empty kind
      intercept[IllegalArgumentException](CurateCli.parse(bad))
    // duplicate kinds refuse at CurateConfig construction (run time)
    intercept[IllegalArgumentException] {
      CurateCli.run(spark, CurateCli.Config("x", "y",
        media = Seq("a" -> "image", "b" -> "image")))
    }

    // e2e: an image column with one planted cross-doc duplicate — the
    // dup drops as media_dup through the CLI path, verdicts otherwise
    // equal the plain run
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
    val docs = Tables.t(spark, Sf0001, "documents")
      // doc 0 and doc 1 share an image; everyone else distinct-ish
      .withColumn("img", when(col("doc_id") <= 1, lit(img(0)))
        .otherwise(lit(img(1))))
    val in = tmp("cli_mm_in")
    val out = s"${tmp("cli_mm_out")}/verdicts"
    docs.write.mode("overwrite").parquet(in)
    val n = CurateCli.run(spark,
      CurateCli.Config(in, out, media = Seq("img" -> "image")))
    assert(n == docs.count())
    val verdicts = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[String]("drop_reason"))).toMap
    // docs 2+ all share img(1): the whole cluster keeps ONE best member,
    // so media_dup fires; the planted 0/1 pair also collapses (whichever
    // of each cluster survives depends on keep-best) — just pin that the
    // stage ran and dropped media dups the plain run keeps
    val plainKept = TextOps.curateOn(
      Tables.t(spark, Sf0001, "documents")).filter(col("kept")).count()
    val mmKept = verdicts.values.count(_.isEmpty)
    assert(verdicts.values.flatten.exists(_ == "media_dup"),
      "the CLI media stage must have dropped at least one media dup")
    assert(mmKept < plainKept,
      s"media stage must reduce keepers: $mmKept vs $plainKept")
  }

  test("--segment-width runs the composed pipeline") {
    val docs = Tables.t(spark, Sf0001, "documents")
    val in = tmp("cli_seg_in")
    val out = s"${tmp("cli_seg_out")}/verdicts"
    docs.write.mode("overwrite").parquet(in)
    val cfg = CurateCli.parse(Seq(in, out, "--segment-width", "8"))
    assert(CurateCli.run(spark, cfg) == docs.count())
    val got = spark.read.parquet(out)
    assert(got.filter(col("drop_reason") === "segment_dup").count() > 0,
      "the fixture's full copies must drop as segment_dup")
    val want = TextOps.curateOn(docs,
      graft.queries.CurateConfig(segmentDedupWidth = Some(8)))
    assert(got.orderBy(col("doc_id")).collect().toSeq.map(_.toString) ==
      want.collect().toSeq.map(_.toString))
  }

  test("resume composes with --segment-width: delta-only, union == composed run") {
    val docs = Tables.t(spark, Sf0001, "documents")
    val in = tmp("cli_srin")
    val out = s"${tmp("cli_srout")}/verdicts"
    docs.write.mode("overwrite").parquet(in)
    val composedCfg = graft.queries.CurateConfig(segmentDedupWidth = Some(8))
    TextOps.curateOn(docs, composedCfg).filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(out)
    val cfg = CurateCli.parse(Seq(in, out, "--segment-width", "8"))
    assert(CurateCli.run(spark, cfg) ==
      docs.filter(col("doc_id") % 2 === 1).count(),
      "resume must emit exactly the missing half of the composed run")
    val got = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    val want = TextOps.curateOn(docs, composedCfg).collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(got == want, "resumed union must equal the full composed run")
  }

  test("durable state: first run builds it, a new 'session' reuses it for resume") {
    val docs = Tables.t(spark, Sf0001, "documents")
    val in = tmp("cli_sin")
    val state = tmp("cli_state")
    val out = s"${tmp("cli_sout")}/verdicts"
    docs.write.mode("overwrite").parquet(in)
    val n = CurateCli.run(spark, CurateCli.Config(in, out, Some(state)))
    assert(n == docs.count())
    assert(new java.io.File(s"$state/index/bands").exists())
    assert(new java.io.File(s"$state/labels").exists())
    assert(new java.io.File(s"$state/reasons").exists())
    // "restart": drop half the output; the state-backed resume fills in
    // exactly the other half, bit-identical to the persisted reasons
    val full = spark.read.parquet(out).cache()
    full.count()
    full.filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(out)
    val n2 = CurateCli.run(spark, CurateCli.Config(in, out, Some(state)))
    assert(n2 == docs.count() - full.filter(col("doc_id") % 2 === 0).count())
    assert(spark.read.parquet(out).count() == docs.count())
    full.unpersist()
  }
}
