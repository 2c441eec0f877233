package graft

import org.apache.spark.sql.SparkSession
import graft.extract.{Features, ImageOptions, Pipeline, StubExtractor}

/** CLI entry point (SURVEY.md §3.1 EP1) mirroring the upstream tool's
  * argument surface:
  *
  * {{{
  * graft.Main <inputDir> <out.parquet[.gzip]>
  *   [--features text,image|all]   features to extract (default: text)
  *   [--ocr]                       add the OCR feature
  *   [--lang LANG]                 OCR language (default: eng)
  *   [--image-size WxH]            re-render page images at WxH
  *   [--image-format FMT]          page image format (jpeg when sizing)
  *   [--saving-interval N]         max records per output file (default 1000)
  *   [--num-cpus N]                local parallelism (default: all cores)
  *   [--no-resume]                 ignore existing output, redo everything
  *   [--glob PAT]                  corpus file glob (default *.doc)
  *   [--progress-every N]          report every N-th task (default 1)
  *   [--no-progress]               disable the task-progress reporter
  * }}}
  *
  * An output path ending in `.gzip` selects gzip parquet compression
  * (upstream CLI convention). Resume is ON by default: already-extracted
  * (path, page) rows are anti-joined away, so re-running an interrupted
  * job only does the remaining work.
  */
object Main {

  case class Config(
      in: String = "",
      out: String = "",
      features: Seq[String] = Seq("text"),
      ocr: Boolean = false,
      lang: String = "eng",
      imageSize: Option[String] = None,
      imageFormat: Option[String] = None,
      savingInterval: Int = 1000,
      numCpus: Option[Int] = None,
      resume: Boolean = true,
      glob: String = "*.doc",
      progress: Boolean = true,
      progressEvery: Int = 1)

  val usage: String =
    """usage: graft.Main <inputDir> <out.parquet[.gzip]>
      |  [--features text,image,ocr|all] [--ocr] [--lang LANG]
      |  [--image-size WxH] [--image-format FMT]
      |  [--saving-interval N] [--num-cpus N] [--no-resume] [--glob PAT]
      |  [--progress-every N] [--no-progress]""".stripMargin

  /** Pure argument parser — throws IllegalArgumentException with a usable
    * message on malformed input (tested directly in ExtractionSpec).
    */
  def parse(args: Seq[String]): Config = {
    def intVal(flag: String, v: String): Int =
      try { val n = v.toInt; require(n > 0); n }
      catch { case _: Exception =>
        throw new IllegalArgumentException(s"$flag needs a positive integer, got '$v'") }
    var cfg = Config()
    val pos = scala.collection.mutable.ListBuffer[String]()
    var rest = args.toList
    def take(flag: String): String = rest match {
      case v :: t if !v.startsWith("--") => rest = t; v
      case _ => throw new IllegalArgumentException(s"$flag needs a value")
    }
    while (rest.nonEmpty) {
      val head = rest.head
      rest = rest.tail
      head match {
        case "--features" => cfg = cfg.copy(features =
          take("--features").split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        case "--ocr" => cfg = cfg.copy(ocr = true)
        case "--lang" => cfg = cfg.copy(lang = take("--lang"))
        case "--image-size" => cfg = cfg.copy(imageSize = Some(take("--image-size")))
        case "--image-format" => cfg = cfg.copy(imageFormat = Some(take("--image-format")))
        case "--saving-interval" =>
          cfg = cfg.copy(savingInterval = intVal("--saving-interval", take("--saving-interval")))
        case "--num-cpus" => cfg = cfg.copy(numCpus = Some(intVal("--num-cpus", take("--num-cpus"))))
        case "--no-resume" => cfg = cfg.copy(resume = false)
        case "--glob" => cfg = cfg.copy(glob = take("--glob"))
        case "--progress-every" =>
          cfg = cfg.copy(progressEvery = intVal("--progress-every", take("--progress-every")))
        case "--no-progress" => cfg = cfg.copy(progress = false)
        case f if f.startsWith("--") =>
          throw new IllegalArgumentException(s"unknown flag: $f")
        case p => pos += p
      }
    }
    if (pos.size != 2)
      throw new IllegalArgumentException(
        s"expected exactly <inputDir> <outPath>, got ${pos.size} positional args")
    // validate eagerly so errors surface before any Spark work
    ImageOptions.parse(cfg.imageSize, cfg.imageFormat)
    cfg.copy(in = pos(0), out = pos(1))
  }

  /** Resolved feature list — delegates to [[Features.expand]], the single
    * owner of the `all` / `--ocr` policy.
    */
  def featureNames(cfg: Config): Seq[String] =
    Features.expand(cfg.features, cfg.ocr)

  /** Drive the pipeline on an existing session (the testable core). */
  def run(spark: SparkSession, cfg: Config): Unit =
    Pipeline.extractToParquet(spark,
      Pipeline.corpus(spark, cfg.in, cfg.glob), cfg.out,
      features = featureNames(cfg), extractor = StubExtractor,
      chunkRecords = cfg.savingInterval, doResume = cfg.resume,
      ocrLang = cfg.lang,
      imageOpts = ImageOptions.parse(cfg.imageSize, cfg.imageFormat),
      progress = if (cfg.progress)
        Some(graft.extract.ProgressListener.stderr) else None,
      progressEvery = cfg.progressEvery)

  def main(args: Array[String]): Unit = {
    // subcommand dispatch: `graft.Main curate …` is the curation CLI
    // ([[CurateCli]]); everything else is the historical extract surface
    if (args.headOption.contains("curate")) return CurateCli.main(args.tail)
    val cfg =
      try parse(args.toSeq)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(e.getMessage)
          System.err.println(usage)
          sys.exit(2)
      }
    val spark = Session.getOrCreate(cfg.numCpus, "graft-extract", pinPartitions = false)
    try run(spark, cfg)
    finally spark.stop()
  }
}
