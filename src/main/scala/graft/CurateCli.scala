package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.{CurateConfig, TextOps}

/** `graft.Main curate` — the composed curation pipeline (quality gate →
  * exact dedup → decontamination → near-dup keep-best, [[TextOps.curateOn]])
  * as an end-to-end CLI run over a documents parquet, with the same
  * resume discipline as the extraction CLI: an interrupted run re-executed
  * with the same arguments emits ONLY the missing verdicts.
  *
  * {{{
  * graft.Main curate <documents.parquet> <outDir>
  *   [--state DIR]   durable curation state (index/labels/reasons). Built
  *                   on first use, REUSED afterwards: later runs and
  *                   resumes read the persisted labels instead of
  *                   re-shingling the corpus ([[TextOps.writeCurateState]]).
  *   [--jaccard T]   near-dup cluster threshold (default 0.5)
  *   [--segment-width N] run corpus-wide segment (paragraph) dedup as the
  *                   leading stage (width-N token segments; later stages
  *                   see the rewritten text, fully-boilerplate docs drop
  *                   as segment_dup). Incompatible with --state: durable
  *                   state stores raw-text labels, the stage needs
  *                   rewritten-text labels.
  *   [--containment T] containment-dedup stage: a survivor
  *                   whose 3-shingle set is ≥ T contained in a better
  *                   survivor drops as contained_dup BEFORE the
  *                   symmetric near-dup stage — the excerpt/truncation
  *                   pass ([[graft.queries.CurateConfig]] doc)
  *   [--containment-max-postings N] per-shingle postings cap of the
  *                   STREAMING containment stage's hot-shingle guard
  *                   (batch runs are within-corpus and unaffected);
  *                   N <= 0 disables the cap ([[graft.queries
  *                   .CurateConfig.containmentMaxPostings]])
  *   [--normalize-hash] exact-dup stage hashes normalized text (case/
  *                   punctuation/spacing variants collapse to one keeper)
  *   [--media COL:KIND] media dedup stage over binary column COL of KIND
  *                   (image|audio|video); repeat the flag for a
  *                   multimodal corpus — kinds must be distinct, docs
  *                   drop as media_dup ([[CurateConfig.media]])
  *   [--media-dup-by-kind] the media stage's drop reason names the
  *                   modality that fired (media_dup:KIND) — opt-in
  *                   because the label depends on --media order
  *   [--no-resume]   ignore existing output, rewrite every verdict
  *   [--num-cpus N]  local parallelism (default: all cores)
  * }}}
  *
  * Exit codes: 0 success, 2 usage error — matching the extract CLI.
  */
object CurateCli {

  case class Config(
      in: String = "",
      out: String = "",
      state: Option[String] = None,
      jaccard: Double = 0.5,
      segmentWidth: Option[Int] = None,
      containment: Option[Double] = None,
      containmentMaxPostings: Int =
        graft.queries.TextOps.MaxPostingsPerShingle,
      normalizeHash: Boolean = false,
      resume: Boolean = true,
      numCpus: Option[Int] = None,
      media: Seq[(String, String)] = Nil,
      mediaDupByKind: Boolean = false)

  val usage: String =
    """usage: graft.Main curate <documents.parquet> <outDir>
      |  [--state DIR] [--jaccard T] [--segment-width N] [--containment T]
      |  [--containment-max-postings N]
      |  [--normalize-hash] [--media COL:KIND ...] [--media-dup-by-kind]
      |  [--no-resume] [--num-cpus N]""".stripMargin

  /** Pure argument parser — IllegalArgumentException on malformed input
    * (same contract as [[Main.parse]]; CliCurateSpec tests it directly).
    */
  def parse(args: Seq[String]): Config = {
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
        case "--state" => cfg = cfg.copy(state = Some(take("--state")))
        case "--jaccard" =>
          val v = take("--jaccard")
          val t = try v.toDouble catch { case _: Exception =>
            throw new IllegalArgumentException(s"--jaccard needs a number, got '$v'") }
          if (t <= 0.0 || t > 1.0)
            throw new IllegalArgumentException(s"--jaccard must be in (0, 1], got $v")
          cfg = cfg.copy(jaccard = t)
        case "--segment-width" =>
          val v = take("--segment-width")
          val w = try { val w = v.toInt; require(w > 0); w }
            catch { case _: Exception =>
              throw new IllegalArgumentException(s"--segment-width needs a positive integer, got '$v'") }
          cfg = cfg.copy(segmentWidth = Some(w))
        case "--containment" =>
          val v = take("--containment")
          val t = try v.toDouble catch { case _: Exception =>
            throw new IllegalArgumentException(
              s"--containment needs a number in (0, 1], got '$v'") }
          if (t <= 0.0 || t > 1.0)
            throw new IllegalArgumentException(
              s"--containment must be in (0, 1], got $t")
          cfg = cfg.copy(containment = Some(t))
        case "--containment-max-postings" =>
          val v = take("--containment-max-postings")
          val n = try v.toInt catch { case _: Exception =>
            throw new IllegalArgumentException(
              s"--containment-max-postings needs an integer, got '$v'") }
          cfg = cfg.copy(containmentMaxPostings = n)
        case "--normalize-hash" => cfg = cfg.copy(normalizeHash = true)
        case "--media" =>
          // repeatable COL:KIND — the multi-media stage from the shell
          // (kind validity and kind-distinctness are CurateConfig's
          // requires; the parser only owns the flag syntax)
          val v = take("--media")
          v.split(":", -1) match {
            case Array(c, k) if c.nonEmpty && k.nonEmpty =>
              cfg = cfg.copy(media = cfg.media :+ (c -> k))
            case _ => throw new IllegalArgumentException(
              s"--media needs COL:KIND, got '$v'")
          }
        case "--media-dup-by-kind" =>
          cfg = cfg.copy(mediaDupByKind = true)
        case "--no-resume" => cfg = cfg.copy(resume = false)
        case "--num-cpus" =>
          val v = take("--num-cpus")
          val n = try { val n = v.toInt; require(n > 0); n }
            catch { case _: Exception =>
              throw new IllegalArgumentException(s"--num-cpus needs a positive integer, got '$v'") }
          cfg = cfg.copy(numCpus = Some(n))
        case f if f.startsWith("--") =>
          throw new IllegalArgumentException(s"unknown flag: $f")
        case p => pos += p
      }
    }
    if (pos.size != 2)
      throw new IllegalArgumentException(
        s"expected exactly <documents.parquet> <outDir>, got ${pos.size} positional args")
    if (cfg.segmentWidth.isDefined && cfg.state.isDefined)
      throw new IllegalArgumentException(
        "--segment-width cannot be combined with --state: durable state " +
          "stores raw-text labels, the segment stage curates rewritten text")
    cfg.copy(in = pos(0), out = pos(1))
  }

  /** Drive a curation run on an existing session — the testable core.
    * Returns the number of verdicts written THIS run (0 when the output
    * was already complete).
    */
  def run(spark: SparkSession, cfg: Config): Long = {
    // config validation (CurateConfig's requires — e.g. duplicate media
    // kinds) fires BEFORE any I/O: a bad flag combination must not read
    // the corpus first
    val curateCfg = CurateConfig(jaccardThreshold = cfg.jaccard,
      normalizeForHash = cfg.normalizeHash,
      segmentDedupWidth = cfg.segmentWidth,
      containmentThreshold = cfg.containment,
      containmentMaxPostings = cfg.containmentMaxPostings,
      media = cfg.media,
      mediaDupByKind = cfg.mediaDupByKind)
    val docs = spark.read.parquet(cfg.in)

    // durable state: build once, reuse afterwards — presence of labels/
    // marks a completed build (it is written after index/)
    val stateLabels: Option[String] = cfg.state.map { s =>
      val done = new java.io.File(s"$s/labels").exists() &&
        new java.io.File(s"$s/reasons").exists()
      if (!done) TextOps.writeCurateState(docs, s, curateCfg)
      s
    }

    def fullRun: DataFrame = stateLabels match {
      case Some(s) => TextOps.curateFromState(docs, s, curateCfg)
      case None => TextOps.curateOn(docs, curateCfg)
    }

    val existing: Option[DataFrame] = {
      val dir = new java.io.File(cfg.out)
      if (cfg.resume && dir.exists() &&
          dir.listFiles != null && dir.listFiles.exists(_.getName.endsWith(".parquet")))
        Some(spark.read.parquet(cfg.out))
      else None
    }

    existing match {
      case Some(done) =>
        val delta = stateLabels match {
          case Some(s) => TextOps.resumeCurateFromState(docs, s, done, curateCfg)
          case None => TextOps.curateDeltaOn(docs, done, curateCfg)
        }
        val n = delta.count()
        if (n > 0) delta.write.mode("append").parquet(cfg.out)
        n
      case None =>
        val full = fullRun
        full.write.mode("overwrite").parquet(cfg.out)
        full.count()
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg =
      try parse(args.toSeq)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(e.getMessage)
          System.err.println(usage)
          sys.exit(2)
      }
    val spark = Session.getOrCreate(cfg.numCpus, "graft-curate", pinPartitions = false)
    try {
      val n = run(spark, cfg)
      System.err.println(s"[curate] wrote $n verdicts to ${cfg.out}")
    } finally spark.stop()
  }
}
