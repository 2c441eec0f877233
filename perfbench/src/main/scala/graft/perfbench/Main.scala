package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{CurateCli, SparkEntry}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A step whose output check failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** The repo benchmark: one workload per invocation, one client thread
  * making sequential calls into the engine's public entry points at
  * `local[4]`.
  *
  * {{{
  * Main --workload extract|curate|queries --seed N --seconds S --trace 0|1
  *      --root CHECKOUT --work DIR
  * }}}
  *
  * Every workload runs two phases. The `primary` phase is the extract
  * fresh pass, the curate run, or the contract query rows; the `secondary`
  * phase is the extract resume pass, the curate resume run, or the
  * session-memo builds. The last stdout line is the result JSON.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      root: Path, work: Path)

  def parse(args: Seq[String]): Args = {
    val m = args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("root")).toAbsolutePath,
      Paths.get(need("work")).toAbsolutePath)
    require(Set("extract", "curate", "queries")(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val args = try parse(argv.toSeq) catch { case e: IllegalArgumentException =>
      System.err.println(e.getMessage); sys.exit(2)
    }
    val run = new Run(args)
    val ok = try run.workload() catch { case t: Throwable =>
      System.err.println(s"[perfbench] run aborted: $t")
      t.printStackTrace()
      run.failed += 1
      false
    } finally run.stop()
    println(run.resultLine)
    sys.exit(if (ok && run.failed == 0) 0 else 1)
  }
}

/** One benchmark run: its session, spans, counts and results. */
final class Run(val a: Main.Args) {
  val Cpus = 4
  val spans = new Spans
  var spark: SparkSession = _
  var trace: Option[SparkTrace] = None
  var attempted = 0
  var failed = 0
  var setupS = 0.0
  var peakHeapMb = 0.0
  /** Samples per named figure: phase throughputs and latencies. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var metricsJson = "{}"

  /** Repeats rounds until `seconds` have passed and `minRounds` ran. Round 0
    * warms the JIT and Spark's code caches: it is checked like every round,
    * but its times are not sampled.
    */
  def rounds(minRounds: Int)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var r = 0
    while (r < minRounds || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      warmup = r == 0
      body(r)
      r += 1
    }
    warmup = false
  }

  private var warmup = false
  private val warmupSpans = mutable.Set.empty[String]
  def sample(k: String, v: Double): Unit =
    if (!warmup) samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  def log(s: String): Unit = System.err.println(f"[perfbench] ${spans.elapsedS}%7.2f $s")

  def work(parts: String*): Path = parts.foldLeft(a.work)(_.resolve(_))

  // ------------------------------------------------------------ sessions

  /** The session each workload's CLI `main` (or `graft.Bench`) builds, plus
    * checkout-local scratch directories.
    */
  private def builder(): SparkSession.Builder = {
    val b = SparkSession.builder().master(s"local[$Cpus]")
      .config("spark.local.dir", work("spark-local").toString)
      .config("spark.sql.warehouse.dir", work("warehouse").toString)
    a.workload match {
      case "extract" => b.appName("graft-extract").config("spark.sql.session.timeZone", "UTC")
      case "curate" => b.appName("graft-curate").config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      case "queries" => b.config("spark.sql.shuffle.partitions", Cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
    }
  }

  /** Session builds per run. The first is cold (class loading, code
    * generation) and the rest are warm, so the median is a warm build and
    * a few slow builds do not move `setup_s`.
    */
  val SetupBuilds = 9

  /** Session build plus the first warm-up job, [[SetupBuilds]] times;
    * `setup_s` is the median. The last session is kept for the run.
    */
  def setup(): Unit = {
    val times = (1 to SetupBuilds).map { _ =>
      if (spark != null) {
        // every build starts from a settled JVM: the old context's threads
        // have wound down and its heap is collected
        spark.stop()
        System.gc()
        Thread.sleep(200)
      }
      val t0 = System.nanoTime()
      spark = builder().getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark.range(1000).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    setupS = Stats.median(times)
    log(s"setup ${times.map(t => f"$t%.3f").mkString(" ")} s")
    spans.sc = Some(spark.sparkContext)
    if (a.trace) {
      val t = new SparkTrace(spans.Property)
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      trace = Some(t)
    }
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Live heap right after a full collection, outside every timed call. */
  def heapAfterGc(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakHeapMb = math.max(peakHeapMb, used / 1048576.0)
  }

  /** One attempted step: `timed` runs inside a span, then `check` judges
    * its result outside the timing. A throw in either counts the step as
    * failed, and a failed step contributes no sample.
    */
  def attempt[T](kind: String, name: String)(timed: => T)(check: T => Unit): Option[(T, Span)] = {
    attempted += 1
    try {
      val (r, s) = spans.within(kind, name)(timed)
      log(f"$name%s ${s.durMs / 1e3}%.3f s${if (warmup) " (warm-up)" else ""}%s")
      if (warmup) warmupSpans += s.id
      check(r)
      Some((r, s))
    } catch { case t: Throwable =>
      failed += 1
      log(s"$name FAILED: $t")
      None
    }
  }

  def require(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  def workload(): Boolean = {
    Files.createDirectories(a.work)
    a.workload match {
      case "extract" => extract()
      case "curate" => curate()
      case "queries" => queries()
    }
    log("workload done")
    report()
    true
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  // ------------------------------------------------------------- extract

  private val ExtractSchema = StructType(Seq(StructField("path", StringType),
    StructField("page", IntegerType), StructField("text", StringType),
    StructField("image", BinaryType), StructField("ocr", StringType),
    StructField("err", BooleanType)))

  /** The rows `--features all --ocr` must write for `files`, by
    * [[graft.extract.StubExtractor]]'s definition of text, image and OCR.
    */
  def expectedExtract(files: Seq[DocFile]): DataFrame = {
    val rows = files.flatMap { f =>
      if (f.corrupt) Seq(Row(f.path, -1, null, null, null, true))
      else f.pages.zipWithIndex.map { case (t, i) =>
        Row(f.path, i + 1, t, s"IMG:${i + 1}:$t".getBytes(UTF_8), s"[eng] $t", false)
      }
    }
    spark.createDataFrame(rows.asJava, ExtractSchema)
  }

  def checkExtract(out: Path, files: Seq[DocFile], expected: Digest): Unit = {
    val got = spark.read.parquet(out.toString)
    val Row(n: Long, distinct: Long, silent: Long) = got.agg(count(lit(1)),
      count_distinct(col("path"), col("page")),
      count(when(col("page") === -1 && col("error").isNull, 1))).head()
    require(n == distinct, s"$out holds ${n - distinct} duplicate (path, page) rows")
    require(silent == 0, s"$silent page = -1 rows carry no error")
    val d = Digest.of(got.select(col("path"), col("page"), col("text"), col("image"), col("ocr"),
      col("error").isNotNull.as("err")))
    require(d == expected, s"$out digest $d, expected $expected over ${files.size} files")
  }

  def extract(): Unit = {
    val corpus = ExtractCorpus.generate(a.seed)
    deleteTree(work("extract"))
    val in = work("extract", "in")
    val staged = work("extract", "grown")
    corpus.write(in, corpus.base)
    corpus.write(staged, corpus.grown)
    log(s"extract corpus sha256 ${corpus.sha256}: ${corpus.base.size} + ${corpus.grown.size} files, " +
      s"${corpus.rows(corpus.base)} + ${corpus.rows(corpus.grown)} rows")
    setup()
    val (expBase, expAll) = (Digest.of(expectedExtract(corpus.base)), Digest.of(expectedExtract(corpus.all)))
    def move(files: Seq[DocFile], from: Path, to: Path): Unit = files.foreach { f =>
      Files.createDirectories(to.resolve(f.path).getParent)
      Files.move(from.resolve(f.path), to.resolve(f.path), StandardCopyOption.ATOMIC_MOVE)
    }
    rounds(minRounds = 4) { r =>
      val out = work("extract", s"out-$r.parquet")
      val cfg = graft.Main.parse(Seq(in.toString, out.toString, "--features", "all", "--ocr",
        "--num-cpus", Cpus.toString))
      attempt("step", "extract.fresh")(graft.Main.run(spark, cfg))(_ => checkExtract(out, corpus.base, expBase))
        .foreach { case (_, s) =>
          sample("extract_pages_per_s", corpus.rows(corpus.base) / (s.durMs / 1e3))
          sample("extract.fresh.output_files",
            Files.list(out).iterator().asScala.count(_.toString.endsWith(".parquet")).toDouble)
        }
      move(corpus.grown, staged, in)
      attempt("step", "extract.resume")(graft.Main.run(spark, cfg))(_ => checkExtract(out, corpus.all, expAll))
        .foreach { case (_, s) => sample("resume_pages_per_s", corpus.rows(corpus.grown) / (s.durMs / 1e3)) }
      heapAfterGc()
      move(corpus.grown, in, staged)
      deleteTree(out)
    }
    newFileBytes = corpus.bytes(corpus.grown)
  }
  private var newFileBytes = 0L

  // -------------------------------------------------------------- curate

  private val curateFlags = Seq("--containment", "0.8", "--normalize-hash", "--num-cpus", "4")

  /** Pinned verdict digests per seed: `seed<TAB>fresh<TAB>final`. */
  private def pinnedCurate: Map[Long, (Digest, Digest)] = {
    val f = a.root.resolve("perfbench/digests/curate.tsv")
    Files.readAllLines(f).asScala.filterNot(l => l.isBlank || l.startsWith("#")).map { l =>
      val Array(s, d1, d2) = l.split("\t")
      s.toLong -> (Digest.parse(d1), Digest.parse(d2))
    }.toMap
  }

  def writeDocs(rows: Seq[DocRow], path: Path): Unit = {
    val session = spark
    import session.implicits._
    rows.toDS().coalesce(1).write.mode("overwrite").parquet(path.toString)
  }

  /** One verdict per doc, and one survivor of the exact-dup stage in every
    * planted exact-duplicate group.
    */
  def checkCurate(out: Path, docs: Seq[DocRow], groups: Seq[Seq[Long]]): Digest = {
    val v = spark.read.parquet(out.toString)
    val ids = v.select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
    require(ids.length == ids.distinct.length, s"${ids.length - ids.distinct.length} duplicate verdicts")
    require(ids.toSet == docs.map(_.doc_id).toSet,
      s"verdicts for ${ids.length} docs, corpus has ${docs.size}")
    val reason = v.select("doc_id", "drop_reason").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    log("verdicts " + reason.values.groupBy(_.getOrElse("kept")).map { case (k, v) => s"$k=${v.size}" }
      .toSeq.sorted.mkString(" "))
    val present = docs.map(_.doc_id).toSet
    groups.map(_.filter(present)).filter(_.size > 1).foreach { g =>
      val survivors = g.count(id => !reason(id).contains("exact_dup"))
      require(survivors == 1, s"exact-dup group ${g.mkString(",")} has $survivors survivors")
    }
    Digest.of(v.select("doc_id", "kept", "drop_reason"))
  }

  /** Writes the seed's documents parquet twice: the base corpus, then the
    * grown one.
    */
  def curateInputs(): (CurateCorpus, Path, Path) = {
    val corpus = CurateCorpus.generate(a.seed)
    deleteTree(work("curate"))
    val (base, grown) = (work("curate", "docs.parquet"), work("curate", "docs-grown.parquet"))
    writeDocs(corpus.base, base)
    writeDocs(corpus.all, grown)
    log(s"curate corpus sha256 ${corpus.sha256}: ${corpus.base.size} + ${corpus.grown.size} docs, " +
      s"${corpus.exactGroups.size} planted exact-dup groups")
    (corpus, base, grown)
  }

  /** One round: a fresh CLI run on the base corpus, then a resume run on the
    * grown one into the same output. Returns both verdict digests when both
    * steps pass their checks.
    */
  def curateRound(corpus: CurateCorpus, base: Path, grown: Path,
      pinned: Option[(Digest, Digest)]): Option[(Digest, Digest)] = {
    val out = work("curate", "out")
    def cli(in: Path): Long = CurateCli.run(spark, CurateCli.parse(Seq(in.toString, out.toString) ++ curateFlags))
    var fresh: Option[Digest] = None
    var both: Option[(Digest, Digest)] = None
    attempt("step", "curate")(cli(base)) { n =>
      require(n == corpus.base.size, s"wrote $n verdicts for ${corpus.base.size} docs")
      val d = checkCurate(out, corpus.base, corpus.exactGroups)
      pinned.foreach(p => require(d == p._1, s"verdict digest $d, pinned ${p._1}"))
      fresh = Some(d)
    }.foreach { case (n, s) => sample("curate_docs_per_s", n / (s.durMs / 1e3)) }
    attempt("step", "curate.resume")(cli(grown)) { n =>
      require(n == corpus.grown.size, s"resume wrote $n verdicts for ${corpus.grown.size} new docs")
      val d = checkCurate(out, corpus.all, corpus.exactGroups)
      pinned.foreach(p => require(d == p._2, s"resumed verdict digest $d, pinned ${p._2}"))
      both = fresh.map(_ -> d)
    }.foreach { case (n, s) => sample("curate_resume_docs_per_s", n / (s.durMs / 1e3)) }
    heapAfterGc()
    deleteTree(out)
    both
  }

  def curate(): Unit = {
    setup()
    val (corpus, base, grown) = curateInputs()
    val pinned = pinnedCurate.get(a.seed)
    if (pinned.isEmpty) log(s"seed ${a.seed} has no pinned curate digests; checking verdict structure only")
    // a CLI run costs seconds even on a small corpus (its job count is
    // fixed), so a run affords one round: the fresh run is the process's
    // first, as a CLI user runs it, and the resume run follows it warm
    curateRound(corpus, base, grown, pinned)
  }

  // ------------------------------------------------------------- queries

  val Modules: Seq[(String, Seq[graft.queries.ContractQuery])] = {
    import graft.queries._
    Seq("Relational" -> Relational.all, "Aggregates" -> Aggregates.all,
      "Functions" -> Functions.all, "TextOps" -> TextOps.all, "VectorOps" -> VectorOps.all,
      "EventOps" -> EventOps.all, "Extraction" -> Extraction.all, "Formats" -> Formats.all)
  }

  /** Every twelfth row of each module by name, from its first: all eight
    * modules at a cost that fits a run.
    */
  def selectedRows: Seq[String] = Modules.flatMap { case (_, qs) =>
    qs.map(_.name).sorted.zipWithIndex.collect { case (n, i) if i % 12 == 0 => n }
  }

  /** Pinned digests: `name<TAB>rows:sum<TAB>oracle|sketch`. */
  def pinnedQueries: Map[String, Digest] =
    Files.readAllLines(a.root.resolve("perfbench/digests/queries-sf0.01.tsv")).asScala
      .filterNot(l => l.isBlank || l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> Digest.parse(f(1)) }.toMap

  val rowLatencies = mutable.LinkedHashMap.empty[String, Double]
  /** Injected faults for the self-tests: rows that throw, digests that lie. */
  var throwRows: Set[String] = Set.empty
  var corruptDigests: Set[String] = Set.empty

  def fixtureDir: String = a.root.resolve("perfbench/fixtures/sf0.01").toString

  def queries(): Unit = {
    setup()
    memoBuilds()
    heapAfterGc()
    queryRows(Gen.shuffled(new SplitMix64(a.seed), selectedRows))
    heapAfterGc()
  }

  /** Prices each session-memo build in its own span, as graft.Bench does. */
  def memoBuilds(): Unit = spans.within("step", "memo") {
    (graft.queries.TextOps.warmFamilies(spark, fixtureDir) ++
        graft.queries.VectorOps.warmFamilies(spark, fixtureDir)).foreach { case (name, thunk) =>
      attempt("memo", s"memo.$name")(thunk())(_ => ())
        .foreach { case (_, s) => sample(s"memo.${name}_s", s.durMs / 1e3) }
    }
  }

  /** Composes, runs and digests each row; a row counts only if its digest
    * equals the pinned one.
    */
  def queryRows(names: Seq[String]): Unit = {
    val pinned = pinnedQueries.map { case (k, d) => k -> (if (corruptDigests(k)) d.copy(sum = d.sum + 1) else d) }
    val fns = SparkEntry.queries
    spans.within("step", "queries") {
      names.foreach { name =>
        attempt("row", s"queries.$name") {
          val df = spans.within("compose", s"compose $name") {
            if (throwRows(name)) throw new RuntimeException(s"injected failure in $name")
            fns(name)(spark, fixtureDir)
          }._1
          spans.within("execute", s"execute $name")(Digest.of(df))._1
        } { d =>
          val want = pinned.getOrElse(name, throw new CheckFailed(s"no pinned digest for $name"))
          require(d == want, s"$name digest $d, pinned $want")
        }.foreach { case (_, s) => rowLatencies(name) = s.durMs / 1e3 }
      }
    }
  }

  // -------------------------------------------------------------- report

  def med(k: String): Double = samples.get(k).filter(_.nonEmpty).map(x => Stats.median(x.toSeq)).getOrElse(Double.NaN)

  /** The run's end-to-end figures under the workload's own names. */
  def endToEnd: Seq[(String, Double, String)] = {
    val common = Seq(("setup_s", setupS, "s"), ("peak_live_heap_mb", peakHeapMb, "MB"),
      ("failed_frac", failed.toDouble / math.max(1, attempted), "ratio"))
    val own = a.workload match {
      case "extract" => Seq(("extract_pages_per_s", med("extract_pages_per_s"), "pages/s"),
        ("resume_pages_per_s", med("resume_pages_per_s"), "pages/s"))
      case "curate" => Seq(("curate_docs_per_s", med("curate_docs_per_s"), "docs/s"),
        ("curate_resume_docs_per_s", med("curate_resume_docs_per_s"), "docs/s"))
      case "queries" =>
        val lat = rowLatencies.values.toSeq
        val tail = Stats.tailLevel(lat.size)
        val memo = samples.collect { case (k, v) if k.startsWith("memo.") => v.sum }.sum
        Seq(("query_p50_s", if (lat.isEmpty) Double.NaN else Stats.median(lat), "s")) ++
          tail.map(q => (s"query_p${fmtLevel(q)}_s", Stats.percentile(lat, q), "s")) ++
          Seq(("queries_total_s", lat.sum, "s"), ("query_rows", lat.size.toDouble, "count"),
            ("memo_build_s", memo, "s"))
    }
    own ++ common
  }

  private def fmtLevel(q: Double): String = {
    val p = q * 100
    if (p == math.rint(p)) p.toLong.toString else p.toString.replace(".", "")
  }

  /** The gated metrics: the same three names on every workload. */
  def gated(e2e: Map[String, Double]): Seq[(String, Double, String)] = {
    val (primary, secondary) = a.workload match {
      case "extract" => (e2e("extract_pages_per_s"), e2e("resume_pages_per_s"))
      case "curate" => (e2e("curate_docs_per_s"), e2e("curate_resume_docs_per_s"))
      case "queries" =>
        (e2e("query_rows") / e2e("queries_total_s"),
          samples.count(_._1.startsWith("memo.")) / e2e("memo_build_s"))
    }
    Seq(("setup_s", e2e("setup_s"), "s"), ("primary_per_s", primary, "1/s"),
      ("secondary_per_s", secondary, "1/s"))
  }

  /** The two phases' step names, per workload. */
  def phases: Seq[(String, String)] = a.workload match {
    case "extract" => Seq("primary" -> "extract.fresh", "secondary" -> "extract.resume")
    case "curate" => Seq("primary" -> "curate", "secondary" -> "curate.resume")
    case "queries" => Seq("primary" -> "queries", "secondary" -> "memo")
  }

  def report(): Unit = {
    val e2e = endToEnd
    e2e.foreach { case (k, v, u) => println(s"e2e ${a.workload} $k ${Json.num(v)} $u") }
    val gatedM = gated(e2e.map(x => x._1 -> x._2).toMap)
    val dir = work("results")
    Files.createDirectories(dir)
    val tag = s"${a.workload}-seed${a.seed}"
    val e2eJson = metricsObj(gatedM)
    val untraced = dir.resolve(s"untraced-$tag.json")
    if (!a.trace) {
      metricsJson = e2eJson
      Files.writeString(untraced, e2eJson)
      return
    }
    drainListenerBus(spark)
    val t = new Trace(spans.closed.toSeq, trace.get)
    val layers = mutable.ArrayBuffer.empty[(String, Double, String)]
    val generic = mutable.ArrayBuffer.empty[(String, Double, String)]
    def medLayer(step: String): Option[Layer] = {
      val ls = spans.closed.filter(s => s.kind == "step" && s.name == step && !warmupSpans(s.id))
        .map(t.layer).toSeq
      if (ls.isEmpty) None else Some(medianLayer(ls))
    }
    phases.foreach { case (slot, step) =>
      medLayer(step).foreach { l =>
        (l.metrics ++ l.planPhases).foreach { case (k, v, u) =>
          layers += ((s"$step.$k", v, u)); generic += ((s"$slot.$k", v, u))
        }
      }
    }
    val stepSpans = spans.closed.filter(_.kind == "step")
    a.workload match {
      case "extract" =>
        Seq("extract.fresh", "extract.resume").foreach { step =>
          val scans = stepSpans.filter(s => s.name == step && !warmupSpans(s.id)).flatMap(t.scanS)
          if (scans.nonEmpty) layers += ((s"$step.scan_s", Stats.median(scans.toSeq), "s"))
        }
        layers += (("extract.fresh.output_files", med("extract.fresh.output_files"), "count"))
        medLayer("extract.resume").foreach(l =>
          layers += (("extract.resume.read_amplification", l.input.toDouble / newFileBytes, "ratio")))
      case "queries" =>
        val rows = spans.closed.filter(_.kind == "row").toSeq
        val compose = spans.closed.filter(_.kind == "compose").toSeq
        layers += (("queries.compose_s", compose.map(_.durMs).sum / 1e3, "s"))
        layers += (("queries.eager_jobs", compose.map(c => t.layer(c).jobs).sum.toDouble, "count"))
        val moduleOf = Modules.flatMap { case (m, qs) => qs.map(q => s"queries.${q.name}" -> m) }.toMap
        Modules.foreach { case (m, _) =>
          val mine = rows.filter(r => moduleOf.get(r.name).contains(m))
          layers += ((s"queries.$m.wall_s", mine.map(_.durMs).sum / 1e3, "s"))
          layers += ((s"queries.$m.jobs", mine.map(r => t.layer(r).jobs).sum.toDouble, "count"))
        }
        samples.collect { case (k, v) if k.startsWith("memo.") => layers += ((k, v.sum, "s")) }
      case _ =>
    }
    layers.foreach { case (k, v, u) => println(s"layer ${a.workload} $k ${Json.num(v)} $u") }
    generic += (("peak_live_heap_mb", peakHeapMb, "MB"))
    metricsJson = metricsObj(generic.toSeq)
    Files.writeString(dir.resolve(s"spans-$tag.jsonl"), Trace.jsonl(t.allSpans))
    Files.writeString(dir.resolve(s"layers-$tag.json"), metricsObj(layers.toSeq))
    // tracing overhead: this traced run against the untraced run of the same seed
    if (Files.exists(untraced)) {
      val before = Json.numbers(Files.readString(untraced))
      gatedM.foreach { case (k, v, u) =>
        before.get(k).foreach(b => println(s"overhead ${a.workload} $k ${Json.num(v - b)} $u"))
      }
    } else log(s"no untraced run of $tag in this checkout yet; overhead not reported")
  }

  private def drainListenerBus(s: SparkSession): Unit =
    org.apache.spark.sql.graft.ListenerBusHook.drain(s.sparkContext, 10000)

  private def medianLayer(ls: Seq[Layer]): Layer = {
    def m(f: Layer => Double): Double = Stats.median(ls.map(f))
    def ml(f: Layer => Long): Long = Stats.median(ls.map(x => f(x).toDouble)).round
    def mi(f: Layer => Int): Int = Stats.median(ls.map(x => f(x).toDouble)).round.toInt
    Layer(m(_.wallS), m(_.planS), m(_.analysisS), m(_.optimizationS), m(_.planningS),
      mi(_.jobs), mi(_.stages), mi(_.tasks), m(_.taskBusyS), m(_.taskCpuS), m(_.gcS), m(_.noTaskS),
      ml(_.shuffleWrite), ml(_.shuffleRead), ml(_.spill), ml(_.input), ml(_.output), m(_.maxTaskSkew))
  }

  private def metricsObj(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def resultLine: String = {
    val correct = failed == 0 && attempted > 0
    s"""{"correct": $correct, "attempted": ${math.max(1, attempted)}, "failed": $failed, "metrics": $metricsJson}"""
  }
}
