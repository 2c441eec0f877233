package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{StringType, StructType}

/** The one owner of the persisted-index protocol every incremental index
  * family shares (MinHash, cosine, eval shingles, seen-sets, containment
  * postings, media hashes/video frames, IVF, PQ, the NN-Descent graph).
  * On disk an index is a ROOT directory holding:
  *  - data components, each a directory of `batch=<tag>` increments
  *    (`batch=init` is the build/compaction baseline);
  *  - `_history`: the admitted tags in append order (the as-of sidecar);
  *  - `_params`: the knobs pinned at first admit;
  *  - `<component>/_compacted_tags`: tags whose replay window a
  *    compaction closed;
  *  - lifecycle markers: `_building` (or a family's own build sentinel,
  *    e.g. `_pq_building`), `_folding`, and the `<dir>.compacting`,
  *    `<root>.rebuilding`, `<root>.retired` swap twins.
  *
  * Families never touch that layout directly. They call one of these
  * entry points, each of which runs its preludes in ONE fixed order:
  *  - [[open]]: a read over one [[View]] — recover a crashed promote,
  *    refuse an unfinished build, finish crashed compaction swaps (all
  *    once per entry, not once per component), validate the pinned
  *    params, and for an as-of view resolve the history prefix;
  *  - [[append]]: [[open]] at `Excluding(tag)` plus the batch layout
  *    migration, the history seed, the caller's write and the history
  *    record;
  *  - [[build]] / [[bootstrap]] / [[buildAside]]: full (re)builds;
  *  - [[compact]]: the fold bracket.
  */
object IndexStore {

  /** Which batches a read sees. */
  sealed trait View
  object View {
    /** Every batch — the live index. */
    case object Live extends View
    /** The history prefix through `tag` — the snapshot an earlier admit
      * left behind. */
    final case class AsOf(tag: String) extends View
    /** Every batch but `tag`'s own — the replay-safe admit probe: an
      * at-least-once replay of `tag` must see exactly the state its first
      * run saw, not its own first run's output. */
    final case class Excluding(tag: String) extends View

    def of(asOf: Option[String]): View = asOf.fold[View](Live)(AsOf)
  }

  /** Record-on-first-admit / refuse-on-mismatch knobs of a family
    * (seen-set width/normalize, media kind, …): `params` is recorded in
    * `_params` next to `component`; `siblings` are the other components
    * that may share the root (and its `_params`).
    */
  final case class Pin(component: String, params: String,
      mismatchHint: String, siblings: Seq[String] = Nil)

  /** An index whose read prelude has run: [[apply]] reads one of the
    * components named at [[open]] under the snapshot's view.
    */
  final class Snapshot private[IndexStore] (spark: SparkSession,
      root: String, components: Seq[String], view: View,
      prefix: Seq[String]) {

    /** The component's rows under this view. The `batch` partition
      * column is always a STRING. With a DDL `schema` (without `batch`),
      * an absent component reads as an empty frame of that schema;
      * without one it is inferred and must exist.
      */
    def apply(component: String, schema: String = ""): DataFrame = {
      require(components.contains(component),
        s"component '$component' was not opened on $root")
      val dir = s"$root/$component"
      if (view.isInstanceOf[View.AsOf])
        requireBatchesPresent(spark, dir, prefix)
      val df = scan(spark, dir, schema)
      // a flat pre-`batch=` component has no batch column: every view
      // sees all of it (as-of reads were refused above)
      if (view == View.Live || !df.columns.contains("batch")) df
      else df.filter(visible)
    }

    /** The view as a predicate on the `batch` column. */
    def visible: Column = view match {
      case View.Live => lit(true)
      case View.AsOf(_) => col("batch").isin(prefix: _*)
      case View.Excluding(tag) => !(col("batch") <=> lit(tag))
    }
  }

  /** An increment being admitted: reads see every batch but the tag's
    * own ([[View.Excluding]]); [[dir]] is where a component's increment
    * is written (overwrite — a replay rewrites itself).
    */
  final class Increment private[IndexStore] (root: String, val tag: String,
      val others: Snapshot) {
    def dir(component: String): String = s"$root/$component/batch=$tag"
  }

  // ------------------------------------------------------ entry points

  /** The read entry: run the prelude once for `components` and return
    * the snapshot to read them through. `pin` validates the family's
    * `_params` (`admitPin` lets an admitting probe record them on first
    * contact; a read-only probe only validates).
    */
  def open(spark: SparkSession, root: String, components: Seq[String],
      view: View = View.Live, pin: Option[Pin] = None,
      admitPin: Boolean = false): Snapshot = {
    view match {
      case View.Excluding(tag) => requireTag(tag)
      case _ =>
    }
    recoverPromote(spark, root)
    requireNotBuilding(spark, root)
    // finish crashed swaps BEFORE anything reads a component or its
    // sidecars: after a crash between delete and rename, the batch dirs
    // and `_compacted_tags` live only in the .compacting twin
    components.foreach(c => finishCrashedSwap(spark, s"$root/$c"))
    view match {
      case View.Excluding(tag) => components.foreach { c =>
        require(!compactedTags(spark, root, c).contains(tag),
          s"tag '$tag' was folded into batch=init by index compaction — " +
            "its replay window is closed; re-ingest under a fresh tag " +
            "(output would differ from the original run, not repeat it)")
      }
      case _ =>
    }
    pin.foreach(requireIndexParamsAt(spark, root, _, admitPin))
    val prefix = view match {
      case View.AsOf(tag) => historyPrefix(spark, root, tag)
      case _ => Nil
    }
    new Snapshot(spark, root, components, view, prefix)
  }

  /** The append entry: [[open]] at `Excluding(tag)` (tag check, swap
    * repair, closed-window check, `_params` record-or-refuse), then
    * the batch layout migration and history seed, then `write` (which
    * writes each component's increment under `inc.dir`), then the
    * history record — AFTER the data commits; a crash in between heals
    * under the at-least-once replay discipline.
    */
  def append[A](spark: SparkSession, root: String, tag: String,
      components: Seq[String], pin: Option[Pin] = None)(
      write: Increment => A): A = {
    val others = open(spark, root, components, View.Excluding(tag), pin,
      admitPin = true)
    components.foreach(c => ensureBatchLayout(spark, s"$root/$c"))
    // pre-history indexes seed from the on-disk layout BEFORE this tag's
    // dirs exist, so every legacy increment stays in as-of reach
    seedHistoryIfEmpty(spark, root, components)
    val out = write(new Increment(root, tag, others))
    recordHistory(spark, root, tag)
    out
  }

  /** The in-place (re)build bracket: `sentinel` lands before the first
    * delete and is removed after the last write, so a crash anywhere in
    * between fails closed ([[requireNotBuilding]]). Every component is
    * deleted first (stale `batch=` increments must not survive beside
    * the fresh baseline), `write` receives each component's `batch=init`
    * dir, and the history restarts at `init`. A build is the repair of
    * any crashed build, so it also clears the other build sentinels.
    */
  def build(spark: SparkSession, root: String, components: Seq[String],
      sentinel: String = RootSentinel)(write: (String => String) => Unit)
      : Unit = {
    val fs = fsOf(spark, root)
    val s = new Path(s"$root/$sentinel")
    fs.mkdirs(s.getParent)
    fs.create(s, true).close()
    BuildSentinels.filter(_ != sentinel)
      .foreach(o => fs.delete(new Path(s"$root/$o"), false))
    components.foreach(c => resetComponent(spark, s"$root/$c"))
    write(initDirs(root))
    // a rebuild starts a NEW history (inside the sentinel window — a
    // crash here fails closed, never a data/history mismatch)
    resetHistory(spark, root, Seq("init"))
    fs.delete(s, false)
  }

  /** First-contact EMPTY bootstrap — schema-bearing empty components
    * WITHOUT a build sentinel: an empty bootstrap has nothing to lose,
    * and a crash mid-way leaves a partial layout whose existence probe
    * simply re-runs it (overwrite, idempotent). A sentinel here would
    * WEDGE a streaming loop, whose recovery prelude refuses it on every
    * restart before any code that could redo the bootstrap. History
    * lands FIRST, so every data-bearing layout has `init` in reach.
    */
  def bootstrap(spark: SparkSession, root: String)(
      write: (String => String) => Unit): Unit = {
    resetHistory(spark, root, Seq("init"))
    write(initDirs(root))
  }

  /** Rebuild an index WITHOUT refusing reads for the build's duration —
    * the blue/green twin of [[build]]. The replacement is built at
    * `root.rebuilding` by `build` (its own build sentinel lives INSIDE
    * that dir, invisible to live readers), then promoted with two
    * metadata renames — live → `root.retired`, rebuilt → live — and the
    * retired copy deleted. Readers race only the renames, never the
    * build.
    *
    * Promotion happens ONLY here, in the builder's own call — never
    * from a reader's recovery ([[recoverPromote]]'s cardinal rule). If
    * this call dies after the build completes, the finished aside is
    * discarded and redone by the next rebuild (a wasted build, never a
    * wrong index: the redo reads the live corpus, which holds any admits
    * made since the crash).
    */
  def buildAside(spark: SparkSession, root: String)(
      build: String => Unit): Unit = {
    // repair any crashed promote FIRST: starting a build while live is
    // missing would race concurrent readers' live-missing recovery into
    // deleting the in-flight aside — with live restored before the aside
    // is touched, readers never enter their destructive branch
    recoverPromote(spark, root)
    val aside = new Path(s"$root.rebuilding")
    // a stale partial/orphan from an earlier crashed rebuild: re-running
    // IS the repair
    fsOf(spark, root).delete(aside, true)
    build(aside.toString)
    promote(spark, root)
  }

  /** The compaction bracket: fold each component's `batch=` increments
    * into one fresh `batch=init` of `numFiles` files (0 → the session's
    * default parallelism; `partitionCols` keeps a partitioned layout
    * such as IVF's `cell=` dirs) — the small-files compaction a
    * continuously-ingesting index needs, and the self-healing pass
    * (DISTINCT during the fold drops rows a replay re-created after an
    * earlier fold).
    *
    * Order: recover, refuse an unfinished build (skipped by a rebuild
    * that is its own repair, `refuseBuilding = false`), finish crashed
    * swaps, then raise `_folding` and reset history to `init` BEFORE
    * folding — a crash after the fold but before a later reset would
    * leave old tags resolvable against folded data, and `_folding`
    * makes every as-of read refuse while components mix folded and
    * unfolded state. `closeWindows` records the folded tags in each
    * component's `_compacted_tags` (inside the swap, so record and fold
    * are atomic together) — replaying a folded tag then fails fast,
    * because its contribution can no longer be excluded. `inFold` runs
    * after the folds, still under the fold sentinel, reading the folded
    * components. As-of reach ends at
    * the fold; pin a copy of the index BEFORE compacting if a release
    * must stay reproducible past it.
    *
    * Run it from the index's single writer between batches: the swap is
    * NOT atomic for concurrent readers.
    */
  def compact(spark: SparkSession, root: String, components: Seq[String],
      numFiles: Int, partitionCols: Seq[String] = Nil,
      closeWindows: Boolean = false, refuseBuilding: Boolean = true,
      inFold: Snapshot => Unit = _ => ()): Unit = {
    recoverPromote(spark, root)
    if (refuseBuilding) requireNotBuilding(spark, root)
    components.foreach(c => finishCrashedSwap(spark, s"$root/$c"))
    val sidecars = components.map { c =>
      c -> (if (!closeWindows) Map.empty[String, String]
        else {
          val folded = compactedTags(spark, root, c) ++
            batchTags(spark, root, c).filter(_ != "init")
          Map(CompactedTagsFile -> folded.toSeq.sorted.mkString("\n"))
        })
    }.toMap
    beginFold(spark, root)
    resetHistory(spark, root, Seq("init"))
    components.foreach(c => compactComponent(spark, s"$root/$c", numFiles,
      partitionCols, sidecars(c)))
    inFold(new Snapshot(spark, root, components, View.Live, Nil))
    endFold(spark, root)
  }

  /** Tags whose increments a past [[compact]] folded into `batch=init`
    * (`_compacted_tags`), empty if never compacted. */
  private[graft] def compactedTags(spark: SparkSession, root: String,
      component: String): Set[String] =
    readSidecar(spark, s"$root/$component/$CompactedTagsFile")
      .map(_.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** Does `component` already hold an increment under `batch=tag`? The
    * streaming loops' compaction-cadence probe. */
  private[graft] def tagExists(spark: SparkSession, root: String,
      component: String, tag: String): Boolean = {
    val p = new Path(s"$root/$component/batch=$tag")
    fsOf(spark, root).exists(p)
  }

  /** Tags of a component's `batch=` dirs (empty when it is absent). */
  private def batchTags(spark: SparkSession, root: String,
      component: String): Set[String] = {
    val dir = new Path(s"$root/$component")
    val fs = fsOf(spark, root)
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).iterator.map(_.getPath)
      .filter(_.getName.startsWith("batch="))
      .map(_.getName.stripPrefix("batch=")).toSet
  }

  /** A family marker file at the index root (`_lsh_params`, `_pq_m`, …):
    * its trimmed content, or None if absent. */
  private[graft] def marker(spark: SparkSession, root: String,
      name: String): Option[String] =
    readSidecar(spark, s"$root/$name")

  private[graft] def setMarker(spark: SparkSession, root: String,
      name: String, content: String): Unit =
    writeSidecar(spark, s"$root/$name", content)

  /** The index's admitted batch tags in append order (empty for an index
    * predating the sidecar). */
  def indexHistory(spark: SparkSession, root: String): Seq[String] =
    readSidecar(spark, s"$root/$HistoryFile")
      .map(_.split("\n").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)

  /** One health view of a persisted index — the what-state-is-this-in
    * call an operator runs before paging anyone: every data component's
    * `batch=` increments with file counts and bytes (FS metadata only,
    * no Spark job over the data), every sidecar's content, and every
    * lifecycle flag (build sentinels, the `_folding` window, a
    * `.rebuilding` aside in flight, a `.retired` copy awaiting cleanup).
    * Works on any index family. Columns: (section: data|sidecar|flag,
    * component, key, value).
    */
  def indexInfo(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val rootPath = new Path(root)
    val fs = fsOf(spark, root)
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String)]
    if (fs.exists(rootPath)) fs.listStatus(rootPath).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) {
        val kids = fs.listStatus(st.getPath)
        val batches = kids.filter(_.getPath.getName.startsWith("batch="))
        if (batches.nonEmpty) batches.foreach { b =>
          val sum = fs.getContentSummary(b.getPath)
          rows += (("data", name, b.getPath.getName,
            s"files=${sum.getFileCount} bytes=${sum.getLength}"))
        } else {
          val sum = fs.getContentSummary(st.getPath)
          rows += (("data", name, "(flat)",
            s"files=${sum.getFileCount} bytes=${sum.getLength}"))
        }
      } else if (name.startsWith("_")) {
        val v =
          if ((FoldSentinel +: BuildSentinels).contains(name)) "PRESENT"
          else readSidecar(spark, st.getPath.toString).getOrElse("")
        val section = if (v == "PRESENT") "flag" else "sidecar"
        rows += ((section, "", name, v.replace("\n", ",")))
      }
    }
    Seq(s"$root.rebuilding" -> "aside_rebuild_in_progress_or_orphaned",
        s"$root.retired" -> "retired_copy_awaiting_cleanup").foreach {
      case (p, label) =>
        if (fs.exists(new Path(p))) rows += (("flag", "", label, p))
    }
    rows.toSeq.toDF("section", "component", "key", "value")
      .orderBy(col("section"), col("component"), col("key"))
  }

  // --------------------------------------------------------- layout names

  private val RootSentinel = "_building"
  /** Every build sentinel a family raises: the root one and PQ's own. */
  private val BuildSentinels = Seq(RootSentinel, "_pq_building")
  private val FoldSentinel = "_folding"
  private val HistoryFile = "_history"
  private val CompactedTagsFile = "_compacted_tags"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def initDirs(root: String): String => String =
    c => s"$root/$c/batch=init"

  /** THE component reader. The batch PARTITION column must stay a
    * STRING: on an index whose tags are all numeric (append-only, no
    * batch=init dir) inference types it INT, '007' becomes 7, and
    * isin('007') string-compares against "7" — a snapshot would silently
    * LOSE that batch while [[requireBatchesPresent]] (which lists raw dir
    * names) passes. An inferred non-string `batch` is re-read under the
    * pinned schema (one extra listing, only on such indexes).
    */
  private def scan(spark: SparkSession, dir: String,
      schema: String): DataFrame =
    if (schema.nonEmpty) {
      val full = StructType.fromDDL(s"$schema, batch STRING")
      if (fsOf(spark, dir).exists(new Path(dir)))
        spark.read.schema(full).parquet(dir)
      else spark.createDataFrame(java.util.Collections.emptyList[Row](), full)
    } else {
      val df = spark.read.parquet(dir)
      if (df.schema.exists(f => f.name == "batch" && f.dataType != StringType))
        spark.read.schema(StructType(df.schema.map(f =>
          if (f.name == "batch") f.copy(dataType = StringType) else f)))
          .parquet(dir)
      else df
    }

  // ------------------------------------------------- protocol helpers

  private def beginFold(spark: SparkSession, root: String): Unit = {
    val p = new Path(s"$root/$FoldSentinel")
    val fs = fsOf(spark, root)
    fs.mkdirs(p.getParent)
    fs.create(p, true).close()
  }

  private def endFold(spark: SparkSession, root: String): Unit =
    fsOf(spark, root).delete(new Path(s"$root/$FoldSentinel"), false)

  private def requireNotFolding(spark: SparkSession, root: String): Unit =
    require(!fsOf(spark, root).exists(new Path(s"$root/$FoldSentinel")),
      s"$root has an unfinished compaction (crashed mid-fold) — its " +
        "components may mix folded and unfolded state, so as-of reads " +
        "are refused; re-run the compaction, then retry")

  /** An as-of read must refuse a snapshot whose data is not fully on
    * disk: compaction resets history BEFORE folding, which opens the
    * reverse window — history says `init` while the baseline dir is
    * still being folded. Reading through it would silently answer from
    * a state that never existed; refusing is loud and the retrying
    * compaction clears it.
    */
  private def requireBatchesPresent(spark: SparkSession,
      componentDir: String, tags: Seq[String]): Unit = {
    val fs = fsOf(spark, componentDir)
    val missing = tags.filterNot(t =>
      fs.exists(new Path(s"$componentDir/batch=$t")))
    require(missing.isEmpty,
      s"$componentDir is missing batch dirs for recorded history tags " +
        s"${missing.mkString(", ")} — an interrupted compaction has not " +
        "re-folded the baseline yet; re-run the compaction, then retry " +
        "the as-of read")
  }

  /** Fold one component into `batch=init` through its `.compacting`
    * twin ([[compact]]); `sidecarFiles` (`_`-prefixed, skipped by
    * parquet readers and [[ensureBatchLayout]]) ride inside the swap, so
    * they are exactly as durable as the fold they describe.
    */
  private def compactComponent(spark: SparkSession, dir: String,
      numFiles: Int, partitionCols: Seq[String],
      sidecarFiles: Map[String, String]): Unit = {
    ensureBatchLayout(spark, dir)
    val n = if (numFiles > 0) numFiles else spark.sparkContext.defaultParallelism
    val folded = scan(spark, dir, "").drop("batch").distinct()
    // hashing the write by the partition cols lands each partition's
    // rows in few tasks → few files per dir instead of tasks × dirs
    val arranged =
      if (partitionCols.isEmpty) folded.repartition(n)
      else folded.repartition(n, partitionCols.map(col): _*)
    swapIn(spark, dir) { tmp =>
      arranged.write.partitionBy(partitionCols: _*)
        .parquet(new Path(tmp, "batch=init").toString)
      sidecarFiles.foreach { case (name, content) =>
        require(name.startsWith("_"), s"sidecar file must be _-prefixed: $name")
        writeSidecar(spark, new Path(tmp, name).toString, content)
      }
    }
  }

  /** Write `dir`'s replacement into `dir.compacting`, then delete +
    * rename, CHECKING both results (Hadoop FileSystems report most
    * failures by returning false — an unchecked failed delete would
    * rename the new data INSIDE the old dir; an unchecked failed rename
    * would strand it in `.compacting`). A crash between delete and
    * rename is finished by [[finishCrashedSwap]]. On rename-as-copy
    * stores (S3 proper) prefer a versioned-prefix layout.
    */
  private def swapIn(spark: SparkSession, dir: String)(
      write: Path => Unit): Unit = {
    val p = new Path(dir)
    val fs = fsOf(spark, dir)
    val tmp = new Path(dir + ".compacting")
    fs.delete(tmp, true) // stale partial write from a crash mid-swap
    write(tmp)
    require(!fs.exists(p) || fs.delete(p, true), s"could not delete $dir; " +
      s"new data is intact at $tmp — resolve the FS issue and re-run")
    require(fs.rename(tmp, p), s"could not swap $tmp into $dir; " +
      "the data is intact there — re-running any compact/append/ingest " +
      "call finishes the swap")
  }

  /** Delete a component and its `.compacting` twin — the first step of
    * every [[build]]. */
  private def resetComponent(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    fs.delete(new Path(dir + ".compacting"), true)
  }

  /** Complete a compaction swap interrupted between delete and rename:
    * the component dir is missing but its finished `.compacting` twin
    * exists. Cheap (two exists calls) before any read or write. */
  private def finishCrashedSwap(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = fsOf(spark, dir)
    val tmp = new Path(dir + ".compacting")
    if (!fs.exists(p) && fs.exists(tmp))
      require(fs.rename(tmp, p),
        s"could not finish the crashed compaction swap $tmp -> $dir")
  }

  /** Refuse an index carrying a build sentinel: a rebuild first deletes
    * every component, then writes them one by one, so a crash in that
    * window leaves a structurally-valid-looking index MISSING whole
    * components — appenders would recreate an empty layout and every
    * later probe would answer against a corpus that lost all pre-crash
    * documents. Refusing fails CLOSED; only a full rebuild repairs it.
    */
  private def requireNotBuilding(spark: SparkSession, root: String): Unit = {
    val fs = fsOf(spark, root)
    BuildSentinels.foreach { s =>
      require(!fs.exists(new Path(s"$root/$s")),
        s"$root has an unfinished index build (crashed mid-rebuild) — " +
          "re-run the index build before using it")
    }
  }

  /** Record-on-first-admit / refuse-on-mismatch guard behind [[Pin]]:
    * first ADMIT records `root/_params`, later calls require equality,
    * and the crashed-first-contact window (sidecar present, data absent)
    * re-records ONLY on an admit call — a read-only probe validates,
    * never writes. "Data absent" considers every sibling component that
    * can share the root (with the media families' shared `_params`,
    * `frames/` absent is NOT first contact when `hashes/` holds a live
    * image index). Pre-sidecar indexes (data present, no `_params`) skip
    * the check.
    */
  private def requireIndexParamsAt(spark: SparkSession, root: String,
      pin: Pin, admit: Boolean): Unit = {
    val fs = fsOf(spark, root)
    val hasData = (pin.component +: pin.siblings)
      .exists(s => fs.exists(new Path(s"$root/$s")))
    val params = pin.params
    readSidecar(spark, s"$root/_params") match {
      case Some(stored) if hasData =>
        require(stored == params,
          s"$root was built with ($stored); probing with ($params) " +
            s"${pin.mismatchHint} — pass the original parameters or " +
            "rebuild the index")
      case Some(stored) =>
        if (admit) writeSidecar(spark, s"$root/_params", params)
        else require(stored == params,
          s"$root recorded ($stored) at first contact; a read-only " +
            s"probe with ($params) cannot re-record — replay the " +
            "crashed first admit, or probe with the recorded parameters")
      case None =>
        if (!hasData && admit) writeSidecar(spark, s"$root/_params", params)
    }
  }

  private[graft] def writeSidecar(spark: SparkSession, file: String,
      content: String): Unit = {
    val p = new Path(file)
    val fs = fsOf(spark, file)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** A sidecar's trimmed content, or None if the file is absent. The
    * read loop treats a 0-byte read as retryable (spec-legal on any
    * InputStream) and only EOF (−1) as done. */
  private[graft] def readSidecar(spark: SparkSession, file: String)
      : Option[String] = {
    val p = new Path(file)
    val fs = fsOf(spark, file)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](4096)
        var n = in.read(tmp)
        while (n >= 0) {
          if (n > 0) buf.write(tmp, 0, n)
          n = in.read(tmp)
        }
        Some(buf.toString("UTF-8").trim)
      } finally in.close()
    }
  }

  /** Record `tag` in `_history` after its data commits. Idempotent, so
    * a replay of an already-recorded tag never duplicates a line;
    * appends are serialized per index by the ingest-loop contract, so
    * the read-modify-write is single-writer by construction. */
  private def recordHistory(spark: SparkSession, root: String,
      tag: String): Unit = {
    val cur = indexHistory(spark, root)
    if (!cur.contains(tag)) writeHistoryFile(spark, root, cur :+ tag)
  }

  /** `_history` writes go through write-temp-then-rename: the file is an
    * ordered LOG rewritten in full each time, and a create() truncated
    * mid-write would leave a prefix line (`t` of `t1`) that parses as a
    * phantom tag no replay can heal. The delete-before-rename gap only
    * ever exposes an ABSENT file, which reads as empty history — a loud
    * as-of refusal, never corruption.
    */
  private def writeHistoryFile(spark: SparkSession, root: String,
      tags: Seq[String]): Unit = {
    val dst = new Path(s"$root/$HistoryFile")
    val tmp = new Path(s"$root/$HistoryFile.tmp")
    val fs = fsOf(spark, root)
    fs.mkdirs(dst.getParent)
    val out = fs.create(tmp, true)
    try out.write(tags.mkString("\n").getBytes("UTF-8")) finally out.close()
    fs.delete(dst, false)
    require(fs.rename(tmp, dst),
      s"could not move $tmp into place — history not updated")
  }

  /** First-append migration of a PRE-HISTORY index: seed the sidecar
    * with every batch tag already on disk, so data admitted before the
    * sidecar existed stays inside every later prefix. True admit ORDER
    * of legacy tags is unknowable from the layout, so they are seeded
    * init-first then lexicographically: prefixes AT a seeded tag are
    * approximate, while any tag recorded live after the upgrade has
    * exact semantics (its prefix contains all seeded batches).
    */
  private def seedHistoryIfEmpty(spark: SparkSession, root: String,
      components: Seq[String]): Unit = {
    if (indexHistory(spark, root).nonEmpty) return
    val tags = components.flatMap(c => batchTags(spark, root, c)).distinct
    val ordered = (if (tags.contains("init")) Seq("init") else Nil) ++
      tags.filter(_ != "init").sorted
    if (ordered.nonEmpty) writeHistoryFile(spark, root, ordered)
  }

  private def resetHistory(spark: SparkSession, root: String,
      baseline: Seq[String]): Unit =
    writeHistoryFile(spark, root, baseline)

  /** History prefix up to and including `asOf` — the batch set an as-of
    * read scans. Refuses mid-fold; unknown tags fail loudly, naming the
    * two ways a tag can be absent. */
  private def historyPrefix(spark: SparkSession, root: String,
      asOf: String): Seq[String] = {
    requireNotFolding(spark, root)
    val h = indexHistory(spark, root)
    val i = h.indexOf(asOf)
    require(i >= 0,
      s"'$asOf' is not in $root's append history (${h.mkString(", ")}): " +
        "either the tag was never admitted, or a compaction folded it " +
        "into the baseline — as-of reach ends at the last compaction")
    h.take(i + 1)
  }

  private def promote(spark: SparkSession, root: String): Unit = {
    val live = new Path(root)
    val fs = fsOf(spark, root)
    val aside = new Path(s"$root.rebuilding")
    val retired = new Path(s"$root.retired")
    // idempotent: a live-missing recovery racing this call may have
    // promoted the finished aside first — nothing left but the cleanup
    if (!fs.exists(aside)) { fs.delete(retired, true); return }
    fs.delete(retired, true) // leftovers of an even earlier promote
    if (fs.exists(live))
      require(fs.rename(live, retired), s"could not retire $live")
    // between the two renames live is briefly missing — a concurrent
    // reader's recovery may legitimately promote the aside first; a
    // failed rename with live present is that lost race, not an error
    if (!fs.rename(aside, live))
      require(fs.exists(live) && !fs.exists(aside),
        s"could not promote $aside")
    fs.delete(retired, true)
  }

  /** Crash recovery for [[buildAside]], run by every entry point BEFORE
    * any sentinel check. The cardinal rule: **while a live index exists,
    * recovery never touches `.rebuilding`** — a sentinel-bearing aside
    * is indistinguishable from a build IN FLIGHT in another process, and
    * even a COMPLETE aside is only promoted by its own [[buildAside]]
    * call. What recovery DOES resolve:
    *  - live present + stale `.retired` debris (and no aside) → delete
    *    the debris;
    *  - live MISSING (a promote crashed between its renames): finish
    *    forward when the aside is complete; otherwise drop a partial
    *    aside and restore the `.retired` copy. Concurrent readers racing
    *    these renames tolerate losing (the survivor check is live's
    *    existence).
    */
  private def recoverPromote(spark: SparkSession, root: String): Unit = {
    val live = new Path(root)
    val fs = fsOf(spark, root)
    val aside = new Path(s"$root.rebuilding")
    val retired = new Path(s"$root.retired")
    if (fs.exists(live)) {
      if (fs.exists(retired) && !fs.exists(aside)) fs.delete(retired, true)
      return
    }
    // live is missing: best-effort forward repair, race-tolerant
    try {
      val asidePartial = BuildSentinels
        .exists(s => fs.exists(new Path(s"$root.rebuilding/$s")))
      if (fs.exists(aside) && !asidePartial) promote(spark, root)
      else {
        if (fs.exists(aside)) fs.delete(aside, true)
        if (fs.exists(retired)) {
          fs.rename(retired, live)
          // Hadoop FS reports most failures as `false` — a silent
          // non-restore would surface later as a misleading missing-path
          // error while the only copy of the index sits in .retired
          require(fs.exists(live),
            s"could not restore $retired to $root — the only copy of " +
              "the index is there; fix the filesystem and retry")
        }
      }
    } catch {
      case _: Exception if fs.exists(live) => () // lost a benign race
    }
  }

  /** Migrate a flat (pre-`batch=`-layout) component in place: root-level
    * entries that are not already a `batch=` dir (parquet part files, or
    * an old IVF component's `cell=` dirs) move into `dir/batch=init`, so
    * an increment's `batch=` dir never lands beside them (Spark partition
    * discovery rejects that mix). Metadata-only renames; a no-op on the
    * current layout.
    */
  private def ensureBatchLayout(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(p)) return
    val flat = fs.listStatus(p).filter { e =>
      val n = e.getPath.getName
      !n.startsWith("batch=") && !n.startsWith("_") && !n.startsWith(".")
    }
    if (flat.nonEmpty) {
      val init = new Path(p, "batch=init")
      fs.mkdirs(init)
      flat.foreach { e =>
        require(fs.rename(e.getPath, new Path(init, e.getPath.getName)),
          s"could not migrate ${e.getPath} into the batch=init layout")
      }
    }
  }

  /** Increment tags name `batch=` dirs: path-safe charset, and `init` is
    * reserved for the baseline — appending under it would OVERWRITE the
    * whole corpus. */
  private def requireTag(tag: String): Unit =
    require(tag.nonEmpty && tag != "init" &&
        tag.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"index increment tag must be [A-Za-z0-9_-]+ and not the reserved " +
        s"'init', got '$tag'")
}
