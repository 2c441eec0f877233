package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, LongType}

/** IVF (inverted-file) ANN machinery (SURVEY.md §2.D scale path).
  *
  * The index is a coarse quantizer: k centroid vectors partition the
  * corpus into cells; queries probe only their nprobe nearest cells. All
  * steps are deterministic (no RNG) and shaped for 100 TB:
  *
  *  - assignment = broadcast join against the tiny centroid table + one
  *    windowed argmax — a narrow pass over the corpus;
  *  - search = shuffle by cell id, exact cosine only within probed cells;
  *  - training = spherical-Lloyd iterations, each a broadcast assignment
  *    plus one posexplode aggregation (shuffle by (cell, pos)) — no
  *    driver-side math over collected vectors.
  *
  * `base` must carry (vec_id, embedding: array<float>, n2); centroids
  * carry (c_id, c_emb, c_n2).
  */
object Ivf {

  private def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.dotProduct(a, b)

  private val simToCent: Column =
    dot(col("embedding"), col("c_emb")) / (sqrt(col("n2")) * sqrt(col("c_n2")))

  /** Default cell count for a corpus of `n` vectors: ~√n, floor 16.
    * A FIXED cell count over a growing corpus decays routed overlap
    * exactly like a fixed search budget (measured: fused-top-20
    * agreement 19→12/20 across 2k→64k vectors at 16 cells; √n cells +
    * nprobe 8 restores 18/20 — BASELINE.md HybridScale), so build-time
    * defaults derive geometry from the corpus they index instead of
    * shipping a fixture-scale constant a naive caller would deploy at
    * 100 TB. Pass an explicit `cells` to pin geometry — the contract
    * queries do, and appends/as-of reads keep whatever geometry the
    * build stored (re-grain only via rebuild).
    */
  def defaultCells(n: Long): Int =
    math.max(16, math.round(math.sqrt(n.toDouble)).toInt)

  /** Deterministic seed centroids: the k lowest-id vectors (rank-based,
    * so sparse or offset id spaces still yield k centroids).
    */
  def seedCentroids(base: DataFrame, k: Int): DataFrame =
    base.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("n2").as("c_n2"))

  /** Nearest-centroid assignment: (cell, vec_id, embedding, n2, sim).
    *
    * Argmax over the k-amplified corpus is a `max_by` aggregation, not a
    * row_number window: the aggregate gets map-side partial combine and
    * no per-vector sort — at 100 TB the window variant would shuffle and
    * sort k× the corpus. Tiebreak matches the previous window ordering
    * (sim DESC, c_id ASC) via the (sim, -c_id) struct key, which is
    * unique per (vec_id, c_id).
    */
  def assign(base: DataFrame, cents: DataFrame): DataFrame =
    base.crossJoin(broadcast(cents))
      .withColumn("sim", simToCent)
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct(col("c_id"), col("embedding"), col("n2"), col("sim")),
        struct(col("sim"), (-col("c_id")).as("neg_cid"))).as("best"))
      .select(col("best.c_id").as("cell"), col("vec_id"),
        col("best.embedding").as("embedding"), col("best.n2").as("n2"),
        col("best.sim").as("sim"))

  /** One spherical-Lloyd iteration: new centroid = per-cell mean vector
    * (posexplode + avg — the aggregation shuffles by (cell, pos), never
    * collects vectors to the driver). Cells that lose all members drop
    * out (k may shrink). Reproducibility caveat: avg accumulates doubles
    * in shuffle-merge order, so trained centroids can differ in final
    * ulps across runs — training consumers must use coarse assertions
    * (the contract query q_knn_ivf uses only the untrained seed
    * centroids, which are exactly reproducible).
    */
  def refine(base: DataFrame, cents: DataFrame): DataFrame = {
    val means = assign(base, cents)
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(avg(col("v")).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m").cast(FloatType)).as("c_emb"))
    means.select(col("cell").as("c_id"), col("c_emb"))
      .withColumn("c_n2", dot(col("c_emb"), col("c_emb")))
  }

  /** `iters` spherical-Lloyd refinements of the seed centroids. */
  def train(base: DataFrame, k: Int, iters: Int): DataFrame =
    (0 until iters).foldLeft(seedCentroids(base, k))((c, _) => refine(base, c))

  /** Derived nprobe (r18 — the [[defaultCells]] discipline applied to
    * the SEARCH knob): probe enough cells that the expected candidate
    * pool `nprobe·n/cells` reaches `minCandidates`, floored at
    * max(4, cells/16) and capped at `cells`.
    *
    * The pool term binds on SMALL corpora — true neighbors sit at
    * middling cosine there and a 4-of-16-cell probe reads recall 0.92
    * at the 500-vector fixtures while probing wide is nearly free
    * (AnnSmallGrid, BASELINE.md r18: nprobe 12-16 reads 1.00 at both).
    *
    * The `cells/16` FRACTION floor is the r18 wave-3 correction
    * (IvfScale, BASELINE.md): hard-regime recall tracks the probed
    * fraction of cells, not the candidate-pool size — at a 200k-vector
    * 0.3-jitter cloud with √n = 447 cells, the old pool-only floor
    * probed 4 cells and read recall@5 0.444, while 27 = cells/16 probes
    * read 0.852 at the SAME candidate pool as the validated 4-of-64
    * regime (which reads 0.614 — finer cells rank cells better, the
    * point of √n cells for the indexed path). 1/16 is that validated
    * fraction. Cost note: the fraction floor keeps per-search candidate
    * work ≈ n/16 regardless of cells — the cells knob buys cell-ranking
    * precision, not pool shrinkage, once corpora are hard.
    */
  def defaultNprobe(n: Long, cells: Int, minCandidates: Long = 512L): Int =
    math.max(math.max(4L, cells / 16L), math.min(cells.toLong,
      (minCandidates * cells + n - 1) / math.max(1L, n))).toInt

  /** Top-k cosine search restricted to each query's nprobe nearest cells.
    * Output: (q_id, vec_id, cos, rn) ranked per query.
    */
  def search(base: DataFrame, cents: DataFrame, queryPred: Column,
      k: Int, nprobe: Int): DataFrame =
    rankProbed(
      probesOf(base.filter(queryPred), cents, nprobe),
      assign(base, cents)
        .select(col("cell"), col("vec_id"), col("embedding"), col("n2")),
      k)

  /** Each query row's nprobe nearest cells:
    * (cell, q_id, q_emb, q_n2) — one output row per (query, probed cell).
    */
  private[operators] def probesOf(queries: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    queries.crossJoin(broadcast(cents))
      .withColumn("sim", simToCent)
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("c_id").as("cell"), col("vec_id").as("q_id"),
        col("embedding").as("q_emb"), col("n2").as("q_n2"))
  }

  /** Exact cosine top-k of each probe's candidates: the cell equijoin
    * brings a query together only with its probed cells' members.
    */
  private def rankProbed(probes: DataFrame, assigned: DataFrame,
      k: Int): DataFrame = {
    val cos = round(dot(col("q_emb"), col("embedding")) /
      (sqrt(col("q_n2")) * sqrt(col("n2"))), 6)
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    probes.join(assigned, "cell")
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), cos.as("cos"))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= k)
      .orderBy(col("q_id"), col("rn"))
  }

  /** Two-level coarse assignment (r19 — the index-free derived-cells
    * escape the r18 IvfScale ladder scoped): route each vector to its
    * nearest of `groups` GROUP centroids first, then argmax only over
    * that group's cells. One-level [[assign]] scores n·cells pairs — at
    * the derived √n-cells geometry that is n^1.5 and the measured reason
    * index-free `search` was unaffordable at 200k vectors (IvfScale r18:
    * train 253 s / search 115 s at 447 cells vs 17/8 s at 64). Here the
    * scoring cost is n·(groups + cells/groups), minimized ≈ 2n·√cells at
    * groups ≈ √cells — for 447 cells a ~10× scoring cut.
    *
    * Group centroids are the deterministic [[seedCentroids]] of the CELL
    * centroid table (lowest-c_id cells), and cells route to groups by
    * the same argmax — no RNG anywhere, so the assignment is exactly
    * reproducible. The output is an APPROXIMATION of [[assign]]: a
    * vector whose true nearest cell lives in a non-routed group lands in
    * the best cell of its routed group instead (recall measured on the
    * IvfScale rung — BASELINE.md r19). `groups = 1` routes everything to
    * one group containing every cell and IS [[assign]] bit-for-bit
    * (IvfIndexSpec pins the law). The CONTRACT rows keep one-level
    * assignment: q_knn_ivf/q_sample_diverse pin cells = 16, where
    * one-level scoring is already linear and a second routing pass is
    * pure overhead — this surface exists for derived-cells geometries.
    */
  def assignTwoLevel(base: DataFrame, cents: DataFrame,
      groups: Int): DataFrame = {
    require(groups > 0, s"groups must be positive, got $groups")
    val cellsAsVecs = cents.select(col("c_id").as("vec_id"),
      col("c_emb").as("embedding"), col("c_n2").as("n2"))
    val gcents = seedCentroids(cellsAsVecs, groups)
      .select(col("c_id").as("g_id"), col("c_emb").as("g_emb"),
        col("c_n2").as("g_n2"))
    def toGroup(d: DataFrame): DataFrame = {
      val gsim = dot(col("embedding"), col("g_emb")) /
        (sqrt(col("n2")) * sqrt(col("g_n2")))
      d.crossJoin(broadcast(gcents))
        .withColumn("gsim", gsim)
        .groupBy(col("vec_id"))
        .agg(max_by(struct(col("g_id"), col("embedding"), col("n2")),
          struct(col("gsim"), (-col("g_id")).as("neg_gid"))).as("best"))
        .select(col("best.g_id").as("grp"), col("vec_id"),
          col("best.embedding").as("embedding"), col("best.n2").as("n2"))
    }
    val centsG = toGroup(cellsAsVecs)
      .select(col("grp"), col("vec_id").as("c_id"))
      .join(cents, "c_id")
    toGroup(base).join(broadcast(centsG), "grp")
      .withColumn("sim", simToCent)
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct(col("c_id"), col("embedding"), col("n2"), col("sim")),
        struct(col("sim"), (-col("c_id")).as("neg_cid"))).as("best"))
      .select(col("best.c_id").as("cell"), col("vec_id"),
        col("best.embedding").as("embedding"), col("best.n2").as("n2"),
        col("best.sim").as("sim"))
  }

  /** [[search]] with the corpus side assigned via [[assignTwoLevel]] —
    * the index-free form whose per-call cost follows 2n√cells instead
    * of n·cells, making DERIVED cell counts affordable without a
    * persisted index (queries still rank probes against exact cell
    * centroids; only corpus membership is two-level-approximated).
    */
  def searchTwoLevel(base: DataFrame, cents: DataFrame, queryPred: Column,
      k: Int, nprobe: Int, groups: Int): DataFrame =
    rankProbed(
      probesOf(base.filter(queryPred), cents, nprobe),
      assignTwoLevel(base, cents, groups)
        .select(col("cell"), col("vec_id"), col("embedding"), col("n2")),
      k)

  /** Materialize the index: centroids at `path`/centroids, the assigned
    * corpus at `path`/cells partitioned by cell id — so cell membership
    * becomes directory layout, and a query-time cell predicate becomes
    * partition PRUNING at the file listing. This is the build-once /
    * query-many posture: at 100 TB the assignment pass runs once, and
    * each query batch reads only its probed cells' files instead of
    * re-scanning (and re-shuffling) the corpus per search.
    */
  def writeIndex(base: DataFrame, cents: DataFrame, path: String): Unit =
    // rebuild replaces the whole index inside the fail-closed build
    // bracket ([[IndexStore.build]]), which also clears a stale PQ build
    // sentinel — this rebuild is the repair of a crashed PQ build
    IndexStore.build(base.sparkSession, path, Seq("cells")) { init =>
      // a rebuild-in-place over a former PQ index must not leave its
      // sidecars (or books): stale _pq_perm/_pq_residual/_pq_m would make
      // requireIvfReadable refuse the freshly built VALID plain index
      // forever, and a stale books dir would brick appendIndex — the same
      // rebuild-clears-markers discipline Pq.writeIndex applies
      val conf = base.sparkSession.sparkContext.hadoopConfiguration
      Seq(s"$path/_pq_perm", s"$path/_pq_residual", s"$path/_pq_m")
        .foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(conf).delete(p, false)
        }
      val books = new org.apache.hadoop.fs.Path(s"$path/books")
      books.getFileSystem(conf).delete(books, true)
      cents.write.mode("overwrite").parquet(s"$path/centroids")
      // batch=… above the cell dirs, like the dedup indexes: increments
      // ([[appendIndex]]) land in their own discoverable partition level,
      // replays overwrite themselves, and the cell partition column — the
      // one pruning keys on — is preserved at every level
      assign(base, cents)
        .select(col("vec_id"), col("embedding"), col("n2"), col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(init("cells"))
    }

  /** [[IndexStore.buildAside]] for the IVF index: the replacement
    * (typically with RETRAINED centroids — the drift cure) builds beside
    * the live index, which keeps serving; promotion is two renames. */
  def rebuildIndexAside(base: DataFrame, cents: DataFrame,
      path: String): Unit =
    IndexStore.buildAside(base.sparkSession, path)(writeIndex(base, cents, _))

  /** [[driftSummary]]'s verdict wired to its cure — the IVF twin of
    * [[NnDescent.maybeRebuildAside]] (the r14 verdict's asymmetry: the
    * graph family had verdict-to-cure, IVF made the operator loop glue
    * them manually): when `rebuild_recommended`, aside-rebuild with
    * RETRAINED centroids over the corpus read from the live index's own
    * cells, and return true; otherwise leave the index untouched and
    * return false.
    *
    * `cells <= 0` (the default) derives the cell count from the stored
    * centroids — same re-grain hazard and cure as the graph twin.
    * `iters > 0` adds Lloyd refinement passes on top of the
    * deterministic [[seedCentroids]] seeding ([[train]]); 0 keeps the
    * contract seeding rule, which is what [[PyBridge.ivfRebuildIndexAside]]
    * uses. Refuses PQ-marked indexes ([[requireIvfReadable]]) — a plain
    * rebuild over a PQ index would strip its sidecars and orphan its
    * codebooks.
    */
  def maybeRebuildAside(spark: org.apache.spark.sql.SparkSession,
      path: String, cells: Int = 0, iters: Int = 0,
      growthMax: Double = 3.0, residRatioMax: Double = 1.2): Boolean = {
    val idx = IndexStore.open(spark, path, Seq("cells"))
    requireIvfReadable(spark, path)
    val flagged = driftSummary(spark, path, growthMax, residRatioMax)
      .head.getAs[Boolean]("rebuild_recommended")
    if (flagged) {
      val c = if (cells > 0) cells
        else spark.read.parquet(s"$path/centroids").count().toInt.max(1)
      // corpus from the live index itself; checkpoint because the
      // rebuild writes beside the dirs it read (the NnDescent posture)
      val base = Materialize.cut(idx("cells",
          "vec_id LONG, embedding ARRAY<FLOAT>, n2 DOUBLE, cell LONG")
        .select(col("vec_id"), col("embedding"), col("n2")))
      val cents = if (iters > 0) train(base, c, iters)
        else seedCentroids(base, c)
      rebuildIndexAside(base, cents, path)
    }
    flagged
  }

  /** Grow a materialized index: assign `vecs` (vec_id, embedding, n2)
    * against the INDEX's OWN centroids and write them into their cells
    * under the increment's `batch=tag` dir — the corpus-growth path
    * (rebuild cadence = centroid drift, not corpus size; new vectors
    * just join their nearest cell). Overwrite of the tag's dir makes an
    * at-least-once replay rewrite itself, as with the dedup indexes.
    */
  /** A [[Pq]] index shares this cells layout (SURVEY: "composes with the
    * IVF cells layout"), but its sidecars change the semantics: a
    * `_pq_perm` index stores PERMUTED vectors (original-space queries
    * against them silently mis-rank — only the Pq entry points apply the
    * stored permutation), and an Ivf APPEND to any PQ index (books
    * present) would insert codes-less rows the ADC scan can never
    * shortlist — invisible vectors. Each
    * case is refused here rather than answered wrongly.
    */
  private def requireIvfReadable(
      spark: org.apache.spark.sql.SparkSession, path: String,
      forAppend: Boolean = false): Unit = {
    def exists(f: String) = {
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    require(!exists(s"$path/_pq_perm"),
      s"$path is a permutation-built PQ index: its stored vectors are " +
        "permuted, and only the Pq entry points apply the stored " +
        "permutation to incoming original-space vectors — use " +
        "Pq.searchIndex/searchIndexResidual")
    if (forAppend)
      require(!exists(s"$path/books"),
        s"$path is a PQ index (books present) — append through " +
          "Pq.appendIndex so the increment is coded; an uncoded row is " +
          "invisible to the ADC shortlist")
  }

  def appendIndex(spark: org.apache.spark.sql.SparkSession, vecs: DataFrame,
      path: String, tag: String): Unit =
    IndexStore.append(spark, path, tag, Seq("cells")) { inc =>
      requireIvfReadable(spark, path, forAppend = true)
      val cents = spark.read.parquet(s"$path/centroids")
      // growth-only: a re-sent vec_id is ignored, not written into a
      // (possibly different) cell twice — see
      // [[graft.queries.VectorOps.dropExistingVecIds]]
      val fresh = graft.queries.VectorOps
        .dropExistingVecIds(vecs, inc.others("cells", "vec_id LONG"))
      assign(fresh, cents)
        .select(col("vec_id"), col("embedding"), col("n2"), col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(inc.dir("cells"))
    }

  /** Fold the cells table's accumulated `batch=` increments into one
    * fresh `batch=init` level, keeping the `cell=` directory layout
    * pruning depends on ([[IndexStore.compact]]).
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      numFiles: Int = 0): Unit =
    IndexStore.compact(spark, path, Seq("cells"), numFiles, Seq("cell"))

  /** Centroid-drift observability (r13): [[appendIndex]] grows cells
    * against FROZEN centroids forever, so after heavy ingest the cell
    * balance decays and recall silently sags — the coarse quantizer no
    * longer describes the corpus. This reads the index's own `batch=`
    * layout (build rows live under `batch=init`, every increment under
    * its tag) and reports, per cell:
    *
    *   - `n_init` / `n_total` / `growth` — membership at build time vs
    *     now (an appended mode collapsing into one cell shows up as
    *     growth skew long before recall measurements would);
    *   - `resid_init` / `resid_appended` / `resid_ratio` — mean
    *     residual norm ‖x − c(cell)‖ of build-time vs appended members:
    *     appended vectors the frozen centroid fits WORSE than its own
    *     build population sit farther from it, and when they straddle a
    *     Voronoi boundary, low-nprobe probes miss them.
    *
    * One scan of the cells table + the broadcast centroid join — the
    * assignment pass's exact shape, safe to run on any cadence. Note
    * compaction ([[compactIndex]]) folds increments into `batch=init`
    * and therefore RESETS the baseline — run drift stats before
    * compacting, or treat compaction as accepting the grown population
    * as the new normal.
    *
    * Documented rebuild trigger (DEPLOY.md): rebuild when any cell's
    * `growth` exceeds ~3× while the index-wide appended share is
    * material, or the appended-weighted mean `resid_ratio` exceeds
    * ~1.2 — both thresholds measured in IvfIndexSpec, where a drifted
    * ingest degrades nprobe=1 recall, these stats flag it, and a
    * rebuild ([[writeIndex]] with retrained centroids) restores it.
    */
  def driftStats(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val idx = IndexStore.open(spark, path, Seq("cells"))
    requireIvfReadable(spark, path)
    driftStatsOn(idx("cells"), spark.read.parquet(s"$path/centroids"))
  }

  /** The drift aggregation over an explicit (cell, vec_id, embedding,
    * n2, batch) frame — shared with the graph index, whose cells
    * component stores routing rows without embeddings
    * ([[NnDescent.driftStats]] joins them back from its vectors
    * component before calling this).
    */
  private[operators] def driftStatsOn(rows: DataFrame,
      cents: DataFrame): DataFrame = {
    val resid2 = greatest(
      col("n2") - lit(2.0) * dot(col("embedding"), col("c_emb")) + col("c_n2"),
      lit(0.0))
    val isInit = col("batch").cast("string") === "init"
    rows.join(broadcast(cents), col("cell") === col("c_id"))
      .groupBy(col("cell"))
      .agg(
        sum(when(isInit, 1L).otherwise(0L)).as("n_init"),
        count(lit(1)).as("n_total"),
        avg(when(isInit, sqrt(resid2))).as("resid_init"),
        avg(when(!isInit, sqrt(resid2))).as("resid_appended"))
      .withColumn("growth",
        col("n_total").cast("double") / greatest(col("n_init"), lit(1L)))
      .withColumn("resid_ratio", col("resid_appended") / col("resid_init"))
      .orderBy(col("cell"))
  }

  /** One-row roll-up of [[driftStats]] with the rebuild verdict:
    * `rebuild_recommended` fires when any cell grew past `growthMax`
    * (with a non-trivial appended share overall) or the appended-
    * weighted mean residual ratio exceeds `residRatioMax`. Thresholds
    * are knobs because drift tolerance is a recall budget — see the
    * DEPLOY.md note for how they were placed.
    */
  def driftSummary(spark: org.apache.spark.sql.SparkSession, path: String,
      growthMax: Double = 3.0, residRatioMax: Double = 1.2): DataFrame =
    driftSummaryOf(driftStats(spark, path), growthMax, residRatioMax)

  /** Roll-up of a [[driftStats]]-shaped frame (shared with
    * [[NnDescent.driftSummary]]).
    */
  private[operators] def driftSummaryOf(stats: DataFrame,
      growthMax: Double, residRatioMax: Double): DataFrame = {
    stats
      .agg(
        count(lit(1)).as("n_cells"),
        sum(col("n_total") - col("n_init")).as("n_appended"),
        sum(col("n_total")).as("n_total"),
        max(col("growth")).as("max_growth"),
        (sum(col("resid_ratio") * (col("n_total") - col("n_init"))) /
          sum(when(col("resid_ratio").isNotNull,
            col("n_total") - col("n_init")).otherwise(0L)))
          .as("resid_ratio_weighted"))
      .withColumn("appended_share",
        col("n_appended").cast("double") / col("n_total"))
      .withColumn("rebuild_recommended",
        (col("max_growth") > growthMax && col("appended_share") > 0.1) ||
          coalesce(col("resid_ratio_weighted") > residRatioMax, lit(false)))
  }

  /** Top-k cosine search over a materialized index. `queries` carries
    * (vec_id, embedding, n2) — external ids are fine (self-matches are
    * excluded by id equality, as in [[search]]).
    *
    * The cell equijoin keys on the RAW partition column of the cells
    * table (the probe side casts to ITS type — a cast on the partition
    * attribute would defeat pruning), so Catalyst prunes the scan to the
    * probed cells: dynamic partition pruning when the planner inserts it
    * (the probe side is broadcast-sized by construction), and the
    * `staticPrune` form — which collects the ≤ |queries|·nprobe probed
    * cell ids (bounded and tiny for the ANN case) into an IN-list
    * partition filter — when the guarantee must not depend on planner
    * heuristics. Both read only nprobe cells' files per query batch.
    *
    * With `asOf`, the search runs against the index AS OF a recorded
    * batch tag ([[IndexStore.indexHistory]]): top-k against exactly the
    * corpus some earlier [[appendIndex]] left behind. Centroids are
    * frozen at build, so the snapshot search IS the historical search —
    * same probes, the prefix's cells. The batch filter composes with the
    * cell IN-list: the scan partition-prunes on BOTH levels (prefix dirs
    * × probed cells).
    */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int,
      staticPrune: Boolean = false,
      asOf: Option[String] = None): DataFrame = {
    val idx = IndexStore.open(spark, path, Seq("cells"),
      IndexStore.View.of(asOf))
    requireIvfReadable(spark, path)
    val cents = spark.read.parquet(s"$path/centroids")
    val cells = idx("cells")
    val cellType = cells.schema("cell").dataType
    val probes0 = probesOf(queries, cents, nprobe)
      .withColumn("cell", col("cell").cast(cellType))
    // static mode materializes the probes once: the IN-list collect and
    // the ranking join must not each re-execute the probe subplan
    val probes = if (staticPrune) Materialize.cut(probes0) else probes0
    val assigned =
      if (!staticPrune) cells
      else {
        val probed = probes.select(col("cell")).distinct()
          .collect().map(_.get(0))
        cells.filter(col("cell").isin(probed: _*))
      }
    rankProbed(probes,
      assigned.select(col("cell"), col("vec_id"), col("embedding"),
        col("n2")), k)
  }
}
