package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, IntegerType}

/** Product quantization (PQ) ANN machinery — the memory-compression leg
  * of the similarity-search family (SURVEY.md §2.D). IVF
  * ([[Ivf]]) makes search sublinear by probing cells; PQ makes the
  * per-vector footprint constant: a D-dim float vector (4·D bytes)
  * becomes `m` sub-codebook ids (one small int each), and approximate
  * scores are computed from the codes alone via asymmetric distance
  * computation (ADC). At 100 TB of embeddings the corpus the search
  * actually scans shrinks ~32× (64-dim float → 8 codes), which is the
  * difference between an in-page-cache scan and re-reading the corpus
  * per query batch.
  *
  * Shapes, all deterministic (no RNG) and distributed:
  *
  *  - codebooks: the embedding splits into `m` equal-width subspaces;
  *    each subspace gets `ks` centroids. Seeding takes the `ks`
  *    lowest-id vectors' subvectors (exactly reproducible — the same
  *    posture as [[Ivf.seedCentroids]]); optional Lloyd refinement is
  *    per-(subspace, code) mean aggregation, never driver-side math.
  *  - encode: nearest sub-centroid per (vector, subspace) by L2 —
  *    argmin ‖s−c‖² = argmax (s·c − ‖c‖²/2) since ‖s‖² is constant per
  *    row — as a broadcast join against the tiny codebook table plus one
  *    `max_by` aggregation (map-side combinable; no per-vector sort).
  *  - ADC: a query's score table (q · c for every (subspace, code)) is
  *    |Q|·m·ks rows — broadcast; exploded codes equi-join it on
  *    (subspace, code), and the per-(query, vector) approximate dot is a
  *    sum of m looked-up parts. The fold is applied over the parts
  *    sorted by subspace index, so the double accumulation order is
  *    fixed — approximate scores are bit-reproducible across runs and
  *    partitionings.
  *  - search: ADC shortlist (top `shortlist` per query by approximate
  *    dot) → exact cosine re-rank of shortlist candidates only, same
  *    output contract as [[Ivf.search]]: (q_id, vec_id, cos, rn).
  *
  * Approximation quality note: ADC approximates the DOT product, and the
  * re-rank uses exact cosine; for near-unit-norm corpora (the usual
  * embedding case) dot ranks ≈ cosine ranks and the shortlist absorbs
  * the difference. `ks` must stay modest relative to the corpus slice
  * that trains it (seeding uses the `ks` lowest ids); recall vs the
  * exact baseline is the acceptance test ([[graft.VectorOpsSpec]]), as
  * with every sketch operator here.
  */
object Pq {

  private def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.dotProduct(a, b)

  /** One row per (id, subspace j): the j-th of `m` equal slices of
    * `embCol`. The embedding width must be divisible by `m` (the last
    * slice silently shortens otherwise — callers assert via
    * [[codebookWidth]] in specs).
    */
  private def subvectors(vecs: DataFrame, idCol: String, embCol: String,
      m: Int): DataFrame = {
    val d = (size(col(embCol)) / m).cast(IntegerType)
    vecs.select(col(idCol), posexplode(
      transform(sequence(lit(0), lit(m - 1)),
        j => slice(col(embCol), j * d + 1, d))).as(Seq("j", "sub")))
  }

  /** Subspace width the codebook table was built with (for assertions). */
  def codebookWidth(books: DataFrame): Int =
    books.select(max(size(col("c_emb")))).head().getInt(0)

  /** Deterministic seed codebooks: for every subspace j, the `ks`
    * lowest-id vectors' j-subvectors, coded 0..ks−1 in id order.
    * Output: (j, c_id, c_emb array<float>, c_n2).
    */
  def seedCodebooks(base: DataFrame, m: Int, ks: Int): DataFrame = {
    val low = base.orderBy(col("vec_id")).limit(ks)
      .select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy(col("j")).orderBy(col("vec_id"))
    subvectors(low, "vec_id", "embedding", m)
      .withColumn("c_id", row_number().over(w) - 1)
      .select(col("j"), col("c_id"), col("sub").as("c_emb"),
        dot(col("sub"), col("sub")).as("c_n2"))
  }

  /** Nearest sub-centroid per (vec_id, j): L2 argmin as a `max_by` over
    * score = s·c − ‖c‖²/2 with a (score, −c_id) struct key — smaller
    * c_id wins exact ties, and the aggregate gets map-side partial
    * combine (no per-vector sort, same rationale as [[Ivf.assign]]).
    */
  private def assignSubs(subs: DataFrame, books: DataFrame): DataFrame =
    subs.join(broadcast(books), "j")
      .withColumn("score", dot(col("sub"), col("c_emb")) - col("c_n2") / 2)
      .groupBy(col("vec_id"), col("j"))
      .agg(max_by(struct(col("c_id"), col("sub")),
        struct(col("score"), (-col("c_id")).as("neg"))).as("best"))
      .select(col("vec_id"), col("j"), col("best.sub").as("sub"),
        col("best.c_id").as("code"))

  /** PQ-encode the corpus: (vec_id, codes array<int> of length m, codes
    * ordered by subspace index).
    */
  def encode(base: DataFrame, books: DataFrame, m: Int): DataFrame =
    assignSubs(subvectors(base, "vec_id", "embedding", m), books)
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("j"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** One Lloyd refinement: new sub-centroid = per-(j, code) mean
    * subvector (posexplode + avg — shuffles by (j, code, pos), never
    * collects to the driver). Codes that lose all members drop out.
    * Same reproducibility caveat as [[Ivf.refine]]: avg accumulates
    * doubles in shuffle-merge order, so trained books can differ in
    * final ulps across runs — contract queries use seed books only.
    */
  def refine(base: DataFrame, books: DataFrame, m: Int): DataFrame =
    assignSubs(subvectors(base, "vec_id", "embedding", m), books)
      .select(col("j"), col("code"), posexplode(col("sub")).as(Seq("pos", "v")))
      .groupBy(col("j"), col("code"), col("pos"))
      .agg(avg(col("v")).as("mv"))
      .groupBy(col("j"), col("code"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
        s => s.getField("mv").cast(FloatType)).as("c_emb"))
      .select(col("j"), col("code").as("c_id"), col("c_emb"),
        dot(col("c_emb"), col("c_emb")).as("c_n2"))

  /** `iters` Lloyd refinements of the seed codebooks. */
  def train(base: DataFrame, m: Int, ks: Int, iters: Int): DataFrame =
    (0 until iters).foldLeft(seedCodebooks(base, m, ks))(
      (b, _) => refine(base, b, m))

  /** Per-query ADC lookup table: (q_id, j, code, part = q_j · c). At
    * |Q|·m·ks rows it is broadcast-sized by construction for any sane
    * query batch.
    */
  private def lutOf(queries: DataFrame, books: DataFrame, m: Int): DataFrame =
    subvectors(
      queries.select(col("vec_id").as("q_id"), col("embedding")),
      "q_id", "embedding", m)
      .join(books, "j")
      .select(col("q_id"), col("j"), col("c_id").as("code"),
        dot(col("sub"), col("c_emb")).as("part"))

  /** ADC shortlist core — ONE implementation of the approximate-scoring
    * half shared by every search path (the twin of [[rerankShortlist]]
    * on the exact half, for the same no-drift reason): `coded` rows of
    * (vec_id, j, code) — optionally already carrying q_id (probed index
    * scans) and a per-(query, cell) additive term (the residual path's
    * q·c) — equi-join the broadcast LUT on `lutKeys`, self-pairs drop,
    * the m parts fold in subspace order (order-deterministic scores),
    * and each query keeps its `shortlist` best. The probe side never
    * touches raw embeddings.
    */
  private def adcShortlist(coded: DataFrame, lut: DataFrame,
      lutKeys: Seq[String], shortlist: Int,
      extraCol: Option[String] = None): DataFrame = {
    val pairs = coded
      .join(broadcast(lut), lutKeys)
      .filter(col("vec_id") =!= col("q_id"))
    val fold = aggregate(
      transform(array_sort(collect_list(struct(col("j"), col("part")))),
        s => s.getField("part")),
      lit(0.0), (a, x) => a + x)
    val scored = extraCol match {
      case Some(c) =>
        // the additive term is constant per (q_id, vec_id) — a vector
        // lives in exactly one cell — so max() just carries it
        pairs.groupBy(col("q_id"), col("vec_id"))
          .agg(max(col(c)).as(c), fold.as("approx_res"))
          .withColumn("approx", col(c) + col("approx_res"))
      case None =>
        pairs.groupBy(col("q_id"), col("vec_id"))
          .agg(fold.as("approx"))
    }
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("approx").desc, col("vec_id").asc)
    scored.withColumn("srn", row_number().over(w))
      .filter(col("srn") <= shortlist)
      .select(col("q_id"), col("vec_id"))
  }

  /** Full-scan ADC shortlist over an in-memory code table. */
  private def shortlistOf(codes: DataFrame, books: DataFrame,
      queries: DataFrame, m: Int, shortlist: Int): DataFrame =
    adcShortlist(
      codes.select(col("vec_id"), posexplode(col("codes")).as(Seq("j", "code"))),
      lutOf(queries, books, m), Seq("j", "code"), shortlist)

  /** Exact-cosine re-rank of the ADC shortlist: only shortlist
    * candidates pay a raw-vector read. `raw` carries
    * (vec_id, embedding, n2); queries likewise. Output matches
    * [[Ivf.search]]: (q_id, vec_id, cos, rn) with rn ≤ k.
    */
  /** Exact-cosine re-rank of a (q_id, vec_id) shortlist against raw
    * vectors — the tail every PQ search variant shares (one
    * implementation, so a tie-break or rounding fix cannot drift
    * between the in-memory, index and residual-index paths).
    */
  private def rerankShortlist(short: DataFrame, raw: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), col("n2").as("q_n2"))
    val cos = round(dot(col("q_emb"), col("embedding")) /
      (sqrt(col("q_n2")) * sqrt(col("n2"))), 6)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    short
      .join(raw.select(col("vec_id"), col("embedding"), col("n2")), "vec_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("vec_id"), cos.as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy(col("q_id"), col("rn"))
  }

  def searchWithCodes(codes: DataFrame, raw: DataFrame, books: DataFrame,
      queries: DataFrame, k: Int, shortlist: Int, m: Int): DataFrame =
    rerankShortlist(shortlistOf(codes, books, queries, m, shortlist),
      raw, queries, k)

  /** Encode-and-search in one call (the in-memory form). */
  def search(base: DataFrame, books: DataFrame, queries: DataFrame,
      k: Int, shortlist: Int, m: Int): DataFrame =
    searchWithCodes(encode(base, books, m), base, books, queries,
      k, shortlist, m)

  // ------------------------------------------------ IVF-PQ index on disk

  /** Materialize an IVF-PQ index: coarse centroids route vectors to
    * cells ([[Ivf.assign]]), PQ codes compress them within cells. Layout
    * mirrors [[Ivf.writeIndex]] (`batch=init/cell=…` dirs so cell
    * membership is directory layout and probes prune at file listing);
    * rows carry (vec_id, codes, embedding, n2) — parquet is columnar,
    * so the ADC scan reads ONLY the codes column (~16 B/row) while the
    * re-rank join reads embeddings for shortlist resolution alone. At
    * 100 TB the raw-embedding column can live in a separate store keyed
    * by vec_id; the search shape is unchanged.
    */
  def writeIndex(base: DataFrame, cents: DataFrame, books: DataFrame,
      path: String, m: Int): Unit =
    writeIndexImpl(base, cents, books, path, m, None)

  private def writeIndexImpl(base: DataFrame, cents: DataFrame,
      books: DataFrame, path: String, m: Int,
      perm: Option[Array[Int]]): Unit = {
    val spark = base.sparkSession
    IndexStore.build(spark, path, Seq("cells"), BuildSentinel) { init =>
      // a rebuild-in-place over a former residual index clears the marker
      // (else searchIndex would refuse the new plain index and
      // searchIndexResidual would accept it with a spurious q·c term);
      // the build sentinel covers the crash window this reordering opens.
      // The perm marker is cleared for the same reason: a plain rebuild
      // over a former permuted index must not leave searches permuting.
      clearResidualMarker(spark, path)
      clearPermMarker(spark, path)
      cents.write.mode("overwrite").parquet(s"$path/centroids")
      books.write.mode("overwrite").parquet(s"$path/books")
      Ivf.assign(base, cents)
        .join(encode(base, books, m), "vec_id")
        .select(col("vec_id"), col("codes"), col("embedding"), col("n2"),
          col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(init("cells"))
      // inside the sentinel window, so no reader can see a permuted-built
      // index without its marker
      perm.foreach(p => writePermMarker(spark, path, p))
      writeMMarker(spark, path, m)
    }
  }

  /** Grow a materialized IVF-PQ index: assign and encode `vecs`
    * (vec_id, embedding, n2) against the INDEX's OWN centroids and
    * codebooks, writing them into their cells under the increment's
    * `batch=tag` dir — the same corpus-growth path as
    * [[Ivf.appendIndex]] (rebuild cadence = centroid/codebook drift, not
    * corpus size; replays of a tag overwrite themselves).
    */
  def appendIndex(spark: SparkSession, vecs: DataFrame, path: String,
      tag: String, m: Int): Unit =
    IndexStore.append(spark, path, tag, Seq("cells")) { inc =>
      requireM(spark, path, m)
      val cents = spark.read.parquet(s"$path/centroids")
      val books = spark.read.parquet(s"$path/books")
      // growth-only: re-sent vec_ids are dropped, not re-coded — after
      // centroid drift a duplicate could land in a DIFFERENT cell, and the
      // residual fold's max(qc) (one-cell-per-vector premise,
      // [[adcShortlist]]) would then mix cells into a garbage score
      val vecsFresh0 = graft.queries.VectorOps
        .dropExistingVecIds(vecs, inc.others("cells", "vec_id LONG"))
      // a permuted-built index stores permuted vectors — the increment's
      // original-space vectors must be permuted before assign/encode, or
      // their codes would be cut against codebooks of a different layout
      val vecsFresh = applyStoredPerm(spark, path, vecsFresh0)
      // a residual index ([[writeIndexResidual]]) quantizes x − c(cell):
      // the increment must encode residuals too, or its codes would be
      // raw vectors scored against residual codebooks — silent corruption
      // the _pq_residual marker exists to prevent. The residual frame is
      // checkpointed so cell lookup and encode share ONE assign pass.
      val rows =
        if (isResidualIndex(spark, path)) {
          val res = Materialize.cut(residuals(vecsFresh, cents))
          vecsFresh.select(col("vec_id"), col("embedding"), col("n2"))
            .join(res.select(col("vec_id"), col("cell")), "vec_id")
            .join(encode(res, books, m), "vec_id")
        } else {
          Ivf.assign(vecsFresh, cents).join(encode(vecsFresh, books, m), "vec_id")
        }
      rows
        .select(col("vec_id"), col("codes"), col("embedding"), col("n2"),
          col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(inc.dir("cells"))
    }

  /** [[IndexStore.buildAside]] for the PQ index — the
    * replacement (fresh centroids/codebooks, plain or residual or
    * permuted via `build`) trains and encodes beside the live index,
    * which keeps serving ADC searches; promotion is two renames. Pass
    * the build as a closure because PQ has three build forms:
    * {{{ Pq.rebuildIndexAside(spark, path)(Pq.writeIndexResidual(base, cents, _, m, ks, iters)) }}}
    */
  def rebuildIndexAside(spark: SparkSession, path: String)(
      build: String => Unit): Unit =
    IndexStore.buildAside(spark, path)(build)

  /** Fold accumulated `batch=` increments into one fresh `batch=init`
    * level, preserving the `cell=` layout pruning depends on — the
    * shared small-files/self-healing discipline of
    * [[IndexStore.compact]] (which fails closed on a crashed build: a
    * cadence job must not fold half-written cells).
    */
  def compactIndex(spark: SparkSession, path: String,
      numFiles: Int = 0): Unit =
    IndexStore.compact(spark, path, Seq("cells"), numFiles, Seq("cell"))

  /** IVF-PQ search over a materialized index: each query probes its
    * `nprobe` nearest cells (partition-pruned scan — the [[Ivf]]
    * machinery), ADC-scores ONLY the probed cells' codes, and re-ranks
    * its shortlist exactly. The candidate join keys on the raw `cell`
    * partition column (probe side casts to its type), preserving
    * partition pruning exactly as [[Ivf.searchIndex]]. With `asOf`,
    * against the index AS OF a recorded batch tag — centroids/codebooks/
    * permutation are frozen at build, so the snapshot search over the
    * prefix's cells IS the historical search (the [[Ivf.searchIndex]]
    * as-of law, with codes riding along).
    */
  def searchIndex(spark: SparkSession, path: String, queries0: DataFrame,
      k: Int, nprobe: Int, shortlist: Int, m: Int,
      asOf: Option[String] = None): DataFrame = {
    val idx = IndexStore.open(spark, path, Seq("cells"),
      IndexStore.View.of(asOf))
    require(!isResidualIndex(spark, path),
      s"$path is residual-encoded (writeIndexResidual) — plain ADC over " +
        "residual codes would rank garbage; use searchIndexResidual")
    requireM(spark, path, m)
    // a permuted-built index permutes incoming queries itself — the
    // caller always passes ORIGINAL-space vectors ([[writeIndexPermuted]])
    searchIndexBody(spark, path, idx("cells"),
      applyStoredPerm(spark, path, queries0), k, nprobe, shortlist, m)
  }

  /** [[searchIndex]] after entry validation and perm application — the
    * per-chunk unit [[searchIndexChunked]] drives without re-reading
    * sidecars.
    */
  private def searchIndexBody(spark: SparkSession, path: String,
      cells: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      shortlist: Int, m: Int): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
    val books = spark.read.parquet(s"$path/books")
    val cellType = cells.schema("cell").dataType
    val probes = Ivf.probesOf(queries, cents, nprobe)
      .withColumn("cell", col("cell").cast(cellType))
      .select(col("cell"), col("q_id"))
    // ADC over probed cells only: the lut join key carries q_id, so a
    // vector appearing in two queries' probed cells scores once per query
    val coded = probes
      .join(cells.select(col("cell"), col("vec_id"), col("codes")), "cell")
      .select(col("q_id"), col("vec_id"),
        posexplode(col("codes")).as(Seq("j", "code")))
    val short = adcShortlist(coded, lutOf(queries, books, m),
      Seq("q_id", "j", "code"), shortlist)
    rerankShortlist(short, cells, queries, k)
  }

  // --------------------------- variance-balanced permutation (OPQ-lite)

  /** Variance-balancing dimension permutation — the "natural baseline"
    * of OPQ (Ge et al., CVPR'13): instead of a learned rotation, PERMUTE
    * dimensions so each subspace carries a comparable share of the
    * corpus variance. A permutation preserves dot products and norms
    * exactly, so every downstream PQ path (train/encode/ADC/re-rank,
    * plain or residual, in-memory or indexed) works unchanged on
    * permuted vectors — the only effect is that no subspace is left
    * quantizing all the high-energy dims with one ks-entry codebook
    * while others quantize noise. Deterministic: per-dim variance via
    * one aggregation, dims in variance-descending order (ties → lower
    * dim), each assigned to the non-full subspace with the least
    * accumulated variance (ties → lower subspace id). Returns `perm`
    * where output slot i reads input dim perm(i) and subspace j owns
    * slots [j·d, (j+1)·d).
    *
    * Worthless on isotropic corpora (the fixture embeddings — measured
    * no-op) and exactly the fix when energy concentrates in a dim block
    * (PqSpec plants one and pins the recall lift).
    */
  def balancedPermutation(base: DataFrame, m: Int): Array[Int] = {
    val dims = base.select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(avg(col("v")).as("mu"), avg(col("v") * col("v")).as("m2"))
      .select(col("pos"), (col("m2") - col("mu") * col("mu")).as("varv"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1))
      .sortBy { case (pos, v) => (-v, pos) }
    val dTotal = dims.length
    require(dTotal % m == 0, s"dim $dTotal must divide into $m subspaces")
    val cap = dTotal / m
    val sums = Array.fill(m)(0.0)
    val slots = Array.fill(m)(List.empty[Int])
    dims.foreach { case (pos, v) =>
      val j = (0 until m).filter(slots(_).length < cap)
        .minBy(j => (sums(j), j))
      sums(j) += v
      slots(j) = pos :: slots(j)
    }
    slots.flatMap(_.reverse)
  }

  /** Apply a [[balancedPermutation]] to an embedding column — a fixed
    * array constructor over getItem, fully codegen'd (no interpreted
    * lambda in the hot path).
    */
  def permuted(embCol: Column, perm: Array[Int]): Column =
    array(perm.toSeq.map(p => embCol.getItem(p)): _*)

  // ------------------------------------- residual-encoded IVF-PQ (IVFADC)

  /** Residuals of `base` against its assigned IVF cells: r = x − c(cell),
    * as (vec_id, cell, embedding = r, n2 = ‖r‖²). The centroid absorbs
    * the cell's shared direction, so residual norms are a fraction of
    * raw norms and the SAME m×ks code budget quantizes a much tighter
    * cloud — the IVFADC refinement of Jégou et al. (PAMI'11, "Product
    * quantization for nearest neighbor search"): recall at a given
    * shortlist rises, or equivalently the shortlist (and the exact
    * re-rank's raw-vector reads) can shrink at held recall. One
    * broadcast join + per-row lambda math; no extra shuffle over
    * [[Ivf.assign]].
    */
  def residuals(base: DataFrame, cents: DataFrame): DataFrame =
    Ivf.assign(base, cents)
      .join(broadcast(cents.select(col("c_id").as("cell"), col("c_emb"))),
        "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("c_emb"),
          (x, c) => (x - c).cast(FloatType)).as("embedding"))
      .withColumn("n2", dot(col("embedding"), col("embedding")))

  private def residualMarker(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_pq_residual")
      .getFileSystem(spark.sparkContext.hadoopConfiguration) ->
      new org.apache.hadoop.fs.Path(s"$path/_pq_residual")

  private def clearResidualMarker(spark: SparkSession, path: String): Unit = {
    val (fs, marker) = residualMarker(spark, path)
    fs.delete(marker, false)
  }

  /** `_pq_perm` sidecar: the OPQ-lite permutation the index's vectors
    * were built under ([[writeIndexPermuted]]). Stored WITH the index —
    * not in the caller's head — so the search and append entry points
    * auto-apply it to incoming original-space vectors; without this, a
    * caller who builds permuted and forgets [[permuted]] on the query
    * side gets silently mis-ranked results (dots against permuted
    * codebooks from unpermuted queries), the exact misclassification
    * family the `_pq_residual` marker closes for residual coding.
    */
  private def permMarker(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_pq_perm")
      .getFileSystem(spark.sparkContext.hadoopConfiguration) ->
      new org.apache.hadoop.fs.Path(s"$path/_pq_perm")

  private def clearPermMarker(spark: SparkSession, path: String): Unit = {
    val (fs, marker) = permMarker(spark, path)
    fs.delete(marker, false)
  }

  private def writePermMarker(spark: SparkSession, path: String,
      perm: Array[Int]): Unit =
    IndexStore.setMarker(spark, path, "_pq_perm", perm.mkString(","))

  /** `_pq_m` sidecar: the subspace count the index's codes were cut at.
    * Search/append take `m` as a parameter (it shapes the query-side
    * LUT); a value disagreeing with the stored codes folds only the
    * overlapping subspaces into the score — not an error, just quietly
    * degraded ranking — so the entry points validate against the build's
    * recorded m and fail loudly instead.
    */
  private def writeMMarker(spark: SparkSession, path: String, m: Int): Unit =
    IndexStore.setMarker(spark, path, "_pq_m", m.toString)

  private def requireM(spark: SparkSession, path: String, m: Int): Unit =
    // pre-sidecar indexes (no file) skip the check
    IndexStore.marker(spark, path, "_pq_m").foreach {
      stored =>
        require(stored == m.toString,
          s"$path was built with m = $stored subspaces; calling with m = $m " +
            "would fold a mismatched lookup table into the codes (silently " +
            "degraded ranking) — pass the build's m or rebuild")
    }

  /** The permutation stored with the index, if it was built permuted. */
  def storedPerm(spark: SparkSession, path: String): Option[Array[Int]] =
    IndexStore.marker(spark, path, "_pq_perm")
      .map(_.split(",").map(_.toInt))

  /** Apply the index's stored permutation (if any) to an original-space
    * (…, embedding, …) frame — the shared entry-point step of search and
    * append. Norms are permutation-invariant, so n2 rides unchanged.
    */
  private def applyStoredPerm(spark: SparkSession, path: String,
      df: DataFrame): DataFrame =
    storedPerm(spark, path) match {
      case Some(p) =>
        df.withColumn("embedding",
          permuted(col("embedding"), p).cast("array<float>"))
      case None => df
    }

  /** `_pq_building`: PQ's own build sentinel ([[IndexStore.build]]),
    * raised before a writeIndex/writeIndexResidual touches ANY index
    * component and removed only after the last write lands. Every
    * entry point refuses an index carrying it, so a crash anywhere
    * mid-build — including an in-place CONVERSION between plain and
    * residual encodings, where partially-old partially-new components
    * would otherwise read as a valid index of either kind — fails
    * closed with a "rebuild" message instead of silently mis-ranking.
    * Its own name (not the root `_building`) keeps a PQ build
    * distinguishable in [[IndexStore.indexInfo]].
    */
  private val BuildSentinel = "_pq_building"

  /** [[writeIndex]] with RESIDUAL encoding: codebooks are trained on and
    * codes quantize x − c(cell), not x. Layout is identical (cells carry
    * raw embeddings for the re-rank; codes are the only ADC input) plus
    * a `_pq_residual` marker so the two search entry points cannot be
    * crossed: ADC against residual codes needs the q·c(cell) term
    * ([[searchIndexResidual]]), and plain ADC math over residual codes
    * would silently rank garbage.
    */
  def writeIndexResidual(base: DataFrame, cents: DataFrame, path: String,
      m: Int, ks: Int, iters: Int): Unit =
    writeIndexResidualImpl(base, cents, path, m, ks, iters, None)

  private def writeIndexResidualImpl(base: DataFrame, cents: DataFrame,
      path: String, m: Int, ks: Int, iters: Int,
      perm: Option[Array[Int]]): Unit = {
    val spark = base.sparkSession
    IndexStore.build(spark, path, Seq("cells"), BuildSentinel) { init =>
      // the marker lands with the sentinel up, so no reader can observe a
      // marked-but-plain (or unmarked-but-residual) intermediate state;
      // a stale perm marker from a previous permuted build is cleared
      // first for the same reason
      clearPermMarker(spark, path)
      val (fs, marker) = residualMarker(spark, path)
      fs.create(marker, true).close()
      val res = Materialize.cut(residuals(base, cents))
      val books = train(res, m, ks, iters)
      cents.write.mode("overwrite").parquet(s"$path/centroids")
      books.write.mode("overwrite").parquet(s"$path/books")
      base.join(res.select(col("vec_id"), col("cell")), "vec_id")
        .join(encode(res, books, m), "vec_id")
        .select(col("vec_id"), col("codes"), col("embedding"), col("n2"),
          col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(init("cells"))
      perm.foreach(p => writePermMarker(spark, path, p))
      writeMMarker(spark, path, m)
    }
  }

  /** Build an IVF-PQ index with the OPQ-lite permutation BAKED IN: the
    * permutation is derived from the corpus ([[balancedPermutation]]),
    * centroids and codebooks train on the PERMUTED vectors, and the
    * `_pq_perm` sidecar rides with the index so [[searchIndex]] /
    * [[searchIndexResidual]] / [[appendIndex]] auto-permute incoming
    * ORIGINAL-space vectors — callers never handle the permutation and
    * therefore cannot forget it on the query side (which would silently
    * mis-rank: dots of unpermuted queries against permuted codebooks).
    * Returns the permutation for observability.
    */
  def writeIndexPermuted(base: DataFrame, path: String, m: Int, ks: Int,
      cells: Int, iters: Int, residual: Boolean = false): Array[Int] = {
    val perm = balancedPermutation(base, m)
    // feeds train + assign + encode once
    val pbase = Materialize.cut(base.select(col("vec_id"),
      permuted(col("embedding"), perm).cast("array<float>").as("embedding"),
      col("n2")))
    val cents = Materialize.cut(Ivf.train(pbase, cells, iters))
    if (residual) writeIndexResidualImpl(pbase, cents, path, m, ks, iters,
      Some(perm))
    else writeIndexImpl(pbase, cents, train(pbase, m, ks, iters), path, m,
      Some(perm))
    perm
  }

  private[operators] def isResidualIndex(spark: SparkSession,
      path: String): Boolean = {
    val (fs, marker) = residualMarker(spark, path)
    fs.exists(marker)
  }

  /** [[searchIndex]] over a RESIDUAL index ([[writeIndexResidual]]):
    * q·x ≈ q·c(cell) + Σⱼ q_j · book_j[code_j]. The per-(query, probed
    * cell) q·c term is one broadcast join against the centroid table the
    * probe step already holds; the residual-part LUT is the unchanged
    * |Q|·m·ks broadcast. Everything else — partition-pruned codes-only
    * ADC scan, order-fixed part fold, exact re-rank of the shortlist —
    * is [[searchIndex]]'s shape.
    */
  def searchIndexResidual(spark: SparkSession, path: String,
      queries0: DataFrame, k: Int, nprobe: Int, shortlist: Int,
      m: Int, asOf: Option[String] = None): DataFrame = {
    val idx = IndexStore.open(spark, path, Seq("cells"),
      IndexStore.View.of(asOf))
    require(isResidualIndex(spark, path),
      s"$path is not a residual-encoded index — use searchIndex, or " +
        "rebuild with writeIndexResidual")
    requireM(spark, path, m)
    // permuted-built index ⇒ permute the original-space queries here
    searchIndexResidualBody(spark, path, idx("cells"),
      applyStoredPerm(spark, path, queries0), k, nprobe, shortlist, m)
  }

  private def searchIndexResidualBody(spark: SparkSession, path: String,
      cells: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      shortlist: Int, m: Int): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
    val books = spark.read.parquet(s"$path/books")
    val cellType = cells.schema("cell").dataType
    val probes = Ivf.probesOf(queries, cents, nprobe)
      .join(broadcast(cents.select(col("c_id").as("cell"), col("c_emb"))),
        "cell")
      .withColumn("qc", dot(col("q_emb"), col("c_emb")))
      .withColumn("cell", col("cell").cast(cellType))
      .select(col("cell"), col("q_id"), col("qc"))
    val coded = probes
      .join(cells.select(col("cell"), col("vec_id"), col("codes")), "cell")
      .select(col("q_id"), col("qc"), col("vec_id"),
        posexplode(col("codes")).as(Seq("j", "code")))
    val short = adcShortlist(coded, lutOf(queries, books, m),
      Seq("q_id", "j", "code"), shortlist, extraCol = Some("qc"))
    rerankShortlist(short, cells, queries, k)
  }

  /** [[searchIndex]] / [[searchIndexResidual]] (auto-detected by the
    * residual marker) over a LARGE query batch in bounded chunks — the
    * DEPLOY.md recipe as code. The ADC lookup table is broadcast at
    * |Q|·m·ks entries, fine for bounded query batches but a ~10⁸-entry
    * driver table for a 10⁶-query offline scoring job; here the batch
    * splits into `chunks` deterministic hash buckets on the query id
    * and each chunk runs as its OWN eagerly-materialized job (the
    * per-chunk cut is what releases chunk i's LUT broadcast
    * before chunk i+1 builds hers — a lazy union would hold every
    * chunk's broadcast live in one job). Queries are independent in
    * every search path (all state is per-q_id), so the unioned result
    * is bit-identical to the unchunked run; total scan work is
    * unchanged (each chunk's index read is partition-pruned to its own
    * probes). Checkpointed chunk results are ≤ |chunk|·k rows each.
    */
  def searchIndexChunked(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int, shortlist: Int, m: Int,
      chunks: Int): DataFrame = {
    require(chunks >= 1, s"chunks must be >= 1, got $chunks")
    // sidecar resolution (building? residual? m? perm?) happens ONCE —
    // on an object store each is a metadata round trip, and per-chunk
    // re-reads would multiply it by `chunks` for values that cannot
    // change mid-call (single-writer discipline)
    val cells = IndexStore.open(spark, path, Seq("cells"))("cells")
    requireM(spark, path, m)
    val residual = isResidualIndex(spark, path)
    val q = Materialize.cut(applyStoredPerm(spark, path, queries))
    (0 until chunks).map { i =>
      // null query ids route deterministically too: Spark's hash
      // functions SKIP null inputs (xxhash64(null) = the 42L seed), so
      // a null-id row lands in exactly one chunk like any other
      val qi = q.filter(pmod(xxhash64(col("vec_id")), lit(chunks)) === i)
      val r =
        if (residual)
          searchIndexResidualBody(spark, path, cells, qi, k, nprobe,
            shortlist, m)
        else searchIndexBody(spark, path, cells, qi, k, nprobe, shortlist, m)
      Materialize.cut(r)
    }.reduce(_.unionByName(_))
      .orderBy(col("q_id"), col("rn"))
  }
}
