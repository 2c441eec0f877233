package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{IndexStore, Materialize, SessionMemo}

/** LLM-data-pipeline vector + sketch operators (SURVEY.md §2.D):
  * brute-force cosine top-k (the correctness baseline), cosine near-dup
  * pairs, per-label centroids, and the scale-path variants — MinHash-LSH
  * near-dup and random-hyperplane-bucketed ANN — whose hash seeds are
  * engine-specific (no SQL oracle; VectorOpsSpec checks recall against the
  * exact baselines instead).
  *
  * All exact-cosine math is pure Catalyst lambda (`zip_with` /
  * `aggregate`), fully inside whole-stage codegen: every element is cast
  * to DOUBLE and folded left in element order, an IEEE sequence the DuckDB
  * oracle mirrors verbatim.
  */
object VectorOps {
  import Det._

  private val D = DoubleType

  /** Σ a_i·b_i via the codegen'd DotProduct expression — bit-identical to
    * the `aggregate(zip_with(...))` lambda fold (same left-to-right IEEE
    * accumulation) but much faster: HigherOrderFunction lambdas are
    * interpreted while this stays inside whole-stage codegen.
    */
  private[queries] def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.dotProduct(a, b)

  /** Σ x_i² = dot(e, e). */
  private[queries] def norm2(e: Column): Column = dot(e, e)

  /** DuckDB mirror of [[norm2]] (the 0.0 prepend mirrors Spark's fold init
    * and keeps list_reduce total on empty lists).
    */
  private[queries] def norm2Sql(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform($e, x -> CAST(x AS DOUBLE) * x)), (a, b) -> a + b)"

  private[queries] def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), [CAST($a[i] AS DOUBLE) * $b[i] for i in range(1, 65)]), (p, q) -> p + q)"

  /** Memoized VERIFIED near-dup pair frames per (session, dir, kind) —
    * the [[TextOps]] label-memo discipline applied to the three pair
    * builds each shared by TWO contract queries: exact-cosine(0.35)
    * ([[neardupCosine]] + [[dedupClusterCosine]]), cosine-LSH(0.35,16,8)
    * ([[neardupCosineLsh]] + [[dedupSemantic]]), MinHash-verified
    * ([[dedupMinhash]] + [[dedupClusterLsh]]) — without memoization
    * whichever of each pair runs second re-executes the whole candidate
    * + verify pipeline. Pair frames are deterministic (seeded planes,
    * xxhash64); lifecycle: [[graft.operators.SessionMemo]]. Memoization
    * applies ONLY to the pinned contract instantiations; the
    * parameterized engine surfaces ([[neardupCosineAt]],
    * [[neardupCosineLshAt]], ...) stay pure.
    */
  private val pairMemo =
    SessionMemo.family[(String, String), DataFrame]("vec_pairs")

  /** Memoized (base, NN-Descent edges) per (session, dir) for the
    * PINNED q_knn_graph instantiation (degree 10, 2 rounds, 16 cells) —
    * the [[pairMemo]] discipline applied to the round's most expensive
    * build: without it the contract query re-runs the whole iterative
    * graph construction on every invocation, and the build dominates
    * the search ~4:1 (BENCH r13: 4.5 s, of which the beam search is
    * well under 1 s). Deterministic build, same lifecycle as
    * [[pairMemo]]. The parameterized engine surfaces
    * ([[graft.operators.NnDescent.buildGraph]] and the
    * persisted-index family) stay pure — at scale a graph this
    * expensive is a PERSISTED index (NnDescent.writeIndex), and this
    * memo is the in-session analogue of reading it back.
    */
  private val graphMemo =
    SessionMemo.family[String, (DataFrame, DataFrame, Long)]("vec_graph")

  private def contractGraph(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, Long) =
    graphMemo(spark, dir, Seq(Tables.path(dir, "embeddings"))) {
      val base = Materialize.cut(Tables.t(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          norm2(col("embedding")).as("n2")))
      // buildGraph's returned frame is already round-checkpointed; add
      // measured stats so the searches' joins see honest sizes
      val edges = graft.operators.NnDescent
        .buildGraph(base, k = 10, iters = 2, cells = 16)
      val n = base.count()
      (org.apache.spark.sql.graft.CheckpointStats
         .withMeasuredStats(base, n, 300),
       org.apache.spark.sql.graft.CheckpointStats
         .withMeasuredStats(edges, edges.count(), 32), n)
    }

  /** Force the vector-family session memo builds — the
    * [[graft.queries.TextOps.warmFamilies]] twin ([[graft.Bench]]'s
    * warm-up rows): the three verified pair frames and the contract
    * NN-Descent graph, each otherwise priced into whichever of its two
    * consumer rows runs first.
    */
  private[graft] def warmFamilies(spark: SparkSession,
      dir: String): Seq[(String, () => Unit)] = Seq(
    "vec_pairs_cosine" -> (() => { neardupCosine(spark, dir); () }),
    "vec_pairs_cosine_lsh" -> (() => { neardupCosineLsh(spark, dir); () }),
    "vec_pairs_minhash" -> (() => { dedupMinhash(spark, dir); () }),
    "vec_graph" -> (() => { contractGraph(spark, dir); () }),
    // the derived-banding corpus counts q_knn_lsh / q_dedup_simhash pay
    // at construction (one job per session per corpus — CorpusCount
    // memo, r18); one row per corpus so check 1's one-entry-per-row
    // accounting stays exact
    "vec_corpus_count" -> (() => {
      graft.operators.CorpusCount.of(Tables.t(spark, dir, "embeddings"))
      ()
    }),
    "doc_corpus_count" -> (() => {
      graft.operators.CorpusCount.of(Tables.t(spark, dir, "documents"))
      ()
    }),
    // the collapse-vs-per-member form probe q_dedup_simhash pays at
    // construction (one aggregate job per session per corpus —
    // CorpusCount.dupStats, r19)
    "doc_dup_stats" -> (() => {
      graft.operators.CorpusCount.dupStats(
        simhashSignatures(Tables.t(spark, dir, "documents")), "simhash")
      ()
    }))

  /** [[pairMemo]] entry `kind` over fixture table `table` of `dir`. */
  private def memoPairs(spark: SparkSession, dir: String, kind: String,
      table: String)(build: => DataFrame): DataFrame =
    pairMemo(spark, (dir, kind), Seq(Tables.path(dir, table))) {
      val p = Materialize.cut(build)
      // two id Longs + one double + row overhead
      org.apache.spark.sql.graft.CheckpointStats
        .withMeasuredStats(p, p.count(), 32)
    }

  // --------------------------------------------------- brute-force top-k

  /** Top-5 cosine neighbors for query vectors (vec_id < 5) — the exact
    * baseline every ANN variant is judged against, as a pinned
    * instantiation of the [[knn]] engine surface.
    */
  def knnBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.t(spark, dir, "embeddings")
    knn(emb, emb.filter(col("vec_id") < 5), k = 5)
  }

  /** Exact cosine top-`k` of every `queries` row against `base` — the
    * engine surface a user points at their own frames (both need
    * (vec_id, embedding)). Ranks by the ROUNDED similarity with a
    * unique vec_id tiebreak so ordering is reproducible across engines;
    * pairs with equal ids on both sides are excluded (the self-match
    * when queries ⊆ base — disjoint id spaces are unaffected).
    * Deliberate crossJoin: this is the exact baseline; [[knnLshAt]] and
    * [[knnIvf]] are the scale paths judged against it.
    */
  def knn(base: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val b = base
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      norm2(col("embedding")).as("q_n2"))
    val cos = round(dot(col("q_emb"), col("embedding")) /
      (sqrt(col("q_n2")) * sqrt(col("n2"))), 6)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    q.crossJoin(b)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cos.as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy(col("q_id"), col("rn"))
  }

  val knnBruteforceSql: String =
    s"""WITH base AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2 FROM embeddings),
       |pairs AS (
       |  SELECT q.vec_id AS q_id, b.vec_id AS vec_id,
       |    round(${dotSql("q.embedding", "b.embedding")} / (sqrt(q.n2) * sqrt(b.n2)), 6) AS cos
       |  FROM base q JOIN base b ON q.vec_id < 5 AND b.vec_id <> q.vec_id)
       |SELECT q_id, vec_id, cos, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn
       |  FROM pairs)
       |WHERE rn <= 5
       |ORDER BY q_id, rn""".stripMargin

  /** Seeded corpus expansion for scale testing: each base row emits
    * `factor` variants — copy 0 is the original bit-for-bit; copies
    * 1..factor-1 add a deterministic per-element jitter drawn uniformly
    * from [-noise, +noise) via xxhash64(parent, copy, element, seed), so
    * the expanded corpus is reproducible across sessions and partitions
    * with no RNG state. New ids are `parent*factor + copy` (collision-free
    * for dense parent ids). At noise ≈ 0.05 on unit-norm vectors every
    * copy sits at cosine ≈ 0.97 to its parent — a near-duplicate cloud,
    * the workload shape ANN/dedup sees in a real crawl corpus. Distributed
    * generation: one narrow explode per input row, no shuffle.
    */
  def expandEmbeddings(base: DataFrame, factor: Int, noise: Double,
      seed: Long = 11L): DataFrame = {
    val copies = base
      .select(col("vec_id").as("parent"), col("embedding"),
        explode(sequence(lit(0), lit(factor - 1))).as("copy"))
    val jittered = transform(col("embedding"), (x, i) => {
      val u = pmod(xxhash64(col("parent"), col("copy"), i, lit(seed)),
        lit(2000000L)).cast(D) / lit(1000000.0) - lit(1.0)
      when(col("copy") === 0, x)
        .otherwise((x.cast(D) + u * lit(noise)).cast(FloatType))
    })
    copies.select(
      (col("parent") * factor + col("copy")).as("vec_id"),
      jittered.as("embedding"), col("parent"), col("copy"))
  }

  // --------------------------------------------- cosine near-dup pairs

  /** All pairs with cosine ≥ 0.35 (the fixture embeddings are isotropic
    * noise, so higher thresholds are empty) — pinned instantiation of
    * [[neardupCosineAt]]. Brute force is the oracle baseline; the
    * LSH-bucketed variant below is the 100 TB plan.
    */
  def neardupCosine(spark: SparkSession, dir: String): DataFrame =
    memoPairs(spark, dir, "cosine_0.35", "embeddings")(
      neardupCosineAt(Tables.t(spark, dir, "embeddings"), threshold = 0.35))

  /** Exact cosine near-dup pairs of an arbitrary `vecs(vec_id,
    * embedding)` frame at `threshold` — the engine surface a user points
    * at their own vectors.
    */
  def neardupCosineAt(vecs: DataFrame, threshold: Double): DataFrame = {
    val base = vecs
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
    val a = base.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("n2").as("m1"))
    val b = base.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("n2").as("m2"))
    // filter on the RAW cosine: the threshold predicate is pushed into the
    // pair loop (BNLJ join condition), where a round() would cost a
    // BigDecimal per pair; rounding happens once, on survivors only. The
    // oracle mirrors the raw-threshold semantics exactly.
    val cosRaw = dot(col("e1"), col("e2")) / (sqrt(col("m1")) * sqrt(col("m2")))
    a.crossJoin(b).filter(col("v1") < col("v2") && cosRaw >= threshold)
      .select(col("v1"), col("v2"), round(cosRaw, 6).as("cos"))
      .orderBy(col("v1"), col("v2"))
  }

  val neardupCosineSql: String = {
    val cosRaw = (l: String, r: String) =>
      s"${dotSql(s"$l.embedding", s"$r.embedding")} / (sqrt($l.n2) * sqrt($r.n2))"
    s"""WITH base AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2 FROM embeddings)
       |SELECT a.vec_id AS v1, b.vec_id AS v2,
       |  round(${cosRaw("a", "b")}, 6) AS cos
       |FROM base a JOIN base b ON a.vec_id < b.vec_id
       |WHERE ${cosRaw("a", "b")} >= 0.35
       |ORDER BY v1, v2""".stripMargin
  }

  // ------------------------------------------------- per-label centroid

  /** Per-label centroid components via posexplode + exact decimal sums
    * (row form (label, pos, value) — array re-assembly is demonstrated in
    * VectorOpsSpec; emitting rows keeps the oracle compare scalar-typed).
    */
  def vecCentroid(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .groupBy(col("label"), (col("pos0") + 1).cast(LongType).as("pos"))
      .agg(round(sum(col("v").cast(DecimalType(18, 10))).cast(D) / count(lit(1)), 6)
        .as("centroid_v"),
        count(lit(1)).as("n_vecs"))
      .orderBy(col("label"), col("pos"))

  val vecCentroidSql =
    """SELECT label, pos,
      |  round(CAST(sum(CAST(v AS DECIMAL(18,10))) AS DOUBLE) / count(*), 6) AS centroid_v,
      |  count(*) AS n_vecs
      |FROM (SELECT label, unnest(embedding) AS v,
      |             generate_subscripts(embedding, 1) AS pos
      |      FROM embeddings)
      |GROUP BY label, pos
      |ORDER BY label, pos""".stripMargin

  // ------------------------------------ nearest-centroid assignment

  /** Nearest-centroid classification with a confusion rollup — the
    * label-quality audit a training pipeline runs over a labeled
    * embedding corpus (Rocchio/NCM): per-label mean centroids, each
    * vector assigned to its Euclidean-nearest centroid, and the
    * (label, assigned) confusion matrix. Off-diagonal mass localizes
    * label noise / collapsed classes before the labels feed a sampler
    * or filter.
    *
    * Exactness (no double is ever summed): components quantize to the
    * 10⁻⁶ grain ONCE per element (floor(x·10⁶ + ½) of the exact
    * float→double widening — identical IEEE on both engines), centroid
    * components are the exact HALF-UP integer rational
    * floor((2s+n)/2n), and the argmin key is pure BIGINT arithmetic:
    * ‖c‖² − 2⟨x, c⟩ (the per-vector ‖x‖² term is constant inside the
    * argmin, so d² ordering is preserved), with the label as a
    * lexicographic STRUCT tiebreak — `min(struct(key, label))`, the
    * [[graft.queries.TextOps]] first-occurrence idiom — so NO label
    * range is assumed (an arithmetic key·K + label tiebreak would
    * corrupt the ordering whenever labels reach K; cluster-rep ids
    * routinely would). Bound: |xᵢ|, |cᵢ| ≤ 4·10⁶ grains and dim ≤ 64
    * keep |key| ≤ 3·64·(4·10⁶)² ≈ 3.1·10¹⁵ ≪ 2⁶³ (fixtures sit at
    * ≤ 0.58·10⁶).
    *
    * Dirty data: a vector with a null (or null-element) embedding is
    * EXCLUDED from both the centroids and the assignment, on both
    * engines — the Spark key would null-poison while SQL `sum()` would
    * silently skip the null position and still assign, the exact
    * silent-divergence class the JlProject null hardening closed; an
    * unassignable vector is the honest answer.
    *
    * Scale: one map-side-combinable (label, pos) sum (≤ labels×dim
    * rows), a broadcast of the ≤-labels-row centroid table, per-row
    * argmin over a labels-bounded fan-out via the codegen'd
    * [[org.apache.spark.sql.graft.DotProductLong]] (no interpreted
    * per-pair lambda in the hot loop), and a confusion rollup of
    * ≤ labels² rows. Nothing corpus-shaped shuffles twice.
    */
  def vecCentroidAssign(spark: SparkSession, dir: String): DataFrame =
    vecCentroidAssignOn(Tables.t(spark, dir, "embeddings"))

  /** [[vecCentroidAssign]] over any (vec_id, embedding, label) frame —
    * the engine surface (e.g. cluster ids from [[knnLabel]] in place of
    * gold labels; any BIGINT-castable label values). Requires
    * |component| ≤ 4 (the BIGINT bound above).
    */
  def vecCentroidAssignOn(embs: DataFrame): DataFrame = {
    val dotL = org.apache.spark.sql.graft.VectorExpressions.dotProductLong _
    val clean = embs
      .filter(col("embedding").isNotNull &&
        !exists(col("embedding"), x => x.isNull))
    // dimension discipline (r15 advice): dotProductLong returns null on
    // a length mismatch and min(struct(key, clabel)) sorts a null key
    // FIRST, so a ragged-dim vector would silently land on an arbitrary
    // centroid — while the SQL mirror's pos-join computes a partial d²
    // and can answer differently. Keep only the corpus's MODAL dimension
    // (ties to the smaller dim — deterministic), mirrored in the SQL; a
    // ragged vector is excluded like a null one, the honest answer. The
    // modal-dim probe is one map-side-combinable count over ≤ a handful
    // of distinct sizes, broadcast as a 1-row frame.
    val modal = clean
      .groupBy(size(col("embedding")).as("__dim"))
      .agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("__dim").asc)
      .limit(1)
      .select(col("__dim"))
    val q = clean
      .join(broadcast(modal), size(col("embedding")) === col("__dim"))
      .select(col("vec_id"), col("label").cast(LongType).as("label"),
        transform(col("embedding"),
          x => floor(x.cast(D) * lit(1000000.0) + lit(0.5)).cast(LongType))
          .as("xq"))
    val cents = q
      .select(col("label"), posexplode(col("xq")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        floor((col("s") * lit(2L) + col("n")) / (col("n") * lit(2L)))
          .cast(LongType).as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("cent"))
      .select(col("label").as("clabel"), col("cent"))
      .withColumn("c_n2", dotL(col("cent"), col("cent")))
    val key = col("c_n2") - lit(2L) * dotL(col("xq"), col("cent"))
    q.crossJoin(broadcast(cents))
      .groupBy(col("vec_id"), col("label"))
      .agg(min(struct(key.as("k"), col("clabel"))).as("m"))
      .select(col("label"), col("m").getField("clabel").as("assigned"))
      .groupBy(col("label"), col("assigned"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("assigned"))
  }

  /** DuckDB mirror in scalar (vec_id, pos, xq) form: the same exact
    * integers, lexicographic struct-min on (d², label) — equal to the
    * Spark key's ordering because d² and ‖c‖²−2⟨x,c⟩ differ by the
    * per-vector constant ‖x‖².
    */
  val vecCentroidAssignSql: String =
    """WITH x AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label, pos,
      |    CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS xq
      |  FROM (SELECT vec_id, label, unnest(embedding) AS v,
      |               generate_subscripts(embedding, 1) AS pos
      |        FROM embeddings
      |        WHERE embedding IS NOT NULL
      |          AND len(list_filter(embedding, e -> e IS NULL)) = 0
      |          AND len(embedding) = (
      |            SELECT len(embedding) AS d FROM embeddings
      |            WHERE embedding IS NOT NULL
      |              AND len(list_filter(embedding, e -> e IS NULL)) = 0
      |            GROUP BY d ORDER BY count(*) DESC, d LIMIT 1))),
      |cent AS (
      |  SELECT label AS clabel, pos,
      |    CAST(floor((sum(xq) * 2 + count(*)) / (count(*) * 2)) AS BIGINT) AS c
      |  FROM x GROUP BY label, pos),
      |d AS (
      |  SELECT x.vec_id, x.label, cent.clabel,
      |    CAST(sum((x.xq - cent.c) * (x.xq - cent.c)) AS BIGINT) AS d2
      |  FROM x JOIN cent USING (pos)
      |  GROUP BY x.vec_id, x.label, cent.clabel),
      |asg AS (
      |  SELECT vec_id, label,
      |    (min({'k': d2, 'l': clabel})).l AS assigned
      |  FROM d GROUP BY vec_id, label)
      |SELECT label, assigned, count(*) AS n
      |FROM asg GROUP BY label, assigned
      |ORDER BY label, assigned""".stripMargin

  // ----------------------------------------------- MinHash-LSH near-dup

  /** Scale-path near-dup: custom MinHash + LSH banding, pure Catalyst.
    *
    *   shingles → k=16 min-hashes (xxhash64 seeded by slot index, one
    *   shuffle-by-doc aggregation) → 8 bands × 2 rows, band signature =
    *   xxhash64 of the band's minima → candidates = pairs sharing a
    *   (band, signature) bucket (shuffle by bucket, never all-pairs) →
    *   exact-Jaccard verification of the few candidates.
    *
    * Candidate recall at J: 1-(1-J²)^8 (J=0.5 → 0.90, J=0.9 → 1-3e-6);
    * the planted fixture dups sit at J≈0.9. Replaces an earlier mllib
    * MinHashLSH.approxSimilarityJoin version whose wall time varied 5–60 s
    * at sf0.1 (unstable plan); this form is ~1 s and deterministic. Hash
    * values are Spark-specific → no SQL oracle; VectorOpsSpec asserts
    * recall against TextOps.neardupJaccard exact truth.
    */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    memoPairs(spark, dir, "minhash_16_8", "documents")(
      dedupMinhashBuild(spark, dir))

  private def dedupMinhashBuild(spark: SparkSession, dir: String): DataFrame =
    minhashPairsOn(Tables.t(spark, dir, "documents"))

  /** (doc_id, band, sig) banded MinHash signature rows: k=16 xxhash64
    * minima computed in ONE aggregation over the shingle rows, paired
    * into 8 two-minima band signatures. The ONE construction of the
    * text-LSH signature — shared by the symmetric near-dup pairs, the
    * delta probe, and the persisted index, so the encoding cannot drift.
    */
  private def minhashBands(docs: DataFrame, k: Int = 16,
      bands: Int = 8): DataFrame = {
    // k minima per row via the native MinhashMins expression (bit-equal
    // to min(xxhash64(i, s)) over the exploded shingles — the contract
    // on ShingleUtil.minhashMins) — the signature build used to be an
    // explode + groupBy + k min() aggregations, i.e. a full shuffle of
    // every shingle row; now it never leaves the scan's partitions.
    // Null mins = no shingles = the doc the groupBy never emitted.
    val mins = docs.select(col("doc_id"),
        org.apache.spark.sql.graft.ShingleExpressions.minhashMins(col("text"), k)
          .as("m"))
      .filter(col("m").isNotNull)
    mins.select(col("doc_id"), explode(array(
      (0 until bands).map(j => struct(lit(j).as("band"),
        xxhash64(col("m")(2 * j), col("m")(2 * j + 1)).as("sig"))): _*)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.sig"))
  }

  /** (doc_id, sh, n) distinct-shingle sets + sizes — the verification
    * side of every MinHash path (exact Jaccard needs the real sets).
    */
  private def shingleSets(docs: DataFrame): DataFrame =
    TextOps.shingleArrs(docs).filter(size(col("shingles")) > 0)
      .select(col("doc_id"), col("shingles").as("sh"),
        size(col("shingles")).cast("long").as("n"))

  /** Exact-Jaccard verification of a candidate pair list: each (d1, d2)
    * joins its sides' (set, size) rows and intersects per pair — the
    * candidate list is small wherever LSH pruned well, so AQE broadcasts
    * it and the set tables never shuffle for the verify.
    */
  private def verifyJaccard(cands: DataFrame, setsL: DataFrame,
      setsR: DataFrame, threshold: Double): DataFrame =
    cands
      .join(setsL.select(col("doc_id").as("d1"), col("sh").as("sh1"), col("n").as("n1")), "d1")
      .join(setsR.select(col("doc_id").as("d2"), col("sh").as("sh2"), col("n").as("n2")), "d2")
      .select(col("d1"), col("d2"),
        size(array_intersect(col("sh1"), col("sh2"))).cast(LongType).as("inter"),
        col("n1"), col("n2"))
      .select(col("d1"), col("d2"),
        round(col("inter") / (col("n1") + col("n2") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** MinHash-LSH verified near-dup pairs of an arbitrary (doc_id, text)
    * frame — the engine surface behind [[dedupMinhash]]. One shingle-set
    * aggregation per doc; banded candidates meet in a shuffle keyed by
    * (band, sig), never all-pairs; exact Jaccard verifies candidates
    * only. `maxBucket` is the hot-bucket cap — over-cap buckets (a
    * boilerplate cluster whose every band collides) contribute linear
    * star edges to their min-id member instead of a quadratic join, and
    * the exact verify downstream keeps the rescue sound
    * ([[graft.operators.BandedHamming]] guard note).
    */
  def minhashPairsOn(docs: DataFrame, threshold: Double = 0.5,
      maxBucket: Int = graft.operators.BandedHamming.DefaultMaxBucket)
      : DataFrame = {
    val cands = graft.operators.BandedHamming
      .bucketedPairs(minhashBands(docs), "doc_id", Seq("band", "sig"),
        maxBucket)
      .select(col("id1").as("d1"), col("id2").as("d2"))
    val sets = shingleSets(docs)
    verifyJaccard(cands, sets, sets, threshold)
      .orderBy(col("d1"), col("d2"))
  }

  // ------------------------------------------------ incremental near-dup

  /** Persist a MinHash dedup index of `docs` under `path`: the banded
    * signatures (what candidates probe) and the shingle sets (what exact
    * verification needs). The build-once / probe-many posture for a
    * continuously-ingesting corpus: at 100 TB the corpus signatures are
    * computed exactly once, and each ingest batch probes them instead of
    * re-shingling the corpus ([[neardupDeltaIndexed]]).
    */
  def writeNeardupIndex(docs: DataFrame, path: String): Unit =
    // a REBUILD replaces the whole index under the fail-closed build
    // bracket ([[IndexStore.build]]); batch=… subdirectories from day
    // one, so the initial build and every increment share one
    // discoverable layout (readers see an extra `batch` partition column
    // and select past it)
    IndexStore.build(docs.sparkSession, path, Seq("bands", "sets")) { init =>
      minhashBands(docs).write.mode("overwrite").parquet(init("bands"))
      shingleSets(docs).write.mode("overwrite").parquet(init("sets"))
    }

  /** First-contact EMPTY bootstrap of a MinHash index — the
    * schema-bearing empty components, no build sentinel
    * ([[IndexStore.bootstrap]] says why).
    */
  def bootstrapNeardupIndex(docs: DataFrame, path: String): Unit = {
    val empty = docs.limit(0)
    IndexStore.bootstrap(docs.sparkSession, path) { init =>
      minhashBands(empty).write.mode("overwrite").parquet(init("bands"))
      shingleSets(empty).write.mode("overwrite").parquet(init("sets"))
    }
  }

  /** [[bootstrapNeardupIndex]] for the cosine index — also records the
    * LSH knobs. The sidecar lands FIRST and the existence-probe
    * component (`vectors` — what [[graft.streaming.CurateIngest]]'s
    * first-contact check keys on) lands LAST, so any crash mid-bootstrap
    * leaves the probe false and the whole bootstrap re-runs (overwrite,
    * idempotent) — an index can never be observed as existing with its
    * `_lsh_params` missing, which would silently disable the knob-drift
    * guard ([[requireLshParams]] treats a sidecar-less index as legacy).
    */
  def bootstrapCosineIndex(vecs: DataFrame, path: String,
      numPlanes: Int = 16, bands: Int = 8, seed: Long = 42L): Unit = {
    val spark = vecs.sparkSession
    val base = vecs.limit(0)
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
    writeLshParams(spark, path, numPlanes, bands, seed)
    IndexStore.bootstrap(spark, path) { init =>
      bandedSignatures(base, numPlanes, bands, seed)
        .write.mode("overwrite").parquet(init("bands"))
      base.write.mode("overwrite").parquet(init("vectors"))
    }
  }

  /** Near-dup pairs of an ingest batch against an existing corpus PLUS
    * within the batch itself — the incremental form of [[minhashPairsOn]]
    * (every returned pair touches ≥1 new doc; corpus-internal pairs are
    * the previous runs' business). Cross pairs come from the asymmetric
    * bucket probe ([[graft.operators.BandedHamming.probedPairs]] — the
    * corpus side never shuffles when the batch is small); within-batch
    * pairs from the symmetric join over the batch only. Restriction law,
    * spec-pinned: result == [[minhashPairsOn]] over (corpus ∪ batch)
    * minus the corpus-internal pairs (identical signatures ⇒ identical
    * buckets). The law is exact while no (band, sig) bucket exceeds the
    * hot-bucket cap in the UNION population: the guard caps each side
    * separately here (corpus side of the probe, batch side of the
    * symmetric join) but the combined population in the full run, so a
    * bucket degenerate only in the union diverges — same mitigation as
    * the batch guard (exact-dedup upstream so identical content
    * collapses first). Ids must be disjoint between batch and corpus.
    *
    * @return (d1, d2, jaccard, cross) — cross = true marks corpus pairs
    *   (d1 the new doc, d2 the corpus doc); cross = false marks
    *   within-batch pairs (d1 < d2, both new)
    */
  def neardupDelta(newDocs: DataFrame, corpus: DataFrame,
      threshold: Double = 0.5): DataFrame =
    neardupDeltaFrames(newDocs, minhashBands(corpus), shingleSets(corpus),
      threshold)

  /** Append `docs`' signatures + shingle sets to an existing index under
    * the increment's own `batch=tag` partition dir — how a continuously-
    * ingesting pipeline grows the corpus after admitting a batch's
    * survivors ([[graft.streaming.IngestDedup]]). OVERWRITE of the tag's
    * dir, not a blind append: an at-least-once replay of the same batch
    * rewrites its own increment instead of duplicating every row in the
    * index (duplicates would stay correct — candidate pairs dedup and
    * drop-ids are DISTINCT — but inflate bucket populations toward the
    * hot-bucket cap and double verify cost forever).
    */
  def appendNeardupIndex(docs: DataFrame, path: String, tag: String): Unit =
    IndexStore.append(docs.sparkSession, path, tag, Seq("bands", "sets")) {
      inc =>
        minhashBands(docs).write.mode("overwrite").parquet(inc.dir("bands"))
        shingleSets(docs).write.mode("overwrite").parquet(inc.dir("sets"))
    }

  /** [[neardupDelta]] against a persisted index ([[writeNeardupIndex]]).
    * With `asOf`, against the index AS OF a recorded batch tag — the
    * reproducibility read: re-ask any batch's near-dup question against
    * exactly the corpus state some earlier admit left behind, after the
    * live index has moved on (`asOf` must be in
    * [[IndexStore.indexHistory]]). Read-only either way.
    */
  def neardupDeltaIndexed(spark: SparkSession, path: String,
      newDocs: DataFrame, threshold: Double = 0.5,
      asOf: Option[String] = None): DataFrame = {
    val idx = IndexStore.open(spark, path, Seq("bands", "sets"),
      IndexStore.View.of(asOf))
    neardupDeltaFrames(newDocs, idx("bands"), idx("sets"), threshold)
  }

  /** Symmetric verified near-dup pairs of the ENTIRE indexed corpus, from
    * the persisted index alone — [[minhashPairsOn]] with the shingling
    * already paid: candidates come from the stored banded signatures,
    * exact-Jaccard verification from the stored shingle sets, so the
    * corpus text is never re-read and never re-shingled. This is the pair
    * source behind durable curation state
    * ([[graft.queries.TextOps.writeCurateState]]): at 100 TB the shingle
    * pass is the dominant cost of the dedup pipeline, and it is paid
    * exactly once, at index build, per corpus — every later label
    * (re)build starts here. With `asOf`: the verified pair graph of the
    * snapshot corpus — what a historical curation label build saw.
    */
  def minhashPairsIndexed(spark: SparkSession, path: String,
      threshold: Double = 0.5,
      maxBucket: Int = graft.operators.BandedHamming.DefaultMaxBucket,
      asOf: Option[String] = None): DataFrame = {
    val idx = IndexStore.open(spark, path, Seq("bands", "sets"),
      IndexStore.View.of(asOf))
    val cands = graft.operators.BandedHamming
      .bucketedPairs(idx("bands"), "doc_id", Seq("band", "sig"), maxBucket)
      .select(col("id1").as("d1"), col("id2").as("d2"))
    val sets = idx("sets")
    verifyJaccard(cands, sets, sets, threshold)
      // a doc_id present in TWO batch partitions of sets/ (the documented
      // at-least-once window: a replayed increment re-created after a
      // compaction folded it away) multiplies the verify joins into
      // identical (d1, d2, jaccard) rows; minhashPairsOn never emits
      // duplicates, so fold them here to keep the equivalence law exact
      .distinct()
      .orderBy(col("d1"), col("d2"))
  }

  /** Drop batch rows whose `vec_id` already lives in a persisted cells
    * component (`existing`, read at the increment's
    * [[IndexStore.View.Excluding]] view) — appends are growth-only, so a
    * re-sent id (at-least-once ingest under a NEW tag, or an upstream
    * replay) is ignored rather than written twice. The danger of the
    * duplicate is not just a repeated re-rank row: after centroid drift
    * the copy may assign to a DIFFERENT cell, and the residual ADC fold
    * (Pq.adcShortlist) would then mix one cell's q·c term with a 2m-part
    * code fold — a garbage approximate score. Shape is
    * corpus-shuffle-free: broadcast the batch ids against a
    * column-pruned corpus id scan to find the (≤ batch-sized)
    * intersection, then anti-join the batch against that broadcast
    * intersection. The excluded own tag means an at-least-once replay
    * rewrites itself instead of seeing its prior write as "existing"
    * and overwriting the dir with an empty batch.
    */
  private[graft] def dropExistingVecIds(vecs: DataFrame,
      existing: DataFrame): DataFrame = {
    val dup = existing.select(col("vec_id"))
      .join(broadcast(vecs.select(col("vec_id")).distinct()), "vec_id")
      .distinct()
    // the one-cell-per-vector invariant must also hold WITHIN the batch:
    // a duplicated id in one append would code twice and poison the
    // residual fold exactly like a cross-batch re-send. One survivor per
    // id restores the invariant whichever row wins (identical-payload
    // replays — the realistic case — make the choice immaterial).
    vecs.dropDuplicates("vec_id")
      .join(broadcast(dup), Seq("vec_id"), "left_anti")
  }

  /** Finish any crashed compaction swap on a MinHash index — the ingest
    * loop runs this before probing so a restart after a mid-swap crash
    * self-repairs ([[graft.streaming.IngestDedup]]). A crashed REBUILD is
    * different — components are missing, not mid-swap — so the build
    * sentinel stays fatal here: only a full rebuild repairs it.
    */
  def recoverNeardupIndex(spark: SparkSession, path: String): Unit =
    IndexStore.open(spark, path, Seq("bands", "sets"))

  /** [[recoverNeardupIndex]] for the cosine index. */
  def recoverCosineIndex(spark: SparkSession, path: String): Unit =
    IndexStore.open(spark, path, Seq("bands", "vectors"))

  /** [[IndexStore.buildAside]] for the MinHash index. */
  def rebuildNeardupIndexAside(docs: DataFrame, path: String): Unit =
    IndexStore.buildAside(docs.sparkSession, path)(writeNeardupIndex(docs, _))

  /** [[IndexStore.buildAside]] for the cosine index. */
  def rebuildCosineIndexAside(vecs: DataFrame, path: String,
      numPlanes: Int = 16, bands: Int = 8, seed: Long = 42L): Unit =
    IndexStore.buildAside(vecs.sparkSession, path)(
      writeCosineIndex(vecs, _, numPlanes, bands, seed))

  /** Compact a persisted MinHash dedup index ([[writeNeardupIndex]] +
    * [[appendNeardupIndex]] increments) in place — see
    * [[IndexStore.compact]] for the when-and-why.
    */
  def compactNeardupIndex(spark: SparkSession, path: String,
      numFiles: Int = 0): Unit =
    IndexStore.compact(spark, path, Seq("bands", "sets"), numFiles)

  /** Compact a persisted cosine index ([[writeCosineIndex]] +
    * [[appendCosineIndex]] increments) in place — see
    * [[IndexStore.compact]].
    */
  def compactCosineIndex(spark: SparkSession, path: String,
      numFiles: Int = 0): Unit =
    IndexStore.compact(spark, path, Seq("bands", "vectors"), numFiles)

  private def neardupDeltaFrames(newDocs: DataFrame, corpusBands: DataFrame,
      corpusSets: DataFrame, threshold: Double): DataFrame = {
    val nb = minhashBands(newDocs)
    val nsets = shingleSets(newDocs)
    val cross = graft.operators.BandedHamming
      .probedPairs(nb, corpusBands, "doc_id", "doc_id", Seq("band", "sig"))
      .select(col("id1").as("d1"), col("id2").as("d2"))
    val within = graft.operators.BandedHamming
      .bucketedPairs(nb, "doc_id", Seq("band", "sig"))
      .select(col("id1").as("d1"), col("id2").as("d2"))
    verifyJaccard(cross, nsets, corpusSets, threshold)
      .withColumn("cross", lit(true))
      .union(verifyJaccard(within, nsets, nsets, threshold)
        .withColumn("cross", lit(false)))
      .orderBy(col("d1"), col("d2"))
  }

  // ------------------------------------------- MinHash-edge clustering

  /** The 100 TB dedup-clustering path: connected components over
    * MINHASH-LSH-verified near-dup edges — [[dedupMinhash]]'s banded
    * candidates + exact-Jaccard verify supply the pair graph, so no
    * all-pairs (or even all-shared-shingle) join ever runs; the exact
    * shuffle-by-shingle q_dedup_cluster is the oracle baseline this is
    * judged against. Verified edges are a SUBSET of the exact J ≥ 0.5
    * pairs (candidates can be missed, never wrongly admitted), so LSH
    * clusters only ever under-merge — every LSH cluster is contained in
    * an exact cluster, with recall bounded by the banding law
    * (1-(1-J²)^8 ≈ 1-3e-6 at the J≈0.9 planted dups). Hash-seeded
    * candidates → no SQL oracle; VectorOpsSpec asserts containment and
    * recall vs the exact clustering.
    */
  def dedupClusterLsh(spark: SparkSession, dir: String): DataFrame = {
    // the memoized frame is already an eagerly-checkpointed pair table
    val labels = graft.operators.ConnectedComponents.runOnPairs(
      dedupMinhash(spark, dir)
        .select(col("d1").as("src"), col("d2").as("dst")),
      precut = true)
    graft.operators.ConnectedComponents
      .assignClusters(
        Tables.t(spark, dir, "documents").select(col("doc_id")),
        "doc_id", labels)
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------ semantic dedup clustering

  /** Embedding-space dedup clustering (the SemDeDup-style pass of a
    * training pipeline): connected components over the EXACT cosine
    * near-dup pairs ([[neardupCosine]], cos ≥ 0.35) — every vector gets
    * its cluster representative (min reachable vec_id) and `is_dup`
    * marks non-representatives for dropping. This is the oracle-checked
    * baseline (recursive-CTE closure over the same pairs);
    * [[dedupSemantic]] is the LSH-bucketed 100 TB path judged against
    * it. Same scale posture as the text clustering: CC iterates ONLY
    * the near-dup subgraph.
    */
  def dedupClusterCosine(spark: SparkSession, dir: String): DataFrame =
    clusterVectors(Tables.t(spark, dir, "embeddings"),
      neardupCosine(spark, dir), precut = true)

  val dedupClusterCosineSql: String = {
    val cosRaw = (l: String, r: String) =>
      s"${dotSql(s"$l.embedding", s"$r.embedding")} / (sqrt($l.n2) * sqrt($r.n2))"
    s"""WITH RECURSIVE base AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2 FROM embeddings),
       |dups AS (
       |  SELECT a.vec_id AS d1, b.vec_id AS d2
       |  FROM base a JOIN base b ON a.vec_id < b.vec_id
       |  WHERE ${cosRaw("a", "b")} >= 0.35),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM dups
       |          UNION ALL SELECT d2, d1 FROM dups),
       |reach(a, b) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT r.a, e2.dst FROM reach r JOIN edges e2 ON r.b = e2.src)
       |SELECT a AS vec_id, min(b) AS rep, (min(b) <> a) AS is_dup
       |FROM reach GROUP BY a ORDER BY vec_id""".stripMargin
  }

  /** The 100 TB semantic-dedup path: CC over the LSH-BUCKETED verified
    * cosine pairs ([[neardupCosineLsh]]) instead of the exact all-pairs
    * baseline. Verified pairs are a SUBSET of the exact cos ≥ 0.35
    * pairs (candidates can be missed, never wrongly admitted), so
    * clusters only ever under-merge — every LSH cluster is contained in
    * an exact cluster (VectorOpsSpec asserts containment + dup recall,
    * the q_dedup_cluster_lsh discipline applied to embeddings). Plane
    * signs are engine-specific → no SQL oracle.
    */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    clusterVectors(Tables.t(spark, dir, "embeddings"),
      neardupCosineLsh(spark, dir), precut = true)

  /** Semantic-dedup cluster labels of an arbitrary `vecs(vec_id,
    * embedding)` frame at `threshold`, exact-pair baseline form — the
    * engine surface behind [[dedupClusterCosine]].
    */
  def semanticClustersOn(vecs: DataFrame, threshold: Double): DataFrame =
    clusterVectors(vecs, neardupCosineAt(vecs, threshold))

  /** LSH-bucketed form of [[semanticClustersOn]] (the scale path behind
    * [[dedupSemantic]]): candidates from banded hyperplane signatures,
    * exact-cosine verification, then CC — verified pairs ⊆ exact pairs,
    * so clusters under-merge only, at any knob setting.
    */
  def semanticClustersLshOn(vecs: DataFrame, threshold: Double,
      numPlanes: Int, bands: Int, seed: Long = 42L): DataFrame =
    clusterVectors(vecs, neardupCosineLshAt(
      vecs.select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2")),
      threshold, numPlanes, bands, seed))

  /** Shared label/assignment step of the two semantic-clustering paths:
    * CC over `pairs(v1, v2)`'s subgraph ([[graft.operators
    * .ConnectedComponents.runOnPairs]] — checkpointed pairs with
    * measured stats), left-joined back to the corpus so isolated
    * vectors keep rep = self without entering the rounds.
    */
  private def clusterVectors(vecs: DataFrame, pairDf: DataFrame,
      precut: Boolean = false): DataFrame = {
    val labels = graft.operators.ConnectedComponents.runOnPairs(
      pairDf.select(col("v1").as("src"), col("v2").as("dst")),
      precut = precut)
    graft.operators.ConnectedComponents
      .assignClusters(vecs.select(col("vec_id")), "vec_id", labels)
      .orderBy(col("vec_id"))
  }

  // --------------------------------------------------- SimHash near-dup

  /** SimHash near-dup with banded candidate generation: 64-bit simhash
    * from xxhash64 token hashes, corpus-derived banding
    * ([[graft.operators.BandedHamming.simhashBanding]], r18 — 8×8-bit
    * exact bands below ~524k docs, 4×16-bit + radius-1 probes above;
    * both pigeonhole-exhaustive for the d ≤ 6 gate, so recall is
    * limited only by the gate itself, not the banding: the fixed 4×16
    * exact-band trade read 0.879 of the gate's 0.926 ceiling at sf0.1
    * and sank with scale — SimhashGrid, BASELINE.md r18). The corpus
    * count is session-memoized ([[graft.operators.CorpusCount]]).
    * xxhash64 is Spark-specific → no SQL oracle; SimHash properties are
    * asserted in VectorOpsSpec. At scale this shuffles by (band index,
    * band value) — never all-pairs.
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    dedupSimhashAt(Tables.t(spark, dir, "documents"))

  /** [[dedupSimhash]] generalized over an arbitrary `(doc_id, text)`
    * frame — the parameterized engine surface (r18; every other dedup
    * family already had its `*At` form, ParamApiSpec). Banding derives
    * from the corpus count ([[graft.operators.BandedHamming
    * .simhashBanding]]; count session-memoized); callers pinning
    * geometry compose [[simhashSignatures]] with
    * [[graft.operators.BandedHamming.pairs]] directly — a maxHamming
    * wider than 7 requires that route, because no derived banding is
    * exhaustive past d = 7.
    */
  /** Identical-hash collapse pays ~2 extra group-grain exchanges of
    * fixed overhead; it wins only when duplicate mass exists to collapse
    * (members/distinct-hashes ratio — SimhashGrid r19 bracketing rungs:
    * ratio 1 → per-member form ~0.4 s faster at the 5k fixture, ratio 2
    * → even, ratio ≥ 4 → collapse 1.5-8× faster and growing as k²).
    * Both forms are bit-identical in every regime (BandedCollapseSpec,
    * all 32 combinations), so the switch can only change which plan
    * computes the pairs, never a pair.
    */
  private[graft] val CollapseMinDupRatio: Double = 2.0

  def dedupSimhashAt(docs: DataFrame, maxHamming: Int = 6,
      maxBucket: Int = graft.operators.BandedHamming.DefaultMaxBucket)
      : DataFrame = {
    // validate the gate BEFORE paying the corpus-count job: an invalid
    // maxHamming must throw without running a full-scan count first
    graft.operators.BandedHamming.simhashBanding(0L, maxHamming, maxBucket)
    val (bands, probe) = graft.operators.BandedHamming.simhashBanding(
      graft.operators.CorpusCount.of(docs), maxHamming, maxBucket)
    val sigs = simhashSignatures(docs)
    // one memoized aggregate job per (session, corpus) — priced by the
    // doc_dup_stats warm row, like the banding count above
    val (rows, distinct) = graft.operators.CorpusCount.dupStats(sigs, "simhash")
    val collapse = rows >= CollapseMinDupRatio * math.max(1L, distinct)
    val form =
      if (collapse) graft.operators.BandedHamming
        .pairs(sigs, "doc_id", "simhash",
          bands = bands, maxHamming = maxHamming, maxBucket = maxBucket,
          multiProbe = probe)
      else graft.operators.BandedHamming
        .pairsReference(sigs, "doc_id", "simhash",
          bands = bands, maxHamming = maxHamming, maxBucket = maxBucket,
          multiProbe = probe)
    form
      .select(col("id1").as("d1"), col("id2").as("d2"), col("hamming"))
      .orderBy(col("d1"), col("d2"))
  }

  /** (doc_id, simhash) 64-bit SimHash signatures over whitespace tokens —
    * the batch signature builder behind [[dedupSimhash]], shared with the
    * streaming twin's parity spec ([[graft.streaming.NeardupStream]]
    * computes the same signature per-row).
    */
  def simhashSignatures(docs: DataFrame): DataFrame =
    // one per-row pass via the native SimHash64 expression — the r1
    // shape exploded tokens and aggregated 64 conditional sums through
    // two shuffles (by (doc, token), then by doc); the bit contract is
    // pinned on ShingleUtil.simhash64 and the streaming twin shares the
    // expression, so batch/stream parity is structural
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), org.apache.spark.sql.graft.ShingleExpressions
        .simhash64(col("text")).as("simhash"))

  // ------------------------------------------------------ LSH-bucket ANN

  /** Scale-path ANN: in-house random-hyperplane LSH probe — the same
    * hyperplane-sign + banding machinery as [[neardupCosineLsh]], in the
    * asymmetric query→corpus shape:
    *
    *   16 seeded Gaussian planes → sign bits (each a codegen'd DotProduct
    *   against a literal vector) → 8 bands × 2 bits → candidates = base
    *   rows sharing ≥1 (band, value) bucket with a query
    *   ([[graft.operators.BandedHamming.probedPairs]]; AQE broadcasts the
    *   tiny query side, so the corpus never shuffles for the probe) →
    *   exact Euclidean distance ranks the candidates, top-5 per query.
    *
    * Replaces an mllib `BucketedRandomProjectionLSH.approxSimilarityJoin`
    * version: its hash/distance path is interpreted ScalaUDFs with a plan
    * that swung 5–60 s at sf0.1 (driver r6: 51.8 s vs 2.0 s in r5 on
    * near-identical code — the same instability that made MinHash drop
    * mllib in r2). This form is pure codegen'd Catalyst, deterministic,
    * and the last mllib runtime dependency in the declared set. Candidate
    * recall for a cos≈0.45 neighbor (the fixture's top-5 regime) is
    * 1-(1-p²)⁸ ≈ 0.99 at p = 1-θ/π ≈ 0.65; at corpus scale widen bands
    * (e.g. 4×16 bits, see [[neardupCosineLshAt]]) — the knob changes, the
    * plan shape doesn't. Plane signs are engine-specific → no SQL oracle;
    * VectorOpsSpec asserts recall vs [[knnBruteforce]] and that the
    * physical plan carries no interpreted UDF nodes.
    */
  def knnLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.t(spark, dir, "embeddings")
    knnLshAt(emb, emb.filter(col("vec_id") < 5), k = 5)
  }

  /** [[knnLsh]] generalized over frames and banding knobs — the engine
    * surface: approximate top-`k` of every `queries` row against `base`
    * (both (vec_id, embedding)). Queries and corpus are signed with the
    * SAME seeded planes, so external query frames probe the corpus's
    * buckets correctly; pairs with equal ids are excluded (self-match
    * when queries ⊆ base). Candidate recall for a neighbor at angle θ
    * is 1-(1-p^(numPlanes/bands))^bands at p = 1-θ/π — widen bands for
    * high-threshold regimes; the plan shape (probe-broadcast bucketed
    * join, corpus never shuffles) is unchanged by the knobs.
    */
  def knnLshAt(base: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int = 0, bands: Int = 0, seed: Long = 7L,
      maxBucket: Int = graft.operators.BandedHamming.DefaultMaxBucket)
      : DataFrame = {
    // numPlanes/bands <= 0 → derive from corpus size (the Ivf √n-cells
    // discipline, r16). The honest knob is BITS PER BAND
    // r = numPlanes/bands, and its BINDING constraint is the hot-bucket
    // cap, not a recall ladder: bucket ≈ n/2^r, and once it crosses
    // `maxBucket` the guard drops the bucket to its rep row and recall
    // collapses (measured at a clustered 1.2M-vector corpus: a
    // hand-tiered (16,8) read recall@5 0.08 with 9.6M posting rows
    // dropped, the bucket-bound pick (48,8) read 1.00 with zero drops —
    // BASELINE.md LshGrid r17). Derivation: keep buckets at
    // ~maxBucket/4 → r = clamp(ceil(log2(4n/maxBucket)), 1, 8); 16
    // bands below 2¹⁶ rows (small corpora have DISTANT true neighbors —
    // per-band match is p^r at p = 1−θ/π, and the old fixed 16×8 read
    // 0.84 at the 500-vector fixture where 16×16 reads 1.0; wide
    // candidate sets are cheap precisely when n is small), 8 bands
    // above. Measured: recall@5 1.0 at 500/500/2k/8k/48k corpora (the
    // 16×16 region) and 1.00 at the clustered 1.2M corpus ((48,8));
    // on an ISOTROPIC corpus that size — queries with no close
    // neighbor, p ≈ 0.6 per plane — banding reads ~0.64-0.68 at ANY r
    // (no banding wins there; route such data to the IVF/PQ/graph
    // paths). The r ≤ 8 clamp means past ~26M rows buckets re-approach
    // the cap — prefer IVF/PQ there, or pass explicit geometry.
    require((numPlanes > 0) == (bands > 0),
      s"pass BOTH numPlanes and bands or NEITHER (derived) — one " +
        s"explicit knob with the other derived would silently change " +
        s"the specified one's meaning, got ($numPlanes, $bands)")
    val (p0, b0) =
      if (numPlanes > 0 && bands > 0) (numPlanes, bands)
      else {
        // session-memoized (r17 verdict task 5): the derivation needs
        // ONE number per immutable corpus, not one count job per call
        val n = graft.operators.CorpusCount.of(base)
        val r = math.min(8, math.max(1, math.ceil(
          math.log(4.0 * n / maxBucket) / math.log(2)).toInt))
        val nb = if (n <= 65536L) 16 else 8
        (r * nb, nb)
      }
    val b = base
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
    val banded = bandedSignatures(b, p0, b0, seed)
    val probes = bandedSignatures(
      queries.select(col("vec_id"), col("embedding")), p0, b0, seed)
    val cands = graft.operators.BandedHamming
      .probedPairs(probes, banded, "vec_id", "vec_id", Seq("band", "bv"),
        maxBucket = maxBucket)
      .select(col("id1").as("q_id"), col("id2").as("vec_id"))
      .filter(col("q_id") =!= col("vec_id"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      norm2(col("embedding")).as("q_n2"))
    // rank by COSINE like every other ANN path (knn, Ivf, Pq,
    // NnDescent, knnCollapse): this function alone ranked by Euclidean
    // distance until r17, which agreed with the cosine baseline only
    // while every fixture vector had near-equal norm — on a mixed-norm
    // corpus (the jittered expansion of BASELINE.md "LshGrid r17", tool
    // at `git show 1378a37:src/main/scala/graft/tools/LshGrid.scala`;
    // any user's un-normalized embeddings) the two orders diverge and the
    // "recall" gap was metric disagreement, not banding (measured:
    // recall@5 0.64-0.68 at 200k vectors with near-exhaustive
    // candidates; cosine ranking restores banding-limited behavior).
    // One codegen'd dot per candidate, norms computed once at scan.
    val cos = round(dot(col("q_emb"), col("embedding")) /
      (sqrt(col("q_n2")) * sqrt(col("n2"))), 6)
    cands.join(q, "q_id").join(b, "vec_id")
      .select(col("q_id"), col("vec_id"), cos.as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rn") <= k)
      .orderBy(col("q_id"), col("rn"))
  }

  // ----------------------------------------- LSH-bucketed cosine near-dup

  /** Scale path for [[neardupCosine]]: random-hyperplane signatures (16
    * fixed seeded Gaussian planes → sign bits), banded 8×2 bits; only
    * pairs sharing a band meet (shuffle by (band, 2-bit value)), then the
    * exact cosine verifies survivors — so the O(n²) loop of the brute
    * force becomes candidate-bucket joins. Each plane projection is one
    * codegen'd DotProduct against a literal vector (no interpreted
    * lambdas).
    *
    * Band sizing is threshold-matched: at the fixture's cos ≥ 0.35 gate
    * (θ ≈ 69°, p_sep ≈ 0.39) 2-bit bands give ≈0.98 candidate recall; at a
    * production near-dup gate (cos ≥ 0.9, p_sep ≈ 0.14) 4×16-bit banding
    * prunes ≈97 % of random pairs at the same recall — band width is the
    * knob, the plan shape is unchanged. SCALE NOTE (r18, the
    * simhashBanding/knnLshAt constraint stated here too): 2-bit bands
    * mean 4 bucket values per band, so expected buckets are n/4 and
    * cross the hot-bucket cap near n ≈ 4·maxBucket (≈400 k default) —
    * past that the guard drops buckets and recall collapses silently;
    * widen bits-per-band with the corpus (the [[knnLshAt]] derivation's
    * r = ⌈log2(4n/maxBucket)⌉ reasoning) via [[neardupCosineLshAt]]'s
    * explicit knobs, accepting the per-band recall p^r trade the
    * 0.98-vs-0.978 analytic line above prices. Plane signs are
    * engine-specific → no SQL oracle; VectorOpsSpec asserts recall vs
    * the exact baseline and that every emitted pair passes the exact
    * threshold.
    */
  def neardupCosineLsh(spark: SparkSession, dir: String): DataFrame =
    memoPairs(spark, dir, "cosine_lsh_0.35_16_8", "embeddings")(
      neardupCosineLshAt(
        Tables.t(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2")),
        threshold = 0.35, numPlanes = 16, bands = 8))

  /** Banded hyperplane-signature candidate pairs over `base(vec_id,
    * embedding, n2)` — the pruning stage of [[neardupCosineLshAt]],
    * exposed so specs can measure the candidate count against all-pairs
    * directly. `numPlanes / bands` sign bits per band; two rows are a
    * candidate iff they agree on every bit of ≥1 band
    * ([[graft.operators.BandedHamming.bucketedPairs]] keyed by
    * (band, value) — never all-pairs).
    */
  /** (vec_id, band, bv) hyperplane-signature rows over `base(vec_id,
    * embedding, ...)` — the ONE construction of the banded LSH signature
    * (seeded Gaussian planes → sign bits via codegen'd DotProduct →
    * `numPlanes / bands`-bit band values), shared by the symmetric
    * near-dup candidates and the asymmetric ANN probe so the encoding
    * cannot drift between them.
    */
  private def bandedSignatures(base: DataFrame, numPlanes: Int, bands: Int,
      seed: Long): DataFrame = {
    require(numPlanes % bands == 0, s"bands ($bands) must divide planes ($numPlanes)")
    val k = numPlanes / bands
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(numPlanes, 64)(rnd.nextGaussian().toFloat)
    val bits = (0 until numPlanes).map { i =>
      when(dot(col("embedding"), typedlit(planes(i).toSeq)) >= 0.0, lit(1L))
        .otherwise(lit(0L)).as(s"bit$i")
    }
    base.select((col("vec_id") +: bits): _*)
      .select(col("vec_id"),
        explode(array((0 until bands).map(j =>
          struct(lit(j).as("band"),
            (0 until k).map(i => col(s"bit${j * k + i}"))
              .reduce((acc, b) => acc * 2L + b).as("bv"))): _*)).as("b"))
      .select(col("vec_id"), col("b.band"), col("b.bv"))
  }

  def cosineLshCandidates(base: DataFrame, numPlanes: Int, bands: Int,
      seed: Long = 42L,
      maxBucket: Int = graft.operators.BandedHamming.DefaultMaxBucket)
      : DataFrame =
    graft.operators.BandedHamming
      .bucketedPairs(bandedSignatures(base, numPlanes, bands, seed),
        "vec_id", Seq("band", "bv"), maxBucket)
      .select(col("id1").as("v1"), col("id2").as("v2"))

  /** [[neardupCosineLsh]] generalized over the band-sizing knobs: LSH
    * candidates at `numPlanes`/`bands`, then the exact cosine verifies
    * survivors against `threshold`. Wider bands (more bits each) prune
    * harder at high thresholds — e.g. 4×16 bits at cos ≥ 0.9 keeps random
    * pairs with probability ≈ 4·2⁻¹⁶ while near-identical pairs survive
    * ≥ 0.99 of the time (VectorOpsSpec measures both on planted data).
    */
  def neardupCosineLshAt(base: DataFrame, threshold: Double, numPlanes: Int,
      bands: Int, seed: Long = 42L,
      maxBucket: Int = graft.operators.BandedHamming.DefaultMaxBucket)
      : DataFrame = {
    // dedup AFTER the exact-cosine filter, not before: at 2 bits/band
    // the bands barely prune (sf0.1: 1.78M distinct candidates of 2.0M
    // possible, 4 057 survivors), so `bucketedPairs`' cross-band
    // distinct is a full shuffle of ~4M pair rows exchanged to save
    // ~2.2M map-side broadcast-join dot products. The per-pair verify
    // is deterministic, so filter∘distinct = distinct∘filter — same
    // pair set, one Exchange fewer (guide §2.1/§2.2; A/B in
    // OPTIMIZATION_r19.md).
    val candRows = graft.operators.BandedHamming
      .bucketedPairRows(bandedSignatures(base, numPlanes, bands, seed),
        "vec_id", Seq("band", "bv"), maxBucket)
      .select(col("id1").as("v1"), col("id2").as("v2"))
    verifyCosine(candRows, base, base, threshold)
      .distinct()
      .orderBy(col("v1"), col("v2"))
  }

  /** Exact-cosine verification of a candidate (v1, v2) list against the
    * two sides' (vec_id, embedding, n2) tables — candidate lists are
    * small wherever LSH pruned well, so AQE broadcasts them.
    *
    * Precondition: `vec_id` is unique within `baseL` and within `baseR`.
    * Each candidate joins every row carrying its ids, so a duplicated id
    * emits one output row per matching embedding — and the callers'
    * verify-then-`distinct` collapses only rows that are equal in every
    * column, so two different embeddings under one id survive as two
    * (v1, v2) rows with different `cos`.
    */
  private[queries] def verifyCosine(cands: DataFrame, baseL: DataFrame,
      baseR: DataFrame, threshold: Double): DataFrame = {
    val lhs = baseL.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("n2").as("m1"))
    val rhs = baseR.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("n2").as("m2"))
    val cosRaw = dot(col("e1"), col("e2")) / (sqrt(col("m1")) * sqrt(col("m2")))
    cands.join(lhs, "v1").join(rhs, "v2")
      .filter(cosRaw >= threshold)
      .select(col("v1"), col("v2"), round(cosRaw, 6).as("cos"))
  }

  // ------------------------------------------ incremental semantic dedup

  /** Persist a cosine-LSH dedup index of `vecs(vec_id, embedding)` under
    * `path`: banded hyperplane signatures (what candidates probe) and the
    * (vec_id, embedding, n2) rows (what exact verification needs) — the
    * embedding-space twin of [[writeNeardupIndex]]. New batches signed
    * with the SAME seeded planes probe these signatures directly, so an
    * ingest never re-signs or re-shuffles the corpus.
    */
  def writeCosineIndex(vecs: DataFrame, path: String, numPlanes: Int = 16,
      bands: Int = 8, seed: Long = 42L): Unit = {
    val spark = vecs.sparkSession
    val base = vecs
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
    // batch=… layout from day one — see [[writeNeardupIndex]]
    IndexStore.build(spark, path, Seq("bands", "vectors")) { init =>
      bandedSignatures(base, numPlanes, bands, seed)
        .write.mode("overwrite").parquet(init("bands"))
      base.write.mode("overwrite").parquet(init("vectors"))
      // the signature knobs ride WITH the index (inside the sentinel
      // window): probing or appending with different planes/bands/seed
      // yields signatures that never collide with the stored ones —
      // recall silently collapses to zero, the worst failure mode a
      // dedup index has. Readers validate against this record.
      writeLshParams(spark, path, numPlanes, bands, seed)
    }
  }

  private def writeLshParams(spark: SparkSession, path: String,
      numPlanes: Int, bands: Int, seed: Long): Unit =
    IndexStore.setMarker(spark, path, "_lsh_params", s"$numPlanes,$bands,$seed")

  /** Refuse knobs that disagree with the index's stored `_lsh_params` —
    * turning the silent recall-0 of mismatched signatures into a loud
    * error. Indexes from builds predating the sidecar skip the check.
    */
  private def requireLshParams(spark: SparkSession, path: String,
      numPlanes: Int, bands: Int, seed: Long): Unit =
    IndexStore.marker(spark, path, "_lsh_params").foreach { stored =>
      require(stored == s"$numPlanes,$bands,$seed",
        s"$path was built with (numPlanes,bands,seed) = ($stored); probing " +
          s"or appending with ($numPlanes,$bands,$seed) would produce " +
          "signatures that never collide with the stored ones (silent " +
          "zero recall) — pass the build's knobs or rebuild the index")
    }

  /** Cosine near-dup pairs of an ingest batch against an existing corpus
    * PLUS within the batch — the embedding-space twin of
    * [[neardupDelta]], with the same restriction law (spec-pinned):
    * result == [[neardupCosineLshAt]] over (corpus ∪ batch) restricted to
    * pairs touching the batch (same seeded planes ⇒ identical signatures
    * ⇒ identical buckets; exact below the hot-bucket cap in the union
    * population — see [[neardupDelta]]). Ids must be disjoint between
    * batch and corpus.
    *
    * @return (v1, v2, cos, cross) — cross = true marks corpus pairs (v1
    *   the new vector, v2 the corpus one); cross = false within-batch
    *   pairs (v1 < v2, both new)
    */
  def cosineDelta(newVecs: DataFrame, corpus: DataFrame,
      threshold: Double, numPlanes: Int = 16, bands: Int = 8,
      seed: Long = 42L): DataFrame = {
    val cbase = corpus
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
    cosineDeltaFrames(newVecs,
      bandedSignatures(cbase, numPlanes, bands, seed), cbase,
      threshold, numPlanes, bands, seed)
  }

  /** Append `vecs`' signatures + (vec_id, embedding, n2) rows to an
    * existing cosine index under the increment's own `batch=tag` dir —
    * how the vector ingest loop grows the corpus after admitting a batch
    * ([[graft.streaming.IngestDedup.runVectors]]). Replay-idempotent by
    * overwrite, like [[appendNeardupIndex]]. Knobs must match the index
    * build.
    */
  def appendCosineIndex(vecs: DataFrame, path: String, tag: String,
      numPlanes: Int = 16, bands: Int = 8, seed: Long = 42L): Unit = {
    val spark = vecs.sparkSession
    IndexStore.append(spark, path, tag, Seq("bands", "vectors")) { inc =>
      requireLshParams(spark, path, numPlanes, bands, seed)
      val base = vecs
        .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
      bandedSignatures(base, numPlanes, bands, seed)
        .write.mode("overwrite").parquet(inc.dir("bands"))
      base.write.mode("overwrite").parquet(inc.dir("vectors"))
    }
  }

  /** [[cosineDelta]] against a persisted index ([[writeCosineIndex]]) —
    * `numPlanes`/`bands`/`seed` must match the index build. With `asOf`,
    * against the index AS OF a recorded batch tag (the embedding-space
    * twin of [[neardupDeltaIndexed]]'s as-of read). Read-only.
    */
  def cosineDeltaIndexed(spark: SparkSession, path: String,
      newVecs: DataFrame, threshold: Double, numPlanes: Int = 16,
      bands: Int = 8, seed: Long = 42L,
      asOf: Option[String] = None): DataFrame = {
    val idx = IndexStore.open(spark, path, Seq("bands", "vectors"),
      IndexStore.View.of(asOf))
    requireLshParams(spark, path, numPlanes, bands, seed)
    cosineDeltaFrames(newVecs, idx("bands"), idx("vectors"),
      threshold, numPlanes, bands, seed)
  }

  private def cosineDeltaFrames(newVecs: DataFrame, corpusBands: DataFrame,
      corpusBase: DataFrame, threshold: Double, numPlanes: Int, bands: Int,
      seed: Long): DataFrame = {
    val nbase = newVecs
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
    val nb = bandedSignatures(nbase, numPlanes, bands, seed)
    // dedup AFTER the exact-cosine verify on both branches (r19, same
    // commuted form as neardupCosineLshAt): the probe side's candidate
    // volume is |batch| × collision-rate × |corpus| — the built-in
    // distinct was its largest exchange, paid per ingest batch.
    val cross = graft.operators.BandedHamming
      .probedPairRows(nb, corpusBands, "vec_id", "vec_id", Seq("band", "bv"))
      .select(col("id1").as("v1"), col("id2").as("v2"))
    val within = graft.operators.BandedHamming
      .bucketedPairRows(nb, "vec_id", Seq("band", "bv"))
      .select(col("id1").as("v1"), col("id2").as("v2"))
    verifyCosine(cross, nbase, corpusBase, threshold).distinct()
      .withColumn("cross", lit(true))
      .union(verifyCosine(within, nbase, nbase, threshold).distinct()
        .withColumn("cross", lit(false)))
      .orderBy(col("v1"), col("v2"))
  }

  // ----------------------------------------------------------- IVF ANN

  /** IVF (inverted-file) ANN — the second scale path beside [[knnLsh]]:
    *
    *   1. coarse quantizer: 16 deterministic centroids (the vec_id < 16
    *      embeddings — no RNG, so the query is reproducible);
    *   2. assignment: every vector joins its nearest centroid by cosine —
    *      a broadcast join against the tiny centroid table, one narrow
    *      pass at 100 TB;
    *   3. search: each query probes its DERIVED-nprobe nearest cells
    *      ([[graft.operators.Ivf.defaultNprobe]], r18 — the fixed
    *      nprobe=4 read recall 0.92 at the 500-vector fixtures, where
    *      a 4/16-cell probe sees ~125 candidates of a corpus whose
    *      true neighbors are middling-cosine; the derivation widens the
    *      probe until the candidate pool reaches ~512, which is the
    *      whole corpus below 512·(1−4/cells) rows and the fixed floor 4
    *      past 128·cells rows) and ranks exact cosine only within those
    *      cells — the candidate join shuffles by cell id, never
    *      all-pairs. Corpus count session-memoized ([[graft.operators
    *      .CorpusCount]], counted on the RAW table frame so the warm
    *      row and every derived-knob consumer share one entry).
    *
    * Engine-specific only in centroid choice → no SQL oracle;
    * VectorOpsSpec asserts recall against [[knnBruteforce]] plus
    * structural invariants.
    */
  def knnIvf(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ivf
    val n = graft.operators.CorpusCount.of(Tables.t(spark, dir, "embeddings"))
    val base = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
    Ivf.search(base, Ivf.seedCentroids(base, 16),
      queryPred = col("vec_id") < 5, k = 5,
      nprobe = Ivf.defaultNprobe(n, 16))
  }

  // -------------------------------------- diversity-balanced sampling

  /** Cluster-balanced downsampling in EMBEDDING space — the curation
    * step that keeps a corpus's rare modes when shrinking it (the
    * SemDeDup-family complement of [[graft.queries.TextOps.domainMix]]'s
    * metadata balancing: source tags can't see that 90% of a corpus is
    * one semantic cluster). Vectors are k-means-assigned to `cells`
    * ([[graft.operators.Ivf]] — same trained centroids as the ANN
    * index, so a pipeline that built one reuses it), then each cell
    * keeps its `perCell` lowest-xxhash members: an equal per-cell quota
    * oversamples rare clusters by construction, and the hash order makes
    * the pick deterministic and uniform-within-cell. Scale shape: one
    * shuffle by cell for the quota window (per-cell groups, never a
    * global sort); the train/assign passes are the IVF build already
    * audited in PLANS.md.
    */
  def sampleDiverseAt(vecs: DataFrame, cells: Int, perCell: Int,
      iters: Int = 2): DataFrame = {
    require(cells > 0 && perCell > 0, s"cells=$cells perCell=$perCell")
    import graft.operators.Ivf
    val base = vecs
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
    val assigned = Ivf.assign(base, Ivf.train(base, cells, iters))
    val w = Window.partitionBy(col("cell"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
    assigned
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perCell)
      .select(col("vec_id"), col("cell"), col("rank").cast(LongType).as("rank"))
      .orderBy(col("cell"), col("rank"))
  }

  /** Pinned contract instantiation: 16 cells × 8 keepers over
    * `embeddings`. Engine-specific in centroid choice and hash order →
    * no SQL oracle; LawsSpec pins determinism, exact per-cell quotas,
    * full-cell coverage, and the balance improvement vs the raw corpus.
    */
  def sampleDiverse(spark: SparkSession, dir: String): DataFrame =
    sampleDiverseAt(Tables.t(spark, dir, "embeddings"), cells = 16, perCell = 8)

  // ------------------------------------------------- PQ-compressed ANN

  /** Product-quantized ANN — the memory-compression scale path beside
    * [[knnLsh]] (prunes candidates) and [[knnIvf]] (prunes cells): the
    * corpus the approximate stage scans is m=8 code ids per vector
    * instead of 64 floats (~32× smaller), scored by ADC table lookup,
    * with exact-cosine re-rank of each query's top-100 shortlist.
    * Codebooks are the deterministic seeds (the 64 lowest-id vectors'
    * subvectors — no RNG, reproducible). The r13 knobs (ks 16→64,
    * shortlist 50→100) come from the measured sweep in BASELINE.md:
    * recall@5 0.76→0.96 on the fixture, AND cheaper — 4× the codebook
    * entries cut quantization error so much that the re-rank sees
    * better-ordered shortlists while the ADC LUT stays trivially
    * broadcastable (m·ks = 512 doubles per query). The shortlist SCALES
    * with the corpus — max(200, n/5) — the q_knn_graph lesson applied
    * here the same round: on a structureless corpus the ADC error vs
    * true-neighbor gap forces the re-rank set to stay a constant corpus
    * fraction (fixed 100 read 0.96 at n=500 but 0.84 at n=2 000; n/10 =
    * 0.92, n/5 = 1.00 — grid in BASELINE.md r14). The FLOOR is the
    * small-corpus half (r18, AnnSmallGrid): 100 reads 0.96 at the
    * 500-vector fixtures where 200 reads 1.00 at both — one
    * quantization-misranked true neighbor sat just outside the 20%
    * shortlist; larger codebooks (ks 128) do NOT recover it, a wider
    * re-rank does. The floor stops binding past n = 1 000. Real
    * corpora with dup/cluster structure need FAR less: the 200 k
    * hard-regime table hit 0.906 with shortlist 200 = 0.1%.
    * Engine-specific in
    * codebook choice → no SQL oracle; VectorOpsSpec asserts recall
    * against [[knnBruteforce]] plus structural invariants, and
    * [[vecPq]] pins the encode math cross-engine.
    */
  def knnPq(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pq
    // session-memoized like every derived-knob count (r18 — this one
    // was missed in the first CorpusCount pass; counted on the RAW
    // table frame so it shares the warm row's memo entry)
    val n = graft.operators.CorpusCount.of(Tables.t(spark, dir, "embeddings"))
    val base = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
    Pq.search(base, Pq.seedCodebooks(base, m = 8, ks = 64),
      base.filter(col("vec_id") < 5), k = 5,
      shortlist = math.max(200L, n / 5).toInt, m = 8)
  }

  /** PQ encode digests — the SQL-oracled face of [[knnPq]]'s compression
    * stage: every vector's m=8 nearest-sub-centroid code, reduced to
    * scalar digests (the driver's pandas compare cannot hash arrays —
    * the [[vecQuantize]] convention; code_wsum is position-weighted so
    * any reordering at fixed sum still shifts the hash).
    *
    * Cross-engine determinism: both engines compute sub-centroid scores
    * s·c − ‖c‖²/2 as the identical left-to-right IEEE double fold
    * (codegen'd DotProduct here, `list_reduce` over the same element
    * order in DuckDB), so argmax decisions are bit-identical; exact
    * score ties resolve to the smallest code on both sides (max_by
    * (score, −c_id) struct key here; max-score + min-c_id two-step in
    * the oracle — DuckDB's arg_max rejects composite keys).
    */
  def vecPq(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pq
    val base = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    Pq.encode(base, Pq.seedCodebooks(base, m = 8, ks = 16), m = 8)
      .select(col("vec_id"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
        aggregate(
          zip_with(col("codes"), sequence(lit(1), size(col("codes"))),
            (c, i) => c.cast(LongType) * i),
          lit(0L), (a, x) => a + x).as("code_wsum"),
        array_min(col("codes")).cast(LongType).as("code_min"),
        array_max(col("codes")).cast(LongType).as("code_max"))
      .orderBy(col("vec_id"))
  }

  /** Width-8 dot for the PQ oracle's subvectors (same fold shape as
    * [[dotSql]], which is pinned to the full 64-dim width).
    */
  private def dotSql8(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), [CAST($a[i] AS DOUBLE) * $b[i] for i in range(1, 9)]), (p, q) -> p + q)"

  val vecPqSql: String =
    s"""WITH sub AS (
       |  SELECT vec_id, CAST(t.j AS INTEGER) AS j,
       |         embedding[CAST(t.j*8+1 AS INTEGER):CAST(t.j*8+8 AS INTEGER)] AS sub
       |  FROM embeddings, range(0, 8) t(j)),
       |seed AS (
       |  SELECT j,
       |         CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INTEGER) AS c_id,
       |         sub AS c_emb, ${norm2Sql("sub")} AS c_n2
       |  FROM sub
       |  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
       |scored AS (
       |  SELECT s.vec_id, s.j, b.c_id,
       |         ${dotSql8("s.sub", "b.c_emb")} - b.c_n2 / 2 AS score
       |  FROM sub s JOIN seed b USING (j)),
       |mx AS (SELECT vec_id, j, max(score) AS ms FROM scored GROUP BY vec_id, j),
       |assigned AS (
       |  SELECT s.vec_id, s.j, min(s.c_id) AS code
       |  FROM scored s JOIN mx
       |    ON s.vec_id = mx.vec_id AND s.j = mx.j AND s.score = mx.ms
       |  GROUP BY s.vec_id, s.j)
       |SELECT vec_id,
       |  CAST(sum(code) AS BIGINT) AS code_sum,
       |  CAST(sum(code * (j + 1)) AS BIGINT) AS code_wsum,
       |  CAST(min(code) AS BIGINT) AS code_min,
       |  CAST(max(code) AS BIGINT) AS code_max
       |FROM assigned GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // -------------------------------------------------- kNN label voting

  /** k-NN majority-vote labeling — the application layer over similarity
    * search (weak labeling / label propagation in a training-data
    * pipeline): each query vector takes the modal label of its top-5
    * cosine neighbors, ties to the smallest label. The vote is one
    * count-aggregate over the (tiny) top-k set followed by one max over
    * the (votes, −label) STRUCT — partial-aggregatable with no window
    * and NO label-range assumption (the former votes·1000 − label
    * encoding silently mis-voted tied labels ≥ 1000; r16, the keep-best
    * struct fix applied here too — DuckDB mirrors it with max over a
    * struct, since its arg_max rejects composite keys).
    * Exact top-k (the [[knnBruteforce]] shape) keeps it SQL-oracled; at
    * corpus scale the same vote composes over [[knnLsh]]/[[knnIvf]]
    * candidates instead.
    */
  def knnLabel(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast(LongType).as("nb_label"))
    val votes = knnBruteforce(spark, dir)
      .join(labels, "vec_id")
      .groupBy(col("q_id"), col("nb_label"))
      .agg(count(lit(1)).as("votes"))
    votes.groupBy(col("q_id"))
      .agg((-max(struct(col("votes").as("v"), (-col("nb_label")).as("nl")))
          .getField("nl")).as("pred_label"),
        max(col("votes")).as("top_votes"))
      .orderBy(col("q_id"))
  }

  val knnLabelSql: String =
    s"""WITH top5 AS ($knnBruteforceSql),
       |votes AS (
       |  SELECT t.q_id, CAST(e.label AS BIGINT) AS nb_label, count(*) AS votes
       |  FROM top5 t JOIN embeddings e ON t.vec_id = e.vec_id
       |  GROUP BY t.q_id, e.label)
       |SELECT q_id,
       |  CAST(-((max({'v': votes, 'nl': -nb_label})).nl) AS BIGINT) AS pred_label,
       |  max(votes) AS top_votes
       |FROM votes GROUP BY q_id ORDER BY q_id""".stripMargin

  // --------------------------------------------------- int8 quantization

  /** Symmetric int8 embedding quantization — the storage-compression pass
    * of a 100 TB vector corpus (4× smaller than float32, distance math
    * stays monotone): q_i = ⌊x_i·127/max|x| + ½⌋, scale carried per row.
    * Per-row lambda math, no shuffle. Deterministic: identical IEEE
    * double ops on both engines (floor(x+0.5) rounding spelled
    * explicitly so neither engine's round() tie rule is involved);
    * all-zero vectors quantize to zeros with scale 0. Returns
    * (vec_id, scale_max double, q8 array<int>) — the engine surface.
    */
  def quantizeVectors(vecs: DataFrame): DataFrame = {
    val xd: Column => Column = _.cast(D)
    vecs
      .withColumn("scale_max",
        array_max(transform(col("embedding"), x => abs(xd(x)))))
      .select(col("vec_id"), col("scale_max"),
        when(col("scale_max") === 0.0,
          transform(col("embedding"), _ => lit(0)))
          .otherwise(transform(col("embedding"),
            x => floor(xd(x) * 127.0 / col("scale_max") + 0.5).cast(IntegerType)))
          .as("q8"))
  }

  /** Contract form of [[quantizeVectors]]: scalar digest columns only.
    * The driver's compare sorts/hashes rows with pandas, which cannot
    * order numpy arrays (r4: `TypeError: unhashable type numpy.ndarray`),
    * so the array itself must not appear in the output. The digests pin
    * every element anyway: q8_wsum is position-weighted (Σ q_i·i), so any
    * single-element or order change at fixed sum still shifts the hash.
    * All columns integer — no float repr hazard across engines (scale is
    * carried as ⌊scale·10⁴+½⌋ basis points, explicit floor rounding).
    */
  // ------------------------------------ random-projection dim reduction

  /** Deterministic ±1 random projection (Achlioptas'01 / JL): project
    * the 64-dim embeddings to [[ProjDims]] dims with a FIXED sign
    * matrix — no RNG state, no stored artifact. The K×D signs come from
    * a splitmix64-style integer mix evaluated at EXPRESSION-GENERATION
    * time, so the emitted Spark expression and the emitted oracle SQL
    * literally ARE the matrix (any engine that runs either gets the
    * identical projection; nothing is recomputed at runtime). A cheap
    * parity-of-a-linear-form does NOT work here: with odd multipliers
    * `(a·i + b·j) % 2` collapses to `(i+j) % 2` — a rank-1 checkerboard
    * whose "projection" is one scalar replicated with alternating sign
    * (caught in review; the mixed hash below has no such structure).
    * y_i = Σ_j s(i,j)·x_j / √K; dividing by √16 = 4 keeps the scale
    * exact in binary, and the final 6dp quantization is the repo's
    * explicit floor(x·10⁶ + ½) form — never round(), whose tie rule
    * differs between engines (the vecQuantize discipline). The per-row
    * work is one codegen'd expression (K×D adds in a FIXED fold order,
    * so the double sums are bit-identical across engines); no shuffle —
    * storage drops 4× ahead of any ANN indexing, and JL bounds the
    * pairwise-geometry distortion (spec: planted near-dup pairs stay
    * separated from the background after projection).
    */
  private[graft] val ProjDims = 16
  private val EmbDims = 64

  private def projSign(i: Int, j: Int): Int = {
    var z = i.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L
    z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L
    z ^= (z >>> 27); z *= 0x94D049BB133111EBL
    z ^= (z >>> 31)
    if ((z & 1L) == 0L) 1 else -1
  }

  /** The projected vector as a Column over an `embedding` column —
    * one native codegen'd expression
    * ([[org.apache.spark.sql.graft.JlProject]]; see there for why the
    * inline ±-chain and HOF-fold formulations were retired and for the
    * bit-exact IEEE-parity argument against the DuckDB oracle).
    */
  private[graft] def projectCol(emb: Column): Column =
    org.apache.spark.sql.graft.JlProjectExpression.jlProject(
      emb, ProjDims, EmbDims,
      for (i <- 0 until ProjDims; j <- 0 until EmbDims)
        yield if (projSign(i, j) > 0) 1.0 else -1.0)

  /** Declared contract shape: SCALAR rows `(vec_id, pos, val)` via
    * posexplode — the driver's comparator hashes pandas frames and an
    * array-typed output column is unhashable there (SURVEY §7.6 house
    * rule: declared query outputs must be scalar-typed). The array
    * surface stays available as [[projectCol]]; this is the same unnest
    * posture as q_vec_centroid. `pos` is 1-based to match DuckDB's
    * generate_subscripts.
    */
  def vecProject(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "embeddings")
      // the projection is its own SELECT so the generator below explodes
      // a plain attribute: inlining the 16×64-term array expression into
      // Generate's codegen blows janino's method limits — Spark then
      // pays a ~4 s failed compile AND interprets (measured 0.4 → 3.2 s
      // on the bench row before this split)
      .select(col("vec_id"), projectCol(col("embedding")).as("proj"))
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("pos0", "val")))
      .select(col("vec_id"), (col("pos0") + 1).cast(LongType).as("pos"),
        col("val"))
      .orderBy(col("vec_id"), col("pos"))

  val vecProjectSql: String = {
    val comps = (0 until ProjDims).map { i =>
      val terms = (0 until EmbDims).map { j =>
        val s = if (projSign(i, j) > 0) "+" else "-"
        s"$s CAST(embedding[${j + 1}] AS DOUBLE)"
      }.mkString(" ")
      // identical left-to-right fold order as the Spark expression,
      // same explicit floor-quantization (no engine round() tie rule)
      s"floor((${terms.stripPrefix("+ ")}) / 4.0 * 1000000.0 + 0.5) / 1000000.0"
    }.mkString(",\n    ")
    s"""SELECT vec_id, generate_subscripts(proj, 1) AS pos, unnest(proj) AS val
       |FROM (SELECT vec_id, [
       |    $comps] AS proj
       |  FROM embeddings)
       |ORDER BY vec_id, pos""".stripMargin
  }

  def vecQuantize(spark: SparkSession, dir: String): DataFrame =
    quantizeVectors(Tables.t(spark, dir, "embeddings"))
      .select(col("vec_id"),
        floor(col("scale_max") * 10000.0 + 0.5).cast(LongType).as("scale_e4"),
        // empty-array parity: DuckDB list_sum([]) is NULL, Spark aggregate
        // folds to the 0 seed — emit NULL on empty so both engines agree
        when(size(col("q8")) === 0, lit(null).cast(LongType))
          .otherwise(aggregate(col("q8"), lit(0L), (acc, x) => acc + x))
          .as("q8_sum"),
        when(size(col("q8")) === 0, lit(null).cast(LongType))
          .otherwise(aggregate(
            zip_with(col("q8"), sequence(lit(1), size(col("q8"))),
              (q, i) => q.cast(LongType) * i), lit(0L), (acc, x) => acc + x))
          .as("q8_wsum"),
        array_min(col("q8")).cast(LongType).as("q8_min"),
        array_max(col("q8")).cast(LongType).as("q8_max"))
      .orderBy(col("vec_id"))

  val vecQuantizeSql: String =
    """WITH t AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale_max
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, scale_max,
      |    CASE WHEN scale_max = 0
      |         THEN list_transform(embedding, x -> 0)
      |         ELSE list_transform(embedding,
      |                x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale_max + 0.5) AS INTEGER))
      |    END AS q8
      |  FROM t)
      |SELECT vec_id,
      |  CAST(floor(scale_max * 10000.0 + 0.5) AS BIGINT) AS scale_e4,
      |  CAST(list_sum(q8) AS BIGINT) AS q8_sum,
      |  CAST(list_sum(list_transform(q8, (x, i) -> CAST(x AS BIGINT) * i)) AS BIGINT) AS q8_wsum,
      |  CAST(list_min(q8) AS BIGINT) AS q8_min,
      |  CAST(list_max(q8) AS BIGINT) AS q8_max
      |FROM q ORDER BY vec_id""".stripMargin

  // -------------------------------------------- embedding drift (r14)

  /** Embedding-distribution drift — [[TextOps.corpusDriftOn]]'s twin for
    * the vector corpus (§2.G observability): per-bin PSI terms between a
    * BASELINE embedding set and a BATCH over two exact, engine-parity
    * binnings. `lsh_bucket` is the 16-cell occupancy of 4 fixed splitmix
    * hyperplanes — rows 16–19 of the [[projSign]] matrix, disjoint from
    * the 0–15 JL rows — and catches the corpus moving to a new REGION of
    * embedding space (the drift mode that sags IVF/graph recall;
    * `Ivf.driftStats` sees it per-index, this sees it per-ingest with no
    * index required). `argmax` is each vector's 1-based max-component
    * index and catches a FEATURE/dimension takeover — the signature of
    * an upstream embedding-model version bump. Both bin assignments are
    * bit-exact across engines: the hyperplane dot is a fixed
    * left-associated ± fold over `CAST(x AS DOUBLE)` terms compared to
    * 0.0 (the q_vec_project IEEE-parity argument), and argmax is pure
    * comparisons with first-match tie order in both Spark
    * (`array_position`) and DuckDB (`list_position`). The PSI tail is
    * [[TextOps.psiTermsOn]] verbatim.
    *
    * Scale: one pass per corpus (the two binnings melt through one
    * explode), two map-side-combinable counts, an 80-row join — nothing
    * corpus-sized shuffles, same as corpus drift.
    */
  def vecDriftOn(baseline: DataFrame, batch: DataFrame): DataFrame =
    TextOps.psiTermsOn(
      vecBins(baseline, "base").unionByName(vecBins(batch, "batch")))

  /** The melted `(side, metric, bin)` rows of one embedding side —
    * factored out (the [[TextOps.corpusBins]] posture) so a
    * continuously-ingesting pipeline aggregates the baseline side once
    * at stream start instead of re-melting it per micro-batch.
    */
  private[graft] def vecBins(df: DataFrame, side: String): DataFrame = {
    // the bucket is a native expression, NOT an inline ± chain: the
    // 4×64-term reduceLeft formulation cost a constant ~5.3 s of
    // generated-code compilation per session at EVERY scale factor
    // (TimeQ-measured — the whole query was compile, not data); see
    // PlaneSignBucket for the bit-exactness argument (ascending-j
    // accumulation ≡ the oracle's left-assoc chain, raw-sum sign test)
    val bucket = org.apache.spark.sql.graft.JlProjectExpression
      .planeBucket(col("embedding"), DriftPlanes, EmbDims,
        for (i <- 0 until DriftPlanes; j <- 0 until EmbDims)
          yield if (projSign(DriftPlaneBase + i, j) > 0) 1.0 else -1.0)
    df.select(lit(side).as("side"),
      explode(array(
        struct(lit("lsh_bucket").as("metric"),
          concat(lit("b"), bucket.cast(StringType)).as("bin")),
        struct(lit("argmax").as("metric"),
          concat(lit("d"), array_position(col("embedding"),
            array_max(col("embedding"))).cast(StringType)).as("bin"))))
        .as("mb"))
      .select(col("side"), col("mb.metric").as("metric"),
        col("mb.bin").as("bin"))
  }

  /** 4 planes → 16 buckets: enough cells that a region shift moves
    * occupancy visibly, few enough that sf0.001's 50-vector fixture
    * still populates most of them (empty-bin clamp terms stay rare on
    * a stable corpus). Planes start at 16 to stay disjoint from the JL
    * projection's rows 0–15 — a drift monitor must not share structure
    * with the dimension reduction it might be asked to watch.
    */
  private val DriftPlanes = 4
  private val DriftPlaneBase = 16

  /** Pinned contract instantiation: the fixture embeddings split by
    * vec_id parity as the baseline-vs-batch stand-in (the q_corpus_drift
    * posture).
    */
  def vecDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(spark, dir, "embeddings")
    vecDriftOn(e.filter(col("vec_id") % 2 === 0),
      e.filter(col("vec_id") % 2 === 1))
  }

  val vecDriftSql: String = {
    val dots = (0 until DriftPlanes).map { i =>
      val terms = (0 until EmbDims).map { j =>
        val s = if (projSign(DriftPlaneBase + i, j) > 0) "+" else "-"
        s"$s CAST(embedding[${j + 1}] AS DOUBLE)"
      }.mkString(" ")
      // identical left-to-right fold order as the Spark ± chain above
      s"(${terms.stripPrefix("+ ")}) AS dot$i"
    }.mkString(",\n    ")
    s"""WITH sides AS (
       |  SELECT CASE WHEN vec_id % 2 = 0 THEN 'base' ELSE 'batch' END AS side,
       |    $dots,
       |    list_position(embedding, list_max(embedding)) AS amax
       |  FROM embeddings),
       |binned AS (
       |  SELECT side, 'lsh_bucket' AS metric,
       |    'b' || CAST(8*CAST(dot0 >= 0 AS INT) + 4*CAST(dot1 >= 0 AS INT)
       |         + 2*CAST(dot2 >= 0 AS INT) + CAST(dot3 >= 0 AS INT) AS VARCHAR) AS bin
       |  FROM sides
       |  UNION ALL
       |  SELECT side, 'argmax', 'd' || CAST(amax AS VARCHAR) FROM sides),
       |counts AS (
       |  SELECT metric, bin,
       |    CAST(sum(CASE WHEN side = 'base' THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
       |    CAST(sum(CASE WHEN side = 'batch' THEN 1 ELSE 0 END) AS DOUBLE) AS nq
       |  FROM binned GROUP BY metric, bin),
       |tot AS (SELECT metric AS tmetric, sum(nb) AS tb, sum(nq) AS tq
       |        FROM counts GROUP BY metric)
       |SELECT metric, bin,
       |  floor(nb / tb * 1000000.0 + 0.5) / 1000000.0 AS base_share,
       |  floor(nq / tq * 1000000.0 + 0.5) / 1000000.0 AS batch_share,
       |  floor((greatest(nq / tq, 0.000001) - greatest(nb / tb, 0.000001)) *
       |        ln(greatest(nq / tq, 0.000001) / greatest(nb / tb, 0.000001))
       |        * 1000000.0 + 0.5) / 1000000.0 AS psi_term
       |FROM counts JOIN tot ON metric = tmetric
       |ORDER BY metric, bin""".stripMargin
  }

  // -------------------------------------- semantic decontamination (r14)

  /** Embedding-space benchmark decontamination — the semantic
    * complement of [[TextOps.decontaminateOn]]'s shingle overlap (§2.G):
    * a training document whose EMBEDDING sits within `threshold` cosine
    * of any eval example leaks the benchmark even when no n-gram
    * matches (paraphrases, translations — the FineWeb/llm-decontaminate
    * failure mode shingles can't see). Per corpus vector: `n_hits`
    * (eval examples at raw cosine ≥ threshold — the raw-threshold
    * semantics of [[neardupCosineAt]]), `max_cos` (closest eval example
    * over ALL of them, the floor(x·10⁶+½) quantization applied once to
    * the max), `contaminated = n_hits > 0`. Every pairwise cosine is
    * the bit-identical left-fold dot / IEEE sqrt/divide both engines
    * share, so count, max and verdict are engine-parity-exact.
    *
    * Scale: the eval set is benchmark-sized (10²–10⁵ rows) —
    * `broadcast()` it and the corpus never shuffles; the per-partition
    * partial aggregation collapses the |corpus|×|eval| product map-side
    * to one row per corpus vector. At 100 TB × 10⁵ eval the exact scan
    * is compute-heavy; [[semanticDecontaminateIndexed]] is the pruned
    * path against a persisted eval index.
    */
  def semanticDecontaminateOn(corpus: DataFrame, evalVecs: DataFrame,
      threshold: Double): DataFrame = {
    val c = corpus.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"))
    val e = evalVecs.select(col("embedding").as("ee"),
      norm2(col("embedding")).as("en2"))
    val cosRaw = dot(col("embedding"), col("ee")) /
      (sqrt(col("n2")) * sqrt(col("en2")))
    c.crossJoin(broadcast(e))
      .groupBy(col("vec_id"))
      .agg(
        sum(when(cosRaw >= threshold, 1L).otherwise(0L)).as("n_hits"),
        max(cosRaw).as("mc"))
      .select(col("vec_id"), col("n_hits"),
        (floor(col("mc") * lit(1000000.0) + lit(0.5)) / lit(1000000.0))
          .as("max_cos"),
        (col("n_hits") > 0L).as("contaminated"))
      .orderBy(col("vec_id"))
  }

  /** [[semanticDecontaminateOn]] against a PERSISTED eval-set cosine
    * index ([[writeCosineIndex]] family) — the 100 TB path: the corpus
    * probes only matching LSH buckets ([[graft.operators.BandedHamming]]
    * asymmetric probe, shuffle by (band, value)), exact cosine verifies
    * candidates, and clean rows survive via the left join with
    * `n_hits = 0`. Read-only on the index (the as-of discipline: probes
    * never write). Candidate recall < 1 is the documented tradeoff —
    * `n_hits`/`max_cos` cover CANDIDATES only (`max_cos` NULL on a row
    * with none), verdicts are a subset of the exact op's
    * (VectorOpsSpec measures containment + recall on the fixture).
    *
    * With `asOf`, "what would eval-set release R have flagged": the
    * probe sees only the eval batches admitted up to `asOf` in the index
    * history, so a verdict is reproducible bit-identically after later
    * eval appends (the question
    * [[graft.queries.TextOps.decontaminateIndexed]] answers for the
    * shingle family). The corpus projection is checkpointed: it feeds
    * THREE consumers (signatures, the cosine verify, the left-join
    * spine) and Catalyst shares no subplans — un-materialized, every
    * probe would re-scan and re-norm the corpus up to 3×.
    */
  def semanticDecontaminateIndexed(spark: SparkSession, path: String,
      corpus: DataFrame, threshold: Double, numPlanes: Int = 16,
      bands: Int = 8, seed: Long = 42L,
      asOf: Option[String] = None): DataFrame = {
    val comp = IndexStore.open(spark, path, Seq("bands", "vectors"),
      IndexStore.View.of(asOf))
    requireLshParams(spark, path, numPlanes, bands, seed)
    val cbase = Materialize.cut(corpus.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2")))
    // dedup after the verify (r19 commuted form): n_hits counts
    // DISTINCT verified pairs, so the distinct lands on the (small)
    // contaminated survivors instead of the corpus × eval-bucket
    // candidate volume probedPairs would exchange.
    val cands = graft.operators.BandedHamming
      .probedPairRows(bandedSignatures(cbase, numPlanes, bands, seed),
        comp("bands"), "vec_id", "vec_id", Seq("band", "bv"))
      .select(col("id1").as("v1"), col("id2").as("v2"))
    val hits = verifyCosine(cands, cbase, comp("vectors"), threshold)
      .distinct()
      .groupBy(col("v1"))
      .agg(count(lit(1)).as("n_hits"), max(col("cos")).as("max_cos"))
    cbase.select(col("vec_id"))
      .join(hits, col("vec_id") === col("v1"), "left")
      .select(col("vec_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("max_cos"), (coalesce(col("n_hits"), lit(0L)) > 0L).as("contaminated"))
      .orderBy(col("vec_id"))
  }

  /** Pinned contract instantiation: eval = every 10th fixture vector,
    * corpus = the rest, threshold 0.35 (the fixture is isotropic noise —
    * 61/450 contaminated at sf0.01, a healthy verdict mix).
    */
  def semanticDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(spark, dir, "embeddings")
    semanticDecontaminateOn(e.filter(col("vec_id") % 10 =!= 0),
      e.filter(col("vec_id") % 10 === 0), threshold = 0.35)
  }

  val semanticDecontaminateSql: String =
    s"""WITH c AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2
       |  FROM embeddings WHERE vec_id % 10 <> 0),
       |e AS (
       |  SELECT embedding AS ee, ${norm2Sql("embedding")} AS en2
       |  FROM embeddings WHERE vec_id % 10 = 0),
       |p AS (
       |  SELECT c.vec_id, ${dotSql("c.embedding", "e.ee")} / (sqrt(c.n2) * sqrt(e.en2)) AS cos
       |  FROM c CROSS JOIN e)
       |SELECT vec_id,
       |  CAST(sum(CASE WHEN cos >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  floor(max(cos) * 1000000.0 + 0.5) / 1000000.0 AS max_cos,
       |  sum(CASE WHEN cos >= 0.35 THEN 1 ELSE 0 END) > 0 AS contaminated
       |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ------------------------------------------------- graph ANN (r13)

  /** Graph-based ANN — the high-recall leg beside LSH (candidate
    * pruning), IVF (cell pruning) and PQ (memory compression): an
    * NN-Descent k-NN graph ([[graft.operators.NnDescent]] — built
    * entirely from joins, no sequential inserts) searched by iterative
    * beam expansion. Pinned contract instantiation: degree-10 graph,
    * 2 refinement rounds over 16-cell ring init, 3 hops, and a search
    * budget that SCALES with the corpus — beam = max(48, n/25),
    * entries = max(24, n/62) — because on a structureless (isotropic)
    * corpus a FIXED budget's recall decays linearly with n: measured
    * r14, the r13-pinned beam 20 × 8 entries read 0.96 at n=500 but
    * 0.48 at n=2 000, where beam 80 × 32 entries restores 1.00 (the
    * linear rule reproduces both floors; BASELINE.md r14 has the grid).
    * The FLOORS are the small-corpus half of the same lesson (r18):
    * 20 × 8 left recall 0.92 at the 500-vector fixtures — small
    * corpora have distant true neighbors, so the beam needs a larger
    * slice of the graph to reach them — and 48 × 24 reads 1.00 at both
    * (AnnSmallGrid, BASELINE.md r18). The floors stop binding past
    * n = 1 200 / 1 488, where the linear terms take over unchanged.
    * On clustered corpora the fixed-budget routed search
    * ([[graft.operators.NnDescent.searchRouted]]) is the production
    * path — this contract instantiation is the unrouted worst case.
    * The built graph is session-memoized per (session, dir)
    * ([[contractGraph]]) — repeat invocations pay only the beam
    * search. Graph construction is engine-specific → no SQL
    * oracle; Containment records recall@5 vs brute force, NnDescentSpec
    * pins the build/search laws and the hard-regime behavior.
    */
  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    val (base, edges, n) = contractGraph(spark, dir)
    graft.operators.NnDescent.searchGraph(base, edges,
      base.filter(col("vec_id") < 5), k = 5,
      beam = math.max(48L, n / 25).toInt, hops = 3,
      entries = math.max(24L, n / 62).toInt)
  }

  /** Dup-dense ANN by CLUSTER COLLAPSE — the engine's answer to the
    * regime where every navigated index loses to exhaustive scans
    * (BASELINE.md r13 crossover tables: with ~100 near-identical copies
    * per parent, a graph beam or ADC shortlist must swallow the whole
    * sibling cloud to rank inside it, while IVF degenerates to scanning
    * probed cells): collapse near-identical members to their cluster
    * reps using the pipeline's own semantic-dedup labels
    * ([[semanticClustersOn]]/[[semanticClustersLshOn]] — (vec_id, rep)),
    * run ANY rep-corpus ANN (`searchReps` takes (reps, queries) and
    * returns the shared (q_id, vec_id, cos, rn) contract shape — plug
    * in brute force, IVF, or the graph index), expand the top
    * `topClusters` rep hits back to their members, and exact-rank only
    * those. The rep search runs at CLUSTER-count scale
    * (n / multiplicity) and the exact stage scores topClusters ×
    * multiplicity candidates per query — both corpus-size-independent
    * per query, with every step a join (rep projection, member
    * expansion, candidate scoring). Exactness law: whenever a query's
    * true top-k lies inside its top-`topClusters` clusters, the result
    * EQUALS brute force (the final stage is exact) — pinned in
    * VectorOpsSpec along with the degenerate all-clusters == brute
    * case.
    */
  def knnViaReps(base: DataFrame, queries: DataFrame, k: Int,
      topClusters: Int, labels: DataFrame,
      searchReps: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val b = base.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"))
    val reps = b.join(
      labels.select(col("rep").as("vec_id")).distinct(), "vec_id")
    val repHits = searchReps(reps, queries)
      .filter(col("rn") <= topClusters)
      .select(col("q_id"), col("vec_id").as("rep"))
    // a query that lives in the corpus always expands its OWN cluster:
    // every ANN contract excludes self-matches by id, so a query that
    // is itself a rep would otherwise never retrieve its own siblings —
    // exactly the neighbors the dup-dense regime is about
    val own = queries.select(col("vec_id").as("q_id"))
      .join(labels.select(col("vec_id").as("q_id"), col("rep")), "q_id")
    val members = repHits.unionByName(own)
      .join(labels.select(col("vec_id"), col("rep")), "rep")
      .select(col("q_id"), col("vec_id"))
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), norm2(col("embedding")).as("q_n2"))
    val cos = round(dot(col("q_emb"), col("embedding")) /
      (sqrt(col("q_n2")) * sqrt(col("n2"))), 6)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    members.distinct()
      .join(b, "vec_id").join(broadcast(q), "q_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cos.as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy(col("q_id"), col("rn"))
  }

  /** Pinned contract instantiation of [[knnViaReps]] — and the one ANN
    * path that is fully ORACLED: every stage (exact-pair clusters, rep
    * projection, rep top-3, own-cluster union, member expansion, exact
    * top-5) is plain SQL, so the composed result hash-matches DuckDB
    * end-to-end where the index-backed paths can only offer recall
    * containment. Clusters are [[dedupClusterCosine]]'s (cos ≥ 0.35,
    * the q_dedup_cluster_cosine closure); rep search is brute top-3
    * over the collapsed corpus.
    */
  def knnCollapse(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val labels = dedupClusterCosine(spark, dir)
      .select(col("vec_id"), col("rep"))
    knnViaReps(base, base.filter(col("vec_id") < 5), k = 5,
      topClusters = 3, labels,
      (reps, qs) => knn(reps.select(col("vec_id"), col("embedding")), qs, 3))
  }

  val knnCollapseSql: String = {
    val cos6 = (l: String, r: String) =>
      s"round(${dotSql(s"$l.embedding", s"$r.embedding")} / " +
        s"(sqrt($l.n2) * sqrt($r.n2)), 6)"
    s"""WITH RECURSIVE base AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2 FROM embeddings),
       |dups AS (
       |  SELECT a.vec_id AS d1, b.vec_id AS d2
       |  FROM base a JOIN base b ON a.vec_id < b.vec_id
       |  WHERE ${dotSql("a.embedding", "b.embedding")} / (sqrt(a.n2) * sqrt(b.n2)) >= 0.35),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM dups
       |          UNION ALL SELECT d2, d1 FROM dups),
       |reach(a, b) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT r.a, e2.dst FROM reach r JOIN edges e2 ON r.b = e2.src),
       |labels AS (SELECT a AS vec_id, min(b) AS rep FROM reach GROUP BY a),
       |repvec AS (
       |  SELECT b.vec_id, b.embedding, b.n2 FROM base b
       |  JOIN (SELECT DISTINCT rep FROM labels) r ON b.vec_id = r.rep),
       |q AS (SELECT vec_id AS q_id, embedding, n2 FROM base WHERE vec_id < 5),
       |rep_rank AS (
       |  SELECT q_id, r.vec_id AS rep, row_number() OVER (
       |    PARTITION BY q_id ORDER BY ${cos6("q", "r")} DESC, r.vec_id ASC) AS rrn
       |  FROM q JOIN repvec r ON r.vec_id <> q.q_id),
       |hits AS (
       |  SELECT q_id, rep FROM rep_rank WHERE rrn <= 3
       |  UNION
       |  SELECT vec_id AS q_id, rep FROM labels WHERE vec_id < 5),
       |members AS (
       |  SELECT DISTINCT h.q_id, l.vec_id FROM hits h
       |  JOIN labels l ON l.rep = h.rep),
       |scored AS (
       |  SELECT m.q_id, m.vec_id, ${cos6("q", "b")} AS cos
       |  FROM members m
       |  JOIN base b ON b.vec_id = m.vec_id
       |  JOIN q ON q.q_id = m.q_id
       |  WHERE m.vec_id <> m.q_id)
       |SELECT q_id, vec_id, cos, rn FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn
       |  FROM scored)
       |WHERE rn <= 5
       |ORDER BY q_id, rn""".stripMargin
  }

  val all: Seq[ContractQuery] = Seq(
    ContractQuery("q_knn_collapse", knnCollapse, Some(knnCollapseSql)),
    ContractQuery("q_knn_graph", knnGraph, None),
    ContractQuery("q_knn_bruteforce", knnBruteforce, Some(knnBruteforceSql)),
    ContractQuery("q_knn_label", knnLabel, Some(knnLabelSql)),
    ContractQuery("q_neardup_cosine", neardupCosine, Some(neardupCosineSql)),
    ContractQuery("q_dedup_cluster_cosine", dedupClusterCosine, Some(dedupClusterCosineSql)),
    ContractQuery("q_dedup_semantic", dedupSemantic, None),
    ContractQuery("q_vec_centroid", vecCentroid, Some(vecCentroidSql)),
    ContractQuery("q_vec_centroid_assign", vecCentroidAssign,
      Some(vecCentroidAssignSql)),
    ContractQuery("q_dedup_minhash", dedupMinhash, None),
    ContractQuery("q_dedup_cluster_lsh", dedupClusterLsh, None),
    ContractQuery("q_dedup_simhash", dedupSimhash, None),
    ContractQuery("q_knn_lsh", knnLsh, None),
    ContractQuery("q_neardup_cosine_lsh", neardupCosineLsh, None),
    ContractQuery("q_knn_ivf", knnIvf, None),
    ContractQuery("q_knn_pq", knnPq, None),
    ContractQuery("q_vec_pq", vecPq, Some(vecPqSql)),
    ContractQuery("q_sample_diverse", sampleDiverse, None),
    ContractQuery("q_vec_quantize", vecQuantize, Some(vecQuantizeSql)),
    ContractQuery("q_vec_project", vecProject, Some(vecProjectSql)),
    ContractQuery("q_vec_drift", vecDrift, Some(vecDriftSql)),
    ContractQuery("q_decontaminate_semantic", semanticDecontaminate,
      Some(semanticDecontaminateSql))
  )
}
