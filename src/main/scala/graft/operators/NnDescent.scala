package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-based ANN (NN-Descent family, r13): the high-recall option for
  * the regimes where IVF probing plateaus (BASELINE.md's hard-regime
  * tables — the probe ceiling bounds every cell-pruned coding, and
  * hyperplane LSH collapses outright when the similarity gap closes).
  *
  * HNSW — the usual graph index — is a sequential insert algorithm; the
  * Spark-first construction is NN-Descent (Dong et al., WWW'11): start
  * from a cheap locality guess and repeatedly improve each node's
  * neighbor list from its neighbors' neighbors, "a neighbor of a
  * neighbor is likely a neighbor". Every step is a relational operation
  * — the candidate generation is one self-join of the adjacency, the
  * scoring one join against the vector table, the per-node top-k a
  * map-side-combinable `max_by` aggregation — so the build scales as
  * joins shuffled by node id, never all-pairs, and the graph IS a
  * DataFrame (src, nbr, sim).
  *
  * Search is iterative beam expansion over the SYMMETRIZED graph: score
  * a deterministic entry set, then `hops` times expand the current
  * per-query beam through its out-edges (one broadcast-frontier join),
  * score the new candidates, keep the beam. Per hop the work is
  * |beam|·degree rows per query — bounded, never corpus-shaped.
  *
  * Determinism: no RNG anywhere — the initial graph comes from
  * centroid-sim rings over hash-spread seed cells, the random-injection
  * buckets and entry hubs are xxhash64-keyed, and every top-k tiebreaks
  * on vec_id. Same inputs ⇒ same graph, same search results, on any
  * partitioning.
  */
object NnDescent {

  private def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.dotProduct(a, b)

  /** Deterministic HASH-SPREAD seed centroids. [[Ivf.seedCentroids]]'
    * lowest-id rule is fine on arbitrary-id corpora (and stays the
    * q_knn_ivf contract), but id order often correlates with content
    * order — on the AnnScale expanded corpus the k lowest ids are all
    * near-copies of ONE parent, which degenerates every cell to the
    * same direction and with it the ring init and the routed entries
    * (measured: hard-100× routed recall 0.58 with id seeds; hash seeds
    * restore the 10× behavior, BASELINE.md r13). xxhash order is just
    * as deterministic and spreads seeds across the corpus regardless
    * of how ids were assigned.
    */
  private def hashSeeds(base: DataFrame, k: Int): DataFrame =
    base.orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc).limit(k)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("n2").as("c_n2"))

  /** Score candidate edges (src, dst) with raw cosine via two joins
    * against the vector table — the only place geometry enters.
    */
  private def score(cand: DataFrame, base: DataFrame): DataFrame = {
    val s = base.select(col("vec_id").as("src"), col("embedding").as("s_emb"),
      col("n2").as("s_n2"))
    val d = base.select(col("vec_id").as("dst"), col("embedding").as("d_emb"),
      col("n2").as("d_n2"))
    cand.join(s, "src").join(d, "dst")
      .select(col("src"), col("dst"),
        (dot(col("s_emb"), col("d_emb")) /
          (sqrt(col("s_n2")) * sqrt(col("d_n2")))).as("sim"))
  }

  /** Keep each node's k best out-edges (sim desc, dst asc tiebreak).
    * Dedups (src, dst) FIRST — a union of the current graph with
    * re-proposed candidates carries the same edge twice (identical sim,
    * deterministic scoring), and two copies in the top-k would silently
    * halve the effective degree.
    */
  private def topk(edges: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("dst").asc)
    edges.groupBy(col("src"), col("dst")).agg(max(col("sim")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
  }

  /** Build a k-NN graph over `base` (vec_id, embedding, n2):
    * (src, dst, sim) with ≤ k out-edges per node.
    *
    * Init: IVF-cell rings — members of each seed-centroid cell are
    * ordered by similarity to the cell centroid and each links to its
    * next `k` ring successors. Cells give locality (ring neighbors are
    * at least same-cell), the centroid-sim order places near-identical
    * vectors ADJACENT (they score near-identically against any fixed
    * direction, so the init already links dup families), and the
    * construction is one window pass — no pair join.
    *
    * Refine (×iters), two candidate families per round:
    *  - neighbors-of-neighbors: symmetrize the current graph and join
    *    it with itself; when the pool exceeds `candCap` (default 9·k)
    *    keep the candidates reached through the STRONGEST two-edge
    *    paths (hop sims summed — the triangle-inequality heuristic at
    *    the heart of NN-Descent), bounding the scored output per node.
    *  - random injection: hash nodes into buckets of ~`randPerRound`+1
    *    members (salt = round number) and take all pairs within each
    *    bucket — different partners every round. On weak-similarity
    *    corpora the NoN heuristic alone plateaus well below the true
    *    graph (measured: ratio-to-ideal 0.57 at 2 rounds without
    *    injection vs 0.87 with, BASELINE.md r13) because a mediocre
    *    graph proposes mediocre two-hop candidates; the injection is
    *    the deterministic restart that feeds it fresh material. The
    *    per-node scoring budget stays O(candCap + randPerRound) per
    *    round — independent of corpus size — and the bucket join
    *    shuffles by bucket id with bounded bucket width (never a
    *    global order, never all-pairs).
    *
    * Per round: two shuffles by node id, one bucket-id shuffle, the
    * scoring joins, one window top-k; lineage is cut per round (eager
    * checkpoint, the CC-loop discipline) through [[Materialize.cut]]:
    * executor-local blocks by default, where ONE lost executor mid-build
    * kills every later round; durable `checkpoint()` files under
    * `spark.graft.materialize=reliable` — the 100 TB posture, where a
    * multi-hour build must survive executor churn. The loop is
    * identical in both (spec-pinned bit-identical), only block
    * durability differs.
    */
  def buildGraph(base: DataFrame, k: Int, iters: Int, cells: Int = 0,
      candCap: Int = 0, randPerRound: Int = -1): DataFrame = {
    val cap = if (candCap > 0) candCap else 9 * k
    val rand = if (randPerRound >= 0) randPerRound else 4 * k
    val b = base.select(col("vec_id"), col("embedding"), col("n2"))
    // ONE corpus count serves both consumers (cells derivation and the
    // random-injection bucket sizing) — b is often un-checkpointed here,
    // so a second count would be a second full scan (review catch)
    val nTotal =
      if (cells <= 0 || (iters > 0 && rand > 0)) b.count() else 0L
    // cells <= 0 derives ~√n ring-init geometry ([[Ivf.defaultCells]])
    val cGeom = if (cells > 0) cells else Ivf.defaultCells(nTotal)
    val assigned = Ivf.assign(b, hashSeeds(b, cGeom))
      .select(col("cell"), col("vec_id"), col("sim"))
    val ring = Window.partitionBy(col("cell"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    // all k ring successors from ONE window pass (an array of leads +
    // explode), not k stacked window evaluations
    val init0 = assigned
      .select(col("vec_id").as("src"),
        array((1 to k).map(j => lead(col("vec_id"), j).over(ring)): _*)
          .as("nexts"))
      .select(col("src"), explode(col("nexts")).as("dst"))
      .filter(col("dst").isNotNull)
    var edges = Materialize.cut(topk(score(init0, b), k))
    val n = nTotal
    for (r <- 0 until iters) {
      val undirected = edges.select(col("src"), col("dst"), col("sim"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"),
          col("sim")))
      val cand = undirected.as("a")
        .join(undirected.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"),
          (col("a.sim") + col("b.sim")).as("prio"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(max(col("prio")).as("prio"))
      val wCap = Window.partitionBy(col("src"))
        .orderBy(col("prio").desc, col("dst").asc)
      var sampled = cand.withColumn("rn", row_number().over(wCap))
        .filter(col("rn") <= cap).select(col("src"), col("dst"))
      if (rand > 0 && n > 1) {
        val nBuckets = math.max(1L, n / (rand + 1))
        val bucketed = b.select(col("vec_id"),
          pmod(xxhash64(col("vec_id"), lit(r)), lit(nBuckets)).as("bkt"))
        sampled = sampled.unionByName(bucketed.as("x")
          .join(bucketed.select(col("bkt"), col("vec_id").as("dst")).as("y"),
            "bkt")
          .select(col("x.vec_id").as("src"), col("dst"))
          .filter(col("src") =!= col("dst")))
      }
      val next = Materialize.cut(topk(edges.unionByName(score(sampled, b)), k))
      // the outgoing round's durable copy is superseded (no-op locally)
      Materialize.release(edges)
      edges = next
    }
    edges
  }

  /** Beam search over a built graph. `queries` carries (vec_id,
    * embedding, n2) with ids that may overlap `base` (self-matches are
    * excluded by id, the [[graft.queries.VectorOps.knn]] convention).
    * Output (q_id, vec_id, cos, rn) — the shared ANN contract shape.
    *
    * Entry set: the `entries` lowest-vec_id nodes, scored exactly per
    * query. Each hop expands the beam through the SYMMETRIZED edges
    * (so nodes appended with only out-edges stay reachable), scores
    * the frontier, and keeps the per-query `beam` best. Scored state
    * is checkpointed per hop.
    */
  def searchGraph(base: DataFrame, edges: DataFrame, queries: DataFrame,
      k: Int, beam: Int, hops: Int, entries: Int = 8): DataFrame = {
    val entryNodes = base.select(col("vec_id")).orderBy(col("vec_id"))
      .limit(entries)
    val entryRows = queries.select(col("vec_id").as("q_id"))
      .crossJoin(entryNodes)
    searchGraphFrom(base, edges, queries, k, beam, hops, entryRows)
  }

  /** [[searchGraph]] with an explicit per-query entry set `entryRows`
    * (q_id, vec_id) — the routing seam: the fixed global entry set,
    * IVF-routed entries ([[searchGraphRouted]]) and the open-beam exact
    * degeneration are all instantiations of this one loop.
    */
  def searchGraphFrom(base: DataFrame, edges: DataFrame,
      queries: DataFrame, k: Int, beam: Int, hops: Int,
      entryRows: DataFrame): DataFrame = {
    val b = base.select(col("vec_id"), col("embedding"), col("n2"))
    val q = Materialize.cut(queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), col("n2").as("q_n2")))
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
    val qSim = dot(col("q_emb"), col("embedding")) /
      (sqrt(col("q_n2")) * sqrt(col("n2")))
    def scoreQ(cand: DataFrame): DataFrame =
      cand.join(b, "vec_id").join(broadcast(q), "q_id")
        .select(col("q_id"), col("vec_id"), qSim.as("sim"))
    val wBeam = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    // dedup before ranking — a re-scored node (entry revisited by a
    // hop) would otherwise hold two beam slots (topk's rationale)
    def topBeam(df: DataFrame, n: Int): DataFrame =
      df.groupBy(col("q_id"), col("vec_id")).agg(max(col("sim")).as("sim"))
        .withColumn("rn", row_number().over(wBeam))
        .filter(col("rn") <= n).drop("rn")
    // beam + 1 slots during the walk: an in-corpus query's own node
    // (sim 1.0) is the single BEST navigator — expanding it walks the
    // query's own out-edges, which are its approximate true neighbors
    // (excluding it costs recall: 0.92 → 0.80 measured on the contract
    // fixture) — but it must not CONSUME a slot, or beam = k returns
    // k−1 rows after the self filter (an ANN contract violation). One
    // spare slot covers exactly the one self row.
    var best = Materialize.cut(topBeam(
      scoreQ(entryRows.select(col("q_id"), col("vec_id"))), beam + 1))
    for (_ <- 0 until hops) {
      // no distinct() on the frontier: topBeam's (q_id, vec_id) groupBy
      // dedups anyway, and the duplicate scoring it saves (≤ in-degree
      // per node) costs less than the extra shuffle every hop
      val frontier = best.select(col("q_id"), col("vec_id").as("src"))
        .join(sym, "src")
        .select(col("q_id"), col("dst").as("vec_id"))
      val next = Materialize.cut(
        topBeam(best.unionByName(scoreQ(frontier)), beam + 1))
      Materialize.release(best)
      best = next
    }
    // one window pass for the final cut: drop self, dedup (re-scored
    // nodes), rank on the ROUNDED sim (the shared ANN contract's
    // ordering), keep k
    best.filter(col("q_id") =!= col("vec_id"))
      .withColumn("sim", round(col("sim"), 6))
      .groupBy(col("q_id"), col("vec_id")).agg(max(col("sim")).as("sim"))
      .withColumn("rn", row_number().over(wBeam))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("sim").as("cos"), col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** [[searchGraph]] with IVF-ROUTED entry points: instead of one fixed
    * global entry set, each query enters the graph at the `hubsPerCell`
    * most-central members of its `nprobe` nearest coarse cells — the
    * coarse quantizer navigates to the right REGION (what a flat
    * NN-Descent graph can't do: it has no long-range links, so beam
    * search from far-away entries stalls at the noise floor between
    * similarity islands — the navigability gap HNSW solves with its
    * hierarchy), and the graph walk does the local refinement. Measured
    * on the clustered hard fixture (2k vectors, 4-sibling near-dup
    * clouds): fixed-8 entries 0.57 recall@5 at beam 20 × 3 hops; routed
    * nprobe=3 × hubs=8 at the SAME budget 0.79, and 0.98 at beam 30 × 4
    * over a 4-round graph (BASELINE.md r13). A fixed GLOBAL entry set
    * only competes by growing with the corpus's region count AND
    * doubling the beam×hops budget (64 entries + 2× budget reach 0.91
    * on this fixture) — routing keeps the entry budget constant per
    * query as the corpus grows. Cost: one corpus assignment pass per
    * search BATCH (amortized over its queries; [[searchIndexRouted]]
    * reads the routing state persisted at build time instead).
    */
  def searchGraphRouted(base: DataFrame, edges: DataFrame,
      queries: DataFrame, k: Int, beam: Int, hops: Int, cells: Int = 0,
      nprobe: Int = 3, hubsPerCell: Int = 8): DataFrame = {
    val b = base.select(col("vec_id"), col("embedding"), col("n2"))
    // cells <= 0 derives ~√n routing geometry ([[Ivf.defaultCells]]) —
    // session-memoized ([[CorpusCount]], r18) so repeated search
    // batches over the same corpus frame pay the count once; the
    // per-batch assignment pass remains, so steady-state callers
    // should still prefer [[searchIndexRouted]], which reads the
    // geometry persisted at build time instead of re-deriving anything
    val cents = hashSeeds(b,
      if (cells > 0) cells else Ivf.defaultCells(CorpusCount.of(b)))
    val assigned = Ivf.assign(b, cents)
      .select(col("cell"), col("vec_id"), col("sim"))
    searchGraphFrom(b, edges, queries, k, beam, hops,
      entriesOf(assigned, cents, queries, nprobe, hubsPerCell))
  }

  /** Per-query entry rows (q_id, vec_id): `hubsPerCell` members of each
    * of the query's `nprobe` nearest cells, picked in xxhash64 order.
    * NOT the highest-centroid-sim members: near-duplicate siblings score
    * near-identically against the centroid, so a sim-ordered "hub" set
    * degenerates to one or two dup families and the entries lose all
    * diversity (measured less than half the hash-order recall at equal
    * budget on the hard fixture, r13 tuning). Hash order spreads the
    * entries uniformly across the cell.
    */
  private def entriesOf(assigned: DataFrame, cents: DataFrame,
      queries: DataFrame, nprobe: Int, hubsPerCell: Int): DataFrame = {
    val hubW = Window.partitionBy(col("cell"))
      .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
    val hubs = assigned.withColumn("hrn", row_number().over(hubW))
      .filter(col("hrn") <= hubsPerCell)
      .select(col("cell"), col("vec_id"))
    Ivf.probesOf(queries, cents, nprobe)
      .select(col("cell"), col("q_id"))
      .join(hubs, "cell")
      .select(col("q_id"), col("vec_id"))
  }

  // ------------------------------------------------ persisted index

  /** Materialize the graph index: `vectors` + `edges` + `cells`
    * components under the standard `batch=` layout plus the small
    * `centroids` table, build bracketed by the shared `_building`
    * fail-closed sentinel ([[IndexStore.build]] — a crash mid-build
    * refuses, never serves half a graph). The
    * centroids/cells pair is the persisted ROUTING state: the same
    * coarse quantizer the build's ring init used, stored so
    * [[searchIndexRouted]] places per-query entries without re-deriving
    * an assignment per search batch.
    *
    * GEOMETRY: `cells <= 0` (the default) derives ~√n cells from the
    * corpus being indexed ([[Ivf.defaultCells]], floor 16) — a fixed
    * cell count over a growing corpus decays routed overlap exactly
    * like a fixed search budget (measured: 19→12/20 fused-top-20
    * agreement across 2k→64k vectors at 16 cells; √n cells + nprobe 8
    * restores 18/20 — BASELINE.md HybridScale). Pass explicit cells to
    * pin geometry.
    */
  def writeIndex(base: DataFrame, path: String, k: Int, iters: Int,
      cells: Int = 0): Unit = {
    IndexStore.build(base.sparkSession, path,
        Seq("vectors", "edges", "cells")) { init =>
      val b = Materialize.cut(
        base.select(col("vec_id"), col("embedding"), col("n2")))
      b.write.mode("overwrite").parquet(init("vectors"))
      writeDerived(b, path, init, k, iters, cells)
    }
  }

  /** The components derived from the vector corpus `b` — centroids,
    * routing cells and the refined graph — shared by [[writeIndex]] and
    * [[rebuildIndex]]. */
  private def writeDerived(b: DataFrame, path: String,
      init: String => String, k: Int, iters: Int, cells: Int): Unit = {
    val c = if (cells > 0) cells else Ivf.defaultCells(b.count())
    val cents = hashSeeds(b, c)
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    Ivf.assign(b, cents).select(col("vec_id"), col("sim"), col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(init("cells"))
    buildGraph(b, k, iters, c)
      .write.mode("overwrite").parquet(init("edges"))
  }

  /** Rebuild the index in place from every vector it holds (init +
    * all appends): fresh centroids, fresh assignment, fresh
    * fully-refined graph — folded into `batch=init`. This is the decay
    * cure the append path documents: appended nodes never get REFINED
    * in-edges and the frozen coarse quantizer drifts off the grown
    * corpus ([[driftStats]] is the trigger-side observability); a
    * rebuild restores both.
    *
    * Crash safety, in two stages because the rebuild is
    * SELF-REFERENTIAL (its input lives inside the index it rewrites —
    * unlike Ivf/Pq rebuilds, whose base is an external table): first
    * the vector corpus folds durably through the `.compacting`
    * write-then-swap discipline, so at every instant the full corpus
    * exists on disk (old batch layout or folded — never only in
    * process memory); then the DERIVED components rebuild under the
    * `_building` bracket, whose crash window refuses reads but loses
    * nothing — and re-running rebuildIndex IS the repair (the bracket
    * overwrites a stale sentinel), so the fold runs with
    * `refuseBuilding = false`. The fold sentinel covers the gap between
    * the vectors fold and the build bracket — without it an as-of read
    * there would see full-corpus vectors against baseline-only edges.
    */
  def rebuildIndex(spark: SparkSession, path: String, k: Int, iters: Int,
      cells: Int = 0): Unit =
    IndexStore.compact(spark, path, Seq("vectors"), 0,
      refuseBuilding = false, inFold = folded => {
        val b = readVectors(folded)
        IndexStore.build(spark, path, Seq("edges", "cells")) { init =>
          writeDerived(b, path, init, k, iters, cells)
        }
      })

  private val VectorsSchema = "vec_id LONG, embedding ARRAY<FLOAT>, n2 DOUBLE"
  private val EdgesSchema = "src LONG, dst LONG, sim DOUBLE"
  private val CellsSchema = "vec_id LONG, sim DOUBLE, cell LONG"

  private def readVectors(idx: IndexStore.Snapshot): DataFrame =
    idx("vectors", VectorsSchema).drop("batch")

  /** [[IndexStore.buildAside]] for the graph index —
    * and the natural form for THIS index's self-referential rebuild:
    * the corpus is read from the LIVE index (which keeps serving, no
    * vectors fold needed) and the fresh fully-refined graph builds
    * beside it; promotion is two renames. Restores appended nodes'
    * refined in-edges and the coarse quantizer like [[rebuildIndex]],
    * without its hours-long read outage.
    */
  def rebuildIndexAside(spark: SparkSession, path: String, k: Int,
      iters: Int, cells: Int = 0): Unit = {
    // the read prelude fails closed on a crashed IN-PLACE rebuild: its
    // vectors may be partial, and re-running THAT rebuild is its
    // documented repair
    // cut: the build writes beside the dirs it read
    val b = Materialize.cut(readVectors(IndexStore.open(spark, path,
      Seq("vectors", "edges", "cells"))))
    IndexStore.buildAside(spark, path)(
      writeIndex(b, _, k, iters, cells))
  }

  /** Grow the index: each new vector's top-k graph neighbors (found by
    * searching the EXISTING graph) become its out-edges — the standard
    * incremental graph-ANN insert, expressed as one batch search. New
    * nodes are reachable because search expands the symmetrized
    * adjacency (their out-edges read backwards). Growth-only (re-sent
    * vec_ids dropped) and replay-idempotent (`batch=tag` overwrite),
    * like every other persisted index here. Degree quality decays as
    * appends accumulate (appended nodes never get refined in-edges) —
    * rebuild on the same cadence drift dictates for IVF
    * ([[Ivf.driftStats]] discussion).
    */
  def appendIndex(spark: SparkSession, vecs: DataFrame, path: String,
      tag: String, k: Int, beam: Int = 0, hops: Int = 3): Unit =
    IndexStore.append(spark, path, tag, Seq("vectors", "edges", "cells")) {
      inc => appendIncrement(spark, inc, vecs, path, k, beam, hops)
    }

  private def appendIncrement(spark: SparkSession, inc: IndexStore.Increment,
      vecs: DataFrame, path: String, k: Int, beam: Int, hops: Int): Unit = {
    val fresh = Materialize.cut(graft.queries.VectorOps
      .dropExistingVecIds(vecs, inc.others("vectors", "vec_id LONG"))
      .select(col("vec_id"), col("embedding"), col("n2")))
    // the graph the increment searches is every OTHER batch: a replay
    // of the tag searches exactly the graph its first run saw
    val base = readVectors(inc.others)
    val edges = inc.others("edges", EdgesSchema).drop("batch")
    val cents = spark.read.parquet(s"$path/centroids")
    val assigned = inc.others("cells", CellsSchema).drop("batch")
    val b = if (beam > 0) beam else 4 * k
    // the insert-time search uses ROUTED entries from the index's own
    // routing state: these edges are the new nodes' PERMANENT out-edges
    // (until a rebuild), and a fixed global entry set is precisely the
    // degenerate-on-clustered-corpora strategy the routed measurements
    // retired — same budget, materially better frozen edges
    val newEdges = searchGraphFrom(base, edges, fresh, k, b, hops,
        entriesOf(assigned, cents, fresh, nprobe = 3, hubsPerCell = 8))
      .select(col("q_id").as("src"), col("vec_id").as("dst"),
        col("cos").as("sim"))
    fresh.write.mode("overwrite").parquet(inc.dir("vectors"))
    newEdges.write.mode("overwrite").parquet(inc.dir("edges"))
    // routing state grows with the corpus: assign the increment against
    // the index's FROZEN centroids (the Ivf.appendIndex posture — the
    // decay story is the same and shares the same rebuild cure)
    Ivf.assign(fresh, cents).select(col("vec_id"), col("sim"), col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(inc.dir("cells"))
  }

  /** Search the persisted index (fail-closed on a mid-build sentinel).
    * With `asOf`, against the graph AS OF a recorded batch tag: the
    * prefix's vectors are the nodes and the prefix's edge increments
    * are exactly the adjacency those appends froze, so the snapshot
    * search IS the historical search (appended nodes' out-edges live in
    * their own tag's increment and later tags never rewrite them).
    */
  def searchIndex(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, beam: Int, hops: Int, entries: Int = 8,
      asOf: Option[String] = None): DataFrame = {
    val idx = IndexStore.open(spark, path, Seq("vectors", "edges"),
      IndexStore.View.of(asOf))
    searchGraph(readVectors(idx), idx("edges", EdgesSchema).drop("batch"),
      queries, k, beam, hops, entries)
  }

  /** Drift observability for the graph index — the [[Ivf.driftStats]]
    * semantics over THIS index's components: appends file routing rows
    * under frozen centroids and their nodes never get refined in-edges,
    * so both the coarse quantizer and the graph decay together. The
    * cells component stores (vec_id, sim, cell) only; embeddings join
    * back from the vectors component (both read in one pass, shuffled
    * by vec_id) before the shared per-cell aggregation. Same columns,
    * same [[driftSummary]] verdict, same rebuild cure —
    * [[rebuildIndex]] here instead of Ivf's writeIndex.
    */
  def driftStats(spark: SparkSession, path: String): DataFrame =
    driftStatsOf(spark, path,
      IndexStore.open(spark, path, Seq("vectors", "cells")))

  /** [[driftStats]] over an already-opened snapshot (vectors + cells). */
  private def driftStatsOf(spark: SparkSession, path: String,
      idx: IndexStore.Snapshot): DataFrame = {
    val vecs = readVectors(idx)
    val cells = idx("cells", CellsSchema)
      .select(col("vec_id"), col("cell"), col("batch"))
    Ivf.driftStatsOn(cells.join(vecs, "vec_id"),
      spark.read.parquet(s"$path/centroids"))
  }

  /** Exact-sampled EDGE STALENESS — the graph-side drift thermometer
    * (r13 verdict): an append's out-edges are frozen at insert time by
    * searching the graph that existed BEFORE the batch, so same-batch
    * neighbors never link to each other and a batch that opens a new
    * similarity region files edges far worse than the corpus now
    * admits. Naive aggregate edge-similarity ratios do NOT see this —
    * measured on both a new-region append and a hard-regime append,
    * the appended edges' MEAN sim sat ABOVE the refined build's (the
    * insert search is a good search; it just can't propose same-batch
    * or later nodes) — so the probe compares each sampled appended
    * node's best STORED out-edge against its EXACT best neighbor in
    * the full index corpus: `staleness = mean(exact_top1 −
    * stored_top1)`. Fresh or benign-append indexes sit near 0; a
    * same-batch dup family or new-region batch scores the gap between
    * a stranger edge and the true sibling (≈0.2+ on the spec fixture).
    *
    * Cost: `sample` (deterministic xxhash order) × corpus dot
    * products — one bounded broadcast-join pass, the recall-proxy
    * sampling any production ANN deployment runs as a health check; at
    * any corpus size the scan is a single pass with a 256-row
    * broadcast side, NOT a self-join.
    *
    * Output (one row): n_appended_sampled, stored_top1_mean,
    * exact_top1_mean, staleness (all null/0 when nothing is appended).
    */
  def edgeStaleness(spark: SparkSession, path: String,
      sample: Int = 256): DataFrame =
    edgeStalenessOf(IndexStore.open(spark, path, Seq("vectors", "edges")),
      sample)

  /** [[edgeStaleness]] over an already-opened snapshot (vectors +
    * edges). */
  private def edgeStalenessOf(idx: IndexStore.Snapshot,
      sample: Int): DataFrame = {
    val vecs = idx("vectors", VectorsSchema)
    val sampled = Materialize.cut(vecs.filter(col("batch") =!= "init")
      .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
      .limit(sample)
      .select(col("vec_id"), col("embedding"), col("n2")))
    val stored = idx("edges", EdgesSchema)
      .join(broadcast(sampled.select(col("vec_id").as("src"))), "src")
      .groupBy(col("src")).agg(max(col("sim")).as("stored_top1"))
    // exact top-1 as a map-side-combinable MAX aggregation over the
    // corpus×sample broadcast join — NOT the knn window (a per-query
    // rank sort shuffles all |corpus|·|sample| scored rows; the max
    // needs only 256 partial aggregates per partition — measured 3×
    // cheaper at 20 k corpus, and the gap grows with corpus size).
    // Self excluded by id equality, raw cosine (a mean-gap metric
    // needs no cross-engine rounding).
    val q = broadcast(sampled.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), col("n2").as("q_n2")))
    val sim = dot(col("q_emb"), col("embedding")) /
      (sqrt(col("q_n2")) * sqrt(col("n2")))
    val exact = vecs.select(col("vec_id"), col("embedding"), col("n2"))
      .crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id")).agg(max(sim).as("exact_top1"))
      .select(col("q_id").as("src"), col("exact_top1"))
    stored.join(exact, "src")
      .agg(count(lit(1)).as("n_appended_sampled"),
        avg(col("stored_top1")).as("stored_top1_mean"),
        avg(col("exact_top1")).as("exact_top1_mean"))
      .withColumn("staleness",
        col("exact_top1_mean") - col("stored_top1_mean"))
  }

  /** One-row [[driftStats]] roll-up with the `rebuild_recommended`
    * verdict — [[Ivf.driftSummary]]'s quantizer columns plus the
    * graph-side signals the quantizer can't see:
    *  - `staleness` (+ its [[edgeStaleness]] inputs): THE graph decay
    *    verdict input — fires when sampled appended nodes' stored
    *    edges sit `stalenessMax` below their exact best neighbor with
    *    a material appended share;
    *  - `appended_in_degree`: mean DIRECTED in-edges per appended node
    *    (only later appends can point at an appended node; ~0 means
    *    appended nodes are reachable through symmetrized back-edges
    *    only — structural observability, not a verdict input).
    * Cure: [[rebuildIndexAside]] (zero-downtime) or [[rebuildIndex]] —
    * NnDescentSpec drives a same-batch-blind heavy append to a
    * measured routed-recall sag, this flags it, the aside-rebuild
    * restores recall and zeroes the staleness; thresholds discussed in
    * DEPLOY.md.
    */
  def driftSummary(spark: SparkSession, path: String,
      growthMax: Double = 3.0, residRatioMax: Double = 1.2,
      stalenessMax: Double = 0.1, stalenessSample: Int = 256): DataFrame = {
    // ONE open (one recovery prelude) feeds all three reads
    val idx = IndexStore.open(spark, path, Seq("vectors", "edges", "cells"))
    val quant = Ivf.driftSummaryOf(driftStatsOf(spark, path, idx),
      growthMax, residRatioMax)
    val edges = idx("edges", EdgesSchema)
    val appendedNodes = idx("vectors", VectorsSchema)
      .filter(col("batch") =!= "init")
      .select(col("vec_id").as("dst"))
    val inDeg = edges.select(col("dst")).join(appendedNodes, "dst")
      .agg(count(lit(1)).as("in_edges_appended"))
    val stale = edgeStalenessOf(idx, stalenessSample)
      .select(col("n_appended_sampled"), col("stored_top1_mean"),
        col("exact_top1_mean"), col("staleness"))
    quant.crossJoin(inDeg).join(stale, lit(true), "left")
      .withColumn("appended_in_degree",
        col("in_edges_appended").cast("double") /
          greatest(col("n_appended"), lit(1L)))
      .withColumn("rebuild_recommended",
        col("rebuild_recommended") ||
          (coalesce(col("staleness") > stalenessMax, lit(false)) &&
            col("appended_share") > 0.1))
  }

  /** [[driftSummary]]'s verdict wired to its cure: when
    * `rebuild_recommended`, run the zero-downtime [[rebuildIndexAside]]
    * and return true; otherwise leave the index untouched and return
    * false. The watch half of the operator loop (watch → rebuild →
    * verify) — PyBridge exposes it so a scheduled Python job can run
    * the whole loop against a live index.
    *
    * `cells <= 0` (the default) derives the routing granularity from
    * the index's OWN stored centroid count — the r14-advice hazard: a
    * hardcoded default here would silently re-grain a cells=64 index
    * to 16 on the first flagged drift of a scheduled loop. The count
    * is one small-table read, paid only when the verdict fires.
    */
  def maybeRebuildAside(spark: SparkSession, path: String, k: Int,
      iters: Int, cells: Int = 0, growthMax: Double = 3.0,
      residRatioMax: Double = 1.2, stalenessMax: Double = 0.1): Boolean = {
    val flagged = driftSummary(spark, path, growthMax, residRatioMax,
      stalenessMax).head.getAs[Boolean]("rebuild_recommended")
    if (flagged) {
      val c = if (cells > 0) cells
        else spark.read.parquet(s"$path/centroids").count().toInt.max(1)
      rebuildIndexAside(spark, path, k, iters, c)
    }
    flagged
  }

  /** [[IndexStore.indexInfo]] plus the graph index's drift
    * verdict as `section = "drift"` rows — the one health view an
    * operator reads before paging anyone. Unlike the metadata-only
    * generic view, the drift rows cost a (bounded) Spark job — the
    * [[edgeStaleness]] sample scan; see there for the price.
    */
  def indexInfoWithDrift(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val info = IndexStore.indexInfo(spark, path)
    val d = driftSummary(spark, path).head
    val rows = d.schema.fieldNames.toSeq.map(f =>
      ("drift", "", f, String.valueOf(d.getAs[Any](f))))
    info.unionByName(rows.toDF("section", "component", "key", "value"))
  }

  /** [[searchGraphRouted]] against the persisted index: entry hubs come
    * from the `centroids`/`cells` routing state stored at build time
    * (grown by every append), so the per-search-batch corpus assignment
    * pass the in-memory routed form pays disappears — routing is two
    * reads of small tables plus the broadcast probe join. With no
    * appends this is bit-identical to the in-memory routed search over
    * the same base (seed centroids are deterministic); after appends it
    * is the MORE faithful form — the hubs reflect the frozen quantizer
    * the increments were actually filed under. With `asOf`, routing
    * state (cells) snapshots with the graph: entry hubs come from
    * exactly the routing rows the prefix's admits filed, under the same
    * frozen centroids.
    */
  def searchIndexRouted(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, beam: Int, hops: Int, nprobe: Int = 3,
      hubsPerCell: Int = 8, asOf: Option[String] = None): DataFrame = {
    val idx = IndexStore.open(spark, path, Seq("vectors", "edges", "cells"),
      IndexStore.View.of(asOf))
    val base = readVectors(idx)
    val edges = idx("edges", EdgesSchema).drop("batch")
    val cents = spark.read.parquet(s"$path/centroids")
    val assigned = idx("cells", CellsSchema).drop("batch")
    searchGraphFrom(base, edges, queries, k, beam, hops,
      entriesOf(assigned, cents, queries, nprobe, hubsPerCell))
  }
}
