package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointStats
import org.apache.spark.sql.types.DecimalType

/** Distributed connected components over a (src, dst) edge list — the
  * clustering step of a dedup pipeline (SURVEY.md §2.D: every doc gets the
  * minimum doc_id reachable through near-dup edges as its cluster
  * representative).
  *
  * Algorithm: min-label propagation fused with pointer jumping. Each round
  *
  *   1. propagate:  rep(v) ← min(rep(v), min over neighbors u of rep(u))
  *   2. jump twice: rep(v) ← rep(rep(v)), applied two times
  *
  * Plain propagation needs O(diameter) synchronized rounds — a deep chain
  * of near dups (trivially constructible at corpus scale) can chain past
  * any fixed cap. Each jump step halves every label-pointer path; two per
  * round quarter it, so the loop converges in ~log₄(diameter) rounds.
  * The second jump trades one extra (cheap, narrow-keyed) self-join
  * shuffle per round for half the ROUNDS — and each round carries a
  * blocking driver action (the convergence agg), which is the expensive
  * resource: synchronization barriers amplify any straggler/host stall
  * (the driver's r6 bench measured exactly that on this query). Labels
  * only ever decrease and rep(v) ≤ v throughout (proof by induction: true
  * initially; `least` preserves it; then rep(rep(v)) ≤ rep(v)), so Σrep
  * is strictly monotone until the fixpoint and an unchanged sum IS
  * convergence — one cheap scalar agg per round, no join-and-count. At
  * the fixpoint labels are equal along every edge (propagation is a no-op
  * both ways), hence constant per component, and the component minimum m
  * keeps rep(m) = m.
  *
  * Scale posture: each round is two shuffles (edge join by dst grouped by
  * src; label self-join by rep) over hash-partitioned Longs; lineage is cut
  * every round with an eager checkpoint so round N+1 replans from
  * materialized blocks, not a 2^N-deep plan — and each cut replaces the
  * checkpoint's inherited ESTIMATED stats with measured ones
  * ([[org.apache.spark.sql.graft.CheckpointStats]]), without which the
  * size estimate compounds multiplicatively across rounds until planning
  * itself (BigInteger arithmetic on the estimate) dwarfs execution.
  * Every cut goes through [[Materialize.cut]], so the session's
  * `spark.graft.materialize` posture picks the blocks: executor-local
  * by default, durable `checkpoint()` files under `reliable` (which
  * needs `SparkContext.setCheckpointDir` and fails loudly up front
  * without it).
  * Non-convergence within `maxRounds` throws — never silently emits
  * partial labels (each counted round batches TWO propagation rounds
  * between blocking actions, so a component needs diameter
  * ≳ 16^maxRounds to hit the default cap).
  */
object ConnectedComponents {

  /** Labels `nodes` with their component representative.
    *
    * @param nodes (id: long) — one row per vertex; isolated vertices allowed
    * @param edges (src: long, dst: long) — undirected, symmetrized internally
    * @return (id, rep) with rep = min id of the component
    */
  def run(nodes: DataFrame, edges: DataFrame, maxRounds: Int = 50): DataFrame =
    runCounted(nodes, edges, maxRounds)._1

  /** Pair-count gate under which [[runOnPairs]] finishes the components
    * on the driver ([[localFinish]]) instead of iterating. 2·10⁶ pairs ≈
    * a ~100 MB transient collect and a ≤ ~32 MB label LocalRelation —
    * the same order as Spark's own broadcast ceiling, far under any
    * sane driver heap.
    */
  val DefaultLocalFinishMaxPairs: Long = 2000000L

  /** The shared front half of every dedup-clustering path: checkpoint
    * the verified pair frame once (measured stats — the pair plan is an
    * expensive banded/exact join whose origin estimate is garbage and
    * which would otherwise re-execute for the node scan, the edge union,
    * and every CC round), then cluster ONLY the pair subgraph. Members
    * in no pair never enter the rounds — compose with [[assignClusters]]
    * to label the full universe.
    *
    * Runtime-adaptive finish (the AQE philosophy applied to the
    * iteration): the pair frame is materialized with an exact row count
    * before clustering starts, and when that count is at most
    * `localFinishMaxPairs` the components are finished with a driver
    * union-find over the collected pairs and returned as a broadcastable
    * label LocalRelation — one collect of an already-materialized small
    * frame instead of an O(log diameter) cascade of blocking
    * propagate/checkpoint/convergence jobs, whose per-round fixed cost
    * (scheduling + codegen + barrier) dominates exactly when the graph
    * is small. This two-phase shape — contract distributedly, finish the
    * small remainder centrally — is the standard scalable-CC design
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014). A verified near-dup EDGE set orders of magnitude
    * smaller than the corpus is the common case (dups are the exception,
    * and upstream exact-dedup collapses identical content first), but it
    * is a runtime property, not a promise: over the gate — the 100 TB
    * regime, or any corpus whose duplicate graph is itself huge — the
    * unchanged distributed loop of [[run]] executes, with durable
    * checkpoints available as documented there. The local finish has
    * no multi-round lineage to cut.
    * Labels are identical in both regimes: union-by-min with path
    * halving keeps every tree root the component minimum, which is
    * [[run]]'s fixpoint. Set `localFinishMaxPairs = 0` to force the
    * distributed loop at any size.
    *
    * This adaptivity is sound ONLY because nodes ≡ pair endpoints here —
    * the generic [[run]] keeps its exact semantics (edges naming
    * vertices outside `nodes` are ignored entirely), which a collected
    * union-find cannot replicate without also collecting `nodes`; do not
    * lift the local finish there.
    *
    * @param pairs (src: long, dst: long) — one row per verified near-dup pair
    * @param precut the pair frame is ALREADY eagerly materialized with
    *   measured stats (e.g. a memoized checkpointed pair table) — skip
    *   the redundant second checkpoint + count here. The frame must be
    *   that materialized table or a row-preserving projection of it
    *   (the gate reads the leaf's measured row count; a row-EXPANDING
    *   plan over the leaf would under-gate)
    * @return (id, rep) for every id appearing in ≥ 1 pair
    */
  def runOnPairs(pairs: DataFrame, maxRounds: Int = 50,
      precut: Boolean = false,
      localFinishMaxPairs: Long = DefaultLocalFinishMaxPairs): DataFrame = {
    val raw = pairs.select(col("src"), col("dst"))
    val (p, nPairs) =
      if (precut) {
        // measured stats were attached by the memoizing caller to the
        // checkpointed LEAF; read them there (a single-leaf plan under a
        // rename projection — the default non-CBO stats visitor drops
        // rowCount at the Project, so the frame's own stats are bare).
        // Fall back to a count over the materialized blocks if absent.
        val leaves = raw.queryExecution.optimizedPlan.collectLeaves()
        val known =
          if (leaves.size == 1) leaves.head.stats.rowCount.map(_.toLong)
          else None
        (raw, known.getOrElse(raw.count()))
      }
      else {
        val p0 = Materialize.cut(raw)
        val n = p0.count()
        (CheckpointStats.withMeasuredStats(p0, n, 24), n)
      }
    if (nPairs <= localFinishMaxPairs) localFinish(p)
    else {
      val nodes = p.select(explode(array(col("src"), col("dst"))).as("id")).distinct()
      run(nodes, p, maxRounds)
    }
  }

  /** Driver union-find over a materialized small pair frame (gated by
    * [[runOnPairs]]): union by min root + path halving, so the root of
    * every tree is its component's minimum id at all times. Returns the
    * (id, rep) labels as a LocalRelation — exact known size, so every
    * downstream join against a corpus-scale frame plans as a broadcast.
    */
  private def localFinish(p: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def root(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        val g = parent(parent(x)); parent(x) = g; x = g
      }
      x
    }
    p.collect().foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = root(a); val rb = root(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val spark = p.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rep",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size)
    parent.keysIterator.toArray.sorted
      .foreach(id => rows.add(org.apache.spark.sql.Row(id, root(id))))
    spark.createDataFrame(rows, schema)
  }

  /** Incremental label maintenance for a continuously-ingesting corpus:
    * merge newly-verified near-dup pairs into an existing subgraph label
    * table WITHOUT re-clustering the history. Each existing component is
    * re-entered as its star edges (member → rep; connectivity-equivalent
    * to however many pairs originally built it, and linear in members),
    * unioned with the new pairs, and re-clustered — so only components
    * the new pairs actually touch can change, and
    * `mergeLabels(runOnPairs(p1), p2) == runOnPairs(p1 ∪ p2)` exactly
    * (spec-pinned in LawsSpec). Cost shape: the star edges are one pass
    * over the label table (|labeled ids| rows, no join), and the gate of
    * [[runOnPairs]] applies to the union — a small delta against a small
    * dup subgraph finishes locally; a huge one runs the distributed
    * loop. Labels rows with rep = id (components already collapsed to
    * themselves elsewhere, or universe-style tables) contribute no edge:
    * an id reappears in the output only if the new pairs touch it.
    *
    * @param labels (id, rep) — a previous [[runOnPairs]]/[[mergeLabels]]
    *   output (extra columns such as `is_dup` are ignored)
    * @param newPairs (src, dst) — newly verified pairs, e.g. one ingest
    *   batch's probe output
    * @return (id, rep) for every id in ≥ 1 old or new pair
    */
  def mergeLabels(labels: DataFrame, newPairs: DataFrame,
      maxRounds: Int = 50,
      localFinishMaxPairs: Long = DefaultLocalFinishMaxPairs): DataFrame =
    runOnPairs(
      labels.filter(col("id") =!= col("rep"))
        .select(col("id").as("src"), col("rep").as("dst"))
        .union(newPairs.select(col("src"), col("dst"))),
      maxRounds, precut = false, localFinishMaxPairs)

  /** The shared back half: label the full `universe` from a subgraph-only
    * label table — members absent from `labels` keep rep = self via the
    * left join, `is_dup` marks non-representatives for dropping.
    */
  def assignClusters(universe: DataFrame, idCol: String,
      labels: DataFrame): DataFrame =
    universe.join(labels, universe(idCol) === labels("id"), "left")
      .select(universe(idCol),
        coalesce(col("rep"), universe(idCol)).as("rep"),
        (coalesce(col("rep"), universe(idCol)) =!= universe(idCol)).as("is_dup"))

  /** [[run]] plus the number of rounds executed (for tests/telemetry). */
  def runCounted(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 50): (DataFrame, Int) = {
    // identical loop in every posture — only the block durability
    // differs. Every cut REPLACES the checkpoint's inherited origin stats with
    // measured truth (row count × 24-byte rows of two Longs): Spark's
    // checkpoint carries the origin plan's ESTIMATED Statistics forward,
    // and in an iterative loop that estimate compounds multiplicatively
    // (join size estimate = product of children) until the driver stalls
    // for minutes inside BigInteger.multiply just planning round ~8+ —
    // see CheckpointStats for the full diagnosis. Label propagation is
    // row-preserving, so the label count is measured once and reused
    // every round; truthful constant stats also keep the optimizer's
    // broadcast-vs-SMJ choice correct at any graph size.
    val e0 = Materialize.cut(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst"))), eager = false)
    val e = CheckpointStats.withMeasuredStats(e0, e0.count(), 24)
    val l0 = Materialize.cut(nodes.select(col("id"), col("id").as("rep")),
      eager = false)
    val nNodes = l0.count()
    // per-round cuts are LAZY: the convergence-sum action right after is
    // what materializes the blocks (and truncates lineage) — one job per
    // round instead of a checkpoint job plus a sum job
    def cut(df: DataFrame): DataFrame =
      CheckpointStats.withMeasuredStats(
        Materialize.cut(df, eager = false), nNodes, 24)
    var labels = CheckpointStats.withMeasuredStats(l0, nNodes, 24)
    var prevSum: Option[java.math.BigDecimal] = None
    var converged = false
    var round = 0
    // rep values are always vertex ids (min of ids), so the jump join is
    // total; left + coalesce only guards edge rows naming unknown vertices
    def jump(l: DataFrame): DataFrame = l.as("l")
      .join(l.select(col("id").as("rid"), col("rep").as("rrep")).as("r"),
        col("l.rep") === col("r.rid"), "left")
      .select(col("l.id").as("id"), coalesce(col("r.rrep"), col("l.rep")).as("rep"))
    // one propagation round: neighbor-min + two pointer jumps
    def propagate(l: DataFrame): DataFrame = {
      val neighborMin = e
        .join(l.select(col("id").as("dst"), col("rep").as("nrep")), "dst")
        .groupBy(col("src")).agg(min(col("nrep")).as("minn"))
      val prop = l
        .join(neighborMin, l("id") === neighborMin("src"), "left")
        .select(l("id"),
          least(col("rep"), coalesce(col("minn"), col("rep"))).as("rep"))
      jump(jump(prop))
    }
    val debug = sys.env.contains("GRAFT_CC_DEBUG")
    while (!converged && round < maxRounds) {
      val t0 = System.nanoTime()
      // TWO propagation rounds per blocking action: the dominant
      // per-round cost at the convergence tail is not data but the
      // barrier pair (checkpoint-materialize job + convergence-sum job)
      // and the broadcast round-trips inside each join — batching two
      // rounds per cut halves the barriers for the same total work.
      // Convergence stays sound: labels are per-vertex monotone
      // non-increasing, so an unchanged SUM across a double round means
      // no vertex changed in EITHER half (any decrease would strictly
      // lower the sum) — the fixpoint test cannot be fooled by the
      // batching. Plan depth per cut is two rounds, a constant, so the
      // planning-cost bound is unchanged.
      val next = cut(propagate(propagate(labels)))
      // convergence check — this action also materializes the lazy
      // checkpoint above (blocks written + lineage truncated in the same
      // job). Every per-vertex rep is non-increasing, so an UNCHANGED
      // sum proves an unchanged labeling — but only in exact arithmetic.
      // Decimal(38,0), not Long: ids may span the full 64-bit range
      // (e.g. xxhash64-mapped string ids), where a Long sum overflows
      // (ANSI mode throws; legacy mode would wrap and could alias two
      // different labelings). coalesce: sum over an EMPTY label set
      // (corpus with no dup pairs) is NULL — treat as 0 so the loop
      // converges instead of NPEing.
      val s = next
        .agg(coalesce(sum(col("rep").cast(DecimalType(38, 0))),
          lit(java.math.BigDecimal.ZERO)))
        .head.getDecimal(0)
      if (debug) println(f"[cc] round $round: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      // durable posture: the outgoing round's checkpoint file is now
      // superseded — `next` is fully materialized to its OWN checkpoint
      // (lineage cut, nothing re-reads the old files) — so release it.
      // One full label-table copy per round is exactly the storage
      // blowup the 100 TB mode cannot afford; this keeps live copies at
      // O(1) (edges + current labels). The FINAL round's files are never
      // released here — they back the returned DataFrame.
      Materialize.release(labels)
      labels = next
      converged = prevSum.exists(_.compareTo(s) == 0)
      prevSum = Some(s)
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"ConnectedComponents did not converge in $maxRounds double-rounds " +
          "(component diameter ~ 16^maxRounds?) — refusing to emit partial labels")
    (labels, round)
  }
}
