package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational core, part 1 (SURVEY.md §2.B): scan, projection/filter,
  * the join matrix, multi-key sort, top-k and set operations — pure
  * `org.apache.spark.sql.functions` + DataFrame combinators so
  * Catalyst/AQE/codegen pick the physical plan (parquet pushdown, broadcast
  * selection, TakeOrderedAndProject) without custom operators.
  *
  * Scale posture: dimension joins (`nation`, `region`, `part`, `customer`)
  * broadcast — either explicitly or by `autoBroadcastJoinThreshold`; the
  * large-large `orders ⋈ lineitem` join is a sort-merge on the shuffle-
  * partitioned order key, which is the plan that survives a 100× scale-up.
  *
  * Every query orders by a unique key tuple and emits floats/timestamps via
  * [[Det]] so the driver's DuckDB hash-compare is deterministic.
  */
object Relational {
  import Det._

  private def ts(s: String): Column = lit(s).cast(TimestampType)

  // ---------------------------------------------------------------- scan

  /** Plain parquet table scan, full projection (pdf2dataset's "read the
    * dataset back" surface; reference upstream: pdf2dataset/extract.py).
    */
  def scanParquet(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "documents").orderBy(col("doc_id"))

  val scanParquetSql = "SELECT * FROM documents ORDER BY doc_id"

  // ------------------------------------------------- projection / filter

  /** Projection + filter; predicates reach the parquet scan as
    * PushedFilters (verified via explain in RelationalSpec).
    */
  def projectFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1997-01-01") &&
        col("l_discount").between(0.02, 0.06) &&
        col("l_quantity") < 24)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val projectFilterSql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Compound predicates: AND/OR/NOT/IN/LIKE/BETWEEN/IS NOT NULL. */
  def predMix(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "part")
      .filter((col("p_type").like("PROMO%") ||
        col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")) &&
        col("p_size").between(10, 40) &&
        !col("p_name").like("%green%") &&
        col("p_retailprice").isNotNull)
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"))
      .orderBy(col("p_partkey"))

  val predMixSql =
    """SELECT p_partkey, p_name, p_brand, p_type, p_size
      |FROM part
      |WHERE (p_type LIKE 'PROMO%' OR p_brand IN ('Brand#1','Brand#2','Brand#3'))
      |  AND p_size BETWEEN 10 AND 40
      |  AND NOT (p_name LIKE '%green%')
      |  AND p_retailprice IS NOT NULL
      |ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------------------- joins

  /** Inner equi join orders ⋈ customer; revenue per market segment. */
  def joinInner(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.t(spark, dir, "orders")
    val c = Tables.t(spark, dir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        out(sum(money(col("o_totalprice")))).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  val joinInnerSql =
    s"""SELECT c_mktsegment, count(*) AS n_orders,
       |  ${Sql.out(s"sum(${Sql.money("o_totalprice")})")} AS revenue
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  /** Explicit broadcast of the small `part` dimension into lineitem. */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.t(spark, dir, "lineitem")
    val p = Tables.t(spark, dir, "part")
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        out(sum(money(col("l_extendedprice")))).as("total_price"))
      .orderBy(col("p_brand"))
  }

  val joinBroadcastSql =
    s"""SELECT p_brand, count(*) AS n_items,
       |  ${Sql.out(s"sum(${Sql.money("l_extendedprice")})")} AS total_price
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand
       |ORDER BY p_brand""".stripMargin

  /** Large-large sort-merge join orders ⋈ lineitem (the 100-TB-safe plan). */
  def joinSmj(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.t(spark, dir, "orders")
    val l = Tables.t(spark, dir, "lineitem")
    o.hint("merge").join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        out(sum(money(col("l_quantity")))).as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }

  val joinSmjSql =
    s"""SELECT o_orderpriority, count(*) AS n_lines,
       |  ${Sql.out(s"sum(${Sql.money("l_quantity")})")} AS sum_qty
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** Left outer join: every customer with its order count (zeros kept). */
  def joinLeft(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.t(spark, dir, "customer")
    val o = Tables.t(spark, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy(col("c_custkey"))
  }

  val joinLeftSql =
    """SELECT c_custkey, count(o_orderkey) AS n_orders
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey
      |ORDER BY c_custkey""".stripMargin

  /** Full outer join of per-nation supplier and customer balance totals
    * (small scale factors leave nations with no suppliers → null side).
    */
  def joinFull(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.t(spark, dir, "supplier")
      .groupBy(col("s_nationkey").as("nk_s"))
      .agg(out(sum(money(col("s_acctbal")))).as("supplier_bal"))
    val c = Tables.t(spark, dir, "customer")
      .groupBy(col("c_nationkey").as("nk_c"))
      .agg(out(sum(money(col("c_acctbal")))).as("customer_bal"))
    s.join(c, col("nk_s") === col("nk_c"), "full")
      .select(coalesce(col("nk_s"), col("nk_c")).as("nationkey"),
        col("supplier_bal"), col("customer_bal"))
      .orderBy(col("nationkey"))
  }

  val joinFullSql =
    s"""SELECT coalesce(s.nk, c.nk) AS nationkey, supplier_bal, customer_bal
       |FROM (SELECT s_nationkey AS nk, ${Sql.out(s"sum(${Sql.money("s_acctbal")})")} AS supplier_bal
       |      FROM supplier GROUP BY s_nationkey) s
       |FULL JOIN (SELECT c_nationkey AS nk, ${Sql.out(s"sum(${Sql.money("c_acctbal")})")} AS customer_bal
       |           FROM customer GROUP BY c_nationkey) c
       |ON s.nk = c.nk
       |ORDER BY nationkey""".stripMargin

  /** Left semi (EXISTS): customers having at least one 400k+ order. */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.t(spark, dir, "customer")
    val o = Tables.t(spark, dir, "orders")
      .filter(col("o_totalprice") > 400000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val joinSemiSql =
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin

  /** Left anti (NOT EXISTS): customers with no finished ('F') order. */
  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.t(spark, dir, "customer")
    val o = Tables.t(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val joinAntiSql =
    """SELECT c_custkey, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  /** Cross join: region × nation name pairs. */
  def joinCross(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.t(spark, dir, "region").select(col("r_name"))
    val n = Tables.t(spark, dir, "nation").select(col("n_name"))
    r.crossJoin(n).orderBy(col("r_name"), col("n_name"))
  }

  val joinCrossSql =
    "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name"

  /** Theta join: equi key + range residual (supplier/customer of the same
    * nation where the supplier out-balances the customer).
    */
  def joinTheta(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.t(spark, dir, "supplier")
    val c = Tables.t(spark, dir, "customer")
    s.join(c, s("s_nationkey") === c("c_nationkey") &&
        s("s_acctbal") > c("c_acctbal"))
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("nationkey"))
  }

  val joinThetaSql =
    """SELECT s_nationkey AS nationkey, count(*) AS n_pairs
      |FROM supplier JOIN customer
      |  ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
      |GROUP BY s_nationkey
      |ORDER BY nationkey""".stripMargin

  /** As-of join: for each purchase, the most recent view (ts <= purchase ts)
    * by the same user, with its value carried over — through the native
    * [[org.apache.spark.sql.graft.AsOfJoin]] operator: one merge pass per
    * co-partition with O(1) state, so the O(purchases × prior-views-per-
    * user) candidate set of the join+row_number emulation never
    * materializes (the hot-user hazard at 100 TB). The view side is first
    * reduced to one row per (user, ts) keeping the max event_id (exactly
    * the oracle's `v_event_id DESC` tiebreak), which also makes the merge
    * deterministic under exact-ts ties. The window emulation survives as
    * the differential reference in AsOfJoinSpec.
    */
  def joinAsof(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(spark, dir, "events")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id"),
        col("ts").as("p_ts"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("v_user_id"), col("ts").as("v_ts"))
      .agg(max(col("event_id")).as("v_event_id"),
        max_by(col("value"), col("event_id")).as("v_value"))
    org.apache.spark.sql.graft.AsOfJoinApi.asof(p, v,
        Seq(p("user_id")), Seq(v("v_user_id")), p("p_ts"), v("v_ts"))
      .select(col("p_event_id"), col("user_id"), tsOut(col("p_ts")).as("p_ts_us"),
        col("v_event_id").as("prior_view_id"), col("v_value").as("prior_view_value"))
      .orderBy(col("p_event_id"))
  }

  val joinAsofSql =
    s"""SELECT p_event_id, user_id, p_ts_us, prior_view_id, prior_view_value
       |FROM (
       |  SELECT p.event_id AS p_event_id, p.user_id,
       |         ${Sql.tsOut("p.ts")} AS p_ts_us,
       |         v.event_id AS prior_view_id, v.value AS prior_view_value,
       |         row_number() OVER (PARTITION BY p.event_id
       |                            ORDER BY v.ts DESC, v.event_id DESC) AS rn
       |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
       |    ON p.user_id = v.user_id AND v.ts <= p.ts
       |)
       |WHERE rn = 1
       |ORDER BY p_event_id""".stripMargin

  // ------------------------------------------------------ sort and top-k

  /** Multi-key sort with explicit null ordering. */
  def sortMulti(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderstatus").asc,
        col("o_totalprice").desc_nulls_last, col("o_orderkey").asc)

  val sortMultiSql =
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders
      |ORDER BY o_orderstatus ASC, o_totalprice DESC NULLS LAST, o_orderkey ASC""".stripMargin

  /** Global top-k → TakeOrderedAndProject (no full sort at scale). */
  def topkGlobal(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(50)

  val topkGlobalSql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |LIMIT 50""".stripMargin

  // ------------------------------------------------------ set operations

  /** UNION ALL of two event projections. */
  def unionAll(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(spark, dir, "events")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val s = e.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    p.unionByName(s).orderBy(col("event_id"))
  }

  val unionAllSql =
    """SELECT event_id, user_id, event_type, value FROM events WHERE event_type = 'purchase'
      |UNION ALL
      |SELECT event_id, user_id, event_type, value FROM events WHERE event_type = 'signup'
      |ORDER BY event_id""".stripMargin

  /** UNION (distinct): ordering customers ∪ wealthy customers. */
  def unionDistinct(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.t(spark, dir, "orders")
      .select(col("o_custkey").as("custkey"))
    val c = Tables.t(spark, dir, "customer")
      .filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("custkey"))
    o.union(c).distinct().orderBy(col("custkey"))
  }

  val unionDistinctSql =
    """SELECT o_custkey AS custkey FROM orders
      |UNION
      |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
      |ORDER BY custkey""".stripMargin

  /** INTERSECT: customers with orders ∩ customers in credit. */
  def intersectQ(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.t(spark, dir, "orders")
      .select(col("o_custkey").as("custkey"))
    val c = Tables.t(spark, dir, "customer")
      .filter(col("c_acctbal") > 0)
      .select(col("c_custkey").as("custkey"))
    o.intersect(c).orderBy(col("custkey"))
  }

  val intersectSql =
    """SELECT o_custkey AS custkey FROM orders
      |INTERSECT
      |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
      |ORDER BY custkey""".stripMargin

  /** EXCEPT: all customers ∖ customers in credit. */
  def exceptQ(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.t(spark, dir, "customer")
      .select(col("c_custkey").as("custkey"))
    val rich = Tables.t(spark, dir, "customer")
      .filter(col("c_acctbal") > 0)
      .select(col("c_custkey").as("custkey"))
    c.except(rich).orderBy(col("custkey"))
  }

  val exceptSql =
    """SELECT c_custkey AS custkey FROM customer
      |EXCEPT
      |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
      |ORDER BY custkey""".stripMargin

  /** dropDuplicates on a column subset. */
  def dedupRows(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "events")
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
      .orderBy(col("user_id"), col("event_type"))

  val dedupRowsSql =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  // ----------------------------------------------------------- range join

  /** Pure range (point-in-interval) join with NO equi key — executed via
    * [[graft.operators.RangeJoin.bandedIntervalJoin]], which rewrites the
    * would-be nested loop into a band equi-join + residual filter
    * (result-identical; plan-asserted in ScaleTechniquesSpec). Intervals
    * derive from nation keys so the oracle sees the same arithmetic.
    */
  def joinRange(spark: SparkSession, dir: String): DataFrame = {
    val points = Tables.t(spark, dir, "events").select(col("event_id"), col("value"))
    val intervals = Tables.t(spark, dir, "nation")
      .select(col("n_nationkey").cast(LongType).as("iv_id"),
        (col("n_nationkey") * 20.0).as("lo"),
        (col("n_nationkey") * 20.0 + 15.0).as("hi"))
    graft.operators.RangeJoin
      .bandedIntervalJoin(points, "value", intervals, "lo", "hi", bandWidth = 16.0)
      .select(col("event_id"), col("iv_id"), col("value"))
      .orderBy(col("event_id"), col("iv_id"))
  }

  val joinRangeSql =
    """SELECT e.event_id, CAST(n.n_nationkey AS BIGINT) AS iv_id, e.value
      |FROM events e JOIN nation n
      |  ON e.value >= n.n_nationkey * 20.0 AND e.value <= n.n_nationkey * 20.0 + 15.0
      |ORDER BY event_id, iv_id""".stripMargin

  // -------------------------------------------------------------- unpivot

  /** Unpivot (melt) — the inverse of q_pivot: wide part metrics to tall
    * (key, metric, val) rows. The oracle mirrors via UNION ALL, the
    * dialect-stable spelling of UNPIVOT.
    */
  def unpivotQ(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "part")
      .select(col("p_partkey"),
        col("p_size").cast(DoubleType).as("p_size"),
        col("p_retailprice"))
      .unpivot(Array(col("p_partkey")),
        Array(col("p_size"), col("p_retailprice")), "metric", "val")
      .orderBy(col("p_partkey"), col("metric"))

  val unpivotSql =
    """SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
      |UNION ALL
      |SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
      |ORDER BY p_partkey, metric""".stripMargin

  // ---------------------------------------------------------- SQL surface

  /** Point the SQL-surface temp views at `dir`'s tables. Runs on every
    * call: registering a view is catalog work only (no job), and
    * re-registering keeps a session that switches dirs from reading
    * the previous dir's views.
    */
  private def registerViews(spark: SparkSession, dir: String): Unit = {
    Tables.t(spark, dir, "customer").createOrReplaceTempView("v_customer")
    Tables.t(spark, dir, "orders").createOrReplaceTempView("v_orders")
    Tables.t(spark, dir, "lineitem").createOrReplaceTempView("v_lineitem")
  }

  /** The engine's SQL entry point: TPC-H Q3-shaped text executed by
    * `spark.sql` over temp views — same Catalyst plan as the DataFrame
    * DSL (customer/orders broadcast-or-shuffle joins, partial+final agg,
    * TakeOrderedAndProject for the top-10). Revenue accumulates in exact
    * DECIMAL, rounds once, and ties break on l_orderkey, so the rounded-
    * DESC ordering cuts identically on both engines.
    */
  def sqlQ3(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(
      """SELECT l_orderkey,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4)) *
        |                 (1 - CAST(l_discount AS DECIMAL(6,4)))), 4) AS DOUBLE) AS revenue,
        |  unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS odate_us,
        |  o_orderpriority
        |FROM v_customer
        |JOIN v_orders ON c_custkey = o_custkey
        |JOIN v_lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin)
  }

  val sqlQ3Sql =
    """SELECT l_orderkey,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4)) *
      |                 (1 - CAST(l_discount AS DECIMAL(6,4)))), 4) AS DOUBLE) AS revenue,
      |  epoch_us(o_orderdate) AS odate_us,
      |  o_orderpriority
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** Correlated subqueries through the SQL surface: two correlated scalar
    * subqueries (decorrelated by Catalyst into joins) + EXISTS, selecting
    * customers whose balance strictly exceeds their nation's average.
    * The average compare is spelled as exact integers (bal·10⁴·n > Σbal·10⁴)
    * so no double quotient sits on the decision boundary.
    */
  def sqlSubqueries(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(
      """SELECT c_custkey,
        |  CAST(round(CAST(c_acctbal AS DECIMAL(12,4)), 4) AS DOUBLE) AS acctbal
        |FROM v_customer c
        |WHERE CAST(CAST(c_acctbal AS DECIMAL(12,4)) * 10000 AS BIGINT) *
        |      (SELECT count(*) FROM v_customer c2
        |       WHERE c2.c_nationkey = c.c_nationkey)
        |    > (SELECT sum(CAST(CAST(c2.c_acctbal AS DECIMAL(12,4)) * 10000 AS BIGINT))
        |       FROM v_customer c2 WHERE c2.c_nationkey = c.c_nationkey)
        |  AND EXISTS (SELECT 1 FROM v_orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  val sqlSubqueriesSql =
    """SELECT c_custkey,
      |  CAST(round(CAST(c_acctbal AS DECIMAL(12,4)), 4) AS DOUBLE) AS acctbal
      |FROM customer c
      |WHERE CAST(CAST(c_acctbal AS DECIMAL(12,4)) * 10000 AS BIGINT) *
      |      (SELECT count(*) FROM customer c2
      |       WHERE c2.c_nationkey = c.c_nationkey)
      |    > (SELECT CAST(sum(CAST(CAST(c2.c_acctbal AS DECIMAL(12,4)) * 10000 AS BIGINT)) AS BIGINT)
      |       FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
      |  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Recursive CTE (Spark 4 `WITH RECURSIVE`): a calendar spine over
    * 1995-Q1 left-joined to per-day order counts — the gap-filling
    * pattern (emit zero rows for days with no orders) that windowed
    * aggregation alone can't produce.
    */
  def sqlRecursive(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(
      """WITH RECURSIVE days(d) AS (
        |  SELECT DATE '1995-01-01'
        |  UNION ALL SELECT date_add(d, 1) FROM days WHERE d < DATE '1995-03-31')
        |SELECT datediff(d, DATE '1970-01-01') AS day_num,
        |  count(o_orderkey) AS n_orders
        |FROM days LEFT JOIN v_orders ON CAST(o_orderdate AS DATE) = d
        |GROUP BY d ORDER BY day_num""".stripMargin)
  }

  val sqlRecursiveSql =
    """WITH RECURSIVE days(d) AS (
      |  SELECT DATE '1995-01-01'
      |  UNION ALL SELECT d + 1 FROM days WHERE d < DATE '1995-03-31')
      |SELECT d - DATE '1970-01-01' AS day_num, count(o_orderkey) AS n_orders
      |FROM days LEFT JOIN orders ON CAST(o_orderdate AS DATE) = d
      |GROUP BY d ORDER BY day_num""".stripMargin

  // -------------------------------------------------------- salted join

  /** Skew-safe salted join: the fact side routes each row to one of
    * `SaltBuckets` deterministic sub-keys (`o_orderkey % S` — uniform and
    * reproducible, no rand()), the dimension side is replicated ×S with an
    * `explode`, and the join key becomes (custkey, salt). A hot customer
    * key that would pin one reducer now spreads across S partitions; the
    * post-join aggregate is unchanged, so the oracle is the PLAIN join —
    * the rewrite must be result-identical by construction. This is the
    * manual form of what AQE skew-join does adaptively; it also works
    * where AQE can't see the skew (first shuffle of a stage, or a
    * broadcast-ineligible mid-size dim).
    */
  def joinSalted(spark: SparkSession, dir: String): DataFrame = {
    val S = 8
    val o = Tables.t(spark, dir, "orders")
      .withColumn("salt", pmod(col("o_orderkey"), lit(S)).cast(IntegerType))
    val c = Tables.t(spark, dir, "customer")
      .withColumn("salt", explode(array((0 until S).map(lit): _*)))
    o.join(c, o("o_custkey") === c("c_custkey") && o("salt") === c("salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        out(sum(money(col("o_totalprice")))).as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  val joinSaltedSql: String =
    s"""SELECT c_mktsegment, count(*) AS n_orders,
       |  ${Sql.out(s"sum(${Sql.money("o_totalprice")})")} AS sum_price
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------- z-order layout

  /** Z-order (Morton) clustering key over (customer, order-day): 10 bits
    * of each dimension bit-interleaved, rows ordered by the resulting
    * z-value. This is the data-LAYOUT primitive — writing a 100 TB table
    * sorted by zval gives parquet row-groups whose min/max stats are tight
    * in BOTH dimensions, so either predicate prunes; a plain sort is tight
    * in one. Pure integer bit math (shift/and/or), identical on both
    * engines; top-100 keeps the contract output bounded and the plan a
    * TakeOrderedAndProject (no global sort materialization).
    */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val x = pmod(col("o_custkey"), lit(1024L))
    val y = pmod(datediff(col("o_orderdate").cast(DateType),
      lit("1970-01-01").cast(DateType)).cast(LongType), lit(1024L))
    val z = (0 until 10).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
    Tables.t(spark, dir, "orders")
      .select(col("o_orderkey"), x.as("xb"), y.as("yb"), z.as("zval"))
      .orderBy(col("zval"), col("o_orderkey"))
      .limit(100)
  }

  val zorderLayoutSql: String = {
    val z = (0 until 10).map(i =>
      s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH t AS (
       |  SELECT o_orderkey, o_custkey % 1024 AS x,
       |    CAST((CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS BIGINT) % 1024 AS y
       |  FROM orders)
       |SELECT o_orderkey, x AS xb, y AS yb, CAST($z AS BIGINT) AS zval
       |FROM t ORDER BY zval, o_orderkey LIMIT 100""".stripMargin
  }

  val all: Seq[ContractQuery] = Seq(
    ContractQuery("q_scan_parquet", scanParquet, Some(scanParquetSql)),
    ContractQuery("q_project_filter", projectFilter, Some(projectFilterSql)),
    ContractQuery("q_pred_mix", predMix, Some(predMixSql)),
    ContractQuery("q_join_inner", joinInner, Some(joinInnerSql)),
    ContractQuery("q_join_broadcast", joinBroadcast, Some(joinBroadcastSql)),
    ContractQuery("q_join_smj", joinSmj, Some(joinSmjSql)),
    ContractQuery("q_join_left", joinLeft, Some(joinLeftSql)),
    ContractQuery("q_join_full", joinFull, Some(joinFullSql)),
    ContractQuery("q_join_semi", joinSemi, Some(joinSemiSql)),
    ContractQuery("q_join_anti", joinAnti, Some(joinAntiSql)),
    ContractQuery("q_join_cross", joinCross, Some(joinCrossSql)),
    ContractQuery("q_join_theta", joinTheta, Some(joinThetaSql)),
    ContractQuery("q_join_asof", joinAsof, Some(joinAsofSql)),
    ContractQuery("q_sort_multi", sortMulti, Some(sortMultiSql)),
    ContractQuery("q_topk_global", topkGlobal, Some(topkGlobalSql)),
    ContractQuery("q_union_all", unionAll, Some(unionAllSql)),
    ContractQuery("q_union_distinct", unionDistinct, Some(unionDistinctSql)),
    ContractQuery("q_intersect", intersectQ, Some(intersectSql)),
    ContractQuery("q_except", exceptQ, Some(exceptSql)),
    ContractQuery("q_dedup_rows", dedupRows, Some(dedupRowsSql)),
    ContractQuery("q_sql_q3", sqlQ3, Some(sqlQ3Sql)),
    ContractQuery("q_sql_subqueries", sqlSubqueries, Some(sqlSubqueriesSql)),
    ContractQuery("q_sql_recursive", sqlRecursive, Some(sqlRecursiveSql)),
    ContractQuery("q_join_salted", joinSalted, Some(joinSaltedSql)),
    ContractQuery("q_zorder", zorderLayout, Some(zorderLayoutSql)),
    ContractQuery("q_unpivot", unpivotQ, Some(unpivotSql)),
    ContractQuery("q_join_range", joinRange, Some(joinRangeSql))
  )
}
