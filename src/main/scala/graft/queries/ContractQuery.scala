package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StructField, StructType, TimestampNTZType, TimestampType}

/** One driver-contract query: a DataFrame builder plus (when the semantics
  * are ANSI-SQL-expressible) the equivalent DuckDB oracle SQL that the
  * driver's t2 gate executes on the same parquet tables.
  *
  * Semantics derive from the reference `icaropires/pdf2dataset` surface and
  * the north-star extensions; see SURVEY.md §2 for the per-query provenance
  * (the reference checkout was empty — SURVEY.md §0).
  */
final case class ContractQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Fixture-table loaders. One parquet file per table under the sf dir.
  * Loads are memoized per (session, path) in [[graft.operators.SessionMemo]]:
  * re-resolving the same file for each of the 67 contract queries would
  * re-list and re-read parquet footers dozens of times per run.
  */
object Tables {
  private val loaded =
    graft.operators.SessionMemo.family[String, DataFrame]("tables")

  /** The parquet path of fixture table `name` under `sfDir`. */
  private[graft] def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    loaded(spark, path(sfDir, name), Seq(path(sfDir, name)))(
      load(spark, sfDir, name))

  private def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, path(sfDir, name))
    else spark.read.parquet(path(sfDir, name))

  /** The events fixture has shipped in two parquet flavors across driver
    * regenerations: `ts` as TIMESTAMP(NANOS) — which Spark 4 refuses to map
    * to TimestampType — and TIMESTAMP(MICROS, isAdjustedToUTC=false) — which
    * Spark infers as TIMESTAMP_NTZ. Both must land as one canonical
    * TimestampType column whose epoch-µs values equal DuckDB's read of the
    * same file (`epoch_us(ts)` truncates ns → µs identically), so every
    * downstream consumer (windows, as-of joins, unix_micros) is
    * flavor-agnostic. Branch on what the footer actually declares:
    *  - µs flavor: re-read with an explicit TimestampType schema. The stored
    *    int64 µs values ARE epoch µs; forcing the catalyst type at scan keeps
    *    the read session-timezone-independent (an NTZ read followed by a cast
    *    would shift by the session zone on non-UTC hosts).
    *  - ns flavor: scoped nanosAsLong read + truncate. The conf is
    *    session-global, so it is set/restored around the one read that needs
    *    it — leaking it would silently long-ify any future nanos table that
    *    must NOT be read as long.
    */
  private[graft] def loadEvents(spark: SparkSession, path: String): DataFrame = {
    def nanosRead(): DataFrame = {
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val prior = spark.conf.getOption(key)
      spark.conf.set(key, "true")
      try
        spark.read.parquet(path)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      finally prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    scala.util.Try(spark.read.parquet(path).schema) match {
      case scala.util.Success(s) => s("ts").dataType match {
        case TimestampType => spark.read.parquet(path)
        case TimestampNTZType =>
          val forced = StructType(s.map {
            case StructField("ts", TimestampNTZType, n, m) =>
              StructField("ts", TimestampType, n, m)
            case f => f
          })
          spark.read.schema(forced).parquet(path)
        case LongType =>
          // nanosAsLong already on session-globally: raw ns longs
          spark.read.parquet(path)
            .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case other =>
          sys.error(s"events.ts: unhandled fixture type $other")
      }
      // plain read refused the footer: the TIMESTAMP(NANOS) flavor
      case scala.util.Failure(_) => nanosRead()
    }
  }
}

/** Determinism helpers for oracle-checked outputs (SURVEY.md §7.6 R1-R3).
  *
  * Double SUM/AVG accumulate in partition order, so raw double aggregates
  * are not reproducible across runs, let alone engines. Rules:
  *  - aggregate over exact DECIMAL/BIGINT intermediates (order-independent,
  *    both engines compute the identical exact value), round to 4dp, emit
  *    DOUBLE;
  *  - averages divide exact scaled-integer sums with one correctly-rounded
  *    double division (identical IEEE result on both engines), then take
  *    `floor` — an exact HALF_UP average with no engine-specific rounding;
  *  - per-row double math is run-deterministic; it only needs an identical
  *    formulation both sides (verified by the local sf0.01 oracle mirror,
  *    which exercises the same bytes the driver will);
  *  - timestamps are emitted as epoch microseconds BIGINT (`tsOut`) — Spark
  *    writes UTC-adjusted parquet timestamps which DuckDB would read back as
  *    TIMESTAMPTZ, a repr mismatch against the oracle's naive TIMESTAMP.
  */
object Det {
  /** Monetary/measure double -> exact decimal. Fits |x| < 1e8 at 4dp. */
  def money(c: Column): Column = c.cast(DecimalType(12, 4))

  /** Small-rate double (discount/tax-like, |x| < 100) -> exact decimal. */
  def rate(c: Column): Column = c.cast(DecimalType(6, 4))

  /** Final float output: round exact decimal (or deterministic double) to
    * 4dp and emit DOUBLE — the hash-stable output convention.
    */
  def out(c: Column): Column = round(c, 4).cast(DoubleType)

  /** x -> exact integer of x quantized at 4dp (x * 10^4 as BIGINT). */
  def moneyInt(c: Column): Column = (money(c) * lit(10000)).cast(LongType)

  /** Exact HALF_UP 4dp average of a positive scaled-integer sum:
    * floor((2s + n) / (2n)) / 10^4. Numerator/denominator are exact BIGINTs
    * on both engines; both perform one correctly-rounded double division,
    * so `floor` agrees bit-for-bit (quotient error ≪ distance to the next
    * integer at oracle scale). Requires sumInt >= 0.
    *
    * Bound: `2 * sumInt` is computed in BIGINT on the Spark side while the
    * DuckDB mirror sums into HUGEINT, so this trick is exact only while
    * 2·Σ(x·10^4) < 2^63 — for l_extendedprice-scale sums that holds to
    * roughly sf 500 (≈3·10^9 lineitems × ~10^9 scaled units ≈ 6·10^18).
    * Beyond that, cast the scaled sum to DECIMAL(38,0) on both sides
    * before applying the 2s+n scheme.
    */
  def avg4(sumInt: Column, n: Column): Column =
    (floor((sumInt * lit(2L) + n) / (n * lit(2L))) / lit(10000.0))
      .cast(DoubleType)

  /** Average of a raw BIGINT sum at 4dp via the same exact scheme. */
  def avgInt4(sumLong: Column, n: Column): Column =
    avg4(sumLong * lit(10000L), n)

  /** [[avg4]] beyond the Long bound: the scaled sum is carried as
    * DECIMAL(38,0), so 2·sum stays exact past 2^63 (to ~10^37). Use when
    * a 4dp-scaled sum can exceed ~4.6·10^18 (l_extendedprice-scale sums
    * beyond ~sf500). DuckDB mirror: the same expression with the sum
    * CAST to DECIMAL(38,0)/HUGEINT.
    */
  def avg4Big(sumInt: Column, n: Column): Column = {
    val s = sumInt.cast(DecimalType(38, 0))
    (floor((s * lit(2L) + n) / (n * lit(2L))) / lit(10000.0))
      .cast(DoubleType)
  }

  /** Exact HALF_UP 6dp of a non-negative integer ratio a/b:
    * floor((2·a·10^6 + b) / (2b)) / 10^6. Unlike round(a/b, 6) on the
    * double quotient, this never sits on a rounding boundary where the
    * engines' round() implementations can disagree by one ulp (observed
    * on q_quality_score at sf0.1).
    */
  def div6(a: Column, b: Column): Column =
    (floor((a * lit(2000000L) + b) / (b * lit(2L))) / lit(1000000.0))
      .cast(DoubleType)

  /** Timestamp output convention: epoch microseconds BIGINT. */
  def tsOut(c: Column): Column = unix_micros(c)
}

/** DuckDB-SQL mirrors of the [[Det]] helpers, so the oracle text stays in
  * lock-step with the Spark formulation.
  */
object Sql {
  /** CAST(x AS DECIMAL(12,4)) */
  def money(c: String): String = s"CAST($c AS DECIMAL(12,4))"

  def rate(c: String): String = s"CAST($c AS DECIMAL(6,4))"

  /** Round a decimal aggregate to 4dp and emit DOUBLE. */
  def out(c: String): String = s"CAST(round($c, 4) AS DOUBLE)"

  def moneyInt(c: String): String =
    s"CAST(${money(c)} * 10000 AS BIGINT)"

  /** sum(moneyInt(c)) as exact BIGINT (DuckDB sums BIGINT into HUGEINT). */
  def sumMoneyInt(c: String): String =
    s"CAST(sum(${moneyInt(c)}) AS BIGINT)"

  /** Mirror of [[Det.avg4]]: exact HALF_UP 4dp average. */
  def avg4(sumInt: String, n: String): String =
    s"CAST(floor(($sumInt * 2 + $n) / ($n * 2)) / 10000.0 AS DOUBLE)"

  def avgInt4(sumLong: String, n: String): String =
    avg4(s"($sumLong * 10000)", n)

  /** Mirror of [[Det.div6]]. */
  def div6(a: String, b: String): String =
    s"CAST(floor((($a) * 2000000 + ($b)) / (($b) * 2)) / 1000000.0 AS DOUBLE)"

  /** The keep-best keeper id — max over the (n_chars, −doc_id) STRUCT,
    * extracted (DuckDB orders structs lexicographically, like Spark):
    * the longest cluster member, ties to the smallest id. Replaces the
    * injective n_chars·10⁹ − doc_id arg_max encoding, whose order
    * inverted once the id gap out-weighed the length gap×10⁹ (r16);
    * DuckDB's arg_max rejects STRUCT keys, plain max does not.
    */
  def keepBest(nChars: String, docId: String): String =
    s"CAST(-((max({'nc': $nChars, 'nid': -($docId)})).nid) AS BIGINT)"

  /** Mirror of [[Det.tsOut]]. */
  def tsOut(c: String): String = s"epoch_us($c)"
}
