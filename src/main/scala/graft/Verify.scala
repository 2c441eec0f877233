package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query subset for fast iteration
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.getOrCreate(Some(Session.cpus))
    new java.io.File(outDir).mkdirs()
    // Queries are independent single-output jobs: run a few concurrently
    // so per-query fixed overhead (planning, codegen, write commit)
    // overlaps. Results are unaffected — each query writes its own dir and
    // Spark schedules concurrent jobs from one session safely.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        scala.concurrent.Future {
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      }
    futures.foreach(f =>
      scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf))
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // quantitative differentials for the no-oracle queries (recall /
    // precision / sketch error vs their exact oracled baselines) — the
    // per-round signal the driver's DuckDB compare can't produce. Full
    // runs only; best-effort so a differential bug can never zero the
    // correctness dump itself.
    if (only.isEmpty) try {
      val cj = Containment.toJson(Containment.metrics(spark, sfDir))
      Files.writeString(Paths.get(s"$outDir/containment.json"), cj)
      println(s"[containment] $cj")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] containment differentials failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
