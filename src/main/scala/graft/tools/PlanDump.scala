package graft.tools

/** Dump `explain("formatted")` for contract queries to files — the
  * plan evidence the optimization rounds commit under `plans/rN/`, and
  * the way to read the physical plan of any contract query.
  *
  * Usage: `runMain graft.tools.PlanDump <outDir> <suffix> [q1,q2,...]`
  * — writes `<outDir>/<query>_<suffix>.txt` per query (all registered
  * queries when no list is given). The engine session at 4 cores over
  * the sf0.001 fixtures (SPARK_GRAFT_SF_DIR overrides), so the captured
  * plans are the ones the canary sweeps; plan SHAPE at sf0.001 equals
  * the bench's (knob derivations change constants, not operators).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names: Seq[String] =
      if (args.length > 2 && args(2).nonEmpty) args(2).split(",").toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Session.getOrCreate(Some(4))
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    val sf = graft.Session.sfDir("/root/testdata/sf0.001")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      try {
        val df = fn(spark, sf)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(dir.resolve(s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] $name ok")
      } catch { case t: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${t.getMessage}")
      }
    }
    spark.stop()
  }
}
