package graft

import org.apache.spark.sql.SparkSession

/** The one engine session. Every main, both CLIs and the test fixture
  * build their SparkSession here, so all of them plan with the same
  * optimizer (GraftExtensions), time zone and log level.
  */
object Session {
  /** Cores of the bench-shaped mains: `SPARK_GRAFT_CPUS`, default 32
    * (the bench contract runs `local[32]`).
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.trim.toInt)

  /** Fixture directory of the mains: `SPARK_GRAFT_SF_DIR`, else `default`. */
  def sfDir(default: String = "/root/testdata/sf0.1"): String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", default)

  /** The session conf, a pure function of the core count and the
    * launcher's properties. The defaults give way to any `spark.*` value
    * the launcher set (`--conf`, `-D`); a given core count wins over both
    * and pins `local[n]`, plus n shuffle partitions unless
    * `pinPartitions` is off (the CLIs' `--num-cpus` pins only the master
    * and keeps Spark's default partition count). With neither, the
    * master is `local[*]`.
    */
  def conf(cpus: Option[Int], launcher: Map[String, String],
      app: String = "graft", pinPartitions: Boolean = true): Map[String, String] = {
    val defaults = Map(
      "spark.app.name" -> app,
      "spark.master" -> "local[*]",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.extensions" -> "graft.extensions.GraftExtensions")
    val pinned = cpus.fold(Map.empty[String, String]) { n =>
      val master = Map("spark.master" -> s"local[$n]")
      if (pinPartitions) master + ("spark.sql.shuffle.partitions" -> n.toString)
      else master
    }
    defaults ++ launcher.filter(_._1.startsWith("spark.")) ++ pinned
  }

  /** Get or create the session [[conf]] describes, logging at WARN. */
  def getOrCreate(cpus: Option[Int], app: String = "graft",
      pinPartitions: Boolean = true): SparkSession = {
    val builder = SparkSession.builder()
    conf(cpus, sys.props.toMap, app, pinPartitions).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
