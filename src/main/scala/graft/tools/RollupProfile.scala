package graft.tools

import org.apache.spark.sql.functions._

/** Stage breakdown of the store-then-answer rollup rows (r19 — verdict
  * task 6: q_topk_range / q_distinct_days "commit cost"): times each
  * sub-step of the two contract queries separately — summary/sketch
  * write (the aggregate + 150 day-dir parquet commit), min-day listing,
  * ranged read-back, scratch delete — so the optimization targets the
  * step that actually costs, not the folklore one.
  *
  * Usage: sbt "runMain graft.tools.RollupProfile [reps]"
  * (SPARK_GRAFT_SF_DIR overrides the sf0.1 fixture dir)
  */
object RollupProfile {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val spark = graft.Session.getOrCreate(Some(graft.Session.cpus))
    spark.range(1000).selectExpr("sum(id)").collect()
    val dir = graft.Session.sfDir()
    val events = graft.queries.Tables.t(spark, dir, "events")
    def t[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    for (i <- 1 to reps) {
      val tmp = graft.queries.EventOps.scratchDir(spark, "rollup_prof")
      // noop arms: the same aggregate plans with the parquet commit
      // swapped for the noop sink — isolates compute from commit (§1.4)
      val (_, aggSum) = t(graft.queries.EventOps
        .dailySummaryRows(events, 64).write.format("noop")
        .mode("overwrite").save())
      val (_, aggSk) = t(graft.queries.EventOps
        .dailySketchRows(events, 12).write.format("noop")
        .mode("overwrite").save())
      val (_, wSum) = t(graft.queries.EventOps.writeDailySummaries(events, tmp))
      val (d0, wList) = t {
        val p = new org.apache.hadoop.fs.Path(tmp)
        val days = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .listStatus(p).iterator.map(_.getPath.getName)
          .filter(_.startsWith("day=")).map(_.stripPrefix("day=")).toSeq
        java.time.LocalDate.parse(days.min)
      }
      val (_, rSum) = t(graft.queries.EventOps.topkFromSummaries(spark, tmp,
        k = 10, fromDay = Some(d0.plusDays(7).toString),
        untilDay = Some(d0.plusDays(14).toString)).count())
      val (_, del) = t(graft.queries.EventOps.deleteRecursively(spark, tmp))
      val tmp2 = graft.queries.EventOps.scratchDir(spark, "rollup_prof2")
      val (_, wSk) = t(graft.queries.EventOps.writeDailySketches(events, tmp2))
      val (_, rSk) = t(graft.queries.EventOps.distinctFromSketches(spark, tmp2,
        fromDay = Some(d0.plusDays(7).toString),
        untilDay = Some(d0.plusDays(14).toString)).count())
      val (_, del2) = t(graft.queries.EventOps.deleteRecursively(spark, tmp2))
      println(f"== rollup rep$i topk[agg=$aggSum%.2f write=$wSum%.2f " +
        f"list=$wList%.3f read=$rSum%.2f del=$del%.2f] " +
        f"distinct[agg=$aggSk%.2f write=$wSk%.2f read=$rSk%.2f del=$del2%.2f]")
      if (sys.env.contains("ROLLUP_AB")) {
        // commit-protocol A/B arms over the SAME summary rows: static
        // overwrite to a fresh dir (no dynamic staging dance) and
        // FileOutputCommitter algorithm 2 (rename at task commit)
        val rows = graft.queries.EventOps.dailySummaryRows(events, 64)
          .localCheckpoint(true)
        def arm(label: String)(write: String => Unit): Unit = {
          val d = graft.queries.EventOps.scratchDir(spark, s"rollup_$label")
          val (_, s) = t(write(d))
          graft.queries.EventOps.deleteRecursively(spark, d)
          println(f"   arm $label%-12s $s%.2f s")
        }
        arm("dynamic") { d => rows.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("day").parquet(d) }
        arm("static") { d => rows.write.mode("overwrite")
          .partitionBy("day").parquet(d) }
        spark.sparkContext.hadoopConfiguration
          .setInt("mapreduce.fileoutputcommitter.algorithm.version", 2)
        arm("dynamic-v2") { d => rows.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("day").parquet(d) }
        arm("static-v2") { d => rows.write.mode("overwrite")
          .partitionBy("day").parquet(d) }
        spark.sparkContext.hadoopConfiguration
          .setInt("mapreduce.fileoutputcommitter.algorithm.version", 1)
      }
    }
    spark.stop()
  }
}
