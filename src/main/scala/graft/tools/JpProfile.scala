package graft.tools

import graft.queries.{Tables, TextOps}
import org.apache.spark.sql.functions._

/** Stage decomposition of the text_jaccard_pairs warm row — the #1
  * single row of every r18-r19 window (6.6-8.6 s). The r18 SegProfile
  * put the pair stage at 2.5-2.8 s steady-state, so this probe times
  * the FIRST execution of each sub-step in a fresh session (exactly
  * what the warm row pays) and the repeat, to split cold costs
  * (parquet footers, codegen, plan optimization) from execution.
  * Not part of the contract; a local perf tool.
  */
object JpProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(graft.Session.sfDir())
    val spark = graft.Session.getOrCreate(Some(graft.Session.cpus))
    spark.range(1000).selectExpr("sum(id)").collect()

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $name%-36s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    val docs = Tables.t(spark, sfDir, "documents")
    time("documents.count (footer+scan)")(docs.count())
    time("shingleBlowup probe")(TextOps.shingleBlowup(docs))
    time("shingleBlowup probe (repeat)")(TextOps.shingleBlowup(docs))
    // the exploded self-join is hinted to a merge join, so the pair build
    // has one physical plan whatever the session's join preferences
    val pairs = TextOps.neardupJaccardAt(docs, threshold = 0.5)
    println("[plan] " + pairs.queryExecution.executedPlan.toString
      .linesIterator.filter(l =>
        l.contains("Join") || l.contains("Sort ") || l.contains("Exchange"))
      .take(8).map(_.trim.take(90)).mkString(" | "))
    for (pass <- 1 to 2) time(s"pair build noop p$pass") {
      pairs.write.format("noop").mode("overwrite").save()
    }
    time("ckpt+count (memo shape)") {
      TextOps.neardupJaccardAt(docs, 0.5).localCheckpoint(true).count()
    }
    // commit-able plan evidence for the warm build (the contract row
    // q_neardup_jaccard itself only scans the memoized checkpoint)
    val dir = java.nio.file.Paths.get("plans/r19")
    java.nio.file.Files.createDirectories(dir)
    val suffix = sys.env.getOrElse("JP_SUFFIX", "after")
    val plan = TextOps.neardupJaccardAt(docs, 0.5).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    java.nio.file.Files.write(
      dir.resolve(s"text_jaccard_pairs_build_$suffix.txt"),
      plan.getBytes("UTF-8"))
    println(s"[plandump] text_jaccard_pairs_build_$suffix written")
    spark.stop()
  }
}
