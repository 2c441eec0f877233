package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Establishes the digests the benchmark checks against.
  *
  * {{{
  * Pin queries <verifyDumpDir> <out.tsv>
  *     digests of every query a `graft.Verify` dump holds; rows named in
  *     its oracle_sql.json are `oracle`, the rest `sketch`
  * Pin curate <firstSeed> <lastSeed> <checkoutRoot> <workDir> <out.tsv>
  *     the fresh and resumed verdict digests of the curate workload per seed
  * }}}
  */
object Pin {
  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("queries", dump, out) =>
      val spark = SparkSession.builder().master("local[4]")
        .config("spark.sql.session.timeZone", "UTC").getOrCreate()
      val oracled =
        "\"(q_[a-z0-9_]+)\":".r.findAllMatchIn(Files.readString(Paths.get(dump, "oracle_sql.json")))
          .map(_.group(1)).toSet
      val names = Files.list(Paths.get(dump)).iterator().asScala
        .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSeq.sorted
      val lines = names.map { n =>
        val d = Digest.of(spark.read.parquet(Paths.get(dump, n).toString))
        s"$n\t$d\t${if (oracled(n)) "oracle" else "sketch"}"
      }
      Files.writeString(Paths.get(out), lines.mkString("", "\n", "\n"))
      spark.stop()
    case Seq("curate", first, last, root, work, out) =>
      val lines = (first.toLong to last.toLong).map { seed =>
        val run = new Run(Main.Args("curate", seed, 1, trace = false, Paths.get(root).toAbsolutePath,
          Paths.get(work).toAbsolutePath))
        try {
          run.setup()
          val (corpus, base, grown) = run.curateInputs()
          val d = run.curateRound(corpus, base, grown, pinned = None)
            .getOrElse(throw new IllegalStateException(s"seed $seed failed its checks"))
          s"$seed\t${d._1}\t${d._2}"
        } finally run.stop()
      }
      Files.writeString(Paths.get(out), lines.mkString("", "\n", "\n"))
    case _ =>
      System.err.println("usage: Pin queries <dump> <out.tsv> | Pin curate <first> <last> <root> <work> <out.tsv>")
      sys.exit(2)
  }
}
