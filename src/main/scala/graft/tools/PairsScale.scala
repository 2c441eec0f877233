package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Materialize

/** Direct-vs-prefix ladder for the exact-Jaccard pair build (r19 —
  * verdict task 4: derive the text_jaccard_pairs form from corpus size
  * instead of defaulting to the direct shingle self-join).
  *
  * Corpus: sf0.1 documents replicated ×N, each replica's text jittered
  * with a distinct suffix token (the SIMHASH_SCALE design — replicas
  * stay near- but not exactly-identical, so shingle document-frequency
  * grows with N exactly as boilerplate does on a growing crawl corpus;
  * the direct join's by-shingle buckets grow ×N and its in-bucket pair
  * cost ×N², while the prefix form drops hot shingles out of every
  * prefix).
  *
  * Arms alternate A/B/B/A so neither owns warm-up; equality is checked
  * per rung via count + an order-insensitive xxhash64 checksum over
  * every column (the two forms are documented bit-identical; a checksum
  * mismatch here fails the rung loudly).
  *
  * Usage: sbt "runMain graft.tools.PairsScale [xNs]"  (default 1,2,4,8)
  */
object PairsScale {
  def main(args: Array[String]): Unit = {
    val xNs = args.headOption match {
      case Some(s) => s.split(",").toSeq.map(_.trim.toInt)
      case None => Seq(1, 2, 4, 8)
    }
    val spark = graft.Session.getOrCreate(Some(graft.Session.cpus))
    spark.range(1000).selectExpr("sum(id)").collect()
    // PAIRS_BOILER=<k>: append the SAME k-token boilerplate suffix to
    // every doc — hot shingles shared across NON-duplicate docs, the
    // regime where the direct join's by-shingle buckets go quadratic
    // with ~zero output (replication alone conflates hotness with true
    // duplication: candidates ≈ output there, and the ladder measured
    // direct WINNING through x16 — see BASELINE.md r19)
    val boiler = sys.env.get("PAIRS_BOILER").map(_.toInt).getOrElse(0)
    val boilerSuffix =
      if (boiler <= 0) "" else (1 to boiler).map(i => s"boilertok$i")
        .mkString(" ", " ", "")
    for (xN <- xNs) {
      val d = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .select(col("doc_id"), col("text"))
      val corpus = Materialize.cut((if (xN == 1) d else
        (0 until xN).map(i => d.select(
            (col("doc_id") * xN + i).as("doc_id"),
            concat(col("text"), lit(s" replicatoken$i")).as("text")))
          .reduce(_ unionByName _))
        .select(col("doc_id"),
          concat(col("text"), lit(boilerSuffix)).as("text")))
      val n = corpus.count()
      def sig(f: org.apache.spark.sql.DataFrame): (Long, Long, Double) = {
        val t0 = System.nanoTime()
        // pmod before the sum: summing raw xxhash64 overflows Long under
        // ANSI; 1e12-bounded terms stay exact to ~9M rows
        val r = f.agg(count(lit(1)), sum(pmod(xxhash64(col("d1"), col("d2"),
          col("inter"), col("jaccard")), lit(1000000000000L)))).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
          (System.nanoTime() - t0) / 1e9)
      }
      val blowup = graft.queries.TextOps.shingleBlowup(corpus)
      val (c1, h1, s1) = sig(graft.queries.TextOps.neardupJaccardAt(corpus, 0.5))
      val (c2, h2, t1) = sig(graft.queries.TextOps.neardupJaccardPrefixAt(corpus, 0.5))
      val (c3, h3, t2) = sig(graft.queries.TextOps.neardupJaccardPrefixAt(corpus, 0.5))
      val (c4, h4, s2) = sig(graft.queries.TextOps.neardupJaccardAt(corpus, 0.5))
      assert(c1 == c2 && c2 == c3 && c3 == c4 && h1 == h2 && h2 == h3 && h3 == h4,
        s"forms disagree at x$xN: counts=$c1/$c2/$c3/$c4 sums=$h1/$h2/$h3/$h4")
      println(f"== pairs x$xN n=$n blowup=$blowup%.1f pairs=$c1 " +
        f"direct=[$s1%.2f,$s2%.2f]s prefix=[$t1%.2f,$t2%.2f]s")
    }
    spark.stop()
  }
}
