package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions
import graft.operators.{Ivf, Materialize}
import graft.queries.{Tables, VectorOps}

/** IVF derived-geometry recall/cost at 100× fixture scale (r18 — the
  * "Ivf large-corpus ladder" follow-through): `defaultNprobe`'s floor-4
  * regime was measured only to 20k vectors (AnnScale r10); this rung
  * measures the FULLY-DERIVED geometry — cells = defaultCells(n) ≈ √n,
  * nprobe = defaultNprobe(n, cells) — at 200k vectors against the
  * fixture-scale fixed geometry (cells 64, nprobe 4) a naive deployment
  * would ship, in both jitter regimes (0.05 easy / 0.3 hard).
  *
  * Usage: sbt "runMain graft.tools.IvfScale [sfDir] [factor]"
  */
object IvfScale {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 100
    val spark = graft.Session.getOrCreate(Some(graft.Session.cpus))

    val noises = sys.env.get("IVF_NOISE")
      .map(_.split(",").toSeq.map(_.toDouble)).getOrElse(Seq(0.05, 0.3))
    for (noise <- noises) {
      val emb = Tables.t(spark, sfDir, "embeddings")
      val corpus = Materialize.cut(
        VectorOps.expandEmbeddings(emb, factor, noise = noise)
          .select(col("vec_id"), col("embedding")))
      val n = corpus.count()
      val base = Materialize.cut(corpus.select(col("vec_id"), col("embedding"),
        VectorExpressions.dotProduct(col("embedding"), col("embedding"))
          .as("n2")))
      val qPred = col("vec_id") % factor === 0 && col("vec_id") < 100L * factor
      val queries = Materialize.cut(base.filter(qPred))

      def pairs(df: DataFrame): Map[Long, Set[Long]] =
        df.select("q_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
          .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
      val t0 = System.nanoTime()
      val truth = pairs(VectorOps.knn(corpus, queries, 5))
      val tBrute = (System.nanoTime() - t0) / 1e9
      def recall(got: Map[Long, Set[Long]]): Double = {
        val hits = truth.toSeq.map { case (q, t) =>
          t.count(got.getOrElse(q, Set.empty).contains) }.sum
        hits.toDouble / truth.values.map(_.size).sum
      }

      println(f"== IvfScale n=$n noise=$noise brute=$tBrute%.1fs " +
        f"(defaultCells=${Ivf.defaultCells(n)} " +
        f"defaultNprobe=${Ivf.defaultNprobe(n, Ivf.defaultCells(n))})")
      for ((label, cells, nprobes, groups) <- Seq(
          ("derived", Ivf.defaultCells(n),
            Seq(Ivf.defaultNprobe(n, Ivf.defaultCells(n)), 8, 16,
              Ivf.defaultCells(n) / 16), 0),
          // r19 two-level arm: same derived cells, corpus assignment
          // routed via ~√cells group centroids (Ivf.assignTwoLevel) —
          // the index-free escape whose per-call scoring is 2n√cells
          // instead of n·cells; recall deltas vs the one-level arm are
          // the routing approximation's price
          ("derived-2level", Ivf.defaultCells(n),
            Seq(Ivf.defaultNprobe(n, Ivf.defaultCells(n)),
              Ivf.defaultCells(n) / 16),
            math.max(2, math.round(math.sqrt(
              Ivf.defaultCells(n).toDouble)).toInt)),
          ("fixture-fixed", 64, Seq(4), 0))) {
        val tc0 = System.nanoTime()
        val cents = Materialize.cut(Ivf.train(base, k = cells, iters = 2))
        val tTrain = (System.nanoTime() - tc0) / 1e9
        for (nprobe <- nprobes.distinct) {
          val ts0 = System.nanoTime()
          val got = pairs(
            if (groups > 0) Ivf.searchTwoLevel(base, cents, qPred, k = 5,
              nprobe = nprobe, groups = groups)
            else Ivf.search(base, cents, qPred, k = 5, nprobe = nprobe))
          val tSearch = (System.nanoTime() - ts0) / 1e9
          println(f"   $label%-14s cells=$cells nprobe=$nprobe " +
            (if (groups > 0) f"groups=$groups " else "") +
            f"recall@5=${recall(got)}%.3f train=$tTrain%.1fs " +
            f"search=$tSearch%.1fs")
        }
      }
    }
    spark.stop()
  }
}
