package graft.tools
import org.apache.spark.sql.functions._
import graft.operators.Materialize

/** Measured small-corpus knob grid for the two 0.92 sf0.001 ANN floors
  * (r17 verdict task 2 — the LshGrid discipline applied to q_knn_ivf
  * and q_knn_graph): is the 500-vector deficit a fixed-knob artifact
  * (fixable by derivation) or the honest ceiling of the structure?
  *
  * IVF sweep: (cells, nprobe) — the recall knob is the probed candidate
  * share nprobe/cells; the 100 TB cost knob is candidates per query
  * ≈ nprobe·n/cells.
  * Graph sweep: (beam, entries) on the CONTRACT graph build (degree 10,
  * 2 rounds, 16 cells) — hops fixed at 3 like the contract query.
  */
object AnnSmallGrid {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.getOrCreate(Some(graft.Session.cpus))
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      val base = Materialize.cut(
        graft.queries.Tables.t(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            org.apache.spark.sql.graft.VectorExpressions
              .dotProduct(col("embedding"), col("embedding")).as("n2")))
      val n = base.count()
      val q = base.filter(col("vec_id") < 5)
      val truth = graft.queries.VectorOps.knn(base, q, 5)
        .select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def recall(df: org.apache.spark.sql.DataFrame): Double = {
        val got = df.select(col("q_id"), col("vec_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        (got & truth).size.toDouble / truth.size
      }
      println(s"== $sf n=$n")
      for (cells <- Seq(8, 16, 32); nprobe <- Seq(2, 4, 8, 12, 16)
           if nprobe <= cells) {
        val t0 = System.nanoTime()
        val r = recall(graft.operators.Ivf.search(base,
          graft.operators.Ivf.seedCentroids(base, cells),
          col("vec_id") < 5, k = 5, nprobe = nprobe))
        println(f"   ivf   cells=$cells%2d nprobe=$nprobe%2d cand~${nprobe * n / cells}%6d " +
          f"recall=$r%.2f sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      }
      // PQ sweep (r18 second pass): the contract shortlist is
      // max(100, n/5); is the 0.96 small-corpus floor shortlist-bound
      // (fixable by a floor raise) or ADC-quantization-bound (a real
      // ceiling — the missed neighbor's ADC score falls outside ANY
      // affordable shortlist)?
      for ((ks, sl) <- Seq((64, math.max(100L, n / 5).toInt),
          (64, math.max(200L, n / 5).toInt), (64, math.max(250L, n / 2).toInt),
          (64, n.toInt), (128, math.max(100L, n / 5).toInt))) {
        val t0 = System.nanoTime()
        val r = recall(graft.operators.Pq.search(base,
          graft.operators.Pq.seedCodebooks(base, m = 8, ks = ks),
          base.filter(col("vec_id") < 5), k = 5, shortlist = sl, m = 8))
        println(f"   pq    ks=$ks%3d shortlist=$sl%5d recall=$r%.2f " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      }
      val edges = Materialize.cut(graft.operators.NnDescent
        .buildGraph(base, k = 10, iters = 2, cells = 16))
      for ((beam, entries) <- Seq((20, 8), (32, 8), (32, 16), (48, 24),
          (64, 32))) {
        val t0 = System.nanoTime()
        val r = recall(graft.operators.NnDescent.searchGraph(
          base, edges, q, k = 5, beam = beam, hops = 3, entries = entries))
        println(f"   graph beam=$beam%2d entries=$entries%2d recall=$r%.2f " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      }
    }
    spark.stop()
  }
}
