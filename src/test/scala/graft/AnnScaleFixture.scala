package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions
import graft.queries.{Tables, VectorOps}

/** Shared 10× embedding corpus for the at-scale ANN recall specs
  * (r8 verdict task 2): the sf0.1 embeddings (2 000 unit vectors)
  * expanded deterministically to 20 000 via
  * [[VectorOps.expandEmbeddings]] (noise 0.05 ⇒ copies at cosine ≈ 0.97
  * to their parent — a near-duplicate cloud). Built once per JVM and
  * localCheckpointed; truth is the exact brute-force top-5 of the 20
  * unjittered copy-0 queries. Measured recalls at this scale (100
  * queries; BASELINE.md "ANN recall/latency at 10× fixture scale", rerun
  * with `git show 1378a37:src/main/scala/graft/tools/AnnScale.scala`):
  * LSH 0.87, IVF np4 0.978 / np8 0.994, PQ 1.0, IVF-PQ 0.978–0.994 —
  * the spec floors sit safely under these.
  */
object AnnScaleFixture {
  val Factor = 10
  val NumQueries = 20

  lazy val corpus: DataFrame = {
    val emb = Tables.t(SparkSessionFixture.session, "/root/testdata/sf0.1",
      "embeddings")
    VectorOps.expandEmbeddings(emb, Factor, noise = 0.05)
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint(true)
  }

  /** corpus + n2, the shape Ivf/Pq search take. */
  lazy val base: DataFrame = corpus
    .select(col("vec_id"), col("embedding"),
      VectorExpressions.dotProduct(col("embedding"), col("embedding")).as("n2"))
    .localCheckpoint(true)

  def queryPred = col("vec_id") % Factor === 0 &&
    col("vec_id") < NumQueries.toLong * Factor

  lazy val queries: DataFrame = base.filter(queryPred).localCheckpoint(true)

  def pairsOf(df: DataFrame): Map[Long, Set[Long]] =
    df.select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }

  lazy val truth: Map[Long, Set[Long]] =
    pairsOf(VectorOps.knn(corpus, queries, 5))

  def recallOf(df: DataFrame): Double = {
    val got = pairsOf(df)
    val hits = truth.toSeq.map { case (q, t) =>
      t.count(got.getOrElse(q, Set.empty).contains) }.sum
    hits.toDouble / truth.values.map(_.size).sum
  }
}
