package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.IndexStore
import graft.queries.{Tables, VectorOps}

/** Zero-downtime rebuilds ([[IndexStore.buildAside]]): the replacement
  * index builds at `path.rebuilding` while the live index keeps
  * serving; promotion is two metadata renames. Laws: the promoted index
  * equals a direct build, the live index answers MID-build, and every
  * crash state (partial aside, complete-but-unpromoted aside, mid-
  * promote, un-cleaned retired copy) recovers to a serving index.
  */
class RebuildAsideSpec extends AnyFunSuite with SparkSessionFixture {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rm(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def docs = Tables.t(spark, Sf0001, "documents")
    .select(col("doc_id"), col("text"))
  private def b0 = docs.filter(col("doc_id") < 250)
  private def grown = docs.filter(col("doc_id") < 450)

  test("the live index serves THROUGHOUT an aside rebuild; the promoted result equals a direct build") {
    val live = tmpDir("ra_live")
    val direct = tmpDir("ra_direct")
    try {
      VectorOps.writeNeardupIndex(b0, live)
      val before = rows(VectorOps.minhashPairsIndexed(spark, live))
      var servedMidBuild = false
      IndexStore.buildAside(spark, live) { aside =>
        // the rebuild is IN FLIGHT — the live index must still answer,
        // with its OLD corpus (the in-place rebuild would refuse here)
        servedMidBuild =
          rows(VectorOps.minhashPairsIndexed(spark, live)) == before
        VectorOps.writeNeardupIndex(grown, aside)
      }
      assert(servedMidBuild, "live probes must answer mid-rebuild")
      VectorOps.writeNeardupIndex(grown, direct)
      assert(rows(VectorOps.minhashPairsIndexed(spark, live)) ==
        rows(VectorOps.minhashPairsIndexed(spark, direct)))
      assert(IndexStore.indexHistory(spark, live) == Seq("init"),
        "a rebuild starts a new history, aside or not")
      // no debris
      assert(!new java.io.File(s"$live.rebuilding").exists())
      assert(!new java.io.File(s"$live.retired").exists())
    } finally { rm(live); rm(direct) }
  }

  test("crash states all recover: partial aside dropped, complete aside promoted, mid-promote finished, retired cleaned") {
    val idx = tmpDir("ra_crash")
    try {
      VectorOps.writeNeardupIndex(b0, idx)
      val before = rows(VectorOps.minhashPairsIndexed(spark, idx))

      // A: a sentinel-bearing aside beside a LIVE index is
      // indistinguishable from a build in flight — recovery must NOT
      // touch it (the review caught the delete-in-flight hazard);
      // reads keep serving, and the next rebuild clears the stale dir
      new java.io.File(s"$idx.rebuilding").mkdirs()
      new java.io.File(s"$idx.rebuilding/_building").createNewFile()
      VectorOps.recoverNeardupIndex(spark, idx)
      assert(new java.io.File(s"$idx.rebuilding").exists(),
        "an aside with a build sentinel may be IN FLIGHT — hands off")
      assert(rows(VectorOps.minhashPairsIndexed(spark, idx)) == before)
      VectorOps.rebuildNeardupIndexAside(b0, idx) // clears + redoes
      assert(rows(VectorOps.minhashPairsIndexed(spark, idx)) == before)

      // B: the aside completed but the promote never ran — recovery
      // LEAVES both alone (promotion is the builder's act only; a
      // reader must never install an index behind the writer's back),
      // and the next rebuild discards the orphan and redoes it
      VectorOps.writeNeardupIndex(grown, s"$idx.rebuilding")
      VectorOps.recoverNeardupIndex(spark, idx)
      assert(rows(VectorOps.minhashPairsIndexed(spark, idx)) == before,
        "live must keep serving its own corpus")
      assert(new java.io.File(s"$idx.rebuilding").exists(),
        "a complete orphan aside is the next rebuild's to discard")
      VectorOps.rebuildNeardupIndexAside(grown, idx)
      val grownPairs = rows(VectorOps.minhashPairsIndexed(spark, idx))
      assert(!new java.io.File(s"$idx.rebuilding").exists())

      // C: crash between the two promote renames — live is GONE, only
      // retired + aside exist; recovery promotes the aside
      VectorOps.writeNeardupIndex(b0, s"$idx.rebuilding")
      val asidePairs = rows(VectorOps.minhashPairsIndexed(spark,
        s"$idx.rebuilding"))
      assert(new java.io.File(idx).renameTo(new java.io.File(s"$idx.retired")))
      VectorOps.recoverNeardupIndex(spark, idx)
      assert(rows(VectorOps.minhashPairsIndexed(spark, idx)) == asidePairs)
      assert(!new java.io.File(s"$idx.retired").exists())

      // D: crash after promotion, before the retired delete — recovery
      // cleans it and the live index is untouched
      VectorOps.writeNeardupIndex(b0, s"$idx.retired")
      val now = rows(VectorOps.minhashPairsIndexed(spark, idx))
      VectorOps.recoverNeardupIndex(spark, idx)
      assert(!new java.io.File(s"$idx.retired").exists())
      assert(rows(VectorOps.minhashPairsIndexed(spark, idx)) == now)

      // E: live lost entirely, only retired remains (should be
      // impossible) — recovery restores rather than serving nothing
      assert(new java.io.File(idx).renameTo(new java.io.File(s"$idx.retired")))
      VectorOps.recoverNeardupIndex(spark, idx)
      assert(rows(VectorOps.minhashPairsIndexed(spark, idx)) == now)
    } finally rm(idx)
  }

  test("IVF and graph aside-rebuilds equal their direct builds; searches keep serving") {
    import graft.operators.{Ivf, NnDescent}
    val vecs = Tables.t(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"),
        org.apache.spark.sql.graft.VectorExpressions
          .dotProduct(col("embedding"), col("embedding")).as("n2"))
    val v0 = vecs.filter(col("vec_id") < 250)
    val queries = vecs.filter(col("vec_id") < 5)
    val ivf = tmpDir("ra_ivf"); val ivfD = tmpDir("ra_ivf_d")
    val g = tmpDir("ra_g"); val gD = tmpDir("ra_g_d")
    try {
      val cents0 = Ivf.train(v0, k = 8, iters = 2).localCheckpoint(true)
      Ivf.writeIndex(v0, cents0, ivf)
      // retrained centroids over the full corpus — the drift cure the
      // aside rebuild exists to apply without an outage
      val cents1 = Ivf.train(vecs, k = 8, iters = 2).localCheckpoint(true)
      Ivf.rebuildIndexAside(vecs, cents1, ivf)
      Ivf.writeIndex(vecs, cents1, ivfD)
      assert(rows(Ivf.searchIndex(spark, ivf, queries, 5, 4)) ==
        rows(Ivf.searchIndex(spark, ivfD, queries, 5, 4)))

      // PQ closes the family: closure form because PQ has three builds
      val pq = java.nio.file.Files.createTempDirectory("ra_pq").toString
      val pqD = java.nio.file.Files.createTempDirectory("ra_pq_d").toString
      try {
        import graft.operators.Pq
        val books0 = Pq.train(v0, m = 8, ks = 16, iters = 2)
        Pq.writeIndex(v0, cents0, books0, pq, m = 8)
        val books1 = Pq.train(vecs, m = 8, ks = 16, iters = 2)
          .localCheckpoint(true)
        Pq.rebuildIndexAside(spark, pq)(
          Pq.writeIndex(vecs, cents1, books1, _, m = 8))
        Pq.writeIndex(vecs, cents1, books1, pqD, m = 8)
        assert(rows(Pq.searchIndex(spark, pq, queries, 5, 4, 32, 8)) ==
          rows(Pq.searchIndex(spark, pqD, queries, 5, 4, 32, 8)))
      } finally { rm(pq); rm(pqD) }

      NnDescent.writeIndex(v0, g, k = 10, iters = 1, cells = 8)
      NnDescent.appendIndex(spark,
        vecs.filter(col("vec_id") >= 250), g, "tA", k = 10)
      NnDescent.rebuildIndexAside(spark, g, k = 10, iters = 1, cells = 8)
      NnDescent.writeIndex(vecs, gD, k = 10, iters = 1, cells = 8)
      assert(rows(NnDescent.searchIndex(spark, g, queries, 5, 40, 3)) ==
        rows(NnDescent.searchIndex(spark, gD, queries, 5, 40, 3)))
    } finally { rm(ivf); rm(ivfD); rm(g); rm(gD) }
  }
}
