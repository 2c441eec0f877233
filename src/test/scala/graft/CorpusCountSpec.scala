package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CorpusCount, SessionMemo}

/** Pins the derived-knob corpus-count memo (r17 verdict task 5): the
  * banding/cell derivations need ONE number per immutable corpus, and
  * used to pay a full `count()` job on every operator invocation.
  */
class CorpusCountSpec extends AnyFunSuite with SparkSessionFixture {

  private def builds = SessionMemo.builds("corpus_count")
  private def dupBuilds = SessionMemo.builds("corpus_dup_stats")
  private def size = SessionMemo.sizes(spark)("corpus_count")

  test("two calls over one corpus pay exactly one count job; a distinct " +
      "corpus pays its own") {
    SessionMemo.purge(_ => false)
    val emb = graft.queries.Tables.t(spark, Sf0001, "embeddings")
    val b0 = builds
    val h0 = SessionMemo.hits("corpus_count")
    val n1 = CorpusCount.of(emb)
    val n2 = CorpusCount.of(emb)
    assert(n1 == n2 && n1 > 0)
    assert(builds == b0 + 1 && SessionMemo.hits("corpus_count") == h0 + 1,
      "second call over the same frame must be a memo hit")
    assert(size == 1)
    // a semantically different frame is a different corpus: own entry
    val half = emb.filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 0)
    val nh = CorpusCount.of(half)
    assert(nh < n1 && builds == b0 + 2 && size == 2)
    // ...but an equal-plan reconstruction of it hits
    val half2 = emb.filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 0)
    assert(CorpusCount.of(half2) == nh && builds == b0 + 2)
  }

  test("dupStats memoizes one aggregate job per (corpus, column) and the " +
      "simhash collapse switch brackets on it") {
    SessionMemo.purge(_ => false)
    val docs = graft.queries.Tables.t(spark, Sf0001, "documents")
    val sigs = graft.queries.VectorOps.simhashSignatures(docs)
    val b0 = dupBuilds
    val (rows, distinct) = CorpusCount.dupStats(sigs, "simhash")
    assert(rows > 0 && distinct > 0 && distinct <= rows)
    assert(CorpusCount.dupStats(sigs, "simhash") == (rows, distinct))
    assert(dupBuilds == b0 + 1,
      "second call over the same (frame, column) must be a memo hit")
    // the fixture is dup-light: the contract row keeps the per-member
    // plan (ratio < CollapseMinDupRatio) — its shape is unchanged by r19
    assert(rows < graft.queries.VectorOps.CollapseMinDupRatio * distinct,
      s"fixture must sit on the per-member side (rows=$rows distinct=$distinct)")
    // a fully-duplicated corpus crosses the switch
    val dup = docs.select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .unionByName(docs.select(
        (org.apache.spark.sql.functions.col("doc_id") + 1000000L).as("doc_id"),
        org.apache.spark.sql.functions.col("text")))
    val (r2, d2) = CorpusCount.dupStats(
      graft.queries.VectorOps.simhashSignatures(dup), "simhash")
    assert(r2 >= graft.queries.VectorOps.CollapseMinDupRatio * d2,
      s"duplicated corpus must collapse (rows=$r2 distinct=$d2)")
  }

  test("q_knn_lsh's derived banding rides the memo: repeated contract " +
      "construction adds no count job after the corpus is counted") {
    SessionMemo.purge(_ => false)
    CorpusCount.of(graft.queries.Tables.t(spark, Sf0001, "embeddings"))
    val b0 = builds
    graft.queries.VectorOps.knnLsh(spark, Sf0001)
    graft.queries.VectorOps.knnLsh(spark, Sf0001)
    assert(builds == b0,
      "derived-banding construction must reuse the session corpus count")
  }
}
