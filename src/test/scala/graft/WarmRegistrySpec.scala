package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pin of the bench warm-row registry (r16 verdict task 5):
  * [[graft.Bench]] prices every session-memo family cache build in its
  * own named warm row so per-query bench rows measure only their own
  * compose + execution — but "a new memo family must register in
  * warmFamilies" was convention only, and ONE forgotten registration
  * silently re-opens the registration-order adjudication tax (the r15
  * q_curate_semantic 8.25 s mystery). This spec makes the convention
  * red:
  *
  *   1. every registered warm row builds exactly one memo entry
  *      (a registered family that builds nothing is a dead row), and
  *   2. constructing EVERY contract query after the warm pass adds NO
  *      memo entry — i.e. the registry covers every family any contract
  *      query can build. Memo builds are eager at query-construction
  *      time ([[graft.queries.VectorOps]] memoPairs /
  *      [[graft.queries.TextOps]] label-family memos localCheckpoint
  *      inside the build), so construction alone exercises them.
  *
  * A new memoized family used by a contract query fails check 2 until
  * its warmFamilies row exists; registering it then keeps check 1
  * honest about the build actually running. Fixture-table loads
  * ([[graft.queries.Tables]]) are memo entries too, but not session
  * builds any warm row prices, so the accounting leaves them out.
  */
class WarmRegistrySpec extends AnyFunSuite with SparkSessionFixture {

  private def cacheEntries: Int =
    graft.operators.SessionMemo.sizes(spark).removed("tables").values.sum

  test("warmFamilies prices every memo family any contract query " +
      "builds, and every registered row builds one") {
    // flush every memo so the accounting below starts from zero
    graft.operators.SessionMemo.purge(_ => false)
    assert(cacheEntries == 0, "purge must empty every memo family")
    val warm = graft.queries.TextOps.warmFamilies(spark, Sf0001) ++
      graft.queries.VectorOps.warmFamilies(spark, Sf0001)
    warm.foreach { case (_, thunk) => thunk() }
    assert(cacheEntries == warm.size,
      s"each of the ${warm.size} registered warm rows must build exactly " +
        s"one memo entry, got $cacheEntries — a row that builds nothing " +
        "is dead; one that builds two is two families under one price")
    // constructing every contract query must not create a memo entry
    // the warm pass did not already price
    SparkEntry.queries.foreach { case (_, fn) => fn(spark, Sf0001) }
    assert(cacheEntries == warm.size,
      "a contract query built a session-memo entry the warm registry " +
        "does not price — register the family in warmFamilies so bench " +
        "rows keep measuring only their own work")
  }
}
