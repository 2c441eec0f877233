package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench artifact's adjudication math (r17 verdict task 1):
  * `normalized` must be computed from the per-query stamp median so a
  * contended run can never out-rank a better window — the one-shot
  * `calibration_s` probe ranked r17's own two runs OPPOSITELY (the
  * worse 146.6 s close run read 36.2, beating the better 119.1 s
  * window's 54.3, because a transient stall inflated its calibration
  * to 4.05 s and over-corrected the whole run).
  */
class BenchSpec extends AnyFunSuite {
  private val Floor = 38.96 // BASELINE.md r13 all-time clean stamp (ms)

  test("stampNormalized orders r17's two real runs correctly where the " +
      "calibration form ranked them oppositely") {
    // committed best window: 119.10 s at stamp 52.8 ms, calibration 2.195
    val best = Bench.stampNormalized(119.10, 52.8, Floor)
    // driver close run (worse): 146.6 s at stamp 63.3 ms, calibration 4.05
    val close = Bench.stampNormalized(146.6, 63.3, Floor)
    assert(best < close,
      s"best window must out-rank the contended close run: $best vs $close")
    // the committed window's stamp-normalized total is the BASELINE.md
    // hand adjudication (~87.9 s) — pin it so the formula can't drift
    assert(math.abs(best - 119.10 * Floor / 52.8) < 1e-9)
    assert(best > 87.0 && best < 89.0)
    // the old calibration form is exactly what mis-ranked them
    val oldBest = 119.10 / 2.195
    val oldClose = 146.6 / 4.05
    assert(oldClose < oldBest, "regression guard: the documented failure " +
      "mode (contended run reading better) must stay reproduced by the " +
      "old formula, else this spec's premise is stale")
  }

  test("stampNormalized guards zero/negative inputs") {
    assert(Bench.stampNormalized(100.0, 0.0, Floor) == 0.0)
    assert(Bench.stampNormalized(100.0, 50.0, 0.0) == 0.0)
  }

  test("medianOf: odd, even, empty") {
    assert(Bench.medianOf(Array(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.medianOf(Array(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Bench.medianOf(Array.empty[Double]) == 0.0)
  }

  test("tailRoster (r19): fixed 51-name set = the committed BENCH_r18 " +
      "final-line keys, every name a registry query, no duplicates") {
    // the roster exists so consecutive rounds' compact tail lines carry
    // the IDENTICAL key set — a run-dependent "slowest that fit"
    // selection made the driver's per-query diff manufacture 13 phantom
    // dropped + 10 phantom new statuses in PERF_r18 (r18 verdict item 3)
    assert(Bench.tailRoster.size == 51)
    assert(Bench.tailRoster.distinct.size == Bench.tailRoster.size)
    val registry = SparkEntry.queries.map(_._1).toSet
    val missing = Bench.tailRoster.filterNot(registry)
    assert(missing.isEmpty,
      s"roster names absent from the query registry: $missing")
  }

  test("tailLine carries every roster row, slowest first, inside the " +
      "2000-char tail window even at 8-character values and any failures") {
    // the r19 line dropped q_agg_distinct: its budget loop over-counted
    // each row by one char and cut a row from a line that fit. Worst
    // case here: every value ≥ 1000 s, 161 rows, the 10 warm rows; with
    // no failure, round 9's 26 failed queries, and every row failed
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size == 161)
    val rows = names.zipWithIndex.map { case (n, i) => n -> (1000.0 + i) }
    val warm = Seq("text_jaccard_pairs", "text_cluster_labels",
      "text_curate_reasons", "vec_pairs_cosine", "vec_pairs_cosine_lsh",
      "vec_pairs_minhash", "vec_graph", "vec_corpus_count",
      "doc_corpus_count", "doc_dup_stats").map(_ -> 9999.999)
    val everyRow = names ++ warm.map("warm:" + _._1)
    for (failed <- Seq(Nil, names.take(26), everyRow)) {
      val run = Bench.Run("/root/testdata/sf0.1", 1000.0, Floor, warm, rows,
        rows.map { case (n, _) => n -> 1000.0 }, failed)
      val tail = Bench.tailLine(run)
      val keys = "\"(q_[a-z0-9_]+)\":".r.findAllMatchIn(tail).map(_.group(1)).toSeq
      assert(keys.toSet == Bench.tailRoster.toSet, tail)
      assert(keys.size == Bench.tailRoster.size, "each roster row exactly once")
      assert(keys == Bench.tailRoster.sortBy(n => -rows.toMap.apply(n)),
        "rows must be slowest first")
      // the ~2000-char window minus sbt's ~80-char trailer
      assert(tail.length <= 1900,
        s"tail line is ${tail.length} chars with ${failed.size} failed")
      assert(tail.contains(s"\"n_failed\":${failed.size},"))
      assert(!tail.contains("cal_ms") && !tail.contains("\"failed\":"),
        "per-row stamps and failed names ride the full line only")
      val full = Bench.fullLine(run)
      assert(names.forall(n => full.contains("\"" + n + "\":")))
      assert(full.contains("\"cal_ms\":{"))
      assert(full.contains(s"\"n_failed\":${failed.size},\"failed\":[" +
        failed.sorted.map("\"" + _ + "\"").mkString(",") + "]"))
    }
  }
}
