package graft
object Bench {
  /** Median of the per-query host-speed stamps (ms). Pure so BenchSpec
    * can pin the adjudication math without running a bench.
    */
  def medianOf(vs: Array[Double]): Double = {
    val s = vs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Stamp-normalized total (seconds at the clean-floor host speed):
    * `total × floor/stampMedian` — the adjudication BASELINE.md's stamp
    * ladder does by hand. This is the artifact's `normalized` field as
    * of r18 and takes PRECEDENCE over `calibration_s` for cross-window
    * comparison: the one-shot calibration probe samples host speed at
    * ONE instant and a transient stall there over-corrects the whole
    * run (r17: the WORSE 146.6 s close run read normalized 36.2,
    * out-ranking the better window's 54.3 and masquerading as an
    * all-time record). The stamp median samples host speed next to
    * EVERY row, so a contended run normalizes against its own
    * contention and can never out-rank a cleaner window of the same
    * engine. `calibration_s` stays in the artifact as a secondary
    * datum (start-of-run host state).
    */
  def stampNormalized(total: Double, stampMedianMs: Double,
      floorMs: Double): Double =
    if (stampMedianMs > 0.0 && floorMs > 0.0) total * floorMs / stampMedianMs
    else 0.0

  /** The per-query entries of the FINAL compact stdout line (r19).
    *
    * Through r18 the final line carried "the slowest queries that fit
    * the 1700-char budget" — but which queries make that cut changes
    * run-to-run with host noise, so the driver's round-over-round
    * per-query diff (which parses only the tail line) manufactured
    * phantom `dropped_from_bench`/`new_in_bench` statuses: PERF_r18
    * reported 13 "dropped" + 10 "new" queries when all 161 ran in both
    * rounds (r18 verdict, "What's wrong" item 3). The fix is a FIXED
    * roster: exactly the 51 query names that appear in the committed
    * BENCH_r18.json final line, so consecutive rounds' tail lines carry
    * the identical key set and the driver's diff is phantom-free. The
    * full 161-query map still rides the first stdout line and
    * BENCH_DETAIL.json (committed at close) — nothing is lost, only the
    * compact line's SELECTION is pinned. Roster names are a subset of
    * the registry (BenchSpec pins this), and the registry itself never
    * drops or renames entries (the driver contract).
    */
  val tailRoster: Seq[String] = Seq(
    "q_dup_spans", "q_topk_range", "q_sql_subqueries", "q_pack_chunks",
    "q_curate_segments", "q_retention", "q_sample_diverse", "q_domain_mix",
    "q_agg_minmax_by", "q_vec_centroid_assign", "q_curate_containment",
    "q_sql_q3", "q_search_hybrid", "q_knn_pq", "q_scan_jsonl_stream",
    "q_neardup_containment", "q_source_overlap", "q_curate_semantic",
    "q_dedup_asof", "q_dedup_simhash", "q_knn_lsh", "q_bm25",
    "q_agg_distinct", "q_agg_bitagg", "q_knn_collapse", "q_dedup_normalized",
    "q_sql_recursive", "q_knn_graph", "q_domain_resample", "q_join_smj",
    "q_agg_cube", "q_topk_merge", "q_scan_orc", "q_quality_gopher",
    "q_distinct_days", "q_knn_ivf", "q_scan_csv", "q_tfidf", "q_vec_drift",
    "q_stream_session", "q_text_langid", "q_join_asof", "q_join_full",
    "q_events_attribution", "q_topk_group", "q_quality_logprob",
    "q_agg_listagg", "q_events_funnel", "q_events_anomaly",
    "q_decontaminate_semantic", "q_join_inner")

  /** One bench run: everything its two output lines carry. */
  case class Run(sfDir: String, calibrationS: Double, floorMs: Double,
      warm: Seq[(String, Double)], rows: Seq[(String, Double)],
      calMs: Seq[(String, Double)], failed: Seq[String]) {
    // value = warm builds + per-query times: totals stay comparable with
    // pre-warm rounds, where the builds hid inside their first consumer
    def total: Double = warm.map(_._2).sum + rows.map(_._2).sum
    def stampMedianMs: Double = medianOf(calMs.map(_._2).toArray)
  }

  private def f(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
  private def obj(kvs: Iterable[(String, Double)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")

  private def line(run: Run, rows: Iterable[(String, Double)],
      full: Boolean): String = {
    val median = run.stampMedianMs
    // Window self-labeling (r16 verdict task 1): the committed r16 close
    // artifact was a worst-window 566.8 s run that read as a 4.4×
    // regression to anyone not cross-reading BASELINE.md's stamp log.
    // Carry the adjudication IN the artifact: the median per-query stamp
    // vs the clean floor classifies the window, so a contaminated run
    // can never masquerade as the engine's number.
    val windowQuality =
      if (median <= 0.0) "unknown"
      else if (median <= run.floorMs * 1.25) "clean"     // ≤ ~48.7 ms
      else if (median <= run.floorMs * 2.0) "contended"  // ≤ ~77.9 ms
      else "degraded"
    // any failure is carried in-band, so a broken query can never
    // masquerade as a fast success in BENCH_r*.json: the count in BOTH
    // lines, the "failed" name array in the full line only (171 names
    // would push the tail line's `{"metric"` prefix out of the window)
    val failJson = s""","n_failed":${run.failed.size}""" + (if (full)
      s""","failed":${run.failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")}""" else "")
    // the per-row probe stamps ride the full line only
    val calJson = if (full) ""","cal_ms":""" + obj(run.calMs) else ""
    // the per-family warm rows (tiny, fixed count) ride in BOTH lines:
    // build-vs-query split is the adjudication signal
    val warmJson = s""","warm_s":${f(run.warm.map(_._2).sum)},"warm":${obj(run.warm)}"""
    // normalized = stamp-floor-equivalent total (seconds) — see
    // [[stampNormalized]] for why the per-query stamp median, not the
    // one-shot calibration probe, is the adjudicator (r17 verdict
    // task 1: the calibration form let a contended run out-rank a
    // better window). UNIT CHANGE vs pre-r18 artifacts: old
    // normalized was total/calibration_s (dimensionless, ~35-55);
    // new is seconds at the clean-floor host speed (~88 for r17's
    // best window). Cross-round trend reads must not mix the two.
    val norm = stampNormalized(run.total, median, run.floorMs)
    s"""{"metric":"total","value":${f(run.total)},"unit":"sec","n":${run.rows.size},"calibration_s":${f(run.calibrationS)},"normalized":${f(norm)},"stamp_median_ms":${f(median)},"window_quality":"$windowQuality"$failJson$warmJson,"queries":${obj(rows)}$calJson,"sf":"${run.sfDir}"}"""
  }

  /** The full line (first stdout line and BENCH_DETAIL.json): every row,
    * plus the failed names and the per-row probe stamps, which would blow
    * the tail line's size and which stall adjudication reads from the
    * artifact anyway.
    */
  def fullLine(run: Run): String = line(run, run.rows, full = true)

  /** The final compact stdout line: every [[tailRoster]] row that ran,
    * slowest first. The bench harness keeps only the LAST ~2000 chars of
    * run output and parses the JSON line out of that tail (rounds 4–5: a full
    * per-query map pushed the `{"metric"` prefix out of the window →
    * `parsed: null`), so this line must stay inside the window after
    * sbt's ~80-char `[success] Total time ...` trailer. The roster is
    * fixed (see its doc), so its size is bounded without a budget cut;
    * BenchSpec pins the worst case.
    */
  def tailLine(run: Run): String = {
    val roster = tailRoster.toSet
    line(run, run.rows.filter(kv => roster(kv._1)).sortBy(-_._2), full = false)
  }

  /** Usage: `Bench [q1,q2,...]`. With no argument every registered query
    * runs and the full line is also written to BENCH_DETAIL.json. The
    * optional comma-separated subset (Verify's 3rd arg) runs only those
    * rows, with the same warm rows, calibration and stamps as a full run
    * so each row means the same as its full-run row; it leaves
    * BENCH_DETAIL.json alone. Fixture dir: SPARK_GRAFT_SF_DIR (default
    * sf0.1); cores: SPARK_GRAFT_CPUS (default 32).
    */
  def main(args: Array[String]): Unit = {
    val only: Option[Set[String]] = args.headOption.map(_.split(",").toSet)
    val unknown = only.fold(Set.empty[String])(_ -- SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] unknown queries: ${unknown.toSeq.sorted.mkString(",")}" +
        " (names are SparkEntry.queries keys)")
      sys.exit(2)
    }
    val sfDir = Session.sfDir()
    val spark = Session.getOrCreate(Some(Session.cpus))
    // Warm the session (scheduler, codegen, shuffle machinery) so the
    // first timed query doesn't absorb one-time boot cost.
    spark.range(1000).selectExpr("sum(id)").collect()
    // Host-speed calibration probe: a fixed synthetic workload (hash +
    // shuffle + sort over 20M longs) whose cost depends only on the
    // machine, never on engine code or fixtures. Rounds 7-9 each burned
    // an adjudication on "regression or host drift?" (BASELINE.md's
    // commit A/B re-benched an identical commit 27% slower day-over-day);
    // carrying the probe in-band lets any future A/B normalize:
    // total/calibration is comparable across windows, total alone is not.
    val cal0 = System.nanoTime()
    spark.range(20000000L)
      .selectExpr("xxhash64(id) % 1024 as k", "id")
      .groupBy("k").count().orderBy("k").collect()
    val calibration = (System.nanoTime() - cal0) / 1e9
    // Per-query micro-calibration: the start-of-run probe adjudicates a
    // WHOLE run, but a roving host stall (r11: ~10 rows inflated 5-15×
    // in the driver capture while start-time calibration read clean)
    // contaminates specific rows. A ~50 ms probe after each query — the
    // same host-only kernel at 1/32 scale — stamps every row with the
    // host speed IT ran next to: a stalled row carries its own elevated
    // cal_ms in the driver's artifact, so adjudication needs no
    // out-of-band rerun. Probe time is outside the query timing and the
    // total (both measure engine work only).
    // single-partition, shuffle-free kernel: one task of pure hashing.
    // The first probe shape (32-task shuffle at 1/32 scale) measured
    // mostly job-submission overhead (~320 ms median at 32 cores vs the
    // ~50 ms its compute share predicts) — scheduler noise, which hides
    // exactly the per-row host stalls the stamp exists to expose.
    def microCal(): Double = {
      val t0 = System.nanoTime()
      // bit_xor, not sum: summing 5M hashes overflows Long under ANSI
      spark.range(0L, 5000000L, 1L, 1)
        .selectExpr("bit_xor(xxhash64(id)) as s").collect()
      (System.nanoTime() - t0) / 1e6
    }
    microCal() // warm the probe's own codegen before the first stamp
    // Family-cache warm-up rows: the session memo builds (verified pair
    // frames, cluster labels, curate reasons, the contract graph) are
    // ONE-TIME costs that otherwise land on whichever contract row the
    // registry's iteration order runs first — adding a key re-shuffles
    // that order and per-row trends break (the r15 q_curate_semantic
    // 8.25 s mystery was exactly this). Price each build in its own
    // named row; "value" still includes them so totals stay comparable
    // with pre-warm rounds, and the per-query rows now measure only
    // their own compose + execution.
    val warm = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    (graft.queries.TextOps.warmFamilies(spark, sfDir) ++
        graft.queries.VectorOps.warmFamilies(spark, sfDir)).foreach {
      case (name, thunk) =>
        val w0 = System.nanoTime()
        // a failed warm build must be loud IN THE JSON like a failed
        // query (the round-9 rule): its row would otherwise read as a
        // successful build price while the first consumer silently
        // re-pays the memo — corrupting exactly the per-row trend the
        // warm rows exist to protect
        // a failed build records 0.0, not its partial elapsed: `value`
        // must only ever price SUCCESSFUL builds (the first consumer
        // re-pays the memo, so counting the partial build would both
        // double-count and skew cross-round totals); the warm:<name>
        // entry in `failed` carries the loud signal
        try {
          thunk()
          warm += name -> ((System.nanoTime() - w0) / 1e9)
        } catch { case t: Throwable =>
          System.err.println(s"[bench] warm $name FAILED: ${t.getMessage}")
          failed += s"warm:$name"
          warm += name -> 0.0
        }
    }
    val calMs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val results = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val t0 = System.nanoTime()
        // a failed query must be LOUD *inside the JSON*, not a
        // suspiciously-fast row distinguishable only on stderr (round 9:
        // 26 fixture-broken queries looked like 0.07 s successes in
        // BENCH_r09.json). Record the name for the "failed" field and keep
        // the timing row so the queries map stays complete.
        try { fn(spark, sfDir).count() } catch {
          case t: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${t.getClass.getName}: ${t.getMessage}")
            failed += name
        }
        val sec = (System.nanoTime() - t0) / 1e9
        calMs += name -> microCal()
        name -> sec
      }
    // the clean floor is HOST-SPECIFIC (this machine's r13 best stamp,
    // BASELINE.md); on different hardware override via
    // GRAFT_STAMP_FLOOR_MS so clean windows can still self-identify
    val floorMs = sys.env.get("GRAFT_STAMP_FLOOR_MS")
      .flatMap(v => scala.util.Try(v.toDouble).toOption)
      .getOrElse(38.96)
    val run = Run(sfDir, calibration, floorMs, warm.toSeq, results.toSeq,
      calMs.toSeq, failed.toSeq)
    val full = fullLine(run)
    println(full)
    if (only.isEmpty) try {
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
        (full + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // detail file is best-effort
    println(tailLine(run))
    spark.stop()
  }
}
