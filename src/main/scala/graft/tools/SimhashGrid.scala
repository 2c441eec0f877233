package graft.tools
import org.apache.spark.sql.functions._
import graft.operators.Materialize

/** Measured banding grid for the SimHash near-dup gate (r17 verdict
  * task 3 — the LshGrid discipline applied to q_dedup_simhash).
  *
  * Separates the two recall-loss sources of `exact_j05_recall`:
  *   1. the HAMMING GATE's own ceiling — exact J ≥ 0.5 pairs whose
  *      simhash distance exceeds maxHamming (no banding can see them);
  *   2. BANDING misses — pairs at hamming ≤ maxHamming whose bands all
  *      differ (the 4×16 exact-band trade).
  * Pigeonhole facts the grid validates empirically: 8×8 exact bands
  * cover every pair at d ≤ 7 (some band has 0 diffs when d < bands);
  * 4×16 with 1-bit flip probes covers d ≤ 7 too (every band ≥ 2 diffs
  * needs d ≥ 8). Either closes source 2 entirely; the remaining
  * deficit IS the gate ceiling.
  */
object SimhashGrid {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.getOrCreate(Some(graft.Session.cpus))
    // SIMHASH_SCALE=1 (r18 second pass): above-fixture corpora via
    // jittered replication (each replica gets a distinct suffix token,
    // so clones are near- but not exactly-identical) to locate the
    // COST crossover between the two exhaustive configs — 8×8's
    // candidate volume grows ~n²/64 (256 bucket values per band),
    // 4×16+probe's ~n²/32768 + 68n probe rows. The recall columns are
    // meaningless at these corpora (no exact-Jaccard truth computed);
    // the wall and pair-parity columns are the measurement.
    val scale = sys.env.contains("SIMHASH_SCALE")
    // SIMHASH_DUP (r18): EXACT-duplicate replication — every replica
    // keeps the original text byte-for-byte (distinct doc_ids), so
    // simhashes are identical and ×N-member identical-hash clusters
    // form. The A/B arm measures the identical-hash collapse
    // (BandedHamming.pairs vs pairsReference) in its design regime:
    // the per-member form pays k²·bands joined rows per cluster and the
    // distinct collapses each output pair ~bands times; the collapsed
    // form candidates over distinct hashes and expands members once.
    if (sys.env.contains("SIMHASH_DUP")) {
      val xNs = sys.env("SIMHASH_DUP") match {
        case "1" | "" => Seq(4, 12, 24)
        case s => s.split(",").toSeq.map(_.trim.toInt)
      }
      for (xN <- xNs) {
        val d = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
          .select(col("doc_id"), col("text"))
        val corpus = (0 until xN).map(i => d.select(
            (col("doc_id") * xN + i).as("doc_id"), col("text")))
          .reduce(_ unionByName _)
        val sigs = Materialize.cut(
          graft.queries.VectorOps.simhashSignatures(corpus))
        val n = sigs.count()
        val (bands, probe) =
          graft.operators.BandedHamming.simhashBanding(n)
        def run(f: => org.apache.spark.sql.DataFrame): (Long, Double) = {
          val t0 = System.nanoTime()
          val c = f.count()
          (c, (System.nanoTime() - t0) / 1e9)
        }
        // alternate collapsed/reference so neither owns warm-up
        val (c1, s1) = run(graft.operators.BandedHamming.pairs(
          sigs, "doc_id", "simhash", bands = bands, multiProbe = probe))
        val (r1, t1) = run(graft.operators.BandedHamming.pairsReference(
          sigs, "doc_id", "simhash", bands = bands, multiProbe = probe))
        val (r2, t2) = run(graft.operators.BandedHamming.pairsReference(
          sigs, "doc_id", "simhash", bands = bands, multiProbe = probe))
        val (c2, s2) = run(graft.operators.BandedHamming.pairs(
          sigs, "doc_id", "simhash", bands = bands, multiProbe = probe))
        assert(c1 == r1 && r1 == r2 && c1 == c2,
          s"collapse disagrees at x$xN: $c1 $r1 $r2 $c2")
        println(f"== dup x$xN n=$n bands=$bands probe=$probe pairs=$c1 " +
          f"collapsed=[$s1%.2f,$s2%.2f]s reference=[$t1%.2f,$t2%.2f]s")
      }
      spark.stop(); return
    }
    val corpora: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
      if (!scale) Seq("sf0.001", "sf0.01", "sf0.1").map(sf =>
        sf -> (() => graft.queries.Tables.t(spark, s"/root/testdata/$sf",
          "documents")))
      else Seq(4, 12, 24).map(xN => s"sf0.1x$xN" -> (() => {
        val d = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
          .select(col("doc_id"), col("text"))
        // default jitter (one appended token) rarely flips a simhash bit
        // — replicas form identical-hash clusters, which the r18 collapse
        // absorbs. SIMHASH_JITTER=heavy appends ~80 doc-unique tokens so
        // every replica's hash is DISTINCT: the regime that measures the
        // two configs' candidate-volume walls themselves (the banding
        // switch point), with nothing for the collapse to collapse.
        val heavy = sys.env.get("SIMHASH_JITTER").contains("heavy")
        (0 until xN).map(i => d.select(
            (col("doc_id") * xN + i).as("doc_id"),
            (if (!heavy) concat(col("text"), lit(s" rep$i"))
             else expr(s"""concat(text, ' ', array_join(transform(
                 sequence(1, 80),
                 j -> concat('u', doc_id, 'r$i', '_', j)), ' '))"""))
              .as("text")))
          .reduce(_ unionByName _)
      }))
    if (scale) {
      for ((label, mk) <- corpora) {
        val sigs = Materialize.cut(
          graft.queries.VectorOps.simhashSignatures(mk()))
        val n = sigs.count()
        def run(tag: String, bands: Int, probe: Boolean): (Long, Double) = {
          val t0 = System.nanoTime()
          val c = graft.operators.BandedHamming
            .pairs(sigs, "doc_id", "simhash", bands = bands, maxHamming = 6,
              multiProbe = probe).count()
          (c, (System.nanoTime() - t0) / 1e9)
        }
        // alternate order so JIT/caching lands on neither config
        val (c8a, s8a) = run("8x8", 8, probe = false)
        val (c4a, s4a) = run("4x16p", 4, probe = true)
        val (c4b, s4b) = run("4x16p", 4, probe = true)
        val (c8b, s8b) = run("8x8", 8, probe = false)
        assert(c8a == c4a && c4a == c4b && c8a == c8b,
          s"exhaustive configs disagree at $label: $c8a $c4a $c4b $c8b")
        println(f"== $label n=$n pairs=$c8a 8x8=[$s8a%.2f,$s8b%.2f]s " +
          f"4x16p=[$s4a%.2f,$s4b%.2f]s")
      }
      spark.stop(); return
    }
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      val docs = graft.queries.Tables.t(spark, dir, "documents")
      val sigs = Materialize.cut(
        graft.queries.VectorOps.simhashSignatures(docs))
      val exactJ = graft.queries.TextOps.neardupJaccard(spark, dir)
        .select(col("d1"), col("d2")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // hamming distance of every exact pair: the gate's own ceiling
      val ham = sigs.as("a").join(sigs.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          expr("bit_count(a.simhash ^ b.simhash)").as("d"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
        .toMap
      val exactHam = exactJ.toSeq.map(p => ham(p))
      val gateCeil = exactHam.count(_ <= 6)
      // every pair the d ≤ 6 gate accepts, J-similar or not — candidate
      // exhaustiveness is measured against THIS set
      val allGate = ham.collect { case (p, d) if d <= 6 => p }.toSet
      println(s"== $sf n=${sigs.count()} exactJ=${exactJ.size} " +
        s"gate(d<=6)=$gateCeil ceil_recall=" +
        f"${gateCeil.toDouble / exactJ.size}%.4f all_gate=${allGate.size} " +
        s"hamming_hist=${exactHam.groupBy(identity).view.mapValues(_.size)
          .toSeq.sortBy(_._1).mkString(",")}")
      for ((label, bands, probe) <- Seq(
          ("4x16_exact", 4, false), ("8x8_exact", 8, false),
          ("4x16_probe", 4, true), ("8x8_probe", 8, true))) {
        val t0 = System.nanoTime()
        val got = graft.operators.BandedHamming
          .pairs(sigs, "doc_id", "simhash", bands = bands, maxHamming = 6,
            multiProbe = probe)
          .select(col("id1"), col("id2")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val sec = (System.nanoTime() - t0) / 1e9
        val hitJ = (got & exactJ).size
        println(f"   $label%-12s pairs=${got.size}%6d j05_recall=" +
          f"${hitJ.toDouble / exactJ.size}%.4f gate_recall=" +
          f"${(got & allGate).size.toDouble / allGate.size}%.4f " +
          f"sec=$sec%.2f")
      }
    }
    spark.stop()
  }
}
