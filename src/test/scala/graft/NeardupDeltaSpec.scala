package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.IndexStore
import graft.queries.{Tables, VectorOps}

/** Incremental near-dup (ingest batch vs corpus) and its persisted-index
  * form: the delta must equal the full symmetric run restricted to pairs
  * touching the batch — no rescan of the corpus, same answer.
  */
class NeardupDeltaSpec extends AnyFunSuite with SparkSessionFixture {

  // unordered-pair canonicalization: cross pairs orient (new, corpus),
  // the symmetric form orients (min, max)
  private def canon(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      (math.min(a, b), math.max(a, b), r.getDouble(2))
    }.toSet

  test("delta == full symmetric pairs restricted to the batch (exact law)") {
    val docs = Tables.t(spark, Sf0001, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val full = VectorOps.minhashPairsOn(docs)
      .filter(col("d1") >= 400 || col("d2") >= 400)
    val delta = VectorOps.neardupDelta(batch, corpus)
    assert(canon(delta) == canon(full))
    assert(canon(delta).nonEmpty,
      "fixture split must leave at least one pair touching the batch")
  }

  test("planted ingest: cross-corpus dup, within-batch dup found; clean doc silent") {
    import spark.implicits._
    val corpusText = Tables.t(spark, Sf0001, "documents")
      .filter(col("doc_id") === 0).select(col("text")).head.getString(0)
    val nearCopy = corpusText + " tail"
    val batch = Seq(
      (10000L, nearCopy),                        // near-dup of corpus doc 0
      (10001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (10002L, "alpha beta gamma delta epsilon zeta eta theta iota kappa x"),
      (10003L, "completely unrelated words nothing shared with anything here")
    ).toDF("doc_id", "text")
    val corpus = Tables.t(spark, Sf0001, "documents").select(col("doc_id"), col("text"))
    val got = canon(VectorOps.neardupDelta(batch, corpus))
    assert(got.exists(p => p._1 == 0L && p._2 == 10000L),
      s"cross-corpus near-dup not found in $got")
    assert(got.exists(p => p._1 == 10001L && p._2 == 10002L),
      s"within-batch near-dup not found in $got")
    assert(!got.exists(p => p._1 == 10003L || p._2 == 10003L),
      "clean doc must produce no pair")
  }

  test("persisted index probe == in-memory delta") {
    import spark.implicits._
    val docs = Tables.t(spark, Sf0001, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val path = java.nio.file.Files.createTempDirectory("nd_index").toString
    VectorOps.writeNeardupIndex(corpus, path)
    val indexed = VectorOps.neardupDeltaIndexed(spark, path, batch)
    assert(canon(indexed) == canon(VectorOps.neardupDelta(batch, corpus)))
  }

  test("streaming ingest dedup: cross-batch dups dropped via the growing index") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val indexPath = java.nio.file.Files.createTempDirectory("ingest_idx").toString
    val outPath = java.nio.file.Files.createTempDirectory("ingest_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_ckpt").toString
    // fresh corpus: empty index
    VectorOps.writeNeardupIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), indexPath)

    val a = "one two three four five six seven eight nine ten eleven twelve"
    val b = "red orange yellow green blue indigo violet cyan magenta black white gray"
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.streaming.IngestDedup.run(
      input.toDF().toDF("doc_id", "text"), indexPath, outPath, ckpt)
    try {
      // batch 1: A and B distinct; C a near-copy of A (within-batch dup)
      input.addData(Seq((1L, a), (2L, b), (3L, a + " tail")))
      q.processAllAvailable()
      // batch 2: D a near-copy of B (caught ONLY via the index), E clean
      input.addData(Seq(
        (4L, b + " extra"),
        (5L, "totally different words sharing nothing with previous documents at all")))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.read.parquet(outPath)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 5L), s"expected survivors {1,2,5}, got $out")
    // the index holds exactly the admitted corpus
    val indexed = spark.read.parquet(s"$indexPath/sets")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(indexed == Set(1L, 2L, 5L))
  }

  test("ingest replay is idempotent: previously admitted docs stay admitted") {
    import spark.implicits._
    val indexPath = java.nio.file.Files.createTempDirectory("replay_idx").toString
    val outPath = java.nio.file.Files.createTempDirectory("replay_out").toString
    VectorOps.writeNeardupIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), indexPath)
    val a = "one two three four five six seven eight nine ten eleven twelve"
    val batch = Seq((1L, a), (2L, "unrelated words entirely different content here okay"),
      (3L, a + " tail")).toDF("doc_id", "text")
    def outIds = spark.read.parquet(s"$outPath/batch=0")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    graft.streaming.IngestDedup.processBatch(batch, 0L, indexPath, outPath, 0.5)
    assert(outIds == Set(1L, 2L))
    val setsRowsBefore = spark.read.parquet(s"$indexPath/sets").count()
    // foreachBatch is at-least-once: the same batch replays against an
    // index that ALREADY contains its survivors — doc 1 must not be lost
    // to a cross pair (3, 1) misclassified as within-batch
    graft.streaming.IngestDedup.processBatch(batch, 0L, indexPath, outPath, 0.5)
    assert(outIds == Set(1L, 2L))
    // …and the index increment was OVERWRITTEN, not duplicated
    assert(spark.read.parquet(s"$indexPath/sets").count() == setsRowsBefore)
  }

  test("ingest pair log: derived cluster labels; replayed batch leaves the log unchanged") {
    import spark.implicits._
    val indexPath = java.nio.file.Files.createTempDirectory("plog_idx").toString
    val outPath = java.nio.file.Files.createTempDirectory("plog_out").toString
    val logPath = java.nio.file.Files.createTempDirectory("plog_log").toString
    VectorOps.writeNeardupIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), indexPath)
    val a = "one two three four five six seven eight nine ten eleven twelve"
    val b0 = Seq((1L, a),
      (2L, "unrelated words entirely different content here okay"),
      (3L, a + " tail")).toDF("doc_id", "text")
    graft.streaming.IngestDedup.processBatch(
      b0, 0L, indexPath, outPath, 0.5, Some(logPath))
    // batch 1: another near-copy of a — a cross pair found via the index
    val b1 = Seq((4L, a + " coda")).toDF("doc_id", "text")
    graft.streaming.IngestDedup.processBatch(
      b1, 1L, indexPath, outPath, 0.5, Some(logPath))
    // labels derived from the log: {1,3,4} collapse to rep 1; the clean
    // doc 2 appears in no pair and so in no label row
    val m = graft.streaming.IngestDedup.clusterLabelsFromLog(spark, logPath)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 3L -> 1L, 4L -> 1L),
      s"derived labels wrong: $m")
    // at-least-once replay: the batch's log dir is overwritten with the
    // same canonical rows, never appended or reoriented
    def logRows = spark.read.parquet(logPath)
      .collect().map(_.toString).sorted.toSeq
    val before = logRows
    graft.streaming.IngestDedup.processBatch(
      b1, 1L, indexPath, outPath, 0.5, Some(logPath))
    assert(logRows == before, "replay must leave the pair log unchanged")
    // the hard replay case: batch 0's drop was a WITHIN pair (1,3) — on
    // replay doc 3 ALSO matches doc 1's now-indexed copy as a cross
    // pair; canonicalization must collapse both to the same logged edge
    graft.streaming.IngestDedup.processBatch(
      b0, 0L, indexPath, outPath, 0.5, Some(logPath))
    assert(logRows == before,
      "within-pair batch replay must leave the canonical pair log unchanged")
  }

  test("vector ingest loop: cross-batch semantic dups dropped via the cosine index") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def unit(i: Int): Array[Float] = Array.tabulate(64)(j => if (j == i) 1f else 0f)
    def near(i: Int, j: Int): Array[Float] =
      Array.tabulate(64)(k => (if (k == i) 1f else 0f) + (if (k == j) 0.1f else 0f))
    val indexPath = java.nio.file.Files.createTempDirectory("ving_idx").toString
    val outPath = java.nio.file.Files.createTempDirectory("ving_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ving_ckpt").toString
    VectorOps.writeCosineIndex(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"), indexPath)

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.IngestDedup.runVectors(
      input.toDF().toDF("vec_id", "embedding"), indexPath, outPath, ckpt,
      threshold = 0.8)
    try {
      // batch 1: two orthogonal vectors + a near-copy of the first
      input.addData(Seq((1L, unit(0)), (2L, unit(2)), (3L, near(0, 1))))
      q.processAllAvailable()
      // batch 2: a near-copy of vec 2 (caught ONLY via the index) + clean
      input.addData(Seq((4L, near(2, 3)), (5L, unit(5))))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.read.parquet(outPath)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 5L), s"expected survivors {1,2,5}, got $out")
    val indexed = spark.read.parquet(s"$indexPath/vectors")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(indexed == Set(1L, 2L, 5L))
  }

  test("index compaction folds batch= increments into one partition; " +
      "probes unchanged; recompaction heals replay duplicates") {
    val docs = Tables.t(spark, Sf0001, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") < 300)
    val inc = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val path = java.nio.file.Files.createTempDirectory("compact_idx").toString
    VectorOps.writeNeardupIndex(corpus, path)
    VectorOps.appendNeardupIndex(inc, path, "1")
    val before = canon(VectorOps.neardupDeltaIndexed(spark, path, batch))
    val rowsBefore = spark.read.parquet(s"$path/sets").count()
    VectorOps.compactNeardupIndex(spark, path, numFiles = 2)
    def batchDirs(c: String) = new java.io.File(s"$path/$c").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(batchDirs("sets") == Set("batch=init") &&
      batchDirs("bands") == Set("batch=init"))
    assert(spark.read.parquet(s"$path/sets").count() == rowsBefore)
    assert(canon(VectorOps.neardupDeltaIndexed(spark, path, batch)) == before)
    // the one window per-batch overwrite can't cover: a replay re-creates
    // an increment AFTER compaction folded its rows into init. Duplicate
    // index rows must not change any probe answer, and the next
    // compaction's DISTINCT restores nominal populations.
    VectorOps.appendNeardupIndex(inc, path, "1")
    assert(spark.read.parquet(s"$path/sets").count() == rowsBefore + inc.count())
    assert(canon(VectorOps.neardupDeltaIndexed(spark, path, batch)) == before,
      "duplicated index rows changed probe results")
    VectorOps.compactNeardupIndex(spark, path, numFiles = 2)
    assert(spark.read.parquet(s"$path/sets").count() == rowsBefore)
    assert(canon(VectorOps.neardupDeltaIndexed(spark, path, batch)) == before)
  }

  test("ingest loop with compactEvery: same survivors, index ends compacted") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val indexPath = java.nio.file.Files.createTempDirectory("cmp_idx").toString
    val outPath = java.nio.file.Files.createTempDirectory("cmp_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cmp_ckpt").toString
    VectorOps.writeNeardupIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), indexPath)
    val a = "one two three four five six seven eight nine ten eleven twelve"
    val b = "red orange yellow green blue indigo violet cyan magenta black white gray"
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.streaming.IngestDedup.run(
      input.toDF().toDF("doc_id", "text"), indexPath, outPath, ckpt,
      compactEvery = 1)
    try {
      input.addData(Seq((1L, a), (2L, b), (3L, a + " tail")))
      q.processAllAvailable()
      // batch 2's dup of b is caught via the COMPACTED index
      input.addData(Seq((4L, b + " extra"), (5L, "nothing shared with any earlier document at all here")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outPath)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 5L), s"expected survivors {1,2,5}, got $out")
    val dirs = new java.io.File(s"$indexPath/sets").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("batch=init"), s"index not compacted: $dirs")
    assert(spark.read.parquet(s"$indexPath/sets")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet == Set(1L, 2L, 5L))
  }

  test("append guards: reserved/unsafe tags rejected; a flat pre-batch-layout " +
      "index is migrated in place by the first append") {
    val docs = Tables.t(spark, Sf0001, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") < 300)
    val inc = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    // 'init' names the corpus component; a path char would nest dirs —
    // both must fail loudly instead of silently clobbering the index
    val guarded = java.nio.file.Files.createTempDirectory("tag_idx").toString
    VectorOps.writeNeardupIndex(corpus, guarded)
    intercept[IllegalArgumentException](
      VectorOps.appendNeardupIndex(inc, guarded, "init"))
    intercept[IllegalArgumentException](
      VectorOps.appendNeardupIndex(inc, guarded, "a/b"))
    // reference: normal layout, normal append
    VectorOps.appendNeardupIndex(inc, guarded, "1")
    val want = canon(VectorOps.neardupDeltaIndexed(spark, guarded, batch))
    // old build's FLAT layout: part files directly under bands/ and sets/
    // (simulated by lifting batch=init's files to the component root) —
    // an un-migrated append would create the conflicting-structures mix
    val flat = java.nio.file.Files.createTempDirectory("flat_idx").toString
    VectorOps.writeNeardupIndex(corpus, flat)
    Seq("bands", "sets").foreach { c =>
      val root = new java.io.File(s"$flat/$c")
      val init = new java.io.File(root, "batch=init")
      init.listFiles().foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(root, f.getName).toPath)
      }
      assert(init.delete())
    }
    VectorOps.appendNeardupIndex(inc, flat, "1")
    assert(canon(VectorOps.neardupDeltaIndexed(spark, flat, batch)) == want)
    // the migration happened structurally: no data files left at the root
    // (only marker/checksum files, which partition discovery ignores)
    assert(new java.io.File(s"$flat/sets").listFiles().filter(_.isFile)
      .forall(f => f.getName.startsWith("_") || f.getName.startsWith(".")))
  }

  test("ingest batches keep their full schema: metadata columns survive " +
      "to the output") {
    import spark.implicits._
    val indexPath = java.nio.file.Files.createTempDirectory("meta_idx").toString
    val outPath = java.nio.file.Files.createTempDirectory("meta_out").toString
    VectorOps.writeNeardupIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), indexPath)
    val a = "one two three four five six seven eight nine ten eleven twelve"
    val batch = Seq((1L, a, "web"), (2L, a + " tail", "books"))
      .toDF("doc_id", "text", "source")
    graft.streaming.IngestDedup.processBatch(batch, 0L, indexPath, outPath, 0.5)
    val out = spark.read.parquet(s"$outPath/batch=0")
    assert(out.columns.toSet == Set("doc_id", "text", "source"))
    // 2 dropped as the within-batch dup; 1 keeps its metadata
    assert(out.select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((1L, "web")))
  }

  test("ingest loop self-repairs a crash between compaction delete and rename") {
    import spark.implicits._
    val indexPath = java.nio.file.Files.createTempDirectory("crash_idx").toString
    val outPath = java.nio.file.Files.createTempDirectory("crash_out").toString
    VectorOps.writeNeardupIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), indexPath)
    val a = "one two three four five six seven eight nine ten eleven twelve"
    val b0 = Seq((1L, a), (2L, "unrelated words entirely different content here okay"))
      .toDF("doc_id", "text")
    graft.streaming.IngestDedup.processBatch(b0, 0L, indexPath, outPath, 0.5)
    // crash window: component deleted, finished .compacting twin present
    Seq("bands", "sets").foreach { c =>
      assert(new java.io.File(s"$indexPath/$c")
        .renameTo(new java.io.File(s"$indexPath/$c.compacting")))
    }
    // the NEXT batch must self-repair before probing, not die on a
    // missing directory
    val b1 = Seq((3L, a + " tail"), (4L, "fresh clean content with no overlap at all here"))
      .toDF("doc_id", "text")
    graft.streaming.IngestDedup.processBatch(b1, 1L, indexPath, outPath, 0.5)
    val out = spark.read.parquet(outPath)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // 3 is a near-dup of already-indexed 1 — only caught if the repaired
    // index was actually probed
    assert(out == Set(1L, 2L, 4L), s"expected survivors {1,2,4}, got $out")
    assert(!new java.io.File(s"$indexPath/bands.compacting").exists())
  }

  test("cosine index compaction preserves probe results") {
    val vecs = Tables.t(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val corpus = vecs.filter(col("vec_id") < 100)
    val inc = vecs.filter(col("vec_id") >= 100 && col("vec_id") < 150)
    val batch = vecs.filter(col("vec_id") >= 150)
    val path = java.nio.file.Files.createTempDirectory("cmp_cos_idx").toString
    VectorOps.writeCosineIndex(corpus, path)
    VectorOps.appendCosineIndex(inc, path, "1")
    val before = canon(VectorOps.cosineDeltaIndexed(spark, path, batch, threshold = 0.35))
    VectorOps.compactCosineIndex(spark, path)
    assert(canon(VectorOps.cosineDeltaIndexed(spark, path, batch, threshold = 0.35)) == before)
    val dirs = new java.io.File(s"$path/vectors").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("batch=init"))
  }

  // ------------------------------------------ embedding-space (cosine) twin

  test("cosineDelta == full LSH pairs restricted to the batch; index probe equal") {
    val vecs = Tables.t(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val corpus = vecs.filter(col("vec_id") < 150)
    val batch = vecs.filter(col("vec_id") >= 150)
    val n2 = org.apache.spark.sql.graft.VectorExpressions
      .dotProduct(col("embedding"), col("embedding"))
    val full = VectorOps.neardupCosineLshAt(
      vecs.withColumn("n2", n2), threshold = 0.35, numPlanes = 16, bands = 8)
      .filter(col("v1") >= 150 || col("v2") >= 150)
    val delta = VectorOps.cosineDelta(batch, corpus, threshold = 0.35)
    assert(canon(delta) == canon(full))
    assert(canon(delta).nonEmpty)
    val path = java.nio.file.Files.createTempDirectory("cos_index").toString
    VectorOps.writeCosineIndex(corpus, path)
    val indexed = VectorOps.cosineDeltaIndexed(spark, path, batch, threshold = 0.35)
    assert(canon(indexed) == canon(delta))
  }

  test("segment dedup delta: id-ordered batches == global dedup; replay idempotent") {
    import graft.queries.TextOps
    val docs = Tables.t(spark, Sf0001, "documents")
    val cut = 250L
    val batch1 = docs.filter(col("doc_id") < cut)
    val batch2 = docs.filter(col("doc_id") >= cut)
    val path = java.nio.file.Files.createTempDirectory("seg_index").toString
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

    // batch 1 against an empty index is pure within-batch dedup
    val out1 = TextOps.segmentDedupDelta(spark, path, batch1, width = 8, tag = "b1")
    assert(rows(out1) == rows(TextOps.dedupSegmentsAt(batch1, 8)))

    // batch 2 sees batch 1's seen-set: with id-ordered arrival this IS
    // the global first-occurrence dedup restricted to batch 2's docs
    val out2 = TextOps.segmentDedupDelta(spark, path, batch2, width = 8, tag = "b2")
    val globalTail = TextOps.dedupSegments(spark, Sf0001)
      .filter(col("doc_id") >= cut)
    assert(rows(out2) == rows(globalTail))
    assert(out2.filter(col("n_kept") < col("n_seg")).count() > 0,
      "cross-batch duplicates must exist on the fixture corpus")

    // at-least-once replay of a tag: same output, index unchanged
    val seenBefore = spark.read.parquet(s"$path/seen").count()
    val replay = TextOps.segmentDedupDelta(spark, path, batch2, width = 8, tag = "b2")
    assert(rows(replay) == rows(out2))
    assert(spark.read.parquet(s"$path/seen").count() == seenBefore)

    // compaction folds increments, preserving the seen-set
    TextOps.compactSegmentIndex(spark, path)
    assert(spark.read.parquet(s"$path/seen").count() == seenBefore)
    val out3 = TextOps.segmentDedupDelta(spark, path,
      batch2.withColumn("doc_id", col("doc_id") + 10000L), width = 8, tag = "b3")
    assert(out3.agg(sum(col("n_kept"))).head.getLong(0) == 0L,
      "every batch-2 segment is already in the compacted seen-set")

    // compaction CLOSES the replay window for the tags it folded: a
    // replay of b2 can no longer be excluded from the seen-set (its
    // hashes live in batch=init now), so it must fail fast instead of
    // silently emitting an output different from its first run
    val closed = intercept[IllegalArgumentException] {
      TextOps.segmentDedupDelta(spark, path, batch2, width = 8, tag = "b2")
    }
    assert(closed.getMessage.contains("replay window is closed"))
    // ...while the still-live post-compaction tag b3 replays exactly
    val replay3 = TextOps.segmentDedupDelta(spark, path,
      batch2.withColumn("doc_id", col("doc_id") + 10000L), width = 8, tag = "b3")
    assert(rows(replay3) == rows(out3))
    // and a second compaction carries b2's closure forward alongside b3's
    TextOps.compactSegmentIndex(spark, path)
    assert(IndexStore.compactedTags(spark, path, "seen") == Set("b2", "b3", "b1"))

    // crashed-swap recovery must PRESERVE the closed-window record: after
    // a crash between delete and rename only the finished .compacting
    // twin exists (sidecar inside it) — a re-run of compaction has to
    // finish the swap before reading tags, or it would fold an empty
    // list and reopen every closed window
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(s"$path/seen"), new Path(s"$path/seen.compacting")))
    TextOps.compactSegmentIndex(spark, path)
    assert(IndexStore.compactedTags(spark, path, "seen") == Set("b1", "b2", "b3"),
      "recovery erased the compacted-tag record")
    intercept[IllegalArgumentException] {
      TextOps.segmentDedupDelta(spark, path, batch2, width = 8, tag = "b2")
    }
  }

  test("segment dedup delta: all-digit tags keep string partition semantics") {
    import graft.queries.TextOps
    val docs = Tables.t(spark, Sf0001, "documents").limit(50)
    val path = java.nio.file.Files.createTempDirectory("seg_idx_num").toString
    // ingest under tag '01': with partition-type INFERENCE the all-digit
    // population would read back as int 1, and tag '01' could never match
    // its own partition again
    val out01 = TextOps.segmentDedupDelta(spark, path, docs, width = 8, tag = "01")
    val replay01 = TextOps.segmentDedupDelta(spark, path, docs, width = 8, tag = "01")
    assert(replay01.collect().toSeq.map(_.toString) ==
      out01.collect().toSeq.map(_.toString),
      "replay of tag '01' must exclude exactly its own partition")
    // the distinct numeric tag '1' must NOT be conflated with '01': it
    // sees 01's hashes as prior state, so nothing in it is novel
    val out1 = TextOps.segmentDedupDelta(spark, path, docs, width = 8, tag = "1")
    assert(out1.agg(sum(col("n_kept"))).head.getLong(0) == 0L,
      "tag '1' must see tag '01' as prior seen-state, not as itself")
  }

  test("index rebuild-in-place drops stale batch= increments (all writers)") {
    import graft.operators.{Ivf, Pq}
    val docs = Tables.t(spark, Sf0001, "documents")
    val init = docs.filter(col("doc_id") < 150)
    val extra = docs.filter(col("doc_id") >= 150 && col("doc_id") < 200)

    // minhash dedup index
    val nd = java.nio.file.Files.createTempDirectory("rb_nd").toString
    VectorOps.writeNeardupIndex(init, nd)
    val ndInit = spark.read.parquet(s"$nd/sets").count()
    VectorOps.appendNeardupIndex(extra, nd, "g1")
    assert(spark.read.parquet(s"$nd/sets").count() > ndInit)
    VectorOps.writeNeardupIndex(init, nd)
    assert(spark.read.parquet(s"$nd/sets").count() == ndInit,
      "stale neardup increment survived the rebuild")

    // cosine index
    val vecs = Tables.t(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val vInit = vecs.filter(col("vec_id") < 150)
    val vExtra = vecs.filter(col("vec_id") >= 150 && col("vec_id") < 200)
    val cs = java.nio.file.Files.createTempDirectory("rb_cs").toString
    VectorOps.writeCosineIndex(vInit, cs)
    val csInit = spark.read.parquet(s"$cs/vectors").count()
    VectorOps.appendCosineIndex(vExtra, cs, "g1")
    assert(spark.read.parquet(s"$cs/vectors").count() > csInit)
    VectorOps.writeCosineIndex(vInit, cs)
    assert(spark.read.parquet(s"$cs/vectors").count() == csInit,
      "stale cosine increment survived the rebuild")

    // IVF index: duplicate vec_ids from a stale increment would occupy
    // two top-k slots in rankProbed (no per-vec dedup there by design)
    val n2 = org.apache.spark.sql.graft.VectorExpressions
      .dotProduct(col("embedding"), col("embedding"))
    val base = vecs.withColumn("n2", n2)
    val bInit = base.filter(col("vec_id") < 150)
    val bExtra = base.filter(col("vec_id") >= 150 && col("vec_id") < 200)
    val iv = java.nio.file.Files.createTempDirectory("rb_iv").toString
    val cents = Ivf.seedCentroids(bInit, 16)
    Ivf.writeIndex(bInit, cents, iv)
    Ivf.appendIndex(spark, bExtra, iv, "g1")
    Ivf.writeIndex(bInit, cents, iv)
    assert(spark.read.parquet(s"$iv/cells").count() == 150,
      "stale IVF increment survived the rebuild")
  }

  test("streaming segment ingest: cross-batch paragraph dedup, replay survives the compaction cadence") {
    import graft.queries.TextOps
    import graft.streaming.SegmentIngest
    val docs = Tables.t(spark, Sf0001, "documents")
    val idx = java.nio.file.Files.createTempDirectory("segingest_idx").toString
    val out = java.nio.file.Files.createTempDirectory("segingest_out").toString
    val b = (i: Int) => docs.filter(col("doc_id") >= i * 100 && col("doc_id") < (i + 1) * 100)
    def rows(p: String) = spark.read.parquet(p).collect().map(_.toString).toSeq.sorted

    // id-ordered batches reproduce the global dedup restricted per batch
    // (the segmentDedupDelta law, now through the streaming entry point)
    SegmentIngest.processBatch(b(0), 0L, idx, out, width = 8)
    SegmentIngest.processBatch(b(1), 1L, idx, out, width = 8)
    val global = TextOps.dedupSegmentsAt(docs.filter(col("doc_id") < 200), 8)
    assert(rows(s"$out/batch=b1") ==
      global.filter(col("doc_id") >= 100).collect().map(_.toString).toSeq.sorted)
    assert(spark.read.parquet(s"$out/batch=b1")
      .filter(col("n_kept") < col("n_seg")).count() > 0,
      "cross-batch duplicate segments must exist on the fixture")

    // compaction cadence at batch 2 start folds b0/b1, then processes
    SegmentIngest.processBatch(b(2), 2L, idx, out, width = 8, compactEvery = 2)
    assert(IndexStore.compactedTags(spark, idx, "seen") == Set("b0", "b1"))
    val out2 = rows(s"$out/batch=b2")

    // at-least-once replay of batch 2 (crash after append, before the
    // checkpoint commit): the cadence hits again but must SKIP — its own
    // increment exists — so the replay reproduces the first run instead
    // of dying on its own closed window
    SegmentIngest.processBatch(b(2), 2L, idx, out, width = 8, compactEvery = 2)
    assert(rows(s"$out/batch=b2") == out2, "replay must be byte-equivalent")
    assert(IndexStore.compactedTags(spark, idx, "seen") == Set("b0", "b1"),
      "the skipped cadence must not fold the in-flight tag")

    // the deferred fold lands at the next cadence hit
    SegmentIngest.processBatch(b(3), 3L, idx, out, width = 8, compactEvery = 2)
    SegmentIngest.processBatch(b(4), 4L, idx, out, width = 8, compactEvery = 2)
    assert(IndexStore.compactedTags(spark, idx, "seen") == Set("b0", "b1", "b2", "b3"))
  }

  test("streaming segment ingest via run(): foreachBatch wiring end-to-end") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("segrun_idx").toString
    val out = java.nio.file.Files.createTempDirectory("segrun_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("segrun_ckpt").toString
    val a = "one two three four five six seven eight nine ten eleven twelve"
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.streaming.SegmentIngest.run(
      input.toDF().toDF("doc_id", "text"), idx, out, ckpt, width = 4)
    try {
      input.addData(Seq((1L, a)))
      q.processAllAvailable()
      // batch 1 repeats doc 1's text: every width-4 segment already seen
      input.addData(Seq((2L, a), (3L, "totally fresh words nothing shared")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$out/batch=b1").collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got(2L) == 0L, "full repeat must keep no segments")
    assert(got(3L) > 0L, "fresh doc must keep its segments")
  }

  test("exact dedup delta: id-ordered batches == global dedupExact; normalize collapses variants") {
    import graft.queries.TextOps
    val docs = Tables.t(spark, Sf0001, "documents")
    val cut = 250L
    val path = java.nio.file.Files.createTempDirectory("dig_idx").toString
    val out1 = TextOps.exactDedupDelta(spark, path,
      docs.filter(col("doc_id") < cut), "b1")
    val out2 = TextOps.exactDedupDelta(spark, path,
      docs.filter(col("doc_id") >= cut), "b2")
    // union of per-batch survivors == the global min-doc-per-digest
    // keepers, when batches arrive in id order — the digest sibling of
    // the segment-delta law
    val streamed = (out1.select(col("doc_id")).collect() ++
      out2.select(col("doc_id")).collect()).map(_.getLong(0)).toSet
    val globalKeepers = TextOps.dedupExact(spark, Sf0001).collect()
      .map(_.getLong(1)).toSet
    assert(streamed == globalKeepers)
    // cross-batch exact copy (planted — sf0.001 has no whole-doc dupes)
    val dupBatch = docs.filter(col("doc_id") === 0)
      .withColumn("doc_id", col("doc_id") + 10000L)
    assert(TextOps.exactDedupDelta(spark, path, dupBatch, "b3").count() == 0,
      "a cross-batch exact copy must be dropped via the digest index")
    // replay of b2 reproduces; index unchanged
    val seenBefore = spark.read.parquet(s"$path/seen").count()
    val replay = TextOps.exactDedupDelta(spark, path,
      docs.filter(col("doc_id") >= cut), "b2")
    assert(replay.select(col("doc_id")).collect().map(_.getLong(0)).toSet ==
      out2.select(col("doc_id")).collect().map(_.getLong(0)).toSet)
    assert(spark.read.parquet(s"$path/seen").count() == seenBefore)

    // normalize = true: case/punct variants of an admitted doc collapse
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val varied = Seq((1L, base), (2L, base.toUpperCase), (3L, base + "!"),
      (4L, "totally different content here with nothing shared at all"))
      .toDF("doc_id", "text")
    val rawP = java.nio.file.Files.createTempDirectory("dig_raw").toString
    val nrmP = java.nio.file.Files.createTempDirectory("dig_nrm").toString
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids(TextOps.exactDedupDelta(spark, rawP, varied, "t")) ==
      Set(1L, 2L, 3L, 4L), "raw hashing keeps all variants")
    assert(ids(TextOps.exactDedupDelta(spark, nrmP, varied, "t",
      normalize = true)) == Set(1L, 4L),
      "normalized hashing collapses case/punct variants to the first")
  }

  test("a crashed rebuild fails closed: the _building sentinel refuses " +
      "probes, appends, compaction and recovery until a rebuild finishes") {
    import spark.implicits._
    val docs = Tables.t(spark, Sf0001, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 50)
    val ndPath = java.nio.file.Files.createTempDirectory("bld_nd").toString
    VectorOps.writeNeardupIndex(docs, ndPath)
    // a completed build leaves no sentinel — normal operation unaffected
    assert(!new java.io.File(s"$ndPath/_building").exists())
    VectorOps.neardupDeltaIndexed(spark, ndPath,
      Seq((9999L, "anything at all")).toDF("doc_id", "text")).count()
    // simulate a crash mid-rebuild: sentinel present, components gone —
    // the window writeNeardupIndex opens between reset and write
    assert(new java.io.File(s"$ndPath/_building").createNewFile())
    val batch = Seq((9999L, "anything at all")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      VectorOps.neardupDeltaIndexed(spark, ndPath, batch).count()
    }
    intercept[IllegalArgumentException] {
      VectorOps.appendNeardupIndex(batch, ndPath, "t")
    }
    intercept[IllegalArgumentException] {
      VectorOps.compactNeardupIndex(spark, ndPath)
    }
    intercept[IllegalArgumentException] {
      VectorOps.recoverNeardupIndex(spark, ndPath)
    }
    // a completed rebuild clears the sentinel and reopens the index
    VectorOps.writeNeardupIndex(docs, ndPath)
    assert(!new java.io.File(s"$ndPath/_building").exists())
    VectorOps.neardupDeltaIndexed(spark, ndPath, batch).count()

    // cosine twin: same lifecycle
    val vecs = Tables.t(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 50)
    val cosPath = java.nio.file.Files.createTempDirectory("bld_cos").toString
    VectorOps.writeCosineIndex(vecs, cosPath)
    assert(!new java.io.File(s"$cosPath/_building").exists())
    assert(new java.io.File(s"$cosPath/_building").createNewFile())
    val vbatch = vecs.filter(col("vec_id") === 0)
    intercept[IllegalArgumentException] {
      VectorOps.cosineDeltaIndexed(spark, cosPath, vbatch, 0.35).count()
    }
    intercept[IllegalArgumentException] {
      VectorOps.appendCosineIndex(vbatch, cosPath, "t")
    }
    VectorOps.writeCosineIndex(vecs, cosPath)
    VectorOps.cosineDeltaIndexed(spark, cosPath, vbatch, 0.35).count()
  }

  test("seen-set indexes record their hashing knobs: a drifted segment " +
      "width or normalize flag is refused, not silently probed") {
    import spark.implicits._
    import graft.queries.TextOps
    val a = (0 until 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, a)).toDF("doc_id", "text")
    val segP = java.nio.file.Files.createTempDirectory("segp").toString
    TextOps.segmentDedupDelta(spark, segP, docs, 8, "t0").count()
    TextOps.segmentDedupDelta(spark, segP,
      Seq((2L, a + " tail")).toDF("doc_id", "text"), 8, "t1").count()
    intercept[IllegalArgumentException] {
      TextOps.segmentDedupDelta(spark, segP,
        Seq((3L, a)).toDF("doc_id", "text"), 12, "t2")
    }
    // a PRE-SIDECAR index (data present, no _params) must skip the
    // check, not enshrine the next caller's possibly-drifted params as
    // the index identity and then refuse the historically-correct ones
    assert(new java.io.File(s"$segP/_params").delete())
    TextOps.segmentDedupDelta(spark, segP,
      Seq((4L, a)).toDF("doc_id", "text"), 12, "t3").count()
    assert(!new java.io.File(s"$segP/_params").exists(),
      "legacy index must stay unrecorded — recording width=12 here " +
        "would poison later width-8 calls")

    val exP = java.nio.file.Files.createTempDirectory("exp").toString
    TextOps.exactDedupDelta(spark, exP, docs, "t0", normalize = true).count()
    TextOps.exactDedupDelta(spark, exP,
      Seq((2L, "other words here entirely")).toDF("doc_id", "text"),
      "t1", normalize = true).count()
    intercept[IllegalArgumentException] {
      TextOps.exactDedupDelta(spark, exP, docs, "t2", normalize = false)
    }
  }

  test("a crashed FIRST delta (_params recorded, no data landed) does " +
      "not pin its knobs: the next call is first contact again") {
    import spark.implicits._
    import graft.queries.TextOps
    val a = (0 until 40).map(i => s"w$i").mkString(" ")
    // simulate the crash window: the sidecar landed, seen/ never did.
    // Nothing is hashed under width=8, so there is nothing the guard
    // can protect — refusing width=12 forever would be pure damage
    val p = java.nio.file.Files.createTempDirectory("segcrash").toString
    IndexStore.writeSidecar(spark, s"$p/_params", "width=8")
    val out = TextOps.segmentDedupDelta(spark, p,
      Seq((1L, a)).toDF("doc_id", "text"), 12, "t0")
    assert(out.count() == 1)
    // the successful first contact re-recorded ITS knobs: they are now
    // the index identity, and the old crashed call's width is refused
    intercept[IllegalArgumentException] {
      TextOps.segmentDedupDelta(spark, p,
        Seq((2L, a)).toDF("doc_id", "text"), 8, "t1")
    }
  }

  test("partial cosine bootstrap re-runs: the sidecar lands first, the " +
      "existence-probe component lands last") {
    val vecs = Tables.t(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 50)
    val path = java.nio.file.Files.createTempDirectory("lsh_boot").toString
    VectorOps.bootstrapCosineIndex(vecs, path, numPlanes = 16, bands = 8,
      seed = 42L)
    assert(new java.io.File(s"$path/_lsh_params").exists())
    // simulate a crash before the LAST write (vectors/): the component
    // CurateIngest's first-contact probe keys on is absent, so the next
    // batch re-runs the bootstrap — and because the sidecar lands FIRST,
    // no interleaving can leave a probe-able index without _lsh_params
    // (which would silently disable the knob-drift guard)
    def deleteDir(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteDir)); f.delete()
    }
    deleteDir(new java.io.File(s"$path/vectors"))
    assert(!new java.io.File(s"$path/vectors").exists())
    assert(new java.io.File(s"$path/_lsh_params").exists(),
      "the sidecar must survive any crash that leaves the probe false")
    VectorOps.bootstrapCosineIndex(vecs, path, numPlanes = 16, bands = 8,
      seed = 42L)
    assert(new java.io.File(s"$path/vectors").exists())
    // the completed index enforces the recorded knobs
    intercept[IllegalArgumentException] {
      VectorOps.cosineDeltaIndexed(spark, path,
        vecs.filter(col("vec_id") === 0), 0.35, seed = 7L).count()
    }
  }

  test("cosine index records its LSH knobs: probing or appending with " +
      "mismatched planes/bands/seed fails loudly instead of silently " +
      "finding nothing") {
    val vecs = Tables.t(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 100)
    val path = java.nio.file.Files.createTempDirectory("lsh_params").toString
    VectorOps.writeCosineIndex(vecs, path, numPlanes = 16, bands = 8,
      seed = 42L)
    val batch = vecs.filter(col("vec_id") === 0)
    // matching knobs (the defaults) pass
    VectorOps.cosineDeltaIndexed(spark, path, batch, 0.35).count()
    VectorOps.appendCosineIndex(
      batch.select((col("vec_id") + 5000L).as("vec_id"), col("embedding")),
      path, "ok")
    // a drifted seed — signatures that can never collide — is refused
    intercept[IllegalArgumentException] {
      VectorOps.cosineDeltaIndexed(spark, path, batch, 0.35, seed = 7L)
        .count()
    }
    intercept[IllegalArgumentException] {
      VectorOps.appendCosineIndex(batch, path, "bad", bands = 4)
    }
    // a rebuild with new knobs re-records them; the new knobs now pass
    VectorOps.writeCosineIndex(vecs, path, numPlanes = 32, bands = 16,
      seed = 7L)
    VectorOps.cosineDeltaIndexed(spark, path, batch, 0.35, numPlanes = 32,
      bands = 16, seed = 7L).count()
    intercept[IllegalArgumentException] {
      VectorOps.cosineDeltaIndexed(spark, path, batch, 0.35).count()
    }
  }
}
