package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Materialize

/** Text-format corpus interchange — JSONL and CSV as first-class
  * sources/sinks next to the parquet paths.
  *
  * JSONL (one JSON object per line) is the lingua franca of training
  * corpora: raw crawl dumps, filtered shards, and eval sets all ship as
  * `*.jsonl.gz`, so an engine that can only scan parquet forces a
  * convert-everything-first pass. CSV is the tabular interchange twin
  * (event logs, metadata sidecars). Both readers take an EXPLICIT
  * schema — schema inference is a full extra pass over the data (and a
  * silently wrong one on string-looking numerics), never acceptable at
  * corpus scale — and run FAILFAST, so a corrupt line is a loud error at
  * the scan, not a null that surfaces three joins later.
  *
  * Scale notes (100 TB posture):
  *  - gzip is not splittable: a `.jsonl.gz` corpus parallelizes at FILE
  *    granularity, which is exactly how such corpora ship (hundreds of
  *    ~100 MB–1 GB shards). The writer emits one shard per task, so a
  *    well-partitioned frame writes a well-sharded corpus.
  *  - plain CSV/JSONL files ARE byte-range splittable; Spark assigns
  *    `maxPartitionBytes` splits within files, so a single huge
  *    uncompressed file still scans in parallel. Embedded newlines in
  *    values break line-splitting — the CSV writer quotes them, but a
  *    reader would then need `multiLine`, which reads a file per task;
  *    keep free-text columns in JSONL (where `\n` is escaped) and CSV
  *    for flat tabular data.
  *  - both contract queries are store-then-answer round-trips (the
  *    q_topk_range posture): write the fixture table out in the text
  *    format to a cluster-shared scratch dir, read it back with the
  *    explicit schema, and hash-compare EVERY field against the oracle
  *    reading the original parquet — fidelity of the full encode/decode
  *    cycle is the thing being verified, not the aggregate on top.
  */
object Formats {

  /** Explicit fixture schemas — the no-inference posture needs the
    * schema stated somewhere; for user corpora the caller supplies one.
    */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** One fixed microsecond-precision timestamp dialect on BOTH sides of
    * each format: Spark's write/read defaults differ in fractional
    * digits, and a format that truncates to millis would silently shift
    * every downstream window/as-of result by up to 999 µs.
    */
  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Null sentinel for CSV: the write default encodes null as an empty
    * field and the read default turns EVERY empty field back into null,
    * erasing the null-vs-empty-string distinction. An explicit sentinel
    * keeps both (empty strings travel as quoted `""`).
    *
    * Known limit, pinned in FormatsSpec: a string value LITERALLY equal
    * to the sentinel (`\N`, two characters) round-trips to null. No
    * sentinel escapes this — Spark's parser compares `nullValue`
    * against the UNQUOTED parsed value, so even a quoted occurrence
    * converts — it is CSV's gap, not a knob's. Columns that could
    * plausibly contain the sentinel (log-derived free text) belong in
    * JSONL, which encodes null structurally.
    */
  private val CsvNull = "\\N"

  // --------------------------------------------------------------- JSONL

  /** ONE owner of each dialect's reader options, applied to both the
    * batch and the streaming builders — "one dialect, two execution
    * modes" held by code, not by keeping two copy-pasted stacks in
    * sync (review finding: a tweak to one would silently fork how the
    * same shards parse in batch vs streamed).
    */
  private def jsonlReadOpts(opt: (String, String) => Any): Unit = {
    opt("mode", "FAILFAST")
    opt("timestampFormat", TsFmt)
  }

  private def csvReadOpts(opt: (String, String) => Any): Unit = {
    opt("mode", "FAILFAST")
    opt("header", "false")
    opt("nullValue", CsvNull)
    opt("timestampFormat", TsFmt)
  }

  def writeJsonl(df: DataFrame, path: String, codec: String = "gzip"): Unit =
    df.write.mode("overwrite")
      .option("compression", codec)
      // default drops null fields from the object — a reader with a
      // schema recovers them, but the corpus then lies about which
      // fields were present; write explicit nulls
      .option("ignoreNullFields", "false")
      .option("timestampFormat", TsFmt)
      .json(path)

  def readJsonl(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val r = spark.read.schema(schema)
    jsonlReadOpts((k, v) => r.option(k, v))
    r.json(path)
  }

  // ----------------------------------------------------------------- CSV

  def writeCsv(df: DataFrame, path: String, codec: String = "none"): Unit =
    df.write.mode("overwrite")
      .option("compression", codec)
      .option("header", "false")
      .option("nullValue", CsvNull)
      .option("timestampFormat", TsFmt)
      .csv(path)

  def readCsv(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val r = spark.read.schema(schema)
    csvReadOpts((k, v) => r.option(k, v))
    r.csv(path)
  }

  // ----------------------------------------------------------------- ORC

  /** ORC — the other columnar format at rest (Hive-lineage lakes ship
    * it; Spark's reader/writer are built in). Columnar formats carry
    * their schema, so unlike the text formats the explicit schema here
    * is a CONTRACT check (mismatch = loud analysis error), not an
    * inference-avoidance measure; pushdown/pruning work as with parquet
    * (ORC carries min/max/bloom indexes per stripe).
    */
  def writeOrc(df: DataFrame, path: String, codec: String = "zstd"): Unit =
    df.write.mode("overwrite").option("compression", codec).orc(path)

  def readOrc(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  // ------------------------------------------------- streaming sources

  /** Streaming twins of the batch readers — the corpus FRONT DOOR:
    * point one at a directory, drop shards in (stage elsewhere, then
    * rename/move into the watched dir — the atomic-drop convention;
    * a file is picked up whole, exactly once, tracked in the streaming
    * query's checkpoint), and every new shard flows through the query
    * as micro-batches. Feed the result straight into
    * [[graft.streaming.CurateIngest.run]] for drop-shards-in /
    * curated-parquet-out continuous curation (spec-pinned e2e in
    * FormatsSpec). Same explicit-schema FAILFAST dialect as the batch
    * readers — one dialect, two execution modes. `maxFilesPerTrigger`
    * bounds a micro-batch (0 = Spark's default, all available).
    */
  def readJsonlStream(spark: SparkSession, path: String,
      schema: StructType, maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream.schema(schema)
    jsonlReadOpts((k, v) => r.option(k, v))
    if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
    r.json(path)
  }

  def readCsvStream(spark: SparkSession, path: String,
      schema: StructType, maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream.schema(schema)
    csvReadOpts((k, v) => r.option(k, v))
    if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
    r.csv(path)
  }

  // ------------------------------------------------------ contract pins

  /** documents → gzipped JSONL shards → read back → full projection.
    * The oracle reads the original parquet, so a hash match proves the
    * entire JSON encode/decode cycle preserved every value of every row
    * (ids, free text with whatever bytes the generator put there, langs,
    * counts). Materialized (an eager cut) before the scratch shards
    * are deleted — the read is lazy and must not outlive its files.
    */
  def scanJsonl(spark: SparkSession, dir: String): DataFrame = {
    val tmp = EventOps.scratchDir(spark, "graft_jsonl")
    try {
      writeJsonl(Tables.t(spark, dir, "documents"), tmp)
      Materialize.cut(readJsonl(spark, tmp, documentsSchema))
        .orderBy(col("doc_id"))
    } finally EventOps.deleteRecursively(spark, tmp)
  }

  val scanJsonlSql: String =
    """SELECT doc_id, text, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** events → plain (splittable) CSV → read back → full projection with
    * the epoch-µs timestamp output convention ([[Det.tsOut]]). Proves
    * the CSV dialect round-trips quoted JSON-in-a-field strings,
    * microsecond timestamps, and doubles (Spark emits the shortest
    * round-trippable repr; the reader parses it back bit-exact).
    */
  def scanCsv(spark: SparkSession, dir: String): DataFrame =
    eventsRoundTrip(spark, dir, "graft_csv", writeCsv(_, _),
      readCsv(spark, _, eventsSchema))

  /** The shared events store-then-answer shape of the CSV and ORC
    * contract queries — one owner, so the two formats are compared
    * through literally the same projection and materialization. */
  private def eventsRoundTrip(spark: SparkSession, dir: String,
      prefix: String, write: (DataFrame, String) => Unit,
      read: String => DataFrame): DataFrame = {
    val tmp = EventOps.scratchDir(spark, prefix)
    try {
      write(Tables.t(spark, dir, "events"), tmp)
      Materialize.cut(read(tmp))
        .select(col("event_id"), Det.tsOut(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .orderBy(col("event_id"))
    } finally EventOps.deleteRecursively(spark, tmp)
  }

  val scanCsvSql: String =
    s"""SELECT event_id, ${Sql.tsOut("ts")} AS ts_us, user_id, event_type,
       |  value, props
       |FROM events ORDER BY event_id""".stripMargin

  /** events → zstd ORC → read back — parquet-to-ORC fidelity across the
    * full type surface (timestamps keep µs through ORC's own epoch
    * encoding; doubles and strings are binary-faithful by construction
    * in a columnar format, which is the point of contrast with the two
    * text dialects above).
    */
  def scanOrc(spark: SparkSession, dir: String): DataFrame =
    eventsRoundTrip(spark, dir, "graft_orc", writeOrc(_, _),
      readOrc(spark, _, eventsSchema))

  /** The STREAMING file source, oracle-verified: shard the documents
    * table out as JSONL, run a real `readStream` → AvailableNow →
    * memory-sink job over the shard directory, and hash-compare what
    * the stream delivered against DuckDB on the original parquet. The
    * q_stream_* family pins streaming OPERATORS via batch twins; this
    * pins the streaming SOURCE itself — every row, every field, through
    * the actual micro-batch machinery (checkpoint, file tracking,
    * exactly-once listing).
    */
  def scanJsonlStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = EventOps.scratchDir(spark, "graft_jsonl_stream")
    val view = "graft_scan_jsonl_stream"
    try {
      writeJsonl(Tables.t(spark, dir, "documents"), s"$tmp/shards")
      spark.catalog.dropTempView(view)
      val q = readJsonlStream(spark, s"$tmp/shards", documentsSchema)
        .writeStream.format("memory").queryName(view)
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val r = Materialize.cut(spark.table(view))
      spark.catalog.dropTempView(view)
      r.orderBy(col("doc_id"))
    } finally EventOps.deleteRecursively(spark, tmp)
  }

  val all: Seq[ContractQuery] = Seq(
    ContractQuery("q_scan_jsonl", scanJsonl, Some(scanJsonlSql)),
    ContractQuery("q_scan_jsonl_stream", scanJsonlStream, Some(scanJsonlSql)),
    ContractQuery("q_scan_csv", scanCsv, Some(scanCsvSql)),
    ContractQuery("q_scan_orc", scanOrc, Some(scanCsvSql)))
}
