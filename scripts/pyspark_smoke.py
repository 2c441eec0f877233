#!/usr/bin/env python3
"""PySpark bridge smoke (r13 verdict task 7): drive the JVM engine from
Python through graft.PyBridge — the py4j-clean facade.

Run:  sbt compile && python3 scripts/pyspark_smoke.py [sfDir]

Requires a pyspark whose version matches the engine's Spark (4.1.2 here;
`pip show pyspark`). The engine classes ride in on
spark.driver.extraClassPath — no jar build needed, the sbt class
directory is enough for local mode. On a cluster, package the classes
(`sbt package`) and ship the jar via --jars instead.
"""
import os
import sys

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
# the classes of the checkout this script sits in (scripts/ → repo root)
CLASSES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "target", "scala-2.13", "classes")

from pyspark.sql import SparkSession, DataFrame

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.driver.extraClassPath", CLASSES)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

bridge = spark._jvm.graft.PyBridge
failures = []


def check(name, ok, detail=""):
    print(f"{'PASS' if ok else 'FAIL'} {name} {detail}")
    if not ok:
        failures.append(name)


# 1. discovery: the contract registry is visible from Python
names = list(bridge.queryNames())
check("queryNames", len(names) >= 139 and "q_agg_group" in names,
      f"({len(names)} queries)")

# 2. run a contract query by name; result is a live pyspark DataFrame
agg = DataFrame(bridge.query(spark._jsparkSession, "q_agg_group", SF), spark)
rows = agg.collect()
check("q_agg_group", len(rows) > 0 and rows[0]["sum_qty"] > 0,
      f"({len(rows)} groups)")

# 3. the SQL extension functions registered by GraftExtensions work from
#    plain spark.sql — no bridge call needed
r = spark.sql(
    "SELECT graft_simhash64('the quick brown fox jumps over the lazy dog') AS h"
).collect()[0]
check("graft_simhash64 via SQL", r["h"] != 0)

# 4. curate a Python-built DataFrame through the JVM pipeline
docs = spark.read.parquet(f"{SF}/documents.parquet")
curated = DataFrame(bridge.curate(docs._jdf), spark)
verdicts = curated.groupBy("kept").count().collect()
kept = {row["kept"]: row["count"] for row in verdicts}
check("curate", curated.count() == docs.count() and kept.get(True, 0) > 0,
      f"(kept {kept.get(True, 0)}/{docs.count()})")

# 5. the r13 semantic stage, embeddings joined in Python
emb = spark.read.parquet(f"{SF}/embeddings.parquet") \
    .withColumnRenamed("vec_id", "doc_id").select("doc_id", "embedding")
sem = DataFrame(bridge.curateSemantic(docs.join(emb, "doc_id", "left")._jdf,
                                      0.35), spark)
n_sem = sem.filter("drop_reason = 'semantic_dup'").count()
check("curateSemantic", sem.count() == docs.count() and n_sem > 0,
      f"({n_sem} semantic_dup)")

# 6. kNN over embeddings, both frames built in Python
vecs = spark.read.parquet(f"{SF}/embeddings.parquet").select(
    "vec_id", "embedding")
knn = DataFrame(
    bridge.knn(vecs._jdf, vecs.filter("vec_id < 3")._jdf, 5), spark)
check("knn", knn.count() == 15)

# 7. r13 as-of reads from Python: two admits, probe the first state
import tempfile, shutil
idx = tempfile.mkdtemp(prefix="pysmoke_asof")
try:
    b0 = docs.filter("doc_id % 2 = 0")
    b1 = docs.filter("doc_id % 2 = 1")
    DataFrame(bridge.exactDedupDelta(spark._jsparkSession, idx, b0._jdf, "t0"),
              spark).count()
    orig = DataFrame(bridge.exactDedupDelta(spark._jsparkSession, idx,
                                            b1._jdf, "t1"), spark)         .orderBy("doc_id").collect()
    hist = list(bridge.indexHistory(spark._jsparkSession, idx))
    replay = DataFrame(bridge.exactDedupDeltaAsOf(spark._jsparkSession, idx,
                                                  b1._jdf, "t0"), spark)         .orderBy("doc_id").collect()
    check("as-of from Python", hist == ["t0", "t1"] and replay == orig,
          f"(history {hist}, {len(replay)} rows reproduce)")
finally:
    shutil.rmtree(idx, ignore_errors=True)

# 8. JSONL interchange from Python (schema carried by an example frame)
jd = tempfile.mkdtemp(prefix="pysmoke_jsonl")
try:
    bridge.writeJsonl(docs._jdf, f"{jd}/out")
    back = DataFrame(bridge.readJsonl(spark._jsparkSession, f"{jd}/out",
                                      docs.limit(0)._jdf), spark)
    check("jsonl round-trip from Python",
          back.orderBy("doc_id").collect() == docs.orderBy("doc_id").collect())
finally:
    shutil.rmtree(jd, ignore_errors=True)

# 9. r14 operator loop, graph index: build → heavy same-batch append
#    (each appended vector arrives with an exact twin in the SAME batch,
#    so the stored insert-time edges can't know it) → drift verdict
#    flags via edge staleness → aside-rebuild runs → verdict clears and
#    the twin is found at cos 1.0 (the verify half)
from pyspark.sql.functions import col, expr

idx = tempfile.mkdtemp(prefix="pysmoke_graph")
try:
    vecs = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding")
    init = vecs.filter("vec_id < 250")
    neg = vecs.filter("vec_id >= 250").select(
        col("vec_id"), expr("transform(embedding, x -> -x)").alias("embedding"))
    appended = neg.withColumn("vec_id", col("vec_id") + 10000).union(
        neg.withColumn("vec_id", col("vec_id") + 20000))
    bridge.graphWriteIndex(init._jdf, idx, 10, 1)
    bridge.graphAppendIndex(spark._jsparkSession, appended._jdf, idx, "g1", 10)
    drift = DataFrame(
        bridge.graphDriftSummary(spark._jsparkSession, idx), spark).collect()[0]
    check("graph drift flags the blind append",
          drift["rebuild_recommended"] and drift["staleness"] > 0.3,
          f"(staleness {drift['staleness']:.3f})")
    rebuilt = bridge.graphMaybeRebuildAside(spark._jsparkSession, idx, 10, 1)
    after = DataFrame(
        bridge.graphDriftSummary(spark._jsparkSession, idx), spark).collect()[0]
    check("aside-rebuild round trip",
          rebuilt and not after["rebuild_recommended"]
          and list(bridge.indexHistory(spark._jsparkSession, idx)) == ["init"])
    probe = appended.filter("vec_id = 10250").withColumn(
        "vec_id", col("vec_id") + 900000)
    hits = DataFrame(bridge.graphSearchRouted(
        spark._jsparkSession, idx, probe._jdf, 5, 20, 3), spark).collect()
    check("verify: twin found at 1.0 after rebuild",
          len(hits) == 5 and hits[0]["cos"] == 1.0)
    info = DataFrame(bridge.graphIndexInfoWithDrift(
        spark._jsparkSession, idx), spark)
    check("indexInfoWithDrift carries the drift section",
          info.filter("section = 'drift' and key = 'rebuild_recommended'")
          .collect()[0]["value"] == "false")
    # the 100 TB hybrid form probes this same rebuilt index
    hdocs = spark.read.parquet(f"{SF}/documents.parquet")
    hyb_r = DataFrame(bridge.searchHybridRouted(
        spark._jsparkSession, hdocs._jdf, vecs._jdf, idx,
        20, 50, 60, 0, 30, 4, 3, 8), spark).collect()
    check("routed hybrid retrieval from Python",
          len(hyb_r) == 20 and all(r["rrf9"] > 0 for r in hyb_r),
          f"({sum(1 for r in hyb_r if r['r_sem'] is not None)} semantic hits)")
finally:
    shutil.rmtree(idx, ignore_errors=True)

# 10. IVF drift + as-of search + aside-rebuild from Python
idx = tempfile.mkdtemp(prefix="pysmoke_ivf")
try:
    vecs = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding")
    bridge.ivfWriteIndex(vecs.filter("vec_id < 400")._jdf, idx, 16)
    bridge.ivfAppendIndex(spark._jsparkSession,
                          vecs.filter("vec_id >= 400")._jdf, idx, "v1")
    drift = DataFrame(
        bridge.ivfDriftSummary(spark._jsparkSession, idx), spark).collect()[0]
    q = vecs.filter("vec_id = 450").withColumn("vec_id", col("vec_id") + 900000)
    live = DataFrame(bridge.ivfSearch(
        spark._jsparkSession, idx, q._jdf, 5, 4), spark).collect()
    asof = DataFrame(bridge.ivfSearchAsOf(
        spark._jsparkSession, idx, q._jdf, 5, 4, "init"), spark).collect()
    check("ivf drift + as-of search",
          drift["n_appended"] == 100 and len(live) == 5
          and live[0]["vec_id"] == 450 and len(asof) == 5
          and all(r["vec_id"] < 400 for r in asof),
          "(as-of init must not see the append)")
    bridge.ivfRebuildIndexAside(vecs._jdf, idx, 16)
    again = DataFrame(bridge.ivfSearch(
        spark._jsparkSession, idx, q._jdf, 5, 4), spark).collect()
    check("ivf aside-rebuild keeps answering",
          len(again) == 5 and again[0]["vec_id"] == 450)
    # the wired loop (graph-family symmetry): a just-rebuilt index is
    # benign, so the maybe declines and leaves it serving
    ran = bridge.ivfMaybeRebuildAside(spark._jsparkSession, idx)
    still = DataFrame(bridge.ivfSearch(
        spark._jsparkSession, idx, q._jdf, 5, 4), spark).collect()
    check("ivf maybe-rebuild declines on a benign index",
          ran is False and len(still) == 5)
finally:
    shutil.rmtree(idx, ignore_errors=True)

# 11. MinHash index as-of probe from Python
idx = tempfile.mkdtemp(prefix="pysmoke_mh")
try:
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bridge.writeNeardupIndex(docs.filter("doc_id % 2 = 0")._jdf, idx)
    bridge.appendNeardupIndex(docs.filter("doc_id % 2 = 1")._jdf, idx, "n1")
    full = DataFrame(bridge.minhashPairsIndexed(
        spark._jsparkSession, idx, 0.5), spark).count()
    snap = DataFrame(bridge.minhashPairsIndexedAsOf(
        spark._jsparkSession, idx, 0.5, "init"), spark).count()
    check("minhash as-of probe", 0 < snap < full,
          f"(init {snap} pairs vs live {full})")
finally:
    shutil.rmtree(idx, ignore_errors=True)

# 12. r14 persisted media dedup from Python: WAV fixtures built with the
#     stdlib wave module, cross-batch re-encode caught via the stored
#     fingerprint, standing cluster labels maintained incrementally
import io, math, random, struct, wave

def wav_bytes(seed, n=6400, gain=1.0):
    h = seed
    samples = []
    for j in range(n):
        h = (h * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        noise = ((h >> 33) % 2000) - 1000
        tone = int(8000 * math.sin(2 * math.pi * j / (50 + seed % 7)))
        samples.append(max(-32768, min(32767, int(gain * (tone + noise)))))
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(struct.pack(f"<{n}h", *samples))
    return buf.getvalue()

idx = tempfile.mkdtemp(prefix="pysmoke_media")
try:
    a = wav_bytes(42)
    b1 = spark.createDataFrame(
        [("a", bytearray(a)), ("b", bytearray(wav_bytes(99)))],
        "path string, content binary")
    first = DataFrame(bridge.audioDedupDelta(
        spark._jsparkSession, idx, b1._jdf, "t1", "path", "content"), spark)
    # batch 2: a genuinely half-amplitude re-encode of 'a' — different
    # BYTES, so the pair can only come from the stored fingerprint's
    # amplitude invariance (aHash thresholds each frame against the
    # global mean, so uniform scaling moves both sides together; only
    # rounding can flip bits). 'a' itself is absent from this batch.
    half = wav_bytes(42, gain=0.5)
    assert half != a, "fixture must be a re-encode, not identical bytes"
    b2 = spark.createDataFrame(
        [("a_again", bytearray(half))], "path string, content binary")
    pairs2 = DataFrame(bridge.audioDedupDelta(
        spark._jsparkSession, idx, b2._jdf, "t2", "path", "content"), spark)
    rows = [(r["id1"], r["id2"], r["hamming"], r["cross"])
            for r in pairs2.collect()]
    check("audio media index from Python",
          first.count() == 0 and len(rows) == 1
          and rows[0][0] == "a_again" and rows[0][1] == "a"
          and rows[0][2] <= 3 and rows[0][3] is True,
          f"(pairs {rows})")
    labels = DataFrame(bridge.mediaClusterLabels(pairs2._jdf), spark)
    lab = {(r["med_id"], r["rep_id"]) for r in labels.collect()}
    check("media cluster labels from Python",
          lab and all(m in ("a", "a_again") for m, _ in lab))
finally:
    shutil.rmtree(idx, ignore_errors=True)

# 12b. persisted VIDEO index from Python (frame-set overlap; the stub
#      decoder slices content deterministically, so shared byte ranges
#      are shared frames — no codec needed). 1000-byte clips, 10 frames
#      at 500 ms / 5 s: v2 shares frames 0-7 with the STORED v1 only.
idx = tempfile.mkdtemp(prefix="pysmoke_video")
try:
    rng = random.Random(5)
    def vblob(n):
        return bytes(rng.randrange(256) for _ in range(n))
    shared = vblob(800)
    b1 = spark.createDataFrame(
        [("v1", bytearray(shared + vblob(200)))],
        "path string, content binary")
    first = DataFrame(bridge.videoDedupDelta(
        spark._jsparkSession, idx, b1._jdf, "t1", "path", "content",
        500, 5000, 0.5), spark)
    b2 = spark.createDataFrame(
        [("v2", bytearray(shared + vblob(200)))],
        "path string, content binary")
    pairs = DataFrame(bridge.videoDedupDelta(
        spark._jsparkSession, idx, b2._jdf, "t2", "path", "content",
        500, 5000, 0.5), spark)
    vrows = [(r["id1"], r["id2"], r["overlap"], round(r["jaccard"], 6),
              r["cross"]) for r in pairs.collect()]
    check("video frame-set index from Python",
          first.count() == 0 and
          vrows == [("v2", "v1", 8, round(8 / 12, 6), True)],
          f"(pairs {vrows})")
    asof = DataFrame(bridge.videoDedupDeltaAsOf(
        spark._jsparkSession, idx, b2._jdf, "t1", "path", "content",
        500, 5000, 0.5), spark)
    check("video as-of probe from Python", asof.count() == 1)
    # compaction from Python: history resets to init, folded corpus
    # still answers a fresh ingest
    bridge.compactVideoIndex(spark._jsparkSession, idx)
    hist = list(bridge.indexHistory(spark._jsparkSession, idx))
    b3 = spark.createDataFrame(
        [("v3", bytearray(shared + vblob(200)))],
        "path string, content binary")
    folded = DataFrame(bridge.videoDedupDelta(
        spark._jsparkSession, idx, b3._jdf, "t3", "path", "content",
        500, 5000, 0.5), spark)
    check("video compaction from Python",
          hist == ["init"] and
          {r["id2"] for r in folded.collect()} == {"v1", "v2"},
          f"(history {hist})")
finally:
    shutil.rmtree(idx, ignore_errors=True)

# 13. r14 ingest monitoring trio from Python: corpus drift, embedding
#     drift, and semantic decontamination (exact + indexed)
base_docs = docs.filter("doc_id % 2 = 0")
batch_docs = docs.filter("doc_id % 2 = 1")
cd = DataFrame(bridge.corpusDrift(base_docs._jdf, batch_docs._jdf), spark)
psi = {r["metric"]: 0.0 for r in cd.collect()}
for r in cd.collect():
    psi[r["metric"]] += r["psi_term"]
# the fixture assigns source = src{doc_id % 20}, so a parity split
# makes the two source sets DISJOINT — source must scream (clamped
# vanished-bin terms) while n_chars and lang stay under the 0.25 line
check("corpus drift from Python",
      set(psi) == {"n_chars", "lang", "source"} and
      psi["source"] > 0.25 and psi["n_chars"] < 0.25 and psi["lang"] < 0.25,
      f"(disjoint sources flagged, rest stable: {psi})")
vd = DataFrame(bridge.vecDrift(
    vecs.filter("vec_id % 2 = 0")._jdf, vecs.filter("vec_id % 2 = 1")._jdf),
    spark)
vmetrics = {r["metric"] for r in vd.collect()}
check("vec drift from Python", vmetrics == {"lsh_bucket", "argmax"})

# 13b. r15: the drift monitor wired INTO the ingest loop — an external
#      scheduler drives one curation micro-batch and reads the batch's
#      PSI side output from storage (<out>_drift/batch=b0)
ing_state = tempfile.mkdtemp(prefix="pysmoke_ing_state")
ing_out = tempfile.mkdtemp(prefix="pysmoke_ing_out")
ing_base = tempfile.mkdtemp(prefix="pysmoke_ing_base")
try:
    base_docs.select("doc_id", "text", "n_chars", "lang", "source") \
        .write.mode("overwrite").parquet(ing_base)
    b0 = batch_docs.select("doc_id", "text", "n_chars", "lang", "source") \
        .limit(50)
    bridge.curateIngestBatch(spark._jsparkSession, b0._jdf, 0,
                             ing_state, ing_out, ing_base)
    drift = spark.read.parquet(f"{ing_out}_drift/batch=b0").collect()
    fams = {r["family"] for r in drift}
    src_psi = sum(r["psi_term"] for r in drift if r["metric"] == "source")
    verd = spark.read.parquet(f"{ing_out}/batch=b0")
    check("ingest drift side output from Python",
          fams == {"corpus"} and src_psi > 0.25 and verd.count() == 50,
          f"(families {fams}, source psi {src_psi:.2f})")
finally:
    for d in (ing_state, ing_out, ing_out + "_drift", ing_base):
        shutil.rmtree(d, ignore_errors=True)

corpus_v = vecs.filter("vec_id % 10 != 0")
eval_v = vecs.filter("vec_id % 10 = 0")
dec = DataFrame(bridge.semanticDecontaminate(
    corpus_v._jdf, eval_v._jdf, 0.35), spark)
n_contam = dec.filter("contaminated").count()
check("semantic decon from Python",
      dec.count() == corpus_v.count() and n_contam > 0,
      f"({n_contam}/{dec.count()} contaminated)")
idx = tempfile.mkdtemp(prefix="pysmoke_decon")
try:
    bridge.writeCosineIndex(eval_v._jdf, idx)
    deci = DataFrame(bridge.semanticDecontaminateIndexed(
        spark._jsparkSession, idx, corpus_v._jdf, 0.35), spark)
    exact_ids = {r["vec_id"] for r in dec.filter("contaminated").collect()}
    idx_ids = {r["vec_id"] for r in deci.filter("contaminated").collect()}
    check("indexed decon subset law from Python",
          idx_ids <= exact_ids and len(idx_ids) > 0,
          f"({len(idx_ids)}/{len(exact_ids)} via the index)")
    # as-of twin: a probe pinned at init must reproduce today's verdicts
    # on an index that has not moved, and stay read-only (r16)
    deca = DataFrame(bridge.semanticDecontaminateIndexedAsOf(
        spark._jsparkSession, idx, corpus_v._jdf, 0.35, "init"), spark)
    asof_ids = {r["vec_id"] for r in deca.filter("contaminated").collect()}
    check("semantic decon as-of from Python", asof_ids == idx_ids,
          f"({len(asof_ids)} flagged at init)")
finally:
    shutil.rmtree(idx, ignore_errors=True)

# hybrid retrieval + corpus diagnostics (r15 session 2)
hyb = DataFrame(
    bridge.searchHybrid(docs._jdf, vecs._jdf, 20, 50, 60, 0), spark)
hrows = hyb.collect()
check("hybrid RRF retrieval from Python",
      len(hrows) == 20 and all(r["rrf9"] > 0 for r in hrows)
      and hrows[0]["rrf9"] >= hrows[-1]["rrf9"],
      f"(top rrf9 {hrows[0]['rrf9'] if hrows else 'EMPTY'})")

ov = DataFrame(bridge.sourceOverlap(docs._jdf, 8), spark).collect()
check("source overlap from Python",
      len(ov) > 0 and all(0 < r["containment"] <= 1 for r in ov),
      f"({len(ov)} source pairs)")

labeled = spark.read.parquet(f"{SF}/embeddings.parquet")
conf = DataFrame(bridge.vecCentroidAssign(labeled._jdf), spark)
n_assigned = sum(r["n"] for r in conf.collect())
check("centroid-assign confusion from Python",
      n_assigned == labeled.count(), f"({n_assigned} vectors assigned)")

cont = DataFrame(bridge.neardupContainment(docs._jdf, 0.8), spark).collect()
check("containment near-dup from Python",
      len(cont) > 0 and all(r["containment"] >= 0.8 for r in cont),
      f"({len(cont)} directional pairs)")

# simhash near-dup from Python (r18 derived banding): the 1-arg default
# equals maxHamming=6 explicitly, every pair passes its gate, and a
# tighter gate yields a subset
sh6 = DataFrame(bridge.neardupPairsSimhash(docs._jdf), spark).collect()
sh6x = DataFrame(bridge.neardupPairsSimhash(docs._jdf, 6), spark).collect()
sh2 = DataFrame(bridge.neardupPairsSimhash(docs._jdf, 2), spark).collect()
p6 = {(r["d1"], r["d2"]) for r in sh6}
check("simhash near-dup from Python",
      len(sh6) > 0 and sh6 == sh6x
      and all(r["hamming"] <= 6 for r in sh6)
      and {(r["d1"], r["d2"]) for r in sh2} <= p6,
      f"({len(sh6)} pairs, {len(sh2)} at hamming<=2)")

curve = DataFrame(bridge.noveltyCurve(docs._jdf, 8, 50), spark).collect()
check("novelty curve from Python",
      len(curve) > 0 and all(0 <= r["novelty"] <= 1 for r in curve)
      and all(r["n_new"] <= r["n_distinct"] for r in curve),
      f"({len(curve)} tranches)")

# containment postings index lifecycle from Python: admit a container
# corpus, then a batch carrying its excerpt — the cross pair names the
# stored container; the as-of probe reproduces it read-only
cn_idx = tempfile.mkdtemp(prefix="pysmoke_cn")
try:
    toks = lambda a, b: " ".join(f"pyw{i:04d}" for i in range(a, b))
    mk = lambda i, t: (i, t, len(t))
    b0 = spark.createDataFrame([mk(1, toks(1, 71)), mk(2, toks(200, 270))],
                               "doc_id long, text string, n_chars long")
    p0 = DataFrame(bridge.containmentDelta(
        spark._jsparkSession, cn_idx, b0._jdf, 0.8, "t0"), spark)
    assert p0.count() == 0
    bridge.appendContainmentIndex(spark._jsparkSession, cn_idx, b0._jdf, "t0")
    b1 = spark.createDataFrame([mk(11, toks(1, 33)), mk(12, toks(300, 370))],
                               "doc_id long, text string, n_chars long")
    p1 = DataFrame(bridge.containmentDelta(
        spark._jsparkSession, cn_idx, b1._jdf, 0.8, "t1"), spark).collect()
    asof = DataFrame(bridge.containmentDeltaAsOf(
        spark._jsparkSession, cn_idx, b1._jdf, 0.8, "t0"), spark).collect()
    check("containment index from Python",
          [(r["c1"], r["c2"], r["cross"]) for r in p1] == [(11, 1, True)]
          and [(r["c1"], r["c2"]) for r in asof] == [(11, 1)],
          f"(cross pair {[(r['c1'], r['c2']) for r in p1]})")
finally:
    shutil.rmtree(cn_idx, ignore_errors=True)

# 15. mixed-media curation with per-kind attribution (r16 verdict task 6):
#     doc 2 re-uses doc 1's IMAGE, doc 4 re-uses doc 3's AUDIO — with
#     mediaDupByKind on, each drop names the modality that fired.
def bmp_bytes(seed, w=8, h=8):
    rng = random.Random(seed)
    rowsz = w * 3
    pad = (4 - rowsz % 4) % 4
    px = b""
    for _ in range(h):
        px += bytes(rng.randrange(256) for _ in range(rowsz)) + b"\x00" * pad
    hdr = (b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54) +
           struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px),
                       2835, 2835, 0, 0))
    return hdr + px

def mtext(tag, n):
    return " ".join(f"{tag}w{i:03d}" for i in range(n))

img_a, img_b, img_c = bmp_bytes(1), bmp_bytes(2), bmp_bytes(3)
wav_a, wav_b, wav_c = wav_bytes(7), wav_bytes(8), wav_bytes(9)
mrows = [(1, mtext("aa", 40), bytearray(img_a), bytearray(wav_a)),
         (2, mtext("bb", 32), bytearray(img_a), bytearray(wav_b)),
         (3, mtext("cc", 36), bytearray(img_b), bytearray(wav_c)),
         (4, mtext("dd", 31), bytearray(img_c), bytearray(wav_c))]
mdocs = spark.createDataFrame(
    [(i, t, len(t), im, au) for i, t, im, au in mrows],
    "doc_id long, text string, n_chars long, img binary, aud binary")
mv = DataFrame(bridge.curateMedia(
    mdocs._jdf, ["img:image", "aud:audio"], True), spark)
got = {r["doc_id"]: (r["kept"], r["drop_reason"]) for r in mv.collect()}
check("mixed-media curate with media_dup:<kind> from Python",
      got == {1: (True, None), 2: (False, "media_dup:image"),
              3: (True, None), 4: (False, "media_dup:audio")},
      f"(verdicts {got})")

spark.stop()
if failures:
    sys.exit(f"FAILED: {failures}")
print("ALL PASS")
