package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{IndexStore, Materialize, SessionMemo}

/** LLM-data-pipeline text operators (SURVEY.md §2.D): exact and near
  * deduplication, TF-IDF, corpus quality gates, language ID, token
  * counting and content fingerprinting over the `documents` table.
  *
  * Scale posture: everything here is shuffle-by-key relational — exact
  * dedup hash-partitions by digest; near-dup joins explode to (doc,
  * shingle) and shuffles by shingle (never O(n²) pairs of *all* docs, only
  * docs sharing a shingle); TF-IDF is two aggregations + a broadcast of
  * the tiny per-term document-frequency table at 100 TB (df fits: it's
  * bounded by vocabulary size, not corpus size).
  */
/** Tunable knobs of the curation pipeline ([[TextOps.curateOn]]) — the
  * engine surface behind the pinned contract queries. Every ratio gate
  * is an exact rational `(numerator, denominator)` compared by Long
  * cross-multiplication, so no configuration can introduce a float
  * boundary the oracle might round differently; the defaults are
  * EXACTLY the contract constants (q_quality_gopher / q_decontaminate /
  * q_curate oracle their instantiation).
  *
  * @param minWords / maxWords        Gopher word-count gate
  * @param minMeanWordLen / maxMeanWordLen  Gopher mean-word-length gate
  * @param maxShortRatio   short (≤2-char) words ≤ num/den of all words
  * @param minDistinctRatio distinct words ≥ num/den of all words
  * @param jaccardThreshold near-dup edge gate for cluster keep-best
  * @param trainBucketsBelow / testBucketsFrom  deterministic-hash split
  *   (bucket < trainBucketsBelow → train; ≥ testBucketsFrom → test)
  * @param minContamRatio  test doc is contaminated when shared shingles
  *   ≥ num/den of its shingles
  * @param normalizeForHash exact-dup stage hashes the NORMALIZED text
  *   ([[TextOps.textNormalize]]'s canonicalization), so case/punctuation/
  *   spacing variants of one document collapse to one keeper. Default
  *   off — the contract oracle pins raw-hash semantics.
  * @param segmentDedupWidth when set, a corpus-wide segment (paragraph)
  *   dedup pass ([[TextOps.dedupSegmentsAt]] at this width) runs as the
  *   FIRST curation stage and every later stage — quality gate, exact
  *   dedup, decontamination, keep-best — sees the REWRITTEN text
  *   (boilerplate segments distort quality/repetition signals and exact
  *   hashes, so the stages measure the unique content). Docs whose every
  *   segment was seen earlier drop with reason `segment_dup`. Default
  *   off — the contract oracle pins the document-granularity pipeline.
  * @param semanticThreshold when set, a SEMANTIC near-dup stage runs
  *   LAST (after keep-best): the corpus must carry an `embedding`
  *   column, docs are clustered by exact cosine ≥ threshold
  *   ([[VectorOps.semanticClustersOn]] — connected components over the
  *   verified pair graph), and each cluster keeps its best member
  *   (longest text, ties min doc_id — the near_dup stage's metric)
  *   among the stage-4 survivors; the rest drop with reason
  *   `semantic_dup`. This is the batch twin of
  *   [[graft.streaming.CurateIngest]]'s stage 6: same stage order and
  *   drop-reason precedence, keep-BEST here vs the stream's keep-first
  *   (the standard batch/incremental trade-off the near_dup stage
  *   documents). Default off — the contract oracle pins the text-only
  *   pipeline; q_curate_semantic oracles this composition end-to-end.
  */
case class CurateConfig(
    minWords: Long = 30L,
    maxWords: Long = 10000L,
    minMeanWordLen: Long = 4L,
    maxMeanWordLen: Long = 10L,
    maxShortRatio: (Long, Long) = (1L, 20L),
    minDistinctRatio: (Long, Long) = (1L, 2L),
    // NOTE the keep-best tie-break — keep the LONGEST member
    // (n_chars), ties to the smallest doc_id — is compared as a STRUCT
    // everywhere (the containment filter directly; the aggregating
    // near-dup/semantic/media stages as one max over (n_chars,
    // −doc_id), [[TextOps.keepBestAgg]] / [[Sql.keepBest]]): NO doc_id
    // range assumption anywhere. The former injective n_chars·10⁹ −
    // doc_id encoding silently inverted keepers for snowflake-scale id
    // gaps and was removed in r16 (both engines: DuckDB orders structs
    // lexicographically too, through plain max).
    jaccardThreshold: Double = 0.5,
    trainBucketsBelow: Long = 8L,
    testBucketsFrom: Long = 9L,
    minContamRatio: (Long, Long) = (1L, 2L),
    normalizeForHash: Boolean = false,
    segmentDedupWidth: Option[Int] = None,
    // when set, a CONTAINMENT stage runs right after decontamination,
    // BEFORE the symmetric near-dup stage: a stage-3 survivor whose
    // 3-shingle set is contained (|A∩B|/|A| ≥ threshold, the
    // q_neardup_containment metric) in a BETTER surviving doc (the
    // keep-best (n_chars, −doc_id) order) drops with reason
    // `contained_dup` — the truncated-copy/excerpt verdict. Ordered
    // before near_dup because a truncated copy is usually ALSO a
    // J ≥ 0.5 near-dup and both stages keep the longest member: first
    // position upgrades those drops to the more specific reason (it
    // names which side is the excerpt) while still catching the true
    // excerpts (J ≈ n_A/n_B ≪ 0.5) jaccard structurally misses.
    // One-pass directional semantics: drops are judged against stage-3
    // SURVIVORS, not final keepers (a container that later drops as
    // near_dup still shields its excerpts — the semantic stage's
    // one-shot-vs-iterative class). Default off — q_curate_containment
    // oracles the composition end-to-end. The STREAMING loop runs the
    // same stage incrementally against a persisted shingle-postings
    // index ([[TextOps.containmentDeltaIndexed]]): cross-batch
    // keep-first (a doc contained in a STORED keeper drops),
    // within-batch the directional rule above — verdict parity with
    // the batch pipeline wherever keep-first == keep-best; the probe's
    // per-shingle postings cap is the constant
    // [[TextOps.MaxPostingsPerShingle]].
    containmentThreshold: Option[Double] = None,
    semanticThreshold: Option[Double] = None,
    mediaColumn: Option[String] = None,
    mediaKind: String = "image",
    videoConfig: graft.extract.Multimodal.VideoDedupConfig =
      graft.extract.Multimodal.VideoDedupConfig(),
    // multi-media form (r14 verdict gap #3): a real multimodal corpus
    // carries image AND audio side by side — one (column, kind) entry
    // per modality, each deduped against its own fingerprint family in
    // declaration order; `mediaColumn`/`mediaKind` is the one-entry
    // sugar (exclusive — pass one form). One kind per pipeline entry:
    // two columns of the same kind would share a fingerprint family
    // and (in the stream) an index root.
    media: Seq[(String, String)] = Nil,
    // per-kind media attribution (r15 verdict task 5): with the flag on
    // the media stage's drop reason carries WHICH modality fired —
    // `media_dup:<kind>` — so a mixed-corpus triage reads the verdict
    // column instead of re-running pair tables. Default OFF: the single
    // `media_dup` keeps verdicts equal across any media declaration
    // order (kinds probe sequentially, so the attributed kind is the
    // FIRST one that drops the doc in declaration order — order-
    // dependent by construction, which is exactly why it is opt-in).
    mediaDupByKind: Boolean = false) {
  require(media.isEmpty || mediaColumn.isEmpty,
    "pass media (multi-column) or mediaColumn (single-column sugar), not both")
  require(media.map(_._2).distinct.size == media.size,
    s"media kinds must be distinct, got ${media.map(_._2)}")

  /** The resolved (column, kind) stage list, sugar folded in. */
  private[graft] def mediaEntries: Seq[(String, String)] =
    mediaColumn.map(c => (c, mediaKind)).toSeq ++ media
}

object TextOps {
  import Det._

  /** (doc_id, shingles) with the DISTINCT 3-word shingle array computed
    * per row by the native [[org.apache.spark.sql.graft.DistinctShingles]]
    * expression — zero shuffles and whole-stage codegen (the r1 window
    * shape paid a sort-by-doc shuffle plus a distinct; array lambdas run
    * interpreted — the measurements live on the expression's doc). Texts
    * under 3 tokens get an empty array.
    */
  private[queries] def shingleArrs(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      org.apache.spark.sql.graft.ShingleExpressions.shingles(col("text"))
        .as("shingles"))

  /** (doc_id, s) rows of DISTINCT 3-word shingles — [[shingleArrs]]
    * exploded. Texts under 3 tokens contribute no rows.
    */
  private[graft] def shingleRows(df: DataFrame): DataFrame =
    shingleArrs(df).select(col("doc_id"), explode(col("shingles")).as("s"))

  private val shingledSql =
    """SELECT doc_id,
      |  CASE WHEN len(string_split(text, ' ')) >= 3
      |       THEN list_distinct([array_to_string(string_split(text, ' ')[i:i+2], ' ')
      |                           for i in range(1, len(string_split(text, ' ')) - 1)])
      |       ELSE [] END AS shingles
      |FROM documents""".stripMargin

  // -------------------------------------------------------- exact dedup

  /** Exact content dedup: hash-group by sha256(text), keep min doc_id. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "documents")
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy(col("keeper"))

  val dedupExactSql =
    """SELECT sha256(text) AS digest, min(doc_id) AS keeper, count(*) AS n_copies
      |FROM documents GROUP BY sha256(text) ORDER BY keeper""".stripMargin

  // ------------------------------------------------ text normalization

  /** Canonical text normalization — the pass fuzzy-dedup pipelines run
    * BEFORE hashing (lowercase → strip non-alphanumerics → collapse
    * whitespace runs → trim), so documents differing only in case,
    * punctuation or spacing canonicalize identically. Pure per-row
    * codegen'd string expressions, no shuffle; composes ahead of any
    * dedup stage — [[dedupNormalized]] is the composed contract form.
    */
  private def normCol(t: Column): Column =
    trim(regexp_replace(regexp_replace(lower(t), "[^a-z0-9 ]", " "), " +", " "))

  def textNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "documents")
      .select(col("doc_id"), normCol(col("text")).as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        length(col("norm_text")).cast(LongType).as("n_chars_norm"))
      .orderBy(col("doc_id"))

  val textNormalizeSql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      |       ' +', ' ', 'g')) AS norm_text,
      |  CAST(length(trim(regexp_replace(regexp_replace(lower(text),
      |       '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS n_chars_norm
      |FROM documents ORDER BY doc_id""".stripMargin

  /** [[dedupExact]] over NORMALIZED text — catches the duplicates raw
    * hashing misses (case/punctuation/spacing variants of one document),
    * same digest-groupBy scale shape.
    */
  def dedupNormalized(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "documents")
      .groupBy(sha2(normCol(col("text")), 256).as("digest"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy(col("keeper"))

  val dedupNormalizedSql: String =
    """SELECT sha256(trim(regexp_replace(regexp_replace(lower(text),
      |         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS digest,
      |  min(doc_id) AS keeper, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keeper""".stripMargin

  // ------------------------------------------- exact-Jaccard near dedup

  /** Near-duplicate pairs by exact Jaccard over 3-word shingles
    * (J = |∩| / (|A| + |B| − |∩|) ≥ 0.5). The |∩| computation shuffles by
    * shingle — only docs sharing a shingle ever meet, which is the plan
    * that survives 100 TB (plus MinHash banding in [[VectorOps]] when even
    * shingle buckets get hot).
    *
    * Each shingle row carries its doc's set size (window count — one
    * shuffle by doc_id, no driver-bound broadcast), so (a) the join itself
    * prunes pairs that cannot reach J ≥ 0.5: J ≤ min/max, so
    * max·(t − 5·10⁻⁷) ≤ min + 1 is necessary EVEN for the rounded
    * boundary (round-to-6dp admits J ≥ t − 5·10⁻⁷; the relative term
    * keeps the bound valid past 2·10⁶ shingles/doc, where a flat +1
    * slack stops covering it — max·5·10⁻⁷ > 1 there), and (b) no
    * post-aggregation size joins are needed. No cache(): both join sides
    * are the identical subplan, which Spark's exchange reuse materializes
    * once (and nothing leaks in the block manager across invocations).
    */
  def neardupJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(spark, dir)

  /** Memoized J ≥ 0.5 verified pair frame per (session, dir) — shared by
    * the contract query and the cluster-label build ([[clusterLabels]]),
    * which would otherwise each run the full shuffle-by-shingle pipeline.
    * Lifecycle: [[graft.operators.SessionMemo]]; the parameterized
    * [[neardupJaccardAt]] stays pure.
    */
  private val jaccardPairsMemo =
    SessionMemo.family[String, DataFrame]("text_jaccard_pairs")

  /** Estimated blowup factor of the direct by-shingle self-join:
    * joined rows per shingle row ≈ Σ_s df(s)·(df(s)−1) / Σ_s df(s),
    * from a DETERMINISTIC 1/64 doc sample (xxhash64(doc_id) % 64 == 0 —
    * same corpus, same estimate, always). `sum(df·(df−1))` over the
    * sample is unbiased for the full corpus's ordered-pair mass scaled
    * by 1/64² (both endpoints must land in the sample) and `sum(df)`
    * for rows/64, so the ratio times 64 estimates the full-corpus
    * blowup; shingles hot enough to matter (df in the thousands) are
    * estimated tightly, and the small-df mass the estimator underweights
    * is exactly the mass that cannot hurt the direct join. Cost: one
    * map-combinable aggregate over 1/64 of the shingle explode —
    * measured ~0.5 s steady / 1.6-2.5 s in a cold session (JpProfile,
    * r19 session 3; the cold excess is ngram-expression codegen the
    * pair build reuses), amortized once per session beside the
    * fixture's multi-second pair build.
    */
  private[graft] def shingleBlowup(docs: DataFrame): Double = {
    val sample = shingleRows(docs
      .filter(pmod(xxhash64(col("doc_id")), lit(64)) === 0))
    val r = sample.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .agg(sum(col("df")), sum(col("df") * (col("df") - lit(1L)))).head()
    if (r.isNullAt(0) || r.getLong(0) == 0L) 0.0
    else 64.0 * r.getLong(1) / r.getLong(0)
  }

  /** Direct-vs-prefix switch for the session pair build (r19 — the
    * simhashBanding discipline applied to the [[neardupJaccardAt]] /
    * [[neardupJaccardPrefixAt]] choice, keyed on measured shingle SKEW,
    * not corpus size: the PairsScale ladder falsified a size switch —
    * jittered ×16 replication (80k docs, every df ×16, blowup ≈ 15)
    * still ran direct 1.7× FASTER than prefix (69 vs 119 s) because
    * there hot shingles are true near-dups and candidates ≈ output,
    * while a 30-token shared boilerplate suffix at just 5k docs
    * (blowup ≈ 1.1k) ran direct 27× SLOWER (289 vs 11 s). Bracketing
    * rungs: blowup ≈ 49 → prefix 2.7× faster, ≈ 190 → 6×. 32 sits in
    * the measured gap (15 → direct wins, 49 → prefix wins); both forms
    * are bit-identical (ParamApiSpec), so the switch can never change a
    * result — only which exact plan computes it. BASELINE.md r19
    * "PairsScale ladder" has the grid.
    */
  private[graft] val DirectJaccardMaxBlowup: Double = 32.0

  private def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    jaccardPairsMemo(spark, dir, Seq(Tables.path(dir, "documents"))) {
      val docs = Tables.t(spark, dir, "documents")
      val blowup = shingleBlowup(docs)
      val form = if (blowup > DirectJaccardMaxBlowup)
        neardupJaccardPrefixAt(docs, threshold = 0.5)
      else neardupJaccardAt(docs, threshold = 0.5)
      val p = Materialize.cut(form)
      // two id Longs + inter Long + jaccard double + row overhead
      org.apache.spark.sql.graft.CheckpointStats
        .withMeasuredStats(p, p.count(), 40)
    }

  /** [[neardupJaccard]] generalized over corpus and threshold — the
    * engine surface: exact-Jaccard ≥ `threshold` pairs of any
    * (doc_id, text) frame. The size-ratio prune generalizes with the
    * threshold (J ≤ min/max, so max·(t − 5·10⁻⁷) ≤ min + 1 is necessary —
    * the 5·10⁻⁷ term admits every pair whose ROUNDED jaccard can still
    * meet t, at any shingle count) and stays inside the join condition,
    * so the shuffle-by-shingle scale shape is unchanged at any setting.
    */
  def neardupJaccardAt(docs: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccard threshold must be in (0, 1], got $threshold")
    // per-doc set size rides the shingle array (size before explode) —
    // the r1 shape recounted it with a window over the exploded rows,
    // paying a sort-by-doc shuffle before the join
    val e = shingleArrs(docs)
      .select(col("doc_id"), size(col("shingles")).cast(LongType).as("n"),
        explode(col("shingles")).as("s"))
    // MERGE hint (§3.1): Catalyst estimates this side's size from the
    // compressed parquet stats BELOW the explode, so the ~500-shingle
    // fan-out lands the exploded corpus under the broadcast threshold
    // and the driver single-threadedly builds a multi-million-row hash
    // relation — the measured majority of the build (JpProfile: BHJ
    // 2.9-4.7 s vs SMJ 0.9-3.1 s steady/cold at sf0.1). At corpus
    // scale the estimate crosses the threshold and this join is SMJ
    // anyway; the hint makes the small-scale plan the scale plan
    // (AQE skew handling applies to SMJ, and a by-shingle exchange is
    // the shape the prefix-form crossover was measured against).
    e.as("a").hint("merge").join(e.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          greatest(col("a.n"), col("b.n")) * (threshold - 5e-7) <=
            least(col("a.n"), col("b.n")) + 1)
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .agg(count(lit(1)).as("inter"))
      .select(col("d1"), col("d2"), col("inter"),
        round(col("inter") / (col("n1") + col("n2") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("d1"), col("d2"))
  }

  /** Incremental form of [[neardupJaccardAt]] for a corpus REWRITE
    * (r18; the segment stage's label build): given the verified
    * J ≥ `threshold` pairs of the RAW corpus, produce the pairs of the
    * REWRITTEN corpus by reusing every pair whose two docs the rewrite
    * left byte-identical and recomputing only pairs that touch a
    * changed doc.
    *
    * Exactness, by partition on changed-status: a rewritten-corpus pair
    * has either (a) both docs byte-identical to raw — identical shingle
    * sets, so its (inter, n₁, n₂, jaccard) row is the RAW row, and the
    * raw frame restricted to unchanged×unchanged contains exactly these
    * — or (b) ≥ 1 changed doc, recomputed here with [[neardupJaccardAt]]'s
    * exact join/aggregate math (same size-ratio prune, same rounded
    * predicate) over the rewritten text, with the asymmetric join
    * emitting each pair once: the changed side joins ALL docs, ordered
    * `a.doc_id < b.doc_id` only when both sides are changed. The two
    * branches are disjoint by construction; their union holds the SAME
    * ROWS as the direct build — unordered: this function does not apply
    * [[neardupJaccardAt]]'s final `orderBy(d1, d2)`, because its one
    * consumer (the [[segmentReasons]] label build) feeds
    * ConnectedComponents, which is order-insensitive. Callers needing
    * the ordered contract frame must sort. (LawsSpec pins the same-rows
    * law on randomized corpora.)
    *
    * Scale shape: the reuse branch is two semi-joins against the
    * (usually tiny) verified pair frame; the fresh branch's shuffle is
    * |changed docs' shingles| × by-shingle — the pair-build cost scales
    * with the fraction the rewrite touched, not the corpus
    * (SegProfile: 2.5 s → this form recomputes ~20% at the fixture).
    *
    * @param rawDocs  the corpus BEFORE the rewrite (doc_id, text, ...)
    * @param rwDocs   the corpus AFTER the rewrite — doc_ids ⊆ rawDocs'
    *   (a rewrite may drop docs, never invent them). This precondition
    *   is NOT checked: the changed-flag inner join silently drops any
    *   rwDocs row whose doc_id is missing from rawDocs (its pairs just
    *   vanish from the output) — a violating caller gets quietly-wrong
    *   results, not an error. Both in-repo callers pass a frame derived
    *   from rawDocs by construction; a new caller that cannot prove the
    *   subset property must validate it first (r18 ADVICE).
    * @param rawPairs [[neardupJaccardAt]]`(rawDocs, threshold)` — or the
    *   memoized checkpoint of it; MUST be at the same `threshold`
    */
  private[graft] def jaccardPairsUnderRewrite(rawDocs: DataFrame,
      rwDocs: DataFrame, rawPairs: DataFrame,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccard threshold must be in (0, 1], got $threshold")
    val flagged = rwDocs.select(col("doc_id"), col("text"))
      .join(rawDocs.select(col("doc_id"), col("text").as("__raw_text")),
        Seq("doc_id"))
      .select(col("doc_id"), col("text"),
        (!(col("text") <=> col("__raw_text"))).as("__chg"))
    val unchanged = flagged.filter(!col("__chg")).select(col("doc_id"))
    val reused = rawPairs
      .select(col("d1"), col("d2"), col("inter"), col("jaccard"))
      .join(unchanged.select(col("doc_id").as("d1")), Seq("d1"), "left_semi")
      .join(unchanged.select(col("doc_id").as("d2")), Seq("d2"), "left_semi")
    val e = flagged.select(col("doc_id"), col("__chg"),
        org.apache.spark.sql.graft.ShingleExpressions.shingles(col("text"))
          .as("shingles"))
      .select(col("doc_id"), col("__chg"),
        size(col("shingles")).cast(LongType).as("n"),
        explode(col("shingles")).as("s"))
    // changed side × all docs; both-changed pairs ordered so each pair
    // surfaces exactly once, changed-unchanged pairs surface only from
    // the changed side (the unchanged side never probes)
    val joined = e.filter(col("__chg")).as("a").join(e.as("b"),
      col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id") &&
        (col("a.doc_id") < col("b.doc_id") || !col("b.__chg")) &&
        greatest(col("a.n"), col("b.n")) * (threshold - 5e-7) <=
          least(col("a.n"), col("b.n")) + 1)
    val s1 = struct(col("a.doc_id").as("i"), col("a.n").as("nn"))
    val s2 = struct(col("b.doc_id").as("i"), col("b.n").as("nn"))
    val fresh = joined
      .groupBy(least(s1, s2).getField("i").as("d1"),
        greatest(s1, s2).getField("i").as("d2"),
        least(s1, s2).getField("nn").as("n1"),
        greatest(s1, s2).getField("nn").as("n2"))
      .agg(count(lit(1)).as("inter"))
      .select(col("d1"), col("d2"), col("inter"),
        round(col("inter") / (col("n1") + col("n2") - col("inter")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    reused.unionByName(fresh)
  }

  /** [[neardupJaccardAt]] with AllPairs/PPJoin-style prefix filtering —
    * the same EXACT result (bit-identical frame: d1, d2, inter, jaccard
    * rounded to 6dp, ordered by pair) through a candidate join that is
    * immune to Zipf-hot shingles.
    *
    * Candidate generation: rank each doc's shingles by a global
    * (frequency, shingle) order — rarest first — and join only each
    * doc's PREFIX, the first `n − ⌈t·n⌉ + 2` shingles. Soundness: a
    * surviving pair has unrounded J ≥ t = threshold − 5·10⁻⁷ (the
    * rounded-boundary slack [[neardupJaccardAt]] documents), and since
    * |A∪B| ≥ max(n₁,n₂) that forces |∩| ≥ ⌈t·nᵢ⌉ for BOTH docs; the
    * prefix-filtering lemma (Chaudhuri et al. SSJoin 2006; Bayardo et
    * al. AllPairs WWW'07) then guarantees the pair meets inside the two
    * prefixes under any shared total order. One extra prefix token (+2
    * instead of +1) absorbs double-rounding in `ceil`; extra tokens can
    * only ADD candidates, never lose a pair.
    *
    * Verification is exact and per-candidate: `array_intersect` of the
    * two docs' sorted distinct-shingle arrays (each bounded by its
    * document's length — the same bound the shingle explode already
    * carries), so no count can be approximate and the final filter is
    * the identical rounded-jaccard predicate.
    *
    * Scale shape vs the direct join: the direct form joins EVERY shingle
    * occurrence, so one shingle shared by B docs contributes B² joined
    * rows — boilerplate text makes the join quadratic in the hottest
    * bucket. Here frequent shingles sort to the END of the global order
    * and fall OUT of every prefix: a hot shingle enters the candidate
    * join only for docs where it ranks among the rarest few, which at
    * corpus scale is a vanishing fraction. The extra cost is one
    * count-by-shingle aggregate (map-side combinable) and the verify
    * joins, each shuffling only candidates. Use this form when the
    * corpus is large or repetitive; [[neardupJaccardAt]] remains the
    * minimal two-shuffle plan for small/ad-hoc frames and is the shape
    * the DuckDB oracle mirrors.
    */
  def neardupJaccardPrefixAt(docs: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccard threshold must be in (0, 1], got $threshold")
    val t = threshold - 5e-7
    val prefix = prefixRows(docs, t)
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          greatest(col("a.n"), col("b.n")) * t <=
            least(col("a.n"), col("b.n")) + 1)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val sets = sortedShingleSets(docs)
    cand
      .join(sets.select(col("doc_id").as("d1"), col("arr").as("arr1"),
        col("n").as("n1")), Seq("d1"))
      .join(sets.select(col("doc_id").as("d2"), col("arr").as("arr2"),
        col("n").as("n2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("arr1"), col("arr2"))).cast("long").as("inter"),
        col("n1"), col("n2"))
      .select(col("d1"), col("d2"), col("inter"),
        round(col("inter") / (col("n1") + col("n2") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("d1"), col("d2"))
  }

  /** The prefix-candidate machinery of [[neardupJaccardPrefixAt]]:
    * each doc's shingle rows ranked rarest-first under the global
    * (df, shingle) order, kept to the first n − ⌈t·n⌉ + 2 (the
    * threshold `t` arrives ALREADY 5·10⁻⁷-slackened; +1 is the
    * pigeonhole prefix, +1 more absorbs ceil double-rounding — extra
    * rows only ADD candidates).
    */
  private def prefixRows(docs: DataFrame, t: Double): DataFrame = {
    val withN = shingleArrs(docs)
      .select(col("doc_id"), size(col("shingles")).cast(LongType).as("n"),
        explode(col("shingles")).as("s"))
    val freq = withN.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val wo = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    withN.join(freq, "s")
      .select(col("doc_id"), col("s"), col("n"), row_number().over(wo).as("r"))
      .filter(col("r") <= col("n") - ceil(lit(t) * col("n")) + lit(2L))
      .select(col("doc_id"), col("s"), col("n"))
  }

  /** (doc_id, sorted shingle array, n) for exact per-candidate
    * verification in [[neardupJaccardPrefixAt]].
    */
  private def sortedShingleSets(docs: DataFrame): DataFrame =
    shingleArrs(docs).filter(size(col("shingles")) > 0)
      .select(col("doc_id"), sort_array(col("shingles")).as("arr"),
        size(col("shingles")).cast(LongType).as("n"))

  val neardupJaccardSql =
    s"""WITH sh AS ($shingledSql),
       |sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
       |e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT d1, d2, inter, round(inter / (x.n + y.n - inter), 6) AS jaccard
       |FROM pairs JOIN sz x ON x.doc_id = d1 JOIN sz y ON y.doc_id = d2
       |WHERE round(inter / (x.n + y.n - inter), 6) >= 0.5
       |ORDER BY d1, d2""".stripMargin

  // ------------------------------------- asymmetric containment dedup

  /** DIRECTIONAL near-dup pairs by shingle containment — |A∩B|/|A| ≥ 0.8
    * over the same 3-word shingle sets as [[neardupJaccard]]: the
    * truncated-copy detector symmetric Jaccard structurally misses. A
    * 100-shingle excerpt of a 1000-shingle original has J ≈ 0.1 (far
    * under any usable symmetric threshold) but containment 1.0 — and
    * excerpt/quote/header-stripped re-posts are how crawl corpora
    * actually duplicate (the RefinedWeb/CCNet motivation for
    * containment-based dedup). Rows are (contained, container):
    * near-identical docs yield both directions, a strict subset yields
    * one.
    *
    * Scale: the shingle-keyed self-join — docs meet only via a shared
    * shingle, never all-pairs. Unlike Jaccard there is NO size-ratio
    * prune to push into the join (the small side of ANY co-shingled
    * pair can reach containment 1.0), so the join condition is the
    * bare shingle equality. NOTE: MinHash banding is NOT a fallback
    * here — banding recall tracks JACCARD, and a contained excerpt
    * sits at J ≈ n_A/n_B (0.1 for a 10× container), where 8-band
    * recall is ~0.08: banding structurally misses exactly the pairs
    * this operator exists for. The hot-shingle path is the streaming
    * probe's rarest-first prefix ([[crossContainmentPairsPrefixRarest]]).
    */
  def neardupContainment(spark: SparkSession, dir: String): DataFrame =
    neardupContainmentOn(Tables.t(spark, dir, "documents"))

  /** [[neardupContainment]] over any (doc_id, text) frame at a chosen
    * threshold — the engine surface. Filter is on the 6dp-ROUNDED share
    * (the [[neardupJaccardAt]] boundary convention, mirrored in SQL).
    */
  def neardupContainmentOn(docs: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    containmentPairsOf(
      shingleArrs(docs)
        .select(col("doc_id"), size(col("shingles")).cast(LongType).as("n"),
          explode(col("shingles")).as("key")),
      threshold)
      .orderBy(col("contained"), col("container"))
  }

  /** Directional containment pairs over an exploded (doc_id, n, key)
    * set frame — the ONE copy of the pair semantics, shared by
    * [[neardupContainmentOn]] (key = shingle string) and the postings
    * index's within-batch half (key = sha256(shingle) — injective in
    * practice and consistent with the cross-batch probe's hash keys).
    */
  private def containmentPairsOf(e: DataFrame,
      threshold: Double): DataFrame = {
    // MERGE hint: same estimate-below-the-explode broadcast hazard as
    // [[neardupJaccardAt]] (this is the other exploded self-join) —
    // see the note there; q_neardup_containment carried the broadcast
    // of its exploded shingle side in every r16-r18 plan dump.
    val und = e.as("a").hint("merge").join(e.as("b"),
        col("a.key") === col("b.key") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .agg(count(lit(1)).as("inter"))
    // both directions via ONE explode over the aggregated pair row — a
    // union of two projections would re-run the whole shingle join +
    // aggregation per branch (Catalyst does not share subplans across
    // Union children; seen in the executed plan before this shape)
    und.select(col("inter"), explode(array(
        struct(col("d1").as("contained"), col("d2").as("container"),
          col("n1").as("n_contained")),
        struct(col("d2").as("contained"), col("d1").as("container"),
          col("n2").as("n_contained")))).as("x"))
      .select(col("x.contained").as("contained"),
        col("x.container").as("container"), col("inter"),
        col("x.n_contained").as("n_contained"),
        round(col("inter") / col("x.n_contained"), 6).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** THE directional drop rule, one copy (used by the batch curation
    * stage and the streaming within-batch half): keep only pairs whose
    * container BEATS the contained doc by the keep-best
    * (n_chars, −doc_id) order — compared as a STRUCT ordering, not the
    * arg_max family's injective BIGINT encoding: a filter needs no
    * single aggregation key, so this verdict-bearing path drops the
    * encoding's doc_id < 10⁹ domain assumption (the SQL mirror uses the
    * equivalent row-value comparison). `sizes` = (doc_id, n_chars).
    */
  private def betterContainerPairs(pairs: DataFrame,
      sizes: DataFrame): DataFrame =
    pairs
      .join(sizes.select(col("doc_id").as("contained"),
        col("n_chars").as("nc_a")), Seq("contained"))
      .join(sizes.select(col("doc_id").as("container"),
        col("n_chars").as("nc_b")), Seq("container"))
      .filter(struct(col("nc_b"), -col("container")) >
        struct(col("nc_a"), -col("contained")))
      .select(col("contained"), col("container"))

  val neardupContainmentSql: String =
    s"""WITH sh AS ($shingledSql),
       |e AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
       |p AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, a.n AS n1, b.n AS n2,
       |         count(*) AS inter
       |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4),
       |dirs AS (
       |  SELECT d1 AS contained, d2 AS container, inter, n1 AS n_contained FROM p
       |  UNION ALL
       |  SELECT d2, d1, inter, n2 FROM p)
       |SELECT contained, container, inter, n_contained,
       |  round(inter / n_contained, 6) AS containment
       |FROM dirs
       |WHERE round(inter / n_contained, 6) >= 0.8
       |ORDER BY contained, container""".stripMargin

  // -------------------------------------------------- dedup clustering

  /** Connected-component clustering over the near-dup pair graph — the
    * step after pair detection in a real dedup pipeline: every doc gets
    * its cluster representative (the minimum doc_id reachable through
    * J ≥ 0.5 edges), `is_dup` marks non-representatives for dropping.
    *
    * Spark side: [[graft.operators.ConnectedComponents]] — min-label
    * propagation fused with pointer jumping, O(log diameter) synchronized
    * rounds (≤ 4 on the fixtures vs 20 for plain propagation), loud
    * failure instead of silently-partial labels if the cap is ever hit.
    * Oracle: DuckDB recursive-CTE transitive closure, min over the
    * reachable set.
    */
  /** Memoized (id, rep) cluster labels per (session, dir). The CC loop
    * materializes eagerly (eager cuts + per-round actions) at
    * DataFrame-build time, so without memoization every query composing
    * over clusters ([[dedupCluster]], [[dedupKeepBest]], [[curate]])
    * would re-run the whole pair-detection + iteration pipeline; labels
    * are deterministic, so sharing the checkpointed result is sound.
    * Lifecycle: [[graft.operators.SessionMemo]].
    */
  private val labelMemo =
    SessionMemo.family[String, DataFrame]("text_cluster_labels")

  /** Force the text-family session memo builds (jaccard pairs →
    * cluster labels → curate reasons; each feeds the next), named for
    * [[graft.Bench]]'s dedicated warm-up rows: these are ONE-TIME
    * session costs that otherwise land on whichever contract row the
    * registry's iteration order runs first — adding a key re-shuffles
    * that order and every per-row trend breaks (the r15
    * q_curate_semantic adjudication burned a session on exactly this).
    */
  private[graft] def warmFamilies(spark: SparkSession,
      dir: String): Seq[(String, () => Unit)] = Seq(
    "text_jaccard_pairs" -> (() => { jaccardPairs(spark, dir); () }),
    "text_cluster_labels" -> (() => { clusterLabels(spark, dir); () }),
    "text_curate_reasons" -> (() => { curateReasons(spark, dir); () }))

  /** Near-dup cluster labels (id, rep) over an arbitrary (doc_id, text)
    * frame at `threshold` — the unmemoized engine form of the label
    * build. Iterates ONLY over the near-dup subgraph: docs in no pair
    * keep rep = self and never enter the rounds, so at 100 TB the label
    * table shrinks from |corpus| to |docs with a near-dup| — typically
    * orders of magnitude smaller — and so does every per-round shuffle.
    * `spark.graft.materialize=reliable` routes every lineage cut to
    * durable `checkpoint()` (see [[Materialize]]) — the cluster
    * posture, where executor churn over the iteration is expected.
    */
  def clusterLabelsOn(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    graft.operators.ConnectedComponents.runOnPairs(
      neardupJaccardAt(docs, threshold)
        .select(col("d1").as("src"), col("d2").as("dst")))

  private def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    labelMemo(spark, dir, Seq(Tables.path(dir, "documents"))) {
      graft.operators.ConnectedComponents.runOnPairs(
        jaccardPairs(spark, dir).select(col("d1").as("src"), col("d2").as("dst")),
        precut = true)
    }

  def dedupCluster(spark: SparkSession, dir: String): DataFrame =
    graft.operators.ConnectedComponents.assignClusters(
      Tables.t(spark, dir, "documents").select(col("doc_id")), "doc_id",
      clusterLabels(spark, dir))
      .orderBy(col("doc_id"))

  /** Shared recursive-closure CTE prefix: defines `reach(a, b)` = doc b
    * reachable from doc a through J ≥ 0.5 near-dup edges. Used by the
    * cluster-labeling oracle and the keep-best representative oracle.
    */
  private val clusterCteSql: String =
    s"""WITH RECURSIVE sh AS ($shingledSql),
       |sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
       |e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |dups AS (
       |  SELECT d1, d2
       |  FROM pairs JOIN sz x ON x.doc_id = d1 JOIN sz y ON y.doc_id = d2
       |  WHERE round(inter / (x.n + y.n - inter), 6) >= 0.5),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM dups
       |          UNION ALL SELECT d2, d1 FROM dups),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, e2.dst FROM reach r JOIN edges e2 ON r.b = e2.src)""".stripMargin

  /** `clusters(doc_id, rep)` on top of [[clusterCteSql]]'s `reach` —
    * shared by every oracle composing over cluster labels.
    */
  private val clustersCteSql: String =
    "clusters AS (SELECT a AS doc_id, min(b) AS rep FROM reach GROUP BY a)"

  val dedupClusterSql: String =
    s"""$clusterCteSql
       |SELECT a AS doc_id, min(b) AS rep, (min(b) <> a) AS is_dup
       |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- TF-IDF

  /** TF-IDF: tf per (doc, term) × ln(N/df); top-5 terms of docs 0–4. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(spark, dir, "documents")
    val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(df), "tok")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"), col("tf"),
        round(col("tf") * log(col("n_docs") / col("df")), 6).as("tfidf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("tok").asc)
    scored.filter(col("doc_id") < 5)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .orderBy(col("doc_id"), col("rn"))
  }

  val tfidfSql =
    """WITH tf AS (
      |  SELECT doc_id, tok, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      |scored AS (
      |  SELECT doc_id, tok, tf,
      |    round(tf * ln((SELECT count(*) FROM documents) / df), 6) AS tfidf
      |  FROM tf JOIN df USING (tok))
      |SELECT doc_id, tok, tf, tfidf, rn FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |                               ORDER BY tfidf DESC, tok ASC) AS rn
      |  FROM scored WHERE doc_id < 5)
      |WHERE rn <= 5
      |ORDER BY doc_id, rn""".stripMargin

  // --------------------------------------------------------- text stats

  /** Per-language corpus statistics (exact integer averages). */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        avgInt4(sum(col("n_chars")), count(lit(1))).as("avg_chars"),
        avgInt4(sum(size(split(col("text"), " ")).cast(LongType)), count(lit(1)))
          .as("avg_words"))
      .orderBy(col("lang"))

  val textStatsSql: String = {
    val sumWords = "CAST(sum(len(string_split(text, ' '))) AS BIGINT)"
    s"""SELECT lang, count(*) AS n_docs, count(DISTINCT source) AS n_sources,
       |  ${Sql.avgInt4("CAST(sum(n_chars) AS BIGINT)", "count(*)")} AS avg_chars,
       |  ${Sql.avgInt4(sumWords, "count(*)")} AS avg_words
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ------------------------------------------------------ corpus report

  /** Per-(source, lang) corpus data card — the first pass a dataset
    * engineer runs before training: volume, exact-duplicate mass,
    * quality-gate pass rate, token mass, size envelope, all in one
    * aggregate. Every measure is an exact integer (counts, Long sums,
    * distinct digests — rates are left to the reader as n_x/n_docs), so
    * the card is hash-stable cross-engine with no rounding convention.
    * One shuffle by the grouping key; the per-row predicates (Gopher
    * gate, tokenization, sha256) are absorbed map-side by partial
    * aggregation, and the output is |sources|·|langs| rows — card-sized
    * at any corpus scale. The distinct-digest count adds the standard
    * two-phase distinct-aggregate expansion; everything else is a plain
    * combinable sum.
    */
  def corpusReport(spark: SparkSession, dir: String): DataFrame =
    corpusReportOn(Tables.t(spark, dir, "documents"))

  /** [[corpusReport]] generalized over corpus and quality config — the
    * engine surface (the contract query is the default-config
    * instantiation over the fixture's (source, lang) grouping). `by`
    * chooses the card's grouping columns; the quality counter applies
    * `cfg`'s Gopher gate.
    */
  def corpusReportOn(docs: DataFrame, cfg: CurateConfig = CurateConfig(),
      by: Seq[String] = Seq("source", "lang")): DataFrame = {
    val byCols = by.map(col)
    docs
      .groupBy(byCols: _*)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(sha2(col("text"), 256)).as("n_uniq"),
        sum(new GopherRules(cfg).all.cast(LongType)).as("n_quality"),
        sum(size(split(col("text"), " ")).cast(LongType)).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(byCols: _*)
  }

  val corpusReportSql: String =
    s"""SELECT source, lang, count(*) AS n_docs,
       |  count(DISTINCT sha256(text)) AS n_uniq,
       |  CAST(sum(CASE WHEN ${Gopher.allSql} THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  max(n_chars) AS max_chars
       |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin

  /** Corpus-distribution DRIFT between two corpora — the monitoring
    * half of a continuously-ingesting training pipeline (§2.G): per
    * metric (n_chars bins, lang, source), the Population Stability
    * Index terms between a BASELINE corpus and a BATCH. PSI is the
    * standard ops drift score (Σ (p−q)·ln(p/q) over bins; < 0.1
    * stable, 0.1–0.25 moderate, > 0.25 shifted — thresholds are
    * industry convention, not engine claims); emitting the per-bin
    * TERMS keeps the output scalar-typed and lets an operator see
    * WHICH bin moved, not just that something did. Zero-count bins
    * clamp to 1e-6 (the standard PSI floor — a vanished or brand-new
    * bin contributes a large finite term, never ±∞). Every arithmetic
    * step is engine-parity-exact: counts are exact integers in double,
    * shares one division, the clamp a `greatest`, and the only
    * transcendental (`ln`) feeds the repo's explicit floor(x·10⁶+½)
    * quantization — last-ulp libm differences sit 9 orders of
    * magnitude below the rounding grain.
    *
    * Scale: one pass over each corpus (the metric melt is an explode,
    * not re-reads), two map-side-combinable counts, and a
    * bins-per-metric-sized join — nothing corpus-shaped shuffles.
    */
  def corpusDriftOn(baseline: DataFrame, batch: DataFrame,
      charBins: Seq[Long] = Seq(100L, 200L, 300L, 400L, 500L)): DataFrame =
    psiTermsOn(corpusBins(baseline, "base", charBins)
      .unionByName(corpusBins(batch, "batch", charBins)))

  /** The melted `(side, metric, bin)` rows of one corpus side — factored
    * out so a continuously-ingesting pipeline ([[graft.streaming
    * .CurateIngest]]) can aggregate the BASELINE side's bin counts once
    * at stream start ([[psiSideCounts]]) instead of re-melting the
    * baseline corpus on every micro-batch. `lang`/`source` coalesce
    * missing COLUMNS to null first, so a stream whose schema carries
    * neither still drifts on n_chars (all rows share the 'NULL' bin of
    * the absent metrics — zero PSI there by construction).
    */
  private[graft] def corpusBins(df: DataFrame, side: String,
      charBins: Seq[Long] = Seq(100L, 200L, 300L, 400L, 500L)): DataFrame = {
    def lbl(b: Long) = f"le$b%04d"
    def optCol(name: String) =
      if (df.columns.contains(name)) col(name)
      else lit(null).cast(org.apache.spark.sql.types.StringType)
    val first = when(col("n_chars") <= charBins.head, lbl(charBins.head))
    val charBin = charBins.tail.foldLeft(first)((acc, b) =>
      acc.when(col("n_chars") <= b, lbl(b)))
      .otherwise(f"gt${charBins.last}%04d")
    df.select(lit(side).as("side"),
      explode(array(
        struct(lit("n_chars").as("metric"), charBin.as("bin")),
        struct(lit("lang").as("metric"),
          coalesce(optCol("lang"), lit("NULL")).as("bin")),
        struct(lit("source").as("metric"),
          coalesce(optCol("source"), lit("NULL")).as("bin")))).as("mb"))
      .select(col("side"), col("mb.metric").as("metric"),
        col("mb.bin").as("bin"))
  }

  /** Shared PSI core over melted `(side, metric, bin)` rows — the
    * aggregation tail of [[corpusDriftOn]], factored so
    * [[VectorOps.vecDriftOn]] (the embedding twin) computes the exact
    * same score from its own binnings: two map-side-combinable counts, a
    * bins-per-metric-sized join, the 1e-6 clamp and the explicit
    * floor(x·10⁶+½) quantization. Arithmetic parity notes live on
    * [[corpusDriftOn]].
    */
  private[graft] def psiTermsOn(binned: DataFrame): DataFrame =
    psiFromCounts(psiSideCounts(binned))

  /** One side's aggregated bin counts `(side, metric, bin, n)` — the
    * PERSISTABLE baseline-profile form: at 100 TB the baseline side of a
    * per-batch drift monitor must be these ~30 rows computed once, not a
    * corpus re-melted every micro-batch ([[graft.streaming.CurateIngest]]
    * checkpoints exactly this frame at stream start).
    */
  private[graft] def psiSideCounts(binned: DataFrame): DataFrame =
    binned.groupBy(col("side"), col("metric"), col("bin"))
      .agg(count(lit(1)).as("n"))

  /** PSI terms from pre-aggregated side counts — [[psiTermsOn]]'s tail.
    * Bit-exact with the raw-row form: summing per-side counts yields the
    * same exact integers the conditional row count did, and every later
    * step (shares, clamp, quantization) is unchanged.
    */
  private[graft] def psiFromCounts(sideCounts: DataFrame): DataFrame = {
    val counts = sideCounts
      .groupBy(col("metric"), col("bin"))
      .agg(
        sum(when(col("side") === "base", col("n")).otherwise(0L)).cast(org.apache.spark.sql.types.DoubleType).as("nb"),
        sum(when(col("side") === "batch", col("n")).otherwise(0L)).cast(org.apache.spark.sql.types.DoubleType).as("nq"))
    val tot = counts.groupBy(col("metric"))
      .agg(sum(col("nb")).as("tb"), sum(col("nq")).as("tq"))
    def r6(c: Column) = floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    val p = greatest(col("nq") / col("tq"), lit(0.000001))
    val q = greatest(col("nb") / col("tb"), lit(0.000001))
    counts.join(tot, "metric")
      .select(col("metric"), col("bin"),
        r6(col("nb") / col("tb")).as("base_share"),
        r6(col("nq") / col("tq")).as("batch_share"),
        r6((p - q) * log(p / q)).as("psi_term"))
      .orderBy(col("metric"), col("bin"))
  }

  /** Pinned contract instantiation: the fixture corpus split by doc_id
    * parity as the baseline-vs-batch stand-in.
    */
  def corpusDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(spark, dir, "documents")
    corpusDriftOn(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
  }

  val corpusDriftSql: String =
    """WITH tagged AS (
      |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'base' ELSE 'batch' END AS side,
      |         CASE WHEN n_chars <= 100 THEN 'le0100' WHEN n_chars <= 200 THEN 'le0200'
      |              WHEN n_chars <= 300 THEN 'le0300' WHEN n_chars <= 400 THEN 'le0400'
      |              WHEN n_chars <= 500 THEN 'le0500' ELSE 'gt0500' END AS char_bin,
      |         COALESCE(lang, 'NULL') AS lang_bin,
      |         COALESCE(source, 'NULL') AS source_bin
      |  FROM documents),
      |bins AS (
      |  SELECT 'n_chars' AS metric, char_bin AS bin, side FROM tagged
      |  UNION ALL SELECT 'lang', lang_bin, side FROM tagged
      |  UNION ALL SELECT 'source', source_bin, side FROM tagged),
      |counts AS (
      |  SELECT metric, bin,
      |    CAST(sum(CASE WHEN side = 'base' THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
      |    CAST(sum(CASE WHEN side = 'batch' THEN 1 ELSE 0 END) AS DOUBLE) AS nq
      |  FROM bins GROUP BY metric, bin),
      |tot AS (SELECT metric AS tmetric, sum(nb) AS tb, sum(nq) AS tq
      |        FROM counts GROUP BY metric)
      |SELECT metric, bin,
      |  floor(nb / tb * 1000000.0 + 0.5) / 1000000.0 AS base_share,
      |  floor(nq / tq * 1000000.0 + 0.5) / 1000000.0 AS batch_share,
      |  floor((greatest(nq / tq, 0.000001) - greatest(nb / tb, 0.000001)) *
      |        ln(greatest(nq / tq, 0.000001) / greatest(nb / tb, 0.000001))
      |        * 1000000.0 + 0.5) / 1000000.0 AS psi_term
      |FROM counts JOIN tot ON metric = tmetric
      |ORDER BY metric, bin""".stripMargin

  // ------------------------------------------------------- quality gate

  /** The standard LLM-pipeline quality filter: length, word count and
    * language allowlist.
    */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val nWords = size(split(col("text"), " ")).cast(LongType)
    Tables.t(spark, dir, "documents")
      .withColumn("n_words", nWords)
      .filter(col("n_chars").between(100, 2000) &&
        col("n_words") >= 20 && col("lang").isin("en", "es", "de"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("n_words"))
      .orderBy(col("doc_id"))
  }

  val qualityFilterSql =
    """SELECT doc_id, lang, n_chars, len(string_split(text, ' ')) AS n_words
      |FROM documents
      |WHERE n_chars BETWEEN 100 AND 2000
      |  AND len(string_split(text, ' ')) >= 20
      |  AND lang IN ('en', 'es', 'de')
      |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- quality score

  private val stopwords = Seq("join", "filter", "select", "window", "stream")

  /** Composite quality score from deterministic integer-ratio features.
    * Every emitted ratio uses the exact-rational HALF_UP scheme
    * ([[Det.div6]]): score = 0.4·min(n_chars/500, 1) + 0.3·stop_ratio +
    * 0.3·distinct_ratio over the common denominator 5000·n_words, so no
    * per-row double ever sits on a round() boundary (a raw
    * `round(double, 6)` diverged between engines on one sf0.1 row).
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nW = size(toks).cast(LongType)
    val nStop = size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*))).cast(LongType)
    val nShort = size(filter(toks, t => length(t) <= 2)).cast(LongType)
    val nDist = size(array_distinct(toks)).cast(LongType)
    val scoreNum = least(col("n_chars"), lit(500L)) * lit(4L) * nW +
      lit(1500L) * (nStop + nDist)
    val scoreDen = lit(5000L) * nW
    Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        nW.as("n_words"),
        div6(col("n_chars"), nW).as("avg_word_len"),
        div6(nStop, nW).as("stop_ratio"),
        div6(nShort, nW).as("short_ratio"),
        div6(scoreNum, scoreDen).as("score"))
      .orderBy(col("doc_id"))
  }

  val qualityScoreSql: String = {
    val sw = stopwords.map(s => s"'$s'").mkString(", ")
    val toks = "string_split(text, ' ')"
    val nW = s"len($toks)"
    val nStop = s"len(list_filter($toks, t -> t IN ($sw)))"
    val nDist = s"len(list_distinct($toks))"
    val nShort = s"len(list_filter($toks, t -> length(t) <= 2))"
    val scoreNum = s"(least(n_chars, 500) * 4 * $nW + 1500 * ($nStop + $nDist))"
    val scoreDen = s"(5000 * $nW)"
    s"""SELECT doc_id, $nW AS n_words,
       |  ${Sql.div6("n_chars", nW)} AS avg_word_len,
       |  ${Sql.div6(nStop, nW)} AS stop_ratio,
       |  ${Sql.div6(nShort, nW)} AS short_ratio,
       |  ${Sql.div6(scoreNum, scoreDen)} AS score
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------- unigram LM quality score

  /** Unigram language-model quality scoring — the CCNet-style
    * "perplexity filter" made exact: train unigram counts over the
    * corpus itself, score each document by the mean negative log
    * probability of its token occurrences (low = boilerplate-typical,
    * high = rare/garbled). Real pipelines train the LM on a trusted
    * reference corpus and drop both tails; the self-trained contract
    * form exercises the identical plan.
    *
    * Exactness: the only transcendental (ln(total/cnt)) is computed ONCE
    * per DISTINCT token and immediately quantized to an integer
    * (floor(x·10⁶ + ½) — the PSI discipline; last-ulp libm differences
    * sit 9 orders below the grain), so the per-document aggregation is a
    * LONG sum — order-free and bit-equal on any engine — and the mean is
    * the exact HALF_UP rational floor((2s + n) / 2n) / 10⁶. No double is
    * ever summed.
    *
    * Scale: one token explode, a map-side-combinable vocab count, one
    * join keyed by token (vocab ≪ corpus occurrences), one per-doc LONG
    * aggregation — nothing quadratic, nothing collected.
    */
  def qualityUnigramLogprob(spark: SparkSession, dir: String): DataFrame =
    qualityUnigramLogprobOn(Tables.t(spark, dir, "documents"))

  /** [[qualityUnigramLogprob]] over any (doc_id, text) frame — the
    * engine surface. Production shape: compute `scored` once from the
    * TRUSTED reference corpus, persist it, and join each ingest batch
    * against the stored table (the drift-baseline posture).
    */
  def qualityUnigramLogprobOn(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
    val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    val scored = vocab.crossJoin(broadcast(total))
      .select(col("t"),
        floor(log(col("total").cast(DoubleType) / col("cnt")) *
          lit(1000000.0) + lit(0.5)).cast(LongType).as("lp_q"))
    tok.join(scored, "t")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp_q")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        (floor((col("s") * lit(2L) + col("n_tokens")) /
          (col("n_tokens") * lit(2L))) / lit(1000000.0))
          .cast(DoubleType).as("mean_logprob"))
      .orderBy(col("doc_id"))
  }

  val qualityUnigramLogprobSql: String =
    """WITH tok AS (
      |  SELECT doc_id, t
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |        FROM documents)
      |  WHERE t <> ''),
      |vocab AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
      |tot AS (SELECT sum(cnt) AS total FROM vocab),
      |scored AS (
      |  SELECT t, CAST(floor(ln(CAST(total AS DOUBLE) / cnt) * 1000000.0
      |    + 0.5) AS BIGINT) AS lp_q
      |  FROM vocab, tot)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(floor((sum(lp_q) * 2 + count(*)) / (count(*) * 2))
      |    / 1000000.0 AS DOUBLE) AS mean_logprob
      |FROM tok JOIN scored USING (t)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------- per-domain quality budgets

  /** Quality-budget selection — keep the best ⌈n/5⌉ documents of EACH
    * source by [[qualityScore]]'s exact-rational score (ties break to
    * the smaller doc_id): the "top-X% per domain" pass production
    * pipelines run between scoring and training, where a global
    * threshold would let one high-scoring domain crowd out the rest.
    * The budget test is pure integer arithmetic (rk·5 ≤ n+4 ⇔
    * rk ≤ ⌈n/5⌉), and the score itself is the quantized rational
    * [[Det.div6]] emits, so ranking is deterministic cross-engine.
    *
    * Scale: one score pass (per-row expressions), one window keyed by
    * source — the shuffle is by domain, group sizes are domain sizes;
    * a skew-prone domain keys the same salting story as any windowed
    * top-k ([[Relational]] q_topk_group discussion).
    */
  def selectQualityBudget(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nW = size(toks).cast(LongType)
    val nStop = size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*))).cast(LongType)
    val nDist = size(array_distinct(toks)).cast(LongType)
    val scoreNum = least(col("n_chars"), lit(500L)) * lit(4L) * nW +
      lit(1500L) * (nStop + nDist)
    val scoreDen = lit(5000L) * nW
    selectBudgetOn(Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        div6(scoreNum, scoreDen).as("score")))
  }

  /** The budget selection over any scored (doc_id, source, score)
    * frame — the engine surface: keep the best ⌈n·num/den⌉ docs per
    * source (ties to the smaller doc_id). The budget test is pure
    * integer arithmetic: rk ≤ ⌈n·num/den⌉ ⇔ rk·den ≤ n·num + den − 1.
    */
  def selectBudgetOn(scored: DataFrame, num: Long = 1L,
      den: Long = 5L): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"budget fraction must be in (0, 1], got $num/$den")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored
      .withColumn("rk", row_number().over(w).cast(LongType))
      .withColumn("n_src", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source")))
        .cast(LongType))
      .filter(col("rk") * lit(den) <= col("n_src") * lit(num) + lit(den - 1L))
      .select(col("source"), col("rk"), col("doc_id"), col("score"))
      .orderBy(col("source"), col("rk"))
  }

  val selectQualityBudgetSql: String = {
    val sw = stopwords.map(s => s"'$s'").mkString(", ")
    val toks = "string_split(text, ' ')"
    val nW = s"len($toks)"
    val nStop = s"len(list_filter($toks, t -> t IN ($sw)))"
    val nDist = s"len(list_distinct($toks))"
    val scoreNum = s"(least(n_chars, 500) * 4 * $nW + 1500 * ($nStop + $nDist))"
    val scoreDen = s"(5000 * $nW)"
    s"""WITH scored AS (
       |  SELECT doc_id, source, ${Sql.div6(scoreNum, scoreDen)} AS score
       |  FROM documents),
       |ranked AS (
       |  SELECT source, doc_id, score,
       |    row_number() OVER (PARTITION BY source
       |                       ORDER BY score DESC, doc_id ASC) AS rk,
       |    count(*) OVER (PARTITION BY source) AS n_src
       |  FROM scored)
       |SELECT source, rk, doc_id, score FROM ranked
       |WHERE rk * 5 <= n_src + 4
       |ORDER BY source, rk""".stripMargin
  }

  // ------------------------------------------------------- language ID

  /** Token-overlap language ID: argmax over tiny per-language lexicons
    * with a deterministic (count DESC, lang ASC) tiebreak. A real corpus
    * would use character n-gram profiles; the fixture vocabulary is
    * synthetic, so the lexicons are arbitrary but the operator shape —
    * explode → broadcast-join lexicon → per-doc argmax — is the 100 TB one.
    */
  private val lexicon: Seq[(String, String)] = Seq(
    "en" -> "join", "en" -> "select", "en" -> "table",
    "es" -> "filter", "es" -> "window", "es" -> "stream",
    "de" -> "group", "de" -> "order", "de" -> "index",
    "fr" -> "merge", "fr" -> "sort", "fr" -> "hash")

  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lex = broadcast(lexicon.toDF("guess_lang", "word"))
    val docs = Tables.t(spark, dir, "documents")
    val hits = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(lex, "word")
      .groupBy(col("doc_id"), col("guess_lang"))
      .agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("hits").desc, col("guess_lang").asc)
    val best = hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("guess_lang"), col("hits"))
    docs.select(col("doc_id"), col("lang"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("guess_lang"), lit("unknown")).as("guess"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .orderBy(col("doc_id"))
  }

  val textLangidSql: String = {
    val values = lexicon.map { case (l, w) => s"('$l', '$w')" }.mkString(", ")
    s"""WITH lex(guess_lang, word) AS (VALUES $values),
       |hits AS (
       |  SELECT doc_id, guess_lang, count(*) AS hits
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) t
       |  JOIN lex USING (word)
       |  GROUP BY doc_id, guess_lang),
       |best AS (
       |  SELECT doc_id, guess_lang, hits FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |                                 ORDER BY hits DESC, guess_lang ASC) AS rn
       |    FROM hits)
       |  WHERE rn = 1)
       |SELECT d.doc_id, d.lang, coalesce(b.guess_lang, 'unknown') AS guess,
       |  coalesce(b.hits, 0) AS hits
       |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ------------------------------------------------------ token counting

  /** Whitespace vs BPE-ish regex token counts. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_ws"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast(LongType).as("n_bpe"),
        length(regexp_replace(col("text"), " ", "")).cast(LongType).as("n_chars_ns"))
      .orderBy(col("doc_id"))

  val tokenCountSql =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_ws,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
      |  length(replace(text, ' ', '')) AS n_chars_ns
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- n-grams

  /** Corpus-wide top-20 bigrams by occurrence count (total, not distinct)
    * — the n-gram statistics primitive of text analysis. The bigram
    * stream rides the native [[org.apache.spark.sql.graft.Ngrams]]
    * expression (per row, no window shuffle); only the count aggregate
    * shuffles, map-side combined. Deterministic total order (count DESC,
    * bigram ASC) so both engines cut the same top-20.
    */
  def ngramTop(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "documents")
      .select(explode(org.apache.spark.sql.graft.ShingleExpressions
        .ngrams(col("text"), 2, distinct = false)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(20)

  val ngramTopSql =
    """WITH bg AS (
      |  SELECT unnest([array_to_string(string_split(text, ' ')[i:i+1], ' ')
      |                 for i in range(1, len(string_split(text, ' ')))]) AS bigram
      |  FROM documents)
      |SELECT bigram, count(*) AS n FROM bg
      |GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin

  // -------------------------------------------------------- fingerprint

  /** Content-defined fingerprint: sha256 of the sorted distinct token
    * set — invariant under token reordering/duplication, the property a
    * dedup fingerprint needs.
    */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        sha2(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ")))), 256)
          .as("fingerprint"))
      .orderBy(col("doc_id"))

  val docFingerprintSql =
    """SELECT doc_id,
      |  sha256(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Polynomial rolling-hash fingerprint over the token stream — the
    * order-SENSITIVE complement of [[docFingerprint]] (which is invariant
    * under reordering). Pure integer math, exact on both engines: token
    * value v = 131·len + ascii(first char); h ← (h·1000003 + v) mod
    * 2^31−1, folded left-to-right (h < 2^31, h·1000003 < 2^51 — no Long
    * overflow).
    */
  def fingerprintRolling(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val vals = transform(toks, t =>
      length(t).cast(LongType) * lit(131L) + ascii(substring(t, 1, 1)).cast(LongType))
    Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        aggregate(vals, lit(0L),
          (acc, v) => (acc * lit(1000003L) + v) % lit(2147483647L)).as("rhash"))
      .orderBy(col("doc_id"))
  }

  val fingerprintRollingSql =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text, ' '),
      |        t -> CAST(length(t) AS BIGINT) * 131 + CAST(ascii(substring(t, 1, 1)) AS BIGINT))),
      |    (a, v) -> (a * 1000003 + v) % 2147483647) AS rhash
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------- deterministic splits

  /** Engine-portable deterministic pseudo-random key: multiplicative hash
    * in a 1000003 (prime) residue ring — exact BIGINT math on both
    * engines (max intermediate ≈ 2.7e15 ≪ 2^63), stable across runs,
    * partitionings and engines, which is precisely what a reproducible
    * train/test split needs (a `rand(seed)` would be engine-specific).
    * Collisions across ids congruent mod 1000003 only tie the sort; the
    * id tiebreak keeps results exact.
    */
  private def detHash(c: Column): Column =
    (c % 1000003L) * 2654435761L % 1000003L

  private val detHashSql = (c: String) => s"(($c) % 1000003) * 2654435761 % 1000003"

  /** Reproducible 80/10/10 train/valid/test assignment by hash bucket —
    * the split every training pipeline materializes. Pure per-row
    * integer math: no shuffle, no RNG state, identical on any engine or
    * cluster size.
    */
  def sampleSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        (detHash(col("doc_id")) % 10L).as("bucket"))
      .select(col("doc_id"), col("lang"), col("bucket"),
        when(col("bucket") < 8, "train")
          .when(col("bucket") < 9, "valid")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))

  val sampleSplitSql: String =
    s"""SELECT doc_id, lang, ${detHashSql("doc_id")} % 10 AS bucket,
       |  CASE WHEN ${detHashSql("doc_id")} % 10 < 8 THEN 'train'
       |       WHEN ${detHashSql("doc_id")} % 10 < 9 THEN 'valid'
       |       ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin

  /** LEAKAGE-SAFE split: hash the near-dup CLUSTER representative, not
    * the document — so a train/test boundary can never run through a
    * duplicate family. [[sampleSplit]]'s per-doc hash silently leaks:
    * two J ≥ 0.5 near-copies land in different buckets whenever their
    * ids hash apart, and the test set then "evaluates" on paraphrases
    * of training documents — the contamination mode decontamination
    * exists to stop, reintroduced by the split itself. Same 80/10/10
    * hash arithmetic, applied to the [[clusterLabels]] rep (docs in no
    * cluster are their own rep), so the invariant is structural:
    * same cluster ⇒ same rep ⇒ same bucket ⇒ same split (LawsSpec pins
    * it against the exact pair set).
    *
    * Scale: the labels are the memoized CC output the dedup family
    * already builds; the split itself is one left join plus per-row
    * integer math.
    */
  def splitLeakageSafe(spark: SparkSession, dir: String): DataFrame =
    splitLeakageSafeOn(Tables.t(spark, dir, "documents"),
      clusterLabels(spark, dir))

  /** The leakage-safe split over any (doc_id, …) frame and any
    * (id, rep) cluster-label frame — the engine surface: feed it the
    * labels of whichever dedup family fits the corpus (exact-jaccard
    * CC here; LSH/semantic labels work identically — any labeling
    * where "same cluster" means "must not straddle the boundary").
    */
  def splitLeakageSafeOn(docs: DataFrame, labels: DataFrame): DataFrame = {
    val bucket = detHash(col("rep")) % 10L
    docs.select(col("doc_id"))
      .join(labels.select(col("id"), col("rep")),
        col("doc_id") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
      .select(col("doc_id"), col("rep"), bucket.as("bucket"),
        when(bucket < 8, "train").when(bucket < 9, "valid")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  val splitLeakageSafeSql: String =
    s"""$clusterCteSql,
       |$clustersCteSql
       |SELECT doc_id, rep, ${detHashSql("rep")} % 10 AS bucket,
       |  CASE WHEN ${detHashSql("rep")} % 10 < 8 THEN 'train'
       |       WHEN ${detHashSql("rep")} % 10 < 9 THEN 'valid'
       |       ELSE 'test' END AS split
       |FROM clusters ORDER BY doc_id""".stripMargin

  /** Duplication-rate report per source — the corpus-health number a
    * crawl operator watches per ingest feed: docs whose exact content
    * already exists under a smaller doc_id count as duplicates, shares
    * via the exact-rational [[Det.div6]]. One digest groupBy (map-side
    * combinable) plus one digest-keyed join back — the q_dedup_exact
    * plan with a per-source rollup.
    */
  def dupRateBySource(spark: SparkSession, dir: String): DataFrame =
    dupRateBySourceOn(Tables.t(spark, dir, "documents"))

  /** [[dupRateBySource]] over any (doc_id, source, text) frame. */
  def dupRateBySourceOn(input: DataFrame): DataFrame = {
    val docs = input
      .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("digest"))
    val firsts = docs.groupBy(col("digest")).agg(min(col("doc_id")).as("keeper"))
    docs.join(firsts, "digest")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keeper"), 1L).otherwise(0L)).as("n_dup"))
      .select(col("source"), col("n_docs"), col("n_dup"),
        div6(col("n_dup"), col("n_docs")).as("dup_share"))
      .orderBy(col("source"))
  }

  val dupRateBySourceSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, sha256(text) AS digest FROM documents),
       |firsts AS (SELECT digest, min(doc_id) AS keeper FROM d GROUP BY digest)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |  ${Sql.div6("sum(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END)",
      "count(*)")} AS dup_share
       |FROM d JOIN firsts USING (digest)
       |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------- cross-source overlap matrix

  /** Pairwise source-overlap matrix — which ingest feeds carry each
    * other's content: for every source pair, the number of distinct
    * 8-token windows both emit, plus the containment share
    * n_shared / min(|A|, |B|) (exact rational, [[Det.div6]]). The
    * provenance diagnostic behind feed triage: a pair with high
    * containment means one feed is substantially a re-crawl/mirror of
    * the other, so its marginal value is low and its dup pressure on
    * [[dedupExact]]/[[dupSpans]] is explained. Windows rather than
    * whole-doc digests because cross-feed copying is rarely
    * byte-identical — mirrors re-wrap, truncate, and concatenate
    * (exact cross-source doc dups are EMPTY at sf ≤ 0.01 while window
    * overlap is dense at every SF).
    *
    * Scale: the (source, window)-distinct projection is one map-side-
    * combinable aggregation keyed by (source, win); the self-join is
    * keyed by window string with per-window fan-out bounded by
    * #sources² (feeds, not corpus) — the hottest boilerplate window
    * shared by all feeds costs |S|² rows, never O(docs²); the rollup
    * output is ≤ C(|S|, 2) rows.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapOn(Tables.t(spark, dir, "documents"),
      materialize = false)

  /** [[sourceOverlap]] over any (source, text) frame at a chosen window
    * width (the engine surface; the contract pins width 8 — the
    * [[dupSpans]] span key).
    *
    * `materialize` (default ON for the engine surface): the
    * (source, win)-distinct frame feeds THREE consumers (the per-source
    * counts and both sides of the pair join) and Catalyst shares no
    * subplans, so the stateless plan re-runs the corpus window explode
    * 3× (PLANS.md's honest-cost note) — one eager [[Materialize]]
    * makes it scan-once, bit-identical. The CONTRACT row passes false:
    * its stateless plan is the PlanCanary-pinned shape. The blocks are
    * executor-local by default; on a cluster with executor churn set
    * `spark.graft.materialize=reliable` for durable ones.
    */
  def sourceOverlapOn(input: DataFrame, width: Int = 8,
      materialize: Boolean = true): DataFrame = {
    require(width > 0, s"window width must be positive, got $width")
    val w0 = input
      .select(col("source"), explode(org.apache.spark.sql.graft
        .ShingleExpressions.ngrams(col("text"), width, distinct = true))
        .as("win"))
      .distinct()
    val w = if (materialize) Materialize(w0) else w0
    val counts = w.groupBy(col("source")).agg(count(lit(1)).as("n_wins"))
    val pairs = w.select(col("win"), col("source").as("source_a"))
      .join(w.select(col("win"), col("source").as("source_b")), Seq("win"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(counts.select(col("source").as("source_a"),
        col("n_wins").as("n_a"))), Seq("source_a"))
      .join(broadcast(counts.select(col("source").as("source_b"),
        col("n_wins").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        div6(col("n_shared"), least(col("n_a"), col("n_b"))).as("containment"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val sourceOverlapSql: String =
    s"""WITH w0 AS (
       |  SELECT source, unnest([array_to_string(string_split(text, ' ')[i:i+7], ' ')
       |                 for i in range(1, len(string_split(text, ' ')) - 6)]) AS win
       |  FROM documents),
       |w AS (SELECT DISTINCT source, win FROM w0),
       |counts AS (SELECT source, count(*) AS n_wins FROM w GROUP BY source),
       |p AS (
       |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
       |  FROM w a JOIN w b ON a.win = b.win AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, n_shared,
       |  ${Sql.div6("n_shared", "least(ca.n_wins, cb.n_wins)")} AS containment
       |FROM p JOIN counts ca ON p.source_a = ca.source
       |       JOIN counts cb ON p.source_b = cb.source
       |ORDER BY source_a, source_b""".stripMargin

  // --------------------------------------------- corpus novelty curve

  /** Corpus saturation curve — how much NEW content each successive
    * ingest tranche adds: docs bucket by arrival order (doc_id div 50 —
    * ingest-ordered ids are the fixture's arrival proxy; a real feed
    * buckets by ingest day), and per bucket the curve reports distinct
    * 8-token windows seen vs windows whose GLOBAL first occurrence
    * lands in that bucket, with the exact novelty share
    * ([[Det.div6]]). A sagging curve is the stop-crawling signal: each
    * marginal tranche is re-paying for content the corpus already has
    * (the crawl-budget twin of [[dupRateBySource]]'s per-feed view).
    *
    * Scale: both aggregations key by window string and are map-side
    * combinable (distinct (bucket, win) and min-doc_id-per-win); the
    * rollups and the final left join are buckets-sized. One corpus
    * explode feeds both branches — nothing pairs, nothing collects.
    */
  def noveltyCurve(spark: SparkSession, dir: String): DataFrame =
    noveltyCurveOn(Tables.t(spark, dir, "documents"),
      materialize = false)

  /** [[noveltyCurve]] over any (doc_id, text) frame at a chosen window
    * width and bucket size — the engine surface (point `bucketDocs` at
    * your ids-per-day). Requires non-negative doc_ids (div-bucketing).
    *
    * `materialize` (default ON): the window explode feeds TWO
    * differently-keyed groupings and would run twice un-checkpointed —
    * the [[sourceOverlapOn]] rationale, including the contract row's
    * stateless pinned plan (false) and the cluster-churn caveat.
    */
  def noveltyCurveOn(input: DataFrame, width: Int = 8,
      bucketDocs: Long = 50L, materialize: Boolean = true): DataFrame = {
    require(width > 0 && bucketDocs > 0,
      s"need positive width/bucketDocs, got $width/$bucketDocs")
    val w0 = input.select(col("doc_id"), explode(org.apache.spark.sql.graft
      .ShingleExpressions.ngrams(col("text"), width, distinct = true))
      .as("win"))
    val w = if (materialize) Materialize(w0) else w0
    val nd = w.select(expr(s"doc_id div $bucketDocs").as("bucket"), col("win"))
      .distinct()
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_distinct"))
    val nn = w.groupBy(col("win")).agg(min(col("doc_id")).as("f_doc"))
      .groupBy(expr(s"f_doc div $bucketDocs").as("bucket"))
      .agg(count(lit(1)).as("n_new"))
    nd.join(nn, Seq("bucket"), "left")
      .select(col("bucket"), col("n_distinct"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        div6(coalesce(col("n_new"), lit(0L)), col("n_distinct"))
          .as("novelty"))
      .orderBy(col("bucket"))
  }

  val noveltyCurveSql: String =
    s"""WITH w0 AS (
       |  SELECT doc_id, unnest([array_to_string(string_split(text, ' ')[i:i+7], ' ')
       |                 for i in range(1, len(string_split(text, ' ')) - 6)]) AS win
       |  FROM documents),
       |w AS (SELECT DISTINCT doc_id, win FROM w0),
       |nd AS (
       |  SELECT bucket, count(*) AS n_distinct FROM (
       |    SELECT DISTINCT doc_id // 50 AS bucket, win FROM w)
       |  GROUP BY bucket),
       |nn AS (
       |  SELECT f_doc // 50 AS bucket, count(*) AS n_new
       |  FROM (SELECT win, min(doc_id) AS f_doc FROM w GROUP BY win)
       |  GROUP BY 1)
       |SELECT nd.bucket, n_distinct, coalesce(n_new, 0) AS n_new,
       |  ${Sql.div6("coalesce(n_new, 0)", "n_distinct")} AS novelty
       |FROM nd LEFT JOIN nn USING (bucket)
       |ORDER BY bucket""".stripMargin

  /** Deterministic stratified sample: 10 docs per language, chosen by the
    * hash order (uniform-ish, reproducible) with doc_id tiebreak. The
    * per-stratum window is the 100 TB shape too: shuffle by stratum,
    * WindowGroupLimit prunes each partition to the top-k before the sort
    * completes.
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(detHash(col("doc_id")).asc, col("doc_id").asc)
    Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .orderBy(col("lang"), col("rk"))
  }

  val sampleStratifiedSql: String =
    s"""SELECT doc_id, lang, rk FROM (
       |  SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY ${detHashSql("doc_id")} ASC, doc_id ASC) AS rk
       |  FROM documents)
       |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin

  // ------------------------------------- weighted reservoir sampling

  /** Weighted reservoir sampling per stratum — Efraimidis–Spirakis A-ES
    * ("Weighted random sampling with a reservoir", IPL 2006): each doc
    * gets key u^(1/w) with u uniform in (0,1) and w its weight; the
    * top-k keys per group ARE a weighted-without-replacement sample —
    * the sampling-family member [[sampleStratified]] (uniform) and
    * [[domainResample]] (rate-based Bernoulli to a target mix) lack:
    * exact-size samples where heavier docs are proportionally likelier.
    * Deterministic end-to-end: u derives from the engine's integer hash
    * ([[Det.detHash]], mirrored in SQL), so both engines compute the
    * SAME keys and pick the SAME sample — no RNG, reproducible at any
    * partitioning. Weight = n_chars here (longer docs likelier — the
    * usual token-budget-aware corpus subsample); the per-group top-k is
    * a per-stratum window exactly like [[sampleStratified]]'s (bounded
    * groups, never a global sort).
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    // u in (0, 1): (detHash + 1) / 1000004 — detHash ranges 0..1000002
    val u = (detHash(col("doc_id")) + lit(1.0)) / lit(1000004.0)
    val skey = pow(u, lit(1.0) / greatest(col("n_chars"), lit(1L)))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("skey").desc, col("doc_id").asc)
    Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("skey", skey)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"),
        round(col("skey"), 6).as("skey"))
      .orderBy(col("lang"), col("rk"))
  }

  val sampleWeightedSql: String =
    s"""SELECT lang, rk, doc_id, n_chars, round(skey, 6) AS skey FROM (
       |  SELECT doc_id, lang, n_chars,
       |    pow((${detHashSql("doc_id")} + 1.0) / 1000004.0,
       |        1.0 / greatest(n_chars, 1)) AS skey,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY pow((${detHashSql("doc_id")} + 1.0) / 1000004.0,
       |                   1.0 / greatest(n_chars, 1)) DESC,
       |               doc_id ASC) AS rk
       |  FROM documents)
       |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin

  // --------------------------------------------- decontamination check

  /** Benchmark decontamination: for every document in the `test` split
    * ([[sampleSplit]]'s hash buckets), count the distinct 3-shingles it
    * shares with ANY `train` document — nonzero means the eval example
    * leaks into training data. The join shuffles by shingle (docs only
    * meet through a shared shingle, as in [[neardupJaccard]]), the train
    * side is reduced to distinct shingles first — at 100 TB that's the
    * decontamination pass run before every model release.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateOn(Tables.t(spark, dir, "documents"), CurateConfig())

  /** [[decontaminate]] generalized over corpus and config: train/test
    * assignment by the deterministic hash split (bucket <
    * `trainBucketsBelow` trains, ≥ `testBucketsFrom` is eval) and the
    * contamination gate as the config's exact rational (shared shingles
    * ≥ num/den of the doc's shingles — Long cross-multiplication, no
    * double boundary). The defaults are the contract constants.
    */
  def decontaminateOn(docs: DataFrame, cfg: CurateConfig): DataFrame = {
    val bucket = detHash(col("doc_id")) % 10L
    val sh = shingleRows(docs)
    val trainSh = sh.filter(bucket < cfg.trainBucketsBelow).select(col("s")).distinct()
    val testSh = sh.filter(bucket >= cfg.testBucketsFrom)
    val shared = testSh.join(trainSh, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    contamVerdicts(docs, cfg, testSh, shared)
  }

  // ------------------------------------------- persisted eval-shingle index

  /** Persist the distinct 3-shingles of an eval corpus under
    * `path/shingles` with the standard `batch=` index layout — the
    * durable form of the decontamination reference set. A streaming
    * curation loop ([[graft.streaming.CurateIngest]]) reads it per
    * micro-batch, so ADDING eval examples mid-stream
    * ([[appendEvalIndex]]) changes verdicts from the very next batch —
    * no restart, the lifecycle every other index here already has.
    * The build runs in the fail-closed bracket ([[IndexStore.build]]):
    * a crash mid-rebuild fails closed instead of silently
    * decontaminating against a partial eval set.
    */
  def writeEvalIndex(evalDocs: DataFrame, path: String): Unit =
    IndexStore.build(evalDocs.sparkSession, path, Seq("shingles")) { init =>
      shingleRows(evalDocs.select(col("doc_id"), col("text")))
        .select(col("s")).distinct()
        .write.mode("overwrite").parquet(init("shingles"))
    }

  /** Grow the eval index: only shingles NOT already stored land in the
    * increment's `batch=tag` dir, so the stored rows stay a SET —
    * [[readEvalShingles]] never dedups, and the contamination count
    * (shared distinct shingles) cannot double-count one shingle that
    * two eval batches both contain. The own-tag exemption makes an
    * at-least-once replay rewrite itself; a replay AFTER compaction
    * folded the tag writes an empty increment (its shingles already
    * live in `batch=init`) — the union is unchanged either way.
    */
  def appendEvalIndex(evalDocs: DataFrame, path: String, tag: String): Unit =
    IndexStore.append(evalDocs.sparkSession, path, tag, Seq("shingles")) {
      inc =>
        val fresh = shingleRows(evalDocs.select(col("doc_id"), col("text")))
          .select(col("s")).distinct()
        // same own-tag-exempt growth-only law as
        // VectorOps.dropExistingVecIds, but the direct anti-join shape,
        // not its broadcast-intersection inversion: eval corpora are
        // small on BOTH sides (AQE broadcasts whichever is smaller),
        // whereas the cells guard anti-joins a small batch against a
        // corpus-sized store and must never shuffle it
        fresh.join(inc.others("shingles").select(col("s")), Seq("s"),
            "left_anti")
          .write.mode("overwrite").parquet(inc.dir("shingles"))
    }

  /** The stored distinct eval shingles — one `s` column, a set by the
    * append-time anti-join — live, or AS OF a recorded tag: the
    * append-time anti-join makes each increment exactly the tag's NOVEL
    * shingles, so a history prefix is the eval set's state at that
    * admit, partition-pruned.
    */
  def readEvalShingles(spark: SparkSession, path: String,
      asOf: Option[String] = None): DataFrame =
    IndexStore.open(spark, path, Seq("shingles"), IndexStore.View.of(asOf))(
      "shingles").select(col("s"))

  /** Fold the eval index's increments into one `batch=init` level
    * ([[IndexStore.compact]]). No closed replay windows needed: a
    * replayed append after its tag was folded writes an empty increment
    * (see [[appendEvalIndex]]), never a duplicate.
    */
  def compactEvalIndex(spark: SparkSession, path: String,
      numFiles: Int = 0): Unit =
    IndexStore.compact(spark, path, Seq("shingles"), numFiles)

  /** [[decontaminateOn]] with bloom-filter semi-join pruning — the
    * explicit 100 TB form. The exact pass shuffles EVERY train and test
    * shingle by `s` just to discover that almost none match; here each
    * side is first probed against a bloom filter of the other
    * ([[org.apache.spark.sql.graft.BloomFunctions]] — the same
    * expression pair Catalyst's own InjectRuntimeFilter wires in above
    * its 10 GB threshold, built deliberately so the plan exists at any
    * scale). Blooms are built from RAW rows (duplicates don't change a
    * bloom — no distinct before the build; the train-side distinct runs
    * AFTER pruning, over survivors only), then the pruned sides meet in
    * the same exact join. Bloom filters have no false negatives, so the
    * output is bit-identical to [[decontaminateOn]] at ANY sizing —
    * `expectedShingles`/`numBits` trade only shuffle volume (false-
    * positive rate), never correctness. Oracled by the SAME SQL as the
    * exact query.
    */
  def decontaminateBloomOn(docs: DataFrame, cfg: CurateConfig = CurateConfig(),
      expectedShingles: Long = 1L << 22, numBits: Long = 1L << 26): DataFrame = {
    import org.apache.spark.sql.graft.BloomFunctions
    val bucket = detHash(col("doc_id")) % 10L
    val sh = shingleRows(docs)
    val trainShRaw = sh.filter(bucket < cfg.trainBucketsBelow).select(col("s"))
    val testSh = sh.filter(bucket >= cfg.testBucketsFrom)
    val bTrain = trainShRaw
      .agg(BloomFunctions.bloomAgg(xxhash64(col("s")), expectedShingles, numBits).as("bf"))
    val bTest = testSh.select(col("s"))
      .agg(BloomFunctions.bloomAgg(xxhash64(col("s")), expectedShingles, numBits).as("bf"))
    val prunedTrain = trainShRaw
      .filter(BloomFunctions.mightContain(bTest, xxhash64(col("s")))).distinct()
    val prunedTest = testSh
      .filter(BloomFunctions.mightContain(bTrain, xxhash64(col("s"))))
    val shared = prunedTest.join(prunedTrain, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    contamVerdicts(docs, cfg, testSh, shared)
  }

  /** Shared verdict tail of the exact and bloom-pruned decontamination
    * paths: per-test-doc shingle sizes, overlap ratio, and the exact
    * rational contamination gate.
    */
  private def contamVerdicts(docs: DataFrame, cfg: CurateConfig,
      testSh: DataFrame, shared: DataFrame): DataFrame = {
    val bucket = detHash(col("doc_id")) % 10L
    val sizes = testSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    contamScores(docs.filter(bucket >= cfg.testBucketsFrom)
        .select(col("doc_id")), cfg, sizes, shared)
      .orderBy(col("doc_id"))
  }

  /** THE contamination gate — one implementation of (n_shared, n_sh,
    * overlap, contaminated) over candidate doc ids, shared by the
    * hash-split path ([[contamVerdicts]]), the eval-index batch path
    * ([[decontaminateIndexed]]) and the streaming stage
    * ([[graft.streaming.CurateIngest]]), so the exact rational predicate
    * cannot drift between any two of them. Unordered — callers that
    * emit it as a result add their own ORDER BY.
    */
  private[graft] def contamScores(docIds: DataFrame, cfg: CurateConfig,
      sizes: DataFrame, shared: DataFrame): DataFrame = {
    val nSh = coalesce(col("n_sh"), lit(0L))
    val nShared = coalesce(col("n_shared"), lit(0L))
    docIds
      .join(sizes, Seq("doc_id"), "left")
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), nShared.as("n_shared"), nSh.as("n_sh"),
        when(nSh === 0L, lit(0.0)).otherwise(div6(nShared, nSh)).as("overlap"),
        (nShared * cfg.minContamRatio._2 >= nSh * cfg.minContamRatio._1 && nSh > 0L)
          .as("contaminated"))
  }

  /** Pinned contract instantiation of [[decontaminateBloomOn]]. */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame =
    decontaminateBloomOn(Tables.t(spark, dir, "documents"))

  /** Decontaminate a corpus against a PERSISTED eval-shingle index
    * ([[writeEvalIndex]]) — the production batch shape: the eval set is
    * an external artifact (the benchmark release), not a hash-split of
    * the corpus, and its shingling is already paid at index build.
    * EVERY doc is scored (no train/test bucketing — the whole corpus is
    * candidate training data); the verdict columns and the exact
    * rational gate are [[decontaminateOn]]'s, bit-identical by shared
    * code, so batch one-shot runs and the streaming loop's per-batch
    * stage ([[graft.streaming.CurateIngest]]) agree on every doc. With
    * `asOf`: "which training docs would we have flagged against the
    * eval set as of release R" ([[readEvalShingles]]). Read-only.
    */
  def decontaminateIndexed(docs: DataFrame, path: String,
      cfg: CurateConfig = CurateConfig(),
      asOf: Option[String] = None): DataFrame = {
    val evalSh = readEvalShingles(docs.sparkSession, path, asOf)
    val sh = shingleRows(docs.select(col("doc_id"), col("text")))
    contamScores(docs.select(col("doc_id")), cfg,
      sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh")),
      sh.join(evalSh, "s").groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared")))
      .orderBy(col("doc_id"))
  }

  private val bucketSql = (c: String) => s"${detHashSql(c)} % 10"

  /** Decontamination CTE fragment over an in-scope `e(doc_id, s)` shingle
    * relation — ONE copy of the train-shingle set, test-doc sizes and
    * overlap counts, shared by [[decontaminateSql]] and [[curateSql]] so
    * the contamination predicate cannot drift between the standalone
    * query and the composed pipeline.
    */
  private val contamCtesSql: String =
    s"""train_sh AS (SELECT DISTINCT s FROM e WHERE ${bucketSql("doc_id")} < 8),
       |sizes AS (
       |  SELECT doc_id, count(*) AS n_sh FROM e
       |  WHERE ${bucketSql("doc_id")} >= 9 GROUP BY doc_id),
       |shared AS (
       |  SELECT e.doc_id, count(*) AS n_shared
       |  FROM e JOIN train_sh USING (s)
       |  WHERE ${bucketSql("e.doc_id")} >= 9
       |  GROUP BY e.doc_id)""".stripMargin

  val decontaminateSql: String = {
    val bucket = bucketSql
    s"""WITH sh AS ($shingledSql),
       |e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |$contamCtesSql
       |SELECT d.doc_id,
       |  coalesce(shared.n_shared, 0) AS n_shared,
       |  coalesce(sizes.n_sh, 0) AS n_sh,
       |  CASE WHEN coalesce(sizes.n_sh, 0) = 0 THEN 0.0
       |       ELSE ${Sql.div6("coalesce(shared.n_shared, 0)", "coalesce(sizes.n_sh, 0)")}
       |  END AS overlap,
       |  (coalesce(shared.n_shared, 0) * 2 >= coalesce(sizes.n_sh, 0)
       |   AND coalesce(sizes.n_sh, 0) > 0) AS contaminated
       |FROM documents d
       |LEFT JOIN sizes ON d.doc_id = sizes.doc_id
       |LEFT JOIN shared ON d.doc_id = shared.doc_id
       |WHERE ${bucket("d.doc_id")} >= 9
       |ORDER BY d.doc_id""".stripMargin
  }

  // --------------------------------------------------- sequence packing

  /** GPT-style sequence packing (concatenate-and-chunk): documents are
    * laid end-to-end in doc_id order and cut into fixed 2048-token
    * training sequences; each doc reports its global token offset and the
    * first/last chunk it lands in. The global running sum goes through
    * [[graft.operators.PrefixSum]] — the two-phase distributed scan —
    * NOT a partitionless window (which would collapse 100 TB into one
    * task). Oracle: DuckDB global-window running sum, same arithmetic.
    */
  def packChunks(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.t(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
    graft.operators.PrefixSum
      .withRunningSum(toks, "doc_id", "n_tokens", "end_off")
      .select(col("doc_id"), col("n_tokens"),
        (col("end_off") - col("n_tokens")).as("start_off"),
        floor((col("end_off") - col("n_tokens")) / 2048.0).cast(LongType).as("chunk_first"),
        floor((col("end_off") - 1) / 2048.0).cast(LongType).as("chunk_last"))
      .orderBy(col("doc_id"))
  }

  val packChunksSql: String =
    """WITH t AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
      |    sum(len(string_split(text, ' '))) OVER (
      |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off
      |  FROM documents)
      |SELECT doc_id, n_tokens,
      |  CAST(end_off - n_tokens AS BIGINT) AS start_off,
      |  CAST(floor((end_off - n_tokens) / 2048.0) AS BIGINT) AS chunk_first,
      |  CAST(floor((end_off - 1) / 2048.0) AS BIGINT) AS chunk_last
      |FROM t ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- redaction

  /** PII-style redaction: whole-word masking of a sensitive-token list
    * with a per-row hit count — the content-hygiene pass every training
    * pipeline runs before publishing a corpus. Pure per-row regexp (no
    * shuffle); the pattern uses only RE2-and-Java-common syntax
    * (alternation + \b word boundaries) so both engines match
    * identically. The fixture vocabulary has no digits/emails, so the
    * masked class is a token list — the operator shape is the same.
    */
  private val redactPattern = "\\b(customer|key|index)\\b"

  def textRedact(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        regexp_replace(col("text"), redactPattern, "<PII>").as("redacted"),
        size(regexp_extract_all(col("text"), lit(redactPattern), lit(0)))
          .cast(LongType).as("n_redacted"))
      .orderBy(col("doc_id"))

  val textRedactSql: String =
    s"""SELECT doc_id,
       |  regexp_replace(text, '$redactPattern', '<PII>', 'g') AS redacted,
       |  len(regexp_extract_all(text, '$redactPattern')) AS n_redacted
       |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ duplicated spans

  /** Repeated-span detection (the within-corpus duplicated-substring
    * signal used to strip boilerplate before training): every 8-token
    * window of every doc, windows shared by ≥2 DISTINCT docs, and per-doc
    * counts of duplicated-window occurrences. Shuffles by window string —
    * the bounded candidate key, same scale shape as the shingle join: docs
    * never meet unless they share a full 8-gram. Windows are built with
    * posexplode + 7 lead()s + concat (the [[shingleRows]] pattern): array
    * lambdas are interpreted while the window form stays in whole-stage
    * codegen (the same rewrite cut this query 4.6 s → ~1 s at sf0.1).
    */
  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    val tk = split(col("text"), " ")
    // the 8-token window stream rides the native Ngrams expression (the
    // r1 shape was posexplode + 7 lead()s — a sort-by-doc shuffle just
    // to reassemble adjacency the row already had)
    val w = Tables.t(spark, dir, "documents")
      .select(col("doc_id"), explode(org.apache.spark.sql.graft
        .ShingleExpressions.ngrams(col("text"), 8, distinct = false)).as("win"))
    val dup = w.groupBy(col("win"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select(col("win"))
    w.join(dup, Seq("win"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_windows"))
      .join(Tables.t(spark, dir, "documents")
        .select(col("doc_id"),
          greatest(size(tk) - lit(7), lit(0)).cast(LongType).as("n_windows")),
        Seq("doc_id"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"))
      .orderBy(col("doc_id"))
  }

  val dupSpansSql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest([array_to_string(string_split(text, ' ')[i:i+7], ' ')
      |                 for i in range(1, len(string_split(text, ' ')) - 6)]) AS win
      |  FROM documents),
      |dup AS (SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) >= 2),
      |per_doc AS (
      |  SELECT doc_id, count(*) AS n_dup_windows
      |  FROM w JOIN dup USING (win) GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(greatest(len(string_split(text, ' ')) - 7, 0) AS BIGINT) AS n_windows,
      |  n_dup_windows
      |FROM documents d JOIN per_doc ON d.doc_id = per_doc.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // -------------------------------------- segment (paragraph) dedup

  /** Global first occurrence of each distinct segment string: the
    * lexicographically least (doc_id, idx) over `segs(doc_id, idx,
    * seg)`; every other occurrence — later docs AND later repeats
    * inside the same doc — is dropped. groupBy-min + equi-join rather
    * than a row_number window: the aggregation is map-side combinable,
    * so a segment repeated across millions of docs (boilerplate) is
    * pre-reduced to one row per task before the only shuffle, where the
    * window form would sort the hottest segment's occurrences in one
    * partition.
    */
  private def firstSegmentOccurrences(segs: DataFrame): DataFrame = {
    val firsts = segs.groupBy(col("seg"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
      .select(col("seg"), col("f.doc_id").as("f_doc"), col("f.idx").as("f_idx"))
    segs.join(firsts, Seq("seg"))
      .filter(col("doc_id") === col("f_doc") && col("idx") === col("f_idx"))
      .select(col("doc_id"), col("idx"), col("seg"))
  }

  /** Reassemble each doc from its surviving segments (in original
    * order, joined by `joiner`) plus kept/total counts; docs whose
    * every segment was dropped stay present with empty text — the
    * pipeline downstream decides whether to discard them.
    */
  private def assembleKept(segs: DataFrame, keptSegs: DataFrame,
      joiner: String): DataFrame = {
    val kept = keptSegs
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(joiner,
          transform(array_sort(collect_list(struct(col("idx"), col("seg")))),
            x => x.getField("seg"))).as("clean_text"))
    segs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_seg"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_seg"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-wide segment dedup with text reassembly — the
    * paragraph-dedup pass of production training-data pipelines (drop
    * every paragraph already seen anywhere in the corpus, keep only its
    * first occurrence, stitch the survivors back into the document),
    * with deterministic fixed-width segmentation: segment i of a doc is
    * tokens [i·width, (i+1)·width). The fixture texts carry no newlines,
    * so width-token segments stand in for paragraphs here;
    * [[dedupParagraphsAt]] is the delimiter-split surface for real
    * corpora. Scale shape: explode to (doc, segment) and shuffle by
    * segment string — docs never meet unless they share a full segment —
    * then one shuffle by doc to reassemble; both aggregations partial.
    */
  /** (doc_id, idx, seg) rows of fixed-width segments — the codegen'd
    * Segments expression (the transform/sequence/slice lambda it
    * replaces runs interpreted per element; ShingleExprSpec pins the
    * equivalence law).
    */
  private def segmentRows(docs: DataFrame, width: Int): DataFrame = {
    require(width > 0, s"segment width must be positive, got $width")
    val segArr = org.apache.spark.sql.graft.ShingleExpressions
      .segments(col("text"), width)
    docs.select(col("doc_id"), posexplode(segArr).as(Seq("idx", "seg")))
  }

  def dedupSegmentsAt(docs: DataFrame, width: Int): DataFrame = {
    val segs = segmentRows(docs, width)
    assembleKept(segs, firstSegmentOccurrences(segs), joiner = " ")
  }

  /** [[dedupSegmentsAt]] with natural paragraph boundaries — split on a
    * literal delimiter (default blank line), dedup corpus-wide, rejoin
    * survivors with the same delimiter. The engine surface a user points
    * at a real crawl corpus.
    */
  def dedupParagraphsAt(docs: DataFrame, delim: String = "\n\n"): DataFrame = {
    require(delim.nonEmpty, "paragraph delimiter must be non-empty")
    val paras = split(col("text"), java.util.regex.Pattern.quote(delim))
    val segs = docs.select(col("doc_id"), posexplode(paras).as(Seq("idx", "seg")))
    assembleKept(segs, firstSegmentOccurrences(segs), joiner = delim)
  }

  /** Rewritten-corpus view of [[dedupSegmentsAt]]: the input frame with
    * `text` replaced by the survivor reassembly and `n_chars` recomputed,
    * every other column carried through — the shape a curation stage (or
    * any downstream consumer) composes over. Docs whose every segment
    * was dropped stay present with empty text; callers decide their fate
    * ([[curateOn]] drops them as `segment_dup`). Same two-shuffle scale
    * shape as the underlying dedup plus one join back on doc_id.
    */
  def rewriteSegmentsAt(docs: DataFrame, width: Int): DataFrame =
    rewriteSegmentsCounted(docs, width).drop("n_kept")

  /** [[rewriteSegmentsAt]] plus the surviving-segment count — `n_kept = 0`
    * is the "emptied by the rewrite" criterion ([[curateOn]]'s
    * segment_dup). NOT `text == ""`: an empty-text doc carries one empty
    * segment, and its first occurrence legitimately survives with
    * `n_kept = 1` while still reassembling to "" — that doc was empty on
    * arrival, not emptied by dedup, and belongs to the quality gate.
    * Null-text docs produce no segment rows at all; the LEFT join keeps
    * them with their original (null) text and `n_kept = 1`, so the
    * composed pipeline verdicts every input doc exactly once — the same
    * contract the plain pipeline upholds.
    */
  private def rewriteSegmentsCounted(docs: DataFrame, width: Int): DataFrame =
    docs
      .withColumnRenamed("text", "graft_orig_text")
      .withColumnRenamed("n_chars", "graft_orig_n_chars")
      .join(dedupSegmentsAt(docs, width)
          .select(col("doc_id"), col("clean_text"), col("n_kept")),
        Seq("doc_id"), "left")
      .withColumn("text",
        when(col("n_kept").isNotNull, col("clean_text"))
          .otherwise(col("graft_orig_text")))
      .withColumn("n_chars",
        when(col("n_kept").isNotNull, length(col("clean_text")).cast(LongType))
          .otherwise(col("graft_orig_n_chars")))
      .withColumn("n_kept", coalesce(col("n_kept"), lit(1L)))
      .drop("clean_text", "graft_orig_text", "graft_orig_n_chars")

  /** Incremental segment dedup against a PERSISTED seen-set — the
    * production posture of paragraph dedup: a continuously-ingesting
    * corpus dedups each new batch against everything already admitted,
    * never re-reading old text. The index at `path/seen` holds one
    * sha256 per admitted segment (batch= layout, [[VectorOps]]'s
    * replay-idempotent increment discipline: re-running a tag overwrites
    * itself; [[compactSegmentIndex]] folds increments). A batch's output
    * = within-batch first occurrences anti-joined against the seen-set;
    * its novel hashes are appended under `batch=tag` so the NEXT batch
    * sees them. When batches arrive in doc_id order this equals the
    * global [[dedupSegmentsAt]] restricted to the batch's docs —
    * spec-pinned (NeardupDeltaSpec discipline). Replay window:
    * re-running a live tag reproduces its first run bit-identically;
    * [[compactSegmentIndex]] CLOSES that window for the tags it folds
    * (recorded in-index), and replaying a closed tag fails fast.
    *
    * Scale: the seen-set is the only corpus-sized artifact touched per
    * batch, and only through one hash anti-join (shuffle by hash); old
    * documents are never re-segmented.
    */
  def segmentDedupDelta(spark: SparkSession, path: String, batch: DataFrame,
      width: Int, tag: String): DataFrame =
    segmentDedupAt(spark, path, batch, width, IndexStore.View.Excluding(tag))

  /** [[segmentDedupDelta]]'s read-only as-of probe: the batch's
    * segment-level rewrite against the seen-set snapshot at `asOf`. */
  def segmentDedupDeltaAsOf(spark: SparkSession, path: String,
      batch: DataFrame, width: Int, asOf: String): DataFrame =
    segmentDedupAt(spark, path, batch, width, IndexStore.View.AsOf(asOf))

  private def segmentDedupAt(spark: SparkSession, path: String,
      batch: DataFrame, width: Int, view: IndexStore.View): DataFrame = {
    // the width is part of the index's identity: hashes of width-8
    // segments share nothing with width-12 segmentation of the same
    // text, so a config drift between runs silently stops finding dups —
    // record it on first contact, refuse a mismatch after
    val segs = segmentRows(batch, width)
    val within = firstSegmentOccurrences(segs)
      .withColumn("h", sha2(col("seg"), 256))
    val kept = seenDelta(spark, path, within, s"width=$width", view)
    assembleKept(segs, kept.select(col("doc_id"), col("idx"), col("seg")),
      joiner = " ")
  }

  /** Record-on-first-contact / refuse-on-mismatch knobs a seen-set
    * index's every probe must repeat (segment width, normalization
    * flag), pinned in `path/_params` at the index ROOT, outside `seen/`,
    * so compaction swaps never touch it. The VectorOps cosine index has
    * the same discipline ([[VectorOps.writeCosineIndex]] `_lsh_params`);
    * seen-set indexes are created lazily by their first delta, so the
    * record happens at the first admit rather than in a build function.
    */
  private def seenPin(params: String): IndexStore.Pin =
    IndexStore.Pin("seen", params,
      "would hash under a different scheme and silently stop finding " +
        "duplicates")

  /** The seen-set delta core shared by [[segmentDedupDelta]] (segment
    * hashes) and [[exactDedupDelta]] (whole-doc digests) and their
    * as-of probes: `within` rows carry an `h` hash column and any
    * payload; rows whose hash the seen-set holds under `view` are
    * anti-joined away.
    *
    * At `Excluding(tag)` (an ADMIT) the tag's own partition is excluded
    * — an at-least-once replay must see exactly the state its first run
    * saw — the survivors' hashes are appended under `batch=tag`, and the
    * survivors are returned MATERIALIZED (the caller's frame must not
    * lazily re-read an index that now contains its own hashes).
    * Compaction ([[compactSegmentIndex]]) ENDS the replay window for the
    * tags it folds. At `AsOf(t)` the probe is read-only (params
    * validated, nothing admitted): re-running batch N's docs as of tag
    * N-1 reproduces batch N's original output bit-for-bit after the
    * live index has moved arbitrarily far — the release-pinning
    * property q_dedup_asof hash-verifies end-to-end.
    */
  private def seenDelta(spark: SparkSession, path: String,
      within: DataFrame, params: String, view: IndexStore.View)
      : DataFrame = {
    def against(seen: DataFrame) =
      within.join(seen.select(col("h")), Seq("h"), "left_anti")
    view match {
      case IndexStore.View.Excluding(tag) =>
        IndexStore.append(spark, path, tag, Seq("seen"),
            Some(seenPin(params))) { inc =>
          val kept = Materialize.cut(against(inc.others("seen", "h STRING")))
          kept.select(col("h"))
            .write.mode("overwrite").parquet(inc.dir("seen"))
          kept
        }
      case _ =>
        against(IndexStore.open(spark, path, Seq("seen"), view,
          Some(seenPin(params)))("seen", "h STRING"))
    }
  }

  /** [[exactDedupDelta]]'s read-only as-of probe: the batch's dedup
    * question against exactly the state some earlier admit left behind
    * (nothing admitted, no history entry). */
  def exactDedupDeltaAsOf(spark: SparkSession, path: String,
      batch: DataFrame, asOf: String,
      normalize: Boolean = false): DataFrame =
    exactDedupAt(spark, path, batch, normalize, IndexStore.View.AsOf(asOf))

  /** Per-batch novelty against the persisted seen-segment index — the
    * incremental twin of [[noveltyCurve]], riding state
    * [[segmentDedupDelta]] already maintains (zero extra artifacts):
    * ONE row (n_distinct, n_new, novelty) for the batch's distinct
    * width-token segments vs everything prior admits recorded.
    * Read-only: no `_params` re-record (admit = false, the r15 probe
    * posture), no seen write, no history entry — an operator loop polls
    * it per ingest batch the way it reads the drift side output, and a
    * sagging novelty series is the same stop-crawling signal as the
    * batch curve. With `asOf`: what the batch's novelty WAS at that
    * point of the admit order.
    *
    * Scale: the batch's own segment explode + distinct, then one
    * hash-keyed join against the index — the shape
    * [[segmentDedupDelta]] already pays, minus the write.
    */
  def noveltyDelta(spark: SparkSession, path: String, batch: DataFrame,
      width: Int, asOf: Option[String] = None): DataFrame = {
    // the seen side joins WITHOUT a distinct: index hashes are unique by
    // the admit discipline (within-batch first occurrences, anti-joined
    // against every prior batch, replays overwriting their own dir, and
    // compaction folding disjoint sets) — a defensive distinct here
    // would shuffle the corpus-sized index on every poll. `n_new`
    // coalesces to 0 on an empty/short batch (a zero-row global sum is
    // NULL).
    val seen = IndexStore.open(spark, path, Seq("seen"),
      IndexStore.View.of(asOf), Some(seenPin(s"width=$width")))(
      "seen", "h STRING").select(col("h"))
    segmentRows(batch, width)
      .select(sha2(col("seg"), 256).as("h")).distinct()
      .join(seen.withColumn("is_seen", lit(1L)), Seq("h"), "left")
      .agg(count(lit(1)).as("n_distinct"),
        coalesce(sum(when(col("is_seen").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_new"))
      .select(col("n_distinct"), col("n_new"),
        when(col("n_distinct") === 0, lit(0.0))
          .otherwise(div6(col("n_new"), col("n_distinct"))).as("novelty"))
  }

  // ------------------------- containment postings index (incremental)

  /** Persisted shingle-POSTINGS index behind the containment stage's
    * streaming form: (h = sha256(3-shingle), doc) rows of every KEPT
    * doc under the seen-set lifecycle (batch= layout, `_params` pin,
    * `_history` sidecar, fold-sentinel compaction) — the seen-set WITH
    * doc attribution, which is what lets a probe compute the
    * per-(new, stored) intersection the directional containment
    * verdict needs (anonymous hashes cannot say WHICH stored doc
    * contains the batch doc).
    *
    * Scale note: the probe joins the batch's shingle hashes against the
    * postings keyed by h — a boilerplate shingle posted by many kept
    * docs is a hot bucket (the direct containment join's hazard). The
    * probe caps each shingle's postings and re-asks the docs carrying
    * an over-cap shingle through the asymmetric rarest-first prefix
    * probe ([[crossContainmentPairsPrefixRarest]]) — exact either way.
    */
  private val ContainmentPin = IndexStore.Pin("postings", "shingles=3",
    "would post under a different shingle scheme and silently stop " +
      "finding containment")

  /** Containment pairs of a batch vs the index + within the batch, in
    * [[graft.streaming.IngestDedup]]'s admit convention: `cross` rows
    * drop their c1 (a batch doc ≥ `threshold` contained in a STORED
    * doc — keep-first, the stored copy already shipped), within rows
    * drop their c2 (the contained side of a batch pair whose container
    * is BETTER by the keep-best injective (n_chars, −doc_id) order —
    * the batch stage's directional rule, so stream and batch verdicts
    * agree wherever keep-first == keep-best). Requires (doc_id, text,
    * n_chars). Part of an ADMITTING batch (records `_params` on first
    * contact; the stored side excludes the tag's own increment); the
    * as-of probe is the read-only form of its cross half.
    */
  def containmentDeltaIndexed(spark: SparkSession, path: String,
      batch: DataFrame, threshold: Double, tag: String): DataFrame = {
    // ONE shingle pass feeds both halves (materialized per the session
    // [[graft.operators.Materialize]] policy — the 3-shingle explode is
    // the batch's dominant per-stage cost)
    val e = Materialize(hashedShingles(batch))
    val cross = containmentCross(spark, path, e, threshold,
      IndexStore.View.Excluding(tag))
    val within = betterContainerPairs(
        containmentPairsOf(e, threshold)
          .select(col("contained"), col("container")),
        batch.select(col("doc_id"), col("n_chars")))
      .select(col("container").as("c1"), col("contained").as("c2"),
        lit(false).as("cross"))
    cross.unionByName(within)
  }

  /** The cross-batch half AS OF a recorded tag — read-only (no
    * `_params` record, no history): which stored docs contained each
    * batch doc at that point of the admit order.
    */
  def containmentDeltaIndexedAsOf(spark: SparkSession, path: String,
      batch: DataFrame, threshold: Double, asOf: String): DataFrame =
    // materialized like the admit path: the probe references the hashed
    // frame twice (broadcast key set + probe side) and Catalyst shares
    // no subplans
    containmentCross(spark, path,
      Materialize(hashedShingles(batch)), threshold,
      IndexStore.View.AsOf(asOf))

  /** The one cross-probe body of the live and as-of entry points: the
    * hashed batch `e` against the stored postings under `view`. DIRECT
    * probe by measurement (the prefix probe ran 1.5× SLOWER at sf0.1 and
    * ×4 replication, BASELINE.md), hot shingles capped at
    * [[MaxPostingsPerShingle]].
    */
  private def containmentCross(spark: SparkSession, path: String,
      e: DataFrame, threshold: Double, view: IndexStore.View): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    val idx = IndexStore.open(spark, path, Seq("postings"), view,
      Some(ContainmentPin), admitPin = view.isInstanceOf[IndexStore.View.Excluding])
    crossContainmentPairs(e,
      idx("postings", "h STRING, doc LONG").select(col("h"), col("doc")),
      threshold)
  }

  /** (doc_id, n, key = sha256(shingle)) rows of a (doc_id, text) frame
    * — the hashed probe-side frame of the postings index family.
    */
  private[graft] def hashedShingles(batch: DataFrame): DataFrame =
    shingleArrs(batch.select(col("doc_id"), col("text")))
      .select(col("doc_id"), size(col("shingles")).cast(LongType).as("n"),
        explode(col("shingles")).as("s"))
      .select(col("doc_id"), col("n"), sha2(col("s"), 256).as("key"))

  /** Post the KEPT docs' shingle hashes under `batch=tag` — called with
    * the batch's FINAL keepers (the every-index-holds-the-kept-corpus
    * invariant); replay overwrites its own dir with identical content.
    */
  def appendContainmentIndex(spark: SparkSession, path: String,
      keepers: DataFrame, tag: String): Unit =
    IndexStore.append(spark, path, tag, Seq("postings"),
        Some(ContainmentPin)) { inc =>
      shingleRows(keepers.select(col("doc_id"), col("text")))
        .select(sha2(col("s"), 256).as("h"), col("doc_id").as("doc"))
        .write.mode("overwrite").parquet(inc.dir("postings"))
    }

  /** Fold every postings batch into `batch=init` (the seen-set
    * compaction discipline: fold sentinel, history reset, closed
    * replay windows).
    */
  def compactContainmentIndex(spark: SparkSession, path: String,
      numFiles: Int = 0): Unit =
    IndexStore.compact(spark, path, Seq("postings"), numFiles,
      closeWindows = true)

  /** Forced-broadcast cap for the probe's key-set restriction:
    * ~2M 64-char hex keys ≈ 200 MB in-memory — far under Spark's 8 GB
    * broadcast hard limit and the driver heap, while covering any
    * sane micro-batch (≈ 6k novel docs' worth of distinct shingles
    * per 1M keys).
    */
  private val MaxBroadcastKeys = 2000000L

  /** Per-shingle postings cap for the probe join — the
    * [[graft.operators.BandedHamming]] hot-bucket discipline applied to
    * the containment probe: the probe is h-keyed, so a universal
    * boilerplate shingle posted by millions of kept docs makes its
    * bucket |batch docs carrying it| × |postings| quadratic at 100 TB.
    * Over-cap shingles leave the guarded join with one WARN (codegen'd
    * [[org.apache.spark.sql.graft.WarnHotBucket]], min-doc marker row).
    * The cap is a COST bound, not a correctness one: the batch docs that
    * carry an over-cap shingle are re-asked through the rarest-first
    * prefix machinery ([[crossContainmentPairsPrefixRarest]]) against
    * the FULL postings and unioned, so the probe is bit-identical to the
    * ungated direct join. It is far above any honest shingle's df at
    * sane batch sizes (it bounds postings PER SHINGLE, not corpus size).
    */
  private[graft] val MaxPostingsPerShingle: Int =
    graft.operators.BandedHamming.DefaultMaxBucket

  /** Cross pairs of a hashed batch frame (doc_id, n, key) vs stored
    * (h, doc) postings — exactly the DIRECT join's pairs (every batch
    * key meets every stored posting of that key), which the prefix
    * probe below is spec-pinned bit-identical to. The route is chosen
    * only by what the batch shows: a batch whose keys fit the broadcast
    * bound runs an in-plan hot-key check, then the plain join (no key
    * over `maxPostings`) or the literal hot split; an oversized batch
    * runs the subplan hot split. `maxPostings` is the
    * [[MaxPostingsPerShingle]] constant in production; specs pass a
    * tiny cap to force the hot route, or `Int.MaxValue` for the ungated
    * reference.
    */
  private[graft] def crossContainmentPairs(e: DataFrame, stored: DataFrame,
      threshold: Double,
      maxPostings: Int = MaxPostingsPerShingle): DataFrame = {
    // restrict the stored postings to the BATCH's key set first (the
    // probe discipline every delta family follows — the cosine index's
    // broadcast intersection is the precedent): without it, once the
    // batch outgrows the auto-broadcast threshold the pair join
    // shuffles the CORPUS-sized postings every micro-batch; with it
    // the postings are pruned map-side against the broadcast key set.
    // The forced broadcast is SIZE-GUARDED: a backfill-scale batch
    // past the cap falls back to the plain join (slow-but-correct
    // corpus shuffle) instead of dying on the 8 GB broadcast limit —
    // an unguarded hint would turn exactly the big-batch regime the
    // restriction targets into a hard failure (review catch).
    // The guard's count is BOUNDED, not exact: limit(cap + 1) lets the
    // job stop as soon as cap + 1 distinct keys exist instead of
    // running a full distinct+count over the batch's shingle hashes on
    // every probe call — the answer ("≤ cap or not") is identical.
    // The key array is collected only on the path that uses it (the
    // in-plan hot check's restricted-literal frame), after the bounded
    // count proved it ≤ cap rows: the big-batch fallback regime never
    // materializes the 2M+1-string array.
    // The MAIN plan keeps the SUBPLAN broadcast form on purpose: a
    // LocalRelation literal would make `restricted` look tiny to the
    // size estimator and flip the pair join to a statically-planned
    // broadcast of the postings (measured: 2-3× slower at the ×4 probe
    // — collect + broadcast of the whole restricted frame); the check
    // job and the hot branches, whose joins are small-side by
    // construction, use the literal.
    val keys = e.select(col("key").as("h")).distinct()
    val sess = e.sparkSession
    import sess.implicits._
    val hotRouted = maxPostings != Int.MaxValue
    val restrictedByKeys =
      keys.limit(MaxBroadcastKeys.toInt + 1).count() <= MaxBroadcastKeys
    val restricted =
      if (restrictedByKeys) stored.join(broadcast(keys), Seq("h"))
      else stored
    // DRIVER-SIDE hot-key detection (the hot route's plan-shape
    // switch): one aggregate job over the restricted postings answers
    // "does ANY shingle exceed the cap" BEFORE the probe plan is built.
    // The overwhelmingly common answer is no — and then the guard
    // itself is a proven no-op, so the probe runs the PLAIN direct
    // join: no window, no sort, no anti-join, no split — strictly
    // fewer stages than the guarded plan (a one-plan hybrid measured
    // 1.25-1.5x the guard on ContainScale probes purely in stage
    // latency; this shape removes all of it). The check's price is one
    // extra restricted-postings aggregate scan per probe — stated in
    // BASELINE.md's ContainScale table. Hot keys, when they exist, are
    // COLLECTED (bounded) and re-enter the plan as a broadcast literal:
    // the hybrid plan then references a LocalRelation instead of
    // re-computing the hot-key subtree in every branch. Bounds: in the
    // restricted regime hot keys <= batch keys <= the 2M broadcast
    // bound; the collect cap below guards the degenerate remainder, and
    // the big-batch fallback regime (corpus-wide postings, no key
    // restriction) never collects — it keeps the subplan form.
    val maxHotKeysCollected = 1 << 20
    val hotCollected: Option[Array[(String, Long)]] =
      (if (!hotRouted || !restrictedByKeys) None
       else Some(stored.join(
           broadcast(keys.as[String].collect().toSeq.toDF("h")), Seq("h"))
         .groupBy(col("h")).agg(count(lit(1)).as("__n"))
         .filter(col("__n") > lit(maxPostings.toLong))
         .limit(maxHotKeysCollected + 1)
         .collect().map(r => (r.getString(0), r.getLong(1)))))
        .filter(_.length <= maxHotKeysCollected)
    // hot-shingle guard (see [[MaxPostingsPerShingle]]): the window
    // form (BandedHamming.keepSmall over a window by h — the one copy of
    // the warn/marker discipline) pre-shuffles the postings by the pair
    // join's own key, and that exchange is REUSED by the sort-merge
    // join (an aggregation + anti-join guard measured 2.2× SLOWER on
    // the ×4 backfill probe, ContainScale r16, BASELINE.md: the
    // anti-join re-evaluates the restricted postings a second time).
    // Warn once per hot shingle, at-least-once on retries: the window
    // fires WarnHotBucket on its min-doc marker row and on the subplan
    // hot-key count row (returns false, so `!…` KEEPS the key); the
    // collected-literal hot route warns driver-side through the same
    // WarnHotBucket channel.
    // The hot-set join carries NO forced broadcast hint: in the
    // big-batch fallback regime a boilerplate-heavy corpus can have a
    // multi-GB hot set, and the same unguarded-hint failure the
    // broadcast(keys) note above records would turn the guard into a
    // hard 8 GB-limit death — AQE broadcasts the (normally ~empty)
    // side on its own when small.
    // make the h-keyed exchange EXPLICIT (repartition is byte-for-byte
    // the exchange the window would insert — the pair join already
    // reuses it) so the hot branch's postings consumers in this plan
    // hang off the SAME shuffle (subplan-form hot route only; the
    // literal form never re-derives hot keys in-plan).
    lazy val postsForHot = restricted.repartition(col("h"))
    lazy val guarded = graft.operators.BandedHamming.keepSmall(
      graft.operators.BandedHamming.markBuckets(
        postsForHot, "doc", Seq("h"), Nil),
      "doc", Seq("h"), maxPostings)
    lazy val hotKeys = postsForHot.groupBy(col("h"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > lit(maxPostings.toLong))
      .filter(!org.apache.spark.sql.graft.WarnHotBucket.column(
        col("h"), col("__n")))
      .select(col("h"))
    def pairsOf(probe: DataFrame, posts: DataFrame): DataFrame =
      probe.join(posts, col("key") === col("h"))
        .filter(col("doc_id") =!= col("doc"))
        .groupBy(col("doc_id"), col("n"), col("doc"))
        .agg(count(lit(1)).as("inter"))
        .filter(round(col("inter") / col("n"), 6) >= threshold)
        .select(col("doc_id").as("c1"), col("doc").as("c2"),
          lit(true).as("cross"))
    // Hot-route: a batch doc carrying NO over-cap shingle gets an EXACT
    // verdict from the guarded join (dropping a shingle it never
    // carries cannot change its inter counts), so the guard's
    // under-report slack only ever touches docs that carry a hot
    // shingle. Split the batch on that line: cold docs keep the
    // guarded plan; hot docs are re-asked EXACTLY through the
    // rarest-first prefix probe against the FULL restricted postings —
    // the rarest ordering keeps the hot lists out of candidate
    // generation whenever the doc has enough rare shingles, and the
    // union is bit-identical to the ungated direct join. The split
    // costs ONE e-by-doc_id window (row-hotness from a broadcastable
    // hot-key join, lifted to doc-hotness; both halves filter the same
    // frame) — and it only ever runs when hot keys EXIST.
    def hotSplit(hk: DataFrame): DataFrame = {
      val flagged = e.join(hk, col("key") === col("h"), "left_outer")
        .withColumn("__hot",
          max(col("h").isNotNull).over(Window.partitionBy(col("doc_id"))))
        .drop("h")
      val eCold = flagged.filter(!col("__hot")).drop("__hot")
      val eHot = flagged.filter(col("__hot")).drop("__hot")
      pairsOf(eCold, guarded)
        .unionByName(crossContainmentPairsPrefixRarest(eHot, postsForHot,
          threshold))
    }
    hotCollected match {
      case _ if !hotRouted || hotCollected.exists(_.isEmpty) =>
        // uncapped, or proven cap-clean: the guard would be an identity
        // filter, so run the UNGATED join. The repartition is
        // load-bearing, not a pessimization: without it Catalyst's
        // join-cardinality estimate through the keys intersection reads
        // `restricted` as tiny and statically BROADCASTS the postings
        // side of the pair join (measured 3× slower at the ×4 probe:
        // collect + broadcast of the whole restricted frame, no AQE
        // revisit of a static BHJ); forcing the h exchange pins the
        // shuffled hash/merge join — the window form was only ever fast
        // for the same reason.
        pairsOf(e, restricted.repartition(col("h")))
      case Some(hotArr) =>
        // in-plan hot keys came from the batch-restricted postings, so
        // every one is batch-carried: warn them all
        hotArr.foreach { case (h, n) =>
          org.apache.spark.sql.graft.WarnHotBucket.hit(h, n) }
        hotSplit(broadcast(hotArr.map(_._1).toSeq.toDF("h")))
      case None =>
        // big-batch fallback regime (or a degenerate over-cap collect):
        // subplan-form hot keys, AQE owns the (normally large) hot set
        hotSplit(hotKeys)
    }
  }

  /** [[crossContainmentPairs]]' hot-route probe: the EXACT asymmetric
    * prefix probe with the prefix ordered RAREST FIRST (ascending stored
    * df, ties on key) — candidates from each batch doc's first
    * n − ⌈t·n⌉ + 2 keys, then an exact per-pair count restricted to the
    * CANDIDATE containers' postings and candidate pairs. The pigeonhole argument is
    * order-free (any n − ⌈t·n⌉ + 2 of the doc's shingles must hit a
    * shared one), so ANY fixed ordering is exact; rarest-first is the
    * one that keeps over-cap boilerplate lists out of candidate
    * generation whenever the doc carries enough rare shingles — a hot
    * shingle enters the prefix only when the doc has fewer than
    * prefix-length rarer ones, which is exactly the
    * genuinely-all-boilerplate doc whose candidates ARE that list.
    * Keys unseen in the stored postings rank first (df 0): they
    * produce no candidates and cost nothing. Every stored reference is
    * first restricted to the probe docs' key set, so the frames this
    * builds are bounded by the probe side (plus the restricted lists'
    * postings), not the corpus.
    */
  private[graft] def crossContainmentPairsPrefixRarest(e: DataFrame,
      stored: DataFrame, threshold: Double): DataFrame = {
    val pk = e.select(col("key")).distinct()
    val storedP = stored.join(pk, col("h") === col("key")).drop("key")
    val dfByKey = storedP.groupBy(col("h")).agg(count(lit(1)).as("__df"))
    val t = threshold - 5e-7
    val ranked = e.join(dfByKey, col("key") === col("h"), "left")
      .withColumn("__df", coalesce(col("__df"), lit(0L)))
      .drop("h")
    val wo = Window.partitionBy(col("doc_id"))
      .orderBy(col("__df"), col("key"))
    val cand = ranked
      .withColumn("r", row_number().over(wo))
      .filter(col("r") <= col("n") - ceil(lit(t) * col("n")) + lit(2L))
      .select(col("doc_id"), col("key"))
      .join(storedP, col("key") === col("h"))
      .filter(col("doc_id") =!= col("doc"))
      .select(col("doc_id"), col("doc")).distinct()
    e.join(storedP.join(cand.select(col("doc")).distinct(), Seq("doc")),
        col("key") === col("h"))
      .select(col("doc_id"), col("n"), col("doc"))
      .join(cand, Seq("doc_id", "doc"))
      .groupBy(col("doc_id"), col("n"), col("doc"))
      .agg(count(lit(1)).as("inter"))
      .filter(round(col("inter") / col("n"), 6) >= threshold)
      .select(col("doc_id").as("c1"), col("doc").as("c2"),
        lit(true).as("cross"))
  }

  /** Store-then-answer contract pin of the as-of machinery, end-to-end:
    * two doc_id-parity batches of the corpus are admitted in order
    * (tags t0, t1) into a scratch exact-dedup index, then batch t1's
    * QUESTION is re-asked against the index AS OF t0 — after the live
    * index has already admitted t1 itself. The snapshot answer must
    * equal what t1's original run returned (first-in-batch docs whose
    * digest t0 did not admit), which the oracle recomputes from the raw
    * corpus — so the hash match verifies the history sidecar, the
    * prefix resolution, and the partition-pruned snapshot read as one
    * observable property: a release pinned to a tag reproduces forever.
    */
  def dedupAsOf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(spark, dir, "documents")
    val tmp = EventOps.scratchDir(spark, "graft_asof")
    try {
      val idx = s"$tmp/idx"
      def b(i: Int) = docs.filter(col("doc_id") % 2 === i)
      exactDedupDelta(spark, idx, b(0), "t0")
      exactDedupDelta(spark, idx, b(1), "t1")
      // cut: the lazy probe must not outlive scratch
      Materialize.cut(exactDedupDeltaAsOf(spark, idx, b(1), asOf = "t0")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars")))
        .orderBy(col("doc_id"))
    } finally EventOps.deleteRecursively(spark, tmp)
  }

  val dedupAsOfSql: String =
    """WITH b1 AS (
      |  SELECT doc_id, text, lang, source, n_chars,
      |         coalesce(sha256(text), 'NULL_TEXT') AS h
      |  FROM documents WHERE doc_id % 2 = 1),
      |firsts AS (SELECT h, min(doc_id) AS doc_id FROM b1 GROUP BY h),
      |prior AS (SELECT DISTINCT coalesce(sha256(text), 'NULL_TEXT') AS h
      |          FROM documents WHERE doc_id % 2 = 0)
      |SELECT t.doc_id, t.text, t.lang, t.source, t.n_chars
      |FROM b1 t
      |JOIN firsts f ON t.h = f.h AND t.doc_id = f.doc_id
      |LEFT JOIN prior p ON t.h = p.h
      |WHERE p.h IS NULL
      |ORDER BY t.doc_id""".stripMargin

  /** Incremental EXACT dedup against a persisted digest set —
    * [[segmentDedupDelta]]'s document-level sibling and the streaming
    * form of [[dedupExact]]: the batch's globally-novel docs (first
    * occurrence within the batch by min doc_id, digest unseen in any
    * prior batch) are returned with their full schema; their digests
    * are appended under `batch=tag` so the NEXT batch sees them. Same
    * replay window, same compaction discipline ([[compactSegmentIndex]]
    * works on any seen-set index — the layout is identical).
    */
  def exactDedupDelta(spark: SparkSession, path: String, batch: DataFrame,
      tag: String, normalize: Boolean = false): DataFrame =
    exactDedupAt(spark, path, batch, normalize, IndexStore.View.Excluding(tag))

  private def exactDedupAt(spark: SparkSession, path: String,
      batch: DataFrame, normalize: Boolean, view: IndexStore.View)
      : DataFrame = {
    // flipping `normalize` between runs would probe hashes computed
    // under a different canonicalization — a silent stop-finding-dups
    // drift, pinned like [[segmentDedupDelta]]'s width.
    // `normalize` mirrors CurateConfig.normalizeForHash: hash the
    // canonicalized text so case/punct/spacing variants collapse — the
    // streaming loop passes the config flag through so stream and batch
    // verdicts cannot diverge. Null text hashes to a sentinel outside
    // the hex-digest alphabet (sha2(null) is null, and a null hash would
    // silently drop the row from the non-null-safe self-join): all
    // null-text docs form one dedup class, first arrival admitted.
    val base = if (normalize) normCol(col("text")) else col("text")
    val hashed = batch.withColumn("h",
      coalesce(sha2(base, 256), lit("NULL_TEXT")))
    val within = hashed.join(
      hashed.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id")),
      Seq("h", "doc_id"))
    seenDelta(spark, path, within, s"normalize=$normalize", view).drop("h")
  }

  /** Fold a seen-set index's accumulated increments into one fresh
    * `batch=init` level ([[IndexStore.compact]]) and close the folded
    * tags' replay windows: [[segmentDedupDelta]] / [[exactDedupDelta]]
    * reject a replay of a compacted tag, whose exclusion filter could
    * no longer see the tag's own first-run contribution. Works on any
    * seen-set index (segment or digest — the layout is identical).
    */
  def compactSegmentIndex(spark: SparkSession, path: String,
      numFiles: Int = 0): Unit =
    IndexStore.compact(spark, path, Seq("seen"), numFiles,
      closeWindows = true)

  /** Pinned contract instantiation: width-8 segments over `documents`. */
  def dedupSegments(spark: SparkSession, dir: String): DataFrame =
    dedupSegmentsAt(Tables.t(spark, dir, "documents"), width = 8)

  /** Pinned contract instantiation of the DELIMITER surface
    * ([[dedupParagraphsAt]]) — the form users point at real corpora. The
    * fixture texts carry no newlines, so the literal token sentinel
    * `" the "` (≈2 occurrences per doc) stands in for the blank-line
    * boundary: same split/dedup/rejoin dataflow, every paragraph
    * variable-width, and both engines split on the literal string
    * (Spark's regex split quotes it; DuckDB's string_split is literal),
    * so the oracle exercises exactly the production code path.
    */
  def dedupParagraphs(spark: SparkSession, dir: String): DataFrame =
    dedupParagraphsAt(Tables.t(spark, dir, "documents"), delim = " the ")

  val dedupParagraphsSql: String =
    """WITH parts AS (
      |  SELECT doc_id, string_split(text, ' the ') AS p FROM documents),
      |segs AS (
      |  SELECT doc_id, CAST(s.i AS BIGINT) AS idx, s.seg FROM (
      |    SELECT doc_id,
      |      unnest([{'i': i - 1, 'seg': p[i]} for i in range(1, len(p) + 1)]) AS s
      |    FROM parts)),
      |kept AS (
      |  SELECT doc_id, idx, seg FROM (
      |    SELECT doc_id, idx, seg,
      |           row_number() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
      |    FROM segs) WHERE rn = 1),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |         string_agg(seg, ' the ' ORDER BY idx) AS clean_text
      |  FROM kept GROUP BY doc_id),
      |tot AS (SELECT doc_id, count(*) AS n_seg FROM segs GROUP BY doc_id)
      |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
      |       t.n_seg, CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept
      |FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id
      |ORDER BY t.doc_id""".stripMargin

  val dedupSegmentsSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |segs AS (
      |  SELECT doc_id, CAST(s.i AS BIGINT) AS idx, s.seg FROM (
      |    SELECT doc_id,
      |      unnest([{'i': i - 1,
      |               'seg': array_to_string(t[((i-1)*8+1):((i-1)*8+8)], ' ')}
      |              for i in range(1, CAST(ceil(len(t)/8.0) AS BIGINT) + 1)]) AS s
      |    FROM toks)),
      |kept AS (
      |  SELECT doc_id, idx, seg FROM (
      |    SELECT doc_id, idx, seg,
      |           row_number() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
      |    FROM segs) WHERE rn = 1),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |         string_agg(seg, ' ' ORDER BY idx) AS clean_text
      |  FROM kept GROUP BY doc_id),
      |tot AS (SELECT doc_id, count(*) AS n_seg FROM segs GROUP BY doc_id)
      |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
      |       t.n_seg, CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept
      |FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // ------------------------------------------- frequent-items sketch

  /** Token top-20 via the mergeable Misra–Gries heavy-hitters sketch
    * ([[graft.functions.TopKFreq]], m = 256 counters) — the
    * frequent-items member of the sketch family (HLL distincts, KLL
    * quantiles, MG frequencies). The summary is the designed
    * driver-sized artifact (≤ m entries), collected once and presented
    * relationally; at 100 TB the exact alternative shuffles the full
    * vocabulary, the sketch shuffles m counters per partial. MG is
    * EXACT whenever the distinct-token count fits the budget — the
    * fixture vocabulary is 31 tokens, so this query carries a full
    * DuckDB oracle; UdafSpec pins the lossy regime's error/retention
    * bounds on planted Zipf data across 1/4/32-partition layouts.
    */
  def topkSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok")).as[String]
    val summary = toks.select(new graft.functions.TopKFreq(256).toColumn).head()
    summary.toSeq.sortBy { case (t, c) => (-c, t) }.take(20)
      .toDF("tok", "est")
      .orderBy(col("est").desc, col("tok"))
  }

  val topkSketchSql: String =
    """SELECT tok, CAST(count(*) AS BIGINT) AS est
      |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |GROUP BY tok ORDER BY est DESC, tok LIMIT 20""".stripMargin

  // ------------------------------------------------- inverted index

  /** Inverted-index build, digest form: per-token document frequency,
    * total term frequency and posting-list summary (min/max/sum of
    * doc_ids — scalars instead of the list itself because the driver's
    * hash-compare cannot order array cells). One explode + one groupBy
    * token: partial aggregation absorbs the head tokens' skew map-side,
    * which is why the index build survives a Zipfian vocabulary at 100 TB.
    */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("tf_total"),
        min(col("doc_id")).as("doc_min"),
        max(col("doc_id")).as("doc_max"),
        sum(col("doc_id")).as("doc_sum"))
      .orderBy(col("tok"))

  val invertedIndexSql: String =
    """SELECT tok, count(DISTINCT doc_id) AS df, count(*) AS tf_total,
      |  min(doc_id) AS doc_min, max(doc_id) AS doc_max,
      |  CAST(sum(doc_id) AS BIGINT) AS doc_sum
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |GROUP BY tok ORDER BY tok""".stripMargin

  // -------------------------------------------- Gopher quality rules

  /** Gopher-style rule-based quality gate (word count, mean word length,
    * short-word ratio, repetition), emitted as per-rule verdicts so a
    * pipeline can report *why* documents fail. Every ratio test is a
    * cross-multiplied integer comparison — no division, so no float
    * boundary can disagree between engines. With single-space text,
    * Σ(token length) = n_chars − (n_words − 1) exactly.
    */
  /** The four Gopher rules as boolean Columns over (text, n_chars) rows,
    * parameterized by [[CurateConfig]] — [[qualityGopher]] (per-rule
    * verdicts), [[curate]] and [[curateOn]] (the composed pipeline gate)
    * all build from here, so the predicates cannot drift between
    * surfaces. All comparisons are Long cross-multiplications of the
    * config's rational knobs.
    */
  /** The full Gopher gate as one Column — the stateless quality stage a
    * streaming loop applies per batch ([[graft.streaming.CurateIngest]]).
    */
  private[graft] def gopherAll(cfg: CurateConfig): Column =
    new GopherRules(cfg).all

  private[queries] class GopherRules(cfg: CurateConfig) {
    private val tk = split(col("text"), " ")
    val nW: Column = size(tk).cast(LongType)
    private val sumLen = col("n_chars") - (nW - lit(1L))
    private val nShort = size(filter(tk, t => length(t) <= 2)).cast(LongType)
    private val nDist = size(array_distinct(tk)).cast(LongType)
    val r1: Column = nW.between(cfg.minWords, cfg.maxWords)
    val r2: Column = sumLen >= nW * cfg.minMeanWordLen && sumLen <= nW * cfg.maxMeanWordLen
    val r3: Column = nShort * cfg.maxShortRatio._2 <= nW * cfg.maxShortRatio._1
    val r4: Column = nDist * cfg.minDistinctRatio._2 >= nW * cfg.minDistinctRatio._1
    val all: Column = r1 && r2 && r3 && r4
  }

  /** Default-config instantiation + the oracle's fixed-SQL mirrors (the
    * SQL strings pin the DEFAULT constants — the contract queries are
    * exactly that instantiation).
    */
  private object Gopher extends GopherRules(CurateConfig()) {

    private val nWS = "len(string_split(text, ' '))"
    private val sumLenS = s"(n_chars - ($nWS - 1))"
    private val nShortS = "len(list_filter(string_split(text, ' '), t -> length(t) <= 2))"
    private val nDistS = "len(list_distinct(string_split(text, ' ')))"
    val nWSql: String = nWS
    val r1Sql = s"($nWS BETWEEN 30 AND 10000)"
    val r2Sql = s"($sumLenS >= $nWS * 4 AND $sumLenS <= $nWS * 10)"
    val r3Sql = s"($nShortS * 20 <= $nWS)"
    val r4Sql = s"($nDistS * 2 >= $nWS)"
    // parenthesized: callers negate it (`NOT allSql` must not re-bind as
    // `(NOT r1) AND r2 AND ...`)
    val allSql = s"($r1Sql AND $r2Sql AND $r3Sql AND $r4Sql)"
  }

  def qualityGopher(spark: SparkSession, dir: String): DataFrame = {
    val b = (c: Column) => when(c, lit(1L)).otherwise(lit(0L))
    Tables.t(spark, dir, "documents")
      .select(col("doc_id"), Gopher.nW.as("n_words"),
        b(Gopher.r1).as("r_wordcount"), b(Gopher.r2).as("r_meanlen"),
        b(Gopher.r3).as("r_shortratio"), b(Gopher.r4).as("r_repetition"),
        b(Gopher.all).as("pass"))
      .orderBy(col("doc_id"))
  }

  val qualityGopherSql: String = {
    def b(c: String) = s"CAST(CASE WHEN $c THEN 1 ELSE 0 END AS BIGINT)"
    s"""SELECT doc_id, CAST(${Gopher.nWSql} AS BIGINT) AS n_words,
       |  ${b(Gopher.r1Sql)} AS r_wordcount, ${b(Gopher.r2Sql)} AS r_meanlen,
       |  ${b(Gopher.r3Sql)} AS r_shortratio, ${b(Gopher.r4Sql)} AS r_repetition,
       |  ${b(Gopher.allSql)} AS pass
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------- BM25 ranking

  private val bm25Terms = Seq("join", "filter", "window", "stream", "select")

  /** BM25 document ranking for a fixed query-term set (k1=1.2, b=0.75) —
    * the retrieval scorer a corpus search/decontamination pass runs. Same
    * plan family as [[tfidf]]: tf aggregate → broadcast df + corpus stats
    * → per-row score. Determinism: each per-row double score (ln idf ×
    * saturation — identical IEEE formulation both engines, the tfidf
    * precedent) is quantized to an exact BIGINT at 6dp BEFORE the per-doc
    * sum, so the cross-term addition is integer and order-independent —
    * raw double sums would depend on shuffle arrival order.
    */
  def bm25(spark: SparkSession, dir: String): DataFrame =
    bm25E6On(Tables.t(spark, dir, "documents"))
      .select(col("doc_id"),
        (col("e6") / lit(1000000.0)).cast(DoubleType).as("bm25"), col("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(10)

  /** The exact-integer BM25 scoring stage shared by [[bm25]] and
    * [[searchHybrid]]: every doc matching ≥1 query term, with its
    * 6dp-quantized score sum `e6` (BIGINT — the cross-term addition is
    * integer, so ranking on it is deterministic on any engine/partition
    * order) and the matched-term count.
    */
  private def bm25E6On(docs: DataFrame): DataFrame = {
    val dl = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("dl"))
    val stats = dl.agg(sum(col("dl")).as("sum_dl"), count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok").isin(bm25Terms.map(x => x: Any): _*))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast(DoubleType) / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val score = idf * (col("tf") * lit(2.2)) /
      (col("tf") + lit(0.3) + lit(0.9) * (col("dl") / col("avgdl")))
    tf.join(broadcast(dft), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", avgdl)
      .withColumn("s6", floor(score * lit(1000000.0) + lit(0.5)).cast(LongType))
      .groupBy(col("doc_id"))
      .agg(sum(col("s6")).as("e6"), count(lit(1)).as("n_terms"))
  }

  /** CTE chain ending in `lexe(doc_id, e6, n_terms)` — the DuckDB mirror
    * of [[bm25E6On]], shared by [[bm25Sql]] and [[searchHybridSql]].
    */
  private val bm25CtesSql: String = {
    val terms = bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""dl AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
       |stats AS (
       |  SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
       |         count(*) AS n_docs FROM dl),
       |tf AS (
       |  SELECT doc_id, tok, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE tok IN ($terms) GROUP BY doc_id, tok),
       |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
       |scored AS (
       |  SELECT doc_id,
       |    CAST(floor(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
       |      * (tf * 2.2) / (tf + 0.3 + 0.9 * (dl / avgdl))
       |      * 1000000.0 + 0.5) AS BIGINT) AS s6
       |  FROM tf
       |  JOIN dft USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats),
       |lexe AS (
       |  SELECT doc_id, CAST(sum(s6) AS BIGINT) AS e6, count(*) AS n_terms
       |  FROM scored GROUP BY doc_id)""".stripMargin
  }

  val bm25Sql: String =
    s"""WITH $bm25CtesSql
       |SELECT doc_id, CAST(e6 / 1000000.0 AS DOUBLE) AS bm25, n_terms
       |FROM lexe
       |ORDER BY bm25 DESC, doc_id ASC LIMIT 10""".stripMargin

  // --------------------------------------------- hybrid retrieval (RRF)

  /** Hybrid lexical+semantic retrieval with reciprocal-rank fusion — the
    * retrieval stack a RAG/search deployment runs over a curated corpus:
    * BM25 ranks documents for the fixed term query ([[bm25E6On]]), exact
    * cosine ranks them for the query EMBEDDING (vec_id 0's vector,
    * joined on doc_id = vec_id), and the two top-50 pools fuse by
    * RRF(60) (Cormack/Clarke/Büttcher SIGIR'09): score = Σ 1/(60+rank),
    * a rank-only combiner immune to the two scorers' incomparable
    * scales. A doc ranked by only one side contributes only that side
    * (the standard union semantics).
    *
    * Determinism: both pool ranks order by exact BIGINT e6 / rounded
    * cosine with doc_id tiebreaks, and each reciprocal is quantized as
    * floor(10⁹/(60+rank)) — pure integer-valued double division of
    * exact small ints, bit-equal on both engines — so the fused BIGINT
    * sum and its ordering never touch a float boundary.
    *
    * Scale: each side is a corpus scan + TakeOrderedAndProject (per-
    * partition top-50, driver merge — no global sort shuffle); the
    * row_number windows and the full join then run over ≤50-row pools.
    * At 100 TB the semantic side swaps in an ANN index probe
    * ([[VectorOps]]'s IVF/graph searches) — the fusion is rank-only, so
    * the combiner is unchanged.
    */
  def searchHybrid(spark: SparkSession, dir: String): DataFrame =
    searchHybridOn(Tables.t(spark, dir, "documents"),
      Tables.t(spark, dir, "embeddings"))

  /** [[searchHybrid]] over any (doc_id, text) corpus and (vec_id,
    * embedding) table sharing the id space; `pool` is the per-side
    * candidate depth, `k` the fused cut, `rrfK` the RRF damping
    * constant, `queryId` the id of the query EMBEDDING row. Fails loud
    * (one pushdown-filtered lookup job) if the query row is absent or
    * duplicated — a missing row would otherwise silently degrade the
    * result to lexical-only, a duplicate would multiply the semantic
    * pool.
    */
  def searchHybridOn(docs: DataFrame, embs: DataFrame, k: Int = 20,
      pool: Int = 50, rrfK: Long = 60L, queryId: Long = 0L): DataFrame = {
    require(k > 0 && pool >= k && rrfK > 0,
      s"need 0 < k <= pool and rrfK > 0, got k=$k pool=$pool rrfK=$rrfK")
    val qv = embs.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"),
        VectorOps.norm2(col("embedding")).as("q_n2"))
    val nq = qv.limit(2).count()
    require(nq == 1,
      s"query embedding vec_id=$queryId: expected exactly 1 row, found " +
        s"${if (nq == 0) "none" else "duplicates"}")
    val lex = bm25E6On(docs)
      .orderBy(col("e6").desc, col("doc_id").asc).limit(pool)
      .withColumn("r_lex", row_number()
        .over(Window.orderBy(col("e6").desc, col("doc_id").asc))
        .cast(LongType))
      .select(col("doc_id").as("lex_id"), col("r_lex"))
    val sem = embs.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        round(VectorOps.dot(col("q_emb"), col("embedding")) /
          (sqrt(col("q_n2")) * sqrt(VectorOps.norm2(col("embedding")))), 6)
          .as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(pool)
      .withColumn("r_sem", row_number()
        .over(Window.orderBy(col("cos").desc, col("vec_id").asc))
        .cast(LongType))
      .select(col("vec_id").as("sem_id"), col("r_sem"))
    fuseRrf(lex, sem, k, rrfK)
  }

  /** The RRF combiner over two ranked pools — shared by the exact and
    * the index-routed hybrid forms (rank-only, so the semantic backend
    * is interchangeable by construction).
    */
  private def fuseRrf(lex: DataFrame, sem: DataFrame, k: Int,
      rrfK: Long): DataFrame = {
    def contrib(r: Column): Column =
      coalesce(floor(lit(1000000000L) / (r + lit(rrfK))).cast(LongType),
        lit(0L))
    lex.join(sem, col("lex_id") === col("sem_id"), "full")
      .select(coalesce(col("lex_id"), col("sem_id")).as("doc_id"),
        col("r_lex"), col("r_sem"),
        (contrib(col("r_lex")) + contrib(col("r_sem"))).as("rrf9"))
      .orderBy(col("rrf9").desc, col("doc_id").asc)
      .limit(k)
  }

  /** [[searchHybridOn]]'s 100 TB form: the semantic pool comes from a
    * ROUTED probe of a persisted NN-Descent graph index
    * ([[graft.operators.NnDescent.searchIndexRouted]] — entry hubs from
    * the routing state stored at build time) instead of the exact
    * corpus scan, so the semantic side never touches the corpus beyond
    * the probe's own reads. The lexical side and the RRF combiner are
    * IDENTICAL code to the exact form — fusion is rank-only, which is
    * exactly why the backend swaps freely. The query embedding row
    * comes from `embs` (same fail-loud lookup as the exact form).
    *
    * Beam vs pool: the graph walk retains at most beam + 1 candidates
    * per query (NnDescent's topBeam), so a beam below `pool` would
    * SILENTLY starve the semantic pool at beam + 1 rows while the API
    * promises pool-deep ranks — the effective beam is therefore
    * max(beam, pool); pass a larger beam only to push recall. The
    * query's own indexed row is already excluded inside the search
    * (searchGraphFrom filters q_id ≠ vec_id before its cut), so `rn`
    * is directly the dense 1..pool semantic rank.
    */
  def searchHybridRouted(spark: SparkSession, docs: DataFrame,
      embs: DataFrame, indexPath: String, k: Int = 20, pool: Int = 50,
      rrfK: Long = 60L, queryId: Long = 0L, beam: Int = 20,
      hops: Int = 3, nprobe: Int = 3, hubsPerCell: Int = 8): DataFrame = {
    require(k > 0 && pool >= k && rrfK > 0,
      s"need 0 < k <= pool and rrfK > 0, got k=$k pool=$pool rrfK=$rrfK")
    val qv = embs.filter(col("vec_id") === queryId)
      .select(col("vec_id"), col("embedding"),
        VectorOps.norm2(col("embedding")).as("n2"))
    val nq = qv.limit(2).count()
    require(nq == 1,
      s"query embedding vec_id=$queryId: expected exactly 1 row, found " +
        s"${if (nq == 0) "none" else "duplicates"}")
    val lex = bm25E6On(docs)
      .orderBy(col("e6").desc, col("doc_id").asc).limit(pool)
      .withColumn("r_lex", row_number()
        .over(Window.orderBy(col("e6").desc, col("doc_id").asc))
        .cast(LongType))
      .select(col("doc_id").as("lex_id"), col("r_lex"))
    val sem = graft.operators.NnDescent
      .searchIndexRouted(spark, indexPath, qv, k = pool,
        beam = math.max(beam, pool), hops = hops, nprobe = nprobe,
        hubsPerCell = hubsPerCell)
      .select(col("vec_id").as("sem_id"), col("rn").cast(LongType).as("r_sem"))
    fuseRrf(lex, sem, k, rrfK)
  }

  val searchHybridSql: String =
    s"""WITH $bm25CtesSql,
       |lex AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY e6 DESC, doc_id ASC) AS r_lex
       |  FROM (SELECT doc_id, e6 FROM lexe ORDER BY e6 DESC, doc_id ASC LIMIT 50)),
       |qv AS (SELECT embedding AS q_emb, ${VectorOps.norm2Sql("embedding")} AS q_n2
       |       FROM embeddings WHERE vec_id = 0),
       |sems AS (
       |  SELECT b.vec_id,
       |    round(${VectorOps.dotSql("q_emb", "b.embedding")}
       |      / (sqrt(q_n2) * sqrt(${VectorOps.norm2Sql("b.embedding")})), 6) AS cos
       |  FROM embeddings b CROSS JOIN qv WHERE b.vec_id <> 0),
       |sem AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS r_sem
       |  FROM (SELECT vec_id, cos FROM sems ORDER BY cos DESC, vec_id ASC LIMIT 50))
       |SELECT coalesce(l.doc_id, s.vec_id) AS doc_id, r_lex, r_sem,
       |  coalesce(CAST(floor(1000000000 / (r_lex + 60)) AS BIGINT), 0)
       |  + coalesce(CAST(floor(1000000000 / (r_sem + 60)) AS BIGINT), 0) AS rrf9
       |FROM lex l FULL JOIN sem s ON l.doc_id = s.vec_id
       |ORDER BY rrf9 DESC, doc_id ASC LIMIT 20""".stripMargin

  // --------------------------------------- dedup w/ representative choice

  /** Representative selection over NEAR-dup clusters — the step after
    * [[dedupCluster]] in a real pipeline: the cluster label is the min
    * doc_id (a stable key), but the copy a pipeline KEEPS is the longest
    * member (least truncation), ties to the smallest doc_id. Grouping by
    * exact-content digest would make the policy vacuous (identical text ⇒
    * identical length); near-dup clusters are where member lengths
    * genuinely differ. The composite order aggregates as ONE max over
    * the struct (n_chars, −doc_id) ([[keepBestAgg]]) — still a single
    * declarative aggregate with map-side partial combine (one candidate
    * row per (task, cluster) before the only post-clustering shuffle,
    * no window over the cluster), and with NO doc_id range assumption:
    * the former injective n_chars·10⁹ − doc_id BIGINT encoding inverted
    * the keeper once the id gap out-weighed the length gap×10⁹ —
    * snowflake-scale ids at 100 TB (r16; the betterContainerPairs
    * struct fix applied to every aggregating keeper edge, both engines:
    * DuckDB's max over a STRUCT orders lexicographically too).
    */
  /** The keep-best aggregate, one copy for every keeper edge: the max
    * (n_chars, −doc_id) struct; extract the kept id as −(…).nid (the
    * [[Sql.keepBest]] mirror).
    */
  private def keepBestAgg: Column =
    max(struct(col("n_chars").as("nc"), (-col("doc_id")).as("nid")))

  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame =
    dedupCluster(spark, dir)
      .join(Tables.t(spark, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id")
      .groupBy(col("rep"))
      .agg((-keepBestAgg.getField("nid")).as("keeper"),
        max(col("n_chars")).as("keeper_chars"),
        count(lit(1)).as("n_members"))
      .orderBy(col("rep"))

  val dedupKeepBestSql: String =
    s"""$clusterCteSql,
       |$clustersCteSql
       |SELECT rep,
       |  ${Sql.keepBest("d.n_chars", "c.doc_id")} AS keeper,
       |  max(d.n_chars) AS keeper_chars,
       |  count(*) AS n_members
       |FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
       |GROUP BY rep ORDER BY rep""".stripMargin

  // ----------------------------------------------- intra-doc repetition

  /** Per-doc duplicate-shingle fraction — the Gopher-family repetition
    * signal (a doc whose 3-gram stream is mostly repeats is boilerplate/
    * spam): dup_frac = (total − distinct)/total 3-shingles, as an exact
    * HALF-UP 6dp ratio ([[Det.div6]] — never a float boundary). Total
    * count is pure per-row arithmetic (n_tokens − 2); only the DISTINCT
    * count aggregates, riding [[shingleRows]]'s one shuffle by doc_id.
    * Docs under 3 tokens have no shingle stream → NULL fraction.
    */
  def repetitionRatio(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(spark, dir, "documents")
    val nSh = greatest(size(split(col("text"), " ")) - 2, lit(0)).cast(LongType)
    // both counts ride the row (total = n_tokens − 2, distinct = size of
    // the native shingle array) — the r1 shape shuffled the exploded
    // shingles just to count them back per doc
    docs.select(col("doc_id"), nSh.as("n_sh"),
        size(org.apache.spark.sql.graft.ShingleExpressions.shingles(col("text")))
          .cast(LongType).as("n_uniq"))
      .select(col("doc_id"), col("n_sh"), col("n_uniq"),
        when(col("n_sh") > 0, div6(col("n_sh") - col("n_uniq"), col("n_sh")))
          .otherwise(lit(null).cast(DoubleType)).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  val repetitionRatioSql: String =
    s"""WITH sh AS ($shingledSql),
       |n AS (
       |  SELECT doc_id,
       |    CAST(greatest(len(string_split(text, ' ')) - 2, 0) AS BIGINT) AS n_sh
       |  FROM documents)
       |SELECT n.doc_id, n.n_sh, CAST(len(sh.shingles) AS BIGINT) AS n_uniq,
       |  CASE WHEN n.n_sh > 0
       |       THEN ${Sql.div6("n.n_sh - len(sh.shingles)", "n.n_sh")}
       |  END AS dup_frac
       |FROM n JOIN sh ON n.doc_id = sh.doc_id
       |ORDER BY n.doc_id""".stripMargin

  // -------------------------------------------------- domain composition

  /** Corpus composition by source domain — the mixing report a training
    * run is weighted from: per source, docs, exact token total, and the
    * corpus token share as an exact HALF-UP 6dp fraction. The share
    * divides by a broadcast 1-row total (the bm25-stats shape) — NOT a
    * partitionless window, which would funnel the whole corpus through
    * one task at scale.
    */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.t(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast(LongType)).as("n_tokens"))
    val total = perSource.agg(sum(col("n_tokens")).as("tot"))
    perSource.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        div6(col("n_tokens"), col("tot")).as("share"))
      .orderBy(col("source"))
  }

  val domainMixSql: String =
    s"""WITH per_source AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |total AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM per_source)
       |SELECT source, n_docs, n_tokens,
       |  ${Sql.div6("n_tokens", "tot")} AS share
       |FROM per_source CROSS JOIN total
       |ORDER BY source""".stripMargin

  /** Deterministic weighted resampling to a target domain mix — the data-
    * mixing pass a training run executes once per corpus snapshot: each
    * source gets an integer target weight; a document survives iff its
    * deterministic hash falls under its source's sampling rate
    * rate_s = min(1, (w_s / Σw) · N / n_s), so the kept corpus approaches
    * the target share per source without any RNG. The keep test runs as
    * one exact cross-multiplication — hash · Σw · n_s < w_s · N · 10⁰⁶ —
    * in DECIMAL(38,0) (the DuckDB mirror computes HUGEINT), so there is
    * no double boundary to diverge on and no overflow to ~10¹² rows per
    * source. Plan: one per-source count aggregate, a broadcast join of
    * the ~|sources| rate rows, a broadcast 1-row total, then a per-row
    * integer predicate — the q_domain_mix shape, never a partitionless
    * window; min(1,·) is implicit (rate ≥ 1 ⇒ the bound exceeds every
    * hash value).
    */
  def domainResample(spark: SparkSession, dir: String): DataFrame =
    domainResampleOn(Tables.t(spark, dir, "documents"),
      weights = (0 to 4).map(i => s"src$i" -> 4L).toMap ++
        (5 to 9).map(i => s"src$i" -> 2L).toMap,
      defaultWeight = 1L)

  /** [[domainResample]] generalized over corpus and target weights — the
    * engine surface a user points at their own mix: every gate stays an
    * exact integer (Σw is summed over the corpus's OBSERVED sources, so
    * the rates renormalize to whatever domains actually exist; weight 0
    * drops a source entirely — 0 · anything < a non-negative bound never
    * holds, because the hash is forced non-negative via pmod, which also
    * keeps negative doc_ids sampled instead of unconditionally kept).
    * The weights travel as a broadcast (source, w) table, not a
    * when-chain — O(1) per row at any number of domains — and Σw / N
    * come from the same per-source aggregate, so the corpus is scanned
    * once for stats. The contract query is the pinned fixture
    * instantiation (identical output: fixture ids are non-negative, so
    * pmod is the identity there).
    */
  def domainResampleOn(docs: DataFrame, weights: Map[String, Long],
      defaultWeight: Long = 1L): DataFrame = {
    require(defaultWeight >= 0 && weights.values.forall(_ >= 0),
      "resample weights must be non-negative")
    val spark = docs.sparkSession
    import spark.implicits._
    val wTab = weights.toSeq.toDF("source", "w")
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      .join(broadcast(wTab), Seq("source"), "left")
      .withColumn("w", coalesce(col("w"), lit(defaultWeight)))
    val totals = counts.agg(sum(col("w")).as("sum_w"),
      sum(col("n_s")).as("n_tot"))
    val dec = DecimalType(38, 0)
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(counts), "source")
      .crossJoin(broadcast(totals))
      .filter(
        pmod(detHash(col("doc_id")), lit(1000003L)).cast(dec) *
          col("sum_w") * col("n_s") <
          col("w").cast(dec) * col("n_tot") * lit(1000003L))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  val domainResampleSql: String = {
    val w = """CASE WHEN d.source IN ('src0','src1','src2','src3','src4') THEN 4
              |       WHEN d.source IN ('src5','src6','src7','src8','src9') THEN 2
              |       ELSE 1 END""".stripMargin
    s"""WITH counts AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
       |total AS (SELECT count(*) AS n_tot FROM documents)
       |SELECT d.doc_id, d.source
       |FROM documents d JOIN counts c ON d.source = c.source CROSS JOIN total
       |WHERE CAST(${detHashSql("d.doc_id")} AS HUGEINT) * 40 * c.n_s <
       |      CAST(($w) AS HUGEINT) * n_tot * 1000003
       |ORDER BY d.doc_id""".stripMargin
  }

  // ------------------------------------------------ curation pipeline

  /** The composed corpus-curation pipeline — the end-to-end pass a
    * training run executes, as ONE auditable query: every document gets
    * `kept` plus the FIRST stage that dropped it.
    *
    *   1. quality        — the Gopher gate ([[qualityGopher]]'s identical
    *                       predicates via [[Gopher]]);
    *   2. exact_dup      — min-doc_id keeper per content digest, computed
    *                       AMONG QUALITY SURVIVORS (a dropped min-id copy
    *                       must not doom its group);
    *   3. decontaminated — test-bucket docs with ≥ half their shingles in
    *                       the train split ([[decontaminate]]'s exact
    *                       integer predicate) leave BEFORE representative
    *                       selection, for the same reason stage 2 runs
    *                       on survivors: a contaminated member must not
    *                       win keep-best and doom its cluster's clean
    *                       copies;
    *   4. near_dup       — keep-best per near-dup cluster among the
    *                       remaining survivors (longest member, ties min
    *                       doc_id) — corpus-wide cluster labels
    *                       (memoized; sound: upstream filtering only
    *                       removes members).
    *
    * Stages 2–4 are marker left-joins on doc_id + one `when` chain — the
    * whole pipeline is a handful of single-key shuffles over an
    * ever-shrinking survivor set, and every stage's predicate is the
    * same expression its standalone contract query oracles.
    */
  def curate(spark: SparkSession, dir: String): DataFrame =
    curateReasons(spark, dir).orderBy(col("doc_id"))

  /** Memoized contract-pipeline reasons per (session, dir), same
    * lifecycle and rationale as [[labelMemo]]: the full and the
    * incremental curate query share every stage (Gopher gate, exact
    * dedup, decontamination, keep-best), differing only in the final
    * filter/sort — without memoization whichever runs second re-executes
    * the whole pipeline. Materialized via an eager cut with
    * measured stats (one row per doc, see
    * [[org.apache.spark.sql.graft.CheckpointStats]]).
    */
  private val reasonsMemo =
    SessionMemo.family[String, DataFrame]("text_curate_reasons")

  private def curateReasons(spark: SparkSession, dir: String): DataFrame =
    reasonsMemo(spark, dir, Seq(Tables.path(dir, "documents"))) {
      val r = Materialize.cut(curateReasonsOn(Tables.t(spark, dir, "documents"),
        CurateConfig(), labels = Some(clusterLabels(spark, dir))))
      // doc_id (8) + kept (1) + short reason string + row overhead
      org.apache.spark.sql.graft.CheckpointStats
        .withMeasuredStats(r, r.count(), 40)
    }

  /** [[curate]] generalized over corpus and config — the engine surface
    * a user points at their own documents frame: identical stage order
    * and semantics, every gate drawn from `cfg` (see [[CurateConfig]];
    * the defaults are the contract instantiation the oracle checks).
    * `labels` lets a caller share precomputed cluster labels across
    * pipeline runs (the contract path passes the session-memoized
    * table); when absent they are built from `docs` at
    * `cfg.jaccardThreshold`. `semanticLabels` is the same sharing hook
    * for the semantic stage's (vec_id, rep) cosine clusters — the
    * contract path passes the frame built from [[VectorOps]]'s memoized
    * exact-cosine pair cache (the q_dedup_cluster_cosine labels), so the
    * composed pipeline never re-pays the all-pairs cosine pass inside
    * one session; when absent (and `cfg.semanticThreshold` is set) they
    * are built from `docs`' non-null embeddings at that threshold.
    */
  def curateOn(docs: DataFrame, cfg: CurateConfig = CurateConfig(),
      labels: Option[DataFrame] = None,
      semanticLabels: Option[DataFrame] = None): DataFrame =
    curateReasonsOn(docs, cfg, labels, semanticLabels).orderBy(col("doc_id"))

  /** [[curateOn]] without the final presentation sort — the reusable
    * frame both the full and the incremental contract queries memoize
    * ([[curateReasons]]): one (doc_id, kept, drop_reason) row per doc.
    */
  def curateReasonsOn(docs: DataFrame, cfg: CurateConfig = CurateConfig(),
      labels: Option[DataFrame] = None,
      semanticLabels: Option[DataFrame] = None): DataFrame =
    cfg.segmentDedupWidth match {
      case None => curateReasonsDocLevel(docs, cfg, labels, semanticLabels)
      case Some(w) =>
        // caller-supplied labels are raw-text artifacts; the stage
        // curates REWRITTEN text — the same mixing requireNoSegmentStage
        // rejects for the durable-state family, guarded here on the main
        // entry point too (labels must be rebuilt from the rewrite,
        // which this branch does itself when labels are absent)
        require(labels.isEmpty,
          "precomputed cluster labels cannot be combined with " +
            "segmentDedupWidth: labels describe the RAW corpus, the " +
            "segment stage curates the rewritten one — omit labels")
        segmentReasons(docs, w, cfg, semanticLabels, rawPairs = None)
    }

  /** The segment-stage branch of [[curateReasonsOn]]: rewrite, verdict
    * the emptied docs `segment_dup`, run the doc-level pipeline over the
    * survivors. `rawPairs` (internal — the contract path passes the
    * session-memoized [[jaccardPairs]] frame) must be the verified
    * J ≥ `cfg.jaccardThreshold` pairs of the RAW `docs`; when present
    * the rewritten corpus's cluster labels are built with
    * [[jaccardPairsUnderRewrite]] — pairs among docs the rewrite left
    * byte-identical are REUSED, only pairs touching changed docs are
    * recomputed (bit-identical result, spec-pinned) — instead of
    * re-running the full shuffle-by-shingle pair build over the
    * rewritten text.
    */
  private def segmentReasons(docs: DataFrame, w: Int, cfg: CurateConfig,
      semanticLabels: Option[DataFrame],
      rawPairs: Option[DataFrame]): DataFrame = {
    // segment dedup as the leading stage: rewrite the corpus once
    // (reusing dedupSegmentsAt's exact dataflow, so the composed and
    // standalone forms cannot drift), then run the document-level
    // pipeline over the rewritten text. A doc emptied by the rewrite
    // (pure boilerplate — every segment seen earlier) is verdicted
    // segment_dup; everything else flows through the unchanged
    // stages, now measuring the unique content. MATERIALIZED once:
    // the doc-level pipeline references its corpus ≥5 times (gate,
    // exact dedup, decontamination, clusters, verdict join) — cheap
    // re-scans when the corpus is a parquet table, but here each
    // reference would replay the two-shuffle rewrite. Neutral at
    // fixture scale (the rewrite is ~0.2 s; the Jaccard pair build
    // dominates this query), load-bearing at corpus scale where
    // 5× re-deriving the rewritten corpus is 5 extra full passes.
    val rw = Materialize.cut(rewriteSegmentsCounted(docs, w))
    val segDropped = rw.filter(col("n_kept") === 0L)
      .select(col("doc_id"), lit(false).as("kept"),
        lit("segment_dup").as("drop_reason"))
    val survivors = rw.filter(col("n_kept") > 0L).drop("n_kept")
    // incremental label build under the rewrite (r18): the pair build
    // over the rewritten corpus was the row's dominant cost (~2.5 of
    // ~4.6 s at sf0.1, SegProfile) while the rewrite changes only a
    // fraction of docs (20% at the fixture) — and the raw corpus's
    // pair frame is already session-memoized. Pairs partition exactly
    // on changed-status, so reuse is bit-identical (LawsSpec law).
    val segLabels = rawPairs.map { rp =>
      graft.operators.ConnectedComponents.runOnPairs(
        jaccardPairsUnderRewrite(docs, survivors, rp, cfg.jaccardThreshold)
          .select(col("d1").as("src"), col("d2").as("dst")))
    }
    // semanticLabels DO ride through: the rewrite changes text, not
    // embeddings, and docs it empties only ever reach the label
    // frame via left join — supplied cosine clusters stay valid
    curateReasonsDocLevel(survivors,
        cfg.copy(segmentDedupWidth = None), segLabels, semanticLabels)
      .unionByName(segDropped)
  }

  private def curateReasonsDocLevel(docs: DataFrame, cfg: CurateConfig,
      labels: Option[DataFrame],
      semanticLabels: Option[DataFrame] = None): DataFrame = {
    val g = new GopherRules(cfg)
    val qOk = docs.filter(g.all)
      .select(col("doc_id"), col("text"), col("n_chars"))
    val hashInput = if (cfg.normalizeForHash) normCol(col("text")) else col("text")
    val exKeep = qOk
      .groupBy(sha2(hashInput, 256)).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(true).as("ex_keep"))
    val contam = decontaminateOn(docs, cfg).filter(col("contaminated"))
      .select(col("doc_id"), lit(true).as("contam"))
    // stages 1–3 as per-doc markers: the gate verdict, the exact-dup
    // keeper flag and the contamination flag, one row per doc — what
    // the verdict join reads, and (filtered) the stage-3 survivors
    def markers(cols: Column*): DataFrame =
      docs.select(col("doc_id") +: cols :+ g.all.as("q_ok"): _*)
        .join(exKeep, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left")
    // With the containment stage on, stage3 is referenced by every
    // later stage AND the verdict join — four references through the
    // containment subtree alone — and Catalyst expands the full
    // gate+hash+decontaminate subtree (its own multi-scan plan) at each
    // reference with ZERO exchange reuse: the executed plan reached
    // 4190 formatted lines / 133 Exchanges / 73 parquet scans
    // (plans/r18/q_curate_containment_before_ckpt.txt). Materialize it
    // once: later stages re-derive from a local checkpoint instead of
    // replaying the pipeline per reference (the segment path's `rw`
    // discipline applied to the doc-level trunk). The trunk is the
    // MARKER frame (doc_id, text, n_chars, q_ok, ex_keep, contam), not
    // the survivors alone: stage3 is its filter, and the verdict join
    // starts from it too rather than re-deriving decontamination and
    // the exact hash.
    // MEASURED A/B (alternated in-process, sf0.1; BASELINE.md "Round-18
    // optimization-session addendum", tool at `git show
    // 1378a37:src/main/scala/graft/tools/CurateCkptAb.scala`): containment
    // 4.55 → 3.58 s steady-state (−21%); but the SEMANTIC variant reads
    // the OTHER way (2.8 → 3.4 s — its stage3 fan-out is half, and the
    // eager materialization job costs more than the duplicate subtrees
    // it removes), so only the containment path checkpoints —
    // OPTIMIZATION_r18.md §7 has both grids. Default-config runs keep
    // the lazy survivor frame and lazy markers (small fan-out, memoized
    // by the warm row; a marker-shaped lazy plan measured ~10% slower on
    // that memo build, likely because column pruning splits the shared
    // subtree and its exchanges stop being reused).
    // Cluster posture rides the session-wide [[Materialize]] policy
    // (r19 — `spark.graft.materialize=lazy` restores the lazy plan,
    // `reliable` swaps in durable checkpoint blocks; this replaced the
    // r18 per-site `spark.graft.curate.ckptStage3` hatch).
    val trunk = cfg.containmentThreshold.map(_ =>
      Materialize(markers(col("text"), col("n_chars"))))
    val stage3 = trunk.fold(
      qOk.join(exKeep.select(col("doc_id")), Seq("doc_id"))
        .join(contam.select(col("doc_id")), Seq("doc_id"), "left_anti"))(
      _.filter(col("q_ok") && col("ex_keep").isNotNull && col("contam").isNull)
        .select(col("doc_id"), col("text"), col("n_chars")))
    val labelDf = labels.getOrElse(clusterLabelsOn(docs, cfg.jaccardThreshold))
    val clusters = docs.select(col("doc_id"))
      .join(labelDf, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
    // optional stage 3b — containment drop, BEFORE the symmetric
    // near-dup stage: among the stage-3 survivors, a doc whose
    // 3-shingle set is ≥ threshold contained in a BETTER survivor (the
    // keep-best injective (n_chars, −doc_id) order) drops as
    // `contained_dup` — the excerpt/truncation verdict. Order
    // rationale: a truncated copy is USUALLY also a J ≥ 0.5 near-dup
    // (the fixture has no counterexample), and both stages keep the
    // longest member — running containment first changes the KEEPER
    // set only in documented one-pass edge chains while upgrading the
    // drop reason to the more specific one (it names which side is the
    // excerpt); run after near-dup it would be structurally vacuous.
    // One-pass directional semantics: drops are judged against STAGE-3
    // survivors, not final keepers (a container that later drops as
    // near_dup still shields its excerpts — the semantic stage's
    // one-shot-vs-iterative class). Pairs come from the contract
    // containment operator over survivors only — judging against an
    // upstream-dropped container would delete content whose only
    // surviving copy is the excerpt itself.
    val cnKeep = cfg.containmentThreshold.map { th =>
      val drops = betterContainerPairs(
          neardupContainmentOn(stage3.select(col("doc_id"), col("text")), th)
            .select(col("contained"), col("container")),
          stage3.select(col("doc_id"), col("n_chars")))
        .select(col("contained").as("doc_id")).distinct()
      stage3.select(col("doc_id")).join(drops, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(true).as("cn_keep"))
    }
    val stage3b = cnKeep.fold(stage3)(ck =>
      stage3.join(ck.select(col("doc_id")), Seq("doc_id")))
    val ndKeep = stage3b
      .join(clusters, "doc_id")
      .groupBy(col("rep"))
      .agg((-keepBestAgg.getField("nid")).as("doc_id"))
      .select(col("doc_id"), lit(true).as("nd_keep"))
    val surv4b = stage3b.join(ndKeep.select(col("doc_id")), Seq("doc_id"))
    // optional stage 5 — semantic near-dup keep-best: cluster the CORPUS
    // by exact cosine (labels on all embedded docs, like the text
    // clusters — sound because upstream stages only remove members),
    // then keep the best member per cluster AMONG THE STAGE-4 SURVIVORS
    // with the near_dup stage's exact metric. Docs without an embedding
    // row are singleton clusters (left join + coalesce) — absence of a
    // vector must never drop a document.
    val smKeep = cfg.semanticThreshold.map { th =>
      // supplied (vec_id, rep) cosine clusters skip the all-pairs build —
      // and lift the embedding-column requirement, which only exists to
      // catch a forgotten embeddings join before building labels here
      val slabels = semanticLabels.getOrElse {
        require(docs.columns.contains("embedding"),
          "semanticThreshold needs an `embedding` column on the corpus — " +
            "join the embeddings frame on doc_id before curating")
        VectorOps.semanticClustersOn(
          docs.filter(col("embedding").isNotNull)
            .select(col("doc_id").as("vec_id"), col("embedding")), th)
      }.select(col("vec_id").as("doc_id"), col("rep").as("srep"))
      surv4b
        .join(slabels, Seq("doc_id"), "left")
        .groupBy(coalesce(col("srep"), col("doc_id")).as("srep"))
        .agg((-keepBestAgg.getField("nid")).as("doc_id"))
        .select(col("doc_id"), lit(true).as("sm_keep"))
    }
    // optional stage 6 — media near-dup keep-best: the streaming media
    // stage's batch twin (stage order + first-drop-reason precedence
    // after semantic_dup). Cluster the CORPUS's media fingerprints with
    // the one-shot dedups (the semantic stage's posture: corpus-wide
    // labels are the batch pipeline's one-shot view), keep the best
    // member per cluster among the prior stages' survivors. Docs with
    // undecodable media are in no pair — singleton clusters via the
    // coalesce (no fingerprint must never drop a document).
    // Batch/stream divergence, shared with the semantic stage: a doc
    // DROPPED by an earlier stage can transitively bridge two survivor
    // clusters here (batch merges them, one survivor drops), while the
    // stream — which fingerprints survivors only — keeps both. That is
    // the deliberate semantic difference between a corpus-level
    // one-shot and arrival-order increments, on top of keep-best vs
    // keep-first; parity holds when neither applies (spec fixture).
    // Multi-media form: the stage folds over cfg.mediaEntries in
    // declaration order — kind k's keep-best runs AMONG kind k−1's
    // survivors, so a doc dropped as an audio dup never competes for an
    // image cluster's keeper slot (the streaming loop's sequential probe
    // order, mirrored). One decode pass per kind (each one-shot dedup
    // hashes its own column exactly once); the drop reason is the
    // single `media_dup` by default — per-kind attribution
    // (`media_dup:<kind>`, the FIRST kind that drops the doc in
    // declaration order) is the opt-in `mediaDupByKind` flag, priced as
    // one extra anti-join per kind only when on; with it off, verdicts
    // stay equal across any media declaration order.
    val mdStage = if (cfg.mediaEntries.isEmpty) None else Some {
      import graft.extract.Multimodal
      val start = surv4b.select(col("doc_id"), col("n_chars"))
        .transform(s => smKeep.fold(s)(sk =>
          s.join(sk.select(col("doc_id")), Seq("doc_id"))))
      val (survEnd, dropKinds) = cfg.mediaEntries
        .foldLeft((start, Option.empty[DataFrame])) {
          case ((surv, dropsAcc), (mc, kind)) =>
        require(docs.columns.contains(mc),
          s"media column '$mc' is not on the corpus")
        Multimodal.mediaKindLayout(kind) // kind validation only
        val media = docs.select(col("doc_id").cast(StringType).as("path"),
          col(mc).as("content"))
        val pairs = kind match {
          case "video" =>
            val vc = cfg.videoConfig
            Multimodal.videoDedup(media, decoder = vc.decoder,
                everyNthMs = vc.everyNthMs, durationMs = vc.durationMs,
                minJaccard = vc.minJaccard, maxPerSig = vc.maxPerSig)
              .select(col("video_id1").as("id1"), col("video_id2").as("id2"))
          case "audio" =>
            Multimodal.audioDedup(media)
              .select(col("audio_id1").as("id1"), col("audio_id2").as("id2"))
          case _ =>
            Multimodal.imageDedup(media).select(col("id1"), col("id2"))
        }
        val mlabels = Multimodal.mediaClusterLabels(pairs)
          .select(col("med_id").cast(LongType).as("doc_id"),
            col("rep_id").as("mrep"))
        val kept = surv.join(mlabels, Seq("doc_id"), "left")
          .groupBy(coalesce(col("mrep"), col("doc_id").cast(StringType))
            .as("mrep"))
          .agg(keepBestAgg.as("best"))
          .select((-col("best.nid")).as("doc_id"),
            col("best.nc").as("n_chars"))
        val drops = if (!cfg.mediaDupByKind) dropsAcc else {
          val d = surv.select(col("doc_id"))
            .join(kept.select(col("doc_id")), Seq("doc_id"), "left_anti")
            .select(col("doc_id"), lit(kind).as("md_kind"))
          Some(dropsAcc.fold(d)(_.unionByName(d)))
        }
        (kept, drops)
      }
      (survEnd.select(col("doc_id"), lit(true).as("md_keep")), dropKinds)
    }
    val mdKeep = mdStage.map(_._1)
    val mdDropKinds = mdStage.flatMap(_._2)
    val marked = trunk.getOrElse(markers())
      .join(ndKeep, Seq("doc_id"), "left")
      // the containment stage sits BEFORE near_dup in the CASE; with it
      // off, a true literal silences its branch (aliasing a LATER
      // stage's marker would mislabel that stage's drops). The later
      // optional stages alias the previous marker as before — with a
      // stage off, its marker ≡ the prior one by construction (the
      // streaming verdict builder's exact trick)
      .transform(m => cnKeep.fold(m.withColumn("cn_keep", lit(true)))(
        ck => m.join(ck, Seq("doc_id"), "left")))
      .transform(m => smKeep.fold(m.withColumn("sm_keep", col("nd_keep")))(
        sk => m.join(sk, Seq("doc_id"), "left")))
      .transform(m => mdKeep.fold(m.withColumn("md_keep", col("sm_keep")))(
        mk => m.join(mk, Seq("doc_id"), "left")))
      .transform(m => mdDropKinds.fold(m)(dk =>
        m.join(dk, Seq("doc_id"), "left")))
    // with per-kind attribution on, the media branch names the kind:
    // any doc reaching that branch survived every earlier stage, so it
    // is in the media stage's start set and carries exactly one md_kind
    val mediaReason =
      if (mdDropKinds.isEmpty) lit("media_dup")
      else concat(lit("media_dup:"), col("md_kind"))
    marked
      .select(col("doc_id"),
        when(!col("q_ok"), "quality")
          .when(col("ex_keep").isNull, "exact_dup")
          .when(col("contam").isNotNull, "decontaminated")
          .when(col("cn_keep").isNull, "contained_dup")
          .when(col("nd_keep").isNull, "near_dup")
          .when(col("sm_keep").isNull, "semantic_dup")
          .when(col("md_keep").isNull, mediaReason)
          .as("drop_reason"))
      .select(col("doc_id"), col("drop_reason").isNull.as("kept"),
        col("drop_reason"))
  }

  // ------------------------------------------------- incremental curate

  /** Resume semantics lifted to the curation pipeline — q_resume_anti at
    * pipeline level, which is what a continuously-ingesting corpus
    * actually runs: rows already present in `done` (a previous run's
    * output, or any set of already-emitted doc_ids) are not re-emitted;
    * the delta is the pipeline's output anti-joined on those ids.
    *
    * Exactness contract: `done ∪ delta == full run` holds EXACTLY when
    * `done` came from a run over the same corpus (resume after an
    * interrupted write — the pdf2dataset case), and when new documents
    * share no content (shingles/digests) with the already-curated ones —
    * both pinned in LawsSpec. When a new ingest DOES touch an existing
    * cluster (e.g. a longer member arrives), the full re-run may flip
    * that cluster's keeper while the delta leaves `done` rows untouched:
    * curation labels are corpus-dependent, so incremental reuse trades
    * bounded staleness on touched clusters for not recomputing the
    * corpus — the standard incremental-dedup tradeoff, made explicit.
    */
  def curateDeltaOn(docs: DataFrame, done: DataFrame,
      cfg: CurateConfig = CurateConfig(),
      labels: Option[DataFrame] = None): DataFrame =
    curateReasonsOn(docs, cfg, labels)
      .join(done.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))

  /** Contract form of [[curateDeltaOn]]: resume a curation run that was
    * interrupted after writing the deterministic-hash buckets 0–4 (half
    * the corpus, the same split machinery as [[sampleSplit]]) — the
    * emitted delta is every remaining document's label, and the union
    * with the already-written half is bit-identical to the full run by
    * construction.
    */
  def curateDelta(spark: SparkSession, dir: String): DataFrame =
    curateReasons(spark, dir)
      .join(Tables.t(spark, dir, "documents").select(col("doc_id"))
        .filter(detHash(col("doc_id")) % 10L < 5L),
        Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))

  // --------------------------------------------- durable curation state

  /** The durable-state family stores RAW-text artifacts (shingle index,
    * labels); the segment stage curates REWRITTEN text — mixing them
    * would silently apply raw-text cluster labels to a different corpus.
    * Rejected here at the shared layer (the CLI mirrors the message).
    */
  private def requireNoSegmentStage(cfg: CurateConfig, what: String): Unit =
    require(cfg.segmentDedupWidth.isEmpty,
      s"$what stores raw-text labels and cannot run the segment-dedup " +
        "stage (it curates rewritten text) — run curateOn without state, " +
        "or drop segmentDedupWidth")

  /** Persist the durable state of a curation run under `path` — what a
    * RESTARTED pipeline (new session, new cluster) needs so no stage is
    * recomputed from raw text:
    *
    *   - `index/`   the MinHash dedup index — banded signatures + shingle
    *                sets in the [[VectorOps.writeNeardupIndex]] layout
    *                (growable via appendNeardupIndex, compactable,
    *                crash-swap-recoverable);
    *   - `labels/`  (id, rep) near-dup cluster labels, rebuilt from the
    *                index's verified pairs
    *                ([[VectorOps.minhashPairsIndexed]]) — the corpus text
    *                is shingled exactly once, at index build;
    *   - `reasons/` the (doc_id, kept, drop_reason) verdicts — the `done`
    *                set a resumed run anti-joins
    *                ([[resumeCurateFromState]]).
    *
    * The session memos ([[jaccardPairsMemo]]/[[labelMemo]]/
    * [[reasonsMemo]]) die with the session; this is their durable twin.
    * At 100 TB the shingle pass dominates the dedup pipeline — here it is
    * paid once per CORPUS, not once per session, and every later rebuild,
    * resume, or ingest delta starts from the persisted artifacts.
    *
    * Exactness: candidates come from banded MinHash signatures but every
    * surviving pair is verified by EXACT Jaccard over the stored shingle
    * sets, so state-derived labels differ from the in-session exact
    * pipeline only where ALL bands of a true pair miss — the standard
    * LSH recall bound, spec-pinned equal on the fixture corpus
    * (CurateStateSpec) and measured per-round by the containment
    * differentials (Verify).
    */
  def writeCurateState(docs: DataFrame, path: String,
      cfg: CurateConfig = CurateConfig()): Unit = {
    requireNoSegmentStage(cfg, "writeCurateState")
    VectorOps.writeNeardupIndex(docs, s"$path/index")
    refreshCurateState(docs, path, cfg)
  }

  /** Rebuild `labels/` and `reasons/` from the CURRENT `index/` — the
    * refresh step after [[VectorOps.appendNeardupIndex]] admitted an
    * ingest batch (labels are corpus-dependent, so growth invalidates
    * them; see [[curateDeltaOn]]'s exactness contract). Reads the index
    * artifacts and `docs`' metadata columns — never re-shingles.
    */
  def refreshCurateState(docs: DataFrame, path: String,
      cfg: CurateConfig = CurateConfig()): Unit = {
    requireNoSegmentStage(cfg, "refreshCurateState")
    val spark = docs.sparkSession
    stateLabels(spark, s"$path/index", cfg)
      .write.mode("overwrite").parquet(s"$path/labels")
    curateReasonsOn(docs, cfg, Some(spark.read.parquet(s"$path/labels")))
      .write.mode("overwrite").parquet(s"$path/reasons")
  }

  /** Cluster labels from a persisted index alone: candidates from the
    * stored banded signatures, exact-Jaccard verification from the
    * stored shingle sets, CC over the verified edges. Zero text reads.
    */
  private def stateLabels(spark: SparkSession, indexPath: String,
      cfg: CurateConfig): DataFrame =
    graft.operators.ConnectedComponents.runOnPairs(
      VectorOps.minhashPairsIndexed(spark, indexPath, cfg.jaccardThreshold)
        .select(col("d1").as("src"), col("d2").as("dst")))

  /** [[curateOn]] with the persisted state's cluster labels — the full
    * verdict frame with zero shingle work in this pass.
    */
  def curateFromState(docs: DataFrame, path: String,
      cfg: CurateConfig = CurateConfig()): DataFrame = {
    requireNoSegmentStage(cfg, "curateFromState")
    curateOn(docs, cfg,
      Some(docs.sparkSession.read.parquet(s"$path/labels")))
  }

  /** Resume an interrupted curation from persisted state: only verdicts
    * whose doc_id is NOT in `done` (e.g. the partial output already on
    * disk) are re-emitted — [[curateDeltaOn]] with the state's labels, so
    * the resume pass shingles nothing and `done ∪ delta` equals the full
    * state-backed run bit-for-bit.
    */
  def resumeCurateFromState(docs: DataFrame, path: String, done: DataFrame,
      cfg: CurateConfig = CurateConfig()): DataFrame = {
    requireNoSegmentStage(cfg, "resumeCurateFromState")
    curateDeltaOn(docs, done, cfg,
      Some(docs.sparkSession.read.parquet(s"$path/labels")))
  }

  /** Everything through `stage3`, plus [[ndKeepCteSql]] over a caller-
    * chosen survivor CTE — split so the containment composition can
    * re-scope the near-dup keep-best to ITS survivors without a second
    * copy of the stage chain.
    */
  private val curateThroughStage3Sql: String =
    s"""$clusterCteSql,
       |$clustersCteSql,
       |q_ok AS (
       |  SELECT doc_id, text, n_chars FROM documents WHERE ${Gopher.allSql}),
       |ex_keep AS (
       |  SELECT min(doc_id) AS doc_id FROM q_ok GROUP BY sha256(text)),
       |$contamCtesSql,
       |contam AS (
       |  SELECT d.doc_id FROM documents d
       |  LEFT JOIN sizes ON d.doc_id = sizes.doc_id
       |  LEFT JOIN shared ON d.doc_id = shared.doc_id
       |  WHERE ${bucketSql("d.doc_id")} >= 9
       |    AND coalesce(shared.n_shared, 0) * 2 >= coalesce(sizes.n_sh, 0)
       |    AND coalesce(sizes.n_sh, 0) > 0),
       |stage3 AS (
       |  SELECT q.* FROM q_ok q JOIN ex_keep USING (doc_id)
       |  WHERE q.doc_id NOT IN (SELECT doc_id FROM contam))""".stripMargin

  private def ndKeepCteSql(from: String): String =
    s"""nd_keep AS (
       |  SELECT ${Sql.keepBest("s.n_chars", "s.doc_id")} AS doc_id
       |  FROM $from s JOIN clusters c ON s.doc_id = c.doc_id
       |  GROUP BY c.rep)""".stripMargin

  /** Everything through the `nd_keep` CTE — the four text stages as one
    * fragment, shared by [[curateReasonsSql]] (which closes it with the
    * four-stage CASE) and [[curateSemanticSql]] (which appends the
    * semantic-cluster CTEs and a five-stage CASE), so the stage
    * semantics cannot drift between the compositions.
    */
  private val curateStagesSql: String =
    s"""$curateThroughStage3Sql,
       |${ndKeepCteSql("stage3")}""".stripMargin

  /** Everything through the `reasons` CTE — shared by [[curateSql]] and
    * [[curateDeltaSql]] so the pipeline semantics cannot drift between
    * the full and the resumed oracle.
    */
  private val curateReasonsSql: String =
    s"""$curateStagesSql,
       |reasons AS (
       |  SELECT d.doc_id,
       |    CASE WHEN NOT ${Gopher.allSql} THEN 'quality'
       |         WHEN ek.doc_id IS NULL THEN 'exact_dup'
       |         WHEN ct.doc_id IS NOT NULL THEN 'decontaminated'
       |         WHEN nk.doc_id IS NULL THEN 'near_dup'
       |    END AS drop_reason
       |  FROM documents d
       |  LEFT JOIN ex_keep ek ON d.doc_id = ek.doc_id
       |  LEFT JOIN contam ct ON d.doc_id = ct.doc_id
       |  LEFT JOIN nd_keep nk ON d.doc_id = nk.doc_id)""".stripMargin

  val curateSql: String =
    s"""$curateReasonsSql
       |SELECT doc_id, (drop_reason IS NULL) AS kept, drop_reason
       |FROM reasons ORDER BY doc_id""".stripMargin

  val curateDeltaSql: String =
    s"""$curateReasonsSql
       |SELECT doc_id, (drop_reason IS NULL) AS kept, drop_reason
       |FROM reasons
       |WHERE ${detHashSql("doc_id")} % 10 >= 5
       |ORDER BY doc_id""".stripMargin

  // ------------------------------- composed curation (containment stage)

  /** The COMPOSED pipeline with the containment stage on
    * ([[CurateConfig.containmentThreshold]] = 0.8): after
    * quality/exact/decontamination, a stage-3 survivor whose 3-shingle
    * set is ≥ 0.8 contained in a BETTER survivor drops as
    * `contained_dup`, and the near-dup keep-best then runs over the
    * containment SURVIVORS (see the CurateConfig doc for the order
    * rationale). The oracle re-runs the shared through-stage3 chain,
    * appends the containment CTEs with the identical rounded predicate
    * and keep-best injective order, and RE-SCOPES the shared nd_keep
    * fragment to the containment survivors — stage composition
    * verified end-to-end (the q_curate_semantic posture).
    */
  def curateContainment(spark: SparkSession, dir: String): DataFrame =
    // the text clusters ride the session memo exactly like the other
    // composed pipelines (q_curate_semantic's posture) — without this
    // the query re-runs the full Jaccard clustering the family already
    // holds (measured: the bench row carried ~2 s of re-clustering)
    curateOn(Tables.t(spark, dir, "documents"),
      CurateConfig(containmentThreshold = Some(0.8)),
      labels = Some(clusterLabels(spark, dir)))

  val curateContainmentSql: String =
    s"""$curateThroughStage3Sql,
       |csh AS (
       |  SELECT doc_id, n_chars,
       |    CASE WHEN len(string_split(text, ' ')) >= 3
       |         THEN list_distinct([array_to_string(string_split(text, ' ')[i:i+2], ' ')
       |                             for i in range(1, len(string_split(text, ' ')) - 1)])
       |         ELSE [] END AS shingles
       |  FROM stage3),
       |ce AS (SELECT doc_id, n_chars, len(shingles) AS n, unnest(shingles) AS s
       |       FROM csh),
       |cn_drop AS (
       |  SELECT DISTINCT contained AS doc_id FROM (
       |    SELECT a.doc_id AS contained, b.doc_id AS container,
       |           a.n AS n_a, a.n_chars AS nc_a, b.n_chars AS nc_b,
       |           count(*) AS inter
       |    FROM ce a JOIN ce b ON a.s = b.s AND a.doc_id <> b.doc_id
       |    GROUP BY 1, 2, 3, 4, 5)
       |  WHERE round(inter / n_a, 6) >= 0.8
       |    AND (nc_b, -container) > (nc_a, -contained)),
       |cn_keep AS (
       |  SELECT doc_id FROM stage3
       |  WHERE doc_id NOT IN (SELECT doc_id FROM cn_drop)),
       |csurv AS (SELECT s.* FROM stage3 s JOIN cn_keep USING (doc_id)),
       |${ndKeepCteSql("csurv")},
       |creasons AS (
       |  SELECT d.doc_id,
       |    CASE WHEN NOT ${Gopher.allSql} THEN 'quality'
       |         WHEN ek.doc_id IS NULL THEN 'exact_dup'
       |         WHEN ct.doc_id IS NOT NULL THEN 'decontaminated'
       |         WHEN ck.doc_id IS NULL THEN 'contained_dup'
       |         WHEN nk.doc_id IS NULL THEN 'near_dup'
       |    END AS drop_reason
       |  FROM documents d
       |  LEFT JOIN ex_keep ek ON d.doc_id = ek.doc_id
       |  LEFT JOIN contam ct ON d.doc_id = ct.doc_id
       |  LEFT JOIN cn_keep ck ON d.doc_id = ck.doc_id
       |  LEFT JOIN nd_keep nk ON d.doc_id = nk.doc_id)
       |SELECT doc_id, (drop_reason IS NULL) AS kept, drop_reason
       |FROM creasons ORDER BY doc_id""".stripMargin

  // ---------------------------------------- composed curation (segments)

  /** The COMPOSED pipeline as a contract query: [[curateOn]] with the
    * r11 `segmentDedupWidth` stage on — corpus-wide width-8 segment
    * dedup rewrites every doc first, fully-boilerplate docs drop as
    * `segment_dup`, and the full document-level pipeline (gate, exact
    * dedup, decontamination, keep-best) runs over the REWRITTEN text.
    * The oracle rebuilds the rewritten corpus as a CTE and re-runs the
    * ENTIRE [[curateReasonsSql]] chain against it (the fragment's
    * `documents` references are re-pointed at the rewritten CTE), so
    * every downstream stage is oracled against the text it actually saw
    * — not just the stage composition. Docs producing no segment rows
    * at all (null text) fall through with their original text on BOTH
    * sides (engine: [[rewriteSegmentsCounted]]'s left join; oracle: the
    * rwdocs UNION branch), so the every-doc-verdicted-once contract
    * holds even off the fixture.
    */
  def curateSegments(spark: SparkSession, dir: String): DataFrame = {
    // the RAW corpus's verified pair frame rides the session memo
    // (threshold 0.5 — exactly CurateConfig's default jaccardThreshold),
    // so the rewritten corpus's labels are maintained incrementally
    // ([[jaccardPairsUnderRewrite]]): only pairs touching docs the
    // rewrite actually changed are recomputed — bit-identical to the
    // from-scratch build (LawsSpec) at ~the changed fraction of its cost
    val cfg = CurateConfig(segmentDedupWidth = Some(8))
    // the memoized frame is built at threshold 0.5 (jaccardPairs); a
    // drifted CurateConfig default would silently hand the incremental
    // label build pairs at the WRONG threshold (r18 ADVICE)
    require(cfg.jaccardThreshold == 0.5,
      s"curateSegments reuses the session-memoized J>=0.5 pair frame; " +
        s"CurateConfig.jaccardThreshold drifted to ${cfg.jaccardThreshold}")
    segmentReasons(Tables.t(spark, dir, "documents"), w = 8, cfg = cfg,
        semanticLabels = None, rawPairs = Some(jaccardPairs(spark, dir)))
      .orderBy(col("doc_id"))
  }

  /** The rewritten corpus (`rwdocs`) as oracle CTEs: [[dedupSegmentsSql]]'s
    * chain, names prefixed seg- to stay clear of the curate fragment's.
    */
  private val rwDocsCteSql: String =
    """segtoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |segs AS (
      |  SELECT doc_id, CAST(s.i AS BIGINT) AS idx, s.seg FROM (
      |    SELECT doc_id,
      |      unnest([{'i': i - 1,
      |               'seg': array_to_string(t[((i-1)*8+1):((i-1)*8+8)], ' ')}
      |              for i in range(1, CAST(ceil(len(t)/8.0) AS BIGINT) + 1)]) AS s
      |    FROM segtoks)),
      |segkept AS (
      |  SELECT doc_id, idx, seg FROM (
      |    SELECT doc_id, idx, seg,
      |           row_number() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
      |    FROM segs) WHERE rn = 1),
      |segagg AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |         string_agg(seg, ' ' ORDER BY idx) AS clean_text
      |  FROM segkept GROUP BY doc_id),
      |segtot AS (SELECT doc_id, count(*) AS n_seg FROM segs GROUP BY doc_id),
      |rwdocs AS (
      |  SELECT t.doc_id, a.clean_text AS text,
      |         CAST(length(a.clean_text) AS BIGINT) AS n_chars
      |  FROM segtot t JOIN segagg a ON t.doc_id = a.doc_id
      |  WHERE a.n_kept > 0
      |  UNION ALL
      |  SELECT d.doc_id, d.text, d.n_chars FROM documents d
      |  WHERE d.doc_id NOT IN (SELECT doc_id FROM segtot))""".stripMargin

  val curateSegmentsSql: String =
    s"""WITH RECURSIVE $rwDocsCteSql,
       |${curateReasonsSql.replace("documents", "rwdocs")
           .stripPrefix("WITH RECURSIVE ")}
       |SELECT doc_id, (drop_reason IS NULL) AS kept, drop_reason FROM reasons
       |UNION ALL
       |SELECT t.doc_id, false AS kept, 'segment_dup' AS drop_reason
       |FROM segtot t LEFT JOIN segagg a ON t.doc_id = a.doc_id
       |WHERE coalesce(a.n_kept, 0) = 0
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------- composed curation (semantic)

  /** The composed pipeline with the SEMANTIC stage on — [[curateOn]]
    * with `semanticThreshold = 0.35` over documents carrying their
    * embedding (embeddings joined on doc_id = vec_id): the four text
    * stages run unchanged, then each exact-cosine cluster keeps its
    * best surviving member and the rest drop as `semantic_dup`. This is
    * the batch twin of the streaming pipeline's stage 6
    * ([[graft.streaming.CurateIngest]]) — before it, a batch user could
    * not reproduce the stream's semantic verdicts on a corpus with
    * embeddings. The oracle re-runs the whole four-stage chain and adds
    * the semantic clusters as a second recursive closure (the
    * q_dedup_cluster_cosine CTE shape) — the full five-stage
    * composition is hash-verified end-to-end.
    */
  def curateSemantic(spark: SparkSession, dir: String): DataFrame =
    // both label families ride the session memos: text clusters from
    // [[clusterLabels]] (the q_curate/q_curate_delta frame) and cosine
    // clusters from [[VectorOps.dedupClusterCosine]] (whose pair build is
    // memoPairs'd) — the composed query pays neither the Jaccard nor the
    // all-pairs cosine pass twice in one session. The full-embeddings
    // label frame is exactly the oracle's own cluster shape (its
    // recursive closure runs over the embeddings TABLE); it matches the
    // docs-joined build whenever embeddings ⊆ documents, which the
    // fixture satisfies and ParamApiSpec pins.
    curateOn(
      Tables.t(spark, dir, "documents")
        .join(Tables.t(spark, dir, "embeddings")
            .select(col("vec_id").as("doc_id"), col("embedding")),
          Seq("doc_id"), "left"),
      CurateConfig(semanticThreshold = Some(0.35)),
      labels = Some(clusterLabels(spark, dir)),
      semanticLabels = Some(VectorOps.dedupClusterCosine(spark, dir)))

  val curateSemanticSql: String = {
    val cosRaw = (l: String, r: String) =>
      s"${VectorOps.dotSql(s"$l.embedding", s"$r.embedding")} / " +
        s"(sqrt($l.n2) * sqrt($r.n2))"
    s"""$curateStagesSql,
       |sembase AS (
       |  SELECT vec_id, embedding, ${VectorOps.norm2Sql("embedding")} AS n2
       |  FROM embeddings),
       |semdups AS (
       |  SELECT a.vec_id AS d1, b.vec_id AS d2
       |  FROM sembase a JOIN sembase b ON a.vec_id < b.vec_id
       |  WHERE ${cosRaw("a", "b")} >= 0.35),
       |semedges AS (SELECT d1 AS src, d2 AS dst FROM semdups
       |             UNION ALL SELECT d2, d1 FROM semdups),
       |semreach(a, b) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT r.a, e2.dst FROM semreach r JOIN semedges e2 ON r.b = e2.src),
       |semclusters AS (SELECT a AS doc_id, min(b) AS srep
       |                FROM semreach GROUP BY a),
       |stage4 AS (SELECT s.* FROM stage3 s JOIN nd_keep USING (doc_id)),
       |sm_keep AS (
       |  SELECT ${Sql.keepBest("s.n_chars", "s.doc_id")} AS doc_id
       |  FROM stage4 s LEFT JOIN semclusters c ON s.doc_id = c.doc_id
       |  GROUP BY coalesce(c.srep, s.doc_id)),
       |semreasons AS (
       |  SELECT d.doc_id,
       |    CASE WHEN NOT ${Gopher.allSql} THEN 'quality'
       |         WHEN ek.doc_id IS NULL THEN 'exact_dup'
       |         WHEN ct.doc_id IS NOT NULL THEN 'decontaminated'
       |         WHEN nk.doc_id IS NULL THEN 'near_dup'
       |         WHEN sk.doc_id IS NULL THEN 'semantic_dup'
       |    END AS drop_reason
       |  FROM documents d
       |  LEFT JOIN ex_keep ek ON d.doc_id = ek.doc_id
       |  LEFT JOIN contam ct ON d.doc_id = ct.doc_id
       |  LEFT JOIN nd_keep nk ON d.doc_id = nk.doc_id
       |  LEFT JOIN sm_keep sk ON d.doc_id = sk.doc_id)
       |SELECT doc_id, (drop_reason IS NULL) AS kept, drop_reason
       |FROM semreasons ORDER BY doc_id""".stripMargin
  }

  val all: Seq[ContractQuery] = Seq(
    ContractQuery("q_dedup_exact", dedupExact, Some(dedupExactSql)),
    ContractQuery("q_dedup_asof", dedupAsOf, Some(dedupAsOfSql)),
    ContractQuery("q_dedup_keep_best", dedupKeepBest, Some(dedupKeepBestSql)),
    ContractQuery("q_curate", curate, Some(curateSql)),
    ContractQuery("q_curate_delta", curateDelta, Some(curateDeltaSql)),
    ContractQuery("q_curate_segments", curateSegments, Some(curateSegmentsSql)),
    ContractQuery("q_curate_semantic", curateSemantic, Some(curateSemanticSql)),
    ContractQuery("q_curate_containment", curateContainment,
      Some(curateContainmentSql)),
    ContractQuery("q_repetition_ratio", repetitionRatio, Some(repetitionRatioSql)),
    ContractQuery("q_domain_mix", domainMix, Some(domainMixSql)),
    ContractQuery("q_domain_resample", domainResample, Some(domainResampleSql)),
    ContractQuery("q_neardup_jaccard", neardupJaccard, Some(neardupJaccardSql)),
    ContractQuery("q_tfidf", tfidf, Some(tfidfSql)),
    ContractQuery("q_text_stats", textStats, Some(textStatsSql)),
    ContractQuery("q_corpus_report", corpusReport, Some(corpusReportSql)),
    ContractQuery("q_corpus_drift", corpusDrift, Some(corpusDriftSql)),
    ContractQuery("q_quality_filter", qualityFilter, Some(qualityFilterSql)),
    ContractQuery("q_quality_score", qualityScore, Some(qualityScoreSql)),
    ContractQuery("q_quality_logprob", qualityUnigramLogprob,
      Some(qualityUnigramLogprobSql)),
    ContractQuery("q_select_quality_budget", selectQualityBudget,
      Some(selectQualityBudgetSql)),
    ContractQuery("q_text_langid", textLangid, Some(textLangidSql)),
    ContractQuery("q_token_count", tokenCount, Some(tokenCountSql)),
    ContractQuery("q_doc_fingerprint", docFingerprint, Some(docFingerprintSql)),
    ContractQuery("q_ngram_top", ngramTop, Some(ngramTopSql)),
    ContractQuery("q_fingerprint_rolling", fingerprintRolling, Some(fingerprintRollingSql)),
    ContractQuery("q_dedup_cluster", dedupCluster, Some(dedupClusterSql)),
    ContractQuery("q_text_redact", textRedact, Some(textRedactSql)),
    ContractQuery("q_pack_chunks", packChunks, Some(packChunksSql)),
    ContractQuery("q_sample_split", sampleSplit, Some(sampleSplitSql)),
    ContractQuery("q_split_leakage_safe", splitLeakageSafe,
      Some(splitLeakageSafeSql)),
    ContractQuery("q_dup_rate_by_source", dupRateBySource,
      Some(dupRateBySourceSql)),
    ContractQuery("q_source_overlap", sourceOverlap, Some(sourceOverlapSql)),
    ContractQuery("q_novelty_curve", noveltyCurve, Some(noveltyCurveSql)),
    ContractQuery("q_neardup_containment", neardupContainment,
      Some(neardupContainmentSql)),
    ContractQuery("q_sample_stratified", sampleStratified, Some(sampleStratifiedSql)),
    ContractQuery("q_sample_weighted", sampleWeighted, Some(sampleWeightedSql)),
    ContractQuery("q_decontaminate", decontaminate, Some(decontaminateSql)),
    ContractQuery("q_decontaminate_bloom", decontaminateBloom, Some(decontaminateSql)),
    ContractQuery("q_dup_spans", dupSpans, Some(dupSpansSql)),
    ContractQuery("q_dedup_segments", dedupSegments, Some(dedupSegmentsSql)),
    ContractQuery("q_dedup_paragraphs", dedupParagraphs, Some(dedupParagraphsSql)),
    ContractQuery("q_text_normalize", textNormalize, Some(textNormalizeSql)),
    ContractQuery("q_dedup_normalized", dedupNormalized, Some(dedupNormalizedSql)),
    ContractQuery("q_topk_sketch", topkSketch, Some(topkSketchSql)),
    ContractQuery("q_inverted_index", invertedIndex, Some(invertedIndexSql)),
    ContractQuery("q_quality_gopher", qualityGopher, Some(qualityGopherSql)),
    ContractQuery("q_bm25", bm25, Some(bm25Sql)),
    ContractQuery("q_search_hybrid", searchHybrid, Some(searchHybridSql))
  )
}
