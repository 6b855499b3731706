package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.rass.{DeterministicEmbedder, Embedder}
import graft.rass.ingest.{FhirBundleParser, IngestCommit}

/** Structured Streaming operators.
  *
  * The reference's only data-plane streaming is startup directory
  * auto-ingestion (`app/main.py:1285-1321`; the lifespan call is
  * commented out at `main.py:2977-2981` but README still documents it)
  * — [[AutoIngest]] is its always-on Spark form. The windowed /
  * sessionized event aggregations are the north-star extensions over
  * the `events` table; their batch twins are
  * `relational.StarQueries.q11EventTumbling` / `q13Sessionize`, and the
  * specs pin stream results to the batch results.
  *
  * Scale notes: the windowed count is a streaming hash aggregate whose
  * state is bounded by the watermark horizon; sessionization state is
  * one small struct per active user, dropped on idle timeout —
  * both shapes run unchanged on a 1000-executor cluster with
  * state-store sharding on the grouping key.
  */
object Streams {

  /** The streaming/batch twin registry: every streaming operator here
    * whose semantics are EXACTLY a batch operator's, mapped to that
    * batch twin. StreamsSpec's table-driven equivalence test enumerates
    * THIS map — registering a new twin without adding its equivalence
    * runner (or vice versa) fails the suite, so the stream==batch proof
    * can never silently lapse for a new operator. [[AutoIngest]] is
    * deliberately absent: it is an ingest pipeline with its own
    * idempotence/stats specs, not a pure twin of one batch operator.
    */
  val twinRegistry: Map[String, String] = Map(
    "windowed_counts" -> "tumbling 15-min groupBy over events (q11's shape)",
    "hopping_counts" -> "hopping 30/15-min groupBy over events (q27's shape)",
    "sessionize" -> "relational.StarQueries.q13Sessionize (lag-based batch sessionizer)",
    "session_window" -> "relational.StarQueries.q20SessionWindowAgg (native session_window batch agg)",
    "stream_stream_join" -> "30-minute user_id range self-join over events",
    "dedup" -> "exact distinct-by-event_id over the replayed stream",
    "contamination_guard" -> "p10 leaked-gram sweep (shared TextAnalysis.gramHashes)",
    "ivf_ingest_assign" -> "nearest-frozen-centroid argmax (s09's index-add path)",
    "funnel" -> "relational.StarQueries.q25Funnel (view→click→purchase min-chain)",
    "delta_dedup_guard" -> "pipeline.Dedup.deltaCandidates (d08's batch x corpus LSH banding)",
    "line_dedup_guard" -> "pipeline.Dedup.d14LineDedup excision list + first-collision screen (per-row fixed-width line hashing via the shared lineHashes projection, joined against the frozen FULL corpus line table with df — the df>=2 stratum equals d14's per-doc excision list exactly, proven by replaying the cut and matching d14's cleaned-sequence md5 per document; the df==1 stratum flags lines whose admission would CREATE df=2 boilerplate, pinned on a constructed corpus)",
    "pq_encode" -> "pipeline.Similarity.pqIndex code table (s12/s13's stored 8-byte codes)",
    "semantic_decontam_guard" -> "pipeline.Similarity.s15Scored tau-screen (s15's batch candidate set at cosine >= tau)",
    "dsir_guard" -> "pipeline.TextAnalysis.p23DsirWeights (hashed-bigram importance weights vs the frozen 4096-bucket model)",
    "pii_guard" -> "pipeline.TextAnalysis.p27PiiRedaction (per-row multi-class regex redaction profile, shared redactionProfile projection)",
    "luhn_guard" -> "pipeline.TextAnalysis.p28LuhnRedaction (per-row checksum-gated account-number redaction, shared luhnProfile projection)",
    "quality_guard" -> "pipeline.TextAnalysis.p24QualityClassifier (trained micro-logit scoring vs the frozen 4096-bucket weight vector)",
    "vocab_novelty_guard" -> "pipeline.TextAnalysis.p30VocabNovelty (per-row bloom screen of arriving token types against the frozen train-vocabulary sketch — certain-novel lower bound, <=1% fp undercount; the exact count is p30's anti-join)",
    "audio_dup_guard" -> "pipeline.Multimodal.m09AudioAlignedPairs (per-row bloom screen of arriving payloads' content-defined landmarks against the frozen corpus landmark sketch — certain-new windows are exact, known-count is a <=1% fp upper bound; offset-aligned confirmation is m09's batch join)",
    "phash_guard" -> "pipeline.Multimodal.m08ImagePhashPairs (per-row aHash via the shared imagePhashArray projection, MIH probe of the frozen band-bucketed phash index with in-row Hamming verification — EXACT m08 pair semantics per arriving image: pigeonhole guarantees the twin's bucket is among the 14 read, and candidates are verified, never trusted)")

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionSummary(user_id: Long, n_sessions: Long, n_events: Long)

  /** Tumbling 15-minute counts per event type with a 30-minute
    * watermark (late data beyond it is dropped; windows finalize and
    * emit append-mode results).
    */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "15 minutes").getField("start").as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))

  /** HOPPING 30-minute windows advancing every 15 (q27's twin): each
    * event updates exactly two overlapping window states; the
    * watermark finalizes a window once event time passes its end + the
    * horizon, so open state is bounded by (len/slide) x the active key
    * volume inside the horizon — the overlap factor is a constant 2.
    */
  def hoppingEventCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(
        window(col("ts"), "30 minutes", "15 minutes").getField("start")
          .as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))

  /** Watermarked stream-stream inner join: each left event matched to
    * same-user right events within the following 30 minutes. Both sides
    * carry watermarks, so the join state (buffered unmatched rows) is
    * evicted once event time passes the window — bounded state at any
    * scale; the shuffle keys on user_id.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame): DataFrame = {
    val a = left.withWatermark("ts", "30 minutes")
      .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
        col("ts").as("a_ts"), col("event_type").as("a_type"))
    val b = right.withWatermark("ts", "30 minutes")
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts").as("b_ts"), col("event_type").as("b_type"))
    a.join(b, expr(
      """a_user = b_user AND b_ts > a_ts AND
        |b_ts <= a_ts + interval 30 minutes""".stripMargin))
      .select(col("a_id"), col("b_id"), col("a_user").as("user_id"),
        col("a_type"), col("b_type"))
  }

  /** Watermarked streaming exact-dedup (the streaming twin of the
    * batch d01 operator): the first occurrence of each event_id passes,
    * replays and duplicates are dropped. `dropDuplicatesWithinWatermark`
    * evicts a key's state once the watermark passes it, so the state
    * store is bounded by the watermark horizon's key volume — the plain
    * `dropDuplicates` would grow a key entry forever, which at 100 TB of
    * stream history is unbounded state. Upstream at-least-once delivery
    * (file redelivery, producer retries) is exactly the duplication this
    * absorbs.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Native session-window aggregation (the streaming twin of the batch
    * q20 operator): per-user sessions with a 30-minute inactivity gap
    * via `session_window`. The engine merges partial sessions as late
    * events chain them together, and the watermark bounds how long an
    * open session's state waits for a chaining event — session state
    * finalizes (and is evicted) once event time passes gap + watermark
    * beyond its last event, so state is bounded by the open-session
    * volume inside the horizon at any scale.
    */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("n_events"), col("total_value"))

  /** Streaming decontamination guard (the streaming face of the batch
    * p09/p10 sweep): each arriving document's word-13-grams are joined
    * against the STATIC train-split gram index, and every leaked
    * (doc_id, gram-hash) pair is emitted as it arrives — a consumer
    * quarantines any doc_id it sees here before the doc can reach a
    * published eval split.
    *
    * Scale shape: a STATELESS stream-static inner join — no watermark,
    * no state store, append mode. The static side is the materialized
    * gram-index artifact (the same table the batch sweep reads;
    * ingest-time, not per-microbatch), and the gram definition is
    * shared ([[graft.pipeline.TextAnalysis.gramHashes]]) so batch and
    * stream can never drift. Per-doc aggregation is deliberately left
    * to the consumer: counting grams per doc in-stream would need
    * keyed state, and the guard's decision ("any leak → quarantine")
    * doesn't require it.
    *
    * `trainGrams` must be the DISTINCT gram-hash table (column `g`) —
    * the static subplan re-executes per micro-batch, so deduping here
    * would re-aggregate the whole index every batch; the artifact is
    * stored distinct instead (and duplicate grams would emit duplicate
    * leak rows).
    */
  def contaminationGuard(docs: DataFrame, trainGrams: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.pipeline.TextAnalysis.toks(col("text")).as("t"))
      .select(col("doc_id"),
        explode(graft.pipeline.TextAnalysis.gramHashes(col("t"))).as("g"))
      .join(trainGrams.select(col("g")), Seq("g"), "inner")
      .select(col("doc_id"), col("g"))

  /** Streaming delta-dedup guard (the streaming face of batch d08's
    * candidate generation): each arriving document is MinHash-banded
    * PER ROW ([[graft.pipeline.Dedup.rowBands]] — one document's
    * signature needs no aggregation) and its buckets joined against
    * the STATIC corpus band table; every (doc_id, corpus c_id, band)
    * collision is emitted as it arrives. A consumer routes collided
    * docs to the exact-Jaccard verifier (d08's verify join) before
    * admitting them to the corpus — the same two-phase shape as the
    * contamination guard: cheap stateless screen in-stream, exact
    * confirm out-of-band.
    *
    * Scale shape: stateless stream-static inner join, no watermark, no
    * state store, append mode. The static side is the stored corpus
    * band artifact (ingest-time, bucket-partitioned at scale), and the
    * band definition is shared with the batch path so the two can
    * never drift (the twin spec proves candidate-set equality).
    */
  def deltaDedupGuard(docs: DataFrame, corpusBands: DataFrame): DataFrame =
    graft.pipeline.Dedup.rowBands(docs)
      .join(corpusBands, Seq("band", "bucket"))
      .select(col("doc_id"), col("c_id"), col("band"))

  /** Streaming line-dedup guard (the streaming face of batch d14's
    * excision criterion): each arriving document's fixed-width line
    * hashes — the shared [[graft.pipeline.Dedup.lineHashes]]
    * projection, so the stream and the batch pass can never hash
    * differently — join the STATIC full corpus line table
    * ([[graft.pipeline.Dedup.corpusLineTable]]), and every
    * (doc_id, line_idx) colliding with a known corpus line is emitted
    * as it arrives, carrying that line's corpus document frequency.
    * Two strata, both needed for admission (ADVICE r18 closed the
    * df==1 gap): `df >= 2` rows are boilerplate d14 would excise from
    * the corpus TODAY — a consumer excises exactly those windows
    * (d14's edit) before the document lands; `df == 1` rows are FIRST
    * collisions — admitting the line unedited creates a df=2
    * boilerplate pair the next batch d14 would excise from both
    * carriers, so the consumer routes them to review/excision too.
    * That is what makes "boilerplate never accumulates" true rather
    * than "already-known boilerplate never accumulates". The twin spec
    * proves the df>=2 stratum IS d14's per-doc excision list by
    * replaying the cut and matching d14's published cleaned-sequence
    * md5 for every document, and pins the df==1 first-collision path
    * on a constructed corpus (the real corpus replay can't exercise
    * it: replayed docs match themselves).
    *
    * Scale shape: stateless stream-static inner join — no watermark,
    * no state store, append mode; the static side is one row per
    * distinct corpus line (the d08-corpus-band-table shape: a stored
    * hash-bucket-partitioned artifact whose join prunes to the
    * arriving batch's buckets — bigger than the dup-only subset, the
    * price of screening first collisions), and the per-row work is one
    * token split + HOF hash pass.
    */
  def lineDedupGuard(docs: DataFrame, corpusLines: DataFrame): DataFrame =
    graft.pipeline.Dedup.lineHashes(docs)
      .join(corpusLines, Seq("h"))
      .select(col("doc_id"), col("si"), col("h"), col("df"))

  /** Streaming semantic-decontamination guard (the streaming face of
    * batch s15's candidate screen): each arriving vector — a candidate
    * eval/test sample — probes its [[graft.pipeline.Similarity.NProbe]]
    * nearest FROZEN centroids with a per-row sort over the broadcast
    * centroid row (struct(-cos, cid) ordering, the identical tie rule
    * to the batch `topProbes`), joins the STATIC train-split vector
    * table keyed by cell, and emits every tau-exceeding
    * (vec_id, train_id) collision as it arrives. A consumer routes
    * collided vectors to s15's exact per-test argmax before admitting
    * the sample to an eval set — the same two-phase shape as the
    * lexical contamination guard: cheap stateless screen in-stream,
    * exact confirm out-of-band. Stateless stream-static join, no
    * watermark, no state store, append mode; the static side is the
    * stored train-side index (cell-partitioned at scale).
    */
  def semanticDecontamGuard(vecs: DataFrame, centsRow: DataFrame,
      trainVecs: DataFrame): DataFrame = {
    graft.rass.expressions.GraftExtensions.register(vecs.sparkSession)
    val probes = slice(array_sort(transform(col("cents"), c =>
      struct((-call_function("cosine_sim", col("v"), c.getField("cv")))
        .as("nc"), c.getField("cid").as("cid")))),
      1, graft.pipeline.Similarity.NProbe)
    vecs.crossJoin(centsRow)
      .select(col("vec_id"), col("v"), explode(probes).as("p"))
      .select(col("vec_id"), col("v"), col("p").getField("cid").as("cell"))
      .join(trainVecs, Seq("cell"))
      .select(col("vec_id"), col("train_id"),
        call_function("cosine_sim", col("v"), col("tv")).as("cosine"))
      .filter(col("cosine") >= graft.pipeline.Similarity.SemDedupTau)
      .select(col("vec_id"), col("train_id"))
  }

  /** Streaming DSIR admission guard (the streaming face of batch
    * p23's importance scoring): each arriving document is hashed to
    * its bigram feature buckets PER ROW (the shared
    * [[graft.pipeline.TextAnalysis.bigramBuckets]] extraction, so the
    * stream and the batch scorer can never hash differently) and its
    * importance weight is a per-row integer fold over the FROZEN
    * 4096-bucket model riding in as ONE static row — the
    * data-selection gate a continuously ingesting pipeline applies
    * before admitting a document to the training pool. Stateless by
    * construction: no shuffle, no watermark, no state store, append
    * mode; the model row is broadcast-sized at ANY corpus scale
    * because the hashed feature space is fixed (the DSIR property).
    * Documents under 2 tokens carry no features and are emitted with
    * weight 0, unselected — the same out-of-scope verdict the batch
    * scorer gives by omission.
    */
  def dsirGuard(docs: DataFrame, modelRow: DataFrame): DataFrame = {
    // tokens and the bucket array are each projected into their own
    // column before use: the tokenizer would otherwise re-evaluate
    // per transform element and the md5 extraction once per consumer
    // (size + fold) — the same O(tokens²) trap the batch extractor
    // documents on bigramBuckets itself.
    docs.crossJoin(modelRow)
      .select(col("doc_id"),
        graft.pipeline.TextAnalysis.toks(col("text")).as("t"), col("lam"))
      .select(col("doc_id"),
        graft.pipeline.TextAnalysis.bigramBuckets(col("t")).as("bs"),
        col("lam"))
      .select(col("doc_id"), size(col("bs")).cast("long").as("n_feats"),
        aggregate(col("bs"), lit(0L), (acc, b) =>
          acc + element_at(col("lam"), (b + 1L).cast("int"))).as("qlw"))
      .withColumn("selected",
        when(col("qlw") > 0L, 1L).otherwise(0L))
  }

  /** Streaming quality-admission guard (the streaming face of batch
    * p24's discriminative classifier): each arriving document hashes
    * to the SHARED bigram feature buckets and its micro-logit is a
    * per-row integer fold over the FROZEN trained weight vector
    * riding in as ONE static row — the post-training serving path of
    * a quality classifier, applied at ingest. Stateless by
    * construction: no shuffle, no watermark, no state store, append
    * mode; the model row is 4096 longs at ANY corpus scale (the
    * hashed-feature property). Documents under 2 tokens carry no
    * features and emit (0, 0, 0) — the batch scorer's
    * verdict-by-omission made explicit, exactly as [[dsirGuard]].
    */
  def qualityGuard(docs: DataFrame, modelRow: DataFrame): DataFrame =
    // tokens and the bucket array pre-projected per the bigramBuckets
    // lambda-capture rule (same as dsirGuard)
    docs.crossJoin(modelRow)
      .select(col("doc_id"),
        graft.pipeline.TextAnalysis.toks(col("text")).as("t"), col("wv"))
      .select(col("doc_id"),
        graft.pipeline.TextAnalysis.bigramBuckets(col("t")).as("bs"),
        col("wv"))
      .select(col("doc_id"), size(col("bs")).cast("long").as("n_feats"),
        aggregate(col("bs"), lit(0L), (acc, b) =>
          acc + element_at(col("wv"), (b + 1L).cast("int"))).as("z"))
      .select(col("doc_id"), col("n_feats"),
        when(col("n_feats") > 0L,
          graft.pipeline.TextAnalysis.fdiv(col("z"), col("n_feats")))
          .otherwise(0L).as("logit_micro"),
        when(col("z") > 0L, 1L).otherwise(0L).as("selected"))

  /** Streaming PII-redaction guard (the streaming face of batch p27):
    * each arriving (doc_id, text) row is profiled by the SHARED
    * [[graft.pipeline.TextAnalysis.redactionProfile]] projection —
    * per-class match counts plus the md5 of the redacted token
    * sequence — as it arrives. An ingest pipeline admits the redacted
    * form (or quarantines high-count docs) before anything downstream
    * sees raw text; running the scrub in-stream means PII never lands
    * in the corpus at all, the shape FineWeb-style releases need.
    *
    * Scale shape: stateless per-row regex projection — no state store,
    * no watermark, no shuffle, append mode; identical per-row cost to
    * the batch scrub.
    */
  def piiGuard(docs: DataFrame): DataFrame =
    graft.pipeline.TextAnalysis.redactionProfile(
      docs.select(col("doc_id"), col("text").as("pii_text")))

  /** Streaming Luhn-redaction guard (batch p28's streaming face):
    * arriving documents' 16-digit runs are checksum-gated and scrubbed
    * per row through the SHARED
    * [[graft.pipeline.TextAnalysis.luhnProfile]] projection — same
    * stateless shape as [[piiGuard]], extended to the PII class a
    * regex alone cannot decide (the mod-10 validity fold runs
    * in-stream, per token).
    */
  def luhnGuard(docs: DataFrame): DataFrame =
    graft.pipeline.TextAnalysis.luhnProfile(
      docs.select(col("doc_id"), col("text").as("cc_text")))

  /** Streaming vocabulary-novelty guard (batch p30's streaming face):
    * each arriving document's distinct token types are probed per row
    * against the FROZEN train-vocabulary bloom sketch
    * ([[graft.pipeline.TextAnalysis.trainVocabBloomBytes]]) through
    * the codegen `bloom_might_contain` expression — the OOV-spike
    * alarm at ingest, before a drifting source contaminates
    * downstream models calibrated on the frozen distribution.
    *
    * Certainty direction: a bloom has NO false negatives, so every
    * token the guard flags novel IS novel; ~1 % of truly-novel tokens
    * false-positive into "seen", making `n_novel_types` a certain
    * LOWER bound (the exact count is batch p30's anti-join). Scale
    * shape: stateless per-row HOF over a constant |vocab|-bounded
    * sketch — no state store, no watermark, no shuffle, append mode.
    */
  def vocabNoveltyGuard(docs: DataFrame, vocabBloom: Array[Byte]): DataFrame = {
    graft.rass.expressions.GraftExtensions.register(docs.sparkSession)
    docs
      .select(col("doc_id"),
        array_distinct(graft.pipeline.TextAnalysis.toks(col("text"))).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_types"),
        size(org.apache.spark.sql.functions.filter(col("ts"), t =>
          not(call_function("bloom_might_contain", lit(vocabBloom), t))))
          .cast("long").as("n_novel_types"))
      .withColumn("novel_ppm",
        expr("CAST(n_novel_types * 1000000 DIV n_types AS BIGINT)"))
  }

  /** Streaming audio-dup guard (batch m09's streaming face): each
    * arriving payload's content-defined landmark windows (the SHARED
    * [[graft.pipeline.Multimodal.audioWindowArray]] projection — word
    * -boundary anchors in the stub, spectral peaks in a real decoder)
    * are probed per row against the FROZEN corpus landmark bloom
    * sketch through the codegen `bloom_might_contain` expression —
    * the re-upload screen at ingest, before a duplicate payload costs
    * a decode + index pass.
    *
    * Certainty direction: a bloom has NO false negatives, so every
    * window the guard reads as NEW is certainly absent from the
    * corpus; ~1 % of truly-new windows false-positive into "known",
    * making `n_known_landmarks` an UPPER bound (>= the true count —
    * conservative for a dup screen: it can only over-flag, never let
    * a true dup read clean). The [[graft.pipeline.Multimodal.AuMinVotes]]
    * flag mirrors m09's vote floor WITHOUT the offset-alignment
    * confirmation — that needs the corpus-side offsets and is exactly
    * the batch join's job on the flagged survivors. Scale shape:
    * stateless per-row HOF over a constant |landmarks|-bounded
    * sketch — no state store, no watermark, no shuffle, append mode.
    */
  def audioDupGuard(docs: DataFrame, landmarkBloom: Array[Byte]): DataFrame = {
    graft.rass.expressions.GraftExtensions.register(docs.sparkSession)
    // keepShort: EVERY arriving payload yields a profile row — a clip
    // shorter than one landmark window carries no landmarks and reads
    // clean (n_landmarks = 0), it does not silently vanish from the
    // dup screen (round-16 advisory)
    graft.pipeline.Multimodal.audioWindowArray(docs, keepShort = true)
      .select(col("doc_id"), size(col("wins")).cast("long").as("n_landmarks"),
        size(org.apache.spark.sql.functions.filter(col("wins"), w =>
          call_function("bloom_might_contain", lit(landmarkBloom),
            w.getField("h"))))
          .cast("long").as("n_known_landmarks"))
      .withColumn("known_ppm",
        expr("CAST(n_known_landmarks * 1000000 DIV greatest(n_landmarks, 1) AS BIGINT)"))
      .withColumn("likely_dup",
        (col("n_known_landmarks") >= graft.pipeline.Multimodal.AuMinVotes)
          .cast("long"))
  }

  /** Streaming image-dup guard (batch m08's streaming face): each
    * arriving image payload is aHashed per row with the SHARED
    * [[graft.pipeline.Multimodal.imagePhashArray]] projection (the
    * stubbed decode contract; real deployments swap decoded luma means
    * behind MediaDecoder), its [[graft.pipeline.Multimodal.PhBands]]
    * band buckets are read out of the FROZEN corpus MIH index (one
    * static map row, [[graft.pipeline.Multimodal.phashBandIndexRow]]),
    * and every candidate is Hamming-VERIFIED in the same per-row
    * expression — so `n_dup_matches`/`best_hamming`/`likely_dup` carry
    * EXACT m08 semantics per arriving image, not a sketch screen: an
    * upload within Hamming <= PhHammingCap of any indexed image always
    * flags (pigeonhole: 13 differing bits cannot touch all 14 bands,
    * so at least one band bucket contains the twin), and a novel one
    * never does (candidates are verified, never trusted). The sketch
    * route the audio guard takes is VACUOUS here — 4-bit bands give a
    * 224-value key universe that any real corpus saturates (measured:
    * a gibberish payload read 14/14 bands "known" at sf0.01) — see the
    * index-row scaladoc for the full trade.
    *
    * A payload shorter than one hash grid
    * ([[graft.pipeline.Multimodal.PhBits]] bytes) is profiled clean
    * with a NULL ahash, not dropped (the audio guard's every-row
    * contract). Scale shape: stateless stream-static cross join of one
    * broadcast index row, then a per-row HOF touching exactly 14
    * band buckets (candidate volume is Σ df(band), never |images|);
    * no state store, no watermark, no shuffle, append mode.
    */
  def phashDupGuard(docs: DataFrame, bandIndexRow: DataFrame): DataFrame = {
    val cap = graft.pipeline.Multimodal.PhHammingCap
    val cands = flatten(transform(
      graft.pipeline.Multimodal.phashBandKeys(col("ahash")),
      k => coalesce(element_at(col("idx"), k),
        expr("CAST(array() AS array<struct<doc_id:bigint,ahash:bigint>>)"))))
    val verified = array_distinct(transform(
      org.apache.spark.sql.functions.filter(cands,
        c => bit_count(c.getField("ahash").bitwiseXOR(col("ahash"))) <= cap),
      c => struct(c.getField("doc_id").as("doc_id"),
        bit_count(c.getField("ahash").bitwiseXOR(col("ahash")))
          .cast("long").as("hamming"))))
    graft.pipeline.Multimodal.imagePhashArray(docs, keepShort = true)
      .crossJoin(bandIndexRow)
      .withColumn("m", when(col("ahash").isNull,
        expr("CAST(array() AS array<struct<doc_id:bigint,hamming:bigint>>)"))
        .otherwise(verified))
      .select(col("doc_id"), col("ahash"),
        size(array_distinct(transform(col("m"), c => c.getField("doc_id"))))
          .cast("long").as("n_dup_matches"),
        array_min(transform(col("m"), c => c.getField("hamming")))
          .as("best_hamming"))
      .withColumn("likely_dup", (col("n_dup_matches") >= 1).cast("long"))
  }

  /** The frozen p24 weight vector as one broadcastable static row —
    * the model side of [[qualityGuard]]: position b+1 is w(b).
    */
  def qcModelAsRow(spark: SparkSession, w: Array[Long]): DataFrame =
    spark.createDataFrame(Seq(Tuple1(w.toSeq))).toDF("wv")

  /** The frozen DSIR model collapsed to one broadcastable row — the
    * static side of [[dsirGuard]]: position b+1 of the array is
    * lam(b), the bkt-sorted dense layout (array_sort on the struct
    * orders by the leading bkt field).
    */
  def dsirModelAsRow(model: DataFrame): DataFrame =
    model.agg(transform(
      array_sort(collect_list(struct(col("bkt"), col("lam")))),
      e => e.getField("lam")).as("lam"))

  /** Streaming IVF ingest assignment (the streaming face of batch
    * s09's index-add): each arriving vector is assigned to its nearest
    * FROZEN centroid as it lands — the `add()` path of a continuously
    * ingesting vector store, as a stream. Stateless by construction:
    * the centroid set rides in as ONE static row holding the
    * cid-sorted centroid array ([[centroidsAsRow]]), the stream
    * cross-joins that single broadcast row (stream-static, no state
    * store, append mode), and the argmax is a per-row fold over the
    * array — strict `>` over an ascending-cid array resolves cosine
    * ties to the smallest cid, the identical order to the batch
    * argmax (`max_by(cid, struct(cos, -cid))`). At scale: no shuffle,
    * no state, one projection per arriving vector against a broadcast
    * index; the assignment stream appends straight to the stored
    * index's assign table and s09's profile is its monitoring view.
    */
  def ivfIngestAssign(vecs: DataFrame, centsRow: DataFrame): DataFrame = {
    graft.rass.expressions.GraftExtensions.register(vecs.sparkSession)
    val best = aggregate(col("cents"),
      struct(lit(-2.0).as("s"), lit(-1L).as("cell")),
      (acc, c) => {
        val s = call_function("cosine_sim", col("v"), c.getField("cv"))
        when(s > acc.getField("s"),
          struct(s.as("s"), c.getField("cid").as("cell"))).otherwise(acc)
      })
    vecs.crossJoin(centsRow)
      .select(col("vec_id"), best.getField("cell").as("cell"))
  }

  /** The frozen centroid table collapsed to one broadcastable row
    * holding the cid-sorted (cid, cv) array — the static side of
    * [[ivfIngestAssign]]. array_sort on the struct orders by the
    * leading cid field, which is what gives the fold its tie order.
    */
  def centroidsAsRow(cents: DataFrame): DataFrame =
    cents.agg(
      array_sort(collect_list(struct(col("cid"), col("cv")))).as("cents"))

  /** Streaming PQ encode (the streaming face of the batch PQ index's
    * code table): each arriving vector is quantized to its 8 subspace
    * codes against the FROZEN codebook as it lands — the `add()` path
    * of a PQ-compressed vector store (s13 searches exactly these
    * codes). Stateless: the codebook rides in as ONE static row
    * holding the (sub, cid)-sorted centroid array, the stream
    * cross-joins that broadcast row, and each code is a per-row
    * argmin fold over the centroids of its subspace — strict `<` over
    * the sorted array resolves distance ties to the smallest cid, the
    * identical order to the batch argmin (`max_by(cid,
    * struct(-dist, -cid))`). No shuffle, no state store, append mode.
    */
  def pqEncodeStream(vecs: DataFrame, codebookRow: DataFrame): DataFrame = {
    val (m, sd) = (graft.pipeline.Similarity.PqSubspaces,
      graft.pipeline.Similarity.PqSubDim)
    val codes = transform(sequence(lit(0), lit(m - 1)), s => {
      val sub = slice(col("v"), s * sd + 1, lit(sd))
      aggregate(
        filter(col("cb"), e => e.getField("sub") === s),
        struct(lit(Double.MaxValue).as("d"), lit(-1L).as("cid")),
        (acc, e) => {
          val d = aggregate(
            zip_with(sub, e.getField("cv"), (p, q) => (p - q) * (p - q)),
            lit(0.0), (a, b) => a + b)
          when(d < acc.getField("d"),
            struct(d.as("d"), e.getField("cid").as("cid"))).otherwise(acc)
        }).getField("cid")
    })
    vecs.crossJoin(codebookRow)
      .select(col("vec_id"), posexplode(codes).as(Seq("sub", "code")))
  }

  /** The frozen PQ codebook collapsed to one broadcastable row — the
    * static side of [[pqEncodeStream]]; (sub, cid) sort order gives
    * the fold its tie order.
    */
  def pqCodebookAsRow(cents: DataFrame): DataFrame =
    cents.agg(array_sort(
      collect_list(struct(col("sub"), col("cid"), col("cv")))).as("cb"))

  /** Stateful sessionization: 30-minute inactivity gap splits sessions.
    * One GroupState per user holding (last event time, counters). With
    * `idleTimeout` set (the production default), a processing-time
    * timeout evicts users idle that long, bounding state by the ACTIVE
    * user population; pass None for deterministic single-batch tests
    * (a pending timeout keeps `processAllAvailable` from ever settling).
    */
  def sessionize(events: Dataset[Event],
      idleTimeout: Option[String] = Some("1 hour")): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    val GapMs = 30L * 60 * 1000
    val timeoutConf = if (idleTimeout.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout() else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long), SessionSummary](
        OutputMode.Update(), timeoutConf) {
        case (uid, it, state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var (lastTs, sessions, count) =
              state.getOption.getOrElse((Long.MinValue, 0L, 0L))
            it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              val t = e.ts.getTime
              if (lastTs == Long.MinValue || t - lastTs > GapMs) sessions += 1
              lastTs = t
              count += 1
            }
            state.update((lastTs, sessions, count))
            idleTimeout.foreach(state.setTimeoutDuration)
            Iterator(SessionSummary(uid, sessions, count))
          }
      }
  }

  /** Streaming funnel output: q25's row with event times in integer
    * microseconds (None = stage not reached).
    */
  final case class FunnelRow(user_id: Long, t_view: Option[Long],
      t_click: Option[Long], t_purchase: Option[Long], stage: Long,
      n_seen: Long)

  /** q25's step horizon in microseconds, from the SAME constant the
    * batch operator and its oracle interpolate.
    */
  private val FunnelHorizonUs =
    graft.relational.StarQueries.FunnelStepHours.toLong * 3600L * 1000000L

  /** Streaming conversion funnel (the streaming twin of the batch q25
    * min-chain). Per user, state holds the minimum view time plus the
    * click/purchase candidates that could still be chosen, and each
    * trigger re-derives the chain from that state — so the emitted row
    * always equals the batch q25 over the events seen so far, including
    * out-of-order arrival (a late EARLIER view re-anchors the chain and
    * a previously-rejected click can become the answer, which a
    * commit-as-you-go state machine gets wrong).
    *
    * State stays bounded without a timeout because candidates are
    * pruned by the chain's own reachability bound: once any view is
    * seen (anchor v, only ever decreasing), no click above v+H and no
    * purchase above v+2H can ever be selected, so the buffers hold at
    * most one horizon's worth of per-user events — the same
    * watermark-horizon boundedness argument as the stream-stream join;
    * before the first view the buffer is bounded by the upstream
    * watermark (events.ts is watermarked by callers that need eviction).
    */
  def funnel(events: Dataset[Event]): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    val H = FunnelHorizonUs
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000) % 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, List[Long], List[Long], Long), FunnelRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[(Long, List[Long], List[Long], Long)]) =>
          var (v, clicks, purchases, seen) =
            state.getOption.getOrElse((Long.MaxValue, Nil, Nil, 0L))
          it.foreach { e =>
            val t = us(e.ts)
            seen += 1 // monotone update counter: consumers (and the twin
                      // spec) identify a user's LATEST row by max n_seen
            e.event_type match {
              case "view" => v = math.min(v, t)
              case "click" => clicks ::= t
              case "purchase" => purchases ::= t
              case _ =>
            }
          }
          // reachability pruning (guarded against the no-view sentinel)
          if (v != Long.MaxValue) {
            clicks = clicks.filter(_ <= v + H)
            purchases = purchases.filter(_ <= v + 2 * H)
          }
          val tClick =
            if (v == Long.MaxValue) None
            else clicks.filter(c => c > v && c <= v + H)
              .sorted.headOption
          val tPurchase = tClick.flatMap(tc =>
            purchases.filter(p => p > tc && p <= tc + H).sorted.headOption)
          state.update((v, clicks, purchases, seen))
          val tView = if (v == Long.MaxValue) None else Some(v)
          val stage = Seq(tView, tClick, tPurchase).takeWhile(_.isDefined).length
          Iterator(FunnelRow(uid, tView, tClick, tPurchase, stage.toLong, seen))
      }
  }
}

/** S1 streaming — always-on directory ingest: new *.json bundle files
  * are parsed, embedded, and idempotently merged into the document
  * table inside foreachBatch (exactly-once per batch via the
  * checkpoint; the upsert keyed on doc_id makes replays harmless).
  * Each batch commits through [[IngestCommit]], which also maintains
  * the materialized BM25 statistics tables.
  */
object AutoIngest {

  def start(spark: SparkSession, watchDir: String, tablePath: String,
      checkpointDir: String, userId: String = "default",
      embedder: Embedder = new DeterministicEmbedder()): StreamingQuery = {
    import spark.implicits._
    val stream = spark.readStream
      .option("wholetext", "true")
      .text(watchDir + "/*.json")
      .select(input_file_name().as("path"), col("value"))

    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val bundles = batch.as[(String, String)]
        IngestCommit.commit(spark, tablePath,
          FhirBundleParser.parseBundles(bundles, userId), embedder)
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
