package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Memo, Tables}

/** Text-analysis operators for large-scale training-data pipelines, over
  * the `documents` table (doc_id, text, lang, source, n_chars).
  *
  * Every op is a narrow per-row projection followed by (at most) a
  * low-cardinality aggregate, so at 100 TB:
  *   - no shuffle happens until after the text column has been reduced to
  *     a handful of integers per row (map-side partial aggregation);
  *   - all scoring is integer / exact arithmetic, so results are
  *     reproducible bit-for-bit across engines (DuckDB oracle hash-match)
  *     and across cluster re-runs;
  *   - everything stays inside whole-stage codegen (built-in string /
  *     higher-order array functions); the ONE exception is p10's bloom
  *     mightContain probe — a Scala UDF, because Spark exposes no
  *     public bloom function — deliberately placed where the codegen
  *     break buys a ~94 % pre-shuffle prune (see [[p10LeakedGrams]]).
  *
  * Reference capability being generalized: the RASS engine tokenizes,
  * chunks, and scores medical text (reference `app/main.py:2160-2170`
  * chunker, `main.py:1403-1430` per-field text scoring); these operators
  * are the corpus-analysis counterpart a 100 TB ingest pipeline needs.
  */
object TextAnalysis {

  /** Whitespace tokens of `text` (reference tokenization is lower+split,
    * `app/main.py:2160-2170`).
    */
  private[graft] def toks(c: Column): Column = split(trim(c), "\\s+")

  /** p07's stable split bucket: first 16 bits of md5(doc_id) as a long —
    * shared with the corpus-export composition ([[Export]]).
    */
  private[graft] val SplitBucket = expr(
    """aggregate(split(substring(md5(cast(doc_id as string)), 1, 4), ''),
      | CAST(0 AS BIGINT),
      | (h, ch) -> h * 16 + instr('0123456789abcdef', ch) - 1)""".stripMargin)

  /** Split thresholds: 0.90 * 65536 and 0.95 * 65536. */
  private[graft] val TrainMax = 58982
  private[graft] val ValMax = 62259

  /** p12's sampling bucket: the [[SplitBucket]] fold over a SALTED
    * doc_id (`smp` prefix), so the sampling decision is independent of
    * the train/val/test split — a doc's split bucket and its sampling
    * bucket are uncorrelated hashes of the same id. Deterministic
    * across engines, re-runs, and corpus growth: adding documents
    * never flips an existing document's keep/drop decision (the
    * property reservoir sampling lacks, and the reason a 100 TB
    * pipeline samples by hash threshold instead).
    */
  private[graft] val SampleBucket = expr(
    """aggregate(split(substring(md5(concat('smp', cast(doc_id as string))), 1, 4), ''),
      | CAST(0 AS BIGINT),
      | (h, ch) -> h * 16 + instr('0123456789abcdef', ch) - 1)""".stripMargin)

  /** Per-stratum keep thresholds out of 65536: the over-represented
    * language (en, ~45 % of this corpus) keeps 25 %, every other
    * stratum keeps 75 % — the rebalancing shape of a training-mixture
    * downsampler.
    */
  private[graft] val SampleEnMax = 16384
  private[graft] val SampleOtherMax = 49152

  /** BPE-ish subword count: runs of <=4 letters, digit runs, or single
    * punctuation — a deterministic stand-in for a real BPE vocab that
    * both Spark (Java regex) and the oracle (RE2) evaluate identically.
    */
  private val BpePattern = "[a-zA-Z]{1,4}|[0-9]+|[^a-zA-Z0-9\\s]"

  /** Per-document token statistics (exact ints). */
  def p01TokenStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        $"doc_id",
        size(toks($"text")).cast("long").as("n_tokens"),
        length($"text").cast("long").as("n_chars"),
        size(array_distinct(toks($"text"))).cast("long").as("n_uniq_tokens"),
        array_max(transform(toks($"text"), t => length(t))).cast("long")
          .as("max_token_len"),
        regexp_count($"text", lit(BpePattern)).cast("long").as("n_subtokens"))
      .orderBy($"doc_id")
  }

  private[pipeline] val Stopwords = Seq("the", "a", "of", "and", "in", "to", "is")

  /** Quality-bucket profile: integer cross-multiplied ratio thresholds
    * (n_stop*5 >= n_tokens <=> stopword ratio >= 0.2) keep the bucketing
    * exact — no float division anywhere.
    */
  def p02QualityBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .select(
        $"doc_id",
        size(toks($"text")).cast("long").as("n_tokens"),
        size(filter(toks($"text"), t => t.isInCollection(Stopwords)))
          .cast("long").as("n_stop"))
    d.withColumn("quality_bucket",
        when($"n_tokens" < 30, "short")
          .when($"n_stop" * 5 >= $"n_tokens", "stop_heavy")
          .otherwise("clean"))
      .groupBy($"quality_bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("sum_tokens"),
        sum($"n_stop").as("sum_stop"))
      .orderBy($"quality_bucket")
  }

  /** Corpus profile by language label (exact integer aggregates). */
  def p03LangProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("sum_chars"),
        min($"n_chars").as("min_chars"),
        max($"n_chars").as("max_chars"),
        sum(size(toks($"text")).cast("long")).as("sum_tokens"))
      .orderBy($"lang")
  }

  /** The langid prediction itself, over any text column — first match
    * wins: CJK charset, then Spanish / German / French / English
    * function-word markers, else `unknown`. Exposed as a seam so the
    * non-`en` branches get positive fixture coverage (the synthetic
    * oracle corpus is English word salad and only ever exercises the
    * `en` arm — TextAnalysisSpec plants marker docs for the rest).
    */
  private[graft] def langIdPred(text: Column): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    def hasWord(w: String): Column = instr(padded, s" $w ") > 0
    when(text.rlike("[\\x{4e00}-\\x{9fff}]"), "zh")
      .when(hasWord("el") || hasWord("que") || hasWord("una"), "es")
      .when(hasWord("der") || hasWord("und") || hasWord("nicht"), "de")
      .when(hasWord("le") || hasWord("les") || hasWord("est"), "fr")
      .when(hasWord("the") || hasWord("is") || hasWord("and"), "en")
      .otherwise("unknown")
  }

  /** Heuristic language-ID (charset + function-word markers) vs the label:
    * a confusion matrix. The heuristic is the real operator; on this
    * synthetic corpus (English word salad under every label) it
    * deterministically predicts `en`, which the matrix makes visible.
    */
  def p04LangIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"lang", langIdPred($"text").as("pred_lang"))
      .groupBy($"lang", $"pred_lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"pred_lang")
  }

  /** Canonical-token fingerprint (md5 of sorted distinct tokens): detects
    * bag-of-words duplicates regardless of word order. Only the 32-char
    * hash and two ids shuffle — the text column never leaves the mapper.
    */
  def p05Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        md5(array_join(array_sort(array_distinct(toks($"text"))), " "))
          .as("fingerprint"))
      .groupBy($"fingerprint")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("keep_id"))
      .orderBy($"fingerprint")
  }

  /** Corpus vocabulary profile: top-25 terms by total frequency with
    * document frequency — the table TF-IDF weighting, stopword
    * discovery, and tokenizer-vocab induction all start from. Explode
    * happens after the text column is reduced to tokens, and the
    * aggregate is partial/final, so only (term, count) pairs shuffle.
    */
  def p06VocabTopTerms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", explode(toks($"text")).as("term"))
      .groupBy($"term")
      .agg(count(lit(1)).as("term_freq"),
        countDistinct($"doc_id").as("doc_freq"))
      .orderBy($"term_freq".desc, $"term")
      .limit(25)
  }

  /** p07 — deterministic train/val/test assignment (90/5/5) by content
    * hash: bucket = first 16 bits of md5(doc_id). The property a
    * training pipeline needs is STABILITY — a document keeps its split
    * forever, across re-runs, engines, and corpus growth (no global
    * sort or count to drift when new data lands), so eval sets never
    * silently contaminate. Pure per-row projection + tiny aggregate;
    * the md5-hex fold is the same engine-portable pattern the SimHash
    * op uses.
    */
  def p07SplitProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"source", SplitBucket.as("b"),
        size(toks($"text")).cast("long").as("n_tokens"))
      .withColumn("split",
        when($"b" < TrainMax, "train")
          .when($"b" < ValMax, "val")
          .otherwise("test"))
      .groupBy($"source", $"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("sum_tokens"))
      .orderBy($"source", $"split")
  }

  /** p08 — intra-document repetition profile, the Gopher/C4-style
    * repetition quality signal: documents whose word-3-gram mass is
    * dominated by repeats (boilerplate, keyword stuffing, decode loops)
    * are flagged. Per doc: total trigrams, distinct trigrams, the
    * hottest trigram's count, and `repetitive` = repeated mass >= 20 %
    * (integer cross-multiplication, no float division). Docs under 3
    * tokens carry no trigram signal and are excluded.
    *
    * Scale shape: trigrams explode AFTER the projection to (doc_id,
    * trigram) — the per-(doc, trigram) count is a two-level aggregate
    * with map-side partial aggregation, keyed by doc_id, and the text
    * column itself never shuffles (only trigram strings, which the df
    * distribution caps the same way d02's shingle index is capped).
    *
    * A zero-shuffle formulation exists (max per-trigram count == the
    * longest equal-run in the per-row SORTED trigram array) and was
    * benchmarked in round 9: every HOF variant lost to the shuffle —
    * struct-accumulator `aggregate` fold 1.35 s, boundary-scan
    * `filter`+`zip_with` 1.82 s, vs 1.04 s for this explode at sf0.1
    * — because higher-order-function lambdas evaluate interpreted
    * per element while the exploded aggregate stays in codegen. On a
    * network-bound cluster the tradeoff flips (the fold is pure
    * linear-scaling CPU; this shape shuffles ~the corpus's trigram
    * mass), so the fold is the documented alternative if shuffle IO
    * ever dominates this profile.
    */
  def p08RepetitionProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Round-19 note: the sorted-array fold variant above was tried
    // AGAIN this round (guide §2.4 tempts with "remove shuffles
    // outright") and lost AGAIN on an A/B at sf0.1 — 1.29 vs 1.05 s
    // wall, with task-time ~1.3 s against a near-zero-parallelism
    // single stage (the HOF lambda is interpreted per element and the
    // deep struct-accumulator expression adds driver planning cost per
    // run). The round-9 measurement in the scaladoc stands; local-mode
    // shuffle of the capped trigram index is cheaper than interpreted
    // per-element folds.
    val tri = Tables.documents(spark, dir)
      .select($"doc_id", toks($"text").as("t"))
      .filter(size($"t") >= 3)
      .select($"doc_id", explode(
        transform(sequence(lit(1), size($"t") - 2),
          i => array_join(slice($"t", i, lit(3)), " "))).as("tri"))
    tri.groupBy($"doc_id", $"tri").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tri"),
        count(lit(1)).as("n_uniq_tri"),
        max($"c").as("max_tri_cnt"))
      .withColumn("repetitive",
        when(($"n_tri" - $"n_uniq_tri") * 5 >= $"n_tri", 1L).otherwise(0L))
      .orderBy($"doc_id")
  }

  /** Word-n-gram size for the decontamination check — n = 13, the
    * GPT-3 report's eval-decontamination n-gram length (a published,
    * widely copied pipeline constant).
    */
  private[pipeline] val ContamN = 13

  /** p09 — train/test decontamination: for every TEST-split document
    * (p07's content-hash split), how many of its distinct word-13-grams
    * also occur in some TRAIN-split document, plus a 0/1 contaminated
    * flag. This is the standard benchmark-decontamination sweep a
    * training pipeline runs before publishing a split: a test doc
    * sharing a 13-gram with train leaks evaluation signal.
    *
    * Scale shape: both sides reduce to md5(gram) hashes BEFORE the
    * join — document text never shuffles, and the join keys are fixed
    * 32-char digests rather than ~100-char gram strings (the same
    * engine-independent-hash trick as the minhash signatures, so the
    * DuckDB oracle reproduces keys exactly). The train side is a
    * distinct hash set keyed by gram; the test side is 5 % of the
    * corpus. At 100 TB a deployment would swap the exact distinct set
    * for a bloom filter (accepting false contamination hits) — the
    * plan shape is identical, only the build side shrinks.
    */
  /** The 13-gram hash index (doc_id, split bucket, md5(gram)) —
    * memoized + persisted per (session, dir) under the same
    * ingest-artifact policy as [[Dedup]]'s shingle index: p09 consumes
    * it twice (train side and test side), and a decontamination
    * pipeline at 100 TB materializes the gram index once per corpus
    * snapshot, not per sweep.
    */
  /** Distinct md5(13-gram) hashes of a TOKEN-ARRAY column, as an
    * array — THE gram definition, shared by the batch sweeps (p09/p10)
    * and the streaming ingest guard so the two can never drift. Empty
    * array for docs shorter than [[ContamN]] tokens. greatest(...)
    * guards the sequence bound: sequence(1, 0) counts DOWN and feeds
    * slice a start of 0 — and a plan reordering can evaluate this
    * projection on a row a size filter discards, so the expression
    * must be total. Takes the [[toks]] array pre-projected by every
    * caller, not raw text — the [[bigramBuckets]] lambda-capture rule
    * (an inlined tokenizer re-splits per gram element, O(tokens²)).
    */
  private[graft] def gramHashes(t: Column): Column =
    when(size(t) >= ContamN, array_distinct(
      transform(sequence(lit(1), greatest(size(t) - (ContamN - 1), lit(1))),
        i => md5(array_join(slice(t, i, lit(ContamN)), " ")))))
      .otherwise(array().cast("array<string>"))

  private def contamGrams(spark: SparkSession, dir: String): DataFrame =
    gramCache.getOrBuild((spark, dir)) {
      import spark.implicits._
      // explode drops empty arrays, so short docs contribute no rows —
      // same accept set as the pre-refactor size filter
      Tables.documents(spark, dir)
        .select($"doc_id", SplitBucket.as("b"), toks($"text").as("t"))
        .select($"doc_id", $"b", explode(gramHashes($"t")).as("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val gramCache = Memo.frames("p.grams")

  /** Release the text-analysis memos and the p29/p32 ranged projections. */
  def invalidateCaches(): Unit = Memo.invalidate("p.", "rp:p29:", "rp:p32:")

  /** The contaminated-doc LIST p09 implies — the test-split doc_ids
    * sharing a 13-gram with train — a DURABLE ingest artifact under
    * exactly the policy of d06's cluster table: the decontamination
    * sweep runs once per corpus snapshot, publishes the list as
    * fingerprint-guarded parquet, and every consumer (x02's anti-join,
    * a publish gate) — including a COLD session — reads the stored
    * list rather than re-running the gram-index build + sweep.
    * p09-the-query stays un-memoized: it IS the benchmark of the sweep.
    * At 100 TB the list is at most the test split's contaminated
    * fraction — broadcast-sized by construction — so durability costs
    * a few MB of parquet and saves a full-corpus gram join per export
    * session. The artifact's session memo is only the hot handle to
    * the on-disk list; a miss falls back to the parquet artifact
    * before it ever falls back to a re-sweep.
    */
  private[graft] def contaminatedDocs(spark: SparkSession,
      dir: String): DataFrame = contamArtifact.read(spark, dir)

  /** Bump when the sweep semantics change (gram definition, split
    * thresholds): a stale artifact from an older build must never
    * satisfy a newer reader.
    */
  private val ContamArtifactVersion = 1

  /** Staleness guard: the documents table's file listing (metadata
    * only) plus every parameter the sweep depends on — the gram width
    * and both split thresholds.
    */
  private[pipeline] val contamArtifact = new DurableArtifact(
    "p.contam", "p09_contam",
    (spark, dir) => ArtifactStore.md5Hex(
      s"v$ContamArtifactVersion|n=$ContamN|train=$TrainMax|val=$ValMax|" +
        ArtifactStore.sourceListing(spark, dir + "/documents.parquet")),
    (spark, dir) => p09Contamination(spark, dir)
      .filter(col("contaminated") === 1L).select(col("doc_id")))

  def p09Contamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = contamGrams(spark, dir)
    val train = grams.filter($"b" < TrainMax).select($"g").distinct()
    grams.filter($"b" >= ValMax)
      .join(train.withColumn("hit", lit(1L)), Seq("g"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce($"hit", lit(0L))).as("n_hit"))
      .withColumn("contaminated", when($"n_hit" > 0, 1L).otherwise(0L))
      .orderBy($"doc_id")
  }

  /** p10 — leaked-gram detail: for every TEST-split document, the
    * specific 13-gram hashes that also occur in TRAIN, with each gram's
    * train-document frequency — the per-gram forensic view behind
    * p09's per-document flag (which grams leaked, and how widespread
    * they are in train).
    *
    * This is the query that carries the bloom-prune pattern p09's doc
    * only points at: the train side is ~95 % of the corpus and must be
    * aggregated per gram, but only grams that occur in TEST can ever
    * survive the final join. A bloom filter built over the small test
    * side (a compact driver sketch, same broadcast-a-digest shape as
    * the BM25 stats row) prunes train grams MAP-SIDE, before the
    * per-gram aggregation's shuffle — at a 5 % test split and 1 % fp
    * rate, ~94 % of the train side never crosses the wire. The result
    * stays exact and engine-independent: bloom false positives are
    * dropped by the exact inner join against the real test grams, so
    * the sketch changes the plan's volume, never its output.
    *
    * mightContain is a Scala UDF (Spark exposes no public bloom-probe
    * function); it sits on the pre-shuffle side where it eliminates
    * far more work than a codegen break costs.
    *
    * Sketch sizing at 100 TB: 1 % fp costs ~9.6 bits per expected item,
    * so a test split with billions of distinct grams would make the
    * broadcast sketch itself GB-scale. The exactness argument is
    * fp-rate-independent (the confirm join drops every false positive),
    * so a deployment caps the sketch size and accepts a higher fp rate
    * — pruning, say, 80 % of train instead of 94 % — or shards the
    * sweep by a gram-hash prefix: [[leakedGramsSharded]].
    */
  def p10LeakedGrams(spark: SparkSession, dir: String): DataFrame =
    leakedGramsSharded(spark, dir, 1)

  /** The sharded sweep: the gram-hash space is partitioned by a 16-bit
    * md5 prefix into `shards` disjoint slices, each swept with its OWN
    * bloom sketch sized to that slice's test grams — so no single
    * broadcast sketch ever exceeds ~1/shards of the whole test split,
    * no matter how large the corpus. The union of the per-shard sweeps
    * IS the unsharded output: the slices partition the gram space
    * (every (test gram, train gram) join pair has both sides in the
    * same slice), and within a slice the exact confirm join drops
    * bloom false positives exactly as the single-sketch path does.
    * Sweeps run as one union-all plan; each shard's train scan is
    * pruned by its slice predicate + its own sketch map-side.
    * `shards = 1` is the default single-sketch path bit-for-bit.
    */
  def leakedGramsSharded(spark: SparkSession, dir: String,
      shards: Int): DataFrame = {
    import spark.implicits._
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val grams = contamGrams(spark, dir)
    val shardOf: Column =
      conv(substring($"g", 1, 4), 16, 10).cast("long") % shards
    // every sketch is sized by its shard's test-side row count — an
    // upper bound on its distinct grams, so the fp rate is <= 1 % per
    // sketch. ALL shard counts come from ONE aggregation over the
    // persisted index rather than a count() action per shard: the §H
    // scale probe showed the sharded sweep dominated by fixed
    // per-shard job overhead, and this removes shards-1 of those jobs
    // without touching the output (identical sizes → identical
    // sketches → and the confirm join keeps the result
    // sketch-independent anyway)
    val testCounts: Map[Long, Long] =
      grams.filter($"b" >= ValMax)
        .groupBy((if (shards == 1) lit(0L) else shardOf).as("s")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.rass.expressions.GraftExtensions.register(spark)
    val sweeps = (0 until shards).map { s =>
      val inShard = if (shards == 1) lit(true) else shardOf === s
      val test = grams.filter($"b" >= ValMax && inShard)
      // the sketch is built over xxhash64(g) LONGS (putLong), because
      // the codegen membership probe below evaluates
      // mightContainLong(xxhash64(g)) — Spark's own runtime-filter
      // convention; see GraftExtensions. Keys changed from raw
      // strings, which only moves WHICH ~1% of grams false-positive —
      // the exact confirm join keeps the output sketch-independent.
      val bf = test.select(xxhash64($"g").as("h")).stat.bloomFilter("h",
        math.max(testCounts.getOrElse(s.toLong, 0L), 1L), 0.01)
      val bfBytes = {
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        bos.toByteArray
      }
      // membership as a native codegen expression, not a boxed UDF —
      // the sweep's inner loop stays inside whole-stage codegen; the
      // sketch travels as a plan constant (shipped to executors once
      // per stage via the broadcast task binary, same transport class
      // as the old explicit broadcast)
      val trainFreq = grams.filter($"b" < TrainMax && inShard)
        .filter(call_function("bloom_might_contain", lit(bfBytes), $"g"))
        .groupBy($"g").agg(countDistinct($"doc_id").as("n_train_docs"))
      test.select($"doc_id", $"g")
        .join(trainFreq, Seq("g"), "inner")
        .select($"doc_id", $"g", $"n_train_docs")
    }
    sweeps.reduce(_.unionAll(_)).orderBy($"doc_id", $"g")
  }

  /** p11 — per-source token-length quantiles (exact p50/p90/p99): the
    * length-distribution profile a pipeline reads before picking chunk
    * sizes, truncation limits, and packing strategies.
    *
    * EXACT percentiles, not approx_percentile, and still scale-safe:
    * Spark's percentile aggregate buffers a (value → count) histogram,
    * and the value domain here is document token COUNTS — bounded by
    * the longest document, not by corpus size — so the map-side
    * partial state stays a small histogram per (partition, source) and
    * only histograms cross the wire. (For an unbounded-domain column —
    * raw doubles — this would NOT hold; that is what approx sketches
    * are for.) Both Spark `percentile` and DuckDB `quantile_cont`
    * implement the R-7 linear-interpolation estimator, so doubles
    * match bit-for-bit over integer inputs.
    */
  def p11LengthQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"source", size(toks($"text")).cast("long").as("n"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        percentile($"n", lit(0.5)).as("p50_tokens"),
        percentile($"n", lit(0.9)).as("p90_tokens"),
        percentile($"n", lit(0.99)).as("p99_tokens"))
      .orderBy($"source")
  }

  /** p12 — deterministic stratified downsampling manifest: the
    * documents kept by a per-language hash-threshold sample
    * ([[SampleBucket]] < [[SampleEnMax]]/[[SampleOtherMax]]). This is
    * the curation step between profiling (p03) and export (x01): the
    * mixture is rebalanced by dropping a deterministic fraction of the
    * dominant stratum, not by a random sample that changes per run.
    *
    * Scale shape: a per-row projection + filter over (doc_id, lang,
    * n_chars) — the text column is never read (column pruning), no
    * shuffle precedes the output sort, and the decision function is a
    * pure hash of doc_id, so the sample is reproducible on any cluster
    * layout and stable under corpus growth.
    */
  def p12SampleManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"n_chars", SampleBucket.as("sb"))
      .filter($"sb" < when($"lang" === "en", SampleEnMax)
        .otherwise(SampleOtherMax))
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  /** p13's vocabulary cutoff: the V most frequent terms form the
    * "known" vocabulary, everything else is out-of-vocabulary. Sized
    * WELL below this corpus's distinct-term count (31) so the OOV
    * branch carries real signal in every gate run.
    */
  private[pipeline] val FreqVocabSize = 16

  /** p13 — unigram corpus-frequency quality profile: per document, the
    * token count, the number of token occurrences falling OUTSIDE the
    * top-[[FreqVocabSize]] vocabulary (OOV mass), and the summed
    * global frequency of the in-vocab occurrences. This is the
    * deterministic integer skeleton of a CCNet-style language-model
    * quality filter (docs dominated by rare/unknown tokens score low,
    * docs of common tokens score high) with exact corpus counts in
    * place of float log-probs — log-prob sums are
    * summation-order-dependent and would break cross-engine hash
    * parity, while these BIGINT sums reproduce bit-for-bit.
    *
    * Scale shape: the vocabulary is top-V by construction — a
    * broadcast-sized ingest artifact a deployment materializes once
    * per corpus snapshot (the p06 aggregate with a larger V) — so the
    * per-doc pass is explode → broadcast-hash-join → partial/final
    * aggregate keyed by doc_id: the text column never shuffles, and
    * no all-to-all exchange exists anywhere in the plan.
    */
  def p13FreqQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select($"doc_id", explode(toks($"text")).as("term"))
    val vocab = tok.groupBy($"term").agg(count(lit(1)).as("f"))
      .orderBy($"f".desc, $"term").limit(FreqVocabSize)
    tok.join(broadcast(vocab), Seq("term"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"f".isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce($"f", lit(0L))).as("vocab_freq_sum"))
      .orderBy($"doc_id")
  }

  /** p14 — cross-source 13-gram leakage matrix: for every ordered pair
    * of sources, the number of DISTINCT 13-gram hashes occurring in
    * both — the audit a pipeline runs before declaring two ingest
    * feeds independent (shared grams are copied/syndicated content
    * that defeats per-source dedup budgets and leaks eval material
    * across mixture strata). Same gram definition as p09/p10 and the
    * streaming guard ([[gramHashes]]), so "leakage" means one thing
    * everywhere.
    *
    * Scale shape: the gram side is the MEMOIZED 13-gram index p09/p10
    * already materialize (the once-per-snapshot ingest artifact), with
    * source attached by a broadcast-sized (doc_id, source) projection —
    * re-deriving grams from raw text here cost 3.0 s vs 0.9 s at sf0.1
    * and would have paid a second full-corpus tokenize at 100 TB. The
    * corpus then reduces to DISTINCT (source, gram) pairs BEFORE any
    * join — each gram meets C(sources_with_gram, 2) matrix cells,
    * bounded by the source count squared rather than by document
    * volume; only 32-char digests shuffle (text never does), and the
    * output is at most |sources|². A deployment facing hot boilerplate
    * grams df-caps the gram side exactly like d02's shingle index.
    */
  def p14CrossSourceLeakage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE shuffle instead of three (round-19; guide §2.3/§2.4): the
    // previous shape materialized DISTINCT (source, gram) rows (shuffle
    // 1) and self-joined them on the gram (shuffles 2 and 3 — aliased
    // sides never reuse an exchange), 31 MB of digest traffic at sf0.1.
    // Here one gram-keyed aggregate builds the distinct source SET per
    // gram (collect_set partial-aggregates map-side, so boilerplate
    // grams collapse to ≤|sources| entries per partition before the
    // exchange — the skew note below), and the ordered source pairs
    // explode from the sorted set: sort_array is binary string order,
    // the same ordering `a.source < b.source` compared, so the pair
    // multiset — one row per (gram, unordered source pair) — is
    // identical and the oracle is unchanged. The set is bounded by the
    // SOURCE COUNT (a handful), not by document volume — the same
    // bound that kept the join's per-gram candidate volume |sources|²
    // keeps the array tiny at 100 TB.
    val sg = contamGrams(spark, dir)
      .join(Tables.documents(spark, dir).select($"doc_id", $"source"),
        "doc_id")
      .select($"source", $"g")
    sg.groupBy($"g")
      .agg(sort_array(collect_set($"source")).as("ss"))
      .filter(size($"ss") >= 2)
      .select($"ss", posexplode($"ss").as(Seq("i", "src_a")))
      .select($"src_a",
        explode(slice($"ss", $"i" + lit(2), size($"ss"))).as("src_b"))
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy($"src_a", $"src_b")
  }

  /** p15's low-diversity cut: a document whose unigram concentration
    * `sum(c^2) / n^2` (the complement of Gini–Simpson diversity) is
    * >= 1/20 flags as low-diversity. Calibrated to the measured corpus
    * distribution (median concentration ~0.051 at every SF), so BOTH
    * flag branches carry rows in every gate run.
    */
  private[pipeline] val DiversityCut = 20L

  /** p15 — per-document lexical-diversity profile: token count, type
    * (distinct-unigram) count, the concentration numerator
    * `sum(c^2)` over per-doc unigram counts `c`, the modal-token count,
    * and a low-diversity flag (`sum_c2 * DiversityCut >= n^2`, i.e.
    * Gini–Simpson concentration >= 1/20). The unigram complement to
    * p08's trigram repetition screen: "the the the…" and template-y
    * low-vocabulary docs score high concentration even when no trigram
    * literally repeats. Everything is integer arithmetic, so the
    * profile hash-matches across engines.
    *
    * Scale shape: explode → count per (doc, token) → per-doc profile.
    * Documents are contiguous within partitions, so the first hash
    * aggregation collapses map-side to one row per (doc, type) before
    * any exchange, and the exchange carries type counts, never text
    * volume (same shape as p08's trigram profile). No driver state.
    */
  def p15LexicalDiversity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", explode(toks($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum($"c" * $"c").as("sum_c2"),
        max($"c").as("max_c"))
      .withColumn("low_diversity",
        when($"sum_c2" * DiversityCut >= $"n_tokens" * $"n_tokens", 1L)
          .otherwise(0L))
      .orderBy($"doc_id")
  }

  /** Number of BPE merge rules p16 learns. Small enough that the
    * unrolled oracle SQL stays readable; large enough that composite
    * symbols feed back into later merges (rank 6 on this corpus merges
    * 'm'+'er', an earlier rule's output).
    */
  private[pipeline] val BpeMerges = 8

  /** p16 — BPE merge-rule training (byte-pair encoding, the tokenizer-
    * training step of every LLM data pipeline): the first [[BpeMerges]]
    * merge rules learned from the corpus, each row (rank, left_sym,
    * right_sym, merged, cnt).
    *
    * Scale shape — the reason BPE fits a 100 TB corpus at all: training
    * runs on the WORD-FREQUENCY table, not the corpus. The single
    * corpus-scale job is the word count (explode + hash agg, map-side
    * combined); every merge iteration then runs on vocab-sized data
    * (|distinct words| rows), so 8 — or 50k — merges cost 8 (50k) tiny
    * jobs after ONE heavy aggregation. This is exactly how production
    * tokenizer trainers (HF tokenizers, SentencePiece) are fed.
    *
    * Merge semantics: one rule application per iteration, applied
    * left-to-right non-cascading via a string fold over the
    * space-joined symbol sequence (merge = append WITHOUT the
    * separator). The oracle mirrors the identical fold with DuckDB's
    * `list_reduce`, so states — and therefore every later pair count —
    * are bit-identical across engines. Ties on pair count break
    * lexicographically, making rule selection deterministic.
    */
  /** One fold-merge pass: apply merge rule (a, b) -> ab to a
    * space-joined symbol string, leftmost non-overlapping — identical
    * to the oracle's list_reduce (seeded with the first symbol, so no
    * empty-accumulator branch exists on either side). Shared by the
    * p16 trainer and the p19 encoder so train and apply can never
    * disagree on merge semantics.
    */
  private def foldMerge(sCol: Column, a: String, b: String): Column = {
    val arr = split(sCol, " ")
    aggregate(
      slice(arr, lit(2), size(arr) - 1), element_at(arr, 1),
      (acc, x) => when(x === lit(b) &&
          (acc === lit(a) || acc.endsWith(" " + a)), concat(acc, x))
        .otherwise(concat(acc, lit(" "), x)))
  }

  /** Interval-persist period for [[trainBpe]]'s merge chain: persist
    * (and cut the lazy fold chain at) every K-th post-merge state, so
    * recompute depth is ≤ K folds and cache layers number merges/K.
    * K = 32 is the MEASURED crossover choice (round-20 A/B on the 10×
    * replica corpus, local[32], seconds wall per full train, quiet
    * box; the one contaminated cell re-run clean):
    *
    * | merges | never | K=8 | K=16 | K=32 |
    * |---|---|---|---|---|
    * |   8 | 4.2–7.7 | (= never: no k < 8 ≡ 0 mod K) | = never | = never |
    * |  32 | 17.4 | 14.6 | 17.3 | 15.7 (k=32 !< merges ⇒ 0 persists) |
    * | 128 | 149.1 | 339.6 | 43.4 | 48.8 |
    *
    * Readings: the un-persisted chain's O(merges²) recompute is real —
    * 3.4× at 128 merges — and the crossover sits between 32 and 128
    * merges (at 32 every variant is within box noise). K = 8 at 128
    * merges is PATHOLOGICAL (339 s): 16 materialize+insert+release
    * cache round-trips cost far more than the recompute they save —
    * exactly the round-19 persist-every-state lesson (2.18 vs 1.87 s
    * at merges = 8) at the next scale. K = 16 and K = 32 are
    * equivalent within noise; 32 is chosen because it ALSO performs
    * zero persists at the benchmarked [[BpeMerges]] = 8, so the
    * production interval form and the benchmarked small-merge path
    * are the same code with the same measured optimum (bench flat by
    * construction).
    */
  private[graft] val BpePersistInterval = 32

  /** The BPE training loop — p16's body, extracted so [[bpeRules]] can
    * memoize the trained rule list for consumers (p19's encoder)
    * while p16-the-query keeps benchmarking the training itself
    * (the p09/contaminatedDocs policy). `merges` and `persistEvery`
    * are parameterized for the scale probes only; every declared-query
    * caller trains the same [[BpeMerges]] rules with the same fold
    * semantics (a persist changes when a state is recomputed, never
    * its rows). `materialize` fills a persisted layer; specs replace it
    * to inject a failure.
    */
  private[graft] def trainBpe(spark: SparkSession, dir: String,
      merges: Int = BpeMerges,
      persistEvery: Int = BpePersistInterval,
      materialize: DataFrame => Unit = _.count())
      : Seq[(Int, String, String, Long)] = {
    import spark.implicits._
    // the one corpus-scale job: word frequencies; state = chars joined
    // by ' ' (corpus is ASCII words, asserted by MultimodalSpec)
    val seed = Tables.documents(spark, dir)
      .select(explode(toks($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("f"))
      .select(concat_ws(" ", split($"w", "")).as("s"), $"f")
      // vocab-sized from here on: persist the seed so the 8 chained
      // merge plans don't each re-run the corpus aggregation
      .persist()
    var state = seed
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // The lazy fold chain is O(merges²) in recomputed fold passes, so
    // every persistEvery-th post-merge state persists and is
    // materialized (count) BEFORE the previous layer is released —
    // releasing first would let the new layer's fill recompute from
    // the seed through the full chain. See [[BpePersistInterval]] for
    // the measured crossover behind the default period. A layer is
    // tracked BEFORE it is materialized, so a throwing count still
    // releases it (and the layer it was about to replace).
    var layers = List.empty[DataFrame]
    try {
      for (k <- 1 to merges) {
        val sy = split($"s", " ")
        // single-symbol states contribute no pairs; the guard matters
        // because Spark's sequence(1, 0) DESCENDS ([1, 0]) where the
        // oracle's range(1, 1) is empty
        val pairs = when(size(sy) >= 2,
          transform(sequence(lit(1), size(sy) - 1),
            i => struct(element_at(sy, i).as("a"),
              element_at(sy, i + 1).as("b"))))
          .otherwise(array())
        val top = state
          .select(explode(pairs).as("p"), $"f")
          .groupBy($"p.a", $"p.b").agg(sum($"f").as("cnt"))
          .orderBy($"cnt".desc, $"a", $"b").limit(1)
          .head()
        val (a, b) = (top.getAs[String]("a"), top.getAs[String]("b"))
        rules += ((k, a, b, top.getAs[Long]("cnt")))
        state = state.select(foldMerge($"s", a, b).as("s"), $"f")
        if (persistEvery > 0 && k % persistEvery == 0 && k < merges) {
          state.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          layers = state :: layers
          materialize(state)
          layers.tail.foreach(_.unpersist())
          layers = List(state)
        }
      }
    } finally {
      seed.unpersist()
      layers.foreach(_.unpersist())
    }
    rules.toSeq
  }

  /** The trained rule list as an ingest artifact (session-memoized):
    * a deployment trains the tokenizer once per corpus snapshot and
    * every encode pass reads the stored rules. Driver-held — 8 rules,
    * the bounded-collect pattern.
    */
  private def bpeRules(spark: SparkSession,
      dir: String): Seq[(Int, String, String, Long)] =
    bpeRulesCache.getOrBuild((spark, dir))(trainBpe(spark, dir))

  private val bpeRulesCache = Memo.cache[(SparkSession, String),
    Seq[(Int, String, String, Long)]]("p.bpe")

  def p16BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainBpe(spark, dir).toDF("rank", "left_sym", "right_sym", "cnt")
      .select($"rank".cast("long").as("rank"), $"left_sym", $"right_sym",
        concat($"left_sym", $"right_sym").as("merged"), $"cnt")
      .orderBy($"rank")
  }

  /** p19 — BPE encoding profile: the trained p16 merges APPLIED to the
    * corpus — per document, the whitespace word count and the BPE
    * token count under the learned tokenizer. This is the
    * train-then-apply loop every tokenizer deployment runs, and the
    * number that prices a training run (token budget per document).
    *
    * Scale shape: the merges are applied to the DISTINCT word
    * vocabulary (vocab-sized work, 8 chained per-row folds), and the
    * corpus pass is a broadcast join of that encoded vocabulary
    * against the exploded words — the text never shuffles, and the
    * encode table is exactly what a production tokenizer caches.
    * Integer outputs, hash-exact vs the oracle's identical CTE chain.
    */
  /** The trained tokenizer APPLIED to the distinct vocabulary — each
    * word's encoded BPE token count after folding every learned merge
    * in rank order. Vocab-sized, broadcastable; shared by p19's
    * per-doc profile and p26's per-language fertility eval.
    */
  private def encodedVocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rules = bpeRules(spark, dir)
    var vocab = Tables.documents(spark, dir)
      .select(explode(toks($"text")).as("w")).distinct()
      .select($"w", concat_ws(" ", split($"w", "")).as("s"))
    for ((_, a, b, _) <- rules)
      vocab = vocab.select($"w", foldMerge($"s", a, b).as("s"))
    vocab.select($"w", size(split($"s", " ")).cast("long").as("nt"))
  }

  def p19BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", explode(toks($"text")).as("w"))
      .join(broadcast(encodedVocab(spark, dir)), "w")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"), sum($"nt").as("n_bpe_tokens"))
      .orderBy($"doc_id")
  }

  /** p26 — tokenizer fertility by language (Petrov et al. 2023,
    * "Language Model Tokenizers Introduce Unfairness Between
    * Languages"): the p16-trained BPE evaluated per language stratum
    * — BPE tokens per word as exact ppm, and each language's premium
    * over the corpus-wide rate. This closes the tokenizer arc (p16
    * trains, p19 applies, p26 EVALUATES): a language taxed far above
    * the corpus rate gets fewer effective words per context window
    * and pays more per token — the fairness/cost table a multilingual
    * release publishes alongside its tokenizer.
    *
    * Exactness: fertility_ppm = floor(1e6·Σnt/Σ1) per stratum via one
    * positive wide-integer floor division (the x10 DECIMAL-DIV
    * pattern); premium_ppm is the DIFFERENCE of two such positive
    * floor-divs — both engines compute the identical pair, so no
    * signed-division divergence exists.
    *
    * Scale shape: one corpus scan exploded to words, joined to the
    * BROADCAST vocab-sized encode table, collapsed map-side to
    * |langs| rows; the corpus totals ride a one-row broadcast frame.
    */
  def p26TokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the per-stratum rollup is |langs| rows — collected and finished
    // on the driver (the v05/v06 stats-row pattern) rather than
    // consumed twice as a plan subtree: a second plan consumer (the
    // corpus totals) would re-run the whole scan+join, exactly the
    // double-scan dsirModel's comment documents (ReuseExchange does
    // not fire across a join consumer and a global agg)
    val lg = Tables.documents(spark, dir)
      .select($"lang", explode(toks($"text")).as("w"))
      .join(broadcast(encodedVocab(spark, dir)), "w")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_words"), sum($"nt").as("n_bpe_tokens"))
      .collect().map(r => (r.getAs[String]("lang"),
        r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe_tokens")))
    val tw = lg.map(_._2).sum
    val tb = lg.map(_._3).sum
    def ppm(b: Long, w: Long): Long = (BigInt(b) * 1000000 / BigInt(w)).toLong
    val base = ppm(tb, tw)
    spark.createDataFrame(lg.toSeq.map { case (l, w, b) =>
        (l, w, b, ppm(b, w), ppm(b, w) - base)
      })
      .toDF("lang", "n_words", "n_bpe_tokens", "fertility_ppm",
        "premium_ppm")
      .orderBy($"lang")
  }

  /** p20 — duplicated-substring SPANS (the exact-substring dedup of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): every maximal per-document token range covered
    * by [[ContamN]]-gram windows that also occur in ANOTHER document.
    * p09 asks "does test share a gram with train?"; this is the
    * train-side editing counterpart — the spans a pipeline would cut
    * out of the documents themselves. Cross-document only: a gram
    * repeated solely within one document is p08's repetition signal,
    * not a dup span.
    *
    * Derivation: positional gram hashes (same tokenize + md5 fold as
    * [[gramHashes]], WITHOUT the distinct — positions matter here),
    * hashes narrowed to those spanning >1 distinct doc, then a
    * per-doc gaps-and-islands merge: window starts within [[ContamN]]
    * tokens overlap or touch, so `start - lag(start) > ContamN` opens
    * a new island and a running sum numbers them.
    *
    * Scale shape: the positional gram table is ~token volume (the
    * corpus itself, once), the dup-hash narrowing is a partial-agg
    * groupBy + co-partitioned self-join on the hash — no broadcast of
    * an unbounded set — and the island merge runs under a doc-keyed
    * window at full parallelism. Output is dup-volume-sized.
    */
  def p20DupSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    dupSpanIndex(spark, dir).orderBy($"doc_id", $"span_start")
  }

  /** The duplicated-span table, memoized + persisted per (session,
    * dir) under the winnowFpIndex policy: p20 presents it and p21
    * excises with it, and without the memo p21 re-ran the whole gram
    * sweep (measured 1.60 s vs ~1.2 for p20 alone at sf0.1). A
    * pipeline materializes spans once per corpus snapshot, not per
    * consumer.
    */
  private def dupSpanIndex(spark: SparkSession, dir: String): DataFrame =
    dupSpanCache.getOrBuild((spark, dir)) {
      dupSpansPlan(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val dupSpanCache = Memo.frames("p.spans")

  private def dupSpansPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // stage the token array in its OWN projection (the p17 lesson:
    // Catalyst inlines single-use aliases into HOF lambdas and
    // re-evaluates the split per element)
    val grams = Tables.documents(spark, dir)
      .select($"doc_id", toks($"text").as("t"))
      .filter(size($"t") >= ContamN)
      .select($"doc_id", explode(transform(
        sequence(lit(1), greatest(size($"t") - (ContamN - 1), lit(1))),
        i => struct(i.cast("long").as("i"),
          md5(array_join(slice($"t", i, lit(ContamN)), " ")).as("g"))))
        .as("e"))
      .select($"doc_id", $"e.i".as("i"), $"e.g".as("g"))
    // cross-doc duplication without a groupBy + join-back (which would
    // shuffle the token-volume gram table TWICE on g): a gram spans >1
    // distinct doc iff min(doc_id) != max(doc_id) over its occurrences
    // — one hash-partitioned window pass on g
    val wg = org.apache.spark.sql.expressions.Window.partitionBy($"g")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"i")
    grams
      .withColumn("d0", min($"doc_id").over(wg))
      .withColumn("d1", max($"doc_id").over(wg))
      .filter($"d0" =!= $"d1")
      .select($"doc_id", $"i")
      .withColumn("f",
        when(lag($"i", 1).over(w).isNull ||
          $"i" - lag($"i", 1).over(w) > ContamN, 1L).otherwise(0L))
      .withColumn("island", sum($"f").over(w))
      .groupBy($"doc_id", $"island")
      .agg(min($"i").as("span_start"),
        (max($"i") + (ContamN - 1)).as("span_end"),
        (max($"i") + (ContamN - 1) - min($"i") + 1).as("n_tokens"),
        count(lit(1)).as("n_windows"))
      .select($"doc_id", $"span_start", $"span_end", $"n_tokens",
        $"n_windows")
  }

  /** p21 — dup-span EXCISION: p20's spans APPLIED. Per document, the
    * token counts before/after cutting every duplicated span and the
    * md5 of the cleaned token sequence — the edit step of Lee et al.
    * 2022 (find duplicated substrings, then REMOVE them from the
    * train set), with the hash standing in for the cleaned text so
    * the gate verifies the exact edit without shipping strings.
    *
    * Scale shape: p20's span table (dup-volume-sized) aggregates to
    * one small range-list per affected doc and joins the corpus scan
    * doc-keyed; the cut itself is a per-row indexed `filter` over the
    * token array (tokens x spans-per-doc comparisons, spans-per-doc
    * tiny) — text never shuffles.
    */
  def p21SpanExcision(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spans = dupSpanIndex(spark, dir)
      .groupBy($"doc_id")
      .agg(collect_list(
        struct($"span_start".as("a"), $"span_end".as("b"))).as("sl"))
    Tables.documents(spark, dir)
      .select($"doc_id", toks($"text").as("t"))
      .join(spans, Seq("doc_id"), "left")
      .select($"doc_id", $"t",
        coalesce($"sl", array().cast("array<struct<a:bigint,b:bigint>>"))
          .as("sl"))
      // Spark's filter index is 0-based; span positions are 1-based
      .select($"doc_id", $"t", $"sl",
        filter($"t", (x, i) => !exists($"sl",
          r => (i + 1) >= r.getField("a") && (i + 1) <= r.getField("b")))
          .as("kept"))
      .select($"doc_id",
        size($"t").cast("long").as("n_tokens_before"),
        size($"kept").cast("long").as("n_tokens_kept"),
        size($"sl").cast("long").as("n_spans"),
        md5(concat_ws(" ", $"kept").cast("binary")).as("cleaned_md5"))
      .orderBy($"doc_id")
  }

  /** p31's excision half-window: tokens cut on EACH side of a leaked
    * gram occurrence. GPT-3's contamination cleanup (Brown et al.
    * 2020, appendix C) removed a 200-character window around every
    * leaked 13-gram and kept the clean remainder; this is that policy
    * in token units on the shared [[ContamN]]-gram definition.
    */
  private[pipeline] val LeakPad = 20L

  /** p31 — LEAK-SPAN excision: the span-level alternative to dropping
    * contaminated train documents whole. For every TRAIN-split
    * document containing a leaked gram (a [[ContamN]]-gram also
    * present in the test split — p09's leak definition, THE shared
    * gram artifact), cut a ±[[LeakPad]]-token window around each
    * occurrence, merge overlapping windows, and publish the edit:
    * before/kept token counts, occurrence and merged-span counts, and
    * the md5 of the cleaned token sequence (the p21 hash-verified-edit
    * device). Completes the decontamination policy menu: p09 prices
    * doc-level drops, s15 the paraphrase layer, p31 the surgical cut
    * that keeps the clean 95 % of a long contaminated document.
    *
    * Scale shape: positional train grams are one linear pass (the p20
    * staging); the leak join is term-keyed against the distinct test
    * gram set (the p09 shuffle class — no bloom needed since the
    * output IS the confirmed join); window merging is doc-partitioned
    * gaps-and-islands over leak-volume rows (a running-max variant,
    * since padded spans have both ends); the cut is p21's per-row
    * indexed filter. Nothing is corpus² and text never shuffles.
    */
  def p31LeakExcision(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val testGrams = contamGrams(spark, dir).filter($"b" >= ValMax)
      .select($"g").distinct()
    val train = Tables.documents(spark, dir)
      .select($"doc_id", SplitBucket.as("b"), $"text")
      .filter($"b" < TrainMax)
      .select($"doc_id", $"text")
    leakExcisionOn(train, testGrams)
  }

  /** p31's core over ANY (doc_id, text) frame and leaked-gram set —
    * factored so the spec can prove the PARTIAL-keep behavior on a
    * constructed corpus: this test corpus's planted contaminations are
    * near-complete test copies, so on it every affected doc excises
    * fully (the gate verifies exactly that), while the surgical
    * keep-the-clean-remainder path needs a long doc with an isolated
    * leak to show.
    */
  private[pipeline] def leakExcisionOn(docs: DataFrame,
      testGrams: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // positional grams, token array staged in its own projection
    val pos = docs
      .select($"doc_id", toks($"text").as("t"))
      .filter(size($"t") >= ContamN)
      .select($"doc_id", size($"t").cast("long").as("n"), explode(transform(
        sequence(lit(1), greatest(size($"t") - (ContamN - 1), lit(1))),
        i => struct(i.cast("long").as("i"),
          md5(array_join(slice($"t", i, lit(ContamN)), " ")).as("g"))))
        .as("e"))
      .select($"doc_id", $"n", $"e.i".as("i"), $"e.g".as("g"))
    val leaks = pos.join(testGrams, Seq("g"), "left_semi")
      .select($"doc_id", $"n",
        greatest($"i" - LeakPad, lit(1L)).as("a"),
        least($"i" + (ContamN - 1) + LeakPad, $"n").as("bnd"))
    // merge overlapping/adjacent padded windows: island opens where a
    // clears the running max end of everything before it (ties on
    // (a, bnd) are safe: a tied row's own bnd >= its a, so whichever
    // physical order the tie takes, f-values and the RANGE-framed
    // island sums come out identical on both engines)
    val W = org.apache.spark.sql.expressions.Window
    val wd = W.partitionBy($"doc_id").orderBy($"a", $"bnd")
    val mx = max($"bnd").over(wd.rowsBetween(W.unboundedPreceding, -1))
    val spans = leaks
      .withColumn("f", when(mx.isNull || $"a" > mx + 1L, 1L).otherwise(0L))
      .withColumn("island", sum($"f").over(wd))
      .groupBy($"doc_id", $"island")
      .agg(count(lit(1)).as("n_leaks_in"),
        min($"a").as("sa"), max($"bnd").as("sb"))
      .groupBy($"doc_id")
      .agg(sum($"n_leaks_in").as("n_leaks"),
        count(lit(1)).as("n_spans"),
        collect_list(struct($"sa".as("a"), $"sb".as("b"))).as("sl"))
    docs
      .select($"doc_id", toks($"text").as("t"))
      .join(spans, Seq("doc_id")) // inner: only affected docs
      .select($"doc_id", $"t", $"n_leaks", $"n_spans", $"sl",
        filter($"t", (x, idx) => !exists($"sl",
          r => (idx + 1) >= r.getField("a") && (idx + 1) <= r.getField("b")))
          .as("kept"))
      .select($"doc_id",
        size($"t").cast("long").as("n_tokens_before"),
        size($"kept").cast("long").as("n_tokens_kept"),
        $"n_leaks", $"n_spans",
        md5(concat_ws(" ", $"kept").cast("binary")).as("cleaned_md5"))
      .orderBy($"doc_id")
  }

  /** p27's redaction classes — the FineWeb/RefinedWeb anonymization
    * step (Penedo et al. 2024 scrub emails + IPs pre-release; the
    * reference's own NER pools carry emails/phones as first-class PII
    * categories, `train_ner.py:112-117,134-139`). Patterns are pinned
    * to the COMMON subset of Java regex (Spark) and RE2 (DuckDB): no
    * lookaround (RE2 has none), no word boundaries, no alternation
    * whose leftmost-first order could diverge — plain character
    * classes and bounded counts match identically in both engines
    * (the q21-style cross-engine trap, avoided by construction).
    */
  private[graft] val PiiEmailRe =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PiiPhoneRe = "\\d{3}-\\d{3}-\\d{4}"
  private[graft] val PiiIpRe = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"

  /** The PII-injected corpus view p27 redacts: the synthetic documents
    * are lowercase-word-only BY CONSTRUCTION (no digits, no '@'), so a
    * redaction gate over the raw table would be vacuously all-zero.
    * This seam appends deterministic doc_id-derived PII tokens — every
    * doc an email, every 4th a second email, every 3rd a phone, every
    * 5th an IP — with identical integer/concat arithmetic on both
    * engines, so the gate exercises real multi-class redaction with
    * exact counts (the m-suite's deterministic-fake-media pattern: the
    * seam is synthetic, the machinery it drives is the product). A
    * production deployment replaces this view with the raw corpus.
    */
  private[graft] def piiInjected(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    def s(c: Column): Column = c.cast("string")
    Tables.documents(spark, dir).select($"doc_id", concat(
      $"text",
      lit(" contact user"), s($"doc_id" % 97), lit("@example.org"),
      when($"doc_id" % 4 === 0,
        concat(lit(" cc admin"), s($"doc_id" % 13),
          lit("@mail.example.com"))).otherwise(lit("")),
      when($"doc_id" % 3 === 0,
        concat(lit(" call 555-"), lpad(s($"doc_id" % 1000), 3, "0"),
          lit("-"), lpad(s($"doc_id" % 10000), 4, "0")))
        .otherwise(lit("")),
      when($"doc_id" % 5 === 0,
        concat(lit(" host 10."), s($"doc_id" % 256), lit("."),
          s(($"doc_id" * 3) % 256), lit("."), s($"doc_id" % 250)))
        .otherwise(lit(""))).as("pii_text"))
  }

  /** p27 — PII redaction: per document, the match count per redaction
    * class over [[piiInjected]]'s text, and the md5 of the token
    * sequence AFTER sequentially replacing every email, then phone,
    * then IP with a class placeholder — the anonymization gate a
    * web-scale release pipeline runs before publishing (FineWeb ships
    * exactly this email+IP scrub), with the hash standing in for the
    * cleaned text so the gate verifies the exact edit without
    * shipping strings (p21's device).
    *
    * Replacement order is pinned (email → phone → IP) and the classes
    * are disjoint on this corpus by construction, so per-class counts
    * computed on the PRE-replacement text equal what each pass
    * replaces. Scale shape: pure per-row columnar work — three regex
    * counts and one chained replace inside one projection; text never
    * shuffles, only five integers and a hash leave the scan.
    */
  def p27PiiRedaction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    redactionProfile(piiInjected(spark, dir)).orderBy($"doc_id")
  }

  /** The per-row redaction profile over (doc_id, pii_text) rows — ONE
    * definition shared by batch p27 and the streaming guard, so the
    * two can never drift on a pattern or the replacement order.
    */
  private[graft] def redactionProfile(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("pii_text"),
        size(regexp_extract_all(col("pii_text"), lit(PiiEmailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("pii_text"), lit(PiiPhoneRe), lit(0)))
          .cast("long").as("n_phones"),
        size(regexp_extract_all(col("pii_text"), lit(PiiIpRe), lit(0)))
          .cast("long").as("n_ips"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        (col("n_emails") + col("n_phones") + col("n_ips"))
          .as("n_redactions"),
        md5(concat_ws(" ", toks(
          regexp_replace(regexp_replace(regexp_replace(
            col("pii_text"), PiiEmailRe, "<EMAIL>"),
            PiiPhoneRe, "<PHONE>"), PiiIpRe, "<IP>")))
          .cast("binary")).as("redacted_md5"))

  /** The Luhn mod-10 sum of the first `len` digits of a digit-string
    * column, with from-left position i doubled when i is odd — for a
    * 16-digit payload this is exactly ISO/IEC 7812's "double every
    * second digit from the right" (from-right position 17−i is even
    * iff i is odd), and the same rule covers the 15-digit check-digit
    * derivation (positions 1..15 of the final 16). Pure integer
    * arithmetic over ascii codes inside one HOF fold — bit-identical
    * in both engines ([[luhnSumSql]] is the oracle twin).
    */
  private def luhnSum(digits: Column, len: Int): Column =
    aggregate(transform(sequence(lit(1), lit(len)), i => {
      val d = ascii(element_at(split(digits, ""), i)).cast("long") - 48L
      when(i % 2 === 1,
        lit(2L) * d - when(d > 4L, 9L).otherwise(0L)).otherwise(d)
    }), lit(0L), (a, x) => a + x)

  /** [[luhnSum]] as DuckDB SQL over expression `x` (textual twin). */
  private def luhnSumSql(x: String, len: Int): String = {
    val d = s"(ascii(substr($x, i, 1)) - 48)::BIGINT"
    s"""list_reduce(list_prepend(0::BIGINT,
       |  list_transform(range(1, ${len + 1}), i ->
       |    CASE WHEN i % 2 = 1
       |      THEN 2*$d - CASE WHEN $d > 4 THEN 9 ELSE 0 END
       |      ELSE $d END)), (a, x2) -> a + x2)""".stripMargin
  }

  /** The account-number-injected corpus view p28 redacts — p27's seam
    * extended to a CHECKSUM-carrying class: every 2nd doc gets a
    * Luhn-VALID 16-digit number (payload = doc_id-derived 15 digits,
    * check digit computed in-engine by the same [[luhnSum]] rule) and
    * every 7th doc a number whose check digit is off by one —
    * guaranteed invalid, so the validity gate is exercised from both
    * sides (docs ≡ 0 mod 14 carry both).
    */
  private[graft] def ccInjected(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"text",
        lpad((($"doc_id" * 7919L) % 1000000000000000L).cast("string"),
          15, "0").as("b15"))
      .select($"doc_id", $"text", $"b15",
        ((lit(10L) - luhnSum($"b15", 15) % 10L) % 10L).as("chk"))
      .select($"doc_id", concat(
        $"text",
        when($"doc_id" % 2 === 0,
          concat(lit(" card "), $"b15", $"chk".cast("string")))
          .otherwise(lit("")),
        when($"doc_id" % 7 === 0,
          concat(lit(" num "), $"b15",
            (($"chk" + 1L) % 10L).cast("string")))
          .otherwise(lit(""))).as("cc_text"))
  }

  /** p28 — Luhn-verified account-number redaction: the PII class a
    * regex alone CANNOT scrub. A 16-digit run is only an account
    * number if its ISO/IEC 7812 mod-10 checksum holds — scrubbing
    * every digit run would destroy legitimate identifiers (order
    * numbers, hashes), keeping them all leaks cards — so production
    * anonymizers (AWS Comprehend's PII types, Presidio's credit-card
    * recognizer) gate the regex candidate on the checksum. Per doc:
    * candidate count (16-digit tokens), Luhn-valid count, rejected
    * count, and the md5 of the token sequence with ONLY the valid
    * candidates replaced by a placeholder — token-level conditional
    * replacement (p27's whole-pattern regexp_replace cannot express
    * the condition), with the checksum an exact integer fold in both
    * engines.
    *
    * Scale shape: p27's — one projection of per-row HOF work, text
    * never shuffles, five small columns out.
    */
  def p28LuhnRedaction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    luhnProfile(ccInjected(spark, dir)).orderBy($"doc_id")
  }

  /** The per-row Luhn-redaction profile over (doc_id, cc_text) rows —
    * shared by batch p28 and the streaming guard (p27's
    * [[redactionProfile]] pattern).
    */
  private[graft] def luhnProfile(df: DataFrame): DataFrame = {
    def isDigits16(t: Column): Column = t.rlike("^\\d{16}$")
    def isCard(t: Column): Column =
      isDigits16(t) && luhnSum(t, 16) % 10L === 0L
    // The checksum verdict is computed ONCE per token into a boolean
    // array shared by the count and the redaction (round-19): the
    // previous shape ran the interpreted luhn fold twice per token
    // (once under `filter` for n_luhn_valid, again under `transform`
    // for the md5) — the fold is 16 split/ascii/branch steps per
    // candidate, much heavier than the regex gate. `card` is
    // referenced twice downstream, so CollapseProject cannot inline
    // (= re-duplicate) it. Counts and md5 are bit-identical.
    df.select(col("doc_id"), toks(col("cc_text")).as("t"))
      .select(col("doc_id"), col("t"),
        transform(col("t"), t => isCard(t)).as("card"))
      .select(col("doc_id"),
        size(filter(col("t"), isDigits16 _)).cast("long")
          .as("n_digit16"),
        aggregate(col("card"), lit(0L),
          (a, x) => a + when(x, 1L).otherwise(0L)).as("n_luhn_valid"),
        md5(concat_ws(" ", zip_with(col("t"), col("card"),
          (t, c) => when(c, lit("<CARD>")).otherwise(t)))
          .cast("binary")).as("redacted_md5"))
      .select(col("doc_id"), col("n_digit16"), col("n_luhn_valid"),
        (col("n_digit16") - col("n_luhn_valid")).as("n_rejected"),
        col("redacted_md5"))
  }

  /** p17's winnowing parameters: token [[WinnowK]]-gram hashes, window
    * of [[WinnowW]] consecutive hashes. Guarantee (Schleimer, Wilkerson
    * & Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2004): any shared substring of >= W+K-1 tokens produces at
    * least one shared selected fingerprint, at expected density
    * 2/(W+1) — the MOSS algorithm.
    */
  /** The TRAIN-split distinct vocabulary — p30's reference set and
    * the model side of the streaming novelty guard. Memoized +
    * persisted per (session, dir): an ingest-time artifact (the
    * trained tokenizer/LM pipelines already fix the train vocabulary;
    * novelty is measured against exactly that freeze).
    */
  private[graft] def trainVocab(spark: SparkSession, dir: String): DataFrame =
    trainVocabCache.getOrBuild((spark, dir)) {
      import spark.implicits._
      Tables.documents(spark, dir)
        .select(toks($"text").as("t"), SplitBucket.as("b"))
        .filter($"b" < TrainMax)
        .select(explode(array_distinct($"t")).as("tok"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val trainVocabCache = Memo.frames("p.vocab")

  /** The frozen train vocabulary as a serialized bloom sketch over
    * xxhash64(tok) longs (1 % fp) — the constant-size model row the
    * streaming novelty guard probes per token through the codegen
    * `bloom_might_contain` expression. Built once at ingest; at any
    * corpus size the sketch is |vocab|-bounded bytes, not corpus-
    * bounded.
    */
  private[graft] def trainVocabBloomBytes(spark: SparkSession,
      dir: String): Array[Byte] = {
    import spark.implicits._
    val v = trainVocab(spark, dir)
    val bf = v.select(xxhash64($"tok").as("h"))
      .stat.bloomFilter("h", math.max(v.count(), 1L), 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** p30 — out-of-vocabulary novelty profile: for every TEST-split
    * document, how many of its distinct token types the frozen
    * TRAIN-split vocabulary has never seen, exact, with the ppm
    * share. The drift/composition alarm an ingest pipeline reads
    * before admitting a new source (an OOV spike means the tokenizer
    * fertility, LM perplexity, and DSIR scores upstream were all
    * calibrated on a different distribution) — and the exact batch
    * twin of the streaming `vocab_novelty_guard`, whose per-row bloom
    * screen lower-bounds these counts at <= 1 % fp.
    *
    * Scale shape: distinct types explode to (doc, tok) rows, the
    * anti-join against the vocab is term-keyed (the p06 shuffle
    * class), and the profile re-joins doc-keyed; text never shuffles.
    */
  def p30VocabNovelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE corpus pass: the exploded types LEFT-join the (distinct)
    // vocabulary and one doc-keyed aggregate counts both the type
    // total and the unseen subset — a separate anti-join branch would
    // re-scan and re-tokenize the eval split for the n_types column
    val seen = trainVocab(spark, dir).withColumn("seen", lit(1))
    Tables.documents(spark, dir)
      .select($"doc_id", array_distinct(toks($"text")).as("ts"),
        SplitBucket.as("b"))
      .filter($"b" >= ValMax)
      .select($"doc_id", explode($"ts").as("tok"))
      .join(seen, Seq("tok"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_types"),
        sum(when($"seen".isNull, 1L).otherwise(0L)).as("n_novel_types"))
      .withColumn("novel_ppm",
        expr("CAST(n_novel_types * 1000000 DIV n_types AS BIGINT)"))
      .orderBy($"doc_id")
  }

  /** p29 — Heaps'-law vocabulary-growth profile: the corpus in
    * doc_id (ingest) order cut into 10 deciles, with CUMULATIVE token
    * mass and CUMULATIVE distinct vocabulary at each cut — the
    * V(N) ~ K·N^beta growth table a corpus analysis publishes
    * (Heaps 1978): sublinear vocabulary growth is the signature of a
    * natural corpus, a kink flags a composition shift (new source or
    * language joining mid-ingest), and a near-linear tail flags
    * boilerplate/noise inflating the type count. Exact BIGINTs only;
    * beta itself is a plot-time division left to the reader.
    *
    * Scale shape: the global rank is [[graft.RangedPrefix.runningSum]]
    * (range partition + per-partition offsets — no global window
    * funnel, the x03/x08/q14 mechanism); vocabulary first-occurrence
    * is one groupBy(term).min(doc_id) — the p06 vocab shuffle, term
    * keys only; everything after is 10-row arithmetic (the decile
    * cumsum is a broadcast 10x10 triangle join, not a window).
    */
  def p29VocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tk = Tables.documents(spark, dir)
      .select($"doc_id", toks($"text").as("t"))
    // NOTE: the rank branch and the first-occurrence branch each scan
    // the corpus once (two column-pruned scans total) — deliberately
    // NOT one persisted tokenized pass: carrying the token arrays
    // through the rank's range repartition would shuffle text, and
    // pinning them in the cache costs corpus-sized memory; two slim
    // scans win at scale (the repo invariant is "text never shuffles",
    // not "one scan per query")
    val (ranked, nDocs) = graft.RangedPrefix.runningSum(spark, s"p29:$dir",
      tk.select($"doc_id", size($"t").cast("long").as("n_tokens")),
      Seq($"doc_id"), lit(1L), "rn")
    // exact INTEGER division (DIV), matching the oracle's `//` — a
    // double quotient rounds up at nDocs beyond ~1e15 where 1/nDocs
    // drops under half an ulp
    val dec = ranked
      .withColumn("decile",
        expr(s"CAST((rn - 1) * 10 DIV ${nDocs}L AS BIGINT)"))
    val tokDec = dec.groupBy($"decile")
      .agg(sum($"n_tokens").as("new_tokens"))
    val firstDoc = tk
      .select($"doc_id", explode(array_distinct($"t")).as("tok"))
      .groupBy($"tok").agg(min($"doc_id").as("doc_id"))
    val vocDec = firstDoc
      .join(dec.select($"doc_id", $"decile"), "doc_id")
      .groupBy($"decile").agg(count(lit(1)).as("new_vocab"))
    val per = tokDec.join(vocDec, Seq("decile"), "left")
      .na.fill(0L, Seq("new_vocab"))
    per.as("a").join(broadcast(per.as("b")), col("b.decile") <= col("a.decile"))
      .groupBy(col("a.decile").as("decile"))
      .agg(sum(col("b.new_tokens")).as("cum_tokens"),
        sum(col("b.new_vocab")).as("cum_vocab"))
      .orderBy($"decile")
  }

  /** p32 — the Zipf rank-frequency slope: the OTHER classic corpus law
    * next to p29's Heaps profile, and the single exponent a corpus
    * datasheet reports (natural text: ln f ≈ a − s·ln r with s ≈ 1;
    * a flattened head flags boilerplate/duplication, a steepened tail
    * flags vocabulary collapse — the composition alarms that pair with
    * p29's growth kink). Least-squares fit of quantized (ln rank,
    * ln freq) over the FULL vocabulary, published as the negated slope
    * in exact ppm.
    *
    * Determinism: both logs quantize through the x10/p22 ln-space
    * convention — floor(2²⁰·ln x) — so both engines reduce each term
    * to the same INTEGERS before any cross-row arithmetic (the 1-ulp
    * libm license sits ~9 orders below the unit grid; the x10-style
    * stability guard below fails LOUDLY if any product lands within
    * 8e-9 of an integer, and the engines' ranks agree because the
    * total order (f desc, term) is collation-free binary on both).
    * Sums run in DECIMAL(38,0) (Σ lx·ly can pass 2⁶³ at ~100k vocab;
    * the x10 HUGEINT lesson), and the closed-form slope is one wide-
    * integer division: neg_slope_ppm = (Σx·Σy − n·Σxy)·10⁶ div
    * (n·Σxx − Σx²), numerator required non-negative so the floor
    * division never crosses the engines' negative-rounding split — a
    * non-negative Zipf slope is a data anomaly worth the loud failure.
    *
    * Scale shape: one term-keyed count (map-side combined), one
    * RangedPrefix global rank (no single-partition window), one
    * 5-sum aggregate to a single row. Nothing corpus-sized moves
    * except term keys.
    */
  def p32ZipfSlope(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cnt = Tables.documents(spark, dir)
      .select(explode(toks($"text")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("f"))
    val (ranked, _) = graft.RangedPrefix.runningSum(spark, s"p32:$dir",
      cnt, Seq($"f".desc, $"term"), lit(1L), "r")
    val q = ranked.select(
        (lit(1048576.0) * log($"r".cast("double"))).as("lxr"),
        (lit(1048576.0) * log($"f".cast("double"))).as("lyr"))
      .select(floor($"lxr").cast("long").as("lx"),
        floor($"lyr").cast("long").as("ly"),
        // per-COMPONENT distances: an input of exactly 0.0 is ln 1,
        // IEEE-exact on both engines and deliberately exempt (log(1.0)
        // == +0.0 is guaranteed; a nonzero 2^20·ln(integer) can never
        // be mathematically integer, so any other exact landing is
        // itself the hazard and must not be masked by its row-mate)
        least(
          when($"lxr" === 0.0, lit(Double.MaxValue))
            .otherwise(abs($"lxr" - round($"lxr"))),
          when($"lyr" === 0.0, lit(Double.MaxValue))
            .otherwise(abs($"lyr" - round($"lyr")))).as("gd"))
    val s = q.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum($"lx".cast("decimal(38,0)")).as("sx"),
      sum($"ly".cast("decimal(38,0)")).as("sy"),
      sum(($"lx" * $"ly").cast("decimal(38,0)")).as("sxy"),
      sum(($"lx" * $"lx").cast("decimal(38,0)")).as("sxx"),
      min($"gd").as("gmin"))
    // floor-stability guard (engine-side, the x10 backstop): a
    // quantization input within 8e-9 (≈ 4 ulp at the ~1.5e7 value
    // scale) of an integer could floor differently under the engines'
    // 1-ulp licenses; exact-zero components (ln 1) are exempted in
    // the projection above. Deterministic per corpus.
    val row = s.head()
    val gmin = Option(row.get(5)).map(_.asInstanceOf[Double])
    require(gmin.forall(_ > 8e-9),
      s"p32 ln-quantization lands within 8e-9 of an integer ($gmin): " +
        "the engines could floor differently; adjust the scale")
    // an empty corpus reaches here with n = 0 and NULL sums (the gmin
    // guard passes vacuously on None) — fail loudly like the other
    // degenerate cases instead of NPEing on getDecimal below
    require(row.getDecimal(0).signum() > 0, "p32: empty vocabulary")
    // the slope sign check runs on the SAME collected stats row (a
    // projected column would be pruned before evaluation): num < 0
    // would push the floor division onto the engines' negative-
    // rounding split, and a non-negative Zipf slope is a data anomaly
    // regardless
    val num = row.getDecimal(1).multiply(row.getDecimal(2))
      .subtract(row.getDecimal(0).multiply(row.getDecimal(3)))
    require(num.signum() >= 0,
      "p32: non-negative Zipf slope — data anomaly (or a corpus this " +
        "law does not describe); the ppm floor would be engine-split")
    val den = row.getDecimal(0).multiply(row.getDecimal(4))
      .subtract(row.getDecimal(1).multiply(row.getDecimal(1)))
    require(den.signum() > 0,
      "p32: degenerate rank variance (single-term vocabulary?)")
    // the collected stats row already holds every sum the result needs
    // — re-selecting over `s` would run the vocab-wide aggregation a
    // SECOND time (round-17 review); the closed form is exact BigDecimal
    // integer arithmetic, and divideToIntegralValue == floor here
    // because both operands are non-negative by the requires above
    val slope = num
      .multiply(java.math.BigDecimal.valueOf(1000000L))
      .divideToIntegralValue(den).longValueExact()
    spark.createDataFrame(Seq((row.getDecimal(0).longValueExact(), slope)))
      .toDF("n_terms", "neg_slope_ppm")
  }

  private[pipeline] val WinnowK = 4
  private[pipeline] val WinnowW = 8

  /** p17 — winnowed rolling-hash document fingerprints: per document,
    * the count of token-4-gram hashes, the count of winnow-SELECTED
    * fingerprints (rightmost minimum of each 8-hash window), their sum
    * and minimum. These selected fingerprints are what a plagiarism /
    * near-dup detector actually indexes: ~2/(W+1) of the grams, with
    * the guarantee that any sufficiently long shared passage still
    * collides — the published middle ground between p05's whole-doc
    * bag fingerprint (order-blind, all-or-nothing) and p09's full
    * 13-gram index (complete but W+1 times larger).
    *
    * Cross-engine determinism trick: each gram hash is packed as
    * `h * 4096 + (4095 - pos)`, so ONE `array_min` per window selects
    * the minimum hash with ties broken to the RIGHTMOST position
    * (winnowing's tie rule) — no ordered fold needed, and Spark's
    * `array_min`/DuckDB's `list_min` agree bit-for-bit on integers.
    * Pure per-row columnar work: text never shuffles, only the
    * four profile integers leave the scan.
    */
  /** p17's rolling-hash parameters: per-token 31-bit base hashes (md5
    * hex-prefix fold mod [[WinnowM]]) combined Rabin–Karp style with
    * base [[WinnowB]] powers — gram i hashes to
    * `(x_i·B³ + x_{i+1}·B² + x_{i+2}·B + x_{i+3}) mod M`. Token hashes
    * are computed ONCE (m md5s of single tokens); every gram is then
    * pure long arithmetic, which is what makes the fingerprint pass a
    * single cheap scan at 100 TB (the md5-per-gram formulation measured
    * 2.3x slower, and a naive per-window recompute 100x). Bounds: terms
    * stay < 2^55, far from Long overflow.
    */
  private val WinnowM = 2147483647L // 2^31 - 1
  private val WinnowB = 131L

  /** The per-document winnow selection — (doc_id, n_grams, sel) with
    * `sel` the distinct PACKED (hash*4096 + complemented position)
    * fingerprints — one definition shared by p17's stats and p18's
    * overlap index so the two can never drift on what a selected
    * fingerprint is.
    */
  private def winnowSelected(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = toks($"text")
    val m = size(t) - (WinnowK - 1)
    // per-token base hashes (one md5 per TOKEN, not per gram)
    val xs = transform(t, tok =>
      pmod(conv(substring(md5(tok), 1, 8), 16, 10).cast("long"), lit(WinnowM)))
    val pows = (0 until WinnowK).map(p =>
      math.pow(WinnowB.toDouble, (WinnowK - 1 - p).toDouble).toLong)
    // packed (gram hash, complemented position): the rolling combine,
    // then * 4096 + (4095 - i) so ONE `least` per window selects the
    // min hash with ties to the RIGHTMOST position (winnowing's rule)
    def gram(i: Column): Column =
      pmod((0 until WinnowK).map(o =>
        try_element_at($"xs", (i + lit(o)).cast("int")) * pows(o))
        .reduce(_ + _), lit(WinnowM)) * 4096L + (lit(4095L) - i)
    val cmb = transform(sequence(lit(1), $"n_grams"), gram(_))
    // every derived array gets its OWN projection: referenced inline
    // inside a downstream lambda, Catalyst inlines single-use aliases
    // and the whole upstream expression re-evaluates once per element
    // (the original inline form measured 330 s at sf0.1 vs ~1 s here)
    val nw = greatest($"n_grams" - (WinnowW - 1), lit(1))
    // window minimum as an unrolled null-skipping `least` over the W
    // offsets instead of slice+array_min: HOF lambdas evaluate
    // interpreted (outside whole-stage codegen) and the per-window
    // slice allocation is the dominant cost; try_element_at nulls the
    // out-of-range reads of the one truncated window a short (m < W)
    // document has, and `least` skips nulls — values identical to the
    // oracle's list_min over a truncating slice
    val sel = array_distinct(transform(sequence(lit(1), nw),
      j => least((0 until WinnowW).map(o =>
        try_element_at($"cmb", (j + lit(o)).cast("int"))): _*)))
    Tables.documents(spark, dir)
      .filter(size(toks($"text")) >= WinnowK)
      .select($"doc_id", m.cast("long").as("n_grams"), xs.as("xs"))
      .select($"doc_id", $"n_grams", cmb.as("cmb"))
      .select($"doc_id", $"n_grams", sel.as("sel"))
  }

  def p17Winnowing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE fold computes all three stats so `sel` is consumed exactly
    // once — three separate aggregate expressions re-evaluated the
    // selection (measured 2x)
    val stats = aggregate($"sel",
      struct(lit(0L).as("n"), lit(0L).as("s"), lit(Long.MaxValue).as("mn")),
      (acc, e) => struct(
        (acc.getField("n") + 1L).as("n"),
        (acc.getField("s") + shiftright(e, 12)).as("s"),
        least(acc.getField("mn"), e).as("mn")))
    winnowSelected(spark, dir)
      .select($"doc_id", $"n_grams", stats.as("st"))
      .select($"doc_id", $"n_grams",
        $"st.n".as("n_selected"), $"st.s".as("fp_sum"),
        shiftright($"st.mn", 12).as("fp_min"))
      .orderBy($"doc_id")
  }

  /** Document-frequency cap for p18's fingerprint index — the same
    * quadratic-blow-up guard as d02's [[Dedup.ShingleDfCap]]: a
    * fingerprint shared by thousands of documents (boilerplate, license
    * headers) contributes C(df, 2) candidate pairs and no match signal;
    * MOSS drops high-frequency fingerprints for exactly this reason
    * (Schleimer et al. 2004 §5, reference `main.py` has no analogue —
    * this is the north-star pipeline family). On the test corpus the
    * max df is 3, so the cap never binds; the oracle filters
    * identically so the gate holds whether it binds or not.
    */
  private[pipeline] val FpDfCap = 50

  /** p18's minimum shared-fingerprint count: one collision in a 31-bit
    * space can be chance; two selected fingerprints in common is the
    * MOSS report threshold for a match worth listing.
    */
  private[pipeline] val FpMinShared = 2

  /** p18 — fingerprint-overlap pairs, the MOSS report: document pairs
    * ranked by how many winnow-SELECTED fingerprints (p17's selection)
    * they share. This is what the ~2/(W+1)-density index is FOR:
    * any shared passage of >= W+K-1 tokens forces >= 1 shared selected
    * fingerprint, so near-dup / plagiarism pairs surface from an index
    * W+1 times smaller than p09's full gram index.
    *
    * Scale shape: inverted-index self-join on the fingerprint VALUE
    * (d02's pattern) — candidate volume bounded by cap x df per
    * fingerprint, never corpus²; the per-doc fingerprint sets are
    * ~2/(W+1) of the grams so the index is an order of magnitude
    * smaller than a shingle index; only (doc_id, fp) longs shuffle,
    * text never leaves the scan.
    */
  /** The df-capped winnow-fingerprint INDEX — memoized + persisted
    * under the same ingest-artifact policy (and for the same measured
    * reason) as [[Dedup]]'s capped shingle index: p18 consumes it three
    * ways (self-join a-side, b-side, per-doc sizes), and without the
    * persist each consumer re-ran the whole winnow selection (md5 per
    * token + rolling combine + window minima) — p18 measured 1.63 s at
    * sf0.1 recomputing vs ~0.6 reading the stored index. p17 stays
    * un-memoized: it IS the benchmark of the fingerprint pass.
    */
  private def winnowFpIndex(spark: SparkSession, dir: String): DataFrame =
    winnowFpCache.getOrBuild((spark, dir)) {
      import spark.implicits._
      // distinct HASHES per doc: the packed sel dedupes (hash, pos)
      // pairs, so the same hash selected at two positions must collapse
      val fps = winnowSelected(spark, dir)
        .select($"doc_id",
          explode(array_distinct(transform($"sel", e => shiftright(e, 12))))
            .as("fp"))
      // df-cap via groupBy + left-semi join, not a whole-partition
      // window: the aggregate's map-side partial combine absorbs a
      // boilerplate fingerprint's skew (a window would pin every
      // occurrence of one hot fp into a single task), and the
      // surviving rare-key list broadcasts for the semi join — the
      // same round-16 plan change as Dedup.cappedShingles
      val keep = fps.groupBy($"fp").agg(count(lit(1)).as("df_"))
        .filter($"df_" <= FpDfCap).select($"fp")
      fps.join(keep, Seq("fp"), "left_semi")
        .select($"doc_id", $"fp")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val winnowFpCache = Memo.frames("p.winnow")

  def p18FingerprintOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val capped = winnowFpIndex(spark, dir)
    val sizes = capped.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    capped.as("a")
      .join(capped.as("b"),
        $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"))
      .agg(count(lit(1)).as("shared"))
      .filter($"shared" >= FpMinShared)
      .join(sizes.as("sa"), $"a_id" === $"sa.doc_id")
      .join(sizes.as("sb"), $"b_id" === $"sb.doc_id")
      .select($"a_id", $"b_id", $"shared",
        $"sa.n".as("na"), $"sb.n".as("nb"))
      .orderBy($"a_id", $"b_id")
  }

  /** p22's log-probability quantum: surprisals are priced in integer
    * micro-nats, floor(2^20 * ln p) — the same 2^20 quantization the
    * PQ codebooks (s12) and power iteration (v05) use to keep
    * transcendental-valued pipelines inside the exact-BIGINT hash
    * gate. ln of a non-unit rational is irrational, so the floor is
    * mathematically well-defined; the ~1-ulp libm slack sits ~9
    * orders of magnitude below the 2^-20 grid spacing.
    */
  private[pipeline] val PplScale = 1048576L

  /** The p22 scoring-model parameters a DERIVED artifact must chain —
    * s21's drop list ranks cluster members by this model, so any
    * change here must invalidate that stored list, not wait for a
    * manual version bump (the m10-chains-d11 staleness rule; p22
    * itself is a session memo with no artifact of its own, so its
    * params travel as this named string): the surprisal quantization
    * scale, the add-one smoothing tag, and the train-split threshold
    * the LM trains under. The head/tail cutpoints are deliberately
    * absent — they bucket, they do not rank.
    */
  private[graft] def pplFingerprintParams: String =
    s"ppl=scale:$PplScale/addone/train:$TrainMax"

  /** p22's head/middle/tail cutpoints in micro-nats of average
    * bigram surprisal — the trained constants of this corpus release
    * (≈ its terciles), fixed like [[SampleEnMax]] so scoring stays a
    * single corpus pass with no quantile job. CCNet buckets documents
    * by LM perplexity terciles; lower surprisal (closer to zero) =
    * more fluent = head.
    */
  private[pipeline] val PplHeadMin = -3537000L
  private[pipeline] val PplTailMax = -3566000L

  /** p22 — CCNet-style LM perplexity quality filter (Wenzek et al.,
    * LREC 2020): an add-one bigram LM trained on the p07 TRAIN split
    * scores every document, and documents land in head / middle /
    * tail buckets by average surprisal against the release cutpoints
    * — the standard "keep the head, audit the tail" pretraining
    * quality gate, with the LM trained on the pipeline's own curated
    * split the way CCNet trains on Wikipedia. All surprisals are
    * [[PplScale]]-quantized integers, so per-doc sums are exact
    * BIGINTs in any summation order and both engines agree
    * bit-for-bit.
    *
    * Scale shape: text leaves the scan only as bigram keys; the
    * document side pre-collapses to distinct (doc, bigram, k) before
    * the LM join (map-side combine); the LM itself is two count
    * tables partitioned by their join keys — built once, joined by
    * hash, never collected — and the vocabulary size travels as a
    * one-row broadcast frame (the Bm25-stats pattern). Scoring is
    * one linear pass at any corpus size; the cutpoints are constants,
    * so there is no quantile barrier between training and scoring.
    */
  def p22PerplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pplScored(spark, dir).orderBy($"doc_id")
  }

  private val pplCache = Memo.frames("p.ppl")

  /** p22's scored frame in DuckDB SQL (no presentation sort) — p22's
    * oracle appends ORDER BY; s21's survivor oracle embeds it as the
    * per-member fluency score.
    */
  private[pipeline] lazy val pplScoredSql: String =
    s"""WITH tk AS (SELECT doc_id, t, b FROM
       |    (SELECT doc_id, $TOKS t, $BUCKET b FROM documents)
       |  WHERE len(t) >= 2),
       |bg AS (SELECT doc_id, b, t[u.i] w1, t[u.i+1] w2 FROM tk
       |  CROSS JOIN LATERAL unnest(range(1, len(t))) u(i)),
       |c12 AS (SELECT w1, w2, COUNT(*) c12 FROM bg
       |  WHERE b < $TrainMax GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) c1 FROM c12 GROUP BY 1),
       |sc AS (SELECT bg.doc_id, CAST(floor($PplScale * ln(
       |    (COALESCE(c12.c12, 0) + 1) / CAST(COALESCE(c1.c1, 0) +
       |      (SELECT COUNT(DISTINCT tok) FROM
       |        (SELECT unnest(t) tok FROM tk WHERE b < $TrainMax))
       |      AS DOUBLE))) AS BIGINT) q
       |  FROM bg LEFT JOIN c12 ON bg.w1 = c12.w1 AND bg.w2 = c12.w2
       |          LEFT JOIN c1 ON bg.w1 = c1.w1),
       |d AS (SELECT doc_id, COUNT(*) n_bigrams,
       |  CAST(SUM(q) AS BIGINT) sum_qll FROM sc GROUP BY doc_id)
       |SELECT doc_id, n_bigrams, sum_qll,
       | CASE WHEN sum_qll >= $PplHeadMin * n_bigrams THEN 'head'
       |      WHEN sum_qll < $PplTailMax * n_bigrams THEN 'tail'
       |      ELSE 'middle' END AS ppl_bucket
       |FROM d""".stripMargin

  /** p22's per-doc scored frame WITHOUT the presentation sort,
    * memoized+persisted per (session, dir) like the other ingest
    * artifacts: the LM build (train counts + vocab) would otherwise
    * re-run for every consumer — p22's own gate AND x11's perplexity
    * stage each pay it once without this.
    */
  private[pipeline] def pplScored(spark: SparkSession,
      dir: String): DataFrame = pplCache.getOrBuild((spark, dir)) {
    import spark.implicits._
    val tk = Tables.documents(spark, dir)
      .select($"doc_id", toks($"text").as("t"), SplitBucket.as("b"))
      .filter(size($"t") >= 2)
    val pairs = tk.select($"doc_id", $"b", explode(
        transform(sequence(lit(1), size($"t") - 1),
          i => struct(element_at($"t", i).as("w1"),
            element_at($"t", i + 1).as("w2")))).as("g"))
      .select($"doc_id", $"b", $"g.w1", $"g.w2")
    val train = pairs.filter($"b" < TrainMax)
    // c12 feeds BOTH the scoring join and c1's rollup — two plan
    // consumers, which re-execute the train extraction without reuse
    // (the dsirModel-measured non-firing). c12 is bigram-vocab-sized
    // (not stats-row), so the fix is the pqIndex pattern: persist it
    // for the build, materialize the scored artifact, release below.
    val c12 = train.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c1 = c12.groupBy($"w1").agg(sum($"c12").as("c1"))
    val vocab = tk.filter($"b" < TrainMax)
      .select(explode($"t").as("tok"))
      .agg(count_distinct($"tok").as("v"))
    val occ = pairs.groupBy($"doc_id", $"w1", $"w2")
      .agg(count(lit(1)).as("k"))
    val scored = occ
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select($"doc_id", $"k",
        floor(lit(PplScale.toDouble) * log(
          (coalesce($"c12", lit(0L)) + 1L).cast("double") /
            (coalesce($"c1", lit(0L)) + $"v").cast("double"))).as("q"))
      .groupBy($"doc_id")
      .agg(sum($"k").as("n_bigrams"), sum($"k" * $"q").as("sum_qll"))
      .withColumn("ppl_bucket",
        when($"sum_qll" >= lit(PplHeadMin) * $"n_bigrams", "head")
          .when($"sum_qll" < lit(PplTailMax) * $"n_bigrams", "tail")
          .otherwise("middle"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    scored.count() // materialize so the LM intermediate can release
    c12.unpersist()
    scored
  }

  /** p23's hashed-feature space: bigrams hash into a FIXED 4096
    * buckets (first 3 md5 hex chars — the engine-portable fold the
    * split/sample buckets already use), which is the load-bearing
    * DSIR move: the importance model's size is constant in the corpus
    * size, so both distribution tables broadcast at 100 TB exactly as
    * they do at test scale.
    */
  private[pipeline] val DsirBuckets = 4096L

  /** p23's target domain: the curated source whose distribution the
    * selection is steered toward (DSIR's "target" corpus — Wikipedia
    * in the paper; the release's first source here).
    */
  private[pipeline] val DsirTarget = "src0"

  /** p23 — DSIR importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): every
    * document's hashed-bigram features are priced by the
    * log-likelihood ratio between a target-domain bag-of-features
    * model ([[DsirTarget]]) and the raw-pool model, both add-one
    * smoothed over the [[DsirBuckets]]-bucket hashed space. A
    * positive log-weight means the document looks more like the
    * curated target than like the raw pool — `selected` is that sign,
    * the deterministic core of DSIR's resampling decision. Both
    * per-bucket log-probabilities are [[PplScale]]-quantized integers
    * (same grid as p22), so document weights are exact BIGINT sums.
    *
    * Scale shape: text reduces to integer feature buckets inside the
    * scan projection and never shuffles; the per-doc side collapses
    * map-side to (doc, bucket, k) with at most 4096 distinct buckets
    * per doc; both distribution tables are ≤4096 rows BY CONSTRUCTION
    * and broadcast to the scoring join; the two corpus totals ride a
    * one-row broadcast frame. One linear pass over the corpus at any
    * scale.
    */
  /** The hashed-bigram feature buckets of a TOKEN-ARRAY column, as an
    * array<long> in token order — p23's feature extraction, shared
    * with the streaming DSIR guard so the two hash identically by
    * construction. Returns an empty array below 2 tokens.
    *
    * Takes the [[toks]] array (pre-projected into its own column by
    * every caller), NOT the raw text: an expression captured inside a
    * `transform` lambda re-evaluates per element, so inlining the
    * tokenizing split here made extraction O(tokens²) per document —
    * the p22 pattern (tokenize in one projection, transform over the
    * attribute in the next) keeps it linear.
    */
  private[graft] def bigramBuckets(t: Column): Column =
    when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1),
        i => conv(substring(md5(concat_ws(" ",
          element_at(t, i), element_at(t, i + 1))), 1, 3),
          16, 10).cast("long")))
      .otherwise(array().cast("array<bigint>"))

  /** The DENSE DSIR model: one row per feature bucket 0..4095 with
    * its quantized log-likelihood ratio lam = qlog p_target −
    * qlog p_raw (add-one smoothed). Single-sourced so the batch
    * scorer (p23) and the streaming admission guard
    * ([[graft.streaming.Streams.dsirGuard]]) can never drift; at
    * scale this table is 4096 rows no matter the corpus size — THE
    * hashed-feature property — and broadcasts (or collapses to one
    * row for the stream).
    */
  private val dsirCache = Memo.cache[(SparkSession, String), DataFrame]("p.dsir")

  private[graft] def dsirModel(spark: SparkSession, dir: String): DataFrame =
    dsirCache.getOrBuild((spark, dir)) {
      dsirModelBuild(spark, dir)
    }

  /** ONE extraction subtree, then ONE corpus scan total: a
    * conditional agg collapses the corpus to ≤4096 (bkt, ct, cr)
    * rows in a single pass, and that stats-row-sized result is
    * COLLECTED and rebuilt as a local relation (the v05/v06
    * pattern). A plan-level second consumer (the totals) does NOT
    * get exchange-reused — the join side and the global-agg side
    * compile different exchanges (measured: ReusedExchange=0, corpus
    * scanned twice) — so the totals are two driver sums over the
    * same ≤4096 local rows instead. The collect is EAGER, hence the
    * memo above: the model is a once-per-snapshot ingest artifact
    * (the same policy as [[qcModel]]), not a per-call scan.
    */
  private def dsirModelBuild(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, dir)
      .select($"source", toks($"text").as("t"))
      .select($"source", explode(bigramBuckets($"t")).as("bkt"))
      .groupBy($"bkt")
      .agg(
        sum(when($"source" === DsirTarget, 1L).otherwise(0L)).as("ct"),
        sum(when($"source" =!= DsirTarget, 1L).otherwise(0L)).as("cr"))
      .collect().map(r => (r.getAs[Long]("bkt"), r.getAs[Long]("ct"),
        r.getAs[Long]("cr")))
    val nt = counts.map(_._2).sum
    val nr = counts.map(_._3).sum
    val local = spark.createDataFrame(counts.toSeq)
      .toDF("bkt", "ct", "cr")
    def qlp(c: Column, n: Long): Column =
      floor(lit(PplScale.toDouble) * log(
        (c + 1L).cast("double") / lit((n + DsirBuckets).toDouble)))
    spark.range(DsirBuckets).toDF("bkt")
      .join(local, Seq("bkt"), "left")
      .select($"bkt",
        (qlp(coalesce($"ct", lit(0L)), nt) -
          qlp(coalesce($"cr", lit(0L)), nr)).as("lam"))
  }

  def p23DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", toks($"text").as("t"))
      .select($"doc_id", explode(bigramBuckets($"t")).as("bkt"))
      .groupBy($"doc_id", $"bkt").agg(count(lit(1)).as("k"))
      .join(broadcast(dsirModel(spark, dir)), Seq("bkt"))
      .groupBy($"doc_id")
      .agg(sum($"k").as("n_feats"), sum($"k" * $"lam").as("qlw"))
      .withColumn("selected", when($"qlw" > 0L, 1L).otherwise(0L))
      .orderBy($"doc_id")
  }

  /** p24's trainer constants: [[QcIters]] class-balanced gradient
    * steps at integer learning rate [[QcLr]] (real-scale lr = QcLr;
    * weights live on the [[PplScale]] micro-logit grid). Three fixed
    * iterations mirror v05's power-iteration budget: enough to
    * polarize the discriminative buckets on a near-separable
    * bag-of-bigrams problem, and a CONSTANT so training cost is a
    * fixed number of passes at any corpus size.
    */
  private[pipeline] val QcIters = 3
  private[pipeline] val QcLr = 4096L

  /** Exact floor division a/b for b > 0, as columns — sign-safe in
    * BOTH engines: the numerator is first reduced by the positive
    * modulus (pmod) so it is exactly divisible by b, where truncating
    * and flooring division agree (Spark's `div` truncates toward
    * zero, DuckDB's `//` floors — they disagree on negative
    * NON-divisible values, so neither is used raw). The double-typed
    * `/` of the exactly-divisible pair is exact while |a| < 2^53:
    * both operands convert exactly and correctly-rounded division of
    * an integer-valued quotient returns it exactly. p24's largest
    * numerator is z = Σ k·w ≤ n_tokens · 3·QcLr·PplScale ≈ 1.2e10·n —
    * inside 2^53 for documents up to ~700k tokens, far above any
    * pretraining-corpus document cap.
    */
  private[graft] def fdiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** Driver-side twin of [[fdiv]]/rdiv for the ≤4096-entry weight
    * update — Math.floorDiv IS floor division, the same value the
    * oracle's reduced-numerator `//` computes.
    */
  private def rdivL(a: Long, b: Long): Long = Math.floorDiv(2 * a + b, 2 * b)

  private val qcCache = Memo.cache[(SparkSession, String),
    (DataFrame, DataFrame, Long, Long)]("p.qc", Memo.unpersist)
  private val qcModelCache = Memo.cache[(SparkSession, String), Array[Long]](
    "p.qcModel")

  /** p24's persisted training frames: `occ` (doc_id, bkt, k) — the
    * per-doc hashed-bigram counts, text-free — and `lab` (doc_id, n,
    * y), BOTH repartitioned by doc_id so every per-iteration
    * doc-grouped aggregate and occ⋈residual join is exchange-free;
    * the only shuffle each GD pass pays is the 4096-key gradient
    * collapse (map-side combined). Plus the two class counts (bounded
    * driver scalars).
    */
  private def qcFrames(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, Long, Long) =
    qcCache.getOrBuild((spark, dir)) {
      import spark.implicits._
      val lev = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val occ = Tables.documents(spark, dir)
        .select($"doc_id", toks($"text").as("t"))
        .select($"doc_id", explode(bigramBuckets($"t")).as("bkt"))
        .groupBy($"doc_id", $"bkt").agg(count(lit(1)).as("k"))
        .repartition($"doc_id")
        .persist(lev)
      val lab = Tables.documents(spark, dir)
        .select($"doc_id", toks($"text").as("t"), $"source")
        .filter(size($"t") >= 2)
        .select($"doc_id", (size($"t") - 1).cast("long").as("n"),
          when($"source" === DsirTarget, 1L).otherwise(0L).as("y"))
        .repartition($"doc_id")
        .persist(lev)
      val cnts = lab.groupBy($"y").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (occ, lab, cnts.getOrElse(1L, 0L), cnts.getOrElse(0L, 0L))
    }

  /** p24's trained weight vector (4096 micro-logits), memoized per
    * corpus like the other ingest artifacts. Each of the [[QcIters]]
    * iterations: (1) one pass over `occ` computes every document's
    * logit z = Σ k·w[bkt] as an exact BIGINT against the weights
    * riding in as ONE broadcast data row (the v05 centroidsAsRow
    * idiom — state is data, not plan text); (2) the sigmoid residual
    * r = floor(Q·σ(z/(n·Q))) − y·Q is the pass's ONLY transcendental,
    * floor-quantized to the 2^20 grid (the p22/p23 argument: σ of a
    * nonzero rational is irrational, so the floor is well-defined and
    * the ~1-ulp libm slack sits ~9 orders below the grid); (3) the
    * per-bucket gradient Σ fdiv(k·r, n) accumulates EXACT integers,
    * split by class and averaged per class (round-half-up) before the
    * update — the class-balanced step a 5%-positive curated-vs-pool
    * label needs, the same device FineWeb-Edu's classifier gets from
    * balanced sampling. The collect is ≤4096 rows per iteration,
    * constant in corpus size (the hashed-feature property p23
    * documents).
    */
  private[graft] def qcModel(spark: SparkSession, dir: String): Array[Long] =
    qcModelCache.getOrBuild((spark, dir)) {
      import spark.implicits._
      val (occ, lab, n1, n0) = qcFrames(spark, dir)
      // class-balanced GD divides by BOTH class counts; an
      // all-one-source corpus would otherwise crash inside rdivL with
      // a bare ArithmeticException long after the cause (qcFrames even
      // defaults a missing class's count to 0) — name the missing
      // class instead
      require(n1 > 0 && n0 > 0,
        s"p24 quality classifier needs both classes in the corpus: " +
          s"curated ('$DsirTarget') has $n1 docs, pool has $n0")
      var w = Array.fill(DsirBuckets.toInt)(0L)
      for (_ <- 1 to QcIters) {
        val wRow = spark.createDataFrame(Seq(Tuple1(w.toSeq))).toDF("wv")
        val z = occ.crossJoin(broadcast(wRow))
          .groupBy($"doc_id")
          .agg(sum($"k" * element_at($"wv", ($"bkt" + 1).cast("int")))
            .as("z"))
        val res = z.join(lab, Seq("doc_id"))
          .select($"doc_id", $"n", $"y",
            (floor(lit(PplScale.toDouble) / (lit(1.0) +
              exp(-($"z".cast("double") /
                ($"n".cast("double") * PplScale))))).cast("long")
              - $"y" * PplScale).as("r"))
        val g2 = occ.join(res, Seq("doc_id"))
          .select($"bkt", $"y", fdiv($"k" * $"r", $"n").as("t"))
          .groupBy($"bkt")
          .agg(sum(when($"y" === 1L, $"t").otherwise(0L)).as("g1"),
            sum(when($"y" === 0L, $"t").otherwise(0L)).as("g0"))
          .collect()
        val next = w.clone()
        g2.foreach { r =>
          val b = r.getAs[Long]("bkt").toInt
          val gbal = rdivL(r.getAs[Long]("g1"), n1) +
            rdivL(r.getAs[Long]("g0"), n0)
          next(b) = next(b) - rdivL(QcLr * gbal, 2L)
        }
        w = next
      }
      w
    }

  /** p24 — discriminative quality classifier (the FineWeb-Edu /
    * phi-style "educational value" gate, Penedo et al. 2024, reduced
    * to its deterministic core): a logistic regression over the SAME
    * 4096-bucket hashed-bigram feature space as p23, trained
    * IN-ENGINE by [[QcIters]] class-balanced quantized-gradient
    * steps against the curated-vs-pool label ([[DsirTarget]] = 1),
    * then scored over the whole corpus. Where p23's DSIR weight is
    * GENERATIVE (two smoothed bag models, a per-bucket likelihood
    * ratio fixed in closed form), p24 is the DISCRIMINATIVE
    * counterpart a production pipeline runs beside it: the trained
    * decision boundary concentrates on the buckets that SEPARATE the
    * classes instead of pricing every bucket independently.
    *
    * Determinism: weights, logits and gradients are exact BIGINTs on
    * the 2^20 micro-grid in any accumulation order; the one
    * transcendental per pass (the sigmoid) is floor-quantized under
    * the documented p22 grid argument; every division is [[fdiv]]'s
    * engine-portable exact floor. The oracle replays the identical
    * three unrolled iterations as chained CTEs (the v05 pattern).
    *
    * Scale shape: training touches text ONCE (the occ build); each
    * iteration is two exchange-free passes over the doc_id-partitioned
    * occ plus a 4096-key map-side-combined collapse; model state is a
    * constant 32 KB driver array broadcast as one data row; scoring
    * is one more pass. Nothing corpus-sized reaches the driver.
    *
    * Output: per scorable document (≥2 tokens), the feature count,
    * the n-normalized micro-logit, the decision, and the training
    * label.
    */
  def p24QualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (occ, lab, _, _) = qcFrames(spark, dir)
    val wRow = spark.createDataFrame(
      Seq(Tuple1(qcModel(spark, dir).toSeq))).toDF("wv")
    occ.crossJoin(broadcast(wRow))
      .groupBy($"doc_id")
      .agg(sum($"k" * element_at($"wv", ($"bkt" + 1).cast("int"))).as("z"))
      .join(lab, Seq("doc_id"))
      .select($"doc_id", $"n".as("n_feats"),
        fdiv($"z", $"n").as("logit_micro"),
        when($"z" > 0L, 1L).otherwise(0L).as("predicted"),
        $"y".as("label"))
      .orderBy($"doc_id")
  }

  /** p25 — gram-level duplication spectrum: the corpus's distinct
    * 13-gram hashes histogrammed by document frequency (df=1 unique,
    * df=2, 3–10, 11–100, >100). This is the table a pipeline reads
    * BEFORE choosing its dedup policy (RefinedWeb/Gopher both publish
    * it): the df=2 mass prices exact-pair dedup, the heavy tail is
    * boilerplate that gram-level excision (p20/p21) must handle, and
    * the unique share bounds what ANY dedup can remove. Where d09
    * prices Jaccard thresholds over candidate PAIRS, p25 prices
    * duplication at the gram population level — no pair join at all.
    *
    * Scale shape: reuses the persisted 13-gram artifact the p09/p10
    * sweeps and the streaming guard already share; one gram-keyed
    * map-side-combined count, then a ≤5-row histogram. Text never
    * shuffles; the gram index is the same one a 100 TB corpus
    * materializes once per snapshot.
    */
  def p25GramDfSpectrum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    contamGrams(spark, dir)
      .groupBy($"g").agg(count(lit(1)).as("df"))
      .select(
        when($"df" === 1, "unique")
          .when($"df" === 2, "df2")
          .when($"df" <= 10, "df3_10")
          .when($"df" <= 100, "df11_100")
          .otherwise("df_gt100").as("df_bucket"),
        $"df")
      .groupBy($"df_bucket")
      .agg(count(lit(1)).as("n_grams"), sum($"df").as("n_occurrences"))
      .orderBy($"df_bucket")
  }

  // ---------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p22_perplexity_buckets" -> p22PerplexityBuckets _,
    "p23_dsir_weights" -> p23DsirWeights _,
    "p24_quality_classifier" -> p24QualityClassifier _,
    "p25_gram_df_spectrum" -> p25GramDfSpectrum _,
    "p26_tokenizer_fertility" -> p26TokenizerFertility _,
    "p17_winnowing" -> p17Winnowing _,
    "p18_fingerprint_overlap" -> p18FingerprintOverlap _,
    "p19_bpe_encode" -> p19BpeEncode _,
    "p20_dup_spans" -> p20DupSpans _,
    "p21_span_excision" -> p21SpanExcision _,
    "p31_leak_excision" -> p31LeakExcision _,
    "p32_zipf_slope" -> p32ZipfSlope _,
    "p27_pii_redaction" -> p27PiiRedaction _,
    "p28_luhn_redaction" -> p28LuhnRedaction _,
    "p29_vocab_growth" -> p29VocabGrowth _,
    "p30_vocab_novelty" -> p30VocabNovelty _,
    "p16_bpe_merges" -> p16BpeMerges _,
    "p15_lexical_diversity" -> p15LexicalDiversity _,
    "p14_cross_source_leakage" -> p14CrossSourceLeakage _,
    "p13_freq_quality" -> p13FreqQuality _,
    "p01_token_stats" -> p01TokenStats _,
    "p12_sample_manifest" -> p12SampleManifest _,
    "p08_repetition_profile" -> p08RepetitionProfile _,
    "p09_contamination" -> p09Contamination _,
    "p10_leaked_grams" -> p10LeakedGrams _,
    "p11_length_quantiles" -> p11LengthQuantiles _,
    "p02_quality_buckets" -> p02QualityBuckets _,
    "p03_lang_profile" -> p03LangProfile _,
    "p04_langid_confusion" -> p04LangIdConfusion _,
    "p05_fingerprint" -> p05Fingerprint _,
    "p06_vocab_top_terms" -> p06VocabTopTerms _,
    "p07_split_profile" -> p07SplitProfile _,
  )

  private val TOKS = raw"regexp_split_to_array(trim(text), '\s+')"
  private val NTOK = s"len($TOKS)"
  private val NSTOP =
    s"len(list_filter($TOKS, t -> t IN ('the','a','of','and','in','to','is')))"

  /** The p07 split bucket in DuckDB SQL (first 4 md5 hex chars of the
    * doc_id as a 16-bit integer — identical fold to [[SplitBucket]]).
    */
  private val BUCKET =
    """list_reduce(list_prepend(0::BIGINT,
      |    list_transform(string_split(substr(md5(doc_id::VARCHAR), 1, 4), ''),
      |      ch -> (instr('0123456789abcdef', ch) - 1)::BIGINT)),
      |    (h, c) -> h * 16 + c)""".stripMargin

  /** [[SampleBucket]] in DuckDB SQL — the [[BUCKET]] fold over the
    * salted id.
    */
  private val SAMPLE_BUCKET =
    """list_reduce(list_prepend(0::BIGINT,
      |    list_transform(string_split(substr(md5('smp' || doc_id::VARCHAR), 1, 4), ''),
      |      ch -> (instr('0123456789abcdef', ch) - 1)::BIGINT)),
      |    (h, c) -> h * 16 + c)""".stripMargin

  /** p16's oracle: the merge loop unrolled into [[BpeMerges]] CTE
    * pairs — p_k picks iteration k's top pair (same count-desc,
    * lexicographic tie-break), w_k applies it with the identical
    * leftmost non-cascading fold (`list_reduce` seeded with the first
    * symbol, merge = append without separator).
    */
  /** The BPE training CTE chain (through `p1..pN`, `w1..wN`) — shared
    * by the p16 (rule list) and p19 (encode) oracles exactly as
    * [[trainBpe]] feeds both Spark sides.
    */
  private def bpeCtePrefix: String = {
    val sb = new StringBuilder(
      s"""WITH tk AS (SELECT unnest($TOKS) AS w FROM documents),
         |w0 AS (SELECT array_to_string(string_split(w, ''), ' ') AS s,
         |  COUNT(*) AS f FROM tk GROUP BY w)""".stripMargin)
    for (k <- 1 to BpeMerges) {
      sb ++= s""",
         |p$k AS (SELECT sy[i] AS a, sy[i+1] AS b, CAST(SUM(f) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(s, ' ') AS sy, f FROM w${k - 1}),
         |       unnest(range(1, len(sy))) t(i)
         |  GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1),
         |w$k AS (SELECT list_reduce(string_split(w.s, ' '),
         |    (acc, x) -> CASE WHEN x = p$k.b
         |        AND (acc = p$k.a OR ends_with(acc, ' ' || p$k.a))
         |      THEN acc || x ELSE acc || ' ' || x END) AS s, w.f
         |  FROM w${k - 1} w CROSS JOIN p$k)""".stripMargin
    }
    sb.toString
  }

  private def bpeSql: String = {
    val sb = new StringBuilder(bpeCtePrefix)
    sb ++= (1 to BpeMerges).map(k =>
      s"\nSELECT CAST($k AS BIGINT) AS rank, a AS left_sym, b AS right_sym," +
        s" a || b AS merged, cnt FROM p$k").mkString("", "\nUNION ALL", "")
    sb ++= "\nORDER BY rank"
    sb.toString
  }

  /** p19's oracle: the shared training chain, then the encode chain —
    * the distinct vocabulary folded through each learned rule in rank
    * order, joined back to the exploded corpus words.
    */
  /** The training + encode chain through `enc` = (w, nt) — the oracle
    * twin of [[encodedVocab]], shared by the p19 and p26 oracles.
    */
  private def bpeEncCtes: String = {
    val sb = new StringBuilder(bpeCtePrefix)
    sb ++= s""",
      |e0 AS (SELECT DISTINCT w,
      |  array_to_string(string_split(w, ''), ' ') AS s FROM tk)""".stripMargin
    for (k <- 1 to BpeMerges) {
      sb ++= s""",
        |e$k AS (SELECT e.w, list_reduce(string_split(e.s, ' '),
        |    (acc, x) -> CASE WHEN x = p$k.b
        |        AND (acc = p$k.a OR ends_with(acc, ' ' || p$k.a))
        |      THEN acc || x ELSE acc || ' ' || x END) AS s
        |  FROM e${k - 1} e CROSS JOIN p$k)""".stripMargin
    }
    sb ++= s""",
      |enc AS (SELECT w, CAST(len(string_split(s, ' ')) AS BIGINT) AS nt
      |  FROM e$BpeMerges)""".stripMargin
    sb.toString
  }

  private def bpeEncodeSql: String =
    s"""$bpeEncCtes,
       |dt AS (SELECT doc_id, unnest($TOKS) AS w FROM documents)
       |SELECT d.doc_id, COUNT(*) AS n_words,
       | CAST(SUM(enc.nt) AS BIGINT) AS n_bpe_tokens
       |FROM dt d JOIN enc USING (w)
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** p26's oracle: the shared encode chain rolled up per language;
    * both ppm figures are positive HUGEINT floor divisions (premium
    * the difference of the identical pair the engine computes).
    */
  private def fertilitySql: String =
    s"""$bpeEncCtes,
       |dt AS (SELECT lang, unnest($TOKS) AS w FROM documents),
       |lg AS (SELECT lang, COUNT(*) AS n_words,
       |   CAST(SUM(enc.nt) AS BIGINT) AS n_bpe_tokens
       |  FROM dt JOIN enc USING (w) GROUP BY lang),
       |tot AS (SELECT CAST(SUM(n_words) AS BIGINT) AS tw,
       |   CAST(SUM(n_bpe_tokens) AS BIGINT) AS tb FROM lg)
       |SELECT lang, n_words, n_bpe_tokens,
       | CAST(n_bpe_tokens::HUGEINT * 1000000 // n_words AS BIGINT)
       |   AS fertility_ppm,
       | CAST(n_bpe_tokens::HUGEINT * 1000000 // n_words
       |   - (SELECT tb FROM tot)::HUGEINT * 1000000 // (SELECT tw FROM tot)
       |   AS BIGINT) AS premium_ppm
       |FROM lg ORDER BY lang""".stripMargin

  /** The p10 shard router's 32-bit hex-prefix hash, as a DuckDB fold
    * (8-char extension of [[BUCKET]]'s 4-char fold).
    */
  private def hex32(x: String): String =
    s"""list_reduce(list_prepend(0::BIGINT,
       |    list_transform(string_split(substr(md5($x), 1, 8), ''),
       |      ch -> (instr('0123456789abcdef', ch) - 1)::BIGINT)),
       |    (h, c) -> h * 16 + c)""".stripMargin

  /** The winnow-selection CTEs (through `s` = (doc_id, m, packed sel))
    * — shared by the p17 and p18 oracles exactly as [[winnowSelected]]
    * is shared on the Spark side.
    */
  private lazy val WinnowCte: String =
    s"""tk AS (SELECT doc_id, $TOKS AS t FROM documents),
       |hx AS (SELECT doc_id, len(t) - ${WinnowK - 1} AS m,
       |  list_transform(t, tok -> ${hex32("tok")} % $WinnowM) AS xs
       |  FROM tk WHERE len(t) >= $WinnowK),
       |g AS (SELECT doc_id, m,
       |  [((xs[i] * ${WinnowB * WinnowB * WinnowB}
       |     + xs[i+1] * ${WinnowB * WinnowB}
       |     + xs[i+2] * $WinnowB + xs[i+3]) % $WinnowM)
       |     * 4096 + (4095 - i)
       |   for i in range(1, m + 1)] AS cmb
       |  FROM hx),
       |s AS (SELECT doc_id, m, list_distinct(
       |  [list_min(cmb[j:j+${WinnowW - 1}])
       |   for j in range(1, greatest(m - ${WinnowW - 1}, 1) + 1)]) AS sel
       |  FROM g)""".stripMargin

  /** p20's oracle, named so p21's excision oracle embeds the
    * identical span derivation.
    */
  private lazy val p20Sql: String =
    s"""WITH tk AS (SELECT doc_id, $TOKS t FROM documents),
       |gr AS (SELECT doc_id, u.i, md5(array_to_string(
       |    t[u.i:u.i+${ContamN - 1}], ' ')) AS g
       |  FROM tk CROSS JOIN LATERAL
       |    unnest(range(1, len(t) - ${ContamN - 2})) u(i)
       |  WHERE len(t) >= $ContamN),
       |dup AS (SELECT g FROM (SELECT DISTINCT g, doc_id FROM gr)
       |  GROUP BY g HAVING COUNT(*) > 1),
       |pos AS (SELECT gr.doc_id, gr.i FROM gr JOIN dup USING (g)),
       |fl AS (SELECT doc_id, i, CASE WHEN
       |    lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL OR
       |    i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > $ContamN
       |  THEN 1 ELSE 0 END AS f FROM pos),
       |il AS (SELECT doc_id, i,
       |    SUM(f) OVER (PARTITION BY doc_id ORDER BY i) AS island
       |  FROM fl)
       |SELECT doc_id, MIN(i) AS span_start,
       |  MAX(i) + ${ContamN - 1} AS span_end,
       |  MAX(i) + ${ContamN - 1} - MIN(i) + 1 AS n_tokens,
       |  COUNT(*)::BIGINT AS n_windows
       |FROM il GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin

  /** The p23 feature bucket in DuckDB SQL — the [[BUCKET]] fold over
    * the first 3 md5 hex chars of a bigram (0..4095), identical to
    * the Spark side's `conv(substring(md5(...), 1, 3), 16, 10)`.
    */
  private def bkt3(x: String): String =
    s"""list_reduce(list_prepend(0::BIGINT,
       |    list_transform(string_split(substr(md5($x), 1, 3), ''),
       |      ch -> (instr('0123456789abcdef', ch) - 1)::BIGINT)),
       |    (h, c) -> h * 16 + c)""".stripMargin

  /** p24's oracle: the three class-balanced GD iterations unrolled as
    * chained CTEs (the v05 pattern), every accumulation an exact
    * BIGINT sum and every division the reduced-numerator exact floor
    * ([[fdiv]]'s SQL twin — `//` only ever divides exact multiples,
    * where floor and truncation agree).
    */
  private def fdSql(a: String, b: String): String =
    s"(($a) - ((($a) % ($b) + ($b)) % ($b))) // ($b)"

  private lazy val p24Sql: String = {
    // round-half-up a/b as the reduced-numerator floor of (2a+b)/2b —
    // the SQL twin of the driver's rdivL
    def rb(g: String, n: String): String =
      fdSql(s"2*($g) + ($n)", s"2*($n)")
    val sb = new StringBuilder(
      s"""WITH dk AS (SELECT doc_id, source, $TOKS t FROM documents),
         |docs AS (SELECT doc_id, source, t FROM dk WHERE len(t) >= 2),
         |ft AS (SELECT doc_id, ${bkt3("t[u.i] || ' ' || t[u.i+1]")} bkt
         |  FROM docs CROSS JOIN LATERAL unnest(range(1, len(t))) u(i)),
         |occ AS (SELECT doc_id, bkt, COUNT(*) k FROM ft GROUP BY 1, 2),
         |lab AS (SELECT doc_id, CAST(len(t) - 1 AS BIGINT) n,
         |    CASE WHEN source = '$DsirTarget' THEN 1 ELSE 0 END y
         |  FROM docs),
         |nc AS (SELECT CAST(SUM(y) AS BIGINT) n1,
         |    CAST(SUM(1 - y) AS BIGINT) n0 FROM lab),
         |w0 AS (SELECT CAST(unnest(range($DsirBuckets)) AS BIGINT) bkt,
         |    CAST(0 AS BIGINT) w)""".stripMargin)
    for (i <- 1 to QcIters) {
      sb.append(s""",
        |z$i AS (SELECT o.doc_id, CAST(SUM(o.k * w.w) AS BIGINT) z
        |  FROM occ o JOIN w${i - 1} w USING (bkt) GROUP BY 1),
        |r$i AS (SELECT l.doc_id, l.n, l.y,
        |    CAST(floor($PplScale.0 / (1.0 + exp(-(CAST(z.z AS DOUBLE) /
        |      (CAST(l.n AS DOUBLE) * $PplScale))))) AS BIGINT)
        |      - l.y * $PplScale AS r
        |  FROM lab l JOIN z$i z USING (doc_id)),
        |g$i AS (SELECT bkt,
        |    CAST(SUM(CASE WHEN y = 1 THEN fd ELSE 0 END) AS BIGINT) g1,
        |    CAST(SUM(CASE WHEN y = 0 THEN fd ELSE 0 END) AS BIGINT) g0
        |  FROM (SELECT o.bkt, r.y, ${fdSql("o.k * r.r", "r.n")} fd
        |        FROM occ o JOIN r$i r USING (doc_id))
        |  GROUP BY bkt),
        |w$i AS (SELECT w.bkt, w.w - (${rb(
        s"$QcLr * ((${rb("COALESCE(g.g1, 0)", "(SELECT n1 FROM nc)")}) + " +
          s"(${rb("COALESCE(g.g0, 0)", "(SELECT n0 FROM nc)")}))",
        "2")}) w
        |  FROM w${i - 1} w LEFT JOIN g$i g USING (bkt))""".stripMargin)
    }
    sb.append(s"""
      |, zf AS (SELECT o.doc_id, CAST(SUM(o.k * w.w) AS BIGINT) z
      |  FROM occ o JOIN w$QcIters w USING (bkt) GROUP BY 1)
      |SELECT l.doc_id, l.n AS n_feats,
      | CAST(${fdSql("z.z", "l.n")} AS BIGINT) AS logit_micro,
      | CAST(CASE WHEN z.z > 0 THEN 1 ELSE 0 END AS BIGINT) AS predicted,
      | CAST(l.y AS BIGINT) AS label
      |FROM zf z JOIN lab l USING (doc_id) ORDER BY l.doc_id""".stripMargin)
    sb.toString
  }

  val oracles: Map[String, String] = Map(
    "p24_quality_classifier" -> p24Sql,
    "p25_gram_df_spectrum" ->
      s"""WITH tk AS (SELECT doc_id, $TOKS t FROM documents),
         |gr AS (SELECT doc_id, unnest(list_distinct(
         |    [md5(array_to_string(t[i:i+12], ' ')) for i in range(1, len(t)-11)])) AS g
         |  FROM tk WHERE len(t) >= 13),
         |df AS (SELECT g, COUNT(*) AS df FROM gr GROUP BY g)
         |SELECT CASE WHEN df = 1 THEN 'unique'
         |       WHEN df = 2 THEN 'df2'
         |       WHEN df <= 10 THEN 'df3_10'
         |       WHEN df <= 100 THEN 'df11_100'
         |       ELSE 'df_gt100' END AS df_bucket,
         | COUNT(*) AS n_grams, CAST(SUM(df) AS BIGINT) AS n_occurrences
         |FROM df GROUP BY 1 ORDER BY 1""".stripMargin,
    "p22_perplexity_buckets" -> s"$pplScoredSql\nORDER BY doc_id",
    "p23_dsir_weights" ->
      s"""WITH tk AS (SELECT doc_id, source, t FROM
         |    (SELECT doc_id, source, $TOKS t FROM documents)
         |  WHERE len(t) >= 2),
         |ft AS (SELECT doc_id, source,
         |    ${bkt3("t[u.i] || ' ' || t[u.i+1]")} bkt FROM tk
         |  CROSS JOIN LATERAL unnest(range(1, len(t))) u(i)),
         |tgt AS (SELECT bkt, COUNT(*) ct FROM ft
         |  WHERE source = '$DsirTarget' GROUP BY 1),
         |rw AS (SELECT bkt, COUNT(*) cr FROM ft
         |  WHERE source <> '$DsirTarget' GROUP BY 1),
         |sc AS (SELECT ft.doc_id,
         |    CAST(floor($PplScale * ln((COALESCE(tgt.ct, 0) + 1) /
         |      CAST(COALESCE((SELECT SUM(ct) FROM tgt), 0)
         |           + $DsirBuckets AS DOUBLE)))
         |      AS BIGINT)
         |  - CAST(floor($PplScale * ln((COALESCE(rw.cr, 0) + 1) /
         |      CAST(COALESCE((SELECT SUM(cr) FROM rw), 0)
         |           + $DsirBuckets AS DOUBLE)))
         |      AS BIGINT) q
         |  FROM ft LEFT JOIN tgt USING (bkt) LEFT JOIN rw USING (bkt)),
         |d AS (SELECT doc_id, COUNT(*) n_feats,
         |  CAST(SUM(q) AS BIGINT) qlw FROM sc GROUP BY doc_id)
         |SELECT doc_id, n_feats, qlw,
         | CAST(CASE WHEN qlw > 0 THEN 1 ELSE 0 END AS BIGINT) AS selected
         |FROM d ORDER BY doc_id""".stripMargin,
    "p17_winnowing" ->
      s"""WITH $WinnowCte
         |SELECT doc_id, CAST(m AS BIGINT) AS n_grams,
         | CAST(len(sel) AS BIGINT) AS n_selected,
         | CAST(list_sum(list_transform(sel, e -> e // 4096)) AS BIGINT)
         |   AS fp_sum,
         | CAST(list_min(sel) // 4096 AS BIGINT) AS fp_min
         |FROM s ORDER BY doc_id""".stripMargin,
    "p18_fingerprint_overlap" ->
      s"""WITH $WinnowCte,
         |fps AS (SELECT doc_id, unnest(list_distinct(
         |    list_transform(sel, e -> e // 4096))) AS fp FROM s),
         |capped AS (SELECT doc_id, fp FROM fps
         |  WHERE fp IN (SELECT fp FROM fps
         |               GROUP BY fp HAVING count(*) <= $FpDfCap)),
         |sizes AS (SELECT doc_id, count(*) n FROM capped GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) shared
         |  FROM capped a JOIN capped b
         |    ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id, shared, sa.n AS na, sb.n AS nb
         |FROM pairs JOIN sizes sa ON a_id = sa.doc_id
         |           JOIN sizes sb ON b_id = sb.doc_id
         |WHERE shared >= $FpMinShared
         |ORDER BY a_id, b_id""".stripMargin,
    "p27_pii_redaction" ->
      s"""WITH pii AS (SELECT doc_id,
         |  text || ' contact user' || (doc_id % 97)::VARCHAR
         |    || '@example.org'
         |  || CASE WHEN doc_id % 4 = 0 THEN ' cc admin'
         |       || (doc_id % 13)::VARCHAR || '@mail.example.com'
         |     ELSE '' END
         |  || CASE WHEN doc_id % 3 = 0 THEN ' call 555-'
         |       || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-'
         |       || lpad((doc_id % 10000)::VARCHAR, 4, '0')
         |     ELSE '' END
         |  || CASE WHEN doc_id % 5 = 0 THEN ' host 10.'
         |       || (doc_id % 256)::VARCHAR || '.'
         |       || ((doc_id * 3) % 256)::VARCHAR || '.'
         |       || (doc_id % 250)::VARCHAR
         |     ELSE '' END AS pii_text FROM documents),
         |c AS (SELECT doc_id, pii_text,
         |  len(regexp_extract_all(pii_text, '$PiiEmailRe'))::BIGINT
         |    AS n_emails,
         |  len(regexp_extract_all(pii_text, '$PiiPhoneRe'))::BIGINT
         |    AS n_phones,
         |  len(regexp_extract_all(pii_text, '$PiiIpRe'))::BIGINT
         |    AS n_ips
         |  FROM pii)
         |SELECT doc_id, n_emails, n_phones, n_ips,
         |  n_emails + n_phones + n_ips AS n_redactions,
         |  md5(COALESCE(array_to_string(regexp_split_to_array(trim(
         |    regexp_replace(regexp_replace(regexp_replace(pii_text,
         |      '$PiiEmailRe', '<EMAIL>', 'g'),
         |      '$PiiPhoneRe', '<PHONE>', 'g'),
         |      '$PiiIpRe', '<IP>', 'g')), '\\s+'), ' '), ''))
         |    AS redacted_md5
         |FROM c ORDER BY doc_id""".stripMargin,
    "p30_vocab_novelty" ->
      s"""WITH tk AS (SELECT doc_id, list_distinct($TOKS) ts, $BUCKET b
         |  FROM documents),
         |tv AS (SELECT DISTINCT unnest(ts) tok FROM tk WHERE b < $TrainMax),
         |ev AS (SELECT doc_id, ts FROM tk WHERE b >= $ValMax),
         |ex AS (SELECT doc_id, unnest(ts) tok FROM ev),
         |nv AS (SELECT doc_id, COUNT(*)::BIGINT n FROM ex
         |  WHERE tok NOT IN (SELECT tok FROM tv) GROUP BY doc_id)
         |SELECT e.doc_id, len(ts)::BIGINT AS n_types,
         |  COALESCE(nv.n, 0)::BIGINT AS n_novel_types,
         |  (COALESCE(nv.n, 0)::BIGINT * 1000000) // len(ts) AS novel_ppm
         |FROM ev e LEFT JOIN nv ON nv.doc_id = e.doc_id
         |ORDER BY e.doc_id""".stripMargin,
    "p29_vocab_growth" ->
      s"""WITH tk AS (SELECT doc_id, $TOKS t FROM documents),
         |r AS (SELECT doc_id, len(t)::BIGINT n_tokens,
         |    row_number() OVER (ORDER BY doc_id) rn FROM tk),
         |nn AS (SELECT count(*)::BIGINT c FROM tk),
         |d AS (SELECT doc_id, n_tokens,
         |    ((rn - 1) * 10) // (SELECT c FROM nn) AS decile FROM r),
         |tokdec AS (SELECT decile, SUM(n_tokens)::BIGINT new_tokens
         |  FROM d GROUP BY decile),
         |fo AS (SELECT tok, MIN(doc_id) doc_id FROM
         |    (SELECT doc_id, unnest(list_distinct(t)) tok FROM tk)
         |  GROUP BY tok),
         |vdec AS (SELECT d.decile, COUNT(*)::BIGINT new_vocab
         |  FROM fo JOIN d USING (doc_id) GROUP BY d.decile),
         |per AS (SELECT t.decile, t.new_tokens,
         |    COALESCE(v.new_vocab, 0)::BIGINT AS new_vocab
         |  FROM tokdec t LEFT JOIN vdec v USING (decile))
         |SELECT a.decile AS decile,
         |  SUM(b.new_tokens)::BIGINT AS cum_tokens,
         |  SUM(b.new_vocab)::BIGINT AS cum_vocab
         |FROM per a JOIN per b ON b.decile <= a.decile
         |GROUP BY a.decile ORDER BY decile""".stripMargin,
    "p28_luhn_redaction" -> {
      val isD16 = raw"regexp_full_match(x, '\d{16}')"
      val isCard = s"($isD16 AND ${luhnSumSql("x", 16)} % 10 = 0)"
      s"""WITH inj AS (SELECT doc_id, text,
         |    lpad(((doc_id * 7919) % 1000000000000000)::VARCHAR, 15, '0')
         |      AS b15 FROM documents),
         |ck AS (SELECT doc_id, text, b15,
         |    (10 - ${luhnSumSql("b15", 15)} % 10) % 10 AS chk FROM inj),
         |cc AS (SELECT doc_id, text
         |  || CASE WHEN doc_id % 2 = 0
         |       THEN ' card ' || b15 || chk::VARCHAR ELSE '' END
         |  || CASE WHEN doc_id % 7 = 0
         |       THEN ' num ' || b15 || ((chk + 1) % 10)::VARCHAR
         |     ELSE '' END AS cc_text FROM ck),
         |tk AS (SELECT doc_id,
         |    regexp_split_to_array(trim(cc_text), '\\s+') AS t FROM cc),
         |pr AS (SELECT doc_id,
         |    len(list_filter(t, x -> $isD16))::BIGINT AS n_digit16,
         |    len(list_filter(t, x -> $isCard))::BIGINT AS n_luhn_valid,
         |    md5(COALESCE(array_to_string(list_transform(t, x ->
         |      CASE WHEN $isCard THEN '<CARD>' ELSE x END), ' '), ''))
         |      AS redacted_md5
         |  FROM tk)
         |SELECT doc_id, n_digit16, n_luhn_valid,
         |  n_digit16 - n_luhn_valid AS n_rejected, redacted_md5
         |FROM pr ORDER BY doc_id""".stripMargin
    },
    "p16_bpe_merges" -> bpeSql,
    "p19_bpe_encode" -> bpeEncodeSql,
    "p26_tokenizer_fertility" -> fertilitySql,
    "p20_dup_spans" -> p20Sql,
    "p21_span_excision" ->
      s"""WITH spans AS (SELECT doc_id, span_start, span_end
         |  FROM ($p20Sql)),
         |tk AS (SELECT doc_id, $TOKS t FROM documents),
         |sp AS (SELECT doc_id,
         |    list({'a': span_start, 'b': span_end}) AS sl
         |  FROM spans GROUP BY doc_id),
         |j AS (SELECT tk.doc_id, t, COALESCE(sl, []) AS sl
         |  FROM tk LEFT JOIN sp USING (doc_id)),
         |k AS (SELECT doc_id, t, sl, list_filter(t, (x, i) ->
         |    NOT len(list_filter(sl, r -> i >= r.a AND i <= r.b)) > 0)
         |  AS kept FROM j)
         |SELECT doc_id, len(t)::BIGINT AS n_tokens_before,
         |  len(kept)::BIGINT AS n_tokens_kept,
         |  len(sl)::BIGINT AS n_spans,
         |  md5(COALESCE(array_to_string(kept, ' '), ''))
         |    AS cleaned_md5
         |FROM k ORDER BY doc_id""".stripMargin,
    // p32: identical quantized-ln least squares — both engines reduce
    // every term to the same integers (floor(2^20 ln)) before any
    // cross-row arithmetic; HUGEINT mirrors the engine's DECIMAL(38,0)
    "p32_zipf_slope" ->
      raw"""WITH tf AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
         |    AS term FROM documents),
         |cnt AS (SELECT term, COUNT(*)::BIGINT AS f FROM tf GROUP BY term),
         |rk AS (SELECT f, row_number() OVER (ORDER BY f DESC, term) AS r
         |  FROM cnt),
         |q AS (SELECT CAST(floor(ln(r) * 1048576) AS BIGINT) AS lx,
         |    CAST(floor(ln(f) * 1048576) AS BIGINT) AS ly FROM rk),
         |s AS (SELECT COUNT(*)::HUGEINT AS n, SUM(lx)::HUGEINT AS sx,
         |    SUM(ly)::HUGEINT AS sy, SUM(lx * ly)::HUGEINT AS sxy,
         |    SUM(lx * lx)::HUGEINT AS sxx FROM q)
         |SELECT CAST(n AS BIGINT) AS n_terms,
         |  CAST(((sx * sy - n * sxy) * 1000000)
         |    // (n * sxx - sx * sx) AS BIGINT) AS neg_slope_ppm
         |FROM s""".stripMargin,
    "p31_leak_excision" ->
      s"""WITH tk AS (SELECT doc_id, $TOKS t, $BUCKET AS b FROM documents),
         |tr AS (SELECT doc_id, t, len(t)::BIGINT n FROM tk
         |  WHERE b < $TrainMax AND len(t) >= $ContamN),
         |tg AS (SELECT DISTINCT unnest(list_distinct(
         |    [md5(array_to_string(t[i:i+12], ' '))
         |     for i in range(1, len(t)-11)])) g
         |  FROM tk WHERE b >= $ValMax AND len(t) >= $ContamN),
         |pos AS (SELECT doc_id, n, u.i::BIGINT AS i,
         |    md5(array_to_string(t[u.i:u.i+12], ' ')) AS g
         |  FROM tr CROSS JOIN LATERAL unnest(range(1, (n - 11)::BIGINT)) u(i)),
         |lk AS (SELECT p.doc_id, p.n,
         |    greatest(p.i - $LeakPad, 1) AS a,
         |    least(p.i + ${ContamN - 1} + $LeakPad, p.n) AS bnd
         |  FROM pos p JOIN tg ON tg.g = p.g),
         |isl AS (SELECT doc_id, a, bnd,
         |    CASE WHEN max(bnd) OVER w1 IS NULL
         |      OR a > max(bnd) OVER w1 + 1 THEN 1 ELSE 0 END AS f
         |  FROM lk WINDOW w1 AS (PARTITION BY doc_id ORDER BY a, bnd
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |i2 AS (SELECT *, SUM(f) OVER (PARTITION BY doc_id
         |    ORDER BY a, bnd) AS island FROM isl),
         |sp AS (SELECT doc_id, island, COUNT(*)::BIGINT AS n_leaks_in,
         |    MIN(a) AS sa, MAX(bnd) AS sb FROM i2 GROUP BY 1, 2),
         |ag AS (SELECT doc_id, CAST(SUM(n_leaks_in) AS BIGINT) AS n_leaks,
         |    COUNT(*)::BIGINT AS n_spans,
         |    list({'a': sa, 'b': sb}) AS sl FROM sp GROUP BY doc_id),
         |k AS (SELECT tk.doc_id, t, n_leaks, n_spans, sl,
         |    list_filter(t, (x, i) ->
         |      NOT len(list_filter(sl, r -> i >= r.a AND i <= r.b)) > 0)
         |    AS kept
         |  FROM tk JOIN ag ON ag.doc_id = tk.doc_id)
         |SELECT doc_id, len(t)::BIGINT AS n_tokens_before,
         |  len(kept)::BIGINT AS n_tokens_kept, n_leaks, n_spans,
         |  md5(COALESCE(array_to_string(kept, ' '), '')) AS cleaned_md5
         |FROM k ORDER BY doc_id""".stripMargin,
    "p15_lexical_diversity" ->
      s"""WITH tk AS (SELECT doc_id, unnest($TOKS) AS tok FROM documents),
         |cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         | COUNT(*) AS n_types, CAST(SUM(c * c) AS BIGINT) AS sum_c2,
         | CAST(MAX(c) AS BIGINT) AS max_c,
         | CAST(CASE WHEN SUM(c * c) * $DiversityCut >= SUM(c) * SUM(c)
         |      THEN 1 ELSE 0 END AS BIGINT) AS low_diversity
         |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "p14_cross_source_leakage" ->
      s"""WITH tk AS (SELECT source, $TOKS t FROM documents),
         |gr AS (SELECT DISTINCT source, unnest(list_distinct(
         |    [md5(array_to_string(t[i:i+12], ' ')) for i in range(1, len(t)-11)])) g
         |  FROM tk WHERE len(t) >= 13)
         |SELECT a.source AS src_a, b.source AS src_b,
         | count(*) AS n_shared_grams
         |FROM gr a JOIN gr b ON a.g = b.g AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "p13_freq_quality" ->
      s"""WITH tk AS (SELECT doc_id, unnest($TOKS) AS term FROM documents),
         |tf AS (SELECT term, COUNT(*) AS f FROM tk GROUP BY term),
         |vocab AS (SELECT term, f FROM tf ORDER BY f DESC, term LIMIT $FreqVocabSize)
         |SELECT tk.doc_id, COUNT(*) AS n_tokens,
         | CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         | CAST(SUM(coalesce(v.f, 0)) AS BIGINT) AS vocab_freq_sum
         |FROM tk LEFT JOIN vocab v ON v.term = tk.term
         |GROUP BY tk.doc_id ORDER BY tk.doc_id""".stripMargin,
    "p12_sample_manifest" ->
      s"""SELECT doc_id, lang, n_chars FROM (
         |  SELECT doc_id, lang, n_chars, $SAMPLE_BUCKET AS sb FROM documents)
         |WHERE sb < (CASE WHEN lang = 'en'
         |  THEN $SampleEnMax ELSE $SampleOtherMax END)
         |ORDER BY doc_id""".stripMargin,
    "p09_contamination" ->
      s"""WITH tk AS (SELECT doc_id, $TOKS t, $BUCKET AS b FROM documents),
         |gr AS (SELECT doc_id, b, unnest(list_distinct(
         |    [md5(array_to_string(t[i:i+12], ' ')) for i in range(1, len(t)-11)])) AS g
         |  FROM tk WHERE len(t) >= 13),
         |tr AS (SELECT DISTINCT g FROM gr WHERE b < $TrainMax)
         |SELECT gr.doc_id, COUNT(*) AS n_grams,
         | CAST(SUM(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         | CAST(CASE WHEN SUM(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END) > 0
         |      THEN 1 ELSE 0 END AS BIGINT) AS contaminated
         |FROM gr LEFT JOIN tr ON gr.g = tr.g
         |WHERE gr.b >= $ValMax
         |GROUP BY gr.doc_id ORDER BY gr.doc_id""".stripMargin,
    "p10_leaked_grams" ->
      s"""WITH tk AS (SELECT doc_id, $TOKS t, $BUCKET AS b FROM documents),
         |gr AS (SELECT doc_id, b, unnest(list_distinct(
         |    [md5(array_to_string(t[i:i+12], ' ')) for i in range(1, len(t)-11)])) AS g
         |  FROM tk WHERE len(t) >= 13),
         |tr AS (SELECT g, COUNT(DISTINCT doc_id) AS n_train_docs
         |  FROM gr WHERE b < $TrainMax GROUP BY g)
         |SELECT gr.doc_id, gr.g, tr.n_train_docs
         |FROM gr JOIN tr ON gr.g = tr.g
         |WHERE gr.b >= $ValMax
         |ORDER BY gr.doc_id, gr.g""".stripMargin,
    "p11_length_quantiles" ->
      s"""SELECT source, COUNT(*) AS n_docs,
         | quantile_cont(n, 0.5) AS p50_tokens,
         | quantile_cont(n, 0.9) AS p90_tokens,
         | quantile_cont(n, 0.99) AS p99_tokens
         |FROM (SELECT source, $NTOK::BIGINT AS n FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin,
    "p08_repetition_profile" ->
      s"""WITH tk AS (SELECT doc_id, $TOKS t FROM documents),
         |tri AS (SELECT doc_id, unnest(
         |    [array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)]) AS tri
         |  FROM tk WHERE len(t) >= 3),
         |cnt AS (SELECT doc_id, tri, COUNT(*) c FROM tri GROUP BY doc_id, tri)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tri,
         | COUNT(*) AS n_uniq_tri, CAST(MAX(c) AS BIGINT) AS max_tri_cnt,
         | CAST(CASE WHEN (SUM(c) - COUNT(*)) * 5 >= SUM(c)
         |      THEN 1 ELSE 0 END AS BIGINT) AS repetitive
         |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "p01_token_stats" ->
      s"""SELECT doc_id, $NTOK AS n_tokens, length(text) AS n_chars,
         | len(list_distinct($TOKS)) AS n_uniq_tokens,
         | list_max(list_transform($TOKS, t -> length(t))) AS max_token_len,
         | len(regexp_extract_all(text, '[a-zA-Z]{1,4}|[0-9]+|[^a-zA-Z0-9\\s]'))
         |   AS n_subtokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "p02_quality_buckets" ->
      s"""SELECT quality_bucket, COUNT(*) AS n_docs,
         | CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         | CAST(SUM(n_stop) AS BIGINT) AS sum_stop
         |FROM (SELECT
         |   CASE WHEN n_tokens < 30 THEN 'short'
         |        WHEN n_stop * 5 >= n_tokens THEN 'stop_heavy'
         |        ELSE 'clean' END AS quality_bucket, n_tokens, n_stop
         |  FROM (SELECT $NTOK AS n_tokens, $NSTOP AS n_stop FROM documents))
         |GROUP BY quality_bucket ORDER BY quality_bucket""".stripMargin,
    "p03_lang_profile" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         | MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
         | CAST(SUM($NTOK) AS BIGINT) AS sum_tokens
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "p04_langid_confusion" ->
      s"""SELECT lang, pred_lang, COUNT(*) AS n_docs FROM (
         | SELECT lang,
         |  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |   WHEN instr(p,' el ')>0 OR instr(p,' que ')>0 OR instr(p,' una ')>0 THEN 'es'
         |   WHEN instr(p,' der ')>0 OR instr(p,' und ')>0 OR instr(p,' nicht ')>0 THEN 'de'
         |   WHEN instr(p,' le ')>0 OR instr(p,' les ')>0 OR instr(p,' est ')>0 THEN 'fr'
         |   WHEN instr(p,' the ')>0 OR instr(p,' is ')>0 OR instr(p,' and ')>0 THEN 'en'
         |   ELSE 'unknown' END AS pred_lang
         | FROM (SELECT lang, text, ' ' || text || ' ' AS p FROM documents))
         |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin,
    "p05_fingerprint" ->
      s"""SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
         |FROM (SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct($TOKS)), ' '))
         |    AS fingerprint FROM documents)
         |GROUP BY fingerprint ORDER BY fingerprint""".stripMargin,
    "p06_vocab_top_terms" ->
      s"""SELECT term, COUNT(*) AS term_freq,
         | COUNT(DISTINCT doc_id) AS doc_freq
         |FROM (SELECT doc_id, unnest($TOKS) AS term FROM documents)
         |GROUP BY term ORDER BY term_freq DESC, term LIMIT 25""".stripMargin,
    "p07_split_profile" ->
      s"""SELECT source, split, COUNT(*) AS n_docs,
         | CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         |FROM (SELECT source, $NTOK AS n_tokens,
         |  CASE WHEN b < 58982 THEN 'train'
         |       WHEN b < 62259 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT source, text, list_reduce(list_prepend(0::BIGINT,
         |    list_transform(string_split(substr(md5(doc_id::VARCHAR), 1, 4), ''),
         |      ch -> (instr('0123456789abcdef', ch) - 1)::BIGINT)),
         |    (h, c) -> h * 16 + c) AS b FROM documents))
         |GROUP BY source, split ORDER BY source, split""".stripMargin,
  )
}
