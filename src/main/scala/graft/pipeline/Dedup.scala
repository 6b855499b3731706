package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Memo, Tables}

/** Deduplication operators for training-data pipelines, over the
  * `documents` (and `embeddings`) tables.
  *
  * Design for 100 TB:
  *   - the raw text column never shuffles: every op first reduces a
  *     document to hashes / shingle-hashes / integer signatures in the
  *     mapper, and only those (bytes, not kilobytes) cross the wire;
  *   - candidate generation is always *blocked* (LSH band buckets for
  *     MinHash, signature bands for SimHash) so no O(n^2) pair join ever
  *     materializes at scale — the brute-force joins only appear in the
  *     DuckDB oracle, where n=500;
  *   - all similarity thresholds are integer cross-multiplications
  *     (`inter*5 >= union*4` for Jaccard>=0.8) or bit counts, so
  *     results hash-match the oracle exactly; the only floating-point op
  *     (embedding cosine, d05) is written as an identical sequential
  *     left-fold in both engines, which IEEE-754 makes bit-reproducible.
  *
  * Reference context: RASS dedupes retrieval hits by `doc_id`
  * (`app/main.py:2894-2910`) and has no corpus-level dedup; these
  * operators add the corpus-level capability a 100 TB ingest needs.
  */
object Dedup {

  private def toks(c: Column): Column = split(trim(c), "\\s+")

  /** Release every memoized ingest artifact (shingle index, MinHash /
    * SimHash / sign-LSH signatures, dup-pair table, last label table).
    *
    * The caches are keyed by (session, dir) and otherwise live for the
    * session: call this when the data under a dir changes (the cache
    * has no snapshot id to detect staleness itself) or to return
    * executor storage between unrelated workloads — Bench releases
    * between query groups so one group's artifacts don't squeeze the
    * next group's execution memory.
    */
  def invalidateCaches(): Unit = Memo.invalidate("d.")

  /** Distinct word-3-gram shingles: (doc_id, shingle) rows.
    *
    * Memoized and persisted per (session, dir) — the shingle inverted
    * index is an ingest-time artifact shared by every shingle-based
    * dedup op (d02 reads it 3x, d03 3x), exactly like the materialized
    * corpus in [[graft.rass.Corpus]]: at 100 TB it is written once at
    * ingest, not re-derived from raw text per query.
    */
  private def shingleRows(spark: SparkSession, dir: String): DataFrame =
    shingleCache.getOrBuild((spark, dir)) {
      import spark.implicits._
      Tables.documents(spark, dir)
        .select($"doc_id", toks($"text").as("t"))
        .filter(size($"t") >= 3)
        .select($"doc_id", explode(array_distinct(
          transform(sequence(lit(1), size($"t") - 2),
            i => array_join(slice($"t", i, lit(3)), " ")))).as("shingle"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val shingleCache = Memo.frames("d.shingles")

  /** d02's production Jaccard cut as an exact rational: keep pairs
    * with J >= [[JaccardCutNum]]/[[JaccardCutDen]] (= 0.8). A NAMED
    * constant — not an inline literal — because the d11 artifact
    * fingerprint embeds it: changing the cut must invalidate the
    * stored detector-pair set automatically, not depend on someone
    * remembering to bump the artifact version.
    */
  private[graft] val JaccardCutNum = 4
  private[graft] val JaccardCutDen = 5

  /** Jaccard >= cut as pure integer arithmetic. */
  private def jaccardAtLeast08(inter: Column, na: Column, nb: Column): Column =
    inter * JaccardCutDen >= (na + nb - inter) * JaccardCutNum

  /** d01 — exact duplicate profile per source: hash-groupBy on md5(text).
    * Only the 16-byte hash shuffles.
    */
  def d01ExactDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"source", md5($"text").as("h"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"h").as("n_uniq_texts"))
      .withColumn("n_dup_docs", $"n_docs" - $"n_uniq_texts")
      .orderBy($"source")
  }

  /** Document-frequency cap for d02: a shingle occurring in more than
    * this many documents is dropped before the inverted-index self-join
    * — it contributes C(df, 2) candidate pairs (quadratic in df, the
    * 100 TB blow-up) and, stop-phrase-like, carries no dedup signal.
    * The Jaccard is computed over the CAPPED shingle sets on both
    * engines (the oracle filters identically), which is the standard
    * production semantics; on the test corpus (max df = 25) the capped
    * and uncapped results are identical, proven in DedupSpec.
    */
  val ShingleDfCap = 50

  /** d02 — near-duplicate pairs by word-3-gram Jaccard >= 0.8 over the
    * df-capped shingle sets ([[ShingleDfCap]]): inverted-index
    * self-join on the shingle, candidate volume bounded by
    * cap x df per shingle.
    */
  /** The df-capped shingle occurrences (df <= [[ShingleDfCap]]) — the
    * d02 inverted index. df is a `groupBy(shingle).count` + left-semi
    * join back to the occurrence rows, NOT a whole-partition window:
    * a window forces every occurrence of one shingle into a single
    * task with no map-side combine, so at 100× a stopword shingle is
    * an unbounded heavy-hitter partition; the aggregate's partial
    * (map-side) combine absorbs exactly that skew, and the surviving
    * key list is the capped (rare) tail, which Catalyst can broadcast
    * for the semi join. Identical semantics — DedupSpec proves the
    * capped index loses nothing vs the uncapped self-join, and the
    * sf0.01 oracle hashes are unchanged. Memoized + persisted under
    * the same ingest-artifact policy as [[minhashSig]], and for the
    * same reason: d02 consumes it three ways (self-join a-side,
    * b-side, and the per-doc sizes).
    */
  private def cappedShingles(spark: SparkSession, dir: String): DataFrame =
    cappedShingleCache.getOrBuild((spark, dir)) {
      import spark.implicits._
      val sh = shingleRows(spark, dir)
      val keep = sh.groupBy($"shingle").agg(count(lit(1)).as("df_"))
        .filter($"df_" <= ShingleDfCap).select($"shingle")
      sh.join(keep, Seq("shingle"), "left_semi")
        .select($"doc_id", $"shingle")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val cappedShingleCache = Memo.frames("d.cappedShingles")

  /** The UNFILTERED candidate-pair stats over the capped inverted
    * index — (a_id, b_id, inter, na, nb) for every pair sharing >= 1
    * capped shingle. d02 cuts it at Jaccard 0.8; d09 sweeps the cut.
    */
  // private[graft]: DevTime's d09 aggregation-form A/B times both
  // sweep shapes over this one shared base (round 20)
  private[graft] def cappedPairStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = cappedShingles(spark, dir)
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    // Pair enumeration in ONE shuffle of the occurrence table: group by
    // shingle, sort the (distinct-per-doc) posting list, and emit every
    // ordered pair from it. The previous self-join shuffled `sh` TWICE
    // (the aliased sides never canonical-match, so ReuseExchange cannot
    // fire) and paid a sort-merge sort on the STRING shingle key; this
    // form shuffles the same rows once and replaces the join with two
    // generators. The posting list is bounded by [[ShingleDfCap]] (the
    // df filter above), so no collect_list group can exceed cap
    // elements — the same bound that kept the join's per-key candidate
    // volume quadratic-safe keeps the array skew-safe. Pair multiset is
    // identical: posting lists are distinct doc_ids (shingleRows
    // dedupes per doc), sorted ascending, and slice(i+2..) enumerates
    // exactly the a_id < b_id combinations the join produced.
    // (Measured at sf0.1: d09 2.82 -> ~1.1 s, d02 2.18 -> ~1.3 s;
    // shuffle read 8.8 -> ~4 MB; plan loses one Exchange and both
    // sort-merge sorts. Guide §2.3/§2.4 — shuffle fewer bytes, remove
    // shuffles outright.)
    val lists = sh.groupBy($"shingle")
      .agg(sort_array(collect_list($"doc_id")).as("ds"))
      .filter(size($"ds") >= 2)
    val inter = lists
      .select($"ds", posexplode($"ds").as(Seq("i", "a_id")))
      .select($"a_id",
        explode(slice($"ds", $"i" + lit(2), size($"ds"))).as("b_id"))
      .groupBy($"a_id", $"b_id")
      .agg(count(lit(1)).as("inter"))
    // sizes is one row PER DOCUMENT — no broadcast hint: at 10⁹ docs a
    // forced broadcast is a multi-GB driver materialization, while
    // Catalyst broadcasts below the threshold on its own and picks a
    // shuffled join above it (both sides are keyed by doc_id)
    inter
      .join(sizes.as("sa"), $"a_id" === $"sa.doc_id")
      .join(sizes.as("sb"), $"b_id" === $"sb.doc_id")
      .select($"a_id", $"b_id", $"inter", $"sa.n".as("na"), $"sb.n".as("nb"))
  }

  def d02NgramJaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    cappedPairStats(spark, dir)
      .filter(jaccardAtLeast08($"inter", $"na", $"nb"))
      .orderBy($"a_id", $"b_id")
  }

  /** MinHash/LSH parameters: 12 hash functions, 4 bands x 3 rows.
    * Hash_i(shingle) = md5("i|" + shingle), minimized lexicographically —
    * md5 hex is engine-independent, so the oracle reproduces the exact
    * signature.
    */
  private val NumHashes = 12
  private val Bands = 4
  private val RowsPerBand = NumHashes / Bands

  /** The MinHash signature table, memoized and persisted per
    * (session, dir): like the shingle index it is an ingest-time
    * artifact, and WITHOUT the persist the band SELF-join evaluates the
    * whole signature aggregate once per join side (the self-join's
    * aliased subplans don't canonical-match, so ReuseExchange never
    * fires — verified in the physical plan).
    */
  private def minhashSig(spark: SparkSession, dir: String): DataFrame =
    sigCache.getOrBuild((spark, dir)) {
      import spark.implicits._
      val sh = shingleRows(spark, dir)
      val minCols = (0 until NumHashes).map(i =>
        min(md5(concat(lit(s"$i|"), $"shingle"))).as(s"h$i"))
      sh.groupBy($"doc_id").agg(minCols.head, minCols.tail: _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val sigCache = Memo.frames("d.minhashSig")

  /** Per-document distinct-shingle counts (doc_id, n) — the Jaccard
    * denominators. Memoized + persisted per (session, dir) like the
    * signature table: d03's and d07's verify joins and d08's delta
    * verify each re-aggregated the full shingle table inside their own
    * plans (three identical groupBy subtrees per bench group; the
    * round-18 driver bench billed one of them inside d08's 14-stage
    * plan). At 100 TB the count is a COLUMN of the stored signature
    * artifact written once at ingest, which is exactly what one shared
    * persisted table emulates.
    */
  private def shingleSizes(spark: SparkSession, dir: String): DataFrame =
    sizesCache.getOrBuild((spark, dir)) {
      import spark.implicits._
      shingleRows(spark, dir).groupBy($"doc_id")
        .agg(count(lit(1)).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val sizesCache = Memo.frames("d.sizes")

  /** d03 — MinHash + LSH banding near-dup pairs, verified by true
    * Jaccard (integer threshold, same as d02). The band-bucket join is
    * the scale path: candidate volume is proportional to true-duplicate
    * volume, not corpus^2.
    */
  /** The LSH band-bucket candidate pairs (a_id < b_id, distinct):
    * one-pass banding — all 4 buckets in a single posexplode pass (the
    * union-of-4-selects form recomputed the whole signature aggregate
    * per band per join side). Shared by d03's verify join and d07's
    * calibration profile, so the two can never drift on what counts
    * as a candidate.
    */
  /** The exploded (doc_id, band, bucket) rows over the stored signature
    * table — one definition feeds the d03/d07 self-join AND d08's
    * batch-vs-corpus delta join, so the two can never drift on what a
    * band bucket is.
    */
  private def bandRows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sig = minhashSig(spark, dir)
    val bucketArr = array((0 until Bands).map { b =>
      val cols = (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => col(s"h$i"))
      md5(concat(cols: _*))
    }: _*)
    sig.select($"doc_id", posexplode(bucketArr).as(Seq("band", "bucket")))
  }

  private def minhashBandCand(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = bandRows(spark, dir)
    bands.as("x")
      .join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.bucket" === $"y.bucket" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("a_id"), $"y.doc_id".as("b_id"))
      .distinct()
  }

  def d03MinhashLshPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = shingleRows(spark, dir)
    val cand = minhashBandCand(spark, dir)
    val inter = cand
      .join(sh.as("sa"), $"a_id" === $"sa.doc_id")
      .join(sh.as("sb"), $"b_id" === $"sb.doc_id" && $"sa.shingle" === $"sb.shingle")
      .groupBy($"a_id", $"b_id")
      .agg(count(lit(1)).as("inter"))
    val sizes = shingleSizes(spark, dir)
    // per-document table — size-based join choice left to Catalyst,
    // same reasoning as d02
    inter
      .join(sizes.as("za"), $"a_id" === $"za.doc_id")
      .join(sizes.as("zb"), $"b_id" === $"zb.doc_id")
      .filter(jaccardAtLeast08($"inter", $"za.n", $"zb.n"))
      .select($"a_id", $"b_id", $"inter", $"za.n".as("na"), $"zb.n".as("nb"))
      .orderBy($"a_id", $"b_id")
  }

  /** d07 — MinHash estimator calibration over the LSH candidate set:
    * for every band-bucket candidate pair, the number of EQUAL
    * signature components out of [[NumHashes]] (the MinHash Jaccard
    * estimator's numerator: est = n_match/12) side by side with the
    * exact shingle intersection/sizes and the d03 duplicate verdict.
    * This is the evaluation a MinHash deployment runs before trusting
    * a b x r choice — precisely s05's recall-profile role for the
    * dedup family: candidates whose estimator is high but whose exact
    * Jaccard is low are the banding's false positives (the verify
    * join's cost), and their volume is what a b x r retune would cut.
    * Scored pairs are the CANDIDATE set only — a pair no band
    * surfaces is d02's recall problem, not the estimator's — and a
    * band collision implies >= 1 shared shingle (equal min-hash =>
    * the same argmin shingle on both sides), so the inner intersect
    * join drops nothing.
    *
    * All columns are exact integers over engine-identical md5 hashes,
    * so the profile hash-matches the oracle at any scale factor.
    * Scale shape: reuses the stored signature + shingle artifacts;
    * the component comparison is a per-pair map over the (dup-volume
    * -sized) candidate set, and the intersect join is d03's.
    */
  def d07MinhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = shingleRows(spark, dir)
    val cand = minhashBandCand(spark, dir)
    val sig = minhashSig(spark, dir)
    val nMatch = (0 until NumHashes).map(i =>
      when(col(s"ma.h$i") === col(s"mb.h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val matches = cand
      .join(sig.as("ma"), $"a_id" === $"ma.doc_id")
      .join(sig.as("mb"), $"b_id" === $"mb.doc_id")
      .select($"a_id", $"b_id", nMatch.as("n_match"))
    val inter = cand
      .join(sh.as("sa"), $"a_id" === $"sa.doc_id")
      .join(sh.as("sb"),
        $"b_id" === $"sb.doc_id" && $"sa.shingle" === $"sb.shingle")
      .groupBy($"a_id", $"b_id")
      .agg(count(lit(1)).as("inter"))
    val sizes = shingleSizes(spark, dir)
    matches.join(inter, Seq("a_id", "b_id"))
      .join(sizes.as("za"), $"a_id" === $"za.doc_id")
      .join(sizes.as("zb"), $"b_id" === $"zb.doc_id")
      .select($"a_id", $"b_id", $"n_match", $"inter",
        $"za.n".as("na"), $"zb.n".as("nb"),
        when(jaccardAtLeast08($"inter", $"za.n", $"zb.n"), 1L)
          .otherwise(0L).as("is_dup"))
      .orderBy($"a_id", $"b_id")
  }

  /** Per-ROW band buckets over arriving (doc_id, text) rows — the
    * STREAM-side formulation of [[bandRows]]: a single document's
    * MinHash signature needs no aggregation (the shingle set is one
    * row's array, each h_i an `array_min` over it), so a streaming
    * ingest can band-bucket documents statelessly as they arrive.
    * Same constants, same md5 formulas as the aggregate path; the
    * streaming twin spec proves the two produce identical candidate
    * sets. Staged projections for the same Catalyst-inlining reason as
    * p17: the shingle array and the signature each materialize once.
    */
  private[graft] def rowBands(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), array_distinct(
        transform(sequence(lit(1), size(col("t")) - 2),
          i => array_join(slice(col("t"), i, lit(3)), " "))).as("sh"))
      .select(col("doc_id"), array((0 until NumHashes).map(i =>
        array_min(transform(col("sh"),
          s => md5(concat(lit(s"$i|"), s))))): _*).as("hs"))
      .select(col("doc_id"), array((0 until Bands).map { b =>
        md5(concat((b * RowsPerBand until (b + 1) * RowsPerBand)
          .map(i => col("hs").getItem(i)): _*))
      }: _*).as("bks"))
      .select(col("doc_id"), posexplode(col("bks")).as(Seq("band", "bucket")))

  /** d08's deterministic delta split: docs with
    * `doc_id % DeltaMod == DeltaRem` play the incoming batch, the rest
    * the already-indexed corpus. A real deployment splits by arrival
    * partition (ingest date), not id arithmetic; the modulus stands in
    * for it reproducibly on a static test corpus.
    */
  private[graft] val DeltaMod = 10L
  private[graft] val DeltaRem = 7L

  /** d08 — incremental (delta) dedup: the admit/reject decision a
    * 100 TB deployment actually runs daily. Corpus-wide re-dedup
    * (d03's self-join) is an ingest-time build; steady state
    * deduplicates only the incoming BATCH against the stored corpus
    * signatures: batch band rows join corpus band rows (batch x corpus,
    * never corpus x corpus), candidates are verified by exact Jaccard,
    * and each batch document gets a keep/drop verdict plus its best
    * corpus match.
    *
    * Scale shape: the corpus side reads the STORED band artifact
    * ([[corpusBandArtifact]] — a durable fingerprint-guarded parquet
    * table, at 100 TB bucket-partitioned, so the band join
    * partition-prunes to the batch's buckets); the
    * verify join touches only candidate documents' shingles; candidate
    * volume is batch-size x collision rate, independent of corpus
    * pair count. Per-doc decision windows partition by batch doc —
    * batch-sized parallelism, no global funnel.
    *
    * Output per batch doc: candidate/duplicate counts, the best
    * verified match (highest intersection, ties to the lowest corpus
    * id), and the verdict — all integers/strings, hash-exact vs the
    * oracle.
    */
  private def isBatchDoc = col("doc_id") % DeltaMod === DeltaRem

  /** Bump when the band/bucket semantics OR the stored schema change:
    * a stale stored band table must never satisfy a newer reader.
    */
  private val CorpusBandsVersion = 1

  /** The stored corpus side's (c_id, band, bucket) table — d08's join
    * target, and the STATIC side of the streaming delta-dedup guard —
    * as a DURABLE fingerprint-guarded artifact (the d06/d11 plumbing).
    * Its scaladoc always called it a bucket-partitioned STORED
    * artifact at 100 TB; until round 19 the implementation still
    * re-derived the band rows live from the session signature memo,
    * which made d08's plan the suite's most stage-dense (the round-18
    * driver box taxed exactly that: 14 stages re-built per pass even
    * with warm memos). Now the daily delta-dedup reads the table a
    * production ingest would actually have published — the d11
    * precedent (2.38 s → 0.16 s) applied to the band table. The
    * fingerprint hashes the documents listing plus every constant the
    * band definition depends on (hash count x bands, and the delta
    * split that defines which docs are "corpus").
    */
  private[graft] val corpusBandArtifact = new DurableArtifact(
    "d.corpusBands", "d08_corpus_bands",
    (spark, dir) => ArtifactStore.md5Hex(
      s"v$CorpusBandsVersion|minhash=${NumHashes}x$Bands|" +
        s"delta=$DeltaMod/$DeltaRem|" +
        ArtifactStore.sourceListing(spark, dir + "/documents.parquet")),
    (spark, dir) => bandRows(spark, dir).filter(!isBatchDoc)
      .select(col("doc_id").as("c_id"), col("band"), col("bucket")))

  private[graft] def corpusBandTable(spark: SparkSession,
      dir: String): DataFrame =
    corpusBandArtifact.read(spark, dir)

  /** d08's candidate pairs — batch band rows joined against the stored
    * corpus band table, distinct over (b_id, c_id). Shared with the
    * streaming twin's equivalence proof.
    */
  private[graft] def deltaCandidates(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    bandRows(spark, dir).filter(isBatchDoc).as("x")
      .join(corpusBandTable(spark, dir).as("y"),
        $"x.band" === $"y.band" && $"x.bucket" === $"y.bucket")
      .select($"x.doc_id".as("b_id"), $"y.c_id".as("c_id"))
      .distinct()
  }

  def d08DeltaDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = shingleRows(spark, dir)
    val cand = deltaCandidates(spark, dir)
    val inter = cand
      .join(sh.as("sa"), $"b_id" === $"sa.doc_id")
      .join(sh.as("sb"),
        $"c_id" === $"sb.doc_id" && $"sa.shingle" === $"sb.shingle")
      .groupBy($"b_id", $"c_id")
      .agg(count(lit(1)).as("inter"))
    val sizes = shingleSizes(spark, dir)
    val verified = inter
      .join(sizes.as("za"), $"b_id" === $"za.doc_id")
      .join(sizes.as("zb"), $"c_id" === $"zb.doc_id")
      .select($"b_id", $"c_id", $"inter",
        when(jaccardAtLeast08($"inter", $"za.n", $"zb.n"), 1L)
          .otherwise(0L).as("is_dup"))
    d08Verdicts(verified,
      Tables.documents(spark, dir)
        .filter(isBatchDoc).select($"doc_id".as("b_id")))
      .orderBy($"doc_id")
  }

  /** d08's per-batch-doc decision over a verified candidate frame
    * (b_id, c_id, inter, is_dup) — the counts, the best match, and the
    * keep/drop verdict, in ONE aggregation.
    *
    * Round-19 restructure (the round-18 driver bench's sole band_fail
    * was this query's stage count): the previous form computed the
    * count/sum pair and the best match as SEPARATE consumers of
    * `verified` — two subtree executions of the whole candidate
    * pipeline plus a row_number window's partition sort, three
    * exchanges where one suffices. `max_by(struct(c_id, inter),
    * struct(inter, -c_id))` folds the best match into the same
    * hash-aggregate that counts: max inter first, then LOWEST c_id
    * (the -c_id term), which is exactly the window's
    * `orderBy(inter.desc, c_id)` rank-1 row — the ordering struct is
    * unique per group (c_id is distinct within a b_id group), so the
    * pick is deterministic, proven tie-for-inter by D08DecisionSpec
    * against a window-ranked reference. Factored over the input frame
    * (the p31 testable-core device) so the spec can feed constructed
    * ties without a corpus.
    */
  private[graft] def d08Verdicts(verified: DataFrame,
      batchDocs: DataFrame): DataFrame = {
    val spark = verified.sparkSession
    import spark.implicits._
    val per = verified.groupBy($"b_id")
      .agg(count(lit(1)).as("n_cand"), sum($"is_dup").as("n_dup"),
        max_by(struct($"c_id", $"inter"), struct($"inter", -$"c_id"))
          .as("best"))
    batchDocs
      .join(per, Seq("b_id"), "left")
      .select($"b_id".as("doc_id"),
        coalesce($"n_cand", lit(0L)).as("n_cand"),
        coalesce($"n_dup", lit(0L)).as("n_dup"),
        $"best".getField("c_id").as("best_id"),
        $"best".getField("inter").as("best_inter"),
        when(coalesce($"n_dup", lit(0L)) > 0, "drop")
          .otherwise("keep").as("verdict"))
  }

  /** d09's Jaccard thresholds, in percent. 80 must be a member so the
    * curve brackets the production cut ([[jaccardAtLeast08]]) from
    * both sides.
    */
  private[pipeline] val ThresholdSweep = Seq(50, 60, 70, 80, 90)

  /** d09 — dedup threshold sensitivity curve: for each Jaccard cut in
    * [[ThresholdSweep]], how many candidate pairs the capped inverted
    * index would collapse and how many documents the keep-lowest-id
    * policy would drop (distinct higher-id sides of qualifying pairs).
    * This is the evaluation a deployment runs before pinning the 0.8
    * production threshold — d07 calibrates the ESTIMATOR against exact
    * Jaccard; this prices the CUT — and it is s11's role for the
    * lexical dedup family.
    *
    * Scale shape: the candidate stats are d02's (cap x df bounded);
    * the sweep is ONE conditional aggregation pass over them — five
    * thresholds cost five counters, not five joins. Integer outputs,
    * hash-exact vs the oracle's identical conditional sums.
    */
  def d09ThresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def qualifies(t: Int): Column =
      $"inter" * 100 >= ($"na" + $"nb" - $"inter") * t
    // The multi-distinct aggregate plans an Expand that multiplies
    // every pair-stats row by (sweep size + 1) before the first hash
    // aggregate. A round-20 rewrite removed it with a two-level form
    // (per-b_id sum/max flags, then global sums — identical integers,
    // nd_t = Σ_b max(qualifies)) and MEASURED SLOWER at sf0.1: the
    // interleaved same-JVM A/B (DevTime, 6 rounds, quiet box) settled
    // at old ≈ 1.95 s vs two-level ≈ 2.6 s wall — the Expand's cost
    // is pure map-side CPU that partial aggregation absorbs before
    // any exchange (task-time was indeed lower two-level, 5.5 → 2.3
    // s, but the extra aggregate's stage latency outweighs it at
    // this volume), so this keeps the guide-§1.1 measured optimum.
    // At a scale where the 6× row pass dominates, the two-level form
    // in that A/B harness is the drop-in replacement; the Expand
    // multiplies rows into a map-side combine, never shuffle bytes,
    // so it is not a scale cliff.
    val aggs = ThresholdSweep.flatMap { t =>
      Seq(sum(when(qualifies(t), 1L).otherwise(0L)).as(s"np_$t"),
        countDistinct(when(qualifies(t), $"b_id")).as(s"nd_$t"))
    }
    val stackExpr = s"stack(${ThresholdSweep.size}, " +
      ThresholdSweep.map(t => s"CAST($t AS BIGINT), np_$t, nd_$t")
        .mkString(", ") +
      ") AS (threshold_pct, n_pairs, n_docs_dropped)"
    cappedPairStats(spark, dir)
      .agg(aggs.head, aggs.tail: _*)
      .select(expr(stackExpr))
      .orderBy($"threshold_pct")
  }

  /** SimHash: 56-bit signature over distinct tokens. Token hash = the
    * first 14 hex chars of md5, folded to a 56-bit int — identical in
    * both engines, and 56 bits keeps every intermediate (including
    * h*16+digit) far from int64 overflow.
    */
  private val SimBits = 56
  private val SimBands = 4
  private val SimBandBits = SimBits / SimBands

  /** d04's Hamming cap. Named for the same reason as [[JaccardCutNum]]:
    * the d11 fingerprint embeds it, so changing the cap invalidates the
    * stored pair-set artifact automatically. The band count must cover
    * the cap by pigeonhole (ham <= cap with cap+1 bands guarantees one
    * clean band), enforced below.
    */
  private[graft] val HammingCap = 3
  require(SimBands == HammingCap + 1,
    "SimHash bands must pigeonhole the Hamming cap")

  /** (doc_id, sim) — the per-document SimHash signature. Memoized and
    * persisted per (session, dir) for the same reason as [[minhashSig]]:
    * the band self-join otherwise computes the signature aggregate once
    * per side.
    */
  private def simhashDf(spark: SparkSession, dir: String): DataFrame =
    simhashCache.getOrBuild((spark, dir)) {
      buildSimhash(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val simhashCache = Memo.frames("d.simhashSig")

  private def buildSimhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tokenHash = expr(
      """aggregate(split(substring(md5(token), 1, 14), ''),
        | CAST(0 AS BIGINT),
        | (h, ch) -> h * 16 + instr('0123456789abcdef', ch) - 1)""".stripMargin)
    val tokenRows = Tables.documents(spark, dir)
      .select($"doc_id", explode(array_distinct(toks($"text"))).as("token"))
    // the md5-hex fold is an interpreted lambda — evaluate it once per
    // VOCABULARY entry (small) and broadcast-join, not once per
    // (doc, token) occurrence; hash values (and so signatures) unchanged
    val vocab = tokenRows.select($"token").distinct()
      .withColumn("th", tokenHash)
    // Pack the 56 per-bit one-counts into 28 shifted-long accumulators
    // (2 x 32-bit fields per long) instead of 56 separate sum columns:
    // the aggregate buffer narrows 2x and the hash aggregate stays one
    // codegen'd sum per group. Counting ones c_b (not ±1 sums) keeps
    // every field non-negative; the majority vote becomes
    // 2*c_b >= n_tokens, algebraically identical to sum(bit*2-1) >= 0,
    // so signatures (and the oracle) are unchanged. 32-bit fields hold
    // docs of up to 2^31 distinct tokens before the top field could
    // touch the sign bit — no real document gets near that, where the
    // earlier 16-bit packing silently wrapped at 65,536.
    val FieldBits = 32
    val FieldsPerLong = 2
    val packedSums = (0 until SimBits).grouped(FieldsPerLong).toSeq
      .zipWithIndex.map { case (bits, g) =>
        sum(bits.zipWithIndex.map { case (b, j) =>
          shiftright($"th", b).bitwiseAND(lit(1L)) * lit(1L << (j * FieldBits))
        }.reduce(_ + _)).as(s"a$g")
      }
    val perDoc = tokenRows
      .join(broadcast(vocab), "token")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("ntok"), packedSums: _*)
    val simVal = (0 until SimBits).map { b =>
      val g = b / FieldsPerLong
      val j = b % FieldsPerLong
      val ones = shiftright(col(s"a$g"), j * FieldBits)
        .bitwiseAND(lit((1L << FieldBits) - 1))
      when(ones * 2 >= $"ntok", lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    perDoc.select($"doc_id", simVal.as("sim"))
  }

  /** d04 — SimHash near-dup pairs at Hamming distance <= 3. Candidate
    * generation via 4 x 14-bit band equality: Hamming <= 3 over 4 bands
    * pigeonholes at least one identical band, so banding loses nothing
    * vs the brute-force O(n^2) join the oracle runs.
    */
  def d04SimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sim = simhashDf(spark, dir)
    // One posexplode pass emits all 4 band rows per doc (the old
    // unionAll-of-4-selects recomputed the whole simhash pipeline per
    // band per join side); the hamming filter runs BEFORE distinct() so
    // only true near-dup pairs — not every same-bucket candidate —
    // reach the dedup shuffle.
    val bandVals = array((0 until SimBands).map(b =>
      shiftright($"sim", b * SimBandBits)
        .bitwiseAND(lit((1L << SimBandBits) - 1))): _*)
    val bands = sim.select($"doc_id", $"sim",
      posexplode(bandVals).as(Seq("band", "bv")))
    bands.as("x")
      .join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.bv" === $"y.bv" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("a_id"), $"y.doc_id".as("b_id"),
        bit_count($"x.sim".bitwiseXOR($"y.sim")).cast("long").as("hamming"))
      .filter($"hamming" <= HammingCap)
      .distinct()
      .orderBy($"a_id", $"b_id")
  }

  /** Sign-LSH parameters for d05: 24 md5-derived ±1 hyperplanes, banded
    * as 6 bands x 4 sign bits. Bits-per-band is the scale/recall knob:
    * a random pair collides in a band with probability (1 - θ/π)^bits,
    * so candidate volume shrinks exponentially with the band width
    * while recall for high-cosine pairs stays high. This corpus only
    * has weak pairs (cosine 0.40-0.51), so 4-bit bands keep recall
    * ~0.7 here; a production near-dup threshold (cosine >= 0.9, where
    * bit-collision probability is ~0.86) would use 12+ bit bands for a
    * sub-1% candidate fraction at the same recall.
    */
  private val NumPlanes = 24
  private val SignBands = 6
  private val PlaneBits = NumPlanes / SignBands

  /** d05's verification cosine cut — named so the d12 artifact
    * fingerprint tracks it (same rule as [[JaccardCutNum]] /
    * [[HammingCap]]). Numerically equal to s07's SemDedupTau on this
    * synthetic corpus, but an independent knob.
    */
  private[graft] val SignLshTau = 0.4

  /** Hyperplane h: ±1 components derived from md5(s"$h|$i") — the same
    * derivation both engines can reproduce, and ±1 keeps every product
    * exactly representable (dot = sum of ±v(i), no rounding in the
    * multiply).
    */
  private[pipeline] def planeSigns(h: Int, dim: Int = 64): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { i =>
      val first = (md.digest(s"$h|$i".getBytes("UTF-8"))(0) >> 4) & 0xf
      if (first >= 8) -1.0 else 1.0
    }
  }

  /** d05 — embedding-cosine near-dup pairs (cosine > 0.4) with sign-LSH
    * blocked candidate generation: no O(n^2) pair join, no driver
    * collect. Each vector gets a 24-bit signature (bit h = sign of
    * dot(v, hyperplane_h), a fused codegen expression); candidates are
    * pairs sharing any 4-bit band value; survivors are verified with the
    * exact sequential-fold cosine. The oracle runs the IDENTICAL
    * algorithm in SQL (same planes, same folds), so results hash-match
    * bit-for-bit; recall vs the s01-style brute force is asserted in
    * DedupSpec.
    *
    * At 100 TB: signatures are one map-side pass (24 fused dot
    * products/row), banding is a posexplode (no extra scan), and the
    * candidate join shuffles only (band, bv, vec_id) triples — candidate
    * volume per band is Σ_bucket C(occupancy, 2), bounded by widening
    * bands as n grows.
    */
  /** The sign-LSH signature table, memoized+persisted like
    * [[minhashSig]] (the band self-join reads it twice).
    */
  private def signSig(spark: SparkSession, dir: String): DataFrame =
    signSigCache.getOrBuild((spark, dir)) {
      import spark.implicits._
      graft.rass.expressions.GraftExtensions.register(spark)
      val e = Tables.embeddings(spark, dir)
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      val sigCol = (0 until NumPlanes).map { h =>
        when(call_function("dot_product", $"v", typedLit(planeSigns(h))) >= 0,
          lit(1L << h)).otherwise(lit(0L))
      }.reduce(_ + _)
      e.select($"vec_id", sigCol.as("sig"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val signSigCache = Memo.frames("d.signSig")

  def d05EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    cosineVerify(
      bandCandidates(signSig(spark, dir), SignBands, PlaneBits), e, SignLshTau)
  }

  /** Same-band candidate pairs from a packed sign-signature table:
    * posexplode into (band, value) keys, equi-self-join, `<` dedup.
    * Shuffles only (band, bv, vec_id) triples.
    */
  private def bandCandidates(sig: DataFrame, nBands: Int,
      planeBits: Int): DataFrame = {
    val spark = sig.sparkSession
    import spark.implicits._
    val bandVals = array((0 until nBands).map(b =>
      shiftright($"sig", b * planeBits)
        .bitwiseAND(lit((1L << planeBits) - 1))): _*)
    val bands = sig.select($"vec_id",
      posexplode(bandVals).as(Seq("band", "bv")))
    bands.as("x")
      .join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.bv" === $"y.bv" &&
          $"x.vec_id" < $"y.vec_id")
      .select($"x.vec_id".as("a_id"), $"y.vec_id".as("b_id"))
      .distinct()
  }

  /** Exact-cosine verification of candidate pairs against the vector
    * table (fused codegen cosine; only survivors leave the join).
    */
  private def cosineVerify(cand: DataFrame, e: DataFrame,
      threshold: Double): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    graft.rass.expressions.GraftExtensions.register(spark)
    cand
      .join(e.select($"vec_id".as("a_id"), $"v".as("av")), "a_id")
      .join(e.select($"vec_id".as("b_id"), $"v".as("bv2")), "b_id")
      .select($"a_id", $"b_id",
        call_function("cosine_sim", $"av", $"bv2").as("cosine"))
      .filter($"cosine" > threshold)
      .orderBy($"a_id", $"b_id")
  }

  /** The parameterized sign-LSH near-dup core over an arbitrary
    * `(vec_id: long, v: array<double>)` frame — the production
    * configuration surface for the band-width knob documented at
    * [[NumPlanes]]: at a real near-dup threshold (cosine >= 0.9) use
    * 12-bit bands (e.g. 60 planes = 5 x 12) for a sub-1% candidate
    * fraction at high recall; DedupSpec pins that setting on synthetic
    * near-dup vectors. Signatures pack into one long, so at most 63
    * planes; beyond that, widen to a multi-word signature (same
    * banding dataflow).
    */
  def signLshNearDup(vecs: DataFrame, numPlanes: Int, planeBits: Int,
      threshold: Double, dim: Int = 64): DataFrame = {
    require(numPlanes % planeBits == 0, "bands must tile the planes")
    val e = vecs.toDF("vec_id", "v")
    cosineVerify(
      bandCandidates(packedSig(e, numPlanes, dim),
        numPlanes / planeBits, planeBits), e, threshold)
  }

  /** Candidate stage of [[signLshNearDup]] alone, for candidate-volume
    * assertions in DedupSpec (the sub-1% claim needs a measurable
    * surface, not a comment).
    */
  private[pipeline] def signLshCandidates(vecs: DataFrame, numPlanes: Int,
      planeBits: Int, dim: Int = 64): DataFrame =
    bandCandidates(packedSig(vecs.toDF("vec_id", "v"), numPlanes, dim),
      numPlanes / planeBits, planeBits)

  /** One packed long of sign bits per vector (bit h = sign of the
    * fused dot with hyperplane h).
    */
  private def packedSig(e: DataFrame, numPlanes: Int, dim: Int): DataFrame = {
    require(numPlanes > 0 && numPlanes <= 63,
      "signature packs into one 64-bit word")
    val spark = e.sparkSession
    import spark.implicits._
    graft.rass.expressions.GraftExtensions.register(spark)
    val sigCol = (0 until numPlanes).map { h =>
      when(call_function("dot_product", $"v", typedLit(planeSigns(h, dim))) >= 0,
        lit(1L << h)).otherwise(lit(0L))
    }.reduce(_ + _)
    e.select($"vec_id", sigCol.as("sig"))
  }

  /** Iteration cap for [[d06NeardupClusters]]: min-label propagation
    * converges in O(component diameter) rounds, and near-dup clusters
    * are short chains in practice; the cap only guards a pathological
    * corpus-long path. (At extreme scale the O(log n) alternating
    * star-contraction variant replaces this loop; the per-round
    * dataflow — join, min-aggregate, compare — is the same.)
    */
  val MaxCcIterations = 50

  /** d06 — near-duplicate CLUSTERS from the d03 pair set: connected
    * components by distributed min-label propagation, then survivor
    * selection (the lexicographically-smallest member is canonical,
    * `keep = 1`; every other member is the dedup drop list). This is
    * the step a training pipeline actually acts on — pairs alone don't
    * say which copy to keep when dups chain a-b-c.
    *
    * Scale shape: edges (two directed rows per dup pair) are
    * pre-partitioned on `src` once, so every iteration's
    * propagate-join reuses that exchange and shuffles only the label
    * table (2 small columns); each round is ONE shuffle (own label
    * unioned with in-neighbor labels, min per node), all distributed —
    * the driver sees only the converged/changed counter. Candidate volume is the true-dup
    * volume (inherited from d03's banding), not corpus².
    */
  /** The d03 pair set persisted per (session, dir): like the shingle
    * index, the dup-pair table is an ingest-time artifact — clustering
    * consumes the STORED pairs, it doesn't re-derive them from text.
    */
  private def dupPairs(spark: SparkSession, dir: String): DataFrame =
    pairsCache.getOrBuild((spark, dir)) {
      import spark.implicits._
      d03MinhashLshPairs(spark, dir).select($"a_id", $"b_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val pairsCache = Memo.frames("d.pairs")

  /** The converged cluster-label table (id, label) is a DURABLE ingest
    * artifact: a production pipeline clusters ONCE at ingest, publishes
    * the table as parquet, and every consumer (the x01 export's drop
    * list, re-runs of the d06 report) reads the stored table — at
    * 100 TB an export run must not re-propagate labels over the whole
    * corpus, and it must not depend on an in-memory cache surviving
    * either (round 6 measured the export at 0.58 s with the session
    * memo warm and 5.06 s after eviction — a durability bug, not
    * noise). The session memo below is only the hot handle to the
    * on-disk table; a miss falls back to the parquet artifact before it
    * ever falls back to a rebuild.
    */
  /** Bump when the clustering semantics OR the stored schema change: a
    * stale artifact from an older build must never satisfy a newer
    * reader. v2: star-contraction engine — the table dropped the
    * propagation loop's internal `old` column.
    */
  private val ClusterArtifactVersion = 2

  /** The converged (id, label) table as a durable fingerprint-guarded
    * artifact + session memo — the shared [[DurableArtifact]] plumbing
    * (one implementation for d06/m06/s14). The fingerprint hashes the
    * documents table's file listing (name, length, mtime — a
    * driver-side metadata call, no data scan) plus the algorithm
    * parameters, captured BEFORE the build reads any source data, so
    * regenerated test data or changed LSH parameters invalidate the
    * artifact instead of silently serving wrong clusters.
    */
  private[pipeline] val clusterArtifact = new DurableArtifact(
    "d.clusters", "d06_clusters",
    (spark, dir) => ArtifactStore.md5Hex(
      s"v$ClusterArtifactVersion|minhash=${NumHashes}x$Bands|" +
        ArtifactStore.sourceListing(spark, dir + "/documents.parquet")),
    buildClusterLabels)

  private def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    clusterArtifact.read(spark, dir)

  /** The drop list d06 implies — every non-canonical cluster member —
    * read from the stored artifact (building it first if cold). This is
    * the surface consumers join against; at 100 TB it is the dup
    * fraction of the corpus and broadcasts.
    */
  def clusterDropList(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    clusterLabels(spark, dir)
      .filter($"id" =!= $"label").select($"id".as("doc_id"))
  }

  /** d10 — keep-LONGEST survivor selection: per d06 cluster, the
    * member a production pipeline would actually keep. d06's keep
    * flag marks the lowest doc_id (the deterministic default); the
    * published cleaning pipelines (C4, RefinedWeb, CCNet) keep the
    * longest duplicate instead — the copy most likely to be the
    * complete original rather than a truncated scrape. One row per
    * cluster: the (n_tokens desc, doc_id) argmax, the member count,
    * and whether the policy agrees with d06's min-id choice — the
    * disagreement column is what a migration between policies
    * reviews.
    *
    * Scale shape: reads the durable cluster artifact (never re-runs
    * propagation), joins per-doc token counts doc-keyed, and the
    * window + groupBy share one cluster_id shuffle.
    */
  def d10LongestSurvivors(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nt = Tables.documents(spark, dir)
      .select($"doc_id",
        size(TextAnalysis.toks($"text")).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id").orderBy($"n_tokens".desc, $"doc_id")
    clusterLabels(spark, dir)
      .select($"label".as("cluster_id"), $"id".as("doc_id"))
      .join(nt, "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(when($"rn" === 1, $"doc_id")).as("survivor_doc_id"),
        max(when($"rn" === 1, $"n_tokens")).as("survivor_n_tokens"))
      .withColumn("same_as_min_id",
        when($"survivor_doc_id" === $"cluster_id", 1L).otherwise(0L))
      .orderBy($"cluster_id")
  }

  /** Exact-purity audit cap: clusters with more members than this are
    * reported but not pairwise-priced — C(n,2) pair volume is the one
    * quadratic term in the audit, and a cluster this large is ITSELF
    * the chaining alarm the audit exists to raise (its exact minimum
    * adds nothing to the drop/keep decision). 64 members caps the
    * per-cluster pair count at 2016; vacuous on this corpus (largest
    * cluster: 4), load-bearing at 100 TB.
    */
  private[graft] val PurityExactCap = 64L

  /** d13 — cluster-purity audit: the price of TRANSITIVE closure.
    * d06's connected components admit a pair into one cluster through
    * any CHAIN of >= 0.8 edges, so two retained-cluster members can sit
    * far below the pairwise cut (A~B~C with J(A,B), J(B,C) >= 0.8 but
    * J(A,C) = 0.5 — the classic false-merge, and the reason published
    * pipelines report cluster-size distributions next to their dedup
    * rates). Per multi-member cluster: the MIN and MAX pairwise capped
    * Jaccard over all member pairs (exact integer ppm), the `chained`
    * flag (min below the d02 cut — some retained pair would never have
    * been flagged directly), and `audited` ([[PurityExactCap]]). On
    * this corpus every cluster reads pure (min 0.90 at sf0.01, cut
    * 0.8) — the audit CERTIFIES the clustering rather than flagging
    * it; the chained path is spec-proven on a constructed A~B~C corpus
    * (the p31 partial-keep pattern).
    *
    * Scale shape: reads the stored cluster artifact (never
    * re-propagates) and the memoized capped-shingle index; in-cluster
    * pairing is dup-volume-sized and [[PurityExactCap]]²-bounded per
    * cluster; the intersection count is the d02 verify join keyed on
    * (doc, shingle); min/max are partial-aggregatable.
    */
  def d13ClusterPurity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val labels = clusterLabels(spark, dir)
      .select($"label".as("cluster_id"), $"id".as("doc_id"))
    clusterPurityFrom(labels, cappedShingles(spark, dir))
  }

  /** d13's testable core — purity over ANY (cluster_id, doc_id) label
    * table and (doc_id, shingle) index, so the spec can prove the
    * chained path on a constructed corpus without touching the stored
    * artifact.
    */
  private[graft] def clusterPurityFrom(labels: DataFrame,
      shingles: DataFrame): DataFrame = {
    val spark = labels.sparkSession
    import spark.implicits._
    val sizes = labels.groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"))
      .filter($"n_members" >= 2)
    val members = labels.join(
      sizes.filter($"n_members" <= PurityExactCap).select($"cluster_id"),
      Seq("cluster_id"), "left_semi")
    val pairs = members.as("a")
      .join(members.as("b"),
        $"a.cluster_id" === $"b.cluster_id" && $"a.doc_id" < $"b.doc_id")
      .select($"a.cluster_id".as("cluster_id"),
        $"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"))
    val csz = shingles.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(shingles.as("sa"), $"a_id" === $"sa.doc_id")
      .join(shingles.as("sb"),
        $"b_id" === $"sb.doc_id" && $"sa.shingle" === $"sb.shingle")
      .groupBy($"cluster_id", $"a_id", $"b_id")
      .agg(count(lit(1)).as("inter"))
    // zero-intersection pairs vanish from the verify join — the LEFT
    // join puts them back at inter = 0 (a chained cluster can contain
    // a pair sharing NOTHING). The size joins are LEFT too: a member
    // with ZERO index rows (every shingle df-capped away, or a label
    // table from another family) must read as an empty set — J = 0,
    // the maximally impure retained pair — not silently vanish from
    // the audit (round-17 review); greatest(…, 1) keeps the
    // empty-vs-empty division defined at ppm 0.
    val jac = pairs
      .join(inter, Seq("cluster_id", "a_id", "b_id"), "left")
      .join(csz.select($"doc_id".as("a_id"), $"n".as("na")),
        Seq("a_id"), "left")
      .join(csz.select($"doc_id".as("b_id"), $"n".as("nb")),
        Seq("b_id"), "left")
      .na.fill(0L, Seq("inter", "na", "nb"))
      .select($"cluster_id",
        expr("inter * 1000000 DIV greatest(na + nb - inter, 1)")
          .as("ppm"))
    val per = jac.groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_pairs"),
        min($"ppm").as("min_jaccard_ppm"),
        max($"ppm").as("max_jaccard_ppm"))
    sizes.join(per, Seq("cluster_id"), "left")
      .withColumn("audited",
        when($"n_members" <= PurityExactCap, 1L).otherwise(0L))
      .withColumn("n_pairs", coalesce($"n_pairs", lit(0L)))
      // floor(J·1e6)·Den < Num·1e6 ⟺ J < Num/Den exactly (integer
      // threshold, so the ppm floor loses nothing at the boundary)
      .withColumn("chained",
        when($"audited" === 1L,
          ($"min_jaccard_ppm" * JaccardCutDen <
            lit(1000000L) * JaccardCutNum).cast("long"))
          .otherwise(lit(null).cast("long")))
      .select($"cluster_id", $"n_members", $"n_pairs",
        $"min_jaccard_ppm", $"max_jaccard_ppm", $"chained", $"audited")
      .orderBy($"cluster_id")
  }

  /** d11 — the detector-overlap audit: which near-dup detector is
    * load-bearing. A production pipeline typically ships ONE detector
    * and assumes coverage; this audit takes every verified pair from
    * the three lexical detectors — exact 3-gram Jaccard over the
    * df-capped index (d02, the reference), MinHash/LSH's banded
    * estimate (d03), and SimHash's 56-bit pigeonhole (d04) — and
    * counts pairs by WHICH subset of detectors caught them. Rows
    * where the reference flag is set but a detector's is not are that
    * detector's recall gaps; detector-only rows are its spurious
    * catches. This is the ensemble evaluation that justifies (or
    * retires) each detector — d07 prices MinHash's estimator
    * pair-by-pair; d11 prices the detector LINEUP.
    *
    * Scale shape: each detector's verified pair set is dup-fraction
    * sized (orders of magnitude below the corpus), and their union
    * lives as the durable [[detectorPairs]] artifact — built once per
    * corpus snapshot, read thereafter — so the audit itself is one
    * map-side rollup of a stored table to at most seven rows; the
    * detectors' live pair joins are priced by d02/d03/d04 themselves.
    */
  def d11DetectorOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the stored pair set now also carries the two embedding detectors
    // (d12); d11 remains the LEXICAL lineup audit, so it rolls up only
    // the pairs some lexical detector caught
    detectorPairs(spark, dir)
      .filter($"in_ngram" + $"in_minhash" + $"in_simhash" > 0)
      .groupBy($"in_ngram", $"in_minhash", $"in_simhash")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"in_ngram", $"in_minhash", $"in_simhash")
  }

  /** d12 — the FULL detector-lineup audit: d11's rollup extended to
    * the two embedding detectors — d05's sign-LSH pairs and s07's
    * SemDeDup within-cell pairs (vec_id is doc-aligned in this
    * corpus, so all five detectors share one id space). The rows
    * where an embedding flag is set but every lexical flag is 0 are
    * exactly the near-dups a lexical-only pipeline would ship — the
    * recall gap this audit exists to price; the converse rows price
    * what embedding-only dedup would miss (surface dups below the
    * cosine cut).
    *
    * Scale shape: identical to d11 — one map-side rollup of the
    * stored dup-fraction-sized pair artifact to at most 31 rows.
    */
  def d12DetectorOverlapFull(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    detectorPairs(spark, dir)
      .groupBy($"in_ngram", $"in_minhash", $"in_simhash",
        $"in_signlsh", $"in_semantic")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"in_ngram", $"in_minhash", $"in_simhash",
        $"in_signlsh", $"in_semantic")
  }

  /** The per-pair detector-membership table d11/d12 roll up — every
    * verified pair from the five detectors (d02 n-gram Jaccard, d03
    * MinHash/LSH, d04 SimHash, d05 sign-LSH embedding, s07 SemDeDup
    * within-cell) with one 0/1 flag per detector — as a DURABLE
    * fingerprint-guarded artifact under exactly the p09
    * contaminated-list policy: the detectors run once per corpus
    * snapshot (an audit re-reads their VERIFIED verdicts, it does not
    * re-litigate them), the union is dup-fraction-sized (a few MB of
    * parquet at any scale), and every later session's d11/d12 is a
    * rollup over the stored table instead of five live pair joins.
    * The detector queries stay un-memoized past their own ingest
    * artifacts: each remains the benchmark of its own verify join;
    * ONLY the audits consume this table.
    */
  private[graft] def detectorPairs(spark: SparkSession,
      dir: String): DataFrame = detectorPairsArtifact.read(spark, dir)

  private def buildDetectorPairs(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    def flagged(df: DataFrame, which: Int): DataFrame = {
      val flags = (0 until 5).map(i =>
        lit(if (i == which) 1L else 0L).as(s"f$i"))
      df.select(($"a_id" +: $"b_id" +: flags): _*)
    }
    flagged(d02NgramJaccardPairs(spark, dir), 0)
      .unionAll(flagged(d03MinhashLshPairs(spark, dir), 1))
      .unionAll(flagged(d04SimhashPairs(spark, dir)
        .select($"a_id", $"b_id"), 2))
      .unionAll(flagged(d05EmbeddingNearDup(spark, dir)
        .select($"a_id", $"b_id"), 3))
      .unionAll(flagged(Similarity.s07AuditPairs(spark, dir), 4))
      .groupBy($"a_id", $"b_id")
      .agg(max($"f0").as("in_ngram"), max($"f1").as("in_minhash"),
        max($"f2").as("in_simhash"), max($"f3").as("in_signlsh"),
        max($"f4").as("in_semantic"))
  }

  /** Bump when ANY detector's pair semantics change in a way the
    * fingerprint's named parameters don't capture, or when the stored
    * schema changes. v2: five detector flags (embedding detectors
    * joined the lineup).
    */
  private val D11ArtifactVersion = 2

  /** Staleness guard: the source listings (documents for the lexical
    * detectors, embeddings for the two vector detectors) plus every
    * parameter any of the five depends on — each threshold is the
    * NAMED constant the detector itself filters with
    * ([[JaccardCutNum]]/[[JaccardCutDen]], [[HammingCap]],
    * [[SignLshTau]], s07's params), so changing a cut invalidates the
    * artifact automatically instead of depending on a version bump.
    */
  private[pipeline] val detectorPairsArtifact = new DurableArtifact(
    "d.detectorPairs", "d11_pairs",
    (spark, dir) => ArtifactStore.md5Hex(
      s"v$D11ArtifactVersion|cap=$ShingleDfCap|" +
        s"j>=$JaccardCutNum/$JaccardCutDen|" +
        s"mh=$NumHashes/$Bands|sim=$SimBits/$SimBands/ham<=$HammingCap|" +
        s"slsh=$NumPlanes/$SignBands/tau=$SignLshTau|" +
        s"${Similarity.s07FingerprintParams}|" +
        ArtifactStore.sourceListing(spark, dir + "/documents.parquet") + "|" +
        ArtifactStore.sourceListing(spark, dir + "/embeddings.parquet")),
    buildDetectorPairs)

  /** Distributed connected components over the stored d03 pairs;
    * returns the converged, persisted (id, label) table.
    *
    * Each round's edge table is pinned behind a [[LogicalRDD]] leaf
    * ([[pin]]) before the previous round is released. Without the
    * lineage break, round i+1's plan DEPENDS on round i's cached plan,
    * and Spark's non-cascading `unpersist` (SPARK-24596) responds by
    * clearing and lazily re-registering every dependent cache entry —
    * so releasing round i silently dropped round i+1's just-built
    * blocks and every subsequent action recomputed the ENTIRE
    * contraction chain from the pair table (quadratic total work, and
    * the reason repeat reads of the converged table were costing a full
    * re-run). With leaf plans, rounds have no plan-level dependency and
    * each release frees exactly one table.
    */
  /** Rows per loop-shuffle partition. Label/edge rows are a couple of
    * longs, so a million rows is a few tens of MB — comfortably
    * in-memory per task — while keeping the loop's task count
    * proportional to DUP volume rather than to
    * `spark.sql.shuffle.partitions`: the rounds-5/6 driver benches
    * showed the flat 32-partition loop spending most of d06's wall
    * clock scheduling ~100 near-empty tasks per round over a table of
    * a few hundred rows. At 10⁹ documents the same formula sizes the
    * loop up to the session's shuffle-partition ceiling.
    */
  private val LoopRowsPerPartition = 1000000L

  private def buildClusterLabels(spark: SparkSession, dir: String): DataFrame =
    propagateLabels(spark, dupPairs(spark, dir), "d06")

  /** Distributed connected components over ANY (a_id, b_id) pair
    * frame — the engine behind d06, factored so the other dup families
    * (m06's media clusters, s14's semantic clusters) reuse the
    * identical machinery instead of growing a second loop. `tag` names
    * the round-count record and the non-convergence error.
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR contraction
    * (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii,
    * "Connected Components in MapReduce and Beyond", SoCC 2014 — the
    * algorithm behind GraphFrames' production CC). Each alternation
    * re-links nodes to their neighborhood minima, which hooks and
    * halves chains STRUCTURALLY, so convergence is O(log² n)
    * alternations regardless of component diameter. This replaced
    * plain min-label propagation in round 15 after the probe MEASURED
    * its O(diameter) round count growing with corpus size for the
    * semantic families (s14 4 → 14 rounds, m06 2 → 6 at a 10×
    * replica: near-dup chains lengthen as fresh vectors bridge
    * clusters — the star-contraction trigger the design had parked; a
    * pointer-doubling patch was tried first and measured nearly
    * useless, 14 → 12, because a min-label is an id-window minimum,
    * not a parent pointer, so jumps do not compose under adversarial
    * id placement).
    *
    * Invariants: every edge is kept child>parent; both steps emit
    * edges only between nodes of one original component and never
    * orphan a node, so connectivity is preserved round to round. The
    * terminal state is one star per component rooted at its MINIMUM
    * id (a star with a non-minimal root is not a large-star fixpoint),
    * detected structurally: no node is both a child and a parent AND
    * every child has exactly one parent — the second clause matters,
    * because a depth-1 forest where one child holds edges to two
    * different roots satisfies the first clause alone while splitting
    * a component (the round-16 soundness fix). The final (id, label)
    * table is exactly min-label propagation's.
    */
  private[graft] def propagateLabels(spark: SparkSession, pairsIn: DataFrame,
      tag: String): DataFrame = {
    import spark.implicits._
    // persist BEFORE the sizing count(): the caller's pair-finding plan
    // (s07's cell self-join + cosine, m05's frame self-join) is the
    // expensive stage, and without this it runs twice — once for the
    // count, again when round 1 materializes `edges`. Skipped when the
    // caller already hands in a persisted memo (d06's dupPairs) — a
    // second cache layer over it would only re-serialize the pair list.
    val ownCache = pairsIn.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE
    val pairs = {
      val p = pairsIn.toDF("a_id", "b_id")
      if (ownCache)
        p.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else p
    }
    val maxParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val loopParts = math.max(2, math.min(maxParts,
      (2 * pairs.count() / LoopRowsPerPartition + 1).toInt))

    // LARGE-STAR: over the symmetric neighborhood of each node u,
    // m = min(Γ(u) ∪ {u}); every BIGGER neighbor re-links to m. Each
    // undirected edge is emitted by its smaller endpoint's group, so
    // nothing disconnects; outputs keep parent < child by m ≤ u < v.
    //
    // Round-20 stage diet (guide §2.4/§1.2 — the loop's cost at high
    // core counts is its SEQUENTIAL STAGE CHAIN, measured d06 3.04 s
    // c32 vs 0.92 s c8 on 0.07 MB of shuffle): the round-19 shape
    // computed the per-u minimum as a groupBy and re-attached it with
    // a join — two consumers of one exchange, a sort-merge sort on
    // each side, and a distinct exchange behind them. A min() WINDOW
    // over the same repartition computes the same per-u minimum and
    // re-attaches it IN PLACE: one exchange, one sort, no join, and
    // the output is consumed exactly once so the mid-iteration pin
    // (its cache write + read + RDD round-trip) is deleted too.
    // WindowExec spills per-group buffers to disk, so a hub node's
    // neighborhood degrades to disk instead of OOM — the same skew
    // safety the streaming sort-merge join had. The trailing distinct
    // moves into smallStar's tail (min() is duplicate-insensitive, so
    // inter-star duplicate edges are harmless in flight and every
    // edge list the probe or the caller sees is still distinct).
    def largeStar(e: DataFrame): DataFrame = {
      val wu = org.apache.spark.sql.expressions.Window.partitionBy($"u")
      e.select($"c".as("u"), $"p".as("v"))
        .unionAll(e.select($"p".as("u"), $"c".as("v")))
        .repartition(loopParts, $"u")
        .withColumn("m", least(min($"v").over(wu), $"u"))
        .filter($"v" > $"u")
        .select($"v".as("c"), $"m".as("p"))
    }
    // SMALL-STAR: over each child's (all-smaller) parents,
    // m = min(parents); the child and every other parent re-link to m
    // — the hooking step that collapses multi-level trees to depth 1.
    // Same one-exchange window shape as largeStar: the row carrying
    // the minimum parent (p == m, unique value per child; duplicate
    // carriers collapse in the distinct) stands in for the old
    // `mins` union leg by re-emitting the child itself. The closing
    // distinct runs on the c-keyed repartition's exchange — a
    // partitioning on a SUBSET of the grouping keys already satisfies
    // the aggregation's required distribution, so the distinct adds
    // no exchange of its own and the whole alternation's edge list
    // crosses the wire three times total (sym, re-key, dedup) instead
    // of round 19's five.
    def smallStar(e: DataFrame): DataFrame = {
      val wc = org.apache.spark.sql.expressions.Window.partitionBy($"c")
      e.repartition(loopParts, $"c")
        .withColumn("m", min($"p").over(wc))
        .select(when($"p" === $"m", $"c").otherwise($"p").as("c"),
          $"m".as("p"))
        .repartition(loopParts, $"c")
        .distinct()
    }

    var cur = pin(pairs
      .select(greatest($"a_id", $"b_id").as("c"),
        least($"a_id", $"b_id").as("p"))
      .filter($"c" =!= $"p").distinct())
    var converged = false
    var iter = 0
    var lastEdges = -1L
    while (!converged && iter < MaxCcIterations) {
      // No mid-iteration pin: round 19 pinned largeStar's output
      // because its join+aggregate shape consumed it twice and AQE
      // does not share the exchange across deduplicated self-join
      // sides (measured: m06 +49% wall unpinned). The window forms
      // consume each intermediate exactly ONCE, so one alternation is
      // a single linear plan cur → largeStar → smallStar with nothing
      // to share — the pin's cache write + read + RDD round-trip per
      // iteration is deleted rather than optimized. Only e2 pins: it
      // is the next iteration's `cur` (consumed twice by sym) and the
      // lineage cut that keeps the loop's plan depth constant.
      val e2 = pin(smallStar(largeStar(cur)))
      // Terminal state is STRUCTURAL, not a fixpoint diff: one star per
      // component means (a) no node is both a child and a parent AND
      // (b) every child has exactly ONE parent. (a) alone is unsound:
      // the path 1-5-4-6-2 contracts in one alternation to the depth-1
      // forest {(4,1),(5,1),(4,2),(6,2)} where nothing is both child
      // and parent, yet node 4 carries labels 1 AND 2 — one component
      // split in two. Both conditions, plus the edge count, come out of
      // ONE aggregation per alternation (this is also the action that
      // materializes e2's cache): tag each endpoint occurrence with its
      // role, roll up per node, and reduce to (edge count, violation
      // flag) — no self-join, no second probe job.
      val probe = e2.select($"c".as("n"), lit(1L).as("ic"), lit(0L).as("ip"))
        .unionAll(e2.select($"p".as("n"), lit(0L).as("ic"), lit(1L).as("ip")))
        .groupBy($"n").agg(sum($"ic").as("nc"), max($"ip").as("ip"))
        .agg(coalesce(sum($"nc"), lit(0L)).as("edges"),
          coalesce(max(($"nc" > 1 || ($"nc" > 0 && $"ip" > 0)).cast("long")),
            lit(0L)).as("notStar"))
        .head()
      lastEdges = probe.getLong(0)
      converged = probe.getLong(1) == 0L
      cur.unpersist()
      cur = e2
      iter += 1
    }
    lastPropagationRounds(tag) = iter
    // a truncated contraction would SILENTLY return split clusters (and
    // diverge from the oracle's transitive closure) — fail loudly;
    // log²-convergence puts any real input orders of magnitude under
    // the cap, so hitting it means a bug, not a big graph
    if (!converged) {
      if (ownCache) pairs.unpersist()
      cur.unpersist()
      throw new IllegalStateException(
        s"$tag star contraction did not converge in $MaxCcIterations " +
          s"alternations ($lastEdges edges in flight)")
    }
    // stars → labels: children labelled by their root, roots by
    // themselves — the same (id, label) table min-label propagation
    // produced, covering every node of the input pair list
    val labels = pin(cur.select($"c".as("id"), $"p".as("label"))
      .unionAll(cur.select($"p".as("id"), $"p".as("label")))
      .distinct())
    labels.count()
    cur.unpersist()
    if (ownCache) pairs.unpersist()
    labels
  }

  /** Rounds (alternations) the most recent [[propagateLabels]] run
    * took, per tag — the observability behind the round-15 engine
    * switch: min-label propagation's count grew with corpus size
    * (measured, see [[propagateLabels]]), star contraction's must stay
    * flat. ScaleProbe prints this map after each corpus so
    * base-vs-replica counts land in the probe log; the spec pins
    * toy-scale counts far under [[MaxCcIterations]].
    */
  private[graft] val lastPropagationRounds =
    scala.collection.concurrent.TrieMap.empty[String, Int]

  /** Persist a small iteration table behind a lineage-breaking
    * [[org.apache.spark.sql.execution.LogicalRDD]] leaf: the returned
    * frame's logical plan references no upstream cache entry, so
    * releasing earlier iterations can never clear it (see
    * [[buildClusterLabels]]), and it IS the persisted plan, so
    * `unpersist()` frees its actual blocks. The Row round-trip costs
    * one deserialization pass over a dup-volume-sized table.
    */
  private def pin(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.createDataFrame(df.rdd, df.schema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** d06-the-query REBUILDS the artifact: the propagation loop is what
    * the query benchmarks (a cache read would measure nothing), and the
    * fresh table atomically replaces the stored one — on DISK (the
    * parquet publish consumers in any later session read) and in the
    * session memo (the hot handle). The retired in-memory table is
    * unpersisted after the swap so the cache never holds a dropped
    * copy.
    */
  def d06NeardupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    clusterArtifact.rebuildAndPublish(spark, dir)
      .select($"label".as("cluster_id"), $"id".as("doc_id"))
      .withColumn("keep",
        when($"doc_id" === $"cluster_id", 1L).otherwise(0L))
      .orderBy($"cluster_id", $"doc_id")
  }

  /** d14's "line" granularity in tokens. The corpus carries no newlines
    * (measured: zero `\n` across every SF), so the RefinedWeb/CCNet
    * line unit is stood in by fixed [[LineTokens]]-token non-overlapping
    * windows — the paragraph-granularity variant of the same policy,
    * and NON-vacuous on the real data (sf0.01: 108 duplicated lines
    * across 47 documents; a `\n` split would have made d14 a restatement
    * of d01). A trailing partial window is never a "line" and is never
    * excised. NAMED because both engines' window arithmetic and any
    * future fingerprint must track it.
    */
  private[graft] val LineTokens = 10L

  /** d14 — LINE-level exact dedup (RefinedWeb §. / CCNet's paragraph
    * dedup): the granularity between d01's whole-document hash and
    * p20's positional 13-gram spans. Every document splits into
    * [[LineTokens]]-token lines; a line whose md5 occurs in MORE THAN
    * ONE distinct document is corpus-duplicated boilerplate and is
    * excised from EVERY document carrying it (CCNet drops duplicated
    * paragraphs from all copies — unlike d06's keep-one-survivor
    * policy, boilerplate has no survivor worth keeping). Per document:
    * line/excision counts, before/kept token counts, and the md5 of
    * the cleaned token sequence — the p21 hash-verified-edit device,
    * so the gate verifies the exact edit without shipping strings.
    *
    * On the df cap: d02/d03/d08 cap df because an inverted-index
    * SELF-JOIN enumerates C(df, 2) pairs — quadratic in df. d14 never
    * enumerates pairs: the df reduction is a (line, doc) distinct +
    * count (both with map-side partial combine, so a line duplicated
    * in a billion documents collapses executor-side exactly like d02's
    * capped index absorbs heavy hitters), and the dup-line list joins
    * back ONE ROW PER KEY (left-semi), linear in occurrence count.
    * With no quadratic term to bound, a cap would change published
    * semantics (an over-cap boilerplate line is exactly what must be
    * excised) while buying nothing — omitted with this reasoning
    * rather than dead-coded, the m05 convention.
    *
    * Scale shape: one corpus scan tokenizes; only (doc_id, line_idx,
    * 16-byte hash) rows shuffle (text never moves); the per-doc span
    * list is bounded by document length; the excision is a per-row
    * columnar filter.
    */
  def d14LineDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    d14Core(Tables.documents(spark, dir), corpusLineHashes(spark, dir))
      .orderBy($"doc_id")
  }

  /** The per-document line-hash rows (doc_id, si, h) — d14's segment
    * table, factored out so the batch pass and the streaming
    * line-dedup guard hash through ONE projection and can never
    * drift. Pure per-row columnar work (token split + HOF transform +
    * posexplode), no aggregation — stream-safe by construction.
    * sequence(0, nl-1) only under nl >= 1 (Spark's sequence(0, -1)
    * DESCENDS where the oracle's range(0, 0) is empty).
    */
  private[graft] def lineHashes(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"doc_id", graft.pipeline.TextAnalysis.toks($"text").as("t"))
      .select($"doc_id", $"t",
        floor(size($"t") / lit(LineTokens)).cast("long").as("nl"))
      .filter($"nl" > 0)
      .select($"doc_id", posexplode(expr(
        s"""transform(sequence(0L, nl - 1L), i ->
           |  md5(cast(concat_ws(' ',
           |    slice(t, cast(i * $LineTokens + 1 as int), $LineTokens))
           |  as binary)))""".stripMargin)))
      .select($"doc_id", $"pos".cast("long").as("si"), $"col".as("h"))
  }

  /** d14's duplication criterion over a segment table: line hashes in
    * MORE THAN ONE distinct document. distinct + count, both with
    * map-side partial combine (the heavy-hitter argument in
    * [[d14LineDedup]]'s doc).
    */
  private def dupFrom(seg: DataFrame): DataFrame = {
    val spark = seg.sparkSession
    import spark.implicits._
    seg.select($"h", $"doc_id").distinct()
      .groupBy($"h").agg(count(lit(1)).as("df"))
      .filter($"df" >= 2).select($"h")
  }

  private val lineSegCache = Memo.frames("d.lineSeg")

  /** The CORPUS line-segment table, memoized + persisted under the
    * ingest-artifact policy (the d02 capped-index pattern): d14
    * consumes it through two plan subtrees (the df reduction and the
    * excision-list semi join) and [[dupLineTable]] through a third —
    * without the memo each consumer re-ran the tokenize + hash scan
    * (round-18 review: three corpus scans where one suffices; at the
    * 100 TB target the segment table is written once at ingest).
    */
  private[graft] def corpusLineHashes(spark: SparkSession,
      dir: String): DataFrame =
    lineSegCache.getOrBuild((spark, dir)) {
      val df = lineHashes(Tables.documents(spark, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize: consumers read the rows, not the scan
      df
    }

  /** The corpus's FULL distinct line-hash table with each line's
    * document frequency (h, df), df >= 1 — the frozen side of the
    * streaming line-dedup guard. The guard joins this, not the df>=2
    * subset, because the admission decision needs BOTH strata
    * (ADVICE r18): df >= 2 lines are boilerplate d14 would excise from
    * the corpus today, and df == 1 lines are FIRST collisions — an
    * arriving new document matching a line that occurs exactly once in
    * the corpus creates, if admitted unedited, a df=2 line the next
    * batch d14 would excise from both carriers; flagging it at ingest
    * is what makes "boilerplate never accumulates" actually true.
    * One row per distinct corpus line: larger than the dup subset but
    * the same stored-artifact shape as the corpus band table (a
    * deployment publishes it hash-bucket-partitioned; the guard's join
    * prunes to the arriving batch's hash buckets).
    */
  private[graft] def corpusLineTable(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    corpusLineHashes(spark, dir).select($"h", $"doc_id").distinct()
      .groupBy($"h").agg(count(lit(1)).as("df"))
  }

  /** The corpus's duplicated-line hash set as a static table — d14's
    * excision criterion (the df >= 2 stratum of [[corpusLineTable]];
    * dup-fraction-sized, broadcast material at any corpus scale).
    */
  private[graft] def dupLineTable(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    corpusLineTable(spark, dir).filter($"df" >= 2).select($"h")
  }

  /** The testable core over any (doc_id, text) frame — the p31
    * constructed-corpus device: the real corpus exercises the pipeline
    * shape, the spec plants a boilerplate line at DIFFERENT window
    * offsets in two documents and hash-verifies the edit.
    */
  private[graft] def d14Core(docs: DataFrame): DataFrame =
    d14Core(docs, lineHashes(docs))

  private[graft] def d14Core(docs: DataFrame, seg: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val t = docs
      .select($"doc_id", graft.pipeline.TextAnalysis.toks($"text").as("t"))
      .select($"doc_id", $"t",
        floor(size($"t") / lit(LineTokens)).cast("long").as("nl"))
    val dup = dupFrom(seg)
    val dl = seg.join(dup, Seq("h"), "left_semi")
      .groupBy($"doc_id").agg(collect_list($"si").as("dl"))
    t.join(dl, Seq("doc_id"), "left")
      .select($"doc_id", $"t", $"nl",
        coalesce($"dl", array().cast("array<bigint>")).as("dl"))
      // kept gets its OWN projection (the p17/p21 staging rule): two
      // downstream consumers (size + md5) must not re-run the filter
      .select($"doc_id", $"t", $"nl", $"dl",
        filter($"t", (x, i) =>
          !exists($"dl", j => j === floor(i / lit(LineTokens)))).as("kept"))
      .select($"doc_id",
        $"nl".as("n_lines"),
        size($"dl").cast("long").as("n_dup_lines"),
        size($"t").cast("long").as("n_tokens_before"),
        size($"kept").cast("long").as("n_tokens_kept"),
        md5(concat_ws(" ", $"kept").cast("binary")).as("cleaned_md5"))
  }

  // ---------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d14_line_dedup" -> d14LineDedup _,
    "d01_exact_dedup" -> d01ExactDedup _,
    "d02_ngram_jaccard_pairs" -> d02NgramJaccardPairs _,
    "d03_minhash_lsh_pairs" -> d03MinhashLshPairs _,
    "d07_minhash_calibration" -> d07MinhashCalibration _,
    "d08_delta_dedup" -> d08DeltaDedup _,
    "d09_threshold_curve" -> d09ThresholdCurve _,
    "d04_simhash_pairs" -> d04SimhashPairs _,
    "d05_embedding_neardup" -> d05EmbeddingNearDup _,
    "d06_neardup_clusters" -> d06NeardupClusters _,
    "d10_longest_survivors" -> d10LongestSurvivors _,
    "d11_detector_overlap" -> d11DetectorOverlap _,
    "d12_detector_overlap_full" -> d12DetectorOverlapFull _,
    "d13_cluster_purity" -> d13ClusterPurity _,
  )

  // Shared oracle CTEs (DuckDB SQL mirroring the Spark expressions).
  private val ShingleCte =
    raw"""tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') t
         |       FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |         [array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)]))
         |         AS shingle
         |       FROM tk WHERE len(t) >= 3),
         |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id)""".stripMargin

  private val minhashSigSql: String = {
    val mins = (0 until NumHashes)
      .map(i => s"min(md5('$i|' || shingle)) AS h$i").mkString(", ")
    s"SELECT doc_id, $mins FROM sh GROUP BY doc_id"
  }

  private val minhashBandsSql: String =
    (0 until Bands).map { b =>
      val cat = (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => s"h$i").mkString(" || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS bucket FROM sig"
    }.mkString(" UNION ALL ")

  private val simhashCte: String = {
    val sums = (0 until SimBits)
      .map(b => s"SUM(((th >> $b) & 1) * 2 - 1) AS s$b").mkString(", ")
    val value = (0 until SimBits)
      .map(b => s"CASE WHEN s$b >= 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END")
      .mkString(" + ")
    raw"""th AS (SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
         |         list_transform(string_split(substr(md5(token), 1, 14), ''),
         |           ch -> (instr('0123456789abcdef', ch) - 1)::BIGINT)),
         |         (h, c) -> h * 16 + c) AS th
         |       FROM (SELECT doc_id, unnest(list_distinct(
         |               regexp_split_to_array(trim(text), '\s+'))) AS token
         |             FROM documents)),
         |bits AS (SELECT doc_id, $sums FROM th GROUP BY doc_id),
         |simhash AS (SELECT doc_id, $value AS sim FROM bits)""".stripMargin
  }

  /** The three lexical detectors' verified pair sets as one CTE chain
    * (ng = d02's Jaccard pairs, mh = d03's banded MinHash pairs,
    * sp = d04's SimHash pairs, u/g = the flagged union) — shared by
    * d11's oracle (rolls up g) and d12's (extends u with the two
    * embedding detectors).
    */
  private lazy val lexicalDetectorCtes: String =
    s"""$ShingleCte,
       |capped AS (SELECT doc_id, shingle FROM sh
       |  WHERE shingle IN (SELECT shingle FROM sh
       |                    GROUP BY shingle HAVING count(*) <= $ShingleDfCap)),
       |csizes AS (SELECT doc_id, count(*) n FROM capped GROUP BY doc_id),
       |np AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) inter
       |  FROM capped a JOIN capped b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |ng AS (SELECT a_id, b_id FROM np
       |  JOIN csizes sa ON a_id = sa.doc_id
       |  JOIN csizes sb ON b_id = sb.doc_id
       |  WHERE inter * $JaccardCutDen >= (sa.n + sb.n - inter) * $JaccardCutNum),
       |sig AS ($minhashSigSql),
       |bands AS ($minhashBandsSql),
       |cand AS (SELECT DISTINCT x.doc_id a_id, y.doc_id b_id
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |mp AS (SELECT c.a_id, c.b_id, count(*) inter
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
       |              JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |mh AS (SELECT a_id, b_id FROM mp
       |  JOIN sizes za ON a_id = za.doc_id
       |  JOIN sizes zb ON b_id = zb.doc_id
       |  WHERE inter * $JaccardCutDen >= (za.n + zb.n - inter) * $JaccardCutNum),
       |$simhashCte,
       |sp AS (SELECT a.doc_id a_id, b.doc_id b_id
       |  FROM simhash a JOIN simhash b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sim, b.sim)) <= $HammingCap),
       |u AS (SELECT a_id, b_id, 1 AS fn, 0 AS fm, 0 AS fs FROM ng
       |  UNION ALL SELECT a_id, b_id, 0, 1, 0 FROM mh
       |  UNION ALL SELECT a_id, b_id, 0, 0, 1 FROM sp),
       |g AS (SELECT a_id, b_id, MAX(fn) fn, MAX(fm) fm, MAX(fs) fs
       |  FROM u GROUP BY 1, 2)""".stripMargin

  private val SeqFoldDot =
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip(a.v, b.v)," +
      " p -> p[1] * p[2])), (s, x) -> s + x)"

  /** The FULL five-detector chain through `g5` = the per-pair flag
    * table the d12 artifact stores — extracted so m10's media audit
    * oracle composes the identical lexical/embedding pair space the
    * engine reads from the stored d11 artifact (exactly as d10 embeds
    * d06's SQL). Ends WITHOUT a final SELECT: the consumer appends its
    * own rollup over `g5`.
    */
  private[graft] lazy val fullDetectorPairsCtes: String =
    s"""$lexicalDetectorCtes,
       |${Similarity.s07PairsCteSql},
       |enrm AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0::DOUBLE,
       |  list_transform(v, x -> x * x)), (s, x) -> s + x)) AS nrm FROM n),
       |esig AS (${signSigSqlFrom("n")}),
       |ebands AS (${signBandsSqlFrom("esig")}),
       |ecand AS (SELECT DISTINCT x.vec_id a_id, y.vec_id b_id
       |  FROM ebands x JOIN ebands y
       |    ON x.band = y.band AND x.bv = y.bv AND x.vec_id < y.vec_id),
       |elsh AS (SELECT a_id, b_id FROM (
       |  SELECT c.a_id, c.b_id, $SeqFoldDot / (a.nrm * b.nrm) AS cosine
       |  FROM ecand c JOIN enrm a ON a.vec_id = c.a_id
       |              JOIN enrm b ON b.vec_id = c.b_id)
       |  WHERE cosine > $SignLshTau),
       |u5 AS (SELECT a_id, b_id, fn, fm, fs, 0 AS fl, 0 AS fe FROM u
       |  UNION ALL SELECT a_id, b_id, 0, 0, 0, 1, 0 FROM elsh
       |  UNION ALL SELECT a_id, b_id, 0, 0, 0, 0, 1 FROM sem),
       |g5 AS (SELECT a_id, b_id, MAX(fn) fn, MAX(fm) fm, MAX(fs) fs,
       |    MAX(fl) fl, MAX(fe) fe
       |  FROM u5 GROUP BY 1, 2)""".stripMargin

  /** Hyperplane h as a DuckDB literal array — emitted from the same
    * Scala derivation the Spark side uses, so both engines project onto
    * bit-identical planes.
    */
  private def planeArraySql(h: Int): String =
    planeSigns(h).map(d => if (d > 0) "1.0" else "-1.0")
      .mkString("[", ", ", "]::DOUBLE[]")

  private def signSigSqlFrom(src: String): String = {
    val terms = (0 until NumPlanes).map { h =>
      s"""CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
         |  list_transform(list_zip(v, ${planeArraySql(h)}),
         |    p -> p[1] * p[2])), (s, x) -> s + x) >= 0
         | THEN (1::BIGINT << $h) ELSE 0::BIGINT END""".stripMargin
    }.mkString(" + ")
    s"SELECT vec_id, $terms AS sig FROM $src"
  }
  private val signSigSql: String = signSigSqlFrom("e")

  private def signBandsSqlFrom(sigCte: String): String =
    (0 until SignBands).map { b =>
      s"SELECT vec_id, $b AS band, " +
        s"(sig >> ${b * PlaneBits}) & ${(1L << PlaneBits) - 1} AS bv " +
        s"FROM $sigCte"
    }.mkString(" UNION ALL ")
  private val signBandsSql: String = signBandsSqlFrom("sig")

  /** d06's oracle, named so d10's survivor oracle embeds the
    * identical transitive closure.
    */
  private lazy val d06Sql: String =
    s"""WITH RECURSIVE $ShingleCte,
       |sig AS ($minhashSigSql),
       |bands AS ($minhashBandsSql),
       |cand AS (SELECT DISTINCT x.doc_id a_id, y.doc_id b_id
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |pairs AS (SELECT c.a_id, c.b_id, count(*) inter
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
       |              JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |dup AS (SELECT a_id, b_id FROM pairs
       |  JOIN sizes za ON a_id = za.doc_id
       |  JOIN sizes zb ON b_id = zb.doc_id
       |  WHERE inter * $JaccardCutDen >= (za.n + zb.n - inter) * $JaccardCutNum),
       |edges AS (SELECT a_id s, b_id d FROM dup
       |          UNION ALL SELECT b_id, a_id FROM dup),
       |reach(id, lab) AS (
       |  SELECT DISTINCT s, s FROM edges
       |  UNION
       |  SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id)
       |SELECT min(lab) AS cluster_id, id AS doc_id,
       |  (CASE WHEN min(lab) = id THEN 1 ELSE 0 END)::BIGINT AS keep
       |FROM reach GROUP BY id ORDER BY cluster_id, doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // one WITH chain computes all three detectors' verified pair sets
    // from the same shared CTE building blocks the individual oracles
    // use (shingles + df cap for d02, minhash sig/bands for d03, the
    // simhash CTE for d04 — their CTE names are disjoint), then
    // overlays them exactly as the engine's union + max-flag agg does
    "d11_detector_overlap" ->
      s"""WITH $lexicalDetectorCtes
         |SELECT fn::BIGINT AS in_ngram, fm::BIGINT AS in_minhash,
         |  fs::BIGINT AS in_simhash, COUNT(*)::BIGINT AS n_pairs
         |FROM g GROUP BY 1, 2, 3
         |ORDER BY in_ngram, in_minhash, in_simhash""".stripMargin,
    "d12_detector_overlap_full" ->
      s"""WITH $fullDetectorPairsCtes
         |SELECT fn::BIGINT AS in_ngram, fm::BIGINT AS in_minhash,
         |  fs::BIGINT AS in_simhash, fl::BIGINT AS in_signlsh,
         |  fe::BIGINT AS in_semantic, COUNT(*)::BIGINT AS n_pairs
         |FROM g5 GROUP BY 1, 2, 3, 4, 5
         |ORDER BY in_ngram, in_minhash, in_simhash, in_signlsh,
         |  in_semantic""".stripMargin,
    // d13: d06's clustering embedded as a derived table (the d10
    // pattern), the d02 capped-shingle rule rebuilt at the outer
    // level (the inner chain's same-named CTEs shadow cleanly inside
    // their own scope), exact integer ppm floors on both engines
    "d13_cluster_purity" ->
      s"""WITH $ShingleCte,
         |capped AS (SELECT doc_id, shingle FROM sh
         |  WHERE shingle IN (SELECT shingle FROM sh
         |                    GROUP BY shingle HAVING count(*) <= $ShingleDfCap)),
         |csz AS (SELECT doc_id, count(*) n FROM capped GROUP BY doc_id),
         |cl AS (SELECT cluster_id, doc_id FROM ($d06Sql)),
         |szs AS (SELECT cluster_id, COUNT(*)::BIGINT AS n_members
         |  FROM cl GROUP BY 1 HAVING COUNT(*) >= 2),
         |mem AS (SELECT cl.* FROM cl JOIN szs USING (cluster_id)
         |  WHERE szs.n_members <= $PurityExactCap),
         |prs AS (SELECT a.cluster_id, a.doc_id a_id, b.doc_id b_id
         |  FROM mem a JOIN mem b
         |    ON a.cluster_id = b.cluster_id AND a.doc_id < b.doc_id),
         |iv AS (SELECT p.cluster_id, p.a_id, p.b_id, COUNT(*) AS inter
         |  FROM prs p JOIN capped sa ON sa.doc_id = p.a_id
         |              JOIN capped sb ON sb.doc_id = p.b_id
         |                AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2, 3),
         |jj AS (SELECT p.cluster_id,
         |    (COALESCE(iv.inter, 0) * 1000000
         |      // greatest(COALESCE(sa.n, 0) + COALESCE(sb.n, 0)
         |                 - COALESCE(iv.inter, 0), 1))::BIGINT AS ppm
         |  FROM prs p LEFT JOIN iv ON iv.cluster_id = p.cluster_id
         |    AND iv.a_id = p.a_id AND iv.b_id = p.b_id
         |  LEFT JOIN csz sa ON sa.doc_id = p.a_id
         |  LEFT JOIN csz sb ON sb.doc_id = p.b_id),
         |per AS (SELECT cluster_id, COUNT(*)::BIGINT AS n_pairs,
         |    MIN(ppm) AS min_jaccard_ppm, MAX(ppm) AS max_jaccard_ppm
         |  FROM jj GROUP BY 1)
         |SELECT s.cluster_id, s.n_members,
         |  COALESCE(p.n_pairs, 0)::BIGINT AS n_pairs,
         |  p.min_jaccard_ppm, p.max_jaccard_ppm,
         |  CASE WHEN s.n_members <= $PurityExactCap THEN
         |    (CASE WHEN p.min_jaccard_ppm * $JaccardCutDen
         |        < 1000000 * $JaccardCutNum THEN 1 ELSE 0 END)::BIGINT
         |  ELSE NULL END AS chained,
         |  (CASE WHEN s.n_members <= $PurityExactCap
         |    THEN 1 ELSE 0 END)::BIGINT AS audited
         |FROM szs s LEFT JOIN per p USING (cluster_id)
         |ORDER BY s.cluster_id""".stripMargin,
    "d10_longest_survivors" ->
      raw"""WITH cl AS (SELECT cluster_id, doc_id FROM
         |  ($d06Sql)),
         |nt AS (SELECT doc_id,
         |    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n
         |  FROM documents),
         |r AS (SELECT cl.cluster_id, cl.doc_id, nt.n, row_number() OVER (
         |    PARTITION BY cl.cluster_id ORDER BY nt.n DESC, cl.doc_id) rn
         |  FROM cl JOIN nt USING (doc_id))
         |SELECT cluster_id, COUNT(*) AS n_members,
         |  MAX(CASE WHEN rn = 1 THEN doc_id END) AS survivor_doc_id,
         |  MAX(CASE WHEN rn = 1 THEN n END) AS survivor_n_tokens,
         |  CAST(CASE WHEN MAX(CASE WHEN rn = 1 THEN doc_id END) = cluster_id
         |    THEN 1 ELSE 0 END AS BIGINT) AS same_as_min_id
         |FROM r GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    // d14: the same fixed-window line split, df over DISTINCT docs,
    // excision as an indexed list_filter (DuckDB lambda index is
    // 1-based where Spark's is 0-based, hence the i - 1); the empty
    // kept list COALESCEs before array_to_string (NULL, not '', on
    // DuckDB) and before list_contains (NULL list poisons the lambda)
    "d14_line_dedup" ->
      raw"""WITH tk AS (SELECT doc_id,
           |    regexp_split_to_array(trim(text), '\s+') AS t
           |  FROM documents),
           |seg AS (SELECT doc_id, i AS si,
           |    md5(array_to_string(
           |      t[(i*$LineTokens+1)::BIGINT:((i+1)*$LineTokens)::BIGINT],
           |      ' ')) AS h
           |  FROM tk, unnest(range(0, len(t) // $LineTokens)) u(i)),
           |dup AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM seg)
           |  GROUP BY h HAVING COUNT(*) >= 2),
           |dl AS (SELECT doc_id, list(si) AS dl FROM seg
           |  WHERE h IN (SELECT h FROM dup) GROUP BY doc_id),
           |k AS (SELECT tk.doc_id, tk.t, COALESCE(dl.dl, []) AS dl,
           |    list_filter(tk.t, (x, i) -> NOT list_contains(
           |      COALESCE(dl.dl, []), (i - 1) // $LineTokens)) AS kept
           |  FROM tk LEFT JOIN dl USING (doc_id))
           |SELECT doc_id, (len(t) // $LineTokens)::BIGINT AS n_lines,
           |  COALESCE(len(dl), 0)::BIGINT AS n_dup_lines,
           |  len(t)::BIGINT AS n_tokens_before,
           |  len(kept)::BIGINT AS n_tokens_kept,
           |  md5(COALESCE(array_to_string(kept, ' '), '')) AS cleaned_md5
           |FROM k ORDER BY doc_id""".stripMargin,
    "d01_exact_dedup" ->
      """SELECT source, COUNT(*) AS n_docs,
        | COUNT(DISTINCT md5(text)) AS n_uniq_texts,
        | COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "d02_ngram_jaccard_pairs" ->
      s"""WITH $ShingleCte,
         |capped AS (SELECT doc_id, shingle FROM sh
         |  WHERE shingle IN (SELECT shingle FROM sh
         |                    GROUP BY shingle HAVING count(*) <= $ShingleDfCap)),
         |csizes AS (SELECT doc_id, count(*) n FROM capped GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id a_id, b.doc_id b_id, count(*) inter
         |  FROM capped a JOIN capped b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id, inter, sa.n AS na, sb.n AS nb
         |FROM pairs JOIN csizes sa ON a_id = sa.doc_id
         |           JOIN csizes sb ON b_id = sb.doc_id
         |WHERE inter * $JaccardCutDen >= (sa.n + sb.n - inter) * $JaccardCutNum
         |ORDER BY a_id, b_id""".stripMargin,
    "d03_minhash_lsh_pairs" ->
      s"""WITH $ShingleCte,
         |sig AS ($minhashSigSql),
         |bands AS ($minhashBandsSql),
         |cand AS (SELECT DISTINCT x.doc_id a_id, y.doc_id b_id
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |pairs AS (SELECT c.a_id, c.b_id, count(*) inter
         |  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
         |              JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id, inter, za.n AS na, zb.n AS nb
         |FROM pairs JOIN sizes za ON a_id = za.doc_id
         |           JOIN sizes zb ON b_id = zb.doc_id
         |WHERE inter * $JaccardCutDen >= (za.n + zb.n - inter) * $JaccardCutNum
         |ORDER BY a_id, b_id""".stripMargin,
    "d09_threshold_curve" -> {
      val perT = ThresholdSweep.map { t =>
        s"""SELECT CAST($t AS BIGINT) AS threshold_pct,
           | CAST(sum(CASE WHEN inter * 100 >= (na + nb - inter) * $t
           |          THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
           | CAST(count(DISTINCT CASE WHEN inter * 100 >= (na + nb - inter) * $t
           |            THEN b_id END) AS BIGINT) AS n_docs_dropped
           |FROM pstats""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $ShingleCte,
         |capped AS (SELECT doc_id, shingle FROM sh
         |  WHERE shingle IN (SELECT shingle FROM sh
         |                    GROUP BY shingle HAVING count(*) <= $ShingleDfCap)),
         |csizes AS (SELECT doc_id, count(*) n FROM capped GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id a_id, b.doc_id b_id, count(*) inter
         |  FROM capped a JOIN capped b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pstats AS (SELECT a_id, b_id, inter, sa.n AS na, sb.n AS nb
         |  FROM pairs JOIN csizes sa ON a_id = sa.doc_id
         |             JOIN csizes sb ON b_id = sb.doc_id)
         |$perT
         |ORDER BY threshold_pct""".stripMargin
    },
    "d08_delta_dedup" ->
      s"""WITH $ShingleCte,
         |sig AS ($minhashSigSql),
         |bands AS ($minhashBandsSql),
         |cand AS (SELECT DISTINCT x.doc_id b_id, y.doc_id c_id
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket
         |  WHERE x.doc_id % $DeltaMod = $DeltaRem
         |    AND y.doc_id % $DeltaMod != $DeltaRem),
         |pairs AS (SELECT c.b_id, c.c_id, count(*) inter
         |  FROM cand c JOIN sh sa ON sa.doc_id = c.b_id
         |              JOIN sh sb ON sb.doc_id = c.c_id
         |                        AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2),
         |ver AS (SELECT b_id, c_id, inter,
         |    CASE WHEN inter * $JaccardCutDen >= (za.n + zb.n - inter) * $JaccardCutNum
         |         THEN 1 ELSE 0 END AS is_dup
         |  FROM pairs JOIN sizes za ON b_id = za.doc_id
         |             JOIN sizes zb ON c_id = zb.doc_id),
         |agg AS (SELECT b_id, count(*) n_cand, sum(is_dup) n_dup
         |  FROM ver GROUP BY 1),
         |best AS (SELECT b_id, c_id AS best_id, inter AS best_inter FROM (
         |  SELECT *, row_number() OVER (PARTITION BY b_id
         |    ORDER BY inter DESC, c_id) rn FROM ver) WHERE rn = 1)
         |SELECT d.doc_id,
         | CAST(coalesce(a.n_cand, 0) AS BIGINT) AS n_cand,
         | CAST(coalesce(a.n_dup, 0) AS BIGINT) AS n_dup,
         | b.best_id, b.best_inter,
         | CASE WHEN coalesce(a.n_dup, 0) > 0 THEN 'drop' ELSE 'keep' END
         |   AS verdict
         |FROM documents d LEFT JOIN agg a ON a.b_id = d.doc_id
         |                 LEFT JOIN best b ON b.b_id = d.doc_id
         |WHERE d.doc_id % $DeltaMod = $DeltaRem
         |ORDER BY d.doc_id""".stripMargin,
    "d07_minhash_calibration" -> {
      val matchSum = (0 until NumHashes)
        .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $ShingleCte,
         |sig AS ($minhashSigSql),
         |bands AS ($minhashBandsSql),
         |cand AS (SELECT DISTINCT x.doc_id a_id, y.doc_id b_id
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |mt AS (SELECT c.a_id, c.b_id, CAST($matchSum AS BIGINT) AS n_match
         |  FROM cand c JOIN sig a ON a.doc_id = c.a_id
         |              JOIN sig b ON b.doc_id = c.b_id),
         |pairs AS (SELECT c.a_id, c.b_id, count(*) inter
         |  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
         |              JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2)
         |SELECT m.a_id, m.b_id, m.n_match, p.inter, za.n AS na, zb.n AS nb,
         | (CASE WHEN p.inter * $JaccardCutDen >= (za.n + zb.n - p.inter) * $JaccardCutNum
         |    THEN 1 ELSE 0 END)::BIGINT AS is_dup
         |FROM mt m JOIN pairs p ON p.a_id = m.a_id AND p.b_id = m.b_id
         | JOIN sizes za ON m.a_id = za.doc_id
         | JOIN sizes zb ON m.b_id = zb.doc_id
         |ORDER BY m.a_id, m.b_id""".stripMargin
    },
    "d04_simhash_pairs" ->
      s"""WITH $simhashCte
         |SELECT a.doc_id a_id, b.doc_id b_id,
         | bit_count(xor(a.sim, b.sim)) AS hamming
         |FROM simhash a JOIN simhash b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= $HammingCap
         |ORDER BY a_id, b_id""".stripMargin,
    "d06_neardup_clusters" -> d06Sql,
    "d05_embedding_neardup" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         |n AS (SELECT vec_id, v,
         |  sqrt(list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(v, x -> x * x)), (s, x) -> s + x)) AS nrm FROM e),
         |sig AS ($signSigSql),
         |bands AS ($signBandsSql),
         |cand AS (SELECT DISTINCT x.vec_id a_id, y.vec_id b_id
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bv = y.bv AND x.vec_id < y.vec_id)
         |SELECT a_id, b_id, cosine FROM (
         |  SELECT c.a_id, c.b_id, $SeqFoldDot / (a.nrm * b.nrm) AS cosine
         |  FROM cand c JOIN n a ON a.vec_id = c.a_id
         |              JOIN n b ON b.vec_id = c.b_id)
         |WHERE cosine > $SignLshTau ORDER BY a_id, b_id""".stripMargin,
  )
}
