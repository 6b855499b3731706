package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Memo, Tables}

/** Multimodal-column plumbing for training-data pipelines.
  *
  * Media (image/audio/video) are opaque `binary` payloads with typed
  * metadata travelling alongside — the payload is never interpreted by
  * Catalyst, only by an explicit decode seam. Here the payload is
  * derived deterministically from `documents.text` (utf-8 bytes) so the
  * whole pipeline is testable without media libraries; a real deployment
  * swaps [[MediaDecoder]] for one wrapping an image/audio codec and
  * nothing else changes.
  *
  * Scale design:
  *   - payloads stay columnar (parquet binary) and are only materialized
  *     inside the executor batch that decodes them; decoded features are
  *     a handful of ints, so nothing heavy ever shuffles;
  *   - decode runs in [[Multimodal.m02DecodedFeatures]] via
  *     `mapPartitions` with an explicit batch size (the JVM-side
  *     equivalent of `mapInPandas` batch shape) so a codec that
  *     amortizes setup per batch — or dispatches to an accelerator —
  *     plugs straight in;
  *   - frame sampling (m03) is a pure columnar expression
  *     (sequence/transform/posexplode), no UDF.
  */
object Multimodal {

  /** Decoded-media features; a real decoder returns real ones (size,
    * channels, duration). The fields here are byte statistics a fake
    * decoder can produce deterministically.
    */
  final case class Decoded(
      doc_id: Long, n_bytes: Long, n_distinct_bytes: Long,
      sum_bytes: Long, checksum: Long)

  /** The decode seam. Implementations must be deterministic per payload. */
  trait MediaDecoder extends Serializable {
    def decode(docId: Long, payload: Array[Byte]): Decoded
  }

  /** Deterministic stand-in for an image/audio codec (none exist in this
    * environment): computes byte statistics. A real impl would parse the
    * container header and decode frames here.
    */
  object FakeDecoder extends MediaDecoder {
    override def decode(docId: Long, payload: Array[Byte]): Decoded = {
      var sum = 0L
      val seen = new java.util.BitSet(256)
      var i = 0
      while (i < payload.length) {
        val b = payload(i) & 0xff
        sum += b
        seen.set(b)
        i += 1
      }
      Decoded(docId, payload.length.toLong, seen.cardinality().toLong,
        sum, sum % 251)
    }
  }

  /** Batch size for decode calls (mirrors the reference's embed batch of
    * 64, `app/main.py:78`).
    */
  private val DecodeBatch = 64

  /** The id→modality convention: `doc_id mod [[MediaModalities]]`
    * assigns each document its media type ([[ImageMod]]/[[AudioMod]]/
    * [[VideoMod]]). NAMED because the catalog, every detector's
    * modality filter, the m10 audit's media_type column, and both
    * oracle SQL sides must agree on it, and the m06/m10 artifact
    * fingerprints must track any change — the same staleness argument
    * that named the containment cut.
    */
  private[pipeline] val MediaModalities = 3L
  private[pipeline] val ImageMod = 0L
  private[pipeline] val AudioMod = 1L
  private[pipeline] val VideoMod = 2L

  private[pipeline] def modality(doc: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = doc % MediaModalities

  private[pipeline] def modalityName(doc: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(modality(doc) === ImageMod, "image")
      .when(modality(doc) === AudioMod, "audio")
      .otherwise("video")

  /** The oracle-side spelling of the same convention. */
  private def modSql(col: String): String = s"$col % $MediaModalities"

  /** The synthetic media table: (doc_id, media_type, payload, meta).
    * media_type and metadata derive from doc_id ([[modalityName]]);
    * payload is the utf-8 text bytes.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(
      $"doc_id",
      modalityName($"doc_id").as("media_type"),
      $"text".cast("binary").as("payload"),
      struct(
        (lit(64) + ($"doc_id" % 64) * lit(16)).cast("long").as("width"),
        (lit(64) + ($"doc_id" % 48) * lit(16)).cast("long").as("height"),
        (($"doc_id" % 300) + 1).cast("long").as("duration_s")).as("meta"))
  }

  /** m01 — media catalog: per-type byte accounting + payload digests.
    * Pure columnar; the binary column feeds length/md5 expressions only.
    */
  def m01MediaCatalog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select($"doc_id", $"media_type",
        length($"payload").cast("long").as("n_bytes"),
        md5($"payload").as("payload_md5"),
        $"meta.width", $"meta.height", $"meta.duration_s")
      .orderBy($"doc_id")
  }

  /** m02 — the decode seam: batched mapPartitions through a
    * [[MediaDecoder]]. Typed Dataset in, typed Dataset out; only the
    * decoded feature ints leave the partition.
    */
  def decodeFeatures(media: DataFrame, decoder: MediaDecoder): Dataset[Decoded] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select($"doc_id".as[Long], $"payload".as[Array[Byte]])
      .mapPartitions { it =>
        it.grouped(DecodeBatch).flatMap { batch =>
          // a real decoder would set up / tear down codec state per batch
          batch.map { case (id, payload) => decoder.decode(id, payload) }
        }
      }
  }

  def m02DecodedFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeFeatures(mediaTable(spark, dir), FakeDecoder)
      .toDF().orderBy($"doc_id")
  }

  /** m03 — frame sampling: split the payload into fixed 32-byte frames,
    * keep every 4th, digest each. sequence/transform/posexplode —
    * whole-stage-codegen columnar, no UDF.
    */
  private val FrameLen = 32
  private val FrameStep = 4

  /** The sampled-frame digests every video contributes (shared by m03
    * and m05 so both consume ONE frame definition).
    */
  private def videoFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val frames = expr(
      s"""transform(
         |  sequence(0, CAST(floor((length(payload) - 1) / $FrameLen) AS BIGINT),
         |           $FrameStep),
         |  i -> md5(substring(payload, CAST(i * $FrameLen + 1 AS INT), $FrameLen)))
         |""".stripMargin)
    mediaTable(spark, dir)
      // empty payloads: Spark's sequence(0,-1) throws where the oracle's
      // range() is empty — excluding them keeps both sides aligned
      .filter($"media_type" === "video" && length($"payload") > 0)
      .select($"doc_id", posexplode(frames))
      .select($"doc_id", $"pos".cast("long").as("frame_idx"),
        $"col".as("frame_md5"))
  }

  def m03FrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    videoFrames(spark, dir).orderBy($"doc_id", $"frame_idx")
  }

  /** m05 — media near-dup pairs by shared frame fingerprints: the video
    * counterpart of d02's inverted-index text dedup. Videos sharing any
    * sampled-frame digest pair up, with each side's total distinct-frame
    * count carried so a consumer can threshold on overlap fraction
    * (n_shared / min(nf_a, nf_b) — the containment coefficient used for
    * clip-in-compilation detection).
    *
    * Scale shape: the self-join is an inverted index on frame_md5 — only
    * (digest, doc_id) pairs shuffle, never payloads, and candidate
    * volume is Σ df(g)² over shared digests, NOT |videos|². A production
    * corpus df-caps hot digests first (black frames, intro cards — the
    * exact d02 `JaccardDfCap` lever); this corpus has no such
    * boilerplate, so the cap is omitted rather than dead-coded. Per-doc
    * frame counts join back as a broadcast (they are pre-aggregated,
    * dimension-sized).
    */
  def m05MediaNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    m05Pairs(spark, dir).orderBy($"doc_a", $"doc_b")
  }

  /** m05's pair derivation WITHOUT the presentation sort — m06's
    * propagation input (same split as s07Pairs/s14: no global sort
    * of the pair set before a clustering pass).
    */
  private def m05Pairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fr = videoFrames(spark, dir)
      .select($"doc_id", $"frame_md5").distinct()
    val nf = fr.groupBy($"doc_id").agg(count(lit(1)).as("nf"))
    // no broadcast hint on nf: it is one row PER MEDIA DOCUMENT, so a
    // forced broadcast is an unbounded driver materialization at 10⁹
    // docs (the cappedPairStats sizing policy, r20 audit). Catalyst
    // still broadcasts it below the threshold on its own — the sf0.1
    // plan is unchanged — and picks a doc-keyed shuffled join above it.
    fr.as("a").join(fr.as("b"),
        $"a.frame_md5" === $"b.frame_md5" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("n_shared_frames"))
      .join(nf.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("nf", "n_frames_a"), "doc_a")
      .join(nf.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("nf", "n_frames_b"), "doc_b")
      .select($"doc_a", $"doc_b", $"n_shared_frames",
        $"n_frames_a", $"n_frames_b")
  }

  /** m06's duplicate criterion over m05's pairs: containment >=
    * [[ContainNum]]/[[ContainDen]] — the shared frames cover at least
    * half of the smaller video's sampled frames (clip-in-compilation).
    * Integer arithmetic. NAMED constants because two artifact
    * fingerprints (m06's clusters, m10's pair table) must track any
    * change to this cut — an inline ratio here with a literal in the
    * fingerprint string is exactly the silent-staleness hole the
    * fingerprints exist to close (round-17 review).
    */
  private[pipeline] val ContainNum = 1L
  private[pipeline] val ContainDen = 2L

  private def mediaDup(shared: org.apache.spark.sql.Column,
      nfa: org.apache.spark.sql.Column,
      nfb: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shared * ContainDen >= least(nfa, nfb) * ContainNum

  /** m06 — media near-dup CLUSTERS: connected components over m05's
    * containment-qualified pairs, each cluster keeping its lowest id —
    * the collapse step that turns pairwise frame overlap into the
    * actual drop decision, exactly as d06 collapses d03's pairs for
    * text. Reuses [[graft.pipeline.Dedup.propagateLabels]] — ONE
    * propagation engine (alternating large/small-star contraction,
    * structural convergence) serves every dup family.
    *
    * Like d06, the converged label table is a DURABLE ingest artifact:
    * m06-the-query REBUILDS and atomically republishes it (the
    * propagation loop is what the query benchmarks), every other
    * consumer (m07's survivor pass, any export drop list) reads the
    * stored table via [[mediaClusterLabels]]. Same fingerprint guard,
    * TOCTOU-safe publish, and session memo as `Dedup.clusterLabels`.
    *
    * Scale shape: inherits m05's inverted-index candidate volume and
    * the contraction's dup-volume-sized parallelism; nothing here
    * touches payloads.
    */
  def m06MediaClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaClusterArtifact.rebuildAndPublish(spark, dir)
      .select($"label".as("cluster_id"), $"id".as("doc_id"))
      .withColumn("keep",
        when($"doc_id" === $"cluster_id", 1L).otherwise(0L))
      .orderBy($"cluster_id", $"doc_id")
  }

  private def buildMediaClusterLabels(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val dup = m05Pairs(spark, dir)
      .filter(mediaDup($"n_shared_frames", $"n_frames_a", $"n_frames_b"))
      .select($"doc_a", $"doc_b")
    graft.pipeline.Dedup.propagateLabels(spark, dup, "m06")
  }

  /** Bump when the clustering semantics OR the stored schema change.
    * v2: the id→modality convention joined the fingerprint's named
    * parameters.
    */
  private val MediaClusterArtifactVersion = 2

  /** The media cluster table as a durable fingerprint-guarded
    * artifact + session memo -- the shared [[DurableArtifact]]
    * plumbing (one implementation for d06/m06/s14); the fingerprint
    * hashes the documents listing (the media table derives from it)
    * plus every parameter the pair derivation depends on: frame
    * geometry and the containment cut.
    */
  private[pipeline] val mediaClusterArtifact = new DurableArtifact(
    "m.clusters", "m06_clusters",
    (spark, dir) => ArtifactStore.md5Hex(
      s"v$MediaClusterArtifactVersion|frames=${FrameLen}x$FrameStep|" +
        s"contain=$ContainNum/$ContainDen|" +
        s"mod=$MediaModalities:$ImageMod/$AudioMod/$VideoMod|" +
        ArtifactStore.sourceListing(spark, dir + "/documents.parquet")),
    buildMediaClusterLabels)

  private[graft] def mediaClusterLabels(spark: SparkSession,
      dir: String): DataFrame = mediaClusterArtifact.read(spark, dir)

  /** m04 — resize planning: aspect-preserving fit of every image into
    * [[ResizeTarget]]² plus letterbox padding, from metadata alone. The
    * geometry is the columnar, exact-integer part of a resize pipeline
    * — the pixel resample itself belongs behind the [[MediaDecoder]]
    * seam (m02), which receives (payload, out_w, out_h) per batch. At
    * scale this plan prunes to the two metadata ints per row; payloads
    * are untouched until the decode stage consumes the plan.
    */
  private val ResizeTarget = 224L

  def m04ResizePlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = lit(ResizeTarget)
    mediaTable(spark, dir)
      .filter($"media_type" === "image")
      .select($"doc_id", $"meta.width".as("width"), $"meta.height".as("height"))
      .withColumn("out_w", when($"width" >= $"height", t)
        .otherwise(floor($"width" * t / $"height").cast("long")))
      .withColumn("out_h", when($"width" >= $"height",
        floor($"height" * t / $"width").cast("long")).otherwise(t))
      .withColumn("pad_x", t - $"out_w")
      .withColumn("pad_y", t - $"out_h")
      .orderBy($"doc_id")
  }

  /** m07 — media survivor selection: d10's keep-policy applied to the
    * media family. Text dedup keeps the LONGEST member (C4/RefinedWeb);
    * media dedup keeps the HIGHEST-FIDELITY copy — here the largest
    * payload (the keep-the-best-encode policy of an image/video dedup
    * pass), ties to the smaller doc_id. Per m06 cluster: the member
    * count, the surviving doc with its byte size, and the disagreement
    * flag vs m06's min-id default — exactly the columns d10 reports
    * for text clusters, so the two survivor passes audit identically.
    *
    * Scale shape: reuses m06's durable propagation artifact via
    * [[mediaClusterLabels]] (the stored cluster table — parquet on a
    * cold session, the memoized handle when warm; NEVER a live
    * re-propagation) joined to the two-column byte catalog; one
    * cluster-keyed window over dup-fraction-sized rows. Payloads are
    * never read — length() prunes to metadata. PlanAuditSpec pins the
    * no-propagation shape: m07's outer plan has exactly the one
    * catalog join and no frame-digest stages.
    */
  def m07MediaSurvivors(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nb = mediaTable(spark, dir)
      .select($"doc_id", length($"payload").cast("long").as("n_bytes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id").orderBy($"n_bytes".desc, $"doc_id")
    mediaClusterLabels(spark, dir)
      .select($"label".as("cluster_id"), $"id".as("doc_id"))
      .join(nb, "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(when($"rn" === 1, $"doc_id")).as("survivor_doc_id"),
        max(when($"rn" === 1, $"n_bytes")).as("survivor_n_bytes"))
      .withColumn("same_as_min_id",
        when($"survivor_doc_id" === $"cluster_id", 1L).otherwise(0L))
      .orderBy($"cluster_id")
  }

  /** m08's perceptual-hash geometry: 56 "pixel" chunks (the repo's
    * 56-bit signature convention, d04's SimBits — bit 63 stays clear
    * so neither engine touches BIGINT sign semantics). The Hamming
    * cap is perceptual-scale, NOT d04's lexical 3: aHash distances
    * between re-encodes run ~10 % of the bits (classic aHash practice
    * thresholds 64-bit hashes at ~10), and on this corpus the nearest
    * image pairs sit at 9-13 bits. Candidate generation is
    * multi-index hashing (Norouzi, Punjani & Fleet, CVPR 2012):
    * split the code into cap+1 = 14 blocks of 4 bits — any pair
    * within the cap agrees on >= one full block by pigeonhole.
    * Coarser blocks mean denser buckets than d04's 14-bit bands; at
    * production scale the lever is a longer code (MIH's regime:
    * 64-128 bits keeps blocks at 8+ bits for the same cap fraction),
    * not a looser guarantee.
    */
  private[graft] val PhBits = 56
  private[graft] val PhHammingCap = 13
  private[graft] val PhBands = PhHammingCap + 1
  private[graft] val PhBandBits = PhBits / PhBands

  /** m08 — IMAGE perceptual near-dup pairs by average-hash: the still
    * half of the media dedup story (m05/m06 cover video via sampled
    * frame digests; an image has one "frame", so digest equality only
    * catches byte-exact copies — a re-encode needs a PERCEPTUAL
    * hash). Classic aHash: divide the image into a fixed grid, set
    * bit i iff region i's mean intensity clears the global mean, then
    * pair up at Hamming <= [[PhHammingCap]]. Here the stubbed
    * decode (the m02 contract: payload bytes ARE the pixel stream,
    * byte value = intensity, pure-ASCII corpus so both engines read
    * identical values) makes region i the i-th of [[PhBits]] equal
    * byte chunks; the mean comparison is EXACT integer
    * cross-multiplication (chunk_sum * L >= total_sum * chunk_len —
    * no division, no doubles), so the hash is bit-identical across
    * engines. A real deployment swaps the chunk sums for decoded
    * 8x7 luma means behind [[MediaDecoder]]; everything from the bit
    * pack down is unchanged.
    *
    * Scale shape: the hash is one per-row HOF pass over the payload
    * (no shuffle); candidate generation is d04's banded pigeonhole —
    * 4 x 14-bit band-equality buckets, hamming filter BEFORE
    * distinct — so candidate volume is Σ df(band)², never |images|².
    */
  def m08ImagePhashPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ph = imagePhash(spark, dir)
    val bandVals = array((0 until PhBands).map(b =>
      shiftright($"ahash", b * PhBandBits)
        .bitwiseAND(lit((1L << PhBandBits) - 1))): _*)
    val bands = ph.select($"doc_id", $"ahash",
      posexplode(bandVals).as(Seq("band", "bv")))
    bands.as("x")
      .join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.bv" === $"y.bv" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
        bit_count($"x.ahash".bitwiseXOR($"y.ahash")).cast("long")
          .as("hamming"))
      .filter($"hamming" <= PhHammingCap)
      .distinct()
      .orderBy($"doc_a", $"doc_b")
  }

  /** The [[PhBands]] band-INDEXED values of one ahash as an array
    * column: element b is `b * 2^PhBandBits + band_b(ahash)` — the
    * band id rides in the key so two different bands sharing a bit
    * pattern can never alias in a set/bloom probe. Shared by the
    * corpus-side bloom build and the streaming guard's per-row probe
    * (m08's own self-join keys on the (band, bv) PAIR, the equivalent
    * two-column form).
    */
  private[graft] def phashBandKeys(
      ahash: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array((0 until PhBands).map(b =>
      lit(b.toLong << PhBandBits) +
        shiftright(ahash, b * PhBandBits)
          .bitwiseAND(lit((1L << PhBandBits) - 1))): _*)

  /** The corpus phash MIH index (Norouzi 2012 — the same banding m08
    * joins on) as ONE static row: map from band key to the bucket of
    * (doc_id, ahash) entries sharing it. The static side of the
    * streaming image-dup guard's stream-static cross join (the
    * centroidsAsRow/pqCodebookAsRow pattern): per arriving image the
    * guard reads exactly its [[PhBands]] buckets out of the map and
    * Hamming-verifies the candidates — EXACT m08 semantics per row,
    * no sketch approximation.
    *
    * Why not a bloom like the audio guard: band values are
    * [[PhBandBits]]=4 bits wide (pigeonhole over Hamming<=13 forces 14
    * narrow bands), so the band-key universe is 14x16 = 224 values and
    * ANY corpus beyond a few hundred images saturates it — a
    * membership sketch over band keys flags every upload (measured:
    * 14/14 bands "known" for a gibberish payload at sf0.01). The
    * screen must carry the buckets, not the key set. Scale shape: the
    * map row IS the serialized MIH index (|images|x14 entries); a
    * 100 TB deployment shards the same probe as a stream-static join
    * against the stored band table co-partitioned on band key — the
    * per-row map form is its single-executor broadcast face, exactly
    * as s09's centroid row stands in for the stored IVF index.
    */
  private[graft] def phashBandIndexRow(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    imagePhash(spark, dir)
      .select(explode(phashBandKeys($"ahash")).as("bkey"),
        $"doc_id", $"ahash")
      .groupBy($"bkey")
      .agg(collect_list(struct($"doc_id", $"ahash")).as("entries"))
      .agg(map_from_arrays(collect_list($"bkey"),
        collect_list($"entries")).as("idx"))
  }

  private val phashCache = Memo.frames("m.phash")

  /** The per-image 56-bit average hash, memoized + PERSISTED (the
    * cappedShingles pattern). Two reasons, both load-bearing:
    * m08's banded self-join consumes it on both sides (unpersisted,
    * each side recomputes the full hash scan), and — the sharp one —
    * the join's hamming filter makes constraint propagation infer
    * `isnotnull(ahash)`, which predicate pushdown substitutes through
    * the staged projections into the SCAN filter, re-expanding the
    * nested sums/bs aliases to O(PhBits²·L) interpreted work per row
    * (one 750+ s task at sf0.1 vs ~3 s against the materialized
    * table; the projection staging below protects the PLAN's own
    * evaluation but cannot protect a pushed-down COPY of it). The
    * InMemoryRelation is a hard boundary no predicate rewrites into.
    * Images shorter than [[PhBits]] bytes are excluded (some grid
    * cells would be empty — the same degenerate-input rule as
    * videoFrames' empty-payload exclusion).
    */
  private def imagePhash(spark: SparkSession, dir: String): DataFrame =
    phashCache.getOrBuild((spark, dir)) {
      val df = imagePhashPlan(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize: consumers read the table, not the scan
      df
    }

  private def imagePhashPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    imagePhashArray(
      mediaTable(spark, dir).filter($"media_type" === "image")
        .select($"doc_id", $"payload"))
  }

  /** The per-row aHash projection — (doc_id, payload) → (doc_id,
    * ahash) — shared by the batch m08 build and its streaming dup
    * guard (the audioWindowArray split, same reason). With
    * `keepShort = true` a payload shorter than [[PhBits]] yields a
    * NULL ahash instead of vanishing (the guard's every-row-profiled
    * contract); the batch path filters them out up front (some grid
    * cells would be empty — the videoFrames empty-payload rule).
    */
  private[graft] def imagePhashArray(docs: DataFrame,
      keepShort: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Build-cost note (post-mortem of a measured 17.9 s cold build at
    // sf0.1): the previous final projection referenced the staged
    // sums/tot aliases ONCE each inside its per-i lambda, so
    // CollapseProject re-inlined their O(L) folds per element —
    // O(PhBits·L) per row. This expression is inline-PROOF rather
    // than inline-protected: every expensive subexpression sits in
    // ARGUMENT/ZERO position (evaluated once per row however the
    // projections collapse) — the chunk sums and lens zip as fold
    // input, the global total rides in the fold's accumulator — and
    // the lambdas touch only accumulator fields, element values, and
    // cheap attributes. `bs` keeps two references here (both slices),
    // which pins the split as before. Cold build 17.9 s → ~1 s.
    // ONE O(L) byte-value pass per row (split + ascii), then chunk
    // sums over O(L) total slice work. The staging matters (the p17
    // lesson, twice over): a substring-per-position variant measured
    // 240 s at sf0.1 (O(L²) per row), and a version where `bs` had
    // only ONE lexical use downstream was just as bad — CollapseProject
    // inlines a single-use alias into the consuming lambda however
    // expensive, re-running the split per chunk. `bs` is therefore
    // consumed TWICE in the next projection (the chunk sums AND the
    // global total), which pins it as a real projection boundary.
    // Java's split keeps a trailing "" element; the 1..L slices never
    // read it.
    val decoded = docs.select($"doc_id", $"payload".cast("string").as("s"))
    (if (keepShort) decoded else decoded.filter(length($"s") >= PhBits))
      .select($"doc_id", length($"s").cast("long").as("L"),
        expr("transform(split(s, ''), c -> CAST(ascii(c) AS BIGINT))")
          .as("bs"))
      // chunk boundaries by exact integer division; chunk i covers
      // 1-based positions ((i*L) DIV 56, ((i+1)*L) DIV 56].
      // The IF short-circuits sub-PhBits rows (possible only under
      // keepShort) to NULL before any empty-chunk slice is taken.
      .select($"doc_id", expr(
        s"""IF(L < $PhBits, CAST(NULL AS BIGINT), aggregate(
           |  zip_with(
           |    transform(sequence(0, ${PhBits - 1}),
           |      i -> aggregate(
           |        slice(bs, CAST(i * L DIV $PhBits + 1 AS INT),
           |          CAST((i + 1) * L DIV $PhBits - i * L DIV $PhBits
           |            AS INT)),
           |        0L, (a, x) -> a + x)),
           |    transform(sequence(0, ${PhBits - 1}),
           |      i -> (i + 1) * L DIV $PhBits - i * L DIV $PhBits),
           |    (cs, cl) -> named_struct('cs', cs, 'cl', cl)),
           |  named_struct('h', CAST(0 AS BIGINT), 'i', 0,
           |    't', aggregate(slice(bs, 1, CAST(L AS INT)), 0L,
           |      (a, x) -> a + x)),
           |  (acc, x) -> named_struct(
           |    'h', acc.h + IF(x.cs * L >= acc.t * x.cl,
           |      shiftleft(CAST(1 AS BIGINT), acc.i), CAST(0 AS BIGINT)),
           |    'i', acc.i + 1, 't', acc.t),
           |  acc -> acc.h))""".stripMargin).as("ahash"))
  }

  /** m09's landmark geometry. Landmark positions are CONTENT-DEFINED
    * (the CDC/winnowing idea, and what Shazam's spectral peaks give a
    * real audio pipeline): a window is taken at every anchor byte —
    * here the word-boundary byte 0x20, the natural anchor for these
    * stubbed payloads — so two streams sharing a segment select the
    * SAME in-segment positions no matter how the segment is shifted.
    * Fixed-stride sampling cannot do this: it only matches when the
    * shift happens to be a stride multiple (measured on this corpus:
    * zero pairs at stride 4, the full planted pair set anchored).
    * The vote floor is what separates real segment reuse from
    * coincidental window collisions ([[AuMinVotes]]+ hashes agreeing
    * on ONE offset delta ≈ a [[AuMinVotes]]-word aligned run); the
    * df-cap bounds the inverted index exactly like d02's
    * [[graft.pipeline.Dedup.ShingleDfCap]] — a jingle/silence window
    * shared by everything contributes C(df,2) candidates and no
    * alignment signal. The window hash is an exact BIGINT polynomial
    * fold (base 131 mod a sub-2^53 prime: a·131+x never exceeds
    * Long.Max, so Spark and DuckDB agree without overflow semantics
    * entering), not md5 — the hash feeds a join key only.
    */
  private[graft] val AuWinLen = 12
  private[pipeline] val AuAnchor = 32L // the space byte
  private[pipeline] val AuDfCap = 50
  private[graft] val AuMinVotes = 3
  private[pipeline] val AuHashMod = 9007199254740881L
  private[pipeline] val AuHashBase = 131L

  /** The per-audio landmark table (doc_id, byte offset, window hash) —
    * m09's shared derivation and its streaming guard's per-row probe
    * set. One O(L) byte pass per row (the m08 `bs` staging: the split
    * is consumed twice in the next projection, which pins it as a real
    * projection boundary instead of being re-inlined per lambda
    * element), then O(W) slice folds at the ~L/6 anchor positions.
    * A real deployment computes landmarks from decoded spectra behind
    * [[MediaDecoder]]; everything downstream is unchanged.
    */
  private[graft] def audioWindows(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    // explode_OUTER, then drop the null rows of anchor-less payloads:
    // a plain explode makes InferFiltersFromGenerate push an inferred
    // `size(wins) > 0` clone of the WHOLE landmark expression into the
    // scan filter, where the filter lambda's element_at re-evaluates
    // transform(split(payload)) PER POSITION — O(L²) per row, measured
    // 60 s for an 86k-landmark corpus vs ~1 s staged (the p17/m08
    // inlining trap in its filter-inference form; the rule skips
    // outer generates, and the null filter below is post-generate)
    audioWindowArray(media.filter($"media_type" === "audio")
        .select($"doc_id", $"payload"))
      .select($"doc_id", explode_outer($"wins"))
      .filter($"col".isNotNull)
      .select($"doc_id", $"col.off".as("off"), $"col.h".as("h"))
  }

  /** The un-exploded landmark projection — (doc_id, wins:
    * array<struct<off, h>>) per payload row. The per-row form the
    * streaming dup guard probes without any shuffle; [[audioWindows]]
    * explodes it for the batch inverted index. Input must already be
    * (doc_id, payload) of the audio stream.
    */
  private[graft] def audioWindowArray(docs: DataFrame): DataFrame =
    audioWindowArray(docs, keepShort = false)

  /** With `keepShort = true`, a payload shorter than [[AuWinLen]]
    * yields a row with an EMPTY wins array instead of vanishing — the
    * streaming dup guard's per-arriving-payload contract (every input
    * row must be profiled, a short clip as clean with n_landmarks = 0;
    * round-16 advisory). The batch path keeps the filter: its explode
    * drops empty arrays anyway, and the filter prunes them before the
    * split. `L` is the CHARACTER count of the decoded payload — the
    * same unit `bs` (the character split) is indexed in; the previous
    * byte-length L could exceed the character count on non-ASCII
    * payloads and produce truncated-slice hashes the DuckDB oracle
    * (which folds characters) would never see (round-16 advisory; on
    * this pure-ASCII corpus, asserted by MultimodalSpec, the two
    * lengths coincide and no oracle value moves).
    */
  private[graft] def audioWindowArray(docs: DataFrame,
      keepShort: Boolean): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val decoded = docs.select($"doc_id", $"payload".cast("string").as("s"))
    (if (keepShort) decoded else decoded.filter(length($"s") >= AuWinLen))
      .select($"doc_id", length($"s").cast("long").as("L"),
        expr("transform(split(s, ''), " +
          "c -> CAST(ascii(c) AS BIGINT))").as("bs"))
      // the guard: sequence(1, n) with n <= 0 counts DOWNWARD (step
      // defaults to -1), so the window expression must never see
      // L < AuWinLen — short rows short-circuit to the typed empty
      .select($"doc_id", expr(
        s"""IF(L >= $AuWinLen,
           |  transform(
           |    filter(sequence(1, CAST(L - ${AuWinLen - 1} AS INT)),
           |      p -> element_at(bs, p) = $AuAnchor),
           |    p -> named_struct(
           |      'off', CAST(p - 1 AS BIGINT),
           |      'h', aggregate(slice(bs, p, $AuWinLen), 0L,
           |        (a, x) -> (a * $AuHashBase + x) % $AuHashMod))),
           |  CAST(array() AS array<struct<off:bigint,h:bigint>>))"""
          .stripMargin).as("wins"))
  }

  /** The corpus landmark table, memoized + persisted per (session,
    * dir) — m09 consumes it three ways (the df-cap build and both
    * sides of the inverted-index self-join), and without the memo
    * each consumer re-runs the linear landmark scan (the
    * cappedShingles policy, same reason).
    */
  private def audioLandmarks(spark: SparkSession, dir: String): DataFrame =
    landmarkCache.getOrBuild((spark, dir)) {
      audioWindows(mediaTable(spark, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val landmarkCache = Memo.frames("m.landmarks")

  /** The corpus landmark table as a serialized bloom sketch over
    * xxhash64(h) longs (1 % fp) — the constant-size frozen index the
    * streaming audio-dup guard probes per row. |landmarks|-bounded
    * bytes at any corpus size, built once at ingest.
    */
  private[graft] def audioLandmarkBloomBytes(spark: SparkSession,
      dir: String): Array[Byte] = {
    import spark.implicits._
    val w = audioLandmarks(spark, dir).select($"h").distinct()
    val bf = w.select(xxhash64($"h").as("x"))
      .stat.bloomFilter("x", math.max(w.count(), 1L), 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** m09 — AUDIO near-dup pairs by offset-aligned landmark voting
    * (Wang, ISMIR 2003 — the Shazam alignment trick): two streams
    * sharing [[AuMinVotes]]+ window hashes at one consistent offset
    * delta contain an aligned common segment, which catches
    * clipped/padded re-uploads that m01's whole-payload digest misses
    * and byte-exact frame matching (m05's video path) only sees when
    * cuts land on frame boundaries — the content-defined anchoring
    * makes the alignment cut-position-invariant.
    *
    * Scale shape: the landmark table is one linear scan; the
    * inverted-index self-join is df-capped (groupBy count + left-semi,
    * the skew-safe d02 form — partial aggregation absorbs a
    * heavy-hitter hash), so candidate volume is Σ df(h)² over rare
    * hashes, never |audio|²; vote counting is a partial-aggregatable
    * groupBy on (pair, dt); the best-alignment pick is a window over
    * per-pair dt groups (bounded by the pair's own match count).
    */
  def m09AudioAlignedPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wins = audioLandmarks(spark, dir)
    val keep = wins.groupBy($"h").agg(count(lit(1)).as("n_"))
      .filter($"n_" <= AuDfCap).select($"h")
    val kept = wins.join(keep, Seq("h"), "left_semi")
    val votes = kept.as("a")
      .join(kept.as("b"),
        $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        ($"a.off" - $"b.off").as("dt"))
      .groupBy($"doc_a", $"doc_b", $"dt")
      .agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_a", $"doc_b").orderBy($"votes".desc, $"dt")
    votes.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"votes" >= AuMinVotes)
      .select($"doc_a", $"doc_b", $"dt".as("best_offset"), $"votes")
      .orderBy($"doc_a", $"doc_b")
  }

  /** m10 — the MEDIA detector-lineup audit (the m-family's d12): every
    * verified pair from the three perceptual detectors — m05's
    * containment-qualified frame-digest pairs (video), m08's
    * Hamming-capped phash pairs (image), m09's offset-aligned landmark
    * pairs (audio) — overlaid with the STORED d12 lexical/embedding
    * detector-pair artifact on the same id space (payloads derive from
    * the documents' text, so the text detectors see the same pair
    * universe). The three media detectors partition by modality
    * (doc_id % 3), so overlap AMONG them is structurally empty — the
    * priceable question is CROSS-family: rows with a media flag and
    * `in_lexical` = 0 are dups only perceptual hashing catches (the
    * recall a text-only pipeline ships), and `in_lexical`-only rows
    * within one modality are near-dup payloads the modality's
    * perceptual detector MISSED — each media detector's recall gap,
    * priced per modality exactly as d11/d12 price the text lineup.
    * `media_type` = 'cross' marks lexical pairs spanning modalities
    * (no media detector is defined there).
    *
    * Like d11's table, the per-pair flag set is a DURABLE
    * fingerprint-guarded artifact: detectors run once per corpus
    * snapshot, the union is dup-fraction-sized, audits re-read
    * verdicts. The fingerprint chains every media threshold constant
    * AND the full d11 fingerprint (which already covers the five
    * text/embedding detectors' params + source listings), so a cut
    * change ANYWHERE in either lineup invalidates the stored table.
    *
    * Scale shape: one map-side rollup of the stored artifact to at
    * most 4·2⁴ rows; the build inherits each detector's banded/
    * df-capped candidate volume plus one pair-keyed flag aggregation.
    */
  def m10MediaDetectorOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaDetectorPairs(spark, dir)
      .groupBy($"media_type", $"in_frames", $"in_phash", $"in_landmark",
        $"in_lexical")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"media_type", $"in_frames", $"in_phash", $"in_landmark",
        $"in_lexical")
  }

  private[graft] def mediaDetectorPairs(spark: SparkSession,
      dir: String): DataFrame = mediaDetectorPairsArtifact.read(spark, dir)

  private def buildMediaDetectorPairs(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    def flagged(df: DataFrame, which: Int): DataFrame = {
      val flags = (0 until 4).map(i =>
        lit(if (i == which) 1L else 0L).as(s"f$i"))
      df.select(($"doc_a" +: $"doc_b" +: flags): _*)
    }
    val frames = m05Pairs(spark, dir)
      .filter(mediaDup($"n_shared_frames", $"n_frames_a", $"n_frames_b"))
      .select($"doc_a", $"doc_b")
    val phash = m08ImagePhashPairs(spark, dir)
      .select($"doc_a", $"doc_b")
    val landmark = m09AudioAlignedPairs(spark, dir)
      .select($"doc_a", $"doc_b")
    val lexical = Dedup.detectorPairs(spark, dir)
      .select($"a_id".as("doc_a"), $"b_id".as("doc_b"))
    flagged(frames, 0)
      .unionAll(flagged(phash, 1))
      .unionAll(flagged(landmark, 2))
      .unionAll(flagged(lexical, 3))
      .groupBy($"doc_a", $"doc_b")
      .agg(max($"f0").as("in_frames"), max($"f1").as("in_phash"),
        max($"f2").as("in_landmark"), max($"f3").as("in_lexical"))
      .withColumn("media_type",
        when(modality($"doc_a") =!= modality($"doc_b"), "cross")
          .otherwise(modalityName($"doc_a")))
  }

  /** Bump when any media detector's pair semantics change in a way the
    * fingerprint's named parameters don't capture, or when the stored
    * schema changes. v1: three media flags + the lexical overlay. v2:
    * the id→modality convention joined the fingerprint's named
    * parameters.
    */
  private val M10ArtifactVersion = 2

  /** Staleness guard: every named constant the three media detectors
    * filter with, plus d11's CURRENT fingerprint (chained through
    * [[DurableArtifact.currentFingerprint]], so a d11 salt reaches
    * this artifact exactly as a d11 constant bump does) — which hashes
    * the five text/embedding detectors' thresholds and the documents/
    * embeddings source listings — so either lineup's cut change (or a
    * corpus change) invalidates this artifact transitively.
    */
  private[pipeline] val mediaDetectorPairsArtifact = new DurableArtifact(
    "m.detectorPairs", "m10_pairs",
    (spark, dir) => ArtifactStore.md5Hex(
      s"v$M10ArtifactVersion|cont=$ContainNum/$ContainDen|" +
        s"mod=$MediaModalities:$ImageMod/$AudioMod/$VideoMod|" +
        s"frame=$FrameLen/$FrameStep|" +
        s"ph=$PhBits/$PhBands/$PhBandBits/ham<=$PhHammingCap|" +
        s"au=$AuWinLen/$AuAnchor/$AuDfCap/$AuMinVotes/" +
        s"$AuHashBase/$AuHashMod|" +
        Dedup.detectorPairsArtifact.currentFingerprint(spark, dir)),
    buildMediaDetectorPairs)

  // ---------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m07_media_survivors" -> m07MediaSurvivors _,
    "m01_media_catalog" -> m01MediaCatalog _,
    "m02_decoded_features" -> m02DecodedFeatures _,
    "m03_frame_sample" -> m03FrameSample _,
    "m04_resize_plan" -> m04ResizePlan _,
    "m05_media_neardup" -> m05MediaNearDup _,
    "m06_media_clusters" -> m06MediaClusters _,
    "m08_image_phash_pairs" -> m08ImagePhashPairs _,
    "m09_audio_aligned_pairs" -> m09AudioAlignedPairs _,
    "m10_media_detector_overlap" -> m10MediaDetectorOverlap _,
  )

  // Composable oracle CTE fragments (no WITH, no final SELECT) — each
  // detector's chain is embedded by its own oracle AND by m10's
  // combined audit, the d10-embeds-d06 pattern. CTE names (m05: fr/nf/
  // pr; m08: img/a1/a2/ah; m09: au/w/keep/wk/v) are disjoint from each
  // other and from Dedup.fullDetectorPairsCtes' names.
  private lazy val m05Ctes: String =
    s"""fr AS (SELECT DISTINCT doc_id,
       |    md5(substr(text, (i * $FrameLen + 1)::BIGINT, $FrameLen)) AS g
       |  FROM documents, unnest(range(0, (strlen(text) - 1) // $FrameLen + 1,
       |                                $FrameStep)) t(i)
       |  WHERE ${modSql("doc_id")} = $VideoMod AND strlen(text) > 0),
       |nf AS (SELECT doc_id, COUNT(*) AS nf FROM fr GROUP BY doc_id),
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    COUNT(*) AS n_shared_frames
       |  FROM fr a JOIN fr b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  private lazy val m08Ctes: String =
    s"""img AS (SELECT doc_id, text AS s, length(text)::BIGINT AS L
       |  FROM documents
       |  WHERE ${modSql("doc_id")} = $ImageMod AND length(text) >= $PhBits),
       |a1 AS (SELECT doc_id, L,
       |  list_transform(range(0, $PhBits), i ->
       |    CAST(list_sum(list_transform(
       |      range(i * L // $PhBits + 1, (i + 1) * L // $PhBits + 1),
       |      p -> ascii(substr(s, p, 1)))) AS BIGINT)) AS sums,
       |  list_transform(range(0, $PhBits), i ->
       |    (i + 1) * L // $PhBits - i * L // $PhBits) AS lens
       |  FROM img),
       |a2 AS (SELECT doc_id, L, sums, lens,
       |  CAST(list_sum(sums) AS BIGINT) AS tot FROM a1),
       |ah AS (SELECT doc_id,
       |  list_reduce(list_prepend(0::BIGINT,
       |    list_transform(range(0, $PhBits), i ->
       |      CASE WHEN sums[i + 1] * L >= tot * lens[i + 1]
       |        THEN (1::BIGINT << i::INTEGER) ELSE 0::BIGINT END)),
       |    (a, x) -> a + x) AS ahash
       |  FROM a2)""".stripMargin

  private lazy val m09Ctes: String =
    s"""au AS (SELECT doc_id, text s, length(text)::BIGINT AS L
       |  FROM documents
       |  WHERE ${modSql("doc_id")} = $AudioMod AND length(text) >= $AuWinLen),
       |w AS (SELECT doc_id, p::BIGINT - 1 AS off,
       |    list_reduce(list_prepend(0::BIGINT,
       |      list_transform(range(p, p + $AuWinLen),
       |        i -> ascii(substr(s, i, 1))::BIGINT)),
       |      (a, x) -> (a * $AuHashBase + x) % $AuHashMod) AS h
       |  FROM au, unnest(range(1, L - ${AuWinLen - 2})) t(p)
       |  WHERE ascii(substr(s, p, 1)) = $AuAnchor),
       |keep AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) <= $AuDfCap),
       |wk AS (SELECT w.* FROM w JOIN keep USING (h)),
       |v AS (SELECT a.doc_id doc_a, b.doc_id doc_b,
       |    a.off - b.off AS dt, COUNT(*)::BIGINT AS votes
       |  FROM wk a JOIN wk b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3)""".stripMargin

  // NOTE: the m02/m03 oracles equate UTF-8 bytes with characters
  // (ascii()/substr() on text vs byte ops on the payload) — valid only
  // because this corpus is pure ASCII, which MultimodalSpec asserts.
  val oracles: Map[String, String] = Map(
    "m01_media_catalog" ->
      s"""SELECT doc_id,
        | CASE ${modSql("doc_id")} WHEN $ImageMod THEN 'image'
        |      WHEN $AudioMod THEN 'audio'
        |   ELSE 'video' END AS media_type,
        | strlen(text) AS n_bytes, md5(text) AS payload_md5,
        | 64 + (doc_id % 64) * 16 AS width,
        | 64 + (doc_id % 48) * 16 AS height,
        | (doc_id % 300) + 1 AS duration_s
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m02_decoded_features" ->
      """SELECT doc_id, strlen(text) AS n_bytes,
        | len(list_distinct(list_transform(string_split(text, ''),
        |   ch -> ascii(ch)))) AS n_distinct_bytes,
        | CAST(list_sum(list_transform(string_split(text, ''), ch -> ascii(ch)))
        |   AS BIGINT) AS sum_bytes,
        | CAST(list_sum(list_transform(string_split(text, ''), ch -> ascii(ch))) % 251
        |   AS BIGINT) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m03_frame_sample" ->
      s"""SELECT doc_id, u['frame_idx'] AS frame_idx, u['frame_md5'] AS frame_md5
         |FROM (SELECT doc_id, unnest(
         |   [{'frame_idx': i // $FrameStep,
         |     'frame_md5': md5(substr(text, (i * $FrameLen + 1)::BIGINT, $FrameLen))}
         |    for i in range(0, (strlen(text) - 1) // $FrameLen + 1, $FrameStep)]) AS u
         |  FROM documents WHERE ${modSql("doc_id")} = $VideoMod AND strlen(text) > 0)
         |ORDER BY doc_id, frame_idx""".stripMargin,
    "m04_resize_plan" ->
      s"""SELECT doc_id, width, height, out_w, out_h,
        | 224 - out_w AS pad_x, 224 - out_h AS pad_y
        |FROM (
        | SELECT doc_id, width, height,
        |  CASE WHEN width >= height THEN 224
        |       ELSE CAST(floor(width * 224 / height) AS BIGINT) END AS out_w,
        |  CASE WHEN width >= height THEN CAST(floor(height * 224 / width) AS BIGINT)
        |       ELSE 224 END AS out_h
        | FROM (SELECT doc_id, 64 + (doc_id % 64) * 16 AS width,
        |              64 + (doc_id % 48) * 16 AS height
        |       FROM documents WHERE ${modSql("doc_id")} = $ImageMod))
        |ORDER BY doc_id""".stripMargin,
    "m05_media_neardup" ->
      s"""WITH $m05Ctes
         |SELECT pr.doc_a, pr.doc_b, pr.n_shared_frames,
         | na.nf AS n_frames_a, nb.nf AS n_frames_b
         |FROM pr JOIN nf na ON na.doc_id = pr.doc_a
         |        JOIN nf nb ON nb.doc_id = pr.doc_b
         |ORDER BY pr.doc_a, pr.doc_b""".stripMargin,
    "m06_media_clusters" -> m06Sql,
    // m08: the same exact-integer aHash — chunk sums over byte values
    // (ascii == byte on this pure-ASCII corpus, the m02/m03 oracle
    // convention), cross-multiplied mean test, 56-bit pack — then a
    // brute-force O(images^2) hamming join (the oracle can afford it;
    // the engine bands)
    "m08_image_phash_pairs" ->
      s"""WITH $m08Ctes
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.ahash, b.ahash))::BIGINT AS hamming
         |FROM ah a JOIN ah b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ahash, b.ahash)) <= $PhHammingCap
         |ORDER BY doc_a, doc_b""".stripMargin,
    "m09_audio_aligned_pairs" ->
      s"""WITH $m09Ctes
         |SELECT doc_a, doc_b, dt AS best_offset, votes FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_a, doc_b
         |    ORDER BY votes DESC, dt) rn FROM v)
         |WHERE rn = 1 AND votes >= $AuMinVotes
         |ORDER BY doc_a, doc_b""".stripMargin,
    // m10: the three media pair chains + the full five-detector
    // lexical chain (Dedup.fullDetectorPairsCtes — the IDENTICAL pair
    // space the engine reads from the stored d11 artifact), overlaid
    // with max-flags per pair exactly as d12's oracle overlays its
    // five. CTE names across the four chains are disjoint by
    // construction (documented on each fragment).
    "m10_media_detector_overlap" ->
      s"""WITH ${Dedup.fullDetectorPairsCtes},
         |$m05Ctes,
         |$m08Ctes,
         |$m09Ctes,
         |frq AS (SELECT pr.doc_a, pr.doc_b
         |  FROM pr JOIN nf na ON na.doc_id = pr.doc_a
         |          JOIN nf nb ON nb.doc_id = pr.doc_b
         |  WHERE pr.n_shared_frames * $ContainDen >=
         |    least(na.nf, nb.nf) * $ContainNum),
         |phq AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ah a JOIN ah b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.ahash, b.ahash)) <= $PhHammingCap),
         |lmq AS (SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b, votes, row_number() OVER (
         |      PARTITION BY doc_a, doc_b ORDER BY votes DESC, dt) rn
         |    FROM v)
         |  WHERE rn = 1 AND votes >= $AuMinVotes),
         |lxq AS (SELECT a_id AS doc_a, b_id AS doc_b FROM g5),
         |u4 AS (SELECT doc_a, doc_b, 1 AS q0, 0 AS q1, 0 AS q2, 0 AS q3
         |    FROM frq
         |  UNION ALL SELECT doc_a, doc_b, 0, 1, 0, 0 FROM phq
         |  UNION ALL SELECT doc_a, doc_b, 0, 0, 1, 0 FROM lmq
         |  UNION ALL SELECT doc_a, doc_b, 0, 0, 0, 1 FROM lxq),
         |g4 AS (SELECT doc_a, doc_b, MAX(q0) q0, MAX(q1) q1,
         |    MAX(q2) q2, MAX(q3) q3
         |  FROM u4 GROUP BY 1, 2)
         |SELECT CASE WHEN ${modSql("doc_a")} != ${modSql("doc_b")} THEN 'cross'
         |    WHEN ${modSql("doc_a")} = $ImageMod THEN 'image'
         |    WHEN ${modSql("doc_a")} = $AudioMod THEN 'audio'
         |    ELSE 'video' END AS media_type,
         |  q0::BIGINT AS in_frames, q1::BIGINT AS in_phash,
         |  q2::BIGINT AS in_landmark, q3::BIGINT AS in_lexical,
         |  COUNT(*)::BIGINT AS n_pairs
         |FROM g4 GROUP BY 1, 2, 3, 4, 5
         |ORDER BY media_type, in_frames, in_phash, in_landmark,
         |  in_lexical""".stripMargin,
  ) ++ Map(
    // m07 embeds m06's recursive clustering SQL as a derived table
    // (the exportSql composition pattern) and ranks members by the
    // keep-largest-payload policy
    "m07_media_survivors" ->
      s"""WITH cl AS (SELECT cluster_id, doc_id FROM ($m06Sql)),
         |nb AS (SELECT doc_id, strlen(text)::BIGINT AS n_bytes
         |  FROM documents WHERE ${modSql("doc_id")} = $VideoMod),
         |rk AS (SELECT cl.cluster_id, cl.doc_id, nb.n_bytes,
         |    row_number() OVER (PARTITION BY cl.cluster_id
         |      ORDER BY nb.n_bytes DESC, cl.doc_id) AS rn
         |  FROM cl JOIN nb USING (doc_id))
         |SELECT cluster_id, COUNT(*) AS n_members,
         | CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
         |   AS survivor_doc_id,
         | CAST(MAX(CASE WHEN rn = 1 THEN n_bytes END) AS BIGINT)
         |   AS survivor_n_bytes,
         | CAST(CASE WHEN MAX(CASE WHEN rn = 1 THEN doc_id END) = cluster_id
         |      THEN 1 ELSE 0 END AS BIGINT) AS same_as_min_id
         |FROM rk GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
  )

  private lazy val m06Sql: String =
      s"""WITH RECURSIVE fr AS (SELECT DISTINCT doc_id,
         |    md5(substr(text, (i * $FrameLen + 1)::BIGINT, $FrameLen)) AS g
         |  FROM documents, unnest(range(0, (strlen(text) - 1) // $FrameLen + 1,
         |                                $FrameStep)) t(i)
         |  WHERE ${modSql("doc_id")} = $VideoMod AND strlen(text) > 0),
         |nf AS (SELECT doc_id, COUNT(*) AS nf FROM fr GROUP BY doc_id),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    COUNT(*) AS n_shared_frames
         |  FROM fr a JOIN fr b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |dup AS (SELECT pr.doc_a a_id, pr.doc_b b_id FROM pr
         |  JOIN nf na ON na.doc_id = pr.doc_a
         |  JOIN nf nb ON nb.doc_id = pr.doc_b
         |  WHERE pr.n_shared_frames * $ContainDen >=
         |    least(na.nf, nb.nf) * $ContainNum),
         |edges AS (SELECT a_id s, b_id d FROM dup
         |          UNION ALL SELECT b_id, a_id FROM dup),
         |reach(id, lab) AS (
         |  SELECT DISTINCT s, s FROM edges
         |  UNION
         |  SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id)
         |SELECT min(lab) AS cluster_id, id AS doc_id,
         |  (CASE WHEN min(lab) = id THEN 1 ELSE 0 END)::BIGINT AS keep
         |FROM reach GROUP BY id ORDER BY cluster_id, doc_id""".stripMargin
}
