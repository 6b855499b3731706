package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Memo, Tables}

/** Similarity search over the `embeddings` table (vec_id, embedding
  * FLOAT[64], label).
  *
  * Operators: exact brute-force top-k (the correctness baseline;
  * embarrassingly parallel — query vectors broadcast, one scan of the
  * corpus), an IVF-partitioned approximate variant (the 100 TB path:
  * corpus clustered into cells, queries probe only the nearest cells, so
  * the scan shrinks by nprobe/ncells), a corpus-wide KNN join, and the
  * IVF variant trained with deterministic Lloyd k-means (the real
  * centroid path; s02's first-k init is the degenerate seed of the same
  * machinery).
  *
  * All cosine math is a sequential left-fold in double precision,
  * mirrored exactly by the oracle SQL — IEEE-754 determinism then makes
  * scores, and therefore ranks, bit-identical across engines. K-means
  * dimension sums are integer-quantized (2^20 micro-units), so centroid
  * means are independent of partition/reduction order — the one
  * aggregation k-means needs that floating-point addition would make
  * non-reproducible on a cluster.
  *
  * Reference: RASS semantic search is knn over an HNSW index
  * (`app/main.py:1527-1560`, index mapping `main.py:563-572`); exact KNN
  * here is deterministic and strictly more correct, and IVF replaces
  * HNSW as the scale story (HNSW graphs don't shard naturally; IVF
  * cells map 1:1 onto Spark partitions). At 100 TB, k-means runs on a
  * sample with k ~ sqrt(n) cells; the seam below takes any (cid, cv)
  * DataFrame.
  */
object Similarity {

  private val NumQueries = 10
  private val TopK = 10
  private val NumCentroids = 16
  /** Cells probed per query. Deliberately FIXED while the cell count
    * scales with sqrt(n): the scan fraction nprobe/k then shrinks as
    * the corpus grows, which is the IVF scale story — and measured
    * recall against exact KNN actually rose with the corpus (0.86 at
    * sf0.01/k=22, 0.93 at sf0.1/k=45: more cells cut each cell's
    * radius faster than 4 probes lose coverage). If a deployment's s05
    * profile drifts down at much larger k, nprobe ~ sqrt(k) is the
    * lever — raise it HERE, and only here: the oracle SQL interpolates
    * this same constant into its `rn <=` bound, so one edit updates
    * both sides and the hash-match survives by construction.
    */
  private[graft] val NProbe = 4
  private val KmeansIters = 2

  /** Quantization factor for k-means dimension sums: 2^20 micro-units
    * keeps |x| <= ~1000 exactly representable to ~1e-6 and sums of
    * billions of rows far from Long overflow.
    */
  private val Quant = 1048576.0

  /** (vec_id, v: array<double>) with exact float->double widening.
    * Deliberately NOT persisted: caching was measured no faster (and
    * often slower) for the KNN variants — the InMemoryTableScan breaks
    * codegen fusion with the downstream joins, while the parquet scan
    * of the embeddings table is already cheap and column-pruned.
    */
  private[pipeline] def vectors(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
  }

  /** Fused codegen cosine (graft.rass.expressions.CosineSimilarity) —
    * bit-identical to the sequential-fold formulation (same
    * per-accumulator operation order), ~10-30x faster; norms are
    * recomputed inline by the expression, so no norm column ever
    * travels through a join.
    */
  private def cosineCol(spark: SparkSession, av: Column, bv: Column): Column = {
    graft.rass.expressions.GraftExtensions.register(spark)
    call_function("cosine_sim", av, bv)
  }

  /** s01 — exact KNN: top-10 cosine neighbors for the first 10 vectors.
    * Queries are a broadcast literal set; the corpus is scanned once and
    * only (query, candidate, score) triples — never vectors — shuffle
    * into the per-query top-k window.
    */
  def s01KnnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val q = e.filter($"vec_id" < NumQueries)
    val scored = e.as("c")
      .join(broadcast(q.as("q")), $"q.vec_id" =!= $"c.vec_id")
      .select($"q.vec_id".as("query_id"), $"c.vec_id".as("neighbor_id"),
        cosineCol(spark, $"q.v", $"c.v").as("cosine"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"neighbor_id")
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= TopK)
      .orderBy($"query_id", $"rank")
  }

  /** s02 — IVF approximate KNN: corpus assigned to the nearest of
    * k = [[recommendedCells]](n) deterministic centroids (the first k
    * vectors); each query probes its 4 nearest cells and ranks only
    * those candidates. Centroids are broadcast both times, so
    * assignment and probing are map-side; the candidate join
    * co-partitions on the cell id.
    */
  def s02IvfKnn(spark: SparkSession, dir: String): DataFrame =
    ivfKnn(spark, dir, Some(NumQueries), TopK,
      cells = corpusCells(spark, dir))

  /** s03 — KNN self-join: top-3 IVF neighbors for EVERY vector (the
    * batch "knn join" a similarity-dedup or retrieval-index build runs
    * corpus-wide). Same machinery as s02 with the query side unfiltered;
    * candidate volume stays (nprobe/ncells) x n^2 instead of n^2.
    */
  def s03KnnJoin(spark: SparkSession, dir: String): DataFrame =
    ivfKnn(spark, dir, None, 3, cells = corpusCells(spark, dir))

  /** s04 — IVF KNN with k-means-trained centroids: the production IVF
    * path (s02 with [[kmeansCentroids]] instead of the raw seed).
    */
  def s04IvfKmeans(spark: SparkSession, dir: String): DataFrame =
    ivfKnn(spark, dir, Some(NumQueries), TopK, TrainedVariant,
      corpusCells(spark, dir))

  /** The IVF INDEX — centroids and the corpus cell assignment — is an
    * ingest-time artifact, not per-query work: a production deployment
    * trains centroids once and stores every vector's cell alongside it
    * (the d03/d05 signature tables follow the same policy). Memoized
    * per (session, dir, variant) and persisted; queries only pay the
    * assignment of their own query vectors. Released via
    * [[invalidateCaches]] (same explicit-invalidation contract as
    * [[Dedup.invalidateCaches]]).
    *
    * The index is session-memoized only, never published to disk:
    * s02/s03/s04 are benchmarked as build+probe (the bench releases the
    * memo between groups so every round measures the index build), and
    * no registered query consumes the index from a separate session the
    * way x01 consumes d06's clusters.
    */
  private val SeedVariant = "seed"
  private[pipeline] val TrainedVariant = "kmeans"

  private val indexCache = Memo.cache[(SparkSession, String, String, Int),
    (DataFrame, DataFrame)]("s.ivf")

  /** k ~ sqrt(n): the retrain lever [[s06CellProfile]]'s doc prescribes
    * when the max cell share drifts. C(occ,2) candidate work per cell
    * means cost ∝ n²/k for even occupancy, so k ~ sqrt(n) keeps the
    * corpus-wide knn-join (s03) at ~n^1.5 comparisons total. The
    * registered IVF queries size their cell count with THIS function
    * over the corpus row count (the oracle SQL computes the identical
    * `round(sqrt(count(*)))` from the same table, so the two sides
    * agree at every scale factor); [[NumCentroids]] remains only as
    * the fixed-k seam default for specs and retrain evaluations.
    */
  def recommendedCells(n: Long): Int =
    math.max(1L, math.round(math.sqrt(n.toDouble))).toInt

  /** The embeddings row count, memoized per (session, dir): one
    * metadata-cheap count job sizes every registered IVF query's cell
    * count; at 100 TB this is the corpus snapshot's row count read
    * from the catalog, not a scan.
    */
  private val countCache = Memo.cache[(SparkSession, String), Long]("s.counts")

  private[pipeline] def corpusCount(spark: SparkSession, dir: String): Long =
    countCache.getOrBuild((spark, dir))(_ => vectors(spark, dir).count())

  private[pipeline] def corpusCells(spark: SparkSession, dir: String): Int =
    recommendedCells(corpusCount(spark, dir))

  private[pipeline] def ivfIndex(spark: SparkSession, dir: String,
      variant: String, cells: Int = NumCentroids): (DataFrame, DataFrame) =
    indexCache.getOrBuild((spark, dir, variant, cells)) { pins =>
      import spark.implicits._
      val e = vectors(spark, dir)
      val cents = pins(variant match {
        case TrainedVariant => kmeansCentroids(spark, e, cells, KmeansIters)
        case _ => e.filter($"vec_id" < cells)
          .select($"vec_id".as("cid"), $"v".as("cv"))
      })
      cents.count() // materialize: consumers read the artifact, not the Lloyd lineage
      (cents, pins(cellAssign(spark, e, cents)))
    }

  /** The exact brute-force top-k table, memoized per (session, dir):
    * like the IVF index it is an EVAL artifact — the recall profile
    * (s05) compares the approximate index against it repeatedly, and a
    * deployment computes the exact side once per corpus snapshot, not
    * per evaluation run. s01-the-query stays un-memoized: it is the
    * benchmark of the scan itself.
    */
  private val exactCache = Memo.frames("s.topk")

  private def exactTopK(spark: SparkSession, dir: String): DataFrame =
    exactCache.getOrBuild((spark, dir)) { pins =>
      val df = pins(s01KnnBruteForce(spark, dir))
      df.count() // materialize: consumers read the artifact, not the scan
      df
    }

  def invalidateCaches(): Unit = Memo.invalidate("s.")

  /** Deterministic Lloyd k-means over (vec_id, v) rows — the IVF
    * centroid trainer. Init = first k vectors; each iteration assigns
    * every vector to its max-cosine centroid (broadcast, map-side) and
    * recomputes centroids as the per-cell elementwise mean. The mean's
    * dimension sums run on 2^20-quantized integers, so they commute:
    * partial aggregation over any partitioning yields bit-identical
    * centroids (doubles would make the result depend on reduction
    * order). Empty cells keep their previous centroid. At scale:
    * assignment is one scan per iteration over broadcast centroids, the
    * update shuffles (cell, dim) pairs — k x 64 longs — and the trainer
    * would run on a sample, so iterations cost sample-size scans.
    */
  def kmeansCentroids(spark: SparkSession, e: DataFrame, k: Int,
      iters: Int): DataFrame = {
    import spark.implicits._
    var cents = e.filter($"vec_id" < k).select($"vec_id".as("cid"), $"v".as("cv"))
    for (_ <- 1 to iters) {
      // the vector rides THROUGH the assignment aggregate (first(v) is
      // deterministic — every scored row of one vec_id group carries
      // the same v), so the update pass below needs no join back to e:
      // one exchange per iteration instead of two, same bytes across
      // the wire (the old assign exchange was id-only but the e-join
      // re-shuffled every vector anyway). Round-20, guide §2.4.
      val assign = e.as("x").join(broadcast(cents.as("c")))
        .select($"vec_id", $"x.v".as("v"), $"cid",
          cosineCol(spark, $"x.v", $"c.cv").as("cc"))
        .groupBy($"vec_id")
        // max cosine, ties to the smallest cid (same order as the
        // row_number assignment in ivfKnn and the oracle)
        .agg(max_by($"cid", struct($"cc", -$"cid")).as("cell"),
          first($"v").as("v"))
      val sums = assign
        .select($"cell", posexplode($"v").as(Seq("pos", "x")))
        .withColumn("xq", round($"x" * Quant).cast("long"))
        .groupBy($"cell", $"pos")
        .agg(sum($"xq").as("sx"), count(lit(1)).as("cn"))
        .withColumn("m", $"sx".cast("double") / Quant / $"cn".cast("double"))
      val newCents = sums.groupBy($"cell")
        .agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
        .select($"cell".as("cid"),
          transform($"pm", r => r.getField("m")).as("cv"))
      cents = cents.as("old")
        .join(newCents.as("nw"), $"old.cid" === $"nw.cid", "left")
        .select($"old.cid", coalesce($"nw.cv", $"old.cv").as("cv"))
    }
    cents
  }

  /** Nearest-centroid cell per vector as a map-side argmax (the k-means
    * trainer's max_by shape), NOT a row_number window: the
    * broadcast-join output partial-aggregates ncells scored rows down
    * to 1 per vector before the shuffle, where a window would shuffle
    * and sort all n x ncells rows. Max cosine, ties to the smallest
    * cid — same order as the oracle's row_number formulation.
    */
  private[pipeline] def cellAssign(spark: SparkSession, e: DataFrame,
      cents: DataFrame): DataFrame = {
    import spark.implicits._
    e.as("x").join(broadcast(cents))
      .select($"x.vec_id", $"cid",
        cosineCol(spark, $"x.v", $"cv").as("ccos"))
      .groupBy($"vec_id")
      .agg(max_by($"cid", struct($"ccos", -$"cid")).as("cell"))
  }

  /** Top-[[NProbe]] cells per query as a sorted-slice aggregate over
    * the (bounded, = ncells) per-query score list: one hash aggregate
    * instead of a shuffle+sort window; ascending struct (-ccos, cid)
    * = the window's (ccos desc, cid asc). Shared by the float (s02-s04)
    * and SQ8-rescore (s08) paths so they probe identically.
    */
  private def topProbes(spark: SparkSession, q: DataFrame,
      cents: DataFrame, nprobe: Int = NProbe): DataFrame = {
    import spark.implicits._
    q.as("q").join(broadcast(cents))
      .select($"q.vec_id".as("query_id"), $"cid",
        cosineCol(spark, $"q.v", $"cv").as("ccos"))
      .groupBy($"query_id")
      .agg(slice(array_sort(collect_list(
        struct((-$"ccos").as("nc"), $"cid"))), 1, nprobe).as("top"))
      .select($"query_id", explode($"top.cid").as("cell"))
  }

  private def ivfKnn(spark: SparkSession, dir: String,
      queryLimit: Option[Int], k: Int,
      variant: String = SeedVariant,
      cells: Int = NumCentroids,
      nprobe: Int = NProbe): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val (cents, assign) = ivfIndex(spark, dir, variant, cells)
    val q = queryLimit.map(n => e.filter($"vec_id" < n)).getOrElse(e)
    val probes = topProbes(spark, q, cents, nprobe)
    val cand = probes.join(assign, "cell")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"))
    val scored = cand
      .join(q.as("qq").select($"qq.vec_id".as("query_id"), $"qq.v".as("qv")),
        "query_id")
      .join(e.as("cc").select($"cc.vec_id".as("neighbor_id"), $"cc.v".as("nv")),
        "neighbor_id")
      .select($"query_id", $"neighbor_id",
        cosineCol(spark, $"qv", $"nv").as("cosine"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id"))
        .cast("long"))
      .filter($"rank" <= k)
      .orderBy($"query_id", $"rank")
  }

  /** s03's corpus-wide ANN join at k = 2 — v08's neighbor feed (the
    * TwoNN estimator consumes the first and second nearest neighbor
    * of EVERY vector; same index, same candidate volume class).
    */
  private[pipeline] def corpusTwoNn(spark: SparkSession,
      dir: String): DataFrame =
    ivfKnn(spark, dir, None, 2, cells = corpusCells(spark, dir))

  /** [[corpusTwoNn]]'s oracle (s03's SQL at k = 2), embedded by v08. */
  private[pipeline] lazy val corpusTwoNnSql: String =
    ivfSql("", 2, s"SELECT vec_id cid, v AS cv FROM n WHERE vec_id < $CellsSub")

  /** s05 — IVF recall profile: per query, how many of the exact top-10
    * the IVF index recovered — the evaluation an ANN deployment runs
    * before trading exactness for speed, as a first-class query.
    * Integer overlap counts only, so the profile hash-matches the
    * oracle (which recomputes both sides in SQL and intersects).
    */
  def s05RecallProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact = exactTopK(spark, dir).select($"query_id", $"neighbor_id")
    val approx = s02IvfKnn(spark, dir).select($"query_id", $"neighbor_id")
    val ov = exact.intersect(approx)
      .groupBy($"query_id").agg(count(lit(1)).as("n_overlap"))
    exact.groupBy($"query_id").agg(count(lit(1)).as("n_exact"))
      .join(ov, Seq("query_id"), "left")
      .select($"query_id", $"n_exact",
        coalesce($"n_overlap", lit(0L)).as("n_overlap"))
      .orderBy($"query_id")
  }

  /** s11's probe sweep — the nprobe values the tuning curve evaluates.
    * NProbe (= 4) must be a member so the curve brackets the production
    * setting from both sides.
    */
  private[pipeline] val ProbeSweep = Seq(1, 2, 4, 8)

  /** s11 — recall-vs-nprobe tuning curve: suite-level recall of the
    * seed IVF index at each probe count in [[ProbeSweep]]. s05 profiles
    * the production nprobe per query; THIS is the evaluation that
    * justifies the setting — the knee of this curve is where a
    * deployment pins nprobe, and a drift of the curve at larger k
    * (the risk [[NProbe]]'s doc pins) shows up here as the knee moving
    * right. Candidate volume per sweep point is (nprobe/k)·n per
    * query over the SHARED session index (the sweep re-probes, it
    * never re-trains or re-assigns), and the exact side is the stored
    * brute-force eval artifact — so the whole curve costs four probe
    * passes, not four index builds.
    *
    * Output: one row per nprobe with suite totals (integer overlap
    * counts, hash-exact vs the oracle's identical four-way sweep).
    */
  def s11NprobeCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact = exactTopK(spark, dir).select($"query_id", $"neighbor_id")
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    // ONE plan for the whole curve: score the WIDEST sweep point's
    // candidates once, each tagged with the rank of its (unique) cell
    // in the query's probe order; then one windowed pass computes, per
    // row, its rank WITHIN every narrower candidate subset as a
    // conditional running count over the same (cosine desc, id) sort —
    // four sweep points share one Window sort, one exact-side join,
    // one aggregation. (The naive four-ivfKnn form measured 1.70 s at
    // sf0.1; the shared-scoring form 1.36; this one ~0.6.) A vector
    // lives in exactly one cell, so probe_rank is well-defined per
    // (query, neighbor) pair.
    val maxNp = ProbeSweep.max
    val e = vectors(spark, dir)
    val (cents, assign) = ivfIndex(spark, dir, SeedVariant,
      corpusCells(spark, dir))
    val q = e.filter($"vec_id" < NumQueries)
    val probes = q.as("q").join(broadcast(cents))
      .select($"q.vec_id".as("query_id"), $"cid",
        cosineCol(spark, $"q.v", $"cv").as("ccos"))
      .groupBy($"query_id")
      .agg(slice(array_sort(collect_list(
        struct((-$"ccos").as("nc"), $"cid"))), 1, maxNp).as("top"))
      .select($"query_id",
        posexplode($"top.cid").as(Seq("pr0", "cell")))
      .select($"query_id", ($"pr0" + 1).as("probe_rank"), $"cell")
    val scored = probes.join(assign, "cell")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"), $"probe_rank")
      .join(q.as("qq").select($"qq.vec_id".as("query_id"), $"qq.v".as("qv")),
        "query_id")
      .join(e.as("cc").select($"cc.vec_id".as("neighbor_id"), $"cc.v".as("nv")),
        "neighbor_id")
      .select($"query_id", $"neighbor_id", $"probe_rank",
        cosineCol(spark, $"qv", $"nv").as("cosine"))
    // running conditional count == rank among the np-subset when the
    // current row is IN the subset; top-k membership is then a flag
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"neighbor_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flags = ProbeSweep.map(np =>
      ($"probe_rank" <= np &&
        sum(when($"probe_rank" <= np, 1L).otherwise(0L)).over(w) <= TopK)
        .as(s"m_$np"))
    val marked = scored.select(
      Seq($"query_id", $"neighbor_id") ++ flags: _*)
    // coalesce: a (theoretical) empty join still yields 0-rows, not nulls
    def ov(np: Int) =
      coalesce(sum(when(col(s"m_$np"), 1L).otherwise(0L)), lit(0L))
        .as(s"ov_$np")
    val ovRow = marked.join(exact, Seq("query_id", "neighbor_id"))
      .agg(ov(ProbeSweep.head), ProbeSweep.tail.map(ov): _*)
    val stackExpr = s"stack(${ProbeSweep.size}, " +
      ProbeSweep.map(np => s"CAST($np AS BIGINT), ov_$np").mkString(", ") +
      ") AS (nprobe, n_overlap)"
    ovRow.crossJoin(broadcast(nExact)) // one-row scalar frame
      .select(expr(stackExpr), $"n_exact")
      .select($"nprobe", $"n_exact", $"n_overlap")
      .orderBy($"nprobe")
  }

  /** s14 — semantic dedup CLUSTERS: connected components over s07's
    * within-cell cosine pairs, each cluster keeping its lowest vec_id
    * — the prune step SemDeDup (Abbas et al. 2023) actually applies
    * after finding pairs, exactly as d06 collapses d03's lexical
    * pairs and m06 collapses m05's frame pairs. One shared
    * [[graft.pipeline.Dedup.propagateLabels]] engine serves all
    * three dup families.
    *
    * Scale shape: inherits s07's cluster-pruned pair volume (pairs
    * only within k-means cells, never corpus²) and the propagation's
    * dup-volume-sized parallelism.
    */
  def s14SemanticClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // rebuild-and-republish, like d06/m06: the contraction is what the
    // query benchmarks; consumers (s21) read the stored table
    semClusterArtifact.rebuildAndPublish(spark, dir)
      .select($"label".as("cluster_id"), $"id".as("vec_id"))
      .withColumn("keep",
        when($"vec_id" === $"cluster_id", 1L).otherwise(0L))
      .orderBy($"cluster_id", $"vec_id")
  }

  private def buildSemClusterLabels(spark: SparkSession,
      dir: String, pins: Memo.Pins): DataFrame = {
    import spark.implicits._
    graft.pipeline.Dedup.propagateLabels(spark,
      s07Pairs(spark, dir).select($"a_id", $"b_id"), "s14", pins)
  }

  /** Bump when the clustering semantics OR the stored schema change. */
  private val SemClusterArtifactVersion = 1

  /** The semantic-cluster label table as a DURABLE fingerprint-guarded
    * artifact + session memo — the shared [[DurableArtifact]] plumbing
    * (one implementation for d06/m06/s14).
    */
  private[pipeline] val semClusterArtifact = new DurableArtifact(
    "s.semClusters", "s14_clusters",
    (_, _) => s"v$SemClusterArtifactVersion|$s07FingerprintParams",
    Seq("embeddings.parquet"), buildSemClusterLabels)

  private[pipeline] def semClusterLabels(spark: SparkSession,
      dir: String): DataFrame = semClusterArtifact.read(spark, dir)

  /** s21 — SemDeDup survivor selection: d10 keeps the longest text
    * member, m07 the highest-fidelity media encode; the semantic
    * family keeps the most FLUENT member — the doc with the lowest LM
    * perplexity, i.e. the highest average bigram log-likelihood under
    * p22's CCNet-style model (Abbas et al. 2023 keep the
    * lowest-perplexity/most-representative member when collapsing a
    * semantic cluster). Ties to the smaller vec_id; members p22
    * couldn't score (under 2 tokens) rank last. One row per s14
    * cluster with the member count, the survivor and its exact
    * integer score parts, and the disagreement flag vs s14's min-id
    * default — the same audit columns as d10/m07, so all three
    * survivor passes review identically.
    *
    * Scale shape: reads the durable s14 artifact (never
    * re-propagates) and p22's memoized scored frame; one
    * cluster-keyed window over dup-fraction-sized rows. The mean is
    * compared as a double, but both engines divide the same exact
    * BIGINTs, and IEEE division is exactly rounded — bit-identical
    * ranking; the published columns stay integer.
    */
  def s21SemanticSurvivors(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scores = TextAnalysis.pplScored(spark, dir)
      .select($"doc_id".as("vec_id"), $"n_bigrams", $"sum_qll")
    val mean = $"sum_qll".cast("double") / $"n_bigrams"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id").orderBy(mean.desc_nulls_last, $"vec_id")
    semClusterLabels(spark, dir)
      .select($"label".as("cluster_id"), $"id".as("vec_id"))
      .join(scores, Seq("vec_id"), "left")
      .withColumn("rn", row_number().over(w))
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(when($"rn" === 1, $"vec_id")).as("survivor_vec_id"),
        max(when($"rn" === 1, coalesce($"sum_qll", lit(0L))))
          .as("survivor_sum_qll"),
        max(when($"rn" === 1, coalesce($"n_bigrams", lit(0L))))
          .as("survivor_n_bigrams"))
      .withColumn("same_as_min_id",
        when($"survivor_vec_id" === $"cluster_id", 1L).otherwise(0L))
      .orderBy($"cluster_id")
  }

  /** Bump when the survivor policy or stored schema changes. v2: the
    * p22 scoring-model params joined the fingerprint (chained, not
    * comment-documented).
    */
  private val SemDropArtifactVersion = 2

  /** The SemDeDup DROP list — every s14 cluster member EXCEPT s21's
    * perplexity-ranked survivor — as a durable fingerprint-guarded
    * artifact, the semantic twin of [[graft.pipeline.Dedup
    * .clusterDropList]]: the release path (x14's published manifest,
    * x11's funnel stage, x13's provenance fold) anti-joins a stored
    * list, never re-propagates. The fingerprint chains the semantic
    * THRESHOLDS by name — [[SemDedupTau]] and the trained-IVF geometry
    * arrive through the CHAINED s14 artifact fingerprint (which hashes
    * [[s07FingerprintParams]] and the embeddings listing) — plus the
    * s21 keep-rule tag, the p22 scoring-model params
    * ([[TextAnalysis.pplFingerprintParams]] — the ranking model), and
    * the documents listing (the perplexity ranking's source).
    *
    * Scale shape: reads the durable s14 label table and p22's memoized
    * scored frame; one cluster-keyed window over dup-fraction-sized
    * rows (the s21 shape); the published list is dup-fraction-sized —
    * broadcast material for every consumer.
    */
  // the s14 artifact's OWN fingerprint is CHAINED (the m10-chains-d11
  // rule): the drop list's content derives from the stored labels, so
  // an s14 version bump must invalidate this list too — s14's
  // fingerprint already covers the embeddings listing and the s07
  // params. The RANKING model's params chain the same way: p22 is a
  // session memo with no artifact fingerprint of its own, so its named
  // parameter string travels here (round-18 review — a comment telling
  // a future editor to bump the version is exactly the forgotten-bump
  // staleness class chaining exists to eliminate).
  private[pipeline] val semDropArtifact = new DurableArtifact(
    "s.semDrops", "s21_drops",
    (spark, dir) => s"v$SemDropArtifactVersion|" +
      s"s14=${semClusterArtifact.currentFingerprint(spark, dir)}|" +
      s"keep=max-mean-qll|${TextAnalysis.pplFingerprintParams}",
    Seq("documents.parquet"), (spark, dir, _) => buildSemDropList(spark, dir))

  private def buildSemDropList(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val scores = TextAnalysis.pplScored(spark, dir)
      .select($"doc_id".as("vec_id"), $"n_bigrams", $"sum_qll")
    val mean = $"sum_qll".cast("double") / $"n_bigrams"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id").orderBy(mean.desc_nulls_last, $"vec_id")
    semClusterLabels(spark, dir)
      .select($"label".as("cluster_id"), $"id".as("vec_id"))
      .join(scores, Seq("vec_id"), "left")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" > 1)
      .select($"vec_id".as("doc_id"))
  }

  private[graft] def semDropList(spark: SparkSession,
      dir: String): DataFrame = semDropArtifact.read(spark, dir)

  /** Bump when the s15 screen semantics or stored schema change. */
  private val SemContamArtifactVersion = 1

  /** s15's tau-contaminated TEST doc list as a durable artifact — the
    * embedding-space counterpart of [[graft.pipeline.TextAnalysis
    * .contaminatedDocs]], published once per corpus snapshot for the
    * release path's anti-join. The fingerprint chains [[SemDedupTau]],
    * the trained-IVF geometry, the probe depth, and the split
    * thresholds the screen's test/train sides derive from.
    */
  private[pipeline] val semContamArtifact = new DurableArtifact(
    "s.semContam", "s15_contam",
    (_, _) => s"v$SemContamArtifactVersion|$s07FingerprintParams|" +
      s"probe=$NProbe|train=${graft.pipeline.TextAnalysis.TrainMax}|" +
      s"val=${graft.pipeline.TextAnalysis.ValMax}",
    Seq("embeddings.parquet"),
    (spark, dir, _) => {
      import spark.implicits._
      s15SemanticDecontam(spark, dir)
        .filter($"contaminated" === 1L)
        .select($"test_id".as("doc_id"))
    })

  private[graft] def semContamList(spark: SparkSession,
      dir: String): DataFrame = semContamArtifact.read(spark, dir)

  /** s22's re-rank depth and relevance/diversity weight. λ = 1/2 is
    * exactly representable, so λ·rel and (1−λ)·sim are exact halvings
    * of already bit-identical cosines and the MMR score is one exact
    * IEEE subtraction — the whole greedy selection stays engine-exact
    * with no quantization step.
    */
  private[pipeline] val MmrK = 5
  private val MmrLambda = 0.5

  /** The diversity coefficient (1 − λ), spelled as its own constant so
    * the Carbonell-Goldstein form λ·rel − (1−λ)·maxsim appears
    * LITERALLY in both the Spark fold and the SQL oracle: with both
    * weights written as MmrLambda the formula was only correct because
    * λ = 1/2, and a future λ change would drift engine and oracle
    * together while dual-engine parity kept passing (round-16
    * advisory). Derived, not assignable — the two can never disagree.
    */
  private val MmrLambdaComp = 1.0 - MmrLambda

  /** s22 — MMR diversity re-rank (Carbonell & Goldstein, SIGIR 1998):
    * greedy maximal-marginal-relevance selection of [[MmrK]] results
    * out of each query's exact top-[[TopK]] pool — at each step take
    * the candidate maximizing λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s),
    * ties to the lower neighbor_id. The retrieval-layer antidote to
    * near-dup result lists: a pool full of d05-grade near-identical
    * neighbors collapses to one representative plus genuinely distinct
    * alternates (the deduped-serving story the s-family's index side
    * doesn't cover).
    *
    * Scale shape: the ONLY corpus-sized work is the pool itself (the
    * memoized [[exactTopK]] artifact — a production system feeds its
    * ANN candidates here instead, same contract); everything after is
    * per-query over k rows: the k² pairwise-sim join co-partitions on
    * query_id, and the greedy loop is ONE map-side HOF fold over each
    * query's collected (pool, sims) arrays — k⁴ integer-bounded work
    * per row, no iteration barrier, no driver loop, |Q|-parallel. At
    * 100 TB the re-rank cost grows with query volume only, never with
    * corpus size.
    */
  def s22MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pool = exactTopK(spark, dir)
      .select($"query_id", $"neighbor_id", $"cosine".as("rel"))
    val pv = pool.join(vectors(spark, dir), $"neighbor_id" === $"vec_id")
      .select($"query_id", $"neighbor_id", $"rel", $"v")
    val sims = pv.as("a")
      .join(pv.as("b"), $"a.query_id" === $"b.query_id" &&
        $"a.neighbor_id" < $"b.neighbor_id")
      .select($"a.query_id".as("query_id"), $"a.neighbor_id".as("ia"),
        $"b.neighbor_id".as("ib"),
        cosineCol(spark, $"a.v", $"b.v").as("sim"))
    val gp = pv.groupBy($"query_id")
      .agg(collect_list(struct($"neighbor_id".as("id"), $"rel")).as("pool"))
    val gs = sims.groupBy($"query_id")
      .agg(collect_list(struct($"ia", $"ib", $"sim")).as("sims"))
    // the fold's sort key k = (1−λ)·maxsim − λ·rel is the NEGATED MMR
    // score, so array_sort asc (then id asc) IS argmax-with-tiebreak;
    // the published score 0−k equals the oracle's λ·rel − (1−λ)·maxsim
    // bit-for-bit (IEEE subtraction is sign-symmetric; equal halves
    // yield +0.0 on both engines)
    gp.join(gs, Seq("query_id"), "left")
      .withColumn("sims", coalesce($"sims", expr(
        "CAST(array() AS array<struct<ia:bigint,ib:bigint,sim:double>>)")))
      .select($"query_id", posexplode(expr(
        s"""aggregate(
           |  sequence(1, $MmrK),
           |  CAST(array() AS array<struct<k:double,id:bigint,rel:double>>),
           |  (sel, step) -> concat(sel, slice(array_sort(transform(
           |    filter(pool, p -> NOT exists(sel, s -> s.id = p.id)),
           |    p -> named_struct(
           |      'k', ${MmrLambdaComp}D * coalesce(array_max(transform(sel,
           |             s -> element_at(filter(sims, x ->
           |               x.ia = least(p.id, s.id) AND
           |               x.ib = greatest(p.id, s.id)), 1).sim)), 0D)
           |           - ${MmrLambda}D * p.rel,
           |      'id', p.id,
           |      'rel', p.rel))), 1, 1)))""".stripMargin)))
      .select($"query_id", ($"pos" + 1).cast("long").as("mmr_rank"),
        $"col.id".as("neighbor_id"), $"col.rel".as("relevance"),
        (lit(0d) - $"col.k").as("mmr_score"))
      .orderBy($"query_id", $"mmr_rank")
  }

  /** The p07 split-bucket fold applied to `vec_id` — the first 16 bits
    * of md5(vec_id) as a long, the SAME deterministic content-hash
    * split [[graft.pipeline.TextAnalysis.SplitBucket]] applies to
    * documents, so the vector corpus carries a train/val/test split
    * consistent with the text pipeline's policy.
    */
  private val VecBucket = expr(
    """aggregate(split(substring(md5(cast(vec_id as string)), 1, 4), ''),
      | CAST(0 AS BIGINT),
      | (h, ch) -> h * 16 + instr('0123456789abcdef', ch) - 1)""".stripMargin)

  /** s15 — semantic DECONTAMINATION: for every TEST-split vector, its
    * best TRAIN-split match under the trained IVF index, with a
    * contaminated verdict at [[SemDedupTau]]. p09 catches verbatim
    * 13-gram leakage; this is its embedding-space counterpart — the
    * paraphrase-level test-set leakage a lexical sweep cannot see
    * (the check model releases run before publishing eval numbers).
    *
    * Shape: s10's pre-filtered candidate generation (the split
    * predicate drops non-train candidates at the ID stage, before any
    * vector loads) over the FULL test split as the query side (s03's
    * corpus-wide volume, not s02's 10-query probe), then a per-test
    * argmax and threshold verdict. Test vectors whose probed cells
    * hold no train vector keep a row (null match, verdict 0) so the
    * output accounts for every test vector.
    *
    * Scale shape: query side is the ~5% test split; candidates are
    * (nprobe/k)·|test|·(n/k)-sized, co-partitioned on cell; the split
    * predicate is a cheap md5 fold evaluated on IDs, never a
    * broadcast list.
    */
  def s15SemanticDecontam(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val test = e.filter(VecBucket >= graft.pipeline.TextAnalysis.ValMax)
    val scored = s15Scored(spark, dir)
    val best = scored.withColumn("rn", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cosine".desc, $"train_id")))
      .filter($"rn" === 1)
      .select($"query_id".as("test_id"), $"train_id".as("best_train_id"),
        $"cosine".as("best_cosine"))
    test.select($"vec_id".as("test_id"))
      .join(best, Seq("test_id"), "left")
      .select($"test_id", $"best_train_id", $"best_cosine",
        when($"best_cosine" >= SemDedupTau, lit(1L)).otherwise(0L)
          .as("contaminated"))
      .orderBy($"test_id")
  }

  /** s15's scored candidate set — every (test vector, probed-cell
    * train vector) pair with its cosine, BEFORE the per-test argmax.
    * Named so the streaming semantic-decontamination guard's twin spec
    * can prove the stream's tau-screen equals the batch screen
    * (`s15Scored.filter(cosine >= tau)`).
    */
  private[graft] def s15Scored(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val (cents, _) = ivfIndex(spark, dir, TrainedVariant,
      corpusCells(spark, dir))
    val test = e.filter(VecBucket >= graft.pipeline.TextAnalysis.ValMax)
    // the train table already carries tv — no second join against the
    // vector store for the candidate side
    topProbes(spark, test, cents).join(s15TrainTable(spark, dir), "cell")
      .select($"query_id", $"train_id", $"tv")
      .join(test.select($"vec_id".as("query_id"), $"v".as("qv")),
        "query_id")
      .select($"query_id", $"train_id",
        cosineCol(spark, $"qv", $"tv").as("cosine"))
  }

  /** The TRAIN-split side of s15's screen — (cell, train_id, tv), the
    * static table the streaming guard joins arriving vectors against.
    */
  private[graft] def s15TrainTable(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val (_, assign) = ivfIndex(spark, dir, TrainedVariant,
      corpusCells(spark, dir))
    assign.filter(VecBucket < graft.pipeline.TextAnalysis.TrainMax)
      .select($"cell", $"vec_id".as("train_id"))
      .join(e.select($"vec_id".as("train_id"), $"v".as("tv")), "train_id")
  }

  /** The trained-centroid table for [[graft.streaming.Streams]]'
    * semantic guard (cid, cv) — s15's index, exposed for the
    * stream-static side.
    */
  private[graft] def trainedCentroids(spark: SparkSession,
      dir: String): DataFrame =
    ivfIndex(spark, dir, TrainedVariant, corpusCells(spark, dir))._1

  /** s12's product-quantization geometry: [[PqSubspaces]] x
    * [[PqSubDim]] must equal the embedding dimension (64 — pinned by
    * v03's QA profile); [[PqCodes]] centroids per subspace give
    * 8-byte codes, the 32x compression IVF-PQ runs at 100 TB.
    * [[PqIters]] matches [[KmeansIters]].
    */
  private[graft] val PqSubspaces = 8
  private[graft] val PqSubDim = 8
  private[pipeline] val PqCodes = 16
  private[pipeline] val PqIters = 2

  /** s12 — product-quantization codebook profile: per (subspace, code),
    * the assigned-vector count and the summed micro-quantized squared
    * reconstruction error, after [[PqIters]] rounds of per-subspace
    * Lloyd training (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011 — the IVF-PQ half s08's SQ8 doesn't
    * cover: PQ quantizes the SPACE per subvector, SQ8 the scalars).
    * This is the codebook-quality evaluation a deployment runs before
    * committing a PQ index: a subspace whose error mass concentrates
    * in few codes needs more codes or a rotation.
    *
    * Distributed shape: ALL subspaces train in the SAME jobs — the
    * corpus explodes once per pass into (vec_id, sub, 8-dim slice)
    * rows and every aggregation keys on (sub, ...), so one scan + one
    * (sub x code x dim)-key aggregation per iteration covers all 8
    * codebooks (8 separate kmeans runs would pay 8x the scans).
    * Assignment is the map-side argmin (max_by) of [[cellAssign]];
    * centroid updates use the same 2^20-quantized commuting integer
    * sums as [[kmeansCentroids]], so codebooks are bit-identical
    * across engines and shuffle layouts; squared distances fold
    * left like every vector op here. Euclidean, not cosine — PQ
    * minimizes L2 reconstruction error.
    */
  /** The (vec_id, sub, subvector) explosion — one row per vector per
    * subspace.
    */
  private def subVectors(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    vectors(spark, dir)
      .select($"vec_id", explode(array((0 until PqSubspaces).map(s =>
        struct(lit(s.toLong).as("sub"),
          slice($"v", s * PqSubDim + 1, PqSubDim).as("x"))): _*)).as("t"))
      .select($"vec_id", $"t.sub".as("sub"), $"t.x".as("x"))
  }

  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (p, q) => (p - q) * (p - q)),
      lit(0.0), (s, t) => s + t)

  /** The trained PQ codebook — (sub, cid, cv) after [[PqIters]] Lloyd
    * rounds — memoized + persisted per (session, dir) under exactly
    * the [[ivfIndex]] artifact policy: a deployment trains the
    * codebook once per corpus snapshot and every encode/evaluate pass
    * reads it; the bench releases the memo between groups so the
    * build cost stays measured. Package-visible so the spec can
    * verify s12's assignments are exactly the argmin against these
    * centroids. The training subvector explosion is persisted for the
    * build's passes (2 per iteration) and released once the codebook
    * is materialized.
    */
  private[pipeline] def pqTrain(spark: SparkSession, dir: String): DataFrame =
    pqIndex(spark, dir)._1

  /** The full PQ INDEX — (codebook, per-vector codes). The code table
    * is what a deployment stores (8 bytes a vector); s12 profiles its
    * quality, s13 searches it. Same memo+persist artifact policy as
    * [[ivfIndex]].
    */
  private[graft] def pqIndex(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = pqIndexAt(spark, dir, PqCodes)

  /** [[pqIndex]] at an arbitrary codes-per-subspace count — the
    * retrain knob s17's rollout rule names ("retrains with more codes
    * per subspace until the profile clears"). Memoized per (session,
    * dir, nCodes) so the production 16-code index and s20's 256-code
    * retrain coexist without either rebuilding the other.
    */
  private[graft] def pqIndexAt(spark: SparkSession, dir: String,
      nCodes: Int): (DataFrame, DataFrame) =
    pqCache.getOrBuild((spark, dir, nCodes)) { pins =>
      import spark.implicits._
      // sv is released when the build returns: the value holds only
      // the codebook and the codes
      val sv = pins(subVectors(spark, dir))
      val cents = pins(trainPqCodebook(spark, sv, nCodes))
      cents.count() // materialize: consumers read the codebook, not the lineage
      val codes = pins(sv.join(broadcast(cents), "sub")
        .select($"vec_id", $"sub", $"cid", sqDist($"x", $"cv").as("dist"))
        .groupBy($"vec_id", $"sub")
        .agg(max_by(struct($"cid".as("code"), $"dist"),
          struct((-$"dist").as("nd"), (-$"cid").as("nc"))).as("best"))
        .select($"vec_id", $"sub", $"best.code".as("code"),
          $"best.dist".as("dist")))
      codes.count()
      (cents, codes)
    }

  private val pqCache = Memo.cache[(SparkSession, String, Int),
    (DataFrame, DataFrame)]("s.pq")

  private def trainPqCodebook(spark: SparkSession, sv: DataFrame,
      nCodes: Int): DataFrame = {
    import spark.implicits._
    var cents = sv.filter($"vec_id" < nCodes)
      .select($"sub", $"vec_id".as("cid"), $"x".as("cv"))
    for (_ <- 1 to PqIters) {
      val assign = sv.join(broadcast(cents), "sub")
        .select($"vec_id", $"sub", $"cid", sqDist($"x", $"cv").as("dist"))
        .groupBy($"vec_id", $"sub")
        // min distance, ties to the smallest cid — same order as the
        // oracle's row_number (dist ASC, cid)
        .agg(max_by($"cid",
          struct((-$"dist").as("nd"), (-$"cid").as("nc"))).as("cell"))
      val sums = sv.join(assign, Seq("vec_id", "sub"))
        .select($"sub", $"cell", posexplode($"x").as(Seq("pos", "xv")))
        .groupBy($"sub", $"cell", $"pos")
        .agg(sum(round($"xv" * Quant).cast("long")).as("sx"),
          count(lit(1)).as("cn"))
        .withColumn("m", $"sx".cast("double") / Quant / $"cn".cast("double"))
      val newc = sums.groupBy($"sub", $"cell")
        .agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
        .select($"sub", $"cell".as("cid"),
          transform($"pm", r => r.getField("m")).as("cv"))
      cents = cents.as("old")
        .join(newc.as("nw"),
          $"old.sub" === $"nw.sub" && $"old.cid" === $"nw.cid", "left")
        .select($"old.sub".as("sub"), $"old.cid".as("cid"),
          coalesce($"nw.cv", $"old.cv").as("cv"))
    }
    cents
  }

  def s12PqProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, codes) = pqIndex(spark, dir)
    codes
      .select($"sub", $"code",
        floor($"dist" * 1000000L).cast("long").as("em"))
      .groupBy($"sub", $"code")
      .agg(count(lit(1)).as("n_vectors"), sum($"em").as("err_micro"))
      .orderBy($"sub", $"code")
  }

  /** s13 — PQ search by asymmetric distance computation (ADC; Jégou
    * et al. 2011 §IV): each query computes its distance TABLE to all
    * [[PqCodes]] centroids per subspace (a broadcast-sized
    * queries x 8 x 16 frame), and every stored vector's approximate
    * distance is the SUM of table lookups at its 8 codes — the
    * stored vectors themselves are never read, only their codes.
    * This is the scan that makes PQ the 100 TB ANN memory layout: 8
    * bytes + 8 adds per candidate.
    *
    * Per-subspace distances are floor-micro-quantized BEFORE the sum
    * so the per-candidate total is an integer (commuting, hash-exact
    * across engines and shuffle layouts — a double sum over the
    * groupBy would be reduction-order-dependent). Top-k per query by
    * (adc ASC, neighbor) over the stored code table; self-matches
    * excluded like every KNN here.
    */
  def s13PqAdc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (cents, codes) = pqIndex(spark, dir)
    val qsv = subVectors(spark, dir).filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"sub", $"x")
    val dt = qsv.join(broadcast(cents), "sub")
      .select($"query_id", $"sub", $"cid",
        floor(sqDist($"x", $"cv") * 1000000L).cast("long").as("dm"))
    val adc = codes.join(broadcast(dt),
        codes("sub") === dt("sub") && codes("code") === dt("cid") &&
          codes("vec_id") =!= dt("query_id"))
      .select(dt("query_id"), codes("vec_id").as("neighbor_id"), dt("dm"))
      .groupBy($"query_id", $"neighbor_id")
      .agg(sum($"dm").as("adc_micro"))
    adc.withColumn("rank", row_number().over(
        Window.partitionBy($"query_id")
          .orderBy($"adc_micro", $"neighbor_id")).cast("long"))
      .filter($"rank" <= TopK)
      .orderBy($"query_id", $"rank")
  }

  /** s16 — IVF-PQ search: the two index halves COMBINED, exactly the
    * production FAISS `IndexIVFPQ` shape. s02 prunes candidates with
    * the coarse IVF (nprobe of k cells) but scores full-precision
    * vectors; s13 scores 8-byte PQ codes but scans EVERY code. s16
    * does both: candidates come from the probed cells, and only those
    * candidates' stored codes are scored by the broadcast per-query
    * distance tables — (nprobe/k)·n code-rows per query, 8 integer
    * adds each, vectors never read. At 100 TB this is the ANN
    * configuration that actually ships: the coarse quantizer bounds
    * the scan, PQ bounds the bytes.
    *
    * Determinism is s13's: per-subspace distances floor-micro-
    * quantized before the commuting integer sum; ties break to the
    * smaller neighbor id.
    */
  def s16IvfPqSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ivfPqAdc(spark, dir).withColumn("rank", row_number().over(
        Window.partitionBy($"query_id")
          .orderBy($"adc_micro", $"neighbor_id")).cast("long"))
      .filter($"rank" <= TopK)
      .orderBy($"query_id", $"rank")
  }

  /** s16's full ADC candidate table — every probed-cell candidate with
    * its integer PQ distance, BEFORE any rank cut. Shared by s16 (cut
    * at [[TopK]]) and s18 (pooled at [[RescorePool]] then refined), so
    * the two serving paths score candidates identically by
    * construction.
    */
  private[pipeline] def ivfPqAdc(spark: SparkSession, dir: String): DataFrame =
    ivfPqAdcAt(spark, dir, PqCodes)

  /** [[ivfPqAdc]] against the [[pqIndexAt]] codebooks of an arbitrary
    * code count — identical candidate generation (the coarse IVF is
    * UNCHANGED by a PQ retrain), identical micro-int determinism.
    */
  private[pipeline] def ivfPqAdcAt(spark: SparkSession, dir: String,
      nCodes: Int): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val (ivfCents, assign) = ivfIndex(spark, dir, TrainedVariant,
      corpusCells(spark, dir))
    val (pqCents, codes) = pqIndexAt(spark, dir, nCodes)
    val q = e.filter($"vec_id" < NumQueries)
    val cand = topProbes(spark, q, ivfCents).join(assign, "cell")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"))
    val dt = subVectors(spark, dir).filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"sub", $"x")
      .join(broadcast(pqCents), "sub")
      .select($"query_id", $"sub", $"cid",
        floor(sqDist($"x", $"cv") * 1000000L).cast("long").as("dm"))
    cand.as("c")
      .join(codes.select($"vec_id".as("neighbor_id"), $"sub".as("ksub"),
        $"code"), "neighbor_id")
      .join(broadcast(dt.as("d")),
        $"c.query_id" === $"d.query_id" && $"ksub" === $"d.sub" &&
          $"code" === $"d.cid")
      .select($"c.query_id".as("query_id"), $"neighbor_id", $"dm")
      .groupBy($"query_id", $"neighbor_id")
      .agg(sum($"dm").as("adc_micro"))
  }

  /** s18 — IVF-PQ with SQ8 refinement (the FAISS `IndexIVFPQR` shape,
    * and the CONCRETE serving path [[ivfPqServingDecision]] names when
    * s17's profile reads below [[IvfPqRecallFloor]]): s16's ADC scan
    * shortlists [[RescorePool]] candidates per query from the probed
    * cells' 8-byte codes, and the shortlist alone is re-ranked by the
    * exact integer int8 dot product over the stored SQ8 codes — the
    * refinement codes of a two-level compressed index. Full-precision
    * vectors are NEVER read on this path (where s08 rescores its pool
    * with float cosine, s18 stays compressed end-to-end: 8 bytes
    * scanned per candidate, d bytes read per SHORTLISTED candidate
    * only — the memory profile that serves at 100 TB when the float
    * table is cold storage).
    *
    * Determinism: ADC micro-ints (s13's argument) pick the pool, the
    * refine score is a pure BIGINT dot product (s08's argument), ties
    * break to the smaller neighbor id at both cuts — hash-exact in
    * both engines at every scale factor.
    */
  def s18PqRefine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pool = ivfPqAdc(spark, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"query_id")
          .orderBy($"adc_micro", $"neighbor_id")))
      .filter($"rn" <= RescorePool)
      .select($"query_id", $"neighbor_id")
    val qv = quantized(spark, dir)
    pool
      .join(qv.select($"vec_id".as("query_id"), $"qc".as("qa")), "query_id")
      .join(qv.select($"vec_id".as("neighbor_id"), $"qc".as("qb")),
        "neighbor_id")
      .select($"query_id", $"neighbor_id",
        aggregate(zip_with($"qa", $"qb", (a, b) => a * b), lit(0L),
          (s, x) => s + x).as("iscore"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id")
          .orderBy($"iscore".desc, $"neighbor_id")).cast("long"))
      .filter($"rank" <= TopK)
      .orderBy($"query_id", $"rank")
  }

  /** s17 — IVF-PQ recall profile: per query, s16's top-k overlap with
    * s01's exact scan — s05's acceptance eval applied to the
    * COMPRESSED serving path. s05 answers "is nprobe enough?"; this
    * answers the question that actually gates a PQ rollout: "do the
    * 8-byte codes still retrieve the true neighbors?" — recall lost
    * HERE is quantization error (per-subspace distortion, s12's
    * err_micro), not probe shortfall, and the two evals separate the
    * causes. Reads the memoized exact artifact like s05.
    */
  def s17IvfPqRecall(spark: SparkSession, dir: String): DataFrame =
    ivfPqRecallAt(spark, dir, PqCodes)

  /** The recall profile of the IVF-PQ serving path at an arbitrary
    * codes-per-subspace count — ONE definition behind s17 (production
    * 16-code index) and s20 (the 256-code retrain), so the two
    * profiles can never diverge on what "recall" means.
    */
  private def ivfPqRecallAt(spark: SparkSession, dir: String,
      nCodes: Int): DataFrame = {
    import spark.implicits._
    val exact = exactTopK(spark, dir).select($"query_id", $"neighbor_id")
    val approx = ivfPqAdcAt(spark, dir, nCodes)
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id")
          .orderBy($"adc_micro", $"neighbor_id")).cast("long"))
      .filter($"rank" <= TopK)
      .select($"query_id", $"neighbor_id")
    val ov = exact.intersect(approx)
      .groupBy($"query_id").agg(count(lit(1)).as("n_overlap"))
    exact.groupBy($"query_id").agg(count(lit(1)).as("n_exact"))
      .join(ov, Seq("query_id"), "left")
      .select($"query_id", $"n_exact",
        coalesce($"n_overlap", lit(0L)).as("n_overlap"))
      .orderBy($"query_id")
  }

  /** The rollout rule s17 exists to drive: the minimum acceptable
    * mean recall@10 for serving through the compressed IVF-PQ path
    * (s16). A deployment reads s17's profile after (re)training the
    * codebooks; below this floor it does NOT ship the 8-byte codes —
    * it serves through s08's SQ8 rescore path (int8 candidates,
    * full-precision top-k) or retrains with more codes per subspace
    * (nbits) until the profile clears. 0.7 sits between s05's 0.8
    * probe-recall floor (the uncompressed bound no PQ can beat) and
    * uselessness; on this corpus's 16-code codebooks s17 reads ~0.4,
    * so the documented decision HERE is the SQ8 fallback — recall
    * lost to PQ distortion (s12's err_micro), not probe shortfall.
    * BOTH remedies are measured: s20 exercises the retrain arm at 256
    * codes (nbits=8) and reads 0.54-0.58 at the test SFs — better,
    * still under the floor — so the fallback is the proven choice on
    * this corpus, not the assumed one.
    */
  val IvfPqRecallFloor: Double = 0.7

  /** The serving-path decision gated by s17's reading: "ivfpq" when
    * the profiled mean recall@10 clears [[IvfPqRecallFloor]], else
    * "sq8_rescore" (s08's path). Pure so the boundary is
    * spec-testable; the corpus-level decision feeds it s17's output.
    */
  def ivfPqServingDecision(meanRecall: Double): String =
    if (meanRecall >= IvfPqRecallFloor) "ivfpq" else "sq8_rescore"

  /** Mean recall@[[TopK]] off a recall-profile frame (s17/s20's
    * schema) — the number [[ivfPqServingDecision]] gates on, computed
    * the standard way (mean of per-query recalls, each query weighted
    * equally regardless of its n_exact).
    */
  def profiledMeanRecall(profile: DataFrame): Double =
    profile.agg(avg(col("n_overlap").cast("double") /
      col("n_exact").cast("double"))).head().getDouble(0)

  /** The end-to-end rollout decision for serving through nCodes-per-
    * subspace PQ codebooks on this corpus: profile → mean recall →
    * [[ivfPqServingDecision]]. This is the one-line consumer that
    * closes the loop between the rule and s17/s20's actual frames —
    * a deployment calls THIS, not the pieces.
    */
  def servingDecision(spark: SparkSession, dir: String,
      nCodes: Int = PqCodes): String =
    ivfPqServingDecision(
      profiledMeanRecall(ivfPqRecallAt(spark, dir, nCodes)))

  /** s20's retrain arm: 256 codes per subspace — nbits=8, the FAISS
    * default PQ geometry (one byte per subspace code) — against the
    * production [[PqCodes]] = 16 (nbits=4). The rollout rule names two
    * remedies below [[IvfPqRecallFloor]]: serve SQ8 (demonstrated by
    * s08/s18) or retrain with more codes; s20 EXERCISES the retrain so
    * the decision between them is measured, not assumed.
    */
  private[pipeline] val RetrainCodes = 256

  /** s20 — the retrained-codebook recall profile: s17's eval re-read
    * after retraining the s12 codebooks at [[RetrainCodes]] codes per
    * subspace on the same corpus (same Lloyd trainer, same iteration
    * budget, same coarse IVF — ONLY the codebook resolution moves).
    * Read next to s17 it isolates how much of the PQ recall loss is
    * quantization distortion recoverable by resolution: s17's 16-code
    * profile reads below the floor (the SQ8-fallback decision), and
    * this profile is the measured evidence for whether the OTHER
    * remedy the rule names actually clears it on this corpus —
    * [[servingDecision]] applied to both frames pins the outcome in
    * the spec.
    *
    * Scale shape: identical plans to s16/s17 with a 16x wider
    * broadcast codebook (256 x 8 centroids x 8 dims ~ 130 kB — still
    * nothing) and the same candidate volume; training cost stays
    * [[PqIters]] corpus passes, each now scoring 256 centroids per
    * subvector map-side.
    */
  def s20RetrainedRecall(spark: SparkSession, dir: String): DataFrame =
    ivfPqRecallAt(spark, dir, RetrainCodes)

  /** s19's refine-pool sweep — the FAISS `k_factor` values the tuning
    * curve evaluates (pool = k_factor·k). [[RescorePool]] (= 3k = 30)
    * must be a member so the curve brackets s18's production setting
    * from both sides.
    */
  private[pipeline] val PoolSweep = Seq(10, 20, 30, 60)

  /** s19 — recall-vs-refine-pool tuning curve: suite-level recall of
    * the s18 two-stage path at each shortlist size in [[PoolSweep]] —
    * the k_factor evaluation that justifies [[RescorePool]], exactly
    * as s11 justifies [[NProbe]]. The knee of this curve is where a
    * deployment pins its refinement budget: below it the int8 rescore
    * can't recover what the ADC shortlist never admitted; past it
    * every extra candidate buys nothing but full-code reads.
    *
    * One plan for the whole curve (s11's shared-sweep device): the
    * WIDEST pool's candidates are ADC-ranked and int8-scored once,
    * and one windowed pass computes each row's rank within every
    * narrower pool as a conditional running count over the same
    * (iscore DESC, neighbor) sort — four sweep points share one ADC
    * scan, one refine join, one Window sort, one aggregation.
    */
  def s19RefinePoolCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact = exactTopK(spark, dir).select($"query_id", $"neighbor_id")
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val maxR = PoolSweep.max
    val ranked = ivfPqAdc(spark, dir)
      .withColumn("adc_rank", row_number().over(
        Window.partitionBy($"query_id")
          .orderBy($"adc_micro", $"neighbor_id")))
      .filter($"adc_rank" <= maxR)
      .select($"query_id", $"neighbor_id", $"adc_rank")
    val qv = quantized(spark, dir)
    val scored = ranked
      .join(qv.select($"vec_id".as("query_id"), $"qc".as("qa")), "query_id")
      .join(qv.select($"vec_id".as("neighbor_id"), $"qc".as("qb")),
        "neighbor_id")
      .select($"query_id", $"neighbor_id", $"adc_rank",
        aggregate(zip_with($"qa", $"qb", (a, b) => a * b), lit(0L),
          (s, x) => s + x).as("iscore"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"iscore".desc, $"neighbor_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flags = PoolSweep.map(r =>
      ($"adc_rank" <= r &&
        sum(when($"adc_rank" <= r, 1L).otherwise(0L)).over(w) <= TopK)
        .as(s"m_$r"))
    val marked = scored.select(
      Seq($"query_id", $"neighbor_id") ++ flags: _*)
    def ov(r: Int) =
      coalesce(sum(when(col(s"m_$r"), 1L).otherwise(0L)), lit(0L))
        .as(s"ov_$r")
    val ovRow = marked.join(exact, Seq("query_id", "neighbor_id"))
      .agg(ov(PoolSweep.head), PoolSweep.tail.map(ov): _*)
    val stackExpr = s"stack(${PoolSweep.size}, " +
      PoolSweep.map(r => s"CAST($r AS BIGINT), ov_$r").mkString(", ") +
      ") AS (pool, n_overlap)"
    ovRow.crossJoin(broadcast(nExact))
      .select(expr(stackExpr), $"n_exact")
      .select($"pool", $"n_exact", $"n_overlap")
      .orderBy($"pool")
  }

  /** s06 — IVF cell-occupancy profile over the trained (s04) index:
    * vectors and candidate-pair volume per cell. This is the monitor
    * for s03's residual hotspot — a corpus-wide IVF knn-join pays
    * C(occupancy, 2) comparisons per cell, so one runaway cell
    * dominates the whole join; a deployment watches this profile and
    * re-trains with more cells (k ~ sqrt(n)) or splits hot cells when
    * the max share drifts. Integer outputs only, hash-matched against
    * the oracle's identical k-means + assignment CTEs.
    */
  def s06CellProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, assign) = ivfIndex(spark, dir, TrainedVariant,
      corpusCells(spark, dir))
    assign
      .groupBy($"cell").agg(count(lit(1)).as("n_vectors"))
      .select($"cell", $"n_vectors",
        expr("n_vectors * (n_vectors - 1) div 2").as("self_join_pairs"))
      .orderBy($"cell")
  }

  /** s06's occupancy math over ANY vector frame and cell count — the
    * retrain evaluation: train k cells on a sample, inspect the
    * occupancy/pair profile, and only commit the retrain (ivfIndex with
    * the new `cells`) when the max share comes down. The registered s06
    * already sizes k=[[recommendedCells]](n); this seam is how a
    * deployment evaluates a DIFFERENT candidate k (hot-cell splits, a
    * sampled retrain) without rebuilding the production index first.
    */
  def cellOccupancy(spark: SparkSession, e: DataFrame, cells: Int,
      iters: Int = KmeansIters): DataFrame = {
    import spark.implicits._
    val cents = kmeansCentroids(spark, e, cells, iters)
    cellAssign(spark, e, cents)
      .groupBy($"cell").agg(count(lit(1)).as("n_vectors"))
      .select($"cell", $"n_vectors",
        expr("n_vectors * (n_vectors - 1) div 2").as("self_join_pairs"))
      .orderBy($"cell")
  }

  /** s07's near-duplicate cosine threshold — the same synthetic-corpus
    * setting as d05's sign-LSH verifier (a production SemDeDup run uses
    * ~0.95+ on real embeddings; the knob is this one constant).
    */
  private[graft] val SemDedupTau = 0.4

  /** s07 — semantic dedup pairs, SemDeDup-style (Abbas et al. 2023,
    * arXiv:2303.09540): candidate near-duplicates are only sought
    * WITHIN a k-means cell of the trained IVF index — the cluster
    * structure prunes the O(n²) pair space to per-cell self-joins.
    * Output: every within-cell pair at cosine >= [[SemDedupTau]], the
    * pairs a SemDeDup pruner would collapse to one representative
    * (d06's connected-components does exactly that collapse for the
    * lexical pipelines; these pairs feed the same shape).
    *
    * Complements d05: sign-LSH blocks by random hyperplanes and needs
    * a band collision to surface a pair, while s07 reuses the SAME
    * trained clustering the retrieval index (s04) already maintains —
    * zero extra index state, and the candidate volume is exactly s06's
    * `self_join_pairs` column, the monitored quantity.
    *
    * Scale shape: with k ~ sqrt(n) cells (even occupancy ~sqrt(n) per
    * cell), the pair volume is ~n^1.5 like s03, co-partitioned on the
    * cell id; the verify join reads each vector's array once per side.
    */
  def s07SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    s07Pairs(spark, dir).orderBy($"cell", $"a_id", $"b_id")
  }

  /** s07's pair derivation WITHOUT the presentation sort — s14's
    * propagation input: a global sort of the pair set buys nothing
    * before a clustering pass, and persisting it would materialize the
    * range-partition exchange into the cache.
    */
  private def s07Pairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val (_, assign) = ivfIndex(spark, dir, TrainedVariant,
      corpusCells(spark, dir))
    // Attach each vector to its assignment row BEFORE the in-cell
    // self-join (guide §8: make every shuffle but the last move a
    // lightweight proxy — here the one payload-carrying move is the
    // cell-keyed self-join itself, n·d doubles per side). The r19
    // shape enumerated id-only pairs and then fetched both vectors by
    // id, which shuffled the PAIR table twice — the second fetch with
    // av already attached, i.e. pair-volume × vector-size bytes
    // (Σ|cell|² rows · d doubles) through an exchange that the
    // attach-first form never materializes: the cosine is computed
    // inside the join stage and only (cell, a_id, b_id, cosine)
    // survives. Same pair enumeration (one assignment row per vec_id,
    // a.cell == b.cell ∧ a < b), same cosineCol on the same vectors —
    // bit-identical rows.
    val av = assign.join(e, "vec_id")
    av.as("a")
      .join(av.as("b"),
        $"a.cell" === $"b.cell" && $"a.vec_id" < $"b.vec_id")
      .select($"a.cell".as("cell"), $"a.vec_id".as("a_id"),
        $"b.vec_id".as("b_id"),
        cosineCol(spark, $"a.v", $"b.v").as("cosine"))
      .filter($"cosine" >= SemDedupTau)
  }

  /** s07's verified pair set for the d12 detector-lineup audit —
    * (a_id, b_id) only, no presentation sort (the audit unions and
    * re-aggregates; a sort here would only add an exchange to the
    * artifact build).
    */
  private[pipeline] def s07AuditPairs(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    s07Pairs(spark, dir).select($"a_id", $"b_id")
  }

  /** The parameters s07's pair semantics depend on, for the d12
    * artifact fingerprint: the cosine cut and the trained-IVF geometry
    * (cell count derives from the corpus, which the fingerprint's
    * embeddings listing already covers).
    */
  private[pipeline] def s07FingerprintParams: String =
    s"tau=$SemDedupTau|ivf=$TrainedVariant/iters=$KmeansIters"

  /** s07's oracle CTE chain ending in `sem AS (SELECT a_id, b_id …)` —
    * embedded by d12's oracle so both engines derive the semantic
    * detector's pairs identically. CTE names (n, kp, cents*, assign*,
    * sums*, newc*, cents, assign, sem) must stay disjoint from the
    * lexical-detector CTEs in Dedup's d11/d12 SQL.
    */
  private[pipeline] lazy val s07PairsCteSql: String =
    s"""$VecCte,
       |$CellsCte,
       |${kmeansCtes(KmeansIters)},
       |cents AS (SELECT cid, cv FROM cents$KmeansIters),
       |assign AS (SELECT vec_id, cell FROM (
       |  SELECT x.vec_id, c.cid AS cell, row_number() OVER (
       |    PARTITION BY x.vec_id
       |    ORDER BY ${cosVSql("x.v", "c.cv")} DESC, c.cid) rn
       |  FROM n x CROSS JOIN cents c) WHERE rn = 1),
       |sem AS (SELECT a_id, b_id FROM (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    ${cosVSql("x.v", "y.v")} AS cosine
       |  FROM assign a JOIN assign b
       |    ON b.cell = a.cell AND a.vec_id < b.vec_id
       |  JOIN n x ON x.vec_id = a.vec_id
       |  JOIN n y ON y.vec_id = b.vec_id)
       |WHERE cosine >= $SemDedupTau)""".stripMargin

  /** SQ8 rescore-pool size: how many int8-ranked candidates per query
    * survive to the exact rescore. 3x the final k — the usual
    * refine-factor shape (FAISS `k_factor`); raising it trades scan
    * volume for recall, and like NProbe it is interpolated into the
    * oracle's `rn <=` bound so one edit moves both sides.
    */
  private[pipeline] val RescorePool = 3 * TopK

  /** Per-vector symmetric int8 codes (v02's quantization, exactly:
    * `q_i = floor(x_i * 127 / maxabs)`), as a long array so the dot
    * product below stays in exact integer arithmetic. All-zero vectors
    * (maxabs = 0) quantize to the zero code rather than NaN — the
    * expression must be total under plan reordering.
    */
  private def quantized(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    vectors(spark, dir)
      .withColumn("maxabs", aggregate(transform($"v", x => abs(x)),
        lit(0.0), (a, x) => greatest(a, x)))
      .withColumn("qc", when($"maxabs" > 0,
          transform($"v", x => floor(x * lit(127.0) / $"maxabs").cast("long")))
        .otherwise(transform($"v", _ => lit(0L))))
      .select($"vec_id", $"qc")
  }

  /** s08 — IVF + SQ8 rescore: the memory-bandwidth ANN path of a large
    * vector store (the IVF-with-scalar-quantizer design, e.g. FAISS
    * IVF-SQ8). The IVF probe is identical to s02's; candidates are
    * then ranked by an exact INTEGER dot product over per-vector
    * symmetric int8 codes — a quarter of float32's bytes per scanned
    * candidate, and pure long arithmetic, so both engines agree
    * bit-for-bit — and only the top-[[RescorePool]] per query are
    * re-scored with the full-precision fused cosine for the exact
    * final top-k over that pool.
    *
    * Scale shape: at 100 TB the full-precision table is the cold store
    * and the int8 codes are the hot scan set (4x smaller, int-SIMD
    * friendly); the rescore reads RescorePool x n_queries full vectors
    * — a point-lookup volume, not a scan. Candidate generation stays
    * (nprobe/k)·n per query like s02; the quantized join is
    * co-partitioned the same way.
    */
  def s08Sq8Rescore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val (cents, assign) = ivfIndex(spark, dir, SeedVariant,
      corpusCells(spark, dir))
    val q = e.filter($"vec_id" < NumQueries)
    val cand = topProbes(spark, q, cents).join(assign, "cell")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"))
    val qv = quantized(spark, dir)
    val iscored = cand
      .join(qv.select($"vec_id".as("query_id"), $"qc".as("qa")), "query_id")
      .join(qv.select($"vec_id".as("neighbor_id"), $"qc".as("qb")),
        "neighbor_id")
      .select($"query_id", $"neighbor_id",
        aggregate(zip_with($"qa", $"qb", (a, b) => a * b), lit(0L),
          (s, x) => s + x).as("iscore"))
    val pool = iscored.withColumn("rn", row_number().over(
        Window.partitionBy($"query_id")
          .orderBy($"iscore".desc, $"neighbor_id")))
      .filter($"rn" <= RescorePool)
      .select($"query_id", $"neighbor_id")
    pool
      .join(q.select($"vec_id".as("query_id"), $"v".as("qvec")), "query_id")
      .join(e.select($"vec_id".as("neighbor_id"), $"v".as("nvec")),
        "neighbor_id")
      .select($"query_id", $"neighbor_id",
        cosineCol(spark, $"qvec", $"nvec").as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id")
          .orderBy($"cosine".desc, $"neighbor_id")).cast("long"))
      .filter($"rank" <= TopK)
      .orderBy($"query_id", $"rank")
  }

  /** The base-90% trained centroids behind s09 — an ingest artifact
    * like [[ivfIndex]]'s, memoized+persisted per (session, dir) and
    * released via [[invalidateCaches]]: the Lloyd lineage would
    * otherwise re-run once per consumer of the centroid frame.
    */
  private val baseCentCache = Memo.frames("s.baseCents")

  private def baseCentroids(spark: SparkSession, dir: String,
      nBase: Long): DataFrame =
    baseCentCache.getOrBuild((spark, dir)) { pins =>
      import spark.implicits._
      val base = vectors(spark, dir).filter($"vec_id" < nBase)
      val df = pins(kmeansCentroids(spark, base, recommendedCells(nBase),
        KmeansIters))
      df.count() // materialize: consumers read the artifact, not the Lloyd lineage
      df
    }

  /** s09 — incremental IVF maintenance ("index add"): the newest ~10%
    * of vectors — the delta an ingest batch appends — are assigned to
    * the FROZEN centroids trained on the base 90%, with NO retrain,
    * and the profile reports each cell's base vs delta occupancy.
    * This is the FAISS-style `add()` path's monitoring view: adding a
    * vector to an IVF index is a map-side broadcast argmax (zero
    * global work — the property that makes IVF the 100 TB serving
    * structure), and this profile is what tells a deployment when
    * drift — delta mass concentrating in few cells — justifies the
    * k~sqrt(n) retrain that [[cellOccupancy]] evaluates. Cells are
    * k = round(sqrt(n_base)); the oracle derives the identical split
    * point `(count*9)//10` and k in-SQL, so the profile stays
    * hash-exact at every scale factor.
    */
  def s09IncrementalAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val nBase = corpusCount(spark, dir) * 9 / 10
    val cents = baseCentroids(spark, dir, nBase)
    val ba = cellAssign(spark, e.filter($"vec_id" < nBase), cents)
      .groupBy($"cell").agg(count(lit(1)).as("n_base"))
    val da = cellAssign(spark, e.filter($"vec_id" >= nBase), cents)
      .groupBy($"cell").agg(count(lit(1)).as("n_delta"))
    cents.select($"cid".as("cell"))
      .join(ba, Seq("cell"), "left")
      .join(da, Seq("cell"), "left")
      .select($"cell", coalesce($"n_base", lit(0L)).as("n_base"),
        coalesce($"n_delta", lit(0L)).as("n_delta"))
      .orderBy($"cell")
  }

  /** s10 — filtered ANN / hard-negative mining: for each query vector,
    * the top-[[TopK]] IVF candidates whose label DIFFERS from the
    * query's. This is metadata-predicate vector search (the "filtered
    * search" every production vector store serves) in its training-
    * pipeline form: nearest OUT-OF-CLASS neighbors are exactly the hard
    * negatives contrastive embedder training mines.
    *
    * The predicate applies at the candidate-ID stage — labels join onto
    * (query_id, neighbor_id) pairs, with the 10-row query side
    * broadcast — so rejected candidates are dropped BEFORE their
    * vectors are loaded or scored. Pre-filter beats post-filter here
    * for a correctness reason, not just cost: filtering s02's top-k
    * AFTER ranking under-fills k whenever probed cells are dominated
    * by same-class vectors (and at 100 TB, class-clustered cells are
    * the norm — IVF cells correlate with labels by construction).
    */
  def s10FilteredKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val labels = Tables.embeddings(spark, dir).select($"vec_id", $"label")
    val (cents, assign) = ivfIndex(spark, dir, SeedVariant,
      corpusCells(spark, dir))
    val q = e.filter($"vec_id" < NumQueries)
    val qLabels = labels.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"label".as("q_label"))
    val cand = topProbes(spark, q, cents).join(assign, "cell")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"))
      .join(broadcast(qLabels), "query_id")
      .join(labels.select($"vec_id".as("neighbor_id"),
        $"label".as("n_label")), "neighbor_id")
      .filter($"n_label" =!= $"q_label")
      .select($"query_id", $"neighbor_id")
    val scored = cand
      .join(q.as("qq").select($"qq.vec_id".as("query_id"), $"qq.v".as("qv")),
        "query_id")
      .join(e.as("cc").select($"cc.vec_id".as("neighbor_id"), $"cc.v".as("nv")),
        "neighbor_id")
      .select($"query_id", $"neighbor_id",
        cosineCol(spark, $"qv", $"nv").as("cosine"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id"))
        .cast("long"))
      .filter($"rank" <= TopK)
      .orderBy($"query_id", $"rank")
  }

  // ---------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s01_knn_bruteforce" -> s01KnnBruteForce _,
    "s02_ivf_knn" -> s02IvfKnn _,
    "s03_knn_join" -> s03KnnJoin _,
    "s04_ivf_kmeans" -> s04IvfKmeans _,
    "s05_recall_profile" -> s05RecallProfile _,
    "s06_cell_profile" -> s06CellProfile _,
    "s07_semantic_dedup" -> s07SemanticDedup _,
    "s08_sq8_rescore" -> s08Sq8Rescore _,
    "s09_incremental_assign" -> s09IncrementalAssign _,
    "s10_filtered_knn" -> s10FilteredKnn _,
    "s11_nprobe_curve" -> s11NprobeCurve _,
    "s12_pq_profile" -> s12PqProfile _,
    "s13_pq_adc" -> s13PqAdc _,
    "s14_semantic_clusters" -> s14SemanticClusters _,
    "s21_semantic_survivors" -> s21SemanticSurvivors _,
    "s22_mmr_rerank" -> s22MmrRerank _,
    "s15_semantic_decontam" -> s15SemanticDecontam _,
    "s16_ivfpq_search" -> s16IvfPqSearch _,
    "s17_ivfpq_recall" -> s17IvfPqRecall _,
    "s18_pq_refine" -> s18PqRefine _,
    "s19_refine_pool_curve" -> s19RefinePoolCurve _,
    "s20_retrained_recall" -> s20RetrainedRecall _,
  )

  /** Inline sequential-fold cosine over two vector SQL expressions
    * (norms recomputed inline — the same op order as `cosine_sim`).
    */
  private def cosVSql(a: String, b: String): String = {
    def ss(x: String) =
      s"sqrt(list_reduce(list_prepend(0.0::DOUBLE, " +
        s"list_transform($x, t -> t * t)), (s, t) -> s + t))"
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(" +
      s"list_zip($a, $b), p -> p[1] * p[2])), (s, x) -> s + x)" +
      s" / (${ss(a)} * ${ss(b)})"
  }

  private val VecCte =
    "n AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)"

  /** [[VecBucket]] in DuckDB SQL, parameterized by the id column —
    * the identical 16-bit md5-prefix fold TextAnalysis's BUCKET runs
    * on doc_id.
    */
  private def bucketSql(col: String): String =
    s"list_reduce(list_prepend(0::BIGINT, " +
      s"list_transform(string_split(substr(md5($col::VARCHAR), 1, 4), ''), " +
      s"ch -> (instr('0123456789abcdef', ch) - 1)::BIGINT)), " +
      s"(h, c) -> h * 16 + c)"

  /** The oracle's cell count: `round(sqrt(count(*)))` over the same
    * table [[corpusCells]] counts — both sides derive k from the
    * corpus, so the registered IVF queries stay hash-exact at every
    * scale factor instead of pinning a k sized to one SF.
    */
  private val CellsCte =
    "kp AS (SELECT CAST(round(sqrt(count(*))) AS INTEGER) AS cells FROM n)"
  private val CellsSub = "(SELECT cells FROM kp)"

  private lazy val s01Sql =
    s"""WITH $VecCte,
       |q AS (SELECT * FROM n WHERE vec_id < $NumQueries),
       |scored AS (SELECT q.vec_id query_id, c.vec_id neighbor_id,
       |    ${cosVSql("q.v", "c.v")} AS cosine
       |  FROM q JOIN n c ON c.vec_id != q.vec_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** s22's oracle: the greedy MMR selection unrolled as [[MmrK]] CTE
    * steps (select → score remaining against the grown set → pick),
    * the same math the Spark side folds in one pass — `score DESC` is
    * exactly the fold's `k ASC` (exact negation), so both engines walk
    * identical argmax/tie sequences.
    */
  private lazy val s22Sql: String = {
    val sb = new StringBuilder(
      s"""WITH $VecCte,
         |q AS (SELECT * FROM n WHERE vec_id < $NumQueries),
         |scored AS (SELECT q.vec_id query_id, c.vec_id neighbor_id,
         |    ${cosVSql("q.v", "c.v")} AS rel
         |  FROM q JOIN n c ON c.vec_id != q.vec_id),
         |pool AS (SELECT query_id, neighbor_id, rel FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, neighbor_id) rk FROM scored)
         |  WHERE rk <= $TopK),
         |pv AS (SELECT p.query_id, p.neighbor_id, p.rel, n.v
         |  FROM pool p JOIN n ON n.vec_id = p.neighbor_id),
         |sims AS (SELECT a.query_id, a.neighbor_id ia, b.neighbor_id ib,
         |    ${cosVSql("a.v", "b.v")} AS sim
         |  FROM pv a JOIN pv b ON a.query_id = b.query_id
         |    AND a.neighbor_id < b.neighbor_id),
         |sel1 AS (SELECT query_id, neighbor_id, rel,
         |    $MmrLambda * rel - $MmrLambdaComp * 0.0 AS score,
         |    CAST(1 AS BIGINT) AS mmr_rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, neighbor_id) rn FROM pool)
         |  WHERE rn = 1)""".stripMargin)
    for (t <- 2 to MmrK) {
      val p = t - 1
      sb.append(s""",
         |cand$t AS (SELECT p.query_id, p.neighbor_id, p.rel,
         |    $MmrLambda * p.rel - $MmrLambdaComp * MAX(m.sim) AS score
         |  FROM pool p
         |  JOIN sel$p s ON s.query_id = p.query_id
         |  JOIN sims m ON m.query_id = p.query_id
         |    AND m.ia = LEAST(p.neighbor_id, s.neighbor_id)
         |    AND m.ib = GREATEST(p.neighbor_id, s.neighbor_id)
         |  WHERE NOT EXISTS (SELECT 1 FROM sel$p s2
         |    WHERE s2.query_id = p.query_id
         |      AND s2.neighbor_id = p.neighbor_id)
         |  GROUP BY 1, 2, 3),
         |sel$t AS (SELECT * FROM sel$p UNION ALL
         |  SELECT query_id, neighbor_id, rel, score,
         |    CAST($t AS BIGINT) AS mmr_rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) rn FROM cand$t)
         |  WHERE rn = 1)""".stripMargin)
    }
    sb.append(s"""
       |SELECT query_id, mmr_rank, neighbor_id, rel AS relevance,
       |  score AS mmr_score
       |FROM sel$MmrK ORDER BY query_id, mmr_rank""".stripMargin)
    sb.toString
  }

  private lazy val s02Sql = ivfSql(s"WHERE vec_id < $NumQueries", TopK,
    s"SELECT vec_id cid, v AS cv FROM n WHERE vec_id < $CellsSub")

  /** s12's oracle: the per-subspace Lloyd iterations as chained CTEs
    * (kmeansCtes with the extra `sub` key and Euclidean distance),
    * identical quantized means and tie order.
    */
  private def pqSqd(x: String, c: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(" +
      s"list_zip($x, $c), p -> (p[1]-p[2])*(p[1]-p[2]))), (s, t) -> s + t)"

  /** The PQ training + encode CTE chain (through `codes` =
    * (vec_id, sub, code, dist)) — shared by the s12 and s13 oracles
    * exactly as [[pqIndex]] feeds both Spark sides.
    */
  private lazy val pqCteChain: String = s"$VecCte,\n$pqCtesAfterVec"

  /** The PQ training + encode chain WITHOUT the leading vector CTE —
    * composable after [[ivfCandCtes]] (which already defines `n`) for
    * s16's combined IVF-PQ oracle. Parameterized by the
    * codes-per-subspace count exactly as [[pqIndexAt]] is, so s20's
    * retrain oracle replays the identical training at 256 codes.
    */
  private lazy val pqCtesAfterVec: String = pqCtesAfterVecAt(PqCodes)

  private def pqCtesAfterVecAt(nCodes: Int): String = {
    val sb = new StringBuilder(
      s"""sv AS (SELECT vec_id, s AS sub,
         |  v[(s*$PqSubDim+1):(s*$PqSubDim+$PqSubDim)] AS x
         |  FROM n, unnest(range($PqSubspaces)) t(s)),
         |c0 AS (SELECT sub, vec_id AS cid, x AS cv FROM sv
         |  WHERE vec_id < $nCodes)""".stripMargin)
    for (i <- 1 to PqIters) {
      val p = s"c${i - 1}"
      sb.append(s""",
        |a$i AS (SELECT vec_id, sub, cell FROM (
        |  SELECT sv.vec_id, sv.sub, c.cid AS cell, row_number() OVER (
        |    PARTITION BY sv.vec_id, sv.sub
        |    ORDER BY ${pqSqd("sv.x", "c.cv")} ASC, c.cid) rn
        |  FROM sv JOIN $p c ON c.sub = sv.sub) WHERE rn = 1),
        |s$i AS (SELECT a.sub, a.cell, u.pos,
        |    SUM(CAST(round(u.x * $Quant) AS BIGINT)) sx, COUNT(*) cn
        |  FROM (SELECT sv.vec_id, sv.sub, unnest(list_transform(
        |          range(len(sv.x)), j -> {'pos': j, 'x': sv.x[j+1]})) u
        |        FROM sv) q
        |  JOIN a$i a ON a.vec_id = q.vec_id AND a.sub = q.sub
        |  GROUP BY 1, 2, u.pos),
        |c$i AS (SELECT o.sub, o.cid, coalesce(nw.cv, o.cv) cv
        |  FROM $p o LEFT JOIN
        |    (SELECT sub, cell AS cid,
        |       list(CAST(sx AS DOUBLE) / $Quant / CAST(cn AS DOUBLE)
        |            ORDER BY pos) cv
        |     FROM s$i GROUP BY 1, 2) nw
        |  ON nw.sub = o.sub AND nw.cid = o.cid)""".stripMargin)
    }
    sb.append(s""",
      |codes AS (SELECT vec_id, sub, cell AS code, dist FROM (
      |  SELECT sv.vec_id, sv.sub, c.cid AS cell,
      |    ${pqSqd("sv.x", "c.cv")} AS dist,
      |    row_number() OVER (PARTITION BY sv.vec_id, sv.sub
      |      ORDER BY ${pqSqd("sv.x", "c.cv")} ASC, c.cid) rn
      |  FROM sv JOIN c$PqIters c ON c.sub = sv.sub) WHERE rn = 1)""".stripMargin)
    sb.toString
  }

  private lazy val s12Sql: String =
    s"""WITH $pqCteChain
       |SELECT sub, code, COUNT(*) AS n_vectors,
       | CAST(SUM(CAST(floor(dist * 1000000) AS BIGINT)) AS BIGINT)
       |   AS err_micro
       |FROM codes GROUP BY 1, 2 ORDER BY sub, code""".stripMargin

  private lazy val s13Sql: String =
    s"""WITH $pqCteChain,
       |qsv AS (SELECT vec_id AS query_id, sub, x FROM sv
       |  WHERE vec_id < $NumQueries),
       |dtab AS (SELECT q.query_id, q.sub, c.cid,
       |    CAST(floor(${pqSqd("q.x", "c.cv")} * 1000000) AS BIGINT) dm
       |  FROM qsv q JOIN c$PqIters c ON c.sub = q.sub),
       |adc AS (SELECT d.query_id, k.vec_id AS neighbor_id,
       |    CAST(SUM(d.dm) AS BIGINT) adc_micro
       |  FROM codes k JOIN dtab d
       |    ON d.sub = k.sub AND d.cid = k.code AND k.vec_id != d.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, adc_micro, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_micro, neighbor_id) AS rank FROM adc)
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** s07's oracle SQL, named so the s14 cluster oracle can embed
    * the identical pair derivation.
    */
  /** The combined IVF-PQ CTE chain through `adc` (every probed-cell
    * candidate's integer PQ distance, uncut) — the oracle twin of
    * [[ivfPqAdc]], shared by the s16, s17, and s18 oracles exactly as
    * the Spark side shares the one ADC frame.
    */
  private lazy val ivfPqAdcCtes: String = ivfPqAdcCtesAt(PqCodes)

  private def ivfPqAdcCtesAt(nCodes: Int): String =
    s"""${ivfCandCtes(s"WHERE vec_id < $NumQueries",
          s"SELECT cid, cv FROM cents$KmeansIters",
          kmeansCtes(KmeansIters))},
       |${pqCtesAfterVecAt(nCodes)},
       |qsv AS (SELECT vec_id AS query_id, sub, x FROM sv
       |  WHERE vec_id < $NumQueries),
       |dtab AS (SELECT q2.query_id, q2.sub, c.cid,
       |    CAST(floor(${pqSqd("q2.x", "c.cv")} * 1000000) AS BIGINT) dm
       |  FROM qsv q2 JOIN c$PqIters c ON c.sub = q2.sub),
       |adc AS (SELECT d.query_id, k.vec_id AS neighbor_id,
       |    CAST(SUM(d.dm) AS BIGINT) adc_micro
       |  FROM cand x JOIN codes k ON k.vec_id = x.neighbor_id
       |    JOIN dtab d ON d.query_id = x.query_id
       |      AND d.sub = k.sub AND d.cid = k.code
       |  GROUP BY 1, 2)""".stripMargin

  /** s16's oracle, named so the s17 recall oracle embeds the
    * identical IVF-PQ ranking.
    */
  private lazy val s16Sql: String = s16SqlAt(PqCodes)

  private def s16SqlAt(nCodes: Int): String =
    s"""WITH ${ivfPqAdcCtesAt(nCodes)}
       |SELECT query_id, neighbor_id, adc_micro, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_micro, neighbor_id) AS rank FROM adc)
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** The recall-profile oracle at an arbitrary code count — shared by
    * the s17 and s20 entries exactly as [[ivfPqRecallAt]] backs both
    * Spark sides.
    */
  private def ivfPqRecallSqlAt(nCodes: Int): String =
    s"""WITH exact AS (SELECT query_id, neighbor_id FROM ($s01Sql)),
       |approx AS (SELECT query_id, neighbor_id FROM (${s16SqlAt(nCodes)})),
       |ov AS (SELECT query_id, count(*) n_overlap FROM
       |  (SELECT * FROM exact INTERSECT SELECT * FROM approx)
       |  GROUP BY query_id)
       |SELECT e.query_id, count(*) AS n_exact,
       |  coalesce(min(ov.n_overlap), 0) AS n_overlap
       |FROM exact e LEFT JOIN ov ON ov.query_id = e.query_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  /** s18's oracle: the shared ADC chain pooled at [[RescorePool]],
    * then the int8 refinement — the [[qvCte]] code table and an exact
    * BIGINT dot product, final top-[[TopK]] by (iscore DESC,
    * neighbor_id). Parameterized by the pool size so s19's sweep
    * replays the identical ranking at every k_factor.
    */
  private def s18SqlAt(pool: Int): String =
    s"""WITH $ivfPqAdcCtes,
       |pool AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_micro, neighbor_id) AS rn FROM adc)
       |  WHERE rn <= $pool),
       |$qvCte,
       |refined AS (SELECT p.query_id, p.neighbor_id,
       |    list_reduce(list_prepend(0::BIGINT, list_transform(
       |      list_zip(a.qc, b.qc), p2 -> p2[1] * p2[2])), (s, x) -> s + x)
       |      AS iscore
       |  FROM pool p JOIN qv a ON a.vec_id = p.query_id
       |              JOIN qv b ON b.vec_id = p.neighbor_id)
       |SELECT query_id, neighbor_id, iscore, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY iscore DESC, neighbor_id) AS rank FROM refined)
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  private lazy val s07Sql: String =
    s"""WITH $VecCte,
         |$CellsCte,
         |${kmeansCtes(KmeansIters)},
         |cents AS (SELECT cid, cv FROM cents$KmeansIters),
         |assign AS (SELECT vec_id, cell FROM (
         |  SELECT x.vec_id, c.cid AS cell, row_number() OVER (
         |    PARTITION BY x.vec_id
         |    ORDER BY ${cosVSql("x.v", "c.cv")} DESC, c.cid) rn
         |  FROM n x CROSS JOIN cents c) WHERE rn = 1)
         |SELECT * FROM (
         |  SELECT a.cell AS cell, a.vec_id AS a_id, b.vec_id AS b_id,
         |    ${cosVSql("x.v", "y.v")} AS cosine
         |  FROM assign a JOIN assign b
         |    ON b.cell = a.cell AND a.vec_id < b.vec_id
         |  JOIN n x ON x.vec_id = a.vec_id
         |  JOIN n y ON y.vec_id = b.vec_id)
         |WHERE cosine >= $SemDedupTau
         |ORDER BY cell, a_id, b_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "s12_pq_profile" -> s12Sql,
    "s13_pq_adc" -> s13Sql,
    "s16_ivfpq_search" -> s16Sql,
    "s18_pq_refine" -> s18SqlAt(RescorePool),
    "s19_refine_pool_curve" -> {
      val per = PoolSweep.map { r =>
        s"""SELECT CAST($r AS BIGINT) AS pool,
           |  (SELECT count(*) FROM exact) AS n_exact,
           |  (SELECT count(*) FROM (
           |     SELECT query_id, neighbor_id FROM (${s18SqlAt(r)})
           |     INTERSECT SELECT query_id, neighbor_id FROM exact))
           |    AS n_overlap""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH exact AS (SELECT query_id, neighbor_id FROM ($s01Sql))
         |$per
         |ORDER BY pool""".stripMargin
    },
    "s17_ivfpq_recall" -> ivfPqRecallSqlAt(PqCodes),
    "s20_retrained_recall" -> ivfPqRecallSqlAt(RetrainCodes),
    "s15_semantic_decontam" ->
      s"""WITH ${ivfCandCtes(
            s"WHERE ${bucketSql("vec_id")} >= ${TextAnalysis.ValMax}",
            s"SELECT cid, cv FROM cents$KmeansIters",
            kmeansCtes(KmeansIters))},
         |tcand AS (SELECT query_id, neighbor_id FROM cand
         |  WHERE ${bucketSql("neighbor_id")} < ${TextAnalysis.TrainMax}),
         |scored AS (SELECT d.query_id, d.neighbor_id,
         |    ${cosVSql("q.v", "c.v")} AS cosine
         |  FROM tcand d JOIN q ON q.vec_id = d.query_id
         |               JOIN n c ON c.vec_id = d.neighbor_id),
         |best AS (SELECT query_id, neighbor_id, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) rn FROM scored)
         |  WHERE rn = 1)
         |SELECT q.vec_id AS test_id, b.neighbor_id AS best_train_id,
         |  b.cosine AS best_cosine,
         |  CAST(CASE WHEN b.cosine >= $SemDedupTau THEN 1 ELSE 0 END
         |    AS BIGINT) AS contaminated
         |FROM q LEFT JOIN best b ON b.query_id = q.vec_id
         |ORDER BY test_id""".stripMargin,
    "s14_semantic_clusters" ->
      s"""WITH RECURSIVE dup AS (
         |  SELECT a_id, b_id FROM ($s07Sql)),
         |edges AS (SELECT a_id s, b_id d FROM dup
         |          UNION ALL SELECT b_id, a_id FROM dup),
         |reach(id, lab) AS (
         |  SELECT DISTINCT s, s FROM edges
         |  UNION
         |  SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id)
         |SELECT min(lab) AS cluster_id, id AS vec_id,
         |  (CASE WHEN min(lab) = id THEN 1 ELSE 0 END)::BIGINT AS keep
         |FROM reach GROUP BY id ORDER BY cluster_id, vec_id""".stripMargin,
    "s21_semantic_survivors" ->
      s"""WITH RECURSIVE dup AS (
         |  SELECT a_id, b_id FROM ($s07Sql)),
         |edges AS (SELECT a_id s, b_id d FROM dup
         |          UNION ALL SELECT b_id, a_id FROM dup),
         |reach(id, lab) AS (
         |  SELECT DISTINCT s, s FROM edges
         |  UNION
         |  SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id),
         |cl AS (SELECT min(lab) AS cluster_id, id AS vec_id
         |  FROM reach GROUP BY id),
         |psc AS (SELECT doc_id, n_bigrams, sum_qll FROM
         |  (${TextAnalysis.pplScoredSql})),
         |rk AS (SELECT cl.cluster_id, cl.vec_id, psc.n_bigrams,
         |    psc.sum_qll,
         |    row_number() OVER (PARTITION BY cl.cluster_id
         |      ORDER BY (CAST(psc.sum_qll AS DOUBLE) / psc.n_bigrams)
         |        DESC NULLS LAST, cl.vec_id) rn
         |  FROM cl LEFT JOIN psc ON psc.doc_id = cl.vec_id)
         |SELECT cluster_id, COUNT(*)::BIGINT AS n_members,
         |  MAX(CASE WHEN rn = 1 THEN vec_id END) AS survivor_vec_id,
         |  MAX(CASE WHEN rn = 1 THEN COALESCE(sum_qll, 0) END)
         |    AS survivor_sum_qll,
         |  MAX(CASE WHEN rn = 1 THEN COALESCE(n_bigrams, 0) END)
         |    AS survivor_n_bigrams,
         |  (CASE WHEN MAX(CASE WHEN rn = 1 THEN vec_id END) = cluster_id
         |    THEN 1 ELSE 0 END)::BIGINT AS same_as_min_id
         |FROM rk GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "s22_mmr_rerank" -> s22Sql,
    "s01_knn_bruteforce" -> s01Sql,
    "s02_ivf_knn" -> s02Sql,
    "s05_recall_profile" ->
      s"""WITH exact AS (SELECT query_id, neighbor_id FROM ($s01Sql)),
         |approx AS (SELECT query_id, neighbor_id FROM ($s02Sql)),
         |ov AS (SELECT query_id, count(*) n_overlap FROM
         |  (SELECT * FROM exact INTERSECT SELECT * FROM approx)
         |  GROUP BY query_id)
         |SELECT e.query_id, count(*) AS n_exact,
         |  coalesce(min(ov.n_overlap), 0) AS n_overlap
         |FROM exact e LEFT JOIN ov ON ov.query_id = e.query_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,
    "s11_nprobe_curve" -> {
      val perNp = ProbeSweep.map { np =>
        val approxSql = ivfSql(s"WHERE vec_id < $NumQueries", TopK,
          s"SELECT vec_id cid, v AS cv FROM n WHERE vec_id < $CellsSub",
          "", np)
        s"""SELECT CAST($np AS BIGINT) AS nprobe,
           |  (SELECT count(*) FROM exact) AS n_exact,
           |  (SELECT count(*) FROM (
           |     SELECT query_id, neighbor_id FROM ($approxSql)
           |     INTERSECT SELECT query_id, neighbor_id FROM exact))
           |    AS n_overlap""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH exact AS (SELECT query_id, neighbor_id FROM ($s01Sql))
         |$perNp
         |ORDER BY nprobe""".stripMargin
    },
    "s03_knn_join" -> ivfSql("", 3,
      s"SELECT vec_id cid, v AS cv FROM n WHERE vec_id < $CellsSub"),
    "s04_ivf_kmeans" -> ivfSql(s"WHERE vec_id < $NumQueries", TopK,
      s"SELECT cid, cv FROM cents$KmeansIters", kmeansCtes(KmeansIters)),
    "s07_semantic_dedup" -> s07Sql,
    "s08_sq8_rescore" -> s08Sql,
    "s09_incremental_assign" -> s09Sql,
    "s10_filtered_knn" ->
      s"""WITH ${ivfCandCtes(s"WHERE vec_id < $NumQueries",
            s"SELECT vec_id cid, v AS cv FROM n WHERE vec_id < $CellsSub")},
         |lbl AS (SELECT vec_id, label FROM embeddings),
         |fcand AS (SELECT c.query_id, c.neighbor_id FROM cand c
         |  JOIN lbl ql ON ql.vec_id = c.query_id
         |  JOIN lbl nl ON nl.vec_id = c.neighbor_id
         |  WHERE nl.label != ql.label),
         |scored AS (SELECT d.query_id, d.neighbor_id,
         |    ${cosVSql("q.v", "c.v")} AS cosine
         |  FROM fcand d JOIN q ON q.vec_id = d.query_id
         |              JOIN n c ON c.vec_id = d.neighbor_id)
         |SELECT query_id, neighbor_id, cosine, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,
    "s06_cell_profile" ->
      s"""WITH $VecCte,
         |$CellsCte,
         |${kmeansCtes(KmeansIters)},
         |cents AS (SELECT cid, cv FROM cents$KmeansIters),
         |assign AS (SELECT vec_id, cell FROM (
         |  SELECT x.vec_id, c.cid AS cell, row_number() OVER (
         |    PARTITION BY x.vec_id
         |    ORDER BY ${cosVSql("x.v", "c.cv")} DESC, c.cid) rn
         |  FROM n x CROSS JOIN cents c) WHERE rn = 1)
         |SELECT cell, count(*) AS n_vectors,
         |  (count(*) * (count(*) - 1)) // 2 AS self_join_pairs
         |FROM assign GROUP BY cell ORDER BY cell""".stripMargin,
  )

  /** s09's oracle: `n` is rebound to the BASE 90% (so [[CellsCte]] and
    * [[kmeansCtes]] train on the base unchanged), the delta is the
    * remainder of `av` (all vectors), and both sides assign against
    * the frozen `cents` with the shared argmax CTE shape.
    */
  private lazy val s09Sql =
    s"""WITH av AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |nb AS (SELECT (count(*) * 9) // 10 AS nbase FROM av),
       |n AS (SELECT * FROM av WHERE vec_id < (SELECT nbase FROM nb)),
       |$CellsCte,
       |${kmeansCtes(KmeansIters)},
       |cents AS (SELECT cid, cv FROM cents$KmeansIters),
       |ba AS (SELECT cell, count(*) AS nbase_cnt FROM (
       |  SELECT x.vec_id, c.cid AS cell, row_number() OVER (
       |    PARTITION BY x.vec_id
       |    ORDER BY ${cosVSql("x.v", "c.cv")} DESC, c.cid) rn
       |  FROM n x CROSS JOIN cents c) WHERE rn = 1 GROUP BY cell),
       |delta AS (SELECT * FROM av WHERE vec_id >= (SELECT nbase FROM nb)),
       |da AS (SELECT cell, count(*) AS ndelta_cnt FROM (
       |  SELECT x.vec_id, c.cid AS cell, row_number() OVER (
       |    PARTITION BY x.vec_id
       |    ORDER BY ${cosVSql("x.v", "c.cv")} DESC, c.cid) rn
       |  FROM delta x CROSS JOIN cents c) WHERE rn = 1 GROUP BY cell)
       |SELECT c.cid AS cell, coalesce(ba.nbase_cnt, 0)::BIGINT AS n_base,
       | coalesce(da.ndelta_cnt, 0)::BIGINT AS n_delta
       |FROM cents c LEFT JOIN ba ON ba.cell = c.cid
       |             LEFT JOIN da ON da.cell = c.cid
       |ORDER BY cell""".stripMargin

  /** The k-means iterations as chained CTEs — the same quantized
    * integer dimension sums as [[kmeansCentroids]], so `cents<i>`
    * reproduces the Spark centroids bit-for-bit.
    */
  private def kmeansCtes(iters: Int): String = {
    val sb = new StringBuilder(
      s"cents0 AS (SELECT vec_id cid, v AS cv FROM n WHERE vec_id < $CellsSub)")
    for (i <- 1 to iters) {
      val prev = s"cents${i - 1}"
      sb.append(s""",
        |assign$i AS (SELECT vec_id, cell FROM (
        |  SELECT x.vec_id, c.cid AS cell, row_number() OVER (
        |    PARTITION BY x.vec_id
        |    ORDER BY ${cosVSql("x.v", "c.cv")} DESC, c.cid) rn
        |  FROM n x CROSS JOIN $prev c) WHERE rn = 1),
        |sums$i AS (SELECT cell, u.pos AS pos,
        |    SUM(CAST(round(u.x * $Quant) AS BIGINT)) sx, COUNT(*) cn
        |  FROM (SELECT a.cell, unnest(list_transform(range(len(nn.v)),
        |          j -> {'pos': j, 'x': nn.v[j+1]})) u
        |        FROM n nn JOIN assign$i a USING (vec_id))
        |  GROUP BY cell, u.pos),
        |newc$i AS (SELECT cell AS cid,
        |    list(CAST(sx AS DOUBLE) / $Quant / CAST(cn AS DOUBLE)
        |         ORDER BY pos) cv
        |  FROM sums$i GROUP BY cell),
        |cents$i AS (SELECT o.cid, coalesce(nw.cv, o.cv) cv
        |  FROM $prev o LEFT JOIN newc$i nw ON nw.cid = o.cid)""".stripMargin)
    }
    sb.toString
  }

  /** The shared IVF candidate-generation CTE prefix (through `cand`):
    * one definition feeds both the float scoring tail ([[ivfSql]]) and
    * the SQ8 rescore tail (s08's oracle), exactly as [[topProbes]] is
    * shared on the Spark side.
    */
  private def ivfCandCtes(queryWhere: String, centsSelect: String,
      extraCtes: String = "", nprobe: Int = NProbe): String = {
    val extra = if (extraCtes.isEmpty) "" else s"$extraCtes,\n"
    s"""$VecCte,
       |$CellsCte,
       |${extra}cents AS ($centsSelect),
       |assign AS (SELECT vec_id, cell FROM (
       |  SELECT x.vec_id, c.cid AS cell, row_number() OVER (
       |    PARTITION BY x.vec_id ORDER BY ${cosVSql("x.v", "c.cv")} DESC, c.cid) rn
       |  FROM n x CROSS JOIN cents c) WHERE rn = 1),
       |q AS (SELECT * FROM n $queryWhere),
       |probes AS (SELECT query_id, cell FROM (
       |  SELECT q.vec_id query_id, c.cid AS cell, row_number() OVER (
       |    PARTITION BY q.vec_id ORDER BY ${cosVSql("q.v", "c.cv")} DESC, c.cid) rn
       |  FROM q CROSS JOIN cents c) WHERE rn <= $nprobe),
       |cand AS (SELECT p.query_id, a.vec_id neighbor_id
       |  FROM probes p JOIN assign a ON a.cell = p.cell
       |  WHERE a.vec_id != p.query_id)""".stripMargin
  }

  private def ivfSql(queryWhere: String, k: Int, centsSelect: String,
      extraCtes: String = "", nprobe: Int = NProbe): String = {
    s"""WITH ${ivfCandCtes(queryWhere, centsSelect, extraCtes, nprobe)},
       |scored AS (SELECT d.query_id, d.neighbor_id,
       |    ${cosVSql("q.v", "c.v")} AS cosine
       |  FROM cand d JOIN q ON q.vec_id = d.query_id
       |              JOIN n c ON c.vec_id = d.neighbor_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** s08's oracle: the shared IVF candidate CTEs, then the int8 code
    * table (v02's `floor(x*127/maxabs)` quantization, zero code for
    * all-zero vectors), the exact BIGINT dot-product pool cut at
    * [[RescorePool]], and the full-precision rescore top-[[TopK]].
    */
  /** The int8 code-table CTE (v02's `floor(x*127/maxabs)`
    * quantization, zero code for all-zero vectors) — [[quantized]]'s
    * oracle twin, shared by the s08 and s18 oracles.
    */
  private lazy val qvCte: String =
    s"""qv AS (SELECT vec_id, CASE WHEN maxabs > 0
       |    THEN list_transform(v, x -> CAST(floor(x * 127 / maxabs) AS BIGINT))
       |    ELSE list_transform(v, x -> 0::BIGINT) END AS qc
       |  FROM (SELECT vec_id, v, list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(v, x -> abs(x))), (a, x) -> greatest(a, x)) AS maxabs
       |    FROM n))""".stripMargin

  private lazy val s08Sql =
    s"""WITH ${ivfCandCtes(s"WHERE vec_id < $NumQueries",
          s"SELECT vec_id cid, v AS cv FROM n WHERE vec_id < $CellsSub")},
       |$qvCte,
       |iscored AS (SELECT c.query_id, c.neighbor_id,
       |    list_reduce(list_prepend(0::BIGINT, list_transform(
       |      list_zip(a.qc, b.qc), p -> p[1] * p[2])), (s, x) -> s + x) AS iscore
       |  FROM cand c JOIN qv a ON a.vec_id = c.query_id
       |              JOIN qv b ON b.vec_id = c.neighbor_id),
       |pool AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY iscore DESC, neighbor_id) AS rn FROM iscored)
       |  WHERE rn <= $RescorePool),
       |scored AS (SELECT p.query_id, p.neighbor_id,
       |    ${cosVSql("q.v", "c.v")} AS cosine
       |  FROM pool p JOIN q ON q.vec_id = p.query_id
       |              JOIN n c ON c.vec_id = p.neighbor_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin
}
