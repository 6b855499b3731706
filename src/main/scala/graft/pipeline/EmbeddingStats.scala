package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Memo, Tables}

/** Embedding-quality profiling for vector pipelines: norm distribution
  * and degenerate-vector detection per label partition.
  *
  * Determinism note: a SUM over raw double norms would be
  * shuffle-order-dependent (float addition isn't associative), so norms
  * are floor-quantized to integer micro-units per row first — integer
  * sums then reproduce bit-for-bit across engines and cluster layouts.
  * The per-row norm itself is the usual sequential fold.
  */
object EmbeddingStats {

  /** v01 — per-label vector profile (exact ints). */
  def v01NormProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val normMicro = floor(
      sqrt(aggregate(transform($"embedding".cast("array<double>"), x => x * x),
        lit(0.0), (a, x) => a + x)) * 1000000L).cast("long")
    Tables.embeddings(spark, dir)
      .select($"label", $"vec_id", normMicro.as("norm_micro"),
        size($"embedding").cast("long").as("dim"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct($"dim").as("n_dims"),
        min($"norm_micro").as("min_norm_micro"),
        max($"norm_micro").as("max_norm_micro"),
        sum($"norm_micro").as("sum_norm_micro"),
        sum(when($"norm_micro" === 0, 1L).otherwise(0L)).as("n_zero_vecs"))
      .orderBy($"label")
  }

  /** v02 — int8 quantization profile: per vector, symmetric max-abs
    * scaling to [-127, 127] (`q_i = floor(x_i * 127 / maxabs)`), the
    * compression step that shrinks a 100 TB float32 embedding store 4x
    * before ANN serving. Outputs are pure integers (quantized sums and
    * the micro-quantized scale), so the profile hash-matches across
    * engines; the division is the same IEEE double op on both sides.
    * Aggregated per label to keep the result a small profile table.
    */
  def v02QuantizeProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = $"embedding".cast("array<double>")
    val maxabs = aggregate(transform(v, x => abs(x)), lit(0.0),
      (a, x) => greatest(a, x))
    val qsum = aggregate(transform(v, x =>
      floor(x * 127.0 / $"maxabs").cast("long")), lit(0L), (a, x) => a + x)
    val qabssum = aggregate(transform(v, x =>
      abs(floor(x * 127.0 / $"maxabs").cast("long"))), lit(0L), (a, x) => a + x)
    Tables.embeddings(spark, dir)
      .select($"label", $"vec_id", v.as("embedding"), maxabs.as("maxabs"))
      .filter($"maxabs" > 0) // all-zero vectors carry no quantizable signal
      .select($"label",
        floor($"maxabs" * 1000000L).cast("long").as("scale_micro"),
        qsum.as("q_sum"), qabssum.as("q_abs_sum"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        min($"scale_micro").as("min_scale_micro"),
        max($"scale_micro").as("max_scale_micro"),
        sum($"q_sum").as("sum_q"),
        sum($"q_abs_sum").as("sum_abs_q"))
      .orderBy($"label")
  }

  /** v03 — per-DIMENSION embedding QA profile: for each of the 64 vector
    * dimensions, the component count, micro-quantized sum / min / max /
    * absolute mass, and the zero-component count. This is the dead-dim /
    * collapsed-dim check an embedding pipeline runs before committing a
    * 100 TB vector store: a dimension whose absolute mass is ~0 carries
    * no signal (wasted storage + ANN distance noise), and one whose
    * min==max indicates a constant (bugged) projection.
    *
    * Scale shape: `posexplode` widens each row 64x, but the very next
    * operator is a hash aggregation whose key domain is the 64 dim
    * indices — partial (map-side) aggregation collapses every partition
    * to <=64 rows before the shuffle, so the exchange carries
    * |partitions| x 64 summary rows, never the widened data. Components
    * are floor-quantized to integer micro-units per row first (the
    * [[v01NormProfile]] determinism pattern): integer sums reproduce
    * bit-for-bit across engines and cluster layouts, where a double SUM
    * would be shuffle-order-dependent.
    */
  def v03DimStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select(posexplode($"embedding".cast("array<double>")).as(Seq("dim", "x")))
      .select($"dim".cast("long").as("dim"),
        floor($"x" * 1000000L).cast("long").as("x_micro"))
      .groupBy($"dim")
      .agg(count(lit(1)).as("n"),
        sum($"x_micro").as("sum_micro"),
        min($"x_micro").as("min_micro"),
        max($"x_micro").as("max_micro"),
        sum(abs($"x_micro")).as("abs_mass_micro"),
        sum(when($"x_micro" === 0L, 1L).otherwise(0L)).as("n_zero"))
      .orderBy($"dim")
  }

  /** v04 — embedding drift profile: per dimension, the micro-quantized
    * component sums and counts of the BASE population (first ~90% of
    * vec_ids — s09's frozen-index split) against the DELTA (the newest
    * ~10% an ingest batch appended), plus the cross-multiplied mean
    * difference `drift_num = sum_delta*n_base - sum_base*n_delta`
    * (integer, sign = direction of the per-dim mean shift; the exact
    * numerator of mean_delta - mean_base over the common denominator
    * n_base*n_delta). This is the drift monitor that tells a deployment
    * WHEN s09's frozen-centroid index-add has diverged enough to justify
    * the k~sqrt(n) retrain — s09 shows WHERE delta mass lands, v04 shows
    * whether the underlying distribution moved.
    *
    * Same scale shape as [[v03DimStats]]: posexplode then a 64-key hash
    * aggregation with map-side collapse; all outputs integer-exact
    * (drift_num stays within Long while sum_micro * n < 2^63, i.e. to
    * ~10^9 vectors of unit-norm 64-dim floats; beyond that widen the
    * product to DECIMAL(38,0) — the [[graft.relational.StarQueries]]
    * sumExact recombine pattern).
    */
  def v04DriftProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nBase = Tables.embeddings(spark, dir).count() * 9 / 10
    Tables.embeddings(spark, dir)
      .select($"vec_id", posexplode($"embedding".cast("array<double>"))
        .as(Seq("dim", "x")))
      .select(($"vec_id" < nBase).as("is_base"), $"dim".cast("long").as("dim"),
        floor($"x" * 1000000L).cast("long").as("xm"))
      .groupBy($"dim")
      .agg(
        sum(when($"is_base", 1L).otherwise(0L)).as("n_base"),
        sum(when($"is_base", $"xm").otherwise(0L)).as("sum_base_micro"),
        sum(when(!$"is_base", 1L).otherwise(0L)).as("n_delta"),
        sum(when(!$"is_base", $"xm").otherwise(0L)).as("sum_delta_micro"))
      .withColumn("drift_num",
        $"sum_delta_micro" * $"n_base" - $"sum_base_micro" * $"n_delta")
      .orderBy($"dim")
  }

  /** v05's power-iteration count and product quantizer. Three
    * iterations from the all-ones start separate the top direction
    * well enough for a monitoring profile (the gap ratio decides the
    * asymptotic rate; on the fixture's isotropic corpus the spec pins
    * the Rayleigh quotient monotone and within 5% of stationary —
    * the no-gap regime where the quotient VALUE is insensitive to the
    * remaining direction error). [[PowerQuant]] is the
    * k-means trainer's 2^20 quantizer: per-(row, dim) products round to
    * integer ticks so the per-dimension sums COMMUTE — bit-identical
    * across engines and shuffle layouts, where raw double sums would
    * depend on reduction order.
    */
  private[pipeline] val PowerIters = 3
  private val PowerQuant = 1L << 20

  /** v05 — top principal component by distributed power iteration: the
    * leading eigenvector of the (mean-centered) embedding covariance,
    * computed WITHOUT materializing the covariance matrix. Each
    * iteration is matrix-free: one scan computes s_i = (x_i - mu) . v
    * per row and accumulates w = sum_i s_i (x_i - mu) as per-dimension
    * quantized-integer sums; the driver holds only the d-vector
    * (collect of 64 longs — the bounded-collect pattern of RangedPrefix
    * offsets), normalizes, and feeds the next pass. This is the
    * embedding-collapse monitor a vector pipeline runs beside v03/v04:
    * a dominant PC1 share (lambda vs the norm mass) means the space is
    * degenerating toward a line — anisotropy that silently breaks
    * cosine ANN.
    *
    * Scale shape: per iteration ONE corpus scan + a 64-key map-side-
    * collapsed aggregation (v03's shape); nothing corpus-sized ever
    * reaches the driver, and O(d) state rides in the closure exactly
    * like broadcast centroids. Covariance would be d^2 accumulators —
    * also fine at d=64, but the matrix-free form scales to the d where
    * that stops being true.
    *
    * Output: per dimension, the micro-quantized PC1 component and the
    * micro-quantized Rayleigh eigenvalue estimate (same value each
    * row) — integers, hash-exact vs the oracle's identical chained-CTE
    * iterations.
    */
  /** Everything v05 and v07 read off the corpus, from ONE persisted
    * handle and FOUR jobs total (round-19 optimization; guide §1.2 /
    * §2.4): the previous v05 ran six jobs (count, dim probe, mean
    * pass, 3 iterations) and v07 re-ran all six plus its own trace
    * pass and a cross join — 19/22 stages for outputs that are driver
    * vectors. Here ONE moments pass carries, per dim, the count, the
    * micro sum AND the squared-moment sum v07's trace needs (two extra
    * long columns through the same 64-key map-side-collapsed
    * aggregate — noise next to the explode), n and d fall out of that
    * pass's result (count per dim / number of dim groups), and the
    * trace identity plus the ppm floor division move to exact driver
    * BigInt arithmetic. The iteration passes are unchanged. Every
    * accumulated integer is identical to the old per-pass values, so
    * v05/v07 outputs are bit-identical — the sf0.01+sf0.1 oracle gates
    * and the spec's BigInt replay prove it.
    *
    * (A d-wide single-row-aggregate variant — 192 unrolled
    * `element_at` sum columns, no explode — measured SLOWER here:
    * 2.3 s vs 1.1, the per-call planning/codegen of the wide aggregate
    * dwarfing the 64× row fan-out it saved. The exploded 64-key
    * aggregate is the right shape at every scale; noted per guide §1.1
    * — the "ideal" plan lost to its constant factor.)
    *
    * Returns (n rows, d dims, PC1 direction, lambda_micro,
    * n_vectors = max per-dim count, n²·10¹²·trace as exact BigInt).
    */
  private def pc1Core(spark: SparkSession, dir: String)
      : (Long, Int, Array[Double], Long, Long, BigInt) = Memo.scoped { pins =>
    import spark.implicits._
    // pinned for the FOUR passes (moments + 3 iterations), released
    // when the scope ends: every result is driver state with no lineage
    // into `e`, so the release cannot force a recompute later
    val e = pins(Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v")))
    // exact per-dim micro moments in ONE pass — count, Σxm, Σxm²
    // per dimension; d = number of dim groups, n = any dim's count
    // (the corpus is fixed-width; the oracle's unnest sees the same)
    val moments = e.select(posexplode($"v").as(Seq("dim", "x")))
      .select($"dim", floor($"x" * 1000000L).cast("long").as("xm"))
      .groupBy($"dim")
      .agg(count(lit(1)).as("c"), sum($"xm").as("s"),
        sum($"xm" * $"xm").as("ss"))
      .collect().map(r => r.getAs[Int]("dim") ->
        (r.getAs[Long]("c"), r.getAs[Long]("s"), r.getAs[Long]("ss")))
      .toMap
    val d = moments.size
    val n = moments(0)._1
    // v07's exact trace identity, per dim over the SAME micro grid:
    // n_j·Σxm² − (Σxm)² accumulated as BigInt (the oracle's
    // DECIMAL(38,0) twin)
    val trace = (0 until d).map { j =>
      val (c, s, ss) = moments(j)
      BigInt(c) * BigInt(ss) - BigInt(s) * BigInt(s)
    }.sum
    val nVectors = (0 until d).map(moments(_)._1).max
    val mu = (0 until d).map(j => moments(j)._2.toDouble / 1000000.0 / n.toDouble)
    var vv = Array.fill(d)(1.0)
    var lambdaMicro = 0L
    for (_ <- 1 to PowerIters) {
      // mu and the current v ride in as ONE broadcast row of arrays
      // rather than inlined literals — the iteration state is data,
      // not plan text (the centroidsAsRow idiom), so the plan is
      // byte-identical across iterations and a long-running deployment
      // (many more iterations, cached plans) never re-analyzes or
      // re-compiles it. At this corpus size the per-call cost is
      // driver-side job overhead either way (~0.5 s/pass; measured
      // equal to the inlined-literal form). Unrolled element_at keeps
      // the arithmetic inside WholeStageCodegen.
      val muv = spark.createDataFrame(Seq((mu.toSeq, vv.toSeq)))
        .toDF("mu", "pv")
      def cen(j: Int) = element_at($"v", j + 1) - element_at($"mu", j + 1)
      val sCol = (0 until d).map(j =>
        cen(j) * element_at($"pv", j + 1)).reduce(_ + _)
      val terms = array((0 until d).map(j =>
        round(($"s" * cen(j)) * PowerQuant).cast("long")): _*)
      val w = e.crossJoin(broadcast(muv))
        .select($"v", $"mu", sCol.as("s"))
        .select(posexplode(terms).as(Seq("dim", "t")))
        .groupBy($"dim").agg(sum($"t").as("w"))
        .collect().map(r => r.getAs[Int]("dim") -> r.getAs[Long]("w")).toMap
      val warr = (0 until d).map(w(_)).toArray
      // exact integer norm^2 (BigInt: w ~ n*Q overflows Long when
      // squared), ONE double conversion — same value as the oracle's
      // SUM(w::HUGEINT * w): the promotion must happen BEFORE the
      // multiply, or DuckDB's checked int64 product overflows once
      // |w| exceeds ~3.04e9
      val norm = math.sqrt(warr.map(x => BigInt(x) * BigInt(x)).sum.toDouble)
      vv = warr.map(_.toDouble / norm)
      lambdaMicro =
        math.floor(norm / PowerQuant.toDouble / n.toDouble * 1000000.0).toLong
    }
    (n, d, vv, lambdaMicro, nVectors, trace)
  }

  def v05Pc1Profile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, d, vv, lambdaMicro, _, _) = pc1Core(spark, dir)
    val rows = (0 until d).map(j =>
      (j.toLong, math.floor(vv(j) * 1000000.0).toLong, lambdaMicro))
    spark.createDataFrame(rows).toDF("dim", "pc1_micro", "lambda_micro")
      .orderBy($"dim")
  }

  /** v06 — class-separation profile: per label, the member count, the
    * micro-quantized centroid norm, the summed member-to-own-centroid
    * cosine (micro-quantized per row, then integer-summed — exact),
    * and the nearest OTHER label's centroid with its cosine. This is
    * the labeled-embedding QA a pipeline runs before trusting s10's
    * hard negatives or a classifier head: a label whose centroid norm
    * approaches its members' norms has collapsed to a point, and two
    * labels with near-parallel centroids are entangled (s10's
    * "out-of-class" filter stops meaning anything for that pair).
    *
    * Determinism: per-(label, dim) component sums are v03's integer
    * micro-sums; centroids derive from those integers; every
    * dot/norm is the sequential in-order fold the s-family cosine
    * uses; and each member cosine is floor-micro-quantized BEFORE
    * the per-label sum so the only cross-row double reduction is an
    * integer sum.
    *
    * Scale shape: one posexplode + 64·|labels|-key hash aggregation
    * with map-side collapse (v03's shape), one corpus scan joined
    * against the broadcast |labels|-row centroid table, and a
    * |labels|²-row centroid self-join — nothing grows with n except
    * the two scans.
    */
  def v06ClassSeparation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    def nrm(a: Column): Column =
      sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))
    val e = Tables.embeddings(spark, dir)
      .select($"label".cast("long").as("label"),
        $"embedding".cast("array<double>").as("v"))
    // the centroid table is consumed by FOUR downstream joins; left as
    // a plan subtree each would re-run the corpus scan + aggregation,
    // so the |labels|-row result rides the driver instead (v05's
    // sanctioned stats-collect shape — |labels| x dim doubles)
    val cents = e
      .select($"label", posexplode($"v").as(Seq("dim", "x")))
      .select($"label", $"dim".cast("long").as("dim"),
        floor($"x" * 1000000L).cast("long").as("xm"))
      .groupBy($"label", $"dim")
      .agg(count(lit(1)).as("n"), sum($"xm").as("s"))
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"dim", $"s", $"n"))).as("sd"))
      .select($"label", element_at($"sd", 1).getField("n").as("n_vecs"),
        transform($"sd",
          t => t.getField("s").cast("double") / 1000000.0 /
            t.getField("n")).as("c"))
      .collect().toSeq
      .map(r => (r.getAs[Long]("label"), r.getAs[Long]("n_vecs"),
        r.getSeq[Double](2)))
      .toDF("label", "n_vecs", "c")
    val intra = e.join(broadcast(cents.select($"label", $"c")), "label")
      .select($"label", dot($"v", $"c").as("d"),
        nrm($"v").as("nv"), nrm($"c").as("nc"))
      .select($"label", when($"nv" * $"nc" === 0.0, 0.0)
        .otherwise($"d" / ($"nv" * $"nc")).as("cos"))
      .select($"label", floor($"cos" * 1000000L).cast("long").as("cm"))
      .groupBy($"label").agg(sum($"cm").as("intra_cos_sum_micro"))
    val pairs = cents.select($"label".as("la"), $"c".as("ca"))
      .join(broadcast(cents.select($"label".as("lb"), $"c".as("cb"))),
        $"la" =!= $"lb")
      .select($"la", $"lb", dot($"ca", $"cb").as("d"),
        nrm($"ca").as("na"), nrm($"cb").as("nb"))
      .select($"la", $"lb", when($"na" * $"nb" === 0.0, 0.0)
        .otherwise($"d" / ($"na" * $"nb")).as("cos"))
    val nearest = pairs.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy($"la").orderBy($"cos".desc, $"lb")))
      .filter($"rn" === 1)
      .select($"la".as("label"), $"lb".as("nearest_label"),
        floor($"cos" * 1000000L).cast("long").as("nearest_cos_micro"))
    cents.select($"label", $"n_vecs",
        floor(nrm($"c") * 1000000L).cast("long").as("centroid_norm_micro"))
      .join(intra, "label")
      .join(nearest, "label")
      .orderBy($"label")
  }

  /** v07 — anisotropy / collapse monitor (Ethayarajh, EMNLP 2019; Mu &
    * Viswanath, ICLR 2018): ONE row reading v05's top eigenvalue
    * against the covariance TRACE (total variance), the ratio that
    * says whether the embedding space is degenerating toward a line.
    * `anisotropy_ppm` = floor(1e6·λ1/trace) compares against the
    * isotropic baseline floor(1e6/d): a healthy space sits near the
    * baseline, a collapsing one (v05's scaladoc scenario — cosine ANN
    * silently breaking) runs it up toward 1e6. This is the number a
    * deployment alerts on; v03/v05 are its per-dimension drill-downs.
    *
    * Exactness: the trace never exists as a float — n²·10¹²·trace =
    * Σ_j (n·Σxm² − (Σxm)²) is an exact integer identity over the
    * micro-quantized components (v03's grid), accumulated in
    * DECIMAL(38,0); λ1 is v05's micro-quantized Rayleigh value; the
    * ppm ratio is one wide-integer floor division (the x10
    * DECIMAL-DIV pattern, all operands positive so truncation IS
    * floor in both engines). Per-dim Σxm² stays within Long to ~10⁹
    * unit-norm vectors; beyond that widen to DECIMAL like v04's note.
    *
    * Scale shape: one posexplode to a d-key map-side-collapsed
    * aggregate (v03's shape), a one-row reduction, and v05's memoized
    * 4-pass profile collapsed to its scalar — nothing corpus-sized
    * moves, and the output is a single row at any n.
    */
  def v07AnisotropyProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE [[pc1Core]] run supplies λ1 AND the trace moments (round-19
    // optimization): the previous shape ran a dedicated posexplode +
    // 64-key trace aggregation, then the whole 4-pass v05 profile, then
    // a one-row reduction and a cross join — 22 stages for one output
    // row. The core's moment pass already accumulates the identical
    // per-dim (count, Σxm, Σxm²) integers, so the trace identity and
    // the ppm floor-division move to exact driver BigInt arithmetic
    // (all operands positive → truncation IS floor, the same x10
    // DECIMAL-DIV rule the oracle applies). Bit-identical output;
    // measured 22 stages → 10 at sf0.1.
    val (_, d, _, lambdaMicro, nVectors, trace) = pc1Core(spark, dir)
    val aniso = (BigInt(lambdaMicro) * BigInt(nVectors) * BigInt(nVectors) *
      BigInt(1000000000000L) / trace).toLong
    val iso = 1000000L / d
    spark.createDataFrame(Seq(
        (nVectors, d.toLong, lambdaMicro, aniso, iso)))
      .toDF("n_vectors", "n_dims", "lambda_micro",
        "anisotropy_ppm", "isotropic_ppm")
  }

  /** v08 — TwoNN intrinsic dimensionality (Facco, d'Errico, Rodriguez
    * & Laio 2017, Sci. Reports 7:12140): the MLE
    * `d = n / Σ ln(r2/r1)` over each vector's first and second
    * nearest-neighbor distances — the standard estimate of how many
    * effective degrees of freedom an embedding corpus actually uses
    * (ID far below the ambient 64 means the index/quantizer budget is
    * oversized; ID rising across releases flags noise). Distances are
    * chordal on the cosine geometry the rest of the engine ranks by:
    * r² = 2(1−cos), so μ² = r2²/r1² = (1−c2)/(1−c1), and
    * d = 2n / Σ ln μ². Neighbors come from the SAME corpus-wide IVF
    * join s03 publishes (k = 2) — at production recall the estimator
    * is within its own sampling noise of the exact-NN value, and the
    * exact variant is one `nprobe = cells` knob away.
    *
    * Exactness: c1/c2 are the bit-identical cross-engine cosines the
    * s03 gate already proves; each ln μ² is floor-quantized to 2^-20
    * (the p22 grid + slack argument) so the sum is an exact BIGINT,
    * and the MLE is one wide-integer floor division. Vectors with a
    * duplicate nearest neighbor (c1 = 1, r1 = 0) or fewer than two
    * candidates are excluded, per the estimator's definition —
    * n_vectors reports the population actually used.
    *
    * Scale shape: s03's candidate volume (probed cells only), one
    * per-query 2-row rollup, one scalar row out.
    */
  def v08TwoNnId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Similarity.corpusTwoNn(spark, dir)
      .groupBy($"query_id")
      .agg(max(when($"rank" === 1, $"cosine")).as("c1"),
        max(when($"rank" === 2, $"cosine")).as("c2"),
        count(lit(1)).as("nn"))
      .filter($"nn" === 2 && $"c1" < 1.0)
      .select(floor(lit(1048576.0) *
        log((lit(1.0) - $"c2") / (lit(1.0) - $"c1"))).cast("long").as("q"))
    per.agg(count(lit(1)).as("n_vectors"), sum($"q").as("sum_lnmu2_q"))
      .select($"n_vectors", $"sum_lnmu2_q",
        expr("""CASE WHEN sum_lnmu2_q > 0 THEN
                CAST((CAST(n_vectors AS DECIMAL(38,0)) * 2 * 1048576 *
                  1048576) DIV sum_lnmu2_q AS BIGINT)
                ELSE CAST(NULL AS BIGINT) END""").as("id_mle_micro"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v07_anisotropy_profile" -> v07AnisotropyProfile _,
    "v08_twonn_id" -> v08TwoNnId _,
    "v01_norm_profile" -> v01NormProfile _,
    "v02_quantize_profile" -> v02QuantizeProfile _,
    "v03_dim_stats" -> v03DimStats _,
    "v04_drift_profile" -> v04DriftProfile _,
    "v05_pc1_profile" -> v05Pc1Profile _,
    "v06_class_separation" -> v06ClassSeparation _,
  )

  /** v05's oracle: the power iterations as chained CTEs (the
    * [[graft.pipeline.Similarity]] kmeansCtes pattern) — every double
    * op in the same association order as the Spark side, every
    * cross-engine accumulation an integer sum.
    */
  private lazy val v05Sql: String = {
    val sb = new StringBuilder(
      """WITH n0 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |cnt AS (SELECT CAST(count(*) AS DOUBLE) c FROM n0),
        |mu AS (SELECT list(CAST(s AS DOUBLE) / 1000000.0 / (SELECT c FROM cnt)
        |    ORDER BY dim) m
        |  FROM (SELECT u.pos AS dim, SUM(CAST(floor(u.x * 1000000) AS BIGINT)) s
        |        FROM (SELECT unnest(list_transform(range(len(v)),
        |                j -> {'pos': j, 'x': v[j+1]})) u FROM n0)
        |        GROUP BY u.pos)),
        |v0 AS (SELECT list_transform(range((SELECT len(v) FROM n0 LIMIT 1)),
        |  j -> 1.0) vv)""".stripMargin)
    for (i <- 1 to PowerIters) {
      val prev = s"v${i - 1}"
      sb.append(s""",
        |s$i AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(len(v)), j -> (v[j+1] - m[j+1]) * vv[j+1])),
        |    (a, x) -> a + x) AS s, v, m
        |  FROM n0, mu, $prev),
        |w$i AS (SELECT u.pos AS dim,
        |    SUM(CAST(round((s * u.xc) * 1048576) AS BIGINT)) w
        |  FROM (SELECT s, unnest(list_transform(range(len(v)),
        |          j -> {'pos': j, 'xc': v[j+1] - m[j+1]})) u FROM s$i)
        |  GROUP BY u.pos),
        |nrm$i AS (SELECT sqrt(CAST(SUM(w::HUGEINT * w) AS DOUBLE)) nr FROM w$i),
        |v$i AS (SELECT list(CAST(w AS DOUBLE) / (SELECT nr FROM nrm$i)
        |  ORDER BY dim) vv FROM w$i)""".stripMargin)
    }
    sb.append(s"""
      |SELECT CAST(dim AS BIGINT) AS dim,
      | CAST(floor(CAST(w AS DOUBLE) / (SELECT nr FROM nrm$PowerIters)
      |   * 1000000) AS BIGINT) AS pc1_micro,
      | CAST(floor((SELECT nr FROM nrm$PowerIters) / 1048576.0
      |   / (SELECT c FROM cnt) * 1000000) AS BIGINT) AS lambda_micro
      |FROM w$PowerIters ORDER BY dim""".stripMargin)
    sb.toString
  }

  /** DuckDB sequential-fold dot / norm over list expressions — the
    * same left-fold-from-0.0 association order as v06's Spark-side
    * `aggregate` folds (and the s-family cosVSql).
    */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(" +
      s"list_zip($a, $b), p -> p[1] * p[2])), (acc, x) -> acc + x)"
  private def nrmSql(a: String): String =
    s"sqrt(list_reduce(list_prepend(0.0::DOUBLE, " +
      s"list_transform($a, t -> t * t)), (acc, x) -> acc + x))"

  private lazy val v06Sql: String =
    s"""WITH s0 AS (SELECT CAST(label AS BIGINT) AS label,
       |    CAST(unnest(range(len(embedding))) AS BIGINT) dim,
       |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT)
       |      xm
       |  FROM embeddings),
       |sums AS (SELECT label, dim, COUNT(*) n, CAST(SUM(xm) AS BIGINT) s
       |  FROM s0 GROUP BY 1, 2),
       |cents AS (SELECT label, MIN(n) AS n_vecs,
       |    list(CAST(s AS DOUBLE) / 1000000.0 / n ORDER BY dim) c
       |  FROM sums GROUP BY label),
       |ev AS (SELECT CAST(label AS BIGINT) AS label, embedding::DOUBLE[] v
       |  FROM embeddings),
       |ic AS (SELECT label, CASE WHEN nv * nc = 0 THEN 0.0
       |    ELSE d / (nv * nc) END AS cos
       |  FROM (SELECT e.label, ${dotSql("e.v", "ct.c")} d,
       |        ${nrmSql("e.v")} nv, ${nrmSql("ct.c")} nc
       |      FROM ev e JOIN cents ct ON ct.label = e.label)),
       |intra AS (SELECT label, CAST(SUM(CAST(floor(cos * 1000000) AS BIGINT))
       |    AS BIGINT) AS intra_cos_sum_micro
       |  FROM ic GROUP BY label),
       |pr AS (SELECT la, lb, CASE WHEN na * nb = 0 THEN 0.0
       |    ELSE d / (na * nb) END AS cos
       |  FROM (SELECT a.label la, b.label lb, ${dotSql("a.c", "b.c")} d,
       |        ${nrmSql("a.c")} na, ${nrmSql("b.c")} nb
       |      FROM cents a JOIN cents b ON a.label != b.label)),
       |near AS (SELECT la AS label, lb AS nearest_label,
       |    CAST(floor(cos * 1000000) AS BIGINT) AS nearest_cos_micro
       |  FROM (SELECT *, row_number() OVER (PARTITION BY la
       |      ORDER BY cos DESC, lb) rn FROM pr)
       |  WHERE rn = 1)
       |SELECT c.label, c.n_vecs,
       |  CAST(floor(${nrmSql("c.c")} * 1000000) AS BIGINT)
       |    AS centroid_norm_micro,
       |  i.intra_cos_sum_micro, near.nearest_label, near.nearest_cos_micro
       |FROM cents c JOIN intra i ON i.label = c.label
       |             JOIN near ON near.label = c.label
       |ORDER BY c.label""".stripMargin

  val oracles: Map[String, String] = Map(
    "v05_pc1_profile" -> v05Sql,
    // two-NN MLE over s03's SQL at k = 2: per-query (c1, c2) rollup,
    // 2^-20-quantized ln mu^2, one HUGEINT floor division
    "v08_twonn_id" ->
      s"""WITH nn2 AS (SELECT query_id, cosine, rank FROM
         |    (${Similarity.corpusTwoNnSql})),
         |two AS (SELECT query_id,
         |    MAX(CASE WHEN rank = 1 THEN cosine END) c1,
         |    MAX(CASE WHEN rank = 2 THEN cosine END) c2,
         |    COUNT(*) nn
         |  FROM nn2 GROUP BY query_id),
         |qq AS (SELECT CAST(floor(1048576 * ln((1 - c2) / (1 - c1)))
         |      AS BIGINT) q
         |  FROM two WHERE nn = 2 AND c1 < 1.0)
         |SELECT COUNT(*)::BIGINT AS n_vectors,
         |  CAST(SUM(q) AS BIGINT) AS sum_lnmu2_q,
         |  CASE WHEN SUM(q) > 0 THEN
         |    CAST((COUNT(*)::HUGEINT * 2 * 1048576 * 1048576) // SUM(q)
         |      AS BIGINT)
         |  ELSE NULL END AS id_mle_micro
         |FROM qq""".stripMargin,
    // the trace identity n^2*1e12*trace = SUM_j(n*SUM xm^2 - (SUM xm)^2)
    // accumulates in HUGEINT (DECIMAL(38,0) on the Spark side); the
    // ppm ratio is a single positive wide-integer floor division, and
    // lambda comes from the SAME chained-CTE iterations v05 publishes
    "v07_anisotropy_profile" ->
      s"""WITH dims AS (SELECT dim, COUNT(*) AS n,
         |   CAST(SUM(xm) AS BIGINT) AS sx, CAST(SUM(xm*xm) AS BIGINT) AS sxx
         |  FROM (SELECT CAST(unnest(range(len(embedding))) AS BIGINT) AS dim,
         |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000)
         |      AS BIGINT) AS xm
         |   FROM embeddings)
         |  GROUP BY dim),
         |tr AS (SELECT CAST(MAX(n) AS BIGINT) AS n_vectors,
         |   COUNT(*) AS n_dims,
         |   SUM(n::HUGEINT * sxx - sx::HUGEINT * sx) AS trace_n2_micro2
         |  FROM dims),
         |lam AS (SELECT MIN(lambda_micro) AS lambda_micro FROM ($v05Sql))
         |SELECT n_vectors, n_dims, lambda_micro,
         | CAST(lambda_micro::HUGEINT * n_vectors * n_vectors *
         |   1000000000000 // trace_n2_micro2 AS BIGINT) AS anisotropy_ppm,
         | CAST(1000000 // n_dims AS BIGINT) AS isotropic_ppm
         |FROM tr, lam""".stripMargin,
    "v06_class_separation" -> v06Sql,
    "v01_norm_profile" ->
      """SELECT label, COUNT(*) AS n_vecs,
        | COUNT(DISTINCT len(embedding)) AS n_dims,
        | MIN(norm_micro) AS min_norm_micro,
        | MAX(norm_micro) AS max_norm_micro,
        | CAST(SUM(norm_micro) AS BIGINT) AS sum_norm_micro,
        | CAST(SUM(CASE WHEN norm_micro = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_zero_vecs
        |FROM (SELECT label, embedding,
        |  CAST(floor(sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(embedding::DOUBLE[], x -> x * x)),
        |    (s, x) -> s + x)) * 1000000) AS BIGINT) AS norm_micro
        |  FROM embeddings)
        |GROUP BY label ORDER BY label""".stripMargin,
    "v02_quantize_profile" ->
      """SELECT label, COUNT(*) AS n_vecs,
        | MIN(scale_micro) AS min_scale_micro,
        | MAX(scale_micro) AS max_scale_micro,
        | CAST(SUM(q_sum) AS BIGINT) AS sum_q,
        | CAST(SUM(q_abs_sum) AS BIGINT) AS sum_abs_q
        |FROM (SELECT label,
        |  CAST(floor(maxabs * 1000000) AS BIGINT) AS scale_micro,
        |  CAST(list_sum(list_transform(v, x ->
        |    CAST(floor(x * 127 / maxabs) AS BIGINT))) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(v, x ->
        |    abs(CAST(floor(x * 127 / maxabs) AS BIGINT)))) AS BIGINT) AS q_abs_sum
        | FROM (SELECT label, embedding::DOUBLE[] v,
        |   list_reduce(list_prepend(0.0::DOUBLE,
        |     list_transform(embedding::DOUBLE[], x -> abs(x))),
        |     (a, x) -> greatest(a, x)) AS maxabs
        |  FROM embeddings)
        | WHERE maxabs > 0)
        |GROUP BY label ORDER BY label""".stripMargin,
    "v03_dim_stats" ->
      """SELECT dim, COUNT(*) AS n,
        | CAST(SUM(x_micro) AS BIGINT) AS sum_micro,
        | MIN(x_micro) AS min_micro, MAX(x_micro) AS max_micro,
        | CAST(SUM(ABS(x_micro)) AS BIGINT) AS abs_mass_micro,
        | CAST(SUM(CASE WHEN x_micro = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |FROM (SELECT CAST(unnest(range(len(embedding))) AS BIGINT) AS dim,
        |  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT)
        |    AS x_micro
        | FROM embeddings)
        |GROUP BY dim ORDER BY dim""".stripMargin,
    "v04_drift_profile" ->
      """WITH cut AS (SELECT COUNT(*) * 9 // 10 AS nb FROM embeddings),
        |x AS (SELECT vec_id < (SELECT nb FROM cut) AS is_base,
        |  CAST(unnest(range(len(embedding))) AS BIGINT) AS dim,
        |  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT)
        |    AS xm
        | FROM embeddings)
        |SELECT dim,
        | CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
        | CAST(SUM(CASE WHEN is_base THEN xm ELSE 0 END) AS BIGINT)
        |   AS sum_base_micro,
        | CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS n_delta,
        | CAST(SUM(CASE WHEN is_base THEN 0 ELSE xm END) AS BIGINT)
        |   AS sum_delta_micro,
        | CAST(SUM(CASE WHEN is_base THEN 0 ELSE xm END)
        |    * SUM(CASE WHEN is_base THEN 1 ELSE 0 END)
        |  - SUM(CASE WHEN is_base THEN xm ELSE 0 END)
        |    * SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS drift_num
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin,
  )
}
