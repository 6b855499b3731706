package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Relational operator coverage over the TPC-H-ish star schema + events.
  *
  * Every query here has a DuckDB oracle (see [[oracles]]) and is written
  * for exact hash-parity with it:
  *   - money arithmetic is done in DECIMAL(18,2) (inputs have <=2 decimal
  *     places, so sums/products are exact) and cast to DOUBLE only at the
  *     very end — both engines then produce bit-identical doubles;
  *   - every output is totally ordered (explicit tie-break columns), so
  *     LIMIT boundaries are deterministic;
  *   - time arithmetic uses integer microseconds (`unix_micros` /
  *     `epoch_us`), never truncating second-level casts.
  *
  * Scale notes (100 TB design):
  *   - aggregations happen BEFORE joins wherever possible (shrink shuffle);
  *   - dimension tables (region/nation/supplier/part/customer) are
  *     broadcast — at SF100k customer stops being broadcastable and falls
  *     back to a shuffle join automatically if the hint is dropped by AQE;
  *   - every filter is a plain Column predicate, so parquet pushdown and
  *     column pruning apply.
  */
object StarQueries {

  /** Exact money type: inputs in the test data carry <=2 decimals. */
  private def money(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Money in integer cents: inputs carry <=2 decimals so cent
    * rounding is exact. The revenue queries (q01-q04) do their per-row
    * arithmetic in LONG multiplies — the DECIMAL(18,2) formulation
    * burned a BigDecimal multiply per row, the dominant q01 cost — and
    * aggregate the products via [[sumExact]]. Rounding is
    * `floor(x*100 + 0.5)` rather than `round()`: identical for the
    * non-negative money columns it is applied to, and pure double
    * arithmetic where Spark's `round` routes every double through
    * BigDecimal.setScale (measured ~2x the whole aggregate's cost).
    */
  private def cents(c: Column): Column = floor(c * 100 + 0.5).cast(LongType)

  /** Overflow-safe exact sum of non-negative long cent-products in
    * pure long arithmetic: the value splits into hi = c >> 20 and
    * lo = c & 0xFFFFF, each summed as a plain long — the aggregate
    * buffer stays two codegen'd long adds per row (a DECIMAL(38,0)
    * buffer measured 2x slower) — and recombines exactly in
    * DECIMAL(38,0) on the <=|groups| final rows. Headroom: group sums
    * stay exact to ~10^13 rows of 10^11-unit products (2^63 / 2^-20 of
    * the product bound), ~10^5 x beyond SF100k group sizes; DuckDB
    * mirrors with its native exact HUGEINT sums.
    */
  private def sumExact(c: Column): Column =
    recombineExact(sumExactHi(c), sumExactLo(c))

  /** The split-long decomposition behind [[sumExact]], exposed so a
    * TWO-level aggregate (per-order partials in q03/q04, recombined
    * after the join) uses the same constants from one definition —
    * the shift and its masks must never diverge between the partial
    * and the recombine, or exactness silently breaks.
    */
  private def sumExactHi(c: Column): Column = sum(shiftright(c, 20))
  private def sumExactLo(c: Column): Column = sum(c.bitwiseAND(lit(1048575L)))
  private def recombineExact(hi: Column, lo: Column): Column =
    hi.cast(DecimalType(38, 0)) * lit(1048576L) + lo.cast(DecimalType(38, 0))

  /** Revenue per row in 10^-4 dollars: price_cents x (100 - disc_cents). */
  private def revenueCents(ep: Column, disc: Column): Column =
    cents(ep) * (lit(100L) - cents(disc))

  // ---------------------------------------------------------------- queries

  /** TPC-H Q1 — scan + filter + hash aggregate (partial/final for free).
    * All money terms are integer cent units per row (disc_price in
    * 10^-4 dollars, charge in 10^-6), divided back to dollars only
    * after the exact sum — the oracle mirrors every step.
    */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val discPrice = revenueCents($"l_extendedprice", $"l_discount")
    val charge = discPrice * (lit(100L) + cents($"l_tax"))
    li.filter($"l_shipdate" <= lit("1998-09-01").cast(TimestampType))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        (sumExact(cents($"l_quantity")).cast(DoubleType) / 100.0).as("sum_qty"),
        (sumExact(cents($"l_extendedprice")).cast(DoubleType) / 100.0).as("sum_base_price"),
        (sumExact(discPrice).cast(DoubleType) / 10000.0).as("sum_disc_price"),
        (sumExact(charge).cast(DoubleType) / 1000000.0).as("sum_charge"),
        round(sumExact(cents($"l_quantity")).cast(DoubleType) / 100.0 / count(lit(1)), 4).as("avg_qty"),
        round(sumExact(cents($"l_extendedprice")).cast(DoubleType) / 100.0 / count(lit(1)), 4).as("avg_price"),
        round(sumExact(cents($"l_discount")).cast(DoubleType) / 100.0 / count(lit(1)), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Pre-aggregate then broadcast-join the `part` dimension; top-k. */
  def q02TopParts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    li.groupBy($"l_partkey")
      .agg(sumExact(revenueCents($"l_extendedprice", $"l_discount")).as("rev"),
        count(lit(1)).as("n_items"))
      .join(broadcast(p), $"l_partkey" === $"p_partkey")
      .select($"p_partkey", $"p_name", $"p_brand",
        ($"rev".cast(DoubleType) / 10000.0).as("revenue"), $"n_items")
      .orderBy($"revenue".desc, $"p_partkey")
      .limit(10)
  }

  /** TPC-H Q3-style shipping priority: 3-way join, filter both sides.
    * The per-order revenue aggregation runs BEFORE the orderkey join:
    * the grouping key is the join key (the o_* columns are functionally
    * dependent on it), so aggregating first is semantics-preserving —
    * inner join and semi join only drop whole orders — and the shuffle
    * carries one (orderkey, revenue) row per order instead of every
    * surviving lineitem row. Same scale argument as [[q04RegionRevenue]].
    */
  def q03ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cutoff = lit("1998-01-01").cast(TimestampType)
    val c = Tables.customer(spark, dir).filter($"c_mktsegment" === "BUILDING")
    val o = Tables.orders(spark, dir).filter($"o_orderdate" < cutoff)
    val li = Tables.lineitem(spark, dir).filter($"l_shipdate" > cutoff)
    val perOrder = li.groupBy($"l_orderkey")
      .agg((sumExact(revenueCents($"l_extendedprice", $"l_discount"))
        .cast(DoubleType) / 10000.0).as("revenue"))
    perOrder.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey", "left_semi")
      .select($"l_orderkey", $"o_orderdate", $"o_orderpriority", $"revenue")
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  /** TPC-H Q5-style: revenue by region/nation of the customer.
    * The lineitem side pre-aggregates to ONE
    * row per order BEFORE the fact-fact join: map-side partial
    * aggregation collapses the shuffle from |lineitem| raw rows to
    * ~|orders| (hi, lo, count) triples, and the orderkey join then
    * moves an order-sized table instead of a lineitem-sized one — at
    * 100 TB lineitem is the largest table in the schema and this is
    * the difference between shuffling 100 TB and shuffling its 4x
    * smaller key-side digest. Exactness is preserved because the
    * split-long sums ([[sumExact]]'s hi/lo decomposition) are plain
    * long additions — associative — so summing per-order partials and
    * recombining equals the single-level sum bit-for-bit.
    */
  def q04RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val rev = revenueCents($"l_extendedprice", $"l_discount")
    val perOrder = li.groupBy($"l_orderkey").agg(
      sumExactHi(rev).as("rev_hi"),
      sumExactLo(rev).as("rev_lo"),
      count(lit(1)).as("n_lines_o"))
    perOrder.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg((recombineExact(sum($"rev_hi"), sum($"rev_lo"))
        .cast(DoubleType) / 10000.0).as("revenue"),
        sum($"n_lines_o").as("n_lines"))
      .orderBy($"r_name", $"n_name")
  }

  /** Anti join: customers with no large (>400k) order, profiled by segment. */
  def q05CustomersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter($"o_totalprice" > 400000).select($"o_custkey")
    c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum(money($"c_acctbal")).cast(DoubleType).as("total_acctbal"))
      .orderBy($"c_mktsegment")
  }

  /** Semi join: suppliers that actually shipped anything. */
  def q06ActiveSuppliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = Tables.supplier(spark, dir)
    val li = Tables.lineitem(spark, dir).select($"l_suppkey")
    s.join(li, $"s_suppkey" === $"l_suppkey", "left_semi")
      .select($"s_suppkey", $"s_name", $"s_nationkey")
      .orderBy($"s_suppkey")
  }

  /** Window top-N per group: each customer's 3 biggest orders. */
  def q07TopOrdersPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    o.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"rn", $"o_orderkey",
        money($"o_totalprice").cast(DoubleType).as("totalprice"))
      .orderBy($"o_custkey", $"rn")
  }

  /** ROLLUP aggregation (grouping sets). */
  def q08StatusRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    o.rollup($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(money($"o_totalprice")).cast(DoubleType).as("total_price"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  /** Set operations: INTERSECT + EXCEPT on customer key sets. */
  def q09SetOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val bigSpenders = o.groupBy($"o_custkey")
      .agg(sum(money($"o_totalprice")).as("spent"))
      .filter($"spent" > lit(1000000))
      .select($"o_custkey".as("custkey"))
    val rich = c.filter($"c_acctbal" > 5000).select($"c_custkey".as("custkey"))
    val automobile = c.filter($"c_mktsegment" === "AUTOMOBILE")
      .select($"c_custkey".as("custkey"))
    bigSpenders.intersect(rich).except(automobile).orderBy($"custkey")
  }

  /** Date bucketing: revenue by calendar month. */
  def q10MonthlyRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    o.groupBy(date_trunc("month", $"o_orderdate").cast(DateType).as("o_month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(money($"o_totalprice")).cast(DoubleType).as("total_price"))
      .orderBy($"o_month")
  }

  /** Tumbling 15-minute windows over the event stream (batch form of the
    * Structured Streaming aggregation in graft.streaming).
    */
  def q11EventTumbling(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    ev.groupBy(window($"ts", "15 minutes").getField("start").as("window_start"),
        $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(money($"value")).cast(DoubleType).as("total_value"))
      .orderBy($"window_start", $"event_type")
  }

  /** q27 — HOPPING (sliding) windows: 30-minute windows advancing
    * every 15 — the overlap mode q11's tumbling windows can't express
    * (each event lands in exactly two windows; a rolling rate monitor
    * reads this, a batch report reads q11). Spark's `window(ts, len,
    * slide)` emits the epoch-aligned starts; the oracle derives the
    * same two starts per event arithmetically (its 15-minute bucket
    * and the one before). DECIMAL value sums, double only at output —
    * the q01/q11 money-parity rule.
    */
  def q27EventHopping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    ev.groupBy(
        window($"ts", "30 minutes", "15 minutes").getField("start")
          .as("window_start"),
        $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(money($"value")).cast(DoubleType).as("total_value"))
      .orderBy($"window_start", $"event_type")
  }

  /** Semi-structured extraction: pull `k` out of the JSON props column. */
  def q12EventProps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    ev.withColumn("k", regexp_extract($"props", "\"k\": (\\d+)", 1).cast(LongType))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"k").as("sum_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  /** Sessionization: 30-minute inactivity gap, per user, via lag().
    * Gap math in integer microseconds for exact cross-engine parity.
    */
  def q13Sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    ev.withColumn("prev_us", lag(unix_micros($"ts"), 1).over(w))
      .withColumn("new_sess",
        when($"prev_us".isNull || unix_micros($"ts") - $"prev_us" > 1800000000L, 1L)
          .otherwise(0L))
      .groupBy($"user_id")
      .agg(sum($"new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }

  /** Q20 — native session-window aggregation: per-user sessions with a
    * 30-minute inactivity gap via Spark's `session_window` (vs q13's
    * lag-based formulation of the same semantics). Sessions CHAIN: an
    * event extends the session while it lands within the gap of the
    * LATEST event, and the boundary case — a gap of exactly 30 minutes
    * — merges (probed empirically; same strict-> convention as q13's
    * `> 1800000000`). `session_window.start` is the first event's ts.
    */
  def q20SessionWindowAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    ev.groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(money($"value")).cast(DoubleType).as("total_value"))
      .select($"user_id", $"sw.start".as("session_start"),
        $"n_events", $"total_value")
      .orderBy($"user_id", $"session_start")
  }

  /** Q21 — pivot: the order-status mixture per priority as a wide
    * matrix via Spark's native `pivot` with an EXPLICIT value list —
    * no extra distinct-scan job to discover the columns, and the
    * output schema is static (the form a scheduled report pipeline
    * needs; a discovered pivot would change schema when a new status
    * appears). One hash aggregate over (priority x status), map-side
    * partial; revenue stays in exact integer cents ([[sumExact]])
    * until the final divide, so the doubles match the oracle
    * bit-for-bit.
    */
  def q21StatusPivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("orders"),
        (sumExact(cents($"o_totalprice")).cast(DoubleType) / 100.0)
          .as("revenue"))
      .orderBy($"o_orderpriority")
  }

  /** Q22 — unpivot/melt: per-returnflag metrics reshaped to long
    * (metric, value) form via Spark's native `unpivot` — the inverse
    * of q21's widening, the shape metric stores and plotting layers
    * ingest. All measures share one BIGINT value column (unpivot
    * requires a common type, the same rule as SQL UNPIVOT); the
    * quantity sum is exact integer cents. The reshape is a zero-shuffle
    * Expand over the (tiny) aggregated frame — the aggregation before
    * it is the only wide work.
    */
  def q22MetricsUnpivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wide = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        countDistinct($"l_orderkey").as("n_orders"),
        sumExact(cents($"l_quantity")).cast(LongType).as("qty_cents"))
    wide.unpivot(Array($"l_returnflag"),
        Array($"n_items", $"n_orders", $"qty_cents"), "metric", "value")
      .orderBy($"l_returnflag", $"metric")
  }

  /** Q23 — explicit GROUPING SETS (the literal operator, beyond q08's
    * rollup and q16's cube): both one-dimensional status/priority
    * margins plus the grand total in ONE aggregation pass — the
    * Expand-based plan computes all three sets off a single scan,
    * where three separate groupBys would read orders three times.
    * `grouping()` flags travel in the output to disambiguate a margin
    * row from a real NULL (the operator's contract, even though this
    * data has no NULL keys); they also make the output sort total.
    */
  def q23GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq($"o_orderstatus"), Seq($"o_orderpriority"), Seq.empty),
        $"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        (sumExact(cents($"o_totalprice")).cast(DoubleType) / 100.0)
          .as("revenue"),
        grouping($"o_orderstatus").cast(LongType).as("g_status"),
        grouping($"o_orderpriority").cast(LongType).as("g_priority"))
      .orderBy($"g_status", $"g_priority", $"o_orderstatus",
        $"o_orderpriority")
  }

  /** q24's balance-band width (account-balance units per band). With
    * the composite (nationkey, band) key, every full-outer branch is
    * non-degenerate at every test scale factor (measured cells
    * matched/customer-only/supplier-only: 1/22/9 at sf0.001, 50/127/31
    * at sf0.01) — a single-column nation key degenerates because one
    * side's nation set always covers the other's.
    */
  val ReconcileBandWidth = 1000.0

  /** Full outer join: per-(nation, balance-band) reconciliation of the
    * AUTOMOBILE customer base against the supplier base — which market
    * cells have buyers but no local supplier presence, and vice versa.
    * Aggregate-THEN-join: each side collapses to at most
    * |nations| x |bands| summary rows before the join, so the
    * full-outer shuffle carries group summaries, never fact rows (at
    * 100 TB the join inputs are still a few hundred rows each). Spark
    * has no broadcast full-outer equi-join, and none is needed at this
    * size; null-extension on BOTH sides is the point of the operator,
    * with `coalesce` folding the missing side to zero counts.
    */
  def q24FullOuterReconcile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def band(c: Column): Column =
      floor(c / ReconcileBandWidth).cast(IntegerType)
    val c = Tables.customer(spark, dir)
      .filter($"c_mktsegment" === "AUTOMOBILE")
      .groupBy($"c_nationkey".as("ck"), band($"c_acctbal").as("cb"))
      .agg(count(lit(1)).as("cn"), sum(cents($"c_acctbal")).as("cd"))
    val s = Tables.supplier(spark, dir)
      .groupBy($"s_nationkey".as("sk"), band($"s_acctbal").as("sb"))
      .agg(count(lit(1)).as("sn"), sum(cents($"s_acctbal")).as("sd"))
    c.join(s, $"ck" === $"sk" && $"cb" === $"sb", "full_outer")
      .select(
        coalesce($"ck", $"sk").as("nationkey"),
        coalesce($"cb", $"sb").as("bal_band"),
        coalesce($"cn", lit(0L)).as("n_cust"),
        coalesce($"cd", lit(0L)).as("cust_bal_cents"),
        coalesce($"sn", lit(0L)).as("n_supp"),
        coalesce($"sd", lit(0L)).as("supp_bal_cents"))
      .orderBy($"nationkey", $"bal_band")
  }

  /** q25's per-step conversion horizon. 24 h is calibrated to this
    * corpus's event density so every live funnel stage carries users at
    * every SF (stage1/2/3 = 9/3/3 at sf0.001, 90/35/25 at sf0.01,
    * 964/319/217 at sf0.1); shorter horizons empty stage 3, unbounded
    * ones converge to everyone converting.
    */
  val FunnelStepHours = 24

  /** q25 — conversion funnel (view → click → purchase): per user, the
    * first view, the first click within [[FunnelStepHours]] of that
    * view, the first purchase within the same horizon of that click,
    * and the resulting funnel stage — the product-analytics operator
    * class (ordered event-sequence matching) the session/window queries
    * don't cover.
    *
    * Shape: a chain of filter → per-user min aggregations, each JOINED
    * to the previous stage's (user, anchor-ts) summary — never a
    * per-user event-list collect. Each aggregation partial-aggregates
    * map-side to one row per user, every join is user-keyed and reuses
    * the aggregation's hash partitioning, and each stage's input is
    * pre-filtered to one event type — so the shuffled volume is
    * |users| + the per-type event subsets, and a 100-stage funnel at
    * 100 TB is 100 slim user-keyed passes, not a giant per-user state
    * fold. Stage 0 (no view at all) is structurally present but empty
    * on this corpus — every user views; the spec pins the stage
    * assignment logic itself.
    */
  def q25Funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_type")
    val h = expr(s"interval $FunnelStepHours hours")
    val v = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t_view"))
    val c = e.filter($"event_type" === "click").join(v, "user_id")
      .filter($"ts" > $"t_view" && $"ts" <= $"t_view" + h)
      .groupBy($"user_id").agg(min($"ts").as("t_click"))
    val p = e.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"ts" > $"t_click" && $"ts" <= $"t_click" + h)
      .groupBy($"user_id").agg(min($"ts").as("t_purchase"))
    e.select($"user_id").distinct()
      .join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .withColumn("stage",
        when($"t_purchase".isNotNull, 3L)
          .when($"t_click".isNotNull, 2L)
          .when($"t_view".isNotNull, 1L)
          .otherwise(0L))
      .orderBy($"user_id")
  }

  /** q26 — weekly cohort retention segmented by acquisition event: each
    * user's cohort is their FIRST event's type (ties broken by
    * (ts, event_id)) and first-activity week; for every (cohort type,
    * week offset) the count of users still active that week against the
    * cohort size — the retention triangle of product analytics,
    * segmented the way an acquisition-channel report segments it.
    *
    * Scale shape: the first-event pick is a per-user window (user-sized
    * partitions, never global); activity collapses to DISTINCT
    * (user, week) before any join — one row per user-week, not per
    * event — and both joins key on user_id so they reuse the same
    * hash partitioning; the cohort-size side is |event types| rows and
    * broadcasts. Integer counts only, hash-exact vs the oracle.
    */
  def q26CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val firstEv = e.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"event_type".as("cohort_type"),
        date_trunc("week", $"ts").cast("date").as("first_week"))
    val uw = e
      .select($"user_id", date_trunc("week", $"ts").cast("date").as("wk"))
      .distinct()
    val active = uw.join(firstEv, "user_id")
      .select($"cohort_type",
        (datediff($"wk", $"first_week") / 7).cast("long").as("week_offset"),
        $"user_id")
      .groupBy($"cohort_type", $"week_offset")
      .agg(countDistinct($"user_id").as("n_active"))
    val sizes = firstEv.groupBy($"cohort_type")
      .agg(count(lit(1)).as("n_cohort"))
    active.join(broadcast(sizes), "cohort_type")
      .select($"cohort_type", $"week_offset", $"n_cohort", $"n_active")
      .orderBy($"cohort_type", $"week_offset")
  }

  /** SQL-standard NTILE(k) in closed form from a 1-based global rank:
    * with n rows, the first `n % k` buckets hold `n/k + 1` rows and the
    * rest hold `n/k` (what Spark's `ntile` and DuckDB's `NTILE` both
    * implement). Extracted so the property spec can check it against
    * Spark's own window ntile across many n. Column `/` is double
    * division; `floor` makes the integer quotient explicit (exact here:
    * quotients are <= k, denominators << 2^53).
    */
  private[relational] def ntileBucket(rank: Column, n: Long, k: Int): Column = {
    val base = n / k
    val rem = n % k
    val cut = (base + 1) * rem
    val bucket =
      if (base == 0) rank // n < k: every row its own bucket
      else when(rank <= cut, floor((rank - 1) / (base + 1)) + 1)
        .otherwise(floor((rank - 1 - cut) / base) + (rem + 1))
    bucket.cast(IntegerType)
  }

  /** NTILE deciles of customers by account balance — exact, with no
    * global single-partition window: the global 1-based rank comes from
    * [[graft.RangedPrefix.runningSum]] (range partition + partitioned
    * window + per-partition offsets; one driver row per partition).
    * The NTILE bucket then follows from the global rank in closed form
    * (first `n % 10` buckets get the extra row), which is the
    * SQL-standard semantics DuckDB's NTILE implements, so hash-parity
    * holds. PlanAuditSpec enforces the no-unpartitioned-Window rule
    * for every registered query.
    */
  def q14BalanceDeciles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (ranked, n) = graft.RangedPrefix.runningSum(spark, s"q14:$dir",
      Tables.customer(spark, dir).select($"c_custkey", $"c_acctbal"),
      Seq($"c_acctbal", $"c_custkey"), lit(1L), "rank")
    ranked
      .withColumn("decile", ntileBucket($"rank", n, 10))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_customers"),
        sum(money($"c_acctbal")).cast(DoubleType).as("total_acctbal"),
        min(money($"c_acctbal")).cast(DoubleType).as("min_acctbal"),
        max(money($"c_acctbal")).cast(DoubleType).as("max_acctbal"))
      .orderBy($"decile")
  }

  /** q28's per-user RFM rollup, memoized + persisted: three global
    * quintile ranks AND the segment aggregation consume it, and each
    * RangedPrefix call would otherwise re-scan the event table to
    * rebuild it (4 full scans at 100 TB for one |users|-sized frame).
    */
  private def rfmUsers(spark: SparkSession, dir: String): DataFrame =
    rfmCache.getOrBuild((spark, dir)) {
      import spark.implicits._
      Tables.events(spark, dir)
        .groupBy($"user_id")
        .agg(max($"ts").as("last_ts"), count(lit(1)).as("n_events"),
          sum(money($"value")).as("monetary"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val rfmCache = graft.Memo.frames("q.rfm")

  /** q28 — RFM user segmentation over the event stream: the classic
    * recency/frequency/monetary quintile grid (each user bucketed 1-5
    * on last-activity time, event count, and total spend; bucket 1 =
    * best), aggregated to the ≤125-cell segment table a lifecycle/
    * retention team reads. Exactness: recency orders by the raw
    * timestamp (no date math), spend stays DECIMAL(18,2) until the
    * final output cast, ties break on user_id, and the quintile is
    * [[ntileBucket]]'s closed form off a global 1-based rank.
    *
    * Scale shape: the per-user rollup is one partial-aggregated
    * groupBy (memoized — see [[rfmUsers]]); each global rank is the
    * RangedPrefix range-partition prefix-sum, never a single-partition
    * window; the three bucket frames join back user-keyed; the final
    * aggregate is grid-sized.
    */
  def q28RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val u = rfmUsers(spark, dir)
    def bucket(tag: String, order: Seq[Column]): DataFrame = {
      val (ranked, n) = graft.RangedPrefix.runningSum(spark,
        s"q28$tag:$dir", u, order, lit(1L), "rank")
      ranked.select($"user_id",
        ntileBucket($"rank", n, 5).as(s"${tag}_bucket"))
    }
    val r = bucket("r", Seq($"last_ts".desc, $"user_id"))
    val f = bucket("f", Seq($"n_events".desc, $"user_id"))
    val m = bucket("m", Seq($"monetary".desc, $"user_id"))
    u.join(r, Seq("user_id")).join(f, Seq("user_id")).join(m, Seq("user_id"))
      .groupBy($"r_bucket", $"f_bucket", $"m_bucket")
      .agg(count(lit(1)).as("n_users"),
        sum($"n_events").as("total_events"),
        sum($"monetary").cast(DoubleType).as("total_value"))
      .orderBy($"r_bucket", $"f_bucket", $"m_bucket")
  }

  /** "Above own average" without float division: o_totalprice * n > sum
    * stays in exact decimal/integer arithmetic. Correlated-subquery class.
    */
  def q15AboveAvgOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val perCust = o.groupBy($"o_custkey".as("agg_custkey"))
      .agg(sum(money($"o_totalprice")).as("spent"), count(lit(1)).as("n_orders"))
    o.join(perCust, $"o_custkey" === $"agg_custkey")
      .filter(money($"o_totalprice") * $"n_orders" > $"spent")
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_above"))
      .orderBy($"o_custkey")
  }

  /** CUBE over status x priority: all four grouping-set combinations in
    * one pass (partial aggregation handles the expansion map-side).
    */
  def q16StatusCube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    o.cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(money($"o_totalprice")).cast(DoubleType).as("total_price"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  /** As-of join: each order of a low-key customer matched to that
    * customer's latest event at-or-before the order date. Formulated as
    * equi-key join + `max_by` aggregation: latest-wins is a partial
    * aggregate, so each map partition collapses to ONE candidate per
    * order before the shuffle — candidate volume never crosses the
    * wire, unlike a window collapse, which shuffles every candidate row
    * and sorts per order. Tie-break (ts, event_id) matches the oracle's
    * `ROW_NUMBER() ... ORDER BY ts DESC, event_id DESC` exactly.
    */
  /** q17's bounded as-of lookback, in days. Both the Spark plan and the
    * oracle apply it, so the parity gate cannot see a horizon that is
    * too narrow for the data — StarQueriesSpec asserts the dataset's
    * whole (anchor - event) span fits inside it.
    */
  val AsofLookbackDays = 90

  def q17AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // testdata quirk: events span Jan 2024 while order dates are
    // 1995-2001, so the as-of anchor is a deterministic per-order
    // timestamp inside the event horizon (the operator shape — equi-key
    // join + range predicate + per-left-row latest-wins collapse — is
    // what scales, not the anchor's provenance)
    val anchor = timestamp_micros(
      lit(1704067200000000L) + ($"o_orderkey" % 30) * 86400000000L +
        ($"o_orderkey" % 24) * 3600000000L)
    val o = Tables.orders(spark, dir).filter($"o_custkey" <= 150)
      .select($"o_orderkey", $"o_custkey", anchor.as("anchor_ts"))
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"ts", $"event_type")
    // bounded lookback: the as-of match must fall within
    // AsofLookbackDays of the anchor, so per-order candidate volume is
    // capped by a key's event rate x horizon instead of its full
    // history — the knob that keeps this join linear at 100 TB (an
    // unbounded as-of accumulates every earlier event per probe). The
    // horizon covers this dataset's whole anchor-to-event span
    // (asserted in StarQueriesSpec), so results equal the unbounded
    // formulation here.
    o.join(ev, $"user_id" === $"o_custkey" && $"ts" <= $"anchor_ts" &&
        $"ts" > $"anchor_ts" - expr(s"interval $AsofLookbackDays days"))
      .groupBy($"o_orderkey", $"o_custkey")
      .agg(max_by(struct($"event_id", $"ts", $"event_type"),
        struct($"ts", $"event_id")).as("latest"))
      .select($"o_orderkey", $"o_custkey", $"latest.event_id", $"latest.ts",
        $"latest.event_type")
      .orderBy($"o_orderkey")
  }

  /** Distinct-cardinality profile (exact; the approximate HLL variant is
    * asserted against this in the spec — approx sketches aren't
    * cross-engine-stable, so only exact counts face the oracle).
    */
  def q18DistinctProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.agg(
      countDistinct($"c_mktsegment").as("n_segments"),
      countDistinct($"c_nationkey").as("n_nations"),
      count(lit(1)).as("n_customers"))
      .crossJoin(o.agg(
        countDistinct($"o_orderstatus").as("n_statuses"),
        countDistinct($"o_custkey").as("n_active_custs")))
  }

  /** Self range-join: pairs of events by the same user within 5 minutes,
    * counted by type transition. The equi-key (user_id) carries the
    * shuffle; the range predicate filters inside each key group —
    * the scalable shape for interval joins (plus AQE skew handling).
    */
  def q19EventRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"ts", $"event_type")
    val a = ev.as("a")
    val b = ev.as("b")
    a.join(b, $"a.user_id" === $"b.user_id" &&
        $"a.ts" < $"b.ts" &&
        unix_micros($"b.ts") - unix_micros($"a.ts") <= 300000000L)
      .groupBy($"a.event_type".as("from_type"), $"b.event_type".as("to_type"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"from_type", $"to_type")
  }

  // ---------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> q01PricingSummary _,
    "q02_top_parts" -> q02TopParts _,
    "q03_shipping_priority" -> q03ShippingPriority _,
    "q04_region_revenue" -> q04RegionRevenue _,
    "q05_customers_without_orders" -> q05CustomersWithoutOrders _,
    "q06_active_suppliers" -> q06ActiveSuppliers _,
    "q07_top_orders_per_customer" -> q07TopOrdersPerCustomer _,
    "q08_status_rollup" -> q08StatusRollup _,
    "q09_set_ops" -> q09SetOps _,
    "q10_monthly_revenue" -> q10MonthlyRevenue _,
    "q11_event_tumbling" -> q11EventTumbling _,
    "q27_event_hopping" -> q27EventHopping _,
    "q28_rfm_segments" -> q28RfmSegments _,
    "q12_event_props" -> q12EventProps _,
    "q13_sessionize" -> q13Sessionize _,
    "q14_balance_deciles" -> q14BalanceDeciles _,
    "q15_above_avg_orders" -> q15AboveAvgOrders _,
    "q16_status_cube" -> q16StatusCube _,
    "q17_asof_join" -> q17AsofJoin _,
    "q18_distinct_profile" -> q18DistinctProfile _,
    "q19_event_range_join" -> q19EventRangeJoin _,
    "q20_session_window" -> q20SessionWindowAgg _,
    "q21_status_pivot" -> q21StatusPivot _,
    "q22_metrics_unpivot" -> q22MetricsUnpivot _,
    "q23_grouping_sets" -> q23GroupingSets _,
    "q24_full_outer_reconcile" -> q24FullOuterReconcile _,
    "q25_funnel" -> q25Funnel _,
    "q26_cohort_retention" -> q26CohortRetention _,
  )

  private val DEC = "DECIMAL(18,2)"
  private def m(c: String) = s"CAST($c AS $DEC)"
  // integer-cents mirrors of `cents` / `revenueCents` (DuckDB SUM over
  // integers is exact HUGEINT, matching the Spark DECIMAL(38,0) sums)
  private def cts(c: String) = s"CAST(floor($c * 100 + 0.5) AS BIGINT)"
  private val REVC = s"${cts("l_extendedprice")} * (100 - ${cts("l_discount")})"

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         | CAST(SUM(${cts("l_quantity")}) AS DOUBLE) / 100.0 AS sum_qty,
         | CAST(SUM(${cts("l_extendedprice")}) AS DOUBLE) / 100.0 AS sum_base_price,
         | CAST(SUM($REVC) AS DOUBLE) / 10000.0 AS sum_disc_price,
         | CAST(SUM($REVC * (100 + ${cts("l_tax")})) AS DOUBLE) / 1000000.0 AS sum_charge,
         | ROUND(CAST(SUM(${cts("l_quantity")}) AS DOUBLE) / 100.0 / COUNT(*), 4) AS avg_qty,
         | ROUND(CAST(SUM(${cts("l_extendedprice")}) AS DOUBLE) / 100.0 / COUNT(*), 4) AS avg_price,
         | ROUND(CAST(SUM(${cts("l_discount")}) AS DOUBLE) / 100.0 / COUNT(*), 4) AS avg_disc,
         | COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_top_parts" ->
      s"""SELECT p_partkey, p_name, p_brand,
         | CAST(SUM($REVC) AS DOUBLE) / 10000.0 AS revenue, COUNT(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_partkey, p_name, p_brand
         |ORDER BY revenue DESC, p_partkey LIMIT 10""".stripMargin,
    "q03_shipping_priority" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         | CAST(SUM($REVC) AS DOUBLE) / 10000.0 AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         |  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q04_region_revenue" ->
      s"""SELECT r_name, n_name,
         | CAST(SUM($REVC) AS DOUBLE) / 10000.0 AS revenue, COUNT(*) AS n_lines
         |FROM lineitem
         | JOIN orders ON l_orderkey = o_orderkey
         | JOIN customer ON o_custkey = c_custkey
         | JOIN nation ON c_nationkey = n_nationkey
         | JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q05_customers_without_orders" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_customers,
         | CAST(SUM(${m("c_acctbal")}) AS DOUBLE) AS total_acctbal
         |FROM customer WHERE c_custkey NOT IN
         | (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q06_active_suppliers" ->
      """SELECT s_suppkey, s_name, s_nationkey FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem)
        |ORDER BY s_suppkey""".stripMargin,
    "q07_top_orders_per_customer" ->
      s"""SELECT o_custkey, rn, o_orderkey, totalprice FROM (
         | SELECT o_custkey, o_orderkey,
         |  CAST(${m("o_totalprice")} AS DOUBLE) AS totalprice,
         |  ROW_NUMBER() OVER (PARTITION BY o_custkey
         |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
         | FROM orders) WHERE rn <= 3
         |ORDER BY o_custkey, rn""".stripMargin,
    "q08_status_rollup" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
         | CAST(SUM(${m("o_totalprice")}) AS DOUBLE) AS total_price
         |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q09_set_ops" ->
      s"""(SELECT o_custkey AS custkey FROM orders
         |  GROUP BY o_custkey HAVING SUM(${m("o_totalprice")}) > 1000000
         | INTERSECT
         | SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000)
         |EXCEPT
         |SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
         |ORDER BY custkey""".stripMargin,
    "q10_monthly_revenue" ->
      s"""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS o_month,
         | COUNT(*) AS n_orders,
         | CAST(SUM(${m("o_totalprice")}) AS DOUBLE) AS total_price
         |FROM orders GROUP BY 1 ORDER BY o_month""".stripMargin,
    "q11_event_tumbling" ->
      s"""SELECT date_trunc('hour', ts)
         |   + (CAST(FLOOR(minute(ts)/15) AS INT) * INTERVAL 15 MINUTE) AS window_start,
         | event_type, COUNT(*) AS n_events,
         | CAST(SUM(${m("value")}) AS DOUBLE) AS total_value
         |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q27_event_hopping" ->
      s"""SELECT date_trunc('hour', ts)
         |   + (CAST(FLOOR(minute(ts)/15) AS INT) * INTERVAL 15 MINUTE)
         |   - (o * INTERVAL 15 MINUTE) AS window_start,
         | event_type, COUNT(*) AS n_events,
         | CAST(SUM(${m("value")}) AS DOUBLE) AS total_value
         |FROM events, unnest([0, 1]) t(o)
         |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q12_event_props" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        | MAX(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q13_sessionize" ->
      """SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
        | COUNT(*) AS n_events FROM (
        | SELECT user_id,
        |  CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |       THEN 1 ELSE 0 END AS new_sess
        | FROM (SELECT user_id, ts, LAG(epoch_us(ts)) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |       FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q14_balance_deciles" ->
      s"""SELECT decile, COUNT(*) AS n_customers,
         | CAST(SUM(${m("c_acctbal")}) AS DOUBLE) AS total_acctbal,
         | CAST(MIN(${m("c_acctbal")}) AS DOUBLE) AS min_acctbal,
         | CAST(MAX(${m("c_acctbal")}) AS DOUBLE) AS max_acctbal
         |FROM (SELECT c_acctbal, NTILE(10) OVER
         |       (ORDER BY c_acctbal, c_custkey) AS decile FROM customer)
         |GROUP BY decile ORDER BY decile""".stripMargin,
    "q28_rfm_segments" ->
      s"""WITH u AS (SELECT user_id, MAX(ts) AS last_ts,
         |    COUNT(*) AS n_events, SUM(${m("value")}) AS monetary
         |  FROM events GROUP BY user_id),
         |b AS (SELECT user_id, n_events, monetary,
         |    NTILE(5) OVER (ORDER BY last_ts DESC, user_id) AS r_bucket,
         |    NTILE(5) OVER (ORDER BY n_events DESC, user_id) AS f_bucket,
         |    NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS m_bucket
         |  FROM u)
         |SELECT r_bucket, f_bucket, m_bucket, COUNT(*) AS n_users,
         |  CAST(SUM(n_events) AS BIGINT) AS total_events,
         |  CAST(SUM(monetary) AS DOUBLE) AS total_value
         |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q15_above_avg_orders" ->
      s"""SELECT o_custkey, COUNT(*) AS n_above
         |FROM orders JOIN (SELECT o_custkey AS agg_custkey,
         |   SUM(${m("o_totalprice")}) AS spent, COUNT(*) AS n_orders
         |  FROM orders GROUP BY o_custkey) ON o_custkey = agg_custkey
         |WHERE ${m("o_totalprice")} * n_orders > spent
         |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q16_status_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
         | CAST(SUM(${m("o_totalprice")}) AS DOUBLE) AS total_price
         |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q17_asof_join" ->
      ("""SELECT o_orderkey, o_custkey, event_id, ts, event_type FROM (
        | SELECT o.o_orderkey, o.o_custkey, e.event_id, e.ts, e.event_type,
        |  ROW_NUMBER() OVER (PARTITION BY o.o_orderkey
        |    ORDER BY e.ts DESC, e.event_id DESC) AS rn
        | FROM (SELECT o_orderkey, o_custkey,
        |        make_timestamp(1704067200000000 + (o_orderkey % 30) * 86400000000
        |          + (o_orderkey % 24) * 3600000000) AS anchor_ts
        |       FROM orders WHERE o_custkey <= 150) o
        | JOIN events e
        |   ON e.user_id = o.o_custkey AND e.ts <= o.anchor_ts
        |      AND e.ts > o.anchor_ts - INTERVAL """.stripMargin +
      s"""$AsofLookbackDays DAY)
        |WHERE rn = 1 ORDER BY o_orderkey""".stripMargin),
    "q18_distinct_profile" ->
      """SELECT * FROM
        |(SELECT COUNT(DISTINCT c_mktsegment) AS n_segments,
        |  COUNT(DISTINCT c_nationkey) AS n_nations,
        |  COUNT(*) AS n_customers FROM customer)
        |CROSS JOIN
        |(SELECT COUNT(DISTINCT o_orderstatus) AS n_statuses,
        |  COUNT(DISTINCT o_custkey) AS n_active_custs FROM orders)""".stripMargin,
    "q19_event_range_join" ->
      """SELECT a.event_type AS from_type, b.event_type AS to_type,
        | COUNT(*) AS n_pairs
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.ts < b.ts
        | AND epoch_us(b.ts) - epoch_us(a.ts) <= 300000000
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,
    // gaps-and-islands form of chained session windows: a session break
    // is a STRICTLY > 30-minute gap to the previous event (the boundary
    // case merges in Spark's session_window, probed empirically), and
    // session_start = the island's first event
    "q20_session_window" ->
      s"""WITH o AS (SELECT user_id, ts, event_id, value, epoch_us(ts) AS us,
         |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev
         |  FROM events),
         |s AS (SELECT user_id, ts, value,
         |    SUM(CASE WHEN prev IS NULL OR us - prev > 1800000000
         |        THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |        ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM o)
         |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
         | CAST(SUM(${m("value")}) AS DOUBLE) AS total_value
         |FROM s GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin,
    // SUM(CASE WHEN .. THEN 1 END) — no ELSE — so an empty cell is
    // NULL, matching Spark pivot's null for a (priority, status)
    // combination with no rows
    "q21_status_pivot" ->
      s"""SELECT o_orderpriority,
         | CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS F_orders,
         | CAST(SUM(CASE WHEN o_orderstatus = 'F'
         |   THEN ${cts("o_totalprice")} END) AS DOUBLE) / 100.0 AS F_revenue,
         | CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS O_orders,
         | CAST(SUM(CASE WHEN o_orderstatus = 'O'
         |   THEN ${cts("o_totalprice")} END) AS DOUBLE) / 100.0 AS O_revenue,
         | CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS P_orders,
         | CAST(SUM(CASE WHEN o_orderstatus = 'P'
         |   THEN ${cts("o_totalprice")} END) AS DOUBLE) / 100.0 AS P_revenue
         |FROM orders GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    "q22_metrics_unpivot" ->
      s"""WITH w AS (SELECT l_returnflag, COUNT(*) AS n_items,
         |  COUNT(DISTINCT l_orderkey) AS n_orders,
         |  CAST(SUM(${cts("l_quantity")}) AS BIGINT) AS qty_cents
         | FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, 'n_items' AS metric, n_items AS value FROM w
         |UNION ALL
         |SELECT l_returnflag, 'n_orders', n_orders FROM w
         |UNION ALL
         |SELECT l_returnflag, 'qty_cents', qty_cents FROM w
         |ORDER BY l_returnflag, metric""".stripMargin,
    "q23_grouping_sets" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
         | CAST(SUM(${cts("o_totalprice")}) AS DOUBLE) / 100.0 AS revenue,
         | CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
         | CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority""".stripMargin,
    "q24_full_outer_reconcile" ->
      s"""WITH c AS (SELECT c_nationkey AS ck,
         |  CAST(floor(c_acctbal / $ReconcileBandWidth) AS INTEGER) AS cb,
         |  COUNT(*) AS cn, CAST(SUM(${cts("c_acctbal")}) AS BIGINT) AS cd
         | FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
         | GROUP BY 1, 2),
         |s AS (SELECT s_nationkey AS sk,
         |  CAST(floor(s_acctbal / $ReconcileBandWidth) AS INTEGER) AS sb,
         |  COUNT(*) AS sn, CAST(SUM(${cts("s_acctbal")}) AS BIGINT) AS sd
         | FROM supplier GROUP BY 1, 2)
         |SELECT CAST(COALESCE(ck, sk) AS INTEGER) AS nationkey,
         | CAST(COALESCE(cb, sb) AS INTEGER) AS bal_band,
         | COALESCE(cn, 0) AS n_cust,
         | COALESCE(cd, 0) AS cust_bal_cents,
         | COALESCE(sn, 0) AS n_supp,
         | COALESCE(sd, 0) AS supp_bal_cents
         |FROM c FULL OUTER JOIN s ON ck = sk AND cb = sb
         |ORDER BY nationkey, bal_band""".stripMargin,
    "q25_funnel" ->
      s"""WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
         |  WHERE event_type = 'view' GROUP BY 1),
         |c AS (SELECT e.user_id, min(e.ts) AS t_click
         |  FROM events e JOIN v USING (user_id)
         |  WHERE e.event_type = 'click' AND e.ts > v.t_view
         |    AND e.ts <= v.t_view + INTERVAL $FunnelStepHours HOUR
         |  GROUP BY 1),
         |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
         |  FROM events e JOIN c USING (user_id)
         |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
         |    AND e.ts <= c.t_click + INTERVAL $FunnelStepHours HOUR
         |  GROUP BY 1),
         |u AS (SELECT DISTINCT user_id FROM events)
         |SELECT u.user_id, v.t_view, c.t_click, p.t_purchase,
         | CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
         |      WHEN c.t_click IS NOT NULL THEN 2
         |      WHEN v.t_view IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
         |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
         |       LEFT JOIN p USING (user_id)
         |ORDER BY u.user_id""".stripMargin,
    "q26_cohort_retention" ->
      """WITH fe AS (SELECT user_id, event_type AS cohort_type,
        |    date_trunc('week', ts)::DATE AS first_week
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY user_id ORDER BY ts, event_id) rn
        |        FROM events) WHERE rn = 1),
        |uw AS (SELECT DISTINCT user_id,
        |    date_trunc('week', ts)::DATE AS wk FROM events),
        |act AS (SELECT cohort_type,
        |    CAST((wk - first_week) // 7 AS BIGINT) AS week_offset,
        |    count(DISTINCT u.user_id) AS n_active
        |  FROM uw u JOIN fe USING (user_id) GROUP BY 1, 2),
        |sz AS (SELECT cohort_type, count(*) AS n_cohort FROM fe GROUP BY 1)
        |SELECT a.cohort_type, a.week_offset,
        | CAST(s.n_cohort AS BIGINT) AS n_cohort,
        | CAST(a.n_active AS BIGINT) AS n_active
        |FROM act a JOIN sz s USING (cohort_type)
        |ORDER BY cohort_type, week_offset""".stripMargin,
  )
}
