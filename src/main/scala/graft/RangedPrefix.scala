package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global order-based running totals WITHOUT a global window.
  *
  * `Window.orderBy(...)` with an empty partitionBy funnels every row
  * through ONE task — a single-executor sort at 100 TB — so global
  * ranks (q14's deciles) and global running sums (x03's packed-block
  * layout) are computed scale-safely instead:
  *
  *   1. range-partition by the sort key and stamp `spark_partition_id`
  *      (partition ascends with the key, so pid order IS key order);
  *   2. aggregate the per-partition totals and prefix-sum them on the
  *      driver — one row per partition crosses, never one per data row
  *      (the same sanctioned collect shape as a stats-row broadcast);
  *   3. broadcast the per-partition base offsets back and add them to
  *      a WITHIN-partition window accumulation.
  *
  * The ranged projection is memoized AND persisted per (session, key):
  * the persist is what makes the two jobs that read it — the totals
  * aggregate and the final projection — see the SAME range boundaries
  * (RangePartitioner re-samples per execution, so an unpersisted
  * exchange could assign rows differently between the jobs; which
  * boundaries it picks is irrelevant to correctness, but both jobs
  * must agree). Each projection is a [[Memo]] entry tagged `rp:` +
  * its caller key, so a caller releases its own projections with
  * `Memo.invalidate("rp:<key prefix>")` and never another module's
  * mid-use.
  */
object RangedPrefix {

  private val cache = Memo.tagged[(SparkSession, String,
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan), DataFrame](
    "rp:", Memo.unpersist)(_._2)

  // working-column names no reasonable base schema carries; runningSum
  // rejects a base that does rather than silently clobbering it
  private val PidCol = "__rp_pid"
  private val OffsetCol = "__rp_offset"

  /** `base` extended with `cumCol` = the running sum of `value` in the
    * global `orderCols` order, INCLUSIVE of the current row (so a
    * global 1-based rank is `value = lit(1L)`, and an exclusive prefix
    * is `cumCol - value`). Also returns the grand total. `orderCols`
    * must be a total order (include a tie-break column) or the
    * within-partition accumulation is nondeterministic across ties.
    * Null `value`s count as zero (both in the total and in `cumCol`).
    *
    * The memo key is `cacheKey` PLUS the analyzed plan's CANONICALIZED
    * form (full structural equality, the `sameResult` relation — not
    * its 32-bit `semanticHash`, which can collide), so two calls
    * sharing a prefix but computing different inputs can never be
    * served each other's ranged projection.
    */
  def runningSum(spark: SparkSession, cacheKey: String, base: => DataFrame,
      orderCols: Seq[Column], value: Column, cumCol: String): (DataFrame, Long) = {
    import spark.implicits._
    val b = base
    require(!b.columns.contains(PidCol) && !b.columns.contains(OffsetCol),
      s"base must not carry the helper's working columns ($PidCol, $OffsetCol)")
    val parted = cache.getOrBuild(
        (spark, cacheKey, b.queryExecution.analyzed.canonicalized)) {
      b.repartitionByRange(orderCols: _*)
        .withColumn(PidCol, spark_partition_id())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val parts = parted.groupBy(col(PidCol))
      .agg(coalesce(sum(value), lit(0L)).cast("long").as("t"))
      .collect().map(r => (r.getAs[Int](PidCol), r.getAs[Long]("t")))
      .sortBy(_._1)
    var acc = 0L
    val offsets = parts.map { case (pid, t) =>
      val row = (pid, acc); acc += t; row
    }.toSeq
    val w = Window.partitionBy(col(PidCol)).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = parted
      .join(broadcast(offsets.toDF(PidCol, OffsetCol)), Seq(PidCol))
      .withColumn(cumCol, col(OffsetCol) + coalesce(sum(value).over(w), lit(0L)))
      .drop(OffsetCol, PidCol)
    (out, acc)
  }
}
