package graft

import org.apache.spark.sql.functions._

/** The shared global-running-sum helper behind q14 (global rank) and
  * x03 (packing cumsum): its output must equal the windowless
  * reference — sort everything, scan left — for any weights, any
  * order, any partition layout, with no unpartitioned Window in its
  * plan.
  */
class RangedPrefixSpec extends SparkSpec {

  test("runningSum matches the sorted-scan reference on seeded random data") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // keys inserted shuffled; weights include zeros and repeats
    val rows = rng.shuffle((1L to 500L).toVector)
      .map(k => (k, rng.nextInt(50).toLong))
    val df = rows.toDF("k", "v").repartition(7) // scrambled input layout
    val (out, total) = RangedPrefix.runningSum(
      spark, "spec:random", df, Seq($"k"), $"v", "cum")
    val got = out.collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Long]("cum")).toMap
    var acc = 0L
    val want = rows.sortBy(_._1).map { case (k, v) => acc += v; k -> acc }.toMap
    assert(total == rows.map(_._2).sum)
    assert(got == want, "running sum diverged from the sorted-scan reference")
  }

  test("value = lit(1) yields the dense global 1-based rank") {
    import spark.implicits._
    val df = Seq(30L, 10L, 20L, 40L, 25L).toDF("k")
    val (out, total) = RangedPrefix.runningSum(
      spark, "spec:rank", df, Seq($"k"), lit(1L), "rank")
    assert(total == 5L)
    val got = out.collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Long]("rank")).toMap
    assert(got == Map(10L -> 1L, 20L -> 2L, 25L -> 3L, 30L -> 4L, 40L -> 5L))
  }

  test("same caller key, different input: no cross-serving from the memo") {
    import spark.implicits._
    val a = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    val bDf = Seq((1L, 100L), (2L, 200L)).toDF("k", "v")
    val (outA, totA) = RangedPrefix.runningSum(
      spark, "spec:same", a, Seq($"k"), $"v", "cum")
    val (outB, totB) = RangedPrefix.runningSum(
      spark, "spec:same", bDf, Seq($"k"), $"v", "cum")
    assert(totA == 30L && totB == 300L)
    assert(outB.collect().map(_.getAs[Long]("cum")).toSet == Set(100L, 300L),
      "second call must see its own data, not the first call's cache")
    assert(outA.collect().map(_.getAs[Long]("cum")).toSet == Set(10L, 30L))
  }

  test("a base carrying the working columns is rejected, not clobbered") {
    import spark.implicits._
    val bad = Seq((1L, 2L)).toDF("k", "__rp_pid")
    intercept[IllegalArgumentException] {
      RangedPrefix.runningSum(spark, "spec:bad", bad, Seq($"k"), lit(1L), "cum")
    }
  }

  test("no unpartitioned Window in the helper's plan") {
    import spark.implicits._
    val df = (1L to 100L).toDF("k").withColumn("v", lit(2L))
    val (out, _) = RangedPrefix.runningSum(
      spark, "spec:plan", df, Seq($"k"), $"v", "cum")
    val global = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty, "the helper exists to avoid exactly this")
    Memo.invalidate("rp:spec:")
  }
}
