package graft

import org.apache.spark.sql.functions._

/** Throwaway dev timing harness (not part of any contract).
  * Current shape: the round-20 d09 aggregation-form head-to-head —
  * times the r19 sweep (5× countDistinct(when), plans an Expand) and
  * the r20 two-level form (per-b_id flags, no Expand) INTERLEAVED in
  * one JVM over the same memoized pair-stats base, so window luck
  * cannot pick the winner. (The p16 interval-persist crossover grid
  * that previously lived here is recorded in the BpePersistInterval
  * scaladoc and OPTIMIZATION_r20.md.)
  */
object DevTime {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val sweep = Seq(70, 75, 80, 85, 90)
    def qualifies(t: Int) =
      $"inter" * 100 >= ($"na" + $"nb" - $"inter") * t

    def oldForm() = {
      val aggs = sweep.flatMap { t =>
        Seq(sum(when(qualifies(t), 1L).otherwise(0L)).as(s"np_$t"),
          countDistinct(when(qualifies(t), $"b_id")).as(s"nd_$t"))
      }
      pipeline.Dedup.cappedPairStats(spark, dir)
        .agg(aggs.head, aggs.tail: _*)
    }
    def newForm() = {
      val perB = sweep.flatMap { t =>
        Seq(sum(when(qualifies(t), 1L).otherwise(0L)).as(s"c_$t"),
          max(when(qualifies(t), 1L).otherwise(0L)).as(s"q_$t"))
      }
      val totals = sweep.flatMap { t =>
        Seq(sum(col(s"c_$t")).as(s"np_$t"),
          coalesce(sum(col(s"q_$t")), lit(0L)).as(s"nd_$t"))
      }
      pipeline.Dedup.cappedPairStats(spark, dir)
        .groupBy($"b_id").agg(perB.head, perB.tail: _*)
        .agg(totals.head, totals.tail: _*)
    }

    // warm the shared base once (both forms read the same memo) so the
    // A/B times ONLY the sweep aggregation
    pipeline.Dedup.cappedPairStats(spark, dir)
      .write.mode("overwrite").format("noop").save()
    for (round <- 1 to 6) {
      for ((name, f) <- Seq("old" -> oldForm _, "new" -> newForm _)) {
        val t0 = System.nanoTime()
        f().write.mode("overwrite").format("noop").save()
        println(f"D09AB round=$round form=$name sec=${(System.nanoTime() - t0) / 1e9}%7.3f")
      }
    }
    spark.stop()
  }
}
