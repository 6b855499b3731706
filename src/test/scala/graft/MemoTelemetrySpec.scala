package graft

import org.apache.spark.sql.functions._

/** Positive controls for the bench's warm-memo telemetry: the
  * attribution record (Bench's per-query `w1`/`w2` markers) is only as
  * good as [[graft.Memo.warmNames]] telling the truth — a registry
  * that silently stopped naming a populated entry would turn every
  * future cold/warm adjudication blind, exactly the failure mode the
  * plan-audit positive controls exist to prevent.
  */
class MemoTelemetrySpec extends SparkSpec {

  test("family warm-memo names track cache population and invalidation") {
    import graft.pipeline.Dedup
    Memo.invalidate("d.")
    assert(!Memo.warmNames.contains("d.clusters"),
      s"stale d.clusters after invalidation: ${Memo.warmNames}")
    // the consumer path populates the session memo (artifact read)
    Dedup.clusterDropList(spark, sfDir).count()
    assert(Memo.warmNames.contains("d.clusters"),
      s"populated cluster memo not reported: ${Memo.warmNames}")
    Memo.invalidate("d.")
    assert(!Memo.warmNames.exists(_.startsWith("d.")),
      s"names survive invalidation: ${Memo.warmNames}")
  }

  test("RangedPrefix warm keys name live ranged projections by caller key") {
    import spark.implicits._
    val tag = "telemetry-spec:probe"
    Memo.invalidate("rp:telemetry-spec:")
    assert(!Memo.warmNames.exists(_.startsWith("rp:telemetry-spec:")))
    val (df, total) = RangedPrefix.runningSum(spark, tag,
      Seq(1L, 2L, 3L).toDF("k"), Seq($"k"), lit(1L), "r")
    assert(total == 3L && df.count() == 3L)
    assert(Memo.warmNames.contains("rp:" + tag),
      s"live projection not reported: ${Memo.warmNames}")
    Memo.invalidate("rp:telemetry-spec:")
    assert(!Memo.warmNames.exists(_.startsWith("rp:telemetry-spec:")),
      "key survives scoped invalidation")
  }
}
