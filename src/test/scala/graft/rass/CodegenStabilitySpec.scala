package graft.rass

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkSpec

/** The ask path's search plans take the question as runtime parameters:
  * two questions with different terms, or one question at two clock
  * readings, compile to the same generated classes, so the second finds
  * them in the codegen cache and compiles nothing. BM25 scoring runs
  * inside whole-stage codegen, and no search plans the old shapes that
  * kept it out: a broadcast stats row joined per row, or a node wider
  * than `spark.sql.codegen.maxFields`.
  */
class CodegenStabilitySpec extends SparkSpec {

  private lazy val corpus = Corpus.corpus(spark, sfDir)
  private lazy val stats = Some(Corpus.stats(spark, sfDir))
  private val embedder = new DeterministicEmbedder()
  private def qv(q: String): Seq[Double] =
    embedder.embedBatch(Seq(q)).head.map(_.toDouble).toSeq

  private val now1 = 1748736000000000L
  private val now2 = now1 + 86400000000L * 37 + 1234567L

  /** Generated source of every whole-stage codegen subtree of the
    * executed (AQE-final) plan, in a fixed order.
    */
  private def generated(df: DataFrame): Seq[String] =
    codegenStringSeq(df.queryExecution.executedPlan).map(_._2).sorted

  /** Janino compilations while `df` runs: 0 when every class its plan
    * needs, whole-stage or not, is already in the codegen cache.
    */
  private def compiles(df: DataFrame): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    df.collect()
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** `b` is the same search as `a` with another question or clock.
    * Building a DataFrame runs the driver-side stats and accept-set
    * lookups, so what is counted is the scoring plan's own run.
    */
  private def assertSameCode(name: String, a: => DataFrame, b: => DataFrame,
      scored: Boolean = true): Unit = {
    val first = a
    compiles(first)
    val second = b
    assert(compiles(second) == 0, s"$name: the second question compiled new classes")
    val (ca, cb) = (generated(first), generated(second))
    assert(ca.nonEmpty, s"$name: no whole-stage codegen")
    assert(ca == cb, s"$name: the generated code depends on the question " +
      s"(${ca.size} vs ${cb.size} classes, first difference at " +
      s"${ca.zip(cb).indexWhere { case (x, y) => x != y }})")
    if (scored) assert(ca.exists(_.contains("Bm25Kernel")),
      s"$name: BM25 scoring runs outside whole-stage codegen")
  }

  private val q1 = "diabetes treatment"
  private val q2 = "asthma inhaler daily dose metformin"

  test("q3/q7/q9/q10: two questions with different terms share their generated code") {
    for (st <- Seq(stats, None)) {
      assertSameCode(s"q3 (stats ${st.isDefined})",
        Searches.q3Hybrid(corpus, q1, qv(q1), stats = st),
        Searches.q3Hybrid(corpus, q2, qv(q2), stats = st))
      assertSameCode(s"q7 (stats ${st.isDefined})",
        Searches.q7Comparison(corpus, q1, stats = st),
        Searches.q7Comparison(corpus, q2, stats = st))
      assertSameCode(s"q9 (stats ${st.isDefined})",
        Searches.q9Explanatory(corpus, q1, stats = st),
        Searches.q9Explanatory(corpus, q2, stats = st))
      assertSameCode(s"q10 (stats ${st.isDefined})",
        Searches.q10MultiIntent(corpus, q1, qv(q1), now1, stats = st),
        Searches.q10MultiIntent(corpus, q2, qv(q2), now1, stats = st))
    }
  }

  test("q8/q10: the clock is not compiled into the generated code") {
    assertSameCode("q8",
      Searches.q8Temporal(corpus, q1, now1), Searches.q8Temporal(corpus, q1, now2),
      scored = false)
    assertSameCode("q10",
      Searches.q10MultiIntent(corpus, q1, qv(q1), now1, stats = stats),
      Searches.q10MultiIntent(corpus, q1, qv(q1), now2, stats = stats))
  }

  test("no ask-path search plans a nested-loop join or a node wider than maxFields") {
    val maxFields = spark.conf.get("spark.sql.codegen.maxFields").toInt
    val pid = corpus.select("patientId").head().getString(0)
    val plans = Seq(
      "q1" -> Searches.q1ExactMatch(corpus, q1),
      "q2" -> Searches.q2Semantic(corpus, qv(q1)),
      "q3" -> Searches.q3Hybrid(corpus, q1, qv(q1), stats = stats),
      "q3 inline" -> Searches.q3Hybrid(corpus, q1, qv(q1)),
      "q4" -> Searches.q4Structured(corpus, q1),
      "q5" -> Searches.q5HybridStructured(corpus, q1, qv(q1)),
      "q6" -> Searches.q6Aggregate(corpus),
      "q7" -> Searches.q7Comparison(corpus, q1, stats = stats),
      "q8" -> Searches.q8Temporal(corpus, q1, now1),
      "q9" -> Searches.q9Explanatory(corpus, q1, stats = stats),
      "q10" -> Searches.q10MultiIntent(corpus, q1, qv(q1), now1, stats = stats),
      "q10 inline" -> Searches.q10MultiIntent(corpus, q1, qv(q1), now1),
      "q11" -> Searches.q11EntitySpecific(corpus, q1),
      "q12" -> Searches.q12DocumentFetch(corpus, pid))
    for ((name, df) <- plans) {
      val plan = df.queryExecution.sparkPlan
      assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
        s"$name plans a nested-loop join")
      plan.foreach { node =>
        assert(node.output.size <= maxFields,
          s"$name: ${node.nodeName} outputs ${node.output.size} fields > $maxFields")
      }
    }
  }
}
