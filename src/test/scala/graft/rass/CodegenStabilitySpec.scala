package graft.rass

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

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
  private lazy val stats = Corpus.stats(spark, sfDir)
  private val embedder = new DeterministicEmbedder()
  private def qv(q: String): Seq[Double] =
    embedder.embedBatch(Seq(q)).head.map(_.toDouble).toSeq

  private val now1 = 1748736000000000L
  private val now2 = now1 + 86400000000L * 37 + 1234567L

  /** `b` is the same search as `a` with another question or clock.
    * Building a DataFrame runs the driver-side stats and accept-set
    * lookups, so what is counted and read is the scoring plan's own
    * run: its compiles, and the generated code of every plan it
    * executes (whole-stage classes and the predicates of Filters
    * outside them).
    */
  private def assertSameCode(name: String, a: => DataFrame, b: => DataFrame,
      scored: Boolean = true): Unit = {
    val first = a
    val ca = generated(plansDuring(first.collect()))
    val second = b
    var compiles = 0L
    val cb = generated(plansDuring { compiles = compilesDuring(second.collect()) })
    assert(ca.flatten.nonEmpty, s"$name: no generated code")
    assert(ca.size == cb.size, s"$name: ${ca.size} vs ${cb.size} plans")
    ca.zip(cb).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"$name: plan $i's generated code depends on the question " +
        s"(${x.size} vs ${y.size} sources, first difference at " +
        s"${x.zip(y).indexWhere { case (s, t) => s != t }})")
    }
    assert(compiles == 0, s"$name: the second question compiled new classes")
    if (scored) assert(ca.flatten.exists(_.contains("Bm25Kernel")),
      s"$name: BM25 scoring runs outside whole-stage codegen")
  }

  private val q1 = "diabetes treatment"
  private val q2 = "asthma inhaler daily dose metformin"

  test("q3/q7/q9/q10: two questions with different terms share their generated code") {
    assertSameCode("q3",
      Searches.q3Hybrid(corpus, q1, qv(q1), stats = stats),
      Searches.q3Hybrid(corpus, q2, qv(q2), stats = stats))
    assertSameCode("q7",
      Searches.q7Comparison(corpus, q1, stats = stats),
      Searches.q7Comparison(corpus, q2, stats = stats))
    assertSameCode("q9",
      Searches.q9Explanatory(corpus, q1, stats = stats),
      Searches.q9Explanatory(corpus, q2, stats = stats))
    assertSameCode("q10",
      Searches.q10MultiIntent(corpus, q1, qv(q1), now1, stats = stats),
      Searches.q10MultiIntent(corpus, q2, qv(q2), now1, stats = stats))
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
      "q4" -> Searches.q4Structured(corpus, q1),
      "q5" -> Searches.q5HybridStructured(corpus, q1, qv(q1)),
      "q6" -> Searches.q6Aggregate(corpus),
      "q7" -> Searches.q7Comparison(corpus, q1, stats = stats),
      "q8" -> Searches.q8Temporal(corpus, q1, now1),
      "q9" -> Searches.q9Explanatory(corpus, q1, stats = stats),
      "q10" -> Searches.q10MultiIntent(corpus, q1, qv(q1), now1, stats = stats),
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
