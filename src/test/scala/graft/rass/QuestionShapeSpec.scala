package graft.rass

import org.apache.spark.sql.catalyst.expressions.ArrayFilter
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

import graft.SparkSpec

/** The per-question plans of the ask path have the same code for every
  * question: what a call runs is read from the plans it executes, not
  * from the codegen cache, so the checks hold whatever other specs
  * compiled before them.
  */
class QuestionShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val corpus = Corpus.corpus(spark, sfDir)
  private lazy val stats = {
    val s = Corpus.stats(spark, sfDir)
    s._1.count(); s._2.count()
    s
  }
  private val now = 1748736000000000L

  private def assertSameCode(name: String, a: Seq[Seq[String]], b: Seq[Seq[String]]): Unit = {
    assert(a.flatten.nonEmpty, s"$name: no generated code")
    assert(a.size == b.size, s"$name: ${a.size} vs ${b.size} plans")
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"$name: plan $i's generated code depends on the question " +
        s"(${x.size} vs ${y.size} sources, first difference at " +
        s"${x.zip(y).indexWhere { case (s, t) => s != t }})")
    }
  }

  test("q8: one- and five-term questions run the same code, each field tokenized once") {
    corpus.count()
    val one = "diabetes"
    val five = "asthma inhaler daily dose metformin"
    val p1 = plansDuring(Searches.q8Temporal(corpus, one, now).collect())
    val p5 = plansDuring(Searches.q8Temporal(corpus, five, now).collect())
    assertSameCode("q8", generated(p1), generated(p5))
    val filters = p5.flatMap(p => collect(p) { case f: FilterExec => f })
    val tokenizers = filters.flatMap(_.condition.collect { case a: ArrayFilter => a })
    assert(tokenizers.nonEmpty, "q8's filter tokenizes no field")
    tokenizers.groupBy(_.references.map(_.name).toSeq.sorted).foreach { case (field, uses) =>
      assert(uses.size == 1, s"q8's filter tokenizes $field ${uses.size} times")
    }
  }

  test("a new question's stats lookup runs the same code for any terms and fields") {
    val (fs, ts) = stats
    val wide = (DocSchema.textFields ++ DocSchema.keywordFields).map(_._1)
    val notes = DocSchema.noteFields.map(_._1)
    // terms no other call asked, so neither lookup is served by the memo
    def lookup(fields: Seq[String], fuzzy: Seq[String], terms: Seq[String]) =
      generated(plansDuring(Bm25.queryStats(fs, ts, fields, fuzzy, terms)))
    val shapes = Seq(
      "wide, 2 terms" -> lookup(wide, DocSchema.textFields.map(_._1), Seq("diabetez", "qx")),
      "wide, 6 terms" -> lookup(wide, DocSchema.textFields.map(_._1),
        Seq("asthmq", "inhaler", "dialy", "dosage", "metformn", "pq")),
      "notes, 2 terms" -> lookup(notes, notes, Seq("diabetez", "qy")),
      "notes, 6 terms" -> lookup(notes, notes,
        Seq("asthmz", "inhalor", "daly", "doze", "metfomin", "pz")))
    shapes.tail.foreach { case (name, code) =>
      assertSameCode(s"${shapes.head._1} vs $name", shapes.head._2, code)
    }
  }

  test("q12: the one-patient collapse plans no shuffle and no window") {
    val pid = corpus.select("patientId").head().getString(0)
    val plans = plansDuring(Searches.q12DocumentFetch(corpus, pid).collect())
    assert(plans.nonEmpty)
    plans.foreach { p =>
      assert(collect(p) { case e: Exchange => e }.isEmpty, s"q12 plans an Exchange:\n$p")
      assert(collect(p) {
        case w: WindowExec => w
        case w: WindowGroupLimitExec => w
      }.isEmpty, s"q12 plans a Window:\n$p")
    }
  }
}
