package graft.rass.query

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.rass.{Corpus, Searches, expressions}

/** Regression coverage for the review-pass fixes. */
class EdgeCaseSpec extends SparkSpec {

  test("textual DATE entities compile (or drop) without ANSI crashes") {
    assert(EntityFilters.parseDate("2024-03-01").isDefined)
    assert(EntityFilters.parseDate("12 march 2024").isDefined)
    assert(EntityFilters.parseDate("march 12, 2024").isDefined)
    assert(EntityFilters.parseDate("not a date").isEmpty)
    // unparsable date: predicate dropped, other entities still compile
    val f = EntityFilters.compile(Seq(
      Entity("weird date", "DATE"), Entity("asthma", "CONDITION")))
    assert(f.isDefined)
    val corpus = Corpus.corpus(spark, sfDir)
    assert(corpus.filter(f.get).count() > 0) // executes without throwing
    // textual date predicate executes under ANSI mode
    val fd = EntityFilters.compile(Seq(Entity("3 june 2024", "DATE"))).get
    corpus.filter(fd).count()
  }

  test("cosine_sim nulls on mismatched dimensions instead of scoring a prefix") {
    import spark.implicits._
    expressions.GraftExtensions.register(spark)
    val df = Seq((Array(1.0, 0.0, 0.0), Array(1.0, 0.0))).toDF("a", "b")
    val r = df.select(call_function("cosine_sim", $"a", $"b").as("c")).head()
    assert(r.isNullAt(0))
    val same = Seq((Array(3.0, 4.0), Array(3.0, 4.0))).toDF("a", "b")
      .select(call_function("cosine_sim", $"a", $"b").as("c")).head().getDouble(0)
    assert(math.abs(same - 1.0) < 1e-12)
  }

  test("punctuation-only queries return empty results, not crashes or noise") {
    val corpus = Corpus.corpus(spark, sfDir)
    assert(Searches.q1ExactMatch(corpus, "???", 5).count() == 0)
    assert(Searches.q4Structured(corpus, "?!", 5).count() == 0)
    assert(Searches.q11EntitySpecific(corpus, "...", 5).count() == 0)
    assert(Searches.q8Temporal(corpus, "-", 1748736000000000L, 5).count() == 0)
  }
}
