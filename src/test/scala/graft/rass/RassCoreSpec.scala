package graft.rass

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class ChunkerSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("chunks concatenate back to the normalized text; sizes bounded") {
    import spark.implicits._
    // property-style: 40 seeded random (text, chunkSize) cases
    val rnd = new scala.util.Random(42)
    val cases = (0 until 40).map { _ =>
      val nWords = rnd.nextInt(40)
      val text = Seq.fill(nWords)(
        Seq.fill(rnd.nextInt(8) + 1)(('a' + rnd.nextInt(26)).toChar).mkString)
        .mkString(" ")
      (text, rnd.nextInt(16) + 1)
    }
    cases.foreach { case (text, cs) =>
      val df = Seq((1L, text)).toDF("id", "text")
      val rows = Chunker.chunkDf(df, "text", cs)
        .orderBy("chunk_index").collect()
      val words = text.trim.split("\\s+").filter(_.nonEmpty)
      val joined = rows.map(_.getAs[String]("chunk_text"))
        .mkString(" ").trim.split("\\s+").filter(_.nonEmpty)
      assert(joined.sameElements(words))
      rows.foreach { r =>
        val n = r.getAs[String]("chunk_text").split("\\s+").count(_.nonEmpty)
        assert(n <= cs)
      }
      // all chunks except the last are exactly full
      rows.dropRight(1).foreach { r =>
        assert(r.getAs[String]("chunk_text").split("\\s+").count(_.nonEmpty) == cs)
      }
      // indexes are 0..n-1
      assert(rows.map(_.getAs[Int]("chunk_index")).sameElements(rows.indices))
    }
  }
}

class EmbedderSpec extends AnyFunSuite {
  private val e = new DeterministicEmbedder(64)

  test("deterministic, normalized, zero for empty text (reference semantics)") {
    val a = e.embedOne("diabetes mellitus treatment")
    val b = e.embedOne("diabetes mellitus treatment")
    assert(a.sameElements(b))
    val norm = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-3)
    assert(e.embedOne("").forall(_ == 0.0f))
    assert(e.embedOne("   ").forall(_ == 0.0f))
  }

  test("different texts get different directions; shared tokens correlate") {
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val d1 = e.embedOne("diabetes mellitus")
    val d2 = e.embedOne("diabetes insipidus")
    val far = e.embedOne("quarterly revenue forecast")
    assert(cos(d1, d2) > cos(d1, far))
  }
}

class AnalyzerSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  private def eval(c: org.apache.spark.sql.Column, text: String): Any = {
    import spark.implicits._
    Seq(Tuple1(text)).toDF("f").select(c.as("v")).head().get(0)
  }

  test("phraseCount counts overlapping-boundary occurrences") {
    val f = col("f")
    assert(eval(Analyzer.phraseCount(f, Seq("a", "b")), "a b a b") == 2L)
    assert(eval(Analyzer.phraseCount(f, Seq("a", "b")), "a c b") == 0L)
    assert(eval(Analyzer.phraseCount(f, Seq("diabetes")), "has Diabetes.") == 1L)
    import spark.implicits._
    val nullDf = Seq(Tuple1(Option.empty[String])).toDF("f")
    assert(nullDf.select(Analyzer.phraseCount(col("f"), Seq("x")).as("v"))
      .head().getLong(0) == 0L)
  }

  test("phrasePrefixMatch allows the last token to be a prefix") {
    val f = col("f")
    assert(eval(Analyzer.phrasePrefixMatch(f, Seq("blood", "pres")), "blood pressure high") == true)
    assert(eval(Analyzer.phrasePrefixMatch(f, Seq("blood", "pres")), "blood sugar") == false)
    assert(eval(Analyzer.phrasePrefixMatch(f, Seq("metfor")), "on metformin now") == true)
  }

  test("fuzzy matching follows AUTO edit-distance tiers") {
    val f = col("f")
    assert(eval(Analyzer.fuzzyTermMatch(f, "diabetes"), "diabetez care") == true) // dist 1, len 8 -> <=2
    assert(eval(Analyzer.fuzzyTermMatch(f, "cat"), "cut") == true) // len 3 -> <=1
    assert(eval(Analyzer.fuzzyTermMatch(f, "at"), "it") == false) // len 2 -> exact only
  }
}

class Bm25Spec extends SparkSpec {

  test("bm25: rarer terms score higher; longer docs are penalized") {
    import spark.implicits._
    val docs = Seq(
      ("d1", "diabetes care"),
      ("d2", "diabetes diabetes diabetes common common common common words here"),
      ("d3", "common words all over the place common words common words"),
      ("d4", "nothing relevant at all")).toDF("doc_id", "unstructuredText")
    val terms = Seq("diabetes")
    val stats = Bm25.inlineStats(docs, Seq("unstructuredText"), terms)
    val scored = docs
      .withColumn("score", Bm25.score("unstructuredText", terms, stats))
      .select("doc_id", "score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(scored("d1") > 0 && scored("d2") > 0)
    assert(scored("d3") == 0.0 && scored("d4") == 0.0)
    // d2 has higher tf but much longer dl; d1 short with one hit — both
    // positive, and tf saturation keeps d2 from dominating 3x
    assert(scored("d2") < scored("d1") * 3)
  }
}
