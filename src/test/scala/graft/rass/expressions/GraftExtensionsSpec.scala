package graft.rass.expressions

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  test("extension class installs cosine_sim into a SparkSessionExtensions") {
    // exercised against a fresh extensions object — building a whole new
    // SparkSession is not possible here (getOrCreate reuses the shared
    // test session, which would silently skip the extension hook) —
    // that records the name of every function injected into it
    val injected = scala.collection.mutable.ArrayBuffer.empty[String]
    val ext = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    }
    new GraftExtensions().apply(ext)
    assert(injected.sorted.toSeq == Seq("bloom_might_contain", "bm25_field", "cosine_sim",
      "dot_product", "in_window", "phrase_count", "term_freq"))
  }

  test("cosine_sim is callable from plain SQL once registered") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(3.0d, 4.0d), array(3.0d, 4.0d)) AS c")
      .head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
    val ortho = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS c")
      .head().getDouble(0)
    assert(math.abs(ortho) < 1e-12)
    // type mismatch is rejected at analysis, not silently computed
    val err = intercept[Exception] {
      spark.sql("SELECT cosine_sim(array(1, 2), 'nope')").collect()
    }
    assert(err.getMessage.toLowerCase.contains("cosine_sim"))
  }

  test("phrase_count matches the replace-trick formula on adversarial inputs") {
    import org.apache.spark.sql.functions._
    import graft.rass.Analyzer
    GraftExtensions.register(spark)
    // overlapping repeats, adjacent matches, punctuation, prefix cases
    val docs = Seq(
      "a b a b", "a a a", "aa a a", "b a b a b", "diabetes mellitus type 2",
      "Diabetes, mellitus! diabetes mellitus", "x", "", "a", "a b",
      "mell mellitus", "diabetes diabetes mellitus mellitus", null
    )
    val phrases = Seq(Seq("a", "b"), Seq("a", "a"), Seq("a"),
      Seq("diabetes", "mellitus"), Seq("mell"), Seq("zzz"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map(org.apache.spark.sql.Row(_))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("t",
          org.apache.spark.sql.types.StringType))))
    for (p <- phrases) {
      val cmp = df.select(
        Analyzer.phraseCount(col("t"), p).as("old"),
        Analyzer.phraseCountTok(Analyzer.tokens(col("t")), p).as("nat"),
        Analyzer.phrasePrefixMatch(col("t"), p).as("oldp"),
        Analyzer.phrasePrefixMatchTok(Analyzer.tokens(col("t")), p).as("natp")
      ).collect()
      for (r <- cmp) {
        assert(r.getLong(0) == r.getLong(1), s"count mismatch for phrase $p: $r")
        assert(r.getBoolean(2) == r.getBoolean(3), s"prefix mismatch for phrase $p: $r")
      }
    }
    // greedy non-overlap pinned explicitly: [a,a,a] contains [a,a] once
    val g = spark.sql(
      "SELECT phrase_count(array('a','a','a'), array('a','a'), false) AS c")
      .head().getLong(0)
    assert(g == 1L)
  }

  test("dot_product is callable from plain SQL once registered") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .head().getDouble(0)
    assert(r == 32.0)
  }

  test("term_freq counts exact and fuzzy matches like the lambda form") {
    GraftExtensions.register(spark)
    def tf(arr: String, term: String, d: Int): Long =
      spark.sql(s"SELECT term_freq($arr, '$term', $d) AS c").head().getLong(0)
    assert(tf("array('a','b','a')", "a", 0) == 2L)
    assert(tf("array('diabetes','diabetez')", "diabetes", 0) == 1L)
    assert(tf("array('diabetes','diabetez')", "diabetes", 2) == 2L)
    assert(tf("array('', 'x')", "x", 0) == 1L)
    assert(tf("array(cast(null as string), 'x')", "x", 1) == 1L)
  }

  test("term_freq over a literal term set counts the tokens matching any term") {
    GraftExtensions.register(spark)
    def tf(arr: String, terms: String, d: Int): Long =
      spark.sql(s"SELECT term_freq($arr, $terms, $d) AS c").head().getLong(0)
    assert(tf("array('a','b','a','c')", "array('a','c')", 0) == 3L)
    assert(tf("array('a','b')", "array('a','a')", 0) == 1L)
    assert(tf("array('a','b')", "cast(array() as array<string>)", 0) == 0L)
    assert(tf("array('diabetes','diabetez','asthma')", "array('diabetes','astma')", 1) == 3L)
    assert(tf("array(cast(null as string), 'x')", "array('x','y')", 0) == 1L)
    // a set of one term counts as the scalar form, generated (a Range
    // keeps the tokens non-foldable) and interpreted
    val toks = Seq("diabetes", "diabetez", "diab", "x", "")
    val toksSql = toks.map(t => s"'$t'").mkString("if(id >= 0, array(", ",", "), null)")
    for (d <- 0 to 2; t <- Seq("diabetes", "x", "")) {
      val r = spark.range(1).selectExpr(s"term_freq($toksSql, '$t', $d)",
        s"term_freq($toksSql, array('$t'), $d)").head()
      assert(r.getLong(0) == r.getLong(1), s"'$t' within $d")
      val interpreted = TermFrequency(Literal.create(toks, ArrayType(StringType)),
        Literal.create(Seq(t), ArrayType(StringType)), Literal(d)).eval()
      assert(interpreted == r.getLong(0), s"'$t' within $d, interpreted")
    }
    // the terms must be a literal: the kernel holds them as one object
    for (terms <- Seq("c", "array(c)")) intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT term_freq(array('a'), $terms, 0) FROM VALUES ('a') AS v(c)").collect()
    }
  }
}
