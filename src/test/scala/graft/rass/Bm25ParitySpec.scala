package graft.rass

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** `bm25_field` against the composed BM25 formula it replaced, bit for
  * bit, on generated queries (ScalaCheck, fixed seed), in both the
  * generated-code and the interpreted evaluation paths.
  */
class Bm25ParitySpec extends SparkSpec {

  /** The composed Column formula, kept here as the reference: per-term
    * idf x saturation over `term_freq` counts, with the stats read from
    * a joined one-row frame of `s_<field>_{n_docs,avgdl,df_<i>}`.
    */
  private object Reference {
    import Bm25.{B, K1}

    private def tf(toks: Column, term: String, fuzz: Int = 0): Column =
      call_function("term_freq", toks, lit(term), lit(fuzz)).cast("double")

    def scoreWith(field: String, terms: Seq[String], prefix: String,
        tok: String => Column)(tfFor: (Column, String) => Column): Column = {
      val toksCol = tok(field)
      val dl = size(toksCol).cast("double")
      val avgdl = col(s"${prefix}avgdl")
      val lnorm = when(avgdl > 0, dl / avgdl).otherwise(lit(0.0))
      val n = col(s"${prefix}n_docs")
      val perTerm = terms.zipWithIndex.map { case (t, i) =>
        val dfT = col(s"${prefix}df_$i")
        val idf = (n - dfT + lit(0.5)) / (dfT + lit(0.5))
        val tfT = tfFor(toksCol, t)
        idf * (tfT * (K1 + 1)) / (tfT + lit(K1) * (lit(1.0) - B + lit(B) * lnorm))
      }
      val s = perTerm.reduceOption(_ + _).getOrElse(lit(0.0))
      when(col(field).isNotNull, s).otherwise(lit(0.0))
    }

    def exact(f: String, terms: Seq[String], tok: String => Column): Column =
      scoreWith(f, terms, s"s_${f}_", tok)((c, t) => tf(c, t))

    def fuzzyScan(f: String, terms: Seq[String], tok: String => Column): Column =
      scoreWith(f, terms, s"s_${f}_", tok)((c, t) => tf(c, t, Analyzer.autoFuzz(t)))

    def fuzzyVocab(f: String, terms: Seq[String], accept: Map[(String, String), Seq[String]],
        tok: String => Column): Column =
      scoreWith(f, terms, s"s_${f}_", tok) { (c, t) =>
        val vs = accept((f, t))
        if (vs.isEmpty) lit(0.0) else vs.map(v => tf(c, v)).reduce(_ + _)
      }
  }

  private val vocab = Seq("a", "ab", "abc", "abd", "diabetes", "diabetez", "diabets",
    "diabetic", "asthma", "astma", "x1", "x2", "pain", "paint")

  private sealed trait Mode
  private case object Exact extends Mode
  private case object FuzzyScan extends Mode
  private case object FuzzyVocab extends Mode

  /** One generated query: terms, mode, vocabulary accept sets, and the
    * field's stats (n_docs, avgdl, df per term; null n_docs/df is the
    * aggregate of an empty input).
    */
  private final case class Query(terms: Seq[String], mode: Mode,
      accept: Map[(String, String), Seq[String]], nDocs: java.lang.Double,
      avgdl: java.lang.Double, df: Seq[java.lang.Double])

  private val genQuery: Gen[Query] = for {
    nTerms <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 4))
    terms <- Gen.listOfN(nTerms, Gen.oneOf(vocab))
    mode <- Gen.oneOf(Exact, FuzzyScan, FuzzyVocab)
    sets <- Gen.listOfN(nTerms, Gen.someOf(vocab))
    emptyAgg <- Gen.frequency(1 -> true, 12 -> false)
    n <- Gen.choose(1, 60)
    avgdl <- Gen.frequency(2 -> Gen.const(null: java.lang.Double),
      1 -> Gen.const(java.lang.Double.valueOf(0.0)),
      6 -> Gen.choose(0.2, 9.0).map(java.lang.Double.valueOf))
    df <- Gen.listOfN(nTerms, Gen.choose(0, n))
  } yield {
    val accept = terms.distinct.zip(sets).map { case (t, s) =>
      ("f", t) -> s.toSeq.distinct.sorted }.toMap
    if (emptyAgg) Query(terms, mode, accept, null, null, terms.map(_ => null))
    else Query(terms, mode, accept, n.toDouble, avgdl,
      df.map(d => java.lang.Double.valueOf(d.toDouble)))
  }

  /** Rows of field `f` and its tokens `toks` (as [[Analyzer.tokens]]
    * gives them): nulls, empty strings and punctuation-only values
    * (empty token arrays), repeats, and typo variants. The tokens are a
    * column, as the searches project them, so the scoring projection
    * holds no lambda and can run in whole-stage codegen.
    */
  private lazy val docs: DataFrame = {
    val texts = Seq(null, "", "!!", "diabetes", "diabetes diabetes diabetez",
      "Diabetic astma, asthma! pain paint", "a ab abc abd a a", "x1 x2 x1 x2 x1",
      "painting diabets diabete asthmas", null, "ab", "abc abd abc",
      (1 to 40).map(i => vocab(i % vocab.size)).mkString(" "))
    // an RDD, not a local relation, so the optimizer cannot evaluate
    // the projection on the driver
    def tokens(t: String): Seq[String] =
      if (t == null) null else Analyzer.normalizeQuery(t)
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t, tokens(t)) }, 2),
      StructType(Seq(StructField("id", LongType), StructField("f", StringType),
        StructField("toks", ArrayType(StringType)))))
  }
  private val nullRows = Seq(0, 9)

  private def statsRow(q: Query): Row = {
    val schema = StructType(
      Seq(StructField("s_f_n_docs", DoubleType), StructField("s_f_avgdl", DoubleType)) ++
        q.terms.indices.map(i => StructField(s"s_f_df_$i", DoubleType)))
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      (Seq[Any](q.nDocs, q.avgdl) ++ q.df).toArray, schema)
  }

  private def bits(v: Any): Option[Long] =
    Option(v).map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))

  /** The reference and the bm25_field score of every row (by id), and
    * whether the plan's generated code holds the bm25_field call.
    */
  private def scores(q: Query, codegen: Boolean): (Seq[(Any, Any)], Boolean) = {
    val tok: String => Column = _ => col("toks")
    val st = statsRow(q)
    val ref = q.mode match {
      case Exact => Reference.exact("f", q.terms, tok)
      case FuzzyScan => Reference.fuzzyScan("f", q.terms, tok)
      case FuzzyVocab => Reference.fuzzyVocab("f", q.terms, q.accept, tok)
    }
    val fused = q.mode match {
      case Exact => Bm25.score("f", q.terms, st, tok)
      case FuzzyScan => Bm25.scoreFuzzy("f", q.terms, st, tok)
      case FuzzyVocab => Bm25.scoreFuzzyVocab("f", q.terms, st, q.accept, tok)
    }
    val statsDf = spark.createDataFrame(java.util.List.of(st), st.schema)
    withCodegen(codegen) {
      val df = docs.crossJoin(statsDf).select(col("id"), ref.as("ref"), fused.as("fused"))
      val rows = df.collect().sortBy(_.getLong(0)).map(r => (r.get(1), r.get(2))).toSeq
      val generated = org.apache.spark.sql.execution.debug
        .codegenStringSeq(df.queryExecution.executedPlan).exists(_._2.contains("bm25"))
      (rows, generated)
    }
  }

  private def withCodegen[T](on: Boolean)(body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), on.toString)
    spark.conf.set(keys(1), if (on) "CODEGEN_ONLY" else "NO_CODEGEN")
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bm25_field equals the composed formula bit for bit, generated and interpreted") {
    graft.rass.expressions.TermFrequency.register(spark)
    graft.rass.expressions.Bm25Field.register(spark)
    val params = Gen.Parameters.default.withSize(8)
    val generated = (0 until 36).flatMap(i => genQuery(params, Seed(20261018L + i)))
    // the cases the generator must not leave to chance
    val pinned = Seq(
      Query(Nil, Exact, Map.empty, 5.0, 2.0, Nil),
      Query(Nil, FuzzyScan, Map.empty, 5.0, null, Nil),
      Query(Nil, FuzzyVocab, Map.empty, 5.0, 2.0, Nil),
      Query(Seq("diabetes", "asthma"), Exact, Map.empty, 12.0, null, Seq[java.lang.Double](3.0, 1.0)),
      Query(Seq("diabetes", "diabetes"), FuzzyScan, Map.empty, 12.0, 3.5, Seq[java.lang.Double](3.0, 3.0)),
      Query(Seq("diabetes", "ab"), FuzzyVocab,
        Map(("f", "diabetes") -> Seq("diabetes", "diabetez", "diabets"), ("f", "ab") -> Nil),
        12.0, 0.0, Seq[java.lang.Double](4.0, 2.0)),
      Query(Seq("pain"), Exact, Map.empty, null, null, Seq[java.lang.Double](null)))
    val queries = pinned ++ generated
    assert(queries.map(_.mode).toSet == Set(Exact, FuzzyScan, FuzzyVocab))
    assert(queries.exists(q => q.avgdl == null && q.nDocs != null))
    assert(queries.exists(_.terms.isEmpty))
    for (q <- queries) {
      val (gen, inGenerated) = scores(q, codegen = true)
      val (interp, inInterpreted) = scores(q, codegen = false)
      assert(inGenerated && !inInterpreted, s"evaluation paths not as set on $q")
      assert(gen.map(_._2).map(bits) == interp.map(_._2).map(bits),
        s"generated and interpreted bm25_field differ on $q")
      gen.zipWithIndex.foreach { case ((ref, fused), row) =>
        assert(bits(ref) == bits(fused), s"row $row of $q: composed $ref, bm25_field $fused")
      }
      nullRows.foreach(r => assert(gen(r)._2 == 0.0, s"null field $r of $q scores ${gen(r)._2}"))
    }
  }

  test("bm25_field rejects a non-literal accept set") {
    graft.rass.expressions.Bm25Field.register(spark)
    val e = intercept[Exception] {
      docs.select(call_function("bm25_field", Analyzer.tokens(col("f")),
        col("f").isNotNull, array(array(col("f"))), array(lit(1.0)))).collect()
    }
    assert(e.getMessage.contains("bm25_field"))
  }

  test("in_window equals BETWEEN on timestamp literals, null and bounds included") {
    graft.rass.expressions.InWindow.register(spark)
    val lo = 1717200000000000L
    val hi = lo + 365L * 86400000000L
    val ts = Seq[java.lang.Long](null, lo - 1, lo, lo + 1, hi - 1, hi, hi + 1, 0L)
    val df = spark.createDataFrame(
      java.util.List.of(ts.map(t => Row(t)): _*),
      StructType(Seq(StructField("m", LongType))))
      .select(timestamp_micros(col("m")).as("t"))
    for (codegen <- Seq(true, false)) {
      val got = withCodegen(codegen) {
        df.select(
          col("t").between(timestamp_micros(lit(lo)), timestamp_micros(lit(hi))),
          call_function("in_window", col("t"), lit(Array(lo, hi)))).collect()
      }
      got.foreach(r => assert(r.get(0) == r.get(1), s"$r (codegen $codegen)"))
      assert(got.count(_.get(1) == true) == 4 && got.count(_.isNullAt(1)) == 1)
    }
  }
}
