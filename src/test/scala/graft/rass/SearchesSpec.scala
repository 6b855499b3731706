package graft.rass

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SearchesSpec extends SparkSpec {

  private lazy val corpus = {
    val c = Corpus.corpus(spark, sfDir)
    c.cache().count()
    c
  }
  private lazy val queryVec: Seq[Double] =
    graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)

  test("registry and oracle keys line up; every query runs non-empty") {
    assert(RassQueries.oracles.keySet == RassQueries.queries.keySet)
    RassQueries.queries.foreach { case (name, fn) =>
      assert(fn(spark, sfDir).count() > 0, s"$name returned no rows")
    }
  }

  test("q1 exact match ranks condition docs for their own condition phrase") {
    val hits = Searches.q1ExactMatch(corpus, "diabetes mellitus", 10).collect()
    assert(hits.nonEmpty)
    val ids = hits.map(_.getString(0)).toSet
    val diabetesDocs = corpus
      .filter(col("conditionCodeText") === "diabetes mellitus" ||
        col("encounterReasonCode") === "diabetes mellitus")
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(ids.subsetOf(diabetesDocs), "only docs carrying the phrase may score")
    val scores = hits.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("q2 semantic: the query's own chunk ranks first with cosine ~1") {
    val hits = Searches.q2Semantic(corpus, queryVec, 5).collect()
    assert(hits.head.getString(0) == "d0_c0")
    assert(math.abs(hits.head.getDouble(1) - 1.0) < 1e-6)
  }

  test("q3 hybrid blends text and vector evidence") {
    val stats = CorpusStats.build(corpus, DocSchema.scoredFields)
    val hits = Searches.q3Hybrid(corpus, "diabetes treatment", queryVec, 10,
      stats = stats).collect()
    assert(hits.nonEmpty)
    val scores = hits.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // with no text evidence at all, the knn clause alone must drive the
    // ranking and surface the query's own chunk first
    val knnOnly = Searches.q3Hybrid(corpus, "zzzz qqqq", queryVec, 5, stats = stats).collect()
    assert(knnOnly.head.getString(0) == "d0_c0")
  }

  test("q4/q5 structured prefix search stays inside structured docs") {
    val h4 = Searches.q4Structured(corpus, "blood pressure", 10).collect()
    assert(h4.nonEmpty)
    val structuredIds = corpus.filter(col("doc_type") === "structured")
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(h4.map(_.getString(0)).forall(structuredIds))
    val h5 = Searches.q5HybridStructured(corpus, "metfor", queryVec, 10).collect()
    assert(h5.nonEmpty)
    val metforminDocs = corpus
      .filter(col("medRequestMedicationDisplay") === "metformin")
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(h5.map(_.getString(0)).toSet.subsetOf(metforminDocs))
  }

  test("q6 aggregate returns <=5 buckets per field, counts descending") {
    val rows = Searches.q6Aggregate(corpus).collect()
    val byField = rows.groupBy(_.getString(0))
    assert(byField.keySet == Set("conditionCodeText", "resourceType", "patientId"))
    byField.values.foreach { g =>
      assert(g.length <= 5)
      val counts = g.map(_.getLong(2))
      assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    }
  }

  test("q8 temporal only returns docs with an in-window date, onset desc") {
    val nowUs = 1748736000000000L
    val hits = Searches.q8Temporal(corpus, "checkup", nowUs, 10).collect()
    assert(hits.nonEmpty)
    // "checkup" lives in encounterType, so hits are Encounter docs whose
    // onset column is null — nulls sort last, non-nulls descend
    val onsets = hits.map(r => Option(r.getTimestamp(1)))
    val (nonNull, nulls) = onsets.span(_.isDefined)
    assert(nulls.forall(_.isEmpty), "nulls must sort last")
    val ts = nonNull.flatten
    if (ts.length > 1)
      assert(ts.zip(ts.tail).forall { case (a, b) => !a.before(b) })
    // every hit's encounter window must actually intersect [now-1y, now]
    val ids = hits.map(_.getString(0)).toSet
    val inWindow = corpus.filter(col("encounterStart")
        .between(lit(new java.sql.Timestamp((nowUs - 365L * 86400000000L) / 1000)),
          lit(new java.sql.Timestamp(nowUs / 1000))))
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(ids.subsetOf(inWindow))
  }

  test("q8's one set-valued match per field returns the per-(field, term) disjunction's hits") {
    val nowUs = 1748736000000000L
    val fields = (DocSchema.textFields ++ DocSchema.keywordFields).map(_._1)
    // the match q8 built before: one exact term_freq disjunct per
    // (field, term)
    def perTerm(query: String): Set[String] = {
      val terms = Analyzer.normalizeQuery(query)
      val textMatch = fields.flatMap(f => terms.map(t => coalesce(
        call_function("term_freq", Analyzer.tokens(col(f)), lit(t), lit(0)) > 0, lit(false))))
        .reduceOption(_ || _).getOrElse(lit(false))
      val window = lit(Array(nowUs - 365L * 86400000000L, nowUs))
      val dateOk = DocSchema.dateFields
        .map(f => call_function("in_window", col(f), window)).reduce(_ || _)
      corpus.filter(textMatch && dateOk).select("doc_id").collect().map(_.getString(0)).toSet
    }
    for (q <- Seq("checkup", "diabetes checkup", "asthma inhaler daily dose metformin", "???")) {
      val k = 1000000
      val hits = Searches.q8Temporal(corpus, q, nowUs, k).collect().map(_.getString(0)).toSet
      assert(hits == perTerm(q), s"q8 '$q'")
    }
  }

  test("q11 entity search finds the patient by name via identity fields") {
    val hits = Searches.q11EntitySpecific(corpus, "alice johnson", 10).collect()
    assert(hits.nonEmpty)
    val aliceDocs = corpus.filter(col("patientName") === "alice johnson")
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(hits.map(_.getString(0)).toSet.subsetOf(aliceDocs))
  }

  test("q12 collapse yields exactly one row per patient") {
    val hits = Searches.q12DocumentFetch(corpus, "p7", 5).collect()
    assert(hits.length == 1)
    assert(hits.head.getAs[String]("patientId") == "p7")
  }

  test("q3/q7/q9/q10: a patient or entity filter never changes a hit's score") {
    import org.apache.spark.sql.{Column, DataFrame}
    import graft.rass.query.{Entity, EntityFilters}
    // BM25 stats are corpus-global, as the reference's index-global
    // statistics: a filter narrows the rows scored, never their idf or
    // avgdl. Every search runs with k = the corpus size, so every
    // positive score is compared.
    val stats = CorpusStats.build(corpus, DocSchema.scoredFields)
    val all = corpus.count().toInt
    val now = 1748736000000000L
    def entity(text: String, label: String): Option[Column] =
      EntityFilters.compile(Seq(Entity(text, label)))
    val searches = Seq[(String, Option[Column], (Option[String], Option[Column]) => DataFrame)](
      ("q3", entity("diabetes", "CONDITION"), (p, f) =>
        Searches.q3Hybrid(corpus, "diabetes treatment", queryVec, all, p, f, stats)),
      ("q7", entity("metformin", "MEDICATION"), (p, f) =>
        Searches.q7Comparison(corpus, "metformin ibuprofen", all, p, f, stats)),
      ("q9", entity("severity 1", "SEVERITY"), (p, f) =>
        Searches.q9Explanatory(corpus, "note severity", all, p, f, stats)),
      ("q10", entity("diabetes", "CONDITION"), (p, f) =>
        Searches.q10MultiIntent(corpus, "diabetes", queryVec, now, all, p, f, stats)))
    def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    for ((name, entityFilter, search) <- searches) {
      val unfiltered = search(None, None).collect()
      assert(unfiltered.nonEmpty, s"$name: no unfiltered hits")
      val want = unfiltered.map(r => r.getString(0) -> bits(r.getDouble(1))).toMap
      val patient = unfiltered.head.getString(2)
      for ((filter, hits) <- Seq(s"patient $patient" -> search(Some(patient), None),
          "entity" -> search(None, entityFilter))) {
        val got = hits.collect()
        assert(got.nonEmpty, s"$name with the $filter filter: no hits")
        got.foreach { r =>
          assert(want.get(r.getString(0)).contains(bits(r.getDouble(1))),
            s"$name with the $filter filter scores ${r.getString(0)} ${r.getDouble(1)}, " +
              s"unfiltered ${want.get(r.getString(0)).map(java.lang.Double.longBitsToDouble)}")
        }
      }
    }
  }
}
