package graft.rass

import graft.SparkSpec

class CorpusStatsSpec extends SparkSpec {

  test("materialized stats reconstruct Bm25.allStats bit-for-bit") {
    val corpus = Corpus.corpus(spark, sfDir).cache()
    val fields = DocSchema.noteFields.map(_._1) ++ Seq("unstructuredText", "patientName")
    val terms = Seq("note", "severity", "zzz_absent_term")
    val (fieldStats, termStats) = CorpusStats.build(corpus, fields.distinct)
    val fromTable = CorpusStats.statsRow(fieldStats, termStats,
      fields.distinct, terms)
    val direct = Bm25.allStats(corpus, fields.distinct, terms).head()
    assert(fromTable.schema.fieldNames.sameElements(direct.schema.fieldNames))
    fromTable.schema.fieldNames.foreach { c =>
      val a = fromTable.getAs[Any](c)
      val b = direct.getAs[Any](c)
      assert(a == b, s"$c: table=$a direct=$b")
    }
  }

  test("vocab accept sets equal the per-row fuzzy accept set on a typo fixture") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // typos at distance 1-2 of the query terms, plus decoys beyond AUTO
    // distance and short terms that pin the fz=0 exact path
    val docs = Seq(
      "metformin prescribed daily",
      "metfornin dose increased",   // 1 edit
      "metforminn and ibuprofen",   // 1 edit (insert)
      "metmorfin taken with food",  // 2 edits (transposed pair)
      "ibuprofen for pain",
      "ibuprophen as needed",       // 1 edit
      "ibu for short",              // not within 2 of ibuprofen
      "mx unrelated token",         // fz=0 term decoy
      null
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "note")
    val terms = Seq("metformin", "ibuprofen", "mx") // fz: 2, 2, 0
    val (fieldStats, termStats) = CorpusStats.build(docs, Seq("note"))
    val accept = Bm25.fuzzyAcceptSets(fieldStats, termStats, Seq("note"), terms)
    // brute-force truth: distinct corpus tokens within AUTO distance
    val vocab = docs.filter($"note".isNotNull)
      .select(explode(Analyzer.tokens($"note")).as("t"))
      .distinct().as[String].collect().toSeq
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    terms.foreach { qt =>
      val expected = vocab.filter(v => lev(v, qt) <= Analyzer.autoFuzz(qt)).sorted
      val got = accept.getOrElse(("note", qt), Nil)
      assert(got == expected, s"$qt: got $got expected $expected")
    }
    assert(accept(("note", "metformin")).size >= 3, "typo variants must be admitted")
    // and the two scoring paths agree to the bit on every row
    val stats = Bm25.inlineStats(docs, Seq("note"), terms)
    val both = docs.withColumn("slow",
        Bm25.scoreFuzzy("note", terms, stats))
      .withColumn("fast",
        Bm25.scoreFuzzyVocab("note", terms, stats, accept))
      .select($"doc_id", $"slow", $"fast").collect()
    both.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2),
        s"doc ${r.getLong(0)}: slow=${r.getDouble(1)} fast=${r.getDouble(2)}")
    }
  }

  test("a query normalized to zero terms yields empty accept sets, not a crash") {
    import spark.implicits._
    val docs = Seq((1L, "some note text")).toDF("doc_id", "note")
    val (fieldStats, termStats) = CorpusStats.build(docs, Seq("note"))
    assert(Bm25.fuzzyAcceptSets(fieldStats, termStats, Seq("note"), Nil).isEmpty)
    // and the scoring column degrades to 0 for null-term queries
    val scored = docs
      .withColumn("s", Bm25.scoreFuzzyVocab("note", Nil,
        Bm25.inlineStats(docs, Seq("note"), Nil), Map.empty))
      .select($"s").head()
    assert(scored.getDouble(0) == 0.0)
  }

  test("accept sets for a field the stats never covered throw, not score 0") {
    import spark.implicits._
    val docs = Seq((1L, "metformin daily", "headache")).toDF("doc_id", "note", "symptom")
    // stats materialized over note ONLY — requesting symptom too must be
    // loud (the per-row fuzzy path would have scored it; silently
    // returning empty accept sets is a relevance regression)
    val (fieldStats, termStats) = CorpusStats.build(docs, Seq("note"))
    val e = intercept[IllegalArgumentException] {
      Bm25.fuzzyAcceptSets(fieldStats, termStats, Seq("note", "symptom"),
        Seq("metformin"))
    }
    assert(e.getMessage.contains("symptom"))
    // covered field, term with no in-distance variants: key PRESENT
    // with Nil (scores 0) — absence is reserved for the contract
    // violation scoreFuzzyVocab throws on
    val accept = Bm25.fuzzyAcceptSets(fieldStats, termStats, Seq("note"),
      Seq("zzzzzzzzzz"))
    assert(accept(("note", "zzzzzzzzzz")) == Nil)
    intercept[IllegalStateException] {
      Bm25.scoreFuzzyVocab("symptom", Seq("metformin"),
        Bm25.inlineStats(docs, Seq("symptom"), Seq("metformin")), accept)
    }
    // an EMPTY corpus covers nothing but is not a coverage failure —
    // every vocabulary is legitimately empty
    val empty = docs.filter($"doc_id" < 0L)
    val (ef, et) = CorpusStats.build(empty, Seq("note"))
    val emptyAccept = Bm25.fuzzyAcceptSets(ef, et, Seq("note"), Seq("metformin"))
    assert(emptyAccept(("note", "metformin")) == Nil)
  }

  test("coverage validation is not skipped by a memo hit keyed on another fieldStats") {
    import spark.implicits._
    val docs = Seq((1L, "metformin daily", "headache")).toDF("doc_id", "note", "symptom")
    val (fieldStats, termStats) = CorpusStats.build(docs, Seq("note", "symptom"))
    // covering call populates the accept cache for (termStats, fields, terms)
    Bm25.fuzzyAcceptSets(fieldStats, termStats, Seq("note", "symptom"),
      Seq("metformin"))
    // same termStats/fields/terms but a NON-covering fieldStats: keyed
    // on termStats alone this would hit the cache and silently skip the
    // validation — it must throw exactly like a cold call would
    val noteOnly = fieldStats.filter($"field" === "note")
    val e = intercept[IllegalArgumentException] {
      Bm25.fuzzyAcceptSets(noteOnly, termStats, Seq("note", "symptom"),
        Seq("metformin"))
    }
    assert(e.getMessage.contains("symptom"))
  }

  test("stats merge additively across ingest batches") {
    import org.apache.spark.sql.functions._
    val corpus = Corpus.corpus(spark, sfDir)
    val half1 = corpus.filter(crc32(col("doc_id")) % 2 === 0)
    val half2 = corpus.filter(crc32(col("doc_id")) % 2 === 1)
    val fields = Seq("unstructuredText", "conditionCodeText")
    val (f1, t1) = CorpusStats.build(half1, fields)
    val (f2, t2) = CorpusStats.build(half2, fields)
    val (fAll, tAll) = CorpusStats.build(corpus, fields)
    val mergedField = f1.unionByName(f2).groupBy("field")
      .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val allField = fAll.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(mergedField == allField)
    val mergedTerm = t1.unionByName(t2).groupBy("field", "term")
      .agg(sum("df").as("df"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val allTerm = tAll.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(mergedTerm == allTerm)
  }

  test("signed incremental merge equals a full rebuild, replacement included") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val corpus = Corpus.corpus(spark, sfDir).cache()
    val fields = DocSchema.scoredFields
    val hot = crc32(col("doc_id")) % 5 === 0   // re-ingested with new text
    val dead = crc32(col("doc_id")) % 7 === 3  // deleted outright
    val replacedOld = corpus.filter(hot && !dead)
    val replacedNew = replacedOld.withColumn("unstructuredText",
      concat_ws(" ", col("unstructuredText"), lit("revised")))
    val removed = corpus.filter(dead).unionByName(replacedOld)
    val finalCorpus = corpus.filter(!hot && !dead).unionByName(replacedNew)
    val (mf, mt) = CorpusStats.merge(
      CorpusStats.build(corpus, fields), replacedNew, removed, fields)
    val (ff, ft) = CorpusStats.build(finalCorpus, fields)
    def fmap(df: DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def tmap(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(fmap(mf) == fmap(ff))
    assert(tmap(mt) == tmap(ft))
  }

  test("merge equals rebuild across random corpus partitions (seeded)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val corpus = Corpus.corpus(spark, sfDir).cache()
    val fields = Seq("unstructuredText", "conditionCodeText", "observationNote")
    def fmap(df: DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def tmap(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    for (seed <- 1 to 3) {
      // random tri-partition: ~60% untouched, ~20% replaced, ~20% deleted
      val bucket = pmod(crc32(concat(col("doc_id"), lit(seed.toString))), lit(10))
      val replacedOld = corpus.filter(bucket.isin(6, 7))
      val replacedNew = replacedOld.withColumn("unstructuredText",
        concat_ws(" ", col("unstructuredText"), lit(s"rev$seed")))
      val removed = corpus.filter(bucket >= 6)
      val finalCorpus = corpus.filter(bucket <= 5).unionByName(replacedNew)
      val (mf, mt) = CorpusStats.merge(
        CorpusStats.build(corpus, fields), replacedNew, removed, fields)
      val (ff, ft) = CorpusStats.build(finalCorpus, fields)
      assert(fmap(mf) == fmap(ff), s"field stats diverged at seed $seed")
      assert(tmap(mt) == tmap(ft), s"term stats diverged at seed $seed")
    }
  }
}
