package graft.rass

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import DocSchema._

/** The 12 RASS retrieval operators (reference `OpenSearchIndexer`,
  * `app/main.py:1395-2150`) as DataFrame pipelines over the document
  * table.
  *
  * Shared semantics reproduced from the reference (SURVEY §2.2):
  * `bool.should` sums clause scores with min_should_match=1 (here:
  * `score > 0`); `multi_match best_fields` takes the max per-field
  * score x field boost x clause boost; phrase requires consecutive
  * tokens; phrase_prefix lets the last token be a prefix; fuzziness
  * AUTO allows edit distance by term length; filters never score;
  * knn scores cosine. Reference bugs are NOT replicated — Q4's
  * NameError (`main.py:1648-1653`) and Q10's TypeError
  * (`main.py:2004-2007`) get their intended semantics (SURVEY §4).
  *
  * Determinism: phrase scores are integer occurrence counts; BM25 is
  * the rational-idf variant ([[Bm25]]); ties always break on doc_id —
  * so every operator is bit-reproducible and DuckDB-oracle-checkable.
  *
  * Scale shape of every operator: one scan of the (pruned) corpus
  * computing a score expression inline, then TakeOrderedAndProject for
  * top-k — no join, no shuffle except the single top-k reduction; the
  * BM25 ones first read one small stats row on the driver (a lookup in
  * the materialized corpus-stats tables, or one aggregate collected)
  * and score each field with one native `bm25_field` call whose query
  * terms, accept sets and statistics are runtime parameters.
  */
object Searches {

  val DefaultK = 3 // reference TOP_K (`main.py:88`)

  /** Top-k by (score desc, doc_id), keeping only positive scores.
    * The `score > 0` filter runs AFTER the limit: every positive row
    * outranks every non-positive one, so top-k-then-filter returns the
    * same set as filter-then-top-k — but the pre-sort filter would be
    * pushed beneath the scoring projection and make codegen compile
    * (and evaluate) the whole multi-field score expression twice.
    *
    * Hits carry `patientId` (the reference returns whole `_source`
    * docs, `main.py:1520-1525`): downstream snippet fetches route
    * through the patient-clustered layout instead of scanning the
    * corpus by doc_id alone.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored.orderBy(col("score").desc, col("doc_id"))
      .select(col("doc_id"), col("score"), col("patientId"))
      .limit(k)
      .filter(col("score") > 0)

  /** Optional non-scoring filters (patient term + compiled entity
    * predicates), AND-combined — reference appends these to every
    * search's bool.filter.
    */
  private def applyFilters(docs: DataFrame, patientId: Option[String],
      extra: Option[Column]): DataFrame = {
    val f1 = patientId.map(p => col("patientId") === p)
    val f2 = Seq(f1, extra).flatten.reduceOption(_ && _)
    f2.map(docs.filter).getOrElse(docs)
  }

  /** The query's BM25 stats on the driver: from the MATERIALIZED
    * corpus-stats tables when provided (the 100 TB path — no per-query
    * corpus re-aggregate; bit-equal to the direct aggregate,
    * CorpusStatsSpec), else one inline aggregate over the (filtered)
    * docs, collected.
    */
  private def queryStats(docsTok: DataFrame, fields: Seq[String],
      terms: Seq[String], tok: String => Column,
      stats: Option[(DataFrame, DataFrame)]): Row = stats match {
    case Some((fs, ts)) =>
      Bm25.materializedStats(docsTok.sparkSession, fs, ts, fields, terms)
    case None => Bm25.inlineStats(docsTok, fields, terms, tok)
  }

  /** Fuzzy accept sets for the fuzzy-scored fields — only available on
    * the materialized-stats path (the vocabulary IS the termStats
    * table); without stats the fuzzy clauses fall back to the per-row
    * bounded-Levenshtein scan inside [[Bm25.scoreFuzzy]].
    */
  private def fuzzyAccept(stats: Option[(DataFrame, DataFrame)],
      fields: Seq[(String, Double)],
      terms: Seq[String]): Option[Map[(String, String), Seq[String]]] =
    stats.map { case (fs, ts) =>
      Bm25.fuzzyAcceptSets(fs, ts, fields.map(_._1), terms)
    }

  /** The window [now - 1y, now] as an `in_window` predicate on `field`:
    * the bounds reach the generated code as a reference object, so a
    * moving clock compiles nothing new.
    */
  private def withinYear(field: String, nowMicros: Long): Column =
    call_function("in_window", col(field),
      lit(Array(nowMicros - 365L * 86400000000L, nowMicros)))

  /** Project each scored field's token array once (`__tok_<f>`), so the
    * BM25 stats aggregate and every per-term tf read a column reference
    * instead of re-tokenizing — the dominant cost in multi-field scans.
    */
  private def withTokenCols(docs: DataFrame,
      fields: Seq[String]): (DataFrame, String => Column) = {
    // one Select for all token columns (not a withColumn fold — 50
    // stacked Projects make the analyzer quadratic in field count)
    val projected = docs.select(
      col("*") +: fields.map(f => Analyzer.tokens(col(f)).as(s"__tok_$f")): _*)
    (projected, f => col(s"__tok_$f"))
  }

  /** Q1 — exact_match_search (`main.py:1480-1525`): phrase multi_match
    * over text fields (clause boost 2.0) + phrase multi_match over
    * keyword fields (1.0); phrase score = occurrence count x boost.
    */
  def q1ExactMatch(docs: DataFrame, query: String, k: Int = DefaultK,
      patientId: Option[String] = None, filter: Option[Column] = None): DataFrame = {
    graft.rass.expressions.PhraseCount.register(docs.sparkSession)
    val phrase = Analyzer.normalizeQuery(query)
    val (docsTok, tok) = withTokenCols(applyFilters(docs, patientId, filter),
      (textFields ++ keywordFields).map(_._1))
    def clause(fields: Seq[(String, Double)]): Column =
      greatest(fields.map { case (f, b) =>
        Analyzer.phraseCountTok(tok(f), phrase).cast("double") * b
      }: _*)
    val score = clause(textFields) * 2.0 + clause(keywordFields) * 1.0
    topK(docsTok.withColumn("score", score), k)
  }

  /** Q2 — semantic_search (`main.py:1527-1560`): cosine knn over the
    * embedding column. Exact scan (deterministic, strictly more correct
    * than the reference's HNSW approximation); [[graft.pipeline.Similarity]]
    * holds the IVF path for scale.
    */
  def q2Semantic(docs: DataFrame, queryVec: Seq[Double], k: Int = DefaultK,
      patientId: Option[String] = None, filter: Option[Column] = None): DataFrame = {
    val qv = array(queryVec.map(lit): _*)
    val score = VectorOps.cosineFused(docs.sparkSession,
      col("embedding").cast("array<double>"), qv)
    topK(applyFilters(docs.filter(col("embedding").isNotNull), patientId, filter)
      .withColumn("score", score), k)
  }

  /** Q3 — hybrid_search (`main.py:1562-1615`), the default fallback:
    * fuzzy best_fields over text fields x1.5 + best_fields over keyword
    * fields x1.0 + knn x2.0.
    */
  def q3Hybrid(docs: DataFrame, query: String, queryVec: Seq[Double],
      k: Int = DefaultK, patientId: Option[String] = None,
      filter: Option[Column] = None,
      stats: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val terms = Analyzer.normalizeQuery(query)
    val fields = (textFields ++ keywordFields).map(_._1)
    val (docsTok, tok) = withTokenCols(applyFilters(docs, patientId, filter), fields)
    val st = queryStats(docsTok, fields, terms, tok, stats)
    val qv = array(queryVec.map(lit): _*)
    val knn = coalesce(VectorOps.cosineFused(docs.sparkSession,
      col("embedding").cast("array<double>"), qv), lit(0.0))
    val score = Bm25.bestFields(textFields, terms, st, 1.5, fuzzy = true, tok = tok,
      accept = fuzzyAccept(stats, textFields, terms)) +
      Bm25.bestFields(keywordFields, terms, st, 1.0, tok = tok) + knn * 2.0
    topK(docsTok.withColumn("score", score), k)
  }

  /** Q4 — structured_search, INTENDED semantics (`main.py:1617-1708`
    * raises NameError in the reference): phrase_prefix best_fields over
    * the structured field list, doc_type='structured' filter.
    */
  def q4Structured(docs: DataFrame, query: String, k: Int = DefaultK,
      patientId: Option[String] = None, filter: Option[Column] = None): DataFrame = {
    graft.rass.expressions.PhraseCount.register(docs.sparkSession)
    val phrase = Analyzer.normalizeQuery(query)
    val (docsTok, tok) = withTokenCols(
      applyFilters(docs.filter(col("doc_type") === "structured"), patientId, filter),
      structuredFields.map(_._1))
    val score = greatest(structuredFields.map { case (f, b) =>
      Analyzer.phrasePrefixMatchTok(tok(f), phrase).cast("double") * b
    }: _*)
    topK(docsTok.withColumn("score", score), k)
  }

  /** Q5 — hybrid_structured_search (`main.py:1710-1775`): phrase_prefix
    * best_fields x1.5 + knn x2.0, filtered to structured docs — which
    * have no embeddings, so the knn clause contributes 0 (the
    * reference's own quirk, preserved: net effect = prefix match).
    */
  def q5HybridStructured(docs: DataFrame, query: String, queryVec: Seq[Double],
      k: Int = DefaultK, patientId: Option[String] = None,
      filter: Option[Column] = None): DataFrame = {
    graft.rass.expressions.PhraseCount.register(docs.sparkSession)
    val phrase = Analyzer.normalizeQuery(query)
    val (docsTok, tok) = withTokenCols(
      applyFilters(docs.filter(col("doc_type") === "structured"), patientId, filter),
      structuredFields.map(_._1))
    val prefix = greatest(structuredFields.map { case (f, b) =>
      Analyzer.phrasePrefixMatchTok(tok(f), phrase).cast("double") * b
    }: _*)
    val qv = array(queryVec.map(lit): _*)
    val knn = coalesce(VectorOps.cosineFused(docs.sparkSession,
      col("embedding").cast("array<double>"), qv), lit(0.0))
    val score = prefix * 1.5 + knn * 2.0
    topK(docsTok.withColumn("score", score), k)
  }

  /** Q6 — aggregate_search (`main.py:1777-1808`): top-5 terms
    * aggregations over conditionCodeText, resourceType, patientId.
    * (Reference quirk: its resourceType agg targets a nonexistent
    * `.keyword` subfield and silently returns empty buckets; we
    * implement the intended aggregation.) Hash partial+final agg, then
    * a 5-row top-k per field.
    */
  def q6Aggregate(docs: DataFrame, patientId: Option[String] = None,
      filter: Option[Column] = None): DataFrame = {
    val base = applyFilters(docs, patientId, filter)
    def terms(field: String): DataFrame =
      base.filter(col(field).isNotNull)
        .groupBy(col(field).as("key"))
        .agg(count(lit(1)).as("doc_count"))
        .orderBy(col("doc_count").desc, col("key"))
        .limit(5)
        .select(lit(field).as("agg_field"), col("key"), col("doc_count"))
    terms("conditionCodeText")
      .unionAll(terms("resourceType"))
      .unionAll(terms("patientId"))
  }

  /** Q7 — comparison_search (`main.py:1810-1864`): fuzzy best_fields
    * over the 6 compare fields. (The reference also computes a top-3
    * terms agg it then discards — unobservable, skipped.)
    */
  def q7Comparison(docs: DataFrame, query: String, k: Int = DefaultK,
      patientId: Option[String] = None, filter: Option[Column] = None,
      stats: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val terms = Analyzer.normalizeQuery(query)
    val (docsTok, tok) = withTokenCols(applyFilters(docs, patientId, filter),
      compareFields.map(_._1))
    val st = queryStats(docsTok, compareFields.map(_._1), terms, tok, stats)
    topK(docsTok.withColumn("score",
      Bm25.bestFields(compareFields, terms, st, fuzzy = true, tok = tok,
        accept = fuzzyAccept(stats, compareFields, terms))), k)
  }

  /** Q8 — temporal_search (`main.py:1866-1918`): any-term text match
    * AND any date field within [now-1y, now]; ordered by
    * conditionOnsetDateTime DESC (overrides score). `now` is injected
    * for determinism (SURVEY §7.4).
    */
  def q8Temporal(docs: DataFrame, query: String, nowMicros: Long,
      k: Int = DefaultK, patientId: Option[String] = None,
      filter: Option[Column] = None): DataFrame = {
    graft.rass.expressions.TermFrequency.register(docs.sparkSession)
    graft.rass.expressions.InWindow.register(docs.sparkSession)
    val terms = Analyzer.normalizeQuery(query)
    val allText = (textFields ++ keywordFields).map(_._1)
    val (docsTok, tok) = withTokenCols(applyFilters(docs, patientId, filter), allText)
    val textMatch = allText.map(f =>
      terms.map(t => coalesce(
        call_function("term_freq", tok(f), lit(t), lit(0)) > 0,
        lit(false))).reduceOption(_ || _).getOrElse(lit(false)))
      .reduce(_ || _)
    val dateOk = dateFields.map(withinYear(_, nowMicros)).reduce(_ || _)
    docsTok
      .filter(textMatch && dateOk)
      .orderBy(col("conditionOnsetDateTime").desc_nulls_last, col("doc_id"))
      .select(col("doc_id"), col("conditionOnsetDateTime"), col("patientId"))
      .limit(k)
  }

  /** Q9 — explanatory_search (`main.py:1920-1967`): fuzzy best_fields
    * over the 7 note fields.
    */
  def q9Explanatory(docs: DataFrame, query: String, k: Int = DefaultK,
      patientId: Option[String] = None, filter: Option[Column] = None,
      stats: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val terms = Analyzer.normalizeQuery(query)
    val (docsTok, tok) = withTokenCols(applyFilters(docs, patientId, filter),
      noteFields.map(_._1))
    val st = queryStats(docsTok, noteFields.map(_._1), terms, tok, stats)
    topK(docsTok.withColumn("score",
      Bm25.bestFields(noteFields, terms, st, fuzzy = true, tok = tok,
        accept = fuzzyAccept(stats, noteFields, terms))), k)
  }

  /** Q10 — multi_intent_search, INTENDED semantics (`main.py:1969-2027`
    * raises TypeError in the reference): text x1.0 + keyword x0.5 +
    * knn x1.5 + 0.5 per date field within [now-1y, now].
    */
  def q10MultiIntent(docs: DataFrame, query: String, queryVec: Seq[Double],
      nowMicros: Long, k: Int = DefaultK, patientId: Option[String] = None,
      filter: Option[Column] = None,
      stats: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    graft.rass.expressions.InWindow.register(docs.sparkSession)
    val terms = Analyzer.normalizeQuery(query)
    val fields = (textFields ++ keywordFields).map(_._1)
    val (docsTok, tok) = withTokenCols(applyFilters(docs, patientId, filter), fields)
    val st = queryStats(docsTok, fields, terms, tok, stats)
    val qv = array(queryVec.map(lit): _*)
    val knn = coalesce(VectorOps.cosineFused(docs.sparkSession,
      col("embedding").cast("array<double>"), qv), lit(0.0))
    val dateBonus = dateFields.map(f =>
      when(withinYear(f, nowMicros), lit(0.5)).otherwise(lit(0.0))).reduce(_ + _)
    val score = Bm25.bestFields(textFields, terms, st, 1.0, fuzzy = true, tok = tok,
      accept = fuzzyAccept(stats, textFields, terms)) +
      Bm25.bestFields(keywordFields, terms, st, 0.5, tok = tok) + knn * 1.5 + dateBonus
    topK(docsTok.withColumn("score", score), k)
  }

  /** Q11 — entity_specific_search (`main.py:2029-2074`): phrase match
    * over the 6 identity fields (patientId is a keyword field — a
    * phrase over it means exact value).
    */
  def q11EntitySpecific(docs: DataFrame, query: String, k: Int = DefaultK,
      patientId: Option[String] = None, filter: Option[Column] = None): DataFrame = {
    graft.rass.expressions.PhraseCount.register(docs.sparkSession)
    val phrase = Analyzer.normalizeQuery(query)
    val (docsTok, tok) = withTokenCols(applyFilters(docs, patientId, filter),
      entityFields.map(_._1))
    val score = greatest(entityFields.map { case (f, b) =>
      Analyzer.phraseCountTok(tok(f), phrase).cast("double") * b
    }: _*)
    topK(docsTok.withColumn("score", score), k)
  }

  /** Q12 — document_fetch_search (`main.py:2120-2150` + caller
    * `2804-2856`): requires a resolved patient; collapse to one row per
    * patientId (window row_number, the Spark-native collapse), emit the
    * file identity for the raw re-read.
    */
  def q12DocumentFetch(docs: DataFrame, patientId: String, k: Int = DefaultK,
      filter: Option[Column] = None): DataFrame = {
    val w = Window.partitionBy(col("patientId")).orderBy(col("doc_id"))
    applyFilters(docs, Some(patientId), filter)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("patientId"), col("doc_id"), col("file_path"), col("file_type"))
      .orderBy(col("patientId"))
      .limit(k)
  }
}
