package graft.rass

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.rass.expressions.GraftExtensions

/** Deterministic BM25-family scoring over document columns.
  *
  * Differences from Lucene's BM25, chosen deliberately (SURVEY §7.4):
  * corpus-GLOBAL statistics (not shard-local, so scores don't depend on
  * physical layout) and a RATIONAL idf `(N - df + 0.5) / (df + 0.5)`
  * instead of `ln(1 + ...)`. The log is a monotone per-term transform
  * whose absence keeps every score inside +,-,*,/ — IEEE-754-exact and
  * therefore bit-reproducible across engines, cluster re-runs, and the
  * DuckDB oracle. k1 = 1.2, b = 0.75 (textbook defaults).
  *
  * Execution shape (100 TB): per-field stats (N, avgdl, per-term df for
  * the query terms) are ONE small row on the driver, looked up in the
  * materialized corpus-stats tables ([[CorpusStats]]), from which the
  * driver computes each field's idf. A fuzzy clause's typo variants
  * come from the same tables' vocabulary ([[fuzzyAcceptSets]]); one
  * lookup serves both ([[queryStats]]). Each
  * scored field is then one native `bm25_field` call in the scan's
  * projection, holding the query's accept sets and parameters as
  * reference objects: no join, no per-term expression tree, and one
  * generated class per field list whatever the question; per-document
  * tf/dl come from one pass over the token array in the same scan that
  * evaluates the filter.
  */
object Bm25 {

  val K1 = 1.2
  val B = 0.75

  /** Default token provider: tokenize the field inline. Searches pass a
    * pretokenized-projection provider instead so each field's token
    * array is computed once per row, not once per use — LambdaFunction
    * trees are non-cheap, so CollapseProject keeps the projection and
    * downstream uses become column references.
    */
  val inlineToks: String => Column = f => Analyzer.tokens(col(f))

  /** One field's BM25 score for the query: a single native
    * `bm25_field` call over the field's token array, fed by the driver-
    * side `stats` row (`s_<field>_{n_docs,avgdl,df_<i>}`, from
    * [[queryStats]]). Per term, `sets(i)` is the term's accept
    * set: its tf counts the tokens that are members. The idf is computed
    * here, on the driver, with the Column formula's arithmetic
    * `(n - df + 0.5) / (df + 0.5)`; a null field scores 0. The accept
    * sets and the parameters reach the generated code as reference
    * objects, so the scoring plan's generated class is the same for
    * every question over these fields.
    */
  private def fieldScore(field: String, sets: Seq[Seq[String]],
      stats: Row, tok: String => Column): Column = {
    def stat(name: String): java.lang.Double =
      stats.getAs[java.lang.Double](s"s_${field}_$name")
    val n = stat("n_docs")
    val idf = sets.indices.map { i =>
      val df = stat(s"df_$i")
      if (n == null || df == null) null
      else java.lang.Double.valueOf((n - df + 0.5) / (df + 0.5))
    }
    val params = (stat("avgdl") +: idf).toArray
    // a field's tokens are null exactly when the field is; reading the
    // token column twice keeps CollapseProject from inlining the
    // tokenizer's lambda into the scoring projection, which would take
    // that projection out of whole-stage codegen
    val toks = tok(field)
    call_function("bm25_field", toks, toks.isNotNull,
      lit(sets.map(_.toArray).toArray), lit(params))
  }

  /** BM25 score of `field` for the query terms (exact match). */
  def score(field: String, terms: Seq[String], stats: Row,
      tok: String => Column = inlineToks): Column =
    fieldScore(field, terms.map(Seq(_)), stats, tok)

  /** Fuzzy accept sets from the MATERIALIZED vocabulary: for each
    * (scored field, query term), the vocabulary tokens within the
    * term's AUTO edit distance (0/1/2 by length; Levenshtein is
    * integer-exact in both engines). The same tokens a per-row bounded
    * Levenshtein scan admits — every token of every document row is by
    * construction a member of its field's vocabulary — but the
    * edit-distance work is VOCAB-sized (one pass over the persisted
    * termStats table, [[CorpusStats.lookup]]) instead of corpus-sized
    * (row x token x term on every scoring scan). At 100 TB the
    * vocabulary is millions of rows where the corpus is trillions of
    * tokens; the resulting sets (typo variants actually present in the
    * corpus) are a handful of strings, which the scan's `bm25_field`
    * holds as a literal. Same trick as d04's vocab-join, applied to
    * scoring.
    *
    * The returned map is TOTAL over (requested field x distinct term):
    * a covered field with no in-distance variants maps to `Nil`
    * (scores 0), and [[scoreFuzzyVocab]] treats a MISSING key as a
    * contract violation. Coverage is validated against `fieldStats`: a
    * requested field the stats build never covered (externally
    * supplied stats over fewer fields) throws instead of silently
    * scoring 0 where the field's tokens would have matched. An entirely
    * empty `fieldStats` (empty corpus) is NOT a coverage failure — every
    * field's vocabulary is legitimately empty there.
    */
  def fuzzyAcceptSets(fieldStats: DataFrame, termStats: DataFrame,
      fields: Seq[String],
      terms: Seq[String]): Map[(String, String), Seq[String]] =
    acceptSets(fieldStats, termStats, fields, terms,
      CorpusStats.lookup(fieldStats, termStats, fields, terms))

  private def acceptSets(fieldStats: DataFrame, termStats: DataFrame,
      fields: Seq[String], terms: Seq[String],
      found: => CorpusStats.Lookup): Map[(String, String), Seq[String]] =
    // a query normalized to zero terms ("???") scores 0 on the BM25
    // clauses and needs no vocabulary
    if (terms.isEmpty) Map.empty
    else acceptCache.getOrBuild(memoKey(fieldStats, termStats, fields, terms)) { _ =>
      found.acceptSets(fields, terms)
    }

  /** Memo key of a question's stats row or accept sets: (session,
    * fieldStats plan, termStats plan, fields, terms). Canonicalized
    * plans compare structurally, the keying discipline of
    * [[Corpus.statsOf]], so two corpora never share an entry.
    * fieldStats is part of the key even though only the coverage
    * VALIDATION reads it: keyed on termStats alone, a later call with
    * the same vocabulary but a different, non-covering fieldStats would
    * hit the cache and silently skip the coverage check that call was
    * owed. Entries are dropped by [[Corpus.invalidateCaches]] alongside
    * the stats tables they derive from.
    */
  private def memoKey(fieldStats: DataFrame, termStats: DataFrame,
      fields: Seq[String], terms: Seq[String]): StatsKey =
    (termStats.sparkSession, fieldStats.queryExecution.analyzed.canonicalized,
      termStats.queryExecution.analyzed.canonicalized, fields.toList, terms.toList)

  private type StatsKey = (SparkSession,
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
    List[String], List[String])

  /** Accept-set lookups memoized per [[memoKey]]: a repeated query
    * re-uses the collected sets instead of re-running the vocabulary
    * job.
    */
  private val acceptCache =
    graft.Memo.cache[StatsKey, Map[(String, String), Seq[String]]]("r.bm25Accept")

  /** Fuzzy variant (`fuzziness: AUTO`): tf counts the tokens that are
    * members of the term's accept set ([[fuzzyAcceptSets]]) — the same
    * count as a per-token bounded Levenshtein test, at one hash lookup
    * per token. df stays exact-term — a deliberate simplification kept
    * identical in the DuckDB mirror ([[Sql.scoreFuzzy]]).
    */
  def scoreFuzzyVocab(field: String, terms: Seq[String], stats: Row,
      accept: Map[(String, String), Seq[String]],
      tok: String => Column = inlineToks): Column = {
    val sets = terms.map(t => accept.getOrElse((field, t),
      // fuzzyAcceptSets maps are total over the fields+terms they
      // were built for, so a miss means THIS field/term was never
      // built — scoring it 0 would be a silent relevance regression
      throw new IllegalStateException(
        s"no accept set built for ($field, $t); build fuzzyAcceptSets over this field")))
    fieldScore(field, sets, stats, tok)
  }

  /** `best_fields` multi_match: max over fields of (BM25 x field boost),
    * then x clause boost, with every field's stats read from the one
    * driver-side `stats` row.
    */
  def bestFields(fields: Seq[(String, Double)], terms: Seq[String], stats: Row,
      clauseBoost: Double = 1.0, tok: String => Column = inlineToks): Column =
    best(fields, clauseBoost)(score(_, terms, stats, tok))

  /** [[bestFields]] with `fuzziness: AUTO`: every field scores its
    * terms' vocabulary accept sets ([[fuzzyAcceptSets]]).
    */
  def fuzzyBestFields(fields: Seq[(String, Double)], terms: Seq[String], stats: Row,
      accept: Map[(String, String), Seq[String]], clauseBoost: Double = 1.0,
      tok: String => Column = inlineToks): Column =
    best(fields, clauseBoost)(scoreFuzzyVocab(_, terms, stats, accept, tok))

  /** One field scores as itself: `greatest` takes two or more. */
  private def best(fields: Seq[(String, Double)], clauseBoost: Double)(
      scoreOf: String => Column): Column = {
    val boosted = fields.map { case (f, boost) => scoreOf(f) * boost }
    (if (boosted.size == 1) boosted.head else greatest(boosted: _*)) * clauseBoost
  }

  /** One question's BM25 parameters, read from the MATERIALIZED corpus
    * statistics instead of re-aggregating the corpus: the stats row over
    * `fields` and the accept sets over `fuzzyFields`
    * ([[fuzzyAcceptSets]]). Stats are corpus-global, matching the
    * reference's index-global OpenSearch statistics (filters never
    * change scoring stats there either). Both are memoized per
    * [[memoKey]], so a repeated question runs no job; a new one runs a
    * single [[CorpusStats.lookup]] over both field lists, whose
    * generated code is the same whatever the question.
    */
  def queryStats(fieldStats: DataFrame, termStats: DataFrame, fields: Seq[String],
      fuzzyFields: Seq[String], terms: Seq[String]): (Row, Map[(String, String), Seq[String]]) = {
    GraftExtensions.register(termStats.sparkSession)
    lazy val found = CorpusStats.lookup(fieldStats, termStats,
      (fields ++ fuzzyFields).distinct, terms)
    val row = statsRowCache.getOrBuild(memoKey(fieldStats, termStats, fields, terms)) { _ =>
      found.statsRow(fields, terms)
    }
    (row, acceptSets(fieldStats, termStats, fuzzyFields, terms, found))
  }

  private val statsRowCache = graft.Memo.cache[StatsKey, Row]("r.bm25Params")

  /** DuckDB oracle fragments mirroring the Column side bit-for-bit. */
  object Sql {
    /** Token-array SQL for a field. */
    def toks(field: String): String =
      s"list_filter(string_split_regex(lower($field), '[^a-z0-9]+'), t -> t != '')"

    /** Single stats SELECT over `docsRel` for all fields: the stats
      * row [[CorpusStats.statsRow]] reconstructs, same column names and
      * math.
      */
    def allStatsSelect(fields: Seq[String], terms: Seq[String],
        docsRel: String): String = {
      val cols = fields.flatMap { f =>
        val tk = toks(f)
        val nDocs = s"SUM(CASE WHEN $f IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE"
        Seq(
          s"$nDocs AS s_${f}_n_docs",
          s"CASE WHEN $nDocs > 0 THEN " +
            s"SUM(CASE WHEN $f IS NOT NULL THEN len($tk) ELSE 0 END)::DOUBLE" +
            s" / $nDocs END AS s_${f}_avgdl") ++
          terms.zipWithIndex.map { case (t, i) =>
            s"SUM(CASE WHEN $f IS NOT NULL AND list_contains($tk, '$t')" +
              s" THEN 1 ELSE 0 END)::DOUBLE AS s_${f}_df_$i"
          }
      }
      s"SELECT ${cols.mkString(",\n ")} FROM $docsRel"
    }

    /** Score expression for one field; `sp` is the stats alias. */
    def score(field: String, terms: Seq[String], sp: String): String = {
      val tk = toks(field)
      val perTerm = terms.zipWithIndex.map { case (t, i) =>
        val tfT = s"len(list_filter($tk, t -> t = '$t'))::DOUBLE"
        val dfT = s"$sp.s_${field}_df_$i"
        // NOTE: emit the same arithmetic as the Column side (e.g.
        // "($K1 + 1)", not a precomputed constant) — 1.2+1 in doubles is
        // not necessarily the same bits as a parsed "2.2" literal.
        s"(($sp.s_${field}_n_docs - $dfT + 0.5) / ($dfT + 0.5))" +
          s" * ($tfT * ($K1 + 1)) / ($tfT + $K1 * (1.0 - $B + $B *" +
          s" (CASE WHEN $sp.s_${field}_avgdl > 0 THEN" +
          s" len($tk)::DOUBLE / $sp.s_${field}_avgdl ELSE 0.0 END)))"
      }.mkString(" + ")
      s"CASE WHEN $field IS NOT NULL THEN ($perTerm) ELSE 0.0 END"
    }

    /** Fuzzy score mirror of [[Bm25.scoreFuzzyVocab]]: a per-row
      * bounded Levenshtein test admits the same tokens as the
      * vocabulary accept set.
      */
    def scoreFuzzy(field: String, terms: Seq[String], sp: String): String = {
      val tk = toks(field)
      val perTerm = terms.zipWithIndex.map { case (t, i) =>
        val fz = Analyzer.autoFuzz(t)
        val tfT =
          if (fz == 0) s"len(list_filter($tk, t -> t = '$t'))::DOUBLE"
          else s"len(list_filter($tk, t -> levenshtein(t, '$t') <= $fz))::DOUBLE"
        val dfT = s"$sp.s_${field}_df_$i"
        s"(($sp.s_${field}_n_docs - $dfT + 0.5) / ($dfT + 0.5))" +
          s" * ($tfT * ($K1 + 1)) / ($tfT + $K1 * (1.0 - $B + $B *" +
          s" (CASE WHEN $sp.s_${field}_avgdl > 0 THEN" +
          s" len($tk)::DOUBLE / $sp.s_${field}_avgdl ELSE 0.0 END)))"
      }.mkString(" + ")
      s"CASE WHEN $field IS NOT NULL THEN ($perTerm) ELSE 0.0 END"
    }

    /** best_fields mirror of [[Bm25.bestFields]]. */
    def bestFields(fields: Seq[(String, Double)], terms: Seq[String],
        sp: String, clauseBoost: Double = 1.0, fuzzy: Boolean = false): String = {
      val scores = fields.map { case (f, boost) =>
        val s = if (fuzzy) scoreFuzzy(f, terms, sp) else score(f, terms, sp)
        s"($s) * $boost"
      }
      s"greatest(${scores.mkString(", ")}) * $clauseBoost"
    }
  }
}
