package graft.rass

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
  * the <=8 query terms) are ONE aggregate row, broadcast back into the
  * scan as a literal-free cross join — no driver collect, no second
  * shuffle; per-document tf/dl are computed inline over the token array
  * in the same scan that evaluates the filter.
  */
object Bm25 {

  val K1 = 1.2
  val B = 0.75

  /** tf for one term over a token array (exact int) — the native
    * codegen term_freq expression; count semantics identical to
    * size(filter(toks, t -> t === term)).
    */
  private def tf(toksCol: Column, term: String, fuzz: Int = 0): Column =
    call_function("term_freq", toksCol, lit(term), lit(fuzz)).cast("double")

  /** Default token provider: tokenize the field inline. Searches pass a
    * pretokenized-projection provider instead so each field's token
    * array is computed once per row, not once per term use —
    * LambdaFunction trees are non-cheap, so CollapseProject keeps the
    * projection and downstream uses become column references.
    */
  val inlineToks: String => Column = f => Analyzer.tokens(col(f))

  /** ONE stats row for ALL fields in a single scan: for each field,
    * `s_<f>_n_docs` (docs with the field non-null), `s_<f>_avgdl`, and
    * `s_<f>_df_<i>` per query term. One aggregate job regardless of how
    * many fields a search scores — at ingest time this same aggregate
    * materializes as the corpus-stats table.
    */
  def allStats(docs: DataFrame, fields: Seq[String], terms: Seq[String],
      tok: String => Column = inlineToks): DataFrame = {
    val aggCols = fields.flatMap { f =>
      val toksCol = tok(f)
      val nDocs = sum(when(col(f).isNotNull, 1L).otherwise(0L)).cast("double")
      // CASE keeps the division un-evaluated when the (possibly
      // filtered) corpus has no rows for the field — ANSI mode would
      // otherwise raise DIVIDE_BY_ZERO; the score is 0 for such fields
      // anyway (every row is null there).
      Seq(
        nDocs.as(s"s_${f}_n_docs"),
        when(nDocs > 0,
          sum(when(col(f).isNotNull, size(toksCol).cast("long")).otherwise(0L))
            .cast("double") / nDocs).as(s"s_${f}_avgdl")) ++
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(col(f).isNotNull && array_contains(toksCol, t), 1L)
            .otherwise(0L)).cast("double").as(s"s_${f}_df_$i")
        }
    }
    docs.agg(aggCols.head, aggCols.tail: _*)
  }

  /** The shared BM25 skeleton: per-term idf x saturation over whatever
    * tf expression the variant supplies. ONE copy of the formula (k1/b,
    * rational idf, the avgdl>0 ANSI guard, the null-field wrapper) so
    * the oracle-parity surface is single-sourced across the exact,
    * fuzzy-scan, and fuzzy-vocab variants.
    */
  private def scoreWith(field: String, terms: Seq[String], statsPrefix: String,
      tok: String => Column)(tfFor: (Column, String) => Column): Column = {
    val toksCol = tok(field)
    val dl = size(toksCol).cast("double")
    val avgdl = col(s"${statsPrefix}avgdl")
    // empty-string fields make avgdl 0; tf is 0 there too, so the term is
    // 0 either way — the CASE just keeps ANSI mode from raising /0
    val lnorm = when(avgdl > 0, dl / avgdl).otherwise(lit(0.0))
    val n = col(s"${statsPrefix}n_docs")
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      val dfT = col(s"${statsPrefix}df_$i")
      val idf = (n - dfT + lit(0.5)) / (dfT + lit(0.5))
      val tfT = tfFor(toksCol, t)
      idf * (tfT * (K1 + 1)) / (tfT + lit(K1) * (lit(1.0) - B + lit(B) * lnorm))
    }
    val s = perTerm.reduceOption(_ + _).getOrElse(lit(0.0))
    when(col(field).isNotNull, s).otherwise(lit(0.0))
  }

  /** BM25 score of `field` for the query terms, given the broadcast
    * stats columns (prefixed). Null field scores 0.
    */
  def score(field: String, terms: Seq[String], statsPrefix: String,
      tok: String => Column = inlineToks): Column =
    scoreWith(field, terms, statsPrefix, tok)((toksCol, t) => tf(toksCol, t))

  /** Fuzzy variant (`fuzziness: AUTO`): tf counts tokens within the
    * term's AUTO edit distance (0/1/2 by length; Levenshtein is
    * integer-exact in both engines). df stays exact-term — a
    * deliberate simplification kept identical on both sides.
    */
  def scoreFuzzy(field: String, terms: Seq[String], statsPrefix: String,
      tok: String => Column = inlineToks): Column =
    scoreWith(field, terms, statsPrefix, tok)((toksCol, t) =>
      tf(toksCol, t, Analyzer.autoFuzz(t)))

  /** Fuzzy accept sets from the MATERIALIZED vocabulary: for each
    * (scored field, query term), the vocabulary tokens within the
    * term's AUTO edit distance. The same accept set [[scoreFuzzy]]'s
    * per-row scan admits — every token of every document row is by
    * construction a member of its field's vocabulary — but the
    * edit-distance work is VOCAB-sized (one pass over the persisted
    * termStats table, |vocab| x |terms| bounded comparisons) instead of
    * corpus-sized (row x token x term on every scoring scan). At 100 TB
    * the vocabulary is millions of rows where the corpus is trillions
    * of tokens; the resulting sets (typo variants actually present in
    * the corpus) are a handful of strings, broadcast as literals into
    * the scan. Same trick as d04's vocab-join, applied to scoring.
    *
    * The returned map is TOTAL over (requested field x distinct term):
    * a covered field with no in-distance variants maps to `Nil`
    * (scores 0, same as the per-row scan), and [[scoreFuzzyVocab]]
    * treats a MISSING key as a contract violation. Coverage is
    * validated against `fieldStats`: a requested field the stats
    * build never covered (externally supplied stats over fewer
    * fields) throws instead of silently scoring 0 where the per-row
    * Levenshtein scan would have scored. An entirely empty
    * `fieldStats` (empty corpus) is NOT a coverage failure — every
    * field's vocabulary is legitimately empty there.
    */
  def fuzzyAcceptSets(fieldStats: DataFrame, termStats: DataFrame,
      fields: Seq[String],
      terms: Seq[String]): Map[(String, String), Seq[String]] =
    // a query normalized to zero terms ("???") must score 0 on the BM25
    // clauses, not crash the vocabulary job on an empty OR-reduce — the
    // per-row fuzzy path got this for free via reduceOption
    if (terms.isEmpty) Map.empty
    else acceptCache.getOrBuild(
      (termStats.sparkSession, fieldStats.queryExecution.analyzed.canonicalized,
        termStats.queryExecution.analyzed.canonicalized,
        fields.toList, terms.toList)) {
      val covered = fieldStats.select(col("field")).distinct()
        .collect().map(_.getString(0)).toSet
      val uncovered = fields.filterNot(covered)
      if (covered.nonEmpty && uncovered.nonEmpty)
        throw new IllegalArgumentException(
          s"fuzzy accept sets requested for field(s) ${uncovered.mkString(", ")} " +
            s"not covered by the materialized stats (covers: ${covered.mkString(", ")}); " +
            "rebuild stats over these fields or score them via the per-row fuzzy path")
      buildFuzzyAcceptSets(termStats, fields, terms)
    }

  /** Accept-set lookups memoized per (session, fieldStats plan,
    * termStats plan, fields, terms): a repeated query re-uses the
    * collected sets instead of re-running the vocabulary job — the
    * same keying discipline as [[graft.rass.RassEngine]]'s
    * builtStatsCache (canonicalized plans compare structurally, so two
    * corpora never share an entry). fieldStats is part of the key even
    * though only the coverage VALIDATION reads it: keyed on termStats
    * alone, a later call with the same vocabulary but a different,
    * non-covering fieldStats would hit the cache and silently skip the
    * coverage check that call was owed. Entries are dropped by
    * [[Corpus.invalidateCaches]] alongside the stats tables they
    * derive from.
    */
  private val acceptCache = graft.Memo.cache[
    (org.apache.spark.sql.SparkSession,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      List[String], List[String]), Map[(String, String), Seq[String]]]("r.bm25Accept")

  private def buildFuzzyAcceptSets(termStats: DataFrame, fields: Seq[String],
      terms: Seq[String]): Map[(String, String), Seq[String]] = {
    val conds = terms.distinct.map { t =>
      val fz = Analyzer.autoFuzz(t)
      // threshold levenshtein returns -1 above fz — same accept set as
      // `levenshtein <= fz` with length-pruned O(len*fz) work
      val hit = if (fz == 0) col("term") === t
        else levenshtein(col("term"), lit(t), fz) >= 0
      (t, hit)
    }
    val rows = termStats
      .filter(col("field").isInCollection(fields) &&
        conds.map(_._2).reduce(_ || _))
      .select(col("field"), col("term"),
        array_compact(array(conds.map { case (t, c) =>
          when(c, lit(t))
        }: _*)).as("qts"))
      .select(col("field"), col("term"), explode(col("qts")).as("qt"))
      .collect()
    val matched = rows.groupBy(r => (r.getString(0), r.getString(2)))
      .map { case (k, vs) => k -> vs.map(_.getString(1)).toSeq.sorted }
    // total over (field x term): a no-variant pair carries an explicit
    // Nil so a downstream lookup can tell "covered, nothing in
    // distance" (score 0) from "never built for this field" (throw)
    (for (f <- fields; t <- terms.distinct)
      yield (f, t) -> matched.getOrElse((f, t), Nil)).toMap
  }

  /** [[scoreFuzzy]] with the per-term fuzzy scan replaced by exact
    * membership in a precomputed accept set ([[fuzzyAcceptSets]]):
    * identical tf (membership count == bounded-distance count), one
    * codegen'd IN-filter pass per term instead of a Levenshtein band
    * per token.
    */
  def scoreFuzzyVocab(field: String, terms: Seq[String], statsPrefix: String,
      accept: Map[(String, String), Seq[String]],
      tok: String => Column = inlineToks): Column =
    scoreWith(field, terms, statsPrefix, tok) { (toksCol, t) =>
      // sum of EXACT counts per accepted variant: the sets are disjoint
      // tokens, so the counts add to the membership count — and each
      // term_freq is the native codegen expression, keeping the whole
      // score inside WholeStageCodegen (a filter() higher-order
      // function would drop the scan out of codegen)
      val variants = accept.getOrElse((field, t),
        // fuzzyAcceptSets maps are total over the fields+terms they
        // were built for, so a miss means THIS field/term was never
        // built — scoring it 0 would be a silent relevance regression
        throw new IllegalStateException(
          s"no accept set built for ($field, $t); build fuzzyAcceptSets " +
            "over this field or score it via scoreFuzzy"))
      if (variants.isEmpty) lit(0.0)
      else variants.map(v => tf(toksCol, v)).reduce(_ + _)
    }

  /** `best_fields` multi_match: max over fields of (BM25 x field boost),
    * then x clause boost. Stats for all fields must be joined with
    * per-field prefixes `s_<field>_`. When `accept` is provided, fuzzy
    * clauses score via the vocabulary accept sets (the materialized-
    * stats fast path); without it they fall back to the per-row
    * bounded-Levenshtein scan.
    */
  def bestFields(fields: Seq[(String, Double)], terms: Seq[String],
      clauseBoost: Double = 1.0, fuzzy: Boolean = false,
      tok: String => Column = inlineToks,
      accept: Option[Map[(String, String), Seq[String]]] = None): Column = {
    val scores = fields.map { case (f, boost) =>
      (if (fuzzy) accept match {
        case Some(a) => scoreFuzzyVocab(f, terms, s"s_${f}_", a, tok)
        case None => scoreFuzzy(f, terms, s"s_${f}_", tok)
      }
      else score(f, terms, s"s_${f}_", tok)) * boost
    }
    greatest(scores: _*) * clauseBoost
  }

  /** Attach the single broadcast stats row (map-side literal join). */
  def withStats(docs: DataFrame, fields: Seq[String], terms: Seq[String],
      tok: String => Column = inlineToks): DataFrame = {
    graft.rass.expressions.TermFrequency.register(docs.sparkSession)
    docs.crossJoin(broadcast(allStats(docs, fields, terms, tok)))
  }

  /** Attach the stats row reconstructed from the MATERIALIZED corpus
    * statistics ([[CorpusStats]]) instead of re-aggregating the corpus:
    * the lookup touches |fields| + |fields|x|terms| rows of the (cached
    * / ingest-maintained) stats tables — no second corpus scan per
    * query. Stats are corpus-global, matching the reference's
    * index-global OpenSearch statistics (filters never change scoring
    * stats there either).
    */
  def withMaterializedStats(docs: DataFrame, fieldStats: DataFrame,
      termStats: DataFrame, fields: Seq[String],
      terms: Seq[String]): DataFrame = {
    graft.rass.expressions.TermFrequency.register(docs.sparkSession)
    // the reconstructed one-row stats frame is memoized like the accept
    // sets: statsRow runs two small collect jobs against the persisted
    // stats tables, a fixed per-query latency a repeated query (or the
    // best-of-2 bench) shouldn't re-pay
    val row = statsRowCache.getOrBuild(
      (docs.sparkSession, fieldStats.queryExecution.analyzed.canonicalized,
        termStats.queryExecution.analyzed.canonicalized,
        fields.toList, terms.toList)) {
      CorpusStats.statsRow(docs.sparkSession, fieldStats, termStats,
        fields, terms)
    }
    docs.crossJoin(broadcast(row))
  }

  private val statsRowCache = graft.Memo.cache[
    (org.apache.spark.sql.SparkSession,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      List[String], List[String]), DataFrame]("r.bm25Stats")

  /** DuckDB oracle fragments mirroring the Column side bit-for-bit. */
  object Sql {
    /** Token-array SQL for a field. */
    def toks(field: String): String =
      s"list_filter(string_split_regex(lower($field), '[^a-z0-9]+'), t -> t != '')"

    /** Single stats SELECT over `docsRel` for all fields — same column
      * names and math as [[Bm25.allStats]].
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

    /** Fuzzy score mirror of [[Bm25.scoreFuzzy]]. */
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
