package graft.rass

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.rass.expressions.GraftExtensions

/** Ingest-time BM25 corpus statistics (SURVEY §7: "corpus-stats
  * maintained incrementally"), the only statistics a search scores
  * with: at 100 TB a search must not re-scan the corpus for statistics
  * it didn't change. This module materializes the full statistics once
  * per ingest:
  *
  *   - `fieldStats(field, n_docs, sum_dl)` — one row per scored field;
  *   - `termStats(field, term, df)` — document frequency for every
  *     vocabulary term of every field (the "posting-list head" without
  *     the postings), which is also the vocabulary fuzzy clauses draw
  *     their typo variants from ([[Bm25.fuzzyAcceptSets]]).
  *
  * Both come from ONE scan (fields stacked as an array-of-structs, then
  * exploded). A question reads them through [[lookup]]: fieldStats
  * whole and termStats in one pass, from whose few rows the driver
  * reconstructs the stats row [[Bm25.bestFields]] reads — bit-equal to
  * one aggregate over the whole corpus (CorpusStatsSpec), the row the
  * DuckDB oracle's `Bm25.Sql.allStatsSelect` computes. Incremental
  * maintenance is additive: df, n_docs, and sum_dl are all sums, so a
  * new batch's stats merge by addition (and removal subtracts) without
  * rescanning history.
  */
object CorpusStats {

  /** One scan -> (fieldStats, termStats). */
  def build(docs: DataFrame, fields: Seq[String]): (DataFrame, DataFrame) = {
    val stacked = docs.select(explode(array(fields.map(f =>
      struct(lit(f).as("field"),
        when(col(f).isNotNull, Analyzer.tokens(col(f))).as("toks"))): _*))
      .as("fs"))
      .select(col("fs.field").as("field"), col("fs.toks").as("toks"))
    val fieldStats = stacked.groupBy(col("field")).agg(
      sum(when(col("toks").isNotNull, 1L).otherwise(0L)).as("n_docs"),
      sum(when(col("toks").isNotNull, size(col("toks")).cast("long"))
        .otherwise(0L)).as("sum_dl"))
    val termStats = stacked.filter(col("toks").isNotNull)
      .select(col("field"), explode(array_distinct(col("toks"))).as("term"))
      .groupBy(col("field"), col("term"))
      .agg(count(lit(1)).as("df"))
    (fieldStats, termStats)
  }

  /** Signed incremental merge: stats of (corpus − removed + added)
    * without rescanning the corpus — the maintenance step an ingest
    * batch runs instead of [[build]] over all of history.
    *
    * `removed` are the OLD rows leaving the corpus (the previous
    * versions of upserted doc_ids, or deletions); `added` the rows
    * entering it. All three statistics are plain long counts, so the
    * merge is exact integer arithmetic — bit-identical to a full
    * rebuild (CorpusStatsSpec asserts equality, replacement included).
    * Terms whose df reaches 0 are dropped so the vocabulary table stays
    * identical to a from-scratch build. The merge shuffles only
    * |vocabulary| rows, never documents.
    */
  def merge(base: (DataFrame, DataFrame), added: DataFrame,
      removed: DataFrame, fields: Seq[String]): (DataFrame, DataFrame) = {
    val (baseField, baseTerm) = base
    val (addField, addTerm) = build(added, fields)
    val (remField, remTerm) = build(removed, fields)
    def negate(df: DataFrame, counts: Seq[String]): DataFrame =
      df.select(df.columns.map(c =>
        if (counts.contains(c)) (-col(c)).as(c) else col(c)): _*)
    val fieldStats = baseField
      .unionByName(addField)
      .unionByName(negate(remField, Seq("n_docs", "sum_dl")))
      .groupBy(col("field"))
      .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
    val termStats = baseTerm
      .unionByName(addTerm)
      .unionByName(negate(remTerm, Seq("df")))
      .groupBy(col("field"), col("term"))
      .agg(sum("df").as("df"))
      .filter(col("df") > 0)
    (fieldStats, termStats)
  }

  /** The rows of the materialized tables a question's BM25 statistics
    * and fuzzy accept sets derive from: `fieldStats` whole (one row per
    * scored field) and, in one pass over `termStats`, every row of
    * `fields` whose term equals a query term or lies within its AUTO
    * edit distance — the exact-term df rows and every term's typo
    * variants. The fields and the terms reach the generated code as
    * reference objects: a literal field array, and one set-valued
    * `term_freq` per AUTO distance holding the terms of that distance
    * (possibly none). So the lookup compiles the same classes for every
    * question.
    */
  def lookup(fieldStats: DataFrame, termStats: DataFrame,
      fields: Seq[String], terms: Seq[String]): Lookup = {
    GraftExtensions.register(termStats.sparkSession)
    val perField = fieldStats.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val near = (0 to Analyzer.MaxAutoFuzz).map { fz =>
      val atFz = terms.distinct.filter(Analyzer.autoFuzz(_) == fz)
      call_function("term_freq", array(col("term")), lit(atFz.toArray), lit(fz)) > 0
    }.reduce(_ || _)
    val rows = if (terms.isEmpty) Nil else termStats
      .filter(array_contains(lit(fields.toArray), col("field")) && near)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    Lookup(perField, rows)
  }

  /** The query's stats row ([[Lookup.statsRow]]) read from the
    * materialized tables.
    */
  def statsRow(fieldStats: DataFrame, termStats: DataFrame,
      fields: Seq[String], terms: Seq[String]): Row =
    lookup(fieldStats, termStats, fields, terms).statsRow(fields, terms)

  /** What [[lookup]] read: `(n_docs, sum_dl)` per field, and the
    * `(field, term, df)` rows near the query terms.
    */
  final case class Lookup(fieldRows: Map[String, (Long, Long)],
      termRows: Seq[(String, String, Long)]) {

    /** The query's stats row (field names `s_<field>_{n_docs,avgdl,df_<i>}`)
      * for [[Bm25.bestFields]] to read its idfs and avgdls from.
      */
    def statsRow(fields: Seq[String], terms: Seq[String]): Row = {
      val df = termRows.map { case (f, t, n) => (f, t) -> n }.toMap
      val values = fields.flatMap { f =>
        val (nDocs, sumDl) = fieldRows.getOrElse(f, (0L, 0L))
        // same arithmetic as the oracle's aggregate: long sums cast to
        // double, then divide — avgdl null when the field never appears
        val avgdl: Any =
          if (nDocs > 0) sumDl.toDouble / nDocs.toDouble else null
        Seq[Any](nDocs.toDouble, avgdl) ++
          terms.map(t => df.getOrElse((f, t), 0L).toDouble)
      }
      val schema = StructType(fields.flatMap { f =>
        Seq(StructField(s"s_${f}_n_docs", DoubleType),
          StructField(s"s_${f}_avgdl", DoubleType)) ++
          terms.indices.map(i => StructField(s"s_${f}_df_$i", DoubleType))
      })
      new GenericRowWithSchema(values.toArray, schema)
    }

    /** Per (field, distinct term), the sorted vocabulary terms of the
      * field within the term's AUTO edit distance ([[Bm25.fuzzyAcceptSets]]).
      * A field the stats never covered throws, unless they cover no
      * field at all (an empty corpus).
      */
    def acceptSets(fields: Seq[String],
        terms: Seq[String]): Map[(String, String), Seq[String]] = {
      val uncovered = fields.filterNot(fieldRows.contains)
      if (fieldRows.nonEmpty && uncovered.nonEmpty)
        throw new IllegalArgumentException(
          s"fuzzy accept sets requested for field(s) ${uncovered.mkString(", ")} " +
            s"not covered by the materialized stats (covers: ${fieldRows.keys.mkString(", ")}); " +
            "rebuild stats over these fields")
      (for (f <- fields; t <- terms.distinct) yield (f, t) -> termRows.collect {
        case (`f`, v, _) if withinAuto(v, t) => v
      }.sorted).toMap
    }
  }

  /** `v` within `t`'s AUTO edit distance: the threshold Levenshtein
    * Spark's `levenshtein(v, t, fz) >= 0` computes, equality at fz 0.
    */
  private def withinAuto(v: String, t: String): Boolean = {
    val fz = Analyzer.autoFuzz(t)
    if (fz == 0) v == t
    else UTF8String.fromString(v).levenshteinDistance(UTF8String.fromString(t), fz) >= 0
  }
}
