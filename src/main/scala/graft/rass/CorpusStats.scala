package graft.rass

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest-time BM25 corpus statistics (SURVEY §7: "corpus-stats
  * maintained incrementally").
  *
  * [[Bm25.allStats]] computes the per-query stats row with one
  * aggregate over the corpus — fine interactively, but at 100 TB a
  * search shouldn't re-scan the corpus for statistics it didn't change.
  * This module materializes the full statistics once per ingest:
  *
  *   - `fieldStats(field, n_docs, sum_dl)` — one row per scored field;
  *   - `termStats(field, term, df)` — document frequency for every
  *     vocabulary term of every field (the "posting-list head" without
  *     the postings).
  *
  * Both come from ONE scan (fields stacked as an array-of-structs, then
  * exploded). [[statsRow]] reconstructs the exact stats row
  * [[Bm25.bestFields]] reads on the driver — the spec asserts
  * bit-equality with [[Bm25.allStats]], so a search can swap in the
  * materialized table with zero scoring drift. Incremental maintenance
  * is additive: df, n_docs, and sum_dl are all sums, so a new batch's
  * stats merge by addition (and removal subtracts) without rescanning
  * history.
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

  /** Reconstruct the query's stats row (field names
    * `s_<field>_{n_docs,avgdl,df_<i>}`, the one row [[Bm25.allStats]]
    * aggregates) on the driver from the materialized tables, for
    * [[Bm25.bestFields]] to read its idfs and avgdls from. The lookup
    * touches only |fields| + |fields|x|terms| rows — no corpus scan.
    */
  def statsRow(fieldStats: DataFrame, termStats: DataFrame,
      fields: Seq[String], terms: Seq[String]): Row = {
    val fs = fieldStats.filter(col("field").isInCollection(fields))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ts = termStats
      .filter(col("field").isInCollection(fields) &&
        col("term").isInCollection(terms))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val values = fields.flatMap { f =>
      val (nDocs, sumDl) = fs.getOrElse(f, (0L, 0L))
      // same arithmetic as Bm25.allStats: long sums cast to double, then
      // divide — avgdl null when the field never appears
      val avgdl: Any =
        if (nDocs > 0) sumDl.toDouble / nDocs.toDouble else null
      Seq[Any](nDocs.toDouble, avgdl) ++
        terms.map(t => ts.getOrElse((f, t), 0L).toDouble)
    }
    val schema = StructType(fields.flatMap { f =>
      Seq(StructField(s"s_${f}_n_docs", DoubleType),
        StructField(s"s_${f}_avgdl", DoubleType)) ++
        terms.indices.map(i => StructField(s"s_${f}_df_$i", DoubleType))
    })
    new GenericRowWithSchema(values.toArray, schema)
  }
}
