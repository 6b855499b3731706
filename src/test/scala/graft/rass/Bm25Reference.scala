package graft.rass

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed BM25 forms that `bm25_field` and the materialized
  * corpus stats replaced, kept as the specs' references.
  */
object Bm25Reference {
  import Bm25.{B, K1}

  /** ONE stats row for ALL fields in a single aggregate over `docs`:
    * for each field, `s_<f>_n_docs` (docs with the field non-null),
    * `s_<f>_avgdl`, and `s_<f>_df_<i>` per query term — the row
    * [[CorpusStats.statsRow]] reconstructs from the materialized tables.
    */
  def allStats(docs: DataFrame, fields: Seq[String], terms: Seq[String],
      tok: String => Column = Bm25.inlineToks): DataFrame = {
    val aggCols = fields.flatMap { f =>
      val toksCol = tok(f)
      val nDocs = sum(when(col(f).isNotNull, 1L).otherwise(0L)).cast("double")
      // CASE keeps the division un-evaluated when the corpus has no rows
      // for the field — ANSI mode would otherwise raise DIVIDE_BY_ZERO
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

  private def tf(toks: Column, term: String, fuzz: Int = 0): Column =
    call_function("term_freq", toks, lit(term), lit(fuzz)).cast("double")

  /** Per-term idf x saturation over `term_freq` counts, summed, with the
    * stats read from a joined one-row frame of
    * `s_<field>_{n_docs,avgdl,df_<i>}`.
    */
  def scoreWith(field: String, terms: Seq[String], tok: String => Column)(
      tfFor: (Column, String) => Column): Column = {
    val prefix = s"s_${field}_"
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
    scoreWith(f, terms, tok)((c, t) => tf(c, t))

  /** `fuzziness: AUTO` as a per-row bounded Levenshtein scan: tf counts
    * the tokens within the term's AUTO edit distance.
    */
  def fuzzyScan(f: String, terms: Seq[String], tok: String => Column): Column =
    scoreWith(f, terms, tok)((c, t) => tf(c, t, Analyzer.autoFuzz(t)))

  def fuzzyVocab(f: String, terms: Seq[String], accept: Map[(String, String), Seq[String]],
      tok: String => Column): Column =
    scoreWith(f, terms, tok) { (c, t) =>
      val vs = accept((f, t))
      if (vs.isEmpty) lit(0.0) else vs.map(v => tf(c, v)).reduce(_ + _)
    }
}
