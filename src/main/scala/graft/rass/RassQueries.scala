package graft.rass

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import DocSchema._

/** Driver-contract registry for the RASS operators: every search runs
  * against the deterministic [[Corpus]] derived from the test tables,
  * with a DuckDB oracle mirroring corpus derivation + scoring
  * bit-for-bit. The two r00 entries pin the corpus derivation itself.
  */
object RassQueries {

  private val Now = 1748736000000000L // 2025-06-01T00:00:00Z, injected clock
  private val K = 10

  // the query vector is a data LOOKUP (one row of the embeddings
  // table), not query work — memoized so repeated vector queries don't
  // re-run a parquet job per call. ~1 KB per entry. Cleared by
  // [[Corpus.invalidateCaches]]: a re-ingest that rewrites the
  // embeddings table must not keep serving the pre-rewrite vector.
  private val qvCache =
    graft.Memo.cache[(SparkSession, String, Long), Seq[Double]]("r.qv")

  private def qv(spark: SparkSession, dir: String, vecId: Long = 0): Seq[Double] =
    qvCache.getOrBuild((spark, dir, vecId)) {
      Tables.embeddings(spark, dir)
        .filter(col("vec_id") === vecId).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r00_corpus_structured" -> ((s, dir) =>
      Corpus.structured(s, dir).drop("embedding").orderBy("doc_id")),
    "r00_corpus_unstructured" -> ((s, dir) =>
      Corpus.unstructured(s, dir).drop("embedding").orderBy("doc_id")),
    "r01_exact_match" -> ((s, dir) =>
      Searches.q1ExactMatch(Corpus.corpus(s, dir), "diabetes mellitus", K)),
    "r02_semantic_knn" -> ((s, dir) =>
      Searches.q2Semantic(Corpus.corpus(s, dir), qv(s, dir), K)),
    "r03_hybrid" -> ((s, dir) =>
      Searches.q3Hybrid(Corpus.corpus(s, dir), "diabetes treatment", qv(s, dir), K,
        stats = Corpus.stats(s, dir))),
    "r04_structured" -> ((s, dir) =>
      Searches.q4Structured(Corpus.corpus(s, dir), "blood pressure", K)),
    "r05_hybrid_structured" -> ((s, dir) =>
      Searches.q5HybridStructured(Corpus.corpus(s, dir), "metfor", qv(s, dir), K)),
    "r06_aggregate" -> ((s, dir) =>
      Searches.q6Aggregate(Corpus.corpus(s, dir))),
    "r07_comparison" -> ((s, dir) =>
      Searches.q7Comparison(Corpus.corpus(s, dir), "metformin ibuprofen", K,
        stats = Corpus.stats(s, dir))),
    "r08_temporal" -> ((s, dir) =>
      Searches.q8Temporal(Corpus.corpus(s, dir), "checkup", Now, K)),
    "r09_explanatory" -> ((s, dir) =>
      Searches.q9Explanatory(Corpus.corpus(s, dir), "note severity", K,
        stats = Corpus.stats(s, dir))),
    "r10_multi_intent" -> ((s, dir) =>
      Searches.q10MultiIntent(Corpus.corpus(s, dir), "diabetes", qv(s, dir), Now, K,
        stats = Corpus.stats(s, dir))),
    "r11_entity_specific" -> ((s, dir) =>
      Searches.q11EntitySpecific(Corpus.corpus(s, dir), "alice johnson", K)),
    "r12_document_fetch" -> ((s, dir) =>
      Searches.q12DocumentFetch(Corpus.corpus(s, dir), "p7", 5)),
  )

  // ------------------------------------------------------------- oracle sql

  private def fold(products: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, $products), (s, x) -> s + x)"

  private def dotSql(a: String, b: String): String =
    fold(s"list_transform(list_zip($a, $b), p -> p[1] * p[2])")

  private def normSql(a: String): String =
    s"sqrt(${fold(s"list_transform($a, x -> x * x)")})"

  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)})"

  private val QvCte =
    "q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)"

  private def knnSql(clauseBoost: Double): String =
    s"coalesce(${cosSql("embedding::DOUBLE[]", "q.qv")}, 0.0) * $clauseBoost"

  private def phraseClause(fields: Seq[(String, Double)], phrase: Seq[String]): String =
    "greatest(" + fields.map { case (f, b) =>
      s"${Analyzer.Sql.phraseCount(f, phrase)}::DOUBLE * $b"
    }.mkString(", ") + ")"

  private def prefixClause(fields: Seq[(String, Double)], phrase: Seq[String]): String =
    "greatest(" + fields.map { case (f, b) =>
      s"(${Analyzer.Sql.phrasePrefixMatch(f, phrase)})::DOUBLE * $b"
    }.mkString(", ") + ")"

  private def topKSql(scoreExpr: String, from: String, k: Int,
      where: String = "true"): String =
    s"""SELECT doc_id, score, patientId FROM (
       |  SELECT doc_id, patientId, $scoreExpr AS score FROM $from WHERE $where)
       |WHERE score > 0 ORDER BY score DESC, doc_id LIMIT $k""".stripMargin

  private def withCorpus(rest: String): String =
    s"WITH ${Corpus.Sql.cte},\n$rest"

  private def statsCte(fields: Seq[String], terms: Seq[String]): String =
    s"st AS (${Bm25.Sql.allStatsSelect(fields, terms, "corpus")})"

  val oracles: Map[String, String] = {
    val diab = Seq("diabetes", "mellitus")
    val diabT = Seq("diabetes", "treatment")
    val bp = Seq("blood", "pressure")
    val metfor = Seq("metfor")
    val cmp = Seq("metformin", "ibuprofen")
    val note = Seq("note", "severity")
    val alice = Seq("alice", "johnson")
    val checkup = Seq("checkup")
    val diabOnly = Seq("diabetes")
    val allTK = textFields ++ keywordFields
    val lo = s"make_timestamp($Now - 365 * 86400000000)"
    val hi = s"make_timestamp($Now)"

    Map(
      "r00_corpus_structured" ->
        s"WITH ${Corpus.Sql.cte} SELECT * EXCLUDE (embedding) FROM corpus_structured ORDER BY doc_id",
      "r00_corpus_unstructured" ->
        s"WITH ${Corpus.Sql.cte} SELECT * EXCLUDE (embedding) FROM corpus_unstructured ORDER BY doc_id",
      "r01_exact_match" -> withCorpus(
        s"""scored AS (SELECT doc_id, patientId,
           |  ${phraseClause(textFields, diab)} * 2.0 +
           |  ${phraseClause(keywordFields, diab)} * 1.0 AS score FROM corpus)
           |SELECT doc_id, score, patientId FROM scored
           |WHERE score > 0 ORDER BY score DESC, doc_id LIMIT $K""".stripMargin),
      "r02_semantic_knn" -> withCorpus(
        s"""$QvCte
           |SELECT doc_id, score, patientId FROM (
           |  SELECT doc_id, patientId, ${cosSql("embedding::DOUBLE[]", "q.qv")} AS score
           |  FROM corpus CROSS JOIN q WHERE embedding IS NOT NULL)
           |WHERE score > 0 ORDER BY score DESC, doc_id LIMIT $K""".stripMargin),
      "r03_hybrid" -> withCorpus(
        s"""${statsCte(allTK.map(_._1), diabT)},
           |$QvCte
           |${topKSql(
          s"${Bm25.Sql.bestFields(textFields, diabT, "st", 1.5, fuzzy = true)} + " +
            s"${Bm25.Sql.bestFields(keywordFields, diabT, "st", 1.0)} + ${knnSql(2.0)}",
          "corpus CROSS JOIN st CROSS JOIN q", K)}""".stripMargin),
      "r04_structured" -> withCorpus("sel AS (SELECT 1)\n" +
        topKSql(prefixClause(structuredFields, bp) + " * 1.0",
          "corpus", K, "doc_type = 'structured'")),
      "r05_hybrid_structured" -> withCorpus(
        s"""$QvCte
           |${topKSql(s"${prefixClause(structuredFields, metfor)} * 1.5 + ${knnSql(2.0)}",
          "corpus CROSS JOIN q", K, "doc_type = 'structured'")}""".stripMargin),
      "r06_aggregate" -> withCorpus(
        Seq("conditionCodeText", "resourceType", "patientId").map { f =>
          s"""(SELECT '$f' AS agg_field, $f AS key, COUNT(*) AS doc_count
             | FROM corpus WHERE $f IS NOT NULL
             | GROUP BY $f ORDER BY doc_count DESC, key LIMIT 5)""".stripMargin
        }.mkString("sel AS (SELECT 1) ", " UNION ALL ", "")),
      "r07_comparison" -> withCorpus(
        s"""${statsCte(compareFields.map(_._1), cmp)}
           |${topKSql(Bm25.Sql.bestFields(compareFields, cmp, "st", 1.0, fuzzy = true),
          "corpus CROSS JOIN st", K)}""".stripMargin),
      "r08_temporal" -> withCorpus(
        s"""sel AS (SELECT 1)
           |SELECT doc_id, conditionOnsetDateTime, patientId FROM corpus
           |WHERE (${allTK.map(f => Analyzer.Sql.anyTermMatch(f._1, checkup)).mkString(" OR ")})
           |  AND (${dateFields.map(f => s"$f BETWEEN $lo AND $hi").mkString(" OR ")})
           |ORDER BY conditionOnsetDateTime DESC NULLS LAST, doc_id LIMIT $K""".stripMargin),
      "r09_explanatory" -> withCorpus(
        s"""${statsCte(noteFields.map(_._1), note)}
           |${topKSql(Bm25.Sql.bestFields(noteFields, note, "st", 1.0, fuzzy = true),
          "corpus CROSS JOIN st", K)}""".stripMargin),
      "r10_multi_intent" -> withCorpus(
        s"""${statsCte(allTK.map(_._1), diabOnly)},
           |$QvCte
           |${topKSql(
          s"${Bm25.Sql.bestFields(textFields, diabOnly, "st", 1.0, fuzzy = true)} + " +
            s"${Bm25.Sql.bestFields(keywordFields, diabOnly, "st", 0.5)} + ${knnSql(1.5)} + " +
            dateFields.map(f =>
              s"(CASE WHEN $f BETWEEN $lo AND $hi THEN 0.5 ELSE 0.0 END)")
              .mkString(" + "),
          "corpus CROSS JOIN st CROSS JOIN q", K)}""".stripMargin),
      "r11_entity_specific" -> withCorpus("sel AS (SELECT 1)\n" +
        topKSql(phraseClause(entityFields, alice), "corpus", K)),
      "r12_document_fetch" -> withCorpus(
        s"""sel AS (SELECT 1)
           |SELECT patientId, doc_id, file_path, file_type FROM (
           |  SELECT patientId, doc_id, file_path, file_type,
           |    row_number() OVER (PARTITION BY patientId ORDER BY doc_id) AS rn
           |  FROM corpus WHERE patientId = 'p7')
           |WHERE rn = 1 ORDER BY patientId LIMIT 5""".stripMargin),
    )
  }
}
