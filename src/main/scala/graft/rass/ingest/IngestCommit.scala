package graft.rass.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Memo, StagedDir}
import graft.rass.{CorpusStats, DocSchema, Embedder}

/** Crash-safe commit of one parsed ingest batch into the document
  * table — the shared write path behind both the streaming auto-ingest
  * ([[graft.streaming.AutoIngest]]) and the upload endpoint
  * ([[Upload]]).
  *
  * Alongside the document table it maintains the materialized BM25
  * statistics tables ([[graft.rass.CorpusStats]],
  * `<table>_stats_fields` / `<table>_stats_terms`): the signed merge
  * subtracts the replaced doc versions and adds the new ones, so the
  * stats update cost is proportional to the BATCH, not the corpus —
  * the property that lets a search at 100 TB read its stats row
  * without any corpus scan.
  *
  * The three tables are [[graft.StagedDir]]s, committed under the
  * document table's path lock: all three stage fully before the first
  * swap, the document table swapping first, so StagedDir's recovery
  * either finishes a half-promoted set or discards the stagings and
  * lets the replay recompute (the upsert keyed on doc_id makes the
  * replay itself harmless). The document table is written by
  * [[IndexWriter.write]] (user partitions, patient clustering) and read
  * with its known schema; the stats tables are read as snapshots, so a
  * commit runs no schema-inference job.
  */
object IngestCommit {

  def statsFieldsPath(tablePath: String): String = tablePath + "_stats_fields"
  def statsTermsPath(tablePath: String): String = tablePath + "_stats_terms"

  def commit(spark: SparkSession, tablePath: String, parsed: DataFrame,
      embedder: Embedder): Unit =
    StagedDir.locked(tablePath) {
      commitLocked(spark, tablePath, parsed, embedder)
    }

  private def commitLocked(spark: SparkSession, tablePath: String,
      parsed: DataFrame, embedder: Embedder): Unit = Memo.scoped { pins =>
    val fs = StagedDir.fs(spark, tablePath)
    val tables = Seq(tablePath, statsFieldsPath(tablePath),
      statsTermsPath(tablePath))
    StagedDir.recover(fs, tables)

    val docs = IndexWriter.withEmbeddings(parsed, embedder)
    val existing =
      if (fs.exists(new Path(tablePath)))
        Some(IndexWriter.read(spark, tablePath)) else None
    val merged = pins(IndexWriter.upsert(existing, docs))
    // stage EVERYTHING first (Spark refuses to overwrite a path it
    // is reading in the same plan, and `existing`'s resolved file
    // list dies the moment the doc table is swapped), THEN swap
    IndexWriter.write(merged, StagedDir.staging(tablePath))

    val batchIds = parsed.select("doc_id").distinct()
    val (newFields, newTerms) = existing match {
      case Some(e) if tables.tail.forall(p => fs.exists(new Path(p))) =>
        // upsert winners for batch ids are always the batch rows,
        // so: new corpus = existing − replaced + batch winners
        val replaced = e.join(batchIds, Seq("doc_id"), "left_semi")
        val added = merged.join(batchIds, Seq("doc_id"), "left_semi")
        CorpusStats.merge(
          (StagedDir.read(spark, statsFieldsPath(tablePath)),
            StagedDir.read(spark, statsTermsPath(tablePath))),
          added, replaced, DocSchema.scoredFields)
      case _ => // first batch, or stats not yet materialized
        CorpusStats.build(merged, DocSchema.scoredFields)
    }
    newFields.write.mode("overwrite")
      .parquet(StagedDir.staging(statsFieldsPath(tablePath)))
    newTerms.write.mode("overwrite")
      .parquet(StagedDir.staging(statsTermsPath(tablePath)))

    tables.foreach(StagedDir.swapIn(fs, _))
  }
}
