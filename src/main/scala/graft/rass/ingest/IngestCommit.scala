package graft.rass.ingest

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{coalesce, col, lit, not}

import graft.{Memo, StagedDir}
import graft.rass.{CorpusStats, DocSchema, Embedder}

/** Crash-safe commit of one parsed ingest batch into the document
  * table — the shared write path behind both the streaming auto-ingest
  * ([[graft.streaming.AutoIngest]]) and the upload endpoint
  * ([[Upload]]).
  *
  * A commit writes the batch, not the corpus: copy-on-write at file
  * granularity, the log-structured merge of O'Neil et al. that Lucene's
  * tiered merge policy also implements.
  *   - The batch is upserted on its own ([[IndexWriter.upsert]], so
  *     duplicates within it keep their tie-break), and its keys are
  *     collected on the driver.
  *   - One scan of the table's `doc_id` and file path locates the
  *     AFFECTED files: those holding a batch `doc_id`, plus every file
  *     outside a `user_id=` directory (a flat table from an earlier
  *     layout, rewritten partitioned by its first commit).
  *   - Per touched partition, one new part ([[IndexWriter.write]])
  *     holds the batch's rows and the surviving rows of the affected
  *     files, and absorbs the partition's parts the size-tier rule
  *     picks ([[IndexWriter.fold]]). Row counts come from footers.
  *   - The affected and absorbed files are deleted, so a plain read of
  *     the table never sees a superseded row. Every other file is left
  *     as it is.
  *
  * Alongside the document table it maintains the materialized BM25
  * statistics tables ([[graft.rass.CorpusStats]],
  * `<table>_stats_fields` / `<table>_stats_terms`): the signed merge
  * subtracts the replaced rows, read from the affected files only, and
  * adds the batch's, so the stats update is proportional to the BATCH —
  * the property that lets a search at 100 TB read its stats row
  * without any corpus scan.
  *
  * Everything is staged before one commit point
  * ([[graft.StagedDir.commitParts]]): the new parts at
  * `staging(table)`, the delete list, and the two stats stagings; then
  * the marker. The next commit's [[graft.StagedDir.recoverParts]] rolls
  * a marked commit forward and discards an unmarked one, whose replay
  * recomputes it (the upsert keyed on doc_id makes the replay
  * harmless). Commits of one table serialize on its path lock.
  */
object IngestCommit {

  def statsFieldsPath(tablePath: String): String = tablePath + "_stats_fields"
  def statsTermsPath(tablePath: String): String = tablePath + "_stats_terms"

  private def statsPaths(tablePath: String): Seq[String] =
    Seq(statsFieldsPath(tablePath), statsTermsPath(tablePath))

  def commit(spark: SparkSession, tablePath: String, parsed: DataFrame,
      embedder: Embedder): Unit =
    StagedDir.locked(tablePath) {
      val fs = StagedDir.fs(spark, tablePath)
      StagedDir.recoverParts(fs, tablePath, statsPaths(tablePath))
      val superseded = stage(spark, tablePath, parsed, embedder)
      StagedDir.commitParts(fs, tablePath, superseded, statsPaths(tablePath))
    }

  /** Stage one commit on a recovered table: the new parts at
    * `staging(tablePath)` and the two stats stagings. Returns the files
    * of the table the parts supersede.
    */
  private[ingest] def stage(spark: SparkSession, tablePath: String,
      parsed: DataFrame, embedder: Embedder): Seq[Path] = Memo.scoped { pins =>
    val fs = StagedDir.fs(spark, tablePath)
    val root = fs.makeQualified(new Path(tablePath))
    val batch = pins(IndexWriter.upsert(None, IndexWriter.withEmbeddings(parsed, embedder)))
    val keys = batch.select("doc_id", "user_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val replacing = coalesce(col("doc_id").isin(keys.map(_._1): _*), lit(false))

    val files = StagedDir.dataFiles(fs, root)
    def scan(of: Seq[FileStatus]): DataFrame =
      StagedDir.scan(spark, root, of.toArray, DocSchema.schema)
    // the locating scan: one driver row per replaced row
    val replacedIn: Map[Path, Int] =
      if (files.isEmpty || keys.isEmpty) Map.empty
      else scan(files).filter(replacing).select(col("_metadata.file_path")).collect()
        .groupBy(r => new Path(new java.net.URI(r.getString(0))))
        .map { case (f, rows) => f -> rows.length }
    def partitioned(f: FileStatus) = f.getPath.getParent.getName.startsWith("user_id=")
    val affected = files.filter(f => replacedIn.contains(f.getPath) || !partitioned(f))

    // the new part's rows per partition, then the fold over the
    // partition's parts the commit leaves untouched
    val newRows: Map[Path, Long] = (
      keys.map(k => new Path(root,
        ExternalCatalogUtils.getPartitionPathString("user_id", k._2)) -> 1L) ++
        affected.filter(partitioned).map(f =>
          f.getPath.getParent -> (StagedDir.rows(spark, f) - replacedIn.getOrElse(f.getPath, 0)))
    ).groupMapReduce(_._1)(_._2)(_ + _)
    val untouched = files.filterNot(affected.toSet).groupBy(_.getPath.getParent)
    val absorbed = newRows.toSeq.flatMap { case (dir, n) =>
      val parts = untouched.getOrElse(dir, Nil).groupBy(f => IndexWriter.writeOf(f.getPath.getName))
      IndexWriter.fold(n, parts.values.toSeq.map(p => p -> p.map(StagedDir.rows(spark, _)).sum))
        .flatten
    }
    val rewritten = affected ++ absorbed
    val part =
      if (rewritten.isEmpty) batch
      else batch.unionByName(scan(rewritten).filter(not(replacing)))
    IndexWriter.write(part, StagedDir.staging(tablePath))

    val (fieldsPath, termsPath) = (statsFieldsPath(tablePath), statsTermsPath(tablePath))
    val located = affected.filter(f => replacedIn.contains(f.getPath))
    val (newFields, newTerms) =
      if (files.nonEmpty && statsPaths(tablePath).forall(p => fs.exists(new Path(p))))
        CorpusStats.merge(
          (StagedDir.read(spark, fieldsPath), StagedDir.read(spark, termsPath)),
          batch, if (located.isEmpty) batch.limit(0) else scan(located).filter(replacing),
          DocSchema.scoredFields)
      else { // first batch, or stats not yet materialized: the new corpus
        val kept = files.filterNot(rewritten.toSet)
        CorpusStats.build(if (kept.isEmpty) part else scan(kept).unionByName(part),
          DocSchema.scoredFields)
      }
    newFields.write.mode("overwrite").parquet(StagedDir.staging(fieldsPath))
    newTerms.write.mode("overwrite").parquet(StagedDir.staging(termsPath))
    rewritten.map(_.getPath)
  }
}
