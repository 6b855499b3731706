package graft.rass.ingest

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.rass.{DocSchema, Embedder, VectorOps}

/** S10/S11 — embed, L2-normalize, and upsert into the document table.
  *
  * Reference semantics: bulk index with `_id = doc_id` (upsert),
  * `_routing = patientId` (`app/main.py:1211-1282`), vectors
  * L2-normalized with epsilon 1e-9 before indexing (`main.py:1249-1251`).
  *
  * Spark layout (SURVEY §1.3): partition by `user_id` (the reference's
  * index-per-user) and repartition by `patientId` inside each write so
  * a patient's documents co-locate in files (the reference's shard
  * routing) — patient-filtered scans then prune at both levels.
  * Upsert = union + keep-newest-per-doc_id, the foreachBatch-friendly
  * idempotent merge. A commit ([[IngestCommit]]) runs it over the batch
  * alone and writes the result as a new part beside the table's other
  * files; [[fold]] is the size-tier rule that keeps the number of parts
  * per partition logarithmic.
  */
object IndexWriter {

  /** Embed unstructured rows lacking a vector, then L2-normalize. */
  def withEmbeddings(docs: DataFrame, embedder: Embedder): DataFrame = {
    val needs = docs.filter(col("doc_type") === "unstructured" &&
      col("embedding").isNull)
    val has = docs.filter(!(col("doc_type") === "unstructured" &&
      col("embedding").isNull))
    val embedded = Embedder.embedColumn(
      needs.drop("embedding"), "unstructuredText", embedder)
      .select(docs.columns.map(col): _*)
    has.unionByName(embedded)
      .withColumn("embedding",
        when(col("embedding").isNotNull,
          VectorOps.l2Normalize(col("embedding").cast("array<double>"))
            .cast("array<float>")))
  }

  /** Idempotent upsert by doc_id: newest batch wins (reference
    * `_op_type: index` overwrite semantics).
    */
  def upsert(existing: Option[DataFrame], incoming: DataFrame): DataFrame = {
    val tagged = incoming.withColumn("_gen", lit(1L))
    val all = existing match {
      case Some(e) => e.withColumn("_gen", lit(0L)).unionByName(tagged)
      case None => tagged
    }
    // xxhash64 tie-break: duplicate doc_ids WITHIN one batch (e.g. the
    // same resource exported in two bundle files) would otherwise pick a
    // shuffle-order-dependent winner, breaking run-to-run reproducibility.
    // The columns hash in the schema's fixed order, not the frame's, so
    // the winner never depends on how a caller or a table's layout
    // orders the columns
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("_gen").desc,
        xxhash64(DocSchema.schema.fieldNames.map(c => col(c).cast("string")): _*))
    all.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_gen", "_rn")
  }

  /** Write the table: tenant partition column + patient clustering.
    *
    * RANGE-partitioned and sorted on (user_id, patientId) — not hash
    * `repartition`: hash gives every output file a near-full-range
    * patientId min/max (many interleaved patients per file), so parquet
    * stats can never skip a file. Range+sort makes file and row-group
    * patientId ranges narrow and DISJOINT, so a patient-filtered scan
    * prunes to one file via plain min-max stats — the layout-level
    * analogue of the reference's `_routing = patientId` shard pruning
    * (`app/main.py:1230,1263`), with no metastore/bucketing metadata
    * needed. IngestSpec asserts the disjoint-ranges property on disk.
    * The ranges are disjoint within one write: parts of different
    * commits overlap until [[fold]] rewrites them into one.
    *
    * 100 TB deployment note: plain parquet records no bucket metadata,
    * so this layout accelerates patient-FILTERED scans but a patientId
    * equi-JOIN still shuffles both sides. A real deployment (any
    * catalog: Hive/Glue/Unity) should write the document table with
    * `bucketBy(N, "patientId").sortBy("patientId").saveAsTable(...)` —
    * co-bucketed joins then elide both exchanges, the full `_routing`
    * analogue. BucketingSpec pins BOTH behaviors: the metastore-free
    * limitation and the bucketed-table fix.
    */
  def write(docs: DataFrame, path: String): Unit =
    docs.repartitionByRange(col("user_id"), col("patientId"))
      .sortWithinPartitions(col("user_id"), col("patientId"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("user_id")
      .parquet(path)

  /** The size-tier fold (Bentley–Saxe, the LSM rule): a new part of
    * `rows` rows absorbs every existing part that holds no more rows
    * than it does, smallest first, growing as it absorbs, while that
    * holds. Returns the parts absorbed. Part sizes then stay
    * geometric: a partition holds O(log(table/batch)) parts, each row
    * is rewritten O(log) times, and a small batch never folds a big
    * part. Rows, not bytes: parquet's per-file overhead and compression
    * would stall a byte rule.
    */
  def fold[P](rows: Long, parts: Seq[(P, Long)]): Seq[P] = {
    var n = rows
    parts.sortBy(_._2).takeWhile { case (_, r) =>
      val absorbs = r <= n
      if (absorbs) n += r
      absorbs
    }.map(_._1)
  }

  /** Spark names every file of one write `part-<task>-<write uuid>…`:
    * the files sharing the uuid are one part. A file named otherwise is
    * a part of its own.
    */
  private val WriteId = """part-\d+-(\p{XDigit}{8}(?:-\p{XDigit}{4}){3}-\p{XDigit}{12})""".r.unanchored

  def writeOf(fileName: String): String = fileName match {
    case WriteId(uuid) => uuid
    case _ => fileName
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(DocSchema.schema).parquet(path)

  /** S14 — index existence (`ensure_index_exists`,
    * `app/main.py:350-579`; table-exists is the Spark analogue of the
    * index-mapping check since parquet carries its schema).
    */
  def indexExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    // the path's own filesystem — `path` may carry a scheme (s3a://)
    // different from fs.defaultFS
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** S14 — `has_any_data` (`app/main.py:1470-1478`): count>0 via a
    * limit-1 probe, not a full count.
    */
  def hasAnyData(spark: SparkSession, path: String): Boolean =
    indexExists(spark, path) && read(spark, path).limit(1).count() > 0
}
