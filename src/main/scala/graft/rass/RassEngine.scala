package graft.rass

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import query._
import ingest.DocumentFetch

/** P8 — answer generation seam (reference: BlueHive / OpenAI with a
  * citation-enforcing system prompt, `app/main.py:283-331,2924-2942`).
  * The stub echoes the retrieved doc ids — correctness target is
  * retrieval, not LLM text (SURVEY §2.3).
  */
trait Generator extends Serializable {
  def generate(systemPrompt: String, context: String, query: String): String

  /** Token-streaming variant (reference `app/main.py:3021-3051`): push
    * each chunk to `onToken` as it is generated and return the full
    * answer — the reference's `"".join(streamed_chunks).strip()`
    * (`main.py:3319-3324`). Implementations without a native streaming
    * transport deliver the whole answer as one chunk.
    *
    * THREADING CONTRACT: `onToken` may be invoked from an
    * implementation-owned worker thread, NOT the calling thread (the
    * HTTP impl drains SSE on a daemon thread so task kills stay
    * deliverable). Callbacks must not rely on thread affinity —
    * `TaskContext.get`, thread-locals, or non-thread-safe sinks — and
    * must be safe to call until `generateStream` returns. Calls are
    * sequential (never concurrent), and a callback that throws
    * terminates the stream: the answer-so-far plus an in-band
    * `[ERROR]` suffix is returned instead of the exception
    * propagating.
    */
  def generateStream(systemPrompt: String, context: String, query: String)
      (onToken: String => Unit): String = {
    val full = generate(systemPrompt, context, query)
    if (full.nonEmpty) onToken(full)
    full.trim
  }
}

object StubGenerator extends Generator {
  override def generate(systemPrompt: String, context: String, query: String): String = {
    val ids = "Document ID: (\\S+)".r.findAllMatchIn(context).map(_.group(1)).toSeq
    s"[stub] answer for '$query' citing ${ids.mkString(", ")}"
  }

  /** Streams the stub answer word-by-word (space-preserving split) so
    * consumers exercise real multi-chunk reassembly, not the one-chunk
    * degenerate case.
    */
  override def generateStream(systemPrompt: String, context: String,
      query: String)(onToken: String => Unit): String = {
    val full = generate(systemPrompt, context, query)
    full.split("(?<= )").foreach(onToken)
    full.trim
  }
}

/** Chat history store (reference: Postgres/Prisma Chat+Message,
  * `prisma/schema.prisma:10-38`; last-10 context window `main.py:99`).
  */
final case class ChatMessage(chatId: String, role: String, content: String,
    createdAt: java.sql.Timestamp)

trait ChatStore extends Serializable {
  def append(m: ChatMessage): Unit
  def history(chatId: String, n: Int = 10): Seq[ChatMessage]
}

/** Ephemeral store for tests / throwaway sessions. */
final class InMemoryChatStore extends ChatStore {
  private val messages = scala.collection.mutable.ArrayBuffer[ChatMessage]()
  override def append(m: ChatMessage): Unit = synchronized { messages += m }
  override def history(chatId: String, n: Int = 10): Seq[ChatMessage] = synchronized {
    messages.filter(_.chatId == chatId).sortBy(_.createdAt.getTime).takeRight(n).toSeq
  }
}

/** Durable messages table as parquet (the Spark-native stand-in for the
  * reference's Postgres `Message` table); both operations survive
  * process restarts, so a new engine on the same path continues the
  * conversation (SURVEY §7.1 P6).
  *
  *   - `append` writes ONE parquet part per message on the driver,
  *     through the same `OutputWriter` a Spark write task uses (so the
  *     file format is unchanged) and runs no Spark job. The part is
  *     written under a hidden `_append-` name and renamed into place,
  *     so readers only ever see whole parts; a part left hidden by a
  *     killed append is deleted by the next append's recovery.
  *   - `history` is ONE Spark job: the chatId-filtered last-n scan. The
  *     schema is given and the scan's file index is the store's own
  *     race-checked listing, so no schema-inference or listing job runs
  *     however many parts the table holds.
  *
  * Parts accumulate one per message; once their count passes
  * `compactAfterFiles`, the table is rewritten into a few
  * chatId-clustered, createdAt-sorted files and promoted with the same
  * staged double-rename as [[ingest.IngestCommit]] (a crash at any
  * point leaves the old or the new table recoverable). Single writer
  * per path, the same contract as the ingest commit path.
  */
final class ParquetChatStore(spark: SparkSession, path: String,
    compactAfterFiles: Int = 64) extends ChatStore {
  import ParquetChatStore._

  private def fs = new HPath(path).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private lazy val toRow = Encoder.createSerializer()

  override def append(m: ChatMessage): Unit = synchronized {
    recover()
    writePart(m)
    maybeCompact()
  }

  /** One single-row part, written where a write task would write it:
    * `ParquetFileFormat.prepareWrite` configures the job exactly as a
    * DataFrame write does, and its factory's writer lands the file.
    */
  private def writePart(m: ChatMessage): Unit = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sparkContext.hadoopConfiguration)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, Schema)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      job.getConfiguration, new org.apache.hadoop.mapreduce.TaskAttemptID())
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
    val hidden = new HPath(path, HiddenPrefix + name)
    val writer = factory.newInstance(hidden.toString, Schema, ctx)
    try writer.write(toRow(m)) finally writer.close()
    if (!fs.rename(hidden, new HPath(path, name)))
      throw new java.io.IOException(s"could not publish chat part $hidden")
  }

  /** Crash recovery, same contract as IngestCommit: a kill between a
    * compaction's two renames leaves the table at `_old` — restore it;
    * a leftover staging is an unpromoted rewrite of data still fully
    * present in the live table — discard it; a hidden part is an
    * append killed before its rename — discard it too.
    *
    * Destructive (deletes staging, renames), so it runs ONLY on the
    * append path, which the single-WRITER-per-path contract already
    * serializes. history() must never call it: a second store instance
    * on the same path (the documented restart/continuation pattern)
    * reading while the writer compacts would otherwise delete the
    * writer's in-progress `_staging` mid-rewrite.
    */
  private def recover(): Unit = {
    val (target, retired) = (new HPath(path), new HPath(path + "_old"))
    if (!fs.exists(target) && fs.exists(retired)) fs.rename(retired, target)
    val staging = new HPath(path + "_staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    if (fs.exists(target))
      fs.listStatus(target).filter(_.getPath.getName.startsWith(HiddenPrefix))
        .foreach(s => fs.delete(s.getPath, false))
  }

  private def maybeCompact(): Unit = {
    val dir = new HPath(path)
    val parts = liveParts(dir)
    if (parts.length > compactAfterFiles) {
      scan(dir, parts)
        .repartitionByRange(col("chatId"), col("createdAt"))
        .sortWithinPartitions(col("chatId"), col("createdAt"))
        .write.mode("overwrite").parquet(path + "_staging")
      ingest.IngestCommit.swapIn(fs, path)
    }
  }

  /** The committed parts under `dir`, snapshotted OURSELVES: Spark's
    * file-index listing (InMemoryFileIndex/HadoopFSUtils) tolerates a
    * path vanishing mid-list — it logs "Was it deleted very recently?"
    * and SKIPS it — so a compaction rename racing it could silently
    * serve HALF a conversation. A plain fs.listStatus is stat-per-entry
    * and silently TRUNCATES under the same race, so this goes through
    * listComplete, which cross-checks the stat count against the raw
    * name enumeration and throws the FileNotFound that pathGone retries
    * instead of returning a partial listing.
    */
  private def liveParts(dir: HPath): Array[FileStatus] =
    graft.pipeline.ArtifactStore.listComplete(fs, dir).filter { s =>
      val name = s.getPath.getName
      name.endsWith(".parquet") && !name.startsWith(HiddenPrefix)
    }

  /** A scan of exactly `parts`: the message schema is given and the
    * file index serves `parts` as the listing of `dir`, so building the
    * frame lists nothing and infers nothing — the scan's own job is the
    * only one.
    */
  private def scan(dir: HPath, parts: Array[FileStatus]): DataFrame = {
    val snapshot = new FileStatusCache {
      override def getLeafFiles(p: HPath) = Some(parts)
      override def putLeafFiles(p: HPath, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, Seq(dir), Map.empty, Some(Schema),
      snapshot, Some(PartitionSpec.emptySpec), None)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(), Schema,
      None, new ParquetFileFormat(), Map.empty)(spark))
  }

  override def history(chatId: String, n: Int = 10): Seq[ChatMessage] = synchronized {
    import spark.implicits._
    // read-only recovery: after a crash between the compaction renames
    // the data lives at `_old` — read it from there, but leave the
    // repair (rename/delete) to the writer so a reader instance can
    // never destroy a concurrent compaction's staging directory
    def attempt(): Seq[ChatMessage] = {
      val dir =
        if (!fs.exists(new HPath(path)) && fs.exists(new HPath(path + "_old")))
          new HPath(path + "_old")
        else new HPath(path)
      val parts = liveParts(dir)
      // RawLocalFileSystem can win its exists() probe and then lose the
      // File.length() call to the rename — java.io.File.length() reports
      // a MISSING file as 0, so the race materializes as a zero-length
      // FileStatus, not an exception. A committed parquet part is never
      // 0 bytes (writers rename in complete files), so zero length IS
      // the race — reclassify it as the FileNotFound it really is (the
      // file index would otherwise plan no splits for it and the scan
      // would serve a partial conversation).
      if (parts.exists(_.getLen == 0L))
        throw new java.io.FileNotFoundException(
          s"zero-length parquet part under $dir (rename race)")
      if (parts.isEmpty) Seq.empty
      else {
        // last-n pushed into the scan (TakeOrderedAndProject after the
        // chatId filter) — only n rows reach the driver however long the
        // chat history grows, mirroring the reference's `take: 10` desc
        // query (`main.py:2786-2791`). An exchange's user+assistant rows
        // share a timestamp (ask() stamps both with one clock read), so
        // the role breaks the tie on BOTH the cutoff (assistant first in
        // desc order keeps an exchange's halves together) and the final
        // ascending render (user line before its answer).
        val roleRank = when(col("role") === "user", 0).otherwise(1)
        scan(dir, parts).as[ChatMessage]
          .filter(col("chatId") === chatId)
          .orderBy(col("createdAt").desc, roleRank.desc)
          .limit(n)
          .collect()
          .sortBy(m => (m.createdAt.getTime, if (m.role == "user") 0 else 1))
          .toSeq
      }
    }
    try attempt()
    catch {
      // Two distinct disappearances land here:
      //   - first message of the first chat: the table doesn't exist
      //     yet (the listing throws FileNotFound) — the retry
      //     re-resolves, fails the same way, and returns empty;
      //   - a concurrent writer's recover()/compaction renamed the
      //     table between our listing and the scan (scan-time
      //     FileNotFound buried in a SparkException): the data MOVED,
      //     it didn't vanish — the retry re-resolves the live path and
      //     serves it. Only if the second attempt ALSO finds nothing is
      //     the table treated as absent.
      case t: Throwable if ParquetChatStore.pathGone(t) =>
        try attempt()
        catch { case t2: Throwable if ParquetChatStore.pathGone(t2) => Seq.empty }
    }
  }
}

object ParquetChatStore {
  /** Name prefix of a part still being written; Spark's own listings
    * skip `_`-prefixed files too.
    */
  private val HiddenPrefix = "_append-"

  private val Encoder = ExpressionEncoder[ChatMessage]()

  /** The table's schema, exactly what `Seq(m).toDF()` writes. */
  private val Schema: StructType = Encoder.schema

  /** Disambiguates FileUtil.list's File.list()==null misreports: the
    * rename race either leaves the path absent or puts it back whole
    * (a fresh enumeration succeeds); a real EACCES leaves it present
    * and unlistable on every retry. Unparseable path strings are not
    * "gone".
    */
  private def goneOrListable(path: String): Boolean =
    try {
      java.nio.file.Files.notExists(java.nio.file.Paths.get(path)) ||
        new java.io.File(path).list() != null
    } catch { case _: java.nio.file.InvalidPathException => false }

  /** Does this failure (anywhere in its cause chain) mean the path we
    * resolved is no longer there — as opposed to corrupt data, a bad
    * schema, or any other real error that must propagate?
    */
  private[graft] def pathGone(t: Throwable): Boolean =
    if (t == null) false
    else t match {
      case _: java.io.FileNotFoundException => true
      // Hadoop's vectored-read path (RawLocalFileSystem.readVectored)
      // surfaces a rename-during-read as NIO's NoSuchFileException —
      // NOT a java.io.FileNotFoundException — wrapped in a
      // FAILED_READ_FILE.NO_HINT SparkException whose message carries
      // no recognizable error class. Matching the NIO type in the
      // cause chain is the only reliable signal.
      case _: java.nio.file.NoSuchFileException => true
      // Hadoop's FileUtil.list throws NIO AccessDeniedException
      // whenever File.list() returns null — which a directory
      // VANISHING mid-list (the compaction rename winning the race
      // during the scan's file listing) also produces, misreported as
      // "Permission denied". Probe the named path: it is the rename
      // race when the path is absent by probe time OR back and
      // LISTABLE (the flip-back can land before the probe) — a genuine
      // permissions problem leaves the path present and still
      // unlistable on every retry, and propagates. A path string the
      // local FS can't even parse is likewise not "gone".
      case e: java.nio.file.AccessDeniedException
        if e.getFile != null && ParquetChatStore.goneOrListable(e.getFile) => true
      // Hadoop's FileUtil.list has a second misreport shape for the
      // same File.list()==null condition: a bare IOException "Invalid
      // directory or I/O error occurred for dir: <path>". Same rule as
      // AccessDenied above.
      case e: java.io.IOException
        if e.getMessage != null &&
          e.getMessage.startsWith("Invalid directory or I/O error occurred for dir: ") &&
          ParquetChatStore.goneOrListable(e.getMessage.stripPrefix(
            "Invalid directory or I/O error occurred for dir: ")) => true
      case e: org.apache.spark.sql.AnalysisException
        if e.getMessage.contains("PATH_NOT_FOUND") ||
          e.getMessage.contains("Path does not exist") ||
          // a rename can land between path resolution and file listing:
          // the dir exists at probe time, lists zero files at plan time
          // ("was not found. Was it deleted very recently?"), and schema
          // inference fails. A genuinely empty table degrades to empty
          // history through the same retry, which is the right answer
          // for a chat read.
          e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") => true
      // scan-time error classes: FAILED_READ_FILE.FILE_NOT_EXIST (the
      // listed file was renamed away before the task opened it)
      case e if e.getMessage != null &&
        (e.getMessage.contains("FILE_NOT_FOUND") ||
          e.getMessage.contains("FILE_NOT_EXIST")) => true
      case e => pathGone(e.getCause)
    }
}

/** The ask() orchestration (reference `app/main.py:2750-2964`):
  * NER -> intent -> entity filters -> patient resolution -> query
  * embedding -> 12-way dispatch -> answer assembly -> generation ->
  * history append. Driver-side control flow; every data-touching step
  * is a DataFrame pipeline on executors.
  *
  * Answer shapes follow the reference exactly:
  *   - DOCUMENT_FETCH returns JSON `{queried_name, matched_patientIds,
  *     patient_records[]}` of re-read raw files (`main.py:2804-2856`)
  *     — or the reference's three fallback strings — and skips the
  *     history append (the reference returns before it);
  *   - AGGREGATE returns the buckets as JSON
  *     `{field: [{key, doc_count}]}` verbatim (`main.py:2872-2876`),
  *     also before the history append;
  *   - everything else assembles per-hit snippet blocks
  *     (`main.py:2894-2921`): `[Unstructured Text]: ...` for
  *     unstructured hits, `[Structured Resource] k=v | k=v` over
  *     non-null fields for structured ones, deduped by doc id under
  *     `--- Document ID: x ---` headers, then generates.
  */
final class RassEngine(
    docs: DataFrame,
    embedder: Embedder = new DeterministicEmbedder(),
    intentClassifier: IntentClassifier = RuleIntentClassifier,
    ner: Ner = new RuleNer(),
    generator: Generator = StubGenerator,
    chatStore: ChatStore = new InMemoryChatStore,
    stats: Option[(DataFrame, DataFrame)] = None,
    fetchBaseDir: Option[String] = None,
    nowMicros: () => Long = () => System.currentTimeMillis() * 1000L) {

  final case class Answer(query: String, intent: Intent, answer: String,
    hits: Seq[(String, Double)], patient: Option[(String, Seq[String])])

  private val CitationPrompt =
    "You are a medical assistant. Cite every claim with its Document ID."

  /** BM25 statistics for the scoring searches: the caller's materialized
    * tables when given (ingest maintains them incrementally,
    * [[graft.rass.ingest.IngestCommit]]); otherwise built ONCE from
    * `docs` and kept persisted — an engine must never re-aggregate the
    * corpus per ask() (at 100 TB that is a second full scan per query).
    * The build is cached per (session, corpus plan), so many engine
    * instances over the same corpus share one persisted pair instead of
    * each stranding its own copy in executor storage. The key is the
    * CANONICALIZED plan object, not its 32-bit semanticHash: canonical
    * plans compare structurally (= semanticEquals), so two different
    * corpora in one session can never collide into sharing stats.
    */
  private lazy val effectiveStats: Option[(DataFrame, DataFrame)] =
    stats.orElse {
      val key = (docs.sparkSession, docs.queryExecution.analyzed.canonicalized)
      Some(RassEngine.builtStatsCache.getOrBuild(key) {
        val (f, t) = CorpusStats.build(docs, DocSchema.scoredFields)
        val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        (f.persist(lvl), t.persist(lvl))
      })
    }

  /** Fields the reference excludes from structured snippets
    * (`main.py:2904-2908`).
    */
  private val SnippetExcluded = Set("doc_id", "doc_type", "resourceType", "embedding")

  /** One snippet per hit row (`main.py:2898-2910`). */
  private def snippet(r: Row): String =
    if (Option(r.getAs[String]("doc_type")).contains("unstructured"))
      s"[Unstructured Text]: ${Option(r.getAs[String]("unstructuredText")).getOrElse("")}"
    else {
      val pieces = r.schema.fieldNames.toSeq
        .filterNot(SnippetExcluded)
        .flatMap(f => Option(r.getAs[Any](f)).map(v => s"$f=$v"))
      "[Structured Resource] " + pieces.mkString(" | ")
    }

  /** The snippet lookup DataFrame: doc_id-keyed, with the hits'
    * patientIds ALSO pushed into the scan — on the
    * [[ingest.IndexWriter]] layout (user partition + patient
    * clustering) the patient predicate prunes files via parquet
    * min-max stats, so an ask() fetches its <=k snippet rows without
    * scanning the corpus. doc_id is the unique upsert key, so the
    * added predicate can never drop a hit's row; it is skipped only if
    * some hit carries no patientId (a null would). Package-private for
    * the plan-pruning regression test.
    */
  private[rass] def snippetFetch(hits: Seq[(String, String)]): DataFrame = {
    val base = docs.filter(col("doc_id").isInCollection(hits.map(_._1).distinct))
    val pids = hits.map(_._2)
    if (pids.nonEmpty && !pids.contains(null))
      base.filter(col("patientId").isInCollection(pids.distinct))
    else base
  }

  /** Context text: snippets deduped by doc id in hit order, each block
    * under its Document ID header (`main.py:2912-2921`).
    */
  private def assembleContext(hitPairs: Seq[(String, String)]): String = {
    if (hitPairs.isEmpty) return ""
    val byId = snippetFetch(hitPairs)
      .collect().map(r => r.getAs[String]("doc_id") -> r).toMap
    val contextMap = scala.collection.mutable.LinkedHashMap[String, String]()
    hitPairs.map(_._1).foreach { id =>
      byId.get(id).foreach { r =>
        val s = snippet(r)
        contextMap.updateWith(id) {
          case Some(prev) => Some(prev + "\n" + s)
          case None => Some(s)
        }
      }
    }
    contextMap.map { case (id, content) =>
      s"--- Document ID: $id ---\n$content\n\n"
    }.mkString
  }

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def jstr(s: String): String = "\"" + jsonEscape(s) + "\""

  /** DOCUMENT_FETCH answer (`main.py:2804-2856`): re-read the matched
    * patients' raw files and return them as JSON, with the reference's
    * three fallback messages.
    */
  private def documentFetchAnswer(results: Seq[Row],
      patient: Option[(String, Seq[String])]): String = {
    if (results.isEmpty) return "No matching documents found."
    if (!results.exists(r => r.getAs[String]("patientId") != null &&
        r.getAs[String]("file_path") != null))
      return "No documents with valid patient ID or file path found."
    val fetched = DocumentFetch.fetch(results, fetchBaseDir)
    if (fetched.isEmpty) return "No accessible documents found for the patient."
    val records = fetched.map(d =>
      s"""{"patientId": ${jstr(d.patientId)}, "file_path": ${jstr(d.filePath)}, """ +
        s""""file_type": ${jstr(d.fileType)}, "content": ${jstr(d.content)}}""")
      .mkString("[", ", ", "]")
    val ids = patient.map(_._2).getOrElse(Seq.empty)
      .map(jstr).mkString("[", ", ", "]")
    s"""{"queried_name": ${patient.map(p => jstr(p._1)).getOrElse("null")}, """ +
      s""""matched_patientIds": $ids, "patient_records": $records}"""
  }

  /** AGGREGATE answer (`main.py:2872-2876`): the buckets dict as JSON. */
  private def aggregateAnswer(rows: Seq[Row]): String =
    rows.groupBy(_.getString(0)).toSeq
      .sortBy { case (f, _) => rows.indexWhere(_.getString(0) == f) }
      .map { case (field, bucket) =>
        val items = bucket.map(r =>
          s"""{"key": ${jstr(String.valueOf(r.get(1)))}, "doc_count": ${r.getLong(2)}}""")
          .mkString("[", ", ", "]")
        s"${jstr(field)}: $items"
      }.mkString("{", ", ", "}")

  /** @param persistJson the reference's REST and WebSocket paths
    *   diverge on DOCUMENT_FETCH/AGGREGATE: REST returns the JSON
    *   answer BEFORE the history append (`main.py:2846-2876`), the WS
    *   path persists it (`main.py:3199-3215,3241-3257`). Default false
    *   = REST behavior; true models the WS asymmetry (SURVEY §3.2).
    */
  def ask(queryText: String, userId: String, chatId: String,
      topK: Int = Searches.DefaultK, persistJson: Boolean = false): Answer =
    askImpl(queryText, userId, chatId, topK, persistJson, stream = None)

  /** Token-streaming ask — the reference's WebSocket path
    * (`main.py:3319-3324`): each generated chunk is pushed to `onToken`
    * as it arrives (the `websocket.send_text` seam), and the exchange
    * persists only when the final joined answer is non-empty
    * (`main.py:3324-3340` guards `if final_answer:`), unlike the REST
    * path's unconditional append. DOCUMENT_FETCH / AGGREGATE stream
    * their JSON answer as one chunk and persist it — the WS asymmetry
    * `ask(persistJson = true)` already models.
    */
  def askStream(queryText: String, userId: String, chatId: String,
      topK: Int = Searches.DefaultK)(onToken: String => Unit): Answer =
    askImpl(queryText, userId, chatId, topK, persistJson = true,
      stream = Some(onToken))

  private def askImpl(queryText: String, userId: String, chatId: String,
      topK: Int, persistJson: Boolean,
      stream: Option[String => Unit]): Answer = {
    require(queryText.nonEmpty, "empty query")
    val entities = ner.extract(queryText)
    val intent = intentClassifier.classify(queryText)
    val patient = PatientResolver.resolve(docs, ner, queryText)
    val patientId = patient.flatMap(_._2.headOption)
    val entityFilter = EntityFilters.compile(entities)
    val qv = embedder.embedBatch(Seq(queryText)).head.map(_.toDouble).toSeq
    val now = nowMicros()

    val hitsDf: DataFrame = intent match {
      case Intent.Keyword => Searches.q1ExactMatch(docs, queryText, topK, patientId, entityFilter)
      case Intent.Semantic => Searches.q2Semantic(docs, qv, topK, patientId, entityFilter)
      case Intent.Hybrid => Searches.q3Hybrid(docs, queryText, qv, topK, patientId, entityFilter, effectiveStats)
      case Intent.Structured => Searches.q4Structured(docs, queryText, topK, patientId, entityFilter)
      case Intent.HybridStructured => Searches.q5HybridStructured(docs, queryText, qv, topK, patientId, entityFilter)
      case Intent.Aggregate => Searches.q6Aggregate(docs, patientId, entityFilter)
      case Intent.Comparison => Searches.q7Comparison(docs, queryText, topK, patientId, entityFilter, effectiveStats)
      case Intent.Temporal => Searches.q8Temporal(docs, queryText, now, topK, patientId, entityFilter)
      case Intent.Explanatory => Searches.q9Explanatory(docs, queryText, topK, patientId, entityFilter, effectiveStats)
      case Intent.MultiIntent => Searches.q10MultiIntent(docs, queryText, qv, now, topK, patientId, entityFilter, effectiveStats)
      case Intent.EntitySpecific => Searches.q11EntitySpecific(docs, queryText, topK, patientId, entityFilter)
      case Intent.DocumentFetch => patientId match {
        case Some(p) => Searches.q12DocumentFetch(docs, p, topK, entityFilter)
        case None => docs.sparkSession.emptyDataFrame
          .withColumn("doc_id", lit(null: String))
          .withColumn("score", lit(0.0)).limit(0) // reference returns [] (`main.py:2127-2128`)
      }
    }

    // one collect per ask: DOCUMENT_FETCH's hit list, fallback checks
    // and file-identity projection all read the same <=k collapsed rows
    val collected = hitsDf.collect()
    val hits: Seq[(String, Double)] = intent match {
      case Intent.Aggregate =>
        collected.map(r => (s"${r.getString(0)}=${r.get(1)}", r.getLong(2).toDouble)).toSeq
      case Intent.Temporal | Intent.DocumentFetch =>
        collected.flatMap(r => Option(r.getString(if (intent == Intent.DocumentFetch) 1 else 0))
          .map(_ -> 0.0)).toSeq
      case _ => collected.map(r => (r.getString(0), r.getDouble(1))).toSeq
    }

    // DOCUMENT_FETCH and AGGREGATE return their JSON before the REST
    // path's history append (`main.py:2846-2876`); with persistJson the
    // WS path's append happens first (`main.py:3199-3215,3241-3257`)
    def jsonAnswer(answer: String): Answer = {
      stream.foreach(cb => cb(answer)) // WS sends the JSON as one frame
      if (persistJson) {
        val ts = new java.sql.Timestamp(now / 1000)
        chatStore.append(ChatMessage(chatId, "user", queryText, ts))
        chatStore.append(ChatMessage(chatId, "assistant", answer, ts))
      }
      Answer(queryText, intent, answer, hits, patient)
    }
    intent match {
      case Intent.DocumentFetch =>
        return jsonAnswer(documentFetchAnswer(collected.toSeq, patient))
      case Intent.Aggregate =>
        return jsonAnswer(aggregateAnswer(collected.toSeq))
      case _ => ()
    }

    // P7 context assembly (`main.py:2894-2921`) + final prompt
    // (`main.py:2936-2942`); hit rows carry patientId so the snippet
    // fetch prunes on the patient-clustered layout
    val hitPairs = collected.flatMap(r =>
      Option(r.getString(0)).map(_ -> r.getAs[String]("patientId"))).toSeq
    val contextText = assembleContext(hitPairs)
    val historyText = chatStore.history(chatId)
      .map(m => s"${if (m.role == "user") "User" else "AI"}: ${m.content}\n").mkString
    val finalPrompt =
      s"Chat History:\n$historyText\n\nUser Query:\n$queryText\n\n" +
        s"Context:\n$contextText\n--- End of context ---\n\n" +
        "Provide your concise answer now."
    val answer = stream match {
      case Some(cb) =>
        generator.generateStream(CitationPrompt, finalPrompt, queryText)(cb)
      case None => generator.generate(CitationPrompt, finalPrompt, queryText)
    }

    // the WS path persists only a non-empty joined answer
    // (`main.py:3324-3340`); the REST path appends unconditionally
    if (stream.isEmpty || answer.nonEmpty) {
      val ts = new java.sql.Timestamp(now / 1000)
      chatStore.append(ChatMessage(chatId, "user", queryText, ts))
      chatStore.append(ChatMessage(chatId, "assistant", answer, ts))
    }
    Answer(queryText, intent, answer, hits, patient)
  }
}

object RassEngine {
  /** Built-stats sharing across engine instances: keyed by the corpus
    * plan's canonicalized form within a session (see `effectiveStats`).
    */
  private[rass] val builtStatsCache = graft.Memo.cache[
    (SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan),
    (DataFrame, DataFrame)]("r.builtStats", graft.Memo.unpersist)
}
