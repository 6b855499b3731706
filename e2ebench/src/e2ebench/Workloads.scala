package e2ebench

import java.nio.file.{Files, Path}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{Dedup, Export, Release, ReleaseSteps, Similarity, TextAnalysis}
import graft.rass.{Corpus, CorpusStats, DeterministicEmbedder, DocSchema,
  ParquetChatStore, RassEngine, StubGenerator}
import graft.rass.ingest.{IndexWriter, IngestCommit, Upload}
import graft.rass.query.{Intent, RuleIntentClassifier, SyntheticQueries}

/** One timed operation and what its checks found. `first` is the time
  * from the op's start to its first output; `extra` holds per-op
  * numbers the workload reports (a dotted name is a per-layer metric),
  * `label` its grouping keys.
  */
final case class Op(wall: Double, first: Double,
    failure: Option[String], extra: Map[String, Double] = Map.empty,
    label: Map[String, String] = Map.empty, startNs: Long = 0L, firstNs: Long = 0L)

/** What every workload provides to the timing loop in [[Main]]. */
trait Workload {
  /** Table or corpus build plus the fixed warm-up. */
  def setup(): Unit
  /** Run op `i` of the timed window, checks included. */
  def op(i: Int): Op
  /** Length of a second timed window of a fixed number of ops, run after
    * the first (its warm-up is part of [[setup]]): on `ask`, uploads.
    */
  def laterOps: Int = 0
  /** Run op `j` of the second window, checks included. */
  def laterOp(j: Int): Op = throw new IndexOutOfBoundsException(s"no later op $j")
  /** Checks that run once, after the windows. Returns failures. */
  def finish(): Seq[String] = Nil
  /** `visible_p50_s`: the p50 time from an op's start until a new
    * reader sees its result.
    */
  def visibleP50(ops: Seq[Op], later: Seq[Op]): Double
  /** `write_amp`: bytes written per input byte, over the window. */
  def writeAmp(ops: Seq[Op]): Double
  /** `warm_p50_s`: the p50 of the ops whose input was seen before. */
  def warmP50(ops: Seq[Op]): Double
  /** Workload-specific numbers over the windows' ops. */
  def summary(ops: Seq[Op], later: Seq[Op]): Map[String, Double] = Map.empty
  /** The window ends on a multiple of this many ops. */
  def unit: Int = 1
  /** The window holds at least this many ops. */
  def minOps: Int = 1
}

/** Per-run environment: the session, a private scratch directory, the
  * seed, and the recorders (inactive when the run is untraced).
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val trace: Trace, val tap: Option[SparkTap]) {

  def dir(name: String): String = work.resolve(name).toString

  /** Set-up phases and their seconds, and each warm-up op's seconds,
    * for the side file.
    */
  val phases = scala.collection.mutable.ArrayBuffer[(String, Double)]()
  val warmOps = scala.collection.mutable.ArrayBuffer[Double]()

  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally phases += name -> (System.nanoTime() - t0) / 1e9
  }

  /** Write the seeded source tables as `<dir>/documents.parquet` and
    * `<dir>/embeddings.parquet`, one file each, like the sf test-data dirs.
    */
  def writeSources(dir: String, t: Inputs.Tables): Unit = {
    import spark.implicits._
    t.docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    t.vecs.map(v => (v.vecId, v.embedding.toSeq, v.label))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
  }

  /** The serving table: the corpus derivation of the seeded sources,
    * written by IndexWriter, with its BM25 stats materialized beside it
    * where IngestCommit keeps them.
    */
  def buildTable(src: String, table: String): Unit = {
    IndexWriter.write(Corpus.corpus(spark, src), table)
    Corpus.invalidateCaches()
    val (f, t) = CorpusStats.build(IndexWriter.read(spark, table), DocSchema.scoredFields)
    f.write.parquet(IngestCommit.statsFieldsPath(table))
    t.write.parquet(IngestCommit.statsTermsPath(table))
  }

  /** Copy a serving table and its materialized stats. */
  def copyTable(from: String, to: String): Unit =
    Seq[String => String](identity, IngestCommit.statsFieldsPath, IngestCommit.statsTermsPath)
      .foreach { path =>
        val (a, b) = (java.nio.file.Paths.get(path(from)), java.nio.file.Paths.get(path(to)))
        val s = Files.walk(a)
        try s.iterator().asScala.foreach(f => Files.copy(f, b.resolve(a.relativize(f))))
        finally s.close()
      }

  def stats(table: String): (DataFrame, DataFrame) =
    (spark.read.parquet(IngestCommit.statsFieldsPath(table)),
      spark.read.parquet(IngestCommit.statsTermsPath(table)))

  /** Bytes of the regular files under `root` modified at or after
    * `sinceMs` (all of them when 0).
    */
  def bytesUnder(root: String, sinceMs: Long = 0L): Long = {
    val p = java.nio.file.Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(f => Files.getLastModifiedTime(f).toMillis >= sinceMs)
        .map(Files.size).sum
      finally s.close()
    }
  }
}

object Workloads {

  /** The engine clock, pinned: noon on 2025-03-01 UTC, one second later
    * per read. TEMPORAL windows then do not depend on the date the
    * benchmark runs, and never cross the midnight boundaries the
    * corpus timestamps sit on.
    */
  def pinnedClock(): () => Long = {
    val t = new java.util.concurrent.atomic.AtomicLong(1740830400000000L)
    () => t.getAndAdd(1000000L)
  }

  /** (hit ids, scores) of an answer, as the digest sees them: scores
    * are rounded to 1e-9 so a change in summation order does not fail
    * the check.
    */
  def hitKey(hits: Seq[(String, Double)]): String =
    hits.map { case (id, s) => f"$id:${math.rint(s * 1e9) / 1e9}%.9f" }.mkString(",")

  private val FetchFallbacks = Set("No matching documents found.",
    "No documents with valid patient ID or file path found.",
    "No accessible documents found for the patient.")

  /** The ask checks: the answer's intent is the template's label, the
    * streamed chunks join to the answer, and the answer cites exactly
    * the hit ids (the stub generator cites every context document, and
    * the context holds each hit once). None when all hold.
    */
  def checkAnswer(expected: Intent, intent: Intent, answer: String,
      streamed: String, hits: Seq[(String, Double)]): Option[String] = {
    if (intent != expected) return Some(s"intent $intent, template says $expected")
    if (streamed.trim != answer) return Some("streamed chunks do not join to the answer")
    intent match {
      case Intent.Aggregate =>
        hits.find { case (fk, n) =>
          val k = fk.substring(fk.indexOf('=') + 1)
          !answer.contains(s""""key": "$k", "doc_count": ${n.toLong}""")
        }.map(h => s"aggregate answer lacks bucket ${h._1}")
      case Intent.DocumentFetch =>
        if (FetchFallbacks(answer) || answer.startsWith("{\"queried_name\"")) None
        else Some("document-fetch answer is neither records nor a fallback")
      case _ =>
        // the stub answers "[stub] answer for '<query>' citing <ids>"
        val at = answer.lastIndexOf("' citing")
        val cited =
          if (at < 0) Seq("<no citation>")
          else answer.substring(at + 8).trim.split(", ").filter(_.nonEmpty).toSeq
        val want = hits.map(_._1).distinct
        if (cited == want) None
        else Some(s"cites ${cited.mkString(",")} but hits are ${want.mkString(",")}")
    }
  }
}

/** `ask`: a seeded stream of synthetic questions through askStream
  * (the WebSocket path) against an IndexWriter table with materialized
  * stats, over four chats on a ParquetChatStore; the timed window is
  * two blocks of [[Inputs.askStream]]. After the asks, a
  * second window of [[Ingest.TimedUploads]] upload requests, each with
  * its read-your-write ask, on a copy of the table ([[Ingest]]).
  */
final class AskWorkload(c: Ctx) extends Workload {
  import Workloads._

  private var engine: RassEngine = _
  private var stream: IndexedSeq[Inputs.Ask] = _
  private var ingest: Ingest = _
  private val firstKey = scala.collection.mutable.Map[String, String]()
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  private var digested = 0
  private var answerDigest = ""

  def setup(): Unit = {
    val src = c.dir("src")
    val table = c.dir("table")
    val uploadTable = c.dir("upload-table")
    c.phase("sources")(c.writeSources(src, Inputs.tables(c.seed)))
    c.phase("table")(c.buildTable(src, table))
    c.phase("upload-table")(c.copyTable(table, uploadTable))
    val docs = IndexWriter.read(c.spark, table)
    val pools = c.phase("pools")(SyntheticQueries.harvestPools(docs))
    stream = Inputs.askStream(pools, c.seed, blocks = 40)
    val t = c.trace
    engine = c.phase("engine")(new RassEngine(docs,
      embedder = new Seams.TracedEmbedder(new DeterministicEmbedder(), t),
      intentClassifier = new Seams.TracedIntent(RuleIntentClassifier, t),
      ner = new Seams.TracedNer(SyntheticQueries.nerFor(pools), t),
      generator = new Seams.TracedGenerator(StubGenerator, t),
      chatStore = new Seams.TracedChatStore(new ParquetChatStore(c.spark, c.dir("chats")), t),
      stats = Some(c.stats(table)),
      nowMicros = pinnedClock()))
    ingest = new Ingest(c, uploadTable, pools)
    // the upload warm-up writes only its own copy of the table, so it
    // runs beside the ask warm-up instead of after it
    c.phase("warm-up") {
      val uploads = Future(ingest.setup())(ExecutionContext.global)
      val asked = Try((0 until warmAsks).map { i =>
        val o = ask(stream(i))
        o.failure.foreach(f => throw new IllegalStateException(s"warm-up ask $i: $f"))
        o.wall
      })
      val uploaded = Try(Await.result(uploads, Duration.Inf))
      c.warmOps ++= asked.get ++ uploaded.get
    }
  }

  /** Asks the answer digest covers: the warm-up and the first timed
    * block, whatever the window's length.
    */
  private val DigestAsks = Inputs.WarmAsks + Inputs.Block

  /** Digest of (question, hit ids, scores) over the first
    * [[DigestAsks]] asks, which every run on this seed must reproduce.
    */
  def digest: String = answerDigest

  /** One ask and its checks. */
  private def ask(a: Inputs.Ask): Op = {
    val sb = new StringBuilder
    var first = 0L
    val t0 = System.nanoTime()
    val ans = engine.askStream(a.text, "u1", a.chatId) { tok =>
      if (first == 0L) first = System.nanoTime()
      sb.append(tok)
    }
    val t1 = System.nanoTime()
    val key = hitKey(ans.hits)
    val failure = checkAnswer(a.intent, ans.intent, ans.answer, sb.toString, ans.hits)
      .orElse(firstKey.get(a.text).filter(_ != key)
        .map(_ => "a repeated question got different hits or scores"))
    firstKey.getOrElseUpdate(a.text, key)
    if (digested < DigestAsks) {
      md.update(s"${a.text}|$key\n".getBytes("UTF-8"))
      digested += 1
      if (digested == DigestAsks) answerDigest = md.digest().map("%02x".format(_)).mkString
    }
    Op((t1 - t0) / 1e9, (math.max(first, t0) - t0) / 1e9, failure,
      label = Map("intent" -> ans.intent.name, "repeat" -> a.repeat.toString),
      startNs = t0, firstNs = math.max(first, t0))
  }

  /** The warm-up is block 0 of the stream. */
  private val warmAsks = Inputs.WarmAsks

  def op(i: Int): Op = ask(stream(warmAsks + i))

  /** One block: every intent once, half of them repeats. */
  override def unit: Int = Inputs.Block

  /** Two blocks: every intent once fresh and once repeated, and enough
    * asks that the tail percentile (p56.5 of 24) rests on a dozen of
    * them rather than on the two cheapest.
    */
  override def minOps: Int = 2 * Inputs.Block

  override def laterOps: Int = Ingest.TimedUploads

  override def laterOp(j: Int): Op = ingest.op(j)

  override def finish(): Seq[String] = ingest.finish()

  /** From the start of an upload until a fresh engine cites its note. */
  def visibleP50(ops: Seq[Op], later: Seq[Op]): Double = Stats.median(later.map(_.wall))

  def writeAmp(ops: Seq[Op]): Double = ingest.writeAmp

  /** Repeated questions. */
  def warmP50(ops: Seq[Op]): Double = summary(ops, Nil)("ask.repeat_p50_s")

  override def summary(ops: Seq[Op], later: Seq[Op]): Map[String, Double] = {
    def p50(sel: Op => Boolean) = {
      val xs = ops.filter(sel).map(_.wall)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val byIntent = Intent.all.map(in =>
      s"ask.${in.name}_p50_s" -> p50(_.label.get("intent").contains(in.name))).toMap
    byIntent ++ Map(
      "ask.repeat_p50_s" -> p50(_.label.get("repeat").contains("true")),
      "ask.fresh_p50_s" -> p50(_.label.get("repeat").contains("false")),
      "ask.repeat_share" -> ops.count(_.label.get("repeat").contains("true")).toDouble / ops.size) ++
      (if (later.isEmpty) Map.empty else ingest.summary(later))
  }
}

/** The upload path: seeded requests through Upload.ingestFiles, each
  * followed by a read-your-write ask on a fresh engine over the new
  * table. [[setup]] runs the fixed warm-up ([[Ingest.WarmUploads]]);
  * [[op]] runs the timed requests after it.
  */
final class Ingest(c: Ctx, table: String, pools: SyntheticQueries.Pools) {
  import Workloads._
  import Ingest._

  private val uploadDir = c.dir("uploads")
  private var uploads: IndexedSeq[Inputs.Upload] = _
  private var paths: IndexedSeq[Seq[String]] = _
  private var expectedDocs = 0L
  private var written = 0L
  private var uploaded = 0L
  private val embedder = new Seams.CountingEmbedder(new DeterministicEmbedder())

  /** Returns the warm-up requests' seconds. */
  def setup(): Seq[Double] = {
    expectedDocs = IndexWriter.read(c.spark, table).select("doc_id").distinct().count()
    uploads = Inputs.uploadStream(c.seed, WarmUploads + TimedUploads)
    val incoming = c.work.resolve("incoming")
    paths = uploads.zipWithIndex.map { case (u, r) =>
      val d = Files.createDirectories(incoming.resolve(s"r$r"))
      u.files.map(f => Files.write(d.resolve(f.name), f.bytes).toString)
    }
    // the warm-up skips the read-your-write ask: the ask warm-up beside
    // it warms that path
    val walls = (0 until WarmUploads).map { i =>
      val o = run(i, visibleAsk = false)
      o.failure.foreach(f => throw new IllegalStateException(s"warm-up upload $i: $f"))
      o.wall
    }
    written = 0L
    uploaded = 0L
    walls
  }

  private def run(r: Int, visibleAsk: Boolean = true): Op = {
    val u = uploads(r)
    val startMs = System.currentTimeMillis()
    Seams.ingestEmbedNs.set(0L)
    val t0 = System.nanoTime()
    val res = c.trace.span("ingest.upload") {
      Upload.ingestFiles(c.spark, "u1", paths(r), uploadDir, table, embedder)
    }
    val t1 = System.nanoTime()
    var first = 0L
    val hits = if (!visibleAsk) None else Some(c.trace.span("ingest.visible_ask") {
      val eng = new RassEngine(IndexWriter.read(c.spark, table),
        ner = SyntheticQueries.nerFor(pools), stats = Some(c.stats(table)),
        nowMicros = pinnedClock())
      eng.askStream(Inputs.probeQuestion(u), "u1", "ryw") { _ =>
        if (first == 0L) first = System.nanoTime()
      }.hits
    })
    val t2 = System.nanoTime()
    val embedS = Seams.ingestEmbedNs.get / 1e9
    expectedDocs += u.newIds.size + 1 // the note adds one chunk
    // the check's job is not the op's: file it under its own tag
    val opTag = c.spark.sparkContext.getLocalProperty(SparkTap.TagKey)
    c.tap.foreach(_.tag(s"$opTag-check"))
    val count = c.spark.read.parquet(table).select("doc_id").distinct().count()
    c.tap.foreach(_.tag(opTag))
    val failure = res match {
      case Left(err) => Some(s"upload refused: $err")
      case Right(r) if r.processedFiles != u.files.size =>
        Some(s"${r.processedFiles} of ${u.files.size} files processed")
      case _ if count != expectedDocs => Some(s"$count distinct docs, expected $expectedDocs")
      case _ if hits.exists(!_.exists(_._1.startsWith(u.noteStem))) =>
        Some(s"read-your-write ask did not cite the uploaded note (${hitKey(hits.get)})")
      case _ => None
    }
    val bytes = c.bytesUnder(table, startMs) +
      c.bytesUnder(IngestCommit.statsFieldsPath(table), startMs) +
      c.bytesUnder(IngestCommit.statsTermsPath(table), startMs)
    written += bytes
    uploaded += u.bytes
    val batchRows = res.toOption.map(_.docsIndexed).getOrElse(1L).max(1L)
    Op((t2 - t0) / 1e9, (math.max(first, t1) - t0) / 1e9, failure,
      extra = Map("ingest.embed_s" -> embedS,
        "ingest.rows_rewritten_per_row" -> count.toDouble / batchRows,
        "ingest.written_mb" -> bytes / 1e6,
        "ingest.visible_ask_s" -> (t2 - t1) / 1e9))
  }

  def op(j: Int): Op = run(WarmUploads + j)

  /** Bytes written under the table and its stats per uploaded byte. */
  def writeAmp: Double = written.toDouble / math.max(1L, uploaded)

  /** The materialized stats equal a rebuild over the final table. */
  def finish(): Seq[String] = {
    val (wantF, wantT) = CorpusStats.build(c.spark.read.parquet(table), DocSchema.scoredFields)
    val (haveF, haveT) = c.stats(table)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    Seq(
      Option.when(rows(haveF) != rows(wantF.select(haveF.columns.map(wantF(_)): _*)))(
        "materialized field stats differ from a rebuild"),
      Option.when(rows(haveT) != rows(wantT.select(haveT.columns.map(wantT(_)): _*)))(
        "materialized term stats differ from a rebuild")).flatten
  }

  def summary(ops: Seq[Op]): Map[String, Double] =
    Seq("ingest.embed_s", "ingest.rows_rewritten_per_row", "ingest.written_mb",
      "ingest.visible_ask_s").map(k => k -> ops.map(_.extra.getOrElse(k, 0.0)).sum / ops.size).toMap
}

object Ingest {
  /** Upload requests of the warm-up, fixed so both sides of a
    * comparison match.
    */
  val WarmUploads = 1
  /** Upload requests timed after the asks. */
  val TimedUploads = 1
}

/** `release`: one cold Release.build per op on an emptied private
  * artifact root with the family memos dropped, manifests materialized;
  * then [[ReleaseWorkload.WarmBuilds]] memo-cold, disk-warm builds,
  * the restart case.
  *
  * There is no warm-up build: a release runs as a job in a fresh
  * process, so the first build in the process is the one users wait
  * for, JIT and codegen warm-up included (and one warm-up build would
  * double the run's length).
  */
final class ReleaseWorkload(c: Ctx, artifactRoot: String) extends Workload {
  import ReleaseWorkload._

  private val src = c.dir("src")
  private var sourceBytes = 1L

  def setup(): Unit = {
    c.phase("sources")(c.writeSources(src, Inputs.tables(c.seed)))
    sourceBytes = c.bytesUnder(src)
  }

  private def dropMemos(): Unit = {
    Dedup.invalidateCaches()
    TextAnalysis.invalidateCaches()
    Similarity.invalidateCaches()
    Export.invalidateCaches()
  }

  /** Every artifact's `_fingerprint`, by path: content and mtime. */
  private def fingerprints(): Map[String, String] = {
    val root = java.nio.file.Paths.get(artifactRoot)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.getFileName.toString == "_fingerprint")
        .map(p => p.toString -> (new String(Files.readAllBytes(p), "UTF-8") + "@" +
          Files.getLastModifiedTime(p).toMillis)).toMap
      finally s.close()
    }
  }

  /** One build and its three manifests collected in order; returns
    * their rows and the time the first was in hand. Traced, the same
    * calls Release.build makes ([[ReleaseSteps]]), in its order, each
    * under its own span, a manifest's span including its collection.
    */
  private def build(traced: Boolean): (Seq[Seq[String]], Long) =
    if (!traced) {
      val m = Release.build(c.spark, src)
      val datasheet = rows(m.datasheet)
      val first = System.nanoTime()
      (Seq(datasheet, rows(m.checksums), rows(m.provenance)), first)
    } else {
      ReleaseSteps.artifacts.foreach { case (name, read) =>
        c.trace.span(s"release.$name")(read(c.spark, src))
      }
      val ms = ReleaseSteps.manifests.map { case (name, manifest) =>
        c.trace.span(s"release.$name")(rows(manifest(c.spark, src))) -> System.nanoTime()
      }
      (ms.map(_._1), ms.head._2)
    }

  private def run(traced: Boolean): Op = {
    val root = java.nio.file.Paths.get(artifactRoot)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
    dropMemos()
    val t0 = System.nanoTime()
    val (cold, first) = build(traced)
    val t1 = System.nanoTime()
    val coldDigest = digest(cold)
    val artifactBytes = c.bytesUnder(artifactRoot)
    // the restart case, timed WarmBuilds times: memos dropped,
    // artifacts on disk; none may rebuild or ship anything different
    val fpBefore = fingerprints()
    val opTag = c.spark.sparkContext.getLocalProperty(SparkTap.TagKey)
    c.tap.foreach(_.tag(s"$opTag-warm"))
    val warm = (1 to WarmBuilds).map { _ =>
      dropMemos()
      val t2 = System.nanoTime()
      val d = digest(build(traced = false)._1)
      ((System.nanoTime() - t2) / 1e9, d)
    }
    c.tap.foreach(_.tag(opTag))
    val warmJobs = c.tap.map { t => t.drain(); t.of(s"$opTag-warm").jobs / WarmBuilds }.getOrElse(0)
    val fpAfter = fingerprints()
    val failure = checkBuilds(coldDigest, warm.map(_._2), fpBefore, fpAfter)
    Op((t1 - t0) / 1e9, (first - t0) / 1e9, failure,
      extra = Map("warm_s" -> Stats.median(warm.map(_._1)),
        "write_amp" -> artifactBytes.toDouble / sourceBytes,
        "release.warm_jobs" -> warmJobs.toDouble,
        "release.artifact_mb" -> artifactBytes / 1e6))
  }

  def op(i: Int): Op = run(c.trace.enabled)

  /** The manifests are built when the op ends. */
  def visibleP50(ops: Seq[Op], later: Seq[Op]): Double = Stats.median(ops.map(_.wall))

  /** Artifact bytes one cold build writes per source byte. */
  def writeAmp(ops: Seq[Op]): Double = mean(ops, "write_amp")

  /** Memo-cold, disk-warm rebuilds over the unchanged corpus. */
  def warmP50(ops: Seq[Op]): Double = Stats.median(ops.map(_.extra.getOrElse("warm_s", 0.0)))

  override def summary(ops: Seq[Op], later: Seq[Op]): Map[String, Double] = Map(
    "release.warm_jobs" -> mean(ops, "release.warm_jobs"),
    "release.artifact_mb" -> mean(ops, "release.artifact_mb"))

  private def mean(ops: Seq[Op], k: String): Double =
    ops.map(_.extra.getOrElse(k, 0.0)).sum / math.max(1, ops.size)
}

object ReleaseWorkload {

  /** Disk-warm builds per op; `warm_p50_s` is their median. */
  val WarmBuilds = 1

  /** A manifest's rows, rendered and sorted. */
  def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  /** SHA-256 over the three manifests' sorted rows. */
  def digest(manifests: Seq[Seq[String]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    manifests.foreach { rs =>
      rs.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
      md.update("--\n".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The release checks: every warm build ships what the cold one did,
    * and none rewrites an artifact (every `_fingerprint` keeps its
    * content and modification time).
    */
  def checkBuilds(coldDigest: String, warmDigests: Seq[String],
      fpBefore: Map[String, String], fpAfter: Map[String, String]): Option[String] =
    if (warmDigests.exists(_ != coldDigest)) Some("warm manifests differ from cold")
    else if (fpBefore != fpAfter) Some("the warm build changed an artifact fingerprint")
    else if (fpBefore.isEmpty) Some("no artifacts were published")
    else None
}
