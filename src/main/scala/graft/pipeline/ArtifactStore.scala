package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Shared mechanics for durable, fingerprint-guarded parquet artifacts.
  * Every artifact goes through [[DurableArtifact]], the one caller of
  * [[findValid]] and [[publish]]; the protocol is:
  *
  *   1. compute a fingerprint of the SOURCE table's file listing plus
  *      every parameter the artifact depends on — BEFORE the build reads
  *      any source data, so an artifact trained on one snapshot can
  *      never be stamped with a later snapshot's listing (the write-side
  *      TOCTOU: if the source is regenerated mid-build, the stored
  *      pre-build fingerprint no longer matches the fresh listing and
  *      every reader invalidates instead of serving the stale build);
  *   2. stage the parquet + `_fingerprint` fully, then promote
  *      atomically via the staging/_old swap
  *      ([[graft.rass.ingest.IngestCommit.swapIn]]) — a reader sees the
  *      old artifact or the new one, never a half-written directory;
  *   3. on read, accept `path` or `path_old` (crash recovery: a kill
  *      between swapIn's renames leaves the previous artifact at
  *      `_old`; repair is the writer's job) only when the stored
  *      fingerprint matches the expected one recomputed from the
  *      current source listing.
  *
  * Only the mechanics live here; each artifact keeps its own version
  * constant and parameter string where it is declared, so bumping one
  * artifact's semantics never invalidates the others (unless its
  * fingerprint chains the bumped one's).
  */
private[graft] object ArtifactStore {

  private type HPath = org.apache.hadoop.fs.Path

  /** Durable home for artifacts derived from a (possibly read-only)
    * source dir — artifacts cannot live beside the inputs the way the
    * BM25 stats tables live beside their document table
    * ([[graft.rass.ingest.IngestCommit.statsFieldsPath]]), because the
    * benchmark corpora are mounted read-only. One fixed root, one
    * subdirectory per source dir (keyed by the dir's md5 so unrelated
    * corpora never collide), overridable for deployments that want the
    * artifacts on the same filesystem as the warehouse.
    *
    * The default root lives under the invoking user's HOME, not a
    * world-writable tmpdir: the artifact's `_fingerprint` is derived
    * from world-readable file metadata, so under a shared /tmp root any
    * local user could pre-plant a forged-but-fingerprint-valid artifact
    * that would then silently drive the exports (and two users on one
    * box would collide on the shared root). HOME is owned by — and on
    * any sane setup writable only by — the user running the pipeline.
    */
  def artifactRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_ARTIFACTS",
      sys.props.get("user.home").filter(_.trim.nonEmpty)
        .map(_ + "/.graft-artifacts")
        .getOrElse(sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-artifacts"))

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Metadata-only listing (name:length:mtime per file, sorted) of a
    * source table's directory — a driver-side listStatus, no data scan.
    * "absent" when the path does not exist, so a fingerprint over a
    * missing source still compares deterministically.
    */
  def sourceListing(spark: SparkSession, path: String): String = {
    val src = new HPath(path)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(src)) "absent"
    else fs.listStatus(src).filterNot(_.getPath.getName.startsWith("_"))
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("\n")
  }

  /** The first of `path`/`path_old` that is published (has a
    * `_fingerprint`), if its stored fingerprint matches `expected`.
    * Like the pre-refactor readers, only the first published directory
    * is consulted: `_old` is crash recovery, not a fallback cache for
    * a stale primary. The exists/open pair is not atomic against a
    * republish in ANOTHER driver (swapIn deletes `_old` after a clean
    * swap), so a vanished fingerprint mid-read is treated as "not
    * valid" — the caller falls back to a rebuild — rather than a crash.
    */
  def findValid(spark: SparkSession, path: String,
      expected: String): Option[String] = {
    val fs = new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(path, path + "_old")
      .find(p => fs.exists(new HPath(p + "/_fingerprint")))
      .filter { p =>
        try {
          val in = fs.open(new HPath(p + "/_fingerprint"))
          val stored =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
            finally in.close()
          stored == expected
        } catch { case _: java.io.IOException => false }
      }
  }

  /** listStatus that REFUSES to return a silently-truncated listing.
    * RawLocalFileSystem.listStatus stats each enumerated name
    * individually and SWALLOWS per-child FileNotFoundException ("ignore
    * the files not found since the dir list may have changed") — so a
    * directory renamed away and back between the name enumeration and
    * one entry's stat yields a PARTIAL array with no error. Cross-check
    * the stat count against a raw name listing, which is
    * complete-or-null by construction (readdir walks the open directory
    * fd and entries never change — only the dir's NAME does), and
    * convert truncation into the FileNotFoundException it really is so
    * callers retry/rebuild. Local FS only: remote listings are atomic
    * server-side, and the raw java.io.File probe only exists there.
    */
  private[graft] def listComplete(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: HPath): Array[org.apache.hadoop.fs.FileStatus] = {
    val statuses = fs.listStatus(dir)
    if (fs.getUri.getScheme == "file") {
      val names = Option(new java.io.File(dir.toUri.getPath).list())
        .getOrElse(throw new java.io.FileNotFoundException(
          s"$dir vanished mid-list (rename race)"))
      // compare dot-filtered NAME SETS, not raw counts: the checksummed
      // LocalFileSystem hides `.crc` entries from listStatus that the
      // raw enumeration still sees, and no data file is dot-prefixed
      def visible(ns: Iterable[String]) = ns.filterNot(_.startsWith(".")).toSet
      val raw = visible(names)
      val statted = visible(statuses.map(_.getPath.getName))
      if (raw != statted)
        throw new java.io.FileNotFoundException(
          s"listing of $dir truncated by a concurrent rename: stat saw " +
            s"${statted.size} of ${raw.size} entries")
    }
    statuses
  }

  /** Read a published parquet directory as a CONSISTENT snapshot, or
    * None if a concurrent republish raced the read. Spark's file-index
    * listing degrades under a rename race two silent ways (the same
    * windows [[graft.rass.ParquetChatStore]] closes for chat history):
    * a file that vanishes mid-list is logged and SKIPPED, and a stat
    * that loses the length call to the rename records the file at
    * length 0 — which plans zero scan splits. Either would serve a
    * PARTIAL artifact (a truncated d06 drop list silently widens an
    * export). So: snapshot the listing ourselves, reject zero-length
    * parts, scan the explicit file set, and cross-check the relation's
    * own file index before trusting the frame. None means "treat the
    * artifact as not published" — callers already rebuild on that.
    */
  def consistentParquet(spark: SparkSession, dir: String):
      Option[org.apache.spark.sql.DataFrame] = {
    val d = new HPath(dir)
    try {
      val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val parts = listComplete(fs, d)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.toString)
      // a published artifact always carries >=1 part (even a 0-row
      // write does), and a committed part is never 0 bytes — both
      // shapes only appear mid-republish
      if (parts.isEmpty || parts.exists(_.getLen == 0L)) None
      else {
        val df = spark.read.parquet(parts.map(_.getPath.toString).toSeq: _*)
        val indexedLens = df.queryExecution.analyzed.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.listFiles(Nil, Nil).flatMap(_.files.map(_.getLen))
              case _ => Nil
            }
        }.flatten
        if (indexedLens.length != parts.length || indexedLens.contains(0L)) None
        else Some(df)
      }
    } catch {
      // anything in the failure's cause chain that means "the path we
      // resolved is no longer there" — the dir renamed away mid-probe,
      // a footer read racing the swap, FileUtil.list's misreports of
      // File.list()==null — classified by the same predicate the chat
      // store retries on; real errors (corrupt data, permissions on a
      // still-present path) propagate
      case t: Throwable if graft.rass.ParquetChatStore.pathGone(t) => None
      case _: java.io.IOException => None
      case e: org.apache.spark.sql.AnalysisException
        if e.getMessage != null && (e.getMessage.contains("PATH_NOT_FOUND") ||
          e.getMessage.contains("UNABLE_TO_INFER_SCHEMA")) => None
    }
  }

  /** One monitor per artifact path (same hazard and same pattern as
    * [[graft.rass.ingest.IngestCommit]]'s commitLocks): the staging and
    * `_old` paths are FIXED per artifact, so two concurrent builders of
    * the same artifact — e.g. a rebuild racing a cold memo miss, which
    * publishes OUTSIDE the Memo monitor — would interleave their
    * delete/renames inside swapIn without this lock. Cross-driver
    * exclusion remains the deployment's contract.
    */
  private val locks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Telemetry: publish() promotions this session, keyed by artifact
    * path. The Release orchestrator's specs read this to prove a warm
    * second build performs ZERO rebuilds (no new events) and that a
    * bumped upstream constant rebuilds exactly its downstream cone
    * (the event-key delta IS the cone).
    */
  private val publishEventCounts =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  private[graft] def publishEvents: Map[String, Long] =
    publishEventCounts.toMap

  /** Publish an artifact: `write` stages everything under the staging
    * directory it is handed, then the `_fingerprint` is stamped with
    * the CALLER-CAPTURED (pre-build) fingerprint and the whole
    * directory promotes atomically.
    */
  def publish(spark: SparkSession, path: String, fingerprint: String)(
      write: String => Unit): Unit =
    locks.getOrElseUpdate(path, new Object).synchronized {
      val fs = new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      write(path + "_staging")
      val out = fs.create(new HPath(path + "_staging/_fingerprint"), true)
      try out.write(fingerprint.getBytes("UTF-8"))
      finally out.close()
      graft.rass.ingest.IngestCommit.swapIn(fs, path)
      publishEventCounts.updateWith(path)(c => Some(c.getOrElse(0L) + 1L))
    }
}
