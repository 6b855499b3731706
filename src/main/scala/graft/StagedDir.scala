package graft

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The one protocol behind every durable parquet directory: the
  * document table and its two BM25 stats tables
  * ([[graft.rass.ingest.IngestCommit]]), the chat table
  * ([[graft.rass.ParquetChatStore]]) and the release artifacts
  * ([[graft.pipeline.ArtifactStore]]).
  *
  *   - A writer stages the whole new directory at [[staging]]`(p)` and
  *     promotes it with [[swapIn]], which retires the old one through
  *     `p_old`, so a crash at any point leaves the old or the new
  *     directory recoverable.
  *   - The next writer runs [[recover]] before it writes. A reader
  *     repairs nothing: it reads [[live]]`(p)`, which is `p_old` in the
  *     window a crash between swapIn's renames leaves.
  *   - Writers of one path serialize on [[locked]] within this driver:
  *     the staging and `_old` paths are fixed per path, so two
  *     interleaved writers would delete each other's stagings.
  *     Cross-driver exclusion is the deployment's contract (one writer
  *     owns a path), the same one Structured Streaming's checkpoint
  *     directory imposes on the auto-ingest path.
  *   - A reader scans a [[snapshot]]: a race-checked listing served as
  *     the scan's file index, so a concurrent swap fails the read
  *     loudly ([[pathGone]]) instead of serving part of a directory,
  *     and building the frame runs no listing or schema-inference job.
  *   - A directory that takes many small batches (the document table)
  *     is committed by PARTS, copy-on-write at file granularity, so a
  *     commit rewrites the files it touches and no others:
  *     [[commitParts]] takes the new files staged at `staging(p)` in
  *     `p`'s own layout, the files of `p` they supersede, and the
  *     complete stagings of the commit's other tables. Its commit point
  *     is one marker file in `staging(p)`, written under a hidden name
  *     and renamed, that holds the delete list. Past the marker, the
  *     commit rolls forward: the staged files move into place, the
  *     listed files are deleted, the other stagings swap in, and the
  *     staging is removed. Every step is idempotent, so
  *     [[recoverParts]] repeats them after a kill; with no marker it
  *     discards the stagings, as [[recover]] does.
  *   - A writer that adds single files to a live directory (the chat
  *     store) writes each under a `_`-prefixed name, which every
  *     listing skips, and [[publish]]es it by rename; [[sweep]] deletes
  *     what a killed writer left hidden.
  */
private[graft] object StagedDir {

  def staging(p: String): String = p + "_staging"

  private def retired(p: String): String = p + "_old"

  /** The path's OWN filesystem, not the default one: a path may live on
    * a different scheme (s3a://, hdfs://) than fs.defaultFS.
    */
  def fs(spark: SparkSession, p: String): FileSystem =
    new HPath(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Promote `staging(p)` to `p`, retiring the old directory via `_old`
    * (worst case it sits at `_old` until the next writer's [[recover]]).
    */
  def swapIn(fs: FileSystem, p: String): Unit = {
    val (stage, target, old) =
      (new HPath(staging(p)), new HPath(p), new HPath(retired(p)))
    fs.delete(old, true)
    if (fs.exists(target)) fs.rename(target, old)
    fs.rename(stage, target)
    fs.delete(old, true)
  }

  /** Crash recovery over a set of paths that one commit stages together
    * and then swaps in order, the first path first:
    *   1. a kill between the two renames of a swap leaves the previous
    *      directory at `_old`: restore it;
    *   2. every staging is fully written before the FIRST swap, so a
    *      complete staging whose first-path staging is already gone
    *      means the crash hit after the first path was promoted: finish
    *      promoting it. Any other leftover staging predates the swaps:
    *      discard it and let the writer recompute.
    * With one path, a leftover staging is always its own first-path
    * staging, so it is discarded.
    */
  def recover(fs: FileSystem, paths: Seq[String]): Unit = {
    restoreRetired(fs, paths)
    val firstStagingLeft = fs.exists(new HPath(staging(paths.head)))
    paths.foreach { p =>
      val stage = new HPath(staging(p))
      if (fs.exists(stage)) {
        val complete = fs.exists(new HPath(stage, "_SUCCESS"))
        if (!firstStagingLeft && complete) swapIn(fs, p)
        else fs.delete(stage, true)
      }
    }
  }

  /** Step 1 of [[recover]]: a path a kill left at `_old` is restored. */
  private def restoreRetired(fs: FileSystem, paths: Seq[String]): Unit =
    paths.foreach { p =>
      if (!fs.exists(new HPath(p)) && fs.exists(new HPath(retired(p))))
        fs.rename(new HPath(retired(p)), new HPath(p))
    }

  /** The commit point of a part commit into `p`: it lists, one per
    * line and relative to `p`, the files the staged parts supersede.
    */
  private def marker(p: String): HPath = new HPath(staging(p), "_COMMITTED")

  /** Commit the parts staged at `staging(p)` into `p`, superseding
    * `deletes` (files of `p`), and promote the complete staging of
    * each of `others`: write the marker, then roll forward. The parts
    * are staged in `p`'s layout (`staging(p)/user_id=u/part-…`), so a
    * part moves to the same relative path under `p`.
    */
  def commitParts(fs: FileSystem, p: String, deletes: Seq[HPath], others: Seq[String]): Unit = {
    mark(fs, p, deletes)
    rollForward(fs, p, others)
  }

  /** Write the marker of a part commit into `p`: its content under a
    * hidden name first, then one rename, so the marker is whole or
    * absent.
    */
  private[graft] def mark(fs: FileSystem, p: String, deletes: Seq[HPath]): Unit = {
    val root = fs.makeQualified(new HPath(p)).toString + "/"
    val lines = deletes.map { d =>
      val abs = fs.makeQualified(d).toString
      require(abs.startsWith(root), s"$d is not a file of $p")
      abs.stripPrefix(root)
    }
    val pending = new HPath(staging(p), "_COMMITTED.pending")
    val out = fs.create(pending, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    if (!fs.rename(pending, marker(p)))
      throw new java.io.IOException(s"could not write the commit marker of $p")
  }

  /** Finish a marked part commit; safe to repeat from any point. */
  private def rollForward(fs: FileSystem, p: String, others: Seq[String]): Unit = {
    val (root, stage) = (new HPath(p), new HPath(staging(p)))
    val stageRoot = fs.makeQualified(stage).toString + "/"
    dataFiles(fs, stage).foreach { f =>
      val dest = new HPath(root, f.getPath.toString.stripPrefix(stageRoot))
      fs.mkdirs(dest.getParent)
      if (!fs.rename(f.getPath, dest))
        throw new java.io.IOException(s"could not move ${f.getPath} to $dest")
    }
    val in = fs.open(marker(p))
    val deletes =
      try new String(in.readAllBytes(), "UTF-8").linesIterator.filter(_.nonEmpty).toList
      finally in.close()
    deletes.foreach(rel => fs.delete(new HPath(root, rel), false))
    others.foreach(o => if (fs.exists(new HPath(staging(o)))) swapIn(fs, o))
    fs.delete(stage, true)
  }

  /** Crash recovery for a part-committed `p` and the `others` its
    * commits stage beside it: a marked commit is rolled forward;
    * otherwise [[recover]] runs over `p +: others`, which discards
    * every staging while `staging(p)` exists (a commit stages its
    * parts first and removes their staging last) and keeps its meaning
    * for a directory swapped whole by an earlier writer.
    */
  def recoverParts(fs: FileSystem, p: String, others: Seq[String]): Unit =
    if (fs.exists(marker(p))) {
      restoreRetired(fs, p +: others)
      rollForward(fs, p, others)
    } else recover(fs, p +: others)

  /** Names every listing skips, Spark's included: `_SUCCESS`, a marker,
    * a part still hidden, `.crc` checksums.
    */
  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** The data files under `dir`, in partition directories too; none
    * when `dir` is absent.
    */
  def dataFiles(fs: FileSystem, dir: HPath): Seq[FileStatus] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filterNot(s => hidden(s.getPath.getName))
      .sortBy(_.getPath.toString)
      .flatMap(s => if (s.isDirectory) dataFiles(fs, s.getPath) else Seq(s))

  /** Rows of a parquet file, from its footer, read on the driver. */
  def rows(spark: SparkSession, file: FileStatus): Long = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration))
    try reader.getRecordCount finally reader.close()
  }

  /** Publish a file written under a hidden name in a live directory:
    * one rename to `name`, so listings see it whole or not at all.
    */
  def publish(fs: FileSystem, hiddenFile: HPath, name: String): Unit =
    if (!fs.rename(hiddenFile, new HPath(hiddenFile.getParent, name)))
      throw new java.io.IOException(s"could not publish $hiddenFile")

  /** Delete the files of `dir` named `prefix…`: files a killed writer
    * left hidden before their [[publish]].
    */
  def sweep(fs: FileSystem, dir: HPath, prefix: String): Unit =
    if (fs.exists(dir))
      fs.listStatus(dir).filter(_.getPath.getName.startsWith(prefix))
        .foreach(s => fs.delete(s.getPath, false))

  /** `p`, or `p_old` when a crash between swapIn's renames left the
    * data there. Read-only: the repair is the next writer's.
    */
  def live(fs: FileSystem, p: String): String =
    if (!fs.exists(new HPath(p)) && fs.exists(new HPath(retired(p)))) retired(p)
    else p

  /** One monitor per path. */
  private val locks = scala.collection.concurrent.TrieMap.empty[String, Object]

  def locked[T](p: String)(body: => T): T =
    locks.getOrElseUpdate(p, new Object).synchronized(body)

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
  def listComplete(fs: FileSystem, dir: HPath): Array[FileStatus] = {
    val statuses = fs.listStatus(dir)
    if (fs.getUri.getScheme == "file") {
      val names = Option(new java.io.File(dir.toUri.getPath).list())
        .getOrElse(throw new FileNotFoundException(
          s"$dir vanished mid-list (rename race)"))
      // compare dot-filtered NAME SETS, not raw counts: the checksummed
      // LocalFileSystem hides `.crc` entries from listStatus that the
      // raw enumeration still sees, and no data file is dot-prefixed
      def visible(ns: Iterable[String]) = ns.filterNot(_.startsWith(".")).toSet
      val raw = visible(names)
      val statted = visible(statuses.map(_.getPath.getName))
      if (raw != statted)
        throw new FileNotFoundException(
          s"listing of $dir truncated by a concurrent rename: stat saw " +
            s"${statted.size} of ${raw.size} entries")
    }
    statuses
  }

  /** The data files of `dir`, snapshotted OURSELVES: Spark's file-index
    * listing (InMemoryFileIndex/HadoopFSUtils) logs a path that vanishes
    * mid-list ("Was it deleted very recently?") and SKIPS it, so a swap
    * racing it could silently serve part of a directory. The listing
    * goes through [[listComplete]] and skips `_`/`.` names, as Spark's
    * own listing does (`_SUCCESS`, `_fingerprint`, `.crc`, hidden
    * parts). Two more shapes are the race, not data, and throw the
    * FileNotFoundException [[pathGone]] classifies:
    *   - no data file: a committed directory always holds one, even
    *     after a 0-row write;
    *   - a zero-length file: RawLocalFileSystem can win its exists()
    *     probe and then lose the File.length() call to the rename, and
    *     java.io.File.length() reports a MISSING file as 0. A committed
    *     parquet file is never 0 bytes (writers rename in whole files),
    *     and the file index would plan no split for it.
    */
  def parts(fs: FileSystem, dir: HPath): Array[FileStatus] = {
    val found = listComplete(fs, dir).filterNot(s => hidden(s.getPath.getName))
    if (found.isEmpty || found.exists(_.getLen == 0L))
      throw new FileNotFoundException(
        s"no complete listing of $dir: ${found.length} files, " +
          s"${found.count(_.getLen == 0L)} of zero length (rename race)")
    found.sortBy(_.getPath.toString)
  }

  /** A scan of exactly `parts` with the given schema: the file index
    * serves `parts` as the listing of `dir`, so building the frame lists
    * nothing and infers nothing — the scan's own job is the only one.
    * Parts in `key=value` directories under `dir` give `schema`'s `key`
    * column from the directory name, as a read of `dir` would.
    */
  def scan(spark: SparkSession, dir: HPath, parts: Array[FileStatus],
      schema: StructType): DataFrame = {
    val listing = new FileStatusCache {
      override def getLeafFiles(p: HPath) = Some(parts)
      override def putLeafFiles(p: HPath, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, Seq(dir), Map.empty, Some(schema),
      fileStatusCache = listing)
    val partitionCols = index.partitionSchema.fieldNames.toSet
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      StructType(schema.filterNot(f => partitionCols(f.name))),
      None, new ParquetFileFormat(), Map.empty)(spark))
  }

  /** [[scan]] over a fresh [[parts]] listing of `dir`. Without a given
    * schema, the schema is one part's, read from its footer on the
    * driver ([[schemaOf]]).
    */
  def read(spark: SparkSession, dir: String, schema: Option[StructType] = None): DataFrame = {
    val d = new HPath(dir)
    val found = parts(fs(spark, dir), d)
    scan(spark, d, found, schema.getOrElse(footerSchema(spark, found.head)))
  }

  /** [[read]], or None when a concurrent swap raced it: the caller
    * treats the directory as not published.
    */
  def snapshot(spark: SparkSession, dir: String): Option[DataFrame] =
    try Some(read(spark, dir))
    catch {
      case t: Throwable if pathGone(t) => None
      case _: java.io.IOException => None
    }

  /** The schema `spark.read.parquet(path)` infers, for a parquet file
    * or for a directory (from its first data file), read from one
    * footer on the driver: no job runs.
    */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val (pfs, p) = (fs(spark, path), new HPath(path))
    val status = pfs.getFileStatus(p)
    footerSchema(spark, if (status.isFile) status else parts(pfs, p).head)
  }

  /** What Spark's schema inference reads from a footer: the Spark
    * schema the writer stored, else the parquet schema converted under
    * the session's SQL conf (so `nanosAsLong` and the other timestamp
    * and binary flags apply); made nullable the way Spark's file
    * sources make an inferred schema.
    */
  private def footerSchema(spark: SparkSession, part: FileStatus): StructType = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(part, spark.sparkContext.hadoopConfiguration))
    val footer = try reader.getFooter finally reader.close()
    nullable(ParquetFileFormat.readSchemaFromFooter(new Footer(part.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))).asInstanceOf[StructType]
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

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
  def pathGone(t: Throwable): Boolean =
    if (t == null) false
    else t match {
      case _: FileNotFoundException => true
      // Hadoop's vectored-read path (RawLocalFileSystem.readVectored)
      // surfaces a rename-during-read as NIO's NoSuchFileException —
      // NOT a java.io.FileNotFoundException — wrapped in a
      // FAILED_READ_FILE.NO_HINT SparkException whose message carries
      // no recognizable error class. Matching the NIO type in the
      // cause chain is the only reliable signal.
      case _: java.nio.file.NoSuchFileException => true
      // Hadoop's FileUtil.list throws NIO AccessDeniedException
      // whenever File.list() returns null — which a directory
      // VANISHING mid-list (a swap's rename winning the race during
      // the scan's file listing) also produces, misreported as
      // "Permission denied". Probe the named path: it is the rename
      // race when the path is absent by probe time OR back and
      // LISTABLE (the flip-back can land before the probe) — a genuine
      // permissions problem leaves the path present and still
      // unlistable on every retry, and propagates. A path string the
      // local FS can't even parse is likewise not "gone".
      case e: java.nio.file.AccessDeniedException
        if e.getFile != null && goneOrListable(e.getFile) => true
      // Hadoop's FileUtil.list has a second misreport shape for the
      // same File.list()==null condition: a bare IOException "Invalid
      // directory or I/O error occurred for dir: <path>". Same rule as
      // AccessDenied above.
      case e: java.io.IOException
        if e.getMessage != null &&
          e.getMessage.startsWith("Invalid directory or I/O error occurred for dir: ") &&
          goneOrListable(e.getMessage.stripPrefix(
            "Invalid directory or I/O error occurred for dir: ")) => true
      // scan-time error classes: FAILED_READ_FILE.FILE_NOT_EXIST (the
      // listed file was renamed away before the task opened it)
      case e if e.getMessage != null &&
        (e.getMessage.contains("FILE_NOT_FOUND") ||
          e.getMessage.contains("FILE_NOT_EXIST")) => true
      case e => pathGone(e.getCause)
    }
}
