package graft.rass.ingest

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, StagedDir}
import graft.rass.{CorpusStats, DeterministicEmbedder, DocSchema}

/** The commit writes the batch, not the corpus: the files it leaves
  * alone keep their inode and mtime, the size-tier fold bounds the
  * files per partition, and each point of the part commit (staged,
  * marked, moved) recovers to a table whose stats equal a rebuild.
  */
class PartCommitSpec extends SparkSpec {

  private val emb = new DeterministicEmbedder(8)

  private lazy val bundleJson: String = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/fixtures/bundle.json"))
    try src.mkString finally src.close()
  }

  private def parsed(json: String, user: String = "u1"): DataFrame = {
    import spark.implicits._
    FhirBundleParser.parseBundles(Seq(("/f/b.json", json)).toDS(), user)
  }

  /** The fixture's documents, `doc_id`s suffixed with `tag`. */
  private def tagged(tag: String, json: String = bundleJson, user: String = "u1"): DataFrame =
    parsed(json, user).withColumn("doc_id", concat(col("doc_id"), lit(tag)))

  private def fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def newTable(name: String): String =
    Files.createTempDirectory(name).resolve("tab").toString

  /** The parquet files under `dir`, partition directories included. */
  private def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(p => p.toString.endsWith(".parquet") &&
      !p.getFileName.toString.startsWith(".")).toList.sortBy(_.toString)
    finally s.close()
  }

  private def statsMatchRebuild(tab: String): Unit = {
    val (wantF, wantT) =
      CorpusStats.build(spark.read.parquet(tab), DocSchema.scoredFields)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    def same(have: DataFrame, want: DataFrame) =
      rows(have) == rows(want.select(have.columns.map(want(_)).toIndexedSeq: _*))
    assert(same(spark.read.parquet(IngestCommit.statsFieldsPath(tab)), wantF))
    assert(same(spark.read.parquet(IngestCommit.statsTermsPath(tab)), wantT))
  }

  private def noDuplicateDocs(tab: String): Unit = {
    val ids = spark.read.parquet(tab).select("doc_id")
    assert(ids.count() == ids.distinct().count(), "a superseded row is still visible")
  }

  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** The table's rows in DocSchema order, as sorted strings. */
  private def tableRows(docs: DataFrame): Seq[String] =
    docs.select(DocSchema.schema.fieldNames.map(col).toIndexedSeq: _*).collect()
      .map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
        case v => String.valueOf(v)
      }.mkString("|")).sorted.toSeq

  test("a 3-doc batch replacing one doc rewrites only the file that held it") {
    val tab = newTable("cow")
    // ≥ 1,000 rows of 80 patients, range-written over several files
    val big = tagged("").crossJoin(spark.range(80).withColumnRenamed("id", "k"))
      .withColumn("doc_id", concat(col("doc_id"), lit("-"), col("k")))
      .withColumn("patientId", concat(lit("pat"), lpad(col("k").cast("string"), 3, "0")))
      .drop("k")
    withConfs("spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1kb",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1kb") {
      IngestCommit.commit(spark, tab, big, emb)
    }
    val before = dataFiles(tab)
    assert(before.size >= 4, s"the table is not spread over files: $before")
    assert(spark.read.parquet(tab).count() >= 1000)

    val target = "-17"
    val replacedId = spark.read.parquet(tab).select("doc_id").as[String](
      org.apache.spark.sql.Encoders.STRING).collect().filter(_.endsWith(target)).min
    val holder = spark.read.parquet(tab).filter(col("doc_id") === replacedId)
      .select(col("_metadata.file_path")).head().getString(0)
    val holderPath = Paths.get(new java.net.URI(holder))
    def stamp(p: java.nio.file.Path) =
      (Files.getAttribute(p, "unix:ino"), Files.getLastModifiedTime(p).toMillis)
    val stamps = before.filterNot(_ == holderPath).map(p => p -> stamp(p)).toMap
    val holderRows = spark.read.parquet(holderPath.toString).count()

    // one replaced doc, two new ones
    val one = spark.read.parquet(tab).filter(col("doc_id") === replacedId)
      .limit(1).collect().head
    val replacement = tagged("").filter(col("doc_id") === replacedId.stripSuffix(target))
      .withColumn("doc_id", lit(replacedId)).withColumn("patientId", lit(one.getAs[String]("patientId")))
      .withColumn("unstructuredText", lit("a fresh note about hunger"))
    val batch = replacement.unionByName(tagged("-new").limit(2))
    assert(batch.count() == 3)
    Thread.sleep(20) // an mtime rewrite must show
    IngestCommit.commit(spark, tab, batch, emb)

    val after = dataFiles(tab)
    stamps.foreach { case (p, s) =>
      assert(Files.exists(p), s"an untouched file was deleted: $p")
      assert(stamp(p) == s, s"an untouched file was rewritten: $p")
    }
    assert(!Files.exists(holderPath), "the superseded file is still in the table")
    val written = after.filterNot(before.contains)
    val writtenRows = written.map(p => spark.read.parquet(p.toString).count()).sum
    assert(writtenRows <= 3 + (holderRows - 1), s"wrote $writtenRows rows")
    noDuplicateDocs(tab)
    assert(spark.read.parquet(tab).filter(col("doc_id") === replacedId)
      .select("unstructuredText").head().getString(0) == "a fresh note about hunger")
    statsMatchRebuild(tab)
  }

  test("16 one-doc commits keep a partition at ≤ 5 files and equal the upsert fold") {
    val tab = newTable("fold")
    val first = parsed(bundleJson)
    val ids = first.select("doc_id").distinct().collect().map(_.getString(0)).sorted
    def doc(i: Int) = ids(i % ids.length) + s"-n$i"
    // new documents, with every fourth batch re-uploading the one before
    val batches = first +: (1 to 16).map { i =>
      if (i % 4 == 0) tagged(s"-n${i - 1}", bundleJson.replace("thirst", "hunger"))
        .filter(col("doc_id") === doc(i - 1))
      else tagged(s"-n$i").filter(col("doc_id") === doc(i))
    }
    var want: Option[DataFrame] = None
    batches.zipWithIndex.foreach { case (b, i) =>
      IngestCommit.commit(spark, tab, b, emb)
      val files = dataFiles(tab + "/user_id=u1")
      assert(files.size <= 5, s"after commit $i the partition holds ${files.size} files")
      val merged = IndexWriter.upsert(want, IndexWriter.withEmbeddings(b, emb))
      want = Some(spark.createDataFrame(
        spark.sparkContext.parallelize(merged.collect().toSeq), merged.schema))
      noDuplicateDocs(tab)
    }
    assert(tableRows(IndexWriter.read(spark, tab)) == tableRows(want.get))
    statsMatchRebuild(tab)
  }

  test("a re-upload leaves no duplicate doc_id in a plain read") {
    val tab = newTable("reupload")
    IngestCommit.commit(spark, tab, parsed(bundleJson), emb)
    val n = spark.read.parquet(tab).count()
    IngestCommit.commit(spark, tab, parsed(bundleJson.replace("thirst", "hunger")), emb)
    noDuplicateDocs(tab)
    assert(spark.read.parquet(tab).count() == n)
    statsMatchRebuild(tab)
  }

  /** Commit the fixture, then stage (and leave uncommitted) a batch over
    * two users that replaces one fixture doc: returns the table and the
    * staged commit's delete list.
    */
  private def stagedCommit(name: String): (String, Seq[HPath]) = {
    val tab = newTable(name)
    IngestCommit.commit(spark, tab, parsed(bundleJson), emb)
    val batch2 = parsed(bundleJson.replace("thirst", "hunger"))
      .unionByName(tagged("-u2", user = "u2"))
    (tab, StagedDir.locked(tab)(IngestCommit.stage(spark, tab, batch2, emb)))
  }

  /** The staged part files, deepest path last. */
  private def stagedParts(tab: String): Seq[HPath] =
    StagedDir.dataFiles(fs, new HPath(StagedDir.staging(tab))).map(_.getPath)

  private def moveIntoPlace(tab: String, staged: HPath): Unit = {
    val dest = new HPath(new HPath(tab), s"${staged.getParent.getName}/${staged.getName}")
    fs.mkdirs(dest.getParent)
    assert(fs.rename(staged, dest))
  }

  private def hasU2(tab: String): Boolean =
    spark.read.parquet(tab).filter(col("user_id") === "u2").count() > 0

  test("a staged commit without its marker is discarded by the next commit") {
    val (tab, _) = stagedCommit("nomark")
    assert(stagedParts(tab).nonEmpty)
    noDuplicateDocs(tab) // readers never see a staged part
    IngestCommit.commit(spark, tab, parsed(bundleJson.replace("cough", "fever")), emb)
    assert(!fs.exists(new HPath(StagedDir.staging(tab))))
    assert(!hasU2(tab), "the unmarked commit was applied")
    noDuplicateDocs(tab)
    statsMatchRebuild(tab)
  }

  test("a marked commit whose moves were half done is rolled forward") {
    val (tab, deletes) = stagedCommit("halfmoved")
    StagedDir.mark(fs, tab, deletes)
    val staged = stagedParts(tab)
    assert(staged.size >= 2, s"the batch staged too few parts to split: $staged")
    moveIntoPlace(tab, staged.head)
    IngestCommit.commit(spark, tab, parsed(bundleJson.replace("cough", "fever")), emb)
    assert(hasU2(tab), "the marked commit was not rolled forward")
    assert(!fs.exists(new HPath(StagedDir.staging(tab))))
    noDuplicateDocs(tab)
    statsMatchRebuild(tab)
  }

  test("a marked commit whose docs moved but whose stats did not swap is rolled forward") {
    val (tab, deletes) = stagedCommit("statsleft")
    StagedDir.mark(fs, tab, deletes)
    stagedParts(tab).foreach(moveIntoPlace(tab, _))
    deletes.foreach(fs.delete(_, false))
    assert(fs.exists(new HPath(StagedDir.staging(IngestCommit.statsTermsPath(tab)))))
    noDuplicateDocs(tab)
    IngestCommit.commit(spark, tab, parsed(bundleJson.replace("cough", "fever")), emb)
    assert(hasU2(tab))
    assert(!fs.exists(new HPath(StagedDir.staging(IngestCommit.statsTermsPath(tab)))))
    noDuplicateDocs(tab)
    statsMatchRebuild(tab)
  }

  test("the fold absorbs every part no bigger than the new one, smallest first") {
    assert(IndexWriter.fold(1L, Seq("a" -> 1L, "b" -> 2L, "c" -> 8L)) == Seq("a", "b"))
    assert(IndexWriter.fold(1L, Seq("big" -> 1000L)).isEmpty)
    assert(IndexWriter.fold(3L, Seq("x" -> 4L, "y" -> 3L)) == Seq("y", "x"))
    assert(IndexWriter.writeOf("part-00003-0b6f8a59-5f0e-4bb2-9f0e-2f4a4ac0c1d2.c000.snappy.parquet") ==
      "0b6f8a59-5f0e-4bb2-9f0e-2f4a4ac0c1d2")
    assert(IndexWriter.writeOf("legacy.parquet") == "legacy.parquet")
  }
}
