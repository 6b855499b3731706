package graft.rass.ingest

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.rass.{CorpusStats, DeterministicEmbedder, DocSchema}

/** Crash-recovery coverage for the shared stage-and-swap commit: each
  * test crafts the exact on-disk state a kill would leave and asserts
  * the next commit restores the invariant "stats tables == from-scratch
  * build over the document table".
  */
class IngestCommitSpec extends SparkSpec {

  private val emb = new DeterministicEmbedder(8)

  private lazy val bundleJson: String = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/fixtures/bundle.json"))
    try src.mkString finally src.close()
  }

  private def parsed(json: String, path: String): DataFrame = {
    import spark.implicits._
    FhirBundleParser.parseBundles(Seq((path, json)).toDS(), "u1")
  }

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)
  private def hp(p: String) = new org.apache.hadoop.fs.Path(p)

  private def statsMatchRebuild(tab: String): Unit = {
    val (wantF, wantT) =
      CorpusStats.build(spark.read.parquet(tab), DocSchema.scoredFields)
    def fm(df: DataFrame) = df.collect()
      .map(x => x.getAs[String]("field") ->
        ((x.getAs[Long]("n_docs"), x.getAs[Long]("sum_dl")))).toMap
    def tm(df: DataFrame) = df.collect()
      .map(x => (x.getAs[String]("field"), x.getAs[String]("term")) ->
        x.getAs[Long]("df")).toMap
    assert(fm(spark.read.parquet(IngestCommit.statsFieldsPath(tab))) == fm(wantF))
    assert(tm(spark.read.parquet(IngestCommit.statsTermsPath(tab))) == tm(wantT))
  }

  test("kill between swap renames (_old left) is restored on next commit") {
    val t = java.nio.file.Files.createTempDirectory("crashA")
    val tab = t.resolve("tab").toString
    IngestCommit.commit(spark, tab, parsed(bundleJson, "/f/b.json"), emb)
    val n1 = spark.read.parquet(tab).count()

    // simulate: target renamed away, replacement rename never happened
    fs.rename(hp(tab), hp(tab + "_old"))
    assert(!fs.exists(hp(tab)))

    IngestCommit.commit(spark, tab,
      parsed(bundleJson.replace("thirst", "hunger"), "/f/b.json"), emb)
    assert(spark.read.parquet(tab).count() == n1, "restored then upserted")
    statsMatchRebuild(tab)
  }

  test("kill after doc promote but before stats promote is finished") {
    val t = java.nio.file.Files.createTempDirectory("crashB")
    val tab = t.resolve("tab").toString
    IngestCommit.commit(spark, tab, parsed(bundleJson, "/f/b.json"), emb)

    // craft the batch-2 crash point by hand: doc table already swapped
    // to the new upsert (its staging consumed), stats stagings fully
    // written (_SUCCESS present) but NOT yet promoted — the stats
    // tables on disk still describe batch 1
    val batch2 = parsed(bundleJson.replace("thirst", "hunger"), "/f/b.json")
    val merged2 = IndexWriter.upsert(
      Some(spark.read.parquet(tab)), IndexWriter.withEmbeddings(batch2, emb))
      .persist()
    val (f2, t2) = CorpusStats.build(merged2, DocSchema.scoredFields)
    f2.write.parquet(IngestCommit.statsFieldsPath(tab) + "_staging")
    t2.write.parquet(IngestCommit.statsTermsPath(tab) + "_staging")
    merged2.write.parquet(tab + "_staging2")
    merged2.unpersist()
    fs.delete(hp(tab), true)
    fs.rename(hp(tab + "_staging2"), hp(tab))

    // the stats on disk are now STALE relative to the doc table; the
    // next commit must first promote the staged batch-2 stats, then
    // merge batch 3 against them — landing exactly on a full rebuild
    // (merging against the stale batch-1 stats instead would not)
    IngestCommit.commit(spark, tab,
      parsed(bundleJson.replace("cough", "fever"), "/f/b.json"), emb)
    statsMatchRebuild(tab)
  }

  test("incomplete staging (no _SUCCESS) is discarded, commit proceeds") {
    val t = java.nio.file.Files.createTempDirectory("crashC")
    val tab = t.resolve("tab").toString
    IngestCommit.commit(spark, tab, parsed(bundleJson, "/f/b.json"), emb)

    // a torn doc-table staging from a mid-write kill
    val staging = java.nio.file.Paths.get(tab + "_staging")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.writeString(staging.resolve("part-junk"), "torn write")

    IngestCommit.commit(spark, tab,
      parsed(bundleJson.replace("thirst", "hunger"), "/f/b.json"), emb)
    assert(!fs.exists(hp(tab + "_staging")))
    statsMatchRebuild(tab)
  }

  /** The parquet files directly under `dir`. */
  private def parquetFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))

  test("a commit writes IndexWriter's layout: user partitions, disjoint patient ranges") {
    import org.apache.spark.sql.functions._
    val tab = java.nio.file.Files.createTempDirectory("layout").resolve("tab").toString
    // eight patients' copies of the fixture, so the range layout has
    // several patients to spread over files
    val base = parsed(bundleJson, "/f/b.json")
    val batch = (0 until 8).map { i =>
      base.withColumn("doc_id", concat(col("doc_id"), lit(s"-$i")))
        .withColumn("patientId", lit(s"pat$i"))
    }.reduce(_ unionByName _)
    // AQE sizes range partitions by volume; shrink its floors so this
    // small batch still spreads over several files (IngestSpec's setting)
    val keys = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "1kb"))
    try IngestCommit.commit(spark, tab, batch, emb)
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }

    assert(parquetFiles(tab).isEmpty, "the table was written flat")
    assert(new java.io.File(tab).list().filter(_.startsWith("user_id=")).toSeq == Seq("user_id=u1"))
    val files = parquetFiles(tab + "/user_id=u1")
    assert(files.size > 1, s"one file holds every patient: $files")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.getPath).agg(min("patientId"), max("patientId")).head()
      (r.getString(0), r.getString(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping file ranges: $ranges")
      case _ =>
    }
    assert(spark.read.parquet(tab).count() == batch.count())
    statsMatchRebuild(tab)
  }

  test("a flat table from an earlier commit is read, and rewritten partitioned, by the next") {
    val tab = java.nio.file.Files.createTempDirectory("flat").resolve("tab").toString
    // the earlier commit's shape: the upserted batch written flat, its
    // stats materialized beside it
    val first = IndexWriter.upsert(None,
      IndexWriter.withEmbeddings(parsed(bundleJson, "/f/b.json"), emb)).persist()
    first.write.parquet(tab)
    val (f1, t1) = CorpusStats.build(first, DocSchema.scoredFields)
    f1.write.parquet(IngestCommit.statsFieldsPath(tab))
    t1.write.parquet(IngestCommit.statsTermsPath(tab))
    val n1 = first.count()
    first.unpersist()
    assert(parquetFiles(tab).nonEmpty)

    IngestCommit.commit(spark, tab,
      parsed(bundleJson.replace("thirst", "hunger"), "/f/b.json"), emb)
    assert(parquetFiles(tab).isEmpty, "the next commit left the table flat")
    assert(parquetFiles(tab + "/user_id=u1").nonEmpty)
    assert(spark.read.parquet(tab).count() == n1, "read, then upserted")
    statsMatchRebuild(tab)
  }
}
