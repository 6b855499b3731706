package graft.pipeline

import org.apache.hadoop.fs.Path

import graft.{SparkSpec, StagedDir}

/** Direct contract tests for the shared artifact mechanics — the
  * consumer specs (d06, IVF, p09 contamination) prove their artifacts
  * round-trip; this spec pins the store-level semantics they all rely
  * on, in particular the `_old` crash-recovery probe that none of the
  * consumer paths exercises unless a publish actually dies mid-swap.
  */
class ArtifactStoreSpec extends SparkSpec {

  private def fs =
    new Path(ArtifactStore.artifactRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def freshPath(tag: String): String =
    s"${ArtifactStore.artifactRoot}/spec_${tag}_${System.nanoTime()}"

  private def wipe(path: String): Unit =
    Seq(path, path + "_old", path + "_staging")
      .foreach(p => fs.delete(new Path(p), true))

  private def publishOne(path: String, fp: String, payload: Long): Unit = {
    import spark.implicits._
    ArtifactStore.publish(spark, path, fp) { staging =>
      Seq(payload).toDF("v").write.mode("overwrite").parquet(staging)
    }
  }

  private def readV(dir: String): Long =
    spark.read.parquet(dir).collect().head.getLong(0)

  test("consistentParquet: complete snapshot reads; race shapes reject") {
    import spark.implicits._
    val path = freshPath("consistent")
    try {
      // a healthy published dir reads back whole
      Seq(1L, 2L, 3L).toDF("v").repartition(2)
        .write.mode("overwrite").parquet(path)
      val got = StagedDir.snapshot(spark, path)
      assert(got.isDefined)
      assert(got.get.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
      // a zero-length part is the mid-republish stat race, not data —
      // the reader must refuse the snapshot rather than drop the rows
      // the part really holds
      val zero = new Path(path + "/part-99999-race.snappy.parquet")
      fs.create(zero).close()
      assert(StagedDir.snapshot(spark, path).isEmpty,
        "zero-length part must invalidate the snapshot")
      fs.delete(zero, true)
      // a vanished dir is "not published", not a crash
      assert(StagedDir.snapshot(spark,
        path + s"_never_${System.nanoTime()}").isEmpty)
      // an empty dir (no parts yet) is likewise not a readable artifact
      val bare = freshPath("bare")
      fs.mkdirs(new Path(bare))
      try assert(StagedDir.snapshot(spark, bare).isEmpty)
      finally wipe(bare)
    } finally wipe(path)
  }

  test("consistentParquet under a live republish race: complete or None, never partial") {
    import spark.implicits._
    val path = freshPath("republish")
    // two distinguishable complete payloads; a "partial" read would
    // surface as a row set matching neither
    val payloads = Seq(Seq(1L, 2L, 3L), Seq(10L, 20L, 30L)).map(_.toSet)
    def publishPayload(i: Int): Unit =
      ArtifactStore.publish(spark, path, s"fp$i") { staging =>
        payloads(i).toSeq.toDF("v").repartition(2)
          .write.mode("overwrite").parquet(staging)
      }
    try {
      publishPayload(0)
      @volatile var stop = false
      @volatile var writerFailure: Option[Throwable] = None
      val writer = new Thread(() => {
        var i = 1
        try while (!stop) { publishPayload(i % 2); i += 1 }
        catch { case t: Throwable => writerFailure = Some(t) }
      })
      writer.start()
      // The contract under a live race: a read either refuses (None),
      // fails LOUDLY with a classified gone-path error when the next
      // swap lands mid-materialization, or returns a COMPLETE payload.
      // What it must never do is silently return a subset or a mix.
      try (1 to 25).foreach { _ =>
        StagedDir.snapshot(spark, path).foreach { df =>
          val got =
            try Some(df.collect().map(_.getLong(0)).toSet)
            catch {
              case t: Throwable if StagedDir.pathGone(t) =>
                None // loud refusal mid-swap: allowed
            }
          got.foreach(g => assert(payloads.contains(g),
            s"partial/mixed snapshot under republish race: $g"))
        }
      } finally { stop = true; writer.join() }
      assert(writerFailure.isEmpty,
        s"concurrent publisher died: ${writerFailure.map(_.toString)}")
      // settled state reads back whole
      val settled = StagedDir.snapshot(spark, path)
      assert(settled.isDefined &&
        payloads.contains(settled.get.collect().map(_.getLong(0)).toSet))
    } finally wipe(path)
  }

  test("publish/findValid round-trip; wrong fingerprint rejects") {
    val path = freshPath("roundtrip")
    try {
      assert(ArtifactStore.findValid(spark, path, "fp1").isEmpty,
        "nothing published yet")
      publishOne(path, "fp1", 41L)
      assert(ArtifactStore.findValid(spark, path, "fp1").contains(path))
      assert(readV(path) == 41L)
      assert(ArtifactStore.findValid(spark, path, "fp2").isEmpty,
        "a fingerprint mismatch must reject, not serve stale data")
    } finally wipe(path)
  }

  test("republish replaces the primary cleanly; no stale fallback survives") {
    val path = freshPath("swap")
    try {
      publishOne(path, "fp1", 1L)
      publishOne(path, "fp2", 2L)
      assert(ArtifactStore.findValid(spark, path, "fp2").contains(path))
      assert(readV(path) == 2L)
      // swapIn retires the displaced artifact THROUGH _old and then
      // deletes it — after a clean republish the old table is gone, so
      // a reader expecting fp1 gets nothing rather than stale data
      assert(!fs.exists(new Path(path + "_old")),
        "_old must not outlive a successful swap")
      assert(!fs.exists(new Path(path + "_staging")),
        "staging must not outlive a successful swap")
      assert(ArtifactStore.findValid(spark, path, "fp1").isEmpty)
    } finally wipe(path)
  }

  test("a crash that loses the primary leaves _old readable (recovery probe)") {
    val path = freshPath("crash")
    try {
      publishOne(path, "fp1", 7L)
      // simulate a kill between swapIn's renames: the new primary never
      // landed, the previous table sits at _old
      assert(fs.rename(new Path(path), new Path(path + "_old")))
      assert(ArtifactStore.findValid(spark, path, "fp1").contains(path + "_old"),
        "the reader must recover the displaced artifact from _old")
      assert(readV(path + "_old") == 7L)
      // and a stale _old is still rejected by its fingerprint
      assert(ArtifactStore.findValid(spark, path, "fp-other").isEmpty)
    } finally wipe(path)
  }

  test("an unreadable fingerprint is 'invalid', not a crash (republish race)") {
    val path = freshPath("race")
    try {
      // a reader racing a republish in another driver can pass the
      // exists() probe and then lose the file before open() — stand in
      // for that window with a _fingerprint that exists but cannot be
      // opened as a file (a directory throws the same IOException class)
      fs.mkdirs(new Path(path + "/_fingerprint"))
      assert(ArtifactStore.findValid(spark, path, "fp1").isEmpty,
        "a vanished/unreadable fingerprint must fall back to rebuild")
    } finally wipe(path)
  }

  test("sourceListing is metadata-deterministic and absence-safe") {
    val missing = ArtifactStore.sourceListing(spark,
      s"${ArtifactStore.artifactRoot}/never_written_${System.nanoTime()}")
    assert(missing == "absent")
    val a = ArtifactStore.sourceListing(spark, sfDir + "/documents.parquet")
    val b = ArtifactStore.sourceListing(spark, sfDir + "/documents.parquet")
    assert(a == b && a != "absent" && a.nonEmpty)
  }

  test("a snapshot's schema is the one spark.read.parquet infers, for every artifact and stats table") {
    val artifacts = Seq(Dedup.clusterArtifact, Dedup.corpusBandArtifact,
      Dedup.detectorPairsArtifact, Multimodal.mediaClusterArtifact,
      Multimodal.mediaDetectorPairsArtifact, Similarity.semClusterArtifact,
      Similarity.semDropArtifact, Similarity.semContamArtifact, TextAnalysis.contamArtifact)
    val dirs = artifacts.map { a => a.read(spark, sfDir); a.path(sfDir) }
    // the two BM25 stats tables as the ingest commit writes them
    val tab = java.nio.file.Files.createTempDirectory("snapstats").resolve("tab").toString
    val bundle = {
      val src = scala.io.Source.fromInputStream(getClass.getResourceAsStream("/fixtures/bundle.json"))
      try src.mkString finally src.close()
    }
    import spark.implicits._
    graft.rass.ingest.IngestCommit.commit(spark, tab,
      graft.rass.ingest.FhirBundleParser.parseBundles(Seq(("/f/b.json", bundle)).toDS(), "u1"),
      new graft.rass.DeterministicEmbedder(8))
    val stats = Seq(graft.rass.ingest.IngestCommit.statsFieldsPath(tab),
      graft.rass.ingest.IngestCommit.statsTermsPath(tab))
    for (dir <- dirs ++ stats) {
      val inferred = spark.read.parquet(dir).schema
      assert(StagedDir.read(spark, dir).schema == inferred,
        s"$dir: snapshot ${StagedDir.read(spark, dir).schema.treeString} vs inferred ${inferred.treeString}")
    }
  }
}
