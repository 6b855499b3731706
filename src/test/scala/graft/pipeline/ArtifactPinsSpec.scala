package graft.pipeline

import org.apache.commons.io.FileUtils
import org.apache.spark.storage.StorageLevel

import graft.{Memo, SparkSpec}

/** A durable artifact's build pins its working tables (the contraction
  * rounds, the label table it publishes) through the memo build that
  * runs it, so releasing the registry returns all of them, and a
  * rebuild serves a cached copy of what it published.
  */
class ArtifactPinsSpec extends SparkSpec {

  /** The persisted RDDs `body` leaves behind once every entry is released. */
  private def leftPersisted(body: => Any): Set[Int] = {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Memo.invalidateAll()
    val before = persisted
    body
    Memo.invalidateAll()
    persisted -- before
  }

  /** `body` over a fresh copy of the test corpus, whose artifacts are
    * not on disk yet; the copy and the artifacts published for it are
    * deleted afterwards.
    */
  private def onColdCopy[T](body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("cold").resolve("sf").toFile
    FileUtils.copyDirectory(new java.io.File(sfDir), dir)
    try body(dir.getPath) finally {
      Memo.invalidateAll()
      FileUtils.deleteDirectory(dir.getParentFile)
      val prefix = ArtifactStore.md5Hex(dir.getPath) + "_"
      Option(new java.io.File(ArtifactStore.artifactRoot).listFiles())
        .foreach(_.filter(_.getName.startsWith(prefix)).foreach(FileUtils.deleteDirectory))
    }
  }

  test("a cold clusterDropList leaves no table cached once the registry is released") {
    onColdCopy { dir =>
      assert(leftPersisted(Dedup.clusterDropList(spark, dir).count()).isEmpty)
    }
  }

  test("three d06 rebuilds leave no table cached once the registry is released") {
    assert(leftPersisted((1 to 3).foreach(_ =>
      Dedup.d06NeardupClusters(spark, sfDir).count())).isEmpty)
  }

  test("a cold Release.build leaves no table cached once the registry is released") {
    onColdCopy { dir =>
      assert(leftPersisted(Release.build(spark, dir).provenance.collect()).isEmpty)
    }
  }

  test("after a d06 rebuild the served artifact frame is cached") {
    Dedup.clusterDropList(spark, sfDir).count()
    Dedup.d06NeardupClusters(spark, sfDir).count()
    assert(Dedup.clusterArtifact.read(spark, sfDir).storageLevel != StorageLevel.NONE,
      "the rebuilt artifact's memo frame lost its cache")
  }
}
