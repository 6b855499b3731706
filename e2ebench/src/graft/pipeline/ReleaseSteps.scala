package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The calls [[Release.build]] makes, in its order, one by one, for the
  * benchmark's traced release. Three of the artifact reads are
  * package-private to the engine, which is why this lives in its
  * package; the benchmark compiles with the engine.
  */
object ReleaseSteps {

  /** The artifact reads, each building its artifact when cold, by the
    * step names of the release DAG.
    */
  val artifacts: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "d06" -> Dedup.clusterDropList,
    "p09" -> TextAnalysis.contaminatedDocs,
    "s21" -> Similarity.semDropList,
    "s15" -> Similarity.semContamList)

  /** The three shipped manifests: datasheet, checksums, provenance. */
  val manifests: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "x07" -> Export.x07DatasetCard,
    "x12" -> Export.x12ChecksumManifest,
    "x13" -> Export.x13ReleaseProvenance)
}
