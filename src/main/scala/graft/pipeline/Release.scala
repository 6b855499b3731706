package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one-command release orchestrator: walks the release's artifact
  * DAG in dependency order, rebuilding ONLY stale fingerprints (every
  * step is the existing `findValid`-or-rebuild read path — a valid
  * stored artifact is read, not rebuilt: ReleaseSpec sees no publish
  * event for it), then returns the three tables a release ships:
  *
  *   corpus listings               (inputs — fingerprint material only)
  *     ├── d06 cluster drop list   (lexical dedup)
  *     ├── p09 contaminated list   (lexical decontamination)
  *     ├── s14 cluster labels → s21 drop list   (SemDeDup pruning)
  *     └── s15 contaminated list   (semantic decontamination)
  *   x01 → x02 → x14 published manifest (pure views over the lists)
  *     └── x03 packing → x06 shards
  *           ├── x07 datasheet
  *           ├── x12 checksum manifest
  *           └── x13 provenance manifest
  *
  * Every artifact was already individually durable and
  * fingerprint-guarded; what this adds is the dependency-ordered WALK
  * as one call, so a deployment's release job is `Release.build` and
  * nothing else. Staleness propagation is carried by the fingerprints
  * themselves (s21's chains s14's, the m10-chains-d11 rule; every
  * fingerprint hashes its source listings and named constants), so a
  * bumped threshold rebuilds exactly the downstream cone and an
  * untouched corpus rebuilds NOTHING — the ReleaseSpec proves both via
  * [[ArtifactStore.publishEvents]].
  *
  * Scale shape: inherited entirely from the artifacts and manifests it
  * composes. A disk-warm walk rebuilds nothing, but reading the stored
  * tables and materializing the manifests still runs jobs (dozens per
  * warm release, e2ebench's `release.warm_jobs`).
  */
object Release {

  /** What a release ships: the x07 per-(split, lang) datasheet, the
    * x12 per-shard checksum manifest, and the x13 provenance record.
    */
  final case class Manifests(
      datasheet: DataFrame, checksums: DataFrame, provenance: DataFrame)

  def build(spark: SparkSession, dir: String): Manifests = {
    // the artifact DAG, dependency-ordered; each read() validates the
    // stored fingerprint against the CURRENT source listing + constants
    // and rebuilds only on mismatch (a child's build triggers its own
    // parents' reads, so the order here is the documented contract,
    // not a correctness requirement)
    Dedup.clusterDropList(spark, dir) // lexical dedup (d06 labels)
    TextAnalysis.contaminatedDocs(spark, dir) // lexical decontam (p09)
    Similarity.semDropList(spark, dir) // SemDeDup (s14 labels → s21)
    Similarity.semContamList(spark, dir) // semantic decontam (s15)
    // the shipped tables: pure compositions over the validated
    // artifacts + the corpus scan (lazy — the caller materializes)
    Manifests(
      datasheet = Export.x07DatasetCard(spark, dir),
      checksums = Export.x12ChecksumManifest(spark, dir),
      provenance = Export.x13ReleaseProvenance(spark, dir))
  }
}
