package graft.pipeline

import graft.SparkSpec

class ReleaseSpec extends SparkSpec {

  /** Drop every session memo the release path can hold, so the next
    * build must go through the DISK artifacts' findValid path — the
    * cross-session cold-start the orchestrator exists for.
    */
  private def dropSessionMemos(): Unit = {
    Dedup.invalidateCaches()
    Similarity.invalidateCaches()
    TextAnalysis.invalidateCaches()
    Export.invalidateCaches()
  }

  test("Release.build: a second, memo-cold invocation performs ZERO rebuilds") {
    // first build: validates (or materializes, on a fresh artifact
    // root) every artifact in the DAG
    val m1 = Release.build(spark, sfDir)
    assert(m1.provenance.collect().nonEmpty)
    // the second run emulates a NEW session over an unchanged corpus:
    // memos dropped, so every artifact must be served by findValid
    dropSessionMemos()
    val before = ArtifactStore.publishEvents
    val m2 = Release.build(spark, sfDir)
    assert(m2.datasheet.collect().nonEmpty)
    assert(m2.checksums.collect().nonEmpty)
    assert(m2.provenance.collect().nonEmpty)
    val after = ArtifactStore.publishEvents
    assert(after == before,
      s"a warm release republished artifacts: ${
        after.collect { case (p, n) if before.getOrElse(p, 0L) != n => p }}")
  }

  /** (salted artifact, cone label, the artifacts that must rebuild):
    * salting an artifact's fingerprint emulates editing its version
    * constant (or a threshold it hashes) — the expected fingerprint
    * changes exactly as a compile-time bump would change it — and the
    * rebuild set must be exactly that artifact plus every artifact
    * whose fingerprint CHAINS it (s21 chains s14; nothing chains p09),
    * with d06, s15 and the rest still served from their valid stores.
    */
  private val cones: Seq[(DurableArtifact, String, Seq[DurableArtifact])] = Seq(
    (Similarity.semClusterArtifact, "s14 -> s21",
      Seq(Similarity.semClusterArtifact, Similarity.semDropArtifact)),
    (TextAnalysis.contamArtifact, "p09", Seq(TextAnalysis.contamArtifact)))

  cones.foreach { case (salted, label, cone) =>
    val suffix = salted.suffix
    test(s"a bumped ${suffix.take(3)} constant rebuilds EXACTLY the $label cone, nothing else") {
      // baseline: everything fresh and published
      Release.build(spark, sfDir).provenance.collect()
      DurableArtifact.salts(suffix) = "bump"
      dropSessionMemos()
      try {
        val before = ArtifactStore.publishEvents
        val m = Release.build(spark, sfDir)
        assert(m.provenance.collect().nonEmpty)
        val after = ArtifactStore.publishEvents
        val rebuilt = after.collect {
          case (p, n) if before.getOrElse(p, 0L) != n => p
        }.toSet
        assert(rebuilt == cone.map(_.path(sfDir)).toSet,
          s"rebuild cone was $rebuilt")
      } finally {
        // un-bump and restore the unsalted stores for later suites
        DurableArtifact.salts.remove(suffix)
        dropSessionMemos()
        Release.build(spark, sfDir).provenance.collect()
      }
    }
  }
}
