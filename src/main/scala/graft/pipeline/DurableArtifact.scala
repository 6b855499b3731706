package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Memo, StagedDir}

/** Shared plumbing for every durable fingerprint-guarded artifact —
  * the ONE implementation of the read-through-memo / staged-publish /
  * rebuild-and-swap sequence, and the only caller of
  * [[ArtifactStore.findValid]] and [[ArtifactStore.publish]]
  * (`MemoGuardSpec` fails on another). Its users: the cluster tables
  * (d06 text, m06 media, s14 semantic), the d08 corpus band table, the
  * lists the release anti-joins (p09 lexical and s15 semantic
  * contamination, s21 SemDeDup drops), and the detector-pair tables
  * the lineup audits roll up (d11, and m10 which chains it). A copy
  * written by hand around the store drifts from this one (it skips
  * [[DurableArtifact.salts]], or serves its unpublished build), which
  * is why the spec guards against one.
  *
  * Contract (the d06 rules, now in one place):
  *   - [[read]] is the CONSUMER path: session memo → on-disk parquet
  *     (fingerprint-checked, `_old` crash probe) → rebuild+publish as
  *     the last resort. At 100 TB a drop-list consumer must never
  *     re-propagate, and must not depend on an in-memory cache
  *     surviving either.
  *   - [[rebuildAndPublish]] is the OWNING QUERY's path: the
  *     propagation loop is what that query benchmarks, so it always
  *     rebuilds, atomically republishes (ArtifactStore's staged swap
  *     under the per-path monitor), and rebuilds the session memo
  *     entry ([[graft.Memo.Cache.rebuild]] releases the retired table
  *     before the new one is pinned).
  *   - The fingerprint is captured BEFORE the build reads any source
  *     data (the ArtifactStore write-side TOCTOU rule). `params` must
  *     name every parameter the artifact's semantics depend on;
  *     `sources` are the tables under the corpus dir whose listings it
  *     also hashes.
  */
private[graft] final class DurableArtifact(
    name: String,
    val suffix: String,
    params: (SparkSession, String) => String,
    sources: Seq[String],
    build: (SparkSession, String, Memo.Pins) => DataFrame) {

  private val memo = Memo.frames(name)

  def path(dir: String): String =
    s"${ArtifactStore.artifactRoot}/${ArtifactStore.md5Hex(dir)}_$suffix"

  /** The artifact's CURRENT expected fingerprint: the md5 of `params`
    * joined by `|` with the file listing of each source table under
    * `dir`, plus any test salt ([[DurableArtifact.salts]]). Exposed so a
    * DOWNSTREAM artifact whose content derives from this one can CHAIN
    * it into its own params (the m10-chains-d11 staleness rule — a
    * version/threshold bump upstream must invalidate the whole derived
    * cone, not just the artifact whose constant moved).
    */
  def currentFingerprint(spark: SparkSession, dir: String): String = {
    val base = ArtifactStore.md5Hex((params(spark, dir) +:
      sources.map(t => ArtifactStore.sourceListing(spark, s"$dir/$t"))).mkString("|"))
    DurableArtifact.salts.get(suffix)
      .map(s => ArtifactStore.md5Hex(s"$base|salt=$s"))
      .getOrElse(base)
  }

  /** Whether a published artifact matching the current fingerprint is
    * on disk (a cold session's [[read]] would load it, not rebuild).
    */
  def onDisk(spark: SparkSession, dir: String): Boolean =
    ArtifactStore.findValid(spark, path(dir),
      currentFingerprint(spark, dir)).isDefined

  def read(spark: SparkSession, dir: String): DataFrame =
    memo.getOrBuild((spark, dir)) { pins =>
      val fp = currentFingerprint(spark, dir)
      ArtifactStore.findValid(spark, path(dir), fp)
        .flatMap(p => StagedDir.snapshot(spark, p))
        .map(pins(_))
        .getOrElse(publish(spark, dir, fp, pins))
    }

  def rebuildAndPublish(spark: SparkSession, dir: String): DataFrame =
    memo.rebuild((spark, dir)) { pins =>
      publish(spark, dir, currentFingerprint(spark, dir), pins) // pre-build capture (TOCTOU rule)
    }

  /** Build, publish under `fp`, and serve the JUST-PUBLISHED store, not
    * the raw build plan: a build plan would re-execute the whole DAG on
    * every consumer action AND re-read sources that may no longer match
    * the stamped pre-build fingerprint (the TOCTOU window the pre-build
    * capture exists to close). The publish already paid the
    * materialization; the parquet is the truth, and the build's own
    * pinned tables are released when the memo build returns. Falls back
    * to the fresh frame only if a concurrent republish races the re-read
    * (then its own memo swap supersedes this handle).
    */
  private def publish(spark: SparkSession, dir: String, fp: String,
      pins: Memo.Pins): DataFrame = {
    val fresh = build(spark, dir, pins)
    ArtifactStore.publish(spark, path(dir), fp) { staging =>
      fresh.write.mode("overwrite").parquet(staging)
    }
    StagedDir.snapshot(spark, path(dir)).map(pins(_)).getOrElse(fresh)
  }
}

private[pipeline] object DurableArtifact {

  /** TEST hook — a per-suffix fingerprint salt that emulates a
    * compile-time version/threshold bump on ONE artifact, so the
    * Release orchestrator's cone spec can prove "bump upstream →
    * exactly the downstream cone rebuilds" without recompiling.
    * EMPTY in production: no library code writes here; a set salt
    * changes the artifact's expected fingerprint exactly as editing
    * its version constant would.
    */
  private[graft] val salts =
    scala.collection.concurrent.TrieMap.empty[String, String]
}
