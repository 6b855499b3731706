package graft

/** The registry is the one place that knows what a session caches:
  * releasing everything must return every family's pinned storage.
  */
class MemoRegistrySpec extends SparkSpec {

  test("invalidateAll releases an entry of every family and the storage it pinned") {
    def cached = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    Memo.invalidateAll()
    val before = cached
    Seq("d02_ngram_jaccard_pairs", "s02_ivf_knn", "p18_fingerprint_overlap",
      "m08_image_phash_pairs", "q28_rfm_segments", "r03_hybrid",
      "x03_packing_layout").foreach { q =>
      SparkEntry.queries(q)(spark, sfDir).write.mode("overwrite").format("noop").save()
    }
    val warm = Memo.warmNames
    Seq("d.", "s.", "p.", "m.", "q.", "r.", "rp:").foreach { f =>
      assert(warm.exists(_.startsWith(f)), s"no $f entry was filled: $warm")
    }
    assert((cached -- before).nonEmpty, "the fill pinned no storage")
    Memo.invalidateAll()
    assert(Memo.warmNames.isEmpty, s"entries survive invalidateAll: ${Memo.warmNames}")
    assert(cached == before, s"storage survives invalidateAll: ${cached -- before}")
  }
}
