package graft.pipeline

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  private def neighborSets(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap

  test("every similarity query has an oracle and runs non-empty") {
    assert(Similarity.oracles.keySet == Similarity.queries.keySet)
    Similarity.queries.foreach { case (name, fn) =>
      assert(fn(spark, sfDir).count() > 0, s"$name returned no rows")
    }
  }

  test("s01 returns exactly 10 ranked neighbors per query, scores descending") {
    val rows = Similarity.s01KnnBruteForce(spark, sfDir).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 10)
    byQuery.values.foreach { g =>
      assert(g.length == 10)
      val sorted = g.sortBy(_.getAs[Long]("rank"))
      val cosines = sorted.map(_.getAs[Double]("cosine"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
      assert(sorted.forall(r => r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
    }
  }

  private def meanRecall(approx: Map[Long, Set[Long]],
      exact: Map[Long, Set[Long]]): Double = {
    val recalls = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    recalls.sum / recalls.size
  }

  test("s02 IVF achieves useful recall against exact KNN") {
    val exact = neighborSets(Similarity.s01KnnBruteForce(spark, sfDir))
    val approx = neighborSets(Similarity.s02IvfKnn(spark, sfDir))
    val mean = meanRecall(approx, exact)
    // nprobe=4 of k=sqrt(n) cells scans a shrinking corpus fraction as
    // n grows; on isotropic random vectors (worst case for IVF — no
    // cluster structure) probing the nearest cells still concentrates
    // true neighbors far above the scan fraction. 0.3 is the sanity
    // floor; the production 0.8 floor lives in the s05 tripwire test.
    assert(mean >= 0.3, f"mean IVF recall $mean%.2f below floor")
  }

  test("s05 recall floor: nprobe=4 with k=sqrt(n) keeps mean recall >= 0.8") {
    // THE tripwire for the k/nprobe balance (NProbe is deliberately
    // fixed while the cell count grows as sqrt(n) — Similarity.scala's
    // NProbe doc): if a future k, nprobe, or training change drops the
    // registered IVF index below a usable recall, this fails loudly
    // instead of s05 silently shipping a worse profile. The inputs are
    // deterministic (seeded corpus, quantized k-means), so the measured
    // mean is exact, not noisy: 0.89 here (sf0.001), 0.86 at sf0.01,
    // 0.93 at sf0.1 (recall RISES with corpus size — more cells cut
    // each cell's radius faster than 4 probes lose coverage). The
    // floor reads from s05RecallProfile itself so the gate guards the
    // registered query, not a test-local reimplementation.
    val rows = Similarity.s05RecallProfile(spark, sfDir).collect()
    val mean = rows.map(_.getAs[Long]("n_overlap")).sum.toDouble /
      rows.map(_.getAs[Long]("n_exact")).sum
    assert(mean >= 0.8, f"s05 mean recall $mean%.2f below the 0.8 floor — " +
      "k/nprobe imbalance (raise NProbe ~ sqrt(k); the oracle's rn<= bound " +
      "derives from the same constant)")
  }

  test("s11 curve: monotone in nprobe, bracketed, and agrees with s05 at the production point") {
    val rows = Similarity.s11NprobeCurve(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("nprobe")).toSeq ==
      Similarity.ProbeSweep.map(_.toLong))
    val nExact = rows.head.getAs[Long]("n_exact")
    assert(rows.forall(_.getAs[Long]("n_exact") == nExact),
      "the exact side is one artifact — every sweep point shares it")
    val overlaps = rows.map(_.getAs[Long]("n_overlap")).toSeq
    overlaps.foreach(o => assert(o >= 0 && o <= nExact))
    // more probed cells can only widen the candidate set
    assert(overlaps == overlaps.sorted,
      s"recall not monotone in nprobe: $overlaps")
    // the production point (nprobe=4) must be the same measurement s05
    // reports per query — one definition of recall across the suite
    val s05 = Similarity.s05RecallProfile(spark, sfDir).collect()
    val at4 = rows.find(_.getAs[Long]("nprobe") == 4L).get
    assert(at4.getAs[Long]("n_overlap") == s05.map(_.getAs[Long]("n_overlap")).sum)
    assert(at4.getAs[Long]("n_exact") == s05.map(_.getAs[Long]("n_exact")).sum)
    // the knee justification: the full sweep's top point should reach
    // the production floor too (8 probes never below 4's 0.8 floor)
    val top = overlaps.last.toDouble / nExact
    assert(top >= 0.8, f"nprobe=8 recall $top%.2f below the production floor")
  }

  test("s12 PQ profile equals a driver-side argmin over the trained codebook") {
    val prof = Similarity.s12PqProfile(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("sub"), r.getAs[Long]("code")) ->
        (r.getAs[Long]("n_vectors"), r.getAs[Long]("err_micro"))).toMap
    // every vector contributes exactly one code per subspace
    val n = graft.Tables.embeddings(spark, sfDir).count()
    (0L until Similarity.PqSubspaces).foreach { s =>
      val inSub = prof.filter(_._1._1 == s).values
      assert(inSub.map(_._1).sum == n, s"subspace $s does not partition the corpus")
      inSub.foreach { case (_, err) => assert(err >= 0) }
    }
    // reference: collect the trained codebook + vectors, recompute the
    // argmin assignment and floor-micro error sums in plain Scala
    val cents = Similarity.pqTrain(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("sub"), r.getAs[Long]("cid")) ->
        r.getSeq[Double](r.fieldIndex("cv")).toArray).toMap
    assert(cents.size == Similarity.PqSubspaces * Similarity.PqCodes)
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val want = scala.collection.mutable.Map
      .empty[(Long, Long), (Long, Long)].withDefaultValue((0L, 0L))
    vecs.foreach { case (_, v) =>
      for (s <- 0 until Similarity.PqSubspaces) {
        val x = v.slice(s * Similarity.PqSubDim, (s + 1) * Similarity.PqSubDim)
        // same fold order as the engines: left fold seeded with 0.0
        def d2(c: Array[Double]): Double =
          x.indices.foldLeft(0.0)((a, j) =>
            a + (x(j) - c(j)) * (x(j) - c(j)))
        val (bestCid, bestDist) = (0L until Similarity.PqCodes)
          .map(c => c -> d2(cents((s.toLong, c))))
          .minBy { case (c, d) => (d, c) }
        val k = (s.toLong, bestCid)
        val (cnt, err) = want(k)
        want(k) = (cnt + 1, err + math.floor(bestDist * 1000000.0).toLong)
      }
    }
    assert(prof == want.toMap,
      "distributed PQ assignment/error diverges from the driver reference")
  }

  test("s13 ADC search equals a driver-side table-lookup scan over the stored codes") {
    val got = Similarity.s13PqAdc(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_micro"))).toMap
    val cents = Similarity.pqTrain(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("sub"), r.getAs[Long]("cid")) ->
        r.getSeq[Double](r.fieldIndex("cv")).toArray).toMap
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val (m, sd) = (Similarity.PqSubspaces, Similarity.PqSubDim)
    def d2(x: Array[Double], c: Array[Double]): Double =
      x.indices.foldLeft(0.0)((a, j) => a + (x(j) - c(j)) * (x(j) - c(j)))
    // stored codes: argmin per (vec, sub) — spec-verified in the s12 test
    val codes = vecs.map { case (id, v) =>
      id -> (0 until m).map { s =>
        val x = v.slice(s * sd, (s + 1) * sd)
        (0L until Similarity.PqCodes)
          .map(c => c -> d2(x, cents((s.toLong, c)))).minBy { case (c, d) => (d, c) }._1
      }
    }.toMap
    val queries = vecs.filter(_._1 < 10)
    val want = queries.flatMap { case (q, qv) =>
      // the query's distance table, micro-floored BEFORE summation
      val dt = (0 until m).map { s =>
        val x = qv.slice(s * sd, (s + 1) * sd)
        (0L until Similarity.PqCodes).map(c =>
          c -> math.floor(d2(x, cents((s.toLong, c))) * 1000000.0).toLong).toMap
      }
      val scoredAll = vecs.filter(_._1 != q).map { case (id, _) =>
        id -> (0 until m).map(s => dt(s)(codes(id)(s))).sum
      }
      scoredAll.sortBy { case (id, adc) => (adc, id) }.take(10)
        .zipWithIndex.map { case ((id, adc), i) =>
          (q, (i + 1).toLong) -> (id, adc)
        }
    }.toMap
    assert(got == want, "distributed ADC diverges from the driver reference")
    // sanity: ADC's top-10 must overlap the exact top-10 far above chance
    val exact = Similarity.s01KnnBruteForce(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet)
    val overlap = got.groupBy(_._1._1).map { case (q, rows) =>
      rows.values.map(_._1).toSet.intersect(exact(q)).size
    }.sum
    assert(overlap >= 10,
      s"ADC overlap with exact KNN is $overlap/100 — below sanity (chance ~0.2)")
  }

  test("s14 clusters are the connected components of s07's pairs") {
    val rows = Similarity.s14SemanticClusters(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val pairs = Similarity.s07SemanticDedup(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
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
      r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got == want, "clusters diverge from driver-side union-find")
    rows.foreach { r =>
      assert((r.getAs[Long]("keep") == 1L) ==
        (r.getAs[Long]("vec_id") == r.getAs[Long]("cluster_id")))
    }
  }

  test("s21 keeps each s14 cluster's most fluent member, flagging policy disagreements") {
    val scores = TextAnalysis.pplScored(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("sum_qll"), r.getAs[Long]("n_bigrams")))).toMap
    val members = Similarity.s14SemanticClusters(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("vec_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val got = Similarity.s21SemanticSurvivors(spark, sfDir).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("n_members"), r.getAs[Long]("survivor_vec_id"),
          r.getAs[Long]("survivor_sum_qll"),
          r.getAs[Long]("survivor_n_bigrams"),
          r.getAs[Long]("same_as_min_id")))).toMap
    assert(got.keySet == members.keySet, "one row per s14 cluster")
    got.foreach { case (c, (n, sid, sq, sb, same)) =>
      val ms = members(c)
      assert(n == ms.length, s"cluster $c member count")
      // driver-side replay: highest mean surprisal first (unscored
      // last), ties to the smaller id — the exact engine policy
      val want = ms.sortBy { id =>
        val mean = scores.get(id)
          .map { case (q, b) => q.toDouble / b }.getOrElse(Double.MinValue)
        (-mean, id)
      }.head
      assert(sid == want, s"cluster $c survivor: got $sid want $want")
      val (wq, wb) = scores.getOrElse(want, (0L, 0L))
      assert(sq == wq && sb == wb, s"cluster $c survivor score parts")
      assert((same == 1L) == (sid == c), s"cluster $c disagreement flag")
    }
    // the fluency policy must disagree with min-id somewhere, or the
    // operator is d10's flag without its point
    assert(got.values.exists(_._5 == 0L),
      "keep-most-fluent never disagreed with min-id on this corpus")
  }

  test("s22 equals a driver-side greedy MMR replay and diversifies every list") {
    // exact same fold order as the cosine_sim expression / oracle
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "CAST(embedding AS array<double>) v").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1)).toMap
    val pool = Similarity.s01KnnBruteForce(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine")))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    val got = Similarity.s22MmrRerank(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("mmr_rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("relevance"),
        r.getAs[Double]("mmr_score")))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toVector).toMap
    assert(got.keySet == pool.keySet, "5 MMR rows for each s01 query")
    pool.foreach { case (q, cands) =>
      // greedy replay: λ·rel − (1−λ)·max sim to selected, ties low id
      var selected = Vector.empty[(Long, Double, Double)]
      while (selected.length < 5) {
        val picked = cands
          .filterNot(c => selected.exists(_._1 == c._1))
          .map { case (id, rel) =>
            val maxSim = selected
              .map(s => cos(vecs(id), vecs(s._1)))
              .foldLeft(Option.empty[Double])((m, x) =>
                Some(m.fold(x)(math.max(_, x))))
            val score = 0.5 * rel - 0.5 * maxSim.getOrElse(0.0)
            (id, rel, score)
          }.minBy { case (id, _, score) => (-score, id) }
        selected :+= picked
      }
      val want = selected.zipWithIndex
        .map { case ((id, rel, score), i) => (q, (i + 1).toLong, id, rel, score) }
      assert(got(q) == want, s"query $q MMR sequence")
      // non-vacuity: diversification must actually reorder vs plain
      // top-5 relevance somewhere in each list on this corpus
      val top5 = cands.sortBy { case (id, rel) => (-rel, id) }.take(5).map(_._1)
      assert(got(q).map(_._3) != top5, s"query $q: MMR degenerated to top-5")
    }
  }

  test("s14 artifact: cold s21 reads come from the published parquet") {
    import spark.implicits._
    type HP = org.apache.hadoop.fs.Path
    val fs = new HP("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
    // publish a fresh artifact and record the truth
    Similarity.s14SemanticClusters(spark, sfDir).collect()
    val path = Similarity.semClusterArtifact.path(sfDir)
    assert(fs.exists(new HP(path + "/_fingerprint")), "publish must write the guard")
    val fpIn = fs.open(new HP(path + "/_fingerprint"))
    val fp = try scala.io.Source.fromInputStream(fpIn, "UTF-8").mkString.trim
      finally fpIn.close()
    try {
      // plant a distinguishable artifact under the SAME fingerprint: a
      // cold session must serve the published table, not re-propagate
      Similarity.invalidateCaches()
      Seq((-1L, -2L)).toDF("id", "label")
        .write.mode("overwrite").parquet(path)
      val out = fs.create(new HP(path + "/_fingerprint"), true)
      try out.write(fp.getBytes("UTF-8")) finally out.close()
      val planted = Similarity.semClusterLabels(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("label"))).toSet
      assert(planted == Set((-1L, -2L)),
        s"cold read must come from the disk artifact, got ${planted.take(5)}")
    } finally {
      // leave a correct published artifact for later suites
      Similarity.invalidateCaches()
      Similarity.s14SemanticClusters(spark, sfDir).collect()
    }
  }

  test("s16 scores candidates with s13's exact metric and can only lose, never beat, the full scan") {
    val full = Similarity.s13PqAdc(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Long]("adc_micro")).toMap
    val ivfpq = Similarity.s16IvfPqSearch(spark, sfDir).collect()
    assert(ivfpq.nonEmpty)
    // same metric: any (query, neighbor) present in both rankings must
    // carry the identical micro-quantized ADC distance
    var shared = 0
    ivfpq.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      full.get(key).foreach { dm =>
        shared += 1
        assert(r.getAs[Long]("adc_micro") == dm,
          s"$key scores differently under IVF-PQ vs full PQ scan")
      }
    }
    assert(shared > 0, "no overlap with the full scan — probes look broken")
    ivfpq.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq ==
        (1L to rs.length).toSeq, s"query $q ranks not contiguous")
      assert(rs.length <= 10)
      assert(sorted.map(r => (r.getAs[Long]("adc_micro"),
        r.getAs[Long]("neighbor_id"))).toSeq ==
        sorted.map(r => (r.getAs[Long]("adc_micro"),
          r.getAs[Long]("neighbor_id"))).sortBy(identity).toSeq,
        s"query $q not ordered by (adc, neighbor)")
      // pruning can only LOSE the global best (strictly better adc
      // exists outside the probed cells), never invent a better one
      val fullBest = full.collect { case ((fq, _), dm) if fq == q => dm }
      if (fullBest.nonEmpty)
        assert(sorted.head.getAs[Long]("adc_micro") >= fullBest.min,
          s"query $q: IVF-PQ found a distance below the full scan's best")
    }
  }

  test("s17 recall equals the driver-computed s01/s16 overlap, one row per query") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val exact = pairs(Similarity.s01KnnBruteForce(spark, sfDir))
    val approx = pairs(Similarity.s16IvfPqSearch(spark, sfDir))
    val got = Similarity.s17IvfPqRecall(spark, sfDir).collect()
      .map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("n_exact"), r.getAs[Long]("n_overlap"))).toMap
    assert(got.keySet == exact.map(_._1),
      "one recall row per exact query, no more, no fewer")
    got.foreach { case (q, (ne, no)) =>
      assert(ne == exact.count(_._1 == q), s"query $q n_exact")
      assert(no == (exact & approx).count(_._1 == q), s"query $q n_overlap")
    }
  }

  test("s17 acceptance rule: this corpus's PQ recall routes serving to the SQ8 rescore path") {
    // the rule's boundary, independent of any corpus
    assert(Similarity.ivfPqServingDecision(Similarity.IvfPqRecallFloor) == "ivfpq")
    assert(Similarity.ivfPqServingDecision(Similarity.IvfPqRecallFloor - 1e-9) == "sq8_rescore")
    // the corpus decision, fed by s17's own output: 16-code codebooks
    // lose too much here (s17 ~0.4 vs s05's 0.86+ probe recall on the
    // SAME index — the loss is PQ distortion, not probe shortfall), so
    // the documented rollout decision is s08's SQ8 rescore path. If a
    // future codebook change clears the floor, this pin flips with it —
    // deliberately, so the decision is re-made, not silently inherited.
    val rows = Similarity.s17IvfPqRecall(spark, sfDir).collect()
    val mean = rows.map(r =>
      r.getAs[Long]("n_overlap").toDouble / r.getAs[Long]("n_exact"))
      .sum / rows.length
    assert(Similarity.ivfPqServingDecision(mean) == "sq8_rescore",
      f"mean PQ recall@10 $mean%.2f now clears the ${Similarity.IvfPqRecallFloor}%.2f floor — " +
        "revisit the s17 rollout decision (serve IVF-PQ?) and update this pin")
  }

  test("s20 exercises the retrain arm: 256 codes lift recall but the SQ8 fallback decision holds") {
    // the end-to-end consumer reads the decision off s17's ACTUAL
    // frame — rule and profile wired, not just individually tested
    val d16 = Similarity.servingDecision(spark, sfDir)
    assert(d16 == "sq8_rescore",
      s"production 16-code decision read $d16 — revisit the s17 pin")
    assert(d16 == Similarity.ivfPqServingDecision(
      Similarity.profiledMeanRecall(Similarity.s17IvfPqRecall(spark, sfDir))))
    // the retrained profile: same eval, same queries, only codebook
    // resolution moved — so rows align 1:1 with s17's
    val r17 = Similarity.s17IvfPqRecall(spark, sfDir).collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_overlap")))).toMap
    val r20 = Similarity.s20RetrainedRecall(spark, sfDir).collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_overlap")))).toMap
    assert(r20.keySet == r17.keySet, "same query set as s17")
    r20.foreach { case (q, (ne, no)) =>
      assert(ne == r17(q)._1, s"query $q n_exact moved — exact side leaked")
      assert(no >= 0L && no <= ne)
    }
    // resolution buys recall (nbits=4 -> nbits=8 recovers real
    // distortion: 0.45 -> 0.58 here)...
    val m17 = Similarity.profiledMeanRecall(Similarity.s17IvfPqRecall(spark, sfDir))
    val m20 = Similarity.profiledMeanRecall(Similarity.s20RetrainedRecall(spark, sfDir))
    assert(m20 > m17,
      f"256-code retrain did not improve recall ($m17%.2f -> $m20%.2f)")
    // ...but NOT enough to clear the floor on this corpus: the rollout
    // rule's OTHER remedy is now measured, and the SQ8 fallback is the
    // proven decision, not the assumed one. If a future corpus or
    // geometry change flips this, the pin flips with it — deliberately.
    assert(Similarity.servingDecision(spark, sfDir, Similarity.RetrainCodes)
        == "sq8_rescore",
      f"retrained recall $m20%.2f clears the floor — flip the s17/s20 " +
        "rollout decision to ivfpq and update both pins")
  }

  test("s18 refines the ADC shortlist with exact int8 scores and recovers recall lost to PQ") {
    // driver-side replay of the two stages off the shared ADC frame
    val adc = Similarity.ivfPqAdc(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("adc_micro")))
    // .values first: flatMap ON the Map would rebuild a Map from the
    // (query, neighbor) pairs — one surviving neighbor per query (the
    // x09 Set-keys gotcha's Map-shaped sibling)
    val shortlist = adc.groupBy(_._1).values.flatMap { rs =>
      rs.sortBy(r => (r._3, r._2)).take(Similarity.RescorePool)
        .map(r => (r._1, r._2)).toSeq
    }.toSet
    // int8 codes recomputed from the raw embeddings (v02's rule)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .map { r =>
        val v = r.getAs[scala.collection.Seq[Float]]("embedding")
          .toSeq.map(_.toDouble)
        val maxabs = v.map(math.abs).foldLeft(0.0)(math.max)
        r.getAs[Long]("vec_id") -> (
          if (maxabs > 0) v.map(x => math.floor(x * 127.0 / maxabs).toLong)
          else v.map(_ => 0L))
      }.toMap
    val got = Similarity.s18PqRefine(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (q, n) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(shortlist((q, n)),
        s"($q,$n) ranked by s18 but outside the RescorePool ADC shortlist")
      val want = emb(q).zip(emb(n)).map { case (a, b) => a * b }.sum
      assert(r.getAs[Long]("iscore") == want, s"($q,$n) int8 refine score")
    }
    got.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq ==
        (1L to rs.length).toSeq, s"query $q ranks not contiguous")
      assert(rs.length <= 10)
      assert(sorted.map(r => (-r.getAs[Long]("iscore"),
        r.getAs[Long]("neighbor_id"))).toSeq ==
        sorted.map(r => (-r.getAs[Long]("iscore"),
          r.getAs[Long]("neighbor_id"))).sortBy(identity).toSeq,
        s"query $q not ordered by (iscore DESC, neighbor)")
    }
    // the point of the refinement: recall@10 vs the exact scan must
    // strictly beat s16's raw PQ ranking on this corpus (the s17
    // profile reads ~0.4 there — int8 refine scores are near-exact, so
    // the pool's true neighbors come back)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val exact = pairs(Similarity.s01KnnBruteForce(spark, sfDir))
    val r16 = (exact & pairs(Similarity.s16IvfPqSearch(spark, sfDir))).size
    val r18 = (exact & got.map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("neighbor_id"))).toSet).size
    info(s"exact-overlap pairs: s16=$r16 s18=$r18 of ${exact.size}")
    assert(r18 > r16,
      s"s18 overlap $r18 must strictly beat s16's $r16 — refinement recovered nothing")
  }

  test("s19 curve matches a per-pool driver replay, is monotone, and agrees with s18 at the production pool") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val exact = pairs(Similarity.s01KnnBruteForce(spark, sfDir))
    val adc = Similarity.ivfPqAdc(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("adc_micro")))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .map { r =>
        val v = r.getAs[scala.collection.Seq[Float]]("embedding")
          .toSeq.map(_.toDouble)
        val maxabs = v.map(math.abs).foldLeft(0.0)(math.max)
        r.getAs[Long]("vec_id") -> (
          if (maxabs > 0) v.map(x => math.floor(x * 127.0 / maxabs).toLong)
          else v.map(_ => 0L))
      }.toMap
    def iscore(q: Long, n: Long): Long =
      emb(q).zip(emb(n)).map { case (a, b) => a * b }.sum
    def replay(pool: Int): Long = {
      val top = adc.groupBy(_._1).toSeq.flatMap { case (q, rs) =>
        rs.sortBy(r => (r._3, r._2)).take(pool)
          .map(r => (q, r._2, iscore(q, r._2)))
          .sortBy(t => (-t._3, t._2)).take(10)
          .map(t => (t._1, t._2))
      }.toSet
      (top & exact).size.toLong
    }
    val got = Similarity.s19RefinePoolCurve(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("pool"),
        (r.getAs[Long]("n_exact"), r.getAs[Long]("n_overlap"))))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == Similarity.PoolSweep.map(_.toLong))
    got.foreach { case (pool, (ne, no)) =>
      assert(ne == exact.size.toLong)
      assert(no == replay(pool.toInt), s"pool $pool overlap")
    }
    // wider pools can only help (the shortlist grows monotonically)
    val ovs = got.map(_._2._2)
    assert(ovs.zip(ovs.tail).forall { case (a, b) => b >= a },
      s"recall not monotone in pool: $ovs")
    // the production point reproduces s18's registered ranking
    val s18ov = (exact & pairs(Similarity.s18PqRefine(spark, sfDir))).size
    assert(got.toMap.apply(Similarity.RescorePool.toLong)._2 ==
      s18ov.toLong, "curve diverges from s18 at the production pool")
  }

  test("s15 accounts for every test vector; matches are train-split; verdict = tau cut") {
    import spark.implicits._
    val rows = Similarity.s15SemanticDecontam(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // the same 16-bit md5-prefix fold, driver-side
    def bucket(id: Long): Long =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(2).foldLeft(0L)((h, b) => h * 256 + (b & 0xff))
    val allIds = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0))
    val testIds = allIds.filter(bucket(_) >= 62259).toSet
    assert(rows.map(_.getAs[Long]("test_id")).toSet == testIds,
      "output must hold exactly one row per test-split vector")
    assert(rows.length == testIds.size)
    rows.foreach { r =>
      val c = r.getAs[Long]("contaminated")
      if (r.isNullAt(r.fieldIndex("best_train_id"))) {
        assert(c == 0L, "a matchless test vector cannot be contaminated")
      } else {
        assert(bucket(r.getAs[Long]("best_train_id")) < 58982,
          "best match must come from the train split")
        assert((c == 1L) ==
          (r.getAs[Double]("best_cosine") >= Similarity.SemDedupTau))
      }
    }
  }

  test("doubling the trained cell count shrinks the max cell share on a skewed corpus") {
    import spark.implicits._
    // skewed fixture: one dominant blob (160 vectors) plus three small
    // ones (16 each) in 8 dims, seeded so the test is deterministic.
    // vec_ids interleave blob members so the first-k init sees variety.
    val rnd = new scala.util.Random(42)
    def blob(center: Array[Double], n: Int): Seq[Array[Double]] =
      Seq.fill(n)(center.map(c => c + rnd.nextGaussian() * 0.15))
    val centers = Seq(
      Array(5.0, 0, 0, 0, 0, 0, 0, 0),
      Array(0.0, 5, 0, 0, 0, 0, 0, 0),
      Array(0.0, 0, 5, 0, 0, 0, 0, 0),
      Array(0.0, 0, 0, 5, 0, 0, 0, 0))
    val vecs = (blob(centers(0), 160) ++ centers.tail.flatMap(blob(_, 16)))
    val e = rnd.shuffle(vecs).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "v")
    def maxShare(cells: Int): Double = {
      val occ = Similarity.cellOccupancy(spark, e, cells)
        .collect().map(_.getAs[Long]("n_vectors"))
      assert(occ.sum == vecs.size, "every vector lands in exactly one cell")
      occ.max.toDouble / occ.sum
    }
    val at4 = maxShare(4)
    val at8 = maxShare(8)
    // even distribution would be 0.25 at k=4; the dominant blob keeps
    // the hot cell well above that (Lloyd may split the blob across
    // two cells, so the share is bounded by ~0.5, not 0.77)
    assert(at4 > 0.33, s"fixture must be skewed at k=4, max share $at4")
    assert(at8 < at4,
      s"doubling cells must shrink the hot cell: k=4 share $at4, k=8 share $at8")
    // the retrain lever the docs prescribe: k ~ sqrt(n)
    assert(Similarity.recommendedCells(vecs.size) == 14)
    assert(Similarity.recommendedCells(1000000) == 1000)
  }

  test("s06 occupancy profile partitions the corpus and prices the self-join") {
    val rows = Similarity.s06CellProfile(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_vectors")).sum
    assert(total == graft.Tables.embeddings(spark, sfDir).count(),
      "cells must partition the corpus exactly")
    rows.foreach { r =>
      val n = r.getAs[Long]("n_vectors")
      assert(r.getAs[Long]("self_join_pairs") == n * (n - 1) / 2)
    }
  }

  test("s04 k-means IVF recall holds up and centroids are bit-deterministic") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val exact = neighborSets(Similarity.s01KnnBruteForce(spark, sfDir))
    val km = neighborSets(Similarity.s04IvfKmeans(spark, sfDir))
    val mean = meanRecall(km, exact)
    assert(mean >= 0.3, f"mean k-means IVF recall $mean%.2f below floor")
    // quantized-integer dimension sums make centroid training
    // reproducible bit-for-bit across plans/partitionings
    val e = graft.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    def centsOf(df: org.apache.spark.sql.DataFrame) =
      Similarity.kmeansCentroids(spark, df, 16, 2)
        .collect().map(r => (r.getAs[Long]("cid"),
          r.getAs[Seq[Double]]("cv").toList)).toMap
    val a = centsOf(e)
    val b = centsOf(e.repartition(7))
    assert(a == b, "centroids differ across partitionings")
    // k-means moved the centroids off their seeds
    val seed = e.filter($"vec_id" < 16).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Double]]("v").toList)).toMap
    assert(a.exists { case (cid, cv) => seed(cid) != cv })
  }

  test("s07 returns exactly the within-cell pairs at or above tau") {
    val rows = Similarity.s07SemanticDedup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // ground truth from the same trained index the query consumes,
    // with the cosine re-derived in the expression's exact fold order
    val (_, assign) = Similarity.ivfIndex(spark, sfDir,
      Similarity.TrainedVariant, Similarity.corpusCells(spark, sfDir))
    val cellOf = assign.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    val vecOf = Similarity.vectors(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Double]]("v").toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val ids = vecOf.keys.toArray.sorted
    val expected = (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      if cellOf(a) == cellOf(b) && cos(vecOf(a), vecOf(b)) >= Similarity.SemDedupTau
    } yield (cellOf(a), a, b)).toSet
    val got = rows.map(r => (r.getAs[Long]("cell"), r.getAs[Long]("a_id"),
      r.getAs[Long]("b_id"))).toSet
    assert(got == expected,
      s"missing ${expected -- got}, spurious ${got -- expected}")
    rows.foreach { r =>
      val c = r.getAs[Double]("cosine")
      assert(c == cos(vecOf(r.getAs[Long]("a_id")), vecOf(r.getAs[Long]("b_id"))))
    }
    // the candidate space s07 searched is exactly s06's monitored
    // self_join_pairs volume — the pruning claim, cross-checked
    val candidates = Similarity.s06CellProfile(spark, sfDir).collect()
      .map(_.getAs[Long]("self_join_pairs")).sum
    assert(rows.length <= candidates)
    assert(candidates < ids.length.toLong * (ids.length - 1) / 2,
      "cell blocking must prune the all-pairs space")
  }

  test("s08 SQ8 rescore: valid top-k shape and high agreement with s02") {
    val rows = Similarity.s08Sq8Rescore(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // exact top-k shape: ranks 1..k unique per query, cosine descending
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val ranks = rs.map(_.getAs[Long]("rank")).sorted
      assert(ranks.toSeq == (1L to ranks.length).toSeq, s"ranks broken for $q")
      val cs = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    // the int8 pool cut may only reorder WITHIN the same IVF candidate
    // set s02 ranks, so agreement with the float path should be high —
    // this is the rescore-recall claim (quantization costs little when
    // the pool is 3x the final k)
    val sq8 = rows.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val flt = Similarity.s02IvfKnn(spark, sfDir).collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val overlap = sq8.intersect(flt).size.toDouble / flt.size
    assert(overlap >= 0.8, s"SQ8 rescore agreement with s02 is $overlap")
  }

  test("s09 incremental assign partitions base and delta over k(base) cells") {
    val n = graft.Tables.embeddings(spark, sfDir).count()
    val nBase = n * 9 / 10
    val rows = Similarity.s09IncrementalAssign(spark, sfDir).collect()
    // one row per trained cell, k sized from the BASE corpus
    assert(rows.length == Similarity.recommendedCells(nBase))
    assert(rows.map(_.getAs[Long]("cell")).distinct.length == rows.length)
    // every vector lands in exactly one cell, on the correct side
    assert(rows.map(_.getAs[Long]("n_base")).sum == nBase)
    assert(rows.map(_.getAs[Long]("n_delta")).sum == n - nBase)
    // the delta actually exercised the frozen index (non-degenerate)
    assert(rows.map(_.getAs[Long]("n_delta")).sum > 0)
  }

  test("s10 filtered ANN: no same-label neighbor, promotes s02's cross-label rows") {
    val labels = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val s10 = Similarity.s10FilteredKnn(spark, sfDir).collect()
    val s02 = Similarity.s02IvfKnn(spark, sfDir).collect()
    assert(s10.nonEmpty)
    // the predicate holds on every result row
    s10.foreach { r =>
      assert(labels(r.getAs[Long]("query_id")) !=
        labels(r.getAs[Long]("neighbor_id")), "same-label neighbor leaked")
    }
    // ranks are contiguous from 1 per query
    s10.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      assert(g.map(_.getAs[Long]("rank")).sorted.toSeq ==
        (1L to g.length.toLong))
    }
    // same candidate pool, subset predicate: every cross-label row of
    // s02's top-10 must survive into s10's top-10 (dropping same-label
    // candidates can only promote the rest)
    val s10Pairs = s10.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val s02Cross = s02.filter(r => labels(r.getAs[Long]("query_id")) !=
      labels(r.getAs[Long]("neighbor_id")))
    s02Cross.foreach { r =>
      val p = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(s10Pairs.contains(p), s"s02 cross-label pair $p missing from s10")
    }
    // ... and the predicate must actually bind somewhere: if no s02
    // top-10 ever contained a same-label neighbor, this operator would
    // be testing nothing
    assert(s02.length > s02Cross.length,
      "s02 top-10s contain no same-label rows — filter never exercised")
  }
}
