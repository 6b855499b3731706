package graft.pipeline

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {

  test("every text-analysis query has an oracle and runs non-empty") {
    assert(TextAnalysis.oracles.keySet == TextAnalysis.queries.keySet)
    TextAnalysis.queries.foreach { case (name, fn) =>
      assert(fn(spark, sfDir).count() > 0, s"$name returned no rows")
    }
  }

  test("p01 token stats are internally consistent") {
    val rows = TextAnalysis.p01TokenStats(spark, sfDir).collect()
    rows.foreach { r =>
      val nTok = r.getAs[Long]("n_tokens")
      val nUniq = r.getAs[Long]("n_uniq_tokens")
      val nSub = r.getAs[Long]("n_subtokens")
      assert(nUniq <= nTok)
      assert(nSub >= nTok, "subword count can never be below word count")
      assert(r.getAs[Long]("max_token_len") <= r.getAs[Long]("n_chars"))
    }
  }

  test("p09 contamination counts are consistent and catch a planted test/train dup") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.p09Contamination(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val hits = r.getAs[Long]("n_hit")
      assert(hits <= r.getAs[Long]("n_grams"))
      assert(r.getAs[Long]("contaminated") == (if (hits > 0) 1L else 0L))
    }
    // every row is a TEST-split doc
    val testIds = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", TextAnalysis.SplitBucket.as("b"))
      .filter($"b" >= TextAnalysis.ValMax)
      .select("doc_id").as[Long].collect().toSet
    assert(rows.map(_.getAs[Long]("doc_id")).forall(testIds.contains))
    // ground truth: a test doc that exactly duplicates a train doc's
    // text (the d01 exact-dup groups straddle the split at this SF)
    // MUST be flagged — cross-check one via the raw tables
    val dup = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", TextAnalysis.SplitBucket.as("b"), md5($"text").as("h"),
        size(split(trim($"text"), "\\s+")).as("nTok"))
      .filter($"nTok" >= TextAnalysis.ContamN)
    val straddling = dup.as("a").join(dup.as("b"), $"a.h" === $"b.h")
      .filter($"a.b" >= TextAnalysis.ValMax && $"b.b" < TextAnalysis.TrainMax)
      .select($"a.doc_id").distinct().as[Long].collect().toSet
    if (straddling.nonEmpty) {
      val flagged = rows.filter(r => straddling.contains(r.getAs[Long]("doc_id")))
      assert(flagged.nonEmpty &&
        flagged.forall(_.getAs[Long]("contaminated") == 1L),
        "an exact test/train duplicate must be contaminated")
    }
  }

  test("p10 leaked grams reconcile with p09 and the bloom prune stays pre-shuffle") {
    val leaks = TextAnalysis.p10LeakedGrams(spark, sfDir).collect()
    assert(leaks.nonEmpty)
    leaks.foreach(r => assert(r.getAs[Long]("n_train_docs") >= 1L))
    // per-doc rollup of the gram detail == p09's (n_hit, contaminated=1) rows
    val byDoc = leaks.groupBy(_.getAs[Long]("doc_id")).view.mapValues(_.length.toLong).toMap
    val p09 = TextAnalysis.p09Contamination(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_hit"), r.getAs[Long]("contaminated")))).toMap
    byDoc.foreach { case (id, n) =>
      assert(p09(id) == ((n, 1L)), s"doc $id: p10 detail disagrees with p09")
    }
    p09.foreach { case (id, (hits, _)) =>
      assert(byDoc.getOrElse(id, 0L) == hits,
        s"doc $id: p09 counts $hits leaked grams, p10 lists ${byDoc.getOrElse(id, 0L)}")
    }
    // the prune must sit BELOW the per-gram aggregation (and so below
    // its shuffle): the bloom membership filter's subtree may contain
    // no Aggregate — pruned train grams never reach the exchange. The
    // predicate is Spark's native BloomFilterMightContain expression
    // (codegen), not a boxed UDF, since round 16.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    val opt = TextAnalysis.p10LeakedGrams(spark, sfDir)
      .queryExecution.optimizedPlan
    val prune = opt.collect {
      case f: Filter if f.condition.find(
        _.isInstanceOf[BloomFilterMightContain]).isDefined => f
    }
    assert(prune.nonEmpty, "bloom mightContain prune missing from the plan")
    prune.foreach(f => assert(
      f.collectFirst { case a: Aggregate => a }.isEmpty,
      "the bloom prune must run below the per-gram aggregation"))
  }

  test("sharded p10 sweep equals the single-sketch output, shard by shard bounded") {
    def asTuples(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("g"),
        r.getAs[Long]("n_train_docs"))).toSeq
    val single = asTuples(TextAnalysis.p10LeakedGrams(spark, sfDir).collect())
    // shard counts that do and don't divide the 16-bit prefix space
    // evenly, plus a count larger than the leaked-gram set
    Seq(2, 3, 7).foreach { shards =>
      val sharded = asTuples(
        TextAnalysis.leakedGramsSharded(spark, sfDir, shards).collect())
      assert(sharded == single,
        s"$shards-shard sweep diverged from the single-sketch output")
    }
    // schema identical to the registered query (same downstream shape)
    assert(TextAnalysis.leakedGramsSharded(spark, sfDir, 2).schema ==
      TextAnalysis.p10LeakedGrams(spark, sfDir).schema)
    intercept[IllegalArgumentException] {
      TextAnalysis.leakedGramsSharded(spark, sfDir, 0)
    }
    // every shard's bloom prune must sit below that shard's per-gram
    // aggregation — the same plan guarantee the single-sketch test
    // pins, once per sweep
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    val opt = TextAnalysis.leakedGramsSharded(spark, sfDir, 3)
      .queryExecution.optimizedPlan
    val prunes = opt.collect {
      case f: Filter if f.condition.find(
        _.isInstanceOf[BloomFilterMightContain]).isDefined => f
    }
    // >= 3, not == 3: InferFiltersFromConstraints also copies the
    // (deterministic) predicate across the g-equality join onto the
    // test side, so each shard can contribute more than one filter
    assert(prunes.size >= 3, s"expected a bloom prune per shard, got ${prunes.size}")
    prunes.foreach(f => assert(
      f.collectFirst { case a: Aggregate => a }.isEmpty,
      "a shard's bloom prune must run below its per-gram aggregation"))
  }

  test("p11 quantiles: ordered, R-7 interpolation pinned, histogram partials") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = TextAnalysis.p11LengthQuantiles(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("p50_tokens") <= r.getAs[Double]("p90_tokens"))
      assert(r.getAs[Double]("p90_tokens") <= r.getAs[Double]("p99_tokens"))
      assert(r.getAs[Long]("n_docs") > 0L)
    }
    // exact percentile must plan a PARTIAL object-hash aggregate —
    // histograms cross the wire, not rows
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), "percentile lost its hash agg")
    assert(plan.toLowerCase.contains("partial_percentile"),
      "percentile lost its map-side partial — raw rows would shuffle")
    // pin the R-7 linear-interpolation convention the oracle parity
    // rests on: for (10,20,30,40), p50 sits at rank (n-1)*0.5 = 1.5 →
    // 20 + 0.5*(30-20) = 25. The approx twin may only snap to a real
    // data point (rank-error semantics), never interpolate.
    val planted = Seq(10L, 20L, 30L, 40L).toDF("n")
    val ex = planted.agg(percentile($"n", lit(0.5))).head.getDouble(0)
    assert(ex == 25.0, s"R-7 interpolation broken: got $ex")
    val ap = planted.agg(percentile_approx($"n", lit(0.5), lit(1000)))
      .head.getLong(0)
    assert(ap == 20L || ap == 30L, s"approx p50 must be a data point, got $ap")
  }

  test("p02 buckets partition the corpus") {
    val total = graft.Tables.documents(spark, sfDir).count()
    val rows = TextAnalysis.p02QualityBuckets(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    rows.foreach(r => assert(r.getAs[Long]("sum_stop") <= r.getAs[Long]("sum_tokens")))
  }

  test("p03 lang profile covers all docs, chars bounded by min/max") {
    val total = graft.Tables.documents(spark, sfDir).count()
    val rows = TextAnalysis.p03LangProfile(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      assert(r.getAs[Long]("sum_chars") >= n * r.getAs[Long]("min_chars"))
      assert(r.getAs[Long]("sum_chars") <= n * r.getAs[Long]("max_chars"))
    }
  }

  test("p04 predictions are valid labels and the matrix covers all docs") {
    val total = graft.Tables.documents(spark, sfDir).count()
    val rows = TextAnalysis.p04LangIdConfusion(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    val valid = Set("en", "es", "de", "fr", "zh", "unknown")
    assert(rows.forall(r => valid(r.getAs[String]("pred_lang"))))
  }

  test("p05 fingerprints: group sizes sum to corpus size, keep_id minimal") {
    val total = graft.Tables.documents(spark, sfDir).count()
    val rows = TextAnalysis.p05Fingerprint(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    assert(rows.map(_.getAs[String]("fingerprint")).distinct.length == rows.length)
  }

  test("p08 repetition profile is internally consistent with p01 token counts") {
    import org.apache.spark.sql.functions._
    val toks = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n")).toMap
    val rows = TextAnalysis.p08RepetitionProfile(spark, sfDir).collect()
    // exactly the >=3-token docs appear
    assert(rows.length == toks.count(_._2 >= 3))
    rows.foreach { r =>
      val (id, nTri, nUniq, maxCnt, rep) = (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tri"), r.getAs[Long]("n_uniq_tri"),
        r.getAs[Long]("max_tri_cnt"), r.getAs[Long]("repetitive"))
      assert(nTri == toks(id) - 2, s"doc $id: trigram count must be n_tokens-2")
      assert(nUniq >= 1 && nUniq <= nTri && maxCnt >= 1 && maxCnt <= nTri)
      assert(maxCnt - 1 <= nTri - nUniq, s"doc $id: repeat mass inconsistent")
      assert(rep == (if ((nTri - nUniq) * 5 >= nTri) 1L else 0L))
    }
    // a synthetically repetitive doc flags; a clean one doesn't
    import spark.implicits._
    val planted = Seq(
      (1L, ("spam ham " * 30).trim), // "spam ham spam ham ..." repeats
      (2L, (1 to 60).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val pl = planted.select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("t")) - 2),
        i => array_join(slice(col("t"), i, lit(3)), " "))).as("tri"))
      .groupBy(col("doc_id"), col("tri")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tri"), count(lit(1)).as("n_uniq_tri"))
      .withColumn("repetitive",
        when((col("n_tri") - col("n_uniq_tri")) * 5 >= col("n_tri"), 1L).otherwise(0L))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("repetitive")).toMap
    assert(pl(1L) == 1L && pl(2L) == 0L)
  }

  test("p07 split covers every doc, skews ~90/5/5, and is deterministic") {
    val total = graft.Tables.documents(spark, sfDir).count()
    def profile() = TextAnalysis.p07SplitProfile(spark, sfDir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("split")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens")))).toMap
    val p = profile()
    assert(p.values.map(_._1).sum == total)
    val bySplit = p.toSeq.groupBy(_._1._2).view
      .mapValues(_.map(_._2._1).sum).toMap
    // hash split: train share must dominate (loose bound for a small corpus)
    assert(bySplit("train") * 10 >= total * 8)
    assert(bySplit.getOrElse("val", 0L) + bySplit.getOrElse("test", 0L) < total / 4)
    // same assignment on a second run — the split is a pure hash of doc_id
    assert(profile() == p)
  }

  test("langid heuristic: every branch fires on a marker-bearing fixture") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the oracle corpus is English word salad, so the zh/es/de/fr/
    // unknown arms never fire in any gate — plant one doc per branch,
    // plus precedence probes (first match wins: zh > es > de > fr > en)
    val fixtures = Seq(
      ("你好 world greetings", "zh"),            // CJK charset beats any marker
      ("el gato come pescado", "es"),            // " el "
      ("una cosa más", "es"),                    // " una "
      ("der zug kommt nicht", "de"),             // " der "
      ("le chat dort", "fr"),                    // " le "
      ("c'est ici que der zug", "es"),           // es marker outranks de
      ("der hund est là", "de"),                 // de marker outranks fr
      ("le monde is big", "fr"),                 // fr marker outranks en
      ("the cat is here and there", "en"),
      ("zzz qqq www", "unknown"))
    val got = fixtures.map(_._1).toDF("text")
      .select(col("text"), TextAnalysis.langIdPred(col("text")).as("pred"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    fixtures.foreach { case (text, want) =>
      assert(got(text) == want, s"'$text' predicted ${got(text)}, want $want")
    }
  }

  test("durable contaminated-doc artifact: a cold session reads the list from disk") {
    import org.apache.hadoop.fs.Path
    val path = TextAnalysis.contamArtifact.path(sfDir)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def wipe(): Unit =
      Seq(path, path + "_old", path + "_staging")
        .foreach(p => fs.delete(new Path(p), true))
    // provenance via the analyzed plan's scan roots (Dataset.inputFiles
    // returns empty for persisted frames in Spark 4.1, so it can't be
    // the witness here)
    def scanRoots(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
    try {
      wipe()
      TextAnalysis.invalidateCaches()
      // warm sweep publishes the list as a side effect
      val warm = TextAnalysis.contaminatedDocs(spark, sfDir)
        .collect().map(_.getLong(0)).toSet
      assert(fs.exists(new Path(path + "/_fingerprint")),
        "the sweep must publish the list (parquet + fingerprint)")
      // cold session (memo cleared): the list must come from the
      // artifact — no gram-index rebuild, no documents scan
      TextAnalysis.invalidateCaches()
      val cold = TextAnalysis.contaminatedDocs(spark, sfDir)
      val roots = scanRoots(cold)
      assert(roots.nonEmpty && roots.forall(_.contains("_p09_contam")),
        s"cold list not served from the artifact: ${roots.take(2).mkString(",")}")
      assert(cold.collect().map(_.getLong(0)).toSet == warm,
        "artifact-served list must equal the fresh sweep")
      // the export consuming the artifact-served list is unchanged
      val x02 = graft.pipeline.Export.x02DecontaminatedExport(spark, sfDir)
        .collect().map(_.getAs[Long]("doc_id")).toSeq
      TextAnalysis.invalidateCaches()
      // a stale fingerprint (foreign/outdated artifact) forces a re-sweep:
      // exactly one republish, restamped with the current fingerprint
      // (the rebuilt frame itself is served from the republished parquet)
      val out = fs.create(new Path(path + "/_fingerprint"), true)
      try out.write("stale".getBytes("UTF-8")) finally out.close()
      val published = ArtifactStore.publishEvents.getOrElse(path, 0L)
      val rebuilt = TextAnalysis.contaminatedDocs(spark, sfDir)
      assert(ArtifactStore.publishEvents.getOrElse(path, 0L) == published + 1,
        "a stale fingerprint must trigger exactly one re-sweep and republish")
      val stamped = {
        val in = fs.open(new Path(path + "/_fingerprint"))
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      }
      assert(stamped == TextAnalysis.contamArtifact.currentFingerprint(spark, sfDir),
        "the re-sweep must restamp the current fingerprint")
      assert(rebuilt.collect().map(_.getLong(0)).toSet == warm)
      assert(graft.pipeline.Export.x02DecontaminatedExport(spark, sfDir)
        .collect().map(_.getAs[Long]("doc_id")).toSeq == x02,
        "x02 must be identical whether the list is swept or read from disk")
    } finally {
      wipe()
      TextAnalysis.invalidateCaches()
    }
  }

  test("p12 keep decision is the documented salted-hash threshold, per row") {
    import spark.implicits._
    val kept = TextAnalysis.p12SampleManifest(spark, sfDir).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang"))
    // the decision recomputed independently in the JVM: the first 16
    // bits of md5("smp" || doc_id) against the stratum threshold
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"smp$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(4), 16)
    }
    val expected = docs.collect { case (id, lang)
        if bucket(id) < (if (lang == "en") TextAnalysis.SampleEnMax
                         else TextAnalysis.SampleOtherMax) => id }.toSet
    assert(kept == expected,
      s"missing ${expected -- kept}, spurious ${kept -- expected}")
    // the rebalance actually happened: en is sampled well below the
    // other strata (rates near 25% vs 75% under hash uniformity)
    val byLang = docs.toMap
    def rate(p: String => Boolean) = {
      val all = docs.count { case (_, l) => p(l) }
      kept.count(id => p(byLang(id))).toDouble / all
    }
    val en = rate(_ == "en"); val other = rate(_ != "en")
    assert(en > 0.1 && en < 0.4, f"en keep rate $en%.2f far from 0.25")
    assert(other > 0.6 && other < 0.9, f"non-en keep rate $other%.2f far from 0.75")
    assert(en < other)
  }

  test("p13 frequency-quality profile reconciles with hand-computed counts") {
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.p13FreqQuality(spark, sfDir).collect()
    val p01 = TextAnalysis.p01TokenStats(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    assert(rows.length == p01.size, "one profile row per document")
    rows.foreach { r =>
      val n = r.getAs[Long]("n_tokens"); val oov = r.getAs[Long]("n_oov")
      assert(n == p01(r.getAs[Long]("doc_id")), "token counts must agree with p01")
      assert(oov >= 0 && oov <= n)
      // every in-vocab occurrence contributes its global frequency >= 1
      assert(r.getAs[Long]("vocab_freq_sum") >= n - oov)
    }
    // the cutoff is non-degenerate on this corpus: OOV mass exists and
    // so does in-vocab mass (vocab 16 < 31 distinct terms)
    assert(rows.exists(_.getAs[Long]("n_oov") > 0), "no OOV signal — cutoff degenerate")
    assert(rows.exists(r => r.getAs[Long]("n_oov") < r.getAs[Long]("n_tokens")))
    // hand-recompute one document against the corpus term frequencies
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val tf = docs.values.toSeq.flatMap(_.trim.split("\\s+"))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vocab = tf.toSeq.sortBy { case (t, f) => (-f, t) }
      .take(TextAnalysis.FreqVocabSize).toMap
    val someId = docs.keys.min
    val toksOf = docs(someId).trim.split("\\s+").toSeq
    val expected = (toksOf.size.toLong,
      toksOf.count(t => !vocab.contains(t)).toLong,
      toksOf.flatMap(vocab.get).sum)
    val got = rows.find(_.getAs[Long]("doc_id") == someId).get
    assert((got.getAs[Long]("n_tokens"), got.getAs[Long]("n_oov"),
      got.getAs[Long]("vocab_freq_sum")) == expected)
  }

  test("p14 leakage matrix equals the hand-computed gram-set intersections") {
    import org.apache.spark.sql.functions.col
    val rows = TextAnalysis.p14CrossSourceLeakage(spark, sfDir).collect()
    assert(rows.nonEmpty, "no cross-source 13-gram sharing — degenerate corpus")
    rows.foreach { r =>
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
      assert(r.getAs[Long]("n_shared_grams") >= 1)
    }
    // brute-force recompute: per-source distinct gram-string sets
    val bySource = graft.Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[String]("text"))
      .groupBy(_._1).view.mapValues { docs =>
        docs.flatMap { case (_, text) =>
          val t = text.trim.split("\\s+")
          if (t.length < 13) Seq.empty
          else t.sliding(13).map(_.mkString(" ")).toSeq
        }.toSet
      }.toMap
    val expected = (for {
      a <- bySource.keys; b <- bySource.keys; if a < b
      n = bySource(a).intersect(bySource(b)).size
      if n > 0
    } yield (a, b, n.toLong)).toSet
    val got = rows.map(r => (r.getAs[String]("src_a"),
      r.getAs[String]("src_b"), r.getAs[Long]("n_shared_grams"))).toSet
    assert(got == expected,
      s"missing ${expected -- got}, spurious ${got -- expected}")
  }

  test("p15 diversity profile matches a brute-force per-doc count, both flags") {
    import org.apache.spark.sql.functions.col
    val rows = TextAnalysis.p15LexicalDiversity(spark, sfDir).collect()
    val raw = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.split("\\s+").toSeq).toMap
    assert(rows.length == raw.size)
    rows.foreach { r =>
      val counts = raw(r.getAs[Long]("doc_id")).groupBy(identity)
        .map { case (_, g) => g.size.toLong }
      val n = counts.sum
      assert(r.getAs[Long]("n_tokens") == n)
      assert(r.getAs[Long]("n_types") == counts.size.toLong)
      assert(r.getAs[Long]("sum_c2") == counts.map(c => c * c).sum)
      assert(r.getAs[Long]("max_c") == counts.max)
      val expectFlag =
        if (r.getAs[Long]("sum_c2") * TextAnalysis.DiversityCut >= n * n) 1L
        else 0L
      assert(r.getAs[Long]("low_diversity") == expectFlag)
    }
    // the cut sits at the corpus median by calibration: both branches live
    assert(rows.exists(_.getAs[Long]("low_diversity") == 1L),
      "low-diversity branch degenerate")
    assert(rows.exists(_.getAs[Long]("low_diversity") == 0L),
      "high-diversity branch degenerate")
  }

  test("p16 BPE merges equal a reference driver-side trainer, counts non-increasing") {
    import org.apache.spark.sql.functions.col
    // reference trainer over the collected word-frequency table: greedy
    // top-pair selection (count desc, lexicographic) + leftmost
    // non-cascading merge — the textbook algorithm, independently coded
    val freqs = scala.collection.mutable.Map.empty[Vector[String], Long]
    graft.Tables.documents(spark, sfDir).select(col("text")).collect()
      .flatMap(_.getString(0).trim.split("\\s+"))
      .foreach { w =>
        val k = w.split("").toVector
        freqs(k) = freqs.getOrElse(k, 0L) + 1L
      }
    var state = freqs.toMap
    val expected = (1 to 8).map { _ =>
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      state.foreach { case (sy, f) =>
        sy.sliding(2).filter(_.size == 2).foreach { p =>
          pairCounts((p(0), p(1))) = pairCounts.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      val ((a, b), cnt) = pairCounts.toSeq.sortBy { case ((x, y), c) => (-c, x, y) }.head
      state = state.groupBy { case (sy, _) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        sy.foreach { x =>
          if (out.nonEmpty && out.last == a && x == b)
            out(out.length - 1) = a + b
          else out += x
        }
        out.toVector
      }.map { case (sy, g) => sy -> g.values.sum }
      (a, b, cnt)
    }
    val rows = TextAnalysis.p16BpeMerges(spark, sfDir).collect()
    assert(rows.length == 8)
    rows.zip(expected).zipWithIndex.foreach { case ((r, (a, b, cnt)), i) =>
      assert(r.getAs[Long]("rank") == i + 1)
      assert(r.getAs[String]("left_sym") == a, s"rank ${i + 1} left")
      assert(r.getAs[String]("right_sym") == b, s"rank ${i + 1} right")
      assert(r.getAs[String]("merged") == a + b)
      assert(r.getAs[Long]("cnt") == cnt, s"rank ${i + 1} count")
    }
    // the standard BPE monotonicity: a later rule's count can't exceed
    // an earlier one's (any pair present earlier was choosable then)
    val cnts = rows.map(_.getAs[Long]("cnt"))
    assert(cnts.zip(cnts.tail).forall { case (x, y) => x >= y })
  }

  test("p16 interval-persist trains the identical rule list (persist moves recompute, never rows)") {
    // the round-20 interval-persist form: persisting every K-th merge
    // state must be invisible in the trained rules at ANY K — merge
    // count chosen > K so layers actually persist, and > BpeMerges so
    // the test exercises depth the benchmarked query never reaches
    val never = TextAnalysis.trainBpe(spark, sfDir, merges = 12,
      persistEvery = 0)
    val interval = TextAnalysis.trainBpe(spark, sfDir, merges = 12,
      persistEvery = 4)
    assert(interval == never,
      s"interval-persist diverged: $interval vs $never")
  }

  test("p16 interval-persist releases every layer when a layer's count throws") {
    def cached = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = cached
    var filled = 0
    // the second layer fills its blocks, then its count fails: the
    // layer it was about to replace AND the layer itself must go
    intercept[IllegalStateException] {
      TextAnalysis.trainBpe(spark, sfDir, merges = 12, persistEvery = 4,
        materialize = { df =>
          df.count()
          filled += 1
          if (filled == 2) throw new IllegalStateException("injected count failure")
        })
    }
    assert(filled == 2)
    assert(cached == before,
      s"persisted BPE layers outlived the failed training: ${cached -- before}")
  }

  test("p17 winnowing equals a reference implementation, density in bounds") {
    import org.apache.spark.sql.functions.col
    val (k, w) = (TextAnalysis.WinnowK, TextAnalysis.WinnowW)
    val (bigM, bigB) = (2147483647L, 131L)
    def h32(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      hex.foldLeft(0L)((a, c) => a * 16 + "0123456789abcdef".indexOf(c))
    }
    val expected = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .flatMap { r =>
        val t = r.getString(1).trim.split("\\s+")
        if (t.length < k) None else {
          // packed (hash, rightmost-pos) grams; i is 1-based like the
          // impl; gram hash = Rabin-Karp combine of per-token hashes
          val xs = t.map(tok => h32(tok) % bigM)
          val pows = (0 until k).map(p => math.pow(bigB.toDouble,
            (k - 1 - p).toDouble).toLong)
          val cmb = (1 to t.length - k + 1).map(i =>
            ((0 until k).map(o => xs(i - 1 + o) * pows(o)).sum % bigM)
              * 4096L + (4095L - i))
          val sel = (1 to math.max(cmb.length - w + 1, 1))
            .map(j => cmb.slice(j - 1, j - 1 + w).min).distinct
          Some((r.getLong(0), cmb.length.toLong, sel.length.toLong,
            sel.map(_ >> 12).sum, sel.min >> 12))
        }
      }.toSeq
    val rows = TextAnalysis.p17Winnowing(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_selected"), r.getAs[Long]("fp_sum"),
        r.getAs[Long]("fp_min"))).toSeq
    assert(rows == expected)
    // winnowing picks at most one fingerprint per window and at least
    // one per ceil(m/w) disjoint windows — density sits in (1/w, 1]
    rows.foreach { case (_, m, nSel, _, _) =>
      assert(nSel >= 1 && nSel <= math.max(m - w + 1, 1))
      assert(nSel * w >= m - w + 1, "window coverage violated")
    }
  }

  test("p19 encode: bounded by chars and words, consistent with p01, merges bite") {
    val enc = TextAnalysis.p19BpeEncode(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe_tokens"))).toMap
    val p01 = TextAnalysis.p01TokenStats(spark, sfDir).collect()
    assert(enc.size == p01.length, "every document must encode")
    var anyCompressed = false
    p01.foreach { r =>
      val (nw, nb) = enc(r.getAs[Long]("doc_id"))
      assert(nw == r.getAs[Long]("n_tokens"),
        "p19's word count must agree with p01's tokenizer")
      // each word is >= 1 symbol; starting state is one symbol per char
      // (chars = n_chars - separators = n_chars - (n_tokens - 1))
      val chars = r.getAs[Long]("n_chars") - (nw - 1)
      assert(nb >= nw && nb <= chars, s"n_bpe_tokens $nb outside [$nw, $chars]")
      if (nb < chars) anyCompressed = true
    }
    assert(anyCompressed,
      "no document compressed — the learned merges never applied")
  }

  test("p18 overlap pairs equal a brute-force intersect of p17's selections") {
    val out = TextAnalysis.p18FingerprintOverlap(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("a_id") < r.getAs[Long]("b_id"))
      val sh = r.getAs[Long]("shared")
      assert(sh >= TextAnalysis.FpMinShared)
      assert(sh <= math.min(r.getAs[Long]("na"), r.getAs[Long]("nb")))
    }
    // reference: per-doc distinct selected HASH sets recomputed from
    // p17's spec-verified selection rule, then all-pairs intersection
    // (corpus is test-sized; the query must agree with brute force)
    import org.apache.spark.sql.functions.col
    val (k, w) = (TextAnalysis.WinnowK, TextAnalysis.WinnowW)
    val (bigM, bigB) = (2147483647L, 131L)
    def h32(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      hex.foldLeft(0L)((a, c) => a * 16 + "0123456789abcdef".indexOf(c))
    }
    val fpSets = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .flatMap { r =>
        val t = r.getString(1).trim.split("\\s+")
        if (t.length < k) None else {
          val xs = t.map(tok => h32(tok) % bigM)
          val pows = (0 until k).map(p => math.pow(bigB.toDouble,
            (k - 1 - p).toDouble).toLong)
          val cmb = (1 to t.length - k + 1).map(i =>
            ((0 until k).map(o => xs(i - 1 + o) * pows(o)).sum % bigM)
              * 4096L + (4095L - i))
          val sel = (1 to math.max(cmb.length - w + 1, 1))
            .map(j => cmb.slice(j - 1, j - 1 + w).min).distinct
          Some(r.getLong(0) -> sel.map(_ >> 12).toSet)
        }
      }.toSeq
    // df cap never binds on the fixture corpus — assert that premise
    val dfs = fpSets.flatMap { case (_, s) => s }
      .groupBy(identity).map(_._2.size)
    assert(dfs.max <= TextAnalysis.FpDfCap,
      "fixture grew a hot fingerprint; cap now binds and this reference must apply it")
    val expected = (for {
      (a, sa) <- fpSets; (b, sb) <- fpSets if a < b
      shared = (sa & sb).size
      if shared >= TextAnalysis.FpMinShared
    } yield (a, b, shared.toLong, sa.size.toLong, sb.size.toLong)).toSet
    val got = out.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
      r.getAs[Long]("shared"), r.getAs[Long]("na"), r.getAs[Long]("nb"))).toSet
    assert(got == expected,
      s"missing ${expected -- got}, spurious ${got -- expected}")
  }

  test("p20 merges overlapping windows, splits on gaps, ignores within-doc repeats") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{length, lit}
    // the oracle corpus only ever yields one span per doc, so the
    // island-SPLIT branch (gap > 13) and the within-doc-only exclusion
    // never fire in any gate — plant a fixture corpus that exercises
    // every branch, with hand-computed expected spans
    val s1 = (1 to 20).map(i => s"s$i")   // 20-token shared run: 8 windows, ONE merged span
    val s2 = (1 to 13).map(i => s"t$i")   // 13-token shared run: exactly one window
    val u = (1 to 13).map(i => s"u$i")    // repeated WITHIN doc 3 only
    def w(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val docs = Seq(
      // doc 0: s1 at positions 6..25 (windows 6..13), s2 at 46..58
      // (window 46); gap 46-13=33 > 13 → two islands
      (0L, (w("a", 5) ++ s1 ++ w("b", 20) ++ s2 ++ w("c", 5)).mkString(" ")),
      // doc 1: s2 at 4..16 (window 4), s1 at 27..46 (windows 27..34);
      // gap 23 > 13 → two islands, reversed order vs doc 0
      (1L, (w("d", 3) ++ s2 ++ w("e", 10) ++ s1).mkString(" ")),
      // doc 2: nothing shared → no rows
      (2L, w("x", 30).mkString(" ")),
      // doc 3: u repeated twice within the SAME doc only → cross-doc
      // rule excludes it entirely
      (3L, (w("f", 5) ++ u ++ w("g", 5) ++ u ++ w("h", 5)).mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("p20fix").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.p20DupSpans(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_windows")))
    val expected = Seq(
      (0L, 6L, 25L, 20L, 8L), (0L, 46L, 58L, 13L, 1L),
      (1L, 4L, 16L, 13L, 1L), (1L, 27L, 46L, 20L, 8L))
    assert(got.toSeq == expected,
      s"spans diverge: got ${got.toSeq}, want $expected")

    // p21 applies exactly those spans: hand-computed survivors per doc
    def hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val excised = TextAnalysis.p21SpanExcision(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens_before"), r.getAs[Long]("n_tokens_kept"),
          r.getAs[Long]("n_spans"), r.getAs[String]("cleaned_md5"))).toMap
    val allToks = docs.map { case (id, text) => id -> text.split(" ").toSeq }
      .toMap
    val spansBy = expected.groupBy(_._1)
    docs.foreach { case (id, _) =>
      val t = allToks(id)
      val cut = spansBy.getOrElse(id, Seq()).map(s => (s._2, s._3))
      val kept = t.zipWithIndex.collect {
        case (tok, i0) if !cut.exists(c => i0 + 1 >= c._1 && i0 + 1 <= c._2) =>
          tok
      }
      val (b, k, ns, m) = excised(id)
      assert(b == t.length && k == kept.length && ns == cut.length,
        s"doc $id counts: got ($b,$k,$ns), want (${t.length},${kept.length},${cut.length})")
      assert(m == hex(kept.mkString(" ")), s"doc $id cleaned md5 diverges")
    }
  }

  test("p31 equals a driver-side replay of the GPT-3 window-cut policy") {
    def hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        TextAnalysis.SplitBucket.as("b"),
        org.apache.spark.sql.functions.col("text"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("b"),
        r.getAs[String]("text").trim.split("\\s+").toSeq))
    def grams(t: Seq[String]): Seq[String] =
      if (t.size < 13) Seq()
      else (0 to t.size - 13).map(i => hex(t.slice(i, i + 13).mkString(" ")))
    val testSet = docs.filter(_._2 >= TextAnalysis.ValMax)
      .flatMap(d => grams(d._3)).toSet
    val want = docs.filter(_._2 < TextAnalysis.TrainMax).flatMap {
      case (id, _, t) =>
        val hits = grams(t).zipWithIndex.collect {
          case (g, i0) if testSet(g) => i0 + 1 }
        if (hits.isEmpty) None else {
          val wins = hits.map(i =>
            (math.max(i - 20L, 1L), math.min(i + 12L + 20L, t.size.toLong)))
            .sortBy(identity)
          // merge overlapping/adjacent padded windows
          val merged = wins.tail.foldLeft(Vector(wins.head)) {
            case (acc, (a, b)) =>
              val (pa, pb) = acc.last
              if (a <= pb + 1) acc.init :+ ((pa, math.max(pb, b)))
              else acc :+ ((a, b))
          }
          val kept = t.zipWithIndex.collect {
            case (tok, i0) if !merged.exists(m =>
              i0 + 1 >= m._1 && i0 + 1 <= m._2) => tok }
          Some(id -> ((t.size.toLong, kept.size.toLong, hits.size.toLong,
            merged.size.toLong, hex(kept.mkString(" ")))))
        }
    }.toMap
    val got = TextAnalysis.p31LeakExcision(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens_before"), r.getAs[Long]("n_tokens_kept"),
          r.getAs[Long]("n_leaks"), r.getAs[Long]("n_spans"),
          r.getAs[String]("cleaned_md5")))).toMap
    assert(got.nonEmpty, "no contaminated train docs on this corpus")
    assert(got == want, s"p31 diverges: got ${got.size}, want ${want.size}")
  }

  test("p31 keeps the clean remainder around an isolated leak (synthetic)") {
    import spark.implicits._
    def hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val leakL = (1 to 13).map(i => s"L$i")
    val leakM = (1 to 13).map(i => s"M$i")
    // doc 0: leak at tokens 24..36 of 60 → one span [4, 56], keeps 7
    val t0 = (1 to 23).map(i => s"a$i") ++ leakL ++ (37 to 60).map(i => s"a$i")
    // doc 1: leaks at 10..22 and 80..92 of 120 → spans [1,42]+[60,112]
    val t1 = (1 to 9).map(i => s"b$i") ++ leakL ++
      (23 to 79).map(i => s"b$i") ++ leakM ++ (93 to 120).map(i => s"b$i")
    // doc 2: leaks at 30..42 and 45..57 of 90 → padded windows
    // [10,62]+[25,77] overlap → ONE merged span [10,77], keeps 22
    val t2 = (1 to 29).map(i => s"c$i") ++ leakL ++ Seq("c30", "c31") ++
      leakM ++ (58 to 90).map(i => s"c$i")
    val docs = Seq((0L, t0), (1L, t1), (2L, t2))
      .map { case (id, t) => (id, t.mkString(" ")) }
      .toDF("doc_id", "text")
    val testGrams = Seq(hex(leakL.mkString(" ")), hex(leakM.mkString(" ")))
      .toDF("g")
    val got = TextAnalysis.leakExcisionOn(docs, testGrams).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens_before"), r.getAs[Long]("n_tokens_kept"),
          r.getAs[Long]("n_leaks"), r.getAs[Long]("n_spans"),
          r.getAs[String]("cleaned_md5")))).toMap
    def keptOf(t: Seq[String], spans: Seq[(Long, Long)]): Seq[String] =
      t.zipWithIndex.collect { case (tok, i0) if !spans.exists(s =>
        i0 + 1 >= s._1 && i0 + 1 <= s._2) => tok }
    val k0 = keptOf(t0, Seq((4L, 56L)))
    val k1 = keptOf(t1, Seq((1L, 42L), (60L, 112L)))
    val k2 = keptOf(t2, Seq((10L, 77L)))
    assert(k0.size == 7 && k1.size == 25 && k2.size == 22,
      s"fixture arithmetic: ${k0.size}/${k1.size}/${k2.size}")
    assert(got(0L) == ((60L, 7L, 1L, 1L, hex(k0.mkString(" ")))),
      s"doc 0: ${got(0L)}")
    assert(got(1L) == ((120L, 25L, 2L, 2L, hex(k1.mkString(" ")))),
      s"doc 1: ${got(1L)}")
    assert(got(2L) == ((90L, 22L, 2L, 1L, hex(k2.mkString(" ")))),
      s"doc 2: ${got(2L)}")
  }

  test("p22 perplexity buckets match a first-principles bigram-LM replay") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", TextAnalysis.SplitBucket.as("b"), $"text")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("b"),
        r.getAs[String]("text").trim.split("\\s+").toSeq))
      .filter(_._3.size >= 2)
    val train = docs.filter(_._2 < TextAnalysis.TrainMax)
    val c12 = scala.collection.mutable.Map.empty[(String, String), Long]
    val c1 = scala.collection.mutable.Map.empty[String, Long]
    train.foreach { case (_, _, t) =>
      t.sliding(2).foreach { case Seq(a, w) =>
        c12((a, w)) = c12.getOrElse((a, w), 0L) + 1
        c1(a) = c1.getOrElse(a, 0L) + 1
      }
    }
    val v = train.flatMap(_._3).distinct.size
    val exp = docs.map { case (id, _, t) =>
      val qs = t.sliding(2).toSeq.map { case Seq(a, w) =>
        math.floor(TextAnalysis.PplScale.toDouble * math.log(
          (c12.getOrElse((a, w), 0L) + 1).toDouble /
            (c1.getOrElse(a, 0L) + v).toDouble)).toLong
      }
      id -> ((qs.size.toLong, qs.sum))
    }.toMap
    val got = TextAnalysis.p22PerplexityBuckets(spark, sfDir).collect()
    assert(got.length == exp.size)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (n, s) = exp(id)
      assert(r.getAs[Long]("n_bigrams") == n, s"doc $id n_bigrams")
      assert(r.getAs[Long]("sum_qll") == s, s"doc $id sum_qll")
      assert(s < 0L, "surprisal sums are negative by construction")
      val bk = if (s >= TextAnalysis.PplHeadMin * n) "head"
      else if (s < TextAnalysis.PplTailMax * n) "tail" else "middle"
      assert(r.getAs[String]("ppl_bucket") == bk, s"doc $id bucket")
    }
    // the release cutpoints actually split this corpus (a filter whose
    // head or tail is empty is a broken quality gate)
    val buckets = got.map(_.getAs[String]("ppl_bucket")).toSet
    assert(buckets.contains("head") && buckets.contains("tail"))
  }

  test("p23 DSIR weights match a first-principles hashed-bigram replay") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bkt(a: String, w: String): Long =
      java.lang.Long.parseLong(md5hex(a + " " + w).substring(0, 3), 16)
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("text").trim.split("\\s+").toSeq))
      .filter(_._3.size >= 2)
    val feats = docs.map { case (id, src, t) =>
      (id, src, t.sliding(2).toSeq.map { case Seq(a, w) => bkt(a, w) })
    }
    val tgtCnt = scala.collection.mutable.Map.empty[Long, Long]
    val rawCnt = scala.collection.mutable.Map.empty[Long, Long]
    feats.foreach { case (_, src, bs) =>
      val m = if (src == TextAnalysis.DsirTarget) tgtCnt else rawCnt
      bs.foreach(b => m(b) = m.getOrElse(b, 0L) + 1)
    }
    val (nt, nr) = (tgtCnt.values.sum, rawCnt.values.sum)
    def qlp(c: Long, n: Long): Long =
      math.floor(TextAnalysis.PplScale.toDouble * math.log(
        (c + 1).toDouble / (n + TextAnalysis.DsirBuckets).toDouble)).toLong
    val exp = feats.map { case (id, _, bs) =>
      id -> ((bs.size.toLong, bs.map(b =>
        qlp(tgtCnt.getOrElse(b, 0L), nt) -
          qlp(rawCnt.getOrElse(b, 0L), nr)).sum))
    }.toMap
    val got = TextAnalysis.p23DsirWeights(spark, sfDir).collect()
    assert(got.length == exp.size)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (n, w) = exp(id)
      assert(r.getAs[Long]("n_feats") == n, s"doc $id n_feats")
      assert(r.getAs[Long]("qlw") == w, s"doc $id qlw")
      assert(r.getAs[Long]("selected") == (if (w > 0L) 1L else 0L))
    }
    // the importance model must separate its own target domain: the
    // target source's MEAN per-feature weight exceeds the raw pool's
    // (each model overweights the sample it was fit on)
    val (tw, tn) = got.filter(r => docs.exists(d =>
      d._1 == r.getAs[Long]("doc_id") && d._2 == TextAnalysis.DsirTarget))
      .map(r => (r.getAs[Long]("qlw"), r.getAs[Long]("n_feats")))
      .foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    val (rw, rn) = got.filter(r => docs.exists(d =>
      d._1 == r.getAs[Long]("doc_id") && d._2 != TextAnalysis.DsirTarget))
      .map(r => (r.getAs[Long]("qlw"), r.getAs[Long]("n_feats")))
      .foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    assert(tw * rn > rw * tn,
      s"target mean weight ($tw/$tn) must exceed raw mean ($rw/$rn)")
  }

  test("p24 quality classifier matches a first-principles GD replay and separates the target") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bkt(a: String, w: String): Long =
      java.lang.Long.parseLong(md5hex(a + " " + w).substring(0, 3), 16)
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("text").trim.split("\\s+").toSeq))
      .filter(_._3.size >= 2)
    // occ as a SEQ of (doc, bkt, k) — the x09 lesson: never fold a
    // Set-backed keys view where a multiset is meant
    val occ: Seq[(Long, Long, Long)] = docs.toSeq.flatMap { case (id, _, t) =>
      t.sliding(2).toSeq.map { case Seq(a, w) => bkt(a, w) }
        .groupBy(identity).toSeq.map { case (b, ks) =>
          (id, b, ks.size.toLong)
        }
    }
    val lab: Map[Long, (Long, Long)] = docs.map { case (id, src, t) =>
      id -> ((t.size.toLong - 1L,
        if (src == TextAnalysis.DsirTarget) 1L else 0L))
    }.toMap
    val n1 = lab.values.count(_._2 == 1L).toLong
    val n0 = lab.values.count(_._2 == 0L).toLong
    val q = TextAnalysis.PplScale
    def rdiv(a: Long, b: Long): Long = Math.floorDiv(2 * a + b, 2 * b)
    var w = Array.fill(TextAnalysis.DsirBuckets.toInt)(0L)
    def zOf(weights: Array[Long]): Map[Long, Long] =
      occ.groupBy(_._1).map { case (id, os) =>
        id -> os.map { case (_, b, k) => k * weights(b.toInt) }.sum
      }
    for (_ <- 1 to TextAnalysis.QcIters) {
      val z = zOf(w)
      val r = lab.map { case (id, (n, y)) =>
        id -> (math.floor(q.toDouble / (1.0 + math.exp(
          -(z(id).toDouble / (n.toDouble * q))))).toLong - y * q)
      }
      val g1 = Array.fill(w.length)(0L)
      val g0 = Array.fill(w.length)(0L)
      occ.foreach { case (id, b, k) =>
        val (n, y) = lab(id)
        val t = Math.floorDiv(k * r(id), n)
        if (y == 1L) g1(b.toInt) += t else g0(b.toInt) += t
      }
      w = w.indices.map(b => w(b) -
        rdiv(TextAnalysis.QcLr * (rdiv(g1(b), n1) + rdiv(g0(b), n0)), 2L))
        .toArray
    }
    val zf = zOf(w)
    val got = TextAnalysis.p24QualityClassifier(spark, sfDir).collect()
    assert(got.length == lab.size)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (n, y) = lab(id)
      assert(r.getAs[Long]("n_feats") == n, s"doc $id n_feats")
      assert(r.getAs[Long]("logit_micro") == Math.floorDiv(zf(id), n),
        s"doc $id logit diverges from the replay")
      assert(r.getAs[Long]("predicted") == (if (zf(id) > 0L) 1L else 0L))
      assert(r.getAs[Long]("label") == y)
    }
    // the trained boundary must actually discriminate: the target
    // class's mean micro-logit strictly above the pool's, and the
    // true-positive rate strictly above the false-positive rate (a
    // majority-class-collapsed model fails both)
    val (ts, tn2) = got.filter(_.getAs[Long]("label") == 1L)
      .map(_.getAs[Long]("logit_micro"))
      .foldLeft((0L, 0L)) { case ((s, c), x) => (s + x, c + 1) }
    val (rs, rn2) = got.filter(_.getAs[Long]("label") == 0L)
      .map(_.getAs[Long]("logit_micro"))
      .foldLeft((0L, 0L)) { case ((s, c), x) => (s + x, c + 1) }
    assert(ts * rn2 > rs * tn2,
      s"mean target logit ($ts/$tn2) must exceed pool mean ($rs/$rn2)")
    val tp = got.count(r => r.getAs[Long]("label") == 1L &&
      r.getAs[Long]("predicted") == 1L).toLong
    val fp = got.count(r => r.getAs[Long]("label") == 0L &&
      r.getAs[Long]("predicted") == 1L).toLong
    assert(tp * n0 > fp * n1,
      s"TPR ($tp/$n1) must exceed FPR ($fp/$n0)")
  }

  test("p25 df spectrum matches a driver-side gram census and reconciles") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val dfs = scala.collection.mutable.Map.empty[String, Long]
    graft.Tables.documents(spark, sfDir).select($"text").collect()
      .foreach { r =>
        val t = r.getString(0).trim.split("\\s+").toSeq
        if (t.size >= 13)
          t.sliding(13).map(w => md5hex(w.mkString(" "))).toSet
            .foreach(g => dfs(g) = dfs.getOrElse(g, 0L) + 1L)
      }
    def bucket(df: Long): String =
      if (df == 1) "unique" else if (df == 2) "df2"
      else if (df <= 10) "df3_10" else if (df <= 100) "df11_100"
      else "df_gt100"
    val want = dfs.values.groupBy(bucket).map { case (b, vs) =>
      b -> ((vs.size.toLong, vs.sum))
    }
    val got = TextAnalysis.p25GramDfSpectrum(spark, sfDir).collect()
      .map(r => r.getAs[String]("df_bucket") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_occurrences")))).toMap
    assert(got == want, s"spectrum diverges: got $got want $want")
    // reconciliation: bucket gram counts sum to the distinct-gram
    // census, occurrences to the (doc, gram) incidence count
    assert(got.values.map(_._1).sum == dfs.size.toLong)
    assert(got.values.map(_._2).sum == dfs.values.sum)
    // the corpus has both unique grams and duplicated mass
    assert(got.contains("unique") && got.keySet.exists(_ != "unique"))
  }

  test("p26 fertility is p19's encode rolled up per language, ppm-exact") {
    import spark.implicits._
    val lang = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val perLang = TextAnalysis.p19BpeEncode(spark, sfDir).collect()
      .map(r => (lang(r.getAs[Long]("doc_id")), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_bpe_tokens")))
      .groupBy(_._1).map { case (l, rs) =>
        l -> ((rs.map(_._2).sum, rs.map(_._3).sum))
      }
    val tw = perLang.values.map(_._1).sum
    val tb = perLang.values.map(_._2).sum
    def ppm(b: Long, w: Long): Long =
      (BigInt(b) * 1000000 / BigInt(w)).toLong
    val got = TextAnalysis.p26TokenizerFertility(spark, sfDir).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe_tokens"),
          r.getAs[Long]("fertility_ppm"), r.getAs[Long]("premium_ppm"))))
      .toMap
    assert(got.keySet == perLang.keySet, "one row per language")
    perLang.foreach { case (l, (w, b)) =>
      val (gw, gb, gf, gp) = got(l)
      assert(gw == w && gb == b, s"lang $l counts")
      assert(gf == ppm(b, w), s"lang $l fertility")
      assert(gp == ppm(b, w) - ppm(tb, tw), s"lang $l premium")
      // a BPE word is at least one token: fertility never dips below 1
      assert(gf >= 1000000L)
    }
    // the eval must discriminate: not every language pays the same rate
    assert(got.values.map(_._3).toSet.size > 1,
      "all languages read identical fertility — eval is degenerate")
  }

  test("p27 redaction matches a driver-side regex replay; classes disjoint and non-vacuous") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val inj = TextAnalysis.piiInjected(spark, sfDir)
      .as[(Long, String)].collect().toMap
    val got = TextAnalysis.p27PiiRedaction(spark, sfDir).collect()
    assert(got.length == inj.size, "one profile row per document")
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val t = inj(id)
      val ne = TextAnalysis.PiiEmailRe.r.findAllIn(t).size.toLong
      val np = TextAnalysis.PiiPhoneRe.r.findAllIn(t).size.toLong
      val ni = TextAnalysis.PiiIpRe.r.findAllIn(t).size.toLong
      assert(r.getAs[Long]("n_emails") == ne, s"doc $id emails")
      assert(r.getAs[Long]("n_phones") == np, s"doc $id phones")
      assert(r.getAs[Long]("n_ips") == ni, s"doc $id ips")
      assert(r.getAs[Long]("n_redactions") == ne + np + ni)
      val red = t.replaceAll(TextAnalysis.PiiEmailRe, "<EMAIL>")
        .replaceAll(TextAnalysis.PiiPhoneRe, "<PHONE>").replaceAll(TextAnalysis.PiiIpRe, "<IP>")
      val norm = red.trim.split("\\s+").mkString(" ")
      assert(r.getAs[String]("redacted_md5") == md5hex(norm),
        s"doc $id redacted hash diverges from the replay")
      // the scrub is complete: no class matches the redacted text
      assert(TextAnalysis.PiiEmailRe.r.findFirstIn(red).isEmpty &&
        TextAnalysis.PiiPhoneRe.r.findFirstIn(red).isEmpty &&
        TextAnalysis.PiiIpRe.r.findFirstIn(red).isEmpty,
        s"doc $id still carries PII after redaction")
      // the injection seam guarantees a non-vacuous gate
      assert(ne >= 1L, s"doc $id carries no email — gate went vacuous")
    }
    // every class fires somewhere (multi-class coverage, not just email)
    assert(got.map(_.getAs[Long]("n_phones")).sum > 0)
    assert(got.map(_.getAs[Long]("n_ips")).sum > 0)
    assert(got.exists(_.getAs[Long]("n_emails") > 1L),
      "no doc carries two emails — multi-match counting unexercised")
  }

  test("p32 Zipf slope equals an exact driver-side quantized-LSQ replay") {
    import spark.implicits._
    val got = TextAnalysis.p32ZipfSlope(spark, sfDir).collect().head
    // driver replay: same tokenization, same (f desc, term) total
    // order, same floor(2^20 ln) quantization, same closed form in
    // exact BigInt arithmetic
    val freq = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .flatMap(_._2.trim.split("\\s+")).groupBy(t => t)
      .map { case (t, o) => (t, o.length.toLong) }.toSeq
    val ranked = freq.sortBy { case (t, f) => (-f, t) }.zipWithIndex
      .map { case ((_, f), i) => (i + 1L, f) }
    def q(x: Long): BigInt =
      BigInt(math.floor(1048576.0 * math.log(x.toDouble)).toLong)
    val n = BigInt(ranked.size)
    val (sx, sy, sxy, sxx) = ranked.foldLeft(
      (BigInt(0), BigInt(0), BigInt(0), BigInt(0))) {
      case ((ax, ay, axy, axx), (r, f)) =>
        (ax + q(r), ay + q(f), axy + q(r) * q(f), axx + q(r) * q(r))
    }
    val expected = (sx * sy - n * sxy) * 1000000 / (n * sxx - sx * sx)
    assert(got.getAs[Long]("n_terms") == ranked.size.toLong)
    assert(BigInt(got.getAs[Long]("neg_slope_ppm")) == expected,
      s"engine slope ${got.getAs[Long]("neg_slope_ppm")} != replay $expected")
    // the reading itself: this SYNTHETIC corpus (pool-drawn tokens,
    // near-uniform frequencies) is deliberately non-Zipfian, and the
    // audit must SAY so — slope far below the natural-text s ≈ 1 is
    // exactly the flattened-head composition alarm p32 exists to raise
    assert(got.getAs[Long]("neg_slope_ppm") < 800000L,
      "synthetic pool corpus unexpectedly reads Zipfian")
    assert(got.getAs[Long]("neg_slope_ppm") > 0L)
  }

  test("p29 vocabulary growth equals a driver-side Heaps replay in doc_id order") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
      .sortBy(_._1)
    val n = docs.length
    // walk the corpus in rank order, cutting at each decile boundary
    val seen = scala.collection.mutable.Set.empty[String]
    var tokens = 0L
    val want = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    docs.zipWithIndex.foreach { case ((_, ts), i) =>
      tokens += ts.length
      seen ++= ts
      val decile = i.toLong * 10L / n
      want(decile) = (tokens, seen.size.toLong)
    }
    val got = TextAnalysis.p29VocabGrowth(spark, sfDir).collect()
      .map(r => r.getAs[Long]("decile") ->
        ((r.getAs[Long]("cum_tokens"), r.getAs[Long]("cum_vocab"))))
    assert(got.map(_._1).toSeq == (0L to 9L), "exactly the 10 deciles, ordered")
    got.foreach { case (d, cums) =>
      assert(cums == want(d), s"decile $d: $cums != ${want(d)}")
    }
    // both cumulatives are monotone and end at the corpus totals
    assert(got.map(_._2._1).toSeq == got.map(_._2._1).sorted.toSeq)
    assert(got.map(_._2._2).toSeq == got.map(_._2._2).sorted.toSeq)
    assert(got.last._2 == ((tokens, seen.size.toLong)))
    // Heaps: vocabulary grows sublinearly vs tokens over the corpus —
    // the second half of the corpus must add fewer NEW types per token
    // than the first half (the signature the profile exists to show)
    val (t4, v4) = got(4)._2
    val (t9, v9) = got(9)._2
    assert((v9 - v4).toDouble / (t9 - t4) < v4.toDouble / t4,
      "vocabulary growth is not sublinear on this corpus")
  }

  test("p28 Luhn gate matches a driver-side checksum replay; both verdicts planted") {
    import spark.implicits._
    def luhnOk(s: String): Boolean = {
      // from-right position 2,4,... doubled — the ISO/IEC 7812 rule,
      // implemented independently of the engine's from-left fold
      val sum = s.reverse.zipWithIndex.map { case (c, i) =>
        val d = c - '0'
        if (i % 2 == 1) { val d2 = 2 * d; if (d2 > 9) d2 - 9 else d2 }
        else d
      }.sum
      sum % 10 == 0
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val inj = TextAnalysis.ccInjected(spark, sfDir)
      .as[(Long, String)].collect().toMap
    val got = TextAnalysis.p28LuhnRedaction(spark, sfDir).collect()
    assert(got.length == inj.size)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val toksArr = inj(id).trim.split("\\s+")
      val cands = toksArr.filter(_.matches("\\d{16}"))
      val valid = cands.filter(luhnOk)
      assert(r.getAs[Long]("n_digit16") == cands.length, s"doc $id cands")
      assert(r.getAs[Long]("n_luhn_valid") == valid.length, s"doc $id valid")
      assert(r.getAs[Long]("n_rejected") == cands.length - valid.length)
      val red = toksArr.map(t =>
        if (t.matches("\\d{16}") && luhnOk(t)) "<CARD>" else t).mkString(" ")
      assert(r.getAs[String]("redacted_md5") == md5hex(red),
        s"doc $id redacted hash diverges from the replay")
      // the injection plants both verdicts deterministically
      if (id % 2 == 0) assert(r.getAs[Long]("n_luhn_valid") >= 1L,
        s"doc $id planted valid number not accepted")
      if (id % 7 == 0) assert(r.getAs[Long]("n_rejected") >= 1L,
        s"doc $id planted invalid number not rejected")
      if (id % 2 != 0 && id % 7 != 0)
        assert(r.getAs[Long]("n_digit16") == 0L)
    }
    // both verdicts occur corpus-wide (the gate discriminates)
    assert(got.map(_.getAs[Long]("n_luhn_valid")).sum > 0)
    assert(got.map(_.getAs[Long]("n_rejected")).sum > 0)
  }
}
