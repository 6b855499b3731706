package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.rass.DeterministicEmbedder
import graft.rass.ingest.IngestCommit

class StreamsSpec extends SparkSpec {

  import Streams._

  // ------------------------------------------------------- twin runners
  // One runner per twinRegistry entry, each asserting stream == batch
  // (plus the twin's own semantics probes: replay for dedup, batch
  // splits for the stateless guard). The single table-driven test below
  // enumerates the REGISTRY, so a new twin cannot register without an
  // equivalence proof and a runner cannot outlive a deregistered twin.

  private def windowedCountsTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val events = graft.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq

    val input = MemoryStream[Event]
    val query = windowedEventCounts(input.toDF())
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("update").start()
    input.addData(events)
    query.processAllAvailable()
    query.stop()

    val got = spark.table("win_counts")
      .groupBy("window_start", "event_type")
      .agg(max("n_events").as("n_events")) // update mode: take latest per key
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = graft.Tables.events(spark, sfDir)
      .groupBy(window($"ts", "15 minutes").getField("start").as("ws"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want)
  }

  private def sessionizeTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val events = graft.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq

    val input = MemoryStream[Event]
    val query = sessionize(input.toDS(), idleTimeout = None)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("update").start()
    input.addData(events)
    query.processAllAvailable()
    query.stop()

    val got = spark.table("sessions")
      .groupBy("user_id")
      .agg(max("n_sessions").as("s"), max("n_events").as("e"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = graft.relational.StarQueries.q13Sessionize(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getAs[Long]("n_sessions"),
        r.getAs[Long]("n_events")))).toMap
    assert(got == want)
  }

  private def sessionWindowTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val events = graft.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq

    val input = MemoryStream[Event]
    // session-window aggregation only supports append (or complete)
    // output: a session emits exactly ONCE, when the watermark passes
    // its end and no later event can chain onto it
    val query = sessionWindowAgg(input.toDF())
      .writeStream.format("memory").queryName("sess_win")
      .outputMode("append").start()
    input.addData(events)
    query.processAllAvailable()
    // the watermark computed from batch N only EMITS in batch N+1, so
    // push two sentinel batches (user −1, far future) past the data:
    // the first advances the watermark beyond every real session's
    // end, the second flushes the sessions that finalized under it;
    // the sentinels' own session stays open and never emits
    val maxUs = events.map(e => e.ts.getTime).max * 1000L
    def sentinel(k: Long) = Event(-k, new java.sql.Timestamp(
      maxUs / 1000L + k * 7200000L), -1L, "sentinel", 0.0)
    input.addData(Seq(sentinel(1)))
    query.processAllAvailable()
    input.addData(Seq(sentinel(2)))
    query.processAllAvailable()
    query.stop()

    val got = spark.table("sess_win")
      .filter($"user_id" >= 0)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)) ->
        ((r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))).toMap
    val want = graft.relational.StarQueries.q20SessionWindowAgg(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)) ->
        ((r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))).toMap
    assert(got == want)
  }

  private def streamStreamJoinTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val events = graft.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq
    val inA = MemoryStream[Event]
    val inB = MemoryStream[Event]
    val query = streamStreamJoin(inA.toDF(), inB.toDF())
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    inA.addData(events)
    inB.addData(events)
    query.processAllAvailable()
    query.stop()
    val got = spark.table("ssjoin").count()
    val ev = graft.Tables.events(spark, sfDir)
    val want = ev.as("a").join(ev.as("b"),
      org.apache.spark.sql.functions.expr(
        """a.user_id = b.user_id AND b.ts > a.ts AND
          |b.ts <= a.ts + interval 30 minutes""".stripMargin)).count()
    assert(got == want)
  }

  private def dedupTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val events = graft.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq

    val input = MemoryStream[Event]
    val query = dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    input.addData(events)
    input.addData(events.take(events.size / 2)) // at-least-once replay
    query.processAllAvailable()
    query.stop()

    val got = spark.table("dedup").select("event_id").collect()
      .map(_.getLong(0))
    assert(got.length == events.size, "each event exactly once")
    assert(got.toSet == events.map(_.event_id).toSet)
  }

  private def contaminationGuardTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // static train index + arriving docs, derived from the fixture
    // corpus with the SHARED gram definition: train = p07 train split,
    // stream = the val+test remainder — so the batch twin is exactly
    // p10's (doc_id, g) detail (which the sf0.01 oracle gate verifies)
    val bucketed = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text",
        graft.pipeline.TextAnalysis.SplitBucket.as("b"))
    val trainGrams = bucketed
      .filter($"b" < graft.pipeline.TextAnalysis.TrainMax)
      .select(explode(graft.pipeline.TextAnalysis.gramHashes(
        graft.pipeline.TextAnalysis.toks($"text"))).as("g"))
      .distinct()
    val arriving = bucketed
      .filter($"b" >= graft.pipeline.TextAnalysis.ValMax)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq

    val input = MemoryStream[(Long, String)]
    val query = contaminationGuard(
      input.toDF().toDF("doc_id", "text"), trainGrams)
      .writeStream.format("memory").queryName("leak_guard")
      .outputMode("append").start()
    // two batches: the guard is stateless, so a doc's leaks must not
    // depend on which micro-batch carried it
    val (first, rest) = arriving.splitAt(arriving.size / 2)
    input.addData(first)
    query.processAllAvailable()
    input.addData(rest)
    query.processAllAvailable()
    query.stop()

    val got = spark.table("leak_guard").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = bucketed.filter($"b" >= graft.pipeline.TextAnalysis.ValMax)
      .select($"doc_id", explode(graft.pipeline.TextAnalysis.gramHashes(
        graft.pipeline.TextAnalysis.toks($"text"))).as("g"))
      .join(trainGrams, Seq("g"))
      .select($"doc_id", $"g").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want, "stream leaks diverge from the batch sweep")
    assert(want.nonEmpty,
      "fixture must contain at least one train/test leak to make this real")
  }

  private def ivfIngestAssignTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // frozen centroids trained on the base 90%, exactly s09's setup
    val e = graft.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val n = e.count(); val nBase = n * 9 / 10
    val cents = graft.pipeline.Similarity.kmeansCentroids(spark,
      e.filter($"vec_id" < nBase),
      graft.pipeline.Similarity.recommendedCells(nBase), 2)
    val centsRow = centroidsAsRow(cents)
    val delta = e.filter($"vec_id" >= nBase)
      .as[(Long, Seq[Double])].collect().toSeq
    assert(delta.nonEmpty)

    val input = MemoryStream[(Long, Seq[Double])]
    val query = ivfIngestAssign(input.toDF().toDF("vec_id", "v"), centsRow)
      .writeStream.format("memory").queryName("ivf_add")
      .outputMode("append").start()
    // two micro-batches: the assignment is stateless, so a vector's
    // cell must not depend on which batch carried it
    val (a, b) = delta.splitAt(delta.size / 2)
    input.addData(a)
    query.processAllAvailable()
    input.addData(b)
    query.processAllAvailable()
    query.stop()

    val got = spark.table("ivf_add").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch argmax with the identical ordering (cos desc, cid asc)
    graft.rass.expressions.GraftExtensions.register(spark)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id")
      .orderBy(call_function("cosine_sim", $"v", $"cv").desc, $"cid")
    val want = e.filter($"vec_id" >= nBase).crossJoin(cents)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cid")).toMap
    assert(got == want, "stream assignment diverges from the batch argmax")
    assert(got.size == delta.size, "every arriving vector must be assigned")
  }

  private def funnelTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val events = graft.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq
    // two batches with the LATER half of every user's history arriving
    // FIRST: a commit-as-you-go state machine would lock in a late
    // click/purchase and get re-anchored by batch 2's earlier views —
    // the candidate-buffer design must instead converge on the batch
    // answer
    val sorted = events.sortBy(e => (e.ts.getTime, e.event_id))
    val (early, late) = sorted.splitAt(sorted.length / 2)

    val input = MemoryStream[Event]
    val query = funnel(input.toDS())
      .writeStream.format("memory").queryName("funnel_rows")
      .outputMode("update").start()
    input.addData(late)
    query.processAllAvailable()
    input.addData(early)
    query.processAllAvailable()
    query.stop()

    // a user's latest row carries the max monotone n_seen counter
    val got = spark.table("funnel_rows").collect()
      .groupBy(_.getAs[Long]("user_id")).map { case (u, rows) =>
        val last = rows.maxBy(_.getAs[Long]("n_seen"))
        u -> ((Option(last.getAs[java.lang.Long]("t_view")).map(_.toLong),
          Option(last.getAs[java.lang.Long]("t_click")).map(_.toLong),
          Option(last.getAs[java.lang.Long]("t_purchase")).map(_.toLong),
          last.getAs[Long]("stage")))
      }
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000) % 1000L
    val want = graft.relational.StarQueries.q25Funnel(spark, sfDir).collect()
      .map { r =>
        r.getAs[Long]("user_id") -> ((
          Option(r.getAs[java.sql.Timestamp]("t_view")).map(us),
          Option(r.getAs[java.sql.Timestamp]("t_click")).map(us),
          Option(r.getAs[java.sql.Timestamp]("t_purchase")).map(us),
          r.getAs[Long]("stage")))
      }.toMap
    assert(got == want)
  }

  private def lineDedupGuardTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val corpusLines = graft.pipeline.Dedup.corpusLineTable(spark, sfDir)
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq

    val input = MemoryStream[(Long, String)]
    val query = lineDedupGuard(input.toDF().toDF("doc_id", "text"), corpusLines)
      .writeStream.format("memory").queryName("line_guard")
      .outputMode("append").start()
    // two batches: the guard is stateless, so a doc's flagged lines
    // must not depend on which micro-batch carried it
    val (first, rest) = docs.splitAt(docs.size / 2)
    input.addData(first)
    query.processAllAvailable()
    input.addData(rest)
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("line_guard").collect()
    // replayed corpus docs match at least themselves: every hashed
    // line of every replayed doc flags with df >= 1
    assert(rows.forall(_.getAs[Long]("df") >= 1))
    // d14's excision list is the df >= 2 stratum
    val flagged = rows.filter(_.getAs[Long]("df") >= 2)
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(flagged.nonEmpty,
      "fixture must carry duplicated lines to make this twin real")
    // the batch twin: replaying the stream's cut per document must
    // reproduce d14's published excision counts AND cleaned-sequence
    // md5 — the full hash-verified edit, not just the candidate set
    val L = graft.pipeline.Dedup.LineTokens.toInt
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val batch = graft.pipeline.Dedup.d14LineDedup(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_dup_lines"), r.getAs[String]("cleaned_md5")))
      .toMap
    docs.foreach { case (id, text) =>
      val cut = flagged.getOrElse(id, Set.empty)
      val toks = text.trim.split("\\s+").toSeq
      val kept = toks.zipWithIndex
        .collect { case (w, i) if !cut(i.toLong / L) => w }
      val (nDup, wantMd5) = batch(id)
      assert(cut.size.toLong == nDup, s"doc $id: flagged ${cut.size} lines, d14 excised $nDup")
      assert(md5(kept.mkString(" ")) == wantMd5,
        s"doc $id: stream-guided cut diverges from d14's cleaned hash")
    }

    // the df==1 FIRST-COLLISION path (ADVICE r18's admission gap) on a
    // constructed corpus — the real-corpus replay above can't exercise
    // it because replayed docs always match themselves. Corpus: line A
    // occurs once (doc 1), line B twice (docs 1 and 2). A NEW doc
    // carries A + a novel line C: A must flag with df=1 (admitting it
    // unedited would create df=2 boilerplate), C must not flag.
    val L2 = graft.pipeline.Dedup.LineTokens.toInt
    def line(tag: String): String =
      (1 to L2).map(i => s"$tag$i").mkString(" ")
    val miniCorpus = Seq(
      (1L, line("a") + " " + line("b")),
      (2L, line("b") + " " + line("z"))).toDF("doc_id", "text")
    val miniLines = graft.pipeline.Dedup.lineHashes(miniCorpus)
      .select($"h", $"doc_id").distinct()
      .groupBy($"h").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("df"))
    val input2 = MemoryStream[(Long, String)]
    val q2 = lineDedupGuard(
      input2.toDF().toDF("doc_id", "text"), miniLines)
      .writeStream.format("memory").queryName("line_guard_fc")
      .outputMode("append").start()
    input2.addData(Seq((99L, line("a") + " " + line("c"))))
    q2.processAllAvailable()
    q2.stop()
    val fc = spark.table("line_guard_fc").collect()
      .map(r => (r.getAs[Long]("si"), r.getAs[Long]("df")))
    assert(fc.toSeq == Seq((0L, 1L)),
      s"new doc: expected exactly line 0 flagged at df=1, got ${fc.toSeq}")
  }

  private def deltaDedupGuardTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // static corpus band table + arriving batch docs, split exactly as
    // d08 splits them — so the batch twin is d08's candidate set
    // (whose downstream verdicts the sf0.01 oracle gate verifies)
    val corpusBands = graft.pipeline.Dedup.corpusBandTable(spark, sfDir)
    val arriving = graft.Tables.documents(spark, sfDir)
      .filter($"doc_id" % graft.pipeline.Dedup.DeltaMod ===
        graft.pipeline.Dedup.DeltaRem)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    assert(arriving.nonEmpty)

    val input = MemoryStream[(Long, String)]
    val query = deltaDedupGuard(
      input.toDF().toDF("doc_id", "text"), corpusBands)
      .writeStream.format("memory").queryName("delta_guard")
      .outputMode("append").start()
    // two batches: the guard is stateless, so a doc's collisions must
    // not depend on which micro-batch carried it
    val (first, rest) = arriving.splitAt(arriving.size / 2)
    input.addData(first)
    query.processAllAvailable()
    input.addData(rest)
    query.processAllAvailable()
    query.stop()

    val got = spark.table("delta_guard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.pipeline.Dedup.deltaCandidates(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"stream candidates diverge from d08's banding: missing ${want -- got}, spurious ${got -- want}")
    assert(want.nonEmpty,
      "fixture must contain at least one batch-corpus band collision to make this real")
  }

  private def pqEncodeTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // frozen codebook from the batch trainer; stream = every vector,
    // so the batch twin is exactly the stored code table s13 searches
    val (cents, batchCodes) = graft.pipeline.Similarity.pqIndex(spark, sfDir)
    val cbRow = pqCodebookAsRow(cents)
    val arriving = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) v")
      .as[(Long, Seq[Double])].collect().toSeq
    assert(arriving.nonEmpty)

    val input = MemoryStream[(Long, Seq[Double])]
    val query = pqEncodeStream(input.toDF().toDF("vec_id", "v"), cbRow)
      .writeStream.format("memory").queryName("pq_add")
      .outputMode("append").start()
    // two micro-batches: the encode is stateless, so a vector's codes
    // must not depend on which batch carried it
    val (a, b) = arriving.splitAt(arriving.size / 2)
    input.addData(a)
    query.processAllAvailable()
    input.addData(b)
    query.processAllAvailable()
    query.stop()

    val got = spark.table("pq_add").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong) -> r.getLong(2)).toMap
    val want = batchCodes.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("sub")) ->
        r.getAs[Long]("code")).toMap
    assert(got == want, "stream PQ codes diverge from the stored code table")
    assert(got.size == arriving.size * graft.pipeline.Similarity.PqSubspaces,
      "every arriving vector must encode all subspaces")
  }

  private def semanticDecontamGuardTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // frozen index + train table from the batch side; the stream is
    // the TEST split arriving, so the batch twin is s15's candidate
    // screen at tau (whose downstream argmax the oracle gate verifies)
    def bucket(id: Long): Long =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(2).foldLeft(0L)((h, b) => h * 256 + (b & 0xff))
    val centsRow = centroidsAsRow(
      graft.pipeline.Similarity.trainedCentroids(spark, sfDir))
    val trainVecs = graft.pipeline.Similarity.s15TrainTable(spark, sfDir)
    val arriving = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) v")
      .as[(Long, Seq[Double])].collect().toSeq
      .filter(v => bucket(v._1) >= 62259)
    assert(arriving.nonEmpty)

    val input = MemoryStream[(Long, Seq[Double])]
    val query = semanticDecontamGuard(
      input.toDF().toDF("vec_id", "v"), centsRow, trainVecs)
      .writeStream.format("memory").queryName("sem_guard")
      .outputMode("append").start()
    // two micro-batches: the screen is stateless, so a vector's
    // collisions must not depend on which batch carried it
    val (a, b) = arriving.splitAt(arriving.size / 2)
    input.addData(a)
    query.processAllAvailable()
    input.addData(b)
    query.processAllAvailable()
    query.stop()

    val got = spark.table("sem_guard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.pipeline.Similarity.s15Scored(spark, sfDir)
      .filter($"cosine" >= graft.pipeline.Similarity.SemDedupTau)
      .select($"query_id", $"train_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"stream screen diverges from s15's batch screen: " +
        s"missing ${want -- got}, spurious ${got -- want}")
    assert(want.nonEmpty,
      "fixture must contain at least one tau collision to make this real")
  }

  private def hoppingCountsTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val events = graft.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq

    val input = MemoryStream[Event]
    val query = hoppingEventCounts(input.toDF())
      .writeStream.format("memory").queryName("hop_counts")
      .outputMode("update").start()
    input.addData(events)
    query.processAllAvailable()
    query.stop()

    val got = spark.table("hop_counts")
      .groupBy("window_start", "event_type")
      .agg(max("n_events").as("n_events")) // update mode: take latest per key
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = graft.Tables.events(spark, sfDir)
      .groupBy(window($"ts", "30 minutes", "15 minutes").getField("start").as("ws"),
        $"event_type")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want)
    // the overlap factor is exactly 2: total windowed mass is twice the
    // event count (every event lands in two hopping windows)
    assert(got.values.sum == 2L * events.size)
  }

  private def dsirGuardTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // frozen model from the batch side; the stream is the whole corpus
    // arriving (plus one planted featureless doc), so the batch twin is
    // p23's weight table (whose values the sf0.01 oracle gate verifies)
    val modelRow = dsirModelAsRow(
      graft.pipeline.TextAnalysis.dsirModel(spark, sfDir))
    val arriving = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq :+
      ((-1L, "solo"))

    val input = MemoryStream[(Long, String)]
    val query = dsirGuard(input.toDF().toDF("doc_id", "text"), modelRow)
      .writeStream.format("memory").queryName("dsir_guard")
      .outputMode("append").start()
    // two micro-batches: the guard is stateless, so a doc's weight must
    // not depend on which batch carried it
    val (a, b) = arriving.splitAt(arriving.size / 2)
    input.addData(a)
    query.processAllAvailable()
    input.addData(b)
    query.processAllAvailable()
    query.stop()

    val got = spark.table("dsir_guard").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val want = graft.pipeline.TextAnalysis.p23DsirWeights(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_feats"),
        r.getAs[Long]("qlw"), r.getAs[Long]("selected")))).toMap
    assert(got.size == arriving.size, "one verdict per arriving doc")
    want.foreach { case (id, w) =>
      assert(got(id) == w, s"doc $id stream weight diverges from p23")
    }
    // the featureless doc gets the out-of-scope verdict, not a crash
    assert(got(-1L) == ((0L, 0L, 0L)))
    assert((got.keySet - (-1L)) == want.keySet,
      "stream emits exactly the batch-scored docs plus the planted one")
  }

  private def qualityGuardTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // frozen trained weights from the batch side; the stream is the
    // corpus arriving (plus one planted featureless doc), so the batch
    // twin is p24's scored table (sf0.01-oracle-gated)
    val modelRow = qcModelAsRow(spark,
      graft.pipeline.TextAnalysis.qcModel(spark, sfDir))
    val arriving = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq :+
      ((-1L, "solo"))

    val input = MemoryStream[(Long, String)]
    val query = qualityGuard(input.toDF().toDF("doc_id", "text"), modelRow)
      .writeStream.format("memory").queryName("quality_guard")
      .outputMode("append").start()
    // two micro-batches: the guard is stateless, so a doc's verdict
    // must not depend on which batch carried it
    val (a, b) = arriving.splitAt(arriving.size / 2)
    input.addData(a)
    query.processAllAvailable()
    input.addData(b)
    query.processAllAvailable()
    query.stop()

    val got = spark.table("quality_guard").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val want = graft.pipeline.TextAnalysis.p24QualityClassifier(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_feats"),
        r.getAs[Long]("logit_micro"), r.getAs[Long]("predicted")))).toMap
    assert(got.size == arriving.size, "one verdict per arriving doc")
    want.foreach { case (id, w) =>
      assert(got(id) == w, s"doc $id stream logit diverges from p24")
    }
    // the featureless doc gets the out-of-scope verdict, not a crash
    assert(got(-1L) == ((0L, 0L, 0L)))
    assert((got.keySet - (-1L)) == want.keySet,
      "stream emits exactly the batch-scored docs plus the planted one")
  }

  private def piiGuardTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // the stream carries the same PII-injected texts batch p27 scrubs
    // (plus one planted PII-free doc), so the batch twin is p27's
    // profile table (whose values the sf0.01 oracle gate verifies)
    val arriving = graft.pipeline.TextAnalysis.piiInjected(spark, sfDir)
      .as[(Long, String)].collect().toSeq :+ ((-1L, "solo"))

    val input = MemoryStream[(Long, String)]
    val query = piiGuard(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pii_guard")
      .outputMode("append").start()
    // two micro-batches: the guard is stateless, so a doc's profile
    // must not depend on which batch carried it
    val (a, b) = arriving.splitAt(arriving.size / 2)
    input.addData(a)
    query.processAllAvailable()
    input.addData(b)
    query.processAllAvailable()
    query.stop()

    val got = spark.table("pii_guard").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))).toMap
    val want = graft.pipeline.TextAnalysis.p27PiiRedaction(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_emails"),
        r.getAs[Long]("n_phones"), r.getAs[Long]("n_ips"),
        r.getAs[Long]("n_redactions"), r.getAs[String]("redacted_md5"))))
      .toMap
    assert(got.size == arriving.size, "one profile per arriving doc")
    want.foreach { case (id, w) =>
      assert(got(id) == w, s"doc $id stream redaction diverges from p27")
    }
    // the PII-free doc passes through untouched: zero redactions and
    // the hash of its own token sequence
    val soloMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest("solo".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(-1L) == ((0L, 0L, 0L, 0L, soloMd5)))
    assert((got.keySet - (-1L)) == want.keySet,
      "stream emits exactly the batch-profiled docs plus the planted one")
  }

  private def luhnGuardTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // the stream carries the same injected texts batch p28 scrubs
    // (plus one planted number-free doc), so the batch twin is p28's
    // profile table (whose values the sf0.01 oracle gate verifies)
    val arriving = graft.pipeline.TextAnalysis.ccInjected(spark, sfDir)
      .as[(Long, String)].collect().toSeq :+ ((-1L, "solo"))

    val input = MemoryStream[(Long, String)]
    val query = luhnGuard(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("luhn_guard")
      .outputMode("append").start()
    val (a, b) = arriving.splitAt(arriving.size / 2)
    input.addData(a)
    query.processAllAvailable()
    input.addData(b)
    query.processAllAvailable()
    query.stop()

    val got = spark.table("luhn_guard").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))).toMap
    val want = graft.pipeline.TextAnalysis.p28LuhnRedaction(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_digit16"),
        r.getAs[Long]("n_luhn_valid"), r.getAs[Long]("n_rejected"),
        r.getAs[String]("redacted_md5")))).toMap
    assert(got.size == arriving.size, "one profile per arriving doc")
    want.foreach { case (id, w) =>
      assert(got(id) == w, s"doc $id stream Luhn profile diverges from p28")
    }
    val soloMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest("solo".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(-1L) == ((0L, 0L, 0L, soloMd5)))
    assert((got.keySet - (-1L)) == want.keySet)
  }

  private def vocabNoveltyGuardTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // the stream carries the same test-split docs batch p30 profiles
    // (whose values the oracle gate verifies), plus one planted
    // all-gibberish doc and one doc made of a known train-vocab token
    val exact = graft.pipeline.TextAnalysis.p30VocabNovelty(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_types"), r.getAs[Long]("n_novel_types"))))
      .toMap
    val texts = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val seenTok = graft.pipeline.TextAnalysis.trainVocab(spark, sfDir)
      .orderBy(col("tok")).limit(1).collect().head.getString(0)
    val arriving = exact.keys.toSeq.sorted.map(id => (id, texts(id))) ++
      Seq((-1L, "zzq9xv qqv8xz vxq7zz xqz6vv"), (-2L, s"$seenTok $seenTok"))
    val bloom = graft.pipeline.TextAnalysis
      .trainVocabBloomBytes(spark, sfDir)

    val input = MemoryStream[(Long, String)]
    val query = vocabNoveltyGuard(input.toDF().toDF("doc_id", "text"), bloom)
      .writeStream.format("memory").queryName("vocab_novelty_guard")
      .outputMode("append").start()
    val (a, b) = arriving.splitAt(arriving.size / 2)
    input.addData(a)
    query.processAllAvailable()
    input.addData(b)
    query.processAllAvailable()
    query.stop()

    val got = spark.table("vocab_novelty_guard").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.size == arriving.size, "one profile per arriving doc")
    // per doc: identical type count, and the bloom count is a CERTAIN
    // lower bound of the exact anti-join (no false negatives)
    exact.foreach { case (id, (nt, nn)) =>
      val (gt, gn, gppm) = got(id)
      assert(gt == nt, s"doc $id type count")
      assert(gn <= nn, s"doc $id bloom count $gn exceeds exact $nn")
      assert(gppm == gn * 1000000L / gt, s"doc $id ppm arithmetic")
    }
    // aggregate undercount bounded by the sketch's 1% fp licence
    val missed = exact.map { case (id, (_, nn)) => nn - got(id)._2 }.sum
    val totalNovel = exact.values.map(_._2).sum
    assert(missed <= math.max(2L, totalNovel / 50L),
      s"bloom missed $missed of $totalNovel novel types — fp way over 1%")
    // the planted gibberish is flagged (4 types, >= 3 certain-novel)
    assert(got(-1L)._1 == 4L && got(-1L)._2 >= 3L,
      s"gibberish doc under-flagged: ${got(-1L)}")
    // a doc of one known train token is clean: blooms have no false
    // negatives, so a seen token can never read novel
    assert(got(-2L) == ((1L, 0L, 0L)), s"seen-token doc flagged: ${got(-2L)}")
  }

  private def audioDupGuardTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // corpus-side truth: the exact landmark hash set m09 indexes
    val media = graft.pipeline.Multimodal.mediaTable(spark, sfDir)
    val corpusHashes = graft.pipeline.Multimodal.audioWindows(media)
      .select("h").distinct().as[Long].collect().toSet
    val audioTexts = media.filter(col("media_type") === "audio")
      .select(col("doc_id"), col("payload").cast("string"))
      .as[(Long, String)].collect()
      .sortBy { case (id, t) => (-t.length, id) }
    // arriving: the 3 longest corpus payloads verbatim, one SHIFTED
    // CLIP of a corpus payload (prefix pad + truncation — the
    // alignment case fixed-stride sampling misses), and one
    // gibberish payload
    val clipSrc = audioTexts.head._2
    val clip = "zQx9 " + clipSrc.substring(clipSrc.length / 4)
    // -3L: SHORTER than one landmark window (AuWinLen = 12 bytes) —
    // must still yield a profile row (clean, n_landmarks = 0), not
    // vanish from the screen (round-16 advisory)
    val arriving: Seq[(Long, String)] = audioTexts.take(3).toSeq ++
      Seq((-1L, clip), (-2L, "qz9xv7 qv8xz3 vxq7zz xqz6vv kk2jj9"),
        (-3L, " tiny clip"))
    val bloom = graft.pipeline.Multimodal
      .audioLandmarkBloomBytes(spark, sfDir)

    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "payload")
    val query = audioDupGuard(docs, bloom)
      .writeStream.format("memory").queryName("audio_dup_guard")
      .outputMode("append").start()
    val (a, b) = arriving.splitAt(2)
    input.addData(a)
    query.processAllAvailable()
    input.addData(b)
    query.processAllAvailable()
    query.stop()

    val got = spark.table("audio_dup_guard").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got.size == arriving.size, "one profile per arriving payload")
    // driver-side exact landmarks per arriving payload (same anchor/
    // window/hash geometry), checked against the corpus truth set
    def landmarks(s: String): Seq[Long] = {
      val bs = s.getBytes("UTF-8").map(_.toLong & 0xff)
      (0 until bs.length - (graft.pipeline.Multimodal.AuWinLen - 1))
        .filter(p => bs(p) == 32L)
        .map { p =>
          bs.slice(p, p + graft.pipeline.Multimodal.AuWinLen)
            .foldLeft(0L)((acc, x) => (acc * 131L + x) % 9007199254740881L)
        }
    }
    arriving.foreach { case (id, s) =>
      val lm = landmarks(s)
      val known = lm.count(corpusHashes)
      val (gn, gk, gppm, gdup) = got(id)
      assert(gn == lm.size, s"doc $id landmark count")
      // bloom has no false negatives: known-count is an upper bound
      assert(gk >= known, s"doc $id bloom count $gk below exact $known")
      assert(gk - known <= math.max(2L, lm.size / 20L),
        s"doc $id bloom over-count $gk vs $known — fp way over 1%")
      assert(gppm == gk * 1000000L / math.max(gn, 1L),
        s"doc $id ppm arithmetic")
      assert(gdup == (if (gk >= 3L) 1L else 0L), s"doc $id dup flag")
    }
    // the shifted clip MUST flag: content-defined anchors re-select
    // the same in-segment positions despite the pad (the m09 property
    // exercised in-stream); the verbatim re-uploads flag trivially
    assert(got(-1L)._4 == 1L, s"shifted clip not flagged: ${got(-1L)}")
    arriving.take(3).foreach { case (id, _) =>
      assert(got(id)._4 == 1L, s"verbatim re-upload $id not flagged") }
    // gibberish with no anchored corpus windows stays clean
    assert(got(-2L)._4 == 0L, s"gibberish flagged dup: ${got(-2L)}")
    // the sub-window payload is PROFILED (not dropped) and reads clean
    assert(got(-3L) == ((0L, 0L, 0L, 0L)),
      s"short payload not profiled clean: ${got(-3L)}")
  }

  private def phashGuardTwin(): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val Ph = graft.pipeline.Multimodal.PhBits
    // corpus-side truth: the ENGINE's stored per-image hashes (so the
    // stream-vs-batch hash equality below is engine-to-engine, not
    // replica-to-replica)
    val corpusHash = graft.pipeline.Multimodal
      .imagePhashArray(graft.pipeline.Multimodal.mediaTable(spark, sfDir)
        .filter(col("media_type") === "image")
        .select(col("doc_id"), col("payload")))
      .as[(Long, Long)].collect().toMap
    // driver-side aHash replica (independent of both engines; ASCII
    // corpus so bytes == chars, asserted by MultimodalSpec)
    def ahash(s: String): Long = {
      val bs = s.getBytes("UTF-8").map(_.toLong & 0xff)
      val L = bs.length.toLong
      val tot = bs.sum
      (0 until Ph).foldLeft(0L) { (h, i) =>
        val lo = (i * L / Ph).toInt; val hi = ((i + 1) * L / Ph).toInt
        val cs = bs.slice(lo, hi).sum; val cl = (hi - lo).toLong
        h + (if (cs * L >= tot * cl) 1L << i else 0L)
      }
    }
    val imgTexts = graft.pipeline.Multimodal.mediaTable(spark, sfDir)
      .filter(col("media_type") === "image")
      .select(col("doc_id"), col("payload").cast("string"))
      .as[(Long, String)].collect().filter(_._2.length >= Ph)
      .sortBy { case (id, t) => (-t.length, id) }
    // planted NEAR-dup: bump single bytes of corpus images until the
    // perturbed hash lands at 1 <= Hamming <= cap — the re-encode the
    // guard exists to catch (byte-exact re-uploads flag trivially)
    val nearDup = imgTexts.take(5).iterator.flatMap { case (_, t) =>
      (Ph until t.length by 7).iterator.map { p =>
        t.updated(p, (((t(p) - 32 + 1) % 94) + 32).toChar)
      }.filter { t2 =>
        val d = java.lang.Long.bitCount(ahash(t) ^ ahash(t2))
        d >= 1 && d <= graft.pipeline.Multimodal.PhHammingCap
      }
    }.buffered.headOption.getOrElse(
      fail("no single-byte perturbation landed in (0, cap] — corpus anomaly"))
    val arriving: Seq[(Long, String)] =
      imgTexts.take(2).toSeq ++ Seq((-1L, nearDup),
        (-2L, "zq9xv7pLm" * 12), (-3L, "tiny image"))
    val idxRow = graft.pipeline.Multimodal.phashBandIndexRow(spark, sfDir)

    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "payload")
    val query = phashDupGuard(docs, idxRow)
      .writeStream.format("memory").queryName("phash_guard")
      .outputMode("append").start()
    val (a, b) = arriving.splitAt(2)
    input.addData(a)
    query.processAllAvailable()
    input.addData(b)
    query.processAllAvailable()
    query.stop()

    val got = spark.table("phash_guard").collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4))))
      .toMap
    assert(got.size == arriving.size, "one profile per arriving image")
    // the guard's EXACT contract, per arriving payload: n_dup_matches
    // and best_hamming equal the full-scan truth over the engine's own
    // stored hash table (no sketch slack on either side)
    arriving.foreach { case (id, s) =>
      val (gh, gn, gbest, gdup) = got(id)
      if (s.length < Ph) {
        // sub-grid payload: profiled clean, not dropped
        assert(gh.isEmpty && gn == 0L && gbest.isEmpty && gdup == 0L,
          s"short payload $id not profiled clean: ${got(id)}")
      } else {
        val h = ahash(s)
        // stream hash == driver replica (and for verbatim re-uploads,
        // == the batch imagePhash value read above)
        assert(gh.contains(h), s"doc $id stream ahash ${gh} != replica $h")
        val matches = corpusHash.filter { case (_, ch) =>
          java.lang.Long.bitCount(ch ^ h) <=
            graft.pipeline.Multimodal.PhHammingCap
        }
        assert(gn == matches.size,
          s"doc $id match count $gn != exact ${matches.size}")
        val best = matches.values.map(ch =>
          java.lang.Long.bitCount(ch ^ h).toLong).minOption
        assert(gbest == best, s"doc $id best hamming $gbest != $best")
        assert(gdup == (if (gn >= 1L) 1L else 0L), s"doc $id dup flag")
      }
    }
    // verbatim re-uploads carry the batch hash, flag (they match at
    // least themselves at Hamming 0), and agree with batch m08: the
    // match count is 1 + X's m08 pair degree (pairs are doc_a < doc_b,
    // the guard sees both directions plus self)
    val m08Pairs = graft.pipeline.Multimodal
      .m08ImagePhashPairs(spark, sfDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    arriving.take(2).foreach { case (id, _) =>
      assert(got(id)._1.contains(corpusHash(id)),
        s"verbatim $id stream hash != batch imagePhash")
      assert(got(id)._4 == 1L, s"verbatim re-upload $id not flagged")
      assert(got(id)._3.contains(0L), s"verbatim $id best hamming != 0")
      val degree = m08Pairs.count(p => p._1 == id || p._2 == id).toLong
      assert(got(id)._2 == degree + 1L,
        s"verbatim $id guard matches ${got(id)._2} != m08 degree $degree + self")
    }
    // the planted near-dup MUST flag (pigeonhole puts its twin in one
    // of the 14 buckets read; verification keeps it)
    assert(got(-1L)._4 == 1L, s"planted near-dup not flagged: ${got(-1L)}")
    // the novel payload stays clean — candidates are Hamming-verified,
    // so unlike a saturated band sketch it CANNOT false-flag unless a
    // real <=cap neighbor exists (the driver replica above proves none
    // does)
    assert(got(-2L)._4 == 0L, s"novel image flagged dup: ${got(-2L)}")
  }

  private val twinRunners: Map[String, () => Unit] = Map(
    "phash_guard" -> (phashGuardTwin _),
    "audio_dup_guard" -> (audioDupGuardTwin _),
    "vocab_novelty_guard" -> (vocabNoveltyGuardTwin _),
    "luhn_guard" -> (luhnGuardTwin _),
    "pii_guard" -> (piiGuardTwin _),
    "dsir_guard" -> (dsirGuardTwin _),
    "quality_guard" -> (qualityGuardTwin _),
    "hopping_counts" -> (hoppingCountsTwin _),
    "pq_encode" -> (pqEncodeTwin _),
    "semantic_decontam_guard" -> (semanticDecontamGuardTwin _),
    "delta_dedup_guard" -> (deltaDedupGuardTwin _),
    "line_dedup_guard" -> (lineDedupGuardTwin _),
    "ivf_ingest_assign" -> (ivfIngestAssignTwin _),
    "funnel" -> (funnelTwin _),
    "windowed_counts" -> (windowedCountsTwin _),
    "sessionize" -> (sessionizeTwin _),
    "session_window" -> (sessionWindowTwin _),
    "stream_stream_join" -> (streamStreamJoinTwin _),
    "dedup" -> (dedupTwin _),
    "contamination_guard" -> (contaminationGuardTwin _))

  test("twin registry: every registered streaming twin proves batch equivalence") {
    // the registry is PRODUCTION code (Streams.twinRegistry); this
    // equality makes it impossible to register a twin without an
    // equivalence runner, or to keep a runner for a twin that no
    // longer exists
    assert(twinRunners.keySet == Streams.twinRegistry.keySet,
      s"registry/runner drift: runners for ${twinRunners.keySet}, " +
        s"registered ${Streams.twinRegistry.keySet}")
    Streams.twinRegistry.keys.toSeq.sorted.foreach { name =>
      withClue(s"twin '$name' (${Streams.twinRegistry(name)}): ") {
        twinRunners(name)()
      }
    }
  }

  test("funnel stream converges to the batch answer under ANY batch partition") {
    // property form of the funnel twin: events split into 3 micro-batches
    // by a seeded random assignment (so arrival order is arbitrary with
    // respect to event time), the final per-user row must still equal
    // batch q25. Several seeds probe different interleavings; seed 0 is
    // the degenerate all-in-one-batch case.
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import Streams._
    val events = graft.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000) % 1000L
    val want = graft.relational.StarQueries.q25Funnel(spark, sfDir).collect()
      .map { r =>
        r.getAs[Long]("user_id") -> ((
          Option(r.getAs[java.sql.Timestamp]("t_view")).map(us),
          Option(r.getAs[java.sql.Timestamp]("t_click")).map(us),
          Option(r.getAs[java.sql.Timestamp]("t_purchase")).map(us),
          r.getAs[Long]("stage")))
      }.toMap
    for (seed <- Seq(0, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val batches =
        if (seed == 0) Seq(events)
        else events.groupBy(_ => rnd.nextInt(3)).toSeq.sortBy(_._1).map(_._2)
      val input = MemoryStream[Event]
      val name = s"funnel_prop_$seed"
      val query = funnel(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      batches.foreach { b => input.addData(b); query.processAllAvailable() }
      query.stop()
      val got = spark.table(name).collect()
        .groupBy(_.getAs[Long]("user_id")).map { case (u, rows) =>
          val last = rows.maxBy(_.getAs[Long]("n_seen"))
          u -> ((Option(last.getAs[java.lang.Long]("t_view")).map(_.toLong),
            Option(last.getAs[java.lang.Long]("t_click")).map(_.toLong),
            Option(last.getAs[java.lang.Long]("t_purchase")).map(_.toLong),
            last.getAs[Long]("stage")))
        }
      assert(got == want, s"seed $seed diverged from batch q25")
    }
  }

  test("auto-ingest picks up bundle files and upserts idempotently") {
    val watch = java.nio.file.Files.createTempDirectory("rasswatch")
    val table = watch.resolve("table").toString
    val ckpt = watch.resolve("ckpt").toString
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/fixtures/bundle.json"))
    val bundleJson = try src.mkString finally src.close()
    java.nio.file.Files.writeString(watch.resolve("b1.json"), bundleJson)

    val q1 = AutoIngest.start(spark, watch.toString, table, ckpt, "u1",
      new DeterministicEmbedder(8))
    q1.awaitTermination()
    val n1 = spark.read.parquet(table).count()
    assert(n1 > 0)

    // re-delivering the same bundle under a new name must not duplicate
    java.nio.file.Files.writeString(watch.resolve("b2.json"), bundleJson)
    val q2 = AutoIngest.start(spark, watch.toString, table,
      watch.resolve("ckpt2").toString, "u1", new DeterministicEmbedder(8))
    q2.awaitTermination()
    val after = spark.read.parquet(table)
    assert(after.count() == n1, "doc_id upsert must deduplicate")
    assert(after.select("doc_id").distinct().count() == n1)
  }

  test("auto-ingest maintains materialized BM25 stats incrementally") {
    import graft.rass.{CorpusStats, DocSchema}
    val watch = java.nio.file.Files.createTempDirectory("rassstats")
    val table = watch.resolve("table").toString
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/fixtures/bundle.json"))
    val bundleJson = try src.mkString finally src.close()
    java.nio.file.Files.writeString(watch.resolve("b1.json"), bundleJson)

    AutoIngest.start(spark, watch.toString, table,
      watch.resolve("ckpt1").toString, "u1",
      new DeterministicEmbedder(8)).awaitTermination()

    def statsMatchRebuild(): Unit = {
      val docs = spark.read.parquet(table)
      val (wantF, wantT) = CorpusStats.build(docs, DocSchema.scoredFields)
      val gotF = spark.read.parquet(IngestCommit.statsFieldsPath(table))
      val gotT = spark.read.parquet(IngestCommit.statsTermsPath(table))
      def fm(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[String]("field") ->
          ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_dl")))).toMap
      def tm(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[String]("field"), r.getAs[String]("term")) ->
          r.getAs[Long]("df")).toMap
      assert(fm(gotF) == fm(wantF))
      assert(tm(gotT) == tm(wantT))
    }
    statsMatchRebuild()

    // second batch re-ingests every doc with mutated text: the signed
    // merge (subtract replaced versions, add winners) must land on the
    // same stats a from-scratch build over the new table computes
    java.nio.file.Files.writeString(watch.resolve("b2.json"),
      bundleJson.replace("thirst", "hunger"))
    AutoIngest.start(spark, watch.toString, table,
      watch.resolve("ckpt2").toString, "u1",
      new DeterministicEmbedder(8)).awaitTermination()
    statsMatchRebuild()
  }
}
