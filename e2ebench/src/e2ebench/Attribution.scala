package e2ebench

/** Per-layer numbers of the traced run.
  *
  * Engine layers come from the spans: each named layer gets its spans'
  * self time. On `ask`, the op's own time before the first token is
  * `ask.retrieve_s` (patient resolution, the search action, context
  * assembly: everything that is not a seam). Whatever of the op's wall
  * time no layer claims is `trace.unattributed_s`, so the layers of
  * every op sum to its wall time exactly.
  *
  * Spark phases come from [[SparkTap]]: jobs, stages, compiles, time
  * inside jobs, and the Spark driver's time outside jobs and outside the
  * in-process model seams.
  */
object Attribution {

  /** Seams that run on the driver and submit no Spark jobs. */
  private val ModelSeams = Set("query.ner", "query.intent", "rass.embed", "rass.generate")

  def perOp(trace: Trace, tap: SparkTap, op: Int, tag: String, o: Op,
      compiles: Long): Map[String, Double] = {
    val selfs = trace.selfTimes(op)
    val root = selfs.map(_._1).find(_.parent < 0)
    val named = selfs.collect { case (s, t) if s.parent >= 0 => s.name -> t }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val retrieve =
      if (o.firstNs <= 0L || root.isEmpty) Map.empty[String, Double]
      else {
        val (a, b) = (o.startNs, o.firstNs)
        val covered = selfs.map(_._1).filter(_.parent == root.get.id)
          .map(s => math.max(0L, math.min(s.end, b) - math.max(s.start, a))).sum
        Map("ask.retrieve" -> (b - a - covered) / 1e9)
      }
    val layers = (named ++ retrieve).map { case (k, v) => s"${k}_s" -> v }
    val w = tap.of(tag)
    val inJob = tap.inJobSeconds(tag)
    val seams = named.filter(kv => ModelSeams(kv._1)).values.sum
    layers ++ Map(
      "trace.unattributed_s" -> (o.wall - layers.values.sum),
      "spark.jobs_per_op" -> w.jobs.toDouble,
      "spark.stages_per_op" -> w.stages.toDouble,
      "spark.compiles_per_op" -> compiles.toDouble,
      "spark.in_job_s" -> inJob,
      "spark.driver_s" -> (o.wall - inJob - seams),
      "spark.task_s" -> w.taskMs / 1e3,
      "spark.gc_s" -> w.gcMs / 1e3,
      "spark.shuffle_mb" -> w.shuffleBytes / 1e6) ++
      w.stageMsByFile.map { case (f, ms) => s"spark.stage_s.$f" -> ms / 1e3 } ++
      o.extra.filter(_._1.contains('.'))
  }

  /** The per-layer metrics the result line carries, with units. Every
    * workload reports all of them; a layer a workload never enters
    * reads 0. The side file holds the rest (the rule-based NER and
    * intent seams, every intent's p50, stages, task time, shuffle, every
    * call-site file's stage time, the storage held after the window,
    * the failed share, each op's numbers).
    */
  val Reported: Seq[(String, String)] = Seq(
    "rass.embed_s" -> "s", "chat.history_s" -> "s", "chat.append_s" -> "s",
    "rass.generate_s" -> "s", "ask.retrieve_s" -> "s",
    "ask.HYBRID_p50_s" -> "s", "ask.MULTI_INTENT_p50_s" -> "s",
    "ask.repeat_p50_s" -> "s", "ask.fresh_p50_s" -> "s",
    "spark.jobs_per_op" -> "count", "spark.compiles_per_op" -> "count",
    "spark.in_job_s" -> "s", "spark.driver_s" -> "s", "spark.gc_s" -> "s",
    "spark.stage_s.PatientResolver" -> "s", "spark.stage_s.RassEngine" -> "s",
    "spark.stage_s.Dedup" -> "s", "spark.stage_s.Similarity" -> "s",
    "ingest.embed_s" -> "s", "ingest.rows_rewritten_per_row" -> "count",
    "ingest.written_mb" -> "MB", "ingest.visible_ask_s" -> "s",
    "ingest.spark.stage_s.IngestCommit" -> "s",
    "release.d06_s" -> "s", "release.p09_s" -> "s", "release.s21_s" -> "s",
    "release.s15_s" -> "s", "release.x07_s" -> "s", "release.x12_s" -> "s",
    "release.x13_s" -> "s", "release.warm_jobs" -> "count",
    "release.artifact_mb" -> "MB", "trace.unattributed_s" -> "s")

  /** Mean over the first window's ops of each per-op number; the same,
    * prefixed `ingest.`, over the second window's (the uploads of
    * `ask`); the workload's own summary numbers; the first window's
    * median op time, the storage held after the windows and the failed
    * share. Returns every metric: the reported ones first.
    */
  def summarize(perOp: Seq[Map[String, Double]], laterPerOp: Seq[Map[String, Double]],
      summary: Map[String, Double], walls: Seq[Double], pinnedMb: Double,
      failedShare: Double): Seq[Metric] = {
    def means(ms: Seq[Map[String, Double]]) = {
      val keys = ms.flatMap(_.keys).distinct
      keys.map(k => k -> ms.map(_.getOrElse(k, 0.0)).sum / ms.size).toMap
    }
    val later = means(laterPerOp).map { case (k, v) =>
      (if (k.startsWith("ingest.")) k else s"ingest.$k") -> v
    }
    val all = means(perOp) ++ later ++ summary ++ Map("trace.op_p50_s" -> Stats.median(walls),
      "pinned_mb" -> pinnedMb, "failed_share" -> failedShare)
    val reported = Reported.map { case (k, u) => Metric(k, all.getOrElse(k, 0.0), u) }
    val rest = (all -- Reported.map(_._1)).toSeq.sortBy(_._1).map { case (k, v) =>
      Metric(k, v, if (k.endsWith("_s") || k.contains("_s.")) "s"
        else if (k.endsWith("_mb")) "MB" else "count")
    }
    reported ++ rest
  }
}

/** Recorded digests of the ask workload's (question, hit ids, scores)
  * over its warm-up and first timed block, per seed, in
  * `e2ebench/golden.json` ({"<seed>": "<sha-256>"}). A run on a
  * recorded seed must reproduce its digest; other seeds report theirs
  * in the side file.
  */
object Golden {
  val Path = "e2ebench/golden.json"

  def recorded: Map[String, String] = {
    val p = java.nio.file.Paths.get(Path)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else "\"(\\d+)\"\\s*:\\s*\"([0-9a-f]{64})\"".r
      .findAllMatchIn(java.nio.file.Files.readString(p))
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  def check(seed: Long, digest: String): Option[String] =
    recorded.get(seed.toString).filter(_ != digest)
      .map(want => s"answers digest $digest, recorded $want")
}
