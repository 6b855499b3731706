package e2ebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one seed, one timed window.
  *
  *   Main --workload ask|release --seed N --seconds S --trace 0|1
  *        --work DIR --result FILE
  *
  * Set-up (session start, table or corpus build, the fixed warm-up) is
  * timed as `setup_s`. The window then runs ops in a closed loop with
  * one client until the ops' summed wall time reaches S, the op count
  * is a multiple of the workload's unit, and there are at least the
  * workload's minimum of ops; a workload may add a second window of a
  * fixed number of ops (the uploads of `ask`).
  * The last stdout line is the result: end-to-end metrics untraced,
  * per-layer metrics traced. Every op, span and metric goes to the side
  * file named by --result. The release workload's artifact root is the
  * engine's own setting, SPARK_GRAFT_ARTIFACTS.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work"))
    val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val line = run(spark, workload, seed, seconds, traced, work,
        Paths.get(a("result")), t0)
      println(line)
    } finally spark.stop()
  }

  /** Stems of the engine's source files, the layers of call sites. */
  private def sourceFiles: Set[String] = {
    val s = Files.walk(Paths.get("src/main/scala"))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".scala")).map(_.stripSuffix(".scala")).toSet
    finally s.close()
  }

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      traced: Boolean, work: java.nio.file.Path,
      result: java.nio.file.Path, jvmStartMs: Long): String = {
    val trace = new Trace(traced)
    val tap = if (traced) Some(new SparkTap(spark, sourceFiles)) else None
    tap.foreach(spark.sparkContext.addSparkListener)
    val c = new Ctx(spark, work, seed, trace, tap)
    val w: Workload = workload match {
      case "ask" => new AskWorkload(c)
      case "release" => new ReleaseWorkload(c, sys.env("SPARK_GRAFT_ARTIFACTS"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    c.phases += "session" -> (System.currentTimeMillis() - jvmStartMs) / 1e3
    w.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // every op of both windows: its numbers, and in a traced run its layers
    val all = ArrayBuffer[(Op, Map[String, Double])]()
    def timed(root: String)(f: Int => Op): Op = {
      val i = all.size
      val tag = s"op$i"
      tap.foreach(_.tag(tag))
      val compiles0 = SparkTap.compiles
      trace.beginOp(i, root)
      val t0 = System.nanoTime()
      val op =
        try f(i)
        catch { case e: Exception =>
          val s = (System.nanoTime() - t0) / 1e9
          Op(s, s, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      trace.endOp()
      val compiles = SparkTap.compiles - compiles0
      tap.foreach { t => t.untag(); t.drain() }
      all += op -> (if (traced) Attribution.perOp(trace, tap.get, i, tag, op, compiles) else Map.empty)
      op
    }
    var measured = 0.0
    while (measured < seconds || all.size < w.minOps || all.size % w.unit != 0)
      measured += timed(s"$workload.op")(w.op).wall
    val nOps = all.size
    (0 until w.laterOps).foreach(j => timed("later.op")(_ => w.laterOp(j)))
    val (ops, later) = all.toSeq.map(_._1).splitAt(nOps)
    val (layers, laterLayers) = all.toSeq.map(_._2).splitAt(nOps)
    val pinned = SparkTap.pinnedMb(spark)
    val finishFailures = w.finish()

    val digest = w match {
      case a: AskWorkload => a.digest
      case _ => ""
    }
    val golden = if (digest.isEmpty) None else Golden.check(seed, digest)
    val opFailures = (ops ++ later).flatMap(_.failure)
    val failures = opFailures ++ finishFailures ++ golden
    // the end-of-run checks count as one more attempted op
    val runChecks = if (finishFailures.nonEmpty || golden.nonEmpty) 1 else 0
    val attempted = ops.size + later.size + runChecks
    val failed = opFailures.size + runChecks
    val walls = ops.map(_.wall)
    val summary = w.summary(ops, later)
    val tail = Stats.tail(walls)

    val endToEnd: Seq[Metric] = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_s", Stats.median(walls), "s"),
      Metric("op_tail_s", tail.map(_._2).getOrElse(walls.max), "s"),
      Metric("ops_per_s", ops.size / walls.sum, "1/s"),
      Metric("first_token_p50_s", Stats.median(ops.map(_.first)), "s"),
      Metric("visible_p50_s", w.visibleP50(ops, later), "s"),
      Metric("warm_p50_s", w.warmP50(ops), "s"),
      Metric("write_amp", w.writeAmp(ops), "ratio"))

    val perLayer: Seq[Metric] =
      if (!traced) Nil
      else Attribution.summarize(layers, laterLayers, summary, walls, pinned,
        failed.toDouble / attempted)

    val side = Json.obj(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "trace" -> traced.toString, "seconds" -> seconds.toString,
      "ops" -> ops.size.toString, "later_ops" -> later.size.toString,
      "tail_percentile" -> tail.map(t => Json.num(t._1)).getOrElse("100"),
      "drift" -> Json.num(Stats.drift(walls, w.unit)),
      "warm_ops" -> Json.arr(c.warmOps.toSeq.map(Json.num)),
      "setup_phases" -> Json.obj(c.phases.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "call_sites" -> Json.obj(tap.toSeq.flatMap(_.siteJobs.toSeq.sortBy(-_._2))
        .map { case (k, v) => k -> v.toString }: _*),
      "pinned_mb" -> Json.num(pinned),
      "failures" -> Json.arr(failures.map(Json.str).toSeq),
      "answer_digest" -> Json.str(digest),
      "end_to_end" -> Json.metrics(endToEnd),
      "summary" -> Json.obj(summary.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }: _*),
      "per_layer" -> Json.metrics(perLayer),
      "ops_detail" -> Json.arr(all.toSeq.zipWithIndex.map { case ((o, layer), i) =>
        Json.obj(Seq("i" -> i.toString, "later" -> (i >= nOps).toString,
          "wall" -> Json.num(o.wall),
          "first" -> Json.num(o.first),
          "failure" -> o.failure.map(Json.str).getOrElse("null")) ++
          o.label.toSeq.map { case (k, v) => k -> Json.str(v) } ++
          o.extra.toSeq.map { case (k, v) => k -> Json.num(v) } ++
          layer.toSeq.sorted.map { case (k, v) => s"layer.$k" -> Json.num(v) }: _*)
      }),
      "spans" -> Json.arr(trace.all.map(s => Json.obj("name" -> Json.str(s.name),
        "op" -> s.op.toString, "parent" -> s.parent.toString,
        "start_ns" -> s.start.toString, "end_ns" -> s.end.toString))))
    Files.createDirectories(result.getParent)
    Files.writeString(result, side + "\n")

    System.err.println(s"e2ebench: $workload seed=$seed setup=$setupS " +
      c.phases.map { case (k, v) => f"$k=$v%.1f" }.mkString(" ") +
      s" ops=${ops.size}+${later.size} " +
      s"tail=p${tail.map(t => f"${t._1}%.1f").getOrElse("100")} n=${ops.size} " +
      f"drift=${Stats.drift(walls, w.unit)}%+.3f failures=${failures.take(3).mkString("; ")}")
    Json.result(failures.isEmpty, attempted, failed,
      if (traced) perLayer.take(Attribution.Reported.size) else endToEnd)
  }

}

final case class Metric(name: String, value: Double, unit: String)

/** Just enough JSON writing for the result line and the side file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Finite numbers to six significant digits (a microsecond on a
    * one-second op), trailing zeros dropped.
    */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).round(new java.math.MathContext(6))
      .stripTrailingZeros.toPlainString

  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  def metrics(ms: Seq[Metric]): String =
    obj(ms.map(m => m.name -> obj("value" -> num(m.value), "unit" -> str(m.unit))): _*)

  def result(correct: Boolean, attempted: Int, failed: Int, ms: Seq[Metric]): String =
    obj("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metrics(ms))
}
