package e2ebench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.SparkSession

/** Spark-side attribution for the traced run. Every job an op submits
  * carries the op's tag as a local property; the listener files its
  * jobs, stages, task time, GC and shuffle bytes under that tag, and
  * files stage time under the source file of the job's call site.
  */
final class SparkTap(spark: SparkSession, sourceFiles: Set[String])
    extends SparkListener {

  import SparkTap._

  final class Work {
    var jobs = 0
    var stages = 0
    var taskMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    val stageMsByFile = mutable.Map[String, Long]().withDefaultValue(0L)
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  }

  private val work = mutable.Map[String, Work]()
  private val stageOwner = mutable.Map[Int, (String, String)]()
  private val jobOwner = mutable.Map[Int, (String, Long)]()
  /** Jobs per raw call site, for checking the file mapping. */
  val siteJobs = mutable.Map[String, Int]().withDefaultValue(0)
  /** Call site of each SQL execution. Adaptive execution submits its
    * stage jobs from a thread pool, where Spark's own call-site capture
    * sees only the pool; the execution that spawned them still names
    * the engine line that ran the action.
    */
  private val execSite = mutable.Map[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSite(s.executionId) = s.description
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
    tag.foreach { op =>
      val w = work.getOrElseUpdate(op, new Work)
      w.jobs += 1
      jobOwner(e.jobId) = (op, e.time)
      val stageSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
      val sqlSite = Option(e.properties.getProperty("spark.sql.execution.id"))
        .flatMap(id => execSite.get(id.toLong))
      val site = (stageSite.toSeq ++ sqlSite)
        .find(layerOf(_, sourceFiles) != "other")
        .orElse(sqlSite).orElse(stageSite).getOrElse("")
      siteJobs(site) += 1
      val file = layerOf(site, sourceFiles)
      e.stageIds.foreach(s => stageOwner(s) = (op, file))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { case (op, start) =>
      work(op).jobSpans += ((start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageOwner.remove(si.stageId).foreach { case (op, file) =>
      val w = work(op)
      w.stages += 1
      for (s <- si.submissionTime; c <- si.completionTime) w.stageMsByFile(file) += c - s
      val m = si.taskMetrics
      if (m != null) {
        w.taskMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def tag(op: String): Unit = spark.sparkContext.setLocalProperty(TagKey, op)
  def untag(): Unit = spark.sparkContext.setLocalProperty(TagKey, null)

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def of(op: String): Work = synchronized(work.getOrElse(op, new Work))

  /** Wall time (s) inside at least one of the op's jobs. */
  def inJobSeconds(op: String): Double = {
    val spans = of(op).jobSpans.sortBy(_._1)
    var total = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    spans.foreach { case (s, e) =>
      if (s > hi) { total += hi - lo; lo = s; hi = e }
      else hi = math.max(hi, e)
    }
    total += hi - lo
    total / 1e3
  }
}

object SparkTap {
  val TagKey = "e2ebench.op"

  private val SiteFile = "at ([A-Za-z0-9_$]+)\\.(?:scala|java):\\d+".r

  /** Layer of a call site: the source file it names, when that file is
    * one of the engine's own; anything else (Spark's or the JDK's
    * threads, the benchmark itself) is `other`.
    */
  def layerOf(callSite: String, sourceFiles: Set[String]): String =
    SiteFile.findFirstMatchIn(callSite).map(_.group(1))
      .filter(sourceFiles).getOrElse("other")

  /** Janino compiles so far in this JVM. */
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** MB held in Spark storage by persisted tables. */
  def pinnedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
}
