package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir

  /** The call site of every Spark job `body` starts on this thread, in
    * start order: the names of the job's stages (each stage is named
    * after the action or operator that created it), joined by " | ".
    * Jobs are told apart by job group; the listener bus is asynchronous,
    * so a fence job run after `body` is awaited before the list is read.
    */
  def jobsDuring(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"spec-jobs-${System.nanoTime()}"
    val sites = new ConcurrentLinkedQueue[String]
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => sites.add(js.stageInfos.map(_.name).mkString(" | "))
          case g if g == group + "-fence" => fenced.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "fence job never reached the listener")
      sites.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** Janino compilations while `body` runs: 0 when every class is
    * cached for the compiling thread's class loader. Spark's codegen
    * cache is JVM-wide and keyed by (class loader, source), so what
    * survives in it depends on what else the JVM compiled.
    */
  def compilesDuring(body: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}
