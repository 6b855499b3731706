package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, QueryExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.util.QueryExecutionListener
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

  /** The executed plan of every query `body` runs on this session, in
    * completion order. The listener bus is asynchronous, so `body` is
    * bracketed by two fence queries, and only what completes between
    * them is kept.
    */
  def plansDuring(body: => Any): Seq[SparkPlan] = {
    val fence = s"fence-${System.nanoTime()}"
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    @volatile var open = false
    val closed = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed.output.map(_.name) match {
          case Seq(`fence`) => if (open) closed.countDown() else open = true
          case _ => if (open) plans.add(qe.executedPlan)
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.range(1).toDF(fence).collect()
      body
      spark.range(1).toDF(fence).collect()
      assert(closed.await(60, TimeUnit.SECONDS), "fence query never reached the listener")
      plans.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** Generated source of each plan: every whole-stage codegen subtree,
    * and the predicate of every Filter left outside them. Read from the
    * plans, not the codegen cache, so it holds whatever other specs
    * compiled before.
    */
  def generated(plans: Seq[SparkPlan]): Seq[Seq[String]] = plans.map { p =>
    def stage(n: SparkPlan): Seq[SparkPlan] = n match {
      case _: InputAdapter => Nil
      case _ => n +: n.children.flatMap(stage)
    }
    val staged = SparkSpec.Aqe.collect(p) { case w: WholeStageCodegenExec => w }
      .flatMap(w => stage(w.child)).toSet
    codegenStringSeq(p).map(_._2) ++ SparkSpec.Aqe.collect(p) {
      case f: FilterExec if !staged(f) => SparkSpec.predicateCode(f.condition, f.child.output)
    }
  }
}

object SparkSpec {
  private object Aqe extends AdaptiveSparkPlanHelper

  /** The Java source a predicate compiles to outside whole-stage
    * codegen (`GeneratePredicate`'s body: state, helper functions and
    * the evaluation).
    */
  private def predicateCode(cond: Expression, input: Seq[Attribute]): String = {
    val ctx = new CodegenContext
    val ev = BindReferences.bindReference(cond, input).genCode(ctx)
    s"${ctx.declareMutableStates()}\n${ctx.declareAddedFunctions()}\n${ev.code}"
  }
}
