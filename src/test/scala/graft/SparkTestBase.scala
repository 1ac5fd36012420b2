package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable

/** One shared local session for the whole forked test JVM (Test/fork := true
  * runs every suite in a single JVM — a per-suite session would pay ~5 s of
  * context startup each). */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark

  /** Evaluate a single Column expression over one string value. */
  def evalStr[T](value: String, c: Column => Column): T = {
    import spark.implicits._
    Seq(Option(value)).toDF("v").select(c(org.apache.spark.sql.functions.col("v"))).collect()(0).getAs[T](0)
  }

  def evalTokens(value: String, c: Column => Column): Seq[String] =
    evalStr[scala.collection.Seq[String]](value, c).toSeq

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Leaf file scans in an executed plan, through adaptive query stages. A
    * reused exchange is a leaf, so a shuffle read twice counts its scan once. */
  def leafScans(plan: SparkPlan): Int =
    new AdaptiveSparkPlanHelper {}.collect(plan) { case s: FileSourceScanExec => s }.size

  /** The executed plan of every query `f` ran to completion, drained the
    * way [[planShape]] drains its job events. */
  def executedPlans(f: => Unit): Seq[SparkPlan] = {
    val plans = mutable.Buffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      planShape("executed-plans")(f)
      plans.synchronized(plans.toList)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Jobs and shuffle-map stages Spark ran for `f`'s jobs, counted by a
    * listener over `f`'s job group. A trailing job in a second group drains
    * the listener bus: its end arrives after every event `f` posted. */
  def planShape(group: String)(f: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val endGroup = s"$group-end"
    val ended = new CountDownLatch(1)
    var jobs = 0
    var shuffleMapStages = 0
    val stages = mutable.Set.empty[Int]
    var endJob = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs += 1; stages ++= e.stageIds
          case `endGroup` => endJob = e.jobId
          case _ =>
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        // a stage that wrote shuffle output is a shuffle-map stage
        val m = e.stageInfo.taskMetrics
        if (stages(e.stageInfo.stageId) && m != null && m.shuffleWriteMetrics.recordsWritten > 0)
          shuffleMapStages += 1
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        if (e.jobId == endJob) ended.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
      sc.setJobGroup(endGroup, endGroup)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(ended.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      listener.synchronized((jobs, shuffleMapStages))
    } finally sc.removeSparkListener(listener)
  }
}
