package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; Spark reuses
  * the same context across suites — cheap and avoids restart churn). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Block until every listener event posted so far has been delivered:
    * listeners added with `addSparkListener` share one queue, so when a
    * marker job's start reaches a listener added last, every earlier event
    * has reached the listeners added before it. */
  /** The data files the lake scans of `df`'s physical plan will read: the
    * files of every `BatchScanExec`'s input partitions, as plain paths
    * (`Dataset.inputFiles` lists none for a DataSource-v2 relation). Fails
    * when the plan has no such scan, so an empty set always means that
    * every file was skipped. */
  def plannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.tables.dsv2.{LakeBucketPartition, LakeSqlPartition}
    val scans = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty, s"no DataSource-v2 scan in\n${df.queryExecution.executedPlan}")
    scans.flatMap(_.inputPartitions).flatMap {
      case p: LakeSqlPartition => p.units.toSeq.flatten
      case p: LakeBucketPartition => p.files.toSeq
      case other => fail(s"unexpected input partition $other")
    }.map(_.filePath.toString.replaceFirst("^file:/+", "/")).toSet
  }

  def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val group = s"listener-drain-${System.nanoTime()}"
    val seen = new CountDownLatch(1)
    val marker = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          seen.countDown()
    }
    sc.addSparkListener(marker)
    try {
      sc.setJobGroup(group, "listener drain marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(seen.await(60, TimeUnit.SECONDS), "listener bus did not drain in 60 s")
    } finally sc.removeSparkListener(marker)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
