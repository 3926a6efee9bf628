package graft.tables

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkTestBase

/** How a view refresh runs: a count/sum refresh is one Spark job with no
  * broadcast, its changelog reads only the columns the view uses, and a
  * view over a base that starts with rows (a clone) sees them. */
class MaterializedViewRefreshSpec extends SparkTestBase {

  import spark.implicits._

  private def newBase(): LakeTable =
    LakeTable.createOrOpen(spark, Files.createTempDirectory("mvrbase").toString,
      StructType.fromDDL("k STRING, wv BIGINT, grp STRING, n BIGINT, payload STRING, deleted BOOLEAN"),
      Seq("k"), Seq("wv"), numBuckets = 8, tombstoneCol = Some("deleted"))

  private val aggs = Seq(AggSpec("count", "*", "cnt"), AggSpec("sum", "n", "sum_n"))

  private def newMv(base: LakeTable): MaterializedView =
    MaterializedView.createOrOpen(spark, Files.createTempDirectory("mvr").toString,
      base, Seq("grp"), aggs, numBuckets = 4)

  private def oracle(base: LakeTable): Set[(String, Long, Long)] =
    base.read().groupBy($"grp").agg(count(lit(1)), sum($"n"))
      .as[(String, Long, Long)].collect().toSet

  private def view(mv: MaterializedView): Set[(String, Long, Long)] =
    mv.read().select($"grp", $"cnt", $"sum_n").as[(String, Long, Long)].collect().toSet

  private def rows(range: Seq[Int], wv: Long, deleted: Boolean = false) =
    range.map(i => (s"k$i", wv, s"g${i % 5}", i.toLong * wv, s"p$i-$wv", deleted))
      .toDF("k", "wv", "grp", "n", "payload", "deleted")

  test("a count/sum refresh is ONE job with no broadcast, and its changelog " +
      "reads only keys, orders, the tombstone and the view's inputs") {
    val base = newBase()
    base.merge(rows(0 until 64, 1L), "b1")
    val mv = newMv(base)
    mv.refresh()
    // updates, deletes (one group vanishes) and inserts, as MOR layers
    base.merge(rows(0 until 16, 2L).union(rows(64 until 72, 1L)), "b2", mor = true)
    base.merge(rows((0 until 72).filter(_ % 5 == 4), 3L, deleted = true), "b3", mor = true)

    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .exists(_.startsWith("listener-drain"))) jobs.add(e.jobId)
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drainListenerBus()
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try { mv.refresh(); drainListenerBus() }
    finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    assert(jobs.size === 1, s"refresh jobs: ${jobs.asScala.mkString(",")}")
    val all = plans.asScala.mkString("\n---\n")
    assert(plans.size >= 1 && !all.contains("BroadcastExchange"), all)
    val windowScans = """window, ReadSchema=(.*?), PushedFilters""".r
      .findAllMatchIn(all).map(_.group(1).split(',').toSet).toSeq
    assert(windowScans.nonEmpty, all)
    windowScans.foreach(cols => assert(cols === Set("k", "wv", "deleted", "grp", "n"), all))
    assert(view(mv) === oracle(base))
    assert(!view(mv).exists(_._1 == "g4"))
  }

  test("a view over a clone sees the rows the clone holds at v0") {
    val src = newBase()
    src.merge(rows(0 until 10, 1L), "s1")
    val clone = src.cloneTo(Files.createTempDirectory("mvrclone").toString + "/t")
    assert(clone.currentVersion() === 0L)
    val mv = newMv(clone)
    assert(mv.refresh() === 0L)
    assert(view(mv) === oracle(clone) && view(mv).size === 5)
    // a second refresh at v0 is a no-op, and the next window starts at v0
    assert(mv.refresh() === 0L)
    clone.merge(rows(10 until 12, 1L).union(rows(0 until 1, 2L)), "c1", mor = true)
    assert(mv.refresh() === clone.currentVersion())
    assert(view(mv) === oracle(clone))
  }
}
