package graft.tables

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}

import graft.SparkTestBase
import graft.tables.dsv2.LakeCatalog

/** The resolved read: SQL `SELECT`, `read()`, `readAt`, `readBucketed()`
  * and keyed reads return the same rows, the in-memory LWW fold, over
  * merge-on-read ties, tombstones and an added column; a filter on `read()`
  * skips files by their bounds; clean files keep Spark's splits while
  * dirty buckets keep their groups. */
class ResolvedReadSpec extends SparkTestBase {

  import spark.implicits._

  /** one stored row; `x` is the column the third batch adds */
  private case class R(k: String, wv: Long, v: String, deleted: Boolean, x: Option[Long])

  private def df(rows: Seq[R]): DataFrame =
    if (rows.exists(_.x.isDefined))
      rows.map(r => (r.k, r.wv, r.v, r.deleted, r.x)).toDF("k", "wv", "v", "deleted", "x")
    else rows.map(r => (r.k, r.wv, r.v, r.deleted)).toDF("k", "wv", "v", "deleted")

  private def toR(r: Row): R = {
    val hasX = r.schema.fieldNames.contains("x")
    R(r.getAs[String]("k"), r.getAs[Long]("wv"), r.getAs[String]("v"),
      Option(r.getAs[java.lang.Boolean]("deleted")).exists(_.booleanValue),
      if (hasX) Option(r.getAs[java.lang.Long]("x")).map(_.longValue) else None)
  }

  private def rows(d: DataFrame): Set[R] = d.collect().map(toR).toSet

  /** LWW fold: the highest `wv` wins, the later batch on a tie */
  private def fold(batches: Seq[Seq[R]]): Map[String, R] =
    batches.foldLeft(Map.empty[String, R]) { (m, b) =>
      b.foldLeft(m)((acc, r) => if (acc.get(r.k).forall(_.wv <= r.wv)) acc + (r.k -> r) else acc)
    }

  private def visible(m: Map[String, R]): Set[R] = m.values.filterNot(_.deleted).toSet

  private val SplitKey = "spark.sql.files.maxPartitionBytes"

  private def isLocal(d: DataFrame): Boolean =
    d.queryExecution.logical.isInstanceOf[LocalRelation]

  /** the rows of a keyed read called with every file over the split size:
    * the plan, whenever a file may hold a wanted key */
  private def distributed(read: => DataFrame): Set[R] = {
    val d = LakeTable.withScopedConf(spark, SplitKey, "1")(read)
    val got = rows(d)
    if (got.nonEmpty) assert(!isLocal(d), "a 1-byte split must force the distributed plan")
    got
  }

  /** a keyed read with the default split size: its one-task files on the driver */
  private def onDriver(read: => DataFrame): DataFrame = {
    val d = read
    assert(isLocal(d), "a one-task keyed read must be served on the driver")
    d
  }

  test("SQL SELECT, read, readAt, readBucketed and keyed reads all return the LWW fold, " +
      "before and after compact()") {
    val wh = Files.createTempDirectory("resolved-read-wh").toString
    spark.conf.set("spark.sql.catalog.ragree", classOf[LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.ragree.warehouse", wh)
    val t = LakeTable.createOrOpen(spark, s"$wh/t",
      StructType.fromDDL("k STRING, wv BIGINT, v STRING, deleted BOOLEAN"),
      Seq("k"), Seq("wv"), numBuckets = 4, tombstoneCol = Some("deleted"))
    val b0 = (0 until 20).map(i => R(s"k$i", 1L, s"v$i", deleted = false, None))
    // k3 ties the base on wv 1 in both layers: the later row wins each time
    val b1 = Seq(R("k3", 1L, "tie-a", false, None), R("k1", 2L, "k1-new", false, None),
      R("k2", 0L, "k2-stale", false, None), R("k4", 5L, "k4-gone", true, None),
      R("k20", 1L, "v20", false, None))
    // adds column x
    val b2 = Seq(R("k3", 1L, "tie-b", false, Some(2L)), R("k4", 4L, "k4-stale", false, Some(1L)),
      R("k5", 3L, "k5-new", false, Some(7L)))
    t.merge(df(b0), "b0")
    t.merge(df(b1), "b1", mor = true)
    val v1 = t.currentVersion()
    t.merge(df(b2), "b2", mor = true)
    assert(t.snapshot().morBuckets.nonEmpty)
    val want = visible(fold(Seq(b0, b1, b2)))
    assert(want.find(_.k == "k3").map(_.v) === Some("tie-b"))
    assert(!want.exists(_.k == "k4"))
    def wantOf(ks: Set[String]) = want.filter(r => ks(r.k))

    def sql(q: String) = rows(spark.sql(q))
    def allReads(): Unit = {
      assert(sql("SELECT * FROM ragree.t") === want)
      assert(sql("SELECT * FROM ragree.t WHERE k = 'k3'") === wantOf(Set("k3")))
      assert(sql("SELECT * FROM ragree.t WHERE k IN ('k3', 'k4', 'k5')") ===
        wantOf(Set("k3", "k5")))
      assert(rows(t.read()) === want)
      assert(rows(t.readAt(t.currentVersion())) === want)
      assert(rows(t.readBucketed().drop(t.BucketCol)) === want)
      val keys = (0 to 21).map(i => s"k$i")
      keys.foreach { k =>
        assert(rows(onDriver(t.read(Map("k" -> k)))) === wantOf(Set(k)), k)
        assert(distributed(t.read(Map("k" -> k))) === wantOf(Set(k)), k)
      }
      val n = t.snapshot().numBuckets
      keys.groupBy(k => LakeTable.bucketOfKey(Seq(k), Seq(StringType), n)).values
        .foreach(ks => assert(rows(onDriver(t.readKeys(ks))) === wantOf(ks.toSet)))
      assert(distributed(t.readKeys(keys)) === wantOf(keys.toSet))
    }
    allReads()
    assert(rows(t.readAt(v1)) === visible(fold(Seq(b0, b1))))
    assert(rows(spark.sql(s"SELECT * FROM ragree.t VERSION AS OF $v1")) ===
      visible(fold(Seq(b0, b1))))
    assert(t.compact() > 0)
    assert(t.snapshot().morBuckets.isEmpty)
    allReads()
  }

  test("read().filter skips the files whose bounds exclude the filter") {
    val t = LakeTable.createOrOpen(spark, Files.createTempDirectory("resolved-read-skip").toString,
      StructType.fromDDL("k STRING, wv BIGINT"), Seq("k"), Seq("wv"), 4)
    t.merge(Seq(("a", 1L)).toDF("k", "wv"), "b1")
    val before = t.snapshot().bucketFiles.values.flatten.toSet
    // adds x BIGINT with values 0-19: the files this merge writes carry x bounds
    t.merge((0 until 20).map(i => (s"n$i", 2L, i.toLong)).toDF("k", "wv", "x"), "b2")
    val all = t.snapshot().bucketFiles.values.flatten.toSet
    def path(rel: String) = LakeTable.dataPath(t.root, rel)
    val added = (all -- before).map(path)
    assert(added.nonEmpty)
    assert(plannedFiles(t.read()) === all.map(path))
    val filtered = t.read().filter(col("x") > 100L)
    val planned = plannedFiles(filtered)
    assert(planned.intersect(added).isEmpty, s"planned files the bounds rule out: $planned")
    assert(filtered.count() === 0L)
    assert(t.read().filter(col("x") >= 19L).select("k").as[String].collect().toSeq === Seq("n19"))
  }

  /** task counts of the stages that read a DataSource-v2 scan while `body` runs */
  private def scanStageTasks[A](body: => A): (A, Seq[Int]) = {
    val seen = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "DataSourceRDD")) seen.add(e.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      drainListenerBus()
      (a, seen.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a clean bucket larger than the split size reads in several tasks; a small " +
      "merge-on-read read still runs its dirty buckets in `cores` tasks") {
    val cores = spark.sparkContext.defaultParallelism
    assert(cores === 4)
    val split = 8192L
    val clean = LakeTable.createOrOpen(spark,
      Files.createTempDirectory("resolved-read-split").toString,
      StructType.fromDDL("k STRING, wv BIGINT, v STRING"), Seq("k"), Seq("wv"), 1)
    clean.merge((0 until 4000).map(i => (s"k$i", 1L, s"value-$i-" + "x" * (i % 17)))
      .toDF("k", "wv", "v"), "b0")
    val files = clean.snapshot().bucketFiles(0)
    assert(files.size === 1 &&
      Files.size(java.nio.file.Paths.get(LakeTable.dataPath(clean.root, files.head))) > 2 * split)
    val (n, cleanTasks) = LakeTable.withScopedConf(spark, SplitKey, split.toString)(
      scanStageTasks(clean.read().collect().length))
    assert(n === 4000)
    assert(cleanTasks.nonEmpty && cleanTasks.forall(_ > 1),
      s"one clean bucket over the split size ran $cleanTasks tasks")

    val mor = LakeTable.createOrOpen(spark,
      Files.createTempDirectory("resolved-read-groups").toString,
      StructType.fromDDL("k STRING, wv BIGINT, v STRING"), Seq("k"), Seq("wv"), 16)
    mor.merge((0 until 128).map(i => (s"k$i", 1L, s"v$i")).toDF("k", "wv", "v"), "b1")
    mor.merge((0 until 128).map(i => (s"k$i", 2L, s"w$i")).toDF("k", "wv", "v"), "b2", mor = true)
    assert(mor.snapshot().morBuckets.size === 16)
    val (state, morTasks) = LakeTable.withScopedConf(spark, SplitKey, "1")(
      scanStageTasks(mor.read().select("wv").as[Long].collect()))
    assert(state.length === 128 && state.forall(_ == 2L))
    assert(morTasks === Seq(cores), s"16 dirty buckets ran $morTasks tasks")
  }
}
