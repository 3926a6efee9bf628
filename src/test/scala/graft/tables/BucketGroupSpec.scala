package graft.tables

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.SparkTestBase

/** Bucket groups end to end: on a 32-bucket table with merge-on-read
  * layers, equal-ordering ties, tombstones and a column added between
  * layers, every engine scan consumer returns the rows of an in-memory LWW
  * fold of the batches, and runs each bucket-scan stage in at most
  * `defaultParallelism` tasks (32 buckets, 4 cores). */
class BucketGroupSpec extends SparkTestBase {

  import spark.implicits._

  /** one stored row; `x` is the column the fourth batch adds */
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

  /** readChanges: winners whose (key, ordering) tuple is new */
  private def changes(from: Map[String, R], to: Map[String, R]): Set[R] =
    to.values.filterNot(r => from.get(r.k).exists(_.wv == r.wv)).toSet

  /** readChangesTyped's classification of the two folds */
  private def typedChanges(from: Map[String, R], to: Map[String, R]): Set[(String, R)] =
    (from.keySet ++ to.keySet).toSeq.flatMap { k =>
      val o = from.get(k); val n = to.get(k)
      def live(r: Option[R]) = r.exists(!_.deleted)
      if (live(n) && !live(o)) Seq("insert" -> n.get)
      else if (live(o) && live(n) && o.get.wv != n.get.wv)
        Seq("update_preimage" -> o.get, "update_postimage" -> n.get)
      else if (live(o) && !live(n)) Seq("delete" -> o.get)
      else Nil
    }.toSet

  /** task counts of the stages that read a bucket scan while `body` runs */
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

  private val cores = 4

  /** `body`'s result; every bucket-scan stage it ran had at most `cores`
    * tasks, and it ran at least one */
  private def grouped[A](what: String)(body: => A): A = {
    val (a, tasks) = scanStageTasks(body)
    assert(tasks.nonEmpty, s"$what ran no bucket scan")
    assert(tasks.forall(_ <= cores), s"$what scan stages ran $tasks tasks")
    a
  }

  test("every scan consumer matches the LWW fold and runs at most `cores` tasks " +
      "per bucket-scan stage") {
    assert(spark.sparkContext.defaultParallelism === cores)
    val root = Files.createTempDirectory("bucketgroups").toString
    val t = LakeTable.createOrOpen(spark, root,
      StructType.fromDDL("k STRING, wv BIGINT, v STRING, deleted BOOLEAN"),
      Seq("k"), Seq("wv"), numBuckets = 32, tombstoneCol = Some("deleted"))
    def r(i: Int, wv: Long, v: String, deleted: Boolean = false, x: Option[Long] = None) =
      R(s"k$i", wv, s"$v$i", deleted, x)
    val b0 = (0 until 400).map(r(_, 1L, "a"))
    val b1 = (0 until 200).map(r(_, 2L, "b"))
    // keys 100-199 tie b1's ordering (the later layer wins); 250-299 delete
    val b2 = (100 until 300).map(i => r(i, if (i < 200) 2L else 3L, "c", deleted = i >= 250))
    // adds column x: updates 0-49, inserts 400-449
    val b3 = ((0 until 50) ++ (400 until 450)).map(i => r(i, 5L, "d", x = Some(i.toLong)))
    val batches = Seq(b0, b1, b2, b3)

    t.merge(df(b0), "b0")
    val versions = mutable.ArrayBuffer(t.currentVersion())
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      t.merge(df(b), s"b${i + 1}", mor = true)
      versions += t.currentVersion()
    }
    val folds = batches.indices.map(i => fold(batches.take(i + 1)))
    assert(t.snapshot().morBuckets.size === 32, "every bucket carries merge-on-read layers")

    assert(grouped("read()")(rows(t.read())) === visible(folds(3)))
    assert(grouped("readAt")(rows(t.readAt(versions(1)))) === visible(folds(1)))
    assert(grouped("logicalRowCount")(t.logicalRowCount()) === visible(folds(3)).size.toLong)
    assert(grouped("readChanges")(rows(t.readChanges(versions(0), versions(3)))) ===
      changes(folds(0), folds(3)))
    val typed = grouped("readChangesTyped")(
      t.readChangesTyped(versions(0), versions(3)).collect()
        .map(row => row.getAs[String]("_change_type") -> toR(row)).toSet)
    assert(typed === typedChanges(folds(0), folds(3)))
    assert(typed.map(_._1) ===
      Set("insert", "update_preimage", "update_postimage", "delete"))

    // the change stream: one micro-batch per version, each a readChanges window
    val ckpt = Files.createTempDirectory("bucketgroups-ckpt").toString
    val streamed = mutable.ArrayBuffer.empty[Set[R]]
    grouped("change stream") {
      t.readChangeStream(Map("startingVersion" -> versions(0).toString,
          "maxVersionsPerBatch" -> "1"))
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (d: DataFrame, _: Long) =>
          val rs = rows(d)
          streamed.synchronized { if (rs.nonEmpty) streamed += rs }
          ()
        }
        .start().awaitTermination()
    }
    assert(streamed.toSeq === (1 to 3).map(i => changes(folds(i - 1), folds(i))))

    // a storage-partitioned merge: the batch wins the tie on k0
    val b4 = (280 until 360).map(i => r(i, 4L, "e", x = Some(10L * i))) :+
      R("k0", 5L, "etie", deleted = false, Some(-1L))
    t.planPin = MergePlan.Pin(spj = Some(true))
    try grouped("SPJ merge")(t.merge(df(b4), "b4"))
    finally t.planPin = MergePlan.Pin()
    val plan = t.lastMergePlan.get
    assert(plan.route === MergePlan.SpjCow && plan.small && plan.groups.get.count === cores)
    val all = fold(batches :+ b4)
    assert(rows(t.read()) === visible(all))

    assert(grouped("compact")(t.compact()) > 0)
    assert(t.snapshot().morBuckets.isEmpty)
    assert(t.snapshot().bucketFiles.values.forall(_.size == 1), "one file per bucket")
    assert(rows(t.read()) === visible(all))
    assert(grouped("purgeTombstones")(t.purgeTombstones()) > 0)
    assert(rows(t.read()) === visible(all))
    assert(grouped("cluster")(t.cluster(Seq("wv"))) === 32)
    assert(rows(t.read()) === visible(all))
    assert(grouped("verifyTable")(t.verifyTable(checkData = true)).forall(_._2))

    // the group column never reaches a data file
    val conf = spark.sparkContext.hadoopConfiguration
    val files = Files.walk(Paths.get(root, "data")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    files.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f.toString), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val cols = try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName)
      finally reader.close()
      assert(!cols.contains("_ggroup") && !cols.contains("_gbucket"), s"$f: $cols")
    }
  }
}
