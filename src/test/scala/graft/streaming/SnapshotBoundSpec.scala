package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit, sum}

import graft.SparkTestBase
import graft.etl.binary.AppendVecCodec
import graft.etl.model.{ManifestEntry, SnapshotManifest}
import graft.sources.{ArchiveSnapshotSource, SnapshotFixture, UnpackedSnapshotSource}
import graft.tables.{AggSpec, MaterializedView, MergePlan}

/** Snapshot applies and view refreshes are sized from facts the engine
  * holds before it reads any data: a manifest's record bound
  * ([[AppendVecCodec.maxRecords]]) and a view's base row counts. A small
  * delta therefore plans as a small operation (its buckets in at most
  * `cores` tasks, no sub-splits), although its decode is an opaque
  * object-producing plan. */
class SnapshotBoundSpec extends SparkTestBase {

  private val cores = 4

  /** task counts of the stages that wrote output while `body` ran */
  private def writeStageTasks[A](body: => A): (A, Seq[Int]) = {
    val tasks = new ConcurrentHashMap[Int, Int]()
    val writing = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        tasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.outputMetrics.bytesWritten > 0)
          writing.add(e.stageId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      drainListenerBus()
      (a, writing.asScala.toSeq.sorted.map(s => tasks.get(s)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("a manifest bounds the rows its snapshot decodes, unpacked and archived") {
    for (seed <- Seq(3L, 17L, 29L)) {
      val (fixtures, _) = SnapshotFixture.generateStream(seed, increments = 2)
      assert(fixtures.map(_.manifest.isDelta) === Seq(false, true, true))
      fixtures.foreach { fx =>
        val dir = tmp("bound-unpacked")
        SnapshotFixture.writeUnpacked(fx, dir)
        val u = UnpackedSnapshotSource(spark, dir)
        val archive = s"${tmp("bound-archive")}/snap.tar.zst"
        SnapshotFixture.writeArchive(fx, archive)
        val manifest = ArchiveSnapshotSource.readManifest(archive,
          spark.sparkContext.hadoopConfiguration)
        val bound = AppendVecCodec.maxRecords(u.manifest)
        assert(AppendVecCodec.maxRecords(manifest) === bound)
        val decoded = Seq(u.accountUpdates(spark).count(),
          ArchiveSnapshotSource.fromArchives(spark, Seq(archive)).count())
        assert(decoded === Seq.fill(2)(fx.allRecords.size.toLong), s"seed $seed")
        assert(decoded.forall(_ <= bound), s"seed $seed: decoded $decoded > bound $bound")
      }
    }
  }

  test("a record bound just over SmallOpRows keeps the merge big") {
    val rows = MergePlan.SmallOpRows + 1
    val manifest = SnapshotManifest(7L, 0L, isDelta = true, new Array[Byte](32),
      Seq(ManifestEntry(7L, 0L, (rows - 1) * AppendVecCodec.HeaderSize),
        ManifestEntry(7L, 1L, AppendVecCodec.HeaderSize + AppendVecCodec.HeaderSize - 1)))
    assert(AppendVecCodec.maxRecords(manifest) === rows)
    val t = SnapshotReplay.createTable(spark, tmp("bound-big"), numBuckets = 32)
    val (fixtures, _) = SnapshotFixture.generateStream(5L, increments = 0)
    val dir = tmp("bound-big-src")
    SnapshotFixture.writeUnpacked(fixtures.head, dir)
    val batch = SnapshotReplay.toDF(UnpackedSnapshotSource(spark, dir).accountUpdates(spark))
    t.merge(batch, "big", mor = true, rowsHint = Some(AppendVecCodec.maxRecords(manifest)))
    val plan = t.lastMergePlan.get
    assert(!plan.small, plan)
    assert(plan.groups.get.count === 32, plan)
  }

  test("small unpacked and archived applies write in at most `cores` tasks, " +
      "and a view refresh over them stays small") {
    assert(spark.sparkContext.defaultParallelism === cores)
    val (fixtures, expected) = SnapshotFixture.generateStream(41L, increments = 2)
    val Seq(full, delta1, delta2) = fixtures
    val t = SnapshotReplay.createTable(spark, tmp("bound-apply"), numBuckets = 32)
    val mv = MaterializedView.createOrOpen(spark, tmp("bound-mv"), t, Seq("owner"),
      Seq(AggSpec("count", "*", "n"), AggSpec("sum", "lamports", "lamports")), numBuckets = 4)

    def smallApply(what: String, path: String, mor: Boolean): Unit = {
      val (_, tasks) = writeStageTasks(SnapshotReplay.applySnapshot(spark, t, path, mor = mor))
      val plan = t.lastMergePlan.get
      assert(plan.small, s"$what: $plan")
      assert(plan.groups.get.count <= cores, s"$what: $plan")
      assert(tasks.nonEmpty, s"$what wrote nothing")
      assert(tasks.forall(_ <= cores), s"$what: write stages ran $tasks tasks")
    }
    def smallRefresh(): Unit = {
      mv.refresh()
      val plan = mv.state.lastMergePlan.get
      assert(plan.small, plan)
      assert(plan.writeFactor === 1, plan)
      val oracle = t.read().groupBy("owner")
        .agg(count(lit(1)).as("n"), sum("lamports").as("lamports"))
      def rows(df: DataFrame) = df.selectExpr("hex(owner)", "n", "lamports").collect().toSet
      assert(rows(mv.read()) === rows(oracle))
    }

    val fullDir = tmp("bound-full")
    SnapshotFixture.writeUnpacked(full, fullDir)
    smallApply("unpacked full load", fullDir, mor = false)
    smallRefresh()

    val delta1Dir = tmp("bound-delta1")
    SnapshotFixture.writeUnpacked(delta1, delta1Dir)
    smallApply("unpacked merge-on-read delta", delta1Dir, mor = true)
    val archive = s"${tmp("bound-delta2")}/snap-${delta2.manifest.slot}.tar.zst"
    SnapshotFixture.writeArchive(delta2, archive)
    smallApply("archived merge-on-read delta", archive, mor = true)
    smallRefresh()

    assert(t.read().count() === expected.size.toLong)
  }

  test("a batched directory replay sums its archives' bounds and stays small") {
    val (fixtures, expected) = SnapshotFixture.generateStream(43L, increments = 2)
    val dir = tmp("bound-dir")
    fixtures.foreach(fx =>
      SnapshotFixture.writeArchive(fx, s"$dir/snap-${fx.manifest.slot}.tar.zst"))
    val t = SnapshotReplay.createTable(spark, tmp("bound-dir-table"), numBuckets = 32)
    SnapshotReplay.replayDirBatched(spark, t, dir)
    val plan = t.lastMergePlan.get
    assert(plan.small, plan)
    assert(plan.groups.get.count === cores, plan)
    assert(t.read().count() === expected.size.toLong)
  }
}
