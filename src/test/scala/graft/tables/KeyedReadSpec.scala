package graft.tables

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkTestBase

/** Keyed reads (`read(keyEquals)`, `readKeys` and the SQL keyed DELETE
  * built on it) have two paths: files whose distributed read would be one
  * task (one dirty bucket within `spark.sql.files.maxPartitionBytes`, or
  * clean files Spark packs into one split) are read on the driver into a
  * local relation, anything else by a distributed plan. Every case here is
  * read both ways and against the full `read()` filtered to the keys. */
class KeyedReadSpec extends SparkTestBase {
  import spark.implicits._

  private val SplitKey = "spark.sql.files.maxPartitionBytes"

  /** `f` with every non-empty file over the split size, i.e. on the
    * distributed path. Only the call is scoped: the path is chosen there,
    * and the lazy plan it returns then runs with normal splits. */
  private def distributed[A](f: => A): A = LakeTable.withScopedConf(spark, SplitKey, "1")(f)

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def sameColumns(a: DataFrame, b: DataFrame): Unit =
    assert(a.schema.map(f => f.name -> f.dataType) === b.schema.map(f => f.name -> f.dataType))

  /** Both paths of a keyed read against `read().filter(pred)`; returns the
    * expected rows. `onDriver`: whether the default conf serves it locally. */
  private def agree(t: LakeTable, read: LakeTable => DataFrame, pred: Column,
      onDriver: Boolean = true): Seq[String] = {
    val local = read(t)
    val dist = distributed(read(t))
    val full = t.read().filter(pred)
    assert(isLocal(local) === onDriver, s"served on the driver: expected $onDriver")
    assert(local.schema === StructType.fromDDL(t.snapshot().schemaDdl))
    sameColumns(local, full); sameColumns(dist, full)
    val expected = rows(full)
    assert(rows(local) === expected)
    assert(rows(dist) === expected)
    if (expected.nonEmpty) assert(!isLocal(dist), "the scoped split size must force a plan")
    expected
  }

  private def point(t: LakeTable, key: (String, Any)*): Seq[String] =
    agree(t, _.read(key.toMap), key.map { case (k, v) => col(k) === lit(v) }.reduce(_ && _))

  /** MOR layers over a copy-on-write base: newer, stale and equal-ordering
    * rows, a tombstone with a stale upsert behind it, and a nullable
    * column added between layers. */
  private def layeredTable(): LakeTable = {
    val t = LakeTable.createOrOpen(spark, Files.createTempDirectory("keyed-read").toString,
      StructType.fromDDL("k STRING, wv BIGINT, v STRING, del BOOLEAN"),
      Seq("k"), Seq("wv"), 8, tombstoneCol = Some("del"))
    t.merge((0 until 20).map(i => (s"k$i", 1L, s"v$i", false)).toDF("k", "wv", "v", "del"), "base")
    t.merge(Seq(("k1", 2L, "k1-new", false), ("k2", 0L, "k2-stale", false),
      ("k3", 1L, "k3-tie-a", false), ("k4", 5L, "k4-gone", true), ("k20", 1L, "v20", false))
      .toDF("k", "wv", "v", "del"), "layer1", mor = true)
    t.addColumns(Seq(StructField("extra", LongType)))
    t.merge(Seq(("k5", 3L, "k5-new", false, 7L), ("k4", 4L, "k4-stale", false, 1L),
      ("k3", 1L, "k3-tie-b", false, 2L))
      .toDF("k", "wv", "v", "del", "extra"), "layer2", mor = true)
    val s = t.snapshot()
    assert(s.morBuckets.nonEmpty && s.morBuckets.size < s.numBuckets,
      s"want clean and dirty buckets, got dirty ${s.morBuckets}")
    t
  }

  test("point reads agree on both paths over MOR layers, ties, tombstones and an added column") {
    val t = layeredTable()
    (0 to 20).foreach(i => point(t, "k" -> s"k$i"))
    assert(point(t, "k" -> "k1") === Seq("[k1,2,k1-new,false,null]"))
    assert(point(t, "k" -> "k2") === Seq("[k2,1,v2,false,null]")) // stale layer loses
    // equal ordering: the later-written layer wins, the rule read() applies
    assert(point(t, "k" -> "k3") === Seq("[k3,1,k3-tie-b,false,2]"))
    assert(point(t, "k" -> "k4") === Nil) // tombstoned; the stale upsert stays dead
    assert(point(t, "k" -> "k5") === Seq("[k5,3,k5-new,false,7]"))
    assert(point(t, "k" -> "absent") === Nil)
    assert(point(t, "k" -> null) === Nil) // equality with null matches nothing
  }

  test("composite-key point reads agree on both paths") {
    val t = LakeTable.createOrOpen(spark, Files.createTempDirectory("keyed-read-ck").toString,
      StructType.fromDDL("a STRING, b INT, wv BIGINT, v STRING"), Seq("a", "b"), Seq("wv"), 4)
    t.merge((0 until 12).map(i => (s"a${i % 3}", i, 1L, s"v$i")).toDF("a", "b", "wv", "v"), "base")
    t.merge(Seq(("a1", 1, 2L, "new"), ("a2", 2, 0L, "stale")).toDF("a", "b", "wv", "v"),
      "layer", mor = true)
    (0 until 12).foreach(i => point(t, "a" -> s"a${i % 3}", "b" -> i))
    assert(point(t, "a" -> "a1", "b" -> 1) === Seq("[a1,1,2,new]"))
    assert(point(t, "a" -> "a2", "b" -> 2) === Seq("[a2,2,1,v2]"))
    assert(point(t, "a" -> "a1", "b" -> 2) === Nil) // each half exists, the pair does not
    assert(point(t, "a" -> "a1", "b" -> null) === Nil)
  }

  private def bucketOf(t: LakeTable, k: String): Int =
    LakeTable.bucketOfKey(Seq(k), Seq(StringType), t.snapshot().numBuckets)

  test("readKeys: one bucket's keys are served on the driver, keys over several " +
      "buckets by a plan; both paths agree over clean and dirty buckets") {
    val t = layeredTable()
    val keys = (0 to 21).map(i => s"k$i")
    val byBucket = keys.groupBy(bucketOf(t, _))
    val dirty = t.snapshot().morBuckets.toSet
    assert(byBucket.keySet.exists(dirty) && !byBucket.keySet.forall(dirty))
    val perBucket = byBucket.values.toSeq.flatMap(vs => agree(t, _.readKeys(vs :+ null),
      col("k").isin(vs: _*)))
    // two or more buckets would be two or more read tasks: never the driver
    val all = agree(t, _.readKeys(keys :+ null), col("k").isin(keys: _*), onDriver = false)
    assert(all.size === 20) // k0..k20 less the tombstoned k4; k21 is absent
    assert(perBucket.sorted === all)
    assert(agree(t, _.readKeys(Seq(null, "absent")), lit(false)) === Nil)
  }

  test("DELETE … WHERE k IN (…) gives the same state on both paths, over clean and MOR-dirty buckets") {
    val warehouse = Files.createTempDirectory("keyed-read-wh").toString
    spark.conf.set("spark.sql.catalog.krcat", classOf[dsv2.LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.krcat.warehouse", warehouse)
    def table(name: String): LakeTable = {
      val t = LakeTable.createOrOpen(spark, s"$warehouse/$name",
        StructType.fromDDL("k STRING, wv BIGINT, v STRING, del BOOLEAN"),
        Seq("k"), Seq("wv"), 4, tombstoneCol = Some("del"))
      t.merge((0 until 12).map(i => (s"k$i", 1L, s"v$i", false)).toDF("k", "wv", "v", "del"), "base")
      t.merge(Seq(("k1", 2L, "k1-new", false)).toDF("k", "wv", "v", "del"), "layer", mor = true)
      t
    }
    val (onDriver, distributedT) = (table("on_driver"), table("distributed"))
    val victims = Seq("k0", "k1", "k2", "k3", "k5", "absent")
    val dirty = onDriver.snapshot().morBuckets.toSet
    // one statement per bucket, so each resolves its winners in one read
    // task: on the driver for one table, by a plan for the other
    val groups = victims.groupBy(bucketOf(onDriver, _)).toSeq.sortBy(_._1)
    assert(groups.exists(g => dirty(g._1)) && groups.exists(g => !dirty(g._1)),
      s"want clean and dirty buckets touched: $groups vs dirty $dirty")
    def delete(table: String, vs: Seq[String]): Unit =
      spark.sql(s"DELETE FROM krcat.$table WHERE k IN (${vs.map(v => s"'$v'").mkString(", ")})")
    groups.foreach { case (_, vs) =>
      assert(isLocal(onDriver.readKeys(vs)))
      delete("on_driver", vs)
    }
    // a split one byte under the smallest file puts every bucket's read
    // over one task; the DELETE's own merge is correct at any split size
    val underSmallest = distributedT.snapshot().bucketFiles.values.flatten
      .map(rel => Files.size(Paths.get(LakeTable.dataPath(distributedT.root, rel)))).min - 1
    LakeTable.withScopedConf(spark, SplitKey, underSmallest.toString) {
      groups.foreach { case (_, vs) =>
        assert(!isLocal(distributedT.readKeys(vs)))
        delete("distributed", vs)
      }
    }
    // keys over several buckets take the plan on both tables
    val more = Seq("k6", "k7", "k8", "k9")
    assert(more.map(bucketOf(onDriver, _)).distinct.size > 1)
    assert(!isLocal(onDriver.readKeys(more)))
    Seq("on_driver", "distributed").foreach(delete(_, more))
    val expected = (0 until 12).map(i => s"k$i").filterNot((victims ++ more).contains).toSet
    assert(onDriver.read().select("k").as[String].collect().toSet === expected)
    assert(rows(onDriver.read()) === rows(distributedT.read()))
    assert(onDriver.currentVersion() === distributedT.currentVersion())
  }

  test("a clean bucket is served on the driver only when Spark plans its files as one split") {
    // one bucket, files range-sliced on v two rows each: {a, c} and {b, d}
    val t = LakeTable.createOrOpen(spark, Files.createTempDirectory("keyed-read-split").toString,
      StructType.fromDDL("k STRING, wv BIGINT, v STRING"), Seq("k"), Seq("wv"), 1,
      sortOrder = Seq("v"), targetFileRows = 2L)
    t.merge(Seq(("a", 1L, "v1"), ("c", 1L, "v2"), ("b", 1L, "v3"), ("d", 1L, "v4"))
      .toDF("k", "wv", "v"), "base")
    assert(t.snapshot().bucketFiles(0).size === 2)
    // the other file's key bounds exclude a and d: one file, one split
    assert(point(t, "k" -> "a") === Seq("[a,1,v1]"))
    assert(point(t, "k" -> "d") === Seq("[d,1,v4]"))
    // b and c fall in both files' bounds: two files are two splits
    assert(agree(t, _.read(Map("k" -> "b")), col("k") === "b", onDriver = false) === Seq("[b,1,v3]"))
    // one file that Spark would cut into several splits: a near-zero open
    // cost makes the split total / parallelism, under the file's length
    assert(LakeTable.withScopedConf(spark, "spark.sql.files.openCostInBytes", "1")(
      isLocal(t.read(Map("k" -> "a")))) === false)
  }

  test("files whose snapshot bounds exclude the key are neither opened nor counted") {
    val t = LakeTable.createOrOpen(spark, Files.createTempDirectory("keyed-read-prune").toString,
      StructType.fromDDL("k STRING, wv BIGINT, v STRING"), Seq("k"), Seq("wv"), 1)
    t.merge((10 until 40).map(i => (s"m$i", 1L, s"v$i")).toDF("k", "wv", "v"), "base")
    val base = t.snapshot().bucketFiles(0)
    t.merge(Seq(("a1", 1L, "x"), ("a2", 1L, "y")).toDF("k", "wv", "v"), "low", mor = true)
    t.merge(Seq(("z1", 1L, "x"), ("m20", 2L, "m20-new")).toDF("k", "wv", "v"), "high", mor = true)
    val s = t.snapshot()
    assert(s.morBuckets === Seq(0))
    val layers = s.bucketFiles(0).filterNot(base.contains)
    assert(layers.size === 2)
    def size(rel: String) = Files.size(Paths.get(LakeTable.dataPath(t.root, rel)))
    // a split that holds the base file but not the whole bucket: only the
    // kept bytes are weighed
    val split = base.map(size).sum
    assert(split < s.bucketFiles(0).map(size).sum)
    val aside = Files.createTempDirectory("keyed-read-aside")
    val moved = layers.map { rel =>
      val from = Paths.get(LakeTable.dataPath(t.root, rel))
      val to = aside.resolve(rel.replace('/', '_'))
      Files.move(from, to)
      from -> to
    }
    try {
      val got = LakeTable.withScopedConf(spark, SplitKey, split.toString)(t.read(Map("k" -> "m15")))
      assert(isLocal(got))
      assert(rows(got) === Seq("[m15,1,v15]"))
    } finally moved.foreach { case (from, to) => Files.move(to, from) }
    assert(point(t, "k" -> "m20") === Seq("[m20,2,m20-new]"))
    assert(point(t, "k" -> "a2") === Seq("[a2,1,y]"))
  }

  test("a driver-served point read collects without starting a Spark job") {
    val t = layeredTable()
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    def inGroup(g: String)(f: => Unit): Unit = {
      spark.sparkContext.setJobGroup(g, g)
      try f finally spark.sparkContext.clearJobGroup()
    }
    try {
      inGroup("driver-point-read") {
        assert(t.read(Map("k" -> "k1")).collect().length === 1) // dirty bucket
        assert(t.read(Map("k" -> "k7")).select("v").collect().length === 1)
      }
      // the same read on the distributed path does start jobs: the
      // listener sees them, so the zero above is not a blind spot
      inGroup("distributed-point-read") {
        assert(distributed(t.read(Map("k" -> "k1"))).collect().length === 1)
      }
      drainListenerBus()
    } finally spark.sparkContext.removeSparkListener(listener)
    val seen = groups.asScala.toSeq
    assert(!seen.contains("driver-point-read"), s"job groups seen: $seen")
    assert(seen.contains("distributed-point-read"), s"job groups seen: $seen")
  }
}
