package graft.tables.dsv2

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftshim.StreamBatchDF
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.SparkTestBase
import graft.tables.LakeTable

/** Streaming changelog source (CDF tail): micro-batches == readChanges
  * windows, checkpoint resume, rate limiting, deletes, merge-on-read,
  * rebucket boundaries, schema evolution, purge guard. */
class LakeCdfStreamSpec extends SparkTestBase {

  import spark.implicits._

  private val schema = StructType.fromDDL("k STRING, wv BIGINT, v STRING")

  private def newTable(buckets: Int = 4, tombstone: Boolean = false): LakeTable = {
    val root = Files.createTempDirectory("lakecdf").toString
    if (tombstone)
      LakeTable.createOrOpen(spark, root,
        StructType.fromDDL("k STRING, wv BIGINT, v STRING, deleted BOOLEAN"),
        Seq("k"), Seq("wv"), buckets, tombstoneCol = Some("deleted"))
    else LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"), buckets)
  }

  /** run an AvailableNow drain of the change stream, collecting each
    * non-empty micro-batch's rows in order */
  private def drain(t: LakeTable, ckpt: String,
      options: Map[String, String] = Map.empty): Seq[(Long, Seq[Row])] = {
    val batches = mutable.ArrayBuffer.empty[(Long, Seq[Row])]
    val q = t.readChangeStream(options)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        val rows = df.collect().toSeq
        batches.synchronized { if (rows.nonEmpty) batches += ((id, rows)) }
        ()
      }
      .start()
    q.awaitTermination()
    batches.toSeq
  }

  /** a source micro-batch's rows, re-wrapped as a batch DataFrame (a
    * streaming one cannot be collected outside a running query) */
  private def batchRows(batch: DataFrame): Seq[Row] =
    StreamBatchDF(spark, batch.queryExecution.logical.collectFirst {
      case r: LogicalRDD => r.rdd
    }.get, batch.schema).collect().toSeq

  private def rowSet(rows: Seq[Row]): Set[Seq[Any]] = rows.map(_.toSeq.toIndexedSeq: Seq[Any]).toSet

  test("stream batches equal the batch changelog windows and resume from checkpoint") {
    val t = newTable()
    val ckpt = Files.createTempDirectory("lakecdf-ckpt").toString
    t.merge(Seq(("a", 1L, "a1"), ("b", 1L, "b1"), ("c", 1L, "c1")).toDF("k", "wv", "v"), "b1")
    val v1 = t.currentVersion()

    // full history from version 0: one drained batch == readChanges(0, v1)
    val first = drain(t, ckpt, Map("startingVersion" -> "earliest"))
    assert(rowSet(first.flatMap(_._2)) === rowSet(t.readChanges(0L, v1).collect().toSeq))
    assert(rowSet(first.flatMap(_._2)) === rowSet(t.read().collect().toSeq))

    // restart from the checkpoint: only the NEW merge surfaces (update one
    // key, insert one, leave the rest untouched)
    t.merge(Seq(("a", 2L, "a2"), ("d", 1L, "d1")).toDF("k", "wv", "v"), "b2")
    val v2 = t.currentVersion()
    val second = drain(t, ckpt)
    assert(rowSet(second.flatMap(_._2)) === rowSet(t.readChanges(v1, v2).collect().toSeq))
    assert(rowSet(second.flatMap(_._2)) ===
      Set(Seq[Any]("a", 2L, "a2"), Seq[Any]("d", 1L, "d1")))

    // nothing new → drained stream emits no batches
    assert(drain(t, ckpt).isEmpty)
  }

  test("startingTimestamp anchors the stream at the last commit <= t " +
      "(the dual of TIMESTAMP AS OF)") {
    val t = newTable()
    t.merge(Seq(("a", 1L, "a1"), ("b", 1L, "b1")).toDF("k", "wv", "v"), "b1")
    val v1 = t.currentVersion()
    val t1 = LakeTable.committedAt(java.nio.file.Paths.get(t.root), v1)
    Thread.sleep(5) // v2's stamp must land strictly after v1's
    t.merge(Seq(("a", 2L, "a2"), ("c", 1L, "c1")).toDF("k", "wv", "v"), "b2")
    val v2 = t.currentVersion()
    // anchored at v1's commit instant: exactly the post-v1 changes surface —
    // so a TIMESTAMP-AS-OF-t1 snapshot plus this tail is the live state
    val got = drain(t, Files.createTempDirectory("lakecdf-ts").toString,
      Map("startingTimestamp" -> t1.toString))
    assert(rowSet(got.flatMap(_._2)) === rowSet(t.readChanges(v1, v2).collect().toSeq))
    assert(rowSet(got.flatMap(_._2)) ===
      Set(Seq[Any]("a", 2L, "a2"), Seq[Any]("c", 1L, "c1")))
    // ISO-8601 form parses to the same anchor
    val gotIso = drain(t, Files.createTempDirectory("lakecdf-ts2").toString,
      Map("startingTimestamp" -> java.time.Instant.ofEpochMilli(t1).toString))
    assert(rowSet(gotIso.flatMap(_._2)) === rowSet(got.flatMap(_._2)))
    // pre-table-history timestamps fail loudly; both anchors together refuse
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(y => Option(y.getMessage).toSeq ++ messages(y.getCause))
    val e1 = intercept[Exception](drain(t,
      Files.createTempDirectory("lakecdf-ts3").toString,
      Map("startingTimestamp" -> "100")))
    assert(messages(e1).exists(_.contains("no retained version")))
    val e2 = intercept[Exception](drain(t,
      Files.createTempDirectory("lakecdf-ts4").toString,
      Map("startingTimestamp" -> t1.toString, "startingVersion" -> "0")))
    assert(messages(e2).exists(_.contains("mutually exclusive")))
  }

  test("the SQL-timestamp form resolves in the SESSION time zone, so it " +
      "agrees with TIMESTAMP AS OF of the same literal") {
    val tzConf = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzConf)
    try {
      spark.conf.set(tzConf, "UTC")
      val utc = LakeCdfSource.parseTimestampMillis("2026-01-01 00:00:00")
      assert(utc === java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli)
      spark.conf.set(tzConf, "America/New_York")
      val ny = LakeCdfSource.parseTimestampMillis("2026-01-01 00:00:00")
      assert(ny - utc === 5L * 3600 * 1000) // EST midnight is 5h later
      // epoch + ISO forms are zone-independent
      assert(LakeCdfSource.parseTimestampMillis(utc.toString) === utc)
      assert(LakeCdfSource.parseTimestampMillis("2026-01-01T00:00:00Z") === utc)
    } finally spark.conf.set(tzConf, saved)
  }

  test("startingTag anchors the stream after the tagged version " +
      "(the dual of VERSION AS OF '<tag>')") {
    val t = newTable()
    t.merge(Seq(("a", 1L, "a1"), ("b", 1L, "b1")).toDF("k", "wv", "v"), "b1")
    val v1 = t.currentVersion()
    t.createTag("snap-1", v1)
    t.merge(Seq(("a", 2L, "a2"), ("c", 1L, "c1")).toDF("k", "wv", "v"), "b2")
    val v2 = t.currentVersion()
    // anchored at the tag: VERSION AS OF 'snap-1' state + this tail = live
    val got = drain(t, Files.createTempDirectory("lakecdf-tag").toString,
      Map("startingTag" -> "snap-1"))
    assert(rowSet(got.flatMap(_._2)) === rowSet(t.readChanges(v1, v2).collect().toSeq))
    assert(rowSet(got.flatMap(_._2)) ===
      Set(Seq[Any]("a", 2L, "a2"), Seq[Any]("c", 1L, "c1")))
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(y => Option(y.getMessage).toSeq ++ messages(y.getCause))
    val e1 = intercept[Exception](drain(t,
      Files.createTempDirectory("lakecdf-tag2").toString,
      Map("startingTag" -> "nope")))
    assert(messages(e1).exists(_.contains("no tag 'nope'")))
    val e2 = intercept[Exception](drain(t,
      Files.createTempDirectory("lakecdf-tag3").toString,
      Map("startingTag" -> "snap-1", "startingVersion" -> "0")))
    assert(messages(e2).exists(_.contains("mutually exclusive")))
  }

  test("maxVersionsPerBatch=1 yields one micro-batch per table version") {
    val t = newTable()
    val ckpt = Files.createTempDirectory("lakecdf-ckpt").toString
    val v0 = t.currentVersion()
    (1 to 3).foreach { i =>
      t.merge(Seq((s"k$i", i.toLong, s"v$i"), ("hot", i.toLong, s"hot$i"))
        .toDF("k", "wv", "v"), s"b$i")
    }
    val batches = drain(t, ckpt,
      Map("startingVersion" -> v0.toString, "maxVersionsPerBatch" -> "1"))
    assert(batches.size === 3)
    batches.zipWithIndex.foreach { case ((_, rows), i) =>
      assert(rowSet(rows) ===
        rowSet(t.readChanges(v0 + i, v0 + i + 1).collect().toSeq))
    }
  }

  test("deletes surface as tombstone rows; merge-on-read buckets fold to winners") {
    val t = newTable(tombstone = true)
    val ckpt = Files.createTempDirectory("lakecdf-ckpt").toString
    def df(rows: (String, Long, String, Boolean)*) = rows.toDF("k", "wv", "v", "deleted")
    t.merge(df(("a", 1L, "a1", false), ("b", 1L, "b1", false)), "b1", mor = true)
    val v1 = t.currentVersion()
    drain(t, ckpt) // position the checkpoint at v1

    // MOR layers: two merges into the same buckets without compaction — the
    // stream's reader must fold to winners, not emit shadowed layer rows
    t.merge(df(("a", 2L, "a2", false), ("c", 1L, "c1", false)), "b2", mor = true)
    t.merge(df(("a", 3L, "a3", false), ("b", 2L, null, true)), "b3", mor = true)
    val v3 = t.currentVersion()
    val rows = rowSet(drain(t, ckpt).flatMap(_._2))
    assert(rows === rowSet(t.readChanges(v1, v3).collect().toSeq))
    // the delete is IN the stream (flag set), winner-only for a
    assert(rows.exists(r => r.head == "b" && r.last == true))
    assert(rows.count(_.head == "a") === 1)
    assert(rows.exists(r => r.head == "a" && r(1) == 3L))
    // ... and hidden from the table read
    assert(!t.read().select("k").as[String].collect().contains("b"))
  }

  test("a rebucket mid-stream is crossed as an empty maintenance boundary") {
    val t = newTable(buckets = 4)
    val ckpt = Files.createTempDirectory("lakecdf-ckpt").toString
    t.merge((1 to 20).map(i => (s"k$i", 1L, s"v$i")).toDF("k", "wv", "v"), "b1")
    drain(t, ckpt, Map("startingVersion" -> "0"))

    t.merge(Seq(("k1", 2L, "k1@2")).toDF("k", "wv", "v"), "b2")
    t.rebucket(8)
    t.merge(Seq(("k2", 2L, "k2@2")).toDF("k", "wv", "v"), "b3")
    val batches = drain(t, ckpt)
    // the rebucket version contributes nothing; both merges surface exactly
    assert(rowSet(batches.flatMap(_._2)) ===
      Set(Seq[Any]("k1", 2L, "k1@2"), Seq[Any]("k2", 2L, "k2@2")))
    // admission control split the drain at the layout boundary
    assert(batches.size === 2)
  }

  test("stream schema is fixed at start; evolved columns project onto it") {
    val t = newTable()
    val ckpt = Files.createTempDirectory("lakecdf-ckpt").toString
    t.merge(Seq(("a", 1L, "a1")).toDF("k", "wv", "v"), "b1")
    drain(t, ckpt) // checkpoint at v1 with the 3-column schema

    // evolve: a later merge adds a nullable column. A restart re-resolves
    // the source, so the drained batches carry the EVOLVED schema, and the
    // window's old side (3-column files) reads cleanly through it.
    t.merge(Seq(("a", 2L, "a2", "extra")).toDF("k", "wv", "v", "note"), "b2")
    val batches = drain(t, ckpt)
    val rows = batches.flatMap(_._2)
    assert(rows.head.schema.fieldNames.toSeq === Seq("k", "wv", "v", "note"))
    assert(rowSet(rows) === Set(Seq[Any]("a", 2L, "a2", "extra")))

    // full-history replay under the evolved schema, one version per batch:
    // the pre-evolution row's missing column projects as null
    val all = rowSet(drain(t, Files.createTempDirectory("lakecdf-ckpt2").toString,
      Map("startingVersion" -> "0", "maxVersionsPerBatch" -> "1")).flatMap(_._2))
    assert(all === Set(Seq[Any]("a", 1L, "a1", null), Seq[Any]("a", 2L, "a2", "extra")))
  }

  test("table-to-table replication: tail the source, merge into a replica, resume exactly-once") {
    val src = newTable(buckets = 4)
    val replicaRoot = Files.createTempDirectory("lakecdf-replica").toString
    val replica = LakeTable.createOrOpen(spark, replicaRoot, schema, Seq("k"), Seq("wv"), 8)
    val ckpt = Files.createTempDirectory("lakecdf-ckpt").toString

    def replicate(): Unit = {
      val q = src.readChangeStream(Map("startingVersion" -> "0"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          // the replica's (app, seq) ledger makes a re-delivered batch a
          // no-op — the stream's at-least-once becomes exactly-once
          replica.merge(df, s"repl-$id", txn = Some(("replicator", id)))
          ()
        }
        .start()
      q.awaitTermination()
    }

    src.merge(Seq(("a", 1L, "a1"), ("b", 1L, "b1")).toDF("k", "wv", "v"), "b1")
    replicate()
    assert(replica.read().collect().map(_.toSeq).toSet ===
      src.read().collect().map(_.toSeq).toSet)

    // more source merges (including an update), then resume the SAME
    // checkpoint: only the delta flows, and the replica converges — despite
    // a DIFFERENT bucket layout (4 vs 8 buckets)
    src.merge(Seq(("a", 2L, "a2"), ("c", 1L, "c1")).toDF("k", "wv", "v"), "b2", mor = true)
    replicate()
    assert(replica.read().collect().map(_.toSeq).toSet ===
      src.read().collect().map(_.toSeq).toSet)
    // re-running with nothing new is a no-op (no new versions in the replica)
    val vBefore = replica.currentVersion()
    replicate()
    assert(replica.currentVersion() === vBefore)
  }

  test("typed stream batches equal readChangesTyped windows") {
    val t = newTable(tombstone = true)
    val ckpt = Files.createTempDirectory("lakecdf-ckpt").toString
    def df(rows: (String, Long, String, Boolean)*) = rows.toDF("k", "wv", "v", "deleted")
    t.merge(df(("a", 1L, "a1", false), ("b", 1L, "b1", false), ("c", 1L, "c1", false)), "b1")
    val v1 = t.currentVersion()
    drain(t, ckpt, Map("typed" -> "true")) // checkpoint at v1 (typed from the start)

    // update a, delete b, insert d — across a merge-on-read layer
    t.merge(df(("a", 2L, "a2", false), ("d", 1L, "d1", false)), "b2", mor = true)
    t.merge(df(("b", 2L, null, true)), "b3", mor = true)
    val v3 = t.currentVersion()
    val batches = drain(t, ckpt, Map("typed" -> "true"))
    val expect = t.readChangesTyped(v1, v3).collect().map(_.toSeq).toSet
    assert(batches.flatMap(_._2).map(_.toSeq).toSet === expect)
    val byType = batches.flatMap(_._2)
      .groupBy(_.getAs[String]("_change_type")).view.mapValues(_.map(_.getString(0)).toSet).toMap
    assert(byType("insert") === Set("d"))
    assert(byType("delete") === Set("b"))
    assert(byType("update_preimage") === Set("a") && byType("update_postimage") === Set("a"))
    // the delete carries the preimage payload
    assert(batches.flatMap(_._2).find(_.getAs[String]("_change_type") == "delete")
      .get.getAs[String]("v") === "b1")
  }

  test("typed stream maintains an exact incremental aggregate across restarts") {
    val t = newTable(tombstone = true)
    val ckpt = Files.createTempDirectory("lakecdf-ckpt").toString
    def df(rows: (String, Long, String, Boolean)*) = rows.toDF("k", "wv", "v", "deleted")
    // live-key count maintained purely from the typed feed
    val agg = new java.util.concurrent.atomic.AtomicLong(0)
    def drainAgg(): Unit = {
      val q = t.readChangeStream(Map("typed" -> "true", "startingVersion" -> "0"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val d = df.selectExpr(
            """sum(CASE WHEN _change_type = 'insert' THEN 1
              |         WHEN _change_type = 'delete' THEN -1
              |         ELSE 0 END) AS d""".stripMargin).head().getAs[Any]("d")
          agg.addAndGet(Option(d).map(_.asInstanceOf[Long]).getOrElse(0L))
          ()
        }
        .start()
      q.awaitTermination()
    }
    t.merge(df(("a", 1L, "a1", false), ("b", 1L, "b1", false)), "b1")
    drainAgg()
    assert(agg.get() === t.read().count())
    t.merge(df(("a", 2L, "a2", false), ("c", 1L, "c1", false), ("b", 2L, null, true)), "b2")
    drainAgg() // resume from checkpoint: only the delta adjusts the count
    assert(agg.get() === t.read().count())
    assert(agg.get() === 2L) // a, c live; b deleted
  }

  test("a window spanning a tombstone purge fails loudly unless overridden") {
    val t = newTable(tombstone = true)
    def df(rows: (String, Long, String, Boolean)*) = rows.toDF("k", "wv", "v", "deleted")
    t.merge(df(("a", 1L, "a1", false), ("b", 1L, "b1", false)), "b1")
    val v1 = t.currentVersion()
    t.merge(df(("b", 2L, null, true)), "b2")
    t.purgeTombstones()

    val ckpt1 = Files.createTempDirectory("lakecdf-ckpt").toString
    val e = intercept[Exception] {
      drain(t, ckpt1, Map("startingVersion" -> v1.toString))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("tombstone purge")))

    val ckpt2 = Files.createTempDirectory("lakecdf-ckpt").toString
    val rows = rowSet(drain(t, ckpt2,
      Map("startingVersion" -> v1.toString, "allowPurgedWindow" -> "true")).flatMap(_._2))
    // the delete itself was purged; the override acknowledges that loss
    assert(!rows.exists(_.head == "b"))
  }

  test("startingVersion=earliest past an expired v0 emits an initial " +
      "snapshot load, then tails") {
    val t = newTable()
    t.merge(Seq(("a", 1L, "a1"), ("b", 1L, "b1")).toDF("k", "wv", "v"), "b1")
    t.merge(Seq(("a", 2L, "a2"), ("c", 1L, "c1")).toDF("k", "wv", "v"), "b2")
    t.merge(Seq(("d", 1L, "d1")).toDF("k", "wv", "v"), "b3")
    t.expire(keepVersions = 2) // v0 (and v1) gone: earliest retained > 0
    val ckpt = Files.createTempDirectory("lakecdf-ckpt").toString
    // the anchor's pre-image is unreadable, so without the empty-baseline
    // load every row present at the anchor would silently never surface
    val first = drain(t, ckpt, Map("startingVersion" -> "earliest"))
    assert(rowSet(first.flatMap(_._2)) === rowSet(t.read().collect().toSeq))
    assert(rowSet(first.flatMap(_._2)).map(_.head) === Set("a", "b", "c", "d"))
    // and the checkpoint tails normally from there — no re-emission
    t.merge(Seq(("e", 1L, "e1")).toDF("k", "wv", "v"), "b4")
    val second = drain(t, ckpt)
    assert(rowSet(second.flatMap(_._2)) === Set(Seq[Any]("e", 1L, "e1")))
    assert(drain(t, ckpt).isEmpty)
  }

  test("the stream surfaces a write-audit-publish's adopted rows") {
    val t = newTable()
    t.merge(Seq(("a", 1L, "a1"), ("b", 1L, "b1")).toDF("k", "wv", "v"), "b1")
    val ckpt = Files.createTempDirectory("lakecdf-ckpt").toString
    drain(t, ckpt, Map("startingVersion" -> "earliest")) // consume the seed
    // WAP cycle: clone, audit-merge on the clone, publish back
    val cloneRoot = Files.createTempDirectory("lakecdf-audit").toString + "/audit"
    val audit = t.cloneTo(cloneRoot)
    audit.merge(Seq(("a", 2L, "a2"), ("c", 1L, "c1")).toDF("k", "wv", "v"), "audit1")
    t.fastForward(cloneRoot)
    // the publish commit carries the audit's merged rows — they MUST reach
    // the changelog consumer (a layout-inert publish is a data change, not
    // a maintenance boundary)
    val batch = drain(t, ckpt)
    assert(rowSet(batch.flatMap(_._2)) ===
      Set(Seq[Any]("a", 2L, "a2"), Seq[Any]("c", 1L, "c1")))
  }

  test("an empty-baseline anchor survives its version being expired before " +
      "the first batch (the initial load never reads the anchor's ledger)") {
    val t = newTable()
    t.merge(Seq(("a", 1L, "a1"), ("b", 1L, "b1")).toDF("k", "wv", "v"), "b1")
    t.merge(Seq(("c", 1L, "c1")).toDF("k", "wv", "v"), "b2")
    t.expire(keepVersions = 2) // v0 gone -> earliest anchor is baselineEmpty
    // drive the source directly so the expire can land INSIDE the
    // first-offset -> first-batch window (a concurrent maintenance thread
    // in production; not reachable deterministically through a drain)
    val source = new LakeCdfStream(spark, t.root, StructType.fromDDL(schema.toDDL),
      CaseInsensitiveMap(Map("root" -> t.root, "startingVersion" -> "earliest")))
    val end = LakeCdfOffset(source.latestOffset(null, ReadLimit.allAvailable()))
    val anchor = end.anchor.get
    assert(end.baselineEmpty && anchor > 0L && end.version === t.currentVersion())
    // new commits land and the anchor version itself is retired; the window
    // end stays retained
    t.merge(Seq(("d", 1L, "d1")).toDF("k", "wv", "v"), "b3")
    t.expire(keepVersions = 2)
    assert(!Files.exists(java.nio.file.Paths.get(t.root, "meta", s"v$anchor.json")))
    // the first batch still runs: the full state at the window end, no
    // probe of the (expired) anchor version
    val batch = source.getBatch(None, end)
    assert(batch.isStreaming)
    val rows = batchRows(batch)
    assert(rowSet(rows) === rowSet(t.readAt(end.version).collect().toSeq))
    assert(rowSet(rows).map(_.head) === Set("a", "b", "c"))
  }

  test("a restart survives the expiry of its last committed window's start") {
    val t = newTable()
    val ckpt = Files.createTempDirectory("lakecdf-ckpt").toString
    t.merge(Seq(("a", 1L, "a1")).toDF("k", "wv", "v"), "b1")
    drain(t, ckpt, Map("startingVersion" -> "0"))
    t.merge(Seq(("b", 1L, "b1")).toDF("k", "wv", "v"), "b2")
    val v2 = t.currentVersion()
    assert(drain(t, ckpt).flatMap(_._2).map(_.getString(0)) === Seq("b"))
    // the last committed window is (v1, v2]; retire v1. A restarted query
    // asks for that window once more and drops it — it must not need v1
    t.merge(Seq(("c", 1L, "c1")).toDF("k", "wv", "v"), "b3")
    t.expire(keepVersions = 2)
    assert(!Files.exists(java.nio.file.Paths.get(t.root, "meta", s"v${v2 - 1}.json")))
    assert(drain(t, ckpt).flatMap(_._2).map(_.getString(0)) === Seq("c"))
  }

  test("equal-ordering ties across merge-on-read layers resolve exactly as " +
      "the batch changelog and the keyed read resolve them") {
    val t = newTable()
    // two MOR layers carrying the SAME (k, wv) with different payloads
    t.merge(Seq(("k", 1L, "first"), ("o", 1L, "o1")).toDF("k", "wv", "v"), "b1", mor = true)
    t.merge(Seq(("k", 1L, "second")).toDF("k", "wv", "v"), "b2", mor = true)
    val v = t.currentVersion()
    val untyped = drain(t, Files.createTempDirectory("lakecdf-tie").toString,
      Map("startingVersion" -> "0")).flatMap(_._2)
    val typed = drain(t, Files.createTempDirectory("lakecdf-tie-typed").toString,
      Map("startingVersion" -> "0", "typed" -> "true")).flatMap(_._2)
    assert(rowSet(untyped) === rowSet(t.readChanges(0L, v).collect().toSeq))
    assert(rowSet(typed) === rowSet(t.readChangesTyped(0L, v).collect().toSeq))
    val point = t.read(Map("k" -> "k")).collect().map(_.toSeq).toSeq
    assert(point.size === 1)
    assert(untyped.filter(_.getString(0) == "k").map(_.toSeq) === point)
    assert(typed.filter(_.getString(0) == "k").map(_.toSeq.dropRight(1)) === point)
  }

  test("query progress reports the source's tableVersion and versionsBehind") {
    val t = newTable()
    (1 to 3).foreach { i =>
      t.merge(Seq((s"k$i", i.toLong, s"v$i")).toDF("k", "wv", "v"), s"b$i")
    }
    val head = t.currentVersion()
    val q = t.readChangeStream(Map("startingVersion" -> "0", "maxVersionsPerBatch" -> "1"))
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("lakecdf-metrics").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) => df.count(); () }
      .start()
    q.awaitTermination()
    val progress = q.recentProgress.toSeq
    assert(progress.size >= 3)
    val behind = progress.map { p =>
      val m = p.sources(0).metrics
      assert(m.get("tableVersion") === head.toString)
      val end = LakeCdfSource.offsetMapper.readTree(p.sources(0).endOffset).get("version").asLong()
      assert(m.get("versionsBehind") === (head - end).toString)
      m.get("versionsBehind").toLong
    }
    // one version per batch: the first batch trails the head, the last none
    assert(behind.head === head - 1L)
    assert(q.lastProgress.sources(0).metrics.get("versionsBehind") === "0")
  }
}
