package graft.tables

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.StructType

import graft.SparkTestBase

class LakeTableSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType.fromDDL("k STRING, wv BIGINT, v STRING")

  private def newTable(buckets: Int = 8): LakeTable =
    LakeTable.createOrOpen(spark, Files.createTempDirectory("laketbl").toString,
      schema, keyCols = Seq("k"), orderCols = Seq("wv"), numBuckets = buckets)

  test("merge applies LWW upserts across batches") {
    val t = newTable()
    assert(t.merge(Seq(("a", 1L, "a1"), ("b", 1L, "b1")).toDF("k", "wv", "v"), "b1") === 2L)
    // 3 incoming rows dedup to 2 upserts (a@2 beats a@0 in-batch)
    assert(t.merge(Seq(("a", 2L, "a2"), ("c", 3L, "c1"), ("a", 0L, "stale")).toDF("k", "wv", "v"), "b2") === 2L)
    val state = t.read().as[(String, Long, String)].collect().sortBy(_._1)
    // a: wv2 wins in-batch and over table's wv1; stale wv0 loses
    assert(state.toSeq === Seq(("a", 2L, "a2"), ("b", 1L, "b1"), ("c", 3L, "c1")))
    assert(t.snapshot().rowCount === 3L)
  }

  test("merge-on-read: layered merges equal copy-on-write merges, compact " +
      "clears the debt without changing state") {
    val batches = Seq(
      Seq(("a", 1L, "a1"), ("b", 1L, "b1"), ("c", 1L, "c1")),
      Seq(("a", 3L, "a3"), ("d", 1L, "d1"), ("a", 2L, "stale")),
      Seq(("b", 5L, "b5"), ("e", 1L, "e1"), ("c", 0L, "stale")))
    val cow = newTable()
    val morT = newTable()
    batches.zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("k", "wv", "v")
      assert(cow.merge(df, s"b$i") === morT.merge(df, s"b$i", mor = true))
    }
    def state(t: LakeTable) = t.read().as[(String, Long, String)].collect().sortBy(_._1).toSeq
    val expected = Seq(("a", 3L, "a3"), ("b", 5L, "b5"), ("c", 1L, "c1"),
      ("d", 1L, "d1"), ("e", 1L, "e1"))
    assert(state(cow) === expected)
    assert(state(morT) === expected) // read-time LWW resolution over layers
    // MOR stored extra shadowed versions; some buckets are dirty
    assert(morT.snapshot().morBuckets.nonEmpty)
    assert(morT.snapshot().rowCount > cow.snapshot().rowCount)
    // layers per dirty bucket exceed one file list entry pre-compact
    val dirtyB = morT.snapshot().morBuckets.head
    assert(morT.snapshot().bucketFiles(dirtyB).size > 1)
    // compaction: state identical, debt cleared, row counts converge
    val dirtyCount = morT.snapshot().morBuckets.size
    assert(morT.compact() === dirtyCount)
    assert(state(morT) === expected)
    assert(morT.snapshot().morBuckets.isEmpty)
    assert(morT.snapshot().rowCount === cow.snapshot().rowCount)
    assert(morT.compact() === 0) // idempotent
    // a later COW merge on a fresh MOR layer also resolves it
    assert(morT.merge(Seq(("a", 9L, "a9")).toDF("k", "wv", "v"), "b3", mor = true) === 1L)
    assert(morT.snapshot().morBuckets.nonEmpty)
    assert(morT.merge(Seq(("a", 10L, "a10")).toDF("k", "wv", "v"), "b4") === 1L)
    assert(morT.snapshot().morBuckets.isEmpty)
    assert(state(morT).find(_._1 == "a").get === (("a", 10L, "a10")))
  }

  test("property: random batch stream with random per-batch COW/MOR modes " +
      "and random compactions always equals the all-COW fold") {
    val rnd = new scala.util.Random(20260817L)
    val keys = ('a' to 'j').map(_.toString)
    (0 until 3).foreach { round =>
      val cow = newTable()
      val mixed = newTable()
      var wv = 0L
      (0 until 6).foreach { b =>
        val rows = (0 until (1 + rnd.nextInt(8))).map { _ =>
          wv += 1
          (keys(rnd.nextInt(keys.size)), wv, s"v$wv")
        }
        val df = rows.toDF("k", "wv", "v")
        cow.merge(df, s"r$round-b$b")
        mixed.merge(df, s"r$round-b$b", mor = rnd.nextBoolean())
        if (rnd.nextInt(3) == 0) mixed.compact()
      }
      mixed.compact()
      def state(t: LakeTable) =
        t.read().as[(String, Long, String)].collect().sortBy(_._1).toSeq
      assert(state(mixed) === state(cow), s"round $round diverged")
      assert(mixed.snapshot().rowCount === cow.snapshot().rowCount)
    }
  }

  test("property: storage-partitioned COW merges equal classic COW merges " +
      "across random streams, MOR interleavings, and schema evolution") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val rnd = new scala.util.Random(20260818L)
    // include a NULL key: the classic path LWW-groups null keys, so the SPJ
    // full-outer join must match them null-safely (<=>) or it duplicates
    val keys = ('a' to 'p').map(_.toString) :+ (null: String)
    (0 until 3).foreach { round =>
      val classic = newTable()
      val spj = newTable()
      classic.planPin = MergePlan.Pin(spj = Some(false))
      spj.planPin = MergePlan.Pin(spj = Some(true))
      var wv = 0L
      (0 until 6).foreach { b =>
        val rows = (0 until (1 + rnd.nextInt(12))).map { _ =>
          wv += 1
          (keys(rnd.nextInt(keys.size)), wv, s"v$wv")
        }
        val evolve = b >= 4 // later batches add a column (schema evolution under SPJ)
        val df0 = rows.toDF("k", "wv", "v")
        val df = if (evolve) df0.withColumn("extra", concat(lit("x"), col("wv"))) else df0
        val mor = rnd.nextInt(4) == 0 // occasional MOR layer → SPJ must resolve dirty buckets
        classic.merge(df, s"r$round-b$b", mor = mor)
        spj.merge(df, s"r$round-b$b", mor = mor)
        // the route that ran: the first batch lands in an empty table
        def ran(t: LakeTable) = t.lastMergePlan.map(_.route)
        val oneJob = mor || b == 0
        assert(ran(classic) === Some(if (oneJob) MergePlan.OneJob else MergePlan.ClassicCow))
        assert(ran(spj) === Some(if (oneJob) MergePlan.OneJob else MergePlan.SpjCow))
      }
      classic.compact()
      spj.compact()
      def state(t: LakeTable) = t.read()
        .selectExpr("k", "wv", "v", "cast(extra as string)")
        .collect().map(_.toSeq).toSet
      assert(state(spj) === state(classic), s"round $round diverged")
      assert(spj.snapshot().rowCount === classic.snapshot().rowCount)
    }
  }

  test("merge-on-read: exactly-once and schema evolution hold") {
    val t = newTable()
    t.merge(Seq(("a", 1L, "a1")).toDF("k", "wv", "v"), "b1", mor = true,
      txn = Some(("app", 1L)))
    // re-delivery is a no-op
    assert(t.merge(Seq(("a", 9L, "X")).toDF("k", "wv", "v"), "b1", mor = true,
      txn = Some(("app", 1L))) === 0L)
    // evolved column arrives via a MOR layer; old layers read as null
    val evolved = Seq(("a", 2L, "a2", 7L), ("b", 1L, "b1", 8L)).toDF("k", "wv", "v", "extra")
    t.merge(evolved, "b2", mor = true, txn = Some(("app", 2L)))
    val rows = t.read().select("k", "wv", "extra").as[(String, Long, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(rows === Seq(("a", 2L, Some(7L)), ("b", 1L, Some(8L))))
  }

  test("re-delivered batch id is a no-op (exactly-once)") {
    val t = newTable()
    t.merge(Seq(("a", 1L, "a1")).toDF("k", "wv", "v"), "batch-1")
    val v = t.currentVersion()
    assert(t.merge(Seq(("a", 99L, "SHOULD NOT APPLY")).toDF("k", "wv", "v"), "batch-1") === 0L)
    assert(t.currentVersion() === v)
    assert(t.read().as[(String, Long, String)].collect().toSeq === Seq(("a", 1L, "a1")))
  }

  test("stale updates never regress table state (MERGE condition)") {
    val t = newTable()
    t.merge(Seq(("a", 5L, "new")).toDF("k", "wv", "v"), "b1")
    t.merge(Seq(("a", 3L, "old")).toDF("k", "wv", "v"), "b2")
    assert(t.read().as[(String, Long, String)].collect().toSeq === Seq(("a", 5L, "new")))
  }

  test("bucket pruning: untouched buckets carry files forward unchanged") {
    val t = newTable(buckets = 8)
    val big = (0 until 64).map(i => (s"k$i", 1L, s"v$i"))
    t.merge(big.toDF("k", "wv", "v"), "full")
    val before = t.snapshot().bucketFiles
    // single-key delta: touches exactly one bucket
    t.merge(Seq(("k7", 2L, "v7b")).toDF("k", "wv", "v"), "delta")
    val after = t.snapshot()
    val touched = after.lineage("delta").touchedBuckets
    assert(touched.size === 1)
    before.foreach { case (b, files) =>
      if (!touched.contains(b)) assert(after.bucketFiles(b) === files, s"bucket $b rewritten")
      else assert(after.bucketFiles(b) !== files)
    }
    val k7 = t.read().as[(String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap.apply("k7")
    assert(k7 === ((2L, "v7b")))
    assert(after.rowCount === 64L)
  }

  test("schema evolution: new nullable columns without rewrite") {
    val t = newTable()
    t.merge(Seq(("a", 1L, "a1"), ("b", 1L, "b1")).toDF("k", "wv", "v"), "b1")
    // batch adds an enrichment column
    t.merge(Seq(("b", 2L, "b2", "ENRICHED")).toDF("k", "wv", "v", "extra"), "b2")
    val state = t.read().select("k", "v", "extra")
      .as[(String, String, Option[String])].collect().sortBy(_._1)
    assert(state.toSeq === Seq(("a", "a1", None), ("b", "b2", Some("ENRICHED"))))
    assert(t.schema.fieldNames.toSeq === Seq("k", "wv", "v", "extra"))
  }

  test("reopen from disk preserves state and ledger") {
    val root = Files.createTempDirectory("laketbl-reopen").toString
    val t = LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"), 4)
    t.merge(Seq(("a", 1L, "a1")).toDF("k", "wv", "v"), "b1")
    val t2 = LakeTable.open(spark, root)
    assert(t2.read().count() === 1L)
    assert(t2.snapshot().appliedBatches === Seq("b1"))
    assert(t2.merge(Seq(("a", 9L, "dup")).toDF("k", "wv", "v"), "b1") === 0L)
  }

  test("txn watermark: seq at or below the app's high-water mark is a no-op") {
    val t = newTable()
    assert(t.merge(Seq(("a", 1L, "a1")).toDF("k", "wv", "v"), "s5",
      txn = Some(("app", 5L))) === 1L)
    // re-delivery and older sequences are no-ops even with fresh batch ids
    assert(t.merge(Seq(("a", 9L, "x")).toDF("k", "wv", "v"), "s5-retry",
      txn = Some(("app", 5L))) === 0L)
    assert(t.merge(Seq(("a", 9L, "x")).toDF("k", "wv", "v"), "s4-late",
      txn = Some(("app", 4L))) === 0L)
    assert(t.merge(Seq(("a", 2L, "a2")).toDF("k", "wv", "v"), "s6",
      txn = Some(("app", 6L))) === 1L)
    assert(t.snapshot().txns === Map("app" -> 6L))
    assert(t.read().as[(String, Long, String)].collect().toSeq === Seq(("a", 2L, "a2")))
  }

  test("metadata stays bounded: ledger/lineage capped, expired counters roll up") {
    val root = Files.createTempDirectory("laketbl-bounded").toString
    val t = LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"), 4,
      retainBatches = 8)
    (1 to 20).foreach { i =>
      t.merge(Seq((s"k${i % 5}", i.toLong, s"v$i")).toDF("k", "wv", "v"), s"b$i",
        txn = Some(("app", i.toLong)))
    }
    val s = t.snapshot()
    assert(s.appliedBatches.size === 8)
    assert(s.appliedBatches.last === "b20")
    assert(s.lineage.keySet === s.appliedBatches.toSet)
    assert(s.txns === Map("app" -> 20L))
    // 12 expired batches rolled into totals, counters summed
    assert(s.totals("batches") === 12L)
    assert(s.totals("rows_in") === 12L)   // one row per expired batch
    assert(s.totals("upserts") === 12L)
    assert(s.lineage("b20").counters("rows_in") === 1L)
  }

  test("expire removes old snapshot metadata and unreferenced commit dirs") {
    val root = Files.createTempDirectory("laketbl-expire").toString
    val t = LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"), 2)
    (1 to 6).foreach { i =>
      t.merge(Seq(("a", i.toLong, s"v$i")).toDF("k", "wv", "v"), s"b$i")
    }
    val dataDirsBefore = new java.io.File(s"$root/data").list().count(_.startsWith("commit-"))
    assert(dataDirsBefore === 6)
    val (metaGone, commitsGone) = t.expire(keepVersions = 2)
    assert(metaGone === 5)     // v0..v4 removed, v5+v6 kept
    assert(commitsGone >= 1)   // commits referenced by neither v5 nor v6
    // table still reads the latest state
    assert(t.read().as[(String, Long, String)].collect().toSeq === Seq(("a", 6L, "v6")))
    // and the previous retained version's files are intact (time travel window)
    assert(Files.exists(java.nio.file.Paths.get(s"$root/meta/v5.json")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/meta/v4.json")))
  }

  test("concurrent writer loses loudly (CREATE_NEW commit guard)") {
    val root = Files.createTempDirectory("laketbl-race").toString
    val t = LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"), 2)
    t.merge(Seq(("a", 1L, "a1")).toDF("k", "wv", "v"), "b1")
    // simulate a racing writer that already published v2
    Files.write(java.nio.file.Paths.get(s"$root/meta/v2.json"), "{}".getBytes)
    intercept[java.util.ConcurrentModificationException] {
      t.merge(Seq(("b", 1L, "b1")).toDF("k", "wv", "v"), "b2")
    }
  }

  test("tombstone deletes: LWW delete/upsert interleavings, out-of-order " +
      "resurrection guard, point reads, changelog egress, purge") {
    import org.apache.spark.sql.functions.col
    val delSchema = StructType.fromDDL("k STRING, wv BIGINT, v STRING, deleted BOOLEAN")
    def newDelTable(mor: Boolean = false): LakeTable =
      LakeTable.createOrOpen(spark, Files.createTempDirectory("laketbl-del").toString,
        delSchema, Seq("k"), Seq("wv"), 4, tombstoneCol = Some("deleted"))
    val cow = newDelTable()
    val morT = newDelTable()
    val batches = Seq(
      "b1" -> Seq(("a", 1L, "a1", false), ("b", 1L, "b1", false), ("c", 1L, "c1", false)),
      // delete b, upsert d in the same batch
      "b2" -> Seq(("b", 2L, null: String, true), ("d", 2L, "d2", false)),
      // OUT-OF-ORDER stale live row for b (wv 1 < tombstone's 2): must NOT resurrect
      "b3" -> Seq(("b", 1L, "stale", false)),
      // re-create b after the delete (newer wv wins over the tombstone)
      "b4" -> Seq(("b", 5L, "b5", false)),
      // delete b again, delete never-seen key z (tombstone lands, hides nothing)
      "b5" -> Seq(("b", 6L, null: String, true), ("z", 6L, null: String, true)))
    def df(rows: Seq[(String, Long, String, Boolean)]) = rows.toDF("k", "wv", "v", "deleted")
    batches.take(2).foreach { case (id, rows) =>
      cow.merge(df(rows), id); morT.merge(df(rows), id, mor = true)
    }
    val v2 = cow.currentVersion()
    // visible state after the delete
    def state(t: LakeTable) =
      t.read().select("k", "wv", "v").as[(String, Long, String)].collect().sortBy(_._1).toSeq
    assert(state(cow) === Seq(("a", 1L, "a1"), ("c", 1L, "c1"), ("d", 2L, "d2")))
    assert(cow.logicalRowCount() === 3L)
    // the tombstone is STORED (resurrection guard) even though hidden
    assert(cow.snapshot().rowCount === 4L)
    // deletes SURFACE in the changelog (CDC egress), hidden from read()
    val changes = cow.readChanges(v2 - 1, v2)
      .select("k", "deleted").as[(String, Boolean)].collect().toMap
    assert(changes === Map("b" -> true, "d" -> false))
    // point read of a deleted key is empty; of a live key returns the row
    assert(cow.read(Map("k" -> "b")).count() === 0L)
    assert(cow.read(Map("k" -> "a")).count() === 1L)
    batches.drop(2).foreach { case (id, rows) =>
      cow.merge(df(rows), id); morT.merge(df(rows), id, mor = true)
    }
    // stale b3 never resurrected; b4 re-created; b5 re-deleted (+ z hidden)
    assert(state(cow) === Seq(("a", 1L, "a1"), ("c", 1L, "c1"), ("d", 2L, "d2")))
    assert(cow.logicalRowCount() === 3L)
    // MOR fold equality incl. compaction (tombstones survive compaction)
    morT.compact()
    assert(state(morT) === state(cow))
    assert(morT.logicalRowCount() === 3L)
    // storage-partitioned COW twin: tombstones are payload to the SPJ
    // winner logic, so the forced-SPJ fold must land identically
    val spjT = newDelTable()
    spjT.planPin = MergePlan.Pin(spj = Some(true))
    batches.zipWithIndex.foreach { case ((id, rows), i) =>
      spjT.merge(df(rows), id)
      assert(spjT.lastMergePlan.map(_.route) ===
        Some(if (i == 0) MergePlan.OneJob else MergePlan.SpjCow), id)
    }
    assert(state(spjT) === state(cow))
    // purge reclaims the tombstones without changing the visible state
    val vBeforePurge = cow.currentVersion()
    val purged = cow.purgeTombstones()
    assert(purged >= 1)
    // a changelog window spanning the purge fails loudly — its deletes can
    // no longer surface to a lagging consumer; the override acknowledges it
    val eGuard = intercept[IllegalArgumentException] {
      cow.readChanges(vBeforePurge - 1, cow.currentVersion())
    }
    assert(eGuard.getMessage.contains("tombstone purge"), eGuard.getMessage)
    cow.readChanges(vBeforePurge - 1, cow.currentVersion(), allowPurgedWindow = true).collect()
    assert(state(cow) === Seq(("a", 1L, "a1"), ("c", 1L, "c1"), ("d", 2L, "d2")))
    assert(cow.snapshot().rowCount === 3L) // b + z tombstones gone from storage
    assert(cow.snapshot().totals("tombstone_purges") === 1L)
    assert(cow.purgeTombstones() === 0) // nothing left to purge
    // a batch WITHOUT the tombstone column merges as live rows (null→false)
    cow.merge(Seq(("e", 9L, "e9")).toDF("k", "wv", "v"), "b6")
    assert(cow.read(Map("k" -> "e")).select("v").as[String].collect().toSeq === Seq("e9"))
  }

  test("auto-salt: a one-key-dominated large batch salts itself from the " +
      "stats rows; moderate skew and small batches stay unsalted; state " +
      "matches the gate-off twin") {
    import org.apache.spark.sql.functions._
    def batches(s: org.apache.spark.sql.SparkSession) = Seq(
      // seed: empty-table one-job path (no stats → no auto decision)
      "seed" -> Seq(("seed", 0L, "s0")).toDF("k", "wv", "v"),
      // 90% of 100k rows on ONE key → auto-salt must fire
      "hot" -> s.range(100000).select(
        when(col("id") % 10 < 9, "hotkey").otherwise(concat(lit("k"), col("id"))).as("k"),
        col("id").as("wv"), concat(lit("v"), col("id")).as("v")),
      // uniform 100k → stays unsalted
      "uniform" -> s.range(100000).select(
        concat(lit("u"), col("id") % 20000).as("k"),
        col("id").as("wv"), concat(lit("v"), col("id")).as("v")),
      // skewed but tiny (< AutoSaltMinRows) → stays unsalted
      "tiny" -> s.range(1000).select(
        when(col("id") % 10 < 9, "hotkey").otherwise(concat(lit("t"), col("id"))).as("k"),
        (col("id") + 200000).as("wv"), concat(lit("w"), col("id")).as("v")))
    val auto = newTable()
    val expected = Seq(false, true, false, false)
    // the seed lands in an empty table; the rest take a COW route
    def ran(t: LakeTable) = t.lastMergePlan.map(p => (p.route != MergePlan.OneJob, p.salted))
    batches(spark).zip(expected).foreach { case ((id, df), wantSalted) =>
      auto.merge(df, id)
      assert(ran(auto) === Some((id != "seed", wantSalted)), s"batch $id")
    }
    val off = newTable()
    off.planPin = MergePlan.Pin(autoSalt = false)
    batches(spark).foreach { case (id, df) =>
      off.merge(df, id)
      assert(ran(off) === Some((id != "seed", false)), s"batch $id")
    }
    def state(t: LakeTable) =
      t.read().as[(String, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(state(auto) === state(off))
  }

  // one race for the three maintenance rewrites: an ingest merge lands
  // inside the rewrite's commit window, and the rewrite rebases over it
  Seq[(String, LakeTable => Int, String)](
    ("a compaction", _.compact(), "compactions"),
    ("a purge", _.purgeTombstones(), "tombstone_purges"),
    ("a cluster", _.cluster(Seq("wv")), "clusterings")).foreach { case (what, rewrite, counter) =>
  test(s"OCC: $what racing an ingest merge rebases — both land, " +
      "invalidated buckets stay dirty, fold equality holds") {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val root = Files.createTempDirectory("laketbl-occ-rewrite").toString
    val t = LakeTable.createOrOpen(spark, root,
      StructType.fromDDL("k STRING, wv BIGINT, v STRING, deleted BOOLEAN"),
      Seq("k"), Seq("wv"), 4, tombstoneCol = Some("deleted"))
    val t2 = LakeTable.open(spark, root)
    val keys = ('a' to 'h').map(_.toString)
    def bucketOf(k: String): Int =
      Seq(k).toDF("k").select(pmod(xxhash64(col("k")), lit(4)).cast("int")).as[Int].head()
    // the purge reclaims every other key's delete, "a" among them (the
    // racing merge re-creates it); the other rewrites see no deletes
    val deleted =
      if (counter == "tombstone_purges") keys.indices.filter(_ % 2 == 0).map(keys).toSet
      else Set.empty[String]
    t.merge(keys.map(k => (k, 1L, s"$k@1", false)).toDF("k", "wv", "v", "deleted"), "b1",
      mor = true)
    t.merge(keys.map(k => (k, 2L, s"$k@2", deleted(k))).toDF("k", "wv", "v", "deleted"), "b2",
      mor = true)
    val before = t.snapshot()
    val target = counter match {
      case "compactions"      => before.morBuckets.toSet
      case "tombstone_purges" => deleted.map(bucketOf)
      case _                  => before.bucketFiles.collect { case (b, fs) if fs.nonEmpty => b }.toSet
    }
    assert(target.size >= 2 && target(bucketOf("a")), s"want ≥2 buckets incl. a's, got $target")
    // just before the rewrite commits, an ingest merge lands from a second
    // handle: the rewrite must rebase, dropping only the bucket the merge
    // touched
    var fired = false
    t.onBeforeCommit = () => if (!fired) {
      fired = true
      t2.merge(Seq(("a", 3L, "a@3", false)).toDF("k", "wv", "v", "deleted"), "race")
    }
    val rewritten = try rewrite(t) finally t.onBeforeCommit = () => ()
    assert(fired)
    val s = t.snapshot()
    assert(s.appliedBatches.contains("race"), "racing merge must have landed")
    assert(s.totals.getOrElse(counter, 0L) === 1L, s"$what must have landed")
    // the COW race-merge resolved + rewrote a's bucket itself; the rewrite
    // rebased onto the rest — nothing is dirty anymore and both committed
    assert(rewritten === target.size - 1, s"rewritten=$rewritten target=$target")
    assert(s.morBuckets.isEmpty, s"morBuckets=${s.morBuckets}")
    val state = t.read().select("k", "wv", "v").as[(String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val expected = keys.filterNot(k => k == "a" || deleted(k)).map(k => k -> ((2L, s"$k@2"))).toMap +
      ("a" -> ((3L, "a@3")))
    assert(state === expected)
    assert(t.logicalRowCount() === expected.size.toLong)
    if (deleted.isEmpty) assert(s.rowCount === keys.size.toLong)
    // the stale output staged for a's bucket was swept: every file left
    // under a maintenance staging dir is one the current snapshot reads
    val live = s.bucketFiles.values.flatten.toSet
    val staged = {
      val ls = Files.walk(Paths.get(root, "data"))
      try ls.iterator().asScala.map(p => Paths.get(root).relativize(p).toString)
        .filter(r => r.startsWith("data/maint-") && r.endsWith(".parquet")).toSet
      finally ls.close()
    }
    // (a purge may write nothing at all: every key of its buckets deleted)
    assert(staged.nonEmpty || deleted.nonEmpty, "the rewrite staged no files")
    assert(staged.subsetOf(live), s"unreferenced staged files: ${staged -- live}")
  }
  }

  test("OCC: an ingest merge racing a compaction rebases over the " +
      "maintenance commit; a racing INGEST commit still fails loudly") {
    val root = Files.createTempDirectory("laketbl-occ-merge").toString
    val t = LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"), 4)
    val t2 = LakeTable.open(spark, root)
    val keys = ('a' to 'h').map(_.toString)
    t.merge(keys.map(k => (k, 1L, s"$k@1")).toDF("k", "wv", "v"), "b1", mor = true)
    t.merge(keys.map(k => (k, 2L, s"$k@2")).toDF("k", "wv", "v"), "b2", mor = true)
    var fired = false
    t.onBeforeCommit = () => if (!fired) { fired = true; t2.compact() }
    val ups = try t.merge(Seq(("a", 9L, "a@9")).toDF("k", "wv", "v"), "b3")
      finally t.onBeforeCommit = () => ()
    assert(fired && ups === 1L)
    val s = t.snapshot()
    assert(s.appliedBatches.contains("b3"))
    assert(s.totals.getOrElse("compactions", 0L) === 1L)
    val state = t.read().as[(String, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(state("a") === ((9L, "a@9")))
    keys.filterNot(_ == "a").foreach(k => assert(state(k) === ((2L, s"$k@2")), k))
    assert(s.rowCount === keys.size.toLong)
    // exactly-once still holds after the rebase
    assert(t.merge(Seq(("a", 99L, "never")).toDF("k", "wv", "v"), "b3") === 0L)
    // two INGEST writers racing is still a hard error (no rebase)
    var fired2 = false
    t.onBeforeCommit = () => if (!fired2) {
      fired2 = true
      t2.merge(Seq(("z", 1L, "z@1")).toDF("k", "wv", "v"), "race2")
    }
    def commitDirs() = new java.io.File(s"$root/data").list().filter(_.startsWith("commit-")).toSet
    val dirsBefore = commitDirs()
    try intercept[java.util.ConcurrentModificationException] {
      t.merge(Seq(("y", 1L, "y@1")).toDF("k", "wv", "v"), "b4")
    } finally t.onBeforeCommit = () => ()
    assert(fired2)
    // the loser swept its staging dir at once; the only new dir is the
    // winner's, and the table reads the winner's state
    val s2 = t.snapshot()
    val newDirs = commitDirs() -- dirsBefore
    assert(newDirs.size === 1 &&
      s2.bucketFiles.values.flatten.exists(_.startsWith(s"data/${newDirs.head}/")),
      s"new commit dirs: $newDirs")
    assert(s2.appliedBatches.contains("race2") && !s2.appliedBatches.contains("b4"))
    val state2 = t.read().as[(String, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(state2.get("z") === Some((1L, "z@1")) && !state2.contains("y"))
  }

  test("OCC: rebucket re-runs from the fresh snapshot when an ingest " +
      "commit interleaves") {
    val root = Files.createTempDirectory("laketbl-occ-rebucket").toString
    val t = LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"), 2)
    val t2 = LakeTable.open(spark, root)
    t.merge(('a' to 'f').map(k => (k.toString, 1L, s"$k@1")).toDF("k", "wv", "v"), "b1")
    var fired = false
    t.onBeforeCommit = () => if (!fired) {
      fired = true
      t2.merge(Seq(("new", 5L, "n@5")).toDF("k", "wv", "v"), "race")
    }
    try t.rebucket(8) finally t.onBeforeCommit = () => ()
    assert(fired)
    val s = t.snapshot()
    assert(s.numBuckets === 8)
    // the re-run saw the raced row — nothing lost by the full retry
    val state = t.read().as[(String, Long, String)].collect().map(r => r._1 -> r._3).toMap
    assert(state("new") === "n@5" && state.size === 7)
    assert(s.rowCount === 7L)
  }

  test("merge-on-read layer debt is bounded: a hot bucket past maxLayers " +
      "auto-compacts, and read parity holds throughout") {
    val root = Files.createTempDirectory("laketbl-layers").toString
    // ONE bucket → every merge lands on the same (hot) bucket
    val t = LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"),
      numBuckets = 1, maxLayers = 4)
    val cow = newTable()
    (1 to 50).foreach { i =>
      val df = Seq((s"k${i % 7}", i.toLong, s"v$i")).toDF("k", "wv", "v")
      t.merge(df, s"b$i", mor = true, txn = Some(("app", i.toLong)))
      cow.merge(df, s"b$i")
      val s = t.snapshot()
      assert(s.bucketLayers.values.forall(_ <= 4),
        s"batch $i: layers ${s.bucketLayers} exceed maxLayers")
      assert(s.bucketFiles.values.map(_.size).sum <= 4 * 8,
        s"batch $i: file count unbounded") // ≤ maxLayers layers × writeFactor subsplit files
    }
    // auto-compactions actually fired (50 single-row merges, bound 4)
    assert(t.snapshot().totals.getOrElse("compactions", 0L) >= 10L)
    def state(x: LakeTable) = x.read().as[(String, Long, String)].collect().sortBy(_._1).toSeq
    assert(state(t) === state(cow))
  }

  test("compaction is maintenance: it consumes no appliedBatches slot and " +
      "rolls into totals only") {
    val root = Files.createTempDirectory("laketbl-compact-slot").toString
    val t = LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"), 4)
    t.merge(Seq(("a", 1L, "a1")).toDF("k", "wv", "v"), "b1", mor = true)
    t.merge(Seq(("a", 2L, "a2")).toDF("k", "wv", "v"), "b2", mor = true)
    assert(t.compact() === 1)
    val s = t.snapshot()
    assert(s.appliedBatches === Seq("b1", "b2")) // replay window untouched
    assert(!s.lineage.keySet.exists(_.startsWith("compact")))
    assert(s.totals("compactions") === 1L)
    assert(s.totals("compacted_buckets") === 1L)
  }

  test("keyed point read prunes to one bucket and equals the full-read filter") {
    val t = newTable(buckets = 8)
    t.merge((0 until 64).map(i => (s"k$i", 1L, s"v$i")).toDF("k", "wv", "v"), "full")
    // a 1-byte split puts every bucket over it: the distributed path
    def distributed[A](f: => A): A =
      LakeTable.withScopedConf(spark, "spark.sql.files.maxPartitionBytes", "1")(f)
    def bothPaths(k: String): Seq[Seq[(String, Long, String)]] =
      Seq(t.read(Map("k" -> k)), distributed(t.read(Map("k" -> k))))
        .map(_.as[(String, Long, String)].collect().toSeq)
    val point = distributed(t.read(Map("k" -> "k7")))
    assert(point.as[(String, Long, String)].collect().toSeq === Seq(("k7", 1L, "v7")))
    // scans exactly one bucket's files (1/8 of the table), a strict subset
    val all = t.snapshot().bucketFiles
    def normalize(p: String) = p.replaceFirst("^file:/+", "/")
    val scanned = point.inputFiles.map(normalize).toSet
    val owning = all.filter { case (_, fs) =>
      fs.map(rel => s"${t.root}/$rel").toSet == scanned }
    assert(owning.size === 1, s"scanned files $scanned not exactly one bucket")
    // the driver path (the default for buckets this small) reads its files
    // at call time: with every OTHER bucket's files moved aside it still
    // answers, so it opened none of them
    val aside = Files.createTempDirectory("laketbl-aside")
    val moved = all.toSeq.filter(_._1 != owning.head._1).flatMap(_._2).map { rel =>
      val from = Paths.get(t.root, rel)
      val to = aside.resolve(rel.replace('/', '_'))
      Files.move(from, to)
      from -> to
    }
    assert(moved.size >= 7)
    try assert(t.read(Map("k" -> "k7")).as[(String, Long, String)].collect().toSeq
      === Seq(("k7", 1L, "v7")))
    finally moved.foreach { case (from, to) => Files.move(to, from) }
    // MOR: a dirty target bucket resolves layers inside the point read
    t.merge(Seq(("k7", 5L, "v7-new"), ("k9", 2L, "v9b")).toDF("k", "wv", "v"),
      "delta", mor = true)
    assert(bothPaths("k7") === Seq.fill(2)(Seq(("k7", 5L, "v7-new"))))
    // equals the unpruned read for every key
    val full = t.read().as[(String, Long, String)].collect().map(r => r._1 -> r).toMap
    Seq("k7", "k9", "k23").foreach { k =>
      assert(bothPaths(k) === Seq.fill(2)(Seq(full(k))))
    }
    assert(bothPaths("missing") === Seq.fill(2)(Nil))
  }

  test("withScopedConf: same-value windows nest; a different value inside an " +
      "open window throws before any conf changes") {
    val key = "spark.graft.test.scoped"
    spark.conf.unset(key)
    LakeTable.withScopedConf(spark, key, "a") {
      LakeTable.withScopedConf(spark, key, "a")(assert(spark.conf.get(key) === "a"))
      assert(spark.conf.get(key) === "a") // the inner exit keeps the outer value
      val e = intercept[IllegalArgumentException](
        LakeTable.withScopedConf(spark, key, "b")(fail("the body must not run")))
      assert(e.getMessage.contains(key))
      assert(spark.conf.get(key) === "a")
    }
    // the refused window took no count: the outer exit restores the unset
    // baseline, and a later window is free to use another value
    assert(spark.conf.getOption(key).isEmpty)
    LakeTable.withScopedConf(spark, key, "b")(assert(spark.conf.get(key) === "b"))
    assert(spark.conf.getOption(key).isEmpty)
  }

  test("logicalRowCount resolves merge-on-read shadowing; rowCount stays stored") {
    val t = newTable(buckets = 2)
    t.merge(Seq(("a", 1L, "a1"), ("b", 1L, "b1")).toDF("k", "wv", "v"), "b1")
    t.merge(Seq(("a", 2L, "a2"), ("c", 1L, "c1")).toDF("k", "wv", "v"), "b2", mor = true)
    val s = t.snapshot()
    assert(s.rowCount === 4L)            // stored: a twice
    assert(t.logicalRowCount() === 3L)   // logical: a resolved once
    assert(t.logicalRowCount() === t.read().count())
    t.compact()
    assert(t.snapshot().rowCount === 3L)
    assert(t.logicalRowCount() === 3L)
  }

  test("time travel: readAt pins a retained version; expired versions fail loudly") {
    val t = newTable(buckets = 4)
    t.merge(Seq(("a", 1L, "a1"), ("b", 1L, "b1")).toDF("k", "wv", "v"), "b1")
    val v1 = t.currentVersion()
    t.merge(Seq(("a", 2L, "a2"), ("c", 1L, "c1")).toDF("k", "wv", "v"), "b2")
    assert(t.readAt(v1).as[(String, Long, String)].collect().sortBy(_._1).toSeq
      === Seq(("a", 1L, "a1"), ("b", 1L, "b1")))
    assert(t.readAt(t.currentVersion()).collect().toSet === t.read().collect().toSet)
    t.expire(keepVersions = 1)
    intercept[IllegalArgumentException] { t.readAt(v1) }
  }

  test("rollback restores a retained version as a NEW head, ledger included, " +
      "and survives a later expire") {
    val t = newTable(buckets = 4)
    t.merge(Seq(("a", 1L, "a1"), ("b", 1L, "b1")).toDF("k", "wv", "v"), "b1",
      txn = Some(("app", 1L)))
    val good = t.currentVersion()
    t.merge(Seq(("a", 2L, "bad"), ("c", 1L, "bad")).toDF("k", "wv", "v"), "b2",
      txn = Some(("app", 2L)))
    val bad = t.currentVersion()
    // restore: new head, content identical to `good`, bad head still readable
    val head = t.rollback(good)
    assert(head === bad + 1)
    assert(t.currentVersion() === head)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, String)].collect().sortBy(_._1).toSeq
    assert(rows(t.read()) === rows(t.readAt(good)))
    assert(rows(t.readAt(bad)) !== rows(t.read()))
    assert(t.snapshot().totals.getOrElse("rollbacks", 0L) === 1L)
    // the LEDGER rolled back too: re-delivering the undone batch re-applies
    assert(t.merge(Seq(("a", 2L, "good2"), ("c", 1L, "good2")).toDF("k", "wv", "v"),
      "b2", txn = Some(("app", 2L))) === 2L)
    assert(rows(t.read()) ===
      Seq(("a", 2L, "good2"), ("b", 1L, "b1"), ("c", 1L, "good2")))
    // expire after rollback: the restored head keeps its (old) data dirs alive
    t.expire(keepVersions = 1)
    assert(rows(t.read()) ===
      Seq(("a", 2L, "good2"), ("b", 1L, "b1"), ("c", 1L, "good2")))
    // no-op and guard-rail paths
    assert(t.rollback(t.currentVersion()) === t.currentVersion())
    intercept[IllegalArgumentException](t.rollback(t.currentVersion() + 1))
    intercept[IllegalArgumentException](t.rollback(good)) // expired above
  }

  test("changelog read: new-or-updated rows between versions, zero-shuffle " +
      "plan, metadata-only bucket pruning, MOR + schema evolution covered") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = newTable(buckets = 8)
    t.merge((0 until 32).map(i => (s"k$i", 1L, s"v$i")).toDF("k", "wv", "v"), "b1")
    val v1 = t.currentVersion()
    // second wave: updates k0 (newer), stale k1 (loses), new key x1 — via a
    // MOR layer so the changelog must resolve layers; plus an evolved column
    val wave2 = Seq(("k0", 5L, "v0b", "e0"), ("k1", 0L, "stale", "ez"), ("x1", 1L, "x1v", "ex"))
      .toDF("k", "wv", "v", "extra")
    t.merge(wave2, "b2", mor = true)
    val v2 = t.currentVersion()
    val changes = t.readChanges(v1, v2)
    // only buckets whose file lists changed are read at all
    val oldFiles = LakeTable.readSnapshot(java.nio.file.Paths.get(t.root), v1).bucketFiles
    val newFiles = t.snapshot().bucketFiles
    val changedBuckets = newFiles.keys.filter(b =>
      newFiles.getOrElse(b, Nil) != oldFiles.getOrElse(b, Nil)).toSet
    val allowed = changedBuckets.flatMap(b =>
      (oldFiles.getOrElse(b, Nil) ++ newFiles.getOrElse(b, Nil)).map(rel => s"${t.root}/$rel"))
    val scanned = changes.inputFiles.map(_.replaceFirst("^file:/+", "/")).toSet
    assert(scanned.subsetOf(allowed), s"changelog read untouched buckets: ${scanned -- allowed}")
    // content: k0 updated + x1 new; stale k1 and untouched keys absent
    val rows = changes.select("k", "wv", "v", "extra")
      .as[(String, Long, String, Option[String])].collect().sortBy(_._1).toSeq
    assert(rows === Seq(("k0", 5L, "v0b", Some("e0")), ("x1", 1L, "x1v", Some("ex"))))
    // the plan moves nothing: no exchange on either side of the anti join —
    // both sides report the same bucket partitioning, and the plan is built
    // here, by the caller, under the session's own confs
    val exec = t.readChanges(v1, v2).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = exec.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s }
    assert(shuffles.isEmpty, s"changelog shuffled:\n${exec.treeString}")
    // no-op range and full-range sanity
    assert(t.readChanges(v2, v2).count() === 0L)
    assert(t.readChanges(0L, v2).count() === t.read().count())
    // stale batch never surfaces as a change
    assert(!t.readChanges(v1, v2).select("k").as[String].collect().contains("k1") ||
      rows.map(_._1) === Seq("k0", "x1"))
  }

  test("changelog read matches null values null-safely: an unchanged row " +
      "with a NULL column never reappears as a change") {
    // null in a NON-key grouping column of the anti-join (v is part of
    // neither keys nor ordering; use a null ordering value via a second
    // order column): schema (k, wv, v) orders by wv only — make v null and
    // key the row normally; the anti-join includes orderCols, so add a row
    // whose ORDER col can't be null (wv BIGINT from tuples). Exercise the
    // null path through a null KEY instead: LakeTable hashes null keys
    // deterministically and LWW groups them.
    val t = newTable(buckets = 2)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val schema2 = StructType.fromDDL("k STRING, wv BIGINT, v STRING")
    def df(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema2)
    t.merge(df(Seq(Row(null, 1L, "null-key"), Row("a", 1L, "a1"), Row("b", 1L, "b1"))), "b1")
    val v1 = t.currentVersion()
    // touch every bucket so NO bucket-diff pruning saves the null row
    t.merge(df(Seq(Row("a", 2L, "a2"), Row("b", 2L, "b2"), Row("c", 1L, "c1"))), "b2")
    val changes = t.readChanges(v1, t.currentVersion())
      .collect().map(r => Option(r.getString(0)))
    // the untouched null-key row must NOT surface as a change
    assert(!changes.contains(None), s"null-key row spuriously changed: ${changes.toSeq}")
    assert(changes.toSet === Set(Some("a"), Some("b"), Some("c")))
  }

  test("rebucket: layout evolution preserves logical state; point reads, " +
      "merges, and changelogs keep working across the boundary") {
    val t = newTable(buckets = 4)
    t.merge((0 until 32).map(i => (s"k$i", 1L, s"v$i")).toDF("k", "wv", "v"), "b1")
    val v1 = t.currentVersion()
    t.merge(Seq(("k3", 2L, "v3b"), ("x1", 1L, "x1v")).toDF("k", "wv", "v"), "b2", mor = true)
    val before = t.read().as[(String, Long, String)].collect().sortBy(_._1).toSeq
    t.rebucket(8)
    val vAfter = t.currentVersion()
    assert(t.snapshot().numBuckets === 8)
    assert(t.snapshot().morBuckets.isEmpty) // debt resolved in the rewrite
    assert(t.read().as[(String, Long, String)].collect().sortBy(_._1).toSeq === before)
    assert(t.snapshot().totals("rebuckets") === 1L)
    // point read picks up the NEW bucket function from the snapshot
    assert(t.read(Map("k" -> "k3")).as[(String, Long, String)].collect().toSeq
      === Seq(("k3", 2L, "v3b")))
    // rebucketing is logically invisible to the changelog...
    assert(t.readChanges(vAfter, vAfter).count() === 0L)
    // ...and a cross-boundary range (different layouts) still reports
    // exactly the logical changes, via the layout-agnostic fallback
    val cross = t.readChanges(v1, vAfter).select("k", "wv", "v")
      .as[(String, Long, String)].collect().sortBy(_._1).toSeq
    assert(cross === Seq(("k3", 2L, "v3b"), ("x1", 1L, "x1v")))
    // merges continue against the new layout
    t.merge(Seq(("k5", 9L, "v5b")).toDF("k", "wv", "v"), "b3")
    assert(t.read(Map("k" -> "k5")).as[(String, Long, String)].collect().toSeq
      === Seq(("k5", 9L, "v5b")))
    assert(t.read().count() === 33L)
  }

  test("merge records counters in lineage, including caller counterCols") {
    import org.apache.spark.sql.functions._
    val t = newTable()
    t.merge(Seq(("a", 1L, "a1"), ("a", 2L, "a2"), ("b", 1L, null: String))
      .toDF("k", "wv", "v"), "b1",
      counterCols = Map("null_values" -> count(when(col("v").isNull, 1))))
    val e = t.snapshot().lineage("b1")
    assert(e.counters("rows_in") === 3L)
    assert(e.counters("upserts") === 2L)   // a dedups in-batch
    assert(e.counters("null_values") === 1L)
  }

  test("single-job MOR merge records the same lineage counters via observed " +
      "metrics (no stats pass)") {
    import org.apache.spark.sql.functions._
    val t = newTable()
    // seed one layer so the MOR merge marks its bucket dirty like a stream would
    t.merge(Seq(("a", 1L, "a0")).toDF("k", "wv", "v"), "b0", mor = true)
    t.merge(Seq(("a", 2L, "a1"), ("a", 3L, "a2"), ("b", 1L, null: String))
      .toDF("k", "wv", "v"), "b1", mor = true,
      counterCols = Map("null_values" -> count(when(col("v").isNull, 1))))
    val e = t.snapshot().lineage("b1")
    assert(e.counters("rows_in") === 3L)
    assert(e.counters("upserts") === 2L)   // distinct keys in batch
    assert(e.counters("null_values") === 1L)
    assert(e.touchedBuckets.nonEmpty)
    // the per-batch lineage matches the classic path exactly
    val classic = newTable()
    classic.merge(Seq(("a", 2L, "a1"), ("a", 3L, "a2"), ("b", 1L, null: String))
      .toDF("k", "wv", "v"), "b1",
      counterCols = Map("null_values" -> count(when(col("v").isNull, 1))))
    assert(classic.snapshot().lineage("b1").counters === e.counters)
  }

  test("colocatedJoin equals the plain join of read()s across join types, " +
      "resolves MOR debt, hides tombstones, and validates layouts") {
    import org.apache.spark.sql.functions.col
    val a = newTable(buckets = 4)
    val bSchema = StructType.fromDDL("key STRING, ver BIGINT, meta STRING, gone BOOLEAN")
    val b = LakeTable.createOrOpen(spark,
      Files.createTempDirectory("laketblB").toString, bSchema,
      keyCols = Seq("key"), orderCols = Seq("ver"), numBuckets = 4,
      tombstoneCol = Some("gone"))
    a.merge((0 until 20).map(i => (s"k$i", 1L, s"v$i")).toDF("k", "wv", "v"), "a1")
    a.merge((0 until 10).map(i => (s"k$i", 2L, s"w$i")).toDF("k", "wv", "v"), "a2", mor = true)
    b.merge((5 until 15).map(i => (s"k$i", 1L, s"m$i", false))
      .toDF("key", "ver", "meta", "gone"), "b1")
    // k5/k6 deleted in B: they must not join
    b.merge(Seq(("k5", 2L, "x", true), ("k6", 2L, "x", true))
      .toDF("key", "ver", "meta", "gone"), "b2", mor = true)
    val aRead = a.read(); val bRead = b.read()
    val expected = aRead.join(bRead, aRead("k") === bRead("key"), "inner")

    val inner = a.colocatedJoin(b).as[(String, Long, String, Long, String, Boolean)]
      .collect().sortBy(_._1)
    // joined keys: k7..k9 (wv=2 winners) and k10..k14 (wv=1) — k5/k6 tombstoned
    assert(inner.map(_._1).toSeq === (7 to 14).map(i => s"k$i").sortBy(identity))
    assert(inner.forall { case (k, wv, v, ver, m, gone) =>
      ver == 1L && m == s"m${k.drop(1)}" && !gone &&
        (if (k.drop(1).toInt < 10) wv == 2L && v.startsWith("w") else wv == 1L)
    })
    assert(expected.count() === 8L)

    val semi = a.colocatedJoin(b, "left_semi")
    assert(semi.columns.toSeq === Seq("k", "wv", "v"))
    assert(semi.as[(String, Long, String)].collect().map(_._1).sorted.toSeq ===
      (7 to 14).map(i => s"k$i").sorted.toSeq)
    val anti = a.colocatedJoin(b, "left_anti")
    assert(anti.count() === 12L) // 20 - 8 joined
    val leftJoin = a.colocatedJoin(b, "left_outer")
    assert(leftJoin.count() === 20L)
    assert(leftJoin.filter(col("meta").isNull).count() === 12L)

    // layout validation fails loudly
    val c8 = LakeTable.createOrOpen(spark,
      Files.createTempDirectory("laketblC").toString, schema,
      keyCols = Seq("k"), orderCols = Seq("wv"), numBuckets = 8)
    intercept[IllegalArgumentException](a.colocatedJoin(c8))
    val typed = LakeTable.createOrOpen(spark,
      Files.createTempDirectory("laketblD").toString,
      StructType.fromDDL("k BIGINT, wv BIGINT, v STRING"),
      keyCols = Seq("k"), orderCols = Seq("wv"), numBuckets = 4)
    intercept[IllegalArgumentException](a.colocatedJoin(typed))
    intercept[IllegalArgumentException](a.colocatedJoin(b, "full_outer"))
  }
}
