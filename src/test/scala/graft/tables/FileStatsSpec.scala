package graft.tables

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType

import graft.SparkTestBase
import graft.tables.dsv2.{LakeBucketScan, LakeBucketSource, LakeCatalog}

/** Planning-time file skipping from per-file column bounds (Iceberg
  * manifest pruning analog): bounds harvested on commit, persisted in the
  * snapshot, honored by the lake scans — and NEVER changing results. */
class FileStatsSpec extends SparkTestBase {

  import spark.implicits._

  private val schema = StructType.fromDDL("k STRING, wv BIGINT, v STRING")

  private def newTable(buckets: Int = 4): LakeTable =
    LakeTable.createOrOpen(spark, Files.createTempDirectory("fstats").toString,
      schema, keyCols = Seq("k"), orderCols = Seq("wv"), numBuckets = buckets)

  // ---------------------------------------------------------------- bounds

  test("string truncation: lower is a prefix, upper strictly dominates") {
    assert(FileStats.truncLower("short") === Some("short"))
    assert(FileStats.truncLower("a" * 40) === Some("a" * 16))
    assert(FileStats.truncUpper("short") === Some("short"))
    val up = FileStats.truncUpper("a" * 40).get
    assert(up === "a" * 15 + "b" && up.compareTo("a" * 40) > 0)
    // un-incrementable prefix: every char at DEL
    assert(FileStats.truncUpper("\u007f" * 40) === None)
    // non-ASCII bounds are dropped, not guessed
    assert(FileStats.truncLower("é" + "x" * 20) === None)
    assert(FileStats.truncUpper("é" + "x" * 20) === None)
  }

  test("mayMatch: conservative evaluator over typed bounds") {
    val fs = FileStats(100L, Map(
      "wv" -> ColStats(Some("10"), Some("20"), Some(0L)),
      "v" -> ColStats(Some("alpha"), Some("delta"), Some(5L)),
      "dead" -> ColStats(None, None, Some(100L)))) // all-null column
    val sch = StructType.fromDDL("k STRING, wv BIGINT, v STRING, dead STRING")
    def m(f: sources.Filter) = FileStats.mayMatch(Array(f), fs, sch)

    assert(m(sources.EqualTo("wv", 15L)) && !m(sources.EqualTo("wv", 9L)) &&
      !m(sources.EqualTo("wv", 21L)))
    assert(m(sources.GreaterThan("wv", 19L)) && !m(sources.GreaterThan("wv", 20L)))
    assert(m(sources.GreaterThanOrEqual("wv", 20L)) && !m(sources.GreaterThanOrEqual("wv", 21L)))
    assert(m(sources.LessThan("wv", 11L)) && !m(sources.LessThan("wv", 10L)))
    assert(m(sources.LessThanOrEqual("wv", 10L)) && !m(sources.LessThanOrEqual("wv", 9L)))
    assert(m(sources.In("wv", Array(1L, 15L))) && !m(sources.In("wv", Array(1L, 25L))))
    assert(m(sources.EqualTo("v", "beta")) && !m(sources.EqualTo("v", "zeta")))
    assert(m(sources.StringStartsWith("v", "be")) && !m(sources.StringStartsWith("v", "x")))
    // null machinery: wv has zero nulls, dead is all null
    assert(!m(sources.IsNull("wv")) && m(sources.IsNotNull("wv")))
    assert(m(sources.IsNull("dead")) && !m(sources.IsNotNull("dead")))
    assert(!m(sources.EqualTo("dead", "x"))) // value predicate on all-null
    // unknown column / missing stats never prune
    assert(m(sources.EqualTo("k", "anything")))
    // boolean composition
    assert(!m(sources.And(sources.EqualTo("wv", 15L), sources.EqualTo("wv", 9L))))
    assert(m(sources.Or(sources.EqualTo("wv", 9L), sources.EqualTo("wv", 15L))))
    // unsupported shapes stay conservative
    assert(m(sources.Not(sources.EqualTo("wv", 15L))))
  }

  test("foldBound: a side dropped in one row group stays dropped — a later " +
      "group must not resurrect an unsound bound") {
    import org.apache.spark.sql.types.StringType
    // block 1's max was unrepresentable (None); block 2 has "m": the file
    // max must be Dropped, not "m" (which wouldn't cover block 1's values)
    val afterDrop = FileStats.foldBound(FileStats.Unset, None, keepMin = false, StringType)
    assert(afterDrop === FileStats.Dropped)
    assert(FileStats.foldBound(afterDrop, Some("m"), keepMin = false, StringType)
      === FileStats.Dropped)
    // the mirror order: a set bound meeting a dropped block also drops
    val set = FileStats.foldBound(FileStats.Unset, Some("m"), keepMin = false, StringType)
    assert(set === FileStats.Set_("m"))
    assert(FileStats.foldBound(set, None, keepMin = false, StringType) === FileStats.Dropped)
    // normal folding still takes the larger max / smaller min
    assert(FileStats.foldBound(set, Some("z"), keepMin = false, StringType)
      === FileStats.Set_("z"))
    assert(FileStats.foldBound(FileStats.Set_("m"), Some("a"), keepMin = true, StringType)
      === FileStats.Set_("a"))
  }

  test("commits harvest per-file bounds into the persisted snapshot") {
    val t = newTable()
    t.merge(Seq(("a", 5L, "a5"), ("b", 7L, "b7"), ("c", 3L, "c3"))
      .toDF("k", "wv", "v"), "b1")
    // re-read from disk: the persisted JSON round-trips the bounds
    val snap = LakeTable.readSnapshot(java.nio.file.Paths.get(t.root), t.currentVersion())
    val live = snap.bucketFiles.values.flatten.toSet
    assert(live.nonEmpty && snap.fileStats.keySet === live)
    // the union of per-file wv ranges covers exactly the data
    val wvs = snap.fileStats.values.flatMap(_.cols.get("wv")).toSeq
    assert(wvs.nonEmpty && wvs.forall(_.nullCount === Some(0L)))
    assert(wvs.flatMap(_.min).map(_.toLong).min === 3L)
    assert(wvs.flatMap(_.max).map(_.toLong).max === 7L)
    // string bounds on the key column too
    val ks = snap.fileStats.values.flatMap(_.cols.get("k")).toSeq
    assert(ks.flatMap(_.min).min === "a" && ks.flatMap(_.max).max === "c")
    // row counts in the stats agree with the maintained bucket counts
    assert(snap.fileStats.values.map(_.rows).sum === snap.rowCount)
  }

  test("timestamp bounds: the ts order column harvests micros bounds and " +
      "prunes time-range reads") {
    val tsSchema = StructType.fromDDL("k STRING, ts TIMESTAMP, v STRING")
    val t = LakeTable.createOrOpen(spark, Files.createTempDirectory("fstats-ts").toString,
      tsSchema, keyCols = Seq("k"), orderCols = Seq("ts"), numBuckets = 4)
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    t.merge((0 until 20).map(i =>
        (s"w1-$i", at(f"2024-01-01 00:00:$i%02d"), s"v$i")).toDF("k", "ts", "v"), "b1")
    t.merge(Seq(("hot", at("2024-06-01 00:00:00"), "hotv")).toDF("k", "ts", "v"), "b2")
    val snap = LakeTable.readSnapshot(java.nio.file.Paths.get(t.root), t.currentVersion())
    val tsBounds = snap.fileStats.values.flatMap(_.cols.get("ts")).toSeq
    assert(tsBounds.nonEmpty && tsBounds.forall(cs => cs.min.isDefined && cs.max.isDefined),
      "ts column harvested no bounds — is the writer emitting INT96 instead of " +
        "annotated TIMESTAMP_MICROS?")
    // the CDC staple: everything after a cutoff — cold buckets' files prune
    val before = LakeBucketScan.statsPrunedFiles.get()
    val got = bucketScanDF(t).filter(col("ts") >= lit(at("2024-05-01 00:00:00")))
      .select("k", "v").as[(String, String)].collect().toSet
    assert(got === Set(("hot", "hotv")))
    assert(LakeBucketScan.statsPrunedFiles.get() - before >= 3)
    // a range inside the cold region stays correct through pruning
    val mid = bucketScanDF(t)
      .filter(col("ts").between(at("2024-01-01 00:00:05"), at("2024-01-01 00:00:07")))
      .select("k").as[String].collect().toSet
    assert(mid === Set("w1-5", "w1-6", "w1-7"))
  }

  // ------------------------------------------------------------- the prune

  /** 20 wave-1 keys (wv 0-19) spread over all buckets, then ONE wave-2 key
    * (wv 100): every bucket untouched by wave 2 keeps files whose max(wv)
    * ≤ 19, so `wv >= 100` must prune them at planning time. */
  private def coldBucketTable(): LakeTable = {
    val t = newTable()
    t.merge((0 until 20).map(i => (s"w1-$i", i.toLong, s"v$i")).toDF("k", "wv", "v"), "b1")
    t.merge(Seq(("hot", 100L, "hot100")).toDF("k", "wv", "v"), "b2")
    t
  }

  private def bucketScanDF(t: LakeTable) =
    spark.read.format(LakeBucketSource.Name)
      .option("root", t.root)
      .option("version", t.currentVersion().toString)
      .option("buckets", t.snapshot().bucketFiles.keys.toSeq.sorted.mkString(","))
      .load()

  test("bucket scan skips cold files at planning time, result unchanged") {
    val t = coldBucketTable()
    val before = LakeBucketScan.statsPrunedFiles.get()
    val got = bucketScanDF(t).filter(col("wv") >= 100L)
      .select("k", "wv", "v").as[(String, Long, String)].collect().toSet
    assert(got === Set(("hot", 100L, "hot100")))
    val pruned = LakeBucketScan.statsPrunedFiles.get() - before
    // every wave-1-only bucket's files skipped; at least the 3 buckets the
    // hot key does not hash into
    assert(pruned >= 3, s"expected cold-bucket files pruned, got $pruned")
  }

  test("estimateStatistics is filter-aware: a selective filter prices only " +
      "the kept files (broadcast decisions see the pruned magnitude)") {
    val t = coldBucketTable()
    val snap = LakeTable.readSnapshot(java.nio.file.Paths.get(t.root), t.currentVersion())
    val buckets = snap.bucketFiles.keys.toSeq.sorted
    def rowsWith(filters: Array[sources.Filter]): Long =
      new LakeBucketScan(t.root, snap, buckets, schema, filters)
        .estimateStatistics().numRows().getAsLong
    val full = rowsWith(Array.empty)
    assert(full === 21L) // 20 wave-1 keys + the hot key
    val filtered = rowsWith(Array(sources.GreaterThanOrEqual("wv", 100L)))
    // only files with max(wv) >= 100 survive: at most the hot bucket's
    // rows, strictly fewer than the table, never zero (upper bound)
    val hotBucketRows = snap.bucketFiles.collect {
      case (b, fs) if fs.exists(rel =>
        snap.fileStats(rel).cols("wv").max.exists(_.toLong >= 100L)) =>
        snap.bucketRows(b)
    }.sum
    assert(filtered >= 1L && filtered <= hotBucketRows && filtered < full)
  }

  test("SQL catalog reads prune files and stay correct vs table.read()") {
    val w = Files.createTempDirectory("fstats-wh").toString
    spark.conf.set("spark.sql.catalog.fscat", classOf[LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.fscat.warehouse", w)
    val t = LakeTable.createOrOpen(spark, s"$w/cold", schema,
      Seq("k"), Seq("wv"), 4)
    t.merge((0 until 20).map(i => (s"w1-$i", i.toLong, s"v$i")).toDF("k", "wv", "v"), "b1")
    t.merge(Seq(("hot", 100L, "hot100")).toDF("k", "wv", "v"), "b2")
    val before = LakeBucketScan.statsPrunedFiles.get()
    val sql = spark.sql("SELECT k, wv, v FROM fscat.cold WHERE wv >= 100")
      .as[(String, Long, String)].collect().toSet
    assert(sql === Set(("hot", 100L, "hot100")))
    assert(LakeBucketScan.statsPrunedFiles.get() - before >= 3)
    // a range INSIDE the cold region reads through pruning correctly too
    val mid = spark.sql("SELECT k, wv, v FROM fscat.cold WHERE wv BETWEEN 5 AND 7")
      .as[(String, Long, String)].collect().toSet
    assert(mid === t.read().filter(col("wv").between(5, 7))
      .as[(String, Long, String)].collect().toSet)
    assert(mid.size === 3)
  }

  test("no pruning where a resolve could need shadowed rows: MOR + tombstones") {
    // merge-on-read: the filtered SQL read must still see key 'a' whose
    // WINNER (wv 100) lives in a layer file while a shadowed version (wv 1)
    // sits in another — file pruning under the fold would be unsound, so
    // it must not happen (and results must be right)
    val w = Files.createTempDirectory("fstats-wh2").toString
    spark.conf.set("spark.sql.catalog.fscat2", classOf[LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.fscat2.warehouse", w)
    val t = LakeTable.createOrOpen(spark, s"$w/mor", schema, Seq("k"), Seq("wv"), 2)
    t.merge(Seq(("a", 1L, "old"), ("b", 1L, "b1")).toDF("k", "wv", "v"), "b1", mor = true)
    t.merge(Seq(("a", 100L, "new")).toDF("k", "wv", "v"), "b2", mor = true)
    val got = spark.sql("SELECT k, wv, v FROM fscat2.mor WHERE wv < 50")
      .as[(String, Long, String)].collect().toSet
    // a's winner has wv=100: filtered out AFTER resolve; b survives. If the
    // old a-file were pruned pre-resolve, ("a", 1, "old") would resurrect.
    assert(got === Set(("b", 1L, "b1")))
  }

  test("schema evolution: files written before a column existed never prune on it") {
    val t = newTable()
    t.merge(Seq(("a", 1L, "a1")).toDF("k", "wv", "v"), "b1")
    // evolve: new nullable column arrives in batch 2 (different bucket set)
    t.merge(Seq(("zzz", 2L, "z2", 7L)).toDF("k", "wv", "v", "extra"), "b2")
    val got = bucketScanDF(t).filter(col("extra") === 7L)
      .select("k", "wv").as[(String, Long)].collect().toSet
    assert(got === Set(("zzz", 2L)))
    // old file has no 'extra' stats -> kept -> reads as null -> filtered
    // above the scan; IsNull must still find it
    val nulls = bucketScanDF(t).filter(col("extra").isNull)
      .select("k").as[String].collect().toSet
    assert(nulls === Set("a"))
  }

  test("a merge that adds a column harvests its bounds in the files that " +
      "introduce it, so a filter on the new column skips them") {
    val t = LakeTable.createOrOpen(spark, Files.createTempDirectory("fstats-evo").toString,
      StructType.fromDDL("k STRING, wv BIGINT"), Seq("k"), Seq("wv"), 4)
    t.merge(Seq(("a", 1L)).toDF("k", "wv"), "b1")
    val before = t.snapshot().bucketFiles.values.flatten.toSet
    t.merge((0 until 20).map(i => (s"n$i", 2L, i.toLong)).toDF("k", "wv", "x"), "b2")
    val snap = LakeTable.readSnapshot(java.nio.file.Paths.get(t.root), t.currentVersion())
    val added = snap.bucketFiles.values.flatten.toSet -- before
    assert(added.nonEmpty)
    added.foreach { rel =>
      val x = snap.fileStats(rel).cols.get("x")
      assert(x.exists(c => c.min.isDefined && c.max.isDefined), s"$rel carries no x bounds")
    }
    // every x is below 20: a filter above that prunes every file the merge
    // wrote, and only files from before the column existed are read
    val prunedBefore = LakeBucketScan.statsPrunedFiles.get()
    assert(bucketScanDF(t).filter(col("x") > 100L).count() === 0L)
    assert(LakeBucketScan.statsPrunedFiles.get() - prunedBefore >= added.size)
  }

  test("compaction and rebucket refresh the bounds they rewrite") {
    val t = newTable()
    t.merge(Seq(("a", 1L, "a1"), ("b", 2L, "b2")).toDF("k", "wv", "v"), "b1", mor = true)
    t.merge(Seq(("a", 50L, "a50")).toDF("k", "wv", "v"), "b2", mor = true)
    t.compact()
    val snap = LakeTable.readSnapshot(java.nio.file.Paths.get(t.root), t.currentVersion())
    assert(snap.fileStats.keySet === snap.bucketFiles.values.flatten.toSet)
    // the compacted bucket's surviving file bounds reflect the RESOLVED
    // state (max wv = 50, the shadowed wv=1 gone from that key)
    val maxWv = snap.fileStats.values.flatMap(_.cols.get("wv")).flatMap(_.max).map(_.toLong).max
    assert(maxWv === 50L)
    t.rebucket(8)
    val snap2 = LakeTable.readSnapshot(java.nio.file.Paths.get(t.root), t.currentVersion())
    assert(snap2.fileStats.nonEmpty &&
      snap2.fileStats.keySet === snap2.bucketFiles.values.flatten.toSet)
  }
}
