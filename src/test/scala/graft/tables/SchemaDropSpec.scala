package graft.tables

import java.nio.file.{Files, Path}

import org.apache.spark.sql.types.{StructField, StructType, StringType}

import graft.SparkTestBase

/** ALTER TABLE DROP COLUMN: metadata-only schema narrowing on a name-based
  * format. The dropped name goes on a resurrection-guard ledger (re-adding
  * it would read old values out of un-rewritten files); rebucket rewrites
  * every file and clears the ledger. */
class SchemaDropSpec extends SparkTestBase {

  import spark.implicits._

  private val schema = StructType.fromDDL("k STRING, wv BIGINT, v STRING, tag STRING")

  private def newTable(sortOrder: Seq[String] = Nil): LakeTable =
    LakeTable.createOrOpen(spark, Files.createTempDirectory("drop").toString,
      schema, keyCols = Seq("k"), orderCols = Seq("wv"), numBuckets = 2,
      sortOrder = sortOrder)

  private def dataFiles(t: LakeTable): Set[String] =
    t.snapshot().bucketFiles.values.flatten.toSet

  test("drop is metadata-only: no file touched, values preserved, time travel intact") {
    val t = newTable()
    t.merge(Seq(("a", 1L, "a1", "x"), ("b", 1L, "b1", "y"))
      .toDF("k", "wv", "v", "tag"), "b1")
    val preDrop = t.currentVersion()
    val filesBefore = dataFiles(t)
    t.dropColumns(Seq("tag"))
    assert(dataFiles(t) === filesBefore) // metadata-only
    assert(t.schema.fieldNames.toSeq === Seq("k", "wv", "v"))
    assert(t.read().columns.toSeq === Seq("k", "wv", "v"))
    assert(t.read().collect().map(r => (r.getString(0), r.getString(2))).toSet ===
      Set(("a", "a1"), ("b", "b1")))
    // pre-drop version reads the column with its stored values
    assert(t.readAt(preDrop).select("k", "tag").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet === Set(("a", "x"), ("b", "y")))
    // fileStats scrubbed the dropped column's bounds
    assert(t.snapshot().fileStats.values.forall(st => !st.cols.keySet.exists(_.equalsIgnoreCase("tag"))))
    // idempotent re-drop is a commit-free no-op
    val head = t.currentVersion()
    assert(t.dropColumns(Seq("tag")) === head)
  }

  test("identity columns and unknown names refuse; ledger blocks re-introduction") {
    val t = newTable(sortOrder = Seq("v"))
    t.merge(Seq(("a", 1L, "a1", "x")).toDF("k", "wv", "v", "tag"), "b1")
    assert(intercept[IllegalArgumentException](t.dropColumns(Seq("k")))
      .getMessage.contains("key column"))
    assert(intercept[IllegalArgumentException](t.dropColumns(Seq("wv")))
      .getMessage.contains("order"))
    assert(intercept[IllegalArgumentException](t.dropColumns(Seq("v")))
      .getMessage.contains("sort order"))
    assert(intercept[IllegalArgumentException](t.dropColumns(Seq("nope")))
      .getMessage.contains("no such column"))
    t.dropColumns(Seq("tag"))
    // addColumns refuses the dropped name (case-insensitively)
    assert(intercept[IllegalArgumentException](
      t.addColumns(Seq(StructField("TAG", StringType)))).getMessage.contains("DROPPED"))
    // a merge batch carrying the dropped name refuses BEFORE any write
    val e = intercept[IllegalArgumentException](
      t.merge(Seq(("c", 1L, "c1", "z")).toDF("k", "wv", "v", "tag"), "b2"))
    assert(e.getMessage.contains("DROPPED"))
    // the batch without the column merges fine
    t.merge(Seq(("c", 1L, "c1")).toDF("k", "wv", "v"), "b3")
    assert(t.read().count() === 2L)
  }

  test("tombstone column refuses to drop") {
    val t = LakeTable.createOrOpen(spark,
      Files.createTempDirectory("drop-ts").toString,
      StructType.fromDDL("k STRING, wv BIGINT, v STRING, deleted BOOLEAN"),
      Seq("k"), Seq("wv"), 2, tombstoneCol = Some("deleted"))
    t.merge(Seq(("a", 1L, "a1", false)).toDF("k", "wv", "v", "deleted"), "b1")
    assert(intercept[IllegalArgumentException](t.dropColumns(Seq("deleted")))
      .getMessage.contains("tombstone"))
  }

  test("merge-on-read debt resolves through the narrowed schema") {
    val t = newTable()
    t.merge(Seq(("a", 1L, "a1", "x"), ("b", 1L, "b1", "y"))
      .toDF("k", "wv", "v", "tag"), "b1", mor = true)
    t.merge(Seq(("a", 2L, "a2", "x2")).toDF("k", "wv", "v", "tag"), "b2", mor = true)
    assert(t.snapshot().morBuckets.nonEmpty)
    t.dropColumns(Seq("tag"))
    // dirty buckets LWW-resolve without the column; winners are the newest
    assert(t.read().collect().map(r => (r.getString(0), r.getString(2))).toSet ===
      Set(("a", "a2"), ("b", "b1")))
    // readChanges across the drop boundary aligns the wider old side
    val changes = t.readChanges(1, t.currentVersion())
    assert(changes.columns.toSeq === Seq("k", "wv", "v"))
  }

  test("a compaction or clustering in flight across a DROP COLUMN does not " +
      "republish the dropped column's bounds") {
    def noBoundsOn(t: LakeTable, c: String): Boolean =
      t.snapshot().fileStats.values.forall(st => !st.cols.keySet.exists(_.equalsIgnoreCase(c)))
    Seq[(String, LakeTable => Int)](
      "tag" -> (_.compact()),
      "v" -> (_.cluster(Seq("wv")))).foreach { case (dropped, rewrite) =>
      val t = newTable()
      val t2 = LakeTable.open(spark, t.root)
      t.merge(Seq(("a", 1L, "a1", "x"), ("b", 1L, "b1", "y"))
        .toDF("k", "wv", "v", "tag"), "b1", mor = true)
      t.merge(Seq(("a", 2L, "a2", "x2"), ("b", 2L, "b2", "y2"))
        .toDF("k", "wv", "v", "tag"), "b2", mor = true)
      assert(!noBoundsOn(t, dropped), s"'$dropped' must carry bounds before the drop")
      // the drop lands inside the rewrite's commit window: the rewrite's
      // staged files were harvested through the pre-drop schema, and the
      // drop moves no bucket file list, so the rewrite rebases over it
      var fired = false
      t.onBeforeCommit = () => if (!fired) { fired = true; t2.dropColumns(Seq(dropped)) }
      val rewritten = try rewrite(t) finally t.onBeforeCommit = () => ()
      assert(fired && rewritten > 0)
      val s = t.snapshot()
      assert(s.droppedCols === Seq(dropped))
      assert(s.morBuckets.isEmpty, "the rewrite must have landed on top of the drop")
      assert(noBoundsOn(t, dropped), s"'$dropped' bounds republished: ${s.fileStats}")
    }
  }

  test("rebucket rewrites every file and clears the ledger — name reusable, reads null") {
    val t = newTable()
    t.merge(Seq(("a", 1L, "a1", "x"), ("b", 1L, "b1", "y"))
      .toDF("k", "wv", "v", "tag"), "b1")
    t.dropColumns(Seq("tag"))
    assert(t.snapshot().droppedCols === Seq("tag"))
    t.rebucket(4)
    assert(t.snapshot().droppedCols.isEmpty)
    t.addColumns(Seq(StructField("tag", StringType)))
    // the rewritten files carry no old values: the re-added column is null
    val tags = t.read().select("tag").collect().map(r => Option(r.getString(0)))
    assert(tags.length === 2 && tags.forall(_.isEmpty))
  }

  test("SQL lifecycle through the catalog survives a drop + OCC rebase") {
    val w = Files.createTempDirectory("drop-sql").toString
    spark.conf.set("spark.sql.catalog.dropcat", classOf[graft.tables.dsv2.LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.dropcat.warehouse", w)
    val t = LakeTable.createOrOpen(spark, s"$w/t", schema, Seq("k"), Seq("wv"), 2)
    t.merge(Seq(("a", 1L, "a1", "x")).toDF("k", "wv", "v", "tag"), "b1")
    spark.sql("ALTER TABLE dropcat.t DROP COLUMN tag")
    assert(spark.table("dropcat.t").columns.toSeq === Seq("k", "wv", "v"))
    // post-drop SQL insert matches the narrowed schema and merges
    spark.sql("INSERT INTO dropcat.t VALUES ('b', 1, 'b1')")
    assert(spark.sql("SELECT count(*) AS n FROM dropcat.t").head().getLong(0) === 2L)
  }
}
