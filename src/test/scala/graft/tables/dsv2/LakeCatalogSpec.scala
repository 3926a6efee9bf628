package graft.tables.dsv2

import java.nio.file.Files

import org.apache.spark.sql.types.StructType

import graft.SparkTestBase
import graft.tables.LakeTable

/** SQL catalog over lake tables: reads with full table semantics (LWW
  * resolve + tombstone hiding), time travel, DDL, pushdown, runtime bucket
  * pruning through SQL joins. */
class LakeCatalogSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("lake-warehouse").toString
    spark.conf.set("spark.sql.catalog.lakecat", classOf[LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.lakecat.warehouse", w)
    w
  }

  /** flatten an exception chain's messages (cause-recursive) */
  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))

  private def makeTable(name: String, tombstone: Boolean = false): LakeTable = {
    val ddl = if (tombstone) "k STRING, wv BIGINT, v STRING, deleted BOOLEAN"
    else "k STRING, wv BIGINT, v STRING"
    LakeTable.createOrOpen(spark, s"$warehouse/$name", StructType.fromDDL(ddl),
      Seq("k"), Seq("wv"), 4,
      tombstoneCol = if (tombstone) Some("deleted") else None)
  }

  test("SQL reads resolve merge-on-read layers and match table.read()") {
    val t = makeTable("t1")
    t.merge(Seq(("a", 1L, "a1"), ("b", 1L, "b1")).toDF("k", "wv", "v"), "b1", mor = true)
    t.merge(Seq(("a", 2L, "a2"), ("c", 1L, "c1")).toDF("k", "wv", "v"), "b2", mor = true)
    val sql = spark.sql("SELECT k, wv, v FROM lakecat.t1").collect()
      .map(_.toSeq).toSet
    assert(sql === t.read().collect().map(_.toSeq).toSet)
    assert(sql === Set(Seq("a", 2L, "a2"), Seq("b", 1L, "b1"), Seq("c", 1L, "c1")))
    // aggregates under full column pruning
    assert(spark.sql("SELECT count(*) AS n FROM lakecat.t1").head().getLong(0) === 3L)
  }

  test("tombstoned keys are hidden from SQL exactly as from table.read()") {
    val t = makeTable("t2", tombstone = true)
    def df(rows: (String, Long, String, Boolean)*) = rows.toDF("k", "wv", "v", "deleted")
    t.merge(df(("a", 1L, "a1", false), ("b", 1L, "b1", false)), "b1")
    t.merge(df(("b", 2L, null, true)), "b2", mor = true)
    val ks = spark.sql("SELECT k FROM lakecat.t2").as[String].collect().toSet
    assert(ks === Set("a"))
  }

  test("TIMESTAMP AS OF resolves the last version committed at or before t") {
    val t = makeTable("t_ts")
    t.merge(Seq(("a", 1L, "a1")).toDF("k", "wv", "v"), "b1")
    val v1 = t.currentVersion()
    val root = java.nio.file.Paths.get(warehouse, "t_ts")
    Thread.sleep(5) // v2's wall-clock stamp must land strictly after v1's
    t.merge(Seq(("a", 2L, "a2")).toDF("k", "wv", "v"), "b2")
    val v2 = t.currentVersion()
    val t1 = LakeTable.committedAt(root, v1)
    val t2 = LakeTable.committedAt(root, v2)
    assert(t2 > t1, "commit stamps must increase across commits")
    // timestamp_micros keeps the literal exact (no session-timezone or
    // float-rounding dependence); +500us stays inside the stamp's millisecond
    def asOf(millis: Long): Seq[String] =
      spark.sql("SELECT v FROM lakecat.t_ts TIMESTAMP AS OF " +
        s"timestamp_micros(${millis * 1000 + 500})").as[String].collect().toSeq
    assert(asOf(t1) === Seq("a1")) // exactly at v1's commit
    assert(asOf(t2 - 1) === Seq("a1")) // just before v2
    assert(asOf(t2) === Seq("a2")) // at v2 = head
    assert(asOf(t2 + 60000) === Seq("a2")) // future ts resolves to head
    val e = intercept[Exception](asOf(100L)) // long before the table existed
    assert(messages(e).exists(_.contains("no retained version")))
    // the history metadata table surfaces the same stamps
    val stamps = spark.sql(
      "SELECT version, committed_at FROM lakecat.t_ts.history ORDER BY version")
      .collect().map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert(stamps.keySet === Set(0L, v1, v2))
    assert(stamps(v1) === t1 && stamps(v2) === t2)
  }

  test("VERSION AS OF pins a retained snapshot") {
    val t = makeTable("t3")
    t.merge(Seq(("a", 1L, "a1")).toDF("k", "wv", "v"), "b1")
    val v1 = t.currentVersion()
    t.merge(Seq(("a", 2L, "a2")).toDF("k", "wv", "v"), "b2")
    assert(spark.sql(s"SELECT v FROM lakecat.t3 VERSION AS OF $v1")
      .as[String].collect().toSeq === Seq("a1"))
    assert(spark.sql("SELECT v FROM lakecat.t3").as[String].collect().toSeq === Seq("a2"))
    val e = intercept[Exception](
      spark.sql("SELECT * FROM lakecat.t3 VERSION AS OF 999").collect())
    assert(e.getMessage.contains("not retained"))
  }

  test("CREATE TABLE / SHOW TABLES / DROP TABLE round-trip through SQL DDL") {
    warehouse // force catalog registration
    spark.sql("CREATE TABLE lakecat.ddl_t (k STRING, wv BIGINT, v STRING) " +
      "TBLPROPERTIES ('keys'='k', 'orders'='wv', 'buckets'='4')")
    val t = LakeTable.createOrOpen(spark, s"$warehouse/ddl_t",
      StructType.fromDDL("k STRING, wv BIGINT, v STRING"), Seq("k"), Seq("wv"), 4)
    t.merge(Seq(("x", 1L, "x1")).toDF("k", "wv", "v"), "b1")
    assert(spark.sql("SELECT v FROM lakecat.ddl_t").as[String].head() === "x1")
    assert(spark.sql("SHOW TABLES IN lakecat").select("tableName")
      .as[String].collect().contains("ddl_t"))
    spark.sql("DROP TABLE lakecat.ddl_t")
    assert(!Files.exists(java.nio.file.Paths.get(warehouse, "ddl_t")))
  }

  test("CTAS: CREATE TABLE ... AS SELECT creates and LWW-merges in one statement") {
    warehouse // force catalog registration
    Seq(("a", 2L, "a2"), ("a", 1L, "a1"), ("b", 1L, "b1"))
      .toDF("k", "wv", "v").createOrReplaceTempView("ctas_src")
    spark.sql("CREATE TABLE lakecat.ctas_t " +
      "TBLPROPERTIES ('keys'='k', 'orders'='wv', 'buckets'='4') " +
      "AS SELECT * FROM ctas_src")
    // the CTAS write rides the same exactly-LWW merge as INSERT INTO:
    // the in-batch duplicate for k=a resolves to the max-wv row
    assert(spark.sql("SELECT k, v FROM lakecat.ctas_t ORDER BY k")
      .as[(String, String)].collect().toSeq === Seq(("a", "a2"), ("b", "b1")))
    val t = LakeTable.open(spark, s"$warehouse/ctas_t")
    assert(t.snapshot().keyCols === Seq("k"))
    spark.sql("DROP TABLE lakecat.ctas_t")
  }

  test("identifier segments cannot escape the warehouse; bad key properties fail at CREATE") {
    warehouse // force catalog registration
    // a backtick-quoted `..` must not resolve to the warehouse's parent
    val e = intercept[Exception](spark.sql("DROP TABLE lakecat.`..`"))
    assert(messages(e).exists(m =>
      m.contains("illegal table identifier") || m.contains("TABLE_OR_VIEW_NOT_FOUND")))
    assert(Files.exists(java.nio.file.Paths.get(warehouse))) // nothing deleted
    // a typo'd keys property fails at CREATE, not at first read
    val e2 = intercept[Exception](
      spark.sql("CREATE TABLE lakecat.badt (k STRING, wv BIGINT, v STRING) " +
        "TBLPROPERTIES ('keys'='key', 'orders'='wv')"))
    assert(messages(e2).exists(_.contains("not a column")))
    assert(!Files.exists(java.nio.file.Paths.get(warehouse, "badt")))
  }

  test("filters and projections push to the scan; joins runtime-prune buckets") {
    val t = makeTable("t5")
    t.merge((1 to 100).map(i => (s"k$i", 1L, s"v$i")).toDF("k", "wv", "v"), "b1")
    val df = spark.sql("SELECT v FROM lakecat.t5 WHERE k = 'k7'")
    assert(df.as[String].collect().toSeq === Seq("v7"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema=k,v") || plan.contains("ReadSchema=k, v"),
      s"expected pruned read schema in:\n$plan")
    assert(plan.contains("PushedFilters=[") && plan.contains("EqualTo(k,k7)"),
      s"expected pushed filter in:\n$plan")

    // a selective broadcast join hands its keys to the scan at runtime:
    // result correctness through the pruned path (the pruning itself drops
    // whole buckets' partitions)
    val probeDf = Seq("k3", "k42").toDF("k")
    probeDf.createOrReplaceTempView("probes")
    val joined = spark.sql(
      "SELECT t.k, t.v FROM lakecat.t5 t JOIN probes p ON t.k = p.k")
    assert(joined.collect().map(_.toSeq).toSet ===
      Set(Seq("k3", "v3"), Seq("k42", "v42")))
  }

  test("INSERT INTO executes as an LWW merge: duplicates resolve, state " +
      "matches the typed API, lineage advances") {
    val t = makeTable("t6")
    spark.sql("INSERT INTO lakecat.t6 VALUES ('a', 1, 'a1'), ('b', 1, 'b1')")
    // second insert: a newer 'a' shadows, a stale 'a' loses, 'c' lands
    spark.sql(
      "INSERT INTO lakecat.t6 VALUES ('a', 3, 'a3'), ('a', 0, 'stale'), ('c', 1, 'c1')")
    val got = spark.sql("SELECT k, wv, v FROM lakecat.t6").collect().map(_.toSeq).toSet
    assert(got === Set(Seq("a", 3L, "a3"), Seq("b", 1L, "b1"), Seq("c", 1L, "c1")))
    assert(got === t.read().collect().map(_.toSeq).toSet)
    // each INSERT committed one version through the normal merge path
    assert(t.currentVersion() === 2L)
    // INSERT INTO ... SELECT (the bulk shape) also merges
    spark.sql("SELECT 'd' AS k, CAST(9 AS BIGINT) AS wv, 'd9' AS v")
      .createOrReplaceTempView("t6_src")
    spark.sql("INSERT INTO lakecat.t6 SELECT * FROM t6_src")
    assert(spark.sql("SELECT v FROM lakecat.t6 WHERE k = 'd'")
      .as[String].collect().toSeq === Seq("d9"))
  }

  test("DELETE FROM writes LWW tombstones: keys hide, stale upserts stay " +
      "dead, newer upserts resurrect") {
    val t = makeTable("t8", tombstone = true)
    spark.sql(
      "INSERT INTO lakecat.t8 VALUES ('a', 10, 'a10', false), " +
        "('b', 10, 'b10', false), ('c', 10, 'c10', false)")
    spark.sql("DELETE FROM lakecat.t8 WHERE k = 'a'")
    def keysVisible = spark.sql("SELECT k FROM lakecat.t8").as[String].collect().toSet
    assert(keysVisible === Set("b", "c"))
    assert(t.read().select("k").as[String].collect().toSet === Set("b", "c"))
    // the tombstone is an ORDERED event: a stale upsert (wv 10 < tombstone
    // wv 11) loses; a newer one (wv 20) resurrects the key
    spark.sql("INSERT INTO lakecat.t8 VALUES ('a', 10, 'stale', false)")
    assert(keysVisible === Set("b", "c"))
    spark.sql("INSERT INTO lakecat.t8 VALUES ('a', 20, 'back', false)")
    assert(keysVisible === Set("a", "b", "c"))
    assert(spark.sql("SELECT v FROM lakecat.t8 WHERE k = 'a'")
      .as[String].collect().toSeq === Seq("back"))
    // IN-list deletes; deleting an absent key commits nothing
    val vBefore = t.currentVersion()
    spark.sql("DELETE FROM lakecat.t8 WHERE k IN ('b', 'c')")
    assert(keysVisible === Set("a"))
    spark.sql("DELETE FROM lakecat.t8 WHERE k = 'never-existed'")
    assert(t.currentVersion() === vBefore + 1) // only the IN-delete committed
    // a delete of an already-deleted key is also a no-op
    spark.sql("DELETE FROM lakecat.t8 WHERE k = 'b'")
    assert(t.currentVersion() === vBefore + 1)
  }

  test("DELETE without a tombstone column is rejected; payload-predicate " +
      "deletes route through the row-level path (LakeDmlSpec pins its semantics)") {
    // no tombstone column: rejected at analysis, loudly
    val t9 = makeTable("t9")
    t9.merge(Seq(("a", 1L, "a1")).toDF("k", "wv", "v"), "b1")
    val e1 = intercept[Exception](spark.sql("DELETE FROM lakecat.t9 WHERE k = 'a'"))
    assert(messages(e1).exists(_.contains("tombstone")),
      s"unexpected: ${messages(e1).mkString(" | ")}")
    // a payload predicate can't be a metadata delete, but the delta-based
    // row-level plan handles it: the matched winner is tombstoned
    val t10 = makeTable("t10", tombstone = true)
    spark.sql("INSERT INTO lakecat.t10 VALUES ('a', 1, 'a1', false)")
    spark.sql("DELETE FROM lakecat.t10 WHERE v = 'a1'")
    assert(spark.sql("SELECT k FROM lakecat.t10").as[String].collect().isEmpty)
  }

  test("INSERT OVERWRITE is rejected before any data is touched") {
    val t = makeTable("t7")
    t.merge(Seq(("a", 1L, "a1")).toDF("k", "wv", "v"), "b1")
    val e = intercept[Exception](
      spark.sql("INSERT OVERWRITE lakecat.t7 VALUES ('z', 9, 'z9')"))
    assert(messages(e).exists(m =>
      m.contains("INSERT OVERWRITE is not supported") || m.contains("TableCapability") ||
        m.contains("does not support") || m.contains("truncate")),
      s"unexpected error: ${messages(e).mkString(" | ")}")
    // overwrite rejected BEFORE any data was touched
    assert(spark.sql("SELECT v FROM lakecat.t7 WHERE k = 'a'")
      .as[String].collect().toSeq === Seq("a1"))
  }

  test("a typed table holding a NULL key reads correctly through SQL") {
    val t = makeTable("t12")
    t.merge(Seq((null.asInstanceOf[String], 1L, "n1"), ("a", 1L, "a1"))
      .toDF("k", "wv", "v"), "b1")
    // the key column must resolve NULLABLE (file bounds show a stored null),
    // so IS NULL is not constant-folded away and the row surfaces
    assert(spark.sql("SELECT v FROM lakecat.t12 WHERE k IS NULL")
      .as[String].collect().toSeq === Seq("n1"))
    assert(spark.sql("SELECT count(*) AS n FROM lakecat.t12").head().getLong(0) === 2L)
    // a table with PROVEN non-null keys still declares them required
    val t13 = makeTable("t13")
    t13.merge(Seq(("a", 1L, "a1")).toDF("k", "wv", "v"), "b1")
    assert(!spark.table("lakecat.t13").schema("k").nullable)
    assert(spark.table("lakecat.t12").schema("k").nullable)
  }

  test("ALTER TABLE ADD COLUMNS: metadata-only evolution, old rows read null") {
    val t = makeTable("t11")
    t.merge(Seq(("a", 1L, "a1")).toDF("k", "wv", "v"), "b1")
    spark.sql("ALTER TABLE lakecat.t11 ADD COLUMNS (score DOUBLE, tag STRING)")
    // stored row reads the new columns as null (no file was rewritten)
    val row = spark.sql("SELECT k, v, score, tag FROM lakecat.t11").head()
    assert(row.getString(0) === "a" && row.getString(1) === "a1")
    assert(row.isNullAt(2) && row.isNullAt(3))
    // the evolved schema accepts SQL inserts carrying the new columns
    spark.sql("INSERT INTO lakecat.t11 VALUES ('b', 1, 'b1', 0.5, 'x')")
    assert(spark.sql("SELECT tag FROM lakecat.t11 WHERE k = 'b'")
      .as[String].head() === "x")
    // adding an existing column with a DIFFERENT type fails loudly
    val e = intercept[Exception](
      spark.sql("ALTER TABLE lakecat.t11 ADD COLUMNS (score STRING)"))
    assert(messages(e).exists(m => m.contains("already exists")),
      s"unexpected: ${messages(e).mkString(" | ")}")
    // everything but ADD COLUMNS / DROP COLUMN is rejected
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE lakecat.t11 RENAME COLUMN tag TO label"))
    assert(messages(e2).exists(m => m.contains("unsupported ALTER TABLE")),
      s"unexpected: ${messages(e2).mkString(" | ")}")
  }

  test("ALTER TABLE DROP COLUMN: metadata-only narrowing with resurrection guard") {
    val t = makeTable("t14")
    t.merge(Seq(("a", 1L, "a1")).toDF("k", "wv", "v"), "b1")
    spark.sql("ALTER TABLE lakecat.t14 ADD COLUMNS (tag STRING)")
    spark.sql("INSERT INTO lakecat.t14 VALUES ('b', 1, 'b1', 'x')")
    spark.sql("ALTER TABLE lakecat.t14 DROP COLUMN tag")
    // the column is gone from the SQL schema and reads
    assert(!spark.table("lakecat.t14").columns.contains("tag"))
    assert(spark.sql("SELECT k, v FROM lakecat.t14 ORDER BY k")
      .collect().map(_.getString(1)).toSeq === Seq("a1", "b1"))
    // time travel to the pre-drop version still reads the column's values
    val preDrop = t.currentVersion() - 1
    assert(spark.sql(
      s"SELECT tag FROM lakecat.t14 VERSION AS OF $preDrop WHERE k = 'b'")
      .as[String].head() === "x")
    // re-introducing the dropped name is refused — un-rewritten files still
    // carry values under it (name-based format, no field ids)
    val e = intercept[Exception](
      spark.sql("ALTER TABLE lakecat.t14 ADD COLUMNS (tag STRING)"))
    assert(messages(e).exists(m => m.contains("DROPPED")),
      s"unexpected: ${messages(e).mkString(" | ")}")
    // identity columns refuse to drop
    val e2 = intercept[Exception](spark.sql("ALTER TABLE lakecat.t14 DROP COLUMN k"))
    assert(messages(e2).exists(m => m.contains("key column")),
      s"unexpected: ${messages(e2).mkString(" | ")}")
  }

  test("INSERT sources are pinned only when not provably deterministic") {
    Seq(("a", 1L, "x")).toDF("k", "wv", "v").createOrReplaceTempView("pin_src")
    def plan(sql: String) = spark.sql(sql).queryExecution.analyzed
    // whitelisted shapes merge unpinned: projections, filters, unions and
    // VALUES/file-backed relations with deterministic expressions
    assert(!LakeCatalog.needsPin(plan("SELECT k, wv, v FROM pin_src WHERE wv > 0")))
    assert(!LakeCatalog.needsPin(plan(
      "SELECT k, wv, v FROM pin_src WHERE wv > 0 UNION ALL SELECT k, wv, v FROM pin_src")))
    assert(!LakeCatalog.needsPin(plan("VALUES ('a', 1L, 'x'), ('b', 2L, 'y')")))
    // anything off the whitelist pins — aggregates included: Spark flags
    // first()/collect_list() deterministic although they depend on shuffle
    // fetch order, so shape-level conservatism is the only safe gate
    assert(LakeCatalog.needsPin(plan(
      "SELECT k, max(wv) AS wv, 'x' AS v FROM pin_src GROUP BY k")))
    assert(LakeCatalog.needsPin(plan(
      "SELECT first(k) AS k, max(wv) AS wv FROM pin_src GROUP BY wv % 10")))
    // execution-order-dependent row sets pin: LIMIT/OFFSET/TABLESAMPLE
    assert(LakeCatalog.needsPin(plan("SELECT * FROM pin_src LIMIT 1")))
    assert(LakeCatalog.needsPin(plan("SELECT * FROM pin_src TABLESAMPLE (50 PERCENT)")))
    // non-deterministic expressions pin — including one hiding inside a
    // scalar subquery, which a top-level expression walk never sees
    assert(LakeCatalog.needsPin(plan("SELECT k, wv, v FROM pin_src WHERE rand() > 0.5")))
    assert(LakeCatalog.needsPin(plan(
      "SELECT k, wv + (SELECT CAST(rand() * 10 AS BIGINT)) AS wv, v FROM pin_src")))
  }

  test("INSERT sources from file tables in spark_catalog are pinned; " +
      "path-based file reads are not") {
    def plan(sql: String) = spark.sql(sql).queryExecution.analyzed
    val dir = java.nio.file.Files.createTempDirectory("pincat").toString
    Seq(("a", 1L, "x", 1)).toDF("k", "wv", "v", "p").write.parquet(s"$dir/path_src")
    assert(!LakeCatalog.needsPin(plan(s"SELECT k, wv, v FROM parquet.`$dir/path_src`")))
    try {
      spark.sql(s"CREATE TABLE spark_catalog.default.pin_cat (k STRING, wv BIGINT, v STRING) " +
        s"USING parquet LOCATION '$dir/pin_cat'")
      spark.sql("INSERT INTO spark_catalog.default.pin_cat VALUES ('a', 1, 'x')")
      spark.sql("CREATE TABLE spark_catalog.default.pin_cat_part " +
        "(k STRING, wv BIGINT, v STRING, p INT) USING parquet PARTITIONED BY (p) " +
        s"LOCATION '$dir/pin_cat_part'")
      spark.sql("INSERT INTO spark_catalog.default.pin_cat_part VALUES ('a', 1, 'x', 1)")
      // a catalog table's files can change between the merge's two scans:
      // its file index lists again per execution (partitioned) or is the
      // session's cached index that an INSERT refreshes in place
      assert(LakeCatalog.needsPin(plan(
        "SELECT k, wv, v FROM spark_catalog.default.pin_cat WHERE wv > 0")))
      assert(LakeCatalog.needsPin(plan(
        "SELECT k, wv, v FROM spark_catalog.default.pin_cat_part WHERE p = 1")))
    } finally {
      spark.sql("DROP TABLE IF EXISTS spark_catalog.default.pin_cat")
      spark.sql("DROP TABLE IF EXISTS spark_catalog.default.pin_cat_part")
    }
  }
}
