package graft.tables.dsv2

import java.nio.file.{Files, Path => JPath, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.tables.{LakeTable, TableSnapshot}

/** SQL CATALOG for lake tables (`TableCatalog` plugin): makes every
  * [[graft.tables.LakeTable]] under a warehouse directory a first-class SQL
  * table —
  *
  * {{{
  *   spark.sql.catalog.lake           = graft.tables.dsv2.LakeCatalog
  *   spark.sql.catalog.lake.warehouse = /data/lake
  *
  *   SELECT * FROM lake.accounts WHERE pubkey = x'…'    -- resolved LWW state
  *   SELECT * FROM lake.accounts VERSION AS OF 7        -- time travel
  *   SELECT * FROM lake.accounts TIMESTAMP AS OF '2026-08-19 10:00:00'
  *                                        -- last version committed <= t
  *   CREATE TABLE lake.t (k STRING, wv BIGINT, v STRING)
  *     TBLPROPERTIES ('keys'='k', 'orders'='wv', 'buckets'='8')
  *     -- optional write-path clustering: 'sort'='c1[,c2…]',
  *     --   'target_file_rows'='N' (ingest keeps files range-sliced)
  *   SHOW TABLES IN lake
  * }}}
  *
  * Reads have full table semantics, not raw-file semantics: merge-on-read
  * buckets are LWW-resolved IN THE SCAN (one task per bucket folds its
  * layers — the same working set a compaction task holds), and tombstoned
  * keys are hidden, exactly like [[graft.tables.LakeTable.read]]. Clean
  * buckets of an upsert-only table stream through Spark's vectorized
  * columnar parquet path untouched. Column pruning, parquet stats pruning
  * of pushed filters (clean buckets only — a row-group pruned under a
  * merge-on-read fold could drop a key's winner and resurrect a shadowed
  * row), snapshot statistics, and runtime (join-driven) bucket pruning all
  * apply.
  *
  * Writes: `INSERT INTO lake.t SELECT …` executes as an exactly-LWW MERGE
  * through the same write path as the typed API (see
  * [[LakeSqlTable.newWriteBuilder]]) — duplicate keys resolve against
  * stored state instead of appending blindly; INSERT OVERWRITE and writes
  * through a `VERSION AS OF` pin are rejected. DDL: CREATE TABLE (with
  * `keys`/`orders`/`buckets`/`tombstone` table properties), DROP TABLE,
  * and RENAME TABLE. Maintenance runs through SQL stored procedures
  * (`CALL lake.system.compact('t')` … — see [[LakeProcedures]]).
  */
final class LakeCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' needs spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  /** identifier segments become path segments — reject anything that could
    * escape the warehouse (`..`) or collapse to it (empty, `.`, separators):
    * a backtick-quoted `..` identifier must not let DROP/RENAME reach
    * directories the catalog does not own */
  private def tableRoot(ident: Identifier): JPath =
    LakeCatalog.resolveRoot(warehouse, (ident.namespace() :+ ident.name()).toSeq)

  private def isTable(p: JPath): Boolean = Files.exists(p.resolve("meta/VERSION"))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = Paths.get(warehouse, namespace: _*)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    val st = Files.list(dir)
    try st.iterator().asScala
      .filter(isTable)
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally st.close()
  }

  override def loadTable(ident: Identifier): Table = {
    val root = tableRoot(ident)
    if (!isTable(root)) {
      metadataParent(ident) match {
        case Some(parent) =>
          return LakeMetadataTables.load(ident, parent, ident.name(), None)
        case None => throw new NoSuchTableException(ident)
      }
    }
    val version = LakeTable.currentVersion(root.toString)
    new LakeSqlTable(ident, root.toString,
      LakeTable.readSnapshot(root, version))
  }

  /** Iceberg-style metadata-table resolution: `lake.t.history` /
    * `lake.t.files` — the identifier's NAMESPACE is a lake table and its
    * NAME one of [[LakeMetadataTables.Names]]. Only consulted when no real
    * table exists at the full path (and [[createTable]] refuses to create
    * one inside a table directory, so nothing can shadow these). */
  private def metadataParent(ident: Identifier): Option[JPath] =
    if (ident.namespace().nonEmpty && LakeMetadataTables.Names(ident.name())) {
      val parent = LakeCatalog.resolveRoot(warehouse, ident.namespace().toSeq)
      if (isTable(parent)) Some(parent) else None
    } else None

  /** SQL time travel: `VERSION AS OF <v>` pins the table to a retained
    * snapshot — the same contract as [[graft.tables.LakeTable.readAt]].
    * A non-numeric version is resolved as a NAMED TAG on the head snapshot
    * (`VERSION AS OF 'release-1'` — Iceberg ref analog; tag names can
    * never be all-digits, so the forms are unambiguous). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = tableRoot(ident)
    val metaParent = if (isTable(root)) None else metadataParent(ident)
    if (!isTable(root) && metaParent.isEmpty) throw new NoSuchTableException(ident)
    val v = version.toLongOption.getOrElse {
      val target = metaParent.getOrElse(root)
      val head = LakeTable.readSnapshot(target,
        LakeTable.currentVersion(target.toString))
      head.tags.getOrElse(version, throw new IllegalArgumentException(
        s"VERSION AS OF '$version': no such tag on ${ident.name()} (tags: " +
          s"${head.tags.keys.toSeq.sorted.mkString(", ")})"))
    }
    metaParent match {
      case Some(parent) =>
        require(Files.exists(parent.resolve(s"meta/v$v.json")),
          s"version $v of ${ident.namespace().mkString(".")} is not retained " +
            "(expired or never existed)")
        LakeMetadataTables.load(ident, parent, ident.name(), Some(v))
      case None =>
        require(Files.exists(root.resolve(s"meta/v$v.json")),
          s"version $v of ${ident.name()} is not retained (expired or never existed)")
        new LakeSqlTable(ident, root.toString, LakeTable.readSnapshot(root, v),
          timeTravelPin = true)
    }
  }

  /** SQL time travel by wall-clock: `TIMESTAMP AS OF <t>` resolves to the
    * LAST retained version whose commit stamp is at or before `t` (Spark
    * hands the literal as epoch MICROseconds, session-timezone-resolved),
    * then pins it exactly like `VERSION AS OF`. Versions expired by
    * retention cannot be resolved — same contract as the version form. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = tableRoot(ident)
    val metaParent = if (isTable(root)) None else metadataParent(ident)
    if (!isTable(root) && metaParent.isEmpty) throw new NoSuchTableException(ident)
    val target = metaParent.getOrElse(root)
    val tsMillis = Math.floorDiv(timestamp, 1000L)
    // ONE shared resolution with the stream's startingTimestamp (head-
    // capped last-commit-at-or-before, LakeCdfSource.versionAtOrBefore):
    // the "TIMESTAMP AS OF t + startingTimestamp=t tail" invariant
    // requires the two anchors to agree exactly
    val v = LakeCdfSource.versionAtOrBefore(target.toString, tsMillis)
      .getOrElse {
        val earliest = LakeMetadataTables.retainedVersions(target).minOption
          .map(v => java.time.Instant.ofEpochMilli(LakeTable.committedAt(target, v)))
        throw new IllegalArgumentException(
          s"TIMESTAMP AS OF: no retained version of ${ident.name()} was committed " +
            s"at or before ${java.time.Instant.ofEpochMilli(tsMillis)}" +
            earliest.fold("")(e => s" (earliest retained commit: $e)") +
            "; older snapshots may have been expired")
      }
    loadTable(ident, v.toString)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    val root = tableRoot(ident)
    if (isTable(root)) throw new TableAlreadyExistsException(ident)
    // never create a table INSIDE another table's directory: it would write
    // foreign files into that table's root and (for names like 'history')
    // shadow the metadata-table resolution
    (1 until (ident.namespace().length + 1)).foreach { n =>
      val ancestor = LakeCatalog.resolveRoot(warehouse,
        (ident.namespace() :+ ident.name()).take(n).toSeq)
      require(!isTable(ancestor),
        s"cannot create ${ident.name()}: '${ancestor.getFileName}' along its " +
          "namespace path is an existing lake table — tables cannot nest")
    }
    require(partitions.isEmpty,
      "PARTITIONED BY is not supported: lake tables hash-bucket on their key " +
        "columns — set TBLPROPERTIES('buckets'='N') instead")
    val props = properties.asScala
    val keys = props.getOrElse("keys",
      throw new IllegalArgumentException(
        "CREATE TABLE needs TBLPROPERTIES('keys'='k1[,k2…]') — lake tables " +
          "are keyed LWW upsert tables")).split(',').map(_.trim).toSeq
    val orders = props.getOrElse("orders",
      throw new IllegalArgumentException(
        "CREATE TABLE needs TBLPROPERTIES('orders'='o1[,o2…]') — the LWW " +
          "ordering columns")).split(',').map(_.trim).toSeq
    val buckets = props.get("buckets").map(_.toInt).getOrElse(16)
    val tombstone = props.get("tombstone")
    // write-path clustering: 'sort' = task-local sort columns on every
    // bucket write; 'target_file_rows' = per-file row cap (the two together
    // keep ingested files range-sliced — see LakeTable.bucketWriter)
    val sortOrder = props.get("sort")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val targetFileRows = props.get("target_file_rows").map(_.toLong).getOrElse(0L)
    (keys ++ orders).foreach { c =>
      require(schema.fieldNames.contains(c),
        s"'$c' (from TBLPROPERTIES keys/orders) is not a column of the " +
          s"table schema [${schema.fieldNames.mkString(", ")}]")
    }
    LakeTable.createOrOpen(SparkSession.active, root.toString, schema,
      keys, orders, buckets, tombstoneCol = tombstone,
      sortOrder = sortOrder, targetFileRows = targetFileRows)
    loadTable(ident)
  }

  /** `ALTER TABLE lake.t ADD COLUMNS (c TYPE, …)` / `DROP COLUMN c` —
    * explicit schema evolution as metadata-only commits
    * ([[graft.tables.LakeTable.addColumns]] /
    * [[graft.tables.LakeTable.dropColumns]]): added columns must be
    * nullable (stored rows read them as null), top-level, and append at the
    * end — the same contract the implicit merge-batch evolution path keeps;
    * dropped columns must not be table identity (keys / order / tombstone /
    * sort order) and their names go on the resurrection-guard ledger. Every
    * other ALTER (rename/retype/reposition, property changes) is rejected:
    * a keyed LWW table's identity and history hang off its columns, and the
    * name-based format has no field-id indirection to rename through. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = tableRoot(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    val (dropChanges, rest) = changes.partition(_.isInstanceOf[TableChange.DeleteColumn])
    val adds = rest.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          s"nested ADD COLUMN '${a.fieldNames().mkString(".")}' is not supported")
        require(a.isNullable,
          s"ADD COLUMN '${a.fieldNames().head}' must be nullable — stored rows " +
            "predate the column and read it as NULL")
        require(a.position() == null,
          "ADD COLUMN … FIRST/AFTER is not supported: new columns append at the end")
        require(a.defaultValue() == null,
          s"ADD COLUMN '${a.fieldNames().head}' … DEFAULT is not supported — " +
            "stored rows read an added column as NULL; accepting a default " +
            "and silently dropping it would be worse")
        StructField(a.fieldNames().head, a.dataType(), nullable = true)
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change $other — only ADD COLUMNS / DROP COLUMN " +
          "evolve a lake table (rows evolve through merges; layout through rebucket)")
    }
    val drops = dropChanges.map { case d: TableChange.DeleteColumn =>
      require(d.fieldNames().length == 1,
        s"nested DROP COLUMN '${d.fieldNames().mkString(".")}' is not supported")
      d.fieldNames().head
    }
    val t = LakeTable.open(SparkSession.active, root.toString)
    if (adds.nonEmpty) t.addColumns(adds)
    if (drops.nonEmpty) t.dropColumns(drops)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = tableRoot(ident)
    if (!isTable(root)) false
    else { org.apache.commons.io.FileUtils.deleteDirectory(root.toFile); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableRoot(oldIdent)
    val to = tableRoot(newIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(to.getParent)
    Files.move(from, to)
  }

  // ------------------------------------------- CALL lake.system.<proc>(…)

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    LakeProcedures.load(warehouse, ident).getOrElse(
      throw new RuntimeException(
        s"unknown procedure ${ident.namespace().mkString(".")}.${ident.name()} " +
          s"— available: ${LakeProcedures.list(LakeProcedures.Namespace)
            .map(_.name()).mkString(", ")} (namespace 'system')"))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    LakeProcedures.list(namespace)
}

/** One lake table pinned to one snapshot, exposed to SQL with the LOGICAL
  * schema (no bucket column) and full read semantics. */
final class LakeSqlTable(ident: Identifier, root: String, snap: TableSnapshot,
    timeTravelPin: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  override def name(): String = s"${ident.name()}@v${snap.version}"

  /** SQL-facing schema: key and ORDER columns are declared REQUIRED — the
    * Iceberg identifier-field contract (iceberg-format: identifier fields
    * "must be required") — but only when the snapshot's file bounds PROVE
    * the table stores no null in them (see [[LakeSqlTable.sqlSchema]]).
    * Spark's row-level DML refuses nullable row IDs, and declaring them
    * buys enforcement for free: ANSI store assignment (the default) wraps
    * SQL INSERT sources in AssertNotNull, so a null key/ordering value
    * fails the statement loudly instead of landing. The TYPED API still
    * tolerates null keys (they fold as one LWW group); a table carrying
    * them reads correctly through SQL (nullable schema) and belongs to the
    * typed surface for writes, not SQL DML.
    *
    * Computed ONCE per table handle (Spark calls schema() many times during
    * resolution, and every scan builder needs it): the per-file null-count
    * probes are immutable for a pinned snapshot. */
  private lazy val sqlFacingSchema: StructType = LakeSqlTable.sqlSchema(snap)
  override def schema(): StructType = sqlFacingSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE)

  /** SQL DML-write: `INSERT INTO lake.t SELECT …` is an exactly-LWW MERGE —
    * the V1Write bridge hands the whole source DataFrame to
    * [[graft.tables.LakeTable.merge]] on the driver, so a SQL insert takes
    * the SAME write path (stats pass, auto-salt, SPJ/classic/MOR routing,
    * snapshot commit) as the typed API; duplicate keys LWW-resolve against
    * stored state instead of blindly appending. INSERT OVERWRITE is not a
    * keyed-table operation and is rejected (no TRUNCATE/OVERWRITE
    * capability declared, and the relation double-checks). */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  overwrite: Boolean): Unit = {
                require(!overwrite,
                  "INSERT OVERWRITE is not supported on a keyed LWW table — " +
                    "write through INSERT INTO (keyed merge) or the typed API")
                // a handle pinned by VERSION AS OF must not write at all;
                // an unpinned handle merges against the CURRENT table (the
                // merge's own OCC handles racing writers) even if versions
                // advanced between SQL analysis and execution
                require(!timeTravelPin,
                  s"cannot INSERT into ${ident.name()} VERSION AS OF ${snap.version} — " +
                    "writes only target the current table")
                val table = LakeTable.open(data.sparkSession, root)
                // merge() evaluates its batch twice (stats pass + write) and
                // requires determinism. A PROVABLY deterministic source
                // merges directly — the same two-scan contract as the typed
                // API, sparing the eager materialization job and its memory.
                // Anything else (rand() ordering, TABLESAMPLE, LIMIT over
                // unordered input — anywhere in the plan, subqueries
                // included) is PINNED first so both scans read identical
                // rows.
                val batchId =
                  s"sql-insert-${java.lang.Long.toHexString(System.nanoTime())}"
                if (!LakeCatalog.needsPin(data.queryExecution.analyzed))
                  table.merge(data, batchId)
                else {
                  val pinned = data.localCheckpoint(true)
                  try table.merge(pinned, batchId)
                  finally pinned.unpersist()
                }
              }
            }
        }
    }

  /** surfaced so EXPLAIN/DESCRIBE shows the layout SQL users join on */
  override def partitioning(): Array[Transform] =
    Array(Expressions.bucket(snap.numBuckets, snap.keyCols: _*))

  override def properties(): JMap[String, String] =
    (Map(
      "keys" -> snap.keyCols.mkString(","),
      "orders" -> snap.orderCols.mkString(","),
      "buckets" -> snap.numBuckets.toString,
      "version" -> snap.version.toString) ++
      (if (snap.sortOrder.nonEmpty) Map("sort" -> snap.sortOrder.mkString(",")) else Map.empty) ++
      (if (snap.targetFileRows > 0L)
        Map("target_file_rows" -> snap.targetFileRows.toString) else Map.empty)
    ).asJava

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new LakeSqlScanBuilder(root, snap, sqlFacingSchema)

  // ------------------------------------- SQL UPDATE / MERGE INTO / DELETE

  /** Row-level SQL DML through the delta-based API — see
    * [[LakeRowLevelOperation]] for the full semantics (ordered CDC events
    * through the exactly-LWW merge). Key-equality DELETEs still short-cut
    * to [[deleteWhere]] via Spark's metadata-only-delete optimizer rule;
    * everything else (predicate deletes, UPDATE, MERGE INTO) plans a
    * row-level scan + delta write. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(!timeTravelPin,
      s"cannot ${info.command} ${ident.name()} VERSION AS OF ${snap.version} — " +
        "writes only target the current table")
    if (info.command == org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE)
      require(snap.tombstoneCol.isDefined,
        s"DELETE on ${ident.name()} needs a tombstone column " +
          "(TBLPROPERTIES('tombstone'='col')) — deletes are CDC events in the " +
          "table's LWW ordering, not physical erases")
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build(): org.apache.spark.sql.connector.write.RowLevelOperation =
        new LakeRowLevelOperation(root, snap, info.command, sqlFacingSchema)
    }
  }

  // ------------------------------------------------------ SQL DELETE FROM

  /** SQL DML-delete: `DELETE FROM lake.t WHERE key = …` writes CDC
    * TOMBSTONES through the normal LWW merge — the delete is an event in
    * the table's ordering, not a physical erase, so out-of-order stream
    * arrivals keep converging (a stale upsert still loses to it; a
    * genuinely newer upsert resurrects the key, exactly the
    * [[graft.tables.TableSnapshot.tombstoneCol]] contract).
    *
    * Supported exactly where the translation is sound, rejected loudly
    * otherwise (Spark then refuses the DELETE instead of silently doing
    * the wrong thing):
    *  - the table has a tombstone column (a delete needs a place to live);
    *  - the WHERE clause conjuncts are all `key = v` / `key IN (…)` on the
    *    single key column (bucket-prunable point semantics — a predicate
    *    delete over payload columns is a scan-and-rewrite, not a keyed
    *    CDC event);
    *  - the LAST order column is integral, so the tombstone can be ordered
    *    immediately after the observed winner (winner's tuple with its
    *    last element + 1 — a writer beyond that ordering still wins; a
    *    winner already AT the type's maximum fails loudly rather than
    *    wrapping). The tombstone CONSUMES that ordering slot: a producer
    *    that later emits exactly the same tuple ties it, and LWW tie
    *    resolution is unspecified — streams that can emit dense
    *    same-timestamp sequences should delete through the CDC stream
    *    with an ordering slot they own.
    * Deleting an absent (or already-deleted) key is a no-op that commits
    * nothing. */
  private def deletableKeys(filters: Array[sources.Filter]): Option[Seq[Any]] = {
    if (snap.tombstoneCol.isEmpty || snap.keyCols.size != 1 || filters.isEmpty)
      return None
    // bumping an order column that IS the key would tombstone a different
    // logical row — route to the row-level path, which rejects it loudly
    if (snap.keyCols.contains(snap.orderCols.last)) return None
    val schema = StructType.fromDDL(snap.schemaDdl)
    val lastOrdIntegral = schema(snap.orderCols.last).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (!lastOrdIntegral) return None
    val key = snap.keyCols.head
    // set ops need VALUE equality; Array[Byte] (a BINARY key) compares by
    // reference, so normalize through an immutable view and map back
    def norm(v: Any): Any = v match {
      case a: Array[Byte] => a.toSeq
      case x => x
    }
    val originals = scala.collection.mutable.LinkedHashMap[Any, Any]()
    // conjunctive key sets; any untranslatable conjunct rejects the DELETE
    val sets = filters.map {
      case sources.EqualTo(a, v) if a == key && v != null =>
        originals.getOrElseUpdate(norm(v), v); Set(norm(v))
      case sources.In(a, vs) if a == key =>
        vs.filter(_ != null).map { v =>
          originals.getOrElseUpdate(norm(v), v); norm(v)
        }.toSet
      case _ => return None
    }
    Some(sets.reduce(_ intersect _).toSeq.map(originals))
  }

  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    !timeTravelPin && deletableKeys(filters).isDefined

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    require(!timeTravelPin,
      s"cannot DELETE from ${ident.name()} VERSION AS OF ${snap.version}")
    val keys = deletableKeys(filters).getOrElse(throw new UnsupportedOperationException(
      "DELETE on a lake table needs a tombstone column and a WHERE clause of " +
        "key equality / IN conjuncts (with an integral last order column); " +
        s"got [${filters.mkString(", ")}]"))
    if (keys.isEmpty) return
    val spark = SparkSession.active
    val table = LakeTable.open(spark, root)
    val schema = StructType.fromDDL(snap.schemaDdl)
    val lastOrd = snap.orderCols.last
    val ordIdx = schema.fieldIndex(lastOrd)
    val tombIdx = schema.fieldIndex(snap.tombstoneCol.get)
    // visible winners, ONE bucket-pruned scan per distinct bucket, COLLECTED:
    // a keyed DELETE's key list is small by construction (bulk retirement
    // belongs in the CDC stream), and a literal tombstone batch is
    // deterministic across merge's two scans with no re-execution of the
    // point reads. Absent / already-deleted keys simply have no winner row
    // and the DELETE commits nothing.
    val winners = table.readKeys(keys).collect()
    if (winners.isEmpty) return
    val tombstones = winners.map { row =>
      val vals = row.toSeq.toArray
      // ordered just past the winner (shared slot-after rule; integrality
      // was pre-checked by canDeleteWhere, type-max still fails loudly)
      vals(ordIdx) = OrderBump.bump(vals(ordIdx), schema(ordIdx).dataType,
        lastOrd, s"a DELETE of $row")
      vals(tombIdx) = java.lang.Boolean.TRUE
      org.apache.spark.sql.Row(vals: _*)
    }
    table.merge(
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          java.util.Arrays.asList(tombstones: _*)), schema),
      s"sql-delete-${java.lang.Long.toHexString(System.nanoTime())}")
  }

}

object LakeCatalog {
  /** True iff an INSERT source plan must be PINNED (materialized once)
    * before the merge's two scans. The unpinned fast path is a WHITELIST,
    * not a blacklist: only plans built purely from relations, projections,
    * filters, unions and aliases — with every expression deterministic,
    * subqueries included — skip the pin. Everything else pins, because
    * Spark's `deterministic` flag is about expression purity, not
    * re-execution stability: `first()`/`collect_list()`/`row_number()`
    * ties are flagged deterministic yet depend on shuffle fetch order,
    * and a batch whose KEY SET differs between the merge's stats scan and
    * write scan would replace buckets the stats pass never saw — silent
    * row loss, the exact hazard the pin exists to prevent. A
    * project/filter/union over deterministic relations has a
    * row-set fully determined by the stored data, so the two scans agree. */
  private[dsv2] def needsPin(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    def safeNode(p: LogicalPlan): Boolean = p match {
      case _: Project | _: Filter | _: Union | _: SubqueryAlias | _: View => true
      case _: LocalRelation | _: OneRowRelation | _: Range => true
      // file relations pin their file listing in the relation object; lake
      // tables pin their snapshot at analysis. Anything else (JDBC, foreign
      // connectors, streaming) may serve different rows per scan — pin.
      case lr: LogicalRelation => lr.relation.isInstanceOf[HadoopFsRelation]
      case r: DataSourceV2Relation => r.table.isInstanceOf[LakeSqlTable]
      case _ => false
    }
    val unsafeShape =
      plan.collectWithSubqueries { case p if !safeNode(p) => p }.nonEmpty
    def nondet = plan.collectWithSubqueries {
      case p if p.expressions.exists(_.exists(!_.deterministic)) => p
    }.nonEmpty
    unsafeShape || nondet
  }

  /** identifier segments become path segments — reject anything that could
    * escape the warehouse (`..`) or collapse to it (empty, `.`, separators):
    * a backtick-quoted `..` identifier must not let DROP/RENAME/CALL reach
    * directories the catalog does not own */
  private[dsv2] def resolveRoot(warehouse: String, segs: Seq[String]): JPath = {
    segs.foreach { s =>
      require(s.nonEmpty && s != "." && s != ".." &&
        !s.contains('/') && !s.contains('\\'),
        s"illegal table identifier segment '$s'")
    }
    Paths.get(warehouse, segs: _*)
  }
}

object LakeSqlTable {
  /** see [[LakeSqlTable.schema]] — key/order columns become REQUIRED, but
    * only when the table's own file bounds PROVE no stored null: every data
    * file carries harvested stats ([[graft.tables.FileStats]]) with
    * `nullCount == 0` for the column. Anything short of proof (a file
    * without stats, an unsupported-type key such as BINARY, a genuine null)
    * keeps the column nullable — declaring non-null over data that holds
    * null is SILENTLY wrong (the optimizer folds `k IS NULL` to false and
    * codegen elides null checks), while staying nullable merely makes
    * Spark's row-level DML reject the table loudly at analysis (nullable
    * row IDs), pointing null-keyed tables to the typed API that supports
    * them. Cost: one in-memory map lookup per (file × id-column) at
    * analysis time — metadata scale, no I/O. */
  private[dsv2] def sqlSchema(snap: TableSnapshot): StructType = {
    val ids = (snap.keyCols ++ snap.orderCols).toSet
    val allFiles = snap.bucketFiles.values.flatten.toSeq
    def provablyNonNull(c: String): Boolean = allFiles.forall(rel =>
      snap.fileStats.get(rel).exists(_.cols.get(c).exists(_.nullCount.contains(0L))))
    StructType(StructType.fromDDL(snap.schemaDdl).fields.map(f =>
      if (ids.contains(f.name) && provablyNonNull(f.name)) f.copy(nullable = false)
      else f))
  }
}

final class LakeSqlScanBuilder(root: String, snap: TableSnapshot,
    sqlFacingSchema: StructType) extends ScanBuilder with LakePushdownSupport {

  // mirrors the table's SQL-facing nullability so scan output attributes
  // line up with the relation's (row-level DML resolves row IDs there);
  // passed in pre-computed — see LakeSqlTable.sqlFacingSchema
  protected val dataSchema = sqlFacingSchema

  override def build(): Scan =
    new LakeSqlScan(root, snap, requiredData, pushedFilters())
}

final class LakeSqlScan(root: String, snap: TableSnapshot,
    readDataSchema: StructType, pushedFilters: Array[sources.Filter])
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering {

  private val dataSchema = StructType.fromDDL(snap.schemaDdl)

  /** columns the per-task resolve needs beyond the projection: LWW tuple
    * for merge-on-read folds, tombstone flag for visibility */
  private def resolveSchema: StructType = {
    val want = (readDataSchema.fieldNames ++ snap.keyCols ++ snap.orderCols ++
      snap.tombstoneCol).distinct.toSet
    StructType(dataSchema.fields.filter(f => want.contains(f.name)))
  }

  override def readSchema(): StructType = readDataSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"LakeSqlScan(root=$root, v=${snap.version}, " +
      s"ReadSchema=${readDataSchema.fieldNames.mkString(",")}, " +
      s"PushedFilters=[${pushedFilters.mkString(", ")}])"

  override def estimateStatistics(): Statistics = {
    val kept = runtimeKept
    val rows = snap.bucketRows.collect {
      case (b, n) if kept.forall(_.contains(b)) => estimatedBucketRows(b, n) }.sum
    LakeBucketSource.snapshotStats(rows, readSchema())
  }

  /** Filter-aware row estimate mirroring [[statsKeep]] (clean non-tombstone
    * buckets only): stored rows of the files the planner keeps + full
    * residual for unbounded files — an upper bound on matching rows, so a
    * selective filter auto-broadcasts without ever under-pricing. */
  private def estimatedBucketRows(b: Int, total: Long): Long = {
    val files = snap.bucketFiles.getOrElse(b, Nil)
    if (pushedFilters.isEmpty || files.isEmpty ||
      snap.morBuckets.contains(b) || snap.tombstoneCol.isDefined) return total
    var known = 0L; var kept = 0L
    files.foreach { rel =>
      snap.fileStats.get(rel).foreach { fs =>
        known += fs.rows
        if (graft.tables.FileStats.mayMatch(pushedFilters, fs, dataSchema)) kept += fs.rows
      }
    }
    kept + math.max(0L, total - known)
  }

  /** runtime (join-driven) bucket pruning, same rule as the bucket scan:
    * an In-filter on a single-key table's key hashes to the touched bucket
    * set. No partitioning is reported here, so pruned buckets simply drop
    * out of the partition list. */
  @volatile private var runtimeKept: Option[Set[Int]] = None

  override def filterAttributes(): Array[NamedReference] =
    if (snap.keyCols.size == 1) Array(Expressions.column(snap.keyCols.head))
    else Array.empty

  override def filter(filters: Array[sources.Filter]): Unit = {
    val key = snap.keyCols.head
    LakeBucketSource.runtimeKeptBuckets(filters, key,
      dataSchema(key).dataType, snap.numBuckets).foreach { kept =>
      runtimeKept = Some(kept)
      LakeBucketScan.runtimePrunes.incrementAndGet()
    }
  }

  /** Planning-time file skipping from the snapshot's per-file bounds,
    * restricted to buckets the reader factory serves through the PLAIN
    * columnar path WITH pushed filters (clean bucket, no tombstone column)
    * — the same condition under which row-group pruning already applies,
    * so file-level pruning can never skip a row an in-task LWW/tombstone
    * resolve would have needed. */
  private def statsKeep(b: Int, rel: String): Boolean =
    pushedFilters.isEmpty || snap.morBuckets.contains(b) ||
      snap.tombstoneCol.isDefined ||
      snap.fileStats.get(rel).forall(
        graft.tables.FileStats.mayMatch(pushedFilters, _, dataSchema))

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val keep: Int => Boolean = b => runtimeKept.forall(_.contains(b))
    val buckets = snap.bucketFiles.keys.toSeq.sorted
      .filter(b => keep(b) && snap.bucketFiles(b).nonEmpty)
    // one bounds evaluation per file: O(files × filters) once, not per use
    val keptFiles: Map[Int, Seq[String]] = buckets.map(b =>
      b -> snap.bucketFiles(b).filter(statsKeep(b, _))).toMap
    val allRel = buckets.flatMap(keptFiles(_)).distinct
    LakeBucketScan.statsPrunedFiles.addAndGet(
      buckets.map(snap.bucketFiles(_).size).sum - allRel.size)
    val lens = LakeBucketSource.statLengths(root, allRel, conf)
    buckets.zipWithIndex.map { case (b, idx) =>
      val files = keptFiles(b).map { rel =>
        PartitionedFile(
          partitionValues = InternalRow.empty,
          filePath = org.apache.spark.paths.SparkPath.fromPathString(LakeTable.dataPath(root, rel)),
          start = 0L, length = lens(rel))
      }.toArray
      LakeSqlPartition(idx, b, files,
        dirty = snap.morBuckets.contains(b)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    // clean buckets of an upsert-only table pass straight through the
    // vectorized columnar path with stats-pruning filters; buckets that
    // need an in-task resolve (merge-on-read fold and/or tombstone hiding)
    // read the resolve schema row-wise — WITHOUT pushed filters, which
    // could prune a key's winner row-group and resurrect a shadowed row
    val needsResolve = snap.morBuckets.nonEmpty || snap.tombstoneCol.isDefined
    val plain = LakeBucketSource.parquetReaderFactory(
      spark, dataSchema, readDataSchema, StructType(Nil), pushedFilters)
    val resolve =
      if (needsResolve)
        LakeBucketSource.parquetReaderFactory(
          spark, dataSchema, resolveSchema, StructType(Nil), Array.empty)
      else null
    new LakeSqlReaderFactory(plain, resolve, resolveSchema, readDataSchema,
      snap.keyCols, snap.orderCols, snap.tombstoneCol,
      uniformColumnar = !needsResolve)
  }
}

final case class LakeSqlPartition(index: Int, bucket: Int,
    files: Array[PartitionedFile], dirty: Boolean) extends InputPartition

final class LakeSqlReaderFactory(plain: ParquetPartitionReaderFactory,
    resolve: ParquetPartitionReaderFactory, resolveSchema: StructType,
    readDataSchema: StructType, keyCols: Seq[String], orderCols: Seq[String],
    tombstoneCol: Option[String], uniformColumnar: Boolean)
    extends PartitionReaderFactory {

  private def needsResolve(p: InputPartition): Boolean = p match {
    case LakeSqlPartition(_, _, _, dirty) => dirty || tombstoneCol.isDefined
    case other => throw new IllegalStateException(s"unexpected partition $other")
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[LakeSqlPartition]
    if (!needsResolve(p)) plain.createReader(FilePartition(part.index, part.files))
    else new LakeSqlResolvingReader(part, resolve, resolveSchema,
      readDataSchema, keyCols, orderCols, tombstoneCol)
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val part = p.asInstanceOf[LakeSqlPartition]
    plain.createColumnarReader(FilePartition(part.index, part.files))
  }

  /** Spark requires ONE answer across all partitions of a scan ("cannot mix
    * row-based and columnar input partitions"), so the columnar fast path
    * applies only when NO bucket needs an in-task resolve; a single dirty
    * bucket (or a tombstone column) routes the whole scan row-wise. */
  override def supportColumnarReads(p: InputPartition): Boolean = {
    val part = p.asInstanceOf[LakeSqlPartition]
    uniformColumnar && plain.supportColumnarReads(FilePartition(part.index, part.files))
  }
}

/** Per-bucket table-semantics reader: LWW-fold merge-on-read layers (only
  * when the bucket is dirty), hide tombstone winners, project to the
  * pruned read schema. Memory bound: a dirty bucket's winners — the same
  * working set a compaction task holds; a clean tombstoned bucket streams
  * with O(1) state. */
final class LakeSqlResolvingReader(p: LakeSqlPartition,
    factory: ParquetPartitionReaderFactory, resolveSchema: StructType,
    readDataSchema: StructType, keyCols: Seq[String], orderCols: Seq[String],
    tombstoneCol: Option[String]) extends PartitionReader[InternalRow] {

  private def bound(cols: Seq[String]) = cols.map { c =>
    val i = resolveSchema.fieldIndex(c)
    BoundReference(i, resolveSchema(i).dataType, resolveSchema(i).nullable)
  }
  private val outProj = UnsafeProjection.create(bound(readDataSchema.fieldNames.toSeq))
  private val tombIdx = tombstoneCol.map(resolveSchema.fieldIndex)

  private def visible(row: InternalRow): Boolean = tombIdx match {
    case Some(i) => row.isNullAt(i) || !row.getBoolean(i)
    case None => true
  }

  private var reader: PartitionReader[InternalRow] = _
  private var foldedIter: Iterator[InternalRow] = _
  private var current: InternalRow = _

  if (p.files.nonEmpty) {
    reader = factory.createReader(FilePartition(p.index, p.files))
    if (p.dirty) {
      val keyProj = UnsafeProjection.create(bound(keyCols))
      val orderProj = UnsafeProjection.create(bound(orderCols))
      val ord = RowOrdering.createNaturalAscendingOrdering(
        orderCols.map(c => resolveSchema(resolveSchema.fieldIndex(c)).dataType))
      val winners = new java.util.HashMap[UnsafeRow, (UnsafeRow, InternalRow)]()
      try while (reader.next()) {
        val row = reader.get()
        val k = keyProj(row)
        val o = orderProj(row)
        val prev = winners.get(k)
        if (prev == null || ord.compare(o, prev._1) > 0)
          winners.put(k.copy(), (o.copy(), row.copy()))
      } finally { reader.close(); reader = null }
      foldedIter = winners.values().iterator().asScala.map(_._2)
    }
  }

  override def next(): Boolean = {
    if (foldedIter != null) {
      while (foldedIter.hasNext) {
        val row = foldedIter.next()
        if (visible(row)) { current = outProj(row); return true }
      }
      false
    } else if (reader != null) {
      while (reader.next()) {
        val row = reader.get()
        if (visible(row)) { current = outProj(row); return true }
      }
      false
    } else false
  }

  override def get(): InternalRow = current

  override def close(): Unit = if (reader != null) { reader.close(); reader = null }
}
