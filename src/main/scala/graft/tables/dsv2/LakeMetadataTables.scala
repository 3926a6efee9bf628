package graft.tables.dsv2

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.tables.LakeTable

/** SQL METADATA TABLES — Iceberg's inspection-table surface
  * (`db.table.history`, `db.table.files`) for lake tables:
  *
  * {{{
  *   SELECT * FROM lake.accounts.history     -- one row per RETAINED version
  *   SELECT * FROM lake.accounts.files       -- one row per live data file
  *   SELECT * FROM lake.accounts.partitions  -- one row per live bucket
  *   SELECT * FROM lake.accounts.files VERSION AS OF 3
  * }}}
  *
  * [[LakeCatalog.loadTable]] dispatches here when the identifier's
  * NAMESPACE resolves to a lake table and its NAME is one of
  * [[LakeMetadataTables.Names]] — exactly how Iceberg's SparkCatalog
  * resolves its metadata tables. A REAL table at that path always wins
  * (and [[LakeCatalog.createTable]] refuses to create one inside an
  * existing table directory, so the shadowing case cannot arise).
  *
  * Scale note: both tables are SNAPSHOT METADATA — O(retained versions)
  * and O(live files) rows respectively, never data-proportional. They are
  * materialized on the driver from the same `meta/v*.json` snapshots every
  * query plan already reads and served through Spark's [[LocalScan]]
  * protocol (planned as a LocalTableScan, no executor tasks) — the same
  * cost class as Iceberg reading its manifest list. No row touches data
  * files except `files.size_bytes`, one `stat` per live file.
  */
private[dsv2] object LakeMetadataTables {

  /** metadata-table names resolvable under a table identifier */
  val Names: Set[String] = Set("history", "files", "partitions")

  def load(ident: Identifier, tableRoot: JPath, kind: String,
      versionPin: Option[Long]): Table =
    new LakeMetadataTable(ident, tableRoot, kind, versionPin)

  private[dsv2] val historySchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("stored_rows", LongType, nullable = false),
    StructField("data_files", IntegerType, nullable = false),
    StructField("num_buckets", IntegerType, nullable = false),
    StructField("mor_buckets", IntegerType, nullable = false),
    StructField("committed_batches", LongType, nullable = false),
    StructField("schema", StringType, nullable = false),
    /** comma-joined names of HEAD tags pinning this version ("" = none) —
      * the one column resolved against the head snapshot, not the listed
      * one: tags are refs on the history, so the head's map is the truth */
    StructField("tags", StringType, nullable = false)))

  private[dsv2] val partitionsSchema = StructType(Seq(
    StructField("bucket", IntegerType, nullable = false),
    StructField("files", IntegerType, nullable = false),
    // STORED rows (a merge-on-read bucket counts shadowed versions too —
    // same contract as TableSnapshot.bucketRows)
    StructField("rows", LongType, nullable = false),
    StructField("layers", IntegerType, nullable = false),
    StructField("merge_on_read", BooleanType, nullable = false)))

  private[dsv2] val filesSchema = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("bucket", IntegerType, nullable = false),
    // per-file row count from the harvested footer stats; a file written
    // before stats harvesting (or whose footer yielded none) reads NULL
    StructField("rows", LongType, nullable = true),
    StructField("size_bytes", LongType, nullable = false)))

  /** every retained version number under `meta/` (ascending) */
  private[dsv2] def retainedVersions(root: JPath): Seq[Long] = {
    val meta = root.resolve("meta")
    val st = Files.list(meta)
    try st.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json") }
      .flatMap(_.toLongOption)
      .toSeq.sorted
    finally st.close()
  }

  private[dsv2] def historyRows(root: JPath, upTo: Option[Long]): Array[InternalRow] = {
    // never read past the PUBLISHED head: a racing writer's v<N+1>.json
    // exists (CREATE_NEW) before its bytes are complete — the VERSION
    // pointer only swaps after the json is durable, so capping at the
    // pointer is what makes listing-while-ingesting safe
    val head = LakeTable.currentVersion(root.toString)
    val cap = upTo.fold(head)(math.min(_, head))
    val headTags = LakeTable.readSnapshot(root, head).tags
    retainedVersions(root)
      .filter(_ <= cap)
      .map { v =>
        val s = LakeTable.readSnapshot(root, v)
        val committedMillis =
          if (s.committedAtMillis > 0L) s.committedAtMillis
          else LakeTable.committedAt(root, v) // pre-stamp ledger: file mtime
        val tags = headTags.collect { case (n, tv) if tv == v => n }.toSeq.sorted
        new GenericInternalRow(Array[Any](
          s.version,
          committedMillis * 1000L, // TimestampType carries epoch micros
          s.rowCount,
          s.bucketFiles.valuesIterator.map(_.size).sum,
          s.numBuckets,
          s.morBuckets.size,
          s.totals.getOrElse("batches", 0L) + s.appliedBatches.size,
          UTF8String.fromString(s.schemaDdl),
          UTF8String.fromString(tags.mkString(","))))
      }.toArray
  }

  private[dsv2] def partitionsRows(root: JPath, version: Long): Array[InternalRow] = {
    val s = LakeTable.readSnapshot(root, version)
    val mor = s.morBuckets.toSet
    s.bucketFiles.toSeq.sortBy(_._1).map { case (bucket, rels) =>
      new GenericInternalRow(Array[Any](
        bucket,
        rels.size,
        s.bucketRows.getOrElse(bucket, 0L),
        s.bucketLayers.getOrElse(bucket, 1),
        mor.contains(bucket)))
    }.toArray
  }

  private[dsv2] def filesRows(root: JPath, version: Long): Array[InternalRow] = {
    val s = LakeTable.readSnapshot(root, version)
    val all = s.bucketFiles.toSeq.sortBy(_._1)
      .flatMap { case (bucket, rels) => rels.map(bucket -> _) }
    // stat in parallel with a bounded daemon pool (same shape as
    // LakeBucketSource's planning stat): a large table lists tens of
    // thousands of files, and a sequential stat loop against a slow
    // filesystem would turn a metadata query into minutes
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, all.size)),
      (r: Runnable) => { val t = new Thread(r, "lake-meta-stat"); t.setDaemon(true); t })
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.DurationInt
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      Await.result(Future.traverse(all) { case (bucket, rel) =>
        Future {
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(rel),
            bucket,
            s.fileStats.get(rel).map(_.rows).orNull,
            Files.size(root.resolve(rel)))): InternalRow
        }
      }, 5.minutes).toArray
    } catch {
      case _: java.util.concurrent.TimeoutException => throw new java.io.IOException(
        s"timed out (5 min) statting ${all.size} data files under $root — " +
          "filesystem unreachable or pathologically slow")
    } finally pool.shutdown()
  }
}

private final class LakeMetadataTable(ident: Identifier, root: JPath,
    kind: String, versionPin: Option[Long]) extends Table with SupportsRead {

  override def name(): String =
    (ident.namespace() :+ ident.name()).mkString(".") +
      versionPin.fold("")(v => s"@v$v")

  override def schema(): StructType = kind match {
    case "history" => LakeMetadataTables.historySchema
    case "files" => LakeMetadataTables.filesSchema
    case "partitions" => LakeMetadataTables.partitionsSchema
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => new LocalScan {
      // materialized at EXECUTION time (build() is called once per plan),
      // so the rows reflect the head version unless VERSION AS OF pinned one
      private lazy val data: Array[InternalRow] = kind match {
        case "history" => LakeMetadataTables.historyRows(root, versionPin)
        case "files" => LakeMetadataTables.filesRows(root,
          versionPin.getOrElse(LakeTable.currentVersion(root.toString)))
        case "partitions" => LakeMetadataTables.partitionsRows(root,
          versionPin.getOrElse(LakeTable.currentVersion(root.toString)))
      }
      override def rows(): Array[InternalRow] = data
      override def readSchema(): StructType = schema()
      override def description(): String = s"LakeMetadata(${name()}.$kind)"
    }
}
