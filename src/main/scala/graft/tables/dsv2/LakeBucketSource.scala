package graft.tables.dsv2

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.tables.LakeTable
import graft.tables.MergePlan.BucketGroups

/** DataSource-v2 scan over a [[graft.tables.LakeTable]]'s buckets that
  * REPORTS ITS PARTITIONING (SURVEY.md §7.5, the storage-partitioned merge):
  * one input partition per bucket, each carrying `HasPartitionKey` on the
  * table's bucket id, surfaced to Catalyst as
  * `KeyGroupedPartitioning(identity(_gbucket))`.
  *
  * The engine's own scans are GROUPED ([[LakeBucketSource.scan]] with
  * [[graft.tables.MergePlan.BucketGroups]]): each bucket partition's key is
  * its group id instead, carried in a second constant column `_ggroup`, and
  * the scan reports `KeyGroupedPartitioning(identity(_ggroup))`. Spark runs
  * all input partitions that share a key in one task, so a small
  * operation's buckets run in at most `cores` tasks, while runtime bucket
  * pruning and per-file bound skipping still work bucket by bucket. Every
  * consumer groups and joins on `(keys…, _gbucket, _ggroup)`; two scans
  * join without an exchange when they share the same groups.
  *
  * This is what lets a copy-on-write MERGE leave the EXISTING side of the
  * upsert join entirely unshuffled: with
  * `spark.sql.sources.v2.bucketing.{enabled,shuffle.enabled}` set, Catalyst
  * sees that the scan already satisfies the join's clustering on
  * `(keys…, _gbucket)` and storage-partition-joins against it, shuffling
  * ONLY the (small) batch side into the scan's partitioning — the plan-shape
  * fix for the "existing-side rides the exchange" scale cost called out in
  * round 3 (a delta brushing k% of a 100 TB table no longer shuffles those
  * k% of table rows, it only streams them task-locally).
  *
  * Reading delegates to Spark's own vectorized parquet machinery
  * (`ParquetPartitionReaderFactory`): the bucket id is injected as a
  * partition column, exactly like a hive-style `bucket=<i>/` directory scan,
  * so the per-file reader is the same whole-stage-codegen-friendly columnar
  * path `spark.read.parquet` uses.
  *
  * Options of the `spark.read.format` form, which is never grouped:
  * `root` (table root), `version` (snapshot version to pin), `buckets`
  * (comma-separated bucket ids — the merge's touched set; a bucket with no
  * files yet still contributes an EMPTY partition so the other side's
  * shuffle always has a target partition for every bucket value).
  */
final class LakeBucketSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LakeBucketSource.scanSchema(LakeBucketSource.snapshotFor(options), grouped = false)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new LakeBucketTable(LakeBucketSource.require(options, "root"),
      LakeBucketSource.snapshotFor(options),
      LakeBucketSource.require(options, "buckets").split(',').filter(_.nonEmpty)
        .map(_.toInt).toSeq,
      groups = None)
  }

  override def supportsExternalMetadata(): Boolean = false
}

object LakeBucketSource {
  val BucketCol = "_gbucket"
  /** the grouped scan's group id column (see the class header) */
  val GroupCol = "_ggroup"

  /** format name for spark.read.format(...) */
  val Name: String = classOf[LakeBucketSource].getName

  private[dsv2] def snapshotFor(options: CaseInsensitiveStringMap): graft.tables.TableSnapshot = {
    val root = require(options, "root")
    val version = require(options, "version").toLong
    LakeTable.readSnapshot(java.nio.file.Paths.get(root), version)
  }

  private[dsv2] def require(options: CaseInsensitiveStringMap, key: String): String = {
    val v = options.get(key)
    if (v == null) throw new IllegalArgumentException(s"LakeBucketSource needs option '$key'")
    v
  }

  private[dsv2] def scanSchema(snap: graft.tables.TableSnapshot, grouped: Boolean): StructType =
    StructType(StructType.fromDDL(snap.schemaDdl).fields ++ partitionSchema(grouped).fields)

  /** the per-file constant columns: the bucket id, and the group id of a
    * grouped scan */
  private[dsv2] def partitionSchema(grouped: Boolean): StructType =
    StructType((BucketCol +: (if (grouped) Seq(GroupCol) else Nil))
      .map(StructField(_, IntegerType, nullable = false)))

  /** The bucket scan of `buckets` of `snap` as a DataFrame, grouped when
    * `groups` is given (then `buckets` are its buckets). The engine's
    * entry point: the snapshot it already holds is used as is. */
  private[tables] def scan(spark: SparkSession, root: String, snap: graft.tables.TableSnapshot,
      buckets: Seq[Int], groups: Option[BucketGroups]): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graftshim.RelationDF(spark,
      new LakeBucketTable(root, snap, buckets, groups))

  /** Metadata-only statistics shared by both scans: row counts from the
    * snapshot's incrementally-maintained counters, size from rows × the
    * READ schema's default size. Without this Catalyst prices a scan at
    * `spark.sql.defaultSizeInBytes` (effectively infinite), so a join
    * against even a tiny lake table would never auto-broadcast. */
  private[dsv2] def snapshotStats(rows: Long, readSchema: StructType): Statistics = {
    val rowBytes = readSchema.defaultSize.toLong.max(1L)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows * rowBytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  /** Shared runtime-filter → kept-bucket-set rule for both scans: every
    * `In` filter on the single key column hashes its (non-null — null never
    * equi-joins) values to buckets with the writer's bucket function
    * ([[LakeTable.bucketOfKey]]); multiple filters intersect. None = no
    * applicable filter arrived (keep everything). */
  private[dsv2] def runtimeKeptBuckets(filters: Array[sources.Filter], key: String,
      dt: DataType, numBuckets: Int): Option[Set[Int]] = {
    val keptSets = filters.collect {
      case sources.In(attr, values) if attr == key =>
        values.filter(_ != null).map(v => LakeTable.bucketOfKey(Seq(v), Seq(dt), numBuckets)).toSet
    }
    if (keptSets.isEmpty) None else Some(keptSets.reduce(_ intersect _))
  }

  /** Stat file lengths in BOUNDED PARALLEL with a timeout: a serial
    * driver-side getFileStatus loop over every layered file would re-run on
    * every (re)planning of a scan, and a hung filesystem must fail planning
    * with a diagnostic, not wedge the driver forever. Shared by the batch
    * bucket scan, the CDF stream's micro-batch planning and the keyed
    * reads' split-size check. */
  private[tables] def statLengths(root: String, allRel: Seq[String],
      conf: Configuration): Map[String, Long] =
    if (allRel.size <= 1)
      allRel.map { rel =>
        val p = new org.apache.hadoop.fs.Path(LakeTable.dataPath(root, rel))
        rel -> p.getFileSystem(conf).getFileStatus(p).getLen
      }.toMap
    else {
      import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
      import scala.concurrent.duration._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, allRel.size),
        (r: Runnable) => {
          val t = new Thread(r, "lake-bucket-stat")
          t.setDaemon(true)
          t
        })
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.sequence(allRel.map { rel =>
        Future {
          val p = new org.apache.hadoop.fs.Path(LakeTable.dataPath(root, rel))
          rel -> p.getFileSystem(conf).getFileStatus(p).getLen
        }
      }), 5.minutes).toMap
      catch {
        case _: TimeoutException => throw new java.io.IOException(
          s"timed out (5 min) statting ${allRel.size} data files under $root — " +
            "filesystem unreachable or pathologically slow")
      }
      finally pool.shutdown()
    }

  /** Build Spark's own vectorized parquet reader factory, mirroring
    * `ParquetScan`'s configuration (requested schemas + the conf bits the
    * readers consult) into a broadcast hadoop conf. Shared by the batch
    * bucket scan and the CDF stream readers. */
  private[dsv2] def parquetReaderFactory(spark: SparkSession, dataSchema: StructType,
      readDataSchema: StructType, partitionSchema: StructType,
      filters: Array[sources.Filter]): ParquetPartitionReaderFactory = {
    val sqlConf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    hadoopConf.set(
      org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport].getName)
    hadoopConf.set(
      org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA,
      readDataSchema.json)
    hadoopConf.set(
      org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport.SPARK_ROW_SCHEMA,
      readDataSchema.json)
    hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    hadoopConf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    hadoopConf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sqlConf.isParquetBinaryAsString)
    hadoopConf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sqlConf.isParquetINT96AsTimestamp)
    hadoopConf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    hadoopConf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong)
    val broadcasted = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    ParquetPartitionReaderFactory(
      sqlConf, broadcasted, dataSchema, readDataSchema, partitionSchema,
      filters, None, new ParquetOptions(Map.empty[String, String], sqlConf))
  }
}

final class LakeBucketTable(root: String, snap: graft.tables.TableSnapshot,
    buckets: Seq[Int], groups: Option[BucketGroups]) extends Table with SupportsRead {

  override def name(): String = s"lake_buckets($root@v${snap.version})"
  override def schema(): StructType = LakeBucketSource.scanSchema(snap, groups.isDefined)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new LakeBucketScanBuilder(root, snap, buckets, groups)
}

/** COLUMN PRUNING + FILTER PUSHDOWN for the bucket scan: a projected
  * changelog / maintenance read (`readChanges(...).select(keys)`) reads only
  * the requested data columns from parquet instead of the whole payload, and
  * pushed predicates reach parquet's row-group/page statistics pruning (the
  * point-read shape: an equality on the key skips every row group whose
  * min/max excludes it).
  *
  * Two invariants keep this safe at any scale:
  *  - the bucket (and group) column is ALWAYS kept in the read schema — the
  *    scan's reported `KeyGroupedPartitioning` references it, and it costs
  *    nothing (a per-partition constant, not file bytes);
  *  - every filter is returned as RESIDUAL (Spark re-evaluates it above the
  *    scan), so parquet stats pruning can only skip non-matching row groups,
  *    never change results — exactly `ParquetScan`'s own contract. */
final class LakeBucketScanBuilder(root: String, snap: graft.tables.TableSnapshot,
    buckets: Seq[Int], groups: Option[BucketGroups])
    extends ScanBuilder with LakePushdownSupport {

  protected val dataSchema = StructType.fromDDL(snap.schemaDdl)

  override def build(): Scan =
    new LakeBucketScan(root, snap, buckets, requiredData, pushedFilters(), groups)
}

/** Shared pushdown contract of the lake scans (bucket scan + SQL-catalog
  * scan): column pruning restricted to the data schema, and every filter
  * returned as RESIDUAL — the pushed copies only drive parquet
  * row-group/page statistics pruning, never change results (exactly
  * `ParquetScan`'s own contract). */
private[dsv2] trait LakePushdownSupport
    extends SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  protected def dataSchema: StructType
  private var requiredOpt: Option[StructType] = None
  private var pushed: Array[sources.Filter] = Array.empty

  /** the pruned read schema (full data schema until pruneColumns arrives) */
  protected def requiredData: StructType = requiredOpt.getOrElse(dataSchema)

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val names = requiredSchema.fieldNames.toSet
    requiredOpt = Some(StructType(dataSchema.fields.filter(f => names.contains(f.name))))
  }

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    val dataCols = dataSchema.fieldNames.toSet
    pushed = filters.filter(_.references.forall(dataCols.contains))
    filters // all residual: the pushed copies only drive stats pruning
  }

  override def pushedFilters(): Array[sources.Filter] = pushed
}

final class LakeBucketScan(root: String, snap: graft.tables.TableSnapshot,
    buckets: Seq[Int], readDataSchema: StructType, pushedFilters: Array[sources.Filter],
    groups: Option[BucketGroups] = None)
    extends Scan with Batch with SupportsReportPartitioning with SupportsRuntimeFiltering
    with SupportsReportStatistics {

  private val dataSchema = StructType.fromDDL(snap.schemaDdl)

  /** Metadata-only statistics (SupportsReportStatistics): row counts come
    * from the snapshot's incrementally-maintained per-bucket counters, size
    * from rows × the READ schema's default size. Without this Catalyst
    * assigns the scan `spark.sql.defaultSizeInBytes` (effectively infinite),
    * so a join against even a tiny lake table would never auto-broadcast —
    * with it, broadcast decisions and AQE thresholds see the real magnitude.
    * Runtime filtering tightens the estimate to the kept buckets (stats are
    * re-read after runtime filters in adaptive re-planning). */
  override def estimateStatistics(): Statistics = {
    val kept = runtimeKept
    val rows = buckets.iterator
      .filter(b => kept.forall(_.contains(b)))
      .map(estimatedBucketRows).sum
    LakeBucketSource.snapshotStats(rows, readSchema())
  }

  /** Filter-aware row estimate: the stored rows of exactly the files the
    * planner will keep (file bounds mirror [[statsKeep]]), plus the full
    * residual for files without bounds. Still an UPPER bound on matching
    * rows — never under-prices a side into a wrong broadcast — but a
    * selective filter on a big table now auto-broadcasts instead of
    * costing `rowCount × rowBytes`. */
  private def estimatedBucketRows(b: Int): Long = {
    val total = snap.bucketRows.getOrElse(b, 0L)
    val files = snap.bucketFiles.getOrElse(b, Nil)
    if (pushedFilters.isEmpty || files.isEmpty) return total
    var known = 0L; var kept = 0L
    files.foreach { rel =>
      snap.fileStats.get(rel).foreach { fs =>
        known += fs.rows
        if (graft.tables.FileStats.mayMatch(pushedFilters, fs, dataSchema)) kept += fs.rows
      }
    }
    kept + math.max(0L, total - known)
  }

  /** RUNTIME BUCKET PRUNING (≙ Iceberg's dynamic partition pruning): a join
    * of this scan against a selective build side hands the build side's key
    * values here at runtime; every bucket none of them hashes into keeps
    * its (stable, KGP-reported) partition but drops its FILE LIST — the
    * scan does zero I/O for it. At a 100 TB table joined with a 10k-key
    * batch this turns a full-table scan into ~min(10k, B) bucket reads.
    *
    * Single-key tables only: an `In` filter on one column of a composite
    * key cannot evaluate the bucket hash. Spark's contract allows partial
    * application (the join still evaluates exact equality above the scan),
    * so bucket granularity — and ignoring non-In filters — is safe.
    * KeyGroupedPartitioning requires the partition-value set to be IDENTICAL
    * after runtime filtering (BatchScanExec re-checks it), which is why
    * pruning empties a bucket's files rather than dropping its partition. */
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
  private val partitionSchema = LakeBucketSource.partitionSchema(groups.isDefined)

  /** a bucket's partition key: its group in a grouped scan, else itself */
  private def keyOf(b: Int): Int = groups.fold(b)(_.of(b))

  override def readSchema(): StructType =
    StructType(readDataSchema.fields ++ partitionSchema.fields)
  override def toBatch: Batch = this
  override def description(): String =
    s"LakeBucketScan(root=$root, v=${snap.version}, buckets=${buckets.mkString(",")}, " +
      groups.fold("")(g => s"groups=${g.count}, ") +
      s"ReadSchema=${readDataSchema.fieldNames.mkString(",")}, " +
      s"PushedFilters=[${pushedFilters.mkString(", ")}])"

  /** the whole point: identity partitioning on the bucket column, or on the
    * group column of a grouped scan */
  override def outputPartitioning(): Partitioning =
    groups match {
      case Some(g) => new KeyGroupedPartitioning(
        Array(Expressions.identity(LakeBucketSource.GroupCol)), g.count)
      case None => new KeyGroupedPartitioning(
        Array(Expressions.identity(LakeBucketSource.BucketCol)), buckets.size)
    }

  /** PLANNING-TIME FILE SKIPPING from the snapshot's per-file column bounds
    * (≙ Iceberg manifest pruning): a pushed predicate that provably matches
    * nothing in a file drops the file before a task is ever scheduled —
    * zero storage I/O, unlike the row-group pruning the same filters
    * already drive inside the reader. Exactly as safe as that row-group
    * pruning: the pushed copies are residual (re-evaluated above the scan),
    * and bounds only prune on a proof ([[graft.tables.FileStats.mayMatch]]).
    * The headline shape at 100 TB: `WHERE slot > X` skips every file of
    * every bucket not rewritten since X. */
  private def statsKeep(rel: String): Boolean =
    pushedFilters.isEmpty || snap.fileStats.get(rel).forall(
      graft.tables.FileStats.mayMatch(pushedFilters, _, dataSchema))

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val keep: Int => Boolean = b => runtimeKept.forall(_.contains(b))
    // one bounds evaluation per file: O(files × filters) once, not per use
    val keptFiles: Map[Int, Seq[String]] = buckets.filter(keep).map(b =>
      b -> snap.bucketFiles.getOrElse(b, Nil).filter(statsKeep)).toMap
    val allRel = buckets.sorted.filter(keep).flatMap(keptFiles(_)).distinct
    LakeBucketScan.statsPrunedFiles.addAndGet(
      buckets.filter(keep).map(b => snap.bucketFiles.getOrElse(b, Nil).size).sum
        - allRel.size)
    val lens = LakeBucketSource.statLengths(root, allRel, conf)
    buckets.sorted.zipWithIndex.map { case (b, idx) =>
      val values = if (groups.isDefined) InternalRow(b, keyOf(b)) else InternalRow(b)
      val files =
        if (!keep(b)) Array.empty[PartitionedFile] // runtime-pruned: no I/O
        else keptFiles(b).map { rel =>
          PartitionedFile(
            partitionValues = values,
            filePath = org.apache.spark.paths.SparkPath.fromPathString(LakeTable.dataPath(root, rel)),
            start = 0L, length = lens(rel))
        }.toArray
      LakeBucketPartition(idx, keyOf(b), files): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeBucketReaderFactory(LakeBucketSource.parquetReaderFactory(
      SparkSession.active, dataSchema, readDataSchema, partitionSchema, pushedFilters))
}

object LakeBucketScan {
  /** test-visible: number of scans that received a runtime filter (the
    * pruning itself is otherwise observable only as absent I/O) */
  val runtimePrunes = new java.util.concurrent.atomic.AtomicLong(0L)

  /** test-visible: data files skipped at planning time by per-file column
    * bounds, across the lake scans (bucket scan + SQL-catalog scan) */
  val statsPrunedFiles = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** One bucket = one input partition; `partitionKey` — the bucket id, or its
  * group id in a grouped scan — is what Catalyst groups and
  * storage-partition-joins on. Spark runs the partitions that share a key
  * in one task, one after the other. */
final case class LakeBucketPartition(index: Int, key: Int,
    files: Array[PartitionedFile]) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(key)
}

/** Delegates each bucket partition to Spark's vectorized parquet factory by
  * re-wrapping it as the `FilePartition` that factory expects. */
final class LakeBucketReaderFactory(delegate: ParquetPartitionReaderFactory)
    extends PartitionReaderFactory {

  private def asFilePartition(p: InputPartition): FilePartition = p match {
    case LakeBucketPartition(idx, _, files) => FilePartition(idx, files)
    case other => throw new IllegalStateException(s"unexpected partition $other")
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    delegate.createReader(asFilePartition(p))

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    delegate.createColumnarReader(asFilePartition(p))

  override def supportColumnarReads(p: InputPartition): Boolean =
    delegate.supportColumnarReads(asFilePartition(p))
}
