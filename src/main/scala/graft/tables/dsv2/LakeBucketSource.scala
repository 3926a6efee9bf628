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
  * A changelog WINDOW scan ([[LakeBucketSource.windowScan]]) reads the
  * union of two snapshots' file lists once: each bucket's old files in old
  * order, then the files only the new snapshot holds, with a third constant
  * column `_gside` saying which snapshot(s) list the file.
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
  /** a window scan's per-file side bits: [[OldSide]] | [[NewSide]] */
  val SideCol = "_gside"
  /** `_gside` bit of a file the window's OLD snapshot lists */
  val OldSide = 1
  /** `_gside` bit of a file the window's NEW snapshot lists */
  val NewSide = 2

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

  private[dsv2] def scanSchema(snap: graft.tables.TableSnapshot, grouped: Boolean,
      window: Boolean = false): StructType =
    StructType(StructType.fromDDL(snap.schemaDdl).fields ++ partitionSchema(grouped, window).fields)

  /** the per-file constant columns: the bucket id, the group id of a
    * grouped scan and the side bits of a window scan */
  private[dsv2] def partitionSchema(grouped: Boolean, window: Boolean): StructType =
    StructType((Seq(BucketCol) ++ (if (grouped) Seq(GroupCol) else Nil) ++
      (if (window) Seq(SideCol) else Nil))
      .map(StructField(_, IntegerType, nullable = false)))

  /** The bucket scan of `buckets` of `snap` as a DataFrame, grouped when
    * `groups` is given (then `buckets` are its buckets). The engine's
    * entry point: the snapshot it already holds is used as is. */
  private[tables] def scan(spark: SparkSession, root: String, snap: graft.tables.TableSnapshot,
      buckets: Seq[Int], groups: Option[BucketGroups]): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graftshim.RelationDF(spark,
      new LakeBucketTable(root, snap, buckets, groups))

  /** The changelog WINDOW scan of `groups`' buckets between `oldSnap` and
    * `newSnap` (same bucket count), grouped like [[scan]], through the new
    * snapshot's schema: every file of either snapshot is read ONCE. A
    * bucket's files come in its old list's order, then the files only the
    * new list holds, each tagged in `_gside` with the sides listing it — so
    * each side's rows reach a consumer in that side's own list order (its
    * tie order), which needs every new list to be the old files it keeps,
    * in old order, followed by its new files. Appends, whole-bucket
    * rewrites and rollbacks all keep that shape; anything else fails here. */
  private[tables] def windowScan(spark: SparkSession, root: String,
      oldSnap: graft.tables.TableSnapshot, newSnap: graft.tables.TableSnapshot,
      groups: BucketGroups): org.apache.spark.sql.DataFrame = {
    val lists = groups.buckets.map { b =>
      val o = oldSnap.bucketFiles.getOrElse(b, Nil)
      val n = newSnap.bucketFiles.getOrElse(b, Nil)
      val (oSet, nSet) = (o.toSet, n.toSet)
      val (kept, added) = n.span(oSet)
      Predef.require(kept == o.filter(nSet) && !added.exists(oSet),
        s"bucket $b: v${newSnap.version}'s file list is not v${oldSnap.version}'s kept " +
          s"files in order followed by new files (${o.mkString(",")} -> ${n.mkString(",")})")
      b -> (o.map(rel => rel -> (OldSide | (if (nSet(rel)) NewSide else 0))) ++
        added.map(_ -> NewSide))
    }
    // one snapshot listing the union: the scan's pruning, stats and file
    // skipping then work on it unchanged (every file is read as stored)
    val union = newSnap.copy(
      bucketFiles = newSnap.bucketFiles ++ lists.map { case (b, fs) => b -> fs.map(_._1) },
      bucketRows = newSnap.bucketRows ++ groups.buckets.map(b =>
        b -> (oldSnap.bucketRows.getOrElse(b, 0L) + newSnap.bucketRows.getOrElse(b, 0L))),
      fileStats = oldSnap.fileStats ++ newSnap.fileStats)
    org.apache.spark.sql.graftshim.RelationDF(spark,
      new LakeBucketTable(root, union, groups.buckets, Some(groups),
        Some(lists.flatMap(_._2).toMap)))
  }

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
    buckets: Seq[Int], groups: Option[BucketGroups],
    sides: Option[Map[String, Int]] = None) extends Table with SupportsRead {

  override def name(): String = s"lake_buckets($root@v${snap.version})"
  override def schema(): StructType =
    LakeBucketSource.scanSchema(snap, groups.isDefined, sides.isDefined)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new LakeBucketScanBuilder(root, snap, buckets, groups, sides)
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
    buckets: Seq[Int], groups: Option[BucketGroups], sides: Option[Map[String, Int]])
    extends ScanBuilder with LakePushdownSupport {

  protected val dataSchema = StructType.fromDDL(snap.schemaDdl)

  override def build(): Scan =
    new LakeBucketScan(root, snap, buckets, requiredData, pushedFilters(), groups, sides)
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
    groups: Option[BucketGroups] = None, sides: Option[Map[String, Int]] = None)
    extends Scan with Batch with SupportsReportPartitioning with SupportsRuntimeFiltering
    with SupportsReportStatistics {

  private val dataSchema = StructType.fromDDL(snap.schemaDdl)

  /** rows are read as stored, so every pushed filter may skip a file of
    * any bucket. KeyGroupedPartitioning requires the partition-value set to
    * be IDENTICAL after runtime filtering (BatchScanExec re-checks it), so
    * a pruned bucket keeps its partition and loses its files. */
  private val pruning = new LakeScanPruning(snap, dataSchema, buckets, pushedFilters,
    resolved = false)

  override def estimateStatistics(): Statistics =
    LakeBucketSource.snapshotStats(pruning.estimatedRows(), readSchema())

  override def filterAttributes(): Array[NamedReference] = pruning.filterAttributes()
  override def filter(filters: Array[sources.Filter]): Unit = pruning.filter(filters)

  private val partitionSchema =
    LakeBucketSource.partitionSchema(groups.isDefined, sides.isDefined)

  /** a bucket's partition key: its group in a grouped scan, else itself */
  private def keyOf(b: Int): Int = groups.fold(b)(_.of(b))

  override def readSchema(): StructType =
    StructType(readDataSchema.fields ++ partitionSchema.fields)
  override def toBatch: Batch = this
  override def description(): String =
    s"LakeBucketScan(root=$root, v=${snap.version}, buckets=${buckets.mkString(",")}, " +
      groups.fold("")(g => s"groups=${g.count}, ") +
      sides.fold("")(_ => "window, ") +
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

  override def planInputPartitions(): Array[InputPartition] = {
    val kept = pruning.keptFiles().toMap
    val lens = LakeBucketSource.statLengths(root, kept.values.flatten.toSeq,
      SparkSession.active.sessionState.newHadoopConf())
    buckets.sorted.zipWithIndex.map { case (b, idx) =>
      val values = (b +: groups.map(_ => keyOf(b)).toSeq)
      val files = kept.getOrElse(b, Nil).map { rel =>
        PartitionedFile(
          partitionValues = InternalRow.fromSeq(values ++ sides.map(_(rel))),
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

/** What both lake scans skip before a task is scheduled, and the rows they
  * expect — one implementation, so the bucket scan and the resolved scan
  * cannot drift apart, and each counter is incremented in one place.
  *
  *  - BUCKET PRUNING (≙ Iceberg partition pruning): key equalities among
  *    the pushed filters (`k = v`, `k IN (…)`, one per key column, and ORs
  *    of such) hash to the only buckets that can hold a matching row, with
  *    the writer's bucket function ([[LakeTable.bucketOfKey]]).
  *  - RUNTIME BUCKET PRUNING (≙ Iceberg's dynamic partition pruning): a
  *    join against a selective build side hands its key values to
  *    [[filter]] at runtime, and the same rule applies to them. Spark's
  *    contract allows partial application (the join still evaluates
  *    exact equality above the scan), so bucket granularity — and
  *    ignoring other filters — is safe. At a 100 TB table joined with a
  *    10k-key batch this turns a full-table scan into ~min(10k, B) bucket
  *    reads.
  *  - FILE SKIPPING from the snapshot's per-file column bounds (≙ Iceberg
  *    manifest pruning): a pushed predicate that provably matches nothing
  *    in a file drops it before a task is scheduled
  *    ([[graft.tables.FileStats.mayMatch]]); the pushed copies stay
  *    residual. The headline shape at 100 TB: `WHERE slot > X` skips every
  *    file of every bucket not rewritten since X. Where rows are read as
  *    stored — the raw layer scan, and a clean bucket of the RESOLVED scan
  *    (`resolved`, one row per key) — every pushed filter may skip a file.
  *    In a bucket the resolved scan folds, only KEY-ONLY filters may: every
  *    row of a key, tombstones included, carries the key, so they never
  *    drop a key's winner and leave a shadowed row to win the fold.
  *  - ROW ESTIMATES: the stored rows of exactly the files kept, plus the
  *    full residual for files without bounds — an UPPER bound on matching
  *    rows, so a selective filter auto-broadcasts without ever under-pricing
  *    a side into a wrong broadcast.
  *
  * Bucket pruning is skipped for floating-point and nested keys: equal
  * values such as -0.0 and 0.0 need not hash alike. */
private[dsv2] final class LakeScanPruning(snap: graft.tables.TableSnapshot,
    dataSchema: StructType, buckets: Seq[Int], pushed: Array[sources.Filter],
    resolved: Boolean) {
  private val dirty = snap.morBuckets.toSet
  private val keyOnly = pushed.filter(_.references.forall(snap.keyCols.contains))

  /** the pushed filters that may skip files of bucket `b` */
  def filtersOf(b: Int): Array[sources.Filter] =
    if (resolved && dirty.contains(b)) keyOnly else pushed

  /** the pushed filters that may prune row groups under a fold */
  def keyOnlyFilters: Array[sources.Filter] = keyOnly

  private val staticKept: Option[Set[Int]] = keyBuckets(pushed.toSeq)
  @volatile private var runtimeKept: Option[Set[Int]] = None

  def kept(b: Int): Boolean =
    staticKept.forall(_.contains(b)) && runtimeKept.forall(_.contains(b))

  def filterAttributes(): Array[NamedReference] =
    if (snap.keyCols.size == 1) Array(Expressions.column(snap.keyCols.head))
    else Array.empty

  def filter(filters: Array[sources.Filter]): Unit =
    keyBuckets(filters.toSeq).foreach { k =>
      runtimeKept = Some(k)
      LakeBucketScan.runtimePrunes.incrementAndGet()
    }

  private def mayMatch(b: Int, rel: String): Boolean = {
    val fs = filtersOf(b)
    fs.isEmpty || snap.fileStats.get(rel).forall(graft.tables.FileStats.mayMatch(fs, _, dataSchema))
  }

  /** Each kept bucket with the files its bounds cannot rule out, in
    * ascending bucket order; one bounds evaluation per file. */
  def keptFiles(): Seq[(Int, Seq[String])] = {
    val keptBuckets = buckets.distinct.sorted.filter(kept)
    val all = keptBuckets.map(b => b -> snap.bucketFiles.getOrElse(b, Nil))
    val files = all.map { case (b, fs) => b -> fs.filter(mayMatch(b, _)) }
    LakeBucketScan.statsPrunedFiles.addAndGet(all.map(_._2.size).sum - files.map(_._2.size).sum)
    files
  }

  def estimatedRows(): Long = buckets.distinct.filter(kept).iterator.map { b =>
    val total = snap.bucketRows.getOrElse(b, 0L)
    val files = snap.bucketFiles.getOrElse(b, Nil)
    if (filtersOf(b).isEmpty || files.isEmpty) total
    else {
      var known = 0L; var keptRows = 0L
      files.foreach { rel =>
        snap.fileStats.get(rel).foreach { fs =>
          known += fs.rows
          if (mayMatch(b, rel)) keptRows += fs.rows
        }
      }
      keptRows + math.max(0L, total - known)
    }
  }.sum

  /** The buckets a conjunction of filters can match rows in, from its key
    * equalities; None = any bucket. */
  private def keyBuckets(filters: Seq[sources.Filter]): Option[Set[Int]] = {
    val types = snap.keyCols.map(dataSchema(_).dataType)
    val hashable = types.forall {
      case FloatType | DoubleType | _: StructType | _: ArrayType | _: MapType => false
      case _ => true
    }
    def conjuncts(fs: Seq[sources.Filter]): Seq[sources.Filter] = fs.flatMap {
      case sources.And(l, r) => conjuncts(Seq(l, r))
      case f => Seq(f)
    }
    def of(fs: Seq[sources.Filter]): Option[Set[Int]] = {
      val flat = conjuncts(fs)
      val values = snap.keyCols.map(k => flat.collectFirst {
        case sources.EqualTo(a, v) if a == k => Seq(v)
        case sources.In(a, vs) if a == k => vs.toSeq
      }.map(_.filter(_ != null)))
      val direct =
        if (values.exists(_.isEmpty) ||
          values.map(_.get.size.toLong).product > LakeScanPruning.MaxKeyTuples) None
        else Some(values.map(_.get).foldLeft(Seq(Seq.empty[Any])) { (tuples, vs) =>
          for (t <- tuples; v <- vs) yield t :+ v
        }.map(LakeTable.bucketOfKey(_, types, snap.numBuckets)).toSet)
      val ors = flat.collect { case sources.Or(l, r) =>
        for (a <- of(Seq(l)); b <- of(Seq(r))) yield a ++ b
      }.flatten
      (direct.toSeq ++ ors).reduceOption(_ intersect _)
    }
    if (!hashable) None
    else try of(filters) catch { case scala.util.control.NonFatal(_) => None }
  }
}

private[dsv2] object LakeScanPruning {
  /** key tuples hashed at most for one conjunction: beyond this the
    * cross product of per-column value lists is not worth planning on */
  val MaxKeyTuples = 65536L
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
