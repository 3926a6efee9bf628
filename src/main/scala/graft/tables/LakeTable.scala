package graft.tables

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import graft.operators.Dedup

/** Per-batch lineage: counters (rows_in, upserts, caller-supplied) +
  * touched buckets. */
final case class LineageEntry(counters: Map[String, Long], touchedBuckets: Seq[Int])

/** Snapshot metadata for one committed table version.
  *
  * Exactly-once bookkeeping is BOUNDED (a 100 TB table sees millions of
  * batches — an ever-growing ledger would eventually dominate the snapshot):
  *  - `txns`: per-writer high-watermark `app → max seq` (the Delta/Iceberg
  *    txn-table pattern) — O(#writers), the primary idempotence mechanism
  *    for monotonic streams (Structured Streaming batchIds, snapshot slots);
  *  - `appliedBatches`/`lineage`: only the most recent `retainBatches` ids
  *    kept for observability and legacy string-id idempotence; expired
  *    lineage counters roll up into `totals`.
  */
final case class TableSnapshot(
    version: Long,
    schemaDdl: String,
    keyCols: Seq[String],
    orderCols: Seq[String],
    numBuckets: Int,
    retainBatches: Int,
    /** bucket id → data files (relative to table root) */
    bucketFiles: Map[Int, Seq[String]],
    /** bucket id → row count (maintained incrementally so merges never
      * re-read old footers) */
    bucketRows: Map[Int, Long],
    /** per-writer high-watermark: appId → max applied sequence number */
    txns: Map[String, Long],
    /** most recent `retainBatches` batch ids (newest last) */
    appliedBatches: Seq[String],
    /** lineage for the retained batches */
    lineage: Map[String, LineageEntry],
    /** rolled-up counters of expired lineage (+ "batches" count) */
    totals: Map[String, Long],
    /** STORED rows (merge-on-read buckets count shadowed versions too) —
      * use [[LakeTable.logicalRowCount]] for the post-LWW-resolve count */
    rowCount: Long,
    /** buckets holding unresolved merge-on-read layers: reads resolve them
      * with a LWW dedup until [[LakeTable.compact]] rewrites them */
    morBuckets: Seq[Int] = Nil,
    /** per-bucket LAYER counts (file-list appends since the bucket's last
      * rewrite) — the merge-on-read read-amplification bound. Absent entry =
      * 1 layer (a clean copy-on-write bucket). */
    bucketLayers: Map[Int, Int] = Map.empty,
    /** auto-compaction bound: a merge-on-read merge that pushes a bucket
      * past this many layers compacts THAT bucket immediately (hot buckets
      * must not accumulate unbounded read debt between the stream's periodic
      * compaction triggers) */
    maxLayers: Int = LakeTable.DefaultMaxLayers,
    /** DELETE support (CDC tombstones): name of a BOOLEAN schema column
      * marking a row as a delete. Tombstones ride the normal LWW fold (a
      * newer delete shadows older data, a newer upsert shadows the delete —
      * out-of-order arrivals stay commutative), are RETAINED in stored
      * state so stale rows can never resurrect a deleted key, are hidden
      * from [[LakeTable.read]], and SURFACE in [[LakeTable.readChanges]]
      * (the CDC egress contract). [[LakeTable.purgeTombstones]] reclaims
      * them once the out-of-order horizon has passed. None = upsert-only
      * table (zero overhead). */
    tombstoneCol: Option[String] = None,
    /** Iceberg-manifest-style per-file column bounds (relative data-file
      * path → min/max/null counts, [[FileStats]]) harvested from the same
      * parquet-footer pass that already maintains `bucketRows` — so query
      * PLANNING can skip files no pushed predicate can match without
      * touching storage. The headline prune: a file's max(orderCol) bounds
      * when its bucket was last rewritten, so the CDC staple
      * `WHERE slot > X` does zero I/O for every bucket cold since X.
      * Bounded at [[FileStats.MaxStatsCols]] columns; files without an
      * entry are simply never pruned. Persisted entries are normalized to
      * the live file set at serialization time. */
    fileStats: Map[String, FileStats] = Map.empty,
    /** wall-clock commit stamp (epoch millis) powering `TIMESTAMP AS OF`
      * time travel — stamped by the commit path at publish time; 0 on
      * ledgers written before the field existed (readers fall back to the
      * snapshot file's mtime, see [[LakeTable.committedAt]]). */
    committedAtMillis: Long = 0L,
    /** WRITE-PATH SORT ORDER (Iceberg write-order analog): when non-empty,
      * every bucket write — merge, compaction, purge, rebucket — adds a
      * task-local `sortWithinPartitions(bucket, sortOrder…)` before the
      * parquet write, so freshly-ingested files carry tight bounds on these
      * columns and stay clustered without periodic [[LakeTable.cluster]]
      * rewrites. Columns must be bound-capable ([[FileStats.supported]]). */
    sortOrder: Seq[String] = Nil,
    /** per-file row cap on bucket writes (writer `maxRecordsPerFile`; 0 =
      * no cap). With [[sortOrder]] set, the cap is what turns the sort into
      * range-SLICED files — disjoint per-file bounds the planner prunes. */
    targetFileRows: Long = 0L,
    /** NAMED TAGS (Iceberg refs analog): tag name → table version. A tag is
      * an immutable named pointer to a retained snapshot — [[LakeTable
      * .expire]] keeps tagged versions (metadata AND the data files they
      * reference) regardless of the keep-last window, [[LakeTable.readAt]]
      * and SQL `VERSION AS OF '<tag>'` resolve names, and tags survive
      * [[LakeTable.rollback]] (they are refs on the history, not table
      * state). Tags live on the HEAD snapshot only — like Iceberg's refs in
      * the current table metadata — so every commit path carries them
      * forward. */
    tags: Map[String, Long] = Map.empty,
    /** lowercase names of columns DROPPED from the schema while data files
      * written before the drop may still carry their values (the format is
      * name-based — no Iceberg field-id indirection — so re-introducing a
      * dropped name would RESURRECT old values from any un-rewritten file).
      * [[LakeTable.addColumns]] and the merge-batch implicit evolution both
      * refuse names on this ledger; [[LakeTable.rebucket]] rewrites every
      * file and clears it. */
    droppedCols: Seq[String] = Nil)

/** Iceberg-style managed table built from scratch (SURVEY.md §7.3; no
  * Iceberg/Delta jars exist in this environment, by design).
  *
  * Layout: `<root>/data/commit-<v>/bucket=<i>/` parquet files +
  * `<root>/meta/v<N>.json` + `<root>/meta/VERSION` (current version number,
  * swapped by atomic rename — the JVM translation of the reference's
  * temp-file-then-rename publish, sqlite.rs:446-451).
  *
  * The table is hash-bucketed by key: `bucket = pmod(xxhash64(keys), B)`.
  * MERGE is copy-on-write per bucket — only buckets containing incoming
  * keys are rewritten; untouched buckets carry their files forward. At
  * 100 TB / 10^10 events this is what keeps incremental batches cheap: a
  * delta touching k% of the keyspace rewrites ≈k% of buckets (choose B so a
  * bucket ≈ a few GB), and both sides of the upsert-join arrive partitioned
  * by the same function, so the combine is a per-bucket local merge, never a
  * full-table shuffle.
  *
  * Exactly-once: each merge advances its writer's `(app, seq)` watermark in
  * the snapshot before the pointer swap; a re-delivered batch (foreachBatch
  * retry after checkpoint recovery) is a no-op. One commit per version is
  * ENFORCED (CREATE_NEW on `v<N+1>.json`), so racing writers cannot both
  * publish blindly — the loser REBASES when the interleaving is provably
  * safe (maintenance commits, or CONCURRENT MERGES touching a disjoint
  * bucket set — hash-bucketing makes bucket disjointness ⇔ key
  * disjointness, so sharded ingest writers each using their own txn app id
  * commit concurrently, Iceberg-concurrent-append-style) and fails loudly
  * otherwise (overlapping-bucket merges must rerun).
  * Schema evolution: new columns in a batch are added as nullable columns;
  * old files read through the evolved schema yield nulls.
  *
  * Old versions are retired with [[expire]]: metadata older than K versions
  * is deleted and `commit-<v>` directories no longer referenced by any
  * retained snapshot are garbage-collected.
  */
final class LakeTable private (
    val spark: SparkSession,
    val root: String) {

  import LakeTable._

  // Storage-partitioned planning is enabled SESSION-WIDE the moment a lake
  // table is opened: these confs only change plans for scans that REPORT
  // KeyGroupedPartitioning (ours do, built-in file scans don't), and the
  // DataFrames this class returns are LAZY — a caller's .select/.count
  // builds a fresh physical plan outside any scoped conf window, which
  // would silently drop the zero-shuffle shapes (changelog reads, merge
  // joins) the engine promises. withSpjConfs still scopes the
  // shuffle-partition cap per operation.
  spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
  spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
  // Timestamps as parquet-standard annotated int64 micros instead of the
  // legacy INT96 default: INT96 column chunks carry NO statistics, so a
  // TIMESTAMP order column (the natural CDC cutoff filter) could never
  // harvest file bounds for planning-time skipping. Session-wide like the
  // SPJ confs above (documented side effect, README): Spark reads both
  // encodings transparently, and files written before a table was opened
  // simply have no ts bounds — never pruned, still correct.
  spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

  val BucketCol = "_gbucket"
  val SubSplitCol = "_gsubsplit"
  /** merge-internal marker: 1 on batch rows, max()'d per key group — its
    * sum over the merged output = distinct batch keys = upserts, counted on
    * the write job itself (observed metric) instead of a count_distinct
    * stats pass */
  val SrcFlagCol = "_ghasbatch"
  /** clustering's scratch sort key: the materialized z-value */
  private val ZValCol = "__graft_zval"

  /** The plan the last merge from this handle ran (specs, benches and
    * observability). Volatile: the supported stream+maintenance pattern
    * reads table state from more than one thread. Reset at merge entry, so
    * a replayed (exactly-once no-op) merge reads as None. */
  @volatile private[graft] var lastMergePlan: Option[MergePlan] = None

  /** Route and salting pin for this handle's merges — specs and A/B
    * harnesses only. No env var, session conf or SQL reaches it, and the
    * handles `LakeCatalog`/`LakeDml` open never set it. */
  @volatile private[graft] var planPin: MergePlan.Pin = MergePlan.Pin()

  def currentVersion(): Long = LakeTable.currentVersion(root)

  def snapshot(): TableSnapshot = readSnapshot(Paths.get(root), currentVersion())

  def schema: StructType = StructType.fromDDL(snapshot().schemaDdl)

  /** Current table state as a DataFrame (all committed files, evolved
    * schema). Buckets carrying merge-on-read layers are resolved with the
    * table's LWW rule on the fly; clean (copy-on-write) buckets stream
    * straight from their files with no extra work. On a table with a
    * tombstone column, deleted keys are hidden (their tombstones stay in
    * stored state so out-of-order stale rows cannot resurrect them). */
  def read(): DataFrame = {
    val s = snapshot()
    visible(s, readSnapshotDF(s))
  }

  /** TIME TRAVEL: the table as of `version`. Any version still inside the
    * [[expire]] retention window is readable; its snapshot pins the exact
    * file set, so the result is stable even as newer merges land. */
  def readAt(version: Long): DataFrame = {
    val s = retainedSnapshot(version)
    visible(s, readSnapshotDF(s))
  }

  /** [[readAt]]'s resolved rows with tombstone winners KEPT — the changelog
    * of a window from an empty table to `version` (the change stream's
    * initial snapshot load once v0 has been expired). */
  private[tables] def resolvedAt(version: Long): DataFrame =
    readSnapshotDF(retainedSnapshot(version))

  private def retainedSnapshot(version: Long): TableSnapshot = {
    require(Files.exists(Paths.get(root, "meta", s"v$version.json")),
      s"version $version is not retained (expired or never existed) at $root")
    readSnapshot(Paths.get(root), version)
  }

  /** Hide tombstone winners from a RESOLVED row set (must run after LWW
    * resolution — filtering layers first would let an older live row win).
    * No-op on upsert-only tables. */
  private def visible(s: TableSnapshot, resolved: DataFrame): DataFrame =
    s.tombstoneCol.fold(resolved)(c => resolved.filter(!coalesce(col(c), lit(false))))

  private def readSnapshotDF(s: TableSnapshot): DataFrame =
    readBucketsDF(s, s.bucketFiles.keys)

  /** Resolved rows of `buckets`: clean buckets as one plain parquet read
    * of their files that pass `keepClean`, dirty ones through
    * [[morResolvedDF]]. `narrow` is applied to both sides BELOW the LWW
    * resolve, so it must be a key predicate (those commute with per-key
    * resolution and push into the parquet scan, and into the bucket scan's
    * own file skipping). */
  private def readBucketsDF(s: TableSnapshot, buckets: Iterable[Int],
      narrow: DataFrame => DataFrame = identity,
      keepClean: String => Boolean = _ => true): DataFrame = {
    val schema = StructType.fromDDL(s.schemaDdl)
    val (dirty, clean) = buckets.toSeq.distinct.sorted.partition(s.morBuckets.toSet)
    val cleanFiles = clean.flatMap(b => s.bucketFiles.getOrElse(b, Nil)).filter(keepClean)
      .map(rel => LakeTable.dataPath(root, rel))
    val cleanDF = narrow(
      if (cleanFiles.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(cleanFiles: _*))
    if (dirty.isEmpty) cleanDF
    else cleanDF.unionByName(morResolvedDF(s, dirty, narrow))
  }

  /** ZERO-SHUFFLE resolve of dirty (merge-on-read) buckets: the layers of a
    * bucket are co-located by construction, so LWW resolution grouped on
    * `(keys…, bucket)` over the partitioning-reporting scan plans NO
    * exchange — each dirty bucket is one task that reads its layers and
    * resolves in place (the same shape as [[compactBuckets]]). The previous
    * form (plain parquet read + keys-only dedup) hashed EVERY dirty-bucket
    * row through an exchange on every read — at a MOR-heavy 100 TB stream
    * with maxLayers of debt, that re-shuffles the whole dirty region per
    * read. */
  private def morResolvedDF(s: TableSnapshot, dirtySorted: Seq[Int],
      narrow: DataFrame => DataFrame = identity): DataFrame =
    Dedup.latestByKey(narrow(bucketScanDF(s, dirtySorted)), s.keyCols :+ BucketCol, s.orderCols)
      .drop(BucketCol)

  /** CHANGELOG READ (CDC egress, ≙ Iceberg incremental scan): every row
    * NEW OR UPDATED between two retained versions — the rows a downstream
    * consumer must re-process. On a table with a tombstone column, DELETES
    * SURFACE here as rows with the tombstone flag set (they are hidden from
    * [[read]] but are changes a consumer must apply); a later
    * [[purgeTombstones]] is storage reclamation, not a logical change, and
    * emits nothing.
    *
    * CONTRACT: change detection is keyed on the (keys…, orderCols…) tuple —
    * the LWW ordering. A writer must bump the ordering columns for an
    * update to be observable here (a rewrite carrying an identical ordering
    * tuple but a different payload does not surface), which is the same
    * contract the merge itself applies: such a rewrite may or may not win
    * the LWW resolution, so its payload was never durably promised.
    *
    * Scale shape (zero shuffles at any table size):
    *  1. metadata-only bucket pruning — a bucket whose file list is
    *     IDENTICAL in both snapshots cannot have changed; only differing
    *     buckets are read AT ALL (a delta touching k% of buckets reads k%
    *     of the table, twice);
    *  2. both sides come from the partitioning-reporting scan pinned to
    *     their version, MOR layers LWW-resolved in place (the grouping
    *     rides the scan partitioning);
    *  3. changed rows = new-side LEFT ANTI old-side on
    *     (keys…, orderCols…, bucket) — a storage-partitioned join between
    *     two scans of the SAME bucket layout: Catalyst aligns them with no
    *     exchange on either side.
    */
  def readChanges(fromVersion: Long, toVersion: Long,
      allowPurgedWindow: Boolean = false): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val oldSnap = retainedSnapshot(fromVersion)
    val newSnap = retainedSnapshot(toVersion)
    // a tombstone PURGE inside the window removed delete markers a lagging
    // consumer has not seen — its deletes can no longer surface here, so a
    // window spanning a purge silently loses them. Fail loudly unless the
    // caller asserts every consumer of this window passed the purge point.
    require(allowPurgedWindow ||
      newSnap.totals.getOrElse("tombstone_purges", 0L) ==
        oldSnap.totals.getOrElse("tombstone_purges", 0L),
      s"changelog window [$fromVersion, $toVersion] spans a tombstone purge: " +
        "deletes purged inside the window cannot surface to this consumer. " +
        "Read up to the pre-purge version first, or purge only after every " +
        "changelog consumer has passed the deletes' versions " +
        "(readChanges(from, to, allowPurgedWindow = true) or the change " +
        "stream's allowPurgedWindow=true option overrides; the typed feed " +
        "is purge-safe)")
    val newSchema = StructType.fromDDL(newSnap.schemaDdl)
    // across a rebucket boundary the bucket ids of the SAME key differ
    // between the two layouts: bucket-diff pruning and bucket-aligned
    // joining are both meaningless — fall back to a logical (key, ordering)
    // anti-join over full reads (correct, one shuffle per side)
    // null-SAFE equality throughout: a NULL key/ordering value must match
    // its old-side self, or unchanged rows with nulls would reappear as
    // "changed" on every call (left_anti emits left columns only)
    def antiCond(left: String, right: String, cols: Seq[String],
        plainEq: Seq[String] = Nil) =
      (cols.map(c => col(s"$left.$c") <=> col(s"$right.$c")) ++
        plainEq.map(c => col(s"$left.$c") === col(s"$right.$c"))).reduce(_ && _)
    if (oldSnap.numBuckets != newSnap.numBuckets) {
      val newDF = readSnapshotDF(newSnap)
      val oldAligned = {
        val df = readSnapshotDF(oldSnap)
        df.select((newSnap.keyCols ++ newSnap.orderCols).map { c =>
          if (df.columns.contains(c)) col(c).cast(newSchema(c).dataType).as(c)
          else lit(null).cast(newSchema(c).dataType).as(c)
        }: _*)
      }
      return newDF.alias("n").join(oldAligned.alias("o"),
        antiCond("n", "o", newSnap.keyCols ++ newSnap.orderCols), "left_anti")
    }
    // 1. prune: identical file lists ⇒ bucket untouched in the range
    val changed = newSnap.bucketFiles.keys.filter { b =>
      newSnap.bucketFiles.getOrElse(b, Nil) != oldSnap.bucketFiles.getOrElse(b, Nil)
    }.toSeq.sorted
    if (changed.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], newSchema)
    def side(s: TableSnapshot): DataFrame = {
      val scan = bucketScanDF(s, changed)
      // align the (possibly narrower) old schema onto the new one so the
      // anti-join columns line up; Project preserves the partitioning
      val aligned = scan.select(newSchema.fieldNames.toSeq.map { c =>
        if (scan.columns.contains(c)) col(c).cast(newSchema(c).dataType).as(c)
        else lit(null).cast(newSchema(c).dataType).as(c)
      } :+ col(BucketCol): _*)
      if (changed.exists(s.morBuckets.contains))
        Dedup.latestByKey(aligned, s.keyCols :+ BucketCol, s.orderCols)
      else aligned
    }
    // the bucket column joins with plain equality (non-null by
    // construction, and it must stay a direct key so the scans'
    // KeyGroupedPartitioning aligns); data columns null-safely. Both sides
    // report the same KeyGroupedPartitioning, so no exchange is planned
    // whatever the session's shuffle-partition count, and the session-wide
    // SPJ confs (set at table construction) keep this shape however the
    // caller derives or re-plans the lazy result.
    side(newSnap).alias("n")
      .join(side(oldSnap).alias("o"),
        antiCond("n", "o", newSnap.keyCols ++ newSnap.orderCols, plainEq = Seq(BucketCol)),
        "left_anti")
      .drop(BucketCol)
  }

  /** TYPED CHANGELOG (≙ Delta Change Data Feed): every row-level change
    * between two retained versions, classified in a `_change_type` column —
    *
    *  - `insert`           — the key had no live winner at `fromVersion`
    *                         (absent, or shadowed by a tombstone);
    *  - `update_preimage`  — the OLD winner row of a key whose LWW tuple
    *                         changed (emit-then-retract consumers subtract
    *                         this row…);
    *  - `update_postimage` — …and add this one;
    *  - `delete`           — the old winner of a key whose new winner is a
    *                         tombstone (the payload is the DELETED row — the
    *                         preimage a consumer must retract — not the
    *                         tombstone marker).
    *
    * This is what downstream INCREMENTAL AGGREGATION needs: [[readChanges]]
    * emits new winners only (no retractions), so a consumer can re-merge
    * state but cannot maintain a SUM/COUNT; the typed feed carries exact
    * preimages. Unlike [[readChanges]], a window spanning a tombstone PURGE
    * is safe here: a key whose stored rows vanished entirely inside the
    * window surfaces as `delete` with its pre-purge winner (synthesized from
    * the old side), so no guard is needed.
    *
    * Scale shape: identical to [[readChanges]] — metadata bucket-diff
    * pruning, both sides LWW-resolved riding the partitioning-reporting
    * scan, then ONE storage-partitioned FULL-OUTER join per changed bucket
    * (zero exchanges on either side; the same join shape as the merge
    * itself) classified and exploded in place. Across a rebucket boundary it
    * falls back to a logical key join (one shuffle per side, correct).
    */
  def readChangesTyped(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val oldSnap = retainedSnapshot(fromVersion)
    val newSnap = retainedSnapshot(toVersion)
    val newSchema = StructType.fromDDL(newSnap.schemaDdl)
    val keys = newSnap.keyCols

    def align(df: DataFrame): DataFrame =
      df.select(newSchema.fieldNames.toSeq.map { c =>
        if (df.columns.contains(c)) col(c).cast(newSchema(c).dataType).as(c)
        else lit(null).cast(newSchema(c).dataType).as(c)
      } ++ df.columns.toSeq.filter(_ == BucketCol).map(col): _*)

    // one winner row per key per side, packed into a struct so the join's
    // output stays unambiguous; `extraKey` keeps the bucket a join key on
    // the storage-partitioned path
    def pack(winners: DataFrame, as: String, extraKey: Seq[String]): DataFrame =
      winners.select((keys ++ extraKey).map(col) :+
        struct(newSchema.fieldNames.toSeq.map(col): _*).as(as): _*)

    def classified(joined: DataFrame): DataFrame = {
      val o = col("_orow")
      val n = col("_nrow")
      def live(s: Column) = s.isNotNull &&
        newSnap.tombstoneCol.fold(lit(true))(tc => !coalesce(s.getField(tc), lit(false)))
      def tomb(s: Column) = s.isNotNull &&
        newSnap.tombstoneCol.fold(lit(false))(tc => coalesce(s.getField(tc), lit(false)))
      val sameTuple = newSnap.orderCols.map(c => o.getField(c) <=> n.getField(c))
        .reduce(_ && _)
      def c(t: String, row: Column) =
        struct(lit(t).as("_change_type"), row.as("_row"))
      // no `otherwise`: unmatched keys (tuple unchanged, tombstone→tombstone)
      // yield NULL, and explode() of a null array emits zero rows
      val changes =
        when(live(n) && (o.isNull || tomb(o)), array(c("insert", n)))
          .when(live(o) && live(n) && !sameTuple,
            array(c("update_preimage", o), c("update_postimage", n)))
          .when(live(o) && (n.isNull || tomb(n)), array(c("delete", o)))
      joined.select(explode(changes).as("_c"))
        .select(col("_c._row.*"), col("_c._change_type").as("_change_type"))
    }

    if (oldSnap.numBuckets != newSnap.numBuckets) {
      // rebucket inside the window: bucket alignment is meaningless — join
      // the fully-resolved sides logically on the keys
      val o = pack(align(readSnapshotDF(oldSnap)), "_orow", Nil).alias("o")
      val n = pack(align(readSnapshotDF(newSnap)), "_nrow", Nil).alias("n")
      val cond = keys.map(k => col(s"n.$k") <=> col(s"o.$k")).reduce(_ && _)
      return classified(n.join(o, cond, "full_outer"))
    }
    val changed = newSnap.bucketFiles.keys.filter { b =>
      newSnap.bucketFiles.getOrElse(b, Nil) != oldSnap.bucketFiles.getOrElse(b, Nil)
    }.toSeq.sorted
    if (changed.isEmpty) {
      val empty = StructType(newSchema.fields :+
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = false))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty)
    }
    def side(s: TableSnapshot, as: String): DataFrame = {
      val aligned = align(bucketScanDF(s, changed))
      val winners =
        if (changed.exists(s.morBuckets.contains))
          Dedup.latestByKey(aligned, s.keyCols :+ BucketCol, s.orderCols)
        else aligned
      pack(winners, as, Seq(BucketCol))
    }
    val n = side(newSnap, "_nrow").alias("n")
    val o = side(oldSnap, "_orow").alias("o")
    val cond = (keys.map(k => col(s"n.$k") <=> col(s"o.$k")) :+
      (col(s"n.$BucketCol") === col(s"o.$BucketCol"))).reduce(_ && _)
    classified(n.join(o, cond, "full_outer"))
  }

  /** STREAMING CHANGELOG (CDC egress as a Structured Streaming source —
    * ≙ Delta CDF / a binlog tail of this table): an unbounded stream whose
    * micro-batches are consecutive [[readChanges]] windows, offsets = table
    * versions, checkpoint-resumable; each micro-batch's rows come from one
    * [[readChanges]] (or, typed, [[readChangesTyped]]) call. See
    * [[graft.tables.dsv2.LakeCdfSource]] for the options.
    *
    * {{{
    *   table.readChangeStream()
    *     .writeStream.option("checkpointLocation", ckpt)
    *     .foreachBatch((df, id) => downstream.merge(df, s"c-\$id")).start()
    * }}}
    */
  def readChangeStream(options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.format(graft.tables.dsv2.LakeCdfSource.Name)
      .option("root", root).options(options).load()

  /** LOGICAL row count (rows a full [[read]] would return). Free when no
    * merge-on-read debt is outstanding; otherwise one small job over the
    * dirty buckets only (their stored counts include shadowed versions).
    * `snapshot().rowCount` stays the STORED count by contract. */
  def logicalRowCount(): Long = {
    val s = snapshot()
    if (s.tombstoneCol.isDefined) {
      // tombstone winners are stored but not visible. Clean buckets hold
      // RESOLVED winners, so their visible count is the stored count minus
      // a flag-column-only scan (pruned — no payload bytes, no resolve);
      // only dirty buckets pay the (zero-shuffle) LWW resolve.
      val tc = s.tombstoneCol.get
      val dirty = s.morBuckets.toSet
      val cleanRows = s.bucketRows.collect { case (b, n) if !dirty.contains(b) => n }.sum
      val cleanFiles = s.bucketFiles.collect { case (b, fs) if !dirty.contains(b) => fs }
        .flatten.map(rel => LakeTable.dataPath(root, rel)).toSeq
      val schema = StructType.fromDDL(s.schemaDdl)
      val cleanTombs =
        if (cleanFiles.isEmpty) 0L
        else spark.read.schema(schema).parquet(cleanFiles: _*)
          .filter(coalesce(col(tc), lit(false))).count()
      val dirtyVisible =
        if (s.morBuckets.isEmpty) 0L
        else visible(s, morResolvedDF(s, s.morBuckets.sorted)).count()
      cleanRows - cleanTombs + dirtyVisible
    } else if (s.morBuckets.isEmpty) s.rowCount
    else {
      val dirty = s.morBuckets.toSet
      val cleanRows = s.bucketRows.collect { case (b, n) if !dirty.contains(b) => n }.sum
      // logical rows in a dirty bucket = its distinct key groups; the
      // distinct's grouping includes the bucket so it rides the scan's
      // partitioning (zero exchange), and column pruning shrinks the
      // parquet read to the key columns alone — no payload bytes touched
      cleanRows + bucketScanDF(s, s.morBuckets.sorted)
        .select((s.keyCols :+ BucketCol).map(col): _*)
        .distinct().count()
    }
  }

  /** Keyed POINT READ with bucket pruning (≙ the reference SQLite sink's
    * PK lookup, sqlite.rs:218-233): the visible winner of one key, read
    * from ONLY the bucket the table's bucket function puts it in
    * (1/numBuckets of the table), merge-on-read layers resolved iff that
    * bucket is dirty. `keyEquals` must bind every key column.
    *
    * When the distributed read of the bucket would be ONE task (the rule
    * is on [[keyedRead]]: a dirty bucket within
    * `spark.sql.files.maxPartitionBytes`, or clean files Spark's file-split
    * planning packs into one split), its files are read on the DRIVER
    * during this call and the result is a local DataFrame: collecting it
    * starts no Spark job. Otherwise the result is the lazy distributed
    * plan of [[read]], narrowed to the bucket and the key. Either way the
    * snapshot is pinned when this is called; on the driver path its files
    * are read then too. */
  def read(keyEquals: Map[String, Any]): DataFrame = {
    val s = snapshot()
    require(s.keyCols.forall(keyEquals.contains),
      s"point read must bind every key column ${s.keyCols}")
    keyedRead(s, Seq(s.keyCols.map(keyEquals)))
  }

  /** BATCH point read: the visible winners of a SET of key values on a
    * single-key table, reading only the buckets the values hash into; what
    * SQL `DELETE … WHERE k IN (…)` resolves winners through. Same rule as
    * [[read(keyEquals)]]: when the distributed read of the touched buckets
    * would be one task (so values in two or more buckets always take the
    * distributed plan), their files are read on the driver at call time;
    * otherwise the result is a lazy distributed plan. */
  def readKeys(values: Seq[Any]): DataFrame = {
    val s = snapshot()
    require(s.keyCols.size == 1, s"readKeys needs a single-key table, got ${s.keyCols}")
    keyedRead(s, values.map(Seq(_)))
  }

  /** Visible winners of the key tuples `keys` (one value per key column, in
    * `keyCols` order) in snapshot `s`, reading only the buckets they hash
    * into and, in those, only the files whose snapshot bounds may hold one
    * of the keys ([[FileStats.mayMatch]], the bucket scan's file skipping;
    * a key predicate is safe to skip by in dirty and tombstone buckets too,
    * since every row of a key, tombstones included, carries the key). A
    * tuple holding a null matches nothing, as SQL equality does.
    *
    * The files are read on the driver exactly when their distributed read
    * would run as ONE task, so serving them locally gives up no parallelism
    * and saves the job: a single dirty bucket whose kept files total at
    * most `spark.sql.files.maxPartitionBytes` (the bucket scan resolves a
    * dirty bucket in one task), or clean files that Spark's own file-split
    * planning packs into one split ([[oneCleanSplit]]). */
  private def keyedRead(s: TableSnapshot, keys: Seq[Seq[Any]]): DataFrame = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.sources
    val schema = StructType.fromDDL(s.schemaDdl)
    val types = s.keyCols.map(schema(_).dataType)
    val live = keys.filterNot(_.contains(null))
    val catalystKeys = live.map(_.zip(types).map { case (v, dt) => Literal.create(v, dt).value })
    def scalaValue(v: Any, dt: DataType) = CatalystTypeConverters.convertToScala(v, dt)
    val pushed: sources.Filter =
      if (live.isEmpty) sources.AlwaysFalse()
      else if (types.size == 1)
        sources.In(s.keyCols.head, catalystKeys.map(t => scalaValue(t.head, types.head)).toArray)
      else catalystKeys.map(_.zip(s.keyCols).zip(types).map { case ((v, k), dt) =>
        sources.EqualTo(k, scalaValue(v, dt)): sources.Filter
      }.reduce(sources.And)).reduce(sources.Or)
    val keep: String => Boolean =
      rel => s.fileStats.get(rel).forall(FileStats.mayMatch(Array(pushed), _, schema))
    val buckets = live.map(LakeTable.bucketOfKey(_, types, s.numBuckets)).distinct.sorted
    val files = buckets.map(b => b -> s.bucketFiles.getOrElse(b, Nil).filter(keep))
    val hadoopConf = spark.sessionState.newHadoopConf()
    val lens = graft.tables.dsv2.LakeBucketSource.statLengths(root, files.flatMap(_._2), hadoopConf)
    val (dirty, clean) = files.partition { case (b, _) => s.morBuckets.contains(b) }
    val oneTask =
      if (dirty.isEmpty) oneCleanSplit(clean.flatMap(_._2), lens)
      else dirty.size == 1 && clean.forall(_._2.isEmpty) &&
        dirty.head._2.map(lens).sum <= spark.sessionState.conf.filesMaxPartitionBytes
    if (oneTask) driverKeyedRead(s, schema, files, catalystKeys, pushed, lens, hadoopConf)
    else {
      val pred =
        if (s.keyCols.size == 1) col(s.keyCols.head).isin(live.map(t => lit(t.head)): _*)
        else live.map(t => s.keyCols.zip(t).map { case (k, v) => col(k) === lit(v) }
          .reduce(_ && _)).reduce(_ || _)
      visible(s, readBucketsDF(s, buckets, _.filter(pred), keep))
    }
  }

  /** Whether a parquet scan of the clean files `rels` would be one task
    * (or none): Spark's own split planning, the calls a file scan makes,
    * on the stat'd lengths. Each file costs its length plus
    * `spark.sql.files.openCostInBytes`, a split holds at most
    * min(`maxPartitionBytes`, max(openCost, total cost / parallelism)) and
    * longer files are cut, so above parallelism 1 one split means one file
    * within that bound. */
  private def oneCleanSplit(rels: Seq[String], lens: Map[String, Long]): Boolean =
    rels.isEmpty || {
      import org.apache.hadoop.fs.{FileStatus, Path}
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.execution.PartitionedFileUtil
      import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata, PartitionDirectory}
      val statuses = rels.map(rel =>
        new FileStatus(lens(rel), false, 0, 0L, 0L, new Path(LakeTable.dataPath(root, rel))))
      val maxSplit = FilePartition.maxSplitBytes(spark,
        Seq(PartitionDirectory(InternalRow.empty, statuses.toArray)))
      val splits = statuses.flatMap(st => PartitionedFileUtil.splitFiles(
        FileStatusWithMetadata(st), st.getPath, isSplitable = true, maxSplit, InternalRow.empty))
      FilePartition.getFilePartitions(spark, splits.sortBy(-_.length), maxSplit).size == 1
    }

  /** [[keyedRead]] on the driver: Spark's own parquet reader over each
    * bucket's kept `files` in bucket file order, through the snapshot
    * schema (a column added after a file was written reads as null), with
    * the key filter `pushed` for row-group pruning. Rows of the wanted keys
    * (`keys` as Catalyst values) are kept; in a dirty bucket each key
    * resolves with [[read]]'s rule, `max_by` over `orderCols` in Catalyst
    * ordering, where on equal tuples the LATER row in file order wins.
    * Tombstone winners are then hidden. */
  private def driverKeyedRead(s: TableSnapshot, schema: StructType,
      files: Seq[(Int, Seq[String])], keys: Seq[Seq[Any]],
      pushed: org.apache.spark.sql.sources.Filter, lens: Map[String, Long],
      hadoopConf: org.apache.hadoop.conf.Configuration): DataFrame = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    def ref(c: String) = {
      val i = schema.fieldIndex(c)
      BoundReference(i, schema(i).dataType, schema(i).nullable)
    }
    // keys compare as UnsafeRows: byte equality is Spark's own key
    // equality (binary by content, -0.0 and NaN normalized by the writer)
    val keyOf = UnsafeProjection.create(s.keyCols.map(ref))
    val keyRow = UnsafeProjection.create(s.keyCols.zipWithIndex.map { case (c, i) =>
      BoundReference(i, schema(c).dataType, nullable = true) })
    val wanted = keys.map(t => keyRow(InternalRow.fromSeq(t)).copy()).toSet
    // built only when there are files to read
    lazy val reader = new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
      new StructType(), schema, Seq(pushed), Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf)
    val copyRow = UnsafeProjection.create(schema)
    val ordering = new InterpretedOrdering(s.orderCols.map(c => SortOrder(ref(c), Ascending)))
    val rows = files.flatMap { case (b, rels) =>
      val resolve = s.morBuckets.contains(b)
      val hits = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      val winners = scala.collection.mutable.LinkedHashMap.empty[UnsafeRow, InternalRow]
      rels.foreach { rel =>
        val len = lens(rel)
        val it = reader(PartitionedFile(InternalRow.empty,
          org.apache.spark.paths.SparkPath.fromPathString(LakeTable.dataPath(root, rel)),
          0L, len, Array.empty[String], 0L, len, Map.empty))
        try it.foreach { row =>
          val k = keyOf(row)
          if (wanted.contains(k)) {
            val r = copyRow(row).copy()
            if (!resolve) hits += r
            else if (winners.get(k).forall(ordering.compare(r, _) >= 0)) winners(k.copy()) = r
          }
        } finally it match { case c: java.io.Closeable => c.close(); case _ => }
      }
      if (resolve) winners.values else hits
    }
    val visibleRows = s.tombstoneCol.fold(rows) { c =>
      val i = schema.fieldIndex(c)
      rows.filterNot(r => !r.isNullAt(i) && r.getBoolean(i))
    }
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    spark.createDataFrame(
      visibleRows.map(toRow(_).asInstanceOf[org.apache.spark.sql.Row]).asJava, schema)
  }

  /** CO-LOCATED READ: the same resolved current state as [[read]], but
    * served from the partitioning-reporting DSv2 scan with the bucket
    * column (`_gbucket`) RETAINED, so Catalyst still knows the rows are
    * clustered by the table's bucket function. Joining two same-layout
    * tables' `readBucketed()` on `(keys…, _gbucket)` storage-partition-joins
    * with ZERO exchange on either side — see [[colocatedJoin]]. The LWW
    * resolve runs uniformly over every bucket (clean buckets are already
    * one-row-per-key, so the agg is a per-bucket no-op pass that rides the
    * scan's partitioning without shuffling; dirty buckets resolve exactly
    * as in [[read]]). */
  def readBucketed(): DataFrame = {
    val s = snapshot()
    val scan = bucketScanDF(s, 0 until s.numBuckets)
    // CLEAN table (no merge-on-read debt): every bucket is post-LWW, one
    // row per key — serve the scan DIRECTLY. Besides skipping a no-op agg,
    // this leaves the scan immediately under any join the caller writes, so
    // Catalyst's dynamic partition pruning can hand the join's key set to
    // the scan at runtime (SupportsRuntimeFiltering: non-matching buckets
    // do zero I/O). With MOR debt the LWW resolve (which still rides the
    // scan partitioning, no exchange) sits in between and DPP does not
    // apply — compact() to restore prunability.
    val resolved =
      if (s.morBuckets.isEmpty) scan
      else Dedup.latestByKey(scan, s.keyCols :+ BucketCol, s.orderCols)
    visible(s, resolved)
  }

  /** CO-LOCATED JOIN of two same-layout lake tables (≙ Iceberg
    * storage-partitioned join / Hive bucket-map-join): both sides come from
    * their partitioning-reporting scans, so Catalyst aligns them bucket by
    * bucket and plans NO exchange on either side — at a 100 TB fact table
    * joined with a 10 TB enrichment table bucketed the same way, this is
    * the difference between streaming both sides task-locally and shuffling
    * 110 TB.
    *
    * Requirements (validated): identical bucket counts and positionally
    * identical key column TYPES (the bucket function `pmod(xxhash64(keys),
    * B)` hashes values, so equal values of equal types land in equal
    * buckets; key NAMES may differ). `joinType` must be left-preserving
    * (`inner`, `left`/`left_outer`, `left_semi`/`semi`, `left_anti`/`anti`)
    * so the left key columns remain the join's key columns in the output.
    *
    * Output: the left table's columns, then (for non-semi/anti joins) the
    * right table's non-key payload columns — suffixed `_r` where the name
    * collides with a left column. Key equality is null-safe (`<=>`), so
    * null-keyed rows join like the merge path treats them (one LWW group),
    * plus bucket equality (`===`, non-null) which is what the
    * storage-partitioned planner keys on. */
  def colocatedJoin(other: LakeTable, joinType: String = "inner"): DataFrame = {
    val ls = snapshot(); val rs = other.snapshot()
    require(ls.numBuckets == rs.numBuckets,
      s"colocatedJoin needs identical bucket counts: ${ls.numBuckets} vs ${rs.numBuckets} " +
        s"(rebucket() one side first)")
    require(ls.keyCols.length == rs.keyCols.length,
      s"colocatedJoin needs the same key arity: ${ls.keyCols} vs ${rs.keyCols}")
    val lSchema = StructType.fromDDL(ls.schemaDdl)
    val rSchema = StructType.fromDDL(rs.schemaDdl)
    ls.keyCols.zip(rs.keyCols).foreach { case (lk, rk) =>
      require(lSchema(lk).dataType == rSchema(rk).dataType,
        s"colocatedJoin key type mismatch: $lk ${lSchema(lk).dataType} vs " +
          s"$rk ${rSchema(rk).dataType} — different types hash to different buckets")
    }
    val leftPreserving =
      Set("inner", "left", "left_outer", "leftouter", "semi", "left_semi",
        "leftsemi", "anti", "left_anti", "leftanti")
    val jt = joinType.toLowerCase.replace(" ", "_")
    require(leftPreserving.contains(jt),
      s"colocatedJoin supports left-preserving join types only, got '$joinType' " +
        "(for right/full-outer semantics, swap the sides / union the anti rows)")
    val left = readBucketed()
    // rename EVERY right column to a reserved temp name first: the two
    // tables may share any column names, and Column-by-DataFrame references
    // across a self-join-like pair are ambiguous otherwise
    val right0 = other.readBucketed()
    val right = right0.columns.foldLeft(right0) {
      (df, c) => df.withColumnRenamed(c, s"_cj_$c")
    }
    val keyCond = ls.keyCols.zip(rs.keyCols)
      .map { case (lk, rk) => left(lk) <=> right(s"_cj_$rk") }
    val cond = (keyCond :+ (left(BucketCol) === right(s"_cj_$BucketCol"))).reduce(_ && _)
    val joined = left.join(right, cond, jt)
    val semiOrAnti = jt.contains("semi") || jt.contains("anti")
    val leftCols = left.columns.filterNot(_ == BucketCol).toSeq
    val rightPayload =
      if (semiOrAnti) Seq.empty
      else rs.keyCols.foldLeft(rSchema.fieldNames.toSeq)((cs, k) => cs.filterNot(_ == k))
    joined.select(leftCols.map(col) ++ rightPayload.map { c =>
      col(s"_cj_$c").as(if (leftCols.contains(c)) s"${c}_r" else c)
    }: _*)
  }

  private def bucketExpr(keyCols: Seq[String], numBuckets: Int) =
    pmod(xxhash64(keyCols.map(col): _*), lit(numBuckets)).cast("int")

  /** Partitioning-reporting scan over `buckets` of snapshot `snap` (DSv2,
    * `KeyGroupedPartitioning(identity(_gbucket))`) — the storage-partitioned
    * read path. Two such scans join with no exchange under the session-wide
    * SPJ confs; a join that shuffles its other side INTO this layout needs
    * [[withSpjConfs]]' shuffle-partition cap around plan + execution. */
  private def bucketScanDF(snap: TableSnapshot, buckets: Seq[Int]): DataFrame =
    spark.read.format(graft.tables.dsv2.LakeBucketSource.Name)
      .option("root", root)
      .option("version", snap.version.toString)
      .option("buckets", buckets.mkString(","))
      .load()

  /** Run `f` with storage-partitioned-join planning enabled (scan-reported
    * KeyGroupedPartitioning honored; the non-aligned side of a join shuffled
    * INTO it). Session confs are restored afterwards — callers outside the
    * merge see their own settings.
    *
    * `scanPartitions` (the bucket count of the participating scan) caps
    * `spark.sql.shuffle.partitions` for the duration: EnsureRequirements
    * picks the candidate shuffle spec with the MOST partitions, so a
    * session whose shuffle-partition count exceeds the scan's bucket count
    * would win the contest for the hash side and silently re-shuffle the
    * TABLE side — the exact plan this path exists to avoid (ties and
    * smaller counts choose the scan's KeyGroupedPartitioning; probed, and
    * pinned in PlanSpec under an oversized session setting). */
  private[graft] def withSpjConfs[A](scanPartitions: Option[Int] = None)(f: => A): A = {
    // the enable confs are session-wide already (set at construction and
    // left on — see the class header); re-assert, never restore
    Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.shuffle.enabled")
      .foreach(k => spark.conf.set(k, "true"))
    val shufKey = "spark.sql.shuffle.partitions"
    // THREAD-SAFE restore: the supported stream+maintenance pattern runs
    // two of these windows concurrently in one session. A naive save/
    // restore pair can interleave so the second thread "restores" the
    // first thread's temporary cap, permanently shrinking the session's
    // shuffle parallelism. Instead every exit restores to a BASELINE
    // captured when no window is active — a race can still briefly cap a
    // concurrent plan (bounded perf blip), but never outlives the windows.
    val lock = LakeTable.spjConfLock
    lock.synchronized {
      var st = LakeTable.spjConfState.get(spark)
      if (st == null) { st = Array[Any](0, None); LakeTable.spjConfState.put(spark, st) }
      if (st(0).asInstanceOf[Int] == 0) st(1) = spark.conf.getOption(shufKey)
      st(0) = st(0).asInstanceOf[Int] + 1
      scanPartitions.foreach { n =>
        val cur = spark.conf.get(shufKey, "200").toInt
        if (cur > n && n > 0) spark.conf.set(shufKey, n.toString)
      }
    }
    try f finally lock.synchronized {
      val st = LakeTable.spjConfState.get(spark)
      st(0) = st(0).asInstanceOf[Int] - 1
      if (st(0).asInstanceOf[Int] == 0) {
        st(1).asInstanceOf[Option[String]] match {
          case Some(v) => spark.conf.set(shufKey, v)
          case None    => spark.conf.unset(shufKey)
        }
        LakeTable.spjConfState.remove(spark) // don't pin stopped sessions
      }
    }
  }

  /** Run `f` (plan construction + execution of one engine operation) with
    * adaptive query execution scoped OFF when the operation is SMALL — see
    * [[MergePlan.SmallOpRows]] for the rationale and the scale gate. No-op
    * for big operations and outside the window. */
  private def withSmallPlanConfs[A](small: Boolean)(f: => A): A =
    if (small) LakeTable.withScopedConf(spark, "spark.sql.adaptive.enabled", "false")(f)
    else f

  /** What [[MergePlan.batchSmall]] needs of `batch` before any of it is
    * read. The optimized plan is built only when there is no row hint; a
    * plan whose estimate cannot be computed has none (NOT small). */
  private def batchSize(batch: DataFrame, rowsHint: Option[Long]): MergePlan.BatchSize =
    if (rowsHint.isDefined) MergePlan.BatchSize(rowsHint)
    else try {
      val plan = batch.queryExecution.optimizedPlan
      MergePlan.BatchSize(None, Some(plan.stats.sizeInBytes),
        plan.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.ObjectProducer]))
    } catch { case _: Exception => MergePlan.BatchSize(None) }

  /** MERGE INTO: LWW upsert of `batch` under exactly-once semantics, on
    * the route [[MergePlan.decide]] picks (recorded in [[lastMergePlan]]).
    *
    * `mor = true` switches this merge to MERGE-ON-READ: the deduped batch
    * is appended as a new LAYER to its buckets instead of rewriting them —
    * write cost ∝ batch size instead of ∝ touched-bucket size (copy-on-write
    * amplification: a delta brushing every bucket rewrites the whole table).
    * Reads resolve layered buckets with the LWW rule until [[compact]]
    * rewrites them; final state is IDENTICAL to copy-on-write merges
    * (spec-proven fold equality). This is the Iceberg-v2 MOR trade: cheap
    * writes, deferred read cost, explicit compaction.
    *
    * CONTRACT: `batch` must be DETERMINISTIC across re-executions. The
    * copy-on-write routes evaluate it twice (touched-bucket stats pass,
    * then the merge write); a batch whose rows differ between the two runs
    * (rand()/LIMIT-over-unordered/sampling sources) could land rows in a
    * bucket the stats pass never saw, whose existing files the commit then
    * replaces without carrying their rows into the rewrite. Deliberately
    * NOT defended here with caching — the stream replay's decode batches
    * are deterministic by construction, and caching the batch measured
    * 2.8× slower on the 12.3M-event replay (BASELINE.md codec matrix:
    * merge-cache 44.1 s vs 15.9 s for the shipped defaults) — but every
    * NON-deterministic entry point must pin its input first (the SQL INSERT
    * bridge localCheckpoints, LakeCatalog).
    *
    * @param batchId   human-readable replay id (lineage key)
    * @param salted    route the in-batch dedup through the two-phase salted
    *                  path (hot-key skew)
    * @param txn       (appId, seq) writer watermark — the SCALABLE
    *                  idempotence mechanism: the batch is a no-op iff
    *                  seq ≤ the app's recorded watermark. Callers replaying
    *                  monotonic streams (foreachBatch batch ids, snapshot
    *                  slots) should always pass it; without it idempotence
    *                  falls back to `batchId ∈ appliedBatches`, which only
    *                  covers the last `retainBatches` batches.
    * @param counterCols extra per-batch counters recorded in lineage; each
    *                  must be a sum/count-style aggregate (they are computed
    *                  per bucket in the stats pass and summed).
    * @param mor       append the batch as a merge-on-read layer
    * @param rowsHint  the batch's row count, when the caller has it (feeds
    *                  the small-op test of the one-job route)
    * @return rows upserted (0 for a re-delivered batch)
    */
  def merge(batch: DataFrame, batchId: String, salted: Boolean = false,
      txn: Option[(String, Long)] = None,
      counterCols: Map[String, Column] = Map.empty,
      mor: Boolean = false,
      rowsHint: Option[Long] = None): Long = {
    lastMergePlan = None
    val snap = snapshot()
    val replayed = txn match {
      case Some((app, seq)) => snap.txns.get(app).exists(_ >= seq)
      case None             => snap.appliedBatches.contains(batchId)
    }
    if (replayed) return 0L // exactly-once no-op

    // --- schema evolution: batch may add new nullable columns ---
    val curSchema = StructType.fromDDL(snap.schemaDdl)
    val newCols = batch.schema.filterNot(f => curSchema.fieldNames.contains(f.name))
    // a batch column whose name was DROPPED would read resurrected values
    // out of every file written before the drop (name-based format, no
    // field ids) — refuse loudly rather than corrupt; rebucket() rewrites
    // all files and clears the ledger
    val resurrected = newCols.map(_.name).filter(n => snap.droppedCols.contains(n.toLowerCase))
    require(resurrected.isEmpty,
      s"batch column(s) ${resurrected.mkString(", ")} reuse a DROPPED column name — " +
        "older data files still carry values under that name and would resurrect " +
        "through reads; pick a new name, or rebucket() to rewrite all files first")
    val evolved = StructType(curSchema.fields ++ newCols.map(_.copy(nullable = true)))
    require(snap.keyCols.forall(batch.columns.contains),
      s"batch missing key columns ${snap.keyCols}")

    val alignedBatch = align(batch, evolved)
    val counterNames = counterCols.keys.toSeq.sorted
    val counterAggs = counterNames.map(n => counterCols(n).cast("long").as(s"_c_$n"))
    val cores = spark.sparkContext.defaultParallelism

    // COW stats pass: one CHEAP job (touched buckets for existing-side
    // pruning, row count, caller counters — plain hash aggregation, no
    // count_distinct/Expand). The upsert count (distinct batch keys) is
    // observed ON the write job instead: the merge aggregation carries
    // max(_ghasbatch) per key group, and its sum over the merged output
    // is exactly the distinct-batch-key count.
    val emptyTable = snap.rowCount == 0L && snap.bucketFiles.values.forall(_.isEmpty)
    val size = batchSize(alignedBatch, rowsHint)
    val stats =
      if (!MergePlan.needsStats(mor, emptyTable)) Array.empty[org.apache.spark.sql.Row]
      else withSmallPlanConfs(MergePlan.batchSmall(size)) {
        alignedBatch
          .groupBy(bucketExpr(snap.keyCols, snap.numBuckets).as(BucketCol))
          .agg(count(lit(1)).as("_nrows"), counterAggs: _*)
          .collect()
      }
    val batchRows = stats.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val statsTouched = batchRows.keys.toSeq.sorted
    // old touched rows from the incrementally-maintained bucketRows (no
    // re-read); the plan and the COW rowCount delta below both need them
    val oldTouchedRows = statsTouched.map(b => snap.bucketRows.getOrElse(b,
      countRows(snap.bucketFiles.getOrElse(b, Nil).map(rel => LakeTable.dataPath(root, rel)),
        curSchema))).sum
    val plan = MergePlan.decide(mor, emptyTable, snap.numBuckets, cores, batchRows,
      oldTouchedRows, salted, size, planPin)
    lastMergePlan = Some(plan)

    // One-job: rows_in + caller counters ride the write plan as observed
    // metrics (CollectMetrics: zero extra scans); touched buckets and the
    // upsert count (= post-dedup rows = distinct batch keys) come from
    // the written files' footers. COW: the write observes the upserts.
    val obs = org.apache.spark.sql.Observation(s"graft-merge-$batchId-${snap.version + 1}")
    val upsertAgg = coalesce(sum(col(SrcFlagCol)), lit(0L)).cast("long").as("_upserts")
    // built inside the write's conf windows: the SPJ plan must be planned
    // under the SPJ confs
    def output(): DataFrame = plan.route match {
      case MergePlan.OneJob =>
        val observed = alignedBatch.observe(obs, count(lit(1)).as("_nrows"), counterAggs: _*)
          .withColumn(BucketCol, bucketExpr(snap.keyCols, snap.numBuckets))
          .withColumn(SubSplitCol,
            pmod(xxhash64(snap.keyCols.map(col): _*), lit(plan.writeFactor)).cast("int"))
        val base =
          if (plan.salted) Dedup.saltedPreAggregate(observed,
            snap.keyCols ++ Seq(BucketCol, SubSplitCol), snap.orderCols,
            numSalts = math.max(16, cores))
          else observed
        // dedup rides the one (bucket, subsplit) exchange exactly like the
        // classic plan; partition count mirrors it too (numBuckets ×
        // writeFactor ≥ waveFactor·cores — fewer, larger sort partitions
        // measurably hurt the narrow-parallelism levels)
        Dedup.latestByKey(
            base.repartition(math.max(1, snap.numBuckets * plan.writeFactor),
              col(BucketCol), col(SubSplitCol)),
            snap.keyCols ++ Seq(BucketCol, SubSplitCol), snap.orderCols)
          .drop(SubSplitCol)
      case MergePlan.SpjCow =>
        // existing side unshuffled (see buildMergedSpj)
        buildMergedSpj(snap, evolved, statsTouched, alignedBatch, plan.salted)
          .observe(obs, upsertAgg)
          .drop(SrcFlagCol)
      case MergePlan.ClassicCow =>
        // ONE-shuffle LWW merge: in-batch dedup and old∪new resolution are
        // one aggregation riding the (bucket, subsplit) repartition — see
        // buildMerged
        val touchedFiles = statsTouched.flatMap(b => snap.bucketFiles.getOrElse(b, Nil))
          .map(rel => LakeTable.dataPath(root, rel))
        val existing =
          if (touchedFiles.isEmpty)
            align(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], curSchema), evolved)
          else align(spark.read.schema(curSchema).parquet(touchedFiles: _*), evolved)
        buildMerged(existing, alignedBatch, snap, statsTouched.size,
            plan.writeFactor, plan.salted, withSrcFlag = true)
          .observe(obs, upsertAgg)
          .drop(SubSplitCol, SrcFlagCol)
    }
    var upserts = 0L
    val committed = stagedCommit(snap, evolved, "commit", snap.sortOrder,
        snap.targetFileRows, statsFirst = snap.sortOrder)(sink =>
      withSmallPlanConfs(plan.small) {
        if (plan.route == MergePlan.SpjCow) withSpjConfs(Some(statsTouched.size))(sink(output()))
        else sink(output())
      }) { staged =>
      val m = obs.get
      val (touched, rowsIn, customCounters) =
        if (plan.route == MergePlan.OneJob) {
          upserts = staged.rows.values.sum
          (staged.files.keys.toSeq.sorted, m("_nrows").asInstanceOf[Long],
            counterNames.map(n => n -> m(s"_c_$n").asInstanceOf[Long]).toMap)
        } else {
          upserts = m("_upserts").asInstanceOf[Long]
          (statsTouched, batchRows.values.sum,
            counterNames.zipWithIndex.map { case (n, i) =>
              n -> stats.map(_.getLong(2 + i)).sum
            }.toMap)
        }
      // --- commit, with OCC rebase over maintenance-only interleavings:
      // the merge's data files were computed against `snap`, but an
      // interleaved COMPACTION changes no logical state, so the same files
      // commit cleanly on top of it — only per-bucket metadata is rebuilt
      // against the current snapshot `s`. Anything non-maintenance
      // (another merge, a rebucket) still fails loudly: single ingest
      // writer by contract. ---
      def buildCommit(s: TableSnapshot): Option[TableSnapshot] = {
        // a COMPACTION interleaving is logically inert for this merge's
        // output, but a tombstone PURGE is not: our files were computed
        // from pre-purge data, and republishing them over a bucket the
        // purge rewrote would resurrect the reclaimed tombstones (undoing
        // the purge and re-emitting its deletes into the changelog). Rare
        // cross-fire — fail loudly and let the caller rerun the merge.
        if (s.totals.getOrElse("tombstone_purges", 0L) !=
              snap.totals.getOrElse("tombstone_purges", 0L) &&
            touched.exists(b =>
              s.bucketFiles.getOrElse(b, Nil) != snap.bucketFiles.getOrElse(b, Nil)))
          throw new java.util.ConcurrentModificationException(
            s"a tombstone purge rewrote buckets merge '$batchId' touched while it " +
              "was in flight; rerun the merge against the purged table")
        val (newBucketFiles, newBucketRows, rowCount, newMorBuckets, newBucketLayers) =
          if (mor) {
            // APPEND the new layer; a bucket becomes dirty (needs read-time
            // resolution) once it holds more than the fresh layer
            val bf = s.bucketFiles ++ staged.files.map { case (b, fs) =>
              b -> (s.bucketFiles.getOrElse(b, Nil) ++ fs)
            }
            val br = s.bucketRows ++ staged.rows.map { case (b, n) =>
              b -> (s.bucketRows.getOrElse(b, 0L) + n)
            }
            val dirty = (s.morBuckets ++
              touched.filter(b => s.bucketFiles.getOrElse(b, Nil).nonEmpty)).distinct.sorted
            val layers = s.bucketLayers ++ staged.files.keys.map { b =>
              val before =
                s.bucketLayers.getOrElse(b, if (s.bucketFiles.getOrElse(b, Nil).isEmpty) 0 else 1)
              b -> (before + 1)
            }
            (bf, br, s.rowCount + staged.rows.values.sum, dirty, layers)
          } else {
            // copy-on-write REPLACES touched buckets (and resolves any of
            // their MOR layers in the same pass). The removed-row count
            // comes from the stored bucket counts of the snapshot being
            // committed AGAINST (equal to the stats fork's oldTouchedRows
            // when s is the original snap).
            val removed = touched.map(b => s.bucketRows.getOrElse(b, 0L)).sum
            (s.bucketFiles -- touched ++ staged.files,
              s.bucketRows -- touched ++ staged.rows,
              s.rowCount - removed + staged.rows.values.sum,
              s.morBuckets.filterNot(touched.contains),
              s.bucketLayers -- touched)
          }

        // --- bounded bookkeeping: retention + rollup ---
        val entry = LineageEntry(
          Map("rows_in" -> rowsIn, "upserts" -> upserts) ++ customCounters,
          touched)
        val keptIds = (s.appliedBatches :+ batchId).takeRight(s.retainBatches)
        val lineageAll = s.lineage + (batchId -> entry)
        val (keptLineage, expired) = lineageAll.partition { case (id, _) => keptIds.contains(id) }
        val rolledTotals = expired.values.foldLeft(
          s.totals.updated("batches", s.totals.getOrElse("batches", 0L))) {
          case (tot, e) =>
            val withBatch = tot.updated("batches", tot.getOrElse("batches", 0L) + 1L)
            e.counters.foldLeft(withBatch) { case (t, (k, v)) => t.updated(k, t.getOrElse(k, 0L) + v) }
        }

        // a DISJOINT concurrent merge may have evolved the schema while this
        // one was in flight (and vice versa) — the committed schema is the
        // UNION, so neither writer's new nullable columns are dropped;
        // either side's files read through it with nulls for missing fields.
        // EXCEPT names on the rebased snapshot's dropped-column ledger: a
        // concurrent DROP COLUMN landed after this merge started, and
        // unioning the stale evolved schema back in would re-introduce the
        // name while un-rewritten files still carry old values under it
        // (resurrection). The drop committed first, so it wins — this
        // merge's files keep the column's bytes, but the schema (like any
        // post-drop file) stops reading through it.
        val sSchema = StructType.fromDDL(s.schemaDdl)
        val unionSchema = StructType(sSchema.fields ++
          evolved.fields.filterNot(f => sSchema.fieldNames.contains(f.name) ||
            s.droppedCols.contains(f.name.toLowerCase)))
        Some(TableSnapshot(
          version = s.version + 1,
          schemaDdl = unionSchema.toDDL,
          keyCols = s.keyCols, orderCols = s.orderCols,
          numBuckets = s.numBuckets, retainBatches = s.retainBatches,
          bucketFiles = newBucketFiles,
          bucketRows = newBucketRows,
          txns = txn.fold(s.txns) { case (app, seq) => s.txns.updated(app, seq) },
          appliedBatches = keptIds,
          lineage = keptLineage,
          totals = rolledTotals,
          rowCount = rowCount,
          morBuckets = newMorBuckets,
          bucketLayers = newBucketLayers,
          maxLayers = s.maxLayers,
          tombstoneCol = s.tombstoneCol,
          fileStats = s.fileStats ++ staged.stats,
          sortOrder = s.sortOrder,
          targetFileRows = s.targetFileRows,
          tags = s.tags,
          droppedCols = s.droppedCols))
      }
      Publish(required = rowsIn > 0 || oldTouchedRows > 0,
        rebase = cur => maintenanceOnlyBetween(snap, cur) ||
          disjointWritersBetween(snap, cur, touched),
        build = buildCommit)
    }.getOrElse(throw new IllegalStateException("merge commit built nothing"))
    // read-amplification bound: a hot bucket past maxLayers compacts NOW,
    // not at the stream's next periodic trigger (its read cost is already
    // maxLayers× a clean scan; waiting compounds it)
    if (mor) {
      val over = committed.bucketLayers.collect {
        case (b, n) if n > snap.maxLayers => b
      }.toSeq.sorted
      if (over.nonEmpty) compactBuckets(over)
    }
    upserts
  }

  /** The bucket parquet writer every commit path goes through: a
    * task-local `sortWithinPartitions(bucket, sortBy…)` (never an
    * exchange; the write's required ordering on the partition column is a
    * satisfied prefix, so Catalyst adds no second sort) and a per-file row
    * cap (`cap`, 0 = none) that turns the sort into range-sliced files.
    * Merge, compaction, purge and rebucket pass the table's persisted
    * WRITE-PATH SORT ORDER and cap (both default off — then this is exactly
    * `df.write`); clustering passes its own. The z-order scratch column is
    * projected away after the sort that consumes it. */
  private def bucketWriter(df: DataFrame, sortBy: Seq[String], cap: Long)
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    val sorted =
      if (sortBy.isEmpty) df
      else {
        val s = df.sortWithinPartitions((BucketCol +: sortBy).map(col): _*)
        if (sortBy.contains(ZValCol)) s.drop(ZValCol) else s
      }
    val w = sorted.write
    if (cap > 0L) w.option("maxRecordsPerFile", cap) else w
  }

  /** Rewrite every merge-on-read bucket into a single resolved layer (the
    * MOR debt collector): reads the dirty buckets' layers, applies the LWW
    * rule once, and replaces their file lists. Table state is unchanged
    * (spec-proven); read cost returns to the copy-on-write fast path.
    * @return number of buckets compacted */
  def compact(): Int = compactBuckets(snapshot().morBuckets)

  /** [[compact]] restricted to a subset of the dirty buckets (the hot-bucket
    * auto-compaction path: one bucket past `maxLayers` should not force a
    * rewrite of every dirty bucket). Compaction is recorded in `totals` only
    * — it is maintenance, not a batch, so it neither consumes a slot of the
    * bounded `appliedBatches` replay-detection window nor appears in batch
    * lineage. */
  def compactBuckets(buckets: Seq[Int]): Int = {
    val snap = snapshot()
    val dirty = buckets.filter(snap.morBuckets.contains).distinct.sorted
    if (dirty.isEmpty) return 0
    // ZERO-SHUFFLE compaction: the layers of each bucket are already
    // co-located by construction, so the LWW resolution grouped on
    // (keys…, bucket) rides the scan's KeyGroupedPartitioning — each dirty
    // bucket is one task that reads its layers, resolves, and writes ONE
    // defragmented file. No exchange at any scale.
    rewriteBuckets(snap, dirty, snap.sortOrder, snap.targetFileRows, snap.sortOrder,
        mayEmpty = false)((n, _) => Seq("compactions" -> 1L, "compacted_buckets" -> n.toLong)) {
      Dedup.latestByKey(bucketScanDF(snap, dirty), snap.keyCols :+ BucketCol, snap.orderCols)
    }
  }

  /** Reclaim DELETE tombstones: rewrite every bucket holding tombstone
    * rows, dropping tombstone WINNERS (and resolving any merge-on-read
    * layers in the same pass — both rides of the scan's partitioning, zero
    * exchanges). Run only once (a) the stream's out-of-order horizon has
    * passed for the deleted keys — after a purge, a stale live row OLDER
    * than the purged delete would win a future merge (the gc-grace trade
    * every tombstone design makes) — and (b) every changelog consumer has
    * read past the deletes' versions: a purged tombstone can no longer
    * surface in [[readChanges]], which fails loudly on windows spanning a
    * purge for exactly this reason. Candidate discovery is a column-pruned scan
    * of the tombstone flag alone. OCC like compaction: buckets touched by a
    * racing ingest merge drop out of this purge and are picked up by the
    * next one.
    * @return buckets rewritten */
  def purgeTombstones(): Int = {
    val snap = snapshot()
    if (snap.tombstoneCol.isEmpty) return 0
    val tc = snap.tombstoneCol.get
    val all = snap.bucketFiles.collect { case (b, fs) if fs.nonEmpty => b }.toSeq.sorted
    if (all.isEmpty) return 0
    val candidates = withSpjConfs(Some(all.size)) {
      bucketScanDF(snap, all).filter(coalesce(col(tc), lit(false)))
        .select(col(BucketCol)).distinct().collect().map(_.getInt(0)).toSeq.sorted
    }
    if (candidates.isEmpty) return 0
    // a bucket whose every key was tombstoned writes NO file
    rewriteBuckets(snap, candidates, snap.sortOrder, snap.targetFileRows, snap.sortOrder,
        mayEmpty = true)((_, dropped) => Seq("tombstone_purges" -> 1L, "purged_rows" -> dropped)) {
      visible(snap, Dedup.latestByKey(bucketScanDF(snap, candidates),
        snap.keyCols :+ BucketCol, snap.orderCols))
    }
  }

  /** SORT-ORDER CLUSTERING (Iceberg's `rewrite_data_files(strategy =>
    * 'sort')` analog): rewrite buckets so each bucket's resolved rows are
    * SORTED by `sortCols` and split into files of at most `maxRowsPerFile`
    * rows. Logical state is unchanged (the rewrite applies the same LWW
    * resolve a compaction does — MOR layers collapse as a side effect);
    * what changes is the FILE layout: a sorted bucket split into row slices
    * yields per-file min/max bounds on the sort columns that are tight and
    * mutually DISJOINT, so the planning-time skipping already harvested
    * into [[TableSnapshot.fileStats]] prunes a range predicate down to the
    * few files whose slice overlaps it — instead of every file of every
    * bucket the key hash happens to spread the range over. The scan is the
    * same zero-shuffle storage-partitioned read compaction uses (one task
    * per bucket, resolve + local sort, NO exchange at any scale); the file
    * split is the writer's own `maxRecordsPerFile` cut, which preserves the
    * task-local sort order across the emitted files. OCC exactly like
    * compaction: a bucket touched by a racing ingest merge drops out of
    * this clustering and stays unclustered until the next pass.
    *
    * `zorder = true` (Iceberg `sort_order => 'zorder(…)'` analog) replaces
    * the lexicographic order with the Morton curve over ALL of `sortCols`
    * ([[ZOrder]]): files become small axis-aligned boxes of the value
    * space, so a range predicate on ANY of the dimensions prunes — a
    * lexicographic sort only ever serves its first column. The dimension
    * bounds the curve normalizes against come from the snapshot's own
    * per-file statistics (driver-side constants, zero extra I/O) and the
    * z-value itself is a codegen'd column expression, so the rewrite plan
    * is IDENTICAL to the plain sort's: one task per bucket, resolve +
    * task-local sort, no exchange at any scale.
    * @return buckets rewritten */
  def cluster(sortCols: Seq[String], maxRowsPerFile: Long = 0L,
      zorder: Boolean = false): Int = {
    val snap = snapshot()
    clusterBuckets(snap.bucketFiles.collect { case (b, fs) if fs.nonEmpty => b }.toSeq.sorted,
      sortCols, maxRowsPerFile, zorder)
  }

  /** [[cluster]] restricted to a subset of buckets. */
  def clusterBuckets(buckets: Seq[Int], sortCols: Seq[String],
      maxRowsPerFile: Long = 0L, zorder: Boolean = false): Int = {
    val snap = snapshot()
    val curSchema = StructType.fromDDL(snap.schemaDdl)
    require(sortCols.nonEmpty, "cluster needs at least one sort column")
    val missing = sortCols.filterNot(curSchema.fieldNames.contains)
    require(missing.isEmpty,
      s"sort columns not in the table schema: ${missing.mkString(", ")}")
    // the point of clustering is file skipping, and skipping needs bounds:
    // refuse a sort column whose type can't carry them (the sort would be
    // paid for nothing). Bound-capable sort columns are harvested FIRST so
    // the MaxStatsCols cap can't push them out on a wide schema.
    val unboundable = sortCols.filterNot(c =>
      FileStats.statsColumns(curSchema, snap.keyCols, snap.orderCols ++ sortCols)
        .contains(c))
    require(unboundable.isEmpty,
      s"sort columns can't carry file bounds (unsupported type): ${unboundable.mkString(", ")}")
    if (zorder) {
      require(sortCols.size >= 2,
        "z-order needs at least two columns — a single column is a plain sort")
      val unrankable = sortCols.filterNot(c =>
        ZOrder.supported(curSchema.fields.find(_.name == c).get.dataType))
      require(unrankable.isEmpty,
        "z-order dimensions need a bounded numeric rank (integral, float, " +
          s"timestamp); not supported: ${unrankable.mkString(", ")}")
    }
    val todo = buckets.filter(b => snap.bucketFiles.getOrElse(b, Nil).nonEmpty)
      .distinct.sorted
    if (todo.isEmpty) return 0
    require(!zorder || !curSchema.fieldNames.contains(ZValCol),
      s"table schema reserves no room for the z-value scratch column '$ZValCol'")
    // MATERIALIZE the z-value once per row and sort on the long: sorting on
    // the raw expression would re-evaluate the ~100-node interleave inside
    // the sort comparator on every comparison (measured 2.7× the rewrite
    // wall); the writer projects it away after the sort
    val sortBy = if (zorder) Seq(ZValCol) else sortCols
    // explicit cap wins; otherwise the table's persisted write cap applies
    val cap = if (maxRowsPerFile > 0L) maxRowsPerFile else snap.targetFileRows
    // resolve rides the KGP scan (one partition per bucket), the sort is
    // task-local (sortWithinPartitions never exchanges), and the write's
    // required ordering (partition col first) is a satisfied prefix of
    // (bucket, sortBy…) — Catalyst inserts no extra sort either
    rewriteBuckets(snap, todo, sortBy, cap, statsFirst = sortCols, mayEmpty = false)(
        (n, _) => Seq("clusterings" -> 1L, "clustered_buckets" -> n.toLong)) {
      val resolved = Dedup.latestByKey(bucketScanDF(snap, todo),
        snap.keyCols :+ BucketCol, snap.orderCols)
      if (!zorder) resolved
      else {
        // dimension bounds folded from the snapshot's per-file stats of
        // the buckets being rewritten — driver-side constants, zero I/O
        val files = todo.flatMap(b => snap.bucketFiles.getOrElse(b, Nil))
        resolved.withColumn(ZValCol, ZOrder.zvalue(sortCols.map { c =>
          val dt = curSchema.fields.find(_.name == c).get.dataType
          val (lo, hi) = ZOrder.dimBounds(files, snap.fileStats, c, dt)
          (col(c), dt, lo, hi)
        }))
      }
    }
  }

  /** The shared body of the three maintenance rewrites ([[compactBuckets]],
    * [[purgeTombstones]], [[clusterBuckets]]): one [[stagedCommit]] of
    * `rewrite` (the resolved rows of `todo`, built inside the small-op and
    * storage-partitioned conf windows) that REPLACES each rewritten
    * bucket's file list — with an empty list when it wrote nothing, which
    * only a purge of an all-tombstone bucket (`mayEmpty`) or a zero-row
    * bucket does. `tally(buckets rewritten, rows dropped)` gives the
    * `totals` counters to bump.
    *
    * OCC: a rewrite changes no logical state the interleaved writer could
    * have seen, so it rebases over ANY interleaved commit with the same
    * layout — a bucket the interleaved writer touched (file list changed
    * since `snap`) is simply dropped from this rewrite (its output is
    * stale; the next pass picks it up). A rebucket interleaving (bucket
    * count changed) invalidates everything and still fails loudly.
    * @return buckets rewritten */
  private def rewriteBuckets(snap: TableSnapshot, todo: Seq[Int], sortBy: Seq[String],
      cap: Long, statsFirst: Seq[String], mayEmpty: Boolean)(
      tally: (Int, Long) => Seq[(String, Long)])(rewrite: => DataFrame): Int = {
    var valid: Seq[Int] = todo
    val committed = stagedCommit(snap, StructType.fromDDL(snap.schemaDdl), "maint",
        sortBy, cap, statsFirst)(sink =>
      withSmallPlanConfs(MergePlan.storedSmall(snap, todo)) {
        withSpjConfs(Some(todo.size))(sink(rewrite))
      }) { staged =>
      Publish(required = !mayEmpty && todo.exists(b => snap.bucketRows.getOrElse(b, 0L) > 0),
        rebase = _.numBuckets == snap.numBuckets,
        build = { s =>
          valid = todo.filter(b =>
            s.bucketFiles.getOrElse(b, Nil) == snap.bucketFiles.getOrElse(b, Nil))
          if (valid.isEmpty) None
          else {
            val w = valid.map(b => b -> staged.files.getOrElse(b, Nil)).toMap
            val wr = valid.map(b => b -> staged.rows.getOrElse(b, 0L)).toMap
            val oldRows = valid.map(b => s.bucketRows.getOrElse(b, 0L)).sum
            val landed = w.values.flatten.toSet
            Some(s.copy(
              version = s.version + 1,
              bucketFiles = s.bucketFiles -- valid ++ w,
              bucketRows = s.bucketRows -- valid ++ wr,
              totals = tally(valid.size, oldRows - wr.values.sum).foldLeft(s.totals) {
                case (t, (k, n)) => t.updated(k, t.getOrElse(k, 0L) + n)
              },
              rowCount = s.rowCount - oldRows + wr.values.sum,
              morBuckets = s.morBuckets.filterNot(valid.contains),
              bucketLayers = s.bucketLayers -- valid,
              fileStats = s.fileStats ++ staged.stats.filter { case (rel, _) => landed(rel) }))
          }
        })
    }
    if (committed.isDefined) valid.size else 0
  }

  /** The ONE-shuffle LWW merge plan (exposed for plan tests): in-batch
    * dedup and old∪new resolution are one aggregation riding the bucket
    * repartition — HashPartitioning(bucket, subsplit) satisfies the
    * grouping's ClusteredDistribution (both partition exprs are in the
    * grouping), so Catalyst inserts NO second exchange.
    *
    * `salted` (hot-key skew): bucket and subsplit are FUNCTIONS OF THE KEY,
    * so every duplicate of a hot key lands in one partition of the bucket
    * exchange — a skewed stream makes that task the stage straggler. The
    * salted plan pre-aggregates on (keys, salt) BEFORE the bucket exchange
    * (its own shuffle, hot key spread over the salt space, ≤numSalts
    * survivors per key), so the bucket exchange then carries only collapsed
    * rows. Two shuffles instead of one — pay it only when the stream is
    * actually skewed (SkewBench measures the crossover). */
  private[graft] def buildMerged(existing: DataFrame, alignedBatch: DataFrame,
      snap: TableSnapshot, touchedCount: Int, writeFactor: Int, salted: Boolean,
      withSrcFlag: Boolean = false): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    val base0 =
      if (withSrcFlag)
        existing.withColumn(SrcFlagCol, lit(0))
          .unionByName(alignedBatch.withColumn(SrcFlagCol, lit(1)))
      else existing.unionByName(alignedBatch)
    val base =
      if (salted && withSrcFlag)
        Dedup.saltedPreAggregateCarryMax(base0, snap.keyCols, snap.orderCols,
          SrcFlagCol, numSalts = math.max(16, cores))
      else if (salted)
        Dedup.saltedPreAggregate(base0, snap.keyCols, snap.orderCols,
          numSalts = math.max(16, cores))
      else base0
    val unioned = base
      .withColumn(BucketCol, bucketExpr(snap.keyCols, snap.numBuckets))
      .withColumn(SubSplitCol, pmod(xxhash64(snap.keyCols.map(col): _*), lit(writeFactor)).cast("int"))
      .repartition(math.max(1, touchedCount * writeFactor), col(BucketCol), col(SubSplitCol))
    if (withSrcFlag)
      Dedup.latestByKeyCarryMax(unioned, snap.keyCols ++ Seq(BucketCol, SubSplitCol),
        snap.orderCols, SrcFlagCol)
    else
      Dedup.latestByKey(unioned, snap.keyCols ++ Seq(BucketCol, SubSplitCol), snap.orderCols)
  }

  /** The STORAGE-PARTITIONED merge plan (SURVEY.md §7.5, built on
    * [[graft.tables.dsv2.LakeBucketSource]]): the existing side arrives from
    * a scan that REPORTS KeyGroupedPartitioning over the bucket ids, so the
    * full-outer LWW resolution join clusters on `(keys…, bucket)` WITHOUT
    * shuffling a single existing row — only the (small) deduped batch side
    * is exchanged into the scan's partitioning. This is the plan shape that
    * survives 100×: a delta brushing k% of the table streams those buckets
    * task-locally instead of pushing them through the wire.
    *
    *   existing(scan, KGP[bucket], MOR layers LWW-resolved in place — the
    *                                grouping rides the scan partitioning)
    *      ⟗ full_outer on (keys…, bucket)
    *   batch(dedup max_by — its agg exchange + the KGP exchange carry only
    *         batch rows)
    *   → per-key winner by (orderCols) struct comparison, batch wins ties
    *     (arrival-order-last, the reference's INSERT OR REPLACE; the classic
    *     union-path max_by leaves exact-tie winners unspecified, so the two
    *     paths agree wherever the classic path is deterministic)
    *
    * Write parallelism = touched buckets (one task each); eligibility is
    * gated in [[MergePlan.decide]]. */
  private[graft] def buildMergedSpj(snap: TableSnapshot, evolved: StructType,
      touched: Seq[Int], alignedBatch: DataFrame, salted: Boolean): DataFrame = {
    val cols = evolved.fieldNames.toSeq
    val existing0 = bucketScanDF(snap, touched)
    // align the scan (current schema) to the evolved schema, keeping the
    // bucket column — a Project preserves the scan's reported partitioning
    val exAligned = existing0.select(cols.map { c =>
      if (existing0.columns.contains(c)) col(c).cast(evolved(c).dataType).as(c)
      else lit(null).cast(evolved(c).dataType).as(c)
    } :+ col(BucketCol): _*)
    // dirty MOR buckets: resolve existing layers in place; grouping includes
    // the bucket, so this aggregation needs NO exchange over the scan
    val exResolved =
      if (touched.exists(snap.morBuckets.contains))
        Dedup.latestByKey(exAligned, snap.keyCols :+ BucketCol, snap.orderCols)
      else exAligned
    val batchWithBucket =
      alignedBatch.withColumn(BucketCol, bucketExpr(snap.keyCols, snap.numBuckets))
    val preAgg =
      if (salted) Dedup.saltedPreAggregate(batchWithBucket, snap.keyCols :+ BucketCol,
        snap.orderCols, numSalts = math.max(16, spark.sparkContext.defaultParallelism))
      else batchWithBucket
    val batchDedup = Dedup.latestByKey(preAgg, snap.keyCols :+ BucketCol, snap.orderCols)
    val joinCols = snap.keyCols :+ BucketCol
    val ex = exResolved.select(joinCols.map(col) :+ struct(cols.map(col): _*).as("_ex"): _*)
    val ba = batchDedup.select(
      joinCols.map(c => col(c).as(s"_gb_$c")) :+ struct(cols.map(col): _*).as("_ba"): _*)
    // NULL-SAFE key equality: the classic path groups null keys into one LWW
    // group, so the SPJ join must match them too — plain === would emit both
    // the existing and the batch row for a null-keyed pair. The bucket column
    // is non-null (hash of the keys) and keeps ===; both forms extract as
    // equi-join keys, so the storage-partitioned clustering is unaffected.
    val cond = snap.keyCols
      .map(k => col(k) <=> col(s"_gb_$k"))
      .foldLeft(col(BucketCol) === col(s"_gb_$BucketCol"))(_ && _)
    val joined = ex.join(ba, cond, "full_outer")
      .withColumn(BucketCol, coalesce(col(BucketCol), col(s"_gb_$BucketCol")))
    val ordB = struct(snap.orderCols.map(o => col(s"_ba.$o")): _*)
    val ordE = struct(snap.orderCols.map(o => col(s"_ex.$o")): _*)
    val winner = when(col("_ex").isNull, col("_ba"))
      .when(col("_ba").isNull, col("_ex"))
      .when(ordB >= ordE, col("_ba"))
      .otherwise(col("_ex"))
    joined.withColumn("_w", winner)
      .select(cols.map(c => col(s"_w.$c").as(c)) :+ col(BucketCol) :+
        // joined rows with a batch side = distinct batch keys (the batch is
        // deduped pre-join) — summed by the caller's observed metric
        when(col("_ba").isNotNull, 1).otherwise(0).as(SrcFlagCol): _*)
  }

  /** LAYOUT EVOLUTION: change the bucket count. A growing table eventually
    * outgrows its bucket count (a bucket should stay a few GB); this is the
    * maintenance rewrite that re-hashes every row into `newNumBuckets`
    * buckets in ONE commit — readers before/after see identical logical
    * state (any outstanding merge-on-read debt is resolved in the same
    * pass), point reads and merges pick the new bucket function up from the
    * snapshot automatically. Recorded in `totals` like compaction
    * (maintenance, not a batch). A full-table rewrite by definition — run it
    * like compaction, between ingest batches from the single writer. */
  def rebucket(newNumBuckets: Int): Unit = {
    require(newNumBuckets > 0, s"bucket count must be positive, got $newNumBuckets")
    // OCC: a full-table rewrite cannot rebase incrementally (an interleaved
    // merge adds rows the rewrite never saw) — on a lost race it RE-RUNS
    // from the fresh snapshot, bounded; a persistently busy stream should
    // schedule rebucket between batches instead
    var attempts = 0
    while (true) {
      attempts += 1
      val snap = snapshot()
      if (snap.numBuckets == newNumBuckets) return
      val curSchema = StructType.fromDDL(snap.schemaDdl)
      val writeFactor = MergePlan.fanOut(spark.sparkContext.defaultParallelism, newNumBuckets,
        small = false)
      val reSnap = snap.copy(numBuckets = newNumBuckets)
      val emptyBatch = align(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], curSchema),
        curSchema)
      try {
        stagedCommit(snap, curSchema, "maint", snap.sortOrder, snap.targetFileRows,
            statsFirst = snap.sortOrder)(sink =>
          sink(buildMerged(align(readSnapshotDF(snap), curSchema), emptyBatch, reSnap,
              touchedCount = newNumBuckets, writeFactor = writeFactor, salted = false)
            .drop(SubSplitCol))) { staged =>
          Publish(required = snap.rowCount > 0, rebase = _ => false,
            build = _ => Some(reSnap.copy(
              version = snap.version + 1,
              bucketFiles = staged.files,
              bucketRows = staged.rows,
              totals = snap.totals.updated("rebuckets", snap.totals.getOrElse("rebuckets", 0L) + 1L),
              rowCount = staged.rows.values.sum,
              morBuckets = Nil,
              bucketLayers = Map.empty,
              fileStats = staged.stats,
              // every file was rewritten through the current schema, so no
              // file can still carry a dropped column's values — names are
              // reusable
              droppedCols = Nil)))
        }
        return
      } catch {
        case _: java.util.ConcurrentModificationException if attempts < 3 => ()
      }
    }
  }

  /** ROLLBACK (≙ Iceberg `rollback_to_snapshot` / Delta RESTORE): make the
    * table's CURRENT state identical to retained `version` again, committed
    * as a NEW version — history only moves forward, so the undone versions
    * stay time-travel-readable until [[expire]] retires them and a
    * concurrent reader never observes the pointer moving backwards.
    *
    * The FULL snapshot state is restored, INCLUDING the exactly-once ledger
    * (`txns`/`appliedBatches`): the rolled-back batches are genuinely not in
    * the table anymore, so a checkpointed stream that re-delivers them must
    * re-apply, not no-op. Data directories need no copying — the target's
    * files are still on disk because the target version is retained, and the
    * new head referencing them keeps them alive through future [[expire]]s.
    *
    * Rollback changes logical state, so it does NOT rebase over concurrent
    * commits (what "current" means would be ambiguous); run it between
    * batches like [[rebucket]]. A no-op when already at `version`.
    * @return the new head version (== current when nothing to do) */
  def rollback(version: Long): Long = {
    val cur = snapshot()
    require(version <= cur.version,
      s"cannot roll back to $version: table is at ${cur.version}")
    if (version == cur.version) return cur.version
    require(Files.exists(Paths.get(root, "meta", s"v$version.json")),
      s"version $version is not retained (expired or never existed) at $root")
    val target = readSnapshot(Paths.get(root), version)
    val next = target.copy(
      version = cur.version + 1,
      totals = target.totals.updated("rollbacks",
        target.totals.getOrElse("rollbacks", 0L) + 1L),
      // tags are refs ON the history, not table state: restoring an old
      // snapshot must not resurrect its tag map or drop tags created since
      tags = cur.tags)
    commit(next)
    next.version
  }

  /** Create a NAMED TAG (Iceberg `create_tag` ref analog): an immutable
    * name for a retained version. Tagged versions survive [[expire]]
    * regardless of the keep-last window (metadata and the data files they
    * reference), [[readAt]] and SQL `VERSION AS OF '<tag>'` resolve the
    * name, and [[rollback]] carries tags across. Creating a tag is a
    * metadata-only commit, commutative with every other commit kind, so it
    * rebases over any interleaved writer. Re-tagging the SAME version is an
    * idempotent no-op; pointing an existing name elsewhere is an error
    * (tags are immutable — drop it first).
    * @param version the version to tag; defaults to the current head
    * @return the table version carrying the new tag map */
  def createTag(name: String, version: Long = -1L): Long = {
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"tag name '$name' must be non-empty [A-Za-z0-9._-] (it travels " +
        "through SQL VERSION AS OF literals)")
    require(name.toLongOption.isEmpty,
      s"tag name '$name' would be ambiguous with a version number")
    val head = snapshot()
    val target = if (version < 0L) head.version else version
    require(target <= head.version,
      s"cannot tag $target: table is at ${head.version}")
    require(Files.exists(Paths.get(root, "meta", s"v$target.json")),
      s"version $target is not retained (expired or never existed) at $root")
    val committed = occCommit(head)(_ => true) { base =>
      base.tags.get(name) match {
        case Some(v) if v == target => None // idempotent re-tag
        case Some(v) => throw new IllegalArgumentException(
          s"tag '$name' already points at version $v (tags are immutable " +
            "— dropTag first to move it)")
        case None => Some(base.copy(
          version = base.version + 1,
          tags = base.tags.updated(name, target)))
      }
    }
    // TOCTOU vs a racing expire(): its tag read may predate this commit, in
    // which case it deleted the target's metadata between our retention
    // check above and the commit. Re-validate AFTER the tag is visible — a
    // subsequent expire sees it and protects the version, so if the ledger
    // is still here now it stays; if it is gone, undo the dangling tag and
    // fail loudly rather than leave a name pointing at nothing.
    if (committed.isDefined &&
        !Files.exists(Paths.get(root, "meta", s"v$target.json"))) {
      dropTag(name)
      throw new IllegalStateException(
        s"tag '$name' lost a race with a concurrent expire(): version " +
          s"$target was retired before the tag became visible — re-create " +
          "the tag from a retained version")
    }
    committed.map(_.version).getOrElse(currentVersion())
  }

  /** Drop a named tag (metadata-only commit; the version it pointed at
    * returns to normal [[expire]] retention). Unknown names error loudly.
    * @return the table version carrying the updated tag map */
  def dropTag(name: String): Long = {
    val committed = occCommit(snapshot())(_ => true) { base =>
      require(base.tags.contains(name), s"no tag '$name' on $root")
      Some(base.copy(version = base.version + 1, tags = base.tags - name))
    }
    committed.map(_.version).getOrElse(currentVersion())
  }

  /** [[readAt]] by tag name (SQL: `VERSION AS OF '<tag>'`). */
  def readAt(tag: String): DataFrame = readAt(resolveTag(tag))

  /** Resolve a tag name to the version it pins. */
  def resolveTag(tag: String): Long =
    snapshot().tags.getOrElse(tag, throw new IllegalArgumentException(
      s"no tag '$tag' on $root (tags: " +
        s"${snapshot().tags.keys.toSeq.sorted.mkString(", ")})"))

  /** ZERO-COPY SHALLOW CLONE (≙ Delta `CREATE TABLE … SHALLOW CLONE`):
    * materialize an INDEPENDENT table at `destRoot` whose initial snapshot
    * REFERENCES this table's data files by absolute path — no data is
    * copied; the clone commit is metadata-only and O(#files), whatever the
    * table size. The clone is a full LakeTable: reads resolve exactly the
    * cloned version's state (outstanding merge-on-read debt included), and
    * writes are copy-on-write per bucket, so every bucket the clone
    * rewrites (merge / compact / cluster / rebucket) replaces its borrowed
    * references with clone-local files — the clone "un-shallows"
    * incrementally, paying only for what it changes. Writer identity is NOT
    * carried (txns/lineage/applied-batches reset): a clone is a new table,
    * and a stream that fed the source must not be silently exactly-once-
    * deduplicated against the clone.
    *
    * GC safety: the borrowed files live under the SOURCE's retention, so
    * cloneTo first creates a protective TAG (`clone-<dest>-v<version>`) on
    * the source at the cloned version — [[expire]] retains tagged versions'
    * metadata AND data regardless of its keep-last window, and
    * [[createTag]]'s own TOCTOU re-validation covers a racing expire.
    * Dropping that tag hands the files back to normal retention (the
    * documented Delta caveat — VACUUM can break shallow clones — made
    * explicit and durable here until an operator drops the tag). The
    * clone's own [[expire]] never touches source files: absolute refs are
    * not candidates under the clone's `data/` dir. Cloning a clone keeps
    * grandparent refs absolute (each resolves independently), but its
    * protective tag pins only the IMMEDIATE source's version — keep the
    * intermediate table (or compact the clone to localize its files) before
    * retiring it.
    *
    * @param destRoot directory for the clone (must not already hold a table)
    * @param version  source version to clone; -1 = current head
    * @return the opened clone */
  def cloneTo(destRoot: String, version: Long = -1L): LakeTable = {
    val destMeta = Paths.get(destRoot, "meta")
    // dest validation BEFORE the protective tag is planted, so no failure
    // past this point can leak a tag for a clone that never materialized
    require(!Files.exists(destMeta.resolve("VERSION")),
      s"cannot clone into $destRoot: a table already exists there")
    if (Files.isDirectory(destMeta)) {
      if (Files.exists(destMeta.resolve("PUBLISHED.json"))) {
        // a CONSUMED clone (its state was adopted by fastForward): the
        // remnants are dead metadata — clear them so a recurring WAP loop
        // can reuse the audit name
        deleteRecursively(Paths.get(destRoot))
      } else {
        val listing = Files.list(destMeta)
        val nonEmpty = try listing.iterator().hasNext finally listing.close()
        require(!nonEmpty,
          s"cannot clone into $destRoot: it holds remnants of a table that " +
            "was never published (crashed create?) — remove them first")
      }
    }
    val head = snapshot()
    val target = if (version < 0L) head.version else version
    val absRoot = Paths.get(root).toAbsolutePath.normalize.toString
    val absDest = Paths.get(destRoot).toAbsolutePath.normalize.toString
    val destName = Paths.get(absDest).getFileName.toString.map(c =>
      if (c.isLetterOrDigit || c == '-' || c == '_' || c == '.') c else '-')
    // the tag encodes the dest's full IDENTITY (path digest), never just its
    // basename: two same-named clones of the same version must NOT share a
    // tag, or publishing/dropping one would silently unpin the other's
    // borrowed files
    val destId = java.security.MessageDigest.getInstance("MD5")
      .digest(absDest.getBytes(StandardCharsets.UTF_8))
      .take(4).map(b => f"$b%02x").mkString
    val tag = s"clone-$destName-v$target-$destId"
    // tag FIRST: from here on the cloned version (metadata + data files) is
    // pinned against the source's expire (createTag validates retention and
    // covers its own expire race); any later failure drops the tag again
    createTag(tag, target)
    try {
      val src = readSnapshot(Paths.get(root), target)
      val cloned = src.copy(
        version = 0L,
        bucketFiles = src.bucketFiles.view.mapValues(
          _.map(LakeTable.dataPath(absRoot, _))).toMap,
        fileStats = src.fileStats.map { case (rel, st) =>
          LakeTable.dataPath(absRoot, rel) -> st },
        txns = Map.empty, appliedBatches = Nil, lineage = Map.empty,
        totals = Map("clones" -> 1L), tags = Map.empty,
        committedAtMillis = System.currentTimeMillis())
      Files.createDirectories(destMeta)
      Files.write(destMeta.resolve("v0.json"), snapshotJson(cloned),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      // provenance note: read by fastForward (publish routing) and
      // cloneProvenance (observability)
      val prov = mapper.createObjectNode()
      prov.put("sourceRoot", absRoot)
      prov.put("sourceVersion", target)
      prov.put("sourceTag", tag)
      Files.write(destMeta.resolve("CLONE.json"),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(prov))
      val tmp = destMeta.resolve("VERSION.tmp.0")
      Files.write(tmp, "0".getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, destMeta.resolve("VERSION"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } catch {
      case scala.util.control.NonFatal(e) =>
        // the clone never became openable — undo the pin rather than leak
        // it (dropTag is tolerant of a concurrent drop only via its own
        // require; swallow secondary failures, the primary error wins)
        try dropTag(tag) catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    LakeTable.open(spark, destRoot)
  }

  /** WRITE-AUDIT-PUBLISH: fast-forward this table to a CLONE's audited
    * state (≙ Iceberg's `fast_forward` procedure over a WAP branch). The
    * workflow: [[cloneTo]] a zero-copy clone, run the risky work there
    * (merges, compaction, schema evolution, DML), validate it, then
    * `source.fastForward(cloneRoot)` — the source adopts the clone's HEAD
    * state in ONE commit. Files the clone still borrows from the source
    * relativize back to their original refs (untouched buckets stay
    * byte-identical, so changelog bucket-diff pruning sees them unchanged);
    * files the clone wrote locally are RENAMED into the source's `data/`
    * (`maint-adopt-v<N>-…` dirs — same-filesystem renames, no data copied;
    * inflight markers shield the move→commit window from a racing expire,
    * and on a crash the moved files age out through the normal marker-TTL
    * sweep). STRICT fast-forward only: the source must still sit at the
    * version the clone was taken from — if any writer advanced it, this
    * fails loudly BEFORE touching any file (re-clone and re-apply). The
    * commit merges writer ledgers (per-app max seq, batch window re-capped)
    * so BOTH the source's original stream and the audit writers stay
    * exactly-once across the publish, and it drops the clone's protective
    * tag in the same atomic step (the adopted head now references those
    * files itself). The clone is CONSUMED: its version pointer is replaced
    * by a `PUBLISHED.json` note and its leftover (unreferenced) local files
    * are deleted.
    * @return the source's new head version */
  def fastForward(cloneRoot: String): Long = {
    val absRoot = Paths.get(root).toAbsolutePath.normalize.toString
    val absClone = Paths.get(cloneRoot).toAbsolutePath.normalize.toString
    require(absClone != absRoot, "cannot fast-forward a table from itself")
    val (srcRoot, clonedV, tag) = LakeTable.cloneProvenance(cloneRoot)
      .getOrElse(throw new IllegalArgumentException(
        s"$cloneRoot is not a clone (no provenance note) — fastForward " +
          "publishes a clone's audited state back to its own source"))
    require(srcRoot == absRoot,
      s"clone at $cloneRoot descends from $srcRoot, not this table ($absRoot)")
    require(Files.exists(Paths.get(cloneRoot, "meta", "VERSION")),
      s"clone at $cloneRoot was already published or never finished")
    val head = snapshot()
    // STRICT fast-forward, stated logically: between the cloned version and
    // the head only logically-INERT commits may have landed — the clone's
    // own protective-tag commit (always present), compaction, expiry. Any
    // applied batch, schema change, or rebucket is divergence and refuses
    // here, before any file moves. The cloned version's metadata is
    // retained by the protective tag, so it is always readable for this.
    val clonedSnap = readSnapshot(Paths.get(root), clonedV)
    require(maintenanceOnlyBetween(clonedSnap, head),
      s"cannot fast-forward: this table logically advanced past version " +
        s"$clonedV (now at ${head.version}) since the clone was taken — " +
        "re-clone and re-apply the audit")
    val cloneV = LakeTable.currentVersion(cloneRoot)
    val cSnap = readSnapshot(Paths.get(cloneRoot), cloneV)
    // a publish must NOT smuggle a bucket-layout change in with its data:
    // the changelog stream treats a numBuckets-changing commit as a
    // logically-inert rebucket boundary and would silently drop the
    // publish's merged rows from every downstream consumer. Rebucket the
    // published table itself, after the publish.
    require(cSnap.numBuckets == head.numBuckets,
      s"cannot fast-forward: the audit clone was rebucketed " +
        s"(${cSnap.numBuckets} buckets vs this table's ${head.numBuckets}) — " +
        "a publish cannot change the bucket layout and the data in one " +
        "commit; re-apply the audit without rebucketing, then rebucket the " +
        "published table")
    val newV = head.version + 1
    val borrowPrefix = absRoot + "/"
    val cloneName = Paths.get(absClone).getFileName.toString.map(c =>
      if (c.isLetterOrDigit || c == '-' || c == '_' || c == '.') c else '-')
    // ref rewrite: borrowed → original relative; clone-local → adopt dir
    val moves = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def adoptRef(ref: String): String =
      if (ref.startsWith(borrowPrefix)) ref.stripPrefix(borrowPrefix)
      else if (ref.startsWith("/")) throw new IllegalStateException(
        s"clone references a third table's file ($ref) — publish or compact " +
          "that clone-of-a-clone before fast-forwarding")
      else {
        // data/<dir>/… → data/maint-adopt-v<N>-<clone>-<dir>/… ("maint-"
        // keeps the dir a GC candidate once no snapshot references it)
        val stripped = ref.stripPrefix("data/")
        val target = s"data/maint-adopt-v$newV-$cloneName-$stripped"
        moves.put(ref, target)
        target
      }
    val newBucketFiles = cSnap.bucketFiles.view.mapValues(_.map(adoptRef)).toMap
    // persisted fileStats are normalized to the live file set at every
    // serialization, but filter defensively anyway: a stale stats key must
    // never be able to register a file move
    val liveRefs = cSnap.bucketFiles.valuesIterator.flatten.toSet
    val newFileStats = cSnap.fileStats.collect {
      case (ref, st) if liveRefs(ref) => adoptRef(ref) -> st
    }
    // exactly-once continuity across the publish: both ledgers survive
    val mergedTxns = (head.txns.keySet ++ cSnap.txns.keySet).map(a =>
      a -> math.max(head.txns.getOrElse(a, Long.MinValue),
        cSnap.txns.getOrElse(a, Long.MinValue))).toMap
    val mergedBatches = (head.appliedBatches ++ cSnap.appliedBatches)
      .distinct.takeRight(cSnap.retainBatches)
    val next = cSnap.copy(
      version = newV,
      bucketFiles = newBucketFiles,
      fileStats = newFileStats,
      txns = mergedTxns,
      appliedBatches = mergedBatches,
      lineage = (head.lineage ++ cSnap.lineage).view
        .filterKeys(mergedBatches.contains).toMap,
      totals = (head.totals.keySet ++ cSnap.totals.keySet).map(k =>
        k -> (head.totals.getOrElse(k, 0L) + cSnap.totals.getOrElse(k, 0L))).toMap,
      // the protective tag dies in the same atomic commit — the adopted
      // head references the pinned files itself now
      tags = head.tags - tag)
    // rename clone-local files in, shielded from a racing expire until the
    // commit references them
    val adoptDirs = moves.values.map(_.split('/').take(2).mkString("/")).toSet
    val markers = adoptDirs.toSeq.map(d =>
      Paths.get(root, "meta", s"inflight-${d.stripPrefix("data/")}"))
    Files.createDirectories(Paths.get(root, "meta"))
    markers.foreach(m => Files.write(m, Array.emptyByteArray))
    // markers are removed ONLY on success (the commit references the adopt
    // dirs from then on). On ANY failure they stay, so the moved files
    // really do age out through the marker-TTL sweep instead of being
    // reclaimed by the very next expire while an operator investigates.
    moves.foreach { case (from, to) =>
      val dst = Paths.get(root).resolve(to)
      Files.createDirectories(dst.getParent)
      Files.move(Paths.get(cloneRoot).resolve(from), dst)
    }
    try commit(next)
    catch {
      case e: java.util.ConcurrentModificationException =>
        throw new java.util.ConcurrentModificationException(
          s"fast-forward lost the publish race: a writer committed to " +
            s"$root after the pre-move check — the clone is consumed " +
            "either way (its files moved); re-clone and re-apply. " +
            s"Moved files age out via the marker-TTL sweep. (${e.getMessage})")
    }
    markers.foreach(Files.deleteIfExists(_))
    // consume the clone: version pointer → PUBLISHED note; leftover local
    // files (shadowed layers no longer referenced by its head) are garbage
    val cloneMeta = Paths.get(cloneRoot, "meta")
    val pub = mapper.createObjectNode()
    pub.put("publishedInto", absRoot)
    pub.put("publishedVersion", newV)
    Files.write(cloneMeta.resolve("PUBLISHED.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(pub))
    Files.deleteIfExists(cloneMeta.resolve("VERSION"))
    val cloneData = Paths.get(cloneRoot, "data")
    if (Files.isDirectory(cloneData)) deleteRecursively(cloneData)
    newV
  }

  /** EXPLICIT schema evolution (≙ Iceberg `ALTER TABLE … ADD COLUMNS`): add
    * new NULLABLE columns as a metadata-only commit — no data file is
    * touched; files written before the change read the new columns as null,
    * exactly like the implicit merge-batch evolution path
    * ([[merge]] schema-union). Columns are forced nullable (a NOT NULL
    * addition would invalidate every stored row), appended at the end, and
    * adding an already-present column is an idempotent no-op when the type
    * matches and an error when it doesn't.
    *
    * Metadata-only and commutative with every other commit kind, so it
    * rebases over ANY interleaved writer (the union is recomputed against
    * the fresh snapshot each attempt).
    * @return the table version carrying the evolved schema */
  def addColumns(cols: Seq[StructField]): Long = {
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    // case-INSENSITIVE name checks throughout: Spark resolves columns
    // case-insensitively by default, so a schema carrying both `value` and
    // `Value` makes every reference AMBIGUOUS — and DROP COLUMN would not
    // undo the resulting ambiguity cleanly
    val dups = cols.groupBy(_.name.toLowerCase)
      .collect { case (n, fs) if fs.size > 1 => n }
    require(dups.isEmpty,
      s"ADD COLUMNS lists column(s) ${dups.mkString(", ")} more than once")
    val committed = occCommit(snapshot())(_ => true) { base =>
      val reused = cols.map(_.name).filter(n => base.droppedCols.contains(n.toLowerCase))
      require(reused.isEmpty,
        s"column name(s) ${reused.mkString(", ")} were previously DROPPED — older " +
          "data files still carry values under that name and would resurrect " +
          "through reads (the format is name-based); pick a new name, or " +
          "rebucket() to rewrite all files first")
      val cur = StructType.fromDDL(base.schemaDdl)
      cols.foreach { f =>
        cur.fields.find(_.name.equalsIgnoreCase(f.name)).foreach { ex =>
          require(ex.dataType == f.dataType && ex.name == f.name,
            s"column '${f.name}' collides with existing '${ex.name}' " +
              s"(${ex.dataType.sql}) — cannot add it as ${f.dataType.sql}")
        }
      }
      val fresh = cols.filterNot(f =>
        cur.fieldNames.exists(_.equalsIgnoreCase(f.name)))
      if (fresh.isEmpty) None
      else Some(base.copy(
        version = base.version + 1,
        schemaDdl = StructType(cur.fields ++ fresh.map(_.copy(nullable = true))).toDDL,
        totals = base.totals.updated("schema_changes",
          base.totals.getOrElse("schema_changes", 0L) + 1L)))
    }
    committed.map(_.version).getOrElse(currentVersion())
  }

  /** EXPLICIT schema evolution (≙ Iceberg `ALTER TABLE … DROP COLUMN`):
    * remove columns as a metadata-only commit — no data file is touched.
    * Reads project the snapshot schema, so files still carrying the column
    * simply stop being read through it; copy-on-write rewrites retire the
    * stored values bucket by bucket as merges land.
    *
    * The format is NAME-based (no Iceberg field-id indirection), so the
    * dropped name goes on a ledger ([[TableSnapshot.droppedCols]]) and can
    * NOT be re-introduced — by [[addColumns]] or by a merge batch — while
    * un-rewritten files may still carry old values under it (re-adding
    * would silently resurrect them). [[rebucket]] rewrites every file and
    * clears the ledger. Time travel is unaffected: a pre-drop version reads
    * through its own schema, column included.
    *
    * Table-identity columns are protected: keys, order columns, the
    * tombstone column, and the persisted write sort order cannot be
    * dropped. Dropping a column already on the ledger is an idempotent
    * no-op; a name that never existed is an error.
    *
    * Metadata-only and commutative with every other commit kind, so it
    * rebases over ANY interleaved writer (recomputed against the fresh
    * snapshot each attempt).
    * @return the table version carrying the narrowed schema */
  def dropColumns(names: Seq[String]): Long = {
    require(names.nonEmpty, "DROP COLUMN needs at least one column")
    val committed = occCommit(snapshot())(_ => true) { base =>
      val cur = StructType.fromDDL(base.schemaDdl)
      def protectedBy(n: String): Option[String] = {
        def hit(cols: Seq[String], what: String): Option[String] =
          cols.find(_.equalsIgnoreCase(n)).map(_ => what)
        hit(base.keyCols, "a key column")
          .orElse(hit(base.orderCols, "an order (LWW) column"))
          .orElse(hit(base.tombstoneCol.toSeq, "the tombstone column"))
          .orElse(hit(base.sortOrder, "in the persisted write sort order"))
      }
      val resolved = names.map { n =>
        protectedBy(n).foreach(what => throw new IllegalArgumentException(
          s"cannot drop column '$n': it is $what — table identity and history " +
            "hang off it"))
        cur.fields.find(_.name.equalsIgnoreCase(n)) match {
          case Some(f) => Some(f.name)
          case None =>
            require(base.droppedCols.contains(n.toLowerCase),
              s"cannot drop column '$n': no such column in the table schema")
            None // already dropped — idempotent
        }
      }.flatten.distinct
      if (resolved.isEmpty) None
      else {
        val gone = resolved.map(_.toLowerCase).toSet
        val narrowed = StructType(cur.fields.filterNot(f => gone(f.name.toLowerCase)))
        Some(base.copy(
          version = base.version + 1,
          schemaDdl = narrowed.toDDL,
          droppedCols = (base.droppedCols ++ gone).distinct.sorted,
          // scrub the dropped columns' bounds — nothing can filter on them
          fileStats = base.fileStats.map { case (rel, st) =>
            rel -> st.copy(cols = st.cols.filterNot(e => gone(e._1.toLowerCase)))
          },
          totals = base.totals.updated("schema_changes",
            base.totals.getOrElse("schema_changes", 0L) + 1L)))
      }
    }
    committed.map(_.version).getOrElse(currentVersion())
  }

  /** Retire old versions: delete snapshot metadata older than the most
    * recent `keepVersions` and remove `commit-<v>` directories that no
    * retained snapshot references (time travel within the retained window
    * stays intact). Safe to run any time from the single writer.
    * @return (metadata files removed, commit dirs removed) */
  def expire(keepVersions: Int = 2): (Int, Int) = {
    require(keepVersions >= 1, "must keep at least the current version")
    val current = currentVersion()
    val minKept = math.max(0L, current - keepVersions + 1)
    val meta = Paths.get(root, "meta")
    // 1. retire out-of-window snapshot metadata FIRST, so the data sweep
    //    below can treat "referenced by ANY remaining v*.json" as the
    //    keep-set — including versions committed by a concurrent writer
    //    AFTER our currentVersion() read (their metadata is ≥ current and
    //    therefore never deleted here)
    var metaRemoved = 0
    val deletable = LakeTable.listDirEntries(meta)
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("v") && n.endsWith(".json") &&
          n.stripPrefix("v").stripSuffix(".json").toLongOption.exists(_ < minKept)
      }
    // TAGGED versions are pinned outside the keep-last window (Iceberg ref
    // retention): their metadata survives, and because the data sweep keys
    // off "referenced by any remaining v*.json", so do their data files.
    // Tags are read from the HEAD snapshot AFTER the candidate listing to
    // narrow the window against a concurrent createTag; the remaining
    // sliver (a tag committing between this read and the deletes below) is
    // closed from the OTHER side — createTag re-validates the target's
    // ledger after its commit becomes visible and undoes a dangling tag.
    val tagged = snapshot().tags.values.toSet
    deletable
      .filterNot(p => p.getFileName.toString.stripPrefix("v").stripSuffix(".json")
        .toLongOption.exists(tagged.contains))
      .foreach { p => Files.delete(p); metaRemoved += 1 }
    // 2. sweep data dirs no retained snapshot references. Two concurrent-
    //    maintenance guards (a maintenance op from a SECOND handle is
    //    supported, and its staging dir is unreferenced until it commits):
    //    - every writer drops an `inflight-<dir>` marker in meta/ for the
    //      write→commit window; marked dirs are skipped (stale markers from
    //      crashed runs age out after [[InflightMarkerTtlMs]]);
    //    - the referenced set is re-read AFTER listing the candidates, so a
    //      commit landing mid-sweep protects its files.
    val dataDir = Paths.get(root, "data")
    var commitsRemoved = 0
    if (Files.isDirectory(dataDir)) {
      val candidates = {
        val ls = Files.list(dataDir)
        try ls.iterator().asScala
          .filter { p =>
            val n = p.getFileName.toString
            n.startsWith("commit-") || n.startsWith("maint-")
          }.toSeq
        finally ls.close()
      }
      // AFTER candidate listing; None ⇒ skip the sweep entirely this pass
      // (dir-prefix granularity: data/<dir>)
      referencedAcrossLedgers(meta)(rel => rel.split('/').take(2).mkString("/"))
        .foreach { referenced =>
          candidates.foreach { p =>
            val n = p.getFileName.toString
            if (!referenced.contains(s"data/$n") && !inflightMarkerLive(meta, n)) {
              deleteRecursively(p); commitsRemoved += 1
            }
          }
        }
    }
    // 3. sweep DML staging (<root>/staging/dml-*) from crashed statements:
    //    these dirs are NEVER referenced by a snapshot (the row-level write
    //    merges them and deletes on commit/abort), so the only live-window
    //    protection is the statement's own inflight marker — same TTL
    //    protocol as data dirs. A marker-less or stale dir is a crash
    //    orphan; a >TTL-old statement losing its staging fails loudly at
    //    its merge, never silently wrong.
    // swept orphans are NOT counted in commitsRemoved: the return contract
    // is (metadata files, commit dirs), and staging was never committed data
    val stagingDir = Paths.get(root, "staging")
    if (Files.isDirectory(stagingDir)) {
      val ls = Files.list(stagingDir)
      val dml = try ls.iterator().asScala
        .filter(_.getFileName.toString.startsWith("dml-")).toSeq
      finally ls.close()
      dml.foreach { p =>
        if (!inflightMarkerLive(meta, p.getFileName.toString)) deleteRecursively(p)
      }
    }
    (metaRemoved, commitsRemoved)
  }

  /** Is `inflight-<dirName>` present and fresh? One marker guards each
    * writer's write→commit window; an aged-out marker (crashed writer,
    * older than [[InflightMarkerTtlMs]]) is reclaimed on sight so later
    * passes stop stat()ing it. Shared by [[expire]]'s data/staging sweeps
    * and [[removeOrphanFiles]] — ONE copy of the TTL protocol. */
  private def inflightMarkerLive(meta: JPath, dirName: String): Boolean = {
    val m = meta.resolve(s"inflight-$dirName")
    Files.exists(m) && {
      val fresh = try
        System.currentTimeMillis() - Files.getLastModifiedTime(m).toMillis <
          InflightMarkerTtlMs
      catch { case _: java.io.IOException => true }
      if (!fresh) Files.deleteIfExists(m) // crashed writer: reclaim
      fresh
    }
  }

  /** Union of data-file refs across EVERY retained `v*.json`, each ref
    * mapped through `f` (full path, or dir prefix for dir-granular sweeps).
    * None if ANY ledger is unreadable — deleted by a racing expire, or
    * MID-WRITE by a racing commit (`Files.write` is not atomic): the
    * keep-set is unknowable this instant, and partial knowledge must not
    * delete; the caller skips the pass and the next one reclaims. */
  private def referencedAcrossLedgers(meta: JPath)(
      f: String => String): Option[Set[String]] = {
    val ls = Files.list(meta)
    val versions = try ls.iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .flatMap(n => n.stripPrefix("v").stripSuffix(".json").toLongOption)
      .toVector
    finally ls.close()
    val sets = versions.map { v =>
      try Some(readSnapshot(Paths.get(root), v).bucketFiles
        .values.flatten.map(f).toSet)
      catch { case scala.util.control.NonFatal(_) => None }
    }
    if (sets.exists(_.isEmpty)) None else Some(sets.flatten.flatten.toSet)
  }

  /** FILE-level GC (≙ Iceberg `remove_orphan_files`): delete data files
    * under this table's `data/` that NO retained snapshot references.
    * [[expire]] is DIRECTORY-granular — it removes a commit dir only when
    * nothing in it is referenced — so a dir anchored by one cold bucket's
    * live file keeps the dead files of hot buckets that were copy-on-write
    * rewritten many versions ago. At a 100 TB stream with skewed bucket
    * heat that debt grows without bound; this pass diffs the actual file
    * tree against the union of every retained snapshot's refs (FULL paths,
    * not dir prefixes) and deletes the difference.
    *
    * Safety:
    *  - `graceMs` (mtime-based): files younger than the grace are kept, so
    *    a concurrent commit's freshly-written-but-not-yet-referenced files
    *    survive (they are minutes old; the default grace is a day — the
    *    Iceberg default);
    *  - dirs with a live `inflight-` marker are skipped entirely (same
    *    protocol as [[expire]]'s data sweep);
    *  - the referenced set is re-read AFTER listing candidates, so a commit
    *    landing mid-sweep protects its files; an unreadable ledger aborts
    *    the sweep (partial knowledge must not delete);
    *  - clones borrow exactly the files of their pinned (tagged) source
    *    version, whose metadata [[expire]] retains, so borrowed files are
    *    always inside the referenced set here;
    *  - only `*.parquet` files are touched; emptied dirs are swept after.
    * @return (orphan files deleted, emptied dirs removed) */
  def removeOrphanFiles(graceMs: Long = 24L * 3600 * 1000): (Int, Int) = {
    val dataDir = Paths.get(root, "data")
    if (!Files.isDirectory(dataDir)) return (0, 0)
    val meta = Paths.get(root, "meta")
    val now = System.currentTimeMillis()
    // memoized per top-level dir: one marker stat per dir, not per file
    val markedCache = scala.collection.mutable.Map.empty[String, Boolean]
    def marked(topDir: String): Boolean =
      markedCache.getOrElseUpdate(topDir, inflightMarkerLive(meta, topDir))
    // candidate files FIRST, referenced set SECOND (a commit landing in
    // between is in the referenced set; its files were also young anyway).
    // A racing expire can deleteRecursively a whole dir MID-WALK — the
    // lazy iterator then throws out of hasNext; partial knowledge must not
    // delete, so that aborts this pass (same contract as an unreadable
    // ledger; the next pass reclaims).
    val candidates = try {
      val walk = Files.walk(dataDir)
      try walk.iterator().asScala.filter { p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")
      }.map(p => Paths.get(root).relativize(p).toString).toVector
      finally walk.close()
    } catch {
      case _: java.io.UncheckedIOException | _: java.io.IOException =>
        return (0, 0)
    }
    // None = some ledger unreadable (racing expire/commit): abort the sweep
    referencedAcrossLedgers(meta)(identity) match {
      case None => (0, 0)
      case Some(live) =>
        var removed = 0
        candidates.foreach { rel =>
          val top = rel.split('/').lift(1).getOrElse("")
          val p = Paths.get(root).resolve(rel)
          val oldEnough = try
            now - Files.getLastModifiedTime(p).toMillis >= graceMs
          catch { case _: java.io.IOException => false }
          if (!live(rel) && oldEnough && !marked(top) &&
              Files.deleteIfExists(p)) removed += 1
        }
        // sweep dirs the deletions emptied (bottom-up; keep data/ itself).
        // Inflight markers are honored HERE too: a concurrent writer's
        // commit dir holds momentarily-empty subdirs (task-attempt dirs
        // between the committer's renames) that must not vanish under it.
        // Each delete tolerates the two benign races — a file landing
        // after the emptiness check (DirectoryNotEmpty) and a racing
        // expire removing the dir first (NoSuchFile) — and a racing
        // expire mid-walk just ends the sweep with what it has.
        var dirsRemoved = 0
        try {
          val dirs = Files.walk(dataDir)
          try dirs.iterator().asScala.toVector
            .filter(p => Files.isDirectory(p) && p != dataDir)
            .sortBy(-_.getNameCount)
            .foreach { d =>
              val top = dataDir.relativize(d).getName(0).toString
              if (!marked(top)) {
                val empty = try {
                  val ls = Files.list(d)
                  try !ls.iterator().hasNext finally ls.close()
                } catch { case _: java.io.IOException => false }
                if (empty) {
                  try { Files.delete(d); dirsRemoved += 1 }
                  catch {
                    case _: java.nio.file.DirectoryNotEmptyException => ()
                    case _: java.nio.file.NoSuchFileException => ()
                  }
                }
              }
            }
          finally dirs.close()
        } catch {
          case _: java.io.UncheckedIOException => () // racing expire mid-walk
        }
        (removed, dirsRemoved)
    }
  }

  /** TABLE INTEGRITY AUDIT (an `fsck` for the table format — the check
    * Iceberg/Delta operators script by hand): validate the HEAD snapshot's
    * internal invariants and its agreement with storage, modifying NOTHING.
    * The metadata checks are driver-side and O(#files) — cheap at any table
    * size; `checkData = true` adds ONE Spark job with zero exchanges (both
    * aggregates ride the partitioning-reporting scan) that verifies
    * per-bucket stored row counts against the snapshot ledger and that
    * every row's key hashes into the bucket holding it — the invariant
    * every bucket-pruned read, point lookup, and storage-partitioned join
    * silently depends on. Run it after restoring from a backup, before
    * trusting a manually-repaired table, or on a schedule against bit rot.
    * @return `(check, ok, detail)` rows in a fixed order; all-ok = healthy */
  def verifyTable(checkData: Boolean = false): Seq[(String, Boolean, String)] = {
    val s = snapshot()
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, String)]
    def check(name: String)(body: => (Boolean, String)): Unit = {
      val (ok, d) = try body catch {
        case scala.util.control.NonFatal(e) => (false, s"check errored: ${e.getMessage}")
      }
      out += ((name, ok, d))
    }
    val schemaOpt =
      try Some(StructType.fromDDL(s.schemaDdl))
      catch { case scala.util.control.NonFatal(_) => None }
    val lcNames = schemaOpt.map(_.fieldNames.map(_.toLowerCase).toSet).getOrElse(Set.empty)
    check("schema_parses")((schemaOpt.isDefined,
      if (schemaOpt.isDefined) "" else s"unparseable DDL: ${s.schemaDdl.take(80)}"))
    check("identity_columns_in_schema") {
      val want = s.keyCols ++ s.orderCols ++ s.tombstoneCol.toSeq ++ s.sortOrder
      val missing = want.filterNot(c => lcNames(c.toLowerCase))
      (missing.isEmpty,
        if (missing.isEmpty) "" else s"missing from schema: ${missing.mkString(", ")}")
    }
    check("dropped_names_absent_from_schema") {
      val clash = s.droppedCols.filter(lcNames)
      (clash.isEmpty,
        if (clash.isEmpty) ""
        else s"on the dropped ledger AND in the schema (resurrection): ${clash.mkString(", ")}")
    }
    check("bucket_ids_in_range") {
      val ids = (s.bucketFiles.keys ++ s.bucketRows.keys ++ s.morBuckets ++
        s.bucketLayers.keys).toSeq.distinct
      val bad = ids.filter(b => b < 0 || b >= s.numBuckets).sorted
      (bad.isEmpty,
        if (bad.isEmpty) "" else s"outside [0, ${s.numBuckets}): ${bad.mkString(", ")}")
    }
    check("row_count_consistent") {
      val sum = s.bucketRows.values.sum
      (s.rowCount == sum,
        if (s.rowCount == sum) "" else s"snapshot rowCount ${s.rowCount} != per-bucket sum $sum")
    }
    check("buckets_with_rows_have_files") {
      val bad = s.bucketRows.collect {
        case (b, n) if n > 0 && s.bucketFiles.getOrElse(b, Nil).isEmpty => b
      }.toSeq.sorted
      (bad.isEmpty,
        if (bad.isEmpty) "" else s"rows recorded but no files: buckets ${bad.mkString(", ")}")
    }
    check("mor_buckets_have_files") {
      val bad = s.morBuckets.filter(b => s.bucketFiles.getOrElse(b, Nil).isEmpty).sorted
      (bad.isEmpty,
        if (bad.isEmpty) "" else s"dirty but fileless: buckets ${bad.mkString(", ")}")
    }
    check("file_refs_unique") {
      val dups = s.bucketFiles.toSeq.flatMap { case (b, fs) => fs.map(_ -> b) }
        .groupBy(_._1).collect { case (f, bs) if bs.size > 1 => f }.toSeq.sorted
      (dups.isEmpty,
        if (dups.isEmpty) ""
        else s"${dups.size} file(s) referenced by more than one bucket, first: ${dups.take(3).mkString(", ")}")
    }
    val refs = s.bucketFiles.values.flatten.toSeq
    check("referenced_files_exist") {
      val missing = refs.filter { rel =>
        val p = Paths.get(LakeTable.dataPath(root, rel))
        !(Files.isRegularFile(p) && (try Files.size(p) > 0L
          catch { case _: java.io.IOException => false }))
      }
      (missing.isEmpty,
        if (missing.isEmpty) ""
        else s"${missing.size} missing/empty, first: ${missing.take(3).mkString(", ")}")
    }
    check("file_stats_reference_live_files") {
      val refSet = refs.toSet
      val stale = s.fileStats.keys.filterNot(refSet).toSeq.sorted
      (stale.isEmpty,
        if (stale.isEmpty) ""
        else s"stats for ${stale.size} dead file(s), first: ${stale.take(3).mkString(", ")}")
    }
    check("tags_resolve_to_retained_versions") {
      val bad = s.tags.toSeq.filter { case (_, v) =>
        v > s.version || !Files.exists(Paths.get(root, "meta", s"v$v.json"))
      }.map(_._1).sorted
      (bad.isEmpty,
        if (bad.isEmpty) "" else s"tag(s) pin unreadable versions: ${bad.mkString(", ")}")
    }
    check("lineage_keys_within_batch_window") {
      val extra = (s.lineage.keySet -- s.appliedBatches.toSet).toSeq.sorted
      (extra.isEmpty,
        if (extra.isEmpty) ""
        else s"lineage for batch(es) outside the retained window: ${extra.mkString(", ")}")
    }
    if (checkData) {
      val withFiles = s.bucketFiles.collect { case (b, fs) if fs.nonEmpty => b }.toSeq.sorted
      if (withFiles.isEmpty) {
        out += (("stored_counts_match_files", true, "no data files"))
        out += (("rows_hashed_into_their_bucket", true, "no data files"))
      } else {
        // ONE job, zero exchanges: count + placement aggregates both group on
        // the bucket column the scan reports partitioning for
        val perBucket =
          try Some(withSpjConfs(Some(withFiles.size)) {
            bucketScanDF(s, withFiles)
              .groupBy(col(BucketCol))
              .agg(count(lit(1)).as("_n"),
                sum(when(bucketExpr(s.keyCols, s.numBuckets) =!= col(BucketCol), lit(1L))
                  .otherwise(lit(0L))).as("_misplaced"))
              .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
          })
          catch {
            case scala.util.control.NonFatal(e) =>
              out += (("stored_counts_match_files", false, s"data scan failed: ${e.getMessage}"))
              out += (("rows_hashed_into_their_bucket", false, s"data scan failed: ${e.getMessage}"))
              None
          }
        perBucket.foreach { per =>
          check("stored_counts_match_files") {
            val bad = withFiles.flatMap { b =>
              val actual = per.get(b).map(_._1).getOrElse(0L)
              val stored = s.bucketRows.getOrElse(b, 0L)
              if (actual == stored) None
              else Some(s"bucket $b: ledger $stored, files hold $actual")
            }
            (bad.isEmpty, bad.take(3).mkString("; "))
          }
          check("rows_hashed_into_their_bucket") {
            val mis = per.values.map(_._2).sum
            (mis == 0L,
              if (mis == 0L) "" else s"$mis row(s) sit in a bucket their key does not hash to")
          }
        }
      }
    }
    out.toSeq
  }

  /** THE staged bucket write: every commit that writes data files — merge,
    * compaction, purge, clustering, rebucket — goes through this one step.
    * In order:
    *  1. stage: a UNIQUE staging dir `data/<kind>-<v>-<hex>` (`kind` is
    *     `commit` for merges, `maint` for maintenance) — never a
    *     version-named dir a racing writer could share and overwrite-clobber
    *     — and its `inflight-` marker ([[withInflightMarker]]), which
    *     shields the dir from a concurrent [[expire]] until step 6 ends;
    *  2. write: `write(sink)` opens the caller's conf windows, builds its
    *     output and hands it to `sink` — [[bucketWriter]] with `sortBy`
    *     and `cap`, partitioned by bucket, into the staging dir;
    *  3. footer: [[touchInflight]], then one parallel footer pass
    *     ([[listBucketFiles]], [[writtenMeta]]) for per-bucket files and
    *     rows and per-file bounds over `schema` — the schema the files were
    *     written with (a merge's evolved schema, so a column the merge adds
    *     gets bounds in the very files that introduce it);
    *  4. guard: `publish(staged)` says what to commit; when it `required`
    *     output and the dir holds none, a concurrent expire swept it — fail
    *     loudly rather than commit data loss;
    *  5. commit: [[occCommit]] of `build`, rebasing when `rebase` accepts
    *     the interleaved state; the staged files' bounds are scrubbed of
    *     the committed snapshot's dropped columns (a DROP COLUMN that
    *     landed while this write was in flight already scrubbed every
    *     other file's);
    *  6. sweep: [[sweepStaging]] deletes the staged files the committed
    *     snapshot does not reference — all of them when the commit built
    *     nothing or lost (ConcurrentModificationException, thrown before
    *     anything is published; rethrown after the sweep).
    * Any other failure leaves the staging dir to [[expire]]'s marker-TTL
    * sweep.
    * @return the committed snapshot; None when `build` had nothing left */
  private def stagedCommit(snap: TableSnapshot, schema: StructType, kind: String,
      sortBy: Seq[String], cap: Long, statsFirst: Seq[String])(
      write: (DataFrame => Unit) => Unit)(
      publish: Staged => Publish): Option[TableSnapshot] = {
    val rel = s"data/$kind-${snap.version + 1}-${java.lang.Long.toHexString(System.nanoTime())}"
    withInflightMarker(rel) {
      write(df => bucketWriter(df, sortBy, cap)
        .partitionBy(BucketCol).mode("overwrite").parquet(s"$root/$rel"))
      touchInflight(rel)
      val files = listBucketFiles(Paths.get(root).resolve(rel), rel, BucketCol)
      val (rows, stats) = writtenMeta(files, schema, snap.keyCols, snap.orderCols, statsFirst)
      val staged = Staged(rel, files, rows, stats)
      val p = publish(staged)
      if (p.required && files.isEmpty)
        throw new IllegalStateException(
          s"staging dir $rel produced no files for non-empty input — " +
            "was it swept by a concurrent expire()?")
      def scrubbed(next: TableSnapshot): TableSnapshot =
        if (next.droppedCols.isEmpty) next
        else next.copy(fileStats = next.fileStats ++ stats.collect {
          case (f, st) if next.fileStats.contains(f) =>
            f -> st.copy(cols = st.cols.filterNot(e => next.droppedCols.contains(e._1.toLowerCase)))
        })
      val committed =
        try occCommit(snap)(p.rebase)(s => p.build(s).map(scrubbed))
        catch {
          case e: java.util.ConcurrentModificationException =>
            sweepStaging(staged, None)
            throw e
        }
      sweepStaging(staged, committed)
      committed
    }
  }

  /** Run `f` with an `inflight-<dir>` marker protecting `commitRel`'s data
    * directory from a concurrent [[expire]] between first write and commit
    * (the dir is unreferenced by any snapshot during that window). */
  private def withInflightMarker[A](commitRel: String)(f: => A): A = {
    val meta = Paths.get(root, "meta")
    Files.createDirectories(meta)
    val marker = meta.resolve(s"inflight-${commitRel.stripPrefix("data/")}")
    Files.write(marker, Array.emptyByteArray)
    try f finally Files.deleteIfExists(marker)
  }

  /** Restart `commitRel`'s inflight-marker staleness clock — called the
    * moment the (arbitrarily long) parquet write completes, so the marker
    * TTL only ever has to cover the SHORT footer-list→commit window. A
    * mid-write deletion by a stale-marker sweep is loud on its own (the
    * write job fails on its vanished task files). */
  private def touchInflight(commitRel: String): Unit = {
    val m = Paths.get(root, "meta", s"inflight-${commitRel.stripPrefix("data/")}")
    try Files.setLastModifiedTime(m,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    catch { case _: java.io.IOException => () }
  }

  /** Step 6 of [[stagedCommit]]: delete the staged files `committed` does
    * not reference (a rewrite's buckets that lost the rebase, or everything
    * when nothing committed); remove the whole dir when none landed
    * (tolerating a racing expire having removed it first). */
  private def sweepStaging(staged: Staged, committed: Option[TableSnapshot]): Unit = {
    val landed = committed.fold(Set.empty[String])(c =>
      staged.files.keys.flatMap(b => c.bucketFiles.getOrElse(b, Nil)).toSet)
    val (kept, lost) = staged.files.values.flatten.partition(landed)
    lost.foreach(rel => Files.deleteIfExists(Paths.get(root).resolve(rel)))
    val dir = Paths.get(root).resolve(staged.rel)
    if (kept.isEmpty && Files.exists(dir)) deleteRecursively(dir)
  }

  private def deleteRecursively(p: JPath): Unit = {
    if (Files.isDirectory(p))
      LakeTable.listDirEntries(p).foreach(deleteRecursively)
    Files.delete(p)
  }

  /** Row counts straight from parquet footers on the driver — no Spark job
    * (a count job per commit would cost a whole job round-trip). Footer
    * reads are parallelized: a serial loop over N files is driver-side
    * serial time that caps scaling efficiency. */
  private def countRows(files: Seq[String], schema: StructType): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.par_.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** One parallel footer pass over freshly-written files: per-bucket row
    * counts AND per-file column bounds ([[FileStats]]) from the SAME footer
    * objects — the bounds are free on the read the row counts already pay
    * for, so planning-time file skipping costs a commit nothing extra. */
  private def writtenMeta(written: Map[Int, Seq[String]], schema: StructType,
      keyCols: Seq[String], orderCols: Seq[String],
      statsFirst: Seq[String] = Nil)
      : (Map[Int, Long], Map[String, FileStats]) = {
    // order columns OUTRANK the sort/cluster columns under the MaxStatsCols
    // cap: the CDC "changed since slot X" prune rides the order-column
    // bounds, and a wide sort order must degrade its own slices' pruning
    // rather than silently evict the core prune
    val statsCols = FileStats.statsColumns(schema, keyCols, orderCols ++ statsFirst)
    val conf = spark.sparkContext.hadoopConfiguration
    val perFile = written.values.flatten.toSeq.par_.map { rel =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(s"$root/$rel"), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try rel -> FileStats.fromFooter(r.getFooter, schema, statsCols)
      finally r.close()
    }.toMap
    (written.map { case (b, fs) => b -> fs.map(perFile(_).rows).sum }, perFile)
  }

  implicit private class ParSeq[A](s: Seq[A]) {
    /** Bounded-parallel map without the (absent) parallel-collections jar. */
    def par_ : ParOps[A] = new ParOps(s)
  }
  final private class ParOps[A](s: Seq[A]) {
    def map[B](f: A => B): Seq[B] = {
      if (s.size <= 1) return s.map(f)
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      // daemon threads + a bounded wait: a hung filesystem fails the commit
      // with a diagnosable error instead of wedging the driver forever
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, s.size),
        (r: Runnable) => { val t = new Thread(r, "lake-stat"); t.setDaemon(true); t })
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.sequence(s.map(a => Future(f(a)))), 10.minutes)
      catch { case _: concurrent.TimeoutException =>
        throw new java.io.IOException(
          s"timed out after 10 minutes statting ${s.size} files under $root")
      }
      finally pool.shutdown()
    }
  }

  /** Project `df` onto `schema`, adding missing columns as typed nulls. */
  private def align(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)

  /** Test seam: runs immediately before every commit attempt from THIS
    * handle (default no-op). Lets specs interleave a competing commit at the
    * exact race window deterministically instead of spinning threads. */
  private[tables] var onBeforeCommit: () => Unit = () => ()

  /** OPTIMISTIC-CONCURRENCY commit loop: build the next snapshot against
    * `base` and try to commit it; when another writer claimed the version
    * first, re-read the table and — if `rebase` accepts the interleaved
    * state — rebuild against it and retry. `build` returning None means the
    * rebased commit has nothing left to do (everything it would publish was
    * invalidated by the interleaved writer).
    *
    * This is what lets table MAINTENANCE (compaction, rebucket) race a live
    * ingest stream instead of killing one of the two: maintenance commits
    * change no logical state, so rebasing them is a metadata rebuild; and a
    * merge can conversely rebase over maintenance-only interleavings
    * ([[maintenanceOnlyBetween]]) and over concurrent merges on a DISJOINT
    * bucket set ([[disjointWritersBetween]]). Anything else still fails
    * loudly — overlapping-bucket merges must rerun. */
  private def occCommit(base0: TableSnapshot, maxAttempts: Int = 20)(
      rebase: TableSnapshot => Boolean)(
      build: TableSnapshot => Option[TableSnapshot]): Option[TableSnapshot] = {
    var base = base0
    var attempts = 0
    while (attempts < maxAttempts) {
      attempts += 1
      build(base) match {
        case None => return None
        case Some(next) =>
          try { commit(next); return Some(next) }
          catch {
            case e: java.util.ConcurrentModificationException =>
              val cur = snapshot()
              if (attempts >= maxAttempts || cur.version <= base.version || !rebase(cur))
                throw e
              base = cur
          }
      }
    }
    throw new IllegalStateException("occCommit: exhausted attempts without commit")
  }

  /** True iff every commit between `base` and `cur` was MAINTENANCE
    * (compaction — logical no-ops): no batch was applied (appliedBatches,
    * txns, and the lineage window are untouched and nothing rolled into
    * totals), no layout change (numBuckets, schema). Under this predicate a
    * merge computed against `base` is still logically correct against `cur`
    * — only per-bucket file lists moved. */
  private def maintenanceOnlyBetween(base: TableSnapshot, cur: TableSnapshot): Boolean =
    cur.numBuckets == base.numBuckets &&
      cur.schemaDdl == base.schemaDdl &&
      cur.appliedBatches == base.appliedBatches &&
      cur.txns == base.txns &&
      cur.lineage.keySet == base.lineage.keySet &&
      cur.totals.getOrElse("batches", 0L) == base.totals.getOrElse("batches", 0L) &&
      cur.totals.getOrElse("rebuckets", 0L) == base.totals.getOrElse("rebuckets", 0L)

  /** True iff a merge computed against `base` touching `touched` is still
    * logically correct against `cur` even though OTHER MERGES committed in
    * between: same bucket layout, and every one of MY touched buckets'
    * file lists byte-identical — the interleaved writers landed on a
    * DISJOINT bucket set, so their batches carried no keys hashing into
    * mine and my per-bucket LWW outputs are unaffected (hash-bucketing
    * makes bucket disjointness ⇔ key disjointness). This is what allows
    * CONCURRENT INGEST WRITERS on disjoint key ranges (Iceberg's
    * concurrent-append analog); overlapping-bucket merges still conflict
    * and must rerun. Writers must use distinct txn app ids — the `(app,
    * seq)` ledger is merged per app at rebase. */
  private def disjointWritersBetween(base: TableSnapshot, cur: TableSnapshot,
      touched: Seq[Int]): Boolean =
    cur.numBuckets == base.numBuckets &&
      touched.forall(b =>
        cur.bucketFiles.getOrElse(b, Nil) == base.bucketFiles.getOrElse(b, Nil))

  /** Write v<N>.json (CREATE_NEW — the concurrent-writer guard), then
    * atomically swap the VERSION pointer (write-audit-publish ≙
    * TempFileGuard::promote, sqlite.rs:446-451). */
  private def commit(s: TableSnapshot): Unit = {
    onBeforeCommit()
    val meta = Paths.get(root, "meta")
    Files.createDirectories(meta)
    try
      Files.write(meta.resolve(s"v${s.version}.json"),
        snapshotJson(s.copy(committedAtMillis = System.currentTimeMillis())),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"concurrent writer detected: meta/v${s.version}.json already exists " +
            s"(another commit landed from version ${s.version - 1}); " +
            "maintenance and DISJOINT-bucket merges rebase automatically — " +
            "an overlapping-bucket merge must rerun against the new version")
    }
    val tmp = meta.resolve(s"VERSION.tmp.${s.version}")
    Files.write(tmp, s.version.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, meta.resolve("VERSION"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}

object LakeTable {

  private val mapper = new ObjectMapper()

  /** What one [[LakeTable.stagedCommit]] write left in its staging dir
    * `rel`: files and footer row counts per bucket, footer bounds per file. */
  private final case class Staged(rel: String, files: Map[Int, Seq[String]],
      rows: Map[Int, Long], stats: Map[String, FileStats])

  /** How a writer publishes its staged output: whether non-empty output was
    * `required` (none then means the dir was swept), which interleaved
    * snapshots it `rebase`s over, and the snapshot it `build`s against a
    * base (None: nothing left to commit). */
  private final case class Publish(required: Boolean, rebase: TableSnapshot => Boolean,
      build: TableSnapshot => Option[TableSnapshot])

  /** Materialize a directory listing with the stream CLOSED. `Files.list`
    * holds an open descriptor until closed; call sites that iterate lazily
    * without closing leak one fd per call, and tight maintenance loops
    * (e.g. a GC racer beside a live ingest) exhaust the process limit. */
  private[tables] def listDirEntries(p: JPath): Seq[JPath] = {
    val ls = Files.list(p)
    try ls.iterator().asScala.toSeq finally ls.close()
  }

  /** Resolve a stored data-file reference to a full path. References are
    * normally RELATIVE to the table root (`data/commit-<v>/bucket=<i>/…`);
    * a SHALLOW CLONE's initial snapshot instead references the SOURCE
    * table's files by ABSOLUTE path (zero-copy — see [[LakeTable.cloneTo]])
    * until local rewrites replace them, so every read site resolves through
    * this one helper. Absolute refs are inert to the clone's own [[expire]]
    * GC (its candidates are only dirs under the clone's `data/`, and an
    * absolute ref never matches a local `data/<dir>` key). */
  private[graft] def dataPath(root: String, ref: String): String =
    if (ref.startsWith("/")) ref else s"$root/$ref"

  /** THE bucket function on literal key values, evaluated on the driver:
    * must agree with [[LakeTable.bucketExpr]] (`pmod(xxhash64(keys…), B)`;
    * `xxhash64` is XxHash64 with seed 42, and pmod by a positive divisor is
    * floorMod). The one implementation keyed reads and runtime bucket
    * pruning share, so neither can hash to a different bucket than the
    * writer did. */
  private[tables] def bucketOfKey(values: Seq[Any], types: Seq[DataType], numBuckets: Int): Int = {
    val lits = values.zip(types).map { case (v, dt) =>
      org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt) }
    val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(lits, 42L)
      .eval(null).asInstanceOf[Long]
    math.floorMod(h, numBuckets.toLong).toInt
  }

  /** Lineage/ledger retention window (batches). */
  final val DefaultRetainBatches = 128

  /** [[LakeTable.withSpjConfs]] shuffle-partition-cap coordination across
    * the threads sharing a session (stream + maintenance): PER-SESSION
    * depth + baseline — sessions have independent conf stores, so a global
    * counter would let one session's window clobber another's setting. */
  private[tables] val spjConfLock = new Object
  private[tables] val spjConfState =
    new java.util.IdentityHashMap[SparkSession, Array[Any]]()

  /** Generic scoped session-conf window (same interleaving hazard and the
    * same refcounted-baseline cure as [[LakeTable.withSpjConfs]], keyed per
    * (session, conf key)): every exit restores the BASELINE captured when no
    * window for that key was active, via set/unset so never-set keys stay
    * never-set. Windows on one key may nest or overlap only with the SAME
    * value: a window asking for a different value while another is open
    * would leave its value active for the outer window's remainder, so it
    * fails before touching any conf. */
  private val scopedConfLock = new Object
  private val scopedConfState =
    new java.util.IdentityHashMap[SparkSession, scala.collection.mutable.Map[String, Array[Any]]]()
  private[tables] def withScopedConf[A](spark: SparkSession, key: String, value: String)(
      f: => A): A = {
    scopedConfLock.synchronized {
      var m = scopedConfState.get(spark)
      if (m == null) { m = scala.collection.mutable.Map.empty; scopedConfState.put(spark, m) }
      // (open windows, baseline, scoped value)
      val st = m.getOrElseUpdate(key, Array[Any](0, None, value))
      if (st(0).asInstanceOf[Int] == 0) { st(1) = spark.conf.getOption(key); st(2) = value }
      else require(st(2) == value, s"scoped conf $key=$value requested inside an open " +
        s"window that set it to ${st(2)}: windows on one key must use one value")
      // set BEFORE incrementing: if the set throws, the refcount is
      // untouched and the next entry recaptures the baseline at count 0 —
      // incrementing first would leak the count and pin the scoped value
      // on the session forever
      spark.conf.set(key, value)
      st(0) = st(0).asInstanceOf[Int] + 1
    }
    try f finally scopedConfLock.synchronized {
      val m = scopedConfState.get(spark)
      val st = m(key)
      st(0) = st(0).asInstanceOf[Int] - 1
      if (st(0).asInstanceOf[Int] == 0) {
        st(1).asInstanceOf[Option[String]] match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
        m.remove(key)
        if (m.isEmpty) scopedConfState.remove(spark) // don't pin stopped sessions
      }
    }
  }

  /** Age after which an `inflight-<dir>` staging marker from a crashed
    * writer stops protecting its data dir from [[LakeTable.expire]] (no
    * live write→commit window is anywhere near this long; a crashed one
    * must not pin garbage forever). */
  final val InflightMarkerTtlMs: Long = 60L * 60 * 1000

  /** Merge-on-read layer bound before a bucket auto-compacts: caps read
    * amplification of a hot bucket at maxLayers× a clean scan. 32 keeps the
    * common stream shape (periodic compaction every ~16 batches) off the
    * auto path while still bounding pathological hot-bucket pileups. */
  final val DefaultMaxLayers = 32

  /** Create a new empty table (version 0) or open the existing one. */
  def createOrOpen(spark: SparkSession, root: String, schema: StructType,
      keyCols: Seq[String], orderCols: Seq[String], numBuckets: Int = 16,
      retainBatches: Int = DefaultRetainBatches,
      maxLayers: Int = DefaultMaxLayers,
      tombstoneCol: Option[String] = None,
      sortOrder: Seq[String] = Nil,
      targetFileRows: Long = 0L): LakeTable = {
    tombstoneCol.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"tombstone column '$c' must be part of the table schema")
      require(schema(c).dataType == org.apache.spark.sql.types.BooleanType,
        s"tombstone column '$c' must be BOOLEAN, got ${schema(c).dataType}")
      require(!keyCols.contains(c) && !orderCols.contains(c),
        s"tombstone column '$c' cannot be a key or ordering column")
    }
    val soMissing = sortOrder.filterNot(schema.fieldNames.contains)
    require(soMissing.isEmpty,
      s"sortOrder columns not in the table schema: ${soMissing.mkString(", ")}")
    val soUnboundable = sortOrder.filterNot(c =>
      FileStats.supported(schema(c).dataType))
    require(soUnboundable.isEmpty,
      "sortOrder columns can't carry file bounds (unsupported type): " +
        soUnboundable.mkString(", "))
    require(targetFileRows >= 0L, "targetFileRows must be >= 0 (0 = no cap)")
    val t = new LakeTable(spark, root)
    val meta = Paths.get(root, "meta")
    if (!Files.exists(meta.resolve("VERSION"))) {
      Files.createDirectories(meta)
      val s0 = TableSnapshot(0L, schema.toDDL, keyCols, orderCols, numBuckets,
        retainBatches, Map.empty, Map.empty, Map.empty, Nil, Map.empty, Map.empty, 0L,
        morBuckets = Nil, bucketLayers = Map.empty, maxLayers = maxLayers,
        tombstoneCol = tombstoneCol, sortOrder = sortOrder,
        targetFileRows = targetFileRows)
      Files.write(meta.resolve("v0.json"),
        snapshotJson(s0.copy(committedAtMillis = System.currentTimeMillis())),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      val tmp = meta.resolve("VERSION.tmp.0")
      Files.write(tmp, "0".getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, meta.resolve("VERSION"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    t
  }

  /** Read a clone's provenance note written by [[LakeTable.cloneTo]]:
    * (source root, source version, protective source tag). None when the
    * table at `root` was not created by a clone. Observability only. */
  def cloneProvenance(root: String): Option[(String, Long, String)] = {
    val p = Paths.get(root, "meta", "CLONE.json")
    if (!Files.exists(p)) None
    else {
      val n = mapper.readTree(Files.readAllBytes(p))
      Some((n.get("sourceRoot").asText(), n.get("sourceVersion").asLong(),
        n.get("sourceTag").asText()))
    }
  }

  /** The published head version of the table at `root` (0 before its
    * create commit): the one reader of the `meta/VERSION` pointer. */
  private[graft] def currentVersion(root: String): Long = {
    val vf = Paths.get(root, "meta", "VERSION")
    if (Files.exists(vf)) new String(Files.readAllBytes(vf), StandardCharsets.UTF_8).trim.toLong
    else 0L
  }

  def open(spark: SparkSession, root: String): LakeTable = {
    require(Files.exists(Paths.get(root, "meta", "VERSION")), s"no table at $root")
    new LakeTable(spark, root)
  }

  private[tables] def listBucketFiles(commitDir: JPath, commitRel: String,
      bucketCol: String): Map[Int, Seq[String]] = {
    if (!Files.exists(commitDir)) return Map.empty
    listDirEntries(commitDir)
      .filter(p => p.getFileName.toString.startsWith(s"$bucketCol="))
      .map { bdir =>
        val b = bdir.getFileName.toString.stripPrefix(s"$bucketCol=").toInt
        val files = listDirEntries(bdir)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(p => s"$commitRel/${bdir.getFileName}/${p.getFileName}").toSeq.sorted
        b -> files
      }.toMap
  }

  private[tables] def snapshotJson(s: TableSnapshot): Array[Byte] = {
    val o = mapper.createObjectNode()
    o.put("version", s.version)
    o.put("schemaDdl", s.schemaDdl)
    val keys = o.putArray("keyCols"); s.keyCols.foreach(keys.add)
    val ords = o.putArray("orderCols"); s.orderCols.foreach(ords.add)
    o.put("numBuckets", s.numBuckets)
    o.put("retainBatches", s.retainBatches)
    val bf = o.putObject("bucketFiles")
    s.bucketFiles.toSeq.sortBy(_._1).foreach { case (b, fs) =>
      val arr = bf.putArray(b.toString); fs.foreach(arr.add)
    }
    val br = o.putObject("bucketRows")
    s.bucketRows.toSeq.sortBy(_._1).foreach { case (b, n) => br.put(b.toString, n) }
    val tx = o.putObject("txns")
    s.txns.toSeq.sortBy(_._1).foreach { case (app, seq) => tx.put(app, seq) }
    val ab = o.putArray("appliedBatches"); s.appliedBatches.foreach(ab.add)
    val lin = o.putObject("lineage")
    s.lineage.toSeq.sortBy(_._1).foreach { case (id, e) =>
      val n = lin.putObject(id)
      val cs = n.putObject("counters")
      e.counters.toSeq.sortBy(_._1).foreach { case (k, v) => cs.put(k, v) }
      val tb = n.putArray("touchedBuckets"); e.touchedBuckets.foreach(tb.add)
    }
    val tot = o.putObject("totals")
    s.totals.toSeq.sortBy(_._1).foreach { case (k, v) => tot.put(k, v) }
    o.put("rowCount", s.rowCount)
    o.put("committedAtMillis", s.committedAtMillis)
    val so = o.putArray("sortOrder"); s.sortOrder.foreach(so.add)
    o.put("targetFileRows", s.targetFileRows)
    val tg = o.putObject("tags")
    s.tags.toSeq.sortBy(_._1).foreach { case (n, v) => tg.put(n, v) }
    val mb = o.putArray("morBuckets"); s.morBuckets.foreach(mb.add)
    val bl = o.putObject("bucketLayers")
    s.bucketLayers.toSeq.sortBy(_._1).foreach { case (b, n) => bl.put(b.toString, n) }
    o.put("maxLayers", s.maxLayers)
    s.tombstoneCol.foreach(c => o.put("tombstoneCol", c))
    if (s.droppedCols.nonEmpty) {
      val dc = o.putArray("droppedCols"); s.droppedCols.foreach(dc.add)
    }
    // normalize to the LIVE file set at serialization time: replaced files'
    // stats die with the files, so the map stays O(current files) no matter
    // how commits interleaved in memory
    val live: Set[String] = s.bucketFiles.valuesIterator.flatten.toSet
    val fsNode = o.putObject("fileStats")
    s.fileStats.toSeq.filter(e => live(e._1)).sortBy(_._1).foreach { case (rel, st) =>
      val f = fsNode.putObject(rel)
      f.put("rows", st.rows)
      val cols = f.putObject("cols")
      st.cols.toSeq.sortBy(_._1).foreach { case (c, cs) =>
        val n = cols.putObject(c)
        cs.min.foreach(v => n.put("min", v))
        cs.max.foreach(v => n.put("max", v))
        cs.nullCount.foreach(v => n.put("nulls", v))
      }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(o)
  }

  private[tables] def readSnapshot(root: JPath, version: Long): TableSnapshot = {
    val node = mapper.readTree(Files.readAllBytes(root.resolve("meta").resolve(s"v$version.json")))
    def strs(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
      n.elements().asScala.map(_.asText()).toSeq
    def longMap(n: com.fasterxml.jackson.databind.JsonNode): Map[String, Long] =
      if (n == null) Map.empty
      else n.asInstanceOf[ObjectNode].fieldNames().asScala.map(k => k -> n.get(k).asLong()).toMap
    val bf = node.get("bucketFiles").asInstanceOf[ObjectNode]
    val bucketFiles = bf.fieldNames().asScala.map { b =>
      b.toInt -> strs(bf.get(b))
    }.toMap
    val lin = node.get("lineage").asInstanceOf[ObjectNode]
    val lineage = lin.fieldNames().asScala.map { id =>
      val e = lin.get(id)
      id -> LineageEntry(longMap(e.get("counters")),
        e.get("touchedBuckets").elements().asScala.map(_.asInt()).toSeq)
    }.toMap
    TableSnapshot(
      version = node.get("version").asLong(),
      schemaDdl = node.get("schemaDdl").asText(),
      keyCols = strs(node.get("keyCols")),
      orderCols = strs(node.get("orderCols")),
      numBuckets = node.get("numBuckets").asInt(),
      retainBatches =
        if (node.has("retainBatches")) node.get("retainBatches").asInt()
        else DefaultRetainBatches,
      bucketFiles = bucketFiles,
      bucketRows = longMap(node.get("bucketRows")).map { case (k, v) => k.toInt -> v },
      txns = longMap(node.get("txns")),
      appliedBatches = strs(node.get("appliedBatches")),
      lineage = lineage,
      totals = longMap(node.get("totals")),
      rowCount = node.get("rowCount").asLong(),
      morBuckets =
        if (node.has("morBuckets"))
          node.get("morBuckets").elements().asScala.map(_.asInt()).toSeq
        else Nil,
      bucketLayers = longMap(node.get("bucketLayers")).map { case (k, v) => k.toInt -> v.toInt },
      maxLayers =
        if (node.has("maxLayers")) node.get("maxLayers").asInt() else DefaultMaxLayers,
      tombstoneCol =
        if (node.has("tombstoneCol")) Some(node.get("tombstoneCol").asText()) else None,
      droppedCols =
        if (node.has("droppedCols")) strs(node.get("droppedCols")) else Nil,
      fileStats =
        if (!node.has("fileStats")) Map.empty
        else {
          val fsNode = node.get("fileStats").asInstanceOf[ObjectNode]
          fsNode.fieldNames().asScala.map { rel =>
            val f = fsNode.get(rel)
            val colsNode = f.get("cols").asInstanceOf[ObjectNode]
            val cols = colsNode.fieldNames().asScala.map { c =>
              val n = colsNode.get(c)
              c -> ColStats(
                min = Option(n.get("min")).map(_.asText()),
                max = Option(n.get("max")).map(_.asText()),
                nullCount = Option(n.get("nulls")).map(_.asLong()))
            }.toMap
            rel -> FileStats(f.get("rows").asLong(), cols)
          }.toMap
        },
      committedAtMillis =
        if (node.has("committedAtMillis")) node.get("committedAtMillis").asLong()
        else 0L,
      sortOrder =
        if (node.has("sortOrder")) strs(node.get("sortOrder")) else Nil,
      targetFileRows =
        if (node.has("targetFileRows")) node.get("targetFileRows").asLong() else 0L,
      tags = longMap(node.get("tags")))
  }

  /** Commit wall-clock of a retained version (epoch millis). Ledgers
    * written before the stamp existed carry 0 in the json; fall back to the
    * snapshot file's mtime, which the CREATE_NEW write fixed at commit
    * time.
    *
    * STREAMING read, not a full `readSnapshot`: TIMESTAMP-AS-OF / history /
    * `startingTimestamp` resolution calls this once per retained version,
    * and a full parse is O(files) per ledger (the `fileStats` bulk).
    * `committedAtMillis` is serialized BEFORE the big maps
    * ([[snapshotJson]] writes it right after `rowCount`), so the scan
    * tokenizes only the small prefix and stops. */
  private[graft] def committedAt(root: JPath, version: Long): Long = {
    val p = root.resolve("meta").resolve(s"v$version.json")
    val parser = mapper.getFactory.createParser(p.toFile)
    val millis =
      try {
        import com.fasterxml.jackson.core.JsonToken
        var found = 0L
        if (parser.nextToken() == JsonToken.START_OBJECT) {
          var done = false
          while (!done) {
            val tok = parser.nextToken()
            if (tok == null || tok == JsonToken.END_OBJECT) done = true
            else {
              val name = parser.currentName()
              parser.nextToken() // move onto the value
              if (name == "committedAtMillis") {
                found = parser.getLongValue; done = true
              } else parser.skipChildren() // no-op on scalars
            }
          }
        }
        found
      } finally parser.close()
    if (millis > 0L) millis
    else Files.getLastModifiedTime(p).toMillis
  }
}
