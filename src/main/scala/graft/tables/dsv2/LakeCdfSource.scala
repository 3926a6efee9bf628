package graft.tables.dsv2

import java.nio.file.{Files, Paths}
import java.util.{Optional => JOptional}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Dependency, OneToOneDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, ReportsSourceMetrics, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.tables.{LakeTable, TableSnapshot}

/** STREAMING CHANGELOG SOURCE (CDC egress ≙ Delta CDF / Iceberg incremental
  * read, expressed as a Structured Streaming `Source`): tail a
  * [[graft.tables.LakeTable]] as an unbounded stream of changed rows —
  * `spark.readStream.format(LakeCdfSource.Name).option("root", …).load()`.
  *
  * Offsets are TABLE VERSIONS: micro-batch `(v1, v2]` emits exactly
  * `readChanges(v1, v2)` — every row whose LWW `(keys…, orderCols…)` tuple
  * is a winner at v2 but was not present at v1 (deletes surface as
  * tombstone-flagged rows; same contract as the batch changelog,
  * `LakeTable.scala` readChanges). Structured Streaming checkpoints the
  * version offsets, so a killed-and-restarted query resumes from its last
  * committed version with no duplicates and no gaps — the downstream half of
  * the exactly-once story (the ingest half is the merge's `(app, seq)`
  * ledger).
  *
  * Scale shape: a micro-batch IS the batch changelog. `getBatch` returns
  * `readChanges(v1, v2)` (`readChangesTyped` under `typed=true`) projected
  * onto the stream's schema — metadata bucket-diff pruning, one window scan
  * reading each changed file once, one aggregation folding each key's old
  * and new winner, zero exchanges — so the stream and the batch read
  * cannot disagree on any row, equal-ordering ties included.
  * The batch is planned when it RUNS, not when `getBatch` returns: a
  * restarted query asks once more for its last committed window and drops
  * the answer, and that window's start may have been expired since. So a
  * window that cannot be read (purge guard, retention) fails where the
  * batch runs — inside a `foreachBatch` function, as that function's error.
  *
  * Versions crossing a REBUCKET are handled without a layout-crossing join:
  * the rebucket commit changes no logical rows, so admission control clamps
  * each micro-batch at the layout boundary and the boundary window diffs
  * `(v1, R-1]` under the old layout (the rebucket version R itself
  * contributes nothing).
  *
  * Options: `root` (table root); `startingVersion` = `latest` (default —
  * only changes after the stream starts) | `earliest` (full history: when
  * v0 — the empty create commit — is still retained, the complete
  * changelog; once expire() has removed it, the first batch emits the
  * oldest retained version's full state as inserts (initial snapshot
  * load) and the stream tails from there) | a version number; `startingTag` (named-ref anchor, the dual of
  * `VERSION AS OF '<tag>'`: tail everything after the tagged version);
  * `startingTimestamp` (wall-clock anchor, mutually
  * exclusive with `startingVersion`: epoch millis / ISO instant / SQL
  * timestamp — the stream starts after the LAST version committed at or
  * before it, so a `TIMESTAMP AS OF t` snapshot read plus a
  * `startingTimestamp = t` tail reconstructs the live state exactly);
  * `maxVersionsPerBatch` (admission control: cap how many
  * table versions one micro-batch spans); `allowPurgedWindow` (override the
  * fail-loud guard on windows spanning a tombstone purge); `typed=true`
  * (emit the TYPED feed — every batch row classified in a `_change_type`
  * column as insert / update_preimage / update_postimage / delete, the
  * streaming twin of [[graft.tables.LakeTable.readChangesTyped]]: preimages
  * are exact retractions for downstream incremental aggregation, and
  * purge-spanning windows are safe).
  *
  * Failure contract: if the stream falls behind [[LakeTable.expire]]'s
  * retention (its checkpointed version is no longer on disk), the batch
  * fails with a clear error instead of silently skipping versions — size
  * `expire(keepVersions=…)` to cover the slowest consumer, exactly like
  * binlog retention vs replica lag.
  *
  * The stream's schema is FIXED when the query starts (the table schema at
  * `load()`, read again when the query creates its source — a schema change
  * between the two fails the first batch loudly). Columns added by later
  * schema evolution are not surfaced until the query restarts; evolved rows
  * project onto the start schema (missing columns read as null — the same
  * alignment the batch changelog applies).
  */
final class LakeCdfSource extends StreamSourceProvider {

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "the lake changelog stream takes its schema from the table; a " +
        "user-specified schema is not supported")
    val opts = CaseInsensitiveMap(parameters)
    (s"lake_cdf(${LakeCdfSource.root(opts)})", LakeCdfSource.streamSchema(opts))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val opts = CaseInsensitiveMap(parameters)
    new LakeCdfStream(sqlContext.sparkSession, LakeCdfSource.root(opts),
      LakeCdfSource.streamSchema(opts), opts)
  }
}

object LakeCdfSource {
  /** format name for spark.readStream.format(...) */
  val Name: String = classOf[LakeCdfSource].getName

  /** shared read-only jackson mapper (offset json + ledger counter probes) */
  private[dsv2] val offsetMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** classification column of the TYPED stream (option `typed=true`) */
  val ChangeTypeCol = "_change_type"

  private def root(opts: CaseInsensitiveMap[String]): String =
    opts.getOrElse("root", throw new IllegalArgumentException("option 'root' is required"))

  private[dsv2] def isTyped(options: Map[String, String]): Boolean =
    options.get("typed").exists(_.toBoolean)

  /** the table schema at the head version; typed mode appends the
    * classification column */
  private def streamSchema(opts: CaseInsensitiveMap[String]): StructType = {
    val data = StructType.fromDDL(LakeTable.readSnapshot(Paths.get(root(opts)),
      LakeTable.currentVersion(root(opts))).schemaDdl)
    if (isTyped(opts))
      StructType(data.fields :+ StructField(ChangeTypeCol, StringType, nullable = false))
    else data
  }

  /** `startingTimestamp` accepts epoch millis (all digits), an ISO-8601
    * instant (`2026-08-19T10:00:00Z`), or a session-local SQL timestamp
    * (`2026-08-19 10:00:00`) — resolved in the SPARK SESSION's time zone
    * (`spark.sql.session.timeZone`), not the JVM default, so the form
    * agrees with how SQL `TIMESTAMP AS OF '<same literal>'` resolves and
    * the "`TIMESTAMP AS OF t` snapshot + `startingTimestamp = t` tail =
    * live state" invariant holds on clusters where the two zones differ. */
  private[dsv2] def parseTimestampMillis(ts: String): Long = {
    val t = ts.trim
    if (t.nonEmpty && t.forall(_.isDigit)) t.toLong
    else try java.time.Instant.parse(t).toEpochMilli
    catch { case _: java.time.format.DateTimeParseException =>
      try {
        val sessionTz = java.time.ZoneId.of(
          org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
        java.time.LocalDateTime
          .parse(t.replace(' ', 'T'))
          .atZone(sessionTz).toInstant.toEpochMilli
      } catch { case _: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"startingTimestamp '$ts' is neither epoch millis, an ISO-8601 " +
            "instant, nor 'yyyy-MM-dd HH:mm:ss'")
      }
    }
  }

  /** Last retained version of `root` committed at or before `millis`,
    * capped at the PUBLISHED head (a racing writer's `v<N+1>.json` may
    * exist before its bytes are durable). None when every retained commit
    * is later. ONE resolution shared by SQL `TIMESTAMP AS OF` and the
    * stream's `startingTimestamp` — the "snapshot + tail = live state"
    * invariant requires the two anchors to agree exactly. */
  private[dsv2] def versionAtOrBefore(root: String, millis: Long): Option[Long] = {
    val head = LakeTable.currentVersion(root)
    val rootP = Paths.get(root)
    LakeMetadataTables.retainedVersions(rootP).filter(_ <= head)
      .filter(v => LakeTable.committedAt(rootP, v) <= millis)
      .maxOption
  }

  private[dsv2] def earliestRetainedVersion(root: String): Long =
    LakeMetadataTables.retainedVersions(Paths.get(root)).minOption
      .getOrElse(throw new IllegalStateException(
        s"no table versions under $root/meta"))
}

/** version offset: `{"version":N}` means "changes up to and including table
  * version N have been emitted". The FIRST batch's end offset also carries
  * the stream's `anchor` — the version the stream starts after — so a query
  * restarted before that batch committed replays the same window. With
  * `baselineEmpty` (a `startingVersion=earliest` anchor whose pre-image was
  * already expired) the first batch diffs against an EMPTY old side: it
  * emits version N's resolved state (initial snapshot load). Equality is
  * the json's, as for every streaming offset. */
final class LakeCdfOffset(val version: Long, private[dsv2] val anchor: Option[Long] = None,
    val baselineEmpty: Boolean = false) extends Offset {
  override def json: String =
    s"""{"version":$version""" + anchor.fold("")(a => s""","anchor":$a""") +
      (if (baselineEmpty) ""","baseline":"empty"}""" else "}")
}

object LakeCdfOffset {
  /** ours as-is; a checkpointed (serialized) offset parsed from its json */
  private[dsv2] def apply(o: OffsetV2): LakeCdfOffset = o match {
    case l: LakeCdfOffset => l
    case _ =>
      val m = LakeCdfSource.offsetMapper.readTree(o.json)
      new LakeCdfOffset(m.get("version").asLong(),
        Option(m.get("anchor")).map(_.asLong()), m.has("baseline"))
  }
}

final class LakeCdfStream(spark: SparkSession, root: String,
    override val schema: StructType, options: CaseInsensitiveMap[String])
    extends Source with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  private val maxVersionsPerBatch: Long =
    options.get("maxVersionsPerBatch").map(_.toLong).getOrElse(Long.MaxValue)
  require(maxVersionsPerBatch >= 1, "maxVersionsPerBatch must be >= 1")
  private val allowPurgedWindow: Boolean =
    options.get("allowPurgedWindow").exists(_.toBoolean)
  private val typed: Boolean = LakeCdfSource.isTyped(options)

  private lazy val table = LakeTable.open(spark, root)

  private def snap(v: Long): TableSnapshot =
    try LakeTable.readSnapshot(Paths.get(root), v)
    catch { case e: Exception => throw unreadable(v, e) }

  private def unreadable(v: Long, e: Exception) = new IllegalStateException(
    s"table version $v of $root is not readable — if the stream lagged " +
      "past expire()'s retention window, raise keepVersions to cover the " +
      "slowest changelog consumer (like binlog retention vs replica lag)", e)

  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(LakeTable.currentVersion(root))

  /** The version the stream starts after and whether its baseline is
    * empty, resolved ONCE per query run from the starting options (the
    * first batch's offset then carries it). */
  private lazy val anchor: (Long, Boolean) = resolveAnchor()
  private def resolveAnchor(): (Long, Boolean) = {
    val sv = options.get("startingVersion")
    val st = options.get("startingTimestamp")
    val sg = options.get("startingTag")
    require(Seq(sv, st, sg).count(_.isDefined) <= 1,
      "options startingVersion, startingTimestamp and startingTag are " +
        "mutually exclusive")
    val v = (sv, st, sg) match {
      case (_, _, Some(tag)) =>
        // named-ref anchor (Iceberg tag analog): tail everything AFTER the
        // tagged version, so `VERSION AS OF '<tag>'` state + this stream's
        // batches = live state — the named twin of startingTimestamp
        val head = snap(LakeTable.currentVersion(root))
        head.tags.getOrElse(tag, throw new IllegalArgumentException(
          s"startingTag: no tag '$tag' on $root (tags: " +
            s"${head.tags.keys.toSeq.sorted.mkString(", ")})"))
      case (_, Some(ts), _) =>
        // wall-clock anchor, the dual of the catalog's TIMESTAMP AS OF: the
        // offset is the LAST retained version committed at or before t, so
        // `TIMESTAMP AS OF t` state + this stream's batches = live state
        // (one shared resolution, LakeCdfSource.versionAtOrBefore)
        val millis = LakeCdfSource.parseTimestampMillis(ts)
        LakeCdfSource.versionAtOrBefore(root, millis)
          .getOrElse(throw new IllegalArgumentException(
            s"startingTimestamp: no retained version of $root was committed at " +
              s"or before ${java.time.Instant.ofEpochMilli(millis)}; older " +
              "snapshots may have been expired — use startingVersion=earliest " +
              "for the full retained history"))
      case _ => sv.getOrElse("latest") match {
        case "latest" => LakeTable.currentVersion(root)
        case "earliest" =>
          val e = LakeCdfSource.earliestRetainedVersion(root)
          // v0 is the empty CREATE commit, so anchoring AT a retained v0 is
          // already a full load. When expire() has removed v0, anchor at the
          // earliest retained version with an EMPTY baseline: the first
          // batch emits that state as inserts (initial snapshot load), THEN
          // tails — otherwise every row already present at the anchor would
          // silently never reach the consumer.
          return (e, e > 0L)
        case n => n.toLong
      }
    }
    (v, false)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry point")

  /** Admission control: advance from `start` (null before the first batch:
    * the stream's anchor) to the current table version, clamped by (a)
    * `maxVersionsPerBatch`, (b) the Trigger.AvailableNow target pinned at
    * query start, and (c) the first REBUCKET boundary — a micro-batch never
    * spans a bucket-layout change (the boundary batch ends AT the rebucket
    * version; its diff runs under the old layout against the pre-rebucket
    * snapshot, which is logically identical).
    *
    * The first call always returns an offset carrying the anchor, even when
    * nothing is new: the (then empty) first batch pins a `latest` or
    * timestamp anchor in the checkpoint, so a restarted query tails from
    * where this one started instead of from the head at restart. */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val (from, baselineEmpty) =
      if (start == null) anchor else (LakeCdfOffset(start).version, false)
    var end = LakeTable.currentVersion(root)
    availableNowTarget.foreach(t => end = math.min(end, t))
    val cap = // saturating from + maxVersionsPerBatch (unlimited default overflows)
      if (maxVersionsPerBatch > Long.MaxValue - from) Long.MaxValue
      else from + maxVersionsPerBatch
    end = math.max(from, math.min(end, cap))
    // an empty-baseline anchor never reads a diff base: the initial-load
    // batch reads ONLY its end version, so no rebucket boundary inside the
    // window can matter — and probing the anchor version's ledger would fail
    // if a concurrent expire() retired it meanwhile, even though nothing in
    // the batch needs that version. Skip the clamp walk entirely.
    if (!baselineEmpty) end = clampAtRebucket(from, end)
    if (start == null) new LakeCdfOffset(end, Some(from), baselineEmpty)
    else if (end == from) start
    else new LakeCdfOffset(end)
  }

  /** `end`, or the first layout change (rebucket counter bump) in
    * `(from, end]` */
  private def clampAtRebucket(from: Long, end: Long): Long = {
    if (end == from) return end
    val baseRebuckets = rebucketsAt(from)
    (from + 1 to end).find(v => rebucketsAt(v) != baseRebuckets).getOrElse(end)
  }

  /** Counter-only probe for the admission clamp. A lagged stream's catch-up
    * walks every version in its window; materializing the FULL snapshot of
    * each — bucketFiles + fileStats maps — just to read one counter is the
    * difference between a bounded scan and a driver-OOM at 10k retained
    * versions. This parses the ledger's totals node only and caches one
    * Long per version. The walk stays LINEAR, not a binary search:
    * rollback() reverts totals to the restored snapshot's, so the counter
    * is NOT monotone across a rollback commit. */
  private val rebucketsCache = mutable.Map.empty[Long, Long]
  private def rebucketsAt(v: Long): Long = synchronized {
    rebucketsCache.getOrElseUpdate(v, {
      val node =
        try LakeCdfSource.offsetMapper.readTree(
          Files.readAllBytes(Paths.get(root, "meta", s"v$v.json")))
        catch { case e: Exception => throw unreadable(v, e) }
      val t = node.get("totals")
      val c = if (t == null) null else t.get("rebuckets")
      if (c == null) 0L else c.asLong()
    })
  }

  override def reportLatestOffset(): OffsetV2 =
    new LakeCdfOffset(LakeTable.currentVersion(root))

  /** The window `(start, end]` as one streaming DataFrame whose rows come
    * from the batch changelog, planned when the batch runs. */
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val to = LakeCdfOffset(end)
    val from = start.map(LakeCdfOffset(_).version).orElse(to.anchor).getOrElse(
      throw new IllegalStateException(
        s"first batch offset ${to.json} of the changelog stream on $root " +
          "carries no anchor — restart the query from a fresh checkpoint"))
    val baselineEmpty = start.isEmpty && to.baselineEmpty
    val rows = new DeferredRows(spark.sparkContext,
      () => project(changes(from, to.version, baselineEmpty)).queryExecution.toRdd)
    org.apache.spark.sql.graftshim.StreamBatchDF(spark, rows, schema, isStreaming = true)
  }

  private def changes(from: Long, to: Long, baselineEmpty: Boolean): DataFrame = {
    if (baselineEmpty) {
      // INITIAL SNAPSHOT LOAD (startingVersion=earliest past an expired
      // v0): the anchor's pre-image no longer exists, so the old side is
      // EMPTY — the untyped feed emits the resolved state at `to`
      // (tombstone winners included, as a window from v0 would), the typed
      // feed its live winners as inserts. No purge/rebucket guards apply:
      // with no prior consumer state there is nothing a purge or layout
      // change could invalidate.
      return if (typed) table.readAt(to).withColumn(LakeCdfSource.ChangeTypeCol, lit("insert"))
        else table.resolvedAt(to)
    }
    val fromSnap = snap(from)
    val toSnap = snap(to)
    // a window ending AT a rebucket diffs against the pre-rebucket version:
    // the rebucket commit itself changed no logical rows (maintenance-only by
    // construction — asserted here), and (from, to-1] shares fromSnap's layout
    val upTo =
      if (toSnap.numBuckets == fromSnap.numBuckets) to
      else {
        val pre = snap(to - 1)
        // the boundary commit must be a PURE rebucket before its pre-image
        // can substitute for it: exactly one rebucket counter bump and NO
        // fast-forward publish in the same commit (a publish carries merged
        // rows — treating it as inert would silently drop them; fastForward
        // refuses layout-changing publishes, and this guards the invariant
        // from this side). A rollback ACROSS a layout change also lands
        // here: its counters revert rather than increment.
        require(pre.numBuckets == fromSnap.numBuckets &&
          toSnap.totals.getOrElse("rebuckets", 0L) ==
            pre.totals.getOrElse("rebuckets", 0L) + 1L &&
          toSnap.totals.getOrElse("clones", 0L) ==
            pre.totals.getOrElse("clones", 0L),
          s"micro-batch ($from, $to] spans a bucket-layout change that is not " +
            "a single pure rebucket boundary (a rollback across a rebucket, " +
            "or a layout-changing publish) — restart the stream from a " +
            "version at or after the layout change")
        to - 1
      }
    // the TYPED feed is purge-tolerant (a fully-vanished key synthesizes a
    // delete from the old side); the untyped one keeps readChanges' guard
    if (typed) table.readChangesTyped(from, upTo)
    else table.readChanges(from, upTo, allowPurgedWindow)
  }

  /** the changelog's (evolved) columns onto the stream's fixed schema */
  private def project(df: DataFrame): DataFrame =
    df.select(schema.fields.toSeq.map { f =>
      (if (df.columns.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)
    }: _*)

  override def commit(end: Offset): Unit = synchronized {
    val v = LakeCdfOffset(end).version
    rebucketsCache.filterInPlace((k, _) => k >= v)
  }

  override def stop(): Unit = ()

  override def metrics(latestConsumed: JOptional[OffsetV2]): java.util.Map[String, String] = {
    val cur = LakeTable.currentVersion(root)
    val consumed = if (latestConsumed.isPresent)
      LakeCdfOffset(latestConsumed.get).version else cur
    Map(
      "tableVersion" -> cur.toString,
      "versionsBehind" -> math.max(0L, cur - consumed).toString).asJava
  }

  override def toString: String = s"LakeCdfStream[$root]"
}

/** A micro-batch's rows, built on first use: `getBatch` hands out this RDD
  * and the changelog behind it is planned only when a job runs it (the
  * first `partitions` call, made on the submitting thread). */
private final class DeferredRows(sc: SparkContext,
    @transient private val build: () => RDD[InternalRow])
    extends RDD[InternalRow](sc, Nil) {
  @transient private lazy val rows = build()
  override protected def getDependencies: Seq[Dependency[_]] = Seq(new OneToOneDependency(rows))
  override protected def getPartitions: Array[Partition] = rows.partitions
  override protected def getPreferredLocations(split: Partition): Seq[String] =
    rows.preferredLocations(split)
  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
    firstParent[InternalRow].iterator(split, context)
}
