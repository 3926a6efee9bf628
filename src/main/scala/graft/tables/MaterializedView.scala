package graft.tables

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One aggregate of a materialized view: `func(input) AS as`.
  *
  * `func` ∈ `count` (input `"*"` for `count(*)`, else non-null count),
  * `sum`, `avg`, `min`, `max`. Inputs must be columns of the base table;
  * integral sums are carried as LONG (exact under retraction — a float sum
  * maintained by `+x … -x` drifts, so float/double inputs are recomputed
  * per affected group like min/max, never incrementally retracted). */
final case class AggSpec(func: String, input: String, as: String) {
  require(Set("count", "sum", "avg", "min", "max").contains(func),
    s"unsupported aggregate '$func' (count/sum/avg/min/max)")
  require(func == "count" || input != "*", s"$func(*) is not an aggregate; name a column")
}

/** INCREMENTALLY-MAINTAINED MATERIALIZED AGGREGATE VIEW over a [[LakeTable]]
  * — the canonical downstream of a CDC engine (≙ Materialize / Flink
  * dynamic tables / Snowflake MVs): `SELECT groupCols, aggs FROM base GROUP
  * BY groupCols`, kept EXACTLY equal to recomputation while paying only for
  * the base table's CHANGES.
  *
  * Why this needs the typed changelog: [[LakeTable.readChanges]] emits new
  * winners only, which can re-merge state but cannot maintain a SUM/COUNT
  * through updates and deletes. [[LakeTable.readChangesTyped]] carries exact
  * preimages (insert / update_preimage / update_postimage / delete), so
  * every retractable aggregate folds incrementally:
  * `delta = Σ sign(change) · f(row)` with sign +1 on insert/postimage and
  * −1 on delete/preimage.
  *
  * Maintenance strategy per aggregate:
  *  - `count` / integral `sum`/`avg`: purely incremental (exact in LONG
  *    arithmetic; avg is carried as sum+count and divided at read time);
  *  - `min`/`max` and FLOATING-POINT `sum`/`avg`: incremental while a
  *    group's window is insert-only (`min` folds with `least`); the moment
  *    a group sees a retraction, that group — and only that group — is
  *    recomputed from the base table AS OF the window's end version (a
  *    retracted minimum is not invertible; a float sum maintained by
  *    `+x…−x` drifts). Recompute cost ∝ rows of affected groups, not
  *    table size.
  *
  * The view's state is itself a [[LakeTable]] (keyed by the group columns,
  * tombstone-enabled), so the MV inherits the whole table surface: ACID
  * commits, time travel, its own changelog (downstream consumers can chain
  * MVs), SQL reads through the catalog, compaction and expiry. A group
  * whose live-row count reaches zero is DELETED from the state (tombstone),
  * matching what recomputation would produce.
  *
  * Exactly-once: each refresh merges with writer watermark
  * `txn = ("mv", toVersion)` — a crashed refresh re-runs as a no-op, a
  * concurrent duplicate refresh loses the OCC commit race or no-ops, and
  * the watermark doubles as the resume cursor (`lastRefreshedBaseVersion`),
  * so there is no side-channel bookkeeping file to drift from the data.
  *
  * Scale shape (the part that must survive 100 TB): the typed changelog
  * reads each changed base file once, and only the columns the view uses
  * (keys, ordering, tombstone, group and aggregate inputs); the delta
  * aggregation shuffles only O(changed groups); the old-state lookup is a
  * storage-partitioned LEFT OUTER join of the deltas, shuffled into the
  * state's bucket layout, against the state's grouped bucket scan, read in
  * place — nothing is broadcast or cached, so a small count/sum/avg
  * refresh is ONE Spark job ending in the state write. Nothing ever scans
  * the base table except the bounded affected-group recompute of
  * min/max/float-sum views. Refresh never collects rows to the driver.
  *
  * {{{
  *   val mv = MaterializedView.createOrOpen(spark, mvRoot, base,
  *     groupCols = Seq("lang"),
  *     aggs = Seq(AggSpec("count", "*", "files"),
  *                AggSpec("sum", "bytes", "total_bytes"),
  *                AggSpec("max", "commit_seq", "last_commit")))
  *   mv.refresh()            // catch up to base.currentVersion()
  *   mv.read()               // lang, files, total_bytes, last_commit
  *   mv.maintainContinuously(ckptDir)  // streaming: auto-refresh per window
  * }}}
  */
final class MaterializedView private (
    val spark: SparkSession,
    val root: String,
    val base: LakeTable,
    val groupCols: Seq[String],
    val aggs: Seq[AggSpec],
    val state: LakeTable) {

  import MaterializedView._

  private val baseSchema: StructType = base.schema

  private def carryType(a: AggSpec): DataType =
    carryTypeOf(baseSchema(a.input).dataType)

  /** The base version the state currently reflects (0 = never refreshed,
    * or refreshed at the base's v0). */
  def lastRefreshedBaseVersion: Long = state.snapshot().txns.getOrElse(TxnApp, 0L)

  /** Current MV contents: group columns + the declared aggregate outputs,
    * exactly `base.read().groupBy(groupCols).agg(aggs)` as of the last
    * refresh. Served from the state table — no base I/O. */
  def read(): DataFrame = {
    val outputs = aggs.map { a =>
      a.func match {
        case "count" => col(if (a.input == "*") RowsCol else a.as).as(a.as)
        case "min" | "max" => col(a.as)
        case "sum" =>
          // SQL SUM over an all-null/empty group is NULL, not 0
          when(col(nnCol(a)) === 0L, lit(null)).otherwise(col(sumCol(a))).as(a.as)
        case "avg" =>
          when(col(nnCol(a)) === 0L, lit(null))
            .otherwise(col(sumCol(a)).cast(DoubleType) / col(nnCol(a))).as(a.as)
      }
    }
    state.read().select(groupCols.map(col) ++ outputs: _*)
  }

  /** Catch the view up to `base.currentVersion()`. Incremental when the
    * last-refreshed version is still retained in the base's history;
    * otherwise falls back to a full rebuild (one base scan) — as does the
    * first refresh of a view whose base starts with rows at v0 (a clone),
    * at v0 too. Returns the base version now reflected. Idempotent and
    * crash-safe (txn watermark); concurrent refreshes serialize through the
    * state table's OCC commit. */
  def refresh(): Long = {
    val refreshed = state.snapshot().txns.get(TxnApp)
    val from = refreshed.getOrElse(0L)
    val to = base.currentVersion()
    def retained(v: Long) = Files.exists(Paths.get(base.root, "meta", s"v$v.json"))
    // a never-refreshed view reflects an EMPTY base: a window from v0 is
    // exact only when v0 holds no rows. A base that starts with rows (a
    // clone's v0 borrows its source's files) is rebuilt in full, at v0 too.
    val fromRetained = refreshed match {
      case Some(f) => retained(f)
      case None => retained(0L) && baseRows(0L) == 0L
    }
    if (to <= from && (refreshed.isDefined || fromRetained)) return from
    // ONE row bound sizes the whole refresh, from driver-side snapshot
    // metadata (no I/O). Incremental: the base's stored rows at `from` plus
    // at `to`, at least the keys the typed changelog differs on, so at least
    // the groups the state merge writes. Full rebuild: the base's rows at
    // `to` (≥ its groups) plus the state's rows (≥ the groups that may
    // vanish). A SMALL refresh runs with adaptive query execution scoped
    // off: it is one fixed-shape tiny plan (changelog fold, delta agg,
    // state join, state merge) and AQE's per-exchange stage jobs +
    // replanning dominate its wall; big ones keep AQE (its skew and
    // coalescing wins are the 100-TB tools). The bound is also the state
    // merge's `rowsHint`: that batch is the whole refresh pipeline, whose
    // size estimate is not a measure of its rows. Same bound as the
    // merge's small-op mode (MergePlan.SmallOpRows).
    val rowsBound =
      if (fromRetained) baseRows(from) + baseRows(to)
      else baseRows(to) + state.snapshot().rowCount
    def run(): Unit =
      if (fromRetained) incrementalRefresh(from, to, rowsBound) else fullRebuild(to, rowsBound)
    if (MergePlan.small(rowsBound))
      LakeTable.withScopedConf(spark, "spark.sql.adaptive.enabled", "false")(run())
    else run()
    to
  }

  /** Stored rows of the base at a retained `version`. */
  private def baseRows(version: Long): Long =
    LakeTable.readSnapshot(Paths.get(base.root), version).rowCount

  /** STREAMING maintenance: tail the base table's changelog stream and
    * refresh once per micro-batch window. The stream is used as a TRIGGER
    * and admission controller (its offsets bound how many base versions one
    * refresh spans via `maxVersionsPerBatch`); the refresh itself reads the
    * typed changelog directly, so restarts, re-deliveries and overlapping
    * windows all collapse into the same idempotent version-watermark
    * arithmetic. Stop with `.stop()` on the returned query. */
  def maintainContinuously(checkpointDir: String,
      options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // CATCH UP FIRST: the change stream's default anchor is the base's
    // CURRENT head (startingVersion=latest), so on a base that then goes
    // quiescent no micro-batch ever fires and a freshly-created view would
    // stay empty forever. One synchronous refresh closes the gap (it
    // no-ops when the state watermark is already at the head); the stream
    // then maintains from there. A caller-supplied startingVersion/Tag/
    // Timestamp anchor is still honored for the stream itself — refresh()
    // reads its own watermark, so an overlapping anchor only re-delivers
    // idempotent windows.
    refresh()
    base.readChangeStream(options)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: DataFrame, _: Long) => refresh(); () }
      .start()
  }

  // ---------------------------------------------------------------------
  // refresh internals
  // ---------------------------------------------------------------------

  /** Aggregates that cannot be incrementally retracted: min/max always;
    * sum/avg when the input is floating-point (drift under `+x…−x`). */
  private val recomputeAggs: Seq[AggSpec] = aggs.filter { a =>
    a.func == "min" || a.func == "max" ||
      ((a.func == "sum" || a.func == "avg") && isFloating(baseSchema(a.input).dataType))
  }

  private def groupJoinCond(l: String, r: String): Column =
    groupCols.map(g => col(s"$l.$g") <=> col(s"$r.$g")).reduce(_ && _)

  /** The full (re)computation of every state column for a row set — used by
    * both the bootstrap rebuild and the affected-group recompute, so the
    * two paths cannot diverge from each other. */
  private def recomputeAggExprs: Seq[Column] = {
    val rows = count(lit(1)).as(RowsCol)
    val per = aggs.flatMap { a =>
      a.func match {
        case "count" if a.input == "*" => Nil
        case "count" => Seq(count(col(a.input)).as(a.as))
        case "min" => Seq(min(col(a.input)).as(a.as))
        case "max" => Seq(max(col(a.input)).as(a.as))
        case "sum" | "avg" => Seq(
          coalesce(sum(col(a.input).cast(carryType(a))), lit(0).cast(carryType(a))).as(sumCol(a)),
          count(col(a.input)).as(nnCol(a)))
      }
    }
    rows +: per
  }

  private def incrementalRefresh(from: Long, to: Long, rowsBound: Long): Unit = {
    // the changelog reads only the columns the view groups and aggregates
    val changes = base.changesTyped(from, to,
      Some(groupCols ++ aggs.map(_.input).filter(_ != "*")))
    val sign = when(col(ChangeTypeCol).isin("insert", "update_postimage"), lit(1L))
      .otherwise(lit(-1L))

    // --- per-group deltas: one aggregation over the changes only ---
    val deltaExprs: Seq[Column] = {
      val rows = sum(sign).as(d(RowsCol))
      // did ANY retraction touch this group? (gates the min/max recompute)
      val retracted = max(when(sign < 0, lit(1)).otherwise(lit(0))).as(DRetractedCol)
      val per = aggs.flatMap { a =>
        a.func match {
          case "count" if a.input == "*" => Nil
          case "count" => Seq(
            coalesce(sum(when(col(a.input).isNotNull, sign).otherwise(lit(0L))), lit(0L))
              .as(d(a.as)))
          case "min" => Seq(min(when(sign > 0, col(a.input))).as(dIns(a.as)))
          case "max" => Seq(max(when(sign > 0, col(a.input))).as(dIns(a.as)))
          case "sum" | "avg" =>
            if (recomputeAggs.contains(a)) Seq(
              // float sums: incremental only while insert-only (no drift
              // possible without retraction); folded like a running sum
              coalesce(sum(when(sign > 0, col(a.input).cast(carryType(a)))),
                lit(0).cast(carryType(a))).as(dIns(sumCol(a))),
              coalesce(sum(when(sign > 0 && col(a.input).isNotNull, lit(1L))
                .otherwise(lit(0L))), lit(0L)).as(dIns(nnCol(a))))
            else Seq(
              coalesce(sum(sign * coalesce(col(a.input).cast(carryType(a)),
                lit(0).cast(carryType(a)))), lit(0).cast(carryType(a))).as(d(sumCol(a))),
              coalesce(sum(when(col(a.input).isNotNull, sign).otherwise(lit(0L))), lit(0L))
                .as(d(nnCol(a))))
        }
      }
      Seq(rows, retracted) ++ per
    }
    val deltas = changes.groupBy(groupCols.map(col): _*)
      .agg(deltaExprs.head, deltaExprs.tail: _*)

    // --- old state of the touched groups: the deltas LEFT OUTER the
    // state's live winners, a storage-partitioned join (the deltas are
    // shuffled into the state's bucket layout, the state is read in place;
    // nothing is broadcast, so a small refresh is ONE job: changelog scan,
    // delta aggregation, state join and state write) ---
    state.lookupLive(state.snapshot(), deltas, "_old") { joined =>
      def oldCol(n: String): Column = col("_old").getField(n)
      val newRows = coalesce(oldCol(RowsCol), lit(0L)) + col(d(RowsCol))
      val incrCols: Seq[Column] = aggs.flatMap { a =>
        a.func match {
          case "count" if a.input == "*" => Nil
          case "count" =>
            Seq((coalesce(oldCol(a.as), lit(0L)) + col(d(a.as))).as(a.as))
          case "min" =>
            // valid only when the group saw no retraction (filtered below);
            // least/greatest skip nulls, matching SQL MIN over partial input
            Seq(least(oldCol(a.as), col(dIns(a.as))).as(a.as))
          case "max" =>
            Seq(greatest(oldCol(a.as), col(dIns(a.as))).as(a.as))
          case "sum" | "avg" =>
            val (s, nn) = if (recomputeAggs.contains(a)) (dIns(sumCol(a)), dIns(nnCol(a)))
              else (d(sumCol(a)), d(nnCol(a)))
            Seq(
              (coalesce(oldCol(sumCol(a)), lit(0).cast(carryType(a))) + col(s)).as(sumCol(a)),
              (coalesce(oldCol(nnCol(a)), lit(0L)) + col(nn)).as(nnCol(a)))
        }
      }
      val incr = joined.select(groupCols.map(col) ++
        Seq(newRows.as(RowsCol), col(DRetractedCol)) ++ incrCols: _*)

      // MERGE-ON-READ into the state: the batch here is the whole refresh
      // pipeline (changelog + delta aggregation + state join), which the
      // classic copy-on-write path would EVALUATE TWICE (its touched-bucket
      // stats pass, then the write — measured 2× the refresh wall). The
      // one-job MOR path evaluates it once and writes ∝ touched groups
      // instead of rewriting every touched state bucket; the state table's
      // per-bucket layer bound auto-compacts hot buckets, so a continuously
      // maintained view never accumulates unbounded read debt.
      def write(rows: DataFrame): Unit = state.merge(rows, batchId = s"mv-$from-$to",
        txn = Some((TxnApp, to)), mor = true, rowsHint = Some(rowsBound))
      if (recomputeAggs.isEmpty) {
        // ONE projection: a group whose live-row count reached zero becomes
        // a tombstone (all values null), every other group its new values
        val gone = col(RowsCol) <= 0L
        write(incr.select(groupCols.map(col) ++
          stateValueCols.filterNot(groupCols.contains).map(n => when(!gone, col(n)).as(n)) :+
          lit(to).as(VersionCol) :+ gone.as(DeletedCol): _*))
      } else {
        // a retraction makes min/max (and float sums) non-foldable for that
        // group: recompute THOSE groups from the base as of `to` — the same
        // expressions as the bootstrap, over only the affected groups' rows.
        // PINNED: dead, live and the recompute probe all branch from `incr`,
        // and Spark re-evaluates a shared subtree per branch; the pin (≤ one
        // row per changed group) materializes lazily inside the state write
        // and keeps its lineage, so a retried task recomputes
        val pinned = incr.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val dead = pinned.filter(col(RowsCol) <= 0L).select(tombstoneRow(to): _*)
          val live = pinned.filter(col(RowsCol) > 0L)
          val needRec = live.filter(col(DRetractedCol) === 1).select(groupCols.map(col): _*)
          val rec = base.readAt(to).alias("b")
            .join(broadcast(needRec.alias("g")), groupJoinCond("b", "g"), "left_semi")
            .groupBy(groupCols.map(col): _*)
            .agg(recomputeAggExprs.head, recomputeAggExprs.tail: _*)
          write(live.filter(col(DRetractedCol) =!= 1).select(stateRow(to): _*)
            .unionByName(rec.select(stateRow(to): _*))
            .unionByName(dead))
        } finally pinned.unpersist()
      }
    }
  }

  /** Bootstrap / fallback when the incremental window's start version has
    * been expired from the base's history: one full recompute, plus
    * tombstones for state groups that no longer exist. */
  private def fullRebuild(to: Long, rowsBound: Long): Unit = {
    // pinned: both the upsert rows and the vanished-group anti-join branch
    // from this full base aggregation — unpinned it would scan the base
    // twice (tiny result: one row per group)
    val full = base.readAt(to)
      .groupBy(groupCols.map(col): _*)
      .agg(recomputeAggExprs.head, recomputeAggExprs.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    full.count()
    val vanished = state.read().alias("o")
      .join(full.alias("f"), groupJoinCond("o", "f"), "left_anti")
      .select(groupCols.map(col): _*)
    val rows = full.select(stateRow(to): _*)
      .unionByName(vanished.select(tombstoneRow(to): _*))
    // same one-evaluation MOR rationale as the incremental path (the batch
    // is a full base aggregation — doubly worth not computing twice)
    try state.merge(rows, batchId = s"mv-full-$to", txn = Some((TxnApp, to)), mor = true,
      rowsHint = Some(rowsBound))
    finally full.unpersist()
    ()
  }

  /** Project a computed row set (carrying all state value columns) into the
    * state schema with the version/tombstone bookkeeping appended. */
  private def stateRow(to: Long): Seq[Column] =
    stateValueCols.map(col) :+ lit(to).as(VersionCol) :+
      lit(false).as(DeletedCol)

  private def tombstoneRow(to: Long): Seq[Column] =
    (groupCols.map(col) ++ stateValueCols.filterNot(groupCols.contains)
      .map(n => lit(null).cast(stateValueType(n)).as(n))) :+
      lit(to).as(VersionCol) :+ lit(true).as(DeletedCol)

  private lazy val stateSchema: StructType = stateSchemaFor(baseSchema, groupCols, aggs)

  /** group cols + aggregate value columns, in state-schema order. */
  private lazy val stateValueCols: Seq[String] =
    stateSchema.fieldNames.toSeq.filterNot(n => n == VersionCol || n == DeletedCol)

  private def stateValueType(n: String): DataType = stateSchema(n).dataType
}

object MaterializedView {

  /** txn-ledger app id of the refresh writer inside the state table. */
  val TxnApp = "mv"
  /** internal state columns (prefixed so they can't clash with user names) */
  val RowsCol = "_mv_rows"
  val VersionCol = "_mv_v"
  val DeletedCol = "_mv_deleted"
  private val ChangeTypeCol = "_change_type"
  private val DRetractedCol = "_d_retracted"

  private def d(n: String) = s"_d_$n"
  private def dIns(n: String) = s"_dins_$n"
  private[tables] def sumCol(a: AggSpec) = s"_mv_sum_${a.as}"
  private[tables] def nnCol(a: AggSpec) = s"_mv_nn_${a.as}"

  private[tables] def isFloating(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case _ => false
  }

  /** The type a sum is CARRIED in: integrals widen to LONG (exact under
    * retraction), decimals widen like Spark's own SUM, floats stay double. */
  private[tables] def carryTypeOf(dt: DataType): DataType = dt match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case dec: DecimalType => DecimalType(math.min(38, dec.precision + 10), dec.scale)
    case FloatType | DoubleType => DoubleType
    case other => throw new IllegalArgumentException(s"sum/avg over non-numeric type $other")
  }

  /** State-table schema for a view definition. */
  private[tables] def stateSchemaFor(baseSchema: StructType, groupCols: Seq[String],
      aggs: Seq[AggSpec]): StructType = {
    val groups = groupCols.map(g => baseSchema(g).copy(nullable = true))
    val values = aggs.flatMap { a =>
      a.func match {
        case "count" if a.input == "*" => Nil
        case "count" => Seq(StructField(a.as, LongType, nullable = true))
        case "min" | "max" =>
          Seq(StructField(a.as, baseSchema(a.input).dataType, nullable = true))
        case "sum" | "avg" => Seq(
          StructField(sumCol(a), carryTypeOf(baseSchema(a.input).dataType), nullable = true),
          StructField(nnCol(a), LongType, nullable = true))
      }
    }
    StructType((groups :+ StructField(RowsCol, LongType, nullable = true)) ++
      values :+ StructField(VersionCol, LongType, nullable = false) :+
      StructField(DeletedCol, BooleanType, nullable = true))
  }

  /** Create (or re-open) a materialized view rooted at `root` over `base`.
    * The definition is persisted in `<root>/mv.json`; re-opening validates
    * it matches. Group and aggregate input columns must exist in the base
    * schema; aggregate output names must be distinct and must not collide
    * with group columns or the `_mv_`/`_d_` internal prefixes. */
  def createOrOpen(spark: SparkSession, root: String, base: LakeTable,
      groupCols: Seq[String], aggs: Seq[AggSpec],
      numBuckets: Int = 16): MaterializedView = {
    require(groupCols.nonEmpty, "materialized view needs at least one group column")
    require(aggs.nonEmpty, "materialized view needs at least one aggregate")
    val baseSchema = base.schema
    (groupCols ++ aggs.filter(_.input != "*").map(_.input)).foreach { c =>
      require(baseSchema.fieldNames.contains(c), s"column '$c' not in base schema")
    }
    val outNames = aggs.map(_.as)
    require(outNames.distinct.size == outNames.size, s"duplicate output names in $outNames")
    outNames.foreach { n =>
      require(!groupCols.contains(n), s"output '$n' collides with a group column")
      require(!n.startsWith("_mv_") && !n.startsWith("_d"),
        s"output '$n' uses a reserved internal prefix")
    }
    aggs.filter(a => a.func == "sum" || a.func == "avg")
      .foreach(a => carryTypeOf(baseSchema(a.input).dataType)) // validates numeric

    val defJson = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val o = m.createObjectNode()
      o.put("base", base.root)
      val g = o.putArray("groupCols"); groupCols.foreach(g.add)
      val as = o.putArray("aggs")
      aggs.foreach { a =>
        val n = as.addObject(); n.put("func", a.func); n.put("input", a.input); n.put("as", a.as)
      }
      m.writerWithDefaultPrettyPrinter().writeValueAsBytes(o)
    }
    val defPath = Paths.get(root, "mv.json")
    if (Files.exists(defPath)) {
      val existing = new String(Files.readAllBytes(defPath), "UTF-8")
      val incoming = new String(defJson, "UTF-8")
      require(existing == incoming,
        s"mv.json at $root holds a different view definition; refusing to re-define")
    } else {
      Files.createDirectories(defPath.getParent)
      Files.write(defPath, defJson)
    }

    val state = LakeTable.createOrOpen(spark, Paths.get(root, "state").toString,
      stateSchemaFor(baseSchema, groupCols, aggs),
      keyCols = groupCols, orderCols = Seq(VersionCol), numBuckets = numBuckets,
      tombstoneCol = Some(DeletedCol))
    new MaterializedView(spark, root, base, groupCols, aggs, state)
  }
}
