package graft.tables

/** Everything [[LakeTable.merge]] decides before it writes: the route, the
  * write fan-out, salting, the small-op mode and the bucket groups.
  * [[MergePlan.decide]] makes the decision once, from plain values, so it
  * is testable without Spark; `merge()` only runs the plan.
  *
  * @param route       [[MergePlan.OneJob]], [[MergePlan.ClassicCow]] or
  *                    [[MergePlan.SpjCow]]
  * @param writeFactor write sub-splits per bucket (key-hash `_gsubsplit`);
  *                    1 on the SPJ route, which writes one task per group
  *                    of touched buckets
  * @param salted      the in-batch dedup takes the two-phase salted path
  *                    (the caller's choice, or auto-salt on a COW route)
  * @param small       the write runs with adaptive query execution scoped
  *                    off and its buckets packed into at most `cores` tasks
  * @param groups      the task each bucket the write may touch runs in (all
  *                    buckets on the one-job route, the touched ones on the
  *                    COW routes; None for an empty batch) — see
  *                    [[MergePlan.groups]]
  */
final case class MergePlan(route: MergePlan.Route, writeFactor: Int, salted: Boolean,
    small: Boolean, groups: Option[MergePlan.BucketGroups]) {

  /** Partitions of the one-job and classic-COW write exchanges: every
    * group's sub-splits. */
  private[tables] def writePartitions: Int = math.max(1, groups.fold(0)(_.count) * writeFactor)
}

object MergePlan {

  sealed trait Route
  /** No stats pass: merge-on-read merges, and any merge into an EMPTY table,
    * where copy-on-write and merge-on-read are indistinguishable (nothing to
    * read, nothing to layer; the full-snapshot load is this case). The only
    * reason the COW routes scan the batch twice, touched-bucket discovery
    * for existing-side pruning, disappears in both. */
  case object OneJob extends Route
  /** Stats pass, then old ∪ new resolved by one aggregation riding the
    * (bucket, subsplit) exchange. */
  case object ClassicCow extends Route
  /** Stats pass, then the storage-partitioned join: the existing side is
    * read unshuffled, one write task per group of touched buckets. */
  case object SpjCow extends Route

  /** Write sub-splits per core: measured neutral between 2 and 4 waves; 2
    * keeps file counts lower. */
  final val WaveFactor = 2

  /** Rows bound under which an engine operation (merge write, maintenance
    * rewrite, read of merge-on-read buckets, changelog window) counts as
    * SMALL: its buckets run in at most `cores` tasks ([[groups]]), its
    * write has no sub-splits (one file per bucket), and merges and
    * rewrites run with adaptive query execution scoped OFF — AQE's
    * per-exchange stage jobs and replanning cost more than they can recover
    * on a fixed-shape plan over this little data, while big operations keep
    * AQE (skew-join splitting and partition coalescing are exactly the
    * 100-TB tools). Sized in DATA terms, never in core counts, so
    * production-scale operations are untouched. */
  final val SmallOpRows = 1000000L

  /** Byte bound of the same test for a one-job batch with no row count,
    * against the optimizer's size estimate. */
  final val SmallOpBytes = 64L << 20

  /** Auto-salt floor: below this many batch rows the hot-key straggler is
    * smaller than the extra exchange the salt pass costs, whatever the
    * skew (SKEW.json's crossover was measured at millions of events). */
  final val AutoSaltMinRows = 65536L

  /** Auto-salt trigger: hottest-bucket excess share of the batch. 0.6 sits
    * between the measured borderline (50%-on-1-key: salted 0.9×) and the
    * measured win (90%-on-1-key: salted 1.93×) — SKEW.json. */
  final val AutoSaltTopShare = 0.6

  /** The batch's size as known before any of it is read: an upper bound on
    * its rows from the caller (an exact count is one; a snapshot apply
    * passes its manifest's record bound, a view refresh its base row
    * counts), else the optimizer's size estimate of the batch plan (None
    * when it could not be computed) and whether that plan has an
    * object-producing node (typed `mapPartitions`/`flatMap`). */
  final case class BatchSize(rows: Option[Long], estimatedBytes: Option[BigInt] = None,
      objectProducing: Boolean = false)

  /** Route and salting pins for specs and A/B harnesses (see
    * [[LakeTable.planPin]]): `spj` forces the SPJ route on (`Some(true)`) or
    * off (`Some(false)`) for COW merges with a non-empty batch; `autoSalt =
    * false` leaves salting to the caller. */
  final case class Pin(spj: Option[Boolean] = None, autoSalt: Boolean = true)

  private[tables] def small(rows: Long): Boolean = rows <= SmallOpRows

  /** Smallness test for the one-job route, where no stats pass ran, and
    * for the stats pass itself: the caller's row bound when it has one
    * (the streaming sink counts its pinned batch anyway; a snapshot apply
    * bounds its rows from the manifest before decoding any), else the size
    * estimate — accurate for file-backed and materialized cached batches,
    * and huge (NOT small) for opaque ones like raw RDD scans, so an unknown
    * size can only keep the full fan-out, never shrink a big merge's
    * parallelism.
    *
    * Without a bound, an OBJECT-PRODUCING plan (the snapshot decode shape:
    * a KB-sized list of file refs expanding into millions of decoded rows)
    * is NEVER small whatever the estimate: the optimizer propagates the
    * tiny input size through the opaque function, and trusting it would
    * strip a full-snapshot load of its write parallelism. */
  private[tables] def batchSmall(b: BatchSize): Boolean = b.rows match {
    case Some(n) => small(n)
    case None => !b.objectProducing && b.estimatedBytes.exists(_ <= SmallOpBytes)
  }

  /** Stored rows of `buckets` for the maintenance small-op test — or "NOT
    * small" when any non-empty bucket has no `bucketRows` entry (a legacy
    * snapshot): an UNKNOWN size must never shrink a potentially large
    * rewrite's planning (the same invariant as [[batchSmall]]). */
  private[tables] def storedSmall(snap: TableSnapshot, buckets: Seq[Int]): Boolean =
    storedSmall(Seq(snap), buckets)

  /** [[storedSmall]] over the rows `buckets` hold in all of `snaps` — the
    * two sides of a changelog window read the buckets once each. */
  private def storedSmall(snaps: Seq[TableSnapshot], buckets: Seq[Int]): Boolean = {
    var sum = 0L
    snaps.forall(snap => buckets.forall { b =>
      snap.bucketRows.get(b) match {
        case Some(n) => sum += n; small(sum)
        case None => snap.bucketFiles.getOrElse(b, Nil).isEmpty // unknown ⇒ not small
      }
    })
  }

  /** Which task each bucket of one operation runs in: `of(b)` is bucket
    * `b`'s group. A bucket scan reports its partitioning on the group, so
    * Spark runs all buckets of a group in one task; a write exchange hashes
    * into [[count]] partitions. */
  final case class BucketGroups(of: Map[Int, Int]) {
    require(of.nonEmpty, "bucket groups need at least one bucket")
    val count: Int = of.values.toSet.size
    /** the grouped buckets, ascending */
    def buckets: Seq[Int] = of.keys.toSeq.sorted
  }

  /** SCALE-ADAPTIVE task count of an operation over `touched` buckets. Per
    * task fixed cost (scheduling, reader and writer set-up, commit) dwarfs
    * the work of a small operation's bucket, so a SMALL one packs its
    * buckets into G = min(touched, cores) groups of consecutive buckets,
    * balanced (sizes differ by at most one) — one wave on the cluster. Any
    * other operation keeps one group per bucket, with the bucket id as the
    * group id, so its tasks and partition values are those of a per-bucket
    * plan. None for an empty touched set: there is nothing to run. */
  private[tables] def groups(touched: Seq[Int], cores: Int, small: Boolean)
      : Option[BucketGroups] = {
    val sorted = touched.distinct.sorted
    if (sorted.isEmpty) None
    else if (!small) Some(BucketGroups(sorted.map(b => b -> b).toMap))
    else {
      val g = math.max(1, math.min(sorted.size, cores))
      Some(BucketGroups(sorted.zipWithIndex.map { case (b, i) =>
        b -> (i.toLong * g / sorted.size).toInt
      }.toMap))
    }
  }

  /** [[groups]] of a bucket scan that reads `buckets` in every one of
    * `snaps`, sized by their stored rows ([[storedSmall]]). */
  private[tables] def scanGroups(snaps: Seq[TableSnapshot], buckets: Seq[Int],
      cores: Int): Option[BucketGroups] =
    groups(buckets, cores, storedSmall(snaps, buckets))

  /** Whether a merge runs the COW stats pass before [[decide]]. */
  private[tables] def needsStats(mor: Boolean, emptyTable: Boolean): Boolean =
    !mor && !emptyTable

  /** SCALE-ADAPTIVE write parallelism: the sub-split pushes a big write's
    * parallelism past the bucket count ([[WaveFactor]] waves per core), but
    * applied to a SMALL one it fragments the commit into `buckets × factor`
    * near-empty files whose scheduling, writer open/close, commit renames
    * and footer reads dominate the wall, and every later scan pays the file
    * count again. A small write has no sub-splits: one file per bucket, its
    * buckets packed into [[groups]]. */
  private[tables] def fanOut(cores: Int, buckets: Int, small: Boolean): Int =
    if (small) 1
    else math.max(1, math.ceil(WaveFactor.toDouble * cores / math.max(1, buckets)).toInt)

  /** Decide a merge.
    *
    * @param mor            the caller asked for merge-on-read
    * @param emptyTable     the table holds no rows and no files
    * @param numBuckets     the table's bucket count
    * @param cores          the session's default parallelism
    * @param batchRows      COW stats pass: touched bucket → batch rows
    *                       (ignored on the one-job route)
    * @param oldTouchedRows COW: stored rows of the touched buckets
    * @param salted         the caller's salting choice
    * @param batch          the batch's size before it is read
    * @param pin            see [[Pin]]
    */
  private[tables] def decide(mor: Boolean, emptyTable: Boolean, numBuckets: Int, cores: Int,
      batchRows: Map[Int, Long], oldTouchedRows: Long, salted: Boolean,
      batch: BatchSize, pin: Pin): MergePlan =
    if (!needsStats(mor, emptyTable)) {
      // no stats rows feed auto-salt here: salting stays the caller's choice;
      // with no stats pass any bucket may be touched
      val s = batchSmall(batch)
      MergePlan(OneJob, fanOut(cores, numBuckets, s), salted, s,
        groups(0 until numBuckets, cores, s))
    } else {
      val touched = batchRows.size
      val rowsIn = batchRows.values.sum
      val s = small(rowsIn + oldTouchedRows)
      // SPJ pays off when the existing side is the bigger one (existing
      // rows no longer ride the exchange) and the touched buckets sustain
      // write parallelism (one task per group, so `cores` tasks once
      // touched >= cores; at production bucket counts, buckets ≫ cores).
      // An empty batch has no buckets to scan,
      // and a zero-partition SPJ plan is a shape nothing should build.
      val spj = touched > 0 &&
        pin.spj.getOrElse(touched >= cores && oldTouchedRows >= rowsIn)
      MergePlan(if (spj) SpjCow else ClassicCow,
        if (spj) 1 else fanOut(cores, touched, s),
        salted || (pin.autoSalt && autoSalt(numBuckets, batchRows.values, rowsIn)), s,
        groups(batchRows.keys.toSeq, cores, s))
    }

  /** AUTO-SALT from the stats rows (zero extra cost): the measured
    * crossover (SKEW.json) puts salting ahead only when ONE key carries
    * most of the stream (1.93× at 90%-on-1) and behind at moderate skew
    * (0.79× at 50%-on-4). A key that hot makes its BUCKET that hot — the
    * hash balances distinct keys, so the hottest bucket's EXCESS over the
    * median bucket is a faithful estimate of the top key's share. Tiny
    * batches never salt (straggler < one task's work). */
  private def autoSalt(numBuckets: Int, counts: Iterable[Long], rowsIn: Long): Boolean = {
    val sorted = (counts ++ Iterator.fill(numBuckets - counts.size)(0L)).toArray.sorted
    val excess = sorted.last - sorted(numBuckets / 2)
    rowsIn >= AutoSaltMinRows && excess.toDouble / math.max(1L, rowsIn) >= AutoSaltTopShare
  }
}
