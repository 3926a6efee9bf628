package graft.tables

import org.scalatest.funsuite.AnyFunSuite

import graft.tables.MergePlan._

/** The merge planner is a pure function: every boundary of the route,
  * fan-out, salting and small-op decisions, without a SparkSession. */
class MergePlanSpec extends AnyFunSuite {

  private val big = BatchSize(Some(SmallOpRows + 1))

  private def oneJob(mor: Boolean, emptyTable: Boolean, batch: BatchSize = big,
      cores: Int = 16, numBuckets: Int = 8, salted: Boolean = false,
      pin: Pin = Pin()): MergePlan =
    decide(mor, emptyTable, numBuckets, cores, Map.empty, 0L, salted, batch, pin)

  private def cow(batchRows: Map[Int, Long], oldTouchedRows: Long, cores: Int = 4,
      numBuckets: Int = 32, salted: Boolean = false, pin: Pin = Pin()): MergePlan =
    decide(mor = false, emptyTable = false, numBuckets, cores, batchRows, oldTouchedRows,
      salted, BatchSize(None), pin)

  /** `n` touched buckets with 10 batch rows each */
  private def spread(n: Int): Map[Int, Long] = (0 until n).map(_ -> 10L).toMap

  test("merge-on-read and empty-table merges take the one-job route") {
    for ((mor, empty) <- Seq((true, false), (false, true), (true, true))) {
      assert(oneJob(mor, empty).route === OneJob, (mor, empty))
      // stats and pins cannot move it off the one-job route
      assert(decide(mor, empty, 8, 4, spread(8), 1000L, false, big,
        Pin(spj = Some(true))).route === OneJob)
    }
    assert(!needsStats(mor = true, emptyTable = false))
    assert(!needsStats(mor = false, emptyTable = true))
    assert(needsStats(mor = false, emptyTable = false))
  }

  test("one-job route keeps the caller's salting and never auto-salts") {
    assert(oneJob(mor = true, emptyTable = false, salted = true).salted)
    assert(!oneJob(mor = true, emptyTable = false).salted)
  }

  test("SPJ needs touched >= cores and oldTouchedRows >= rowsIn") {
    val cores = 4
    assert(cow(spread(cores - 1), 10L * (cores - 1), cores).route === ClassicCow)
    assert(cow(spread(cores), 10L * cores, cores).route === SpjCow)
    assert(cow(spread(cores), 10L * cores - 1, cores).route === ClassicCow)
    assert(cow(spread(cores + 5), 10L * (cores + 5), cores).route === SpjCow)
  }

  test("an empty batch is never SPJ, pinned or not") {
    assert(cow(Map.empty, 0L, cores = 0).route === ClassicCow)
    assert(cow(Map.empty, 5L, pin = Pin(spj = Some(true))).route === ClassicCow)
  }

  test("the SPJ pin forces either COW route") {
    assert(cow(spread(1), 0L, pin = Pin(spj = Some(true))).route === SpjCow)
    assert(cow(spread(8), 1000L, pin = Pin(spj = Some(false))).route === ClassicCow)
  }

  test("auto-salt floor: AutoSaltMinRows - 1 stays unsalted, AutoSaltMinRows salts") {
    assert(!cow(Map(3 -> (AutoSaltMinRows - 1)), 0L).salted)
    assert(cow(Map(3 -> AutoSaltMinRows), 0L).salted)
  }

  test("auto-salt trigger: the hottest bucket's excess share just below vs at 0.6") {
    assert(AutoSaltTopShare === 0.6)
    // 3 of 32 buckets touched: the median bucket is empty, so the excess is
    // the hottest bucket's count
    assert(!cow(Map(0 -> 59999L, 1 -> 20000L, 2 -> 20001L), 0L).salted)
    assert(cow(Map(0 -> 60000L, 1 -> 20000L, 2 -> 20000L), 0L).salted)
    // the excess is measured over the MEDIAN bucket, untouched ones counting 0
    val hot = (0 until 4).map(_ -> 200000L).toMap + (4 -> 1200000L)
    assert(!cow(hot, 0L, numBuckets = 8).salted) // median 200k: excess share 0.5
    assert(cow(hot, 0L, numBuckets = 12).salted) // median untouched: share 0.6
  }

  test("caller salting and the auto-salt pin") {
    assert(cow(spread(2), 0L, salted = true).salted)
    assert(!cow(Map(3 -> AutoSaltMinRows), 0L, pin = Pin(autoSalt = false)).salted)
    assert(cow(Map(3 -> AutoSaltMinRows), 0L, salted = true,
      pin = Pin(autoSalt = false)).salted)
  }

  test("COW small bound: writeFactor 1 at SmallOpRows, ceil(2·cores/touched) above") {
    val cores = 16
    val touched = Map(0 -> 10L, 1 -> 10L, 2 -> 10L)
    // touched < cores keeps these on the classic route
    val atBound = cow(touched, SmallOpRows - 30, cores)
    assert(atBound.route === ClassicCow)
    assert(atBound.small && atBound.writeFactor === 1)
    val above = cow(touched, SmallOpRows - 29, cores)
    assert(!above.small)
    assert(above.writeFactor === math.ceil(2.0 * cores / 3).toInt)
    assert(above.writeFactor === 11)
    // the factor never drops below 1
    assert(cow(spread(40), SmallOpRows, cores = 4, numBuckets = 64,
      pin = Pin(spj = Some(false))).writeFactor === 1)
  }

  test("SPJ writes one task per touched bucket at any size") {
    val plan = cow(spread(8), SmallOpRows, cores = 4)
    assert(plan.route === SpjCow && !plan.small)
    assert(plan.writeFactor === 1)
  }

  test("one-job small bound: rows hint, byte estimate, object-producing plans") {
    val cores = 16
    val numBuckets = 8
    def plan(b: BatchSize) = oneJob(mor = true, emptyTable = false, batch = b,
      cores = cores, numBuckets = numBuckets)
    val bigFactor = math.ceil(2.0 * cores / numBuckets).toInt
    assert(bigFactor === 4)
    for ((b, small) <- Seq(
        BatchSize(Some(SmallOpRows)) -> true,
        BatchSize(Some(SmallOpRows + 1)) -> false,
        BatchSize(None, Some(BigInt(SmallOpBytes))) -> true,
        BatchSize(None, Some(BigInt(SmallOpBytes) + 1)) -> false,
        // an object-producing plan's estimate is not trusted
        BatchSize(None, Some(BigInt(1)), objectProducing = true) -> false,
        // no estimate: not small
        BatchSize(None) -> false,
        // a row hint wins over the plan shape
        BatchSize(Some(1L), None, objectProducing = true) -> true)) {
      val p = plan(b)
      assert(p.small === small, b)
      assert(batchSmall(b) === small, b)
      assert(p.writeFactor === (if (small) 1 else bigFactor), b)
    }
  }

  test("maintenance small test: stored rows, and unknown sizes are never small") {
    val snap = TableSnapshot(version = 1, schemaDdl = "k STRING", keyCols = Seq("k"),
      orderCols = Nil, numBuckets = 4, retainBatches = 8,
      bucketFiles = Map(0 -> Seq("a"), 1 -> Seq("b"), 2 -> Seq("c")),
      bucketRows = Map(0 -> (SmallOpRows - 1), 1 -> 1L),
      txns = Map.empty, appliedBatches = Nil, lineage = Map.empty, totals = Map.empty,
      rowCount = SmallOpRows)
    assert(storedSmall(snap, Seq(0, 1)))
    assert(!storedSmall(snap.copy(bucketRows = Map(0 -> SmallOpRows, 1 -> 1L)), Seq(0, 1)))
    assert(!storedSmall(snap, Seq(0, 2))) // bucket 2 has files but no row count
    assert(storedSmall(snap, Seq(0, 3))) // bucket 3 is empty
  }

  private def groupSizes(g: Option[BucketGroups]): Seq[Int] =
    g.get.of.groupBy(_._2).values.map(_.size).toSeq.sorted

  test("bucket groups: a small operation packs its buckets into min(touched, cores) " +
      "balanced groups of consecutive buckets") {
    val g = groups(0 until 32, cores = 4, small = true)
    assert(g.get.count === 4)
    assert(g.get.buckets === (0 until 32))
    assert(groupSizes(g) === Seq(8, 8, 8, 8))
    // groups hold consecutive buckets, numbered 0 until count
    assert((0 until 32).map(g.get.of) === (0 until 32).map(_ / 8))
    // uneven: sizes differ by at most one, none above ceil(touched / G)
    val uneven = groups(0 until 10, cores = 4, small = true)
    assert(uneven.get.count === 4)
    assert(groupSizes(uneven).max <= 3 && groupSizes(uneven).min >= 2)
    // through the merge planner, on both routes
    val cow = decide(mor = false, emptyTable = false, numBuckets = 32, cores = 4,
      batchRows = (0 until 32).map(_ -> 10L).toMap, oldTouchedRows = 320L, salted = false,
      BatchSize(None), Pin())
    assert(cow.small && cow.groups.get.count === 4 && cow.writePartitions === 4)
    assert(groupSizes(cow.groups) === Seq(8, 8, 8, 8))
    val oneJob = decide(mor = true, emptyTable = false, numBuckets = 32, cores = 4,
      Map.empty, 0L, salted = false, BatchSize(Some(100L)), Pin())
    assert(oneJob.groups.get.count === 4 && oneJob.writePartitions === 4)
  }

  test("bucket groups: sparse touched buckets get one group each, not one in all") {
    val g = groups(Seq(9, 1, 5), cores = 4, small = true)
    assert(g.get.count === 3)
    assert(g.get.buckets === Seq(1, 5, 9))
    assert(Seq(1, 5, 9).map(g.get.of).toSet.size === 3)
  }

  test("bucket groups: a big operation keeps one group per bucket") {
    val touched = (0 until 32).map(_ -> 10L).toMap
    val big = decide(mor = false, emptyTable = false, numBuckets = 32, cores = 4,
      batchRows = touched, oldTouchedRows = SmallOpRows + 1 - 320L, salted = false,
      BatchSize(None), Pin())
    assert(!big.small)
    assert(big.groups.get.of === (0 until 32).map(b => b -> b).toMap)
    assert(big.writePartitions === 32 * big.writeFactor)
    val oneJob = decide(mor = true, emptyTable = false, numBuckets = 8, cores = 4,
      Map.empty, 0L, salted = false, BatchSize(Some(SmallOpRows + 1)), Pin())
    assert(oneJob.groups.get.count === 8 && oneJob.writePartitions === 8 * oneJob.writeFactor)
    // a scan of SmallOpRows + 1 stored rows
    val snap = TableSnapshot(version = 1, schemaDdl = "k STRING", keyCols = Seq("k"),
      orderCols = Nil, numBuckets = 4, retainBatches = 8,
      bucketFiles = Map(0 -> Seq("a"), 1 -> Seq("b"), 2 -> Seq("c")),
      bucketRows = Map(0 -> SmallOpRows, 1 -> 1L, 2 -> 1L),
      txns = Map.empty, appliedBatches = Nil, lineage = Map.empty, totals = Map.empty,
      rowCount = SmallOpRows + 2)
    assert(scanGroups(Seq(snap), Seq(0, 1), cores = 1).get.count === 2)
    assert(scanGroups(Seq(snap), Seq(1, 2), cores = 1).get.count === 1)
    // both sides of a changelog window count: 2 × half the bound + 2 rows
    val half = snap.copy(bucketRows = Map(0 -> SmallOpRows / 2, 1 -> 1L, 2 -> 1L))
    assert(scanGroups(Seq(half), Seq(0, 1, 2), cores = 1).get.count === 1)
    assert(scanGroups(Seq(half, half), Seq(0, 1, 2), cores = 1).get.count === 3)
  }

  test("bucket groups: a legacy bucket with no row count is never small") {
    val snap = TableSnapshot(version = 1, schemaDdl = "k STRING", keyCols = Seq("k"),
      orderCols = Nil, numBuckets = 4, retainBatches = 8,
      bucketFiles = Map(0 -> Seq("a"), 1 -> Seq("b"), 2 -> Seq("c")),
      bucketRows = Map(0 -> 1L, 1 -> 1L),
      txns = Map.empty, appliedBatches = Nil, lineage = Map.empty, totals = Map.empty,
      rowCount = 2L)
    assert(scanGroups(Seq(snap), Seq(0, 1, 2), cores = 1).get.count === 3)
    assert(scanGroups(Seq(snap), Seq(0, 1), cores = 1).get.count === 1)
  }

  test("bucket groups: an empty touched set builds no plan") {
    assert(groups(Nil, cores = 4, small = true).isEmpty)
    assert(groups(Nil, cores = 4, small = false).isEmpty)
    val emptyBatch = cow(Map.empty, 0L)
    assert(emptyBatch.groups.isEmpty && emptyBatch.writePartitions === 1)
    intercept[IllegalArgumentException](BucketGroups(Map.empty))
  }
}
