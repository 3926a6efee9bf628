package graft

import java.nio.file.{Files, Paths}

import graft.sources.SnapshotFixture
import graft.streaming.SnapshotReplay
import graft.tables.MergePlan

/** Hot-key skew benchmark: replays the SAME deliberately-skewed
  * full+incremental snapshot stream twice — `salted = false` vs `true` —
  * and reports both walls (min over interleaved reps) plus the speedup.
  *
  * Why skew hurts the unsalted plan: LakeTable's merge aggregation rides an
  * explicit repartition on (bucket, subsplit), both FUNCTIONS OF THE KEY —
  * so every duplicate of a hot pubkey is shipped to ONE partition and one
  * task sorts/aggregates all of them (the reference never sees this: its
  * SQLite upsert loop is single-threaded, sqlite.rs:172-179; a cluster
  * does). The salted plan pre-aggregates on (keys, salt) before the bucket
  * exchange (Dedup.saltedPreAggregate), collapsing the hot key to ≤numSalts
  * rows at the cost of one extra shuffle. This bench is the measured
  * evidence for when that trade wins.
  *
  * Input skew: `hotKeyFraction` (default 0.5) of all change events hit
  * `hotKeys` (default 4) pubkeys — the "hot owner / boilerplate key" shape
  * web-scale CDC streams exhibit.
  *
  * Usage: runMain graft.SkewBench [accountsPerVec] (default 128000 ⇒ ~12.3M
  * events, the Bench.cdc_replay size). Prints one JSON line.
  */
object SkewBench {

  def ensureSkewedInput(inputDir: String, accountsPerVec: Int,
      hotFraction: Double, hotKeys: Int): Long = {
    val marker = s"DONE.${SnapshotFixture.FormatVersion}-$accountsPerVec-$hotFraction-$hotKeys"
    if (Files.exists(Paths.get(inputDir, marker))) {
      new String(Files.readAllBytes(Paths.get(inputDir, marker))).trim.toLong
    } else {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(inputDir))
      var wv = 0L
      var n = 0L
      val snaps = Seq(
        ("snap-full", 8, 8, accountsPerVec, false, 100L),
        ("snap-inc1", 4, 8, accountsPerVec / 2, true, 108L),
        ("snap-inc2", 4, 8, accountsPerVec / 2, true, 112L))
      snaps.foreach { case (name, slots, vps, perVec, delta, base) =>
        val spec = SnapshotFixture.Spec(seed = 4242L + base, slots = slots,
          vecsPerSlot = vps, accountsPerVec = perVec,
          pubkeyPool = accountsPerVec * 20, baseSlot = base, isDelta = delta,
          hotKeyFraction = hotFraction, hotKeys = hotKeys)
        val (cnt, w) = SnapshotFixture.writeLargeUnpacked(s"$inputDir/$name", spec, wv)
        wv = w; n += cnt
      }
      Files.write(Paths.get(inputDir, marker), n.toString.getBytes("UTF-8"))
      n
    }
  }

  def main(args: Array[String]): Unit = {
    val accountsPerVec = if (args.nonEmpty) args(0).toInt else 128000
    val hotFraction = sys.env.getOrElse("SPARK_GRAFT_SKEW_FRACTION", "0.5").toDouble
    val hotKeys = sys.env.getOrElse("SPARK_GRAFT_SKEW_KEYS", "4").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_SKEW_REPS", "2").toInt
    val work = sys.env.getOrElse("SPARK_GRAFT_SKEW_DIR",
      ScalingBench.defaultWorkDir("graft-skew"))
    val events = ensureSkewedInput(s"$work/input", accountsPerVec, hotFraction, hotKeys)

    val spark = DevSession.create(
      DevSession.builder(cpus).config("spark.local.dir", s"$work/spark-local"))
    StageProfiler.maybeAttach(spark)

    // warmup (JIT both plan shapes), then interleaved reps with the arm
    // ORDER ROTATED per rep (a fixed order biases the late arms with the
    // previous arm's GC/page-cache residue), min per arm.
    //
    // The A/B times ONLY the two incremental merges: the full load is
    // identical work in every mode (empty-table one-job path, salting
    // never applies) and its wall is the largest noise term — excluding it
    // is what makes the per-arm deltas attributable to the salt decision.
    //
    // "unsalted"/"salted" pin the explicit modes (auto gate disabled);
    // "auto" is the production default deciding per merge from the stats
    // rows (the number of incrementals it chose to salt is reported).
    def replay(mode: String): (Double, Long, Int) = {
      val tableDir = s"$work/table-$mode-${System.nanoTime()}"
      val table = SnapshotReplay.createTable(spark, tableDir, numBuckets = 32)
      table.planPin = MergePlan.Pin(autoSalt = mode == "auto")
      var salts = 0
      SnapshotReplay.applySnapshot(spark, table, s"$work/input/snap-full")
      val t0 = System.nanoTime()
      Seq("snap-inc1", "snap-inc2").foreach { name =>
        SnapshotReplay.applySnapshot(spark, table, s"$work/input/$name",
          salted = mode == "salted")
        if (table.lastMergePlan.exists(_.salted)) salts += 1
      }
      val incSec = (System.nanoTime() - t0) / 1e9
      val rows = table.read().count()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tableDir))
      System.err.println(f"[skew] mode=$mode incSec=$incSec%.1f salted=$salts/2")
      (incSec, rows, salts)
    }
    val modes = Seq("unsalted", "salted", "auto")
    replay("salted") // warmup
    val runs = (0 until reps).flatMap { r =>
      val order = modes.drop(r % modes.size) ++ modes.take(r % modes.size)
      order.map(m => m -> replay(m))
    }
    val best = modes.map(m => m -> runs.filter(_._1 == m).map(_._2).minBy(_._1)).toMap
    require(best.values.map(_._2).toSet.size == 1,
      s"divergent final state: ${best.view.mapValues(_._2).toMap}")
    val (unsaltedSec, rowsU, _) = best("unsalted")
    val saltedSec = best("salted")._1
    val autoSec = best("auto")._1
    val autoSalts = best("auto")._3
    println(
      s"""{"metric":"skew_replay_incrementals","events":$events,"hot_fraction":$hotFraction,""" +
        s""""hot_keys":$hotKeys,"cpus":$cpus,"final_rows":$rowsU,""" +
        s""""unsalted_sec":${f"$unsaltedSec%.2f"},"salted_sec":${f"$saltedSec%.2f"},""" +
        s""""auto_sec":${f"$autoSec%.2f"},"auto_salted_incs":$autoSalts,""" +
        s""""salted_speedup":${f"${unsaltedSec / saltedSec}%.2f"},""" +
        s""""auto_vs_best":${f"${math.min(unsaltedSec, saltedSec) / autoSec}%.2f"}}""")
    spark.stop()
  }
}
