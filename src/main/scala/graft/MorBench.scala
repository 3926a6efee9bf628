package graft

import graft.streaming.SnapshotReplay
import graft.tables.MergePlan

/** Copy-on-write vs merge-on-read replay comparison: the SAME
  * full+incremental snapshot stream is merged in both modes and the walls
  * (min of interleaved reps) plus write amplification are reported.
  *
  * COW rewrites every touched bucket per merge — an incremental brushing
  * the whole keyspace rewrites the whole table (write ∝ table). MOR appends
  * the deduped batch as bucket layers (write ∝ batch) and defers the LWW
  * resolution to reads / an explicit `compact()`. `mor_total_sec` includes
  * the final compaction, so both modes end in the same fully-resolved
  * state (equality `require`d).
  *
  * Usage: runMain graft.MorBench [accountsPerVec] (default 128000 ⇒ 12.3M
  * events). Prints one JSON line.
  */
object MorBench {

  /** Full load + `deltas` SMALL incrementals — the CDC steady state where
    * COW write amplification bites: each delta is a small fraction of the
    * table, but COW still rewrites every touched bucket. */
  def ensureMorInput(inputDir: String, fullPerVec: Int, deltaPerVec: Int,
      deltas: Int): (Long, Long) = {
    import java.nio.file.{Files, Paths}
    val marker = s"DONE.${graft.sources.SnapshotFixture.FormatVersion}-" +
      s"$fullPerVec-$deltaPerVec-$deltas"
    if (Files.exists(Paths.get(inputDir, marker))) {
      val Array(a, b) = new String(Files.readAllBytes(Paths.get(inputDir, marker)))
        .trim.split(',')
      (a.toLong, b.toLong)
    } else {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(inputDir))
      var wv = 0L
      val pool = fullPerVec * 20
      val (fullCnt, w0) = graft.sources.SnapshotFixture.writeLargeUnpacked(
        s"$inputDir/snap-full",
        graft.sources.SnapshotFixture.Spec(seed = 777L, slots = 8, vecsPerSlot = 8,
          accountsPerVec = fullPerVec, pubkeyPool = pool, baseSlot = 100L, isDelta = false),
        wv)
      wv = w0
      var deltaCnt = 0L
      (1 to deltas).foreach { d =>
        val (cnt, w) = graft.sources.SnapshotFixture.writeLargeUnpacked(
          s"$inputDir/snap-inc$d",
          graft.sources.SnapshotFixture.Spec(seed = 777L + d, slots = 4, vecsPerSlot = 8,
            accountsPerVec = deltaPerVec, pubkeyPool = pool, baseSlot = 100L + 8 + d * 4,
            isDelta = true),
          wv)
        wv = w; deltaCnt += cnt
      }
      Files.write(Paths.get(inputDir, marker), s"$fullCnt,$deltaCnt".getBytes("UTF-8"))
      (fullCnt, deltaCnt)
    }
  }

  def main(args: Array[String]): Unit = {
    val fullPerVec = if (args.nonEmpty) args(0).toInt else 128000
    val deltaPerVec = if (args.length > 1) args(1).toInt else 4000
    val deltas = if (args.length > 2) args(2).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_MOR_REPS", "2").toInt
    val work = sys.env.getOrElse("SPARK_GRAFT_MOR_DIR",
      ScalingBench.defaultWorkDir("graft-mor"))
    val (fullEvents, deltaEvents) =
      ensureMorInput(s"$work/input", fullPerVec, deltaPerVec, deltas)
    val events = fullEvents + deltaEvents
    val snapNames = "snap-full" +: (1 to deltas).map(d => s"snap-inc$d")

    val spark = DevSession.create(
      DevSession.builder(cpus).config("spark.local.dir", s"$work/spark-local"))

    final case class R(fullSec: Double, replaySec: Double, compactSec: Double,
        storedRows: Long, finalRows: Long)
    /** modes: "cow" (classic union-through-exchange), "cow_spj" (storage-
      * partitioned merge — existing side unshuffled), "mor" (layer appends
      * + final compaction). */
    def run(mode: String): R = {
      val dir = s"$work/mor-table-$mode-${System.nanoTime()}"
      val table = SnapshotReplay.createTable(spark, dir, numBuckets = 32)
      val mor = mode == "mor"
      // pin the COW algorithm explicitly: the auto gate would route the
      // "cow" baseline onto SPJ at this shape (buckets ≥ cores, table ≥
      // delta), which is the production default but not what this A/B is
      // isolating. The full load takes the one-job empty-table route
      // identically in all modes; the DELTA stream is where the trade lives.
      table.planPin = MergePlan.Pin(spj = Some(mode == "cow_spj"))
      val tFull0 = System.nanoTime()
      SnapshotReplay.applySnapshot(spark, table, s"$work/input/${snapNames.head}")
      val fullSec = (System.nanoTime() - tFull0) / 1e9
      val t0 = System.nanoTime()
      snapNames.tail.foreach { name =>
        SnapshotReplay.applySnapshot(spark, table, s"$work/input/$name", mor = mor)
      }
      val replaySec = (System.nanoTime() - t0) / 1e9
      val storedRows = table.snapshot().rowCount
      val t1 = System.nanoTime()
      if (mor) table.compact()
      val compactSec = (System.nanoTime() - t1) / 1e9
      val finalRows = table.read().count()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      System.err.println(f"[mor] mode=$mode full=$fullSec%.1fs deltas=$replaySec%.1fs " +
        f"compact=$compactSec%.1fs stored=$storedRows final=$finalRows")
      R(fullSec, replaySec, compactSec, storedRows, finalRows)
    }
    run("mor") // warmup
    val modes = Seq("cow", "cow_spj", "mor")
    val runs = (1 to reps).flatMap(_ => modes.map(m => m -> run(m)))
    val cow = runs.filter(_._1 == "cow").map(_._2).minBy(_.replaySec)
    val spj = runs.filter(_._1 == "cow_spj").map(_._2).minBy(_.replaySec)
    val mor = runs.filter(_._1 == "mor").map(_._2).minBy(r => r.replaySec + r.compactSec)
    require(Set(cow.finalRows, spj.finalRows, mor.finalRows).size == 1,
      s"divergent final state: ${runs.map(r => r._1 -> r._2.finalRows)}")
    println(
      s"""{"metric":"cow_vs_mor_delta_stream","events":$events,"delta_events":$deltaEvents,""" +
        s""""deltas":$deltas,"final_rows":${cow.finalRows},""" +
        s""""full_load_sec":${cow.fullSec},""" +
        s""""cow_delta_sec":${cow.replaySec},"cow_stored_rows":${cow.storedRows},""" +
        s""""cow_spj_delta_sec":${spj.replaySec},""" +
        s""""cow_spj_delta_speedup":${f"${cow.replaySec / spj.replaySec}%.2f"},""" +
        s""""mor_delta_sec":${mor.replaySec},"mor_compact_sec":${mor.compactSec},""" +
        s""""mor_total_sec":${mor.replaySec + mor.compactSec},""" +
        s""""mor_stored_rows_precompact":${mor.storedRows},""" +
        s""""mor_delta_speedup":${f"${cow.replaySec / mor.replaySec}%.2f"},""" +
        s""""mor_total_speedup":${f"${cow.replaySec / (mor.replaySec + mor.compactSec)}%.2f"}}""")
    spark.stop()
  }
}
