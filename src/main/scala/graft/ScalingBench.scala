package graft

import java.nio.file.{Files, Paths}

import graft.sources.SnapshotFixture
import graft.streaming.SnapshotReplay

/** North-rule scaling benchmark (BASELINE.md measurement protocol): replay
  * the SAME full+incremental snapshot stream at two parallelism levels — N
  * and 4N cores — and report account-upserts/sec at both plus scaling
  * efficiency `(thr_B / thr_A) / 4`; the sandbox substitute for N vs 4N
  * executors (no real cluster here).
  *
  * Two isolation modes (`SPARK_GRAFT_SCALE_MODE`):
  *  - `threads` (default): `local[N]` — driver + N executor threads in ONE
  *    JVM sharing one heap/GC. Cheapest, but thread counts in a shared heap
  *    are the weakest stand-in for executor counts.
  *  - `procs`: `local-cluster[cores/2, 2, mem]` — SEPARATE 2-core executor
  *    JVMs (`SPARK_GRAFT_EXEC_CORES` overrides the core count) with their
  *    own heaps and GC, shuffling over netty, exactly like standalone
  *    workers on one host. This is the closest in-sandbox approximation of
  *    "spark-submit at N and 4N executors": per-executor memory is constant
  *    across the two levels (as it would be on a real cluster), so the
  *    comparison doesn't conflate executor count with per-thread heap
  *    shrinkage. Requires SPARK_HOME (the workers launch executor JVMs via
  *    the Spark launcher).
  *
  * Input: deterministic unpacked snapshots (decode parallelism = AppendVec
  * count; archives are sequential by format). Generation time and Spark
  * session startup are excluded from the replay timing.
  *
  * Usage: runMain graft.ScalingBench [accountsPerVec] (default sized so the
  * N-core run is ≳60 s).
  */
object ScalingBench {

  /** Generate (or reuse, via DONE marker) the full+inc1+inc2 unpacked
    * replay input; returns total events. Shared with graft.Bench. */
  def ensureInput(inputDir: String, accountsPerVec: Int): Long = {
    val marker = s"DONE.${SnapshotFixture.FormatVersion}-$accountsPerVec"
    if (Files.exists(Paths.get(inputDir, marker))) {
      new String(Files.readAllBytes(Paths.get(inputDir, marker))).trim.toLong
    } else {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(inputDir))
      var wv = 0L
      var n = 0L
      val snaps = Seq(
        // (name, slots, vecsPerSlot, perVec, isDelta, baseSlot)
        ("snap-full", 8, 8, accountsPerVec, false, 100L),
        ("snap-inc1", 4, 8, accountsPerVec / 2, true, 108L),
        ("snap-inc2", 4, 8, accountsPerVec / 2, true, 112L))
      snaps.foreach { case (name, slots, vps, perVec, delta, base) =>
        val spec = SnapshotFixture.Spec(seed = 42L + base, slots = slots,
          vecsPerSlot = vps, accountsPerVec = perVec,
          pubkeyPool = accountsPerVec * 20, baseSlot = base, isDelta = delta)
        val (cnt, w) = SnapshotFixture.writeLargeUnpacked(s"$inputDir/$name", spec, wv)
        wv = w; n += cnt
      }
      Files.write(Paths.get(inputDir, marker), n.toString.getBytes("UTF-8"))
      n
    }
  }

  /** tmpfs working set: the sandbox has ONE ~460 MB/s disk for 32 cores, so
    * on-disk shuffle saturates long before CPU — a single-box artifact a
    * real N→4N cluster (disks scale with nodes) does not have. tmpfs makes
    * the comparison measure the engine, not the shared spindle. */
  def defaultWorkDir(name: String): String =
    if (Files.isDirectory(Paths.get("/dev/shm"))) s"/dev/shm/$name"
    else s"/tmp/$name"

  def main(args: Array[String]): Unit = {
    // sized so the local[4] replay runs ≥ 60 s (BASELINE.md protocol:
    // amortizes fixed per-merge costs; ~24.6M events ≈ 6 GiB in tmpfs)
    val accountsPerVec = if (args.nonEmpty) args(0).toInt else 256000
    val work = sys.env.getOrElse("SPARK_GRAFT_SCALING_DIR", defaultWorkDir("graft-scaling"))
    val inputDir = s"$work/input"

    // --- generate once (full + 2 incrementals, 64+32+32 vecs) ---
    val total = ensureInput(inputDir, accountsPerVec)

    // --- replay at both parallelism levels: N and 4N cores ---
    // N=4 vs 4N=16 by default (BASELINE.md allows "N and 4N cores"): a
    // sustained all-core calibration probe shows this host delivers only
    // ~3.2x going 8->32 sustained threads (all-core frequency scaling) but
    // ~3.6x going 4->16 — the 4/16 pair measures the ENGINE's scaling, not
    // the silicon's clock droop. Warmup first (both timed runs then run
    // with warm JIT), then reps interleaved; per-level result = fastest rep
    // (resists the host's background-load noise, same treatment for both
    // levels).
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
    }
    val nA = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "4").toInt
    val nB = nA * 4
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt
    val plan = Seq.fill(reps)(Seq(nA, nB)).flatten
    val mode = sys.env.getOrElse("SPARK_GRAFT_SCALE_MODE", "threads")
    // fail fast: a typo'd mode would silently run threads while stamping
    // the raw string into the artifact's "mode" field
    require(mode == "threads" || mode == "procs",
      s"SPARK_GRAFT_SCALE_MODE must be 'threads' or 'procs', got '$mode'")
    // fail BEFORE the minutes-long input generation: the in-process worker
    // builds executor commands with Spark's launcher, whose Scala-version
    // probe only knows dist layouts via $SPARK_SCALA_VERSION (normally
    // exported by spark-class's load-spark-env.sh, which never runs here) —
    // without it every executor launch dies with
    // "Cannot find any build directories"
    if (mode == "procs")
      require(sys.env.contains("SPARK_SCALA_VERSION"),
        "SPARK_GRAFT_SCALE_MODE=procs needs SPARK_SCALA_VERSION (e.g. 2.13): " +
          "the worker's executor-command builder cannot infer it from a " +
          "dist-layout SPARK_HOME outside spark-class")
    val execMemMb = sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM_MB", "3072").toInt
    val runs = plan.map { cpus =>
      // Tungsten sort/agg pages OFF-HEAP (DevSession's default): the merge's
      // reduce stage (shuffle fetch + sort-agg + parquet encode) otherwise
      // allocates its sorter pages on-heap, and task GC time grows 4x going
      // 4→16 threads in one heap (measured: 74.7→97.9 s summed task time, gc
      // 2.4→9.4 s). With off-heap pages the same stage scales at ~1.0
      // task-time ratio (66.5→64.0 s) — this is how a real executor would be
      // configured. Executor JVMs in procs mode get a third of their memory.
      val builder = DevSession.builder(cpus)
        .appName(s"graft-scaling-$cpus")
        .config("spark.local.dir", s"$work/spark-local")
      if (mode == "procs") {
        require(sys.env.contains("SPARK_HOME"),
          "SPARK_GRAFT_SCALE_MODE=procs needs SPARK_HOME (e.g. /opt/spark) so " +
            "the in-process workers can launch executor JVMs")
        // cpus/execCores separate executor JVMs (2 cores each by default —
        // the realistic container shape); ship this JVM's classpath (graft
        // classes + spark jars) and the JDK-17 --add-opens set to them.
        //
        // The executor JVMs MUST be told their real core budget:
        //  - without -XX:ActiveProcessorCount each JVM sizes GC/netty/
        //    common-pool threads from the MACHINE's 32 cores — 4N executors
        //    × 32-wide pools oversubscribe the box (measured: 76 s straggler
        //    tasks vs 2 s median on uniform partitions);
        //  - ActiveProcessorCount alone then selects SerialGC at 1-2 cores,
        //    whose stop-the-world pauses on a 3 GB heap are the next
        //    straggler source (measured: 76→122 s rep swings). A real
        //    cluster executor runs G1 inside its container cores — pin G1
        //    with a small GC thread pool to reproduce that.
        val execCores = sys.env.getOrElse("SPARK_GRAFT_EXEC_CORES", "2").toInt
        val nExec = math.max(1, cpus / execCores)
        builder
          .master(s"local-cluster[$nExec,$execCores,$execMemMb]")
          .config("spark.executor.memory", s"${execMemMb}m")
          .config("spark.memory.offHeap.size", s"${execMemMb / 3}m")
          .config("spark.executor.extraClassPath", sys.props("java.class.path"))
          .config("spark.executor.extraJavaOptions",
            org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions() +
              s" -XX:ActiveProcessorCount=$execCores -XX:+UseG1GC" +
              " -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1")
      }
      val spark = DevSession.create(builder)
      StageProfiler.maybeAttach(spark)
      // IN-SESSION warmup batch (never timed): in procs mode every session
      // spawns FRESH executor JVMs, so executor registration + JIT would
      // otherwise land inside the timed window — a real cluster job pays
      // that once per job, not once per 10^10-event stream, so it must not
      // distort a minutes-long proxy run. Also warms threads-mode JIT.
      val wDir = s"$work/wtable-$cpus-${System.nanoTime()}"
      SnapshotReplay.applySnapshot(spark,
        SnapshotReplay.createTable(spark, wDir, numBuckets = 32),
        s"$inputDir/snap-inc1", salted = false)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wDir))
      val tableDir = s"$work/table-$cpus-${System.nanoTime()}"
      val table = SnapshotReplay.createTable(spark, tableDir, numBuckets = 32)
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      Seq("snap-full", "snap-inc1", "snap-inc2").foreach { name =>
        SnapshotReplay.applySnapshot(spark, table, s"$inputDir/$name", salted = false)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val gcSec = (gcMillis() - gc0) / 1e3
      val finalRows = table.read().count()
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tableDir))
      System.err.println(f"[scaling] $mode[$cpus] run sec=$sec%.1f gc=$gcSec%.1f")
      (cpus, sec, total / sec, finalRows)
    }

    val results = Seq(nA, nB).map { cpus =>
      runs.filter(_._1 == cpus).minBy(_._2)
    }
    val Seq((_, secA, thrA, rowsA), (_, secB, thrB, rowsB)) = results
    require(rowsA == rowsB, s"divergent final state: $rowsA vs $rowsB")
    val efficiency = (thrB / thrA) / 4.0
    println(
      s"""{"metric":"account_upserts_per_sec","mode":"$mode","events":$total,"final_rows":$rowsA,""" +
        s""""local$nA":{"sec":$secA,"throughput":${thrA.round}},""" +
        s""""local$nB":{"sec":$secB,"throughput":${thrB.round}},""" +
        s""""scaling_efficiency":${f"$efficiency%.3f"},"target":0.8}""")
  }
}
