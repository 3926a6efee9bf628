package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

import graft.sources.SnapshotSource

/** Benchmark entry point: one workload, one seed, one closed loop of
  * `--seconds` seconds. Prints a human-readable report on stderr and, as the
  * last line of stdout, one JSON object with the end-to-end metrics
  * (`--trace 0`) or the per-layer metrics (`--trace 1`).
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> [--offheap-mb <n>] [--corrupt-expected 1]
  */
object Main {

  final case class Metric(name: String, value: Double, unit: String)

  /** `point_read_tail_s` is taken over the first this many timed point
    * reads (every workload's first step makes at least this many), so it is
    * always the same percentile, p75, however many steps a run makes. */
  val TailSamples = 40

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val corrupt = opts.get("corrupt-expected").contains("1")
    val offHeapMb = opts.getOrElse("offheap-mb", "1024")
    val code =
      try run(workload, seed, seconds, traced, work, corrupt, offHeapMb)
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] run aborted: $e")
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean, work: String,
      corrupt: Boolean, offHeapMb: String): Int = {
    val w = Workload(workload, seed)
    val cores = Runtime.getRuntime.availableProcessors()
    val runDir = s"$work/run"
    FileUtils.deleteQuietly(new java.io.File(runDir))
    Files.createDirectories(Paths.get(runDir))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      // the session confs graft.Bench runs with
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", s"${offHeapMb}m")
      // everything the run writes stays under the work dir
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
      .config("spark.sql.catalog.lake", "graft.tables.dsv2.LakeCatalog")
      .config("spark.sql.catalog.lake.warehouse", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try {
      val tracer = new Tracer(spark.sparkContext, tagJobs = traced)
      val listener = if (traced) Some(new SpanListener(tracer)) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      val r = new Run(spark, tracer, listener, cores, runDir, s"$work/inputs", seed)
      measure(w, r, workload, seed, seconds, sessionS, corrupt, work)
    } finally {
      spark.stop()
      FileUtils.deleteQuietly(new java.io.File(runDir))
    }
  }

  private def measure(w: Workload, r: Run, workload: String, seed: Long, seconds: Double,
      sessionS: Double, corrupt: Boolean, work: String): Int = {
    val tracer = r.tracer
    // ---- inputs: generated from the seed on a cache miss, untimed; the
    // timed set-up then always takes the cache-hit path, whichever run of
    // the seed came first
    tracer.op("setup.generate")(w.inputs(r))
    // ---- set-up: the inputs' cache check, the table pre-load, then warmup
    // steps that run the loop's code paths once before timing (JIT,
    // codegen, caches)
    val inputsS = tracer.op("setup.inputs")(w.inputs(r))._2.seconds
    val prepareS = tracer.op("setup.prepare")(w.prepare(r))._2.seconds
    val warmupS = (0 until w.warmupSteps).map(i => tracer.op("setup.warmup")(w.step(r, i))._2.seconds)
    val setupS = sessionS + inputsS + prepareS + warmupS.sum

    // ---- the timed closed loop; only its reads are checked
    r.pointReads.clear()
    val gcBefore = gcSeconds()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    r.timing = true
    val t0 = System.nanoTime()
    var i = w.warmupSteps
    while ((System.nanoTime() - t0) / 1e9 < seconds && w.hasStep(i)) {
      tracer.op("step")(w.step(r, i))
      i += 1
    }
    val steps = i - w.warmupSteps
    tracer.op("maintenance")(w.finish(r))
    r.timing = false
    val jvmGcS = gcSeconds() - gcBefore
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val timedOps = tracer.spans.filter(s => s.parent < 0 && (s.name == "step" || s.name == "maintenance"))
      .map(_.op).toSet

    // ---- traced only: a decode-only count over the workload's inputs
    val decoded = if (r.traced) tracer.op("sources") {
      w.decodeInputs.map(p => tracer.span("sources.decode")(
        SnapshotSource.open(r.spark, p).accountUpdates(r.spark).count())._1).sum
    }._1 else 0L

    // ---- correctness, outside the timed window
    val checks = tracer.op("check") {
      try w.check(r, corrupt)
      catch { case NonFatal(e) => Seq(("check", false, s"check errored: $e")) }
    }._1
    checks.filterNot(_._2).foreach(c => r.errors += s"check ${c._1}: ${c._3}")
    val attempted = r.attempted + checks.size
    val failed = r.failed + checks.count(!_._2)

    // ---- end-to-end metrics
    val t = w.table
    val snap = t.snapshot()
    val dataBytes = snap.bucketFiles.values.flatten.map(rel =>
      Inputs.bytesUnder(if (rel.startsWith("/")) rel else s"${t.root}/$rel")).sum
    val liveRows = t.logicalRowCount()
    val pointTail = Stats.tail(r.points.take(TailSamples).toSeq)
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("ingest_events_per_s", r.eventsWritten / r.writeSeconds, "1/s"),
      Metric("write_bytes_per_upsert", r.bytesAdded.toDouble / r.rowsUpserted, "B"),
      Metric("stored_bytes_per_row", dataBytes.toDouble / liveRows, "B"),
      Metric("peak_rss_mb", peakRssMb(), "MB"),
      Metric("fresh_p50_s", Stats.median(r.fresh.toSeq), "s"),
      Metric("write_p50_s", Stats.median(r.writes.toSeq), "s"),
      Metric("point_read_p50_s", Stats.median(r.points.toSeq), "s"),
      Metric("point_read_tail_s", pointTail._1, "s"),
      Metric("scan_p50_s", Stats.median(r.scans.toSeq), "s"))

    // ---- report
    val err = System.err
    err.println(f"[perfbench] $workload seed=$seed steps=$steps cores=${r.cores} " +
      f"trace=${if (r.traced) 1 else 0} attempted=$attempted failed=$failed")
    val stepS = tracer.spans.filter(s => s.name == "step").map(_.seconds)
    err.println(f"[perfbench] setup: session=$sessionS%.2fs inputs=$inputsS%.2fs " +
      f"prepare=$prepareS%.2fs warmup=${warmupS.sum}%.2fs; cold/warm step " +
      f"${warmupS.headOption.getOrElse(Double.NaN) / Stats.median(stepS)}%.2f")
    e2e.foreach(m => err.println(f"[perfbench]   ${m.name}%-24s ${m.value}%14.6f ${m.unit}"))
    val tails = Seq("fresh" -> r.fresh, "write" -> r.writes, "point_read" -> r.points, "scan" -> r.scans) ++
      r.writeKinds.toSeq
    tails.foreach { case (n, xs) =>
      val (v, p) = Stats.tail(xs.toSeq)
      err.println(f"[perfbench]   $n%-24s n=${xs.size}%4d p50=${Stats.median(xs.toSeq)}%.4fs " +
        (if (xs.size > 10) f"tail(p$p%.0f)=$v%.4fs" else "tail: fewer than 11 samples"))
    }
    err.println(f"[perfbench]   failed_op_ratio          ${failed.toDouble / attempted}%14.6f")
    checks.foreach(c => err.println(s"[perfbench] check ${c._1}: ${if (c._2) "ok" else "FAILED"} (${c._3})"))
    r.errors.take(10).foreach(e => err.println(s"[perfbench] error: $e"))

    val resultsDir = Paths.get(work, "results")
    Files.createDirectories(resultsDir)
    val untracedFile = resultsDir.resolve(s"$workload-s$seed-e2e.json")
    val metrics =
      if (!r.traced) {
        Files.write(untracedFile, Stats.metricsJson(e2e).getBytes(StandardCharsets.UTF_8))
        e2e
      } else {
        val layers = Layers(r, timedOps, decoded, w.decodeInputs, jvmGcS, heapPeakMb, liveRows,
          dataBytes, snap, t.root) :+ Metric("failed_op_ratio", failed.toDouble / attempted, "ratio")
        layers.foreach(m => err.println(f"[perfbench]   ${m.name}%-40s ${m.value}%16.6f ${m.unit}"))
        // tracing overhead: this traced run's end-to-end figures minus the
        // untraced run's on the same seed, when one was made
        val overhead = if (Files.exists(untracedFile)) {
          val base = Stats.parseMetrics(new String(Files.readAllBytes(untracedFile), StandardCharsets.UTF_8))
          e2e.flatMap(m => base.get(m.name).map(b => Metric(m.name, m.value - b, m.unit)))
        } else Nil
        if (overhead.isEmpty) err.println("[perfbench] tracing overhead: no untraced run of this seed to compare")
        overhead.foreach(m => err.println(f"[perfbench]   overhead ${m.name}%-24s ${m.value}%+.6f ${m.unit}"))
        val selfErr = Layers.selfTimeError(tracer)
        err.println(f"[perfbench] span self times sum to op wall within $selfErr%.3e s")
        val traceFile = Paths.get(work, "traces", s"$workload-s$seed.json")
        Files.createDirectories(traceFile.getParent)
        Files.write(traceFile, Layers.traceJson(tracer, r.listener.get, layers, e2e, overhead)
          .getBytes(StandardCharsets.UTF_8))
        err.println(s"[perfbench] trace written to $traceFile")
        layers
      }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": ${Stats.metricsJson(metrics)}}""")
    if (failed == 0) 0 else 1
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** VmHWM of this JVM, in MiB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
}
