package perfbench

import scala.collection.mutable

import graft.tables.TableSnapshot

import perfbench.Main.Metric

/** Per-layer metrics of a traced run, named after the engine's modules.
  * Times, job and task counts and byte counts are means per call of the
  * layer's spans in the timed window, so runs with different step counts
  * compare; `*.driver_s` is a span's wall time minus the union of its Spark
  * job intervals (planning, snapshot I/O, commit). */
object Layers {

  def apply(r: Run, timedOps: Set[Int], decoded: Long, decodeInputs: Seq[String],
      jvmGcS: Double, heapPeakMb: Double, liveRows: Long, dataBytes: Long,
      snap: TableSnapshot, root: String): Seq[Metric] = {
    val listener = r.listener.get
    listener.awaitQuiet()
    val spans = r.tracer.spans
    val timed = spans.filter(s => timedOps.contains(s.op) && s.parent >= 0)

    final class Group(pred: String => Boolean, all: Seq[Span] = timed) {
      val spans: Seq[Span] = all.filter(s => pred(s.name))
      val n: Double = math.max(1, spans.size).toDouble
      val accs: Seq[listener.Acc] = spans.flatMap(s => listener.get(s.id))
      def wall: Double = spans.map(_.seconds).sum
      def mean(f: listener.Acc => Double): Double = accs.map(f).sum / n
      def driver: Double = spans.map { s =>
        val ivs = listener.get(s.id).toSeq.flatMap(_.jobIntervals)
          .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var end = Long.MinValue
        ivs.foreach { case (a, b) =>
          val from = math.max(a, end)
          if (b > from) covered += b - from
          end = math.max(end, b)
        }
        s.seconds - covered / 1e3
      }.sum / n
    }

    val apply = new Group(_ == "streaming.apply")
    val writers = new Group(n => n == "streaming.apply" || (n.startsWith("sql.") && n != "sql.select"))
    val point = new Group(_ == "read.point")
    val scan = new Group(_ == "read.scan")
    val mv = new Group(_ == "mv.refresh")
    val compact = new Group(_ == "maintenance.compact")
    val sql = new Group(_.startsWith("sql."))
    val decode = new Group(_ == "sources.decode", spans)

    // task skew of the writers: time-weighted max/mean task time per stage
    val stages = writers.accs.flatMap(_.stageTasks.values).filter(_._3 >= 2)
    val skew = if (stages.isEmpty) 1.0
    else stages.map(_._2.toDouble).sum / stages.map { case (s, _, k) => s.toDouble / k }.sum
    val writerRunS = writers.accs.map(_.runMs).sum / 1e3
    val pointRows = point.spans.map(s => r.pointRows.getOrElse(s.id, 0)).sum
    val scanShape = r.scanShape.filter { case (id, _, _) => scan.spans.exists(_.id == id) }
    val decodeRunS = decode.accs.map(_.runMs).sum / 1e3
    val meta = mutable.ArrayBuffer.empty[Metric]
    def m(name: String, v: Double, unit: String): Unit = meta += Metric(name, v, unit)

    m("sources.decode_s", decode.wall, "s")
    m("sources.events", decoded.toDouble, "count")
    m("sources.input_bytes", decodeInputs.map(Inputs.bytesUnder).sum.toDouble, "B")
    m("sources.events_per_task_s", decoded / math.max(decodeRunS, 1e-3), "1/s")
    m("streaming.apply_s", apply.wall / apply.n, "s")
    m("streaming.jobs", apply.mean(_.jobs), "count")
    m("streaming.tasks", apply.mean(_.tasks), "count")
    m("streaming.driver_s", apply.driver, "s")
    m("tables.merge.task_s", writerRunS / writers.n, "s")
    m("tables.merge.core_util", writerRunS / math.max(writers.wall * r.cores, 1e-9), "ratio")
    m("tables.merge.task_skew", skew, "ratio")
    m("tables.merge.gc_s", writers.mean(_.gcMs / 1e3), "s")
    m("tables.merge.shuffle_write_bytes", writers.mean(_.shuffleWrite.toDouble), "B")
    m("tables.merge.spill_bytes", writers.mean(_.spill.toDouble), "B")
    m("tables.merge.output_bytes", writers.mean(_.outBytes.toDouble), "B")
    m("tables.merge.files_added", r.filesAdded / writers.n, "count")
    m("tables.merge.task_retries", writers.mean(_.retries), "count")
    m("tables.read.point_s", point.wall / point.n, "s")
    m("tables.read.files_scanned", r.pointFiles.sum.toDouble / math.max(1, r.pointFiles.size), "count")
    m("tables.read.records_per_row_returned",
      point.accs.map(_.inRecords).sum.toDouble / math.max(1, pointRows), "ratio")
    m("tables.read.scan_s", scan.wall / scan.n, "s")
    m("tables.read.mor_buckets", scanShape.map(_._2).sum.toDouble / math.max(1, scanShape.size), "count")
    m("tables.read.layers_max", (1 +: scanShape.map(_._3)).max.toDouble, "count")
    m("tables.mv.refresh_s", mv.wall / mv.n, "s")
    m("tables.mv.jobs", mv.mean(_.jobs), "count")
    m("tables.mv.driver_s", mv.driver, "s")
    m("tables.maintenance.compact_s", compact.wall, "s")
    m("tables.maintenance.bytes_rewritten", compact.accs.map(_.outBytes).sum.toDouble, "B")
    m("tables.dsv2.stmt_s", sql.wall / sql.n, "s")
    m("tables.dsv2.jobs", sql.mean(_.jobs), "count")
    m("tables.dsv2.pin_jobs", sql.mean(_.pinJobs), "count")
    m("tables.dsv2.driver_s", sql.driver, "s")
    m("table.live_rows", liveRows.toDouble, "count")
    m("table.stored_rows", snap.rowCount.toDouble, "count")
    m("table.data_files", snap.bucketFiles.values.map(_.size).sum.toDouble, "count")
    m("table.data_bytes", dataBytes.toDouble, "B")
    m("table.meta_bytes", Inputs.bytesUnder(s"$root/meta").toDouble, "B")
    m("jvm.gc_s", jvmGcS, "s")
    m("jvm.heap_peak_mb", heapPeakMb, "MB")
    m("trace.untagged_jobs", listener.untaggedJobs.toDouble, "count")
    meta.toSeq
  }

  /** Largest gap, over all ops, between an op's wall time and the sum of
    * the self times of the spans in its tree. */
  def selfTimeError(tracer: Tracer): Double = {
    val spans = tracer.spans
    val self = tracer.selfSeconds(spans)
    spans.filter(_.parent < 0).map { root =>
      math.abs(root.seconds - spans.filter(_.op == root.op).map(s => self(s.id)).sum)
    }.foldLeft(0.0)(math.max)
  }

  def traceJson(tracer: Tracer, listener: SpanListener, layers: Seq[Metric], e2e: Seq[Metric],
      overhead: Seq[Metric]): String = {
    val spans = tracer.spans
    val self = tracer.selfSeconds(spans)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val spanJson = spans.map { s =>
      val work = listener.get(s.id).map { a =>
        s""", "jobs": ${a.jobs}, "stages": ${a.stages}, "tasks": ${a.tasks}, """ +
          s""""task_s": ${Stats.num(a.runMs / 1e3)}, "input_bytes": ${a.inBytes}, """ +
          s""""output_bytes": ${a.outBytes}, "shuffle_write_bytes": ${a.shuffleWrite}"""
      }.getOrElse("")
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""start_s": ${Stats.num((s.startNs - t0) / 1e9)}, "end_s": ${Stats.num((s.endNs - t0) / 1e9)}, """ +
        s""""self_s": ${Stats.num(self(s.id))}, "failed": ${s.failed}$work}"""
    }
    s"""{"per_layer": ${Stats.metricsJson(layers)},\n "end_to_end_traced": ${Stats.metricsJson(e2e)},\n""" +
      s""" "tracing_overhead": ${Stats.metricsJson(overhead)},\n "spans": [\n  """ +
      spanJson.mkString(",\n  ") + "\n]}\n"
  }
}
