package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.tables.{LakeTable, MaterializedView, TableSnapshot}

/** One point read as seen by the client: the key, how many inputs had been
  * applied when it ran, and the row it returned as (writeVersion, lamports,
  * hash hex), if any. */
final case class PointRead(key: String, upto: Int, got: Option[(Long, Long, String)])

/** State and samples of one benchmark run. Every call into the engine goes
  * through [[call]] (a span) and, for writes, [[write]], which also diffs the
  * table's file list before and after to count the bytes the call added. */
final class Run(val spark: SparkSession, val tracer: Tracer,
    val listener: Option[SpanListener], val cores: Int, val runDir: String,
    val cacheRoot: String, val seed: Long) {

  def traced: Boolean = listener.isDefined
  val warehouse: String = s"$runDir/warehouse"

  /** true while ops count towards the end-to-end metrics */
  var timing = false
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]

  val fresh = mutable.ArrayBuffer.empty[Double]
  val writes = mutable.ArrayBuffer.empty[Double]
  val writeKinds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val points = mutable.ArrayBuffer.empty[Double]
  val scans = mutable.ArrayBuffer.empty[Double]
  var bytesAdded = 0L
  var filesAdded = 0L
  var rowsUpserted = 0L
  var eventsWritten = 0L
  var writeSeconds = 0.0
  val pointReads = mutable.ArrayBuffer.empty[PointRead]
  /** traced only: data files each point read scanned, and rows it returned */
  val pointFiles = mutable.ArrayBuffer.empty[Int]
  val pointRows = mutable.Map.empty[Int, Int]
  /** traced only: (span id, merge-on-read buckets, max layers) per scan */
  val scanShape = mutable.ArrayBuffer.empty[(Int, Int, Int)]

  /** Wall time of every successful [[call]] so far: the time spent inside
    * the engine, without the harness's own bookkeeping between calls. */
  var engineSeconds = 0.0

  /** Run `f` in a span named `name`. A failure inside the timed window is
    * counted and swallowed (the run is then reported as incorrect); outside
    * it, it propagates and ends the run. */
  def call[A](name: String)(f: => A): Option[(A, Span)] = {
    if (timing) attempted += 1
    try {
      val res = tracer.span(name)(f)
      engineSeconds += res._2.seconds
      Some(res)
    } catch {
      case NonFatal(e) if timing =>
        failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        System.err.println(s"[perfbench] op $name FAILED: $e")
        None
    }
  }

  private def dataFiles(t: LakeTable, s: TableSnapshot): Map[String, Long] =
    s.bucketFiles.values.flatten.map { rel =>
      val p = if (rel.startsWith("/")) rel else s"${t.root}/$rel"
      rel -> (try Files.size(Paths.get(p)) catch { case NonFatal(_) => 0L })
    }.toMap

  /** A write call on `table`, timed as `name`. When `countAsWrite`, also
    * the files and bytes it added and the rows its committed batches took
    * in and upserted; maintenance calls (compaction) do not count, so these
    * stay per-write figures however many steps a run makes. The snapshots
    * and file sizes are read outside the call's span. */
  def write(table: LakeTable, name: String, countAsWrite: Boolean = true)(
      f: => Any): Option[Span] = {
    val before = if (timing && countAsWrite) Some(table.snapshot()) else None
    val res = call(name)(f)
    for ((_, sp) <- res if timing) {
      writeKinds.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += sp.seconds
      before.foreach { b =>
        val after = table.snapshot()
        val old = dataFiles(table, b)
        val added = dataFiles(table, after).filter { case (rel, _) => !old.contains(rel) }
        bytesAdded += added.values.sum
        filesAdded += added.size
        val batches = after.appliedBatches.filterNot(b.appliedBatches.contains)
        val counters = batches.flatMap(after.lineage.get).map(_.counters)
        rowsUpserted += counters.map(_.getOrElse("upserts", 0L)).sum
        eventsWritten += counters.map(_.getOrElse("rows_in", 0L)).sum
        writeSeconds += sp.seconds
        writes += sp.seconds
      }
    }
    res.map(_._2)
  }

  /** Refresh `mv` as the last call of a step's freshness window, which
    * began when [[engineSeconds]] read `engine0`: the freshness sample is
    * the engine time of the window's calls, from the first write until the
    * refresh returns. */
  def refresh(mv: MaterializedView, engine0: Double): Unit =
    call("mv.refresh")(mv.refresh()).foreach { _ =>
      if (timing) fresh += engineSeconds - engine0
    }

  /** Keyed point read through `read(keyEquals)`, collected. Keys are hex;
    * `binaryKey` tables store the raw bytes, the others the hex string. */
  def pointRead(table: LakeTable, key: String, upto: Int, binaryKey: Boolean = true): Unit = {
    val pk = if (binaryKey) Inputs.unhex(key) else key
    call("read.point") {
      val df = table.read(Map("pubkey" -> pk)).select("writeVersion", "lamports", "hash")
      (df, df.collect())
    }.foreach { case ((df, rows), sp) =>
      if (timing) points += sp.seconds
      pointReads += PointRead(key, upto, rows.headOption.map(rowOf))
      if (traced) {
        pointFiles += df.inputFiles.length
        pointRows(sp.id) = rows.length
      }
    }
  }

  /** Keyed SELECT through the SQL catalog (a DSv2 read statement). */
  def sqlSelect(tableName: String, key: String, upto: Int, binaryKey: Boolean = true): Unit =
    call("sql.select")(spark.sql(
      s"SELECT writeVersion, lamports, hash FROM lake.$tableName WHERE pubkey = " +
        (if (binaryKey) s"X'$key'" else s"'$key'"))
      .collect()).foreach { case (rows, _) =>
      pointReads += PointRead(key, upto, rows.headOption.map(rowOf))
    }

  /** The full resolved `read()` aggregate, `times` times in a row: one scan
    * per step is too few samples for a steady median. */
  def scan(table: LakeTable, times: Int): Unit = (1 to times).foreach { _ =>
    val shape = if (traced) {
      val s = table.snapshot()
      Some((s.morBuckets.size, (1 +: s.bucketLayers.values.toSeq).max))
    } else None
    call("read.scan")(table.read().selectExpr("count(1)", "sum(lamports)").collect())
      .foreach { case (_, sp) =>
        if (timing) scans += sp.seconds
        shape.foreach { case (m, l) => scanShape += ((sp.id, m, l)) }
      }
  }

  private def rowOf(r: Row): (Long, Long, String) =
    (r.getLong(0), r.getLong(1), Inputs.hex(r.getAs[Array[Byte]](2)))
}
