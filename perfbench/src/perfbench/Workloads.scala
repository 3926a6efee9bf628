package perfbench

import java.io.File

import scala.util.Random

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{SnapshotFixture, SnapshotSource}
import graft.streaming.SnapshotReplay
import graft.tables.{AggSpec, LakeTable, MaterializedView}

/** A closed-loop workload: one client thread, each step waits for the last. */
trait Workload {
  def name: String
  /** generate the seeded inputs, or find them in the cache */
  def inputs(r: Run): Unit
  /** create and pre-load the table */
  def prepare(r: Run): Unit
  def warmupSteps: Int
  def hasStep(i: Int): Boolean
  def step(r: Run, i: Int): Unit
  /** after the timed loop: the maintenance op */
  def finish(r: Run): Unit
  /** inputs a decode-only count runs over in the traced run */
  def decodeInputs: Seq[String]
  /** (check, ok, detail); `corrupt` perturbs the expected state */
  def check(r: Run, corrupt: Boolean): Seq[(String, Boolean, String)]
  def table: LakeTable
}

object Workload {
  val all: Seq[String] = Seq("delta_mor", "sql_dml")

  def apply(name: String, seed: Long): Workload = name match {
    case "delta_mor" => new DeltaMor(seed)
    case "sql_dml"   => new SqlDml(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${all.mkString(", ")})")
  }

  val mvAggs = Seq(AggSpec("count", "*", "accounts"), AggSpec("sum", "lamports", "lamports_sum"))

  def createMv(r: Run, dir: String, base: LakeTable): MaterializedView = {
    FileUtils.deleteQuietly(new File(dir))
    MaterializedView.createOrOpen(r.spark, dir, base, Seq("owner"), mvAggs, numBuckets = 4)
  }

  def pk(id: Long): String = Inputs.hex(SnapshotFixture.pkFromLong(id))

  /** (rows, order-independent digest) of (pubkey, writeVersion, lamports,
    * hash): a DECIMAL sum of per-row 64-bit hashes, exact and insensitive
    * to row order. */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(col("pubkey"), col("writeVersion"), col("lamports"), col("hash"))
        .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).first()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Decoded input events tagged with their apply order (`batch`). */
  def events(spark: SparkSession, paths: Seq[String]): DataFrame =
    paths.zipWithIndex.map { case (p, i) =>
      SnapshotSource.open(spark, p).accountUpdates(spark).toDF()
        .select(col("pubkey"), col("writeVersion"), col("lamports"), col("hash"), lit(i).as("batch"))
    }.reduce(_ unionByName _)

  /** Plain-Spark last-writer-wins fold: the max-writeVersion event per key. */
  def fold(ev: DataFrame): DataFrame =
    ev.groupBy("pubkey")
      .agg(max_by(struct(col("writeVersion"), col("lamports"), col("hash")), col("writeVersion")).as("w"))
      .select(col("pubkey"), col("w.writeVersion"), col("w.lamports"), col("w.hash"))

  def digestCheck(name: String, got: (Long, BigDecimal), want: (Long, BigDecimal),
      corrupt: Boolean): (String, Boolean, String) = {
    val w = if (corrupt) (want._1, want._2 + 1) else want
    (name, got == w, s"rows/digest got $got want $w")
  }

  /** Every recorded point read against the fold of the inputs applied when
    * it ran. */
  def pointCheck(r: Run, ev: DataFrame): (String, Boolean, String) = {
    import r.spark.implicits._
    val probes = r.pointReads.map(p => (p.key, p.upto)).distinct.toSeq.toDF("k", "upto")
    val want = ev.withColumn("k", lower(hex(col("pubkey"))))
      .join(broadcast(probes), "k").where(col("batch") <= col("upto"))
      .groupBy("k", "upto")
      .agg(max_by(struct(col("writeVersion"), col("lamports"), col("hash")), col("writeVersion")).as("w"))
      .select(col("k"), col("upto"), col("w.writeVersion"), col("w.lamports"), col("w.hash"))
      .collect().map(x => (x.getString(0), x.getInt(1)) ->
        (x.getLong(2), x.getLong(3), Inputs.hex(x.getAs[Array[Byte]](4)))).toMap
    val bad = r.pointReads.filter(p => p.got != want.get((p.key, p.upto)))
    ("point_reads", bad.isEmpty,
      s"${r.pointReads.size} reads, ${bad.size} wrong${bad.headOption.map(b => s", e.g. $b").getOrElse("")}")
  }

  def mvCheck(r: Run, mv: MaterializedView, t: LakeTable): (String, Boolean, String) = {
    def rows(df: DataFrame) = df.select(hex(col("owner")), col("accounts"), col("lamports_sum"))
      .collect().map(_.toSeq).toSet
    val got = rows(mv.read())
    val want = rows(t.read().groupBy("owner")
      .agg(count(lit(1)).as("accounts"), sum("lamports").as("lamports_sum")))
    ("mv_equals_recompute", got == want, s"${got.size} groups, ${(got diff want).size} differ")
  }

  def verifyCheck(t: LakeTable): (String, Boolean, String) = {
    val v = t.verifyTable(checkData = true)
    val bad = v.filterNot(_._2)
    ("verify_table", bad.isEmpty, s"${v.size} checks${bad.map(b => s"; ${b._1}: ${b._3}").mkString}")
  }
}

import Workload._

/** A pre-loaded table taking small incremental archives merge-on-read, with
  * a materialized view refreshed, point reads and a full scan after each:
  * bound by fixed per-op cost and merge-on-read read amplification. */
final class DeltaMor(seed: Long) extends Workload {
  val name = "delta_mor"
  private val basePerVec = 3000
  private val pool = (16 * basePerVec * 6) / 10
  private val deltaPerVec = 2000
  private val deltaCount = 8
  private var base: String = _
  /** (archive path, a few keys it touches) in apply order */
  private var deltas: IndexedSeq[(String, Seq[String])] = IndexedSeq.empty
  private var applied = 0
  private var t: LakeTable = _
  private var mv: MaterializedView = _

  def inputs(r: Run): Unit = {
    val key = Inputs.cacheKey(name, seed, s"b$basePerVec-d$deltaPerVec")
    val dir = Inputs.cached(r.cacheRoot, key) { d =>
      Inputs.unpacked(s"$d/base", seed * 7 + 1, 4, 4, basePerVec, pool, 100L,
        isDelta = false, 0L)
    }
    base = s"$dir/base"
    val deltaPool = pool + pool / 20 // ~5% of delta keys are new accounts
    var wv = 16L * basePerVec // the base's last write version
    deltas = (0 until deltaCount).map { j =>
      val (fx, w) = Inputs.archive(s"$dir/delta-$j.tar.zst", seed * 1009 + j, deltaPerVec,
        deltaPool, 200L + j, wv)
      wv = w
      val rnd = new Random(seed * 17 + j)
      val ks = fx.allRecords.map(Inputs.keyOf).distinct.toIndexedSeq
      (s"$dir/delta-$j.tar.zst", Seq.fill(24)(ks(rnd.nextInt(ks.size))))
    }
  }

  def prepare(r: Run): Unit = {
    FileUtils.deleteQuietly(new File(r.warehouse))
    t = SnapshotReplay.createTable(r.spark, s"${r.warehouse}/mor", numBuckets = 32)
    mv = createMv(r, s"${r.runDir}/mv/mor", t)
    SnapshotReplay.applySnapshot(r.spark, t, base)
    mv.refresh()
    applied = 0
  }

  def warmupSteps = 1
  def hasStep(i: Int): Boolean = i < deltas.size
  def table: LakeTable = t

  def step(r: Run, i: Int): Unit = {
    val (path, touched) = deltas(i)
    val e0 = r.engineSeconds
    r.write(t, "streaming.apply")(SnapshotReplay.applySnapshot(r.spark, t, path, mor = true))
    applied = i + 1
    r.refresh(mv, e0)
    val rnd = new Random(seed * 31 + i)
    val arbitrary = Seq.fill(24)(pk(rnd.nextInt(pool).toLong))
    (touched ++ arbitrary).foreach(k => r.pointRead(t, k, applied))
    r.sqlSelect("mor", touched.head, applied)
    r.scan(t, 4)
  }

  def finish(r: Run): Unit = r.write(t, "maintenance.compact", countAsWrite = false)(t.compact())

  def decodeInputs: Seq[String] = base +: deltas.take(applied).map(_._1)

  def check(r: Run, corrupt: Boolean): Seq[(String, Boolean, String)] = {
    val ev = events(r.spark, base +: deltas.take(applied).map(_._1)).cache()
    try Seq(
      digestCheck("final_state", digest(t.read()), digest(fold(ev)), corrupt),
      pointCheck(r, ev),
      mvCheck(r, mv, t),
      verifyCheck(t))
    finally ev.unpersist()
  }
}
