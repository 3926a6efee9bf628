package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

import graft.sources.{SnapshotFixture, SnapshotSource}
import graft.streaming.SnapshotReplay
import graft.tables.{LakeTable, MaterializedView}

/** An accounts table created through the SQL catalog DDL (keys, orders,
  * buckets and a tombstone column), driven by a fixed, seeded cycle of SQL
  * statements: the merge layer at small batch sizes through the SQL bridge.
  * Each cycle also lands one small archive in a stream landing table beside
  * it. The key is the account's hex string: row-level DML (UPDATE, MERGE)
  * needs row ids the catalog can prove non-null, which a BINARY key is not.
  *
  * The expected state is an in-memory recomputation of the same statement
  * sequence from the statements' documented semantics: last writer wins on
  * writeVersion; UPDATE and MERGE-matched rows and DELETE tombstones are
  * ordered one past the row they replace. Staged write versions are spaced
  * [[SqlDml.Stride]] apart, so no two events of one key can tie. */
final class SqlDml(seed: Long) extends Workload {
  import SqlDml._
  import Workload._

  val name = "sql_dml"
  private val perVec = 2000
  private val pool = (8 * perVec * 6) / 10
  private val insBatches = 48
  private val streamCount = 8
  private val streamPerVec = 500

  private var dir: String = _
  private var baseRows: Seq[(String, Ev)] = Nil
  private var insRows: Map[Int, Seq[(String, Ev)]] = Map.empty
  private var streams: IndexedSeq[String] = IndexedSeq.empty
  private var t: LakeTable = _
  private var landing: LakeTable = _
  private var mv: MaterializedView = _
  private val model = mutable.HashMap.empty[String, Ev]
  private var nextBatch = 0
  private var nextStream = 0
  private var wrongReads = 0
  private var firstWrong = ""

  def inputs(r: Run): Unit = {
    val spark = r.spark
    dir = Inputs.cached(r.cacheRoot, Inputs.cacheKey(name, seed, s"v$perVec")) { d =>
      Inputs.unpacked(s"$d/base", seed * 7 + 1, 2, 4, perVec, pool, 100L,
        isDelta = false, 0L)
      Inputs.unpacked(s"$d/ins", seed * 7 + 2, 2, 4, perVec, pool, 110L,
        isDelta = true, InsWv)
      def staged(src: String) = SnapshotReplay.toDF(SnapshotSource.open(spark, src)
        .accountUpdates(spark))
        .withColumn("pubkey", lower(hex(col("pubkey"))))
        .withColumn("writeVersion", col("writeVersion") * Stride)
      staged(s"$d/base").write.parquet(s"$d/base.parquet")
      staged(s"$d/ins").withColumn("batch", pmod(xxhash64(col("writeVersion")), lit(insBatches)))
        .write.parquet(s"$d/ins.parquet")
    }
    spark.read.parquet(s"$dir/base.parquet").createOrReplaceTempView("base_staged")
    spark.read.parquet(s"$dir/ins.parquet").createOrReplaceTempView("ins_staged")
    /** (batch, key, event) rows of a staged table */
    def evs(table: String, batch: String) =
      spark.table(table).selectExpr(batch, "pubkey", "writeVersion", "lamports", "hash", "owner")
        .collect().toSeq.map { x =>
          x.getLong(0).toInt -> (x.getString(1) -> Ev(x.getLong(2), x.getLong(3),
            Inputs.hex(x.getAs[Array[Byte]](4)), Inputs.hex(x.getAs[Array[Byte]](5)),
            deleted = false))
        }
    baseRows = evs("base_staged", "0L").map(_._2)
    insRows = evs("ins_staged", "batch").groupBy(_._1).map { case (b, rows) => b -> rows.map(_._2) }
    var wv = 0L
    streams = (0 until streamCount).map { j =>
      val path = s"$dir/stream-$j.tar.zst"
      wv = Inputs.archive(path, seed * 1013 + j, streamPerVec, pool, 300L + j, wv)._2
      path
    }
  }

  def prepare(r: Run): Unit = {
    r.spark.sql("DROP TABLE IF EXISTS lake.accounts")
    FileUtils.deleteQuietly(new File(s"${r.warehouse}/accounts"))
    FileUtils.deleteQuietly(new File(s"${r.warehouse}/landing"))
    r.spark.sql(
      """CREATE TABLE lake.accounts (pubkey STRING, slot BIGINT, writeVersion BIGINT,
        |  dataLen BIGINT, owner BINARY, lamports BIGINT, executable BOOLEAN,
        |  rentEpoch BIGINT, hash BINARY, data BINARY, deleted BOOLEAN)
        |TBLPROPERTIES ('keys'='pubkey', 'orders'='writeVersion', 'buckets'='8',
        |  'tombstone'='deleted')""".stripMargin)
    r.spark.sql(s"INSERT INTO lake.accounts SELECT $Cols, false FROM base_staged")
    t = LakeTable.open(r.spark, s"${r.warehouse}/accounts")
    landing = SnapshotReplay.createTable(r.spark, s"${r.warehouse}/landing", numBuckets = 8)
    mv = createMv(r, s"${r.runDir}/mv/accounts", t)
    mv.refresh()
    model.clear()
    upsert(baseRows)
    nextBatch = 0
    nextStream = 0
  }

  def warmupSteps = 1
  def hasStep(i: Int): Boolean = nextBatch + 3 <= insBatches && nextStream < streams.size
  def table: LakeTable = t

  private def upsert(evs: Seq[(String, Ev)]): Unit = evs.foreach { case (k, e) =>
    if (model.get(k).forall(_.wv < e.wv)) model(k) = e
  }
  private def visible(k: String): Option[Ev] = model.get(k).filterNot(_.deleted)

  def step(r: Run, i: Int): Unit = {
    val rnd = new Random(seed * 31 + i)
    val e0 = r.engineSeconds
    def stmt(kind: String, sql: String)(expect: => Unit): Unit =
      if (r.write(t, s"sql.$kind")(r.spark.sql(sql).collect()).isDefined) expect

    // INSERT … SELECT over a plain projection: the no-pin branch
    val b1 = nextBatch; nextBatch += 1
    stmt("insert_select", s"INSERT INTO lake.accounts SELECT $Cols, false FROM ins_staged " +
      s"WHERE batch = $b1")(upsert(insRows.getOrElse(b1, Nil)))

    // INSERT … SELECT over an aggregate: the pinned branch
    val b2 = nextBatch; nextBatch += 1
    stmt("insert_agg", "INSERT INTO lake.accounts SELECT pubkey, max(slot), max(writeVersion), " +
      s"count(1), X'$AggOwner', sum(lamports), false, CAST(0 AS BIGINT), X'', X'', false " +
      s"FROM ins_staged WHERE batch = $b2 GROUP BY pubkey") {
      upsert(insRows.getOrElse(b2, Nil).groupBy(_._1).toSeq.map { case (k, es) =>
        k -> Ev(es.map(_._2.wv).max, es.map(_._2.lamports).sum, "", AggOwner, deleted = false)
      })
    }

    // MERGE INTO with an aggregate source: matched rows add the event
    // count, new keys insert
    val b3 = nextBatch; nextBatch += 1
    val src3 = insRows.getOrElse(b3, Nil).groupBy(_._1).toSeq
      .map { case (k, es) => (k, es.map(_._2.wv).max, es.size.toLong) }
    stmt("merge", "MERGE INTO lake.accounts t USING (SELECT pubkey, max(writeVersion) AS wv, " +
      s"count(1) AS cnt FROM ins_staged WHERE batch = $b3 GROUP BY pubkey) s " +
      "ON t.pubkey = s.pubkey WHEN MATCHED THEN UPDATE SET lamports = t.lamports + s.cnt " +
      "WHEN NOT MATCHED THEN INSERT (pubkey, slot, writeVersion, dataLen, owner, lamports, " +
      s"executable, rentEpoch, hash, data, deleted) VALUES (s.pubkey, 0, s.wv, 0, X'$MergeOwner', " +
      "s.cnt, false, 0, X'', X'', false)") {
      src3.foreach { case (k, wv, cnt) =>
        visible(k) match {
          case Some(e) => model(k) = e.copy(wv = e.wv + 1, lamports = e.lamports + cnt)
          case None => upsert(Seq(k -> Ev(wv, cnt, "", MergeOwner, deleted = false)))
        }
      }
    }

    // UPDATE with a payload predicate (row-level path)
    val m = rnd.nextInt(UpdateMod)
    stmt("update", s"UPDATE lake.accounts SET lamports = lamports + 1 " +
      s"WHERE lamports % $UpdateMod = $m") {
      model.toSeq.foreach { case (k, e) =>
        if (!e.deleted && e.lamports % UpdateMod == m)
          model(k) = e.copy(wv = e.wv + 1, lamports = e.lamports + 1)
      }
    }

    // keyed DELETE of a few live accounts (tombstones)
    val live = Iterator.continually(pk(rnd.nextInt(pool).toLong)).take(200)
      .filter(k => visible(k).isDefined).toSeq.distinct.take(6)
    if (live.nonEmpty)
      stmt("delete", "DELETE FROM lake.accounts WHERE pubkey IN " +
        live.map(k => s"'$k'").mkString("(", ", ", ")")) {
        live.foreach(k => model(k) = model(k).copy(wv = model(k).wv + 1, deleted = true))
      }

    // one archive into the stream landing table
    r.write(landing, "streaming.apply")(
      SnapshotReplay.applySnapshot(r.spark, landing, streams(nextStream)))
    nextStream += 1

    r.refresh(mv, e0)
    // reads: a merged key, a deleted key, arbitrary keys
    val keys = (Seq(src3.headOption.map(_._1), live.headOption).flatten ++
      Seq.fill(40)(pk(rnd.nextInt(pool).toLong))).take(40)
    val before = r.pointReads.size
    keys.foreach(k => r.pointRead(t, k, 0, binaryKey = false))
    r.sqlSelect("accounts", keys.head, 0, binaryKey = false)
    r.pointReads.drop(before).foreach { p =>
      val want = visible(p.key).map(e => (e.wv, e.lamports, e.hash))
      if (p.got != want) {
        wrongReads += 1
        if (firstWrong.isEmpty) firstWrong = s"$p want $want"
      }
    }
    r.scan(t, 8)
  }

  def finish(r: Run): Unit = r.write(t, "maintenance.compact", countAsWrite = false)(t.compact())

  def decodeInputs: Seq[String] = Seq(s"$dir/base", s"$dir/ins")

  def check(r: Run, corrupt: Boolean): Seq[(String, Boolean, String)] = {
    import r.spark.implicits._
    val want = model.toSeq.collect { case (k, e) if !e.deleted =>
      (k, e.wv, e.lamports, Inputs.unhex(e.hash))
    }.toDF("pubkey", "writeVersion", "lamports", "hash")
    Seq(
      digestCheck("final_state", digest(t.read()), digest(want), corrupt),
      digestCheck("landing_state", digest(landing.read()),
        digest(fold(events(r.spark, streams.take(nextStream)))), corrupt = false),
      ("point_reads", wrongReads == 0, s"${r.pointReads.size} reads, $wrongReads wrong $firstWrong"),
      mvCheck(r, mv, t),
      verifyCheck(t))
  }
}

object SqlDml {
  /** one expected account version */
  final case class Ev(wv: Long, lamports: Long, hash: String, owner: String, deleted: Boolean)

  val Cols = "pubkey, slot, writeVersion, dataLen, owner, lamports, executable, rentEpoch, hash, data"
  /** staged write versions are scaled by Stride; inserts start above the base */
  val Stride = 1000L
  val InsWv = 10000000L
  val UpdateMod = 211
  val AggOwner: String = Inputs.hex(SnapshotFixture.pkFromLong(8801L))
  val MergeOwner: String = Inputs.hex(SnapshotFixture.pkFromLong(8802L))
}
