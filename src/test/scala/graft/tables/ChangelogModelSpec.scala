package graft.tables

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.SparkTestBase

/** The changelog against a model: over one window mixing a merge-on-read
  * append, an auto-compaction, a copy-on-write rewrite, a tombstone purge,
  * an added column and equal-ordering ties, `readChangesTyped`,
  * `readChanges` and a change-stream batch each equal the diff of the
  * resolved states at the window's ends (`resolvedAt`, tombstone winners
  * kept), and `read()` equals an in-memory LWW fold of every batch. A tie
  * across a window whose new list keeps an old file follows the new list's
  * order. */
class ChangelogModelSpec extends SparkTestBase {

  import spark.implicits._

  private type Rec = Map[String, Any]
  private val Seeds = Seq(1, 2, 3)

  /** key → winner row (column → value) of a resolved row set */
  private def byKey(df: DataFrame): Map[String, Rec] =
    df.collect().map(r => r.getAs[String]("k") -> r.getValuesMap[Any](r.schema.fieldNames)).toMap

  private def tomb(r: Rec): Boolean = r.get("deleted").contains(true)
  private def live(r: Option[Rec]): Boolean = r.exists(!tomb(_))

  /** multiset of rows, order-insensitive */
  private def bag(rows: Seq[Seq[Any]]): Map[Seq[Any], Int] =
    rows.groupBy(identity).view.mapValues(_.size).toMap

  /** the typed diff of two resolved states over `cols` */
  private def typedModel(o: Map[String, Rec], n: Map[String, Rec],
      cols: Seq[String]): Map[Seq[Any], Int] = {
    def row(t: String, r: Rec) = cols.map(r.getOrElse(_, null)) :+ t
    bag((o.keySet ++ n.keySet).toSeq.flatMap { k =>
      val (or, nr) = (o.get(k), n.get(k))
      val sameTuple = or.isDefined && nr.isDefined && or.get("wv") == nr.get("wv")
      if (live(nr) && (or.isEmpty || tomb(or.get))) Seq(row("insert", nr.get))
      else if (live(or) && live(nr) && !sameTuple)
        Seq(row("update_preimage", or.get), row("update_postimage", nr.get))
      else if (live(or) && (nr.isEmpty || tomb(nr.get))) Seq(row("delete", or.get))
      else Nil
    })
  }

  /** the untyped diff: new winners (tombstones included) whose ordering
    * tuple is new */
  private def untypedModel(o: Map[String, Rec], n: Map[String, Rec],
      cols: Seq[String]): Map[Seq[Any], Int] =
    bag(n.toSeq.collect {
      case (k, nr) if !o.get(k).exists(_("wv") == nr("wv")) => cols.map(nr.getOrElse(_, null))
    })

  private def rows(df: DataFrame): Map[Seq[Any], Int] = bag(df.collect().map(_.toSeq).toSeq)

  private def drainStream(t: LakeTable, from: Long, options: Map[String, String]): Seq[Row] = {
    val out = mutable.ArrayBuffer.empty[Row]
    val q = t.readChangeStream(options ++ Map("startingVersion" -> from.toString,
        "maxVersionsPerBatch" -> "1000"))
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("cdcmodel-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rs = df.collect(); out.synchronized(out ++= rs); ()
      }
      .start()
    q.awaitTermination()
    out.toSeq
  }

  test("a tie between a kept old file and a new file goes to the new file, " +
      "across a rollback window") {
    val t = LakeTable.createOrOpen(spark, Files.createTempDirectory("cdctie").toString,
      StructType.fromDDL("k STRING, wv BIGINT, v STRING"), Seq("k"), Seq("wv"), numBuckets = 1)
    def put(wv: Long, v: String, mor: Boolean) =
      t.merge(Seq(("k", wv, v)).toDF("k", "wv", "v"), s"b-$v", mor = mor)
    put(1L, "a", mor = false)
    val v1 = t.currentVersion()
    put(2L, "b", mor = true)
    val from = t.currentVersion() // [a, b]
    t.rollback(v1) // [a]
    put(1L, "c", mor = true) // [a, c]: c ties with a, and is later
    val to = t.currentVersion()
    assert(t.read().collect().map(_.toSeq).toSeq === Seq(Seq("k", 1L, "c")))
    val (o, n) = (byKey(t.resolvedAt(from)), byKey(t.resolvedAt(to)))
    val cols = Seq("k", "wv", "v")
    assert(rows(t.readChangesTyped(from, to)) === typedModel(o, n, cols))
    assert(rows(t.readChangesTyped(from, to)).keySet.contains(Seq("k", 1L, "c", "update_postimage")))
    assert(rows(t.readChanges(from, to)) === Map(Seq[Any]("k", 1L, "c") -> 1))
  }

  test("typed, untyped and streamed changelogs equal the model diff over a window " +
      "of MOR appends, auto-compaction, a COW rewrite, a purge, a new column and ties") {
    Seeds.foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val t = LakeTable.createOrOpen(spark, Files.createTempDirectory("cdcmodel").toString,
        StructType.fromDDL("k STRING, wv BIGINT, v STRING, deleted BOOLEAN"),
        Seq("k"), Seq("wv"), numBuckets = 4, maxLayers = 2, tombstoneCol = Some("deleted"))
      // the stored winners the table must hold: key → (wv, v, deleted, x)
      val model = mutable.Map.empty[String, (Long, String, Boolean, Option[Long])]
      var step = 0
      def apply(batch: Seq[(String, Long, String, Boolean, Option[Long])], mor: Boolean,
          withX: Boolean): Unit = {
        step += 1
        val df =
          if (withX) batch.map(r => (r._1, r._2, r._3, r._4, r._5)).toDF("k", "wv", "v", "deleted", "x")
          else batch.map(r => (r._1, r._2, r._3, r._4)).toDF("k", "wv", "v", "deleted")
        t.merge(df, s"s$seed-b$step", mor = mor)
        // later batch wins an equal ordering tuple
        batch.foreach { case (k, wv, v, d, x) =>
          if (model.get(k).forall(_._1 <= wv)) model(k) = (wv, v, d, x)
        }
      }
      /** `n` distinct random keys: updates, equal-ordering ties (`ties`),
        * tombstones and inserts */
      def wave(n: Int, ties: Boolean, tombs: Boolean, withX: Boolean)
          : Seq[(String, Long, String, Boolean, Option[Long])] =
        rnd.shuffle((0 until 32).map(i => s"k$i")).take(n).map { k =>
          val cur = model.get(k).map(_._1)
          val x = if (withX) Some(rnd.nextInt(100).toLong) else None
          rnd.nextInt(4) match {
            case 0 if ties && cur.isDefined => (k, cur.get, s"tie$step-$k", false, x)
            case 1 if tombs && cur.isDefined => (k, cur.get + 1, null, true, x)
            case _ => (k, cur.fold(1L)(_ + 1), s"v$step-$k", false, x)
          }
        }

      apply((0 until 24).map(i => (s"k$i", 1L, s"base-k$i", false, None)), mor = false,
        withX = false)
      val from = t.currentVersion()
      apply(wave(12, ties = true, tombs = true, withX = false), mor = true, withX = false)
      apply(wave(12, ties = true, tombs = true, withX = false), mor = true, withX = false)
      val mid = t.currentVersion()
      assert(mid > from + 2, s"seed $seed: the second append must auto-compact")
      // copy-on-write: no ties (which side wins one is route-dependent)
      apply(wave(6, ties = false, tombs = true, withX = false), mor = false, withX = false)
      assert(t.purgeTombstones() > 0, s"seed $seed: nothing to purge")
      model.filterInPlace { case (_, r) => !r._3 }
      apply(wave(8, ties = true, tombs = true, withX = true), mor = true, withX = true)
      apply(wave(8, ties = true, tombs = false, withX = true), mor = true, withX = true)
      val to = t.currentVersion()

      // the fold the table reads equals the model
      val cols = t.schema.fieldNames.toSeq
      assert(cols === Seq("k", "wv", "v", "deleted", "x"))
      val visible = model.collect { case (k, (wv, v, d, x)) if !d =>
        Seq[Any](k, wv, v, d, x.map(Long.box).orNull)
      }.toSeq
      assert(rows(t.read()) === bag(visible), s"seed $seed")

      Seq((from, to), (from, mid), (mid, to)).foreach { case (a, b) =>
        val (o, n) = (byKey(t.resolvedAt(a)), byKey(t.resolvedAt(b)))
        // the window end's schema
        val cs = t.resolvedAt(b).columns.toSeq
        assert(rows(t.readChangesTyped(a, b)) === typedModel(o, n, cs),
          s"seed $seed typed [$a, $b]")
        assert(rows(t.readChanges(a, b, allowPurgedWindow = true)) === untypedModel(o, n, cs),
          s"seed $seed untyped [$a, $b]")
      }
      val (o, n) = (byKey(t.resolvedAt(from)), byKey(t.resolvedAt(to)))
      assert(bag(drainStream(t, from, Map("typed" -> "true")).map(_.toSeq)) ===
        typedModel(o, n, cols), s"seed $seed typed stream")
      assert(bag(drainStream(t, from, Map("allowPurgedWindow" -> "true")).map(_.toSeq)) ===
        untypedModel(o, n, cols), s"seed $seed stream")
    }
  }
}
