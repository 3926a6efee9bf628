package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Dataset

import graft.SparkTestBase

/** Path lists reach their decode tasks without a shuffle: the sources
  * slice them on the driver, one partition per archive, and a single
  * archive's rows are declared one partition, so even a global aggregate
  * over them plans no exchange. */
class SnapshotSpreadSpec extends SparkTestBase {

  private def plan(ds: Dataset[_]): String = ds.queryExecution.executedPlan.toString

  test("archive, URL and unpacked sources plan no path shuffle") {
    val dir = Files.createTempDirectory("snap-spread").toString
    val fx = SnapshotFixture.generate(SnapshotFixture.Spec(seed = 21L))
    val (a, b) = (s"$dir/a.tar.zst", s"$dir/b.tar.zst")
    SnapshotFixture.writeArchive(fx, a)
    SnapshotFixture.writeArchive(fx, b)

    val one = ArchiveSnapshotSource.fromArchives(spark, Seq(a))
    val total = one.groupBy().count()
    assert(!plan(total).contains("Exchange"), plan(total))
    assert(total.collect().head.getLong(0) === fx.allRecords.size.toLong)

    val two = ArchiveSnapshotSource.fromArchives(spark, Seq(a, b))
    assert(!plan(two).contains("Exchange"), plan(two))
    assert(two.rdd.getNumPartitions === 2 && two.count() === 2L * fx.allRecords.size)

    val urls = HttpSnapshotSource.fromUrls(spark, Seq("http://127.0.0.1:9/a", "http://127.0.0.1:9/b"))
    assert(!plan(urls).contains("Exchange"), plan(urls))

    val unpacked = s"$dir/unpacked"
    SnapshotFixture.writeUnpacked(fx, unpacked)
    val vecs = UnpackedSnapshotSource(spark, unpacked).accountUpdates(spark)
    assert(!plan(vecs).contains("Exchange"), plan(vecs))
    assert(vecs.count() === fx.allRecords.size.toLong)
  }
}
