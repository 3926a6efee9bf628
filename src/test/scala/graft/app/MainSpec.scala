package graft.app

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import graft.sources.SnapshotFixture

/** CLI smoke: every sink mode end-to-end over a fixture snapshot
  * (main.rs:25-122 surface; one sink per run). Main.getOrCreate reuses the
  * test session, so these run in-process. */
class MainSpec extends SparkTestBase {

  private lazy val snapshotDir: String = {
    val fx = SnapshotFixture.generate(SnapshotFixture.Spec(seed = 21L))
    val dir = Files.createTempDirectory("cli-snap").toString
    SnapshotFixture.writeUnpacked(fx, dir)
    dir
  }

  private def out(name: String): String =
    Files.createTempDirectory(s"cli-$name").toString

  test("--table-out loads the keyed-upsert table (K1)") {
    val dir = out("table")
    Main.main(Array(snapshotDir, "--table-out", dir, "--buckets", "4"))
    val t = graft.tables.LakeTable.open(spark, dir)
    assert(t.read().count() > 0)
    assert(t.snapshot().txns.contains("snapshot-replay"))
  }

  test("Main detaches its progress listener: a job run after it returns " +
      "prints no [graft-progress] line") {
    val dir = out("csv-progress")
    Main.main(Array(snapshotDir, "--csv-out", dir))
    drainListenerBus() // reports of Main's own jobs land before the capture
    val err = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    try {
      // reads input records: a leaked listener reports this stage
      assert(spark.read.option("header", "true").csv(dir).count() > 0)
      drainListenerBus()
    } finally System.setErr(old)
    val printed = err.toString("UTF-8")
    assert(!printed.contains("[graft-progress]"), printed)
  }

  test("--csv-out writes the 4-column base58 projection (K2, csv.rs:14-20)") {
    val dir = out("csv")
    Main.main(Array(snapshotDir, "--csv-out", dir))
    val csv = spark.read.option("header", "true").csv(dir)
    assert(csv.columns.toSeq === Seq("pubkey", "owner", "data_len", "lamports"))
    assert(csv.count() > 0)
  }

  test("--programs-tar then --opcode-stats-out composes like the reference pair") {
    val tarDir = out("ptar")
    val tar = s"$tarDir/programs.tar"
    Main.main(Array(snapshotDir, "--programs-tar", tar))
    assert(Files.size(Paths.get(tar)) > 0)
    val statsDir = out("stats")
    Main.main(Array(tar, "--opcode-stats-out", statsDir))
    val csv = spark.read.option("header", "true").csv(statsDir)
    assert(csv.columns.toSeq === Seq("opcode", "mnemonic", "num_programs", "num_insns"))
    assert(csv.count() > 0)
  }

  test("--table-out --mor ingests merge-on-read and compacts to the same state") {
    val cow = out("tbl-cow"); val mor = out("tbl-mor")
    Main.main(Array(snapshotDir, "--table-out", cow, "--buckets", "4"))
    Main.main(Array(snapshotDir, "--table-out", mor, "--buckets", "4", "--mor"))
    val a = graft.tables.LakeTable.open(spark, cow).read()
      .selectExpr("hex(pubkey)", "writeVersion", "slot").collect().map(_.toSeq).toSet
    val b = graft.tables.LakeTable.open(spark, mor).read()
      .selectExpr("hex(pubkey)", "writeVersion", "slot").collect().map(_.toSeq).toSet
    assert(a === b)
    assert(graft.tables.LakeTable.open(spark, mor).snapshot().morBuckets.isEmpty)
  }

  test("--csv-out - streams to stdout; a closed pipe exits silently " +
      "(csv.rs:32, 55-56)") {
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.out
    System.setOut(new java.io.PrintStream(buf, true, "UTF-8"))
    try Main.main(Array(snapshotDir, "--csv-out", "-"))
    finally System.setOut(old)
    val lines = buf.toString("UTF-8").split("\n").toSeq
    assert(lines.head === "pubkey,owner,data_len,lamports")
    // same rows as the directory sink (duplicates preserved, no dedup)
    val dir = out("csvcmp")
    Main.main(Array(snapshotDir, "--csv-out", dir))
    val expected = spark.read.option("header", "true").csv(dir).count()
    assert(lines.size.toLong - 1 === expected)

    // EPIPE analog: a PrintStream in error state stops the dump silently
    // (no exception, no exit code) after at most one more row
    val broken = new java.io.PrintStream(new java.io.OutputStream {
      var n = 0
      override def write(b: Int): Unit = { n += 1; if (n > 40) throw new java.io.IOException("EPIPE") }
    }, true, "UTF-8")
    System.setOut(broken)
    try Main.main(Array(snapshotDir, "--csv-out", "-"))
    finally System.setOut(old)
  }

  test("programs-tar on stdout pipes into opcode-stats on stdin " +
      "(≙ the reference's two-binary pipe, solana-opcode-stats/main.rs:30)") {
    // stage 1: --programs-tar - (tar bytes to stdout)
    val tarBuf = new java.io.ByteArrayOutputStream()
    val oldOut = System.out
    System.setOut(new java.io.PrintStream(tarBuf, true, "UTF-8"))
    try Main.main(Array(snapshotDir, "--programs-tar", "-"))
    finally System.setOut(oldOut)
    assert(tarBuf.size() > 0)
    // stage 2: --opcode-stats-out with source "-" (tar on stdin)
    val oldIn = System.in
    System.setIn(new java.io.ByteArrayInputStream(tarBuf.toByteArray))
    val statsDir = out("stats-stdin")
    try Main.main(Array("-", "--opcode-stats-out", statsDir))
    finally System.setIn(oldIn)
    val piped = spark.read.option("header", "true").csv(statsDir)
      .collect().map(_.toSeq).toSet
    // identical to the direct (snapshot-scan) histogram
    val directDir = out("stats-direct")
    Main.main(Array(snapshotDir, "--opcode-stats-out", directDir))
    val direct = spark.read.option("header", "true").csv(directDir)
      .collect().map(_.toSeq).toSet
    assert(piped === direct)
  }

  test("--replay-table applies full + incrementals in slot order") {
    val work = Files.createTempDirectory("cli-replay").toString
    val (fixtures, expected) = SnapshotFixture.generateStream(seed = 9L, increments = 1)
    fixtures.foreach(fx =>
      SnapshotFixture.writeArchive(fx, s"$work/snap-${fx.manifest.slot}.tar.zst"))
    val dir = out("replaytbl")
    Main.main(Array(work, "--replay-table", dir, "--buckets", "4"))
    val t = graft.tables.LakeTable.open(spark, dir)
    assert(t.read().count() === expected.size.toLong)
  }
}
