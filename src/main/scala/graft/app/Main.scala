package graft.app

import org.apache.spark.sql.SparkSession

import graft.operators.{Enrich, OpcodeStats, Programs}
import graft.streaming.SnapshotReplay

/** spark-submit entry point mirroring the reference CLI
  * (/root/reference/src/bin/solana-snapshot-etl/main.rs:25-47): one snapshot
  * source, exactly ONE sink mode per run (ArgGroup semantics, main.rs:27-31).
  *
  * Usage:
  *   graft.app.Main <snapshot-path-or-dir> --table-out DIR [--buckets N]
  *   graft.app.Main <snapshot>             --csv-out DIR
  *   graft.app.Main <snapshot>             --programs-out DIR
  *   graft.app.Main <programs-dir-table>   --opcode-stats-out DIR
  *   graft.app.Main <replay-dir>           --replay-table DIR   (full+incs)
  *
  * Source dispatch (http(s) URL vs dir vs .tar.zst archive) follows
  * main.rs:183-213; HTTP bodies stream straight into the archive decoder
  * (tested against a localhost server — the sandbox has no egress).
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.length < 3) { System.err.println(usage); sys.exit(2) }
    val source = args(0)
    val mode = args(1)
    val out = args(2)
    val buckets = args.drop(3).sliding(2).collectFirst {
      case Array("--buckets", n) => n.toInt
    }.getOrElse(64)
    // --mor: merge-on-read ingest (layer appends + final compaction) for the
    // table-loading modes — write cost ∝ batch instead of ∝ touched buckets
    val mor = args.drop(3).contains("--mor")

    // embedded callers (tests, notebooks) keep their session; only a
    // session this CLI itself created is stopped on exit
    val preExisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = SparkSession.builder()
      .appName("graft-etl")
      // spark-submit injects spark.master as a system property; standalone
      // runs (tests, runMain) fall back to local
      .master(sys.props.getOrElse("spark.master", s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // S9: read-progress reporting (≙ ReadProgressTracking, lib.rs:92-107)
    val progress = graft.streaming.Progress.attach(spark)

    try mode match {
      case "--table-out" => // flagship: K1 keyed-upsert table (≙ --sqlite-out)
        val table = SnapshotReplay.createTable(spark, out, buckets)
        val n = SnapshotReplay.applySnapshot(spark, table, source, mor = mor)
        if (mor) table.compact()
        System.err.println(s"[graft] $n upserts -> $out (version ${table.currentVersion()})")
      case "--replay-table" => // full + incrementals CDC replay
        val table = SnapshotReplay.createTable(spark, out, buckets)
        val n = SnapshotReplay.replayDir(spark, table, source, mor = mor)
        if (mor) table.compact()
        System.err.println(s"[graft] replayed $n upserts -> $out")
      case "--csv-out" if out == "-" => // K2 stdout form: stream rows to the
        // pipe like csv.rs:32; a closed pipe (EPIPE) stops the dump with no
        // error MESSAGE and exit code 1, exactly csv.rs:55-56
        // (std::process::exit(1) — silent in output, nonzero in status).
        // Embedded callers (tests reuse the session) are not exited.
        val accounts = graft.sources.SnapshotSource.open(spark, source).accountUpdates(spark)
        val pipeClosed = csvToStdout(Enrich.csvProjection(SnapshotReplay.toDF(accounts)))
        if (pipeClosed && preExisting.isEmpty) { spark.stop(); sys.exit(1) }
      case "--csv-out" => // K2: duplicates preserved, base58 keys (csv.rs)
        val accounts = graft.sources.SnapshotSource.open(spark, source).accountUpdates(spark)
        Enrich.csvProjection(SnapshotReplay.toDF(accounts))
          .write.option("header", "true").mode("overwrite").csv(out)
      case "--programs-out" => // K4: one <base58>.so per program (programs.rs)
        val accounts = graft.sources.SnapshotSource.open(spark, source).accountUpdates(spark)
        Programs.writeProgramsDir(Programs.programs(SnapshotReplay.toDF(accounts)), out)
      case "--programs-tar" => // K4 tar form: ustar of <base58>.so, mode 0644;
        // out == "-" streams the tar to stdout (programs.rs:12-30), ready to
        // pipe into --opcode-stats-out - (≙ the reference's two-binary pipe)
        val accounts = graft.sources.SnapshotSource.open(spark, source).accountUpdates(spark)
        val progs = Programs.programs(SnapshotReplay.toDF(accounts))
        if (out == "-") { Programs.writeProgramsTar(progs, System.out); System.out.flush() }
        else Programs.writeProgramsTar(progs, out)
      case "--geyser" => // K3: plugin push (geyser_plugin.rs:25-60); out = config json
        val handler = graft.streaming.GeyserPluginLoader.load(out)
        val accounts = graft.sources.SnapshotSource.open(spark, source).accountUpdates(spark)
        graft.streaming.PushSink.push(accounts, handler, isStartup = false)
      case "--opcode-stats-out" => // solana-opcode-stats main; source is a
        // programs tar (the reference pipes --programs-out into its stdin,
        // solana-opcode-stats/main.rs:30-53), "-" for a tar ON STDIN (the
        // reference's actual input mode), or a snapshot to scan directly
        val programs =
          if (source == "-") Programs.readProgramsTar(spark, Seq(spoolStdinTar()))
          else if (source.endsWith(".tar")) Programs.readProgramsTar(spark, Seq(source))
          else Programs.programs(SnapshotReplay.toDF(
            graft.sources.SnapshotSource.open(spark, source).accountUpdates(spark)))
        OpcodeStats.histogram(programs)
          .coalesce(1).write.option("header", "true").mode("overwrite").csv(out)
      case other =>
        System.err.println(s"unknown sink mode $other\n$usage"); sys.exit(2)
    } finally {
      // the listener must not outlive the run on a caller's session
      spark.sparkContext.removeSparkListener(progress)
      if (preExisting.isEmpty) spark.stop()
    }
  }

  /** Stream the 4-column CSV to stdout, one partition in memory at a time
    * (toLocalIterator ≙ the reference's single-threaded stdout writer,
    * csv.rs:22-62). PrintStream swallows EPIPE into checkError(), so a
    * closed pipe stops the dump without an exception; the caller turns that
    * into exit code 1 for real CLI runs (csv.rs:55-56).
    * @return true iff the dump stopped on a broken pipe */
  private[app] def csvToStdout(csv: org.apache.spark.sql.DataFrame): Boolean = {
    val ps = System.out
    ps.println("pubkey,owner,data_len,lamports")
    val it = csv.toLocalIterator()
    while (it.hasNext && !ps.checkError()) {
      val r = it.next()
      ps.println(s"${r.getString(0)},${r.getString(1)},${r.getLong(2)},${r.getLong(3)}")
    }
    ps.flush()
    ps.checkError()
  }

  /** Spool a tar arriving on stdin to a temp file so the (splittable-less)
    * tar still decodes in an executor task, not on the driver. */
  private def spoolStdinTar(): String = {
    val tmp = java.nio.file.Files.createTempFile("graft-stdin", ".tar")
    java.nio.file.Files.copy(System.in, tmp,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    tmp.toFile.deleteOnExit()
    tmp.toString
  }

  private val usage: String =
    """usage: graft.app.Main <snapshot|dir|programs.tar> <sink-mode> <out> [--buckets N] [--mor]
      |  sink-mode: --table-out | --replay-table | --csv-out | --programs-out
      |           | --programs-tar | --opcode-stats-out | --geyser
      |  exactly one sink mode per run (reference main.rs:27-31);
      |  --csv-out - streams CSV to stdout (EPIPE: no message, exit 1, csv.rs:55-56);
      |  --programs-tar - streams the tar to stdout; source "-" with
      |  --opcode-stats-out reads a programs tar from stdin — together the
      |  reference's programs-tar | opcode-stats pipe""".stripMargin
}
