package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.etl.binary.AppendVecCodec
import graft.etl.model.AccountUpdate
import graft.sources.{ArchiveSnapshotSource, SnapshotSource}
import graft.tables.LakeTable

/** Full + incremental snapshot replay (north rule: "snapshot archives +
  * incrementals tailed as a change stream"): each snapshot is one upsert
  * batch — batch id = snapshot identity — merged in slot order under the
  * table's exactly-once ledger (§2.9: replaying full-then-incrementals =
  * successive MERGE batches).
  *
  * Resumable by construction: re-running `replayDir` after a crash skips
  * already-applied snapshots — each snapshot advances the table's
  * ("snapshot-replay" → slot) txn watermark, so any slot at or below it is
  * a no-op. The watermark IS the offset log (O(1) metadata regardless of
  * stream length), with per-batch lineage rows for the recent window.
  */
object SnapshotReplay {

  val accountSchema: StructType = StructType.fromDDL(
    "pubkey BINARY, slot BIGINT, writeVersion BIGINT, dataLen BIGINT, " +
      "owner BINARY, lamports BIGINT, executable BOOLEAN, rentEpoch BIGINT, " +
      "hash BINARY, data BINARY")

  val KeyCols: Seq[String] = Seq("pubkey")
  val OrderCols: Seq[String] = Seq("writeVersion", "slot")

  def createTable(spark: SparkSession, root: String, numBuckets: Int = 16): LakeTable =
    LakeTable.createOrOpen(spark, root, accountSchema, KeyCols, OrderCols, numBuckets)

  /** Archives below this size skip the staging parquet and let the merge
    * scan them twice — cheaper than write+re-read for small local files. */
  private final val StagingThresholdBytes = 256L << 20

  /** Size of a LOCAL archive file; None for remote/unstattable paths (those
    * always stage — the one-pass property is about their read cost). */
  private def localArchiveBytes(spark: SparkSession, path: String): Option[Long] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.getScheme == "file") Some(fs.getFileStatus(p).getLen) else None
    } catch { case _: Exception => None }

  def toDF(ds: Dataset[AccountUpdate]): DataFrame = {
    import org.apache.spark.sql.functions.col
    ds.toDF().select(
      col("pubkey"), col("slot"), col("writeVersion"), col("dataLen"),
      col("owner"), col("lamports"), col("executable"), col("rentEpoch"),
      col("hash"), col("data"))
  }

  /** Merge one snapshot (archive file, http(s) URL, or unpacked dir) as one
    * batch.
    *
    * Unpacked dirs merge directly: the manifest is a tiny separate file and
    * the per-vec files re-scan cheaply (merge evaluates its batch twice —
    * stats pass + write pass — both parallel local reads).
    *
    * Stream-once sources (tar.zst archives, URLs) take a ONE-PASS staging
    * route instead: a single sequential read decodes rows into a staging
    * parquet while the manifest is captured via an accumulator from the same
    * stream, then the merge's two batch evaluations hit the cheap local
    * staging files. Each archive is read once; each URL costs exactly one
    * GET (asserted in HttpSnapshotSourceSpec) — at 100 GB archives the
    * second zstd+tar decode (or transfer) is the dominant avoidable cost.
    *
    * Every route passes the merge the manifest's record bound
    * ([[graft.etl.binary.AppendVecCodec.maxRecords]]) as its `rowsHint`, so
    * a small delta plans as a small operation although its decode is an
    * opaque object-producing plan; the staged route takes the bound from
    * the manifest its staging pass captures, with no second read.
    *
    * @param txnApp override for the txn writer id: the default
    *               "snapshot-replay" watermark enforces slot-ordered replay
    *               (replayDir sorts first); the archive-tail stream passes a
    *               per-archive id so out-of-order arrivals still apply —
    *               safe because the LWW merge commutes.
    * @return rows upserted (0 if this snapshot was already applied). */
  def applySnapshot(spark: SparkSession, table: LakeTable, path: String,
      salted: Boolean = false, mor: Boolean = false,
      txnApp: Option[String] = None): Long = {
    val batchId = s"snapshot:${new Path(path).getName}"
    val app = txnApp.getOrElse("snapshot-replay")
    // sweep staging orphans first: a JVM crash mid-staging leaves its dir
    // behind (the finally below never ran), and expire() doesn't scan
    // _staging. LakeTable enforces a single writer, so anything already under
    // _staging when a new apply starts is dead weight by definition.
    val stagingRoot = new java.io.File(s"${table.root}/_staging")
    Option(stagingRoot.listFiles()).foreach(
      _.foreach(org.apache.commons.io.FileUtils.deleteQuietly))
    SnapshotSource.open(spark, path) match {
      case u: graft.sources.UnpackedSnapshotSource =>
        table.merge(toDF(u.accountUpdates(spark)), batchId, salted = salted,
          txn = Some((app, u.manifest.slot)), mor = mor,
          rowsHint = Some(AppendVecCodec.maxRecords(u.manifest)))
      // SMALL LOCAL ARCHIVES take a direct two-scan route: the merge reads
      // the archive twice (stats pass + write pass), which beats the staging
      // detour's write+re-read+extra-decode when the zstd+tar decode is
      // cheap. The threshold keeps the one-pass staging property exactly
      // where it matters — 100 GB archives (decode dominates) and URLs
      // (transfer must happen once; asserted in HttpSnapshotSourceSpec).
      case a: graft.sources.ArchiveSnapshotSource
          if localArchiveBytes(spark, a.archivePath).exists(_ < StagingThresholdBytes) =>
        val conf = spark.sparkContext.hadoopConfiguration
        val manifest = ArchiveSnapshotSource.readManifest(a.archivePath, conf)
        val rows = ArchiveSnapshotSource.fromArchives(spark, Seq(a.archivePath))
        table.merge(toDF(rows), batchId, salted = salted,
          txn = Some((app, manifest.slot)), mor = mor,
          rowsHint = Some(AppendVecCodec.maxRecords(manifest)))
      case streamOnce =>
        // NO filename-keyed pre-check: a path/URL can be refreshed in place
        // with a NEWER snapshot under the same name, and the only
        // authoritative idempotence key is the slot — which a stream-once
        // source cannot know without reading. A re-delivered apply therefore
        // costs one staging pass and then no-ops on the txn watermark inside
        // merge(); correctness over the saved fetch.
        // (slot, record bound) of the manifest, seen by the staging pass
        val acc = spark.sparkContext.collectionAccumulator[(Long, Long)]("graft.manifest")
        val onManifest = (m: graft.etl.model.SnapshotManifest) =>
          acc.add((m.slot, AppendVecCodec.maxRecords(m)))
        val rows = streamOnce match {
          case a: graft.sources.ArchiveSnapshotSource =>
            graft.sources.ArchiveSnapshotSource.fromArchives(spark, Seq(a.archivePath), onManifest)
          case h: graft.sources.HttpSnapshotSource =>
            graft.sources.HttpSnapshotSource.fromUrls(spark, Seq(h.url), onManifest)
        }
        val staging = s"${table.root}/_staging/${new Path(path).getName}-${System.nanoTime()}"
        try {
          toDF(rows).write.mode("overwrite").parquet(staging) // the ONLY source read
          val manifests = acc.value
          require(!manifests.isEmpty, s"no manifest seen while staging $path")
          val (slot, bound) = manifests.get(0)
          val staged = spark.read.schema(accountSchema).parquet(staging)
          table.merge(staged, batchId, salted = salted,
            txn = Some((app, slot)), mor = mor, rowsHint = Some(bound))
        } finally
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
    }
  }

  /** CONTINUOUS archive tailing (north rule: "snapshot archives plus
    * incremental snapshots are tailed as a change stream"): watch an arrival
    * directory under Structured Streaming and merge each discovered
    * `.tar.zst` as its own exactly-once batch.
    *
    * The file source is `binaryFile` with ONLY `path` projected — the
    * format's column pruning means discovery never reads archive bytes; the
    * one-pass staging decode inside [[applySnapshot]] is the single read.
    *
    * Exactly-once/ordering: within a micro-batch archives apply in manifest-
    * slot order; across batches each archive advances its OWN
    * `(snapshot:<name> → slot)` watermark rather than the shared replay
    * watermark — the per-key LWW merge is order-insensitive (max
    * writeVersion commutes), so a late-arriving OLDER incremental still
    * applies instead of being skipped, while a checkpoint-recovery
    * re-delivery of the same archive (same name, same slot) is a no-op.
    * Bookkeeping stays bounded: one txn entry per archive name, and real
    * deployments retire snapshot files far faster than table batches.
    */
  def startArchiveTail(spark: SparkSession, table: LakeTable, arrivalDir: String,
      checkpointDir: String, salted: Boolean = false, mor: Boolean = false,
      maxFilesPerTrigger: Int = 4, availableNow: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.streaming.Trigger
    val conf = spark.sparkContext.hadoopConfiguration
    val discovered = spark.readStream
      .format("binaryFile")
      .option("pathGlobFilter", "*.tar.zst")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"))
      .load(arrivalDir)
      .select("path") // prunes `content`: discovery reads no archive bytes
    discovered.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime("2 seconds"))
      .foreachBatch { (df: DataFrame, _: Long) =>
        val paths = df.collect().map(_.getString(0)).toSeq
        val ordered = paths
          .map(p => (ArchiveSnapshotSource.readManifest(p, conf).slot, p))
          .sortBy(_._1)
        ordered.foreach { case (_, p) =>
          applySnapshot(spark, table, p, salted = salted, mor = mor,
            txnApp = Some(s"snapshot:${new Path(p).getName}"))
        }
        ()
      }
      .start()
  }

  /** One AvailableNow tailing pass to completion (tests / catch-up mode). */
  def runArchiveTailOnce(spark: SparkSession, table: LakeTable, arrivalDir: String,
      checkpointDir: String, salted: Boolean = false, mor: Boolean = false): Unit = {
    val q = startArchiveTail(spark, table, arrivalDir, checkpointDir,
      salted = salted, mor = mor)
    q.awaitTermination()
    if (mor) table.compact()
  }

  /** BOOTSTRAP replay: decode EVERY archive in `dir` in PARALLEL (one input
    * partition per archive) and apply them as ONE LWW merge. Correct because
    * the per-key last-writer-wins fold COMMUTES — `maxBy(writeVersion)` over
    * the union of archives equals the sequential per-archive fold (spec:
    * batched == sequential) — and this is the shape that survives scale: a
    * cold start over a full snapshot plus N incrementals decodes with
    * parallelism N+1 and merges once, instead of N+1 serial decode+merge
    * rounds. Into an EMPTY table this is additionally the one-job path: a
    * single decode pass over every archive, total.
    *
    * Exactly-once here is the DIRECTORY-level watermark (`snapshot-replay` →
    * max manifest slot): re-running the same directory no-ops; a directory
    * refreshed with newer incrementals re-applies as one batch (old rows
    * lose the LWW resolve — cost, never correctness). Use [[replayDir]] /
    * [[startArchiveTail]] when per-archive ledger entries matter (live
    * tailing).
    *
    * The merge's `rowsHint` is the sum of the archives' record bounds
    * ([[graft.etl.binary.AppendVecCodec.maxRecords]]), taken from the
    * manifests already read for the watermark. */
  def replayDirBatched(spark: SparkSession, table: LakeTable, dir: String,
      salted: Boolean = false, mor: Boolean = false): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val archives = fs.listStatus(p).filter(_.isFile)
      .filter(_.getPath.getName.endsWith(".tar.zst"))
      .map(_.getPath.toString).toSeq.sorted
    if (archives.isEmpty) return 0L
    val conf = spark.sparkContext.hadoopConfiguration
    // manifest sniffs in parallel (the watermark needs the max slot up
    // front, the small-op test the summed record bound)
    val (maxSlot, maxRecords) = {
      import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
      import scala.concurrent.duration._
      // bounded + daemon: a thousand-archive bootstrap must not spawn a
      // thousand driver threads, and a hung filesystem must not pin the JVM
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, archives.size),
        (r: Runnable) => { val t = new Thread(r, "replay-manifest-sniff"); t.setDaemon(true); t })
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        val sniffed = Await.result(Future.sequence(archives.map(a => Future {
          val m = ArchiveSnapshotSource.readManifest(a, conf)
          (m.slot, AppendVecCodec.maxRecords(m))
        })), 5.minutes)
        (sniffed.map(_._1).max, sniffed.map(_._2).sum)
      } catch {
        case _: TimeoutException => throw new java.io.IOException(
          s"timed out (5 min) reading manifests of ${archives.size} archives under $dir")
      }
      finally pool.shutdownNow()
    }
    table.merge(toDF(ArchiveSnapshotSource.fromArchives(spark, archives)),
      s"snapshot-dir:$maxSlot:${archives.size}", salted = salted,
      txn = Some(("snapshot-replay", maxSlot)), mor = mor, rowsHint = Some(maxRecords))
  }

  /** Replay every `.tar.zst` archive in `dir`, ordered by manifest slot
    * (full snapshot first, then incrementals). Already-applied archives are
    * skipped via the exactly-once ledger. @return total rows upserted. */
  def replayDir(spark: SparkSession, table: LakeTable, dir: String,
      salted: Boolean = false, mor: Boolean = false): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val archives = fs.listStatus(p).filter(_.isFile)
      .filter(_.getPath.getName.endsWith(".tar.zst"))
      .map(_.getPath.toString).toSeq
    val ordered = archives
      .map(a => (ArchiveSnapshotSource.readManifest(a,
        spark.sparkContext.hadoopConfiguration).slot, a))
      .sortBy(_._1).map(_._2)
    ordered.map(applySnapshot(spark, table, _, salted, mor)).sum
  }
}
