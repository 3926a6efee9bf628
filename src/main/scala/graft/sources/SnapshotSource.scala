package graft.sources

import java.io.{BufferedInputStream, InputStream}

import scala.collection.mutable.ArrayBuffer

import com.github.luben.zstd.ZstdInputStream
import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.etl.binary.{AppendVecCodec, ManifestCodec}
import graft.etl.model.{AccountUpdate, AppendVecRef, SnapshotManifest}

/** A storage file is present on disk but absent from the manifest — the
  * reference errors here (archived.rs:123-125, `UnexpectedAppendVec`) and so
  * do we (fail the batch, not silently drop data). */
final class UnexpectedAppendVecException(msg: String) extends RuntimeException(msg)

/** Snapshot sources (S1-S8, SURVEY.md §2.1): turn a snapshot — an unpacked
  * directory or a `.tar.zst` archive — into a typed `Dataset[AccountUpdate]`.
  *
  * Scale design:
  *  - unpacked dirs parallelize per AppendVec file (one input split each;
  *    the manifest length-join J1 is resolved against a driver-parsed map
  *    shipped with the file refs — the manifest is tiny relative to data);
  *  - archives are NOT splittable (sequential zstd+tar, archived.rs:41-43);
  *    parallelism comes from many archives — `fromArchives` gives one task
  *    per archive;
  *  - decode is a streaming `mapPartitions` binary parser: one record in
  *    memory at a time, no whole-file materialization (vecs may be 16 GiB).
  */
sealed trait SnapshotSource {
  def manifest: SnapshotManifest
  def accountUpdates(spark: SparkSession): Dataset[AccountUpdate]
}

object SnapshotSource {

  /** Source dispatch (S6, main.rs:183-213): http(s) URL → streamed archive,
    * dir → unpacked, file → archive. */
  def open(spark: SparkSession, path: String): SnapshotSource = {
    if (path.startsWith("http://") || path.startsWith("https://"))
      return HttpSnapshotSource(spark, path)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.getFileStatus(p).isDirectory) UnpackedSnapshotSource(spark, path)
    else ArchiveSnapshotSource(spark, path)
  }

  /** `items` as a Dataset of `n` partitions (at least one), sliced on the
    * driver: no exchange whose only work is moving paths. The `coalesce`
    * moves nothing; it declares a single partition as such, so an
    * aggregate over one archive's rows plans no exchange either. */
  private[sources] def spread[T: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](spark: SparkSession,
      items: Seq[T], n: Int): Dataset[T] = {
    val parts = math.max(1, n)
    spark.createDataset(spark.sparkContext.parallelize(items, parts)).coalesce(parts)
  }

  /** Names like `<slot>.<id>` (F1, lib.rs:48-57). */
  private[sources] def parseVecName(name: String): Option[(Long, Long)] = {
    val parts = name.split('.')
    if (parts.length != 2) None
    else
      try Some((java.lang.Long.parseUnsignedLong(parts(0)),
        java.lang.Long.parseUnsignedLong(parts(1))))
      catch { case _: NumberFormatException => None }
  }

  /** `accounts/<slot>.<id>` with exactly two components (F3, archived.rs:157-167). */
  private[sources] def parseArchiveVecPath(entry: String): Option[(Long, Long)] = {
    val parts = entry.split('/').filter(_.nonEmpty)
    if (parts.length == 2 && parts(0) == "accounts") parseVecName(parts(1)) else None
  }

  /** `snapshots/<n>/<n>`, both components equal & numeric (F2, archived.rs:133-155). */
  private[sources] def parseManifestPath(entry: String): Option[Long] = {
    val parts = entry.split('/').filter(_.nonEmpty)
    if (parts.length == 3 && parts(0) == "snapshots" && parts(1) == parts(2))
      try Some(java.lang.Long.parseUnsignedLong(parts(1)))
      catch { case _: NumberFormatException => None }
    else None
  }
}

/** S1/S2: unpacked snapshot directory. */
final case class UnpackedSnapshotSource(spark: SparkSession, root: String) extends SnapshotSource {
  import SnapshotSource._

  private val conf = spark.sparkContext.hadoopConfiguration
  private val rootPath = new Path(root)
  private val fs = rootPath.getFileSystem(conf)

  // status-cache gate (F4, unpacked.rs:30-33)
  require(fs.exists(new Path(rootPath, "snapshots/status_cache")),
    s"no snapshots/status_cache in $root (NoStatusCache)")

  override val manifest: SnapshotManifest = {
    // manifest at snapshots/<slot>/<slot>, first numeric dir (unpacked.rs:36-54)
    val snapDir = new Path(rootPath, "snapshots")
    val slotDir = fs.listStatus(snapDir).filter(_.isDirectory)
      .flatMap(st => scala.util.Try(java.lang.Long.parseUnsignedLong(st.getPath.getName)).toOption
        .map(st.getPath -> _))
      .sortBy(_._2).headOption
      .getOrElse(throw new IllegalStateException(s"no manifest dir under $snapDir (NoSnapshotManifest)"))
    val mPath = new Path(slotDir._1, slotDir._2.toString)
    val in = new BufferedInputStream(fs.open(mPath))
    try ManifestCodec.decode(in) finally in.close()
  }

  /** AppendVec file refs joined against the manifest lengths (J1). A file on
    * disk missing from the manifest fails the load, as in the reference. */
  def appendVecRefs(): Seq[AppendVecRef] = {
    val lengths = manifest.lengthMap
    val acctDir = new Path(rootPath, "accounts")
    fs.listStatus(acctDir).filter(_.isFile).toSeq.flatMap { st =>
      parseVecName(st.getPath.getName).map { case (slot, id) =>
        val len = lengths.getOrElse((slot, id),
          throw new UnexpectedAppendVecException(s"accounts/${st.getPath.getName} not in manifest"))
        AppendVecCodec.validate(st.getLen, len)
        AppendVecRef(st.getPath.toString, slot, id, len)
      } // non-matching names are skipped (F1, unpacked.rs:90-93)
    }
  }

  override def accountUpdates(spark: SparkSession): Dataset[AccountUpdate] = {
    import spark.implicits._
    val refs = appendVecRefs()
    // one split per vec; cap partitions at file count but spread across cores
    val parallelism = math.max(1, math.min(refs.size, spark.sparkContext.defaultParallelism * 2))
    SnapshotSource.spread(spark, refs, parallelism)
      .mapPartitions(UnpackedSnapshotSource.decodePartition _) // static: no class capture
  }
}

object UnpackedSnapshotSource {
  /** Executor-side decode of a partition of vec refs — top-level function so
    * the task closure stays free of driver-side state (FS handles, conf). */
  def decodePartition(it: Iterator[AppendVecRef]): Iterator[AccountUpdate] = {
    val fsConf = new Configuration()
    it.flatMap { ref =>
      val p = new Path(ref.path)
      val stream = new BufferedInputStream(p.getFileSystem(fsConf).open(p), 1 << 16)
      AppendVecCodec.decodeStream(stream, ref.slot, ref.currentLen) ++ closeAfter(stream)
    }
  }

  /** Empty iterator that closes the stream when the decode iterator drains. */
  private def closeAfter(in: InputStream): Iterator[AccountUpdate] = new Iterator[AccountUpdate] {
    override def hasNext: Boolean = { in.close(); false }
    override def next(): AccountUpdate = throw new NoSuchElementException
  }
}

/** S3/S4: `.tar.zst` archive snapshot — sequential stream, one task per
  * archive (the reference has the same constraint, archived.rs:41-43).
  * `manifest` is LAZY: callers that take the one-pass staging route
  * (SnapshotReplay.applySnapshot) never probe the archive driver-side. */
final case class ArchiveSnapshotSource(spark: SparkSession, archivePath: String) extends SnapshotSource {

  override lazy val manifest: SnapshotManifest =
    ArchiveSnapshotSource.readManifest(archivePath, new Configuration())

  override def accountUpdates(spark: SparkSession): Dataset[AccountUpdate] =
    ArchiveSnapshotSource.fromArchives(spark, Seq(archivePath))
}

object ArchiveSnapshotSource {
  import SnapshotSource._

  private[sources] def wrapTarZst(raw: java.io.InputStream): TarArchiveInputStream =
    new TarArchiveInputStream(new BufferedInputStream(
      new ZstdInputStream(new BufferedInputStream(raw, 1 << 16)), 1 << 16))

  private def openTar(path: String, conf: Configuration): TarArchiveInputStream = {
    val p = new Path(path)
    wrapTarZst(p.getFileSystem(conf).open(p))
  }

  /** Scan entries until the manifest; an AppendVec before it is an error
    * (ordering guard, archived.rs:53-56). */
  def readManifest(path: String, conf: Configuration): SnapshotManifest =
    readManifest(openTar(path, conf))

  /** Stream-based manifest scan (caller supplies the raw tar.zst bytes —
    * file or HTTP body); closes the stream. */
  def readManifest(tar: TarArchiveInputStream): SnapshotManifest = {
    try {
      var entry = tar.getNextEntry
      while (entry != null) {
        val name = entry.getName
        if (parseManifestPath(name).isDefined)
          return ManifestCodec.decode(tar)
        if (parseArchiveVecPath(name).isDefined)
          throw new IllegalStateException(s"AppendVec $name precedes manifest (UnexpectedAppendVec)")
        entry = tar.getNextEntry
      }
      throw new IllegalStateException(s"no manifest found (NoSnapshotManifest)")
    } finally tar.close()
  }

  /** Many archives → one sequential decode task each. Full + incremental
    * snapshot archives of a CDC stream are processed this way, parallelism
    * across archives/batches (SURVEY.md §7.5).
    * @param onManifest serializable task-side callback fired when an
    *        archive's manifest entry is decoded mid-stream (e.g. add to an
    *        accumulator) — lets a caller learn the snapshot slot from the
    *        SAME single pass that decodes the rows. */
  def fromArchives(spark: SparkSession, paths: Seq[String],
      onManifest: SnapshotManifest => Unit = _ => ()): Dataset[AccountUpdate] = {
    import spark.implicits._
    SnapshotSource.spread(spark, paths, paths.size)
      .mapPartitions { it =>
        val conf = new Configuration()
        it.flatMap(p => decodeTar(openTar(p, conf), onManifest))
      }
  }

  /** Stream one archive: manifest first, then bounded decode of each
    * AppendVec entry (length from manifest, NOT the tar entry size —
    * trailing bytes ignored, archived.rs:127-130).
    *
    * Fully lazy: `tar.getNextEntry` is only called after the previous vec's
    * record iterator drains (tar then skips any un-read trailing garbage of
    * the entry itself), so memory stays one record at a time even for
    * multi-GiB vecs inside the archive.
    */
  def decodeArchive(path: String, conf: Configuration): Iterator[AccountUpdate] =
    decodeTar(openTar(path, conf))

  /** Same single-pass decode over an already-opened tar stream (HTTP body,
    * test streams). */
  def decodeTar(tar: TarArchiveInputStream,
      onManifest: SnapshotManifest => Unit = _ => ()): Iterator[AccountUpdate] = {
    var manifest: SnapshotManifest = null
    new Iterator[AccountUpdate] {
      private var cur: Iterator[AccountUpdate] = Iterator.empty
      private var closed = false

      private def ensure(): Unit = {
        while (!cur.hasNext && !closed) {
          val entry = tar.getNextEntry
          if (entry == null) { closed = true; tar.close() }
          else {
            val name = entry.getName
            if (parseManifestPath(name).isDefined) {
              manifest = ManifestCodec.decode(tar)
              onManifest(manifest)
            } else parseArchiveVecPath(name) match {
              case Some((slot, id)) =>
                if (manifest == null)
                  throw new IllegalStateException(s"AppendVec $name precedes manifest")
                val len = manifest.lengthMap.getOrElse((slot, id),
                  throw new UnexpectedAppendVecException(s"$name not in manifest"))
                AppendVecCodec.validate(entry.getSize, len)
                cur = AppendVecCodec.decodeStream(tar, slot, len)
              case None => () // directories / status_cache / version files
            }
          }
        }
      }

      override def hasNext: Boolean = { ensure(); cur.hasNext }
      override def next(): AccountUpdate = { ensure(); cur.next() }
    }
  }
}

/** S5: HTTP(S) streaming source (main.rs:188-200,
  * `SupportedLoader::new_download`): the response body streams straight
  * into the sequential tar.zst decode — the archive is never materialized.
  * `manifest` is lazy and UNUSED on the replay path: SnapshotReplay stages
  * rows + captures the manifest in ONE pass, so each URL is fetched with a
  * SINGLE GET (asserted in HttpSnapshotSourceSpec). Like local archives,
  * parallelism comes from many URLs, never within one stream
  * (archived.rs:41-43).
  */
final case class HttpSnapshotSource(spark: SparkSession, url: String) extends SnapshotSource {

  override lazy val manifest: SnapshotManifest =
    ArchiveSnapshotSource.readManifest(
      ArchiveSnapshotSource.wrapTarZst(HttpSnapshotSource.openUrl(url)))

  override def accountUpdates(spark: SparkSession): Dataset[AccountUpdate] =
    HttpSnapshotSource.fromUrls(spark, Seq(url))
}

object HttpSnapshotSource {

  /** Open the response body stream with sane timeouts (connect 30 s; read
    * timeout bounds a stalled peer, not total transfer). */
  def openUrl(url: String): InputStream = {
    val conn = java.net.URI.create(url).toURL.openConnection()
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(120000)
    conn.getInputStream
  }

  /** Many snapshot URLs → one sequential streaming-decode task each.
    * `onManifest` as in [[ArchiveSnapshotSource.fromArchives]]. */
  def fromUrls(spark: SparkSession, urls: Seq[String],
      onManifest: graft.etl.model.SnapshotManifest => Unit = _ => ()): Dataset[AccountUpdate] = {
    import spark.implicits._
    SnapshotSource.spread(spark, urls, urls.size)
      .mapPartitions(_.flatMap { u =>
        ArchiveSnapshotSource.decodeTar(ArchiveSnapshotSource.wrapTarZst(openUrl(u)), onManifest)
      })
  }
}
