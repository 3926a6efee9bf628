package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils

import graft.etl.model.AccountUpdate
import graft.sources.SnapshotFixture
import graft.sources.SnapshotFixture.Spec

/** Seeded benchmark inputs. Every input is a pure function of the workload,
  * the seed and the size, so generated files are cached under a key of
  * (fixture format version, workload, seed, size) and a re-run with the same
  * key only checks the marker. */
object Inputs {

  def hex(b: Array[Byte]): String = {
    val sb = new StringBuilder(b.length * 2)
    b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    sb.toString
  }

  def unhex(s: String): Array[Byte] =
    s.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray

  /** The cache directory for `key`, built by `build` unless its DONE marker
    * exists. Keeps the 12 most recently used inputs of the same workload and
    * deletes older ones, so runs over many seeds do not fill the disk. */
  def cached(cacheRoot: String, key: String)(build: String => Unit): String = {
    val dir = Paths.get(cacheRoot, key)
    val done = dir.resolve("DONE")
    if (!Files.exists(done)) {
      FileUtils.deleteQuietly(dir.toFile)
      Files.createDirectories(dir)
      build(dir.toString)
      Files.write(done, Array.emptyByteArray)
    }
    Files.setLastModifiedTime(done, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    val others = Option(new File(cacheRoot).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName != key && sameWorkload(f.getName, key))
      .sortBy(f => -new File(f, "DONE").lastModified())
    others.drop(11).foreach(FileUtils.deleteQuietly)
    dir.toString
  }

  /** Bump when this harness changes what it writes into an input cache. */
  val LayoutVersion = "l2"

  def cacheKey(workload: String, seed: Long, size: String): String =
    s"${SnapshotFixture.FormatVersion}-$LayoutVersion-$workload-s$seed-$size"

  private def sameWorkload(a: String, b: String): Boolean = {
    def workloadOf(k: String) = k.replaceAll("-s\\d+-[^-]*$", "")
    workloadOf(a) == workloadOf(b)
  }

  /** Writes an unpacked snapshot of `slots × vecs × perVec` events with keys
    * drawn from `pool`; returns (events, last write version). */
  def unpacked(dir: String, seed: Long, slots: Int, vecs: Int, perVec: Int, pool: Int,
      baseSlot: Long, isDelta: Boolean, startWv: Long): (Long, Long) =
    SnapshotFixture.writeLargeUnpacked(dir, Spec(seed = seed, slots = slots, vecsPerSlot = vecs,
      accountsPerVec = perVec, pubkeyPool = pool, baseSlot = baseSlot, isDelta = isDelta), startWv)

  /** A small incremental `.tar.zst` archive. The records are regenerated in
    * memory (cheap at this size) so callers can pick keys it touches; the
    * file is written only when missing. */
  def archive(path: String, seed: Long, perVec: Int, pool: Int, slot: Long,
      startWv: Long): (SnapshotFixture.Fixture, Long) = {
    val fx = SnapshotFixture.generate(Spec(seed = seed, slots = 1, vecsPerSlot = 2,
      accountsPerVec = perVec, pubkeyPool = pool, baseSlot = slot, isDelta = true), startWv)
    if (!Files.exists(Paths.get(path))) {
      val tmp = path + ".tmp"
      SnapshotFixture.writeArchive(fx, tmp)
      Files.move(Paths.get(tmp), Paths.get(path))
    }
    (fx, fx.manifest.writeVersion)
  }

  def bytesUnder(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else if (Files.isRegularFile(p)) Files.size(p)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def keyOf(a: AccountUpdate): String = hex(a.pubkey)
}
