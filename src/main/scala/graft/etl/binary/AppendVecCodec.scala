package graft.etl.binary

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import graft.etl.model.{AccountUpdate, SnapshotManifest}

/** AppendVec binary record codec.
  *
  * Byte-level spec: FIXTURES.md §1, derived from the reference's record scan
  * (/root/reference/src/append_vec.rs:251-268) — little-endian, every section
  * aligned up to the next 8-byte boundary (append_vec.rs:39-44), record
  * header 136 B, `stored_size = align8(136 + data_len)`.
  *
  * | offset | field         | type          | section (append_vec.rs)   |
  * |--------|---------------|---------------|---------------------------|
  * | 0      | write_version | u64           | StoredMeta (:53-60)       |
  * | 8      | data_len      | u64           | StoredMeta                |
  * | 16     | pubkey        | [u8;32]       | StoredMeta                |
  * | 48     | lamports      | u64           | AccountMeta (:64-74)      |
  * | 56     | rent_epoch    | u64           | AccountMeta               |
  * | 64     | owner         | [u8;32]       | AccountMeta               |
  * | 96     | executable    | u8 (+7 pad)   | AccountMeta               |
  * | 104    | hash          | [u8;32]       | Hash (:254)               |
  * | 136    | data          | data_len (+pad to 8) | (:255)             |
  *
  * The structs are `repr(Rust)` (no `repr(C)` in append_vec.rs:53-74), and
  * rustc's default layout orders fields by DESCENDING ALIGNMENT, not
  * declaration order: within StoredMeta the two u64s (write_version,
  * data_len) precede the align-1 `pubkey` array, and within AccountMeta the
  * u64s (lamports, rent_epoch) precede `owner` and `executable`. Later
  * solana-accounts-db versions freeze exactly this layout with `repr(C)` by
  * declaring `{write_version, data_len, pubkey}` / `{lamports, rent_epoch,
  * owner, executable}`, and third-party parsers of real snapshots
  * (e.g. Firedancer's fd_solana_account_hdr) read the same offsets.
  * AppendVecCodecSpec pins these absolute offsets against hand-authored
  * bytes so encoder/decoder co-drift cannot pass the round-trip tests.
  *
  * The scan stops at the first offset where a full record no longer fits
  * inside `currentLen` (append_vec.rs:221-224, lib.rs:61-70); `currentLen`
  * comes from the manifest, NOT the file size — trailing bytes are garbage
  * and must be ignored (archived.rs:127-130).
  */
object AppendVecCodec {

  final val HeaderSize = 136

  /** Upper bound on the records a snapshot decodes, known before any vec
    * is read: every record takes at least [[HeaderSize]] bytes inside its
    * vec's `currentLen`, and both decoders read only vecs the manifest
    * lists, only within `currentLen`. */
  def maxRecords(manifest: SnapshotManifest): Long =
    manifest.entries.map(_.currentLen / HeaderSize).sum

  /** 16 GiB AppendVec size guard (append_vec.rs:46). */
  final val MaxAppendVecSize: Long = 16L * 1024 * 1024 * 1024

  @inline def align8(n: Long): Long = (n + 7L) & ~7L
  @inline def align8(n: Int): Int = (n + 7) & ~7

  /** Validate file-level invariants (append_vec.rs:138-160). */
  def validate(fileSize: Long, currentLen: Long): Unit = {
    require(fileSize > 0, s"AppendVec file is empty")
    require(fileSize <= MaxAppendVecSize, s"AppendVec too large: $fileSize")
    require(currentLen <= fileSize,
      s"manifest current_len $currentLen exceeds file size $fileSize")
  }

  /** Single-pass decode of all full records within `currentLen` from a byte
    * array (test/fixture convenience — streams through `decodeStream`). */
  def decode(bytes: Array[Byte], slot: Long, currentLen: Long): Iterator[AccountUpdate] = {
    validate(bytes.length.toLong, currentLen)
    decodeStream(new java.io.ByteArrayInputStream(bytes), slot, currentLen)
  }

  /** Sequential streaming decode of all full records within `currentLen`.
    *
    * Lazy iterator for use inside `mapPartitions`: rows stream out one at a
    * time; memory is one record (header + payload) at a time, never the whole
    * vec — AppendVecs can reach 16 GiB (append_vec.rs:46), past JVM array
    * limits. The stream is consumed up to (at most) `currentLen` bytes;
    * trailing bytes are NOT read (archives hand us a shared stream).
    */
  def decodeStream(in: java.io.InputStream, slot: Long, currentLen: Long): Iterator[AccountUpdate] =
    new Iterator[AccountUpdate] {
      private var offset = 0L
      private var nextRec: AccountUpdate = _
      private var done = false
      private val header = new Array[Byte](HeaderSize)
      private val hbuf = ByteBuffer.wrap(header).order(ByteOrder.LITTLE_ENDIAN)

      private def readFully(dst: Array[Byte], len: Int): Boolean = {
        var off = 0
        while (off < len) {
          val r = in.read(dst, off, len - off)
          if (r < 0) return false
          off += r
        }
        true
      }

      private def skipFully(n: Long): Boolean = {
        var left = n
        while (left > 0) {
          val s = in.skip(left)
          if (s > 0) left -= s
          else if (in.read() < 0) return false // skip() can return 0; probe
          else left -= 1
        }
        true
      }

      private def tryAdvance(): Unit = {
        if (done) return
        if (offset + HeaderSize > currentLen) { done = true; return }
        if (!readFully(header, HeaderSize)) { done = true; return }
        val dataLen = hbuf.getLong(8)
        if (dataLen < 0 || offset + HeaderSize + dataLen > currentLen) { done = true; return }
        // a record that FITS currentLen but exceeds the JVM array limit is a
        // hard error, not a silent stream desync (reads would short-count
        // while offset advanced by the full length)
        if (dataLen > Int.MaxValue.toLong - HeaderSize)
          throw new IllegalStateException(
            s"record data_len $dataLen at offset $offset exceeds JVM array limit")
        val data = new Array[Byte](dataLen.toInt)
        if (!readFully(data, data.length)) { done = true; return }
        val pad = align8(HeaderSize + dataLen) - (HeaderSize + dataLen)
        // record padding is only present if it fits within currentLen; a
        // stream ending inside the final padding still yields this record
        // (the next advance hits EOF and stops cleanly).
        val padAvail = math.min(pad, currentLen - (offset + HeaderSize + dataLen))
        skipFully(padAvail)
        nextRec = AccountUpdate(
          pubkey = java.util.Arrays.copyOfRange(header, 16, 48),
          slot = slot,
          writeVersion = hbuf.getLong(0),
          dataLen = dataLen,
          owner = java.util.Arrays.copyOfRange(header, 64, 96),
          lamports = hbuf.getLong(48),
          executable = header(96) != 0,
          rentEpoch = hbuf.getLong(56),
          hash = java.util.Arrays.copyOfRange(header, 104, 136),
          data = data)
        offset += HeaderSize + dataLen + padAvail
      }

      tryAdvance()
      override def hasNext: Boolean = !done
      override def next(): AccountUpdate = {
        val r = nextRec; tryAdvance(); r
      }
    }

  /** Encode records into AppendVec bytes (fixture generator — the reference
    * ships no fixtures, SURVEY.md §5). `trailingGarbage` bytes are appended
    * past the returned currentLen to exercise the ignore-tail rule.
    * Returns (bytes, currentLen). */
  def encode(records: Seq[AccountUpdate], trailingGarbage: Int = 0): (Array[Byte], Long) = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    records.foreach { r =>
      val rec = ByteBuffer.allocate(align8(HeaderSize + r.data.length))
        .order(ByteOrder.LITTLE_ENDIAN)
      rec.putLong(0, r.writeVersion)
      rec.putLong(8, r.data.length.toLong)
      putBytes(rec, 16, r.pubkey, 32)
      rec.putLong(48, r.lamports)
      rec.putLong(56, r.rentEpoch)
      putBytes(rec, 64, r.owner, 32)
      rec.put(96, if (r.executable) 1.toByte else 0.toByte)
      putBytes(rec, 104, r.hash, 32)
      putBytes(rec, 136, r.data, r.data.length)
      out.write(rec.array())
    }
    val currentLen = bos.size().toLong
    var i = 0
    while (i < trailingGarbage) { out.writeByte(0x5a); i += 1 }
    out.flush()
    (bos.toByteArray, currentLen)
  }

  private def putBytes(buf: ByteBuffer, pos: Int, src: Array[Byte], len: Int): Unit = {
    require(src.length == len, s"expected $len bytes, got ${src.length}")
    var i = 0
    while (i < len) { buf.put(pos + i, src(i)); i += 1 }
  }
}
