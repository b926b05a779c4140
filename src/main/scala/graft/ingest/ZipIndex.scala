package graft.ingest

import java.io.InputStream
import java.util.zip.{Inflater, InflaterInputStream}

import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}

/** Random-access zip reader over any Hadoop filesystem (file://, hdfs://,
  * s3a:// — all expose seekable streams / ranged reads).
  *
  * A `ZipInputStream` can only reach entry k by streaming-and-discarding
  * entries 0..k−1, so an N-partition ingest of one archive reads the
  * archive ~N times. The zip format's own index — the central
  * directory at the end of the file — gives every entry's byte offset;
  * parsing it once (driver side, one tail read + one directory read) and
  * SEEKING to each entry inside tasks makes total I/O O(archive size)
  * regardless of partition count. This matches the reference's execution
  * shape: Python's `ZipFile` over a seekable S3 stream also resolves
  * entries through the central directory (raw_textreuses.py:60-66).
  *
  * Zip64 is handled (archives > 4 GiB, > 65535 entries, and per-entry
  * 64-bit sizes/offsets via the 0x0001 extra field) — at training-corpus
  * scale most real archives are zip64. Unsupported compression methods
  * fail loudly with the entry name.
  */
object ZipIndex {

  /** One central-directory row: everything a task needs to read the
    * entry without touching any other byte of the archive.
    */
  final case class Entry(name: String, method: Int, compressedSize: Long,
      uncompressedSize: Long, headerOffset: Long) extends Serializable

  private val EocdSig = 0x06054b50L
  private val Eocd64LocatorSig = 0x07064b50L
  private val Eocd64Sig = 0x06064b50L
  private val CentralSig = 0x02014b50L
  private val LocalSig = 0x04034b50L

  private def u16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24)
  private def u64(b: Array[Byte], i: Int): Long =
    u32(b, i) | (u32(b, i + 4) << 32)

  private def readFully(in: FSDataInputStream, pos: Long, len: Int): Array[Byte] = {
    val buf = new Array[Byte](len)
    in.readFully(pos, buf, 0, len)
    buf
  }

  /** Parse the central directory (driver side; metadata only — one
    * bounded tail read to find the end-of-central-directory record, one
    * read of the directory itself).
    */
  def entries(fs: FileSystem, path: Path): Seq[Entry] = {
    val len = fs.getFileStatus(path).getLen
    val in = fs.open(path)
    try {
      // EOCD = 22 bytes + up to 65535 bytes of archive comment
      val tailLen = math.min(len, 22L + 65535L + 20L).toInt
      val tailPos = len - tailLen
      val tail = readFully(in, tailPos, tailLen)
      // backward scan for the EOCD signature, validating that the
      // record's comment-length field reaches exactly EOF — signature
      // bytes embedded in an archive comment (zip-in-zip notes, crafted
      // input) would otherwise be misparsed as the record
      var eocd = -1
      var i = tailLen - 22
      while (i >= 0 && eocd < 0) {
        if (u32(tail, i) == EocdSig && i + 22 + u16(tail, i + 20) == tailLen) eocd = i
        else i -= 1
      }
      require(eocd >= 0, s"$path: no end-of-central-directory record (not a zip?)")
      var count: Long = u16(tail, eocd + 10).toLong
      var cdSize: Long = u32(tail, eocd + 12)
      var cdOffset: Long = u32(tail, eocd + 16)
      // zip64: the 32/16-bit fields saturate and the real record sits
      // behind a locator placed directly before the EOCD
      if (count == 0xffffL || cdOffset == 0xffffffffL || cdSize == 0xffffffffL) {
        val locPos = tailPos + eocd - 20
        val loc = readFully(in, locPos, 20)
        require(u32(loc, 0) == Eocd64LocatorSig,
          s"$path: zip64 fields saturated but no zip64 locator")
        val e64 = readFully(in, u64(loc, 8), 56)
        require(u32(e64, 0) == Eocd64Sig, s"$path: bad zip64 EOCD signature")
        count = u64(e64, 32)
        cdSize = u64(e64, 40)
        cdOffset = u64(e64, 48)
      }
      require(cdSize <= Int.MaxValue, s"$path: central directory too large to buffer")
      val cd = readFully(in, cdOffset, cdSize.toInt)
      val out = Vector.newBuilder[Entry]
      var p = 0
      var n = 0L
      while (n < count) {
        require(u32(cd, p) == CentralSig, s"$path: bad central-directory entry at $p")
        val method = u16(cd, p + 10)
        var comp = u32(cd, p + 20)
        var uncomp = u32(cd, p + 24)
        val nameLen = u16(cd, p + 28)
        val extraLen = u16(cd, p + 30)
        val commentLen = u16(cd, p + 32)
        var offset = u32(cd, p + 42)
        val name = new String(cd, p + 46, nameLen, java.nio.charset.StandardCharsets.UTF_8)
        // per-entry zip64 extra field: 64-bit values appear in a fixed
        // order, but ONLY for the fields that saturated
        var ep = p + 46 + nameLen
        val eEnd = ep + extraLen
        while (ep + 4 <= eEnd) {
          val id = u16(cd, ep)
          val sz = u16(cd, ep + 2)
          if (id == 0x0001) {
            var fp = ep + 4
            if (uncomp == 0xffffffffL) { uncomp = u64(cd, fp); fp += 8 }
            if (comp == 0xffffffffL) { comp = u64(cd, fp); fp += 8 }
            if (offset == 0xffffffffL) { offset = u64(cd, fp); fp += 8 }
          }
          ep += 4 + sz
        }
        if (!name.endsWith("/")) out += Entry(name, method, comp, uncomp, offset)
        p += 46 + nameLen + extraLen + commentLen
        n += 1
      }
      out.result()
    } finally in.close()
  }

  /** Open one entry for reading: seek to its local header, skip it, and
    * return a bounded (and, for DEFLATE, inflating) stream. The caller's
    * `in` survives — multiple entries can be read sequentially from one
    * open file handle per task. CLOSE the returned stream after each
    * entry: for DEFLATE that releases the Inflater's native zlib
    * buffers immediately (an externally-supplied Inflater is NOT ended
    * by InflaterInputStream.close, and waiting for GC accumulates
    * native memory across thousands of entries per task).
    */
  def openEntry(in: FSDataInputStream, e: Entry): InputStream = {
    val header = readFully(in, e.headerOffset, 30)
    require(u32(header, 0) == LocalSig, s"${e.name}: bad local header signature")
    val nameLen = u16(header, 26)
    val extraLen = u16(header, 28)
    in.seek(e.headerOffset + 30 + nameLen + extraLen)
    val bounded = new BoundedInputStream(in, e.compressedSize)
    e.method match {
      case 0 => bounded // STORED
      case 8 =>
        val inflater = new Inflater(true)
        new InflaterInputStream(bounded, inflater, 65536) {
          override def close(): Unit = {
            try super.close()
            finally inflater.end()
          }
        }
      case m => throw new IllegalArgumentException(
        s"${e.name}: unsupported zip compression method $m")
    }
  }

  /** Reads at most `limit` bytes from `in` WITHOUT closing it (the
    * underlying file handle is shared across entries in a task).
    */
  private final class BoundedInputStream(in: InputStream, limit: Long)
      extends InputStream {
    private var remaining = limit
    override def read(): Int =
      if (remaining <= 0) -1
      else {
        val b = in.read()
        if (b >= 0) remaining -= 1
        b
      }
    override def read(buf: Array[Byte], off: Int, len: Int): Int =
      if (remaining <= 0) -1
      else {
        val n = in.read(buf, off, math.min(len.toLong, remaining).toInt)
        if (n > 0) remaining -= n
        n
      }
    override def close(): Unit = () // keep the shared handle open
  }
}
