package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32

import org.apache.hadoop.fs.{FileSystem, Path}
import org.roaringbitmap.RoaringBitmap

/** Delta Lake DELETION VECTORS — the storage layer for row-level
  * deletes without rewriting data files (delta.io PROTOCOL.md,
  * "Deletion Vectors" + "Deletion Vector Format"; the reference's
  * curated table is Delta — reference `main.py:191-199` writes it —
  * and any table DELETEd by a modern writer carries these).
  *
  * Three public pieces, all spec-defined:
  *
  *  1. '''Z85''' — ZeroMQ base85 (RFC 32/Z85): the protocol encodes
  *     inline DVs and the random-UUID file names with it. 4 bytes →
  *     5 chars, big-endian base-85 digits.
  *  2. '''RoaringBitmapArray, "portable" format''' — a 64-bit bitmap
  *     as a little-endian magic (1681511377), an int64 count, then
  *     that many standard 32-bit RoaringBitmaps (format spec published
  *     at the RoaringBitmap project): per-bitmap cookie (12346 without
  *     run containers / 12347 with), descriptive header of
  *     (key, cardinality-1) uint16 pairs, optional offset header, then
  *     array (sorted uint16s), bitset (1024 uint64s) or run
  *     (count + [start, length] uint16 pairs) containers. Bitmap `i`
  *     holds the low 32 bits of the 64-bit values whose high 32 bits
  *     equal `i`. The 32-bit bitmaps are `org.roaringbitmap`'s own
  *     codec; the writer emits array/bitset containers only (always
  *     legal); the reader accepts run containers too.
  *  3. '''The DV file''' — a 1-byte format version (1), then each
  *     vector at its descriptor's `offset`: a BIG-endian int32 data
  *     size, the serialized bitmap bytes, and a BIG-endian CRC-32 of
  *     those bytes (the protocol's declared endianness asymmetry:
  *     framing is big-endian, bitmap content little-endian).
  *
  * Scale shape: a DV is per-file metadata — megabytes for millions of
  * deleted rows thanks to roaring compression. Decoding happens where
  * the caller runs it; [[DeltaLog.read]] decodes in EXECUTOR tasks so
  * a 100 TB table with billions of deleted positions never funnels
  * them through the driver.
  */
object DeletionVectors {

  // ---------------------------------------------------------------- Z85

  private val Z85Chars =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Index: Array[Byte] = {
    val a = Array.fill[Byte](128)(-1)
    Z85Chars.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i.toByte }
    a
  }

  /** Z85-encode; input length must be a multiple of 4 (the protocol
    * only encodes 16-byte UUIDs and padded inline vectors).
    */
  def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0, s"Z85: length ${bytes.length} not a multiple of 4")
    val sb = new java.lang.StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (bytes(i + j) & 0xffL); j += 1 }
      var div = 85L * 85 * 85 * 85
      while (div > 0) {
        sb.append(Z85Chars(((v / div) % 85).toInt))
        div /= 85
      }
      i += 4
    }
    sb.toString
  }

  def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"Z85: length ${s.length} not a multiple of 5")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    var o = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val d = if (c < 128) Z85Index(c.toInt) else -1
        require(d >= 0, s"Z85: illegal character '$c'")
        v = v * 85 + d
        j += 1
      }
      out(o) = ((v >>> 24) & 0xff).toByte
      out(o + 1) = ((v >>> 16) & 0xff).toByte
      out(o + 2) = ((v >>> 8) & 0xff).toByte
      out(o + 3) = (v & 0xff).toByte
      i += 5
      o += 4
    }
    out
  }

  // ------------------------------------- RoaringBitmapArray (portable)

  private val MagicNumber = 1681511377
  private val SerialCookieNoRun = 12346
  private val SerialCookie = 12347

  /** Serialize sorted distinct non-negative longs as a portable
    * RoaringBitmapArray. Bitmaps are indexed DENSELY by the high
    * 32 bits (the protocol requires count = maxHigh + 1; intermediate
    * empty bitmaps serialize with zero containers).
    */
  def serialize(positions: Array[Long]): Array[Byte] = {
    require(positions.forall(_ >= 0), "DV: negative row position")
    val nBitmaps = if (positions.isEmpty) 0 else (positions.max >>> 32).toInt + 1
    val bitmaps = Array.fill(nBitmaps)(new RoaringBitmap)
    positions.foreach(p => bitmaps((p >>> 32).toInt).add(p.toInt))
    val out = ByteBuffer.allocate(12 + bitmaps.map(_.serializedSizeInBytes).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.putInt(MagicNumber).putLong(nBitmaps.toLong)
    bitmaps.foreach(_.serialize(out))
    out.array()
  }

  /** Deserialize a portable RoaringBitmapArray to sorted long
    * positions. Accepts run containers (cookie 12347) as real writers
    * emit them.
    */
  def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.remaining() >= 12, "DV: truncated bitmap (no header)")
    val magic = buf.getInt
    require(magic == MagicNumber, s"DV: bad magic $magic (expected $MagicNumber)")
    val nBitmaps = buf.getLong
    require(nBitmaps >= 0 && nBitmaps < (1L << 20), s"DV: implausible bitmap count $nBitmaps")
    val acc = scala.collection.mutable.ArrayBuilder.make[Long]
    var b = 0L
    while (b < nBitmaps) {
      readBitmap32(buf, b << 32, acc, "DV")
      b += 1
    }
    val arr = acc.result()
    java.util.Arrays.sort(arr)
    arr
  }

  /** Read one standard 32-bit RoaringBitmap (the published format both
    * Delta's and Iceberg's 64-bit vectors embed) at `buf`'s position,
    * append its values, each under the 32 `high` bits, to `acc`, and
    * advance `buf` past it. A stream that starts with neither cookie
    * is refused before the decoder sees it.
    */
  private[sources] def readBitmap32(
      buf: ByteBuffer, high: Long,
      acc: scala.collection.mutable.ArrayBuilder[Long], label: String): Unit = {
    val cookie = buf.getInt(buf.position())
    require(cookie == SerialCookieNoRun || (cookie & 0xffff) == SerialCookie,
      s"$label: unknown RoaringBitmap cookie $cookie")
    val bitmap = new RoaringBitmap
    bitmap.deserialize(buf)
    buf.position(buf.position() + bitmap.serializedSizeInBytes)
    val values = bitmap.getIntIterator
    while (values.hasNext) acc += (high | (values.next() & 0xffffffffL))
  }

  // ------------------------------------------------------ DV file I/O

  final val FormatVersion: Byte = 1

  /** One on-disk deletion vector reference — the protocol's
    * `add.deletionVector` struct. `storageType`: "u" (relative file,
    * `pathOrInlineDv` = optional prefix + Z85 UUID), "i" (inline,
    * `pathOrInlineDv` = Z85 of the bitmap bytes), or "p" (absolute
    * path).
    */
  final case class Descriptor(
      storageType: String,
      pathOrInlineDv: String,
      offset: Option[Int],
      sizeInBytes: Int,
      cardinality: Long) {

    /** Resolve the DV file path under `tablePath` ("u"/"p"; never "i"). */
    def absolutePath(tablePath: String): Path = storageType match {
      case "u" =>
        val n = pathOrInlineDv.length
        require(n >= 20, s"DV: uuid path token too short: $pathOrInlineDv")
        val prefix = pathOrInlineDv.substring(0, n - 20)
        val uuidBytes = z85Decode(pathOrInlineDv.substring(n - 20))
        val bb = ByteBuffer.wrap(uuidBytes)
        val uuid = new java.util.UUID(bb.getLong, bb.getLong)
        val name = s"deletion_vector_$uuid.bin"
        if (prefix.isEmpty) new Path(tablePath, name)
        else new Path(new Path(tablePath, prefix), name)
      case "p" => new Path(pathOrInlineDv)
      case other => throw new IllegalArgumentException(
        s"DV: storageType '$other' has no file path")
    }
  }

  /** Read one DV's positions given its descriptor. Verifies the
    * big-endian frame size and CRC-32 before trusting a single byte of
    * bitmap content.
    */
  def readPositions(fs: FileSystem, tablePath: String, d: Descriptor): Array[Long] =
    d.storageType match {
      case "i" => deserialize(z85Decode(d.pathOrInlineDv).take(d.sizeInBytes))
      case "u" | "p" =>
        val p = d.absolutePath(tablePath)
        val in = fs.open(p)
        try {
          val version = in.readByte()
          require(version == FormatVersion, s"DV: file format version $version (expected 1)")
          in.seek(d.offset.getOrElse(1).toLong)
          val size = in.readInt() // big-endian (DataInput contract)
          require(size == d.sizeInBytes,
            s"DV: frame size $size != descriptor sizeInBytes ${d.sizeInBytes} in $p")
          val data = new Array[Byte](size)
          in.readFully(data)
          val expected = in.readInt()
          val crc = new CRC32()
          crc.update(data)
          require(crc.getValue.toInt == expected,
            s"DV: CRC mismatch in $p at offset ${d.offset.getOrElse(1)}")
          deserialize(data)
        } finally in.close()
      case other =>
        throw new IllegalArgumentException(s"DV: unknown storageType '$other'")
    }

  /** Write a set of bitmaps into ONE new DV file under `tablePath`
    * (the packing a Delta DELETE uses: every rewritten file's vector
    * in a single `deletion_vector_<uuid>.bin`). Returns the "u"
    * descriptor for each input, in order.
    */
  def writeFile(
      fs: FileSystem, tablePath: String,
      bitmaps: Seq[Array[Long]]): Seq[Descriptor] =
    writePacked(fs, tablePath,
      bitmaps.map(p => (serialize(p), p.distinct.length.toLong)))

  /** Like [[writeFile]] but over ALREADY-serialized bitmap frames
    * `(data, cardinality)` — the shape [[DeltaLog.deleteWithDv]]
    * produces in executor tasks so only compressed bytes reach the
    * driver.
    */
  def writePacked(
      fs: FileSystem, tablePath: String,
      frames: Seq[(Array[Byte], Long)]): Seq[Descriptor] = {
    val uuid = java.util.UUID.randomUUID()
    val bb = ByteBuffer.allocate(16)
    bb.putLong(uuid.getMostSignificantBits)
    bb.putLong(uuid.getLeastSignificantBits)
    val token = z85Encode(bb.array())
    val target = new Path(tablePath, s"deletion_vector_$uuid.bin")
    val out = fs.create(target, false)
    val descs = try {
      out.writeByte(FormatVersion.toInt)
      var offset = 1
      frames.map { case (data, cardinality) =>
        val crc = new CRC32()
        crc.update(data)
        out.writeInt(data.length) // big-endian frame
        out.write(data)
        out.writeInt(crc.getValue.toInt)
        val d = Descriptor("u", token, Some(offset), data.length, cardinality)
        offset += 4 + data.length + 4
        d
      }
    } finally out.close()
    descs
  }
}
