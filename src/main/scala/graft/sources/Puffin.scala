package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.zip.CRC32

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.roaringbitmap.RoaringBitmap

/** PUFFIN — Iceberg's auxiliary blob-file format
  * (iceberg.apache.org/puffin-spec) and the v3 `deletion-vector-v1`
  * blob it carries (iceberg.apache.org/spec, format-version 3
  * "Deletion vectors"): the storage layer that replaces parquet
  * position-delete files with one roaring bitmap per data file.
  *
  * File layout (spec): `Magic ++ blobs ++ Magic ++ FooterPayload ++
  * FooterPayloadSize (4 bytes LE) ++ Flags (4 bytes) ++ Magic`, magic
  * = ASCII "PFA1". The footer payload is uncompressed JSON here
  * (flags 0): `{"blobs": [{type, fields, snapshot-id,
  * sequence-number, offset, length, properties}], "properties": {}}`.
  *
  * `deletion-vector-v1` blob layout (spec): a 4-byte BIG-endian
  * length of (magic + vector), the 4-byte magic `D1 D3 39 64`, the
  * vector, then a 4-byte BIG-endian CRC-32 of (magic + vector). The
  * vector is the 64-bit roaring bitmap "portable" serialization:
  * an 8-byte LITTLE-endian count of 32-bit bitmaps, then per bitmap
  * (ordered by unsigned key) a 4-byte LITTLE-endian high-32-bit key
  * followed by a standard 32-bit RoaringBitmap — NOTE the difference
  * from Delta's RoaringBitmapArray ([[DeletionVectors]]): keyed
  * sparse bitmaps with no magic prefix, versus Delta's
  * magic-prefixed DENSE array. The inner 32-bit container encoding
  * (cookie, descriptive header, array/bitset/run containers) is the
  * same published RoaringBitmap format in both, and both code it with
  * `org.roaringbitmap.RoaringBitmap`.
  *
  * Zero-egress caveat, stated loudly: the CRC polynomial is plain
  * CRC-32 (java.util.zip.CRC32, the zlib polynomial — what the Delta
  * DV format uses); if the Iceberg ecosystem settles on CRC-32C the
  * constant is one line. The writer/reader pair here is round-trip
  * property-tested, so tables this engine writes always verify.
  */
object Puffin {

  private val Magic = Array[Byte]('P', 'F', 'A', '1')
  private val DvMagic = Array[Byte](0xD1.toByte, 0xD3.toByte, 0x39.toByte, 0x64.toByte)
  private val mapper = new ObjectMapper()

  /** One deletion-vector blob's location inside a puffin file:
    * `offset` points at the blob's 4-byte length prefix and `length`
    * spans prefix + magic + vector + CRC — exactly what the manifest
    * entry's `content_offset` / `content_size_in_bytes` carry.
    */
  final case class DvBlob(
      referencedDataFile: String, offset: Long, length: Long, cardinality: Long)

  // --------------------------- 64-bit roaring bitmap, "portable" form

  /** Serialize sorted distinct non-negative longs as the keyed
    * portable Roaring64 form (count + per-key 32-bit bitmaps; empty
    * keys are simply absent, unlike Delta's dense array).
    */
  def serialize64(positions: Array[Long]): Array[Byte] = {
    require(positions.forall(_ >= 0), "Puffin DV: negative row position")
    val byHigh = positions.groupBy(_ >>> 32).toSeq.sortBy(_._1)
      .map { case (high, vs) => (high.toInt, RoaringBitmap.bitmapOf(vs.map(_.toInt): _*)) }
    val out = ByteBuffer.allocate(8 + byHigh.map(4 + _._2.serializedSizeInBytes).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.putLong(byHigh.size.toLong)
    byHigh.foreach { case (high, bitmap) =>
      out.putInt(high)
      bitmap.serialize(out)
    }
    out.array()
  }

  /** Deserialize the keyed portable Roaring64 form to sorted
    * positions. Accepts run containers (real writers emit them).
    */
  def deserialize64(bytes: Array[Byte]): Array[Long] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.remaining() >= 8, "Puffin DV: truncated bitmap (no count)")
    val nBitmaps = buf.getLong
    require(nBitmaps >= 0 && nBitmaps < (1L << 20),
      s"Puffin DV: implausible bitmap count $nBitmaps")
    val acc = scala.collection.mutable.ArrayBuilder.make[Long]
    var b = 0L
    while (b < nBitmaps) {
      val high = (buf.getInt.toLong & 0xffffffffL) << 32
      DeletionVectors.readBitmap32(buf, high, acc, "Puffin DV")
      b += 1
    }
    val arr = acc.result()
    java.util.Arrays.sort(arr)
    arr
  }

  // ------------------------------------------------------- file write

  /** Write ONE puffin file holding one `deletion-vector-v1` blob per
    * `(referenced data file, deleted positions)` pair, footer
    * included. Returns each blob's location, in input order.
    */
  def writeDvFile(
      fs: FileSystem, target: Path,
      dvs: Seq[(String, Array[Long])],
      snapshotId: Long, sequenceNumber: Long): Seq[DvBlob] =
    writeDvFilePacked(fs, target,
      dvs.map { case (f, p) => (f, serialize64(p), p.distinct.length.toLong) },
      snapshotId, sequenceNumber)

  /** Like [[writeDvFile]] but over ALREADY-serialized vectors
    * `(referenced file, vector bytes, cardinality)` — the shape
    * [[IcebergTable.deleteRowsDv]] produces in executor tasks so only
    * compressed bitmap bytes reach the driver.
    */
  def writeDvFilePacked(
      fs: FileSystem, target: Path,
      dvs: Seq[(String, Array[Byte], Long)],
      snapshotId: Long, sequenceNumber: Long): Seq[DvBlob] = {
    require(dvs.nonEmpty, "Puffin: no deletion vectors to write")
    val out = fs.create(target, false)
    try {
      out.write(Magic)
      var offset = 4L
      val blobs = dvs.map { case (refFile, vector, cardinality) =>
        val crc = new CRC32()
        crc.update(DvMagic)
        crc.update(vector)
        out.writeInt(4 + vector.length) // BE length of magic+vector
        out.write(DvMagic)
        out.write(vector)
        out.writeInt(crc.getValue.toInt) // BE CRC-32 of magic+vector
        val len = 4L + 4L + vector.length + 4L
        val b = DvBlob(refFile, offset, len, cardinality)
        offset += len
        b
      }
      // footer: Magic ++ payload ++ payloadSize(LE) ++ flags(0) ++ Magic
      val payload = {
        val root = mapper.createObjectNode()
        val arr = root.putArray("blobs")
        blobs.foreach { b =>
          val n = arr.addObject()
          n.put("type", "deletion-vector-v1")
          n.putArray("fields")
          n.put("snapshot-id", snapshotId)
          n.put("sequence-number", sequenceNumber)
          n.put("offset", b.offset)
          n.put("length", b.length)
          val p = n.putObject("properties")
          p.put("referenced-data-file", b.referencedDataFile)
          p.put("cardinality", b.cardinality.toString)
        }
        root.putObject("properties")
        mapper.writeValueAsBytes(root)
      }
      out.write(Magic)
      out.write(payload)
      val size = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(payload.length).array()
      out.write(size)
      out.write(Array[Byte](0, 0, 0, 0)) // flags: uncompressed payload
      out.write(Magic)
      blobs
    } finally out.close()
  }

  // -------------------------------------------------------- file read

  /** Read one deletion-vector blob at `(offset, length)`: verify the
    * length prefix, magic, and CRC before trusting a byte; return the
    * sorted deleted positions.
    */
  def readDv(fs: FileSystem, path: Path, offset: Long, length: Long): Array[Long] = {
    val in = fs.open(path)
    try {
      // a puffin file self-identifies — refuse anything else up front
      val head = new Array[Byte](4)
      in.readFully(0L, head)
      require(java.util.Arrays.equals(head, Magic),
        s"Puffin: $path does not start with the PFA1 magic")
      in.seek(offset)
      val declared = in.readInt() // BE: len(magic + vector)
      require(declared + 8L == length,
        s"Puffin: blob at $offset declares ${declared + 8} bytes but the " +
          s"manifest says $length in $path")
      val magic = new Array[Byte](4)
      in.readFully(magic)
      require(java.util.Arrays.equals(magic, DvMagic),
        s"Puffin: deletion-vector blob magic mismatch at $offset in $path")
      val vector = new Array[Byte](declared - 4)
      in.readFully(vector)
      val expected = in.readInt()
      val crc = new CRC32()
      crc.update(magic)
      crc.update(vector)
      require(crc.getValue.toInt == expected,
        s"Puffin: deletion-vector CRC mismatch at $offset in $path")
      deserialize64(vector)
    } finally in.close()
  }

  /** The footer's blob listing — the self-describing route into a
    * puffin file when no manifest carries the offsets (metadata
    * introspection, fixture validation).
    */
  def listBlobs(fs: FileSystem, path: Path): Seq[DvBlob] = {
    val len = fs.getFileStatus(path).getLen
    val in = fs.open(path)
    try {
      val tail = new Array[Byte](12) // payloadSize + flags + magic
      in.readFully(len - 12, tail)
      require(java.util.Arrays.equals(tail.slice(8, 12), Magic),
        s"Puffin: $path does not end with the PFA1 magic")
      require((tail(4) & 1) == 0,
        s"Puffin: compressed footer payload in $path is not supported")
      val payloadSize = ByteBuffer.wrap(tail, 0, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
      val payload = new Array[Byte](payloadSize)
      in.readFully(len - 12 - payloadSize, payload)
      val root = mapper.readTree(new String(payload, StandardCharsets.UTF_8))
      val blobs = root.get("blobs")
      (0 until blobs.size()).map(blobs.get).map { b =>
        DvBlob(
          b.get("properties").get("referenced-data-file").asText(),
          b.get("offset").asLong(),
          b.get("length").asLong(),
          b.get("properties").get("cardinality").asText().toLong)
      }
    } finally in.close()
  }
}
