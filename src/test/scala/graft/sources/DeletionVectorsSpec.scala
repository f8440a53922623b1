package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** [[DeletionVectors]] — the codec layer alone (no Spark): Z85 against
  * the ZeroMQ spec's published test vector, RoaringBitmapArray round
  * trips across container types (array, bitset, multi-key, multi-
  * bitmap / >2^32 positions), a hand-laid RUN-container stream (the
  * reader must accept what real writers emit even though our writer
  * never produces runs), and the DV file framing (big-endian size +
  * CRC-32, multi-vector packing, corruption refusal).
  */
class DeletionVectorsSpec extends AnyFunSuite {

  test("Z85: the ZeroMQ spec's HelloWorld vector, round trips, bad input") {
    val hello = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b).map(_.toByte)
    assert(DeletionVectors.z85Encode(hello) == "HelloWorld")
    assert(DeletionVectors.z85Decode("HelloWorld").sameElements(hello))
    val uuidish = Array.tabulate(16)(i => ((i * 37 + 5) % 256).toByte)
    assert(DeletionVectors.z85Decode(DeletionVectors.z85Encode(uuidish)).sameElements(uuidish))
    intercept[IllegalArgumentException](DeletionVectors.z85Encode(Array[Byte](1, 2, 3)))
    intercept[IllegalArgumentException](DeletionVectors.z85Decode("abcd"))
    intercept[IllegalArgumentException](DeletionVectors.z85Decode("ab~de"))
  }

  test("roaring round trips: array, bitset, multi-key, >2^32 positions, empty") {
    def rt(positions: Array[Long]): Unit = {
      val back = DeletionVectors.deserialize(DeletionVectors.serialize(positions))
      assert(back.toSeq == positions.distinct.sorted.toSeq,
        s"round trip broke for ${positions.take(5).mkString(",")}…")
    }
    rt(Array.empty[Long])
    rt(Array(0L))
    rt(Array(3L, 1L, 3L, 65535L)) // unsorted + dup + key boundary
    rt((0L until 5000L).toArray) // > 4096 => bitset container
    rt(Array(1L, 70000L, 140000L)) // multiple 16-bit keys
    rt(Array(5L, (1L << 32) + 7L, (3L << 32) + 1L)) // multiple 32-bit bitmaps
    rt((0L until 200L).map(_ * 977L).toArray)
  }

  test("run containers (cookie 12347) deserialize; our writer's magic is pinned") {
    // hand-lay one bitmap with a single RUN container: values 10..14, 20
    val bb = java.nio.ByteBuffer.allocate(64).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(1681511377) // RoaringBitmapArray magic
    bb.putLong(1L)        // one 32-bit bitmap
    bb.putInt(12347 | (0 << 16)) // SERIAL_COOKIE, containers-1 = 0
    bb.put(1.toByte)      // run flags: container 0 IS a run container
    bb.putShort(0)        // key 0
    bb.putShort(5)        // cardinality - 1 = 5 (6 values)
    // < NO_OFFSET_THRESHOLD containers -> no offset header
    bb.putShort(2)        // 2 runs
    bb.putShort(10); bb.putShort(4) // run [10, 10+4]
    bb.putShort(20); bb.putShort(0) // run [20, 20]
    val bytes = java.util.Arrays.copyOf(bb.array(), bb.position())
    assert(DeletionVectors.deserialize(bytes).toSeq == Seq(10L, 11L, 12L, 13L, 14L, 20L))
    // corrupted magic refuses
    val bad = bytes.clone(); bad(0) = 0x00
    intercept[IllegalArgumentException](DeletionVectors.deserialize(bad))
  }

  test("our writer's array and bitset containers are pinned byte for byte") {
    // hand-lay one bitmap: key 0 an ARRAY container {1, 5}, key 1 a
    // BITSET container 65536..70535 (5000 values > 4096)
    val bb = java.nio.ByteBuffer.allocate(64 + 8192).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(12346)      // SERIAL_COOKIE_NO_RUNCONTAINER
    bb.putInt(2)          // two containers
    bb.putShort(0); bb.putShort(1)    // key 0, cardinality - 1 = 1
    bb.putShort(1); bb.putShort(4999) // key 1, cardinality - 1 = 4999
    bb.putInt(24); bb.putInt(28)      // offsets from the cookie
    bb.putShort(1); bb.putShort(5)    // the array container
    (0 until 1024).foreach { w =>     // the bitset container: bits 0..4999
      bb.putLong(if (w < 78) -1L else if (w == 78) 0xffL else 0L)
    }
    val bitmap = java.util.Arrays.copyOf(bb.array(), bb.position())
    val positions = Array(1L, 5L) ++ (65536L until 70536L)
    val head = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(1681511377).putLong(1L).array() // magic, one dense bitmap
    assert(DeletionVectors.serialize(positions).toSeq == (head ++ bitmap).toSeq)
    val keyed = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putLong(1L).putInt(0).array() // Puffin: count, then the high key
    assert(Puffin.serialize64(positions).toSeq == (keyed ++ bitmap).toSeq)
    // a bitmap that starts with neither cookie refuses loudly
    val bad = head ++ bitmap
    bad(12) = 0x00
    intercept[IllegalArgumentException](DeletionVectors.deserialize(bad))
    intercept[IllegalArgumentException](Puffin.deserialize64(keyed ++ bad.drop(12)))
  }

  test("DV file: multi-vector packing, framing, CRC refusal, uuid path derivation") {
    val dir = Files.createTempDirectory("graft-dv").toString
    val fs = new Path(dir).getFileSystem(new Configuration())
    val a = Array(1L, 5L, 9L)
    val b = (0L until 6000L).toArray
    val descs = DeletionVectors.writeFile(fs, dir, Seq(a, b))
    assert(descs.length == 2 && descs.forall(_.storageType == "u"))
    assert(descs(0).cardinality == 3 && descs(1).cardinality == 6000)
    assert(descs.map(_.pathOrInlineDv).distinct.size == 1, "one packed file")
    assert(DeletionVectors.readPositions(fs, dir, descs(0)).toSeq == a.toSeq)
    assert(DeletionVectors.readPositions(fs, dir, descs(1)).toSeq == b.toSeq)
    // the derived file exists under the table dir with the spec name shape
    val dvFile = descs(0).absolutePath(dir)
    assert(fs.exists(dvFile), s"$dvFile missing")
    assert(dvFile.getName.startsWith("deletion_vector_") && dvFile.getName.endsWith(".bin"))
    // flip one bitmap byte -> CRC refusal
    val local = java.nio.file.Paths.get(dvFile.toUri.getPath)
    val raw = Files.readAllBytes(local)
    raw(6) = (raw(6) ^ 0x7f).toByte
    Files.write(local, raw)
    // drop Hadoop's local-fs checksum sidecar so OUR CRC frame is what
    // detects the flip (on HDFS/object stores there is no sidecar)
    Files.deleteIfExists(local.getParent.resolve("." + local.getFileName + ".crc"))
    val e = intercept[IllegalArgumentException](
      DeletionVectors.readPositions(fs, dir, descs(0)))
    assert(e.getMessage.contains("CRC") || e.getMessage.contains("magic"), e.getMessage)
  }

  test("inline vectors (storageType i) decode from the descriptor alone") {
    val positions = Array(2L, 4L, 8L, 100000L)
    val data = DeletionVectors.serialize(positions)
    // inline payloads are Z85 — pad to a 4-byte boundary like real writers
    val padded = java.util.Arrays.copyOf(data, (data.length + 3) / 4 * 4)
    val d = DeletionVectors.Descriptor(
      "i", DeletionVectors.z85Encode(padded), None, data.length, positions.length.toLong)
    val fs = new Path("/tmp").getFileSystem(new Configuration())
    assert(DeletionVectors.readPositions(fs, "/tmp", d).toSeq == positions.toSeq)
  }
}
