package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** [[IcebergTable]]'s commit pointer: readers take the version from
  * `version-hint.text` and probe forward past it, or list when the
  * hint is missing, empty or unparsable, so a writer that died between
  * landing `vN.metadata.json` and repointing the hint never wedges the
  * table; both files land by temp + rename.
  */
class IcebergCommitPointerSpec extends SparkSpec {

  private def newTable(): String = Files.createTempDirectory("graft-iceberg-ptr").toString

  test("a commit that crashed before repointing version-hint.text does not wedge the table") {
    import spark.implicits._
    val t = newTable()
    val s1 = IcebergTable.append(spark, t, Seq((1L, "a")).toDF("id", "tag"))
    val s2 = IcebergTable.append(spark, t, Seq((2L, "b")).toDF("id", "tag"))
    // the writer of v2 died after landing v2.metadata.json, before the hint
    val hint = Paths.get(s"$t/metadata/version-hint.text")
    Files.deleteIfExists(Paths.get(s"$t/metadata/.version-hint.text.crc"))
    Files.writeString(hint, "1")
    assert(IcebergTable.read(spark, t).count() == 2L)
    assert(IcebergTable.snapshotsTable(spark, t).count() == 2L)
    val s3 = IcebergTable.append(spark, t, Seq((3L, "c")).toDF("id", "tag"))
    assert(Files.readString(hint) == "3")
    assert(IcebergTable.read(spark, t).orderBy("id").select("id").as[Long].collect().toSeq ==
      Seq(1L, 2L, 3L))
    assert(IcebergTable.snapshotsTable(spark, t).select("snapshot_id").as[Long]
      .collect().toSeq == Seq(s1, s2, s3))
    // the metadata file and the hint land by temp + rename: no temp file remains
    assert(!new java.io.File(s"$t/metadata").list().exists(_.startsWith(".tmp-")))
  }

  test("an empty or unparsable version-hint.text falls back to listing") {
    import spark.implicits._
    val t = newTable()
    IcebergTable.append(spark, t, Seq((1L, "a")).toDF("id", "tag"))
    IcebergTable.append(spark, t, Seq((2L, "b")).toDF("id", "tag"))
    Files.deleteIfExists(Paths.get(s"$t/metadata/.version-hint.text.crc"))
    Seq("", "v2").foreach { text =>
      Files.writeString(Paths.get(s"$t/metadata/version-hint.text"), text)
      assert(IcebergTable.read(spark, t).count() == 2L, s"hint '$text'")
    }
    IcebergTable.append(spark, t, Seq((3L, "c")).toDF("id", "tag"))
    assert(IcebergTable.read(spark, t).count() == 3L)
  }

  test("a commit over an already-present v(N+1).metadata.json raises and leaves it in place") {
    import spark.implicits._
    val t = newTable()
    IcebergTable.append(spark, t, Seq((1L, "a")).toDF("id", "tag"))
    // Hadoop's own local filesystem, whose rename replaces an existing file
    val fs = new org.apache.hadoop.fs.LocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    // writer A reads head 1; writer B then commits v2
    val stale = IcebergTable.head(fs, t)
    val s2 = IcebergTable.append(spark, t, Seq((2L, "b")).toDF("id", "tag"))
    val v2 = Paths.get(s"$t/metadata/v2.metadata.json")
    val v2Bytes = Files.readAllBytes(v2)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      IcebergTable.commitMetadata(fs, t, Some(stale), stale.meta.deepCopy())
    }
    assert(Files.readAllBytes(v2).sameElements(v2Bytes), "B's v2 must survive A's lost race")
    assert(Files.readString(Paths.get(s"$t/metadata/version-hint.text")) == "2")
    assert(IcebergTable.snapshotsTable(spark, t).select("snapshot_id").as[Long]
      .collect().last == s2)
    assert(IcebergTable.read(spark, t).count() == 2L)
    assert(!new java.io.File(s"$t/metadata").list().exists(_.startsWith(".tmp-")))
  }
}
