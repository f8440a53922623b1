package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness checks that do not go through the code under test:
  * plain Spark reads and aggregates compared with answers derived from
  * the benchmark's own input model.
  */
object Check {
  type Result = (String, Boolean, String)

  /** (rows, xor of row hashes, sum of row hashes mod p) over the
    * business columns — an order-independent content hash.
    */
  def contentHash(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(OwidModel.BusinessCols.map(col): _*)
    val r = df.select(OwidModel.BusinessCols.map(col): _*)
      .agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
        coalesce(sum(pmod(h, lit(1000000007L))), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def same[T](name: String, got: T, want: T): Result =
    (name, got == want, if (got == want) s"$got" else s"got $got, want $want")

  /** Keys are 1..n, unique. */
  def denseKeys(name: String, df: DataFrame, key: String): Result = {
    val r = df.agg(count(lit(1)), countDistinct(col(key)), min(col(key)), max(col(key))).collect()(0)
    val (n, d) = (r.getLong(0), r.getLong(1))
    val lo = if (r.isNullAt(2)) 0L else r.getLong(2)
    val hi = if (r.isNullAt(3)) 0L else r.getLong(3)
    val ok = n > 0 && n == d && lo == 1L && hi == n
    (name, ok, s"rows=$n distinct=$d min=$lo max=$hi")
  }
}

/** A minimal, independent reader of a Delta log: replays the JSON
  * commits from version 0 (checkpoints are ignored, the JSON commits
  * are never cleaned up by the writer under test).
  */
object DeltaLogReplay {
  private val mapper = new ObjectMapper()
  private val Commit = """^(\d{20})\.json$""".r

  final case class State(version: Long, live: Map[String, Long])

  private def commits(table: String): Seq[(Long, File)] =
    Option(new File(table, "_delta_log").listFiles()).getOrElse(Array.empty[File]).toSeq
      .flatMap(f => f.getName match {
        case Commit(v) => Some(v.toLong -> f)
        case _ => None
      }).sortBy(_._1)

  private def actions(f: File): Iterator[com.fasterxml.jackson.databind.JsonNode] =
    Files.readAllLines(f.toPath).asScala.iterator.filter(_.trim.nonEmpty).map(mapper.readTree)

  private def numRecords(add: com.fasterxml.jackson.databind.JsonNode): Long =
    Option(add.get("stats")).filter(!_.isNull)
      .map(s => mapper.readTree(s.asText()).path("numRecords").asLong(-1L)).getOrElse(-1L)

  /** Live files (decoded relative path -> rows, -1 if no stats) at
    * version `upTo` (default: the latest).
    */
  def replay(table: String, upTo: Long = Long.MaxValue): State = {
    val cs = commits(table).filter(_._1 <= upTo)
    require(cs.nonEmpty && cs.head._1 == 0L, s"no JSON commit 0 under $table/_delta_log")
    val live = mutable.LinkedHashMap.empty[String, Long]
    cs.foreach { case (_, f) =>
      actions(f).foreach { a =>
        if (a.has("add")) live(decode(a.get("add").get("path").asText())) = numRecords(a.get("add"))
        if (a.has("remove")) live -= decode(a.get("remove").get("path").asText())
      }
    }
    State(cs.last._1, live.toMap)
  }

  def lastCommit(table: String): EtlWorkload.DeltaCommit = {
    val f = commits(table).last._2
    val acts = actions(f).toSeq
    val adds = acts.filter(_.has("add")).map(_.get("add"))
    EtlWorkload.DeltaCommit(adds.size, acts.count(_.has("remove")), adds.map(numRecords).map(math.max(_, 0L)).sum)
  }

  private def decode(p: String): String = new java.net.URI(p).getPath

  /** The live rows of one version (default: the latest) as plain
    * parquet (data-file columns only).
    */
  def readLive(spark: SparkSession, table: String, version: Long = Long.MaxValue): DataFrame = {
    val s = replay(table, version)
    spark.read.parquet(s.live.keys.toSeq.map(p => new File(table, p).getPath): _*)
  }

  /** The highest published version directory under a snapshot root. */
  def latestPublished(root: String): String = {
    val dirs = Option(new File(root).listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("v=") && new File(d, "_PUBLISHED").exists())
    require(dirs.nonEmpty, s"no published version under $root")
    dirs.maxBy(_.getName.stripPrefix("v=").toLong).getPath
  }

  def deleteRecursively(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }
}
