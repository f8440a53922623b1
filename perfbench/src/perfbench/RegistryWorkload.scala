package perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** A fixed list of registry queries that never touch a table-format
  * layer (`DeltaLog`, `IcebergTable`, `SnapshotPublish`) nor the IVF
  * store. Each execution collects the full result; every execution's
  * content hash must equal that of the result written for the DuckDB
  * oracle compare.
  */
final class RegistryWorkload(spark: SparkSession, data: String, work: String) {
  import RegistryWorkload._

  private val hashes = mutable.HashMap.empty[String, mutable.Set[(Int, Long)]]
  /** Each query's last collected result, with its schema. */
  private val results = mutable.HashMap.empty[String, (StructType, Array[Row])]
  private var storeBuilds: Map[String, Double] = Map.empty

  private def exec(name: String): (Int, Long) = {
    val df = SparkEntry.queries(name)(spark, data)
    val rows = df.collect()
    results(name) = (df.schema, rows)
    (rows.length, rowsHash(rows.toSeq))
  }

  private def dropCheckpoints(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Set-up: one untimed pass builds every stored relation. */
  def warmUp(): Unit = {
    graft.ext.StoreTimer.reset()
    Queries.foreach(exec)
    storeBuilds = graft.ext.StoreTimer.snapshot
    dropCheckpoints()
  }

  def run(ops: Ops, seconds: Double, checks: mutable.ArrayBuffer[Check.Result])
      : Seq[(String, Double, String)] = {
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      Queries.foreach { q =>
        ops.run(q)(exec(q)).foreach(h => hashes.getOrElseUpdate(q, mutable.Set.empty) += h)
      }
      dropCheckpoints()
      passes += 1
    }
    // the oracle copy: the last timed result of each query, written as
    // parquet for run.py's DuckDB compare, then read back and hashed
    Queries.filter(results.contains).foreach { q =>
      val dir = s"$work/results/$q"
      val (schema, rows) = results(q)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val back = spark.read.parquet(dir).collect().toSeq
      val ref = (back.length, rowsHash(back))
      val seen = hashes.getOrElse(q, mutable.Set.empty)
      checks += ((s"registry.$q.stable", seen.nonEmpty && seen.forall(_ == ref),
        s"rows=${ref._1} hash=${ref._2} executions=${ops.okMs(q).size} distinct=${seen.size}"))
    }
    Json.write(java.nio.file.Paths.get(s"$work/oracle_sql.json"), Json.obj(Queries.flatMap(q =>
      SparkEntry.oracleSql.get(q).map(sql => q -> Json.str(sql)))))
    val medians = Queries.filter(q => ops.okMs(q).nonEmpty).map(q => q -> Stats.median(ops.okMs(q)))
    Seq(("registry_pass_s", if (medians.size == Queries.size) medians.map(_._2).sum / 1000 else Double.NaN, "s"),
      ("registry.passes", passes.toDouble, "count")) ++
      medians.map { case (q, ms) => (s"queries.${q}_ms", ms, "ms") } ++
      storeBuilds.toSeq.sortBy(_._1).map { case (k, s) =>
        // store keys are "<store>:<data dir>"; the metric keeps the store
        (s"ext.store_build_s.${k.takeWhile(_ != ':').replaceAll("[^A-Za-z0-9_.-]", "_")}", s, "s") }
  }
}

object RegistryWorkload {
  /** Minimum passes over the list: each query's median is over >= 2 runs. */
  val MinPasses = 2

  /** The list; see perfbench/NOTES.md for why each entry is here. */
  val Queries: Seq[String] = Seq(
    "q_reconcile", "j5_catalog_star", "set1_except", "x_asof_join", "x_events_session",
    "x_dedup_minhash", "x_bm25")

  /** Order-independent hash of a collected result. */
  def rowsHash(rows: Seq[Row]): Long = rows.foldLeft(0L)((acc, r) => acc + MurmurHash3.stringHash(r.toString))
}
