package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.{SurrogateKey, Transform, Upsert}
import graft.sources.RawZone

/** Core relational operator queries — one per SURVEY.md §2 id, each
  * paired with ANSI SQL for the DuckDB oracle.
  *
  * Determinism conventions (SURVEY.md §7.5):
  *  - every query ends with an explicit ORDER BY on a unique key;
  *  - no `current_date`/`current_timestamp`: the reference's
  *    "yesterday" cutoffs become pinned literals;
  *  - double aggregation goes through DECIMAL so Spark and DuckDB sum
  *    the exact same values regardless of accumulation order, then is
  *    cast back to DOUBLE at the output edge (identical nearest-double
  *    conversion on both engines);
  *  - timestamps are cast to DATE at output edges (testdata parquet is
  *    ns/ms, Spark is µs — SURVEY.md §7.5.3).
  */
object CoreQueries {

  type Q = (SparkSession, String) => DataFrame

  // -- shared helpers -------------------------------------------------

  /** Exact sum of a 2-dp-ish double column: decimal in, double out. */
  private def sumd(c: org.apache.spark.sql.Column, scale: Int = 2) =
    sum(c.cast(DecimalType(20, scale))).cast(DoubleType)

  private def d(s: String) = to_date(lit(s))

  /** Pushdown-friendly timestamp literal: testdata date columns are
    * physically timestamp[ms], and a `cast(ts AS DATE) <= DATE 'x'`
    * predicate blocks parquet filter pushdown (the cast wraps the
    * attribute). `ts < TIMESTAMP 'x+1 00:00'` is the same predicate on
    * the raw column — constant-folded and pushed to the scan
    * (PushedFilters: [LessThan(...)]), which at 100 TB means row-group
    * pruning instead of a full decode. Session tz is pinned UTC.
    */
  private def ts(s: String) = to_timestamp(lit(s))

  /** cwd-independent scratch location for write-roundtrip queries,
    * one copy per (sf dir, JVM): the pid suffix means a Verify dump
    * and a Bench run racing on the same host can never overwrite each
    * other's fixture mid-read (the same-name-race rationale behind the
    * session's pid-scoped warehouse dir); within one JVM, overwrite
    * mode makes the bench's repeated passes reuse the copy. The whole
    * root is deleted at JVM exit — per-pid copies would otherwise
    * accumulate run over run. (Safe to delete: these queries' ORACLES
    * read the source tables, never the scratch output. The malformed
    * CSV fixture lives OUTSIDE this root because its oracle's DuckDB
    * process reads it after this JVM exits.)
    */
  private lazy val scratchRoot: String = {
    val root = System.getProperty("java.io.tmpdir") +
      s"/graft-scratch-p${ProcessHandle.current().pid()}"
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))))
    root
  }

  private def scratchDir(sub: String, dir: String): String =
    s"$scratchRoot/$sub/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_").replaceAll("^_+", "")

  // pinned cutoffs (orders span 1995-01-01..2001-08-01)
  private val CutWarehouse = "1998-01-01" // "already in the warehouse"
  private val CutToday     = "1996-12-31" // SET1 "today" snapshot
  private val CutYesterday = "1995-12-31" // SET1 "yesterday" snapshot
  private val PinYesterday = "1998-06-15" // F2 incremental split date

  // ===================================================================
  // Flagship — §3.3 warehouse-reconciliation shape on testdata: scan,
  // dim joins (J1/J3), dirty-flag filter (F3), max-key aggregate (A1),
  // anti-join insert split (F4), surrogate keys (W1), union (SET2),
  // ordered final projection (P11).
  // ===================================================================

  def reconcile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)

    // curated fact: orders enriched with customer + nation dims.
    // nation (25 rows) is explicitly broadcast; customer is small
    // enough that AQE broadcasts it at test scale, while at 100 TB the
    // o_custkey shuffle is the correct plan.
    val curated = o
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(
        o("o_orderkey"),
        c("c_name"),
        n("n_name").as("nation"),
        o("o_totalprice").cast(DecimalType(20, 2)).cast(DoubleType).as("total_price"),
        o("o_orderdate").cast(DateType).as("order_date"),
        when(o("o_orderstatus") === "O", "Y").otherwise("N").as("is_updated"))

    // warehouse key map (reference S6): rows already synced, with their
    // surrogate keys. In production this is a JDBC projection scan; the
    // harness models it as a derived table.
    val warehouse = o
      .filter(o("o_orderdate") < ts(CutWarehouse)) // ⇔ cast-to-date < CutWarehouse, but pushed down
      .select(o("o_orderkey").as("wh_orderkey"),
        (o("o_orderkey") + lit(1000000L)).as("wh_sk"))

    // A1: max existing SK — kept in-plan via crossJoin of a 1-row agg
    // (no driver-side collect; reference pushes this to Synapse).
    val maxSk = warehouse.agg(coalesce(max("wh_sk"), lit(1000000L)).as("max_sk"))

    // updates: dirty curated rows that already exist in the warehouse
    // keep their existing SK (F3 + J3).
    val updates = curated
      .filter(col("is_updated") === "Y")
      .join(warehouse, curated("o_orderkey") === col("wh_orderkey"))
      .select(curated.columns.toIndexedSeq.map(curated(_)) :+ col("wh_sk").as("sk"): _*)

    // inserts: curated rows not yet in the warehouse get fresh dense
    // keys continuing from max_sk (W1). Global row_number is fine for
    // daily-increment sizes; SurrogateKey.scalable is the 100 TB path.
    val inserts = curated
      .join(warehouse, curated("o_orderkey") === col("wh_orderkey"), "left_anti")
      .crossJoin(broadcast(maxSk))
      .withColumn("sk",
        col("max_sk") + row_number().over(Window.orderBy("o_orderkey")).cast(LongType))
      .drop("max_sk")

    updates.unionByName(inserts).orderBy("o_orderkey")
  }

  private val reconcileSql =
    s"""WITH curated AS (
       |  SELECT o.o_orderkey, c.c_name, n.n_name AS nation,
       |         CAST(CAST(o.o_totalprice AS DECIMAL(20,2)) AS DOUBLE) AS total_price,
       |         CAST(o.o_orderdate AS DATE) AS order_date,
       |         CASE WHEN o.o_orderstatus = 'O' THEN 'Y' ELSE 'N' END AS is_updated
       |  FROM orders o
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
       |warehouse AS (
       |  SELECT o_orderkey AS wh_orderkey, o_orderkey + 1000000 AS wh_sk
       |  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '$CutWarehouse'),
       |mx AS (SELECT COALESCE(MAX(wh_sk), 1000000) AS max_sk FROM warehouse),
       |updates AS (
       |  SELECT cu.*, w.wh_sk AS sk
       |  FROM curated cu JOIN warehouse w ON cu.o_orderkey = w.wh_orderkey
       |  WHERE cu.is_updated = 'Y'),
       |inserts AS (
       |  SELECT cu.*, mx.max_sk + ROW_NUMBER() OVER (ORDER BY cu.o_orderkey) AS sk
       |  FROM curated cu CROSS JOIN mx
       |  WHERE NOT EXISTS (SELECT 1 FROM warehouse w WHERE w.wh_orderkey = cu.o_orderkey))
       |SELECT * FROM updates UNION ALL SELECT * FROM inserts ORDER BY o_orderkey
       |""".stripMargin

  // ===================================================================
  // Scans / projections
  // ===================================================================

  /** S3+P1+P2 — projection with aliasing straight off the scan; the
    * explain plan must show ReadSchema with exactly these columns.
    */
  def s3ScanProject(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name").as("customer_name"), col("c_mktsegment"))
      .orderBy("c_custkey")

  /** S7+S10 oracle-grade round-trip: write orders through the
    * partitioned sink (`RawZone.overwritePartitioned` — repartition by
    * partition cols, hive layout, one file per partition), read the
    * layout back with a partition predicate, and return the pruned
    * content. The oracle computes the same slice straight from the
    * source table, so a partition mis-write (lost rows, wrong
    * directory, type drift in partition values) hash-mismatches.
    * Partition values are ints on both sides — Spark's partition-value
    * inference parses the directory names back to int, keeping the
    * read-back schema engine-independent. `RawZoneSpec` separately
    * asserts the physical layout and that the predicate prunes
    * (PartitionFilters) rather than scanning all partitions.
    */
  def s7PartitionedWrite(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir("s7-roundtrip", dir)
    // 3-year slice (36 partitions), raw-ts predicates so the scan
    // prunes: at test scale a partitioned write is bound by filesystem
    // metadata (one dir + commit rename per partition), so 36
    // partitions exercises layout/pruning identically to the full 84
    // at half the constant overhead. The oracle's (1997, 03) slice is
    // inside the written range either way.
    val src = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1999-01-01"))
      .select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast(DecimalType(20, 2)).cast(DoubleType).as("total_price"),
      year(col("o_orderdate")).as("year"),
      month(col("o_orderdate")).as("month"))
    RawZone.overwritePartitioned(src, out, Seq("year", "month"))
    spark.read.parquet(out)
      .filter(col("year") === 1997 && col("month") === 3)
      .select("o_orderkey", "o_custkey", "total_price", "year", "month")
      .orderBy("o_orderkey")
  }

  /** S3 failure-mode ingest, oracle-grade: a CSV with malformed rows
    * (the reference's actual daily hazard — hand-maintained OWID CSVs,
    * `main.py:75-79`) read through the declared-schema PERMISSIVE scan
    * (`RawZone.csv`), with unparseable fields arriving as NULLs and
    * routed into kept/dropped tallies — the quality-gate shape: a bad
    * row degrades a counter, never aborts a 100 TB job.
    *
    * The fixture is written by the query itself (exact bytes, fixed
    * path) so the DuckDB oracle reads the SAME file. Corruptions are
    * restricted to clearly-non-numeric tokens: the engines disagree on
    * edge lexemes (DuckDB CSV-casts '7.5' to BIGINT 8 by rounding,
    * Spark NULLs it; empty string is NULL-not-error in both but our
    * kept-rule would then diverge from row-level dropping), so the
    * fixture stays on the shared subset. The oracle deliberately does
    * NOT use `read_csv(ignore_errors)`: DuckDB only parses projected
    * columns, so whether a malformed row is dropped depends on which
    * columns the optimizer prunes — COUNT(*) over the same CTE can see
    * 10 rows where SUM(val) sees 9. `all_varchar` + TRY_CAST pins
    * row-level semantics engine-independently.
    */
  def s3MalformedScan(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    val p = java.nio.file.Paths.get(MalformedCsvPath)
    java.nio.file.Files.createDirectories(p.getParent)
    // atomic publish (temp + move): the oracle's DuckDB process reads
    // this exact path later — a plain write could expose a truncated
    // file to a concurrent reader
    val tmp = java.nio.file.Files.createTempFile(p.getParent, "s3_malformed", ".tmp")
    java.nio.file.Files.write(tmp, MalformedCsvContent.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("val", LongType),
      StructField("name", StringType)))
    RawZone.csv(spark, MalformedCsvPath, schema)
      .select(col("id"), col("val"),
        (col("id").isNotNull && col("val").isNotNull).as("ok"))
      .groupBy("ok")
      .agg(count(lit(1)).as("n"), sum("val").as("s"), max("id").as("m"))
      .select(
        when(col("ok"), "kept").otherwise("dropped").as("bucket"),
        col("n").as("n_rows"),
        when(col("ok"), col("s")).as("sum_val"),
        when(col("ok"), col("m")).as("max_id"))
      .orderBy("bucket")
  }

  // pid-scoped like scratchDir: each JVM publishes its own fixture and
  // its oracle SQL (built in the same JVM) references that same path.
  // NOT covered by the scratchRoot exit hook — the oracle's DuckDB
  // process reads the file after this JVM exits — so stale siblings
  // are swept at publish time instead (dead pid AND > 6 h old: the
  // age floor protects the just-exited-Verify → driver-DuckDB window).
  private val MalformedCsvPath =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s3_malformed.csv"

  private def sweepStaleFixtureDirs(): Unit = {
    val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
    val self = ProcessHandle.current().pid()
    val dirs = Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
    dirs.filter(_.getName.startsWith("graft-fixtures-p")).foreach { d =>
      val pid = d.getName.stripPrefix("graft-fixtures-p").takeWhile(_.isDigit)
      val dead = pid.nonEmpty && pid.toLong != self &&
        ProcessHandle.of(pid.toLong).map[Boolean](h => !h.isAlive).orElse(true)
      if (dead && d.lastModified() < cutoff)
        org.apache.commons.io.FileUtils.deleteQuietly(d)
    }
  }
  private val MalformedCsvContent =
    """id,val,name
      |1,10,alpha
      |2,20,beta
      |bad,30,gamma
      |4,notanint,delta
      |5,50,epsilon
      |6,60,zeta
      |7,70,eta
      |8,80,theta
      |9,90,iota
      |x,y,lambda
      |""".stripMargin

  private val s3MalformedScanSql =
    s"""WITH raw AS (
       |  SELECT TRY_CAST(id AS BIGINT) AS id, TRY_CAST(val AS BIGINT) AS val,
       |    (TRY_CAST(id AS BIGINT) IS NOT NULL AND TRY_CAST(val AS BIGINT) IS NOT NULL) AS ok
       |  FROM read_csv('$MalformedCsvPath', header=true, all_varchar=true))
       |SELECT CASE WHEN ok THEN 'kept' ELSE 'dropped' END AS bucket,
       |  COUNT(*) AS n_rows,
       |  CAST(CASE WHEN ok THEN SUM(val) END AS BIGINT) AS sum_val,
       |  CASE WHEN ok THEN MAX(id) END AS max_id
       |FROM raw GROUP BY ok ORDER BY bucket""".stripMargin

  /** P4 — uppercase-first-letter column rename (metadata-only). */
  def p4UpperCols(spark: SparkSession, dir: String): DataFrame =
    Transform.upperFirstCols(Tables.nation(spark, dir)).orderBy("N_nationkey")

  /** P8 — Year int + zero-padded Month string date parts. */
  def p8DateParts(spark: SparkSession, dir: String): DataFrame =
    Transform.withDateParts(
        Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderdate").cast(DateType).as("order_date")),
        "order_date")
      .orderBy("o_orderkey")

  /** P9 — declarative cast-with-rounding (Decimal2/Decimal1/Int/Date of
    * the reference cast spec). Rounding runs on DECIMAL (HALF_UP in
    * both engines) and is cast to DOUBLE at the edge.
    */
  def p9CastRound(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round((col("l_extendedprice") * col("l_discount")).cast(DecimalType(20, 6)), 2)
          .cast(DoubleType).as("disc_amount"),
        round(col("l_tax").cast(DecimalType(20, 6)), 1).cast(DoubleType).as("tax_1dp"),
        col("l_quantity").cast(IntegerType).as("qty_int"),
        col("l_shipdate").cast(DateType).as("ship_date"))
      .orderBy("l_orderkey", "l_linenumber")

  /** P10 — null-fill after a null-producing left join: orders without
    * large lineitems get 0s.
    */
  def p10FillNa(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select("o_orderkey")
    val big = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 45)
      .groupBy("l_orderkey")
      .agg(sumd(col("l_extendedprice")).as("big_price"), count(lit(1)).as("big_cnt"))
    o.join(big, o("o_orderkey") === big("l_orderkey"), "left")
      .select(o("o_orderkey"), col("big_price"), col("big_cnt"))
      .na.fill(0)
      .orderBy("o_orderkey")
  }

  // ===================================================================
  // Filters / pivot
  // ===================================================================

  /** F1 — the reference's pivot-by-filter (4 filtered scans re-joined,
    * `main.py:111-114,217-220`) re-expressed as ONE pass: conditional
    * aggregation. At 100 TB this is 1 scan + 1 shuffle instead of the
    * reference's 4 scans + 4 joins.
    */
  def f1PivotFilter(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def piv(t: String) =
      coalesce(sum(when(col("event_type") === t, col("value").cast(DecimalType(20, 2)))),
        lit(0).cast(DecimalType(20, 2))).cast(DoubleType)
    e.groupBy("user_id")
      .agg(
        piv("click").as("click_value"),
        piv("view").as("view_value"),
        piv("purchase").as("purchase_value"),
        piv("signup").as("signup_value"),
        piv("error").as("error_value"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** F2 — incremental split: pinned-"yesterday" date predicate flags
    * insert rows vs restated (update) rows.
    */
  def f2DateSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1998-06-01") &&
        col("l_shipdate") < ts("1998-07-01")) // ⇔ date BETWEEN 06-01 AND 06-30, pushed down
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate").cast(DateType).as("ship_date"),
        when(col("l_shipdate").cast(DateType) === d(PinYesterday), "Y").otherwise("N")
          .as("is_insert"))
      .orderBy("l_orderkey", "l_linenumber")

  // ===================================================================
  // Joins
  // ===================================================================

  /** J1 — dimension equi-join with explicit broadcast of the small
    * sides (nation 25 rows, region 5 — the reference's ~250-row
    * country map analogue).
    */
  def j1DimJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(c("c_custkey"), c("c_name"), n("n_name").as("nation"), r("r_name").as("region"))
      .orderBy("c_custkey")
  }

  /** J2 — multi-way left-join star assembly (the reference's 7-way
    * composite-key join, `main.py:213-220`): orders LEFT JOIN
    * pre-aggregated lineitem LEFT JOIN customer LEFT JOIN nation, with
    * null-fill on the fact measures (P6/P10 tail).
    */
  def j2MultiLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .groupBy("l_orderkey")
      .agg(sumd(col("l_quantity")).as("ret_qty"), count(lit(1)).as("ret_lines"))
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left")
      .join(c, o("o_custkey") === c("c_custkey"), "left")
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .select(
        o("o_orderkey"), c("c_name"), n("n_name").as("nation"),
        coalesce(col("ret_qty"), lit(0.0)).as("ret_qty"),
        coalesce(col("ret_lines"), lit(0L)).as("ret_lines"))
      .orderBy("o_orderkey")
  }

  /** Semi/anti join family (EXISTS / NOT EXISTS): customers with at
    * least one urgent order vs customers with none — one row per
    * customer, no fan-out (the defining semi-join property).
    */
  def j3SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val withUrgent = c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("Y").as("has_urgent"))
    val without = c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("N").as("has_urgent"))
    withUrgent.unionByName(without).orderBy("c_custkey")
  }

  // ===================================================================
  // Set ops
  // ===================================================================

  /** D1 — distinct projection (the reference's country map). */
  def d1DistinctMap(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select("c_nationkey", "c_mktsegment")
      .distinct()
      .orderBy("c_nationkey", "c_mktsegment")

  /** SET1 — EXCEPT DISTINCT change detection: "today's file minus
    * yesterday's file" (`main.py:89-93`). Spark `except` ≡ PySpark
    * `subtract` ≡ SQL EXCEPT (distinct). NOTE the reference's
    * `main.py:93` self-subtracts full_data (always empty — a latent
    * bug); we implement the intended today-vs-yesterday form.
    */
  def set1Except(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val proj = Seq(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_shipdate").cast(DateType).as("ship_date"))
    // raw-timestamp filters (pushed to the scan) BEFORE the date cast
    val today     = li.filter(col("l_shipdate") < ts("1997-01-01")).select(proj: _*)
    val yesterday = li.filter(col("l_shipdate") < ts("1996-01-01")).select(proj: _*)
    today.except(yesterday).orderBy("l_orderkey", "l_partkey", "l_suppkey")
  }

  /** SET2 — positional union of the update and insert branches after a
    * shared canonical projection (`main.py:287`). Spark `union` is
    * UNION ALL, matching PySpark.
    */
  def set2Union(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val proj = Seq(col("o_orderkey"), col("o_orderdate").cast(DateType).as("order_date"))
    val updates = o.filter(col("o_orderdate") < ts(CutYesterday))
      .select(proj: _*).withColumn("src", lit("U"))
    val inserts = o.filter(col("o_orderdate") >= ts("2001-01-01"))
      .select(proj: _*).withColumn("src", lit("I"))
    updates.union(inserts).orderBy("o_orderkey")
  }

  /** SET3 — by-NAME union with missing-column tolerance
    * (`unionByName(allowMissingColumns = true)`): the schema-drift-safe
    * twin of SET2. The two branches project the same logical columns
    * in DIFFERENT physical order and the second branch is missing
    * `price` entirely (an upstream feed that dropped a field mid-
    * history); by-name resolution realigns the columns and null-fills
    * the gap, where SET2's positional union would silently pour
    * status strings into the key column — the failure mode schema
    * evolution actually produces. Pure map-side on each branch, one
    * union, no shuffle before the output sort. Oracle aligns
    * explicitly (ANSI UNION ALL with NULL AS price).
    */
  def set3UnionByName(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val a = o.filter(col("o_orderdate") < ts(CutYesterday))
      .select(col("o_orderkey"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast(DecimalType(20, 2)).cast(DoubleType).as("price"))
    // reordered columns, `price` absent: by-name union must realign
    val b = o.filter(col("o_orderdate") >= ts("2001-01-01"))
      .select(col("o_orderstatus").as("status"), col("o_orderkey"))
    a.unionByName(b, allowMissingColumns = true).orderBy("o_orderkey")
  }

  private val set3UnionByNameSql =
    s"""SELECT o_orderkey, o_orderstatus AS status,
       |  CAST(CAST(o_totalprice AS DECIMAL(20,2)) AS DOUBLE) AS price
       |FROM orders WHERE o_orderdate < TIMESTAMP '$CutYesterday 00:00:00'
       |UNION ALL
       |SELECT o_orderkey, o_orderstatus AS status, NULL AS price
       |FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
       |ORDER BY o_orderkey""".stripMargin

  // ===================================================================
  // Aggregates
  // ===================================================================

  /** A1 — scalar aggregates (the reference pushes max(SK) to Synapse
    * via a JDBC query scan; natively it is one partial-agg plan).
    */
  def a1Max(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .agg(
        max("o_orderkey").as("value"),
        count(lit(1)).as("cnt"),
        min(col("o_orderdate").cast(DateType)).as("min_date"))

  /** groupBy + distinct aggregates (SURVEY §2.6 extension: the
    * reference imports countDistinct but never calls it).
    */
  def a2GroupbyAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_lines"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Headline scan-heavy aggregation (TPC-H Q1 shape) — the bench
    * anchor: one scan, partial agg map-side, 6-group result.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") < ts("1998-09-03")) // ⇔ date <= 1998-09-02, pushed down
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sumd(col("l_quantity")).as("sum_qty"),
        sumd(col("l_extendedprice")).as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(20, 4))).cast(DoubleType).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Hierarchical totals via ROLLUP (beyond-reference aggregation
    * surface): per (flag, status), per flag, and grand total in one
    * pass — Catalyst expands the grouping sets into a single shuffle.
    * Ordering pins NULLS FIRST explicitly (Spark's ASC default) so the
    * oracle's row order matches (DuckDB defaults NULLS LAST).
    */
  def a3Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_lines"),
        sumd(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Multi-dimensional totals via CUBE — all four grouping sets
    * ((flag,status), (flag), (status), ()) in one pass, disambiguated
    * by `grouping_id()` (bit i set ⇔ grouping column i aggregated
    * away — the identical bit convention in Spark and DuckDB's
    * `GROUPING(a, b)`). Completes [[a3Rollup]]'s hierarchy case with
    * the cross-dimensional slices a ROLLUP never emits ((status)
    * alone, here gid=2). Same single-shuffle expansion as ROLLUP:
    * Catalyst duplicates the input per grouping set map-side, one
    * exchange on the expanded key.
    */
  def a7Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_lines"),
        sumd(col("l_quantity")).as("sum_qty"))
      .orderBy(col("gid"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Explicit GROUPING SETS — the general form [[a3Rollup]] and
    * [[a7Cube]] are sugar for: ONLY the two single-dimension slices
    * ((flag) and (status)), no grand total and no pair — the shape a
    * warehouse user writes when a dashboard needs two independent
    * breakdowns of one scan. Same single-shuffle Expand as
    * ROLLUP/CUBE, but expanding ×2 instead of ×3/×4 — grouping sets
    * are strictly cheaper than unioning two separate GROUP BYs (one
    * scan, one exchange).
    */
  def a8GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_lines"),
        sumd(col("l_quantity")).as("sum_qty"))
      .orderBy(col("gid"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Memory guard for EXACT percentile aggregations: Spark's
    * `percentile` buffers EVERY group value in aggregation state (an
    * open hash map of (value, count) pairs), so one hot group in a
    * 100 TB fact table OOMs an executor silently mid-stage — the
    * worst failure mode, surfacing as a lost executor long after the
    * cause. This fails FAST instead: one partial-aggregated
    * group-count pass (shuffle carries group-cardinality rows) runs
    * BEFORE the buffering aggregate, and any group over
    * `maxGroupRows` raises with the group named and the fix
    * prescribed — the constant-memory sketch path
    * ([[a6ApproxPercentile]]'s `approx_percentile`, deterministic
    * ≤N/accuracy rank error). The guard's `limit(1).collect()` is a
    * guard ACTION over at most one group-cardinality-sized row — the
    * same metadata-sized-by-design rationale as
    * `RawZone.processedFiles` — never a driver loop over data.
    *
    * Default threshold 10M rows/group ≈ hundreds of MB of agg state
    * for distinct-heavy doubles: the order of magnitude where a
    * single group's exact buffer stops fitting comfortably in an
    * executor's aggregation memory.
    */
  def requireGroupsFitExactPercentile(
      df: DataFrame, groupCols: Seq[String],
      maxGroupRows: Long = ExactPercentileMaxGroupRows): Unit = {
    val hot = df.groupBy(groupCols.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("_n")).filter(col("_n") > maxGroupRows)
      .limit(1).collect()
    if (hot.nonEmpty)
      throw new IllegalStateException(
        s"exact percentile would buffer ${hot.head.getLong(hot.head.length - 1)} values for group " +
          groupCols.zipWithIndex.map { case (c, i) => s"$c=${hot.head.get(i)}" }.mkString("(", ", ", ")") +
          s" (limit $maxGroupRows): use approx_percentile (a6_approx_percentile) — " +
          "constant-memory with a deterministic rank-error bound — for groups this size")
  }

  val ExactPercentileMaxGroupRows: Long = 10L * 1000 * 1000

  /** Exact interpolated percentiles (order statistics). Spark's
    * `percentile` and DuckDB's `quantile_cont` share the standard
    * linear-interpolation-at-(n-1)p formula — verified bit-identical
    * on this data, so the oracle is exact (for sketch-based quantiles
    * at 100 TB use `approx_percentile`, cf. x_approx_distinct).
    * Guarded by [[requireGroupsFitExactPercentile]]: the exact form
    * is only safe while every group's value buffer fits in executor
    * memory, and the guard converts the silent-OOM failure mode into
    * a fast, named error.
    */
  def a4Percentile(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    requireGroupsFitExactPercentile(l, Seq("l_returnflag"))
    l.groupBy("l_returnflag")
      .agg(
        percentile(col("l_extendedprice"), lit(0.25)).as("p25"),
        percentile(col("l_extendedprice"), lit(0.5)).as("p50"),
        percentile(col("l_extendedprice"), lit(0.95)).as("p95"))
      .orderBy("l_returnflag")
  }

  /** Full-catalog star join — the one query exercising EVERY remaining
    * dimension table (part, supplier, nation, region): revenue by
    * region and part brand over size-filtered parts. All four dims
    * broadcast (the largest, part, is size-pruned first), so the fact
    * side is never shuffled — one scan of lineitem into a 4-way
    * broadcast-hash-join chain and one aggregation shuffle on the
    * (region, brand) grouping key. The TPC-H Q9 shape, Spark-first.
    */
  def j5CatalogStar(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir).filter(col("p_size") <= 20)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(r("r_name").as("region"), p("p_brand").as("brand"))
      .agg(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(20, 4))).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("region", "brand")
  }

  /** Sketch-based percentile next to its exact twin — the
    * constant-memory quantile path for 100 TB-scale order statistics.
    * `approx_percentile(_, p, accuracy)` carries a DETERMINISTIC
    * rank-error guarantee (≤ N/accuracy, not a probabilistic sigma
    * like HLL), so the driver-verified boolean is airtight: with
    * accuracy=100 the returned element's rank is within 1% of the
    * median, hence its VALUE must lie inside the exact [p45, p55]
    * window (5× margin keeps the check engine-portable while still
    * meaningful). The sketch value itself stays engine-specific and
    * unoracled, exactly like `x_approx_distinct`.
    */
  def a6ApproxPercentile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        percentile(col("l_extendedprice"), lit(0.5)).as("exact_p50"),
        expr("approx_percentile(l_extendedprice, 0.5D, 100)").as("approx_raw"),
        percentile(col("l_extendedprice"), lit(0.45)).as("lo"),
        percentile(col("l_extendedprice"), lit(0.55)).as("hi"))
      .select(
        col("l_returnflag"), col("exact_p50"),
        (col("approx_raw") >= col("lo") && col("approx_raw") <= col("hi"))
          .as("approx_in_range"))
      .orderBy("l_returnflag")

  /** A12 — winsorization: clip each order's price to its status
    * group's exact [p05, p95] window — the outlier-capping twin of
    * `a11_outliers`' rank view (capping repairs the feature, ranking
    * only reports it). Per-group bounds are ONE grouped percentile
    * aggregate (group-count rows) broadcast back onto the fact side —
    * the fact table is never shuffled, the same scalar-broadcast
    * pattern as `q_reconcile`'s max-key. `percentile`/`quantile_cont`
    * share the (n-1)p interpolation formula (a4's verified parity),
    * so the clipped values oracle exactly; `least(greatest(...))`
    * evaluates identically in both engines. Exact percentiles buffer
    * group values (the a4 memory note) — at 100 TB swap in
    * `approx_percentile` bounds (a6) without changing the clip shape.
    */
  def a12Winsorize(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_orderstatus").as("status"),
      col("o_totalprice").as("price"))
    val bounds = o.groupBy("status").agg(
      percentile(col("price"), lit(0.05)).as("lo"),
      percentile(col("price"), lit(0.95)).as("hi"))
    o.join(broadcast(bounds), "status")
      .select(col("o_orderkey"), col("status"), col("price"),
        least(greatest(col("price"), col("lo")), col("hi")).as("clipped"),
        (col("price") < col("lo") || col("price") > col("hi")).as("was_clipped"))
      .orderBy("o_orderkey")
  }

  private val a12WinsorizeSql =
    """WITH b AS (SELECT o_orderstatus AS status,
      |    quantile_cont(o_totalprice, 0.05) AS lo,
      |    quantile_cont(o_totalprice, 0.95) AS hi
      |  FROM orders GROUP BY 1)
      |SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS price,
      |  LEAST(GREATEST(o_totalprice, lo), hi) AS clipped,
      |  (o_totalprice < lo OR o_totalprice > hi) AS was_clipped
      |FROM orders JOIN b ON o_orderstatus = b.status
      |ORDER BY o_orderkey""".stripMargin

  /** regexp_replace surface (the reference imports it at `main.py:19`
    * but never calls it — SURVEY §2.8 flags it as intended-but-unbuilt
    * surface we cover). Patterns are shared-dialect ([0-9], literal
    * classes) so Java regex and DuckDB's RE2 agree; DuckDB needs the
    * explicit 'g' flag to match Spark's replace-all default.
    */
  def p12RegexpClean(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        regexp_replace(col("o_orderpriority"), "[0-9]+-", "").as("priority_clean"),
        regexp_replace(col("o_orderstatus"), "[OF]", "X").as("status_masked"),
        length(regexp_replace(col("o_orderpriority"), "[^A-Z]", ""))
          .cast(LongType).as("n_upper")) // BIGINT like DuckDB length()
      .orderBy("o_orderkey")

  /** Deterministic second-moment statistics: stddev and correlation
    * derived from DECIMAL-exact sums (n, Σx, Σx², Σy, Σy², Σxy), then
    * combined in double with the same expression shape as the oracle —
    * no accumulation-order nondeterminism, unlike the built-in
    * `stddev`/`corr` whose double running sums depend on partitioning.
    * The derived values are rounded to 10 dp: the decimal SUMS are
    * bit-exact, but decimal→double CONVERSION is not guaranteed
    * identical across engines (DuckDB divides a rounded int128 image
    * by 10^scale — two roundings — where Java's BigDecimal.doubleValue
    * rounds once; measured: a 1-ULP corr divergence at sf0.001 only).
    * 10 dp is ~6 orders finer than the statistics' meaning and far
    * coarser than 1 ULP, so the rounded oracle is robust at every sf.
    */
  def a5Stats(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_extendedprice")
    val y = col("l_quantity")
    def s(c: org.apache.spark.sql.Column, scale: Int) =
      sum(c.cast(DecimalType(38, scale))).cast(DoubleType)
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast(DoubleType).as("n"),
        s(x, 2).as("sx"), s(x * x, 4).as("sxx"),
        s(y, 2).as("sy"), s(y * y, 4).as("syy"),
        s(x * y, 4).as("sxy"))
      .select(
        col("l_returnflag"),
        col("n").cast(LongType).as("n_rows"),
        round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / col("n")), 10)
          .as("stddev_pop_price"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
          (sqrt(col("sxx") - col("sx") * col("sx") / col("n")) *
            sqrt(col("syy") - col("sy") * col("sy") / col("n"))), 10).as("corr_price_qty"))
      .orderBy("l_returnflag")
  }

  // ===================================================================
  // Windows
  // ===================================================================

  /** W1 — dense surrogate keys continuing from a warehouse max. */
  def w1SurrogateKey(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey", "c_name")
    SurrogateKey.ordered(dim, "sk", Seq("c_custkey"), 1000000L)
      .orderBy("c_custkey")
  }

  /** W1 scale path — `SurrogateKey.scalable` over a fact-sized input:
    * per-partition zipWithIndex offsets, NO global sort (vs
    * [[w1SurrogateKey]]'s single-partition `row_number` window, which
    * is the right tool only for dimension/increment-sized inputs).
    * Keys are partition-order-dependent, so the oracle verifies the
    * dense-set CONTRACT — min = start+1, max = start+n, n distinct
    * keys — exactly the guarantee of the reference's
    * `rdd.zipWithIndex` assignment (`main.py:283-286`), not a
    * per-row mapping no engine promises.
    */
  def w1SurrogateKeyScalable(spark: SparkSession, dir: String): DataFrame = {
    val keyed = SurrogateKey.scalable(
      Tables.lineitem(spark, dir).select("l_orderkey", "l_linenumber"),
      "sk", startAt = 1000000L)
    keyed.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("sk")).as("n_keys"),
      min("sk").as("min_sk"),
      max("sk").as("max_sk"))
  }

  /** Running sum per partition — frame-spec window (beyond-reference
    * window surface; explicit ROWS frame for engine parity).
    */
  def w2RunningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("order_date", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast(DateType).as("order_date"),
        col("o_totalprice").cast(DecimalType(20, 2)).as("price_dec"))
      .withColumn("running_total", sum(col("price_dec")).over(w).cast(DoubleType))
      .select("o_orderkey", "o_custkey", "order_date", "running_total")
      .orderBy("o_orderkey")
  }

  /** RANGE-frame window: per customer, the rolling total of orders
    * within the preceding 90 days of each order — a value-based frame
    * (every row whose ordering value falls in [cur-90, cur]), vs W2's
    * row-count frame. Ordering key is integer days-since-epoch so both
    * engines share the exact frame arithmetic; sums are decimal-exact.
    */
  def w4RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val days = datediff(col("o_orderdate").cast(DateType), to_date(lit("1970-01-01")))
    val w = Window.partitionBy("o_custkey").orderBy("order_day")
      .rangeBetween(-90, Window.currentRow)
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"), col("o_custkey"),
        days.cast(LongType).as("order_day"), // BIGINT like DuckDB datediff
        col("o_totalprice").cast(DecimalType(20, 2)).as("price_dec"))
      .withColumn("rolling_90d", sum(col("price_dec")).over(w).cast(DoubleType))
      .withColumn("n_in_window", count(lit(1)).over(w))
      .select("o_orderkey", "o_custkey", "order_day", "rolling_90d", "n_in_window")
      .orderBy("o_orderkey")
  }

  /** lag/lead delta per key — sequence window. */
  def w3LagDelta(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("prev_value", lag("value", 1).over(w))
      .withColumn("delta", col("value") - col("prev_value"))
      .orderBy("event_id")
  }

  // ===================================================================
  // Merge family (M1-M4) — join-based upserts over graft.ops.Upsert
  // ===================================================================

  /** M1 — update-only merge: restated rows overwrite mapped columns of
    * the curated table; everything else passes through.
    */
  def m1UpdateMerge(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val target = o.select(
      col("o_orderkey"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").cast(DecimalType(20, 2)).cast(DoubleType).as("total_price"),
      col("o_orderdate").cast(DateType).as("order_date"))
    val updates = o
      .filter(col("o_orderstatus") === "O" &&
        col("o_orderdate") >= ts(CutWarehouse)) // pushed down (raw ts, no cast)
      .select(
        col("o_orderkey").as("u_orderkey"),
        lit("F").as("u_status"),
        round((col("o_totalprice") * 1.05).cast(DecimalType(20, 6)), 2)
          .cast(DoubleType).as("u_price"))
    Upsert.updateMerge(target, updates,
        keys = Seq("o_orderkey" -> "u_orderkey"),
        mapping = Map("status" -> "u_status", "total_price" -> "u_price"))
      .orderBy("o_orderkey")
  }

  /** M2 — full upsert: matched rows updated, new rows inserted. */
  def m2FullUpsert(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val base = c.select(
      col("c_custkey"), col("c_name"),
      col("c_acctbal").cast(DecimalType(20, 2)).cast(DoubleType).as("acctbal"))
    // sf-proportional split bounds, kept IN-PLAN (no driver-side
    // count()): a 1-row broadcast agg cross-joined into the filters —
    // double division on both sides, exactly like the oracle's
    // `cnt * 2 / 3` (DuckDB integer / is double division too)
    val cnt = broadcast(base.agg(count(lit(1)).as("_n")))
    val target = base.crossJoin(cnt)
      .filter(col("c_custkey") <= col("_n") * 2 / 3).drop("_n")
    val updates = base.crossJoin(cnt)
      .filter(col("c_custkey") > col("_n") / 3).drop("_n")
      .select(
        col("c_custkey"),
        concat(col("c_name"), lit("_v2")).as("c_name"),
        round((col("acctbal") + 100.0).cast(DecimalType(20, 6)), 2)
          .cast(DoubleType).as("acctbal"))
    Upsert.fullUpsert(target, updates, Seq("c_custkey")).orderBy("c_custkey")
  }

  /** M3 — last-writer-wins staged upsert keyed on event_id, version =
    * a shifted timestamp (staging newer for even ids, older for odd,
    * tied for ids ≡ 0 mod 3 → staging wins the tie, mirroring the
    * reference's `>=` comparison in `load_functions.py:29-37`).
    */
  def m3LwwUpsert(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val base = e.select(
      col("event_id"), col("user_id"),
      col("value").cast(DecimalType(20, 2)).cast(DoubleType).as("value"),
      col("ts").cast(DateType).as("version_date"))
    val target = base
      .filter(col("event_id") % 4 =!= 3)
      .withColumn("version", lit(100L))
      .withColumn("src", lit("target"))
    val staging = base
      .filter(col("event_id") % 2 === 0)
      .withColumn("value", col("value") * 2.0)
      .withColumn("version",
        when(col("event_id") % 3 === 0, lit(100L))       // tie -> staging wins
          .when(col("event_id") % 4 === 0, lit(200L))    // staging newer
          .otherwise(lit(50L)))                          // staging older
      .withColumn("src", lit("staging"))
    Upsert.lwwUpsert(target, staging, Seq("event_id"), Some("version"))
      .orderBy("event_id")
  }

  /** M4 — single-column flag reset after warehouse sync
    * (`main.py:293-304`): synced keys flip Is_updated Y→N.
    */
  def m4FlagReset(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val curated = o.select(
      col("o_orderkey"),
      when(col("o_orderstatus") === "O", "Y").otherwise("N").as("is_updated"))
    val synced = o
      .filter(col("o_orderdate") < ts(CutWarehouse)) // pushed down (raw ts, no cast)
      .select(col("o_orderkey").as("s_orderkey"), lit("N").as("new_flag"))
    Upsert.updateMerge(curated, synced,
        keys = Seq("o_orderkey" -> "s_orderkey"),
        mapping = Map("is_updated" -> "new_flag"))
      .orderBy("o_orderkey")
  }

  // ===================================================================
  // Warehouse history operators: SCD2, CDC snapshot diff
  // ===================================================================

  private val TsFmt = "yyyy-MM-dd HH:mm:ss"

  /** M5 — Slowly-Changing-Dimension Type 2 history build: collapse an
    * event stream into effective-dated status rows. Per user, ordered
    * by (ts, event_id), consecutive repeats of the same status merge
    * into one row spanning `[effective_from, effective_to)`; the open
    * row (`effective_to IS NULL`) is `is_current`. This is the
    * dimension-history shape every warehouse maintains for
    * point-in-time joins (the as-of join `x_asof_join` is its query
    * twin). Scale: ONE shuffle on user_id — the change-detect lag and
    * the close-date lead share the same partitioning and ordering, so
    * Catalyst plans a single exchange and the second window rides the
    * first's sort (the filter between them preserves both). Rows per
    * user = status changes, not events.
    */
  def m5Scd2(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val chg = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("status"))
      .withColumn("prev", lag("status", 1).over(byUser))
      .filter(col("prev").isNull || col("prev") =!= col("status"))
      .drop("prev")
    chg
      .withColumn("eff_to", lead("ts", 1).over(byUser))
      .select(
        col("event_id").as("change_id"), col("user_id"), col("status"),
        date_format(col("ts"), TsFmt).as("effective_from"),
        date_format(col("eff_to"), TsFmt).as("effective_to"),
        col("eff_to").isNull.as("is_current"))
      .orderBy("change_id")
  }

  private val m5Scd2Sql =
    """WITH chg AS (
      |  SELECT user_id, ts, event_id, status FROM (
      |    SELECT user_id, ts, event_id, event_type AS status,
      |      LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |    FROM events)
      |  WHERE prev IS NULL OR prev <> status),
      |scd AS (
      |  SELECT user_id, status, event_id, ts,
      |    LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS eff_to
      |  FROM chg)
      |SELECT event_id AS change_id, user_id, status,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS effective_from,
      |  strftime(eff_to, '%Y-%m-%d %H:%M:%S') AS effective_to,
      |  (eff_to IS NULL) AS is_current
      |FROM scd ORDER BY change_id""".stripMargin

  /** M6 — CDC snapshot diff: classify every key across two table
    * versions as insert / update / delete (unchanged rows drop out) —
    * the change feed a downstream incremental consumer replays. The
    * two versions are deterministic derivations of `orders`: version A
    * is the pre-2001 snapshot; version B restates open-status prices
    * (+10.00 — an exact IEEE add on 2-dp values), admits the 2001
    * rows (inserts), and loses every 97th key (deletes). Scale: ONE
    * full-outer sort-merge join on the key — both sides hash-partition
    * on o_orderkey, no broadcast (snapshots are the same order of
    * magnitude by construction), and the change classification is
    * map-side on the joined row. This is the plan a 100 TB
    * snapshot-diff wants; at petabyte scale the same query runs
    * per-partition if the snapshots share a layout.
    */
  def m6CdcDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def price = col("o_totalprice").cast(DecimalType(20, 2)).cast(DoubleType)
    val snapA = o.filter(col("o_orderdate") < ts("2001-01-01"))
      .select(col("o_orderkey").as("k"), price.as("price"),
        col("o_orderstatus").as("status"))
    val snapB = o.filter(col("o_orderkey") % 97 =!= 0)
      .select(col("o_orderkey").as("k"),
        (price + when(col("o_orderstatus") === "O", lit(10.0)).otherwise(lit(0.0)))
          .as("price"),
        col("o_orderstatus").as("status"))
    graft.ops.ChangeFeed.diff(snapA, snapB,
        key = "k", compare = Seq("price", "status"), keyOut = "o_orderkey")
      .select("o_orderkey", "change_type", "old_price", "new_price")
      .orderBy("o_orderkey")
  }

  private val m6CdcDiffSql =
    """WITH a AS (
      |  SELECT o_orderkey AS k, CAST(CAST(o_totalprice AS DECIMAL(20,2)) AS DOUBLE) AS price,
      |    o_orderstatus AS st
      |  FROM orders WHERE o_orderdate < TIMESTAMP '2001-01-01 00:00:00'),
      |b AS (
      |  SELECT o_orderkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(20,2)) AS DOUBLE)
      |      + CASE WHEN o_orderstatus = 'O' THEN 10.0 ELSE 0.0 END AS price,
      |    o_orderstatus AS st
      |  FROM orders WHERE o_orderkey % 97 <> 0)
      |SELECT COALESCE(a.k, b.k) AS o_orderkey,
      |  CASE WHEN a.k IS NULL THEN 'insert' WHEN b.k IS NULL THEN 'delete'
      |       ELSE 'update' END AS change_type,
      |  a.price AS old_price, b.price AS new_price
      |FROM a FULL OUTER JOIN b ON a.k = b.k
      |WHERE a.k IS NULL OR b.k IS NULL OR a.price <> b.price OR a.st <> b.st
      |ORDER BY o_orderkey""".stripMargin

  /** M7 — schema-EVOLVING upsert ([[graft.ops.Upsert.evolveUpsert]]):
    * the update feed GREW a column (`channel`) and DROPPED one the
    * target has (`status`) — Delta's MERGE-with-autoMerge behavior.
    * The contract under test: matched rows update only source-present
    * columns (their `status` SURVIVES the match), target-only rows
    * null-backfill the new column, inserts null the dropped one.
    * Same single full-outer shuffle as m2; widening is projection.
    * Oracle expresses the same rules directly on the join.
    */
  def m7EvolveUpsert(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def price = col("o_totalprice").cast(DecimalType(20, 2))
    val target = o.filter(col("o_orderkey") <= 4000)
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
        price.cast(DoubleType).as("price"))
    val updates = o.filter(col("o_orderkey").between(2001, 8000))
      .select(col("o_orderkey"),
        (price + lit(BigDecimal("10.00")).cast(DecimalType(20, 2)))
          .cast(DoubleType).as("price"),
        lit("web").as("channel")) // new column; `status` absent
    Upsert.evolveUpsert(target, updates, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  private val m7EvolveUpsertSql =
    """WITH t AS (
      |  SELECT o_orderkey, o_orderstatus AS status,
      |    CAST(CAST(o_totalprice AS DECIMAL(20,2)) AS DOUBLE) AS price
      |  FROM orders WHERE o_orderkey <= 4000),
      |u AS (
      |  SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(20,2)) + CAST('10.00' AS DECIMAL(20,2)) AS DOUBLE) AS price,
      |    'web' AS channel
      |  FROM orders WHERE o_orderkey BETWEEN 2001 AND 8000)
      |SELECT COALESCE(t.o_orderkey, u.o_orderkey) AS o_orderkey,
      |  t.status AS status,
      |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.price ELSE t.price END AS price,
      |  u.channel AS channel
      |FROM t FULL OUTER JOIN u ON t.o_orderkey = u.o_orderkey
      |ORDER BY o_orderkey""".stripMargin

  /** A9 — fixed-width histogram: bucket = `floor(price / 20000.0)`
    * (one IEEE divide + floor, engine-identical), per-bucket count,
    * exact min/max, and decimal-exact sum. The profiling query every
    * warehouse runs before choosing partition ranges; one partial-agg
    * shuffle carrying `n_buckets` rows.
    */
  def a9Histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(floor(col("o_totalprice") / lit(20000.0)).cast(LongType).as("bucket"))
      .agg(
        count(lit(1)).as("n_orders"),
        min("o_totalprice").as("min_price"),
        max("o_totalprice").as("max_price"),
        sumd(col("o_totalprice")).as("sum_price"))
      .orderBy("bucket")

  private val a9HistogramSql =
    """SELECT CAST(FLOOR(o_totalprice / 20000.0) AS BIGINT) AS bucket,
      |  COUNT(*) AS n_orders, MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  /** S11 — schema-evolution round-trip: two batch versions of the
    * documents table land in parquet with DIFFERENT schemas (v2 adds
    * `lang`), and a `mergeSchema` read unions the footers — old files
    * surface the new column as NULL, which the query routes to a
    * `<pre-evolution>` bucket. This is how a 100 TB lake absorbs a
    * producer schema change without rewriting history: merge-read is
    * footer-metadata work only, and per-file column absence prunes
    * exactly like any missing column (no data migration, no backfill
    * scan). The oracle recomputes the same aggregate from the source
    * table with the batch rule inlined, so a wrong merge (dropped
    * rows, column misalignment, non-NULL backfill) hash-mismatches.
    */
  def s11SchemaMerge(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir("s11-evolution", dir)
    val d = Tables.documents(spark, dir)
    RawZone.overwrite(
      d.filter(col("doc_id") % 2 === 0).select("doc_id", "source", "n_chars"),
      s"$out/v1")
    RawZone.overwrite(
      d.filter(col("doc_id") % 2 =!= 0).select("doc_id", "source", "n_chars", "lang"),
      s"$out/v2")
    spark.read.option("mergeSchema", "true").parquet(s"$out/v1", s"$out/v2")
      .select(col("n_chars"),
        coalesce(col("lang"), lit("<pre-evolution>")).as("lang_eff"))
      .groupBy("lang_eff")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("lang_eff")
  }

  private val s11SchemaMergeSql =
    """SELECT CASE WHEN doc_id % 2 = 0 THEN '<pre-evolution>' ELSE lang END AS lang_eff,
      |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1 ORDER BY lang_eff""".stripMargin

  /** A10 — incremental aggregate maintenance: partial aggregation
    * state (sum/count/max — a commutative monoid, exactly Spark's own
    * map-side-partial contract) materialized per load window, then
    * MERGED by re-aggregation instead of rescanning history. The
    * query splits lineitem at the incremental cutoff into a "history"
    * state and a "delta" state and merges them; the oracle aggregates
    * the whole table directly — hash-equality proves state-merge ≡
    * full recompute. At 100 TB this is THE pattern that turns a daily
    * dashboard from a full-history scan into a delta-sized one: the
    * stored state is group-cardinality rows regardless of corpus
    * size, the daily cost is one scan of the new partition, and the
    * merge is a shuffle over state rows only. Decimal sums keep the
    * merge bit-exact under any split (double sums would drift with
    * grouping); `avg_qty` is recomposed from merged sum/count — avg
    * itself is NOT mergeable, its sum/count decomposition is.
    */
  def a10IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    def state(df: DataFrame): DataFrame =
      df.groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast(DecimalType(20, 2))).as("s_qty"),
          count(lit(1)).as("s_cnt"),
          max(col("l_shipdate").cast(DateType)).as("s_max"))
    val history = state(l.filter(col("l_shipdate") < ts(PinYesterday)))
    val delta   = state(l.filter(col("l_shipdate") >= ts(PinYesterday)))
    history.unionByName(delta)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("s_qty")).cast(DoubleType).as("sum_qty"),
        sum(col("s_cnt")).as("n_lines"),
        max(col("s_max")).as("max_ship"))
      .withColumn("avg_qty", col("sum_qty") / col("n_lines").cast(DoubleType))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val a10IncrementalAggSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_lines,
      |  MAX(CAST(l_shipdate AS DATE)) AS max_ship,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS avg_qty
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** P13 — one-pass column profile (count / nulls / distincts per
    * column), the data-quality audit a warehouse runs on every new
    * feed before trusting it. All three columns' statistics come from
    * ONE aggregation over ONE scan: multiple exact `countDistinct`s
    * compile to a single Expand (×3 rows map-side, one shuffle) — the
    * documented trade for exact multi-column distincts; at extreme
    * scale swap in `approx_count_distinct` (the `x_approx_distinct`
    * path) to drop the expansion. The wide 1-row aggregate is then
    * unpivoted to one row per column with `stack` — plain projection,
    * no extra pass.
    */
  def p13Profile(spark: SparkSession, dir: String): DataFrame = {
    def nulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L))
    Tables.orders(spark, dir)
      .agg(
        count(lit(1)).as("n"),
        nulls("o_orderstatus").as("nn_status"),
        countDistinct(col("o_orderstatus")).as("nd_status"),
        nulls("o_custkey").as("nn_cust"),
        countDistinct(col("o_custkey")).as("nd_cust"),
        nulls("o_totalprice").as("nn_price"),
        countDistinct(col("o_totalprice")).as("nd_price"))
      .select(col("n"), expr(
        """stack(3,
          |  'o_custkey',     nn_cust,   nd_cust,
          |  'o_orderstatus', nn_status, nd_status,
          |  'o_totalprice',  nn_price,  nd_price)
          |AS (col_name, n_null, n_distinct)""".stripMargin))
      .select(col("col_name"), col("n"), col("n_null"), col("n_distinct"),
        (col("n_null").cast(DoubleType) / col("n").cast(DoubleType)).as("null_frac"))
      .orderBy("col_name")
  }

  private val p13ProfileSql =
    """WITH a AS (SELECT COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_status,
      |    COUNT(DISTINCT o_orderstatus) AS nd_status,
      |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_cust,
      |    COUNT(DISTINCT o_custkey) AS nd_cust,
      |    CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_price,
      |    COUNT(DISTINCT o_totalprice) AS nd_price
      |  FROM orders)
      |SELECT col_name, n, n_null, n_distinct,
      |  CAST(n_null AS DOUBLE) / CAST(n AS DOUBLE) AS null_frac
      |FROM (
      |  SELECT 'o_custkey' AS col_name, n, nn_cust AS n_null, nd_cust AS n_distinct FROM a
      |  UNION ALL
      |  SELECT 'o_orderstatus', n, nn_status, nd_status FROM a
      |  UNION ALL
      |  SELECT 'o_totalprice', n, nn_price, nd_price FROM a)
      |ORDER BY col_name""".stripMargin

  /** W5 — calendar densification (date-spine gap fill): daily order
    * totals joined onto a COMPLETE generated day spine, absent days
    * zero-filled — the step every time-series dashboard needs before
    * window math, because a groupBy emits no row for a day with no
    * data (and a `lag`/moving-average over gappy days silently spans
    * gaps). The spine is generated (`sequence` + explode — no table,
    * no scan); the fact side aggregates down to day cardinality
    * BEFORE the join, so the join is spine × day-counts — both
    * bounded by the calendar, independent of corpus size — and the
    * aggregate broadcasts. Filters on the raw timestamp push to the
    * scan.
    */
  def w5DateSpine(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1997-03-01"))
      .groupBy(col("o_orderdate").cast(DateType).as("day"))
      .agg(count(lit(1)).as("n_orders"), sumd(col("o_totalprice")).as("sum_price"))
    val spine = spark.range(1).select(explode(expr(
      "sequence(DATE '1997-01-01', DATE '1997-02-28', interval 1 day)")).as("day"))
    spine.join(broadcast(agg), Seq("day"), "left")
      .select(col("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("sum_price"), lit(0.0)).as("sum_price"))
      .orderBy("day")
  }

  private val w5DateSpineSql =
    """WITH agg AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_price
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1997-03-01 00:00:00'
      |  GROUP BY 1),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(DATE '1997-01-01', DATE '1997-02-28',
      |    INTERVAL 1 DAY)) AS DATE) AS day)
      |SELECT spine.day, COALESCE(n_orders, 0) AS n_orders,
      |  COALESCE(sum_price, 0.0) AS sum_price
      |FROM spine LEFT JOIN agg ON spine.day = agg.day
      |ORDER BY spine.day""".stripMargin

  /** A11 — statistical outlier ranking: the 20 orders most extreme by
    * population z-score of `o_totalprice`. Moments (n, Σx, Σx²) are
    * ONE decimal-exact 1-row aggregate broadcast back (the `a5_stats`
    * machinery), the z expression is mirrored op-for-op in the
    * oracle, and the result is a rank (top-|z|), not a threshold —
    * thresholds are distribution-fragile (this data is uniform: max
    * |z| ≈ 1.73, so a 3σ gate matches nothing ever), while "the k
    * most extreme" is the triage view an operator actually opens.
    * The top-k plans as `TakeOrderedAndProject` — O(k) per partition,
    * never a global sort.
    */
  def a11Outliers(spark: SparkSession, dir: String): DataFrame = {
    val x = col("o_totalprice")
    val m = Tables.orders(spark, dir).agg(
      count(lit(1)).cast(DoubleType).as("n"),
      sum(x.cast(DecimalType(38, 2))).cast(DoubleType).as("sx"),
      sum((x * x).cast(DecimalType(38, 4))).cast(DoubleType).as("sxx"))
    val mean = col("sx") / col("n")
    // z rounded to 10 dp, and ORDERED on the rounded value: the moment
    // sums are decimal-exact but decimal→double conversion can differ
    // by 1 ULP across engines (the a5_stats finding) — rounding keeps
    // both the values and the top-20 cutoff engine-stable
    Tables.orders(spark, dir)
      .crossJoin(broadcast(m)) // 1-row scalar, in-plan
      .select(col("o_orderkey"), col("o_totalprice"),
        round((col("o_totalprice") - mean) /
          sqrt(col("sxx") / col("n") - mean * mean), 10).as("z"))
      .orderBy(abs(col("z")).desc, col("o_orderkey"))
      .limit(20)
  }

  private val a11OutliersSql =
    """WITH m AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sxx
      |  FROM orders)
      |SELECT o_orderkey, o_totalprice,
      |  ROUND((o_totalprice - sx / n) / sqrt(sxx / n - (sx / n) * (sx / n)), 10) AS z
      |FROM orders CROSS JOIN m
      |ORDER BY ABS(ROUND((o_totalprice - sx / n) / sqrt(sxx / n - (sx / n) * (sx / n)), 10)) DESC,
      |  o_orderkey
      |LIMIT 20""".stripMargin

  /** S12 — compaction round-trip: a 50-file small-file storm (the
    * residue of streaming/incremental appends) is rewritten to 4
    * files by [[RawZone.compactInPlace]] (shuffle-free coalesce +
    * crash-safe rename-aside swap), then read back and aggregated.
    * The oracle recomputes the aggregate from the source table, so a
    * compaction that drops, duplicates, or corrupts rows
    * hash-mismatches — the same round-trip discipline as
    * `s7_partitioned_write`. File-count assertions live in
    * `RawZoneSpec`.
    */
  def s12Compact(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir("s12-compact", dir)
    Tables.documents(spark, dir)
      .select("doc_id", "source", "n_chars")
      .repartition(50)
      .write.mode(SaveMode.Overwrite).parquet(out)
    RawZone.compactInPlace(spark, out, targetFiles = 4)
    spark.read.parquet(out)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("source")
  }

  private val s12CompactSql =
    """SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** S13 — ORC interchange round-trip: the curated slice written as
    * ORC (Spark's second first-class columnar format — the lake
    * format a Hive-lineage warehouse hands over) and read back
    * through a predicate that must reach the ORC reader as a pushed
    * filter, proving scan-level optimization is FORMAT-AGNOSTIC
    * (PushedFilters on ORC exactly like parquet — `PlanAuditSpec`
    * asserts it). Oracle recomputes from the source table, so a
    * type-mangling transcode (decimal/date drift between writers)
    * hash-mismatches. Same scratch/cleanup discipline as s7/s11/s12.
    */
  def s13OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir("s13-orc", dir)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(20, 2)).cast(DoubleType).as("total_price"),
        col("o_orderdate").cast(DateType).as("order_date"))
      .write.mode(SaveMode.Overwrite).orc(out)
    spark.read.orc(out)
      .filter(col("o_orderkey") <= 5000 && col("o_orderstatus") === "F")
      .orderBy("o_orderkey")
  }

  private val s13OrcRoundtripSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CAST(CAST(o_totalprice AS DECIMAL(20,2)) AS DOUBLE) AS total_price,
      |  CAST(o_orderdate AS DATE) AS order_date
      |FROM orders
      |WHERE o_orderkey <= 5000 AND o_orderstatus = 'F'
      |ORDER BY o_orderkey""".stripMargin

  /** S14 — CSV export contract: a curated slice written as headered
    * CSV (N-way parallel — never the reference's `coalesce(1)`), read
    * back through the declared-schema scan. The ORACLE PARSES THE
    * ACTUAL EXPORTED BYTES (DuckDB `read_csv` over the same files the
    * query wrote), so this verifies the interchange contract itself —
    * quoting, headers-per-part, formatting — not just a recompute.
    * Doubles and dates are exported through EXPLICIT string
    * formatting (decimal-cast, ISO date): raw double→CSV rendering is
    * engine-discretionary (scientific-notation thresholds), exactly
    * the trap a real export feed hits. Path is pid-scoped WITHOUT the
    * sf component (one Verify JVM processes one sf, and the oracle
    * SQL must be a per-name constant), same lifetime rules as the
    * malformed-CSV fixture.
    */
  def s14CsvExport(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    val out = CsvExportDir
    csvExportProjection(Tables.orders(spark, dir).filter(col("o_orderkey") <= 2000))
      .repartition(4)
      .write.option("header", "true").mode(SaveMode.Overwrite).csv(out)
    spark.read.option("header", "true").schema(CsvExportSchema).csv(out)
      .orderBy("o_orderkey")
  }

  /** The CSV interchange contract shared by s14 (export) and s15
    * (landing drops): ONE definition of the formatting rules
    * (decimal-cast price, ISO date) and the declared read schema, so
    * a later format fix can't silently fork the two queries that
    * exist to verify the same contract.
    */
  private def csvExportProjection(o: DataFrame): DataFrame =
    o.select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice").cast(DecimalType(20, 2)).cast(StringType).as("price_str"),
      col("o_orderdate").cast(DateType).cast(StringType).as("date_str"))

  private val CsvExportSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("price_str", StringType),
    StructField("date_str", StringType)))

  private val CsvExportDir =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s14_export"

  private val s14CsvExportSql =
    s"""SELECT o_orderkey, o_custkey, o_orderstatus, price_str, date_str
       |FROM read_csv('$CsvExportDir/*.csv', header=true, columns={
       |  'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT',
       |  'o_orderstatus': 'VARCHAR', 'price_str': 'VARCHAR', 'date_str': 'VARCHAR'})
       |ORDER BY o_orderkey""".stripMargin

  /** S17 — JSONL export contract: the documents slice shipped as
    * newline-delimited JSON (THE interchange format LLM training
    * corpora actually move in), N-way parallel like s14, and the
    * oracle PARSES THE ACTUAL EXPORTED BYTES (DuckDB `read_json` over
    * the same part files), so field encoding, escaping and
    * line-framing are verified as a contract — not recomputed.
    * Exported fields are strings and BIGINTs only: JSON number
    * rendering of doubles is engine-discretionary (the same trap s14
    * documents for CSV), so a real feed ships decimals as strings or
    * scaled integers. Same pid-scoped fixture lifetime as s14.
    */
  def s17JsonlExport(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    val out = JsonlExportDir
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .repartition(4)
      .write.mode(SaveMode.Overwrite).json(out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    spark.read.schema(schema).json(out)
      .orderBy("doc_id")
  }

  private val JsonlExportDir =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s17_export"

  private val s17JsonlExportSql =
    s"""SELECT doc_id, lang, source, n_chars
       |FROM read_json('$JsonlExportDir/*.json', format='newline_delimited',
       |  columns={'doc_id': 'BIGINT', 'lang': 'VARCHAR',
       |           'source': 'VARCHAR', 'n_chars': 'BIGINT'})
       |ORDER BY doc_id""".stripMargin

  /** S15 — manifest-driven incremental file ingest
    * ([[graft.sources.RawZone.incrementalCsvRead]]): a landing zone of
    * three stable-named daily CSV drops, a processed-files manifest
    * recording day1+day2, and a read that must return ONLY day3's
    * rows, with file provenance. The oracle recomputes the same
    * contract from the ACTUAL landing bytes and manifest parquet
    * (read_csv filename=true anti-filtered by the manifest), so both
    * the file-selection rule and the parsed content are verified.
    * The operator itself lists + set-subtracts at file-METADATA cost
    * and opens only unprocessed files — scan cost proportional to the
    * increment (see the RawZone scaladoc for the 100 TB contrast with
    * a `_metadata`-column anti-join, which would scan all history).
    */
  def s15IncrementalManifest(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    val landing = s"$IncrRoot/landing"
    val manifest = s"$IncrRoot/manifest"
    // build the fixture once per (JVM, sf dir) — the scratch-reuse
    // discipline of the other s-queries: a bench loop must measure
    // the incremental READ, not three fixture-construction write jobs.
    // The whole check-then-build block is synchronized: two concurrent
    // callers (a parallel test/bench harness) must not both enter —
    // one deleteQuietly-ing IncrRoot mid-write of the other yields a
    // corrupt fixture that is then cached as built.
    s15BuiltFor.synchronized {
    if (s15BuiltFor.get() != dir) { // set only AFTER a successful build
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(IncrRoot))
      new java.io.File(landing).mkdirs()
      val days = Seq(("day1.csv", 1L, 2000L), ("day2.csv", 2001L, 4000L),
        ("day3.csv", 4001L, 6000L))
      days.foreach { case (name, lo, hi) =>
        val tmp = s"$IncrRoot/tmp_$name"
        csvExportProjection(
          Tables.orders(spark, dir).filter(col("o_orderkey").between(lo, hi)))
          .coalesce(1)
          .write.option("header", "true").mode(SaveMode.Overwrite).csv(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
          .getOrElse(throw new IllegalStateException(s"no csv part written under $tmp"))
        org.apache.commons.io.FileUtils.moveFile(part, new java.io.File(landing, name))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
      graft.sources.RawZone.commitProcessed(spark, manifest, Seq("day1.csv", "day2.csv"))
      s15BuiltFor.set(dir)
    }
    }
    graft.sources.RawZone.incrementalCsvRead(spark, landing, manifest, CsvExportSchema)
      .orderBy("o_orderkey")
  }

  private val IncrRoot =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s15_incr"
  private val s15BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  private val s15IncrementalManifestSql =
    s"""SELECT o_orderkey, o_custkey, o_orderstatus, price_str, date_str,
       |  parse_filename(filename) AS src_file
       |FROM read_csv('$IncrRoot/landing/*.csv', header=true, filename=true, columns={
       |  'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT',
       |  'o_orderstatus': 'VARCHAR', 'price_str': 'VARCHAR', 'date_str': 'VARCHAR'})
       |WHERE parse_filename(filename) NOT IN
       |  (SELECT file_name FROM read_parquet('$IncrRoot/manifest/*.parquet'))
       |ORDER BY o_orderkey""".stripMargin

  /** S16 — dynamic partition overwrite
    * ([[graft.sources.RawZone.overwriteDynamicPartitions]]): a
    * status-partitioned table gets a day-2 restatement of ONE
    * partition ('F', prices corrected by a decimal-exact +1.00);
    * dynamic mode must replace exactly that partition and leave the
    * others' files physically untouched (spec-asserted on file
    * names). The read-back oracle recomputes the expected merged
    * state from the source table, so losing a partition (static-
    * overwrite semantics) or duplicating one (append semantics)
    * hash-mismatches. At 100 TB this is the restate-one-day-of-365
    * sink — rewrite cost proportional to the correction, not the
    * table.
    */
  def s16DynamicOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir("s16-dynover", dir)
    val base = Tables.orders(spark, dir)
      .filter(col("o_orderkey") <= 6000)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast(DecimalType(20, 2)).cast(DoubleType).as("price"),
        col("o_orderstatus").as("status"))
    graft.sources.RawZone.overwritePartitioned(base, out, Seq("status"))
    val correction = base.filter(col("status") === "F")
      .withColumn("price",
        (col("price").cast(DecimalType(20, 2)) + lit(BigDecimal("1.00")).cast(DecimalType(20, 2)))
          .cast(DoubleType))
    graft.sources.RawZone.overwriteDynamicPartitions(correction, out, Seq("status"))
    spark.read.parquet(out)
      .select("o_orderkey", "o_custkey", "price", "status")
      .orderBy("o_orderkey")
  }

  private val s16DynamicOverwriteSql =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderstatus = 'F'
      |    THEN CAST(CAST(o_totalprice AS DECIMAL(20,2)) + CAST('1.00' AS DECIMAL(20,2)) AS DOUBLE)
      |    ELSE CAST(CAST(o_totalprice AS DECIMAL(20,2)) AS DOUBLE) END AS price,
      |  o_orderstatus AS status
      |FROM orders
      |WHERE o_orderkey <= 6000
      |ORDER BY o_orderkey""".stripMargin

  /** S18 — atomic multi-table snapshot publish
    * ([[graft.sources.SnapshotPublish]]): three "stores" (warehouse /
    * enterprise / curated — the flagship reconcile's sink set) are
    * published twice as single atomic versions, and a CRASHED third
    * attempt (version dir renamed into place but never marked) is left
    * in the log. The query reads the warehouse at the CURRENT
    * version; the oracle reads the ACTUAL BYTES of the v2 parquet
    * directory — so the version-resolution rule itself is what's
    * verified: resolving the crashed v3, the stale v1, or any mix
    * hash-mismatches. Same pid-scoped build-once fixture lifetime as
    * s15/s17.
    */
  /** Build the two-version snapshot log once per (JVM, sf dir): v1 =
    * day-1 state (keys ≤ 3000), v2 = day-2 restatement (grows to
    * ≤ 3500, every %97 key retired, F-status prices corrected by a
    * decimal-exact +1.00 — so a version diff carries all three change
    * classes), plus a CRASHED third attempt (dir renamed, marker
    * never written). Shared by [[s18SnapshotPublish]] (current-version
    * resolution) and [[s19SnapshotCdc]] (between-version change feed).
    */
  private def ensureSnapshotFixture(spark: SparkSession, dir: String): Unit = {
    sweepStaleFixtureDirs()
    s18BuiltFor.synchronized {
      if (s18BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S18Root))
        def slice(hi: Long, tag: String) = Tables.orders(spark, dir)
          .filter(col("o_orderkey") <= hi)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), lit(tag).as("publish_tag"))
          .coalesce(2)
        val v2 = slice(3500, "v2")
          .filter(col("o_orderkey") % 97 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderstatus") === "F",
              (col("o_totalprice").cast(DecimalType(20, 2)) +
                lit(BigDecimal("1.00")).cast(DecimalType(20, 2))).cast(DoubleType))
              .otherwise(col("o_totalprice")))
        graft.sources.SnapshotPublish.publish(spark, S18Root, Seq(
          "warehouse" -> slice(3000, "v1"), "enterprise" -> slice(3000, "v1"),
          "curated" -> slice(3000, "v1")))
        graft.sources.SnapshotPublish.publish(spark, S18Root, Seq(
          "warehouse" -> v2, "enterprise" -> v2, "curated" -> v2))
        // crashed attempt: version dir present, marker never written
        new java.io.File(s"$S18Root/v=00000003").mkdirs()
        s18BuiltFor.set(dir)
      }
    }
  }

  def s18SnapshotPublish(spark: SparkSession, dir: String): DataFrame = {
    ensureSnapshotFixture(spark, dir)
    graft.sources.SnapshotPublish.readCurrent(spark, S18Root, "warehouse")
      .orderBy("o_orderkey")
  }

  private val S20Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s20_delta"
  private val s20BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Build a REAL `_delta_log` table once per (JVM, sf dir), following
    * the open Delta protocol byte-for-byte: three parquet data files
    * (orders sliced by o_orderkey % 3, moved to known names), commit
    * 0 = protocol + metaData + add slice0 + add slice1, commit 1 =
    * remove slice1 + add slice2 (so the replay must honor a REMOVE —
    * the removed file stays on disk, which is exactly why a raw
    * directory glob is wrong and the log is the source of truth).
    * Shared by [[s20DeltaScan]] (current snapshot: slices 0 ∪ 2) and
    * [[s21DeltaTimeTravel]] (versionAsOf 0: slices 0 ∪ 1). The oracle
    * never reads the fixture — it reconstructs both snapshots from
    * the `orders` relation by the slice predicates, so a replay bug
    * (leaked remove, missed add, wrong version cut) hash-fails.
    */
  private def ensureDeltaFixture(spark: SparkSession, dir: String): Unit = {
    sweepStaleFixtureDirs()
    s20BuiltFor.synchronized {
      if (s20BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S20Root))
        val conf = spark.sparkContext.hadoopConfiguration
        val fs = new org.apache.hadoop.fs.Path(S20Root).getFileSystem(conf)
        def slice(m: Long, name: String): Unit = {
          val stage = s"$S20Root/_stage_$m"
          Tables.orders(spark, dir).filter(col("o_orderkey") % 3 === m)
            .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
            .coalesce(1).write.mode("overwrite").parquet(stage)
          val part = fs.globStatus(
            new org.apache.hadoop.fs.Path(s"$stage/part-*.parquet"))(0).getPath
          fs.rename(part, new org.apache.hadoop.fs.Path(s"$S20Root/$name"))
          fs.delete(new org.apache.hadoop.fs.Path(stage), true)
        }
        slice(0, "part-slice0.parquet")
        slice(1, "part-slice1.parquet")
        slice(2, "part-slice2.parquet")
        val logDir = java.nio.file.Paths.get(s"$S20Root/_delta_log")
        java.nio.file.Files.createDirectories(logDir)
        def commit(name: String, lines: Seq[String]): Unit =
          java.nio.file.Files.writeString(
            logDir.resolve(name), lines.mkString("", "\n", "\n"))
        commit("00000000000000000000.json", Seq(
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          """{"metaData":{"id":"graft-s20-fixture","format":{"provider":"parquet","options":{}},"schemaString":"{}","partitionColumns":[],"configuration":{}}}""",
          """{"add":{"path":"part-slice0.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""",
          """{"add":{"path":"part-slice1.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
        commit("00000000000000000001.json", Seq(
          """{"commitInfo":{"operation":"MERGE"}}""",
          """{"remove":{"path":"part-slice1.parquet","deletionTimestamp":1,"dataChange":true}}""",
          """{"add":{"path":"part-slice2.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
        s20BuiltFor.set(dir)
      }
    }
  }

  /** S20 — read a Delta table's CURRENT snapshot through its real
    * `_delta_log` ([[graft.sources.DeltaLog]]): JSON action replay,
    * last-action-per-path reconciliation, live files only (the
    * removed file is still on disk — the log, not the directory, is
    * truth). The r10 verdict's #1 real-user gap, read side.
    */
  def s20DeltaScan(spark: SparkSession, dir: String): DataFrame = {
    ensureDeltaFixture(spark, dir)
    graft.sources.DeltaLog.read(spark, S20Root).orderBy("o_orderkey")
  }

  private val s20DeltaScanSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders WHERE o_orderkey % 3 = 0 OR o_orderkey % 3 = 2
      |ORDER BY o_orderkey""".stripMargin

  /** S21 — Delta time travel: the same log replayed only through
    * version 0, so the since-removed slice1 is PRESENT and slice2
    * absent — `versionAsOf` semantics off the raw commit files.
    */
  def s21DeltaTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    ensureDeltaFixture(spark, dir)
    graft.sources.DeltaLog.read(spark, S20Root, Some(0L)).orderBy("o_orderkey")
  }

  private val s21DeltaTimeTravelSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders WHERE o_orderkey % 3 = 0 OR o_orderkey % 3 = 1
      |ORDER BY o_orderkey""".stripMargin

  private val S22Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s22_delta_append"
  private val s22BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S22 — full writer→reader Delta ROUND TRIP: two
    * [[graft.sources.DeltaLog.append]] commits (orders split
    * two-ways), read back through the log replay. The oracle is the
    * whole `orders` relation, so a writer bug (missed part file,
    * malformed action line, wrong version numbering) hash-fails; the
    * spec additionally time-travels to version 0 and exercises the
    * commit-conflict retry.
    */
  def s22DeltaAppend(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s22BuiltFor.synchronized {
      if (s22BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S22Root))
        def slice(second: Boolean) = Tables.orders(spark, dir)
          .filter(if (second) col("o_orderkey") % 3 === 2
                  else col("o_orderkey") % 3 =!= 2)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        graft.sources.DeltaLog.append(spark, S22Root, slice(second = false))
        graft.sources.DeltaLog.append(spark, S22Root, slice(second = true))
        s22BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.read(spark, S22Root).orderBy("o_orderkey")
  }

  private val s22DeltaAppendSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  private val S23Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s23_delta_partitioned"
  private val s23BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Build a PARTITIONED Delta table once per (JVM, sf dir) — the
    * reference's own curated layout (`main.py:235` writes
    * `partitionBy("Year","Month").format("delta")`): orders projected
    * to (o_orderkey, o_custkey, o_totalprice, Year, Month), written
    * Hive-style in ONE partitioned parquet job, then committed with
    * per-file `add.partitionValues` and a real `schemaString` that
    * types the partition columns (Year int, Month string — the
    * zero-padded "03" is exactly the value directory-name inference
    * would corrupt to 3, which is why the reader trusts the LOG, not
    * the layout). Data files do NOT contain the partition columns.
    */
  private def ensureDeltaPartitionedFixture(spark: SparkSession, dir: String): Unit = {
    sweepStaleFixtureDirs()
    s23BuiltFor.synchronized {
      if (s23BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S23Root))
        val src = Tables.orders(spark, dir).select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("Year"),
          date_format(col("o_orderdate"), "MM").as("Month"))
        val stage = s"$S23Root/_stage"
        src.write.partitionBy("Year", "Month").parquet(stage)
        val conf = spark.sparkContext.hadoopConfiguration
        val fs = new org.apache.hadoop.fs.Path(S23Root).getFileSystem(conf)
        val parts = fs.globStatus(new org.apache.hadoop.fs.Path(
          s"$stage/Year=*/Month=*/part-*.parquet")).toSeq.map(_.getPath)
        val adds = parts.sortBy(_.toString).map { p =>
          val monthDir = p.getParent.getName
          val yearDir = p.getParent.getParent.getName
          val rel = s"$yearDir/$monthDir/${p.getName}"
          val dest = new org.apache.hadoop.fs.Path(S23Root, rel)
          fs.mkdirs(dest.getParent)
          require(fs.rename(p, dest), s"s23 fixture: move failed for $p")
          val st = fs.getFileStatus(dest)
          val pvals = Map(
            "Year" -> yearDir.stripPrefix("Year="), "Month" -> monthDir.stripPrefix("Month="))
          graft.sources.DeltaLog.addAction(
            graft.sources.DeltaLog.DeltaFile(rel, pvals, st.getLen), Seq("Year", "Month"),
            st.getModificationTime, dataChange = true)
        }
        fs.delete(new org.apache.hadoop.fs.Path(stage), true)
        val logDir = java.nio.file.Paths.get(s"$S23Root/_delta_log")
        java.nio.file.Files.createDirectories(logDir)
        java.nio.file.Files.writeString(
          logDir.resolve("00000000000000000000.json"),
          (Seq(graft.sources.DeltaLog.protocolAction(1, 2),
            graft.sources.DeltaLog.metaDataAction("graft-s23-fixture", src.schema.json,
              Seq("Year", "Month"), Nil)) ++ adds).mkString("", "\n", "\n"))
        s23BuiltFor.set(dir)
      }
    }
  }

  /** S23 — read the reference's own curated layout: a PARTITIONED
    * Delta table ([[ensureDeltaPartitionedFixture]]), partition values
    * surfaced from `add.partitionValues` as typed literal columns.
    * The Year filter prunes whole partition BRANCHES in the optimizer
    * (files, not rows — `PlanAuditSpec`-pinned); the month aggregate
    * then runs over one year's files only. The oracle reconstructs
    * both partition columns from `orders`, so a value dropped, typed
    * wrong (Month "03" vs 3), or routed to the wrong file hash-fails.
    */
  def s23DeltaPartitioned(spark: SparkSession, dir: String): DataFrame = {
    ensureDeltaPartitionedFixture(spark, dir)
    graft.sources.DeltaLog.read(spark, S23Root)
      .filter(col("Year") === 1995)
      .groupBy(col("Year"), col("Month"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(20, 2))).cast(DoubleType).as("sum_price"))
      .orderBy("Year", "Month")
  }

  private val s23DeltaPartitionedSql =
    """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS Year,
      |  LPAD(CAST(EXTRACT(MONTH FROM o_orderdate) AS VARCHAR), 2, '0') AS Month,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
      |GROUP BY 1, 2 ORDER BY Year, Month""".stripMargin

  private val S24Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s24_delta_part_append"
  private val s24BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S24 — PARTITIONED writer→reader Delta ROUND TRIP: two
    * [[graft.sources.DeltaLog.append]] commits with
    * `partitionBy = Year, Month` (orders split by orderkey parity),
    * read back through the log replay with partition values restored
    * from `add.partitionValues` and typed by the writer's own
    * `schemaString`. The oracle aggregates the WHOLE `orders` relation
    * per year, so a writer bug (file routed to the wrong partition
    * dir, a partitionValues entry dropped or mis-escaped, a missed
    * second commit) hash-fails. Complements [[s23DeltaPartitioned]],
    * whose table is hand-committed: here the same reader consumes OUR
    * writer's output.
    */
  def s24DeltaPartitionedAppend(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s24BuiltFor.synchronized {
      if (s24BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S24Root))
        def slice(even: Boolean) = Tables.orders(spark, dir).select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("Year"),
          date_format(col("o_orderdate"), "MM").as("Month"))
          .filter(if (even) col("o_orderkey") % 2 === 0 else col("o_orderkey") % 2 =!= 0)
        graft.sources.DeltaLog.append(spark, S24Root, slice(even = true),
          partitionBy = Seq("Year", "Month"))
        graft.sources.DeltaLog.append(spark, S24Root, slice(even = false),
          partitionBy = Seq("Year", "Month"))
        s24BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.read(spark, S24Root)
      .groupBy(col("Year"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("Month")).as("n_months"),
        sum(col("o_totalprice").cast(DecimalType(20, 2))).cast(DoubleType).as("sum_price"))
      .orderBy("Year")
  }

  private val s24DeltaPartitionedAppendSql =
    """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS Year,
      |  COUNT(*) AS n_orders,
      |  COUNT(DISTINCT LPAD(CAST(EXTRACT(MONTH FROM o_orderdate) AS VARCHAR), 2, '0')) AS n_months,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY Year""".stripMargin

  private val S25Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s25_delta_compact"
  private val s25BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S25 — Delta MAINTENANCE round trip (OPTIMIZE + VACUUM twins):
    * four small partitioned appends (orders by orderkey mod 4,
    * partitioned by o_orderstatus — a year of micro-batch ingest in
    * miniature), then [[graft.sources.DeltaLog.compact]] bin-packs
    * each partition's files into one `dataChange = false` rewrite
    * commit and [[graft.sources.DeltaLog.vacuum]] physically reclaims
    * the replaced files. The oracle is the whole `orders` relation
    * aggregated per status, so maintenance that LOSES or DUPLICATES a
    * single row (a file dropped from the rewrite, a remove matching
    * the wrong path, vacuum deleting a live file) hash-fails; the
    * fixture additionally requires the file count to actually shrink
    * and the dead files to actually be deleted.
    */
  def s25DeltaCompact(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s25BuiltFor.synchronized {
      if (s25BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S25Root))
        def slice(m: Long) = Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"))
          .filter(col("o_orderkey") % 4 === m)
        (0L to 3L).foreach(m => graft.sources.DeltaLog.append(
          spark, S25Root, slice(m), partitionBy = Seq("o_orderstatus")))
        val before = graft.sources.DeltaLog.snapshot(spark, S25Root).files.size
        require(graft.sources.DeltaLog.compact(spark, S25Root) >= 0, "s25: nothing compacted")
        val after = graft.sources.DeltaLog.snapshot(spark, S25Root).files.size
        require(after < before, s"s25: compaction did not shrink files ($before -> $after)")
        require(graft.sources.DeltaLog.vacuum(spark, S25Root, retainMs = -5000L, force = true) > 0,
          "s25: vacuum reclaimed nothing")
        s25BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.read(spark, S25Root)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(20, 2))).cast(DoubleType).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  private val s25DeltaCompactSql =
    """SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  private val S26Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s26_delta_evolve"
  private val s26BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S26 — SCHEMA-EVOLUTION append round trip: the first commit lands
    * even-keyed orders WITHOUT `o_orderstatus`; the second appends the
    * odd keys WITH it under `allowSchemaEvolution = true`, which
    * replaces the table's `metaData` action with the merged schema.
    * The read declares that schema, so the pre-evolution files
    * null-fill the new column — the oracle reconstructs exactly that
    * (status NULL→'NONE' for even keys), so an evolution bug (old
    * rows dropped, column misaligned, metaData not replaced)
    * hash-fails.
    */
  def s26DeltaEvolve(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s26BuiltFor.synchronized {
      if (s26BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S26Root))
        val base = Tables.orders(spark, dir)
        graft.sources.DeltaLog.append(spark, S26Root,
          base.filter(col("o_orderkey") % 2 === 0)
            .select(col("o_orderkey"), col("o_totalprice")))
        graft.sources.DeltaLog.append(spark, S26Root,
          base.filter(col("o_orderkey") % 2 =!= 0)
            .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")),
          allowSchemaEvolution = true)
        s26BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.read(spark, S26Root)
      .groupBy(coalesce(col("o_orderstatus"), lit("NONE")).as("status_bucket"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(20, 2))).cast(DoubleType).as("sum_price"))
      .orderBy("status_bucket")
  }

  private val s26DeltaEvolveSql =
    """SELECT CASE WHEN o_orderkey % 2 <> 0 THEN o_orderstatus ELSE 'NONE' END AS status_bucket,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY status_bucket""".stripMargin

  private val S27Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s27_iceberg"
  private val s27BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val s27FirstSnapshot =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Build the Iceberg fixture once per (JVM, sf dir): two
    * [[graft.sources.IcebergTable.append]] snapshots (orders split by
    * orderkey parity) — the second manifest list must CARRY FORWARD
    * the first snapshot's manifest for the full relation to survive.
    */
  private def ensureIcebergFixture(spark: SparkSession, dir: String): Unit = {
    sweepStaleFixtureDirs()
    s27BuiltFor.synchronized {
      if (s27BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S27Root))
        def slice(even: Boolean) = Tables.orders(spark, dir)
          .filter(if (even) col("o_orderkey") % 2 === 0 else col("o_orderkey") % 2 =!= 0)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        s27FirstSnapshot.set(
          graft.sources.IcebergTable.append(spark, S27Root, slice(even = true)))
        graft.sources.IcebergTable.append(spark, S27Root, slice(even = false))
        s27BuiltFor.set(dir)
      }
    }
  }

  /** S27 — APACHE ICEBERG (v1) writer→reader round trip: the OTHER
    * open table format beside Delta, read through its real metadata
    * chain (`vN.metadata.json` → snapshot → manifest-list avro →
    * manifest avro → parquet scan) with zero connector jars — the
    * manifests parse with the avro-core jars Spark already ships. The
    * oracle is the whole `orders` relation, so a metadata bug (a
    * manifest dropped from the carried-forward list, a path mangled,
    * a status misread) hash-fails.
    */
  def s27IcebergScan(spark: SparkSession, dir: String): DataFrame = {
    ensureIcebergFixture(spark, dir)
    graft.sources.IcebergTable.read(spark, S27Root).orderBy("o_orderkey")
  }

  private val s27IcebergScanSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** S28 — Iceberg snapshot TIME TRAVEL: reading the FIRST snapshot id
    * replays only its manifest list (even orderkeys), proving old
    * snapshots stay readable after later appends.
    */
  def s28IcebergTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    ensureIcebergFixture(spark, dir)
    graft.sources.IcebergTable.read(spark, S27Root, Some(s27FirstSnapshot.get()))
      .orderBy("o_orderkey")
  }

  private val s28IcebergTimeTravelSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders WHERE o_orderkey % 2 = 0 ORDER BY o_orderkey""".stripMargin

  private val S29Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s29_avro"
  private val s29BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S29 — AVRO container round trip without the spark-avro connector
    * ([[graft.sources.AvroZone]], avro-core jars only): orders written
    * as one container per partition (distributed, task-staged
    * publish), read back one task per container against the EMBEDDED
    * writer schema, aggregated per status. The oracle rebuilds the
    * aggregate from `orders` directly, so an encode/decode bug (a
    * union mis-branch, a dropped partition file, a null mangled)
    * hash-fails.
    */
  def s29AvroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s29BuiltFor.synchronized {
      if (s29BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S29Root))
        graft.sources.AvroZone.write(
          Tables.orders(spark, dir)
            .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
            .repartition(4),
          S29Root)
        s29BuiltFor.set(dir)
      }
    }
    graft.sources.AvroZone.read(spark, S29Root)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_custkey")).as("sum_cust"),
        sum(col("o_totalprice").cast(DecimalType(20, 2))).cast(DoubleType).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  private val s29AvroRoundtripSql =
    """SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  private val S29bRoot =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s29b_avro_logical"
  private val s29bBuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S29b — AVRO logical types round trip: the reference's fact table
    * is keyed on a `Date` column (reference `main.py:122`), so the
    * container sink must carry temporal types, not just primitives.
    * `o_orderdate` goes through the container BOTH ways the Avro spec
    * defines — as `timestamp-micros` (long) raw and as `date`
    * (int/epoch-days) after a day cast — and the aggregate compares
    * exact epoch microseconds, so an off-by-timezone, truncated-nanos,
    * or mis-branched union hash-fails against the oracle recomputed
    * straight from `orders`.
    */
  def s29bAvroLogical(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s29bBuiltFor.synchronized {
      if (s29bBuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S29bRoot))
        graft.sources.AvroZone.write(
          Tables.orders(spark, dir)
            .select(
              col("o_orderkey"), col("o_orderdate"),
              col("o_orderdate").cast(DateType).as("o_orderday"))
            .repartition(4),
          S29bRoot)
        s29bBuiltFor.set(dir)
      }
    }
    graft.sources.AvroZone.read(spark, S29bRoot)
      .groupBy(year(col("o_orderday")).as("order_year"))
      .agg(
        count(lit(1)).as("n_orders"),
        min(col("o_orderday")).as("first_day"),
        max(unix_micros(col("o_orderdate"))).as("max_micros"),
        // epoch-SECONDS sum: value-exact over every row, yet overflow-
        // safe at any SF (epoch-micros summed would pass BIGINT at sf1)
        sum(unix_seconds(col("o_orderdate"))).as("sum_secs"))
      .orderBy("order_year")
  }

  private val s29bAvroLogicalSql =
    """SELECT CAST(YEAR(CAST(o_orderdate AS DATE)) AS INT) AS order_year,
      |  COUNT(*) AS n_orders,
      |  MIN(CAST(o_orderdate AS DATE)) AS first_day,
      |  CAST(MAX(epoch_us(o_orderdate)) AS BIGINT) AS max_micros,
      |  CAST(SUM(epoch_us(o_orderdate) // 1000000) AS BIGINT) AS sum_secs
      |FROM orders GROUP BY 1 ORDER BY order_year""".stripMargin

  private val S30Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s30_delta_merge"
  private val s30BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S30 — MERGE INTO a partitioned Delta table THROUGH THE LOG
    * (reference `main.py:191-199`: the 8-source MERGE loop into the
    * curated Year-partitioned Delta table): a base table is built from
    * two appends (several files per partition), then ONE
    * `DeltaLog.merge` transaction replaces the rows whose key matches
    * an update (status 'M', price bumped) and inserts the keys the
    * base never had — landing as remove+add pairs with
    * `dataChange = true` in a single commit, file-level copy-on-write
    * (only files holding a matched key are rewritten). The read-back
    * must equal the oracle's recomputation from `orders`; any
    * mis-routed partition value, lost survivor row, or double-applied
    * update hash-fails.
    */
  def s30DeltaMerge(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    def proj(df: DataFrame) = df.select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), year(col("o_orderdate")).as("Year"))
    s30BuiltFor.synchronized {
      if (s30BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S30Root))
        val base = proj(Tables.orders(spark, dir)).filter(col("o_orderkey") % 5 =!= 4)
        graft.sources.DeltaLog.append(spark, S30Root,
          base.filter(col("o_orderkey") % 2 === 0), partitionBy = Seq("Year"))
        graft.sources.DeltaLog.append(spark, S30Root,
          base.filter(col("o_orderkey") % 2 =!= 0), partitionBy = Seq("Year"))
        val updated = base.filter(col("o_orderkey") % 10 < 2)
          .withColumn("o_orderstatus", lit("M"))
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        val inserted = proj(Tables.orders(spark, dir)).filter(col("o_orderkey") % 5 === 4)
        graft.sources.DeltaLog.merge(spark, S30Root,
          updated.unionByName(inserted), keys = Seq("o_orderkey"))
        s30BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.read(spark, S30Root).orderBy("o_orderkey")
  }

  private val s30DeltaMergeSql =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 5 <> 4 AND o_orderkey % 10 < 2
      |       THEN 'M' ELSE o_orderstatus END AS o_orderstatus,
      |  CASE WHEN o_orderkey % 5 <> 4 AND o_orderkey % 10 < 2
      |       THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice,
      |  CAST(YEAR(CAST(o_orderdate AS DATE)) AS INT) AS Year
      |FROM orders ORDER BY o_orderkey""".stripMargin

  private val S31Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s31_delta_delete"
  private val s31BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S31 — DELETE FROM a Delta table through the log (reference
    * `main.py:231-234`: full mode deletes the reload window before
    * re-ingesting): one `DeltaLog.delete` transaction rewrites exactly
    * the files that hold a matching row (remove+add, dataChange=true)
    * and drops fully-matched files with no replacement. Read-back
    * equals the oracle's `WHERE NOT(...)` over `orders`.
    */
  def s31DeltaDelete(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s31BuiltFor.synchronized {
      if (s31BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S31Root))
        val base = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        graft.sources.DeltaLog.append(spark, S31Root, base.filter(col("o_orderkey") % 2 === 0))
        graft.sources.DeltaLog.append(spark, S31Root, base.filter(col("o_orderkey") % 2 =!= 0))
        graft.sources.DeltaLog.delete(spark, S31Root, col("o_orderkey") % 7 === 3)
        s31BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.read(spark, S31Root).orderBy("o_orderkey")
  }

  private val s31DeltaDeleteSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders WHERE NOT (o_orderkey % 7 = 3) ORDER BY o_orderkey""".stripMargin

  private val S32Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s32_iceberg_partitioned"
  private val s32BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S32 — Iceberg v1 PARTITIONED append + manifest-driven file
    * pruning: orders land Year-partitioned in two snapshots (identity
    * transform, Hive-style `data/Year=.../` layout, per-file partition
    * tuples in `data_file.partition`), then a `Year = 1996` filter on
    * the read prunes FILES from the MANIFESTS alone — the Iceberg
    * planner's move: the scan's file index skips every other year's
    * files before Spark opens a single footer. The oracle recomputes the 1996 slice from `orders`; a
    * mis-typed tuple, a file routed to the wrong partition dir, or a
    * pruning miss all hash-fail.
    */
  def s32IcebergPartitioned(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    def proj(df: DataFrame) = df.select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      year(col("o_orderdate")).as("Year"))
    s32BuiltFor.synchronized {
      if (s32BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S32Root))
        val src = proj(Tables.orders(spark, dir))
        graft.sources.IcebergTable.append(spark, S32Root,
          src.filter(col("o_orderkey") % 2 === 0), partitionBy = Seq("Year"))
        graft.sources.IcebergTable.append(spark, S32Root,
          src.filter(col("o_orderkey") % 2 =!= 0), partitionBy = Seq("Year"))
        s32BuiltFor.set(dir)
      }
    }
    graft.sources.IcebergTable.read(spark, S32Root)
      .filter(col("Year") === 1996)
      .orderBy("o_orderkey")
  }

  private val s32IcebergPartitionedSql =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  CAST(YEAR(CAST(o_orderdate AS DATE)) AS INT) AS Year
      |FROM orders WHERE YEAR(CAST(o_orderdate AS DATE)) = 1996
      |ORDER BY o_orderkey""".stripMargin

  private val S33Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s33_delta_dv"
  private val s33BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S33 — DELETE via DELETION VECTORS (the modern Delta writer's
    * row-level delete, protocol readerVersion 3): two deletes land as
    * roaring-bitmap DVs — no data file rewritten, the second UNIONS
    * into the first's vectors — and the read-back anti-joins the
    * deleted positions on `_metadata.row_index` (bitmaps decoded in
    * executor tasks, broadcast anti-join, no table shuffle). The
    * oracle recomputes both predicates from `orders`; a mis-decoded
    * bitmap, lost union, off-by-one row index, or resurrected row
    * hash-fails.
    */
  def s33DeltaDv(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s33BuiltFor.synchronized {
      if (s33BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S33Root))
        val base = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        graft.sources.DeltaLog.append(spark, S33Root, base.filter(col("o_orderkey") % 2 === 0))
        graft.sources.DeltaLog.append(spark, S33Root, base.filter(col("o_orderkey") % 2 =!= 0))
        graft.sources.DeltaLog.deleteWithDv(spark, S33Root, col("o_orderkey") % 7 === 3)
        graft.sources.DeltaLog.deleteWithDv(spark, S33Root, col("o_orderkey") % 11 === 5)
        s33BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.read(spark, S33Root).orderBy("o_orderkey")
  }

  private val s33DeltaDvSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE NOT (o_orderkey % 7 = 3) AND NOT (o_orderkey % 11 = 5)
      |ORDER BY o_orderkey""".stripMargin

  private val S34Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s34_iceberg_v2"
  private val s34BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S34 — Iceberg v2 POSITION DELETES (merge-on-read): a v1 table of
    * orders is upgraded in place by `deleteRows`, which writes
    * `(file_path, pos)` tombstones + a `content=1` delete manifest at
    * the next sequence number instead of rewriting any data file; a
    * SECOND append then lands at a higher sequence number so the
    * reader's `deleteSeq >= dataSeq` gate — not luck — is what keeps
    * the new rows alive (its file reuses the tombstoned row
    * positions). The read anti-joins the delete files per
    * applicability group. Oracle recomputes the surviving set from
    * `orders`; a sequence-blind reader hash-fails on the re-inserted
    * keys.
    */
  def s34IcebergV2Delete(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s34BuiltFor.synchronized {
      if (s34BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S34Root))
        val base = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        graft.sources.IcebergTable.append(spark, S34Root,
          base.filter(col("o_orderkey") % 3 =!= 2))
        graft.sources.IcebergTable.deleteRows(spark, S34Root, col("o_orderkey") % 7 === 3)
        // post-delete append: some keys it brings back were tombstoned
        // at lower sequence numbers — they must survive
        graft.sources.IcebergTable.append(spark, S34Root,
          base.filter(col("o_orderkey") % 3 === 2))
        s34BuiltFor.set(dir)
      }
    }
    graft.sources.IcebergTable.read(spark, S34Root).orderBy("o_orderkey")
  }

  private val s34IcebergV2DeleteSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE o_orderkey % 3 = 2 OR NOT (o_orderkey % 7 = 3)
      |ORDER BY o_orderkey""".stripMargin

  private val S35Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s35_delta_zorder"
  private val s35BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S35 — OPTIMIZE ZORDER + stats-based DATA SKIPPING: orders land
    * scattered across 8 files, `compact(zorderBy = (o_custkey,
    * o_orderkey))` rewrites them clustered by the interleaved z-key
    * (each output file a tight rectangle in key space, real
    * footer-derived min/max in `add.stats`), and a `o_custkey BETWEEN`
    * filter on the read opens ONLY the files whose stats admit it —
    * Delta's skipping, inside the scan's file index, and exact by
    * construction (the predicate still applies to the survivors' rows). Oracle recomputes the slice from `orders`.
    */
  def s35DeltaZorder(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s35BuiltFor.synchronized {
      if (s35BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S35Root))
        val base = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        graft.sources.DeltaLog.append(spark, S35Root, base.repartition(8))
        // DATA-SCALED target: ~8 z-disjoint output files at every SF
        // (a fixed byte target would mean thousands of files at sf1)
        val tableBytes = graft.sources.DeltaLog.snapshot(spark, S35Root).files.map(_.size).sum
        graft.sources.DeltaLog.compact(spark, S35Root,
          targetFileBytes = math.max(16L * 1024, tableBytes / 8),
          zorderBy = Seq("o_custkey", "o_orderkey"))
        s35BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.read(spark, S35Root)
      .filter(col("o_custkey").between(100L, 200L))
      .orderBy("o_orderkey")
  }

  private val s35DeltaZorderSql =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders WHERE o_custkey BETWEEN 100 AND 200
      |ORDER BY o_orderkey""".stripMargin

  private val S36Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s36_delta_restore"
  private val s36BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S36 — RESTORE TABLE ... TO VERSION AS OF: after a DELETE rewrote
    * files, one restore commit removes the rewritten files and
    * re-adds the originals (their stats travel along) — the full table
    * is back, history intact. The oracle is the unfiltered `orders`
    * projection: a restore that loses a file, resurrects the delete,
    * or re-adds with wrong partitionValues hash-fails.
    */
  def s36DeltaRestore(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s36BuiltFor.synchronized {
      if (s36BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S36Root))
        val base = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        graft.sources.DeltaLog.append(spark, S36Root, base.filter(col("o_orderkey") % 2 === 0))
        graft.sources.DeltaLog.append(spark, S36Root, base.filter(col("o_orderkey") % 2 =!= 0))
        graft.sources.DeltaLog.delete(spark, S36Root, col("o_orderkey") % 3 === 0)
        graft.sources.DeltaLog.restore(spark, S36Root, 1L)
        s36BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.read(spark, S36Root).orderBy("o_orderkey")
  }

  private val s36DeltaRestoreSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  private val S37Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s37_iceberg_eq"
  private val s37BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S37 — Iceberg v2 EQUALITY DELETES: the CDC-writer shape — a key
    * SET (customers with `o_custkey % 10 = 4`) tombstones every
    * matching row without scanning the table, then a later append
    * re-inserts some of those keys (`o_orderkey % 13 = 0` within the
    * tombstoned set) and SURVIVES because equality deletes gate
    * STRICTLY on `dataSeq < deleteSeq`. The oracle recomputes the
    * final state from `orders`; an inclusive gate, a missed key, or a
    * non-null-safe match hash-fails.
    */
  def s37IcebergEqDelete(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s37BuiltFor.synchronized {
      if (s37BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S37Root))
        val base = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        graft.sources.IcebergTable.append(spark, S37Root, base)
        graft.sources.IcebergTable.deleteRowsEquality(spark, S37Root,
          Seq("o_custkey"),
          base.filter(col("o_custkey") % 10 === 4).select("o_custkey").distinct())
        graft.sources.IcebergTable.append(spark, S37Root,
          base.filter(col("o_custkey") % 10 === 4 && col("o_orderkey") % 13 === 0))
        s37BuiltFor.set(dir)
      }
    }
    graft.sources.IcebergTable.read(spark, S37Root).orderBy("o_orderkey")
  }

  private val s37IcebergEqDeleteSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE o_custkey % 10 <> 4 OR o_orderkey % 13 = 0
      |ORDER BY o_orderkey""".stripMargin

  private val S38Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s38_delta_changes"
  private val s38BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S38 — CHANGE FEED between versions (`diffVersions`, the
    * CDF-fallback file diff): a MERGE commit's net row changes surface
    * as the updated rows' delete+insert pairs plus the inserted rows —
    * while every survivor rewritten alongside them CANCELS in the
    * multiset EXCEPT ALL, and only the rewritten files are read at
    * all. The oracle rebuilds the exact change set from `orders`; one
    * surviving row leaking into the feed, or one update missing its
    * old image, hash-fails.
    */
  def s38DeltaChanges(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s38BuiltFor.synchronized {
      if (s38BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S38Root))
        val proj = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        val base = proj.filter(col("o_orderkey") % 5 =!= 4)
        graft.sources.DeltaLog.append(spark, S38Root, base.filter(col("o_orderkey") % 2 === 0))
        graft.sources.DeltaLog.append(spark, S38Root, base.filter(col("o_orderkey") % 2 =!= 0))
        val updated = base.filter(col("o_orderkey") % 10 < 2)
          .withColumn("o_orderstatus", lit("M"))
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        val inserted = proj.filter(col("o_orderkey") % 5 === 4)
        graft.sources.DeltaLog.merge(spark, S38Root,
          updated.unionByName(inserted), keys = Seq("o_orderkey"))
        s38BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.diffVersions(spark, S38Root, 1L, 2L)
      .orderBy("o_orderkey", "_change_type", "o_totalprice")
  }

  private val s38DeltaChangesSql =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
      |    o_totalprice + 1000.0 AS o_totalprice, 'insert' AS _change_type
      |  FROM orders WHERE o_orderkey % 5 <> 4 AND o_orderkey % 10 < 2
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    'insert' AS _change_type
      |  FROM orders WHERE o_orderkey % 5 = 4
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    'delete' AS _change_type
      |  FROM orders WHERE o_orderkey % 5 <> 4 AND o_orderkey % 10 < 2
      |) ORDER BY o_orderkey, _change_type, o_totalprice""".stripMargin

  private val S57Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s57_iceberg_txn"
  private val s57BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S57 — Iceberg EXACTLY-ONCE sink (the s38-family txn twin on the
    * other table format — what Flink's Iceberg committer does with
    * checkpoint ids in snapshot summaries): three epochs land through
    * `appendOnce`, epoch 2 is REPLAYED (the crash-recovery shape) and
    * must be absorbed by the summary stamp, not re-appended. The final
    * read hash-fails on any duplicate batch; the fixture also asserts
    * the replay returned -1 and committed no snapshot.
    */
  def s57IcebergTxnSink(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s57BuiltFor.synchronized {
      if (s57BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S57Root))
        val base = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        def batch(m: Int) = base.filter(col("o_orderkey") % 3 === m)
        graft.sources.IcebergTable.appendOnce(spark, S57Root, batch(0), "s57", 1L)
        graft.sources.IcebergTable.appendOnce(spark, S57Root, batch(1), "s57", 2L)
        // crash replay: same epoch again — absorbed, no snapshot
        val replay = graft.sources.IcebergTable.appendOnce(
          spark, S57Root, batch(1), "s57", 2L)
        require(replay == -1L, "s57: a replayed epoch must be absorbed")
        require(graft.sources.IcebergTable
            .lastCommittedEpoch(spark, S57Root, "s57").contains(2L),
          "s57: the cursor must survive the replay")
        graft.sources.IcebergTable.appendOnce(spark, S57Root, batch(2), "s57", 3L)
        s57BuiltFor.set(dir)
      }
    }
    graft.sources.IcebergTable.read(spark, S57Root).orderBy("o_orderkey")
  }

  private val s57IcebergTxnSinkSql =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  private val S39Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s39_delta_dv_merge"
  private val s39BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S39 — MERGE INTO a table carrying live DELETION VECTORS (r13
    * verdict item 1: one `deleteWithDv` must not make the table
    * read-only for merge): after a DV delete (`%7 = 3`, no file
    * rewritten), ONE `DeltaLog.merge` updates the live `%10 < 2` rows
    * and inserts the held-out `%5 = 4` keys. The copy-on-write scan
    * reads the DV'd files through the anti-join, so (a) DV-dead rows
    * are NOT matches — a dead key in the update set INSERTS instead of
    * updating a ghost; (b) dead rows never resurrect into the rewrite;
    * (c) rewritten files come out clean while untouched files keep
    * their vectors. The oracle recomputes the end state from `orders`:
    * one resurrected `%7 = 3` row (outside the update set), one lost
    * survivor, or one double-applied update hash-fails.
    */
  def s39DeltaDvMerge(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    def proj(df: DataFrame) = df.select(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    s39BuiltFor.synchronized {
      if (s39BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S39Root))
        val all = proj(Tables.orders(spark, dir))
        val base = all.filter(col("o_orderkey") % 5 =!= 4)
        graft.sources.DeltaLog.append(spark, S39Root, base.filter(col("o_orderkey") % 2 === 0))
        graft.sources.DeltaLog.append(spark, S39Root, base.filter(col("o_orderkey") % 2 =!= 0))
        graft.sources.DeltaLog.deleteWithDv(spark, S39Root, col("o_orderkey") % 7 === 3)
        val updated = base.filter(col("o_orderkey") % 10 < 2)
          .withColumn("o_orderstatus", lit("M"))
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        val inserted = all.filter(col("o_orderkey") % 5 === 4)
        graft.sources.DeltaLog.merge(spark, S39Root,
          updated.unionByName(inserted), keys = Seq("o_orderkey"))
        s39BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.read(spark, S39Root).orderBy("o_orderkey")
  }

  /** End state per key k: `%5 = 4` → inserted verbatim; else `%10 < 2`
    * → the merge row (update if it was live, RE-insert if the DV had
    * killed it — merge matches only LIVE rows); else `%7 = 3` → still
    * DV-dead; else the original row.
    */
  private val s39DeltaDvMergeSql =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 5 <> 4 AND o_orderkey % 10 < 2
      |       THEN 'M' ELSE o_orderstatus END AS o_orderstatus,
      |  CASE WHEN o_orderkey % 5 <> 4 AND o_orderkey % 10 < 2
      |       THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice
      |FROM orders
      |WHERE o_orderkey % 5 = 4 OR o_orderkey % 10 < 2 OR NOT (o_orderkey % 7 = 3)
      |ORDER BY o_orderkey""".stripMargin

  private val S40Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s40_delta_v2cp"
  private val s40BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S40 — V2 (UUID/sidecar) CHECKPOINTS, the modern Delta checkpoint
    * form (`v2Checkpoint` table feature): after two appends and a DV
    * delete, `writeCheckpointV2` upgrades the protocol, lands the file
    * actions in a `_delta_log/_sidecars/` parquet, and points
    * `_last_checkpoint` at the UUID-named checkpoint; the fixture then
    * DELETES the whole JSON prefix, so the read below can only succeed
    * by walking checkpoint → sidecar (protocol, schema, partition
    * values, stats AND the deletion-vector descriptor all ride the
    * sidecar). The oracle recomputes the surviving rows from `orders`;
    * a dropped descriptor (resurrected rows), lost add, or mis-read
    * sidecar hash-fails.
    */
  def s40DeltaV2Checkpoint(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s40BuiltFor.synchronized {
      if (s40BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S40Root))
        val base = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        graft.sources.DeltaLog.append(spark, S40Root, base.filter(col("o_orderkey") % 2 === 0))
        graft.sources.DeltaLog.append(spark, S40Root, base.filter(col("o_orderkey") % 2 =!= 0))
        graft.sources.DeltaLog.deleteWithDv(spark, S40Root, col("o_orderkey") % 7 === 3)
        val cv = graft.sources.DeltaLog.writeCheckpointV2(spark, S40Root)
        // simulate log cleanup: the JSON prefix is disposable now
        (0L to cv).foreach { v =>
          java.nio.file.Files.delete(java.nio.file.Paths.get(
            s"$S40Root/_delta_log/" + f"$v%020d.json"))
        }
        s40BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.read(spark, S40Root).orderBy("o_orderkey")
  }

  private val s40DeltaV2CheckpointSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders WHERE NOT (o_orderkey % 7 = 3)
      |ORDER BY o_orderkey""".stripMargin

  private val S41Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s41_delta_cm"
  private val s41BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S41 — COLUMN MAPPING (name mode) as a first-class table, not a
    * read-only curiosity (r13 verdict item 3): the table is CREATED
    * mapped (`columnMapping = "name"` assigns `col-<uuid>` physical
    * names, declares the feature at (3, 7)) and PARTITIONED, so every
    * data file carries physical column names and every
    * `add.partitionValues` is keyed by the physical partition column.
    * The full write lifecycle then runs against it: two appends, a
    * DV delete (`%7 = 3`), a MERGE whose updates MOVE rows across
    * partitions (status flips to 'M'), and an OPTIMIZE pass that
    * purges the surviving vectors — all committing physical names
    * while the reader keeps serving logical ones. A logical/physical
    * mix-up anywhere (scan schema, partition values, rewrite staging,
    * stats keys) either throws or hash-fails against the oracle's
    * recomputation from raw `orders`.
    */
  def s41DeltaColumnMapping(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    def proj(df: DataFrame) = df.select(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    s41BuiltFor.synchronized {
      if (s41BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S41Root))
        val all = proj(Tables.orders(spark, dir))
        val base = all.filter(col("o_orderkey") % 5 =!= 4)
        graft.sources.DeltaLog.append(spark, S41Root,
          base.filter(col("o_orderkey") % 2 === 0),
          partitionBy = Seq("o_orderstatus"), columnMapping = "name")
        graft.sources.DeltaLog.append(spark, S41Root,
          base.filter(col("o_orderkey") % 2 =!= 0),
          partitionBy = Seq("o_orderstatus"))
        graft.sources.DeltaLog.deleteWithDv(spark, S41Root, col("o_orderkey") % 7 === 3)
        val updated = base.filter(col("o_orderkey") % 10 < 2)
          .withColumn("o_orderstatus", lit("M"))
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        val inserted = all.filter(col("o_orderkey") % 5 === 4)
        graft.sources.DeltaLog.merge(spark, S41Root,
          updated.unionByName(inserted), keys = Seq("o_orderkey"))
        graft.sources.DeltaLog.compact(spark, S41Root)
        s41BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.read(spark, S41Root).orderBy("o_orderkey")
  }

  /** Same end state as s39 (the lifecycle is the s39 one, run on a
    * mapped partitioned table): `%5 = 4` inserted verbatim; `%10 < 2`
    * keys end at ('M', +1000) — live ones as updates, DV-dead ones
    * re-entering as inserts (merge matches only LIVE rows and the
    * update set was computed pre-delete); other `%7 = 3` stay dead.
    */
  private val s41DeltaColumnMappingSql =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 5 <> 4 AND o_orderkey % 10 < 2
      |       THEN 'M' ELSE o_orderstatus END AS o_orderstatus,
      |  CASE WHEN o_orderkey % 5 <> 4 AND o_orderkey % 10 < 2
      |       THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice
      |FROM orders
      |WHERE o_orderkey % 5 = 4 OR o_orderkey % 10 < 2 OR NOT (o_orderkey % 7 = 3)
      |ORDER BY o_orderkey""".stripMargin

  private val S42Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s42_delta_cm_id"
  private val s42BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S42 — COLUMN MAPPING in `id` mode: columns resolve by PARQUET
    * FIELD ID (the mode `CONVERT TO DELTA` over Iceberg yields, where
    * file column names are whatever the original writer used and only
    * the ids are stable). The table is created with
    * `columnMapping = "id"` — data files carry `col-<uuid>` names plus
    * field ids, and the reader matches on the ids via Spark's own
    * field-id resolution. A copy-on-write DELETE (`%3 = 1`) rewrites
    * through the mapped scan, then the final read filters a BETWEEN
    * range so the STATS SKIPPING path proves its keys too: the
    * per-file min/max live under PHYSICAL names, and a logical-keyed
    * lookup would silently stop skipping (or worse, skip wrongly) —
    * the oracle's recomputation pins the surviving row set.
    */
  def s42DeltaColumnMappingId(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s42BuiltFor.synchronized {
      if (s42BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S42Root))
        val base = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        graft.sources.DeltaLog.append(spark, S42Root,
          base.filter(col("o_orderkey") % 2 === 0), columnMapping = "id")
        graft.sources.DeltaLog.append(spark, S42Root,
          base.filter(col("o_orderkey") % 2 =!= 0))
        graft.sources.DeltaLog.delete(spark, S42Root, col("o_orderkey") % 3 === 1)
        s42BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.read(spark, S42Root)
      .filter(col("o_orderkey").between(1000L, 100000000L))
      .orderBy("o_orderkey")
  }

  private val s42DeltaColumnMappingIdSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE NOT (o_orderkey % 3 = 1)
      |  AND o_orderkey BETWEEN 1000 AND 100000000
      |ORDER BY o_orderkey""".stripMargin

  private val S43Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s43_delta_cdf"
  private val s43BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S43 — a REAL change data feed (r13 verdict item 7): the table is
    * created with `delta.enableChangeDataFeed = true`, so the DV
    * delete and the MERGE below materialize their row-level changes as
    * `cdc` actions + `_change_data/` parquet at WRITE time, and
    * `readCdf` replays the whole history per commit — appends derived
    * as inserts from their `add` actions, everything else read from
    * the change files alone, no rewritten data file ever rescanned
    * (the protocol's answer for frequent small changes: at 100 TB a
    * 10-row merge costs the CDF reader KBs, not the rewritten
    * gigabytes). The oracle recomputes every commit's pre/post images
    * from raw `orders`; a missed preimage, a dead row counted as a
    * match, or a change row with the wrong version tag hash-fails.
    */
  def s43DeltaCdf(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    def proj(df: DataFrame) = df.select(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    s43BuiltFor.synchronized {
      if (s43BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S43Root))
        val all = proj(Tables.orders(spark, dir))
        val base = all.filter(col("o_orderkey") % 5 =!= 4)
        graft.sources.DeltaLog.append(spark, S43Root,
          base.filter(col("o_orderkey") % 2 === 0),
          configuration = Map("delta.enableChangeDataFeed" -> "true"))
        graft.sources.DeltaLog.append(spark, S43Root,
          base.filter(col("o_orderkey") % 2 =!= 0))
        graft.sources.DeltaLog.deleteWithDv(spark, S43Root, col("o_orderkey") % 7 === 3)
        val updated = base.filter(col("o_orderkey") % 10 < 2)
          .withColumn("o_orderstatus", lit("M"))
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        val inserted = all.filter(col("o_orderkey") % 5 === 4)
        graft.sources.DeltaLog.merge(spark, S43Root,
          updated.unionByName(inserted), keys = Seq("o_orderkey"))
        s43BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.readCdf(spark, S43Root, 0L, 3L)
      .orderBy("_commit_version", "_change_type", "o_orderkey")
  }

  /** Commit-by-commit: v1 inserts the odd half of base; v2 DV-deletes
    * the live `%7 = 3`; v3 pre/post-images the live `%10 < 2` matches
    * and inserts the `%5 = 4` holdouts plus the DV-dead `%10 < 2` keys
    * (merge matches only LIVE rows, so those re-enter as inserts).
    */
  private val s43DeltaCdfSql =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
      |  FROM orders WHERE o_orderkey % 5 <> 4 AND o_orderkey % 2 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    'delete', CAST(2 AS BIGINT)
      |  FROM orders WHERE o_orderkey % 5 <> 4 AND o_orderkey % 7 = 3
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    'update_preimage', CAST(3 AS BIGINT)
      |  FROM orders
      |  WHERE o_orderkey % 5 <> 4 AND o_orderkey % 10 < 2 AND o_orderkey % 7 <> 3
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, 'M', o_totalprice + 1000.0,
      |    'update_postimage', CAST(3 AS BIGINT)
      |  FROM orders
      |  WHERE o_orderkey % 5 <> 4 AND o_orderkey % 10 < 2 AND o_orderkey % 7 <> 3
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    'insert', CAST(3 AS BIGINT)
      |  FROM orders WHERE o_orderkey % 5 = 4
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, 'M', o_totalprice + 1000.0,
      |    'insert', CAST(3 AS BIGINT)
      |  FROM orders
      |  WHERE o_orderkey % 5 <> 4 AND o_orderkey % 10 < 2 AND o_orderkey % 7 = 3
      |) ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin

  private val S44Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s44_delta_repl"
  private val s44BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S44 — table-to-table INCREMENTAL REPLICATION (r13 verdict item 4,
    * the reference's curated→enterprise tail `main.py:239-304` as two
    * Delta tables): a CDF-enabled source takes the s39 lifecycle in
    * two bursts, and after each burst `replicateOnce` pulls the net
    * changes (`readChangesSince`, CDF-backed — change files, not
    * rescans) and applies them to the target as ONE exactly-once
    * commit whose `txn` epoch IS the cursor. A replayed pull is
    * absorbed by the epoch guard; the query then reads the TARGET, so
    * any divergence — dropped delete, double-applied update, stale
    * cursor re-pull — hash-fails against the oracle's recomputation of
    * the SOURCE end state.
    */
  def s44DeltaReplicate(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    val srcRoot = s"$S44Root/src"
    val dstRoot = s"$S44Root/dst"
    def proj(df: DataFrame) = df.select(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    s44BuiltFor.synchronized {
      if (s44BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S44Root))
        val all = proj(Tables.orders(spark, dir))
        val base = all.filter(col("o_orderkey") % 5 =!= 4)
        graft.sources.DeltaLog.append(spark, srcRoot,
          base.filter(col("o_orderkey") % 2 === 0),
          configuration = Map("delta.enableChangeDataFeed" -> "true"))
        // burst 1 replicated: bootstrap full-snapshot pull
        graft.sources.DeltaLog.replicateOnce(spark, srcRoot, dstRoot,
          Seq("o_orderkey"), "s44-repl")
        graft.sources.DeltaLog.append(spark, srcRoot,
          base.filter(col("o_orderkey") % 2 =!= 0))
        graft.sources.DeltaLog.deleteWithDv(spark, srcRoot, col("o_orderkey") % 7 === 3)
        val updated = base.filter(col("o_orderkey") % 10 < 2)
          .withColumn("o_orderstatus", lit("M"))
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        val inserted = all.filter(col("o_orderkey") % 5 === 4)
        graft.sources.DeltaLog.merge(spark, srcRoot,
          updated.unionByName(inserted), keys = Seq("o_orderkey"))
        // burst 2 replicated, then a REPLAYED pull (crash twin) that
        // must be absorbed without a duplicate apply
        graft.sources.DeltaLog.replicateOnce(spark, srcRoot, dstRoot,
          Seq("o_orderkey"), "s44-repl")
        graft.sources.DeltaLog.replicateOnce(spark, srcRoot, dstRoot,
          Seq("o_orderkey"), "s44-repl")
        s44BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.read(spark, dstRoot).orderBy("o_orderkey")
  }

  /** The s39 end state, read from the REPLICATED target. */
  private val s44DeltaReplicateSql =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 5 <> 4 AND o_orderkey % 10 < 2
      |       THEN 'M' ELSE o_orderstatus END AS o_orderstatus,
      |  CASE WHEN o_orderkey % 5 <> 4 AND o_orderkey % 10 < 2
      |       THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice
      |FROM orders
      |WHERE o_orderkey % 5 = 4 OR o_orderkey % 10 < 2 OR NOT (o_orderkey % 7 = 3)
      |ORDER BY o_orderkey""".stripMargin

  private val S45Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s45_iceberg_eq_scoped"
  private val s45BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S45 — PARTITION-SCOPED Iceberg equality deletes (r13 verdict item
    * 6 + the r13 advice's correctness trap): on a PARTITIONED v2 table
    * a delete file written under the partitioned spec applies ONLY to
    * data files in the SAME partition. The fixture tombstones
    * `o_custkey % 10 = 4` scoped to the 'O' partition (the same keys
    * in 'F'/'P' MUST survive — a partition-blind reader kills them
    * too), then a GLOBAL tombstone (`% 10 = 7`, unpartitioned-spec
    * shape) that applies everywhere, then re-appends some 'O' keys the
    * scoped delete had killed — surviving on the strict
    * `dataSeq < deleteSeq` gate. One oracle recomputation pins all
    * three semantics at once.
    */
  def s45IcebergEqScoped(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s45BuiltFor.synchronized {
      if (s45BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S45Root))
        val base = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        graft.sources.IcebergTable.append(spark, S45Root, base,
          partitionBy = Seq("o_orderstatus"))
        graft.sources.IcebergTable.deleteRowsEquality(spark, S45Root,
          Seq("o_custkey"),
          base.filter(col("o_custkey") % 10 === 4).select("o_custkey").distinct(),
          partitionScope = Map("o_orderstatus" -> "O"))
        graft.sources.IcebergTable.deleteRowsEquality(spark, S45Root,
          Seq("o_custkey"),
          base.filter(col("o_custkey") % 10 === 7).select("o_custkey").distinct())
        graft.sources.IcebergTable.append(spark, S45Root,
          base.filter(col("o_custkey") % 10 === 4 &&
            col("o_orderstatus") === "O" && col("o_orderkey") % 13 === 0),
          partitionBy = Seq("o_orderstatus"))
        s45BuiltFor.set(dir)
      }
    }
    graft.sources.IcebergTable.read(spark, S45Root).orderBy("o_orderkey")
  }

  private val s45IcebergEqScopedSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE (o_custkey % 10 <> 4 OR o_orderstatus <> 'O' OR o_orderkey % 13 = 0)
      |  AND o_custkey % 10 <> 7
      |ORDER BY o_orderkey""".stripMargin

  private val S46Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s46_iceberg_rewrite"
  private val s46BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S46 — Iceberg MAINTENANCE lifecycle (`rewrite_data_files` +
    * `expire_snapshots`) over a MIXED-SIZE fixture: the even half lands
    * as ONE full-sized file, the odd half as eight small ones, and an
    * equality tombstone (`o_custkey % 10 = 4`) bites into both. The
    * REWRITE selects only the small-file debt — the full-sized file is
    * guarded to survive BY EXACT PATH (never read, never moved; at
    * 100 TB this is the difference between compaction costing the debt
    * and costing the table) — with the carried delete manifest still
    * gating it; the EXPIRY then reclaims everything only the
    * pre-rewrite snapshots reached. The final read runs AFTER the
    * cleanup, so an expiry that over-deletes throws and a rewrite that
    * loses the carried tombstones or the untouched file hash-fails.
    */
  def s46IcebergRewrite(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s46BuiltFor.synchronized {
      if (s46BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S46Root))
        val base = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        graft.sources.IcebergTable.append(spark, S46Root,
          base.filter(col("o_orderkey") % 2 === 0).coalesce(1))
        graft.sources.IcebergTable.append(spark, S46Root,
          base.filter(col("o_orderkey") % 2 =!= 0).repartition(8))
        graft.sources.IcebergTable.deleteRowsEquality(spark, S46Root,
          Seq("o_custkey"),
          base.filter(col("o_custkey") % 10 === 4).select("o_custkey").distinct())
        val before = graft.sources.IcebergTable.snapshot(spark, S46Root)
        val largePath = before.dataRefs.maxBy(_.sizeBytes).path
        // threshold right below the big file: ONLY the small debt selects
        graft.sources.IcebergTable.rewriteDataFiles(spark, S46Root,
          targetFileBytes = 1L << 30,
          minFileSizeBytes = before.dataRefs.map(_.sizeBytes).max)
        val after = graft.sources.IcebergTable.snapshot(spark, S46Root)
        require(after.files.contains(largePath),
          "s46: the full-sized file must survive the rewrite by exact path")
        require(after.files.size < before.files.size,
          "s46: the small-file debt must bin-pack into fewer files")
        require(after.deleteFiles.nonEmpty,
          "s46: the delete manifest must carry forward for the untouched file")
        graft.sources.IcebergTable.expireSnapshots(spark, S46Root,
          olderThanMillis = System.currentTimeMillis() + 60000, retainLast = 1)
        s46BuiltFor.set(dir)
      }
    }
    graft.sources.IcebergTable.read(spark, S46Root).orderBy("o_orderkey")
  }

  private val s46IcebergRewriteSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE o_custkey % 10 <> 4
      |ORDER BY o_orderkey""".stripMargin

  private val S47Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s47_delta_clone"
  private val s47BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S47 — SHALLOW CLONE lifecycle: the source takes two appends and a
    * DV delete, the clone is a metadata-only v0 referencing the
    * source's files absolutely (zero bytes copied — the fixture build
    * would be 2× slower otherwise), and the s39 MERGE then runs ON THE
    * CLONE: copy-on-write replaces exactly the affected absolute
    * references with clone-local rewrites while untouched source files
    * stay shared. The query reads the CLONE; the oracle recomputes its
    * end state from raw `orders` — a merge that leaked into the source,
    * resurrected the DV-dead rows through the clone, or dropped a
    * shared file hash-fails.
    */
  def s47DeltaClone(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    val srcRoot = s"$S47Root/src"
    val cloneRoot = s"$S47Root/clone"
    def proj(df: DataFrame) = df.select(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    s47BuiltFor.synchronized {
      if (s47BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S47Root))
        val all = proj(Tables.orders(spark, dir))
        val base = all.filter(col("o_orderkey") % 5 =!= 4)
        graft.sources.DeltaLog.append(spark, srcRoot,
          base.filter(col("o_orderkey") % 2 === 0))
        graft.sources.DeltaLog.append(spark, srcRoot,
          base.filter(col("o_orderkey") % 2 =!= 0))
        graft.sources.DeltaLog.deleteWithDv(spark, srcRoot, col("o_orderkey") % 7 === 3)
        graft.sources.DeltaLog.shallowClone(spark, srcRoot, cloneRoot)
        val updated = base.filter(col("o_orderkey") % 10 < 2)
          .withColumn("o_orderstatus", lit("M"))
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        val inserted = all.filter(col("o_orderkey") % 5 === 4)
        graft.sources.DeltaLog.merge(spark, cloneRoot,
          updated.unionByName(inserted), keys = Seq("o_orderkey"))
        s47BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.read(spark, cloneRoot).orderBy("o_orderkey")
  }

  /** The s39 end state, computed on the CLONE. */
  private val s47DeltaCloneSql =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 5 <> 4 AND o_orderkey % 10 < 2
      |       THEN 'M' ELSE o_orderstatus END AS o_orderstatus,
      |  CASE WHEN o_orderkey % 5 <> 4 AND o_orderkey % 10 < 2
      |       THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice
      |FROM orders
      |WHERE o_orderkey % 5 = 4 OR o_orderkey % 10 < 2 OR NOT (o_orderkey % 7 = 3)
      |ORDER BY o_orderkey""".stripMargin

  private val S48Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s48_delta_rename"
  private val s48BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S48 — metadata-only RENAME + DROP COLUMN on a mapped table (the
    * capability column mapping exists for): the even half lands under
    * the original names, `o_totalprice` renames to `price` (zero files
    * touched — the physicalName is the data-file identity), the odd
    * half appends under the NEW logical schema (two generations of
    * files, one physical column name between them), `o_orderstatus`
    * drops logically while staying in every file, and a DV delete runs
    * across both generations. A reader that binds logical instead of
    * physical names anywhere — scan, partition values, DV provenance —
    * loses a generation or resurrects the dropped column; the oracle
    * recomputes the final 3-column shape from raw `orders`.
    */
  def s48DeltaRenameDrop(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s48BuiltFor.synchronized {
      if (s48BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S48Root))
        val base = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        graft.sources.DeltaLog.append(spark, S48Root,
          base.filter(col("o_orderkey") % 2 === 0), columnMapping = "name")
        graft.sources.DeltaLog.renameColumn(spark, S48Root, "o_totalprice", "price")
        graft.sources.DeltaLog.append(spark, S48Root,
          base.filter(col("o_orderkey") % 2 =!= 0)
            .withColumnRenamed("o_totalprice", "price"))
        graft.sources.DeltaLog.dropColumn(spark, S48Root, "o_orderstatus")
        graft.sources.DeltaLog.deleteWithDv(spark, S48Root, col("o_orderkey") % 7 === 3)
        s48BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.read(spark, S48Root).orderBy("o_orderkey")
  }

  private val s48DeltaRenameDropSql =
    """SELECT o_orderkey, o_custkey, o_totalprice AS price
      |FROM orders WHERE NOT (o_orderkey % 7 = 3)
      |ORDER BY o_orderkey""".stripMargin

  private val S49Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s49_delta_widen"
  private val s49BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S49 — TYPE WIDENING (`typeWidening` table feature): the even half
    * lands with an INT key column, ALTER COLUMN TYPE widens it to
    * BIGINT as a METADATA-ONLY commit (no file rewritten — the
    * feature's whole point), the odd half appends values only BIGINT
    * can hold (+10^10), and a DV delete runs across both width
    * generations. Every read upcasts the narrow files through the
    * declared schema; the oracle recomputes the mixed-width column
    * exactly, so a lost upcast (int32 bits reinterpreted), a rewrite
    * masquerading as widening, or stats skipping mis-typed against the
    * int-era min/max hash-fails.
    */
  def s49DeltaTypeWidening(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s49BuiltFor.synchronized {
      if (s49BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S49Root))
        val base = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
        graft.sources.DeltaLog.append(spark, S49Root,
          base.filter(col("o_orderkey") % 2 === 0)
            .withColumn("ck", col("o_custkey").cast(IntegerType)).drop("o_custkey"))
        graft.sources.DeltaLog.widenColumnType(spark, S49Root, "ck", LongType)
        graft.sources.DeltaLog.append(spark, S49Root,
          base.filter(col("o_orderkey") % 2 =!= 0)
            .withColumn("ck", col("o_custkey") + lit(10000000000L)).drop("o_custkey"))
        graft.sources.DeltaLog.deleteWithDv(spark, S49Root, col("o_orderkey") % 7 === 3)
        s49BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.read(spark, S49Root).orderBy("o_orderkey")
  }

  private val s49DeltaTypeWideningSql =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 2 = 0 THEN o_custkey
      |       ELSE o_custkey + 10000000000 END AS ck
      |FROM orders
      |WHERE NOT (o_orderkey % 7 = 3)
      |ORDER BY o_orderkey""".stripMargin

  private val S50Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s50_iceberg_rename"
  private val s50BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S50 — Iceberg metadata-only RENAME + DROP via field ids (the
    * twin of the Delta s48): the even half lands under the original
    * names and takes an equality tombstone (`o_custkey % 10 = 7`, seq-
    * gated to THIS generation only), `o_totalprice` renames to `price`
    * with ZERO files touched (field id 4 is the binding — parquet
    * footers and the delete's `equality_ids` both resolve by it), the
    * odd half appends under the NEW name, `o_orderstatus` drops
    * logically while staying in every file, and a SECOND equality
    * tombstone (`% 10 = 4`) lands post-rename over both generations.
    * A reader binding names instead of ids anywhere loses a
    * generation, resurrects id=7 rows, or misses the dropped column;
    * the oracle recomputes the 3-column end state from raw `orders`.
    */
  def s50IcebergRenameDrop(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s50BuiltFor.synchronized {
      if (s50BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S50Root))
        val base = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        graft.sources.IcebergTable.append(spark, S50Root,
          base.filter(col("o_orderkey") % 2 === 0))
        graft.sources.IcebergTable.deleteRowsEquality(spark, S50Root,
          Seq("o_custkey"),
          base.filter(col("o_custkey") % 10 === 7).select("o_custkey").distinct())
        graft.sources.IcebergTable.renameColumn(spark, S50Root, "o_totalprice", "price")
        graft.sources.IcebergTable.append(spark, S50Root,
          base.filter(col("o_orderkey") % 2 =!= 0)
            .withColumnRenamed("o_totalprice", "price"))
        graft.sources.IcebergTable.dropColumn(spark, S50Root, "o_orderstatus")
        graft.sources.IcebergTable.deleteRowsEquality(spark, S50Root,
          Seq("o_custkey"),
          base.filter(col("o_custkey") % 10 === 4).select("o_custkey").distinct())
        s50BuiltFor.set(dir)
      }
    }
    graft.sources.IcebergTable.read(spark, S50Root).orderBy("o_orderkey")
  }

  private val s50IcebergRenameDropSql =
    """SELECT o_orderkey, o_custkey, o_totalprice AS price
      |FROM orders
      |WHERE NOT (o_orderkey % 2 = 0 AND o_custkey % 10 = 7)
      |  AND o_custkey % 10 <> 4
      |ORDER BY o_orderkey""".stripMargin

  private val S51Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s51_iceberg_widen"
  private val s51BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S51 — Iceberg TYPE WIDENING (the twin of the Delta s49): the even
    * half lands with an INT key column, `widenColumnType` promotes it
    * to LONG as a METADATA-ONLY commit (Iceberg's `int -> long`
    * promotion rule — no file rewritten), the odd half appends values
    * only LONG can hold (+10^10), and a position delete runs across
    * both width generations. Every read upcasts the narrow files
    * through the declared schema; the oracle recomputes the
    * mixed-width column exactly.
    */
  def s51IcebergWidening(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s51BuiltFor.synchronized {
      if (s51BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S51Root))
        val base = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
        graft.sources.IcebergTable.append(spark, S51Root,
          base.filter(col("o_orderkey") % 2 === 0)
            .withColumn("ck", col("o_custkey").cast(IntegerType)).drop("o_custkey"))
        graft.sources.IcebergTable.widenColumnType(spark, S51Root, "ck", LongType)
        graft.sources.IcebergTable.append(spark, S51Root,
          base.filter(col("o_orderkey") % 2 =!= 0)
            .withColumn("ck", col("o_custkey") + lit(10000000000L)).drop("o_custkey"))
        graft.sources.IcebergTable.deleteRows(spark, S51Root, col("o_orderkey") % 7 === 3)
        s51BuiltFor.set(dir)
      }
    }
    graft.sources.IcebergTable.read(spark, S51Root).orderBy("o_orderkey")
  }

  private val s51IcebergWideningSql =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 2 = 0 THEN o_custkey
      |       ELSE o_custkey + 10000000000 END AS ck
      |FROM orders
      |WHERE NOT (o_orderkey % 7 = 3)
      |ORDER BY o_orderkey""".stripMargin

  private val S54Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s54_iceberg_range"
  private val s54BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S54 — Iceberg MANIFEST-BOUNDS file skipping: orders land
    * range-partitioned into disjoint-keyrange files whose manifests
    * carry real `lower_bounds`/`upper_bounds` (field-id keyed,
    * single-value binary), and a keyrange filter on the read skips
    * the files provably outside the range at PLAN time, from the
    * manifests alone, inside the scan's file index (guarded in-query
    * through [[graft.sources.LogFileIndex.plannedFiles]]: at least
    * half the files must skip; at 100 TB this is
    * the difference between a probe costing its selectivity and
    * costing the table). The oracle recomputes the exact rows, so
    * over-pruning (a lost row) or bound mis-encoding hash-fails.
    */
  def s54IcebergRange(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s54BuiltFor.synchronized {
      if (s54BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S54Root))
        val base = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        graft.sources.IcebergTable.append(spark, S54Root,
          base.repartitionByRange(8, col("o_orderkey")))
        s54BuiltFor.set(dir)
      }
    }
    val mx = Tables.orders(spark, dir)
      .agg(max("o_orderkey")).head().getLong(0)
    val (lo, hi) = (mx * 2 / 10, mx * 3 / 10)
    val total = graft.sources.IcebergTable.snapshot(spark, S54Root).dataRefs.size
    val slice = graft.sources.IcebergTable.read(spark, S54Root)
      .filter(col("o_orderkey").between(lo, hi))
    val planned = graft.sources.LogFileIndex.plannedFiles(slice).size
    require(planned * 2 <= total,
      s"s54: bounds must skip at least half the files (kept $planned of $total)")
    slice.orderBy("o_orderkey")
  }

  private val s54IcebergRangeSql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderkey >= (SELECT max(o_orderkey) * 2 // 10 FROM orders)
      |  AND o_orderkey <= (SELECT max(o_orderkey) * 3 // 10 FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  private val S55Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s55_iceberg_tag"
  private val s55BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S55 — Iceberg SNAPSHOT REFS: a TAG pins the first append, the
    * table then moves on (second append + equality delete) and
    * `expire_snapshots` reclaims everything unreferenced with
    * `retainLast = 1` — but the tagged snapshot and every file it
    * reaches survive (a tag IS a retention promise; real audit /
    * reproducibility workflows hang on exactly this). The query reads
    * THROUGH the ref after the expiry, so an expiry that ignores refs
    * (reclaiming the tag's files) throws, and a ref resolving to the
    * wrong snapshot hash-fails against the oracle's recomputation of
    * the FIRST append.
    */
  def s55IcebergTag(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s55BuiltFor.synchronized {
      if (s55BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S55Root))
        val base = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        graft.sources.IcebergTable.append(spark, S55Root,
          base.filter(col("o_orderkey") % 2 === 0))
        graft.sources.IcebergTable.createTag(spark, S55Root, "release-1")
        graft.sources.IcebergTable.append(spark, S55Root,
          base.filter(col("o_orderkey") % 2 =!= 0))
        graft.sources.IcebergTable.deleteRowsEquality(spark, S55Root,
          Seq("o_custkey"),
          base.filter(col("o_custkey") % 10 === 4).select("o_custkey").distinct())
        graft.sources.IcebergTable.expireSnapshots(spark, S55Root,
          olderThanMillis = System.currentTimeMillis() + 60000, retainLast = 1)
        s55BuiltFor.set(dir)
      }
    }
    graft.sources.IcebergTable.readRef(spark, S55Root, "release-1")
      .orderBy("o_orderkey")
  }

  private val s55IcebergTagSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders WHERE o_orderkey % 2 = 0
      |ORDER BY o_orderkey""".stripMargin

  private val S56Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s56_iceberg_incr"
  private val s56BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S56 — Iceberg INCREMENTAL APPEND SCAN (the polling-consumer twin
    * of `readChangesSince` on the Delta side): three appends land with
    * a COMPACTION between the last two, and the consumer pulls
    * `(first, last]` — exactly the second and third appends' rows,
    * each resolved from its own snapshot's ADDED manifests. The
    * compaction snapshot contributes NOTHING (`replace` carries new
    * layout, not new rows — an incremental consumer double-reading
    * after every maintenance pass would be the bug); over- or
    * under-reading hash-fails against the oracle.
    */
  def s56IcebergIncremental(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s56BuiltFor.synchronized {
      if (s56BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S56Root))
        val base = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        graft.sources.IcebergTable.append(spark, S56Root,
          base.filter(col("o_orderkey") % 3 === 0))
        graft.sources.IcebergTable.append(spark, S56Root,
          base.filter(col("o_orderkey") % 3 === 1).repartition(4))
        graft.sources.IcebergTable.rewriteDataFiles(spark, S56Root,
          minFileSizeBytes = Long.MaxValue) // full compaction: layout only
        graft.sources.IcebergTable.append(spark, S56Root,
          base.filter(col("o_orderkey") % 3 === 2))
        s56BuiltFor.set(dir)
      }
    }
    val snaps = graft.sources.IcebergTable.snapshotsTable(spark, S56Root)
      .orderBy("lineage")
      .select("snapshot_id", "operation").collect()
    val appendIds = snaps.filter(_.getString(1) == "append").map(_.getLong(0))
    graft.sources.IcebergTable.readAppendsBetween(spark, S56Root,
        appendIds.head, appendIds.last)
      .orderBy("o_orderkey")
  }

  private val s56IcebergIncrementalSql =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders WHERE o_orderkey % 3 IN (1, 2)
      |ORDER BY o_orderkey""".stripMargin

  private val S53Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s53_delta_rowtrack"
  private val s53BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S53 — Delta ROW TRACKING read support (r14 verdict stretch): a
    * hand-authored (3,7) log declaring the `rowTracking` writer
    * feature, two sorted data files whose adds carry
    * `baseRowId`/`defaultRowCommitVersion`, and an inline deletion
    * vector tombstoning `o_orderkey % 7 = 3` in the FIRST file. The
    * query reads through [[graft.sources.DeltaLog.readWithRowIds]]:
    * survivors must keep their ORIGINAL position-derived identities
    * (the feature's whole point — a CDC consumer keys on them), so a
    * reader that renumbers after the DV drop, loses a file's base, or
    * mixes up commit versions hash-fails against the oracle's
    * row_number() reconstruction. Writes into the table keep refusing
    * (this writer does not allocate base row ids).
    */
  def s53DeltaRowTracking(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s53BuiltFor.synchronized {
      if (s53BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S53Root))
        val fs = new org.apache.hadoop.fs.Path(S53Root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val base = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
        // one sorted single-part file per half: row_index == rank
        def stage(half: Int, name: String): Long = {
          val df = base.filter(col("o_orderkey") % 2 === half)
            .repartition(1).sortWithinPartitions("o_orderkey")
          val st = s"$S53Root/_stage_$half"
          df.write.parquet(st)
          val part = fs.globStatus(
            new org.apache.hadoop.fs.Path(s"$st/part-*.parquet"))(0).getPath
          fs.rename(part, new org.apache.hadoop.fs.Path(s"$S53Root/$name"))
          fs.delete(new org.apache.hadoop.fs.Path(st), true)
          df.count()
        }
        val nEven = stage(0, "a.parquet")
        stage(1, "b.parquet")
        // inline DV over the even file: positions of o_orderkey%7==3
        // by rank within the sorted file
        import org.apache.spark.sql.expressions.Window
        val positions = base.filter(col("o_orderkey") % 2 === 0)
          .withColumn("pos",
            row_number().over(Window.orderBy("o_orderkey")).cast("long") - 1)
          .filter(col("o_orderkey") % 7 === 3)
          .select("pos").orderBy("pos")
          .collect().map(_.getLong(0))
        val dvData = graft.sources.DeletionVectors.serialize(positions)
        val padded = java.util.Arrays.copyOf(dvData, (dvData.length + 3) / 4 * 4)
        val inline = graft.sources.DeletionVectors.z85Encode(padded)
        val schemaJson = base.schema.json.replace("\"", "\\\"")
        def commit(v: Long, lines: Seq[String]): Unit = {
          val p = new org.apache.hadoop.fs.Path(f"$S53Root/_delta_log/$v%020d.json")
          fs.mkdirs(p.getParent)
          val out = fs.create(p, false)
          try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
          finally out.close()
        }
        commit(0, Seq(
          """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["rowTracking","deletionVectors","appendOnly","invariants","domainMetadata"]}}""",
          s"""{"metaData":{"id":"s53","format":{"provider":"parquet"},"schemaString":"$schemaJson","partitionColumns":[]}}""",
          s"""{"add":{"path":"a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"baseRowId":0,"defaultRowCommitVersion":0,"deletionVector":{"storageType":"i","pathOrInlineDv":"$inline","sizeInBytes":${dvData.length},"cardinality":${positions.length}}}}"""))
        commit(1, Seq(
          s"""{"add":{"path":"b.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"baseRowId":$nEven,"defaultRowCommitVersion":1}}"""))
        s53BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.readWithRowIds(spark, S53Root)
      .select("o_orderkey", "o_custkey", "row_id", "row_commit_version")
      .orderBy("row_id")
  }

  private val s53DeltaRowTrackingSql =
    """WITH e AS (SELECT o_orderkey, o_custkey,
      |    row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |o AS (SELECT o_orderkey, o_custkey,
      |    row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
      |  FROM orders WHERE o_orderkey % 2 = 1),
      |n AS (SELECT count(*) AS ne FROM e)
      |SELECT * FROM (
      |  SELECT o_orderkey, o_custkey, pos AS row_id,
      |    CAST(0 AS BIGINT) AS row_commit_version
      |  FROM e WHERE o_orderkey % 7 <> 3
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, pos + ne, CAST(1 AS BIGINT) FROM o, n
      |) ORDER BY row_id""".stripMargin

  private val S58Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s58_delta_rowtrack_write"
  private val s58BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S58 — Delta ROW TRACKING WRITE path (r15 verdict item 1): the
    * table is built entirely by THIS writer — two single-file sorted
    * appends into a `rowTracking` table (fresh base-id allocation
    * against the `delta.rowTracking` domain-metadata high-water mark),
    * an OPTIMIZE-style [[graft.sources.DeltaLog.compact]] that packs
    * both files while carrying every survivor's identity through the
    * MATERIALIZED row-id columns, then a third append that must
    * continue ABOVE the compacted file's burned block. The oracle
    * recomputes all three id ranges and the commit versions from raw
    * `orders`, so an allocator that renumbers survivors, reuses burned
    * ids, mis-orders files, or stamps the wrong commit version
    * hash-fails.
    */
  def s58DeltaRowTrackingWrite(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s58BuiltFor.synchronized {
      if (s58BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S58Root))
        val base = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
        def slice(m: Int) = base.filter(col("o_orderkey") % 3 === m)
          .repartition(1).sortWithinPartitions("o_orderkey")
        graft.sources.DeltaLog.append(spark, S58Root, slice(0), rowTracking = true)
        graft.sources.DeltaLog.append(spark, S58Root, slice(1))
        require(graft.sources.DeltaLog.compact(spark, S58Root) >= 0,
          "s58: compaction must pack the two small files")
        graft.sources.DeltaLog.append(spark, S58Root, slice(2))
        s58BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.readWithRowIds(spark, S58Root)
      .select("o_orderkey", "o_custkey", "row_id", "row_commit_version")
      .orderBy("row_id")
  }

  private val s58DeltaRowTrackingWriteSql =
    """WITH a AS (SELECT o_orderkey, o_custkey,
      |    row_number() OVER (ORDER BY o_orderkey) - 1 AS r
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |b AS (SELECT o_orderkey, o_custkey,
      |    row_number() OVER (ORDER BY o_orderkey) - 1 AS r
      |  FROM orders WHERE o_orderkey % 3 = 1),
      |c AS (SELECT o_orderkey, o_custkey,
      |    row_number() OVER (ORDER BY o_orderkey) - 1 AS r
      |  FROM orders WHERE o_orderkey % 3 = 2),
      |n AS (SELECT (SELECT count(*) FROM a) AS na, (SELECT count(*) FROM b) AS nb)
      |SELECT * FROM (
      |  SELECT o_orderkey, o_custkey, r AS row_id,
      |    CAST(0 AS BIGINT) AS row_commit_version FROM a
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, r + na, CAST(1 AS BIGINT) FROM b, n
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, r + 2 * (na + nb), CAST(3 AS BIGINT) FROM c, n
      |) ORDER BY row_id""".stripMargin

  private val S59Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s59_delta_identity"
  private val s59BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S59 — Delta IDENTITY COLUMNS (r15 verdict item 2, the named
    * not-implemented): a table created with `sk GENERATED ALWAYS AS
    * IDENTITY (START WITH 1000 INCREMENT BY 7)` semantics takes two
    * sorted single-file appends; the writer allocates each value
    * against the field-metadata high-water mark
    * (`delta.identity.highWaterMark`), advancing it in the same
    * commit's metaData. The oracle recomputes both allocation runs
    * with row_number over the watermark, so a writer that restarts
    * from `start`, drops the step, or interleaves the runs hash-fails.
    * This is the reference's surrogate-key semantics (W1,
    * `main.py:283-286`) done protocol-natively.
    */
  def s59DeltaIdentity(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s59BuiltFor.synchronized {
      if (s59BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S59Root))
        val base = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
        def slice(m: Int) = base.filter(col("c_custkey") % 2 === m)
          .repartition(1).sortWithinPartitions("c_custkey")
        graft.sources.DeltaLog.append(spark, S59Root, slice(0),
          identity = Some(("sk", 1000L, 7L)))
        graft.sources.DeltaLog.append(spark, S59Root, slice(1))
        s59BuiltFor.set(dir)
      }
    }
    graft.sources.DeltaLog.read(spark, S59Root)
      .select("c_custkey", "c_nationkey", "sk")
      .orderBy("sk")
  }

  private val s59DeltaIdentitySql =
    """WITH a AS (SELECT c_custkey, c_nationkey,
      |    row_number() OVER (ORDER BY c_custkey) - 1 AS r
      |  FROM customer WHERE c_custkey % 2 = 0),
      |b AS (SELECT c_custkey, c_nationkey,
      |    row_number() OVER (ORDER BY c_custkey) - 1 AS r
      |  FROM customer WHERE c_custkey % 2 = 1),
      |n AS (SELECT count(*) AS na FROM a)
      |SELECT * FROM (
      |  SELECT c_custkey, c_nationkey, 1000 + 7 * r AS sk FROM a
      |  UNION ALL
      |  SELECT c_custkey, c_nationkey, 1000 + 7 * (na + r) FROM b, n
      |) ORDER BY sk""".stripMargin

  private val S60Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s60_iceberg_v3_dv"
  private val s60BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S60 — Iceberg FORMAT-VERSION 3 deletion vectors (r15 verdict
    * item 3): two appends, then two [[graft.sources.IcebergTable
    * .deleteRowsDv]] passes — the first upgrades the table to v3 and
    * writes one puffin `deletion-vector-v1` roaring blob per affected
    * file; the second must REPLACE each file's vector with the union
    * (the spec's at-most-one-DV-per-file invariant), tombstoning the
    * old blob entries. The read decodes the blobs in executor tasks
    * and anti-joins on `_metadata.row_index`, exactly like the Delta
    * DV path. The oracle recomputes the surviving rows from raw
    * `orders`, so a reader that drops a vector, applies a replaced
    * one, or mis-decodes the keyed roaring64 form hash-fails.
    */
  def s60IcebergV3Dv(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s60BuiltFor.synchronized {
      if (s60BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S60Root))
        val base = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
        graft.sources.IcebergTable.append(spark, S60Root,
          base.filter(col("o_orderkey") % 2 === 0))
        graft.sources.IcebergTable.append(spark, S60Root,
          base.filter(col("o_orderkey") % 2 === 1).repartition(2))
        graft.sources.IcebergTable.deleteRowsDv(spark, S60Root,
          col("o_orderkey") % 7 === 3)
        graft.sources.IcebergTable.deleteRowsDv(spark, S60Root,
          col("o_orderkey") % 11 === 5)
        s60BuiltFor.set(dir)
      }
    }
    graft.sources.IcebergTable.read(spark, S60Root).orderBy("o_orderkey")
  }

  private val s60IcebergV3DvSql =
    """SELECT o_orderkey, o_custkey FROM orders
      |WHERE o_orderkey % 7 <> 3 AND o_orderkey % 11 <> 5
      |ORDER BY o_orderkey""".stripMargin

  private val S61Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s61_iceberg_repl"
  private val s61BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S61 — ICEBERG STREAMING SOURCE (r15 verdict item 4): an
    * append-only replica driven by [[graft.sources.IcebergTable
    * .replicate]] — each source APPEND snapshot lands as one
    * exactly-once micro-batch (rows via `readAppendsBetween`; the
    * compaction between the last two appends contributes nothing),
    * with the cursor recovered from the SINK's snapshot-summary stamp.
    * The poll is killed after two batches and restarted, so the
    * replica's final relation proves the crash-resume path: a consumer
    * that re-reads a batch, skips one, or double-reads after the
    * maintenance pass hash-fails against the oracle.
    */
  def s61IcebergReplication(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s61BuiltFor.synchronized {
      if (s61BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S61Root))
        val src = s"$S61Root/src"
        val dst = s"$S61Root/dst"
        val base = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        graft.sources.IcebergTable.append(spark, src,
          base.filter(col("o_orderkey") % 3 === 0))
        graft.sources.IcebergTable.append(spark, src,
          base.filter(col("o_orderkey") % 3 === 1).repartition(4))
        graft.sources.IcebergTable.rewriteDataFiles(spark, src,
          minFileSizeBytes = Long.MaxValue) // layout only: no new rows
        graft.sources.IcebergTable.append(spark, src,
          base.filter(col("o_orderkey") % 3 === 2))
        // mid-stream kill after two batches, then the restarted poll
        require(graft.sources.IcebergTable.replicate(spark, src, dst,
          maxBatches = 2) == 2, "s61: first poll must apply two batches")
        require(graft.sources.IcebergTable.replicate(spark, src, dst) == 1,
          "s61: the restarted poll must apply exactly the remaining batch")
        s61BuiltFor.set(dir)
      }
    }
    graft.sources.IcebergTable.read(spark, s"$S61Root/dst").orderBy("o_orderkey")
  }

  private val s61IcebergReplicationSql =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  private val S62Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s62_iceberg_v3_defaults"
  private val s62BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S62 — Iceberg FORMAT-VERSION 3 column default values (r16
    * verdict item 1): an append, then [[graft.sources.IcebergTable
    * .addColumn]] declaring `initial-default`/`write-default` ('none')
    * and upgrading the table to v3, then a second append that CARRIES
    * the column with computed values, then a deletion-vector delete.
    * The read must surface the declared literal for every pre-column
    * file (footer presence by field id) and the stored values for the
    * carrying files, composed with the DV anti-join. The oracle
    * recomputes the default-filled relation from raw `orders`, so a
    * reader that null-fills where the table declares a default,
    * coalesces stored values away, or loses the default across the
    * second append's metadata rebuild hash-fails.
    */
  def s62IcebergV3Defaults(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s62BuiltFor.synchronized {
      if (s62BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S62Root))
        val base = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
        graft.sources.IcebergTable.append(spark, S62Root,
          base.filter(col("o_orderkey") % 2 === 0))
        graft.sources.IcebergTable.addColumn(spark, S62Root, "o_flag",
          org.apache.spark.sql.types.StringType, Some("none"))
        graft.sources.IcebergTable.append(spark, S62Root,
          base.filter(col("o_orderkey") % 2 === 1)
            .withColumn("o_flag",
              concat(lit("f"), (col("o_custkey") % 5).cast("string")))
            .repartition(2))
        graft.sources.IcebergTable.deleteRowsDv(spark, S62Root,
          col("o_orderkey") % 7 === 3)
        s62BuiltFor.set(dir)
      }
    }
    graft.sources.IcebergTable.read(spark, S62Root).orderBy("o_orderkey")
  }

  private val s62IcebergV3DefaultsSql =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 2 = 0 THEN 'none'
      |       ELSE 'f' || CAST(o_custkey % 5 AS VARCHAR) END AS o_flag
      |FROM orders WHERE o_orderkey % 7 <> 3
      |ORDER BY o_orderkey""".stripMargin

  private val S63Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s63_iceberg_row_lineage"
  private val s63BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S63 — Iceberg FORMAT-VERSION 3 row lineage, write side (r16
    * verdict item 3, format parity with `s58`): two sorted single-file
    * appends into a `rowLineage` table (each data file takes a
    * contiguous `first_row_id` block from the table's `next-row-id`,
    * advanced in the same commit), a deletion-vector delete (ids
    * assigned BEFORE the tombstones apply — survivors keep theirs), a
    * compaction (survivor ids carried through the MATERIALIZED
    * `_row_id` column, reserved field id 2147483540, while the output
    * burns a fresh block), then a third append allocating above the
    * burned block. The oracle recomputes every allocation run with
    * row_number over the advancing mark, so a writer that re-burns
    * ids, renumbers survivors on compact, or mis-bases the
    * post-compaction append hash-fails.
    */
  def s63IcebergRowLineage(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s63BuiltFor.synchronized {
      if (s63BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S63Root))
        val base = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
        def slice(m: Int) = base.filter(col("o_orderkey") % 3 === m)
          .repartition(1).sortWithinPartitions("o_orderkey")
        graft.sources.IcebergTable.append(spark, S63Root, slice(0), rowLineage = true)
        graft.sources.IcebergTable.append(spark, S63Root, slice(1))
        graft.sources.IcebergTable.deleteRowsDv(spark, S63Root,
          col("o_orderkey") % 7 === 3)
        require(graft.sources.IcebergTable.rewriteDataFiles(spark, S63Root) >= 0,
          "s63: compaction must pack the two small files")
        graft.sources.IcebergTable.append(spark, S63Root, slice(2))
        s63BuiltFor.set(dir)
      }
    }
    graft.sources.IcebergTable.readWithRowIds(spark, S63Root)
      .select("o_orderkey", "o_custkey", "_row_id")
      .orderBy("_row_id")
  }

  private val s63IcebergRowLineageSql =
    """WITH a AS (SELECT o_orderkey, o_custkey,
      |    row_number() OVER (ORDER BY o_orderkey) - 1 AS r
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |b AS (SELECT o_orderkey, o_custkey,
      |    row_number() OVER (ORDER BY o_orderkey) - 1 AS r
      |  FROM orders WHERE o_orderkey % 3 = 1),
      |c AS (SELECT o_orderkey, o_custkey,
      |    row_number() OVER (ORDER BY o_orderkey) - 1 AS r
      |  FROM orders WHERE o_orderkey % 3 = 2),
      |n AS (SELECT (SELECT count(*) FROM a) AS na, (SELECT count(*) FROM b) AS nb,
      |  (SELECT count(*) FROM orders
      |     WHERE o_orderkey % 3 < 2 AND o_orderkey % 7 = 3) AS d)
      |SELECT * FROM (
      |  SELECT o_orderkey, o_custkey, r AS _row_id FROM a
      |    WHERE o_orderkey % 7 <> 3
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, r + na FROM b, n
      |    WHERE o_orderkey % 7 <> 3
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, r + 2 * (na + nb) - d FROM c, n
      |) ORDER BY _row_id""".stripMargin

  private val S52Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s52_iceberg_files"
  private val s52BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** S52 — the Iceberg `files` METADATA TABLE, hash-checked: a
    * partitioned table takes two appends, per-partition POSITION
    * deletes, and a GLOBAL equality delete; the query aggregates the
    * metadata relation (content code × partition tuple → declared
    * `record_count`) and the oracle recomputes every number from raw
    * `orders` — so a manifest walk that drops a delete manifest, fakes
    * a record count (the old loud-zero habit), loses a partition
    * tuple, or mis-assigns content codes hash-fails. No data file is
    * opened: the relation is the avro/json chain itself.
    */
  def s52IcebergFilesTable(spark: SparkSession, dir: String): DataFrame = {
    sweepStaleFixtureDirs()
    s52BuiltFor.synchronized {
      if (s52BuiltFor.get() != dir) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(S52Root))
        val base = Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        graft.sources.IcebergTable.append(spark, S52Root,
          base.filter(col("o_orderkey") % 2 === 0), partitionBy = Seq("o_orderstatus"))
        graft.sources.IcebergTable.append(spark, S52Root,
          base.filter(col("o_orderkey") % 2 =!= 0), partitionBy = Seq("o_orderstatus"))
        graft.sources.IcebergTable.deleteRows(spark, S52Root, col("o_orderkey") % 9 === 1)
        graft.sources.IcebergTable.deleteRowsEquality(spark, S52Root,
          Seq("o_custkey"),
          base.filter(col("o_custkey") % 10 === 6).select("o_custkey").distinct())
        s52BuiltFor.set(dir)
      }
    }
    graft.sources.IcebergTable.filesTable(spark, S52Root)
      .groupBy(
        coalesce(col("partition")("o_orderstatus"), lit("")).as("status"),
        col("content"))
      .agg(sum("record_count").as("rows"))
      .orderBy("content", "status")
  }

  private val s52IcebergFilesTableSql =
    """SELECT * FROM (
      |  SELECT o_orderstatus AS status, 0 AS content, count(*) AS rows
      |  FROM orders GROUP BY 1
      |  UNION ALL
      |  SELECT o_orderstatus, 1, count(*) FROM orders
      |  WHERE o_orderkey % 9 = 1 GROUP BY 1
      |  UNION ALL
      |  SELECT '', 2, count(DISTINCT o_custkey) FROM orders
      |  WHERE o_custkey % 10 = 6
      |) ORDER BY content, status""".stripMargin

  private val S18Root =
    s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s18_snapshot"
  private val s18BuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  private val s18SnapshotPublishSql =
    s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, publish_tag
       |FROM read_parquet('$S18Root/v=00000002/warehouse/*.parquet')
       |ORDER BY o_orderkey""".stripMargin

  /** S19 — change feed BETWEEN published snapshot versions: the m6
    * CDC classification applied to the snapshot log's time travel
    * (`SnapshotPublish.readAt`) — exactly what a downstream consumer
    * replays after each publish instead of re-reading the full store.
    * One full-outer sort-merge join on the key (the m6 plan), price
    * compared on the STORED bytes of each version, so the oracle —
    * which reads both version directories' raw parquet — pins the
    * version resolution AND the classification. The v1→v2 fixture
    * carries all three classes: %97 keys retired (delete), 3001-3500
    * added (insert), F-status prices restated (update).
    */
  def s19SnapshotCdc(spark: SparkSession, dir: String): DataFrame = {
    ensureSnapshotFixture(spark, dir)
    val a = graft.sources.SnapshotPublish.readAt(spark, S18Root, "warehouse", 1L)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
    val b = graft.sources.SnapshotPublish.readAt(spark, S18Root, "warehouse", 2L)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
    graft.ops.ChangeFeed.diff(a, b,
        key = "k", compare = Seq("price"), keyOut = "o_orderkey")
      .orderBy("o_orderkey")
  }

  private val s19SnapshotCdcSql =
    s"""WITH a AS (
       |  SELECT o_orderkey AS k, o_totalprice AS price
       |  FROM read_parquet('$S18Root/v=00000001/warehouse/*.parquet')),
       |b AS (
       |  SELECT o_orderkey AS k, o_totalprice AS price
       |  FROM read_parquet('$S18Root/v=00000002/warehouse/*.parquet'))
       |SELECT COALESCE(a.k, b.k) AS o_orderkey,
       |  CASE WHEN a.k IS NULL THEN 'insert' WHEN b.k IS NULL THEN 'delete'
       |       ELSE 'update' END AS change_type,
       |  a.price AS old_price, b.price AS new_price
       |FROM a FULL OUTER JOIN b ON a.k = b.k
       |WHERE a.k IS NULL OR b.k IS NULL OR a.price <> b.price
       |ORDER BY o_orderkey""".stripMargin

  /** W6 — quantile binning (`ntile`): orders bucketed into price
    * quartiles within their status group — the feature-engineering /
    * stratified-sampling primitive (equal-population bins, unlike
    * `a9_histogram`'s equal-width ones). NTILE depends only on row
    * ORDER, so the window orders by (price, key) — the unique key
    * tie-break is what makes the bucketing deterministic and
    * engine-identical under duplicate prices. Partition-parallel
    * window (one status shuffle), date range pushed to the scan.
    */
  def w6Ntile(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1997-02-01"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        ntile(4).over(Window.partitionBy("o_orderstatus")
          .orderBy(col("o_totalprice"), col("o_orderkey")))
          .cast(LongType).as("price_quartile")) // BIGINT like DuckDB NTILE
      .orderBy("o_orderkey")

  private val w6NtileSql =
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
      |  NTILE(4) OVER (PARTITION BY o_orderstatus
      |    ORDER BY o_totalprice, o_orderkey) AS price_quartile
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-02-01 00:00:00'
      |ORDER BY o_orderkey""".stripMargin

  /** W7 — linear gap interpolation: the time-series repair primitive
    * (fill sensor dropout / reporting holes by interpolating between
    * the nearest observed neighbors). The observed series is the
    * per-status daily revenue on the w5 date spine; a DETERMINISTIC
    * dropout mask (day-of-month % 3 = 0 → unobserved) guarantees gaps
    * exist at every sf. For each gap row: previous/next observed
    * value+day via `last/first(..., ignoreNulls)` over the two
    * unbounded row frames, then `prev + (next-prev) · elapsed/span`
    * in doubles — the op-for-op chain DuckDB evaluates identically
    * (observed values are decimal-exact sums, so no accumulation-
    * order noise enters). Leading/trailing gaps clamp to the nearest
    * observed edge.
    *
    * Scale shape: the corpus-sized work is the partial-agg'd
    * `groupBy(status, day)` (one shuffle); the windows run on the
    * AGGREGATED spine (days × statuses rows, thousands at most even
    * for years of data), partitioned by status — never a corpus-sized
    * single-partition window.
    */
  def w7Interpolate(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1997-03-01"))
      .groupBy(col("o_orderstatus").as("status"), col("o_orderdate").cast(DateType).as("day"))
      .agg(sumd(col("o_totalprice")).as("sum_price"))
    val spine = spark.range(1)
      .select(explode(expr(
        "sequence(DATE '1997-01-01', DATE '1997-02-28', interval 1 day)")).as("day"))
      .crossJoin(spark.range(1)
        .select(explode(array(lit("F"), lit("O"), lit("P"))).as("status")))
    val masked = spine.join(broadcast(agg), Seq("status", "day"), "left")
      .select(col("status"), col("day"),
        when(dayofmonth(col("day")) % 3 === 0, lit(null).cast(DoubleType))
          .otherwise(coalesce(col("sum_price"), lit(0.0))).as("observed"))
    val back = Window.partitionBy("status").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy("status").orderBy("day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("observed").isNotNull, col("day"))
    val pv = last(col("observed"), ignoreNulls = true).over(back)
    val pd = last(obsDay, ignoreNulls = true).over(back)
    val nv = first(col("observed"), ignoreNulls = true).over(fwd)
    val nd = first(obsDay, ignoreNulls = true).over(fwd)
    masked
      .select(col("status"), col("day"), col("observed"),
        pv.as("pv"), pd.as("pd"), nv.as("nv"), nd.as("nd"))
      .select(col("status"), col("day"), col("observed"),
        when(col("observed").isNotNull, col("observed"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            (datediff(col("day"), col("pd")).cast(DoubleType) /
             datediff(col("nd"), col("pd")).cast(DoubleType)))
          .as("filled"))
      .orderBy("status", "day")
  }

  private val w7InterpolateSql =
    """WITH agg AS (
      |  SELECT o_orderstatus AS status, CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_price
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1997-03-01 00:00:00'
      |  GROUP BY 1, 2),
      |spine AS (
      |  SELECT s.status, CAST(unnest(generate_series(DATE '1997-01-01',
      |      DATE '1997-02-28', INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM (SELECT unnest(['F','O','P']) AS status) s),
      |masked AS (
      |  SELECT spine.status, spine.day,
      |    CASE WHEN dayofmonth(spine.day) % 3 = 0 THEN NULL
      |         ELSE COALESCE(sum_price, 0.0) END AS observed
      |  FROM spine LEFT JOIN agg ON spine.status = agg.status AND spine.day = agg.day),
      |nbr AS (
      |  SELECT status, day, observed,
      |    last_value(observed IGNORE NULLS) OVER (PARTITION BY status ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    last_value(CASE WHEN observed IS NOT NULL THEN day END IGNORE NULLS)
      |      OVER (PARTITION BY status ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
      |    first_value(observed IGNORE NULLS) OVER (PARTITION BY status ORDER BY day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN observed IS NOT NULL THEN day END IGNORE NULLS)
      |      OVER (PARTITION BY status ORDER BY day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      |  FROM masked)
      |SELECT status, day, observed,
      |  CASE WHEN observed IS NOT NULL THEN observed
      |       WHEN pv IS NULL THEN nv
      |       WHEN nv IS NULL THEN pv
      |       ELSE pv + (nv - pv) *
      |         (CAST(date_diff('day', pd, day) AS DOUBLE) /
      |          CAST(date_diff('day', pd, nd) AS DOUBLE)) END AS filled
      |FROM nbr
      |ORDER BY status, day""".stripMargin

  // ===================================================================
  // Registry
  // ===================================================================

  val queries: Map[String, Q] = Map(
    "q_reconcile"       -> reconcile _,
    "q1_agg"            -> q1Agg _,
    "s3_scan_project"   -> s3ScanProject _,
    "s3_malformed_scan" -> s3MalformedScan _,
    "s7_partitioned_write" -> s7PartitionedWrite _,
    "p4_upper_cols"     -> p4UpperCols _,
    "p8_date_parts"     -> p8DateParts _,
    "p9_cast_round"     -> p9CastRound _,
    "p10_fillna"        -> p10FillNa _,
    "f1_pivot_filter"   -> f1PivotFilter _,
    "f2_date_split"     -> f2DateSplit _,
    "j1_dim_join"       -> j1DimJoin _,
    "j2_multi_left_join" -> j2MultiLeftJoin _,
    "j3_semi_anti"      -> j3SemiAnti _,
    "j5_catalog_star"   -> j5CatalogStar _,
    "w4_range_frame"    -> w4RangeFrame _,
    "d1_distinct_map"   -> d1DistinctMap _,
    "set1_except"       -> set1Except _,
    "set2_union"        -> set2Union _,
    "set3_union_by_name" -> set3UnionByName _,
    "a1_max"            -> a1Max _,
    "a2_groupby_agg"    -> a2GroupbyAgg _,
    "a3_rollup"         -> a3Rollup _,
    "a7_cube"           -> a7Cube _,
    "a8_grouping_sets"  -> a8GroupingSets _,
    "a4_percentile"     -> a4Percentile _,
    "a5_stats"          -> a5Stats _,
    "a6_approx_percentile" -> a6ApproxPercentile _,
    "p12_regexp_clean"  -> p12RegexpClean _,
    "w1_surrogate_key"  -> w1SurrogateKey _,
    "w1_surrogate_key_scalable" -> w1SurrogateKeyScalable _,
    "w2_running_sum"    -> w2RunningSum _,
    "w3_lag_delta"      -> w3LagDelta _,
    "m1_update_merge"   -> m1UpdateMerge _,
    "m2_full_upsert"    -> m2FullUpsert _,
    "m3_lww_upsert"     -> m3LwwUpsert _,
    "m4_flag_reset"     -> m4FlagReset _,
    "m5_scd2"           -> m5Scd2 _,
    "m6_cdc_diff"       -> m6CdcDiff _,
    "m7_evolve_upsert"  -> m7EvolveUpsert _,
    "a9_histogram"      -> a9Histogram _,
    "a10_incremental"   -> a10IncrementalAgg _,
    "a11_outliers"      -> a11Outliers _,
    "a12_winsorize"     -> a12Winsorize _,
    "p13_profile"       -> p13Profile _,
    "w5_date_spine"     -> w5DateSpine _,
    "s12_compact"       -> s12Compact _,
    "s13_orc_roundtrip" -> s13OrcRoundtrip _,
    "s14_csv_export"    -> s14CsvExport _,
    "s15_incr_manifest" -> s15IncrementalManifest _,
    "s17_jsonl_export"  -> s17JsonlExport _,
    "s18_snapshot_publish" -> s18SnapshotPublish _,
    "s19_snapshot_cdc"  -> s19SnapshotCdc _,
    "s20_delta_scan"    -> s20DeltaScan _,
    "s21_delta_time_travel" -> s21DeltaTimeTravel _,
    "s22_delta_append"  -> s22DeltaAppend _,
    "s23_delta_partitioned" -> s23DeltaPartitioned _,
    "s24_delta_partitioned_append" -> s24DeltaPartitionedAppend _,
    "s25_delta_compact" -> s25DeltaCompact _,
    "s26_delta_evolve" -> s26DeltaEvolve _,
    "s27_iceberg_scan" -> s27IcebergScan _,
    "s28_iceberg_time_travel" -> s28IcebergTimeTravel _,
    "s29_avro_roundtrip" -> s29AvroRoundtrip _,
    "s29b_avro_logical" -> s29bAvroLogical _,
    "s30_delta_merge"   -> s30DeltaMerge _,
    "s31_delta_delete"  -> s31DeltaDelete _,
    "s32_iceberg_partitioned" -> s32IcebergPartitioned _,
    "s33_delta_dv"      -> s33DeltaDv _,
    "s34_iceberg_v2_delete" -> s34IcebergV2Delete _,
    "s35_delta_zorder"  -> s35DeltaZorder _,
    "s36_delta_restore" -> s36DeltaRestore _,
    "s37_iceberg_eq_delete" -> s37IcebergEqDelete _,
    "s38_delta_changes" -> s38DeltaChanges _,
    "s39_delta_dv_merge" -> s39DeltaDvMerge _,
    "s40_delta_v2_checkpoint" -> s40DeltaV2Checkpoint _,
    "s41_delta_column_mapping" -> s41DeltaColumnMapping _,
    "s42_delta_cm_id" -> s42DeltaColumnMappingId _,
    "s43_delta_cdf" -> s43DeltaCdf _,
    "s44_delta_replicate" -> s44DeltaReplicate _,
    "s45_iceberg_eq_scoped" -> s45IcebergEqScoped _,
    "s46_iceberg_rewrite" -> s46IcebergRewrite _,
    "s47_delta_clone" -> s47DeltaClone _,
    "s48_delta_rename_drop" -> s48DeltaRenameDrop _,
    "s49_delta_type_widening" -> s49DeltaTypeWidening _,
    "s50_iceberg_rename_drop" -> s50IcebergRenameDrop _,
    "s51_iceberg_widening" -> s51IcebergWidening _,
    "s52_iceberg_files_table" -> s52IcebergFilesTable _,
    "s53_delta_row_tracking" -> s53DeltaRowTracking _,
    "s58_delta_row_tracking_write" -> s58DeltaRowTrackingWrite _,
    "s59_delta_identity" -> s59DeltaIdentity _,
    "s60_iceberg_v3_dv" -> s60IcebergV3Dv _,
    "s61_iceberg_replication" -> s61IcebergReplication _,
    "s62_iceberg_v3_defaults" -> s62IcebergV3Defaults _,
    "s63_iceberg_row_lineage" -> s63IcebergRowLineage _,
    "s54_iceberg_range" -> s54IcebergRange _,
    "s55_iceberg_tag" -> s55IcebergTag _,
    "s56_iceberg_incremental" -> s56IcebergIncremental _,
    "s57_iceberg_txn_sink" -> s57IcebergTxnSink _,
    "w7_interpolate"    -> w7Interpolate _,
    "s16_dyn_overwrite" -> s16DynamicOverwrite _,
    "w6_ntile"          -> w6Ntile _,
    "s11_schema_merge"  -> s11SchemaMerge _
  )

  val oracleSql: Map[String, String] = Map(
    "q_reconcile" -> reconcileSql,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(20,4))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "s3_scan_project" ->
      "SELECT c_custkey, c_name AS customer_name, c_mktsegment FROM customer ORDER BY c_custkey",
    "s3_malformed_scan" -> s3MalformedScanSql,
    "s7_partitioned_write" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(20,2)) AS DOUBLE) AS total_price,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS year,
        |  CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS month
        |FROM orders
        |WHERE EXTRACT(YEAR FROM o_orderdate) = 1997 AND EXTRACT(MONTH FROM o_orderdate) = 3
        |ORDER BY o_orderkey""".stripMargin,
    "p4_upper_cols" ->
      """SELECT n_nationkey AS N_nationkey, n_name AS N_name, n_regionkey AS N_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "p8_date_parts" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS Year,
        |  LPAD(CAST(EXTRACT(MONTH FROM o_orderdate) AS VARCHAR), 2, '0') AS Month
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "p9_cast_round" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(ROUND(CAST(l_extendedprice * l_discount AS DECIMAL(20,6)), 2) AS DOUBLE) AS disc_amount,
        |  CAST(ROUND(CAST(l_tax AS DECIMAL(20,6)), 1) AS DOUBLE) AS tax_1dp,
        |  CAST(l_quantity AS INT) AS qty_int,
        |  CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "p10_fillna" ->
      """SELECT o.o_orderkey,
        |  COALESCE(b.big_price, 0) AS big_price,
        |  COALESCE(b.big_cnt, 0) AS big_cnt
        |FROM orders o LEFT JOIN (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS big_price,
        |    COUNT(*) AS big_cnt
        |  FROM lineitem WHERE l_quantity > 45 GROUP BY l_orderkey) b
        |ON o.o_orderkey = b.l_orderkey
        |ORDER BY o.o_orderkey""".stripMargin,
    "f1_pivot_filter" ->
      """SELECT user_id,
        |  CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(20,2)) END), 0) AS DOUBLE) AS click_value,
        |  CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(20,2)) END), 0) AS DOUBLE) AS view_value,
        |  CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(20,2)) END), 0) AS DOUBLE) AS purchase_value,
        |  CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(20,2)) END), 0) AS DOUBLE) AS signup_value,
        |  CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(20,2)) END), 0) AS DOUBLE) AS error_value,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "f2_date_split" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date,
        |  CASE WHEN CAST(l_shipdate AS DATE) = DATE '1998-06-15' THEN 'Y' ELSE 'N' END AS is_insert
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1998-06-01' AND DATE '1998-06-30'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "j1_dim_join" ->
      """SELECT c.c_custkey, c.c_name, n.n_name AS nation, r.r_name AS region
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |ORDER BY c.c_custkey""".stripMargin,
    "j2_multi_left_join" ->
      """SELECT o.o_orderkey, c.c_name, n.n_name AS nation,
        |  COALESCE(li.ret_qty, 0) AS ret_qty,
        |  COALESCE(li.ret_lines, 0) AS ret_lines
        |FROM orders o
        |LEFT JOIN (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS ret_qty,
        |    COUNT(*) AS ret_lines
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey) li
        |ON o.o_orderkey = li.l_orderkey
        |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY o.o_orderkey""".stripMargin,
    "j3_semi_anti" ->
      """SELECT c_custkey,
        |  CASE WHEN EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |  THEN 'Y' ELSE 'N' END AS has_urgent
        |FROM customer c ORDER BY c_custkey""".stripMargin,
    "w4_range_frame" ->
      """SELECT o_orderkey, o_custkey,
        |  datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS order_day,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) OVER w AS DOUBLE) AS rolling_90d,
        |  COUNT(*) OVER w AS n_in_window
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |  RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "d1_distinct_map" ->
      "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer ORDER BY c_nationkey, c_mktsegment",
    "set1_except" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1996-12-31'
        |EXCEPT
        |SELECT l_orderkey, l_partkey, l_suppkey, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1995-12-31'
        |ORDER BY l_orderkey, l_partkey, l_suppkey""".stripMargin,
    "set2_union" ->
      """SELECT * FROM (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date, 'U' AS src
        |  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1995-12-31'
        |  UNION ALL
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date, 'I' AS src
        |  FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '2001-01-01')
        |ORDER BY o_orderkey""".stripMargin,
    "set3_union_by_name" -> set3UnionByNameSql,
    "a1_max" ->
      """SELECT MAX(o_orderkey) AS value, COUNT(*) AS cnt,
        |  CAST(MIN(o_orderdate) AS DATE) AS min_date
        |FROM orders""".stripMargin,
    "a2_groupby_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(*) AS n_lines
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "a3_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "a7_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus) AS gid,
        |  COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "a8_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus) AS gid,
        |  COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "a4_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.25) AS p25,
        |  quantile_cont(l_extendedprice, 0.5) AS p50,
        |  quantile_cont(l_extendedprice, 0.95) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "j5_catalog_star" ->
      """SELECT r.r_name AS region, p.p_brand AS brand,
        |  CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(20,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_size <= 20
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name, p.p_brand
        |ORDER BY region, brand""".stripMargin,
    "a6_approx_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS exact_p50,
        |  TRUE AS approx_in_range
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "a5_stats" ->
      """WITH s AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  ROUND(sqrt((sxx - sx * sx / n) / n), 10) AS stddev_pop_price,
        |  ROUND((sxy - sx * sy / n) /
        |    (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 10) AS corr_price_qty
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "p12_regexp_clean" ->
      """SELECT o_orderkey,
        |  regexp_replace(o_orderpriority, '[0-9]+-', '', 'g') AS priority_clean,
        |  regexp_replace(o_orderstatus, '[OF]', 'X', 'g') AS status_masked,
        |  length(regexp_replace(o_orderpriority, '[^A-Z]', '', 'g')) AS n_upper
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "w1_surrogate_key" ->
      """SELECT c_custkey, c_name,
        |  1000000 + ROW_NUMBER() OVER (ORDER BY c_custkey) AS sk
        |FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin,
    // set-based contract check: zipWithIndex keys are dense and
    // gap-free from start+1 but partition-order-dependent, so the
    // oracle pins the SET (min/max/distinct count), not the mapping
    "w1_surrogate_key_scalable" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(*) AS n_keys,
        |  CAST(1000001 AS BIGINT) AS min_sk,
        |  CAST(1000000 + COUNT(*) AS BIGINT) AS max_sk
        |FROM lineitem""".stripMargin,
    "w2_running_sum" ->
      """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "w3_lag_delta" ->
      """SELECT event_id, user_id, value,
        |  LAG(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
        |  value - LAG(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS delta
        |FROM events ORDER BY event_id""".stripMargin,
    "m1_update_merge" ->
      """WITH target AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |    CAST(CAST(o_totalprice AS DECIMAL(20,2)) AS DOUBLE) AS total_price,
        |    CAST(o_orderdate AS DATE) AS order_date
        |  FROM orders),
        |updates AS (
        |  SELECT o_orderkey AS u_orderkey, 'F' AS u_status,
        |    CAST(ROUND(CAST(o_totalprice * 1.05 AS DECIMAL(20,6)), 2) AS DOUBLE) AS u_price
        |  FROM orders
        |  WHERE o_orderstatus = 'O' AND CAST(o_orderdate AS DATE) >= DATE '1998-01-01')
        |SELECT t.o_orderkey,
        |  CASE WHEN u.u_orderkey IS NOT NULL THEN u.u_status ELSE t.status END AS status,
        |  CASE WHEN u.u_orderkey IS NOT NULL THEN u.u_price ELSE t.total_price END AS total_price,
        |  t.order_date
        |FROM target t LEFT JOIN updates u ON t.o_orderkey = u.u_orderkey
        |ORDER BY t.o_orderkey""".stripMargin,
    "m2_full_upsert" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name,
        |    CAST(CAST(c_acctbal AS DECIMAL(20,2)) AS DOUBLE) AS acctbal
        |  FROM customer),
        |n AS (SELECT COUNT(*) AS cnt FROM customer),
        |target AS (SELECT base.* FROM base, n WHERE c_custkey <= n.cnt * 2 / 3),
        |updates AS (
        |  SELECT c_custkey, c_name || '_v2' AS c_name,
        |    CAST(ROUND(CAST(acctbal + 100.0 AS DECIMAL(20,6)), 2) AS DOUBLE) AS acctbal
        |  FROM base, n WHERE c_custkey > n.cnt / 3)
        |SELECT COALESCE(t.c_custkey, u.c_custkey) AS c_custkey,
        |  CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name ELSE t.c_name END AS c_name,
        |  CASE WHEN u.c_custkey IS NOT NULL THEN u.acctbal ELSE t.acctbal END AS acctbal
        |FROM target t FULL OUTER JOIN updates u ON t.c_custkey = u.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "m3_lww_upsert" ->
      """WITH base AS (
        |  SELECT event_id, user_id,
        |    CAST(CAST(value AS DECIMAL(20,2)) AS DOUBLE) AS value,
        |    CAST(ts AS DATE) AS version_date
        |  FROM events),
        |target AS (
        |  SELECT *, CAST(100 AS BIGINT) AS version, 'target' AS src
        |  FROM base WHERE event_id % 4 <> 3),
        |staging AS (
        |  SELECT event_id, user_id, value * 2.0 AS value, version_date,
        |    CAST(CASE WHEN event_id % 3 = 0 THEN 100
        |         WHEN event_id % 4 = 0 THEN 200 ELSE 50 END AS BIGINT) AS version,
        |    'staging' AS src
        |  FROM base WHERE event_id % 2 = 0),
        |unioned AS (
        |  SELECT *, 0 AS is_staging FROM target
        |  UNION ALL SELECT *, 1 AS is_staging FROM staging),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY event_id ORDER BY version DESC, is_staging DESC) AS rn
        |  FROM unioned)
        |SELECT event_id, user_id, value, version_date, version, src
        |FROM ranked WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "m4_flag_reset" ->
      """WITH curated AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderstatus = 'O' THEN 'Y' ELSE 'N' END AS is_updated
        |  FROM orders),
        |synced AS (
        |  SELECT o_orderkey AS s_orderkey, 'N' AS new_flag FROM orders
        |  WHERE CAST(o_orderdate AS DATE) < DATE '1998-01-01')
        |SELECT c.o_orderkey,
        |  CASE WHEN s.s_orderkey IS NOT NULL THEN s.new_flag ELSE c.is_updated END AS is_updated
        |FROM curated c LEFT JOIN synced s ON c.o_orderkey = s.s_orderkey
        |ORDER BY c.o_orderkey""".stripMargin,
    "m5_scd2" -> m5Scd2Sql,
    "m6_cdc_diff" -> m6CdcDiffSql,
    "m7_evolve_upsert" -> m7EvolveUpsertSql,
    "a9_histogram" -> a9HistogramSql,
    "a10_incremental" -> a10IncrementalAggSql,
    "a11_outliers" -> a11OutliersSql,
    "a12_winsorize" -> a12WinsorizeSql,
    "p13_profile" -> p13ProfileSql,
    "w5_date_spine" -> w5DateSpineSql,
    "s12_compact" -> s12CompactSql,
    "s13_orc_roundtrip" -> s13OrcRoundtripSql,
    "s14_csv_export" -> s14CsvExportSql,
    "s15_incr_manifest" -> s15IncrementalManifestSql,
    "s17_jsonl_export" -> s17JsonlExportSql,
    "s18_snapshot_publish" -> s18SnapshotPublishSql,
    "s19_snapshot_cdc" -> s19SnapshotCdcSql,
    "s20_delta_scan" -> s20DeltaScanSql,
    "s21_delta_time_travel" -> s21DeltaTimeTravelSql,
    "s22_delta_append" -> s22DeltaAppendSql,
    "s23_delta_partitioned" -> s23DeltaPartitionedSql,
    "s24_delta_partitioned_append" -> s24DeltaPartitionedAppendSql,
    "s25_delta_compact" -> s25DeltaCompactSql,
    "s26_delta_evolve" -> s26DeltaEvolveSql,
    "s27_iceberg_scan" -> s27IcebergScanSql,
    "s28_iceberg_time_travel" -> s28IcebergTimeTravelSql,
    "s29_avro_roundtrip" -> s29AvroRoundtripSql,
    "s29b_avro_logical" -> s29bAvroLogicalSql,
    "s30_delta_merge" -> s30DeltaMergeSql,
    "s31_delta_delete" -> s31DeltaDeleteSql,
    "s32_iceberg_partitioned" -> s32IcebergPartitionedSql,
    "s33_delta_dv" -> s33DeltaDvSql,
    "s34_iceberg_v2_delete" -> s34IcebergV2DeleteSql,
    "s35_delta_zorder" -> s35DeltaZorderSql,
    "s36_delta_restore" -> s36DeltaRestoreSql,
    "s37_iceberg_eq_delete" -> s37IcebergEqDeleteSql,
    "s38_delta_changes" -> s38DeltaChangesSql,
    "s39_delta_dv_merge" -> s39DeltaDvMergeSql,
    "s40_delta_v2_checkpoint" -> s40DeltaV2CheckpointSql,
    "s41_delta_column_mapping" -> s41DeltaColumnMappingSql,
    "s42_delta_cm_id" -> s42DeltaColumnMappingIdSql,
    "s43_delta_cdf" -> s43DeltaCdfSql,
    "s44_delta_replicate" -> s44DeltaReplicateSql,
    "s45_iceberg_eq_scoped" -> s45IcebergEqScopedSql,
    "s46_iceberg_rewrite" -> s46IcebergRewriteSql,
    "s47_delta_clone" -> s47DeltaCloneSql,
    "s48_delta_rename_drop" -> s48DeltaRenameDropSql,
    "s49_delta_type_widening" -> s49DeltaTypeWideningSql,
    "s50_iceberg_rename_drop" -> s50IcebergRenameDropSql,
    "s51_iceberg_widening" -> s51IcebergWideningSql,
    "s52_iceberg_files_table" -> s52IcebergFilesTableSql,
    "s53_delta_row_tracking" -> s53DeltaRowTrackingSql,
    "s58_delta_row_tracking_write" -> s58DeltaRowTrackingWriteSql,
    "s59_delta_identity" -> s59DeltaIdentitySql,
    "s60_iceberg_v3_dv" -> s60IcebergV3DvSql,
    "s61_iceberg_replication" -> s61IcebergReplicationSql,
    "s62_iceberg_v3_defaults" -> s62IcebergV3DefaultsSql,
    "s63_iceberg_row_lineage" -> s63IcebergRowLineageSql,
    "s54_iceberg_range" -> s54IcebergRangeSql,
    "s55_iceberg_tag" -> s55IcebergTagSql,
    "s56_iceberg_incremental" -> s56IcebergIncrementalSql,
    "s57_iceberg_txn_sink" -> s57IcebergTxnSinkSql,
    "w7_interpolate" -> w7InterpolateSql,
    "s16_dyn_overwrite" -> s16DynamicOverwriteSql,
    "w6_ntile" -> w6NtileSql,
    "s11_schema_merge" -> s11SchemaMergeSql
  )
}
