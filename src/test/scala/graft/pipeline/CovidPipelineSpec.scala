package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.CovidPipeline.Raw

/** End-to-end pipeline test over the FIXTURES.md §B 2-day OWID-shaped
  * fixture: full-mode load on day 1, incremental on day 2 (one restated
  * row → M1 update path, one new "yesterday" row → F2 insert path),
  * then warehouse reconciliation with the Is_updated Y→N lifecycle.
  *
  * Fixture content requirements covered (FIXTURES.md §B):
  *  - 3 countries; Narnia present in owid but missing from
  *    excess_mortality (left-join nulls → 0-filled);
  *  - Atlantis appears in full_data but not in the country map
  *    (dropped by the J1 inner join);
  *  - day-2 restates ESP@d1 with changed values and adds d2 rows.
  */
class CovidPipelineSpec extends SparkSpec {

  private val D1 = "2021-03-01"
  private val D2 = "2021-03-02"
  private val Day2 = LocalDate.parse("2021-03-03") // "today" when d2 files land
  private val AsOf1 = "2021-03-02 04:00:00"
  private val AsOf2 = "2021-03-03 04:00:00"

  // ---- day-1 raw files (all-string, like header-only CSV reads) ----
  private def s(rows: Seq[Product], cols: String*): DataFrame = {
    import spark.implicits._
    val data = rows.map(p => p.productIterator.map(v => Option(v).map(_.toString).orNull).toSeq)
    val rdd = spark.sparkContext.parallelize(data.map(org.apache.spark.sql.Row.fromSeq))
    spark.createDataFrame(rdd,
      org.apache.spark.sql.types.StructType(cols.map(c =>
        org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.StringType))))
  }

  private def owidRows(extra: Seq[(String, String, String, String)] = Nil) = s(
    Seq(
      ("Spain", "ESP", D1, "71.3", "47350000", "19.4", "13.9", "10000", "400000"),
      ("France", "FRA", D1, "63.01", "67390000", "20.8", "14.3", "20000", "900000"),
      ("Narnia", "NAR", D1, "50.55", "1000000", "10.1", "5.5", "300", "4000")) ++
      extra.map { case (l, i, d, si) => (l, i, d, si, "47350001", "19.4", "13.9", "10001", "400001") },
    "location", "iso_code", "date", "stringency_index", "population",
    "aged_65_older", "aged_70_older", "new_tests", "total_tests")

  private def vaccRows(extra: Seq[(String, String, String)] = Nil) = s(
    Seq(
      ("ESP", D1, "1000000", "50000", "1000"),
      ("FRA", D1, "2000000", "80000", "2000")) ++
      extra.map { case (i, d, t) => (i, d, t, "50001", "1001") },
    "iso_code", "date", "total_vaccinations", "daily_vaccinations", "total_boosters")

  private def hospRows(extra: Seq[(String, String, String, String)] = Nil) = s(
    Seq(
      ("ESP", D1, "Daily hospital occupancy", "8000.123"),
      ("ESP", D1, "Daily ICU occupancy", "1500.567"),
      ("FRA", D1, "Daily hospital occupancy", "25000.9"),
      ("FRA", D1, "Weekly new ICU admissions", "900.45")) ++ extra,
    "iso_code", "date", "indicator", "value")

  private def excessRows(extra: Seq[(String, String, String)] = Nil) = s(
    Seq(
      ("Spain", D1, "1234.567"),
      ("France", D1, "2345.678"),
      ("Atlantis", D1, "99.9")) ++ extra, // Atlantis: not in country map -> dropped
    "location", "date", "excess_proj_all_ages")

  private def fullDataRows(extra: Seq[(String, String, String)] = Nil) = s(
    Seq(
      ("Spain", D1, "5000"),
      ("France", D1, "9000"),
      ("Narnia", D1, "10"),
      ("Atlantis", D1, "77")) ++
      extra,
    "location", "date", "new_cases").withColumn("new_deaths", lit("1"))
    .withColumn("total_cases", lit("100")).withColumn("total_deaths", lit("2"))
    .withColumn("weekly_cases", lit("10")).withColumn("weekly_deaths", lit("3"))

  private def day1Raw = Raw.fromCsv(
    owidRows(), vaccRows(), hospRows(), excessRows(), fullDataRows())

  // day-2 files: everything from day 1, plus a restated ESP@D1 row with
  // changed values, plus new D2 rows (the "yesterday" of Day2).
  private def day2Raw = Raw.fromCsv(
    owidRows(extra = Seq(
      ("Spain", "ESP", D2, "72.0"), ("France", "FRA", D2, "60.0"))).union(
      s(Seq(("Spain", "ESP", D1, "75.5", "47350000", "19.4", "13.9", "10000", "400111")),
        "location", "iso_code", "date", "stringency_index", "population",
        "aged_65_older", "aged_70_older", "new_tests", "total_tests")),
    vaccRows(extra = Seq(("ESP", D2, "1100000"))),
    hospRows(extra = Seq(("ESP", D2, "Daily hospital occupancy", "7900.001"))),
    excessRows(extra = Seq(("Spain", D2, "1300.001"))),
    fullDataRows(extra = Seq(("Spain", D2, "5100"), ("France", D2, "9100"))))

  private def fact(df: DataFrame, iso: String, date: String) =
    df.filter(col("CodeISO") === iso && col("Date") === to_date(lit(date)))

  // shared across tests; cached — every assert would otherwise re-run
  // the whole merge chain (the reference executes each merge eagerly
  // into Delta, so one evaluation is the faithful cost model too)
  private lazy val curatedDay1 = CovidPipeline.fullLoad(day1Raw, AsOf1).cache()
  private lazy val curatedDay2 =
    CovidPipeline.incremental(day2Raw, day1Raw, curatedDay1, Day2, AsOf2).cache()

  test("full load: 25+3 cols, typed, zero-filled, unmapped locations dropped") {
    val curated = curatedDay1

    assert(curated.columns.toSet ==
      (CovidPipeline.FinalColumns.toSet - "_SK_METRICS_FACT") ++ Set("Year", "Month", "Is_updated"))
    // 3 countries x 1 day; Atlantis dropped by the inner country-map join
    assert(curated.count() == 3)

    val esp = fact(curated, "ESP", D1).collect().head
    assert(esp.getAs[Double]("Daily_hospital_occupancy") == 8000.12) // Decimal2
    assert(esp.getAs[Double]("Stringency_index") == 71.3)            // Decimal1
    assert(esp.getAs[Int]("New_cases") == 5000)
    assert(esp.getAs[Int]("Population") == 47350000)
    assert(esp.getAs[String]("Is_updated") == "N")
    assert(esp.getAs[Int]("Year") == 2021 && esp.getAs[String]("Month") == "03")

    // Narnia: no vacc/hosp/excess data -> all 0 after na.fill (left joins)
    val nar = fact(curated, "NAR", D1).collect().head
    assert(nar.getAs[Double]("Projection_excess_death") == 0.0)
    assert(nar.getAs[Int]("Total_vaccinations") == 0)
    assert(nar.getAs[Double]("Daily_icu_occupancy") == 0.0)
  }

  test("incremental: restated row merges (Y), yesterday's rows insert (N)") {
    val cur2 = curatedDay2

    // 3 day-1 rows + 2 day-2 inserts (ESP, FRA)
    assert(cur2.count() == 5)

    // ESP@D1 was restated: stringency 71.3 -> 75.5, flag flips to Y,
    // but columns owned by other sources are untouched
    val esp1 = fact(cur2, "ESP", D1).collect().head
    assert(esp1.getAs[Double]("Stringency_index") == 75.5)
    assert(esp1.getAs[Int]("Total_tests") == 400111)
    assert(esp1.getAs[String]("Is_updated") == "Y")
    assert(esp1.getAs[Int]("Total_vaccinations") == 1000000) // untouched
    assert(esp1.getAs[Double]("Daily_hospital_occupancy") == 8000.12) // untouched

    // FRA@D1 untouched entirely
    val fra1 = fact(cur2, "FRA", D1).collect().head
    assert(fra1.getAs[String]("Is_updated") == "N")
    assert(fra1.getAs[Double]("Stringency_index") == 63.0)

    // D2 inserts assembled through the star with flag N
    val esp2 = fact(cur2, "ESP", D2).collect().head
    assert(esp2.getAs[String]("Is_updated") == "N")
    assert(esp2.getAs[Double]("Stringency_index") == 72.0)
    assert(esp2.getAs[Int]("Total_vaccinations") == 1100000)
    assert(esp2.getAs[Double]("Daily_hospital_occupancy") == 7900.0)
    assert(esp2.getAs[Double]("Projection_excess_death") == 1300.0)
    val fra2 = fact(cur2, "FRA", D2).collect().head
    assert(fra2.getAs[Int]("Total_vaccinations") == 0) // no FRA d2 vacc row
  }

  test("full-mode reconcile plans no global single-partition key sort") {
    import spark.implicits._
    val curated = curatedDay1
    val empty = curated.limit(0)
      .drop("Year", "Month", "Is_updated")
      .withColumn("_SK_METRICS_FACT", lit(0L))
      .select(CovidPipeline.FinalColumns.map(col): _*)
    val batch = CovidPipeline.reconcile(curated, empty, empty,
      fullMode = true, LocalDate.parse(D2), AsOf1).upsertBatch
    // the scale regression guarded here: full-mode insert keys used to
    // come from row_number() over a GLOBAL Window — one task sorting
    // the whole fact table. SurrogateKey.scalable must leave neither a
    // Window nor a single-partition exchange in the batch plan.
    val plan = batch.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected Window in full-mode batch plan:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"unexpected single-partition exchange in full-mode batch plan:\n$plan")
    // and the keys still satisfy the dense zipWithIndex contract
    val sks = batch.select("_SK_METRICS_FACT").as[Long].collect().sorted
    assert(sks.toSeq == (1L to sks.length).toSeq)
  }

  test("reconcile: SKs dense from warehouse max, LWW + enterprise upserts, Y->N reset") {
    import spark.implicits._
    val curated = curatedDay1

    // day-1 full-mode reconcile against empty warehouse/enterprise
    val empty = curated.limit(0)
      .drop("Year", "Month", "Is_updated")
      .withColumn("_SK_METRICS_FACT", lit(0L))
      .select(CovidPipeline.FinalColumns.map(col): _*)
    val r1 = {
      val r = CovidPipeline.reconcile(curated, empty, empty,
        fullMode = true, LocalDate.parse(D2), AsOf1)
      r.copy(r.upsertBatch.cache(), r.warehouse.cache(), r.enterprise.cache(), r.curated.cache())
    }

    assert(r1.upsertBatch.count() == 3)
    val sks = r1.upsertBatch.select("_SK_METRICS_FACT").as[Long].collect().sorted
    assert(sks.toSeq == Seq(1L, 2L, 3L)) // dense from 0 in full mode
    assert(r1.warehouse.count() == 3 && r1.enterprise.count() == 3)

    // day-2 incremental + reconcile
    val r2 = {
      val r = CovidPipeline.reconcile(curatedDay2, r1.warehouse, r1.enterprise,
        fullMode = false, Day2, AsOf2)
      r.copy(r.upsertBatch.cache(), r.warehouse.cache(), r.enterprise.cache(), r.curated.cache())
    }

    // batch = 2 inserts (D2) + 1 update (restated ESP@D1)
    assert(r2.upsertBatch.count() == 3)
    val insSks = r2.upsertBatch.filter(col("Date") === to_date(lit(D2)))
      .select("_SK_METRICS_FACT").as[Long].collect().sorted
    assert(insSks.toSeq == Seq(4L, 5L)) // continue from warehouse max 3
    val updSk = r2.upsertBatch.filter(col("Date") === to_date(lit(D1)))
      .select("_SK_METRICS_FACT").as[Long].collect()
    assert(updSk.length == 1 && updSk.head <= 3L) // kept its warehouse SK

    // warehouse after LWW: 5 keys, ESP@D1 carries the restated value
    assert(r2.warehouse.count() == 5)
    assert(fact(r2.warehouse, "ESP", D1).collect().head.getAs[Double]("Stringency_index") == 75.5)

    // enterprise after M2: matched row updated but kept its original
    // _TF_LAST_UPDATE/_SK (20-col update set), inserts take everything
    assert(r2.enterprise.count() == 5)
    val entEsp1 = fact(r2.enterprise, "ESP", D1).collect().head
    assert(entEsp1.getAs[Double]("Stringency_index") == 75.5)
    assert(entEsp1.getAs[java.sql.Timestamp]("_TF_LAST_UPDATE").toString.startsWith("2021-03-02"))

    // curated flag reset: Y -> N everywhere
    assert(r2.curated.filter(col("Is_updated") === "Y").count() == 0)
    assert(r2.curated.count() == 5)
  }

  test("two-day replay: day-3 incremental over day-2's reset curated keeps the SK/flag lifecycle") {
    import spark.implicits._
    // ---- replay day 2 (the production cadence's state handoff) ------
    val empty = curatedDay1.limit(0)
      .drop("Year", "Month", "Is_updated")
      .withColumn("_SK_METRICS_FACT", lit(0L))
      .select(CovidPipeline.FinalColumns.map(col): _*)
    val r1 = CovidPipeline.reconcile(curatedDay1, empty, empty,
      fullMode = true, LocalDate.parse(D2), AsOf1)
    val r2 = {
      val r = CovidPipeline.reconcile(curatedDay2, r1.warehouse, r1.enterprise,
        fullMode = false, Day2, AsOf2)
      r.copy(r.upsertBatch, r.warehouse.cache(), r.enterprise.cache(), r.curated.cache())
    }

    // ---- day-3 files: cumulative snapshot = day 2 content, with
    // ESP@D2 RESTATED (stringency 72.0 -> 73.3, replacing the day-2
    // version of the row) and new D3 rows (the "yesterday" of Day3)
    val D3 = "2021-03-03"
    val Day3 = LocalDate.parse("2021-03-04")
    val AsOf3 = "2021-03-04 04:00:00"
    val day3Raw = Raw.fromCsv(
      owidRows(extra = Seq(
        ("Spain", "ESP", D2, "73.3"), ("France", "FRA", D2, "60.0"),
        ("Spain", "ESP", D3, "68.0"), ("France", "FRA", D3, "59.0"))).union(
        s(Seq(("Spain", "ESP", D1, "75.5", "47350000", "19.4", "13.9", "10000", "400111")),
          "location", "iso_code", "date", "stringency_index", "population",
          "aged_65_older", "aged_70_older", "new_tests", "total_tests")),
      vaccRows(extra = Seq(("ESP", D2, "1100000"), ("ESP", D3, "1200000"))),
      hospRows(extra = Seq(
        ("ESP", D2, "Daily hospital occupancy", "7900.001"),
        ("ESP", D3, "Daily hospital occupancy", "7800.505"))),
      excessRows(extra = Seq(("Spain", D2, "1300.001"), ("Spain", D3, "1400.009"))),
      fullDataRows(extra = Seq(
        ("Spain", D2, "5100"), ("France", D2, "9100"),
        ("Spain", D3, "5200"), ("France", D3, "9200"))))

    // day-3 incremental consumes the FLAG-RESET curated from day 2's
    // reconcile — the real state handoff (main.py:83-93 daily rerun)
    val cur3 = CovidPipeline.incremental(day3Raw, day2Raw, r2.curated, Day3, AsOf3).cache()

    assert(cur3.count() == 7) // 5 reset rows + ESP@D3 + FRA@D3
    // ESP@D2 restated -> merged in place, flips back to Y
    val esp2 = fact(cur3, "ESP", D2).collect().head
    assert(esp2.getAs[Double]("Stringency_index") == 73.3)
    assert(esp2.getAs[String]("Is_updated") == "Y")
    assert(esp2.getAs[Int]("Total_vaccinations") == 1100000) // other sources untouched
    // ESP@D1: restated on day 2, RESET to N by day 2's reconcile, and
    // day 3 must not resurrect the flag (no change in day-3 files)
    val esp1 = fact(cur3, "ESP", D1).collect().head
    assert(esp1.getAs[String]("Is_updated") == "N")
    assert(esp1.getAs[Double]("Stringency_index") == 75.5) // day-2 restatement survives
    // D3 inserts arrive as N through the star assembly
    val esp3 = fact(cur3, "ESP", D3).collect().head
    assert(esp3.getAs[String]("Is_updated") == "N")
    assert(esp3.getAs[Double]("Stringency_index") == 68.0)
    assert(esp3.getAs[Int]("Total_vaccinations") == 1200000)
    assert(esp3.getAs[Double]("Daily_hospital_occupancy") == 7800.51)

    // ---- day-3 reconcile: SK continuity across runs ------------------
    val r3 = {
      val r = CovidPipeline.reconcile(cur3, r2.warehouse, r2.enterprise,
        fullMode = false, Day3, AsOf3)
      r.copy(r.upsertBatch.cache(), r.warehouse.cache(), r.enterprise.cache(), r.curated.cache())
    }
    assert(r3.upsertBatch.count() == 3) // 2 D3 inserts + 1 ESP@D2 update
    // inserts continue from the day-2 warehouse max (5): ESP@D3=6, FRA@D3=7
    val insSks = r3.upsertBatch.filter(col("Date") === to_date(lit(D3)))
      .select("_SK_METRICS_FACT").as[Long].collect().sorted
    assert(insSks.toSeq == Seq(6L, 7L))
    // the update keeps the SK minted for ESP@D2 on day 2 (4, by the
    // deterministic (CodeISO, Date) insert order of that run)
    val updSk = r3.upsertBatch.filter(col("Date") === to_date(lit(D2)) && col("CodeISO") === "ESP")
      .select("_SK_METRICS_FACT").as[Long].collect()
    assert(updSk.toSeq == Seq(4L))

    // warehouse: 7 rows, restated value won the LWW upsert
    assert(r3.warehouse.count() == 7)
    assert(fact(r3.warehouse, "ESP", D2).collect().head.getAs[Double]("Stringency_index") == 73.3)
    // enterprise: matched row updated in place, kept its day-2 audit ts
    val entEsp2 = fact(r3.enterprise, "ESP", D2).collect().head
    assert(entEsp2.getAs[Double]("Stringency_index") == 73.3)
    assert(entEsp2.getAs[java.sql.Timestamp]("_TF_LAST_UPDATE").toString.startsWith("2021-03-03"))
    // lifecycle closes: flags all N again, ready for day 4
    assert(r3.curated.filter(col("Is_updated") === "Y").count() == 0)
    assert(r3.curated.count() == 7)
  }

  // day 1's full-mode reconcile, the warehouse/enterprise state day 2
  // reconciles against
  private lazy val day1Reconciled = {
    val empty = curatedDay1.limit(0)
      .drop("Year", "Month", "Is_updated")
      .withColumn("_SK_METRICS_FACT", lit(0L))
      .select(CovidPipeline.FinalColumns.map(col): _*)
    CovidPipeline.reconcile(curatedDay1, empty, empty, fullMode = true, LocalDate.parse(D2), AsOf1)
  }

  private def reconcileDay2(curated: DataFrame) =
    CovidPipeline.reconcile(curated, day1Reconciled.warehouse, day1Reconciled.enterprise,
      fullMode = false, Day2, AsOf2)

  private def outputs(r: CovidPipeline.Reconciled) = Seq(
    "upsertBatch" -> r.upsertBatch, "warehouse" -> r.warehouse,
    "enterprise" -> r.enterprise, "curated" -> r.curated)

  test("pinning is result-neutral: default barriers and a fully-lazy day give the same rows") {
    def same(a: DataFrame, b: DataFrame, what: String): Unit =
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, what)
    val pinned = CovidPipeline.incremental(day2Raw, day1Raw, curatedDay1, Day2, AsOf2)
    val unpinned = CovidPipeline.incremental(day2Raw, day1Raw, curatedDay1, Day2, AsOf2,
      materialize = identity)
    same(pinned, unpinned, "incremental")
    outputs(reconcileDay2(pinned)).zip(outputs(reconcileDay2(unpinned))).foreach {
      case ((name, a), (_, b)) => same(a, b, name)
    }
  }

  test("an incremental day's reconciled outputs no longer reach back to the raw-file diff") {
    import org.apache.spark.sql.catalyst.plans.logical.Except
    def hasExcept(df: DataFrame) = df.queryExecution.analyzed.collectFirst { case e: Except => e }.nonEmpty
    val r = reconcileDay2(CovidPipeline.incremental(day2Raw, day1Raw, curatedDay1, Day2, AsOf2))
    for ((name, df) <- outputs(r))
      assert(!hasExcept(df), s"$name plan still holds the raw-file diff:\n${df.queryExecution.analyzed}")
    // control: without the barriers the diff is in the plan
    val lazyDay = CovidPipeline.incremental(day2Raw, day1Raw, curatedDay1, Day2, AsOf2,
      materialize = identity)
    assert(hasExcept(reconcileDay2(lazyDay).curated))
  }

  test("atomic publish: a crash between sink writes leaves readers on the old version for ALL sinks") {
    import spark.implicits._
    import graft.sources.SnapshotPublish
    val root = java.nio.file.Files.createTempDirectory("graft-pub").toString
    def frames(tag: String) = Seq(
      "warehouse" -> Seq((1L, tag)).toDF("k", "v"),
      "enterprise" -> Seq((2L, tag)).toDF("k", "v"),
      "curated" -> Seq((3L, tag)).toDF("k", "v"))
    assert(SnapshotPublish.publish(spark, root, frames("old")) == 1L)

    // the v2 attempt dies while writing the SECOND sink — warehouse
    // has already written — the exact mixed-version window the
    // reference's sequential three-store tail (main.py:235-304) leaves
    val boom = spark.range(1)
      .select(col("id").as("k"), raise_error(lit("injected crash")).cast("string").as("v"))
    intercept[Exception] {
      SnapshotPublish.publish(spark, root, Seq(
        "warehouse" -> Seq((1L, "new")).toDF("k", "v"),
        "enterprise" -> boom,
        "curated" -> Seq((3L, "new")).toDF("k", "v")))
    }
    // every reader still resolves v1 for EVERY sink: all-old, never mixed
    assert(SnapshotPublish.currentVersion(spark, root).contains(1L))
    for (t <- Seq("warehouse", "enterprise", "curated"))
      assert(SnapshotPublish.readCurrent(spark, root, t)
        .select("v").as[String].collect().toSeq == Seq("old"), t)

    // the retry commits all three together
    val v2 = SnapshotPublish.publish(spark, root, frames("new"))
    assert(v2 == 2L)
    for (t <- Seq("warehouse", "enterprise", "curated"))
      assert(SnapshotPublish.readCurrent(spark, root, t)
        .select("v").as[String].collect().toSeq == Seq("new"), t)

    // time travel: v1 stays readable until vacuumed; crashed versions never resolve
    assert(SnapshotPublish.readAt(spark, root, "warehouse", 1L)
      .select("v").as[String].collect().toSeq == Seq("old"))
    intercept[IllegalStateException] {
      SnapshotPublish.readAt(spark, root, "warehouse", 77L)
    }

    // a crash AFTER the version rename but BEFORE the marker: readers
    // skip the unmarked dir entirely
    new java.io.File(s"$root/v=00000099/warehouse").mkdirs()
    assert(SnapshotPublish.currentVersion(spark, root).contains(v2))

    // vacuum keeps the current version, drops the old one + debris
    // (minAgeMillis=0: this test IS the no-readers-in-flight caller;
    // the retention guard itself is covered in SnapshotPublishSpec)
    SnapshotPublish.vacuum(spark, root, keep = 1, minAgeMillis = 0L)
    assert(SnapshotPublish.currentVersion(spark, root).contains(v2))
    assert(!new java.io.File(s"$root/v=00000001").exists())
    assert(!new java.io.File(s"$root/v=00000099").exists())
    for (t <- Seq("warehouse", "enterprise", "curated"))
      assert(SnapshotPublish.readCurrent(spark, root, t).count() == 1)
  }

  test("publishReconciled: the flagship's three sinks land as one version") {
    import spark.implicits._
    import graft.sources.SnapshotPublish
    val root = java.nio.file.Files.createTempDirectory("graft-pub-rec").toString
    val wh = Seq((1L, "w")).toDF("sk", "t")
    val ent = Seq((2L, "e")).toDF("sk", "t")
    val cur = Seq((3L, "c")).toDF("sk", "t")
    val v = CovidPipeline.publishReconciled(root,
      CovidPipeline.Reconciled(wh.limit(0), wh, ent, cur))
    assert(v == 1L)
    assert(SnapshotPublish.readCurrent(spark, root, "warehouse")
      .select("t").as[String].collect().toSeq == Seq("w"))
    assert(SnapshotPublish.readCurrent(spark, root, "enterprise")
      .select("t").as[String].collect().toSeq == Seq("e"))
    assert(SnapshotPublish.readCurrent(spark, root, "curated")
      .select("t").as[String].collect().toSeq == Seq("c"))
  }

  test("incrementalSk: deterministic keys stack on warehouse max; oversized slices refuse") {
    import spark.implicits._
    val wh = Seq((5L, "X")).toDF("_SK_METRICS_FACT", "CodeISO")
    val slice = Seq(("B", "2021-01-02"), ("A", "2021-01-01"), ("A", "2021-01-02"))
      .toDF("CodeISO", "Date")
    val keyed = CovidPipeline.incrementalSk(slice, wh)
      .orderBy("_SK_METRICS_FACT")
      .select("CodeISO", "Date", "_SK_METRICS_FACT")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // (CodeISO, Date) order, starting at warehouse max + 1
    assert(keyed.toSeq == Seq(("A", "2021-01-01", 6L), ("A", "2021-01-02", 7L),
      ("B", "2021-01-02", 8L)))
    // a backfill-sized slice through the incremental path refuses
    // loudly instead of silently single-partitioning the key window
    val e = intercept[IllegalArgumentException] {
      CovidPipeline.incrementalSk(slice, wh, maxRows = 2)
    }
    assert(e.getMessage.contains("full mode"))
  }
}
