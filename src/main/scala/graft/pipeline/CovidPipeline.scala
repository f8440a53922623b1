package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{SurrogateKey, Transform, Upsert}
import graft.ops.Transform.{CastSpec, ToDate, ToInt, ToRounded}

/** The reference's complete query lifecycle (SURVEY.md §3) as one
  * Spark-first Scala pipeline over OWID-shaped raw frames: full load
  * (§3.1), incremental load (§3.2) and warehouse reconciliation (§3.3),
  * producing the 25-column `MetricsCovid_Fact` with the `Is_updated`
  * Y→N lifecycle.
  *
  * Differences from the reference, by design:
  *  - determinism: `today` and `asOf` are explicit parameters; the
  *    reference reads `current_date()`/`current_timestamp()`
  *    (`main.py:128-135,221`), which is untestable.
  *  - the 4-way pivot-by-filter + 4 left joins (`main.py:106-114,
  *    217-220`) is ONE conditional aggregation + ONE join
  *    ([[pivotHospitalizations]]): 1 scan + 1 shuffle instead of
  *    4 scans + 4 shuffle joins — same result, since OWID carries one
  *    row per (iso_code, date, indicator).
  *  - two latent reference bugs are fixed (intended semantics kept,
  *    deviations documented): `main.py:93` subtracts `full_data`'s
  *    *yesterday* frame from itself (always-empty change set), and
  *    `main.py:203` keeps `date != yesterday` rows of excess_mortality
  *    for the *insert* slice where every other source keeps `==`.
  *  - surrogate keys: incremental mode uses a deterministic
  *    `row_number` over (CodeISO, Date) continued from the warehouse
  *    max, in-plan (the reference uses arrival-order
  *    `rdd.zipWithIndex` keys and a driver-side `first()` for the
  *    max, `main.py:283-286`); full mode uses
  *    `SurrogateKey.scalable` — the zipWithIndex contract itself —
  *    because there the insert set is the whole fact table and a
  *    global row_number would serialize through one sort task.
  */
object CovidPipeline {

  /** Ceiling for the incremental branch's deterministic surrogate-key
    * window (a single-task global sort): ~10M rows ≈ hundreds of MB on
    * one task — the same size class as
    * `CoreQueries.ExactPercentileMaxGroupRows`. Real daily increments
    * are orders of magnitude below this; a backfill is not, and gets a
    * named error instead of a silent straggler.
    */
  private val IncrementalSkMaxRows = 10000000

  /** Incremental-mode surrogate keys: deterministic (CodeISO, Date)
    * row_number stacked on the warehouse's broadcast max — a GLOBAL-
    * order window, i.e. one task holds the whole insert slice. That
    * is the right trade for a daily increment (oracle-reproducible
    * keys), but a bulk BACKFILL routed through incremental mode would
    * silently single-partition here, so the slice size is guarded:
    * past [[IncrementalSkMaxRows]] this refuses loudly (the
    * `requireGroupsFitExactPercentile` convention) and points the
    * operator at full mode's `SurrogateKey.scalable` path.
    */
  private[pipeline] def incrementalSk(insertBase: DataFrame, warehouse: DataFrame,
      maxRows: Int = IncrementalSkMaxRows): DataFrame = {
    val n = insertBase.limit(maxRows + 1).count()
    require(n <= maxRows,
      s"incremental-mode insert slice exceeds $maxRows rows: " +
        "the deterministic surrogate-key window would single-partition a " +
        "backfill this large — run full mode (SurrogateKey.scalable) instead")
    val maxSk = broadcast(
      warehouse.agg(coalesce(max("_SK_METRICS_FACT"), lit(0L)).as("max_sk")))
    insertBase
      .crossJoin(maxSk)
      .withColumn("_SK_METRICS_FACT",
        col("max_sk") + row_number().over(Window.orderBy("CodeISO", "Date")).cast("long"))
      .drop("max_sk")
  }

  /** The five raw-zone frames, already projected to the consumed
    * columns (reference `main.py:75-79`): all-string, aliased
    * source-specific key names so the star assembly never sees an
    * ambiguous column.
    */
  final case class Raw(
      owid: DataFrame,
      vaccinations: DataFrame,
      hospitalizations: DataFrame,
      excessMortality: DataFrame,
      fullData: DataFrame) {

    /** SET1 — per-source change detection: today's file EXCEPT
      * yesterday's (`main.py:89-93`; the `full_data` self-subtract on
      * line 93 is the latent bug noted above — intended form here).
      */
    def changedSince(yesterday: Raw): Raw = Raw(
      owid.except(yesterday.owid),
      vaccinations.except(yesterday.vaccinations),
      hospitalizations.except(yesterday.hospitalizations),
      excessMortality.except(yesterday.excessMortality),
      fullData.except(yesterday.fullData))

    def map(f: DataFrame => DataFrame): Raw =
      Raw(f(owid), f(vaccinations), f(hospitalizations), f(excessMortality), f(fullData))
  }

  object Raw {
    /** Project freshly-read all-string CSVs to the reference's consumed
      * columns with its source-specific aliases (`main.py:75-79`).
      */
    def fromCsv(
        owid: DataFrame,
        vaccinations: DataFrame,
        hospitalizations: DataFrame,
        excessMortality: DataFrame,
        fullData: DataFrame): Raw = Raw(
      owid.select("location", "iso_code", "date", "stringency_index", "population",
        "aged_65_older", "aged_70_older", "new_tests", "total_tests"),
      vaccinations.select(col("iso_code").as("iso_code_vaccs"), col("date").as("date_vaccs"),
        col("total_vaccinations"), col("daily_vaccinations"), col("total_boosters")),
      hospitalizations.select(col("iso_code").as("iso_code_hosp"), col("date").as("date_hosp"),
        col("indicator"), col("value")),
      excessMortality.select(col("location").as("location_excess_mort"),
        col("date").as("date_excess_mort"), col("excess_proj_all_ages")),
      fullData.select(col("location").as("location_full_data"), col("date").as("date_full_data"),
        col("new_cases"), col("new_deaths"), col("total_cases"), col("total_deaths"),
        col("weekly_cases"), col("weekly_deaths")))
  }

  /** The casting spec of `main.py:119-123` — "Decimal2"/"Decimal1" are
    * doubles rounded to 2/1 dp (`transform_functions.py:32-39`).
    */
  val MetricsFactCastSpec: Seq[CastSpec] = Seq(
    CastSpec(ToRounded(2), Seq("Daily_hospital_occupancy", "Daily_icu_occupancy",
      "Weekly_new_hospital_admissions", "Weekly_new_icu_admissions", "excess_proj_all_ages")),
    CastSpec(ToRounded(1), Seq("stringency_index")),
    CastSpec(ToInt, Seq("new_cases", "new_deaths", "total_cases", "total_deaths",
      "weekly_cases", "weekly_deaths", "total_vaccinations", "daily_vaccinations",
      "total_boosters", "new_tests", "total_tests", "population",
      "aged_65_older", "aged_70_older")),
    CastSpec(ToDate, Seq("date")))

  /** The four hospitalization indicators and their pivoted column names
    * (`main.py:106-114`).
    */
  val HospIndicators: Seq[(String, String)] = Seq(
    "Daily hospital occupancy"        -> "Daily_hospital_occupancy",
    "Daily ICU occupancy"             -> "Daily_icu_occupancy",
    "Weekly new hospital admissions"  -> "Weekly_new_hospital_admissions",
    "Weekly new ICU admissions"       -> "Weekly_new_icu_admissions")

  /** The canonical 25-column upsert projection (`main.py:287`). */
  val FinalColumns: Seq[String] = Seq(
    "_SK_METRICS_FACT", "_TF_LAST_UPDATE", "Location", "CodeISO", "Date",
    "New_cases", "New_deaths", "Total_cases", "Total_deaths",
    "Weekly_cases", "Weekly_deaths",
    "Daily_hospital_occupancy", "Daily_icu_occupancy",
    "Weekly_new_hospital_admissions", "Weekly_new_icu_admissions",
    "Total_vaccinations", "Daily_vaccinations", "Total_boosters_vaccinations",
    "New_tests", "Total_tests", "Projection_excess_death",
    "Stringency_index", "Population", "Aged_65_older_perc", "Aged_70_older_perc")

  /** The 20 metric columns the enterprise merge updates on match
    * (`load_functions.py:71-92`) — matched rows keep their existing
    * `_SK_METRICS_FACT`, `_TF_LAST_UPDATE` and `Location`.
    */
  val EnterpriseUpdateCols: Seq[String] =
    FinalColumns.diff(Seq("_SK_METRICS_FACT", "_TF_LAST_UPDATE", "Location", "CodeISO", "Date"))

  // =====================================================================
  // Transform stages
  // =====================================================================

  /** D1+P3 — the distinct (location, iso_code) country map
    * (`main.py:98-99`). ~250 rows → always broadcast at the join sites.
    */
  def countryMap(owid: DataFrame): DataFrame =
    owid.select(col("location").as("location_map"), col("iso_code").as("iso_code_map")).distinct()

  /** J1 — attach iso_code to a location-keyed source via the country
    * map (`main.py:102-103`); inner join drops unmapped locations.
    */
  def withIsoCode(df: DataFrame, cmap: DataFrame, locationCol: String, isoAlias: String): DataFrame =
    df.join(broadcast(cmap), df(locationCol) === cmap("location_map"), "inner")
      .withColumnRenamed("iso_code_map", isoAlias)
      .drop("location_map")

  /** F1 Spark-first — the 4-way pivot-by-filter (`main.py:106-114`) as
    * one conditional aggregation keyed (iso_code, date): one scan + one
    * shuffle replaces 4 filtered scans + 4 left joins, relying on
    * OWID's one-row-per-(iso, date, indicator) contract (`first` picks
    * the single present value; absent indicators stay NULL for the
    * downstream `na.fill(0)`).
    */
  def pivotHospitalizations(hosp: DataFrame): DataFrame = {
    val aggs = HospIndicators.map { case (ind, out) =>
      first(when(col("indicator") === ind, col("value")), ignoreNulls = true).as(out)
    }
    hosp.groupBy(col("iso_code_hosp"), col("date_hosp")).agg(aggs.head, aggs.tail: _*)
  }

  /** §3.1/§3.2 star assembly + typing tail (`main.py:213-229`): base
    * owid frame LEFT JOIN excess, full_data, vaccinations and the
    * pivoted hospitalizations on (iso_code, date); audit column; key
    * cleanup; cast spec; zero-fill; final renames; first-letter
    * uppercase; Year/Month partition columns; `Is_updated = 'N'`.
    */
  def assembleFact(
      owid: DataFrame,
      excessWithIso: DataFrame,
      fullDataWithIso: DataFrame,
      vaccinations: DataFrame,
      hospPivoted: DataFrame,
      asOf: String): DataFrame = {
    val joined = owid
      .join(excessWithIso,
        owid("iso_code") === excessWithIso("iso_code_excess_mort") &&
          owid("date") === excessWithIso("date_excess_mort"), "left")
      .join(fullDataWithIso,
        owid("iso_code") === fullDataWithIso("iso_code_full_data") &&
          owid("date") === fullDataWithIso("date_full_data"), "left")
      .join(vaccinations,
        owid("iso_code") === vaccinations("iso_code_vaccs") &&
          owid("date") === vaccinations("date_vaccs"), "left")
      .join(hospPivoted,
        owid("iso_code") === hospPivoted("iso_code_hosp") &&
          owid("date") === hospPivoted("date_hosp"), "left")
      .withColumn("_TF_LAST_UPDATE", to_timestamp(lit(asOf)))
      .drop("location_excess_mort", "location_full_data", "iso_code_excess_mort",
        "iso_code_full_data", "iso_code_vaccs", "iso_code_hosp",
        "date_excess_mort", "date_full_data", "date_vaccs", "date_hosp")
    val typed = Transform.fillNumericNulls(
      Transform.castTypes(joined, MetricsFactCastSpec))
    val renamed = Transform.upperFirstCols(Transform.renameAll(typed, Seq(
      "iso_code" -> "CodeISO",
      "aged_65_older" -> "Aged_65_older_perc",
      "aged_70_older" -> "Aged_70_older_perc",
      "total_boosters" -> "Total_boosters_vaccinations",
      "excess_proj_all_ages" -> "Projection_excess_death")))
    Transform.withDateParts(renamed, "Date").withColumn("Is_updated", lit("N"))
  }

  /** Full-mode curated build (§3.1): the whole snapshot through the
    * star assembly. The caller overwrite-writes it partitioned by
    * (Year, Month) — `sources.RawZone.overwritePartitioned` is the
    * scale-correct S7+S10.
    */
  def fullLoad(raw: Raw, asOf: String): DataFrame = {
    val cmap = countryMap(raw.owid)
    assembleFact(
      raw.owid,
      withIsoCode(raw.excessMortality, cmap, "location_excess_mort", "iso_code_excess_mort"),
      withIsoCode(raw.fullData, cmap, "location_full_data", "iso_code_full_data"),
      raw.vaccinations,
      pivotHospitalizations(raw.hospitalizations),
      asOf)
  }

  // =====================================================================
  // Incremental mode (§3.2)
  // =====================================================================

  /** One per-source update frame: restated rows (date ≠ yesterday) with
    * the typing tail + audit columns (`main.py:128-135`).
    */
  /** try_cast like `Transform.castTypes`: a malformed raw date string
    * becomes NULL (≠/= any literal → row routed out) instead of an
    * ANSI SparkDateTimeException aborting the whole incremental load.
    */
  private def asDate(c: Column) = c.try_cast(org.apache.spark.sql.types.DateType)

  private def updateSlice(df: DataFrame, dateCol: String, yesterday: LocalDate, asOf: String) =
    Transform.fillNumericNulls(
        Transform.castTypes(
          df.filter(asDate(col(dateCol)) =!= lit(java.sql.Date.valueOf(yesterday)))
            .withColumn("_TF_LAST_UPDATE", to_timestamp(lit(asOf))),
          MetricsFactCastSpec))
      .withColumn("Is_updated", lit("Y"))
      // normalized join key types (the reference leans on implicit
      // string→date coercion inside the MERGE condition)
      .withColumn(dateCol, asDate(col(dateCol)))

  private def insertSlice(df: DataFrame, dateCol: String, yesterday: LocalDate) =
    df.filter(asDate(col(dateCol)) === lit(java.sql.Date.valueOf(yesterday)))

  /** Incremental load (§3.2): per-source change detection (SET1),
    * restated-row merges into curated (M1 ×8 — one per source, exactly
    * the reference's loop at `main.py:191-199` with the mapping tables
    * of `main.py:138-189`), then the yesterday-only insert slice
    * through the star assembly, appended to curated.
    *
    * Returns the new curated content (merged ++ inserted).
    *
    * @param materialize the barrier put where the day's work is reused:
    *                    on each of the five change sets (the `except`
    *                    diffs of the raw files) and on the returned
    *                    curated frame. Every downstream action
    *                    ([[reconcile]]'s sinks and upsert batch, a
    *                    table-format MERGE of that batch) reads the
    *                    curated frame, so without these barriers each
    *                    one re-runs the raw-file diff and the star
    *                    assembly. The eight merges in between stay one
    *                    lazy chain over the pinned change sets, run
    *                    once by the final barrier: the day's changes
    *                    are computed once, as in the reference's eager
    *                    MERGE loop (`main.py:191-199`), with one
    *                    curated-sized barrier instead of eight. Pass
    *                    `identity` for a fully-lazy single plan.
    */
  def incremental(
      today: Raw,
      yesterdayFiles: Raw,
      curated: DataFrame,
      today_ : LocalDate,
      asOf: String,
      materialize: DataFrame => DataFrame = _.localCheckpoint()): DataFrame = {
    val yesterday = today_.minusDays(1)
    val changed = today.changedSince(yesterdayFiles).map(materialize)
    val cmap = countryMap(changed.owid)
    val excess = withIsoCode(changed.excessMortality, cmap, "location_excess_mort", "iso_code_excess_mort")
    val fullData = withIsoCode(changed.fullData, cmap, "location_full_data", "iso_code_full_data")
    val hospPivoted = pivotHospitalizations(changed.hospitalizations)

    // ----- M1 ×8: restated rows overwrite their mapped columns --------
    val audit = Map("_TF_LAST_UPDATE" -> "_TF_LAST_UPDATE", "Is_updated" -> "Is_updated")
    def merge(target: DataFrame, updates: DataFrame, isoCol: String, dateCol: String,
        mapping: Map[String, String]) =
      Upsert.updateMerge(target, updates,
        keys = Seq("CodeISO" -> isoCol, "Date" -> dateCol),
        mapping = mapping ++ audit)

    var cur = curated
    cur = merge(cur, updateSlice(changed.owid, "date", yesterday, asOf), "iso_code", "date", Map(
      "Stringency_index" -> "stringency_index",
      "Population" -> "population",
      "Aged_65_older_perc" -> "aged_65_older",
      "Aged_70_older_perc" -> "aged_70_older",
      "New_tests" -> "new_tests",
      "Total_tests" -> "total_tests"))
    cur = merge(cur, updateSlice(changed.vaccinations, "date_vaccs", yesterday, asOf),
      "iso_code_vaccs", "date_vaccs", Map(
        "Total_vaccinations" -> "total_vaccinations",
        "Daily_vaccinations" -> "daily_vaccinations",
        "Total_boosters_vaccinations" -> "total_boosters"))
    cur = merge(cur, updateSlice(excess, "date_excess_mort", yesterday, asOf),
      "iso_code_excess_mort", "date_excess_mort", Map(
        "Projection_excess_death" -> "excess_proj_all_ages"))
    cur = merge(cur, updateSlice(fullData, "date_full_data", yesterday, asOf),
      "iso_code_full_data", "date_full_data", Map(
        "New_cases" -> "new_cases", "New_deaths" -> "new_deaths",
        "Total_cases" -> "total_cases", "Total_deaths" -> "total_deaths",
        "Weekly_cases" -> "weekly_cases", "Weekly_deaths" -> "weekly_deaths"))
    // per-indicator hospitalization merges (reference files 5-8): the
    // pivoted frame filtered to rows where that indicator is present —
    // identical to the reference's indicator-filtered update frames.
    for ((_, out) <- HospIndicators) {
      val slice = updateSlice(
        hospPivoted.filter(col(out).isNotNull)
          .select(col("iso_code_hosp"), col("date_hosp"), col(out)),
        "date_hosp", yesterday, asOf)
      cur = merge(cur, slice, "iso_code_hosp", "date_hosp", Map(out -> out))
    }

    // ----- F2 insert slice: yesterday's brand-new rows ----------------
    // (`main.py:201-208`; line 203's `!=` on excess_mortality is the
    // latent bug noted in the scaladoc — intended `==` implemented.)
    val inserted = assembleFact(
      insertSlice(changed.owid, "date", yesterday),
      insertSlice(excess, "date_excess_mort", yesterday),
      insertSlice(fullData, "date_full_data", yesterday),
      insertSlice(changed.vaccinations, "date_vaccs", yesterday),
      insertSlice(hospPivoted, "date_hosp", yesterday),
      asOf)

    materialize(cur.unionByName(inserted))
  }

  // =====================================================================
  // Warehouse reconciliation (§3.3)
  // =====================================================================

  /** The §3.3 artifacts: the 25-column upsert batch plus the three
    * post-sync tables.
    */
  final case class Reconciled(
      upsertBatch: DataFrame,
      warehouse: DataFrame,
      enterprise: DataFrame,
      curated: DataFrame)

  /** Reconcile curated against the warehouse (`main.py:239-304` +
    * `load_functions.py`): dirty rows keep their warehouse SK (F3+J3),
    * yesterday's inserts get fresh dense keys continuing from the
    * warehouse max (W1, in-plan), union + canonical projection
    * (SET2+P11), then the three sinks: last-writer-wins staged upsert
    * into the warehouse (M3), 20-column full upsert into enterprise
    * (M2), and the curated `Is_updated` Y→N flag reset (M4).
    *
    * In incremental mode the returned `upsertBatch` is pinned
    * (`localCheckpoint`): a small relation that the sinks and a
    * downstream MERGE read without recomputing the day's lineage.
    *
    * @param warehouse  current warehouse content (25 FinalColumns).
    * @param fullMode   reference `_FULLMODE == 'Y'`: whole curated is
    *                   the insert set and keys restart from 0.
    */
  def reconcile(
      curated: DataFrame,
      warehouse: DataFrame,
      enterprise: DataFrame,
      fullMode: Boolean,
      today: LocalDate,
      asOf: String): Reconciled = {
    val yesterday = java.sql.Date.valueOf(today.minusDays(1))
    val asOfTs = to_timestamp(lit(asOf))

    // S6 — the warehouse key map (JDBC projection scan in production)
    val whKeys = warehouse.select(
      col("_SK_METRICS_FACT").as("_SK_WH"),
      col("Date").as("Date_syn"), col("CodeISO").as("CodeISO_syn"))

    // F3+J3 — dirty curated rows recover their warehouse SK
    val updates = curated.filter(col("Is_updated") === "Y")
      .join(whKeys,
        curated("Date") === whKeys("Date_syn") && curated("CodeISO") === whKeys("CodeISO_syn"))
      .withColumnRenamed("_SK_WH", "_SK_METRICS_FACT")
      .drop("Year", "Month", "Date_syn", "CodeISO_syn", "Is_updated")
      .withColumn("_TF_LAST_UPDATE", asOfTs)

    // F4 — insert set: yesterday's rows (or everything in full mode)
    val insertBase =
      (if (fullMode) curated else curated.filter(col("Date") === lit(yesterday)))
        .drop("Year", "Month", "Is_updated")
        .withColumn("_TF_LAST_UPDATE", asOfTs)

    // W1 — dense keys continuing from the warehouse max.
    //  - FULL mode: the insert set is the ENTIRE fact table, so a
    //    deterministic global row_number would funnel everything
    //    through one single-partition sort task — at 100× the data
    //    that task IS the load. SurrogateKey.scalable assigns
    //    per-partition zipWithIndex offsets instead (no global sort;
    //    keys dense from 1, partition-order-dependent — the exact
    //    contract of the reference's rdd.zipWithIndex at
    //    main.py:283-286, which also restarts from 0 in full mode).
    //  - INCREMENTAL mode: the insert slice is one day's increment,
    //    where the deterministic (CodeISO, Date) order is cheap and
    //    oracle-reproducible; the in-plan broadcast max (A1) replaces
    //    the reference's driver-side first().
    val inserts =
      if (fullMode)
        // MATERIALIZED: zipWithIndex keys are partition-order-
        // dependent, so recomputing the lineage per downstream action
        // (warehouse, enterprise, flag reset are separate sinks) could
        // assign DIFFERENT keys to the same row across sinks. The
        // barrier pins one assignment for all three — exactly the
        // reference's eager write of the keyed frame (main.py:287).
        // (The incremental branch's row_number over (CodeISO, Date) is
        // recomputation-stable; its batch is pinned below for cost.)
        SurrogateKey.scalable(insertBase, "_SK_METRICS_FACT", startAt = 0L).localCheckpoint()
      else incrementalSk(insertBase, warehouse)

    // SET2 + P11 — canonical 25-column batch. Incremental mode pins it:
    // the warehouse and enterprise sinks and the caller's table-format
    // MERGE each read it, and unpinned, every read re-runs the warehouse
    // key join and the key window (and, over a lazy curated, the day's
    // whole lineage). Full mode keeps its barrier on `inserts` above.
    val batch = {
      val b = inserts.select(FinalColumns.map(col): _*)
        .unionByName(updates.select(FinalColumns.map(col): _*))
      if (fullMode) b else b.localCheckpoint()
    }

    // M3 — warehouse staged upsert (newest _TF_LAST_UPDATE wins, tie →
    // staging), M2 — enterprise 20-column merge, M4 — flag reset.
    val newWarehouse = Upsert.lwwUpsert(warehouse, batch,
      Seq("Date", "CodeISO"), Some("_TF_LAST_UPDATE"))
    val newEnterprise = Upsert.fullUpsert(enterprise, batch,
      Seq("Date", "CodeISO"), Some(EnterpriseUpdateCols))
    val resetCurated = Upsert.updateMerge(curated,
      updates.select(col("Date").as("u_Date"), col("CodeISO").as("u_CodeISO"), lit("N").as("u_flag")),
      keys = Seq("Date" -> "u_Date", "CodeISO" -> "u_CodeISO"),
      mapping = Map("Is_updated" -> "u_flag"))

    Reconciled(batch, newWarehouse, newEnterprise, resetCurated)
  }

  /** Publish a reconcile's THREE sinks atomically
    * ([[graft.sources.SnapshotPublish]]): warehouse, enterprise and
    * the flag-reset curated table become visible to readers as one
    * version, or not at all. The reference writes them sequentially
    * (`main.py:235-304`) so a crash mid-tail leaves the stores
    * mixed-version — the very state its `Is_updated` flag then has to
    * reconcile away; here the marker-commit makes that window
    * unobservable. Returns the published version.
    */
  def publishReconciled(root: String, r: Reconciled): Long =
    graft.sources.SnapshotPublish.publish(r.warehouse.sparkSession, root, Seq(
      "warehouse" -> r.warehouse,
      "enterprise" -> r.enterprise,
      "curated" -> r.curated))
}
