package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded OWID-shaped source model. Every value is a pure function of
  * (seed, source, country, day, field, revision); a restatement bumps
  * the revision of one (source, country, day) cell group, which is how
  * OWID republishes history. Each day's files hold the full history up
  * to yesterday, as OWID publishes them.
  *
  * The model also yields the expected `MetricsCovid_Fact` content
  * directly from the cell values (cast, round, zero-fill written out
  * here, independent of the pipeline under test).
  *
  * Sources: 0 owid-covid-data, 1 vaccinations, 2 covid-hospitalizations,
  * 3 excess_mortality, 4 full_data.
  */
final class OwidModel(val seed: Long, val nCountries: Int, val start: LocalDate) {
  import OwidModel._

  /** (location, iso_code, continent); country 0 has no excess-mortality
    * rows, every tenth country (from 3) has no vaccination rows.
    */
  val countries: IndexedSeq[(String, String, String)] = (0 until nCountries).map { i =>
    val a = ('A' + i / 26 / 26 % 26).toChar
    val b = ('A' + i / 26 % 26).toChar
    val c = ('A' + i % 26).toChar
    (f"Land $i%03d", s"$a$b$c", Continents(i % Continents.length))
  }
  /** A location that appears only in the location-keyed sources: the
    * pipeline's inner country-map join drops it.
    */
  val Unmapped = "Atlantis"

  private val rev = mutable.HashMap.empty[(Int, Int, Int), Int]
  def revOf(src: Int, c: Int, d: Int): Int = rev.getOrElse((src, c, d), 0)

  def h(parts: Long*): Long = {
    var x = seed * 0x9E3779B97F4A7C15L
    parts.foreach { p => x = mix(x ^ (p + 0x632BE59BD9B4E019L)) }
    x
  }

  def date(d: Int): LocalDate = start.plusDays(d.toLong)

  def hasExcess(c: Int): Boolean = c != 0
  def hasVacc(c: Int): Boolean = c % 10 != 3
  def hasHosp(c: Int, d: Int, ind: Int): Boolean = java.lang.Math.floorMod(h(2, c, d, ind, 99), 10L) < 6

  /** Raw integer cell: a count in [0, scale), or "n/a" at a 0.2% rate. */
  private def intCell(src: Int, c: Int, d: Int, field: Int, scale: Long): String = {
    val r = revOf(src, c, d)
    if (java.lang.Math.floorMod(h(src, c, d, field, r, 7), 1000L) < 2) Malformed
    else java.lang.Math.floorMod(h(src, c, d, field, r), scale).toString
  }

  /** Raw decimal cell with three decimals whose last digit is never 0
    * or 5, so rounding to 1 or 2 places has no ties.
    */
  private def milliCell(src: Int, c: Int, d: Int, field: Int, scaleMilli: Long,
      malformed: Boolean): String = {
    val r = revOf(src, c, d)
    if (malformed && java.lang.Math.floorMod(h(src, c, d, field, r, 7), 1000L) < 2) Malformed
    else {
      var m = java.lang.Math.floorMod(h(src, c, d, field, r), scaleMilli)
      if (m % 5 == 0) m += 1
      f"${m / 1000}%d.${m % 1000}%03d"
    }
  }

  // ---- raw cells per source --------------------------------------------
  def owidCells(c: Int, d: Int): Seq[String] = Seq(
    milliCell(0, c, d, 0, 100000L, malformed = false), // stringency_index
    intCell(0, c, d, 1, 200000000L),                    // population
    intCell(0, c, d, 2, 30L),                           // aged_65_older
    intCell(0, c, d, 3, 20L),                           // aged_70_older
    intCell(0, c, d, 4, 100000L),                       // new_tests
    intCell(0, c, d, 5, 50000000L))                     // total_tests
  def vaccCells(c: Int, d: Int): Seq[String] = Seq(
    intCell(1, c, d, 0, 100000000L), intCell(1, c, d, 1, 1000000L), intCell(1, c, d, 2, 10000000L))
  def hospCell(c: Int, d: Int, ind: Int): String =
    milliCell(2, c, d, 10 + ind, 100000000L, malformed = false)
  def excessCell(c: Int, d: Int): String = milliCell(3, c, d, 0, 10000000L, malformed = true)
  def fullDataCells(c: Int, d: Int): Seq[String] = (0 until 6).map(f => intCell(4, c, d, f, 10000000L))

  // ---- restatements --------------------------------------------------------

  /** Restate `n` seeded (source, country, day) groups with day in
    * [lastDay - window, lastDay - 1]; returns the restated (country, day)
    * pairs. A group the source has no rows for changes nothing.
    */
  def restate(step: Int, n: Int, lastDay: Int, window: Int): Seq[(Int, Int)] =
    (0 until n).map { i =>
      val src = java.lang.Math.floorMod(h(5, step, i, 0), 5L).toInt
      val c = java.lang.Math.floorMod(h(5, step, i, 1), nCountries.toLong).toInt
      val d = lastDay - 1 - java.lang.Math.floorMod(h(5, step, i, 2), window.toLong).toInt
      rev((src, c, d)) = revOf(src, c, d) + 1
      (c, d)
    }.distinct

  // ---- CSV files -------------------------------------------------------------

  /** Write the five raw CSVs holding days [0, lastDay] into `dir`;
    * returns their total row count.
    */
  def writeDay(dir: String, lastDay: Int): Long = {
    Files.createDirectories(Paths.get(dir))
    var rows = 0L
    def file(name: String, header: String)(body: (String => Unit) => Unit): Unit = {
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(s"$dir/$name"), StandardCharsets.UTF_8), 1 << 16)
      try {
        w.write(header); w.write('\n')
        body { line => w.write(line); w.write('\n'); rows += 1 }
      } finally w.close()
    }
    val days = 0 to lastDay
    file("owid-covid-data.csv", "iso_code,continent,location,date,stringency_index,population," +
      "aged_65_older,aged_70_older,new_tests,total_tests") { emit =>
      for (c <- countries.indices; d <- days) {
        val (loc, iso, cont) = countries(c)
        emit((Seq(iso, cont, loc, date(d).toString) ++ owidCells(c, d)).mkString(","))
      }
    }
    file("vaccinations.csv", "location,iso_code,date,total_vaccinations,daily_vaccinations," +
      "total_boosters") { emit =>
      for (c <- countries.indices if hasVacc(c); d <- days) {
        val (loc, iso, _) = countries(c)
        emit((Seq(loc, iso, date(d).toString) ++ vaccCells(c, d)).mkString(","))
      }
    }
    file("covid-hospitalizations.csv", "entity,iso_code,date,indicator,value") { emit =>
      for (c <- countries.indices; d <- days; ind <- Indicators.indices if hasHosp(c, d, ind)) {
        val (loc, iso, _) = countries(c)
        emit(Seq(loc, iso, date(d).toString, Indicators(ind), hospCell(c, d, ind)).mkString(","))
      }
    }
    file("excess_mortality.csv", "location,date,excess_proj_all_ages") { emit =>
      for (c <- countries.indices if hasExcess(c); d <- days)
        emit(Seq(countries(c)._1, date(d).toString, excessCell(c, d)).mkString(","))
      for (d <- days) emit(Seq(Unmapped, date(d).toString, "1.234").mkString(","))
    }
    file("full_data.csv", "date,location,new_cases,new_deaths,total_cases,total_deaths," +
      "weekly_cases,weekly_deaths") { emit =>
      for (c <- countries.indices; d <- days)
        emit((Seq(date(d).toString, countries(c)._1) ++ fullDataCells(c, d)).mkString(","))
      for (d <- days) emit((Seq(date(d).toString, Unmapped) ++ Seq.fill(6)("7")).mkString(","))
    }
    rows
  }

  // ---- expected fact ---------------------------------------------------------

  private def asInt(s: String): Int = if (s == Malformed) 0 else s.toInt
  private def round(s: String, places: Int): Double =
    if (s == Malformed) 0.0
    else {
      val milli = s.replace(".", "").toLong
      places match {
        case 1 => ((milli + 50) / 100) / 10.0
        case 2 => ((milli + 5) / 10) / 100.0
      }
    }

  /** The 23 business columns of one fact row (no surrogate key, no
    * audit timestamp), in [[FactSchema]] order.
    */
  def factRow(c: Int, d: Int): Row = {
    val (loc, iso, _) = countries(c)
    val o = owidCells(c, d)
    val f = fullDataCells(c, d)
    val v = if (hasVacc(c)) vaccCells(c, d).map(asInt) else Seq(0, 0, 0)
    val hosp = Indicators.indices.map(i => if (hasHosp(c, d, i)) round(hospCell(c, d, i), 2) else 0.0)
    val excess = if (hasExcess(c)) round(excessCell(c, d), 2) else 0.0
    Row.fromSeq(Seq[Any](loc, iso, java.sql.Date.valueOf(date(d))) ++ f.map(asInt) ++ hosp ++ v ++
      Seq[Any](asInt(o(4)), asInt(o(5)), excess, round(o(0), 1), asInt(o(1)), asInt(o(2)), asInt(o(3))))
  }

  def factRows(lastDay: Int): Seq[Row] =
    for (c <- countries.indices; d <- 0 to lastDay) yield factRow(c, d)
}

object OwidModel {
  val Malformed = "n/a"
  val Continents = Seq("Africa", "Asia", "Europe", "North America", "Oceania", "South America")
  val Indicators = Seq("Daily hospital occupancy", "Daily ICU occupancy",
    "Weekly new hospital admissions", "Weekly new ICU admissions")

  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val ints = Seq("New_cases", "New_deaths", "Total_cases", "Total_deaths",
    "Weekly_cases", "Weekly_deaths")
  private val hosp = Seq("Daily_hospital_occupancy", "Daily_icu_occupancy",
    "Weekly_new_hospital_admissions", "Weekly_new_icu_admissions")

  /** Business columns of `MetricsCovid_Fact`: everything but
    * `_SK_METRICS_FACT` and `_TF_LAST_UPDATE`.
    */
  val FactSchema: StructType = StructType(
    Seq(StructField("Location", StringType), StructField("CodeISO", StringType),
      StructField("Date", DateType)) ++
      ints.map(StructField(_, IntegerType)) ++
      hosp.map(StructField(_, DoubleType)) ++
      Seq("Total_vaccinations", "Daily_vaccinations", "Total_boosters_vaccinations",
        "New_tests", "Total_tests").map(StructField(_, IntegerType)) ++
      Seq(StructField("Projection_excess_death", DoubleType),
        StructField("Stringency_index", DoubleType)) ++
      Seq("Population", "Aged_65_older_perc", "Aged_70_older_perc").map(StructField(_, IntegerType)))

  val BusinessCols: Seq[String] = FactSchema.fieldNames.toSeq
}
