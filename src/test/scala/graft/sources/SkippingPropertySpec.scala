package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

/** ScalaCheck law for file skipping in [[LogFileIndex]]: skipping
  * never drops a row. Over random multi-file Delta and Iceberg tables
  * (long, int, double, string, date, TIMESTAMP_MICROS and decimal(10,2)
  * columns, with nulls, NaN, signed zeros, empty and non-BMP strings) and random
  * predicates (`=`, `<`, `<=`, `>`, `>=`, IN, BETWEEN, IS NULL under
  * AND, OR and NOT), `read(t).filter(p)` equals `p` applied to the
  * source rows held here, which no file index sees.
  *
  * Each file draws each column from its own window of the column's
  * ordered domain, so files overlap on some columns and are disjoint
  * on others, and the predicates' literals come from the same domains:
  * the index does skip (asserted), and misses its bounds by one value
  * often enough to catch an off-by-one comparison.
  */
class SkippingPropertySpec extends SparkSpec {

  private type Row7 = (Option[Long], Option[Int], Option[Double], Option[String],
    Option[java.sql.Date], Option[java.sql.Timestamp], Option[java.math.BigDecimal])

  private val columns = Seq("l", "i", "d", "s", "dt", "ts", "p")

  /** Each column's values in Spark's order (NaN above every double;
    * strings in UTF-8 byte order, which puts "😀" above "！").
    */
  private val domains: Seq[IndexedSeq[Any]] = Seq(
    (Long.MinValue +: (-60L to 60L by 4L)) :+ Long.MaxValue,
    (-40 to 40 by 3).toIndexedSeq,
    IndexedSeq(Double.NegativeInfinity, -20.0, -7.5, -1.25, -0.0, 0.0, 0.5, 3.0, 9.75, 20.0,
      Double.PositiveInfinity, Double.NaN),
    IndexedSeq("", "a", "ab", "b", "z", "é", "！", "😀", "😀z"),
    (18000 to 18040 by 2).map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d))),
    (0 to 20).map(k => java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1600000000L + 3L * k, (k * 123457L % 1000000L) * 1000L))),
    Seq("-20.00", "-1.25", "0.00", "0.50", "1.00", "3.75", "9.99", "20.00", "50.00", "99.99")
      .map(new java.math.BigDecimal(_)).toIndexedSeq)

  private def window(domain: IndexedSeq[Any]): Gen[IndexedSeq[Any]] = for {
    from <- Gen.choose(0, domain.size - 1)
    width <- Gen.choose(1, domain.size - from)
  } yield domain.slice(from, from + width)

  private def cell(values: IndexedSeq[Any]): Gen[Option[Any]] =
    Gen.frequency(1 -> Gen.const(None), 5 -> Gen.oneOf(values).map(Some(_)))

  private val fileGen: Gen[Seq[Row7]] = for {
    windows <- Gen.sequence[Seq[IndexedSeq[Any]], IndexedSeq[Any]](domains.map(window))
    n <- Gen.choose(1, 6)
    rows <- Gen.listOfN(n, Gen.sequence[Seq[Option[Any]], Option[Any]](windows.map(cell)))
  } yield rows.map { r =>
    (r(0).map(_.asInstanceOf[Long]), r(1).map(_.asInstanceOf[Int]),
      r(2).map(_.asInstanceOf[Double]), r(3).map(_.asInstanceOf[String]),
      r(4).map(_.asInstanceOf[java.sql.Date]), r(5).map(_.asInstanceOf[java.sql.Timestamp]),
      r(6).map(_.asInstanceOf[java.math.BigDecimal]))
  }

  private val tableGen: Gen[Seq[Seq[Row7]]] =
    Gen.choose(2, 4).flatMap(n => Gen.listOfN(n, fileGen))

  /** A literal from column `c`'s domain; the int column also compares
    * against longs, through Spark's widening cast.
    */
  private def literal(c: Int): Gen[Column] =
    if (c == 1) Gen.oneOf(domains(1)).flatMap(v =>
      Gen.oneOf(lit(v), lit(v.asInstanceOf[Int].toLong)))
    else Gen.oneOf(domains(c)).map(lit)

  private val atom: Gen[Column] = for {
    c <- Gen.choose(0, columns.size - 1)
    a <- literal(c)
    b <- literal(c)
    list <- Gen.listOfN(3, literal(c))
    op <- Gen.choose(0, 7)
  } yield {
    val x = col(columns(c))
    op match {
      case 0 => x === a
      case 1 => x < a
      case 2 => x <= a
      case 3 => x > a
      case 4 => x >= a
      case 5 => x.isin(list: _*)
      case 6 => x.between(a, b)
      case _ => x.isNull
    }
  }

  private def predicate(depth: Int): Gen[Column] =
    if (depth == 0) atom
    else Gen.frequency(
      3 -> atom,
      1 -> Gen.zip(predicate(depth - 1), predicate(depth - 1)).map { case (p, q) => p && q },
      1 -> Gen.zip(predicate(depth - 1), predicate(depth - 1)).map { case (p, q) => p || q },
      1 -> predicate(depth - 1).map(p => !p))

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("skipping never drops a row: read(t).filter(p) == p over the source rows (ScalaCheck)") {
    import spark.implicits._
    val key = "spark.sql.parquet.outputTimestampType"
    val saved = spark.conf.getOption(key)
    // INT64 micros timestamps carry footer stats (INT96 ones do not)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    var checks = 0
    var skipped = 0
    try {
      val prop = Prop.forAll(tableGen, Gen.listOfN(6, predicate(2))) { (files, preds) =>
        // decimal(10,2) is written as INT64 holding the unscaled value
        val frames = files.map(_.toDF(columns: _*)
          .withColumn("p", col("p").cast(DecimalType(10, 2))))
        val source = frames.reduce(_.union(_))
        val delta = Files.createTempDirectory("graft-skip-delta").toString
        val ice = Files.createTempDirectory("graft-skip-iceberg").toString
        frames.foreach { f =>
          DeltaLog.append(spark, delta, f.coalesce(1))
          IcebergTable.append(spark, ice, f.coalesce(1))
        }
        val reads = Seq("delta" -> DeltaLog.read(spark, delta),
          "iceberg" -> IcebergTable.read(spark, ice))
        preds.forall { p =>
          val want = rowsOf(source.filter(p))
          reads.forall { case (format, read) =>
            val got = read.filter(p)
            val planned = LogFileIndex.plannedFiles(got).size
            checks += 1
            if (planned < files.size) skipped += 1
            val same = rowsOf(got) == want
            if (!same) println(s"$format drops or adds rows under $p: planned $planned")
            same
          }
        }
      }
      val res = SCTest.check(SCTest.Parameters.default
        .withMinSuccessfulTests(12).withInitialSeed(Seed(7L)), prop)
      assert(res.passed, res.status.toString)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // the law is not vacuous: the index skipped files on some reads
    assert(skipped > 0 && skipped < checks, s"skipped on $skipped of $checks reads")
  }
}
