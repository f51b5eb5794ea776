package graft.parse

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

object Fixtures {
  /** One b-deck line (36 fields) — FIXTURES.md §2. */
  def bdeck(dt: String, rad: Int, vmax: Int = 105, mslp: Int = 947,
      snum: Int = 9, name: String = "IAN", lat: String = "268N",
      lon: String = "823W", subregion: String = "A"): String =
    s"AL, ${"%02d".format(snum)}, $dt,   , BEST,   0, $lat, $lon, $vmax, $mslp, HU,  $rad, NEQ," +
      s" 140, 120,  70, 130, 1008,  200,  20, 130,   0,  $subregion,   0,    ," +
      s"   0,   0, $name, D,  12, NEQ, 120, 120,  60,  60,    ,"

  /** One a-deck line (17 fields + trailing empty = 18). */
  def adeck(dt: String, tech: String, tau: Int, rad: Int,
      lat: String = "271N", lon: String = "829W", vmax: Int = 75,
      mslp: Int = 972): String =
    s"AL, 09, $dt,   , $tech, $tau, $lat, $lon, $vmax, $mslp, HU,  $rad, NEQ," +
      s" 130, 110,  70, 120,"
}

class AtcfParserSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import Fixtures._

  private def bdeckDf(file: String, lines: Seq[String]) =
    lines.map(l => (l, file)).toDF("value", "file")

  test("parseBDeck decodes types, drops short rows, pads ragged rows") {
    val lines = Seq(
      bdeck("2022092800", 34),
      bdeck("2022092806", 34, vmax = 110, mslp = 940),
      "AL, 09, 2022092812,   , BEST,   0, 270N,  825W, 115,  937, HU,  34, NEQ, 140, 120,  70, 130,", // 18 fields, ragged
      "too,short,row")
    val df = AtcfParser.parseBDeck(bdeckDf("bal092022.dat", lines))
    assert(df.count() == 3)
    val r = df.orderBy("datetime").collect()(0)
    assert(r.getAs[java.time.LocalDateTime]("datetime")
      == java.time.LocalDateTime.parse("2022-09-28T00:00"))
    assert(r.getAs[Double]("lat") == 26.8)
    assert(r.getAs[Double]("lon") == -82.3)
    assert(r.getAs[Double]("vmax") == 105.0)
    assert(r.getAs[String]("stormname") == "IAN")
    // ragged row: missing tail columns land as nulls
    val ragged = df.filter(col("datetime") ===
      lit("2022-09-28 12:00:00").cast("timestamp_ntz")).collect()(0)
    assert(ragged.isNullAt(ragged.fieldIndex("stormname")))
  }

  test("stormSummaries reproduces toStormDict (atcf.py:289-337)") {
    val lines = Seq(bdeck("2022092800", 34, vmax = 75),
      bdeck("2022092806", 34, vmax = 105),
      bdeck("2022092812", 34, vmax = 90))
    val s = AtcfParser.stormSummaries(
      AtcfParser.parseBDeck(bdeckDf("bal092022.dat", lines))).collect()(0)
    assert(s.getAs[String]("nhc_id") == "AL092022")
    assert(s.getAs[Int]("nhc_number") == 9)
    assert(s.getAs[Int]("season") == 2022)
    assert(s.getAs[String]("name") == "HU-Ian") // peak 105 kts -> HU
    assert(s.getAs[java.time.LocalDateTime]("start_date")
      == java.time.LocalDateTime.parse("2022-09-28T00:00"))
    assert(s.getAs[java.time.LocalDateTime]("end_date")
      == java.time.LocalDateTime.parse("2022-09-28T12:00"))
    assert(s.getAs[Double]("start_lat") == 26.8)
  }

  test("invest naming uses org + number + subregion (atcf.py:315-317)") {
    val lines = Seq(bdeck("2022092800", 34, snum = 91, name = "INVEST"))
    val s = AtcfParser.stormSummaries(
      AtcfParser.parseBDeck(bdeckDf("bal912022.dat", lines))).collect()(0)
    assert(s.getAs[String]("name") == "NHC-91A")
    assert(s.getAs[String]("nhc_id") == "AL912022")
  }

  test("observations pivots radii per datetime (atcf.py:340-385)") {
    val lines = Seq(
      bdeck("2022092800", 34), bdeck("2022092800", 50), bdeck("2022092800", 64),
      bdeck("2022092806", 34))
    val obs = AtcfParser.observations(
      AtcfParser.parseBDeck(bdeckDf("bal092022.dat", lines)))
      .orderBy("datetime_utc").collect()
    assert(obs.length == 2)
    val o = obs(0)
    assert(o.getAs[Int]("r34_ne") == 140 && o.getAs[Int]("r64_nw") == 130)
    assert(o.getAs[Double]("intensity_kts") == 105.0)
    assert(o.getAs[Double]("mslp_mb") == 947.0)
    assert(o.getAs[Double]("pouter_mb") == 1008.0)
    // second datetime has only r34 rows -> r50/r64 null
    assert(obs(1).isNullAt(obs(1).fieldIndex("r50_ne")))
  }

  test("forecastSteps groups per (init, model, tau) (atcf_forecasts.py:119-131)") {
    val lines = Seq(
      adeck("2022092800", "OFCL", 12, 34), adeck("2022092800", "OFCL", 12, 50),
      adeck("2022092800", "OFCL", 24, 34), adeck("2022092800", "HWRF", 12, 34))
    val steps = AtcfParser.forecastSteps(
      AtcfParser.parseADeck(bdeckDf("aal092022.dat", lines)))
    assert(steps.count() == 3)
    val r = steps.filter(col("model") === "OFCL" && col("hour") === 12).collect()(0)
    assert(r.getAs[Double]("latitude") == 27.1)
    assert(r.getAs[String]("region") == "AL")
    assert(r.getAs[Int]("nhc_number") == 9)
  }

  test("forecastSteps folds negative taus into one null-hour step; the largest tau wins") {
    // CARQ carries two negative taus per init; both validate to a null
    // hour, so they share one natural key and must land as one step
    val lines = Seq(
      adeck("2022092800", "CARQ", -12, 34, lat = "250N"),
      adeck("2022092800", "CARQ", -12, 50, lat = "251N"),
      adeck("2022092800", "CARQ", -6, 50, lat = "262N"),
      adeck("2022092800", "CARQ", -6, 34, lat = "261N"),
      adeck("2022092800", "CARQ", 0, 34, lat = "270N"))
    val steps = AtcfParser.forecastSteps(
      AtcfParser.parseADeck(bdeckDf("aal092022.dat", lines)))
      .orderBy(col("hour").asc_nulls_first).collect()
    assert(steps.map(r => Option(r.getAs[Integer]("hour")).map(_.intValue)).toSeq
      == Seq(None, Some(0)))
    // tau -6 beats -12, and its 34-kt row beats its 50-kt row
    assert(steps(0).getAs[Double]("latitude") == 26.1)
    assert(steps(1).getAs[Double]("latitude") == 27.0)
  }

  test("rejectedLines surfaces dropped ragged rows (atcf.py:245-246)") {
    val lines = bdeckDf("bal092022.dat",
      Seq(bdeck("2022092800", 34), "too,short,row", "also short"))
    val rejects = AtcfParser.rejectedLines(lines).collect()
    assert(rejects.length == 2)
    assert(rejects.map(_.getAs[Int]("n_fields")).sorted.toSeq == Seq(1, 3))
    // parsed + rejected partition the input exactly
    assert(AtcfParser.parseBDeck(lines).count() + rejects.length == 3)
  }

  test("tcvitals sentinel NAs become null (download_parse_tcvitals.py:35)") {
    val line = "NHC  91L INVEST    20220928 0000 268N  823W 270 05 1008 1012 -999 25 -99 -999 -999 -999 -999 S"
    val df = AtcfParser.parseTcvitals(Seq(line).toDF("value"))
    val r = df.collect()(0)
    assert(r.getAs[String]("org") == "NHC")
    assert(r.isNullAt(r.fieldIndex("roci_km")))   // -999
    assert(r.isNullAt(r.fieldIndex("rmw_km")))    // -99
  }

  test("gzip decks parse transparently (S4)") {
    val dir = java.nio.file.Files.createTempDirectory("gz")
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(dir.resolve("bal092022.dat.gz").toFile))
    gz.write(Seq(bdeck("2022092800", 34), bdeck("2022092806", 34))
      .mkString("\n").getBytes)
    gz.close()
    val df = AtcfParser.parseBDeck(
      AtcfParser.readDeckLines(spark, dir.toString))
    assert(df.count() == 2)
    assert(df.select("file").distinct().collect()(0).getString(0)
      == "bal092022.dat.gz")
  }

  test("containsDate probes for an init time (P9)") {
    val lines = Seq(bdeck("2022092800", 34), bdeck("2022092806", 34))
      .map(l => (l, "f")).toDF("value", "file")
    assert(AtcfParser.containsDate(lines,
      java.sql.Timestamp.valueOf("2022-09-28 06:00:00")))
    assert(!AtcfParser.containsDate(lines,
      java.sql.Timestamp.valueOf("2022-09-29 00:00:00")))
  }
}
