package graft.resolve

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCount, TestSpark}
import graft.schema.Schemas

/** FIXTURES.md §5 entity-resolution scenarios, each run twice: with the
  * default broadcast threshold and at -1, which plans the joins between
  * the driver-held seams as sort-merge joins. */
class StormResolverSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val now = Timestamp.valueOf("2022-09-28 18:00:00")
  private def ts(s: String) = Timestamp.valueOf(s)

  private def summary(region: String, num: Int, nhcId: String,
      start: String, end: String, name: String,
      lat: Double = 26.8, lon: Double = -82.3, season: Int = 2022): DataFrame =
    Seq((region, num, nhcId, season, ts(start), ts(end), name, lat, lon))
      .toDF("region", "nhc_number", "nhc_id", "season", "start_date",
        "end_date", "name", "start_lat", "start_lon")

  private def storm(region: String, num: Int, nhcId: String, start: String,
      end: String, name: String, annual: Integer = 1, lat: Double = 26.8,
      lon: Double = -82.3, status: String = "Active",
      runId: String = "old"): DataFrame =
    // RDD-backed, as a store read of a missing table is: no size estimate
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(
        annual, region, num, nhcId, 2022: Integer, ts(start), ts(end),
        status, name, lat, lon, runId, null))),
      Schemas.storms)

  private val empty = spark.createDataFrame(
    spark.sparkContext.emptyRDD[Row], Schemas.storms)

  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  /** Resolve at the default broadcast threshold and again at -1; both
    * must hold every seam on the driver and give the same table. Returns
    * its rows. */
  private def resolve(existing: DataFrame, batch: DataFrame,
      runId: String): Array[Row] = {
    def run() = {
      val df = StormResolver.resolve(existing, batch, now, runId)
      assert(onDriver(df), "every seam must be held on the driver")
      df.collect()
    }
    val rows = run()
    val sortMerged = TestSpark.withConf(
      "spark.sql.autoBroadcastJoinThreshold", "-1")(run())
    assert(rows.map(_.toString).sorted.toSeq ==
      sortMerged.map(_.toString).sorted.toSeq)
    rows
  }

  test("new named storm inserts with annual_id 1 and Active status") {
    val out = resolve(empty,
      summary("AL", 9, "AL092022", "2022-09-28 00:00:00",
        "2022-09-28 12:00:00", "HU-Ian"), "r1")
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Int]("annual_id") == 1)
    assert(r.getAs[String]("status") == "Active") // 6h old <= 16h
    assert(r.getAs[String]("run_id") == "r1")
  }

  test("named storm update wins; end_date regression rejected (T6)") {
    val existing = storm("AL", 9, "AL092022", "2022-09-28 00:00:00",
      "2022-09-28 12:00:00", "HU-Ian", 3)
    // newer end -> update applied
    val updated = resolve(existing,
      summary("AL", 9, "AL092022", "2022-09-28 00:00:00",
        "2022-09-28 18:00:00", "HU-Ian"), "r2")(0)
    assert(updated.getAs[Timestamp]("end_date") == ts("2022-09-28 18:00:00"))
    assert(updated.getAs[Int]("annual_id") == 3) // preserved
    assert(updated.getAs[String]("run_id") == "r2")
    // older end -> rejected, run_id untouched
    val kept = resolve(existing,
      summary("AL", 9, "AL092022", "2022-09-28 00:00:00",
        "2022-09-28 06:00:00", "HU-Ian"), "r3")(0)
    assert(kept.getAs[Timestamp]("end_date") == ts("2022-09-28 12:00:00"))
    assert(kept.getAs[String]("run_id") == "old")
  }

  test("unchanged update keeps old run_id") {
    val existing = storm("AL", 9, "AL092022", "2022-09-28 00:00:00",
      "2022-09-28 12:00:00", "HU-Ian")
    val out = resolve(existing,
      summary("AL", 9, "AL092022", "2022-09-28 00:00:00",
        "2022-09-28 12:00:00", "HU-Ian"), "r9")(0)
    assert(out.getAs[String]("run_id") == "old")
  }

  test("named storm claims prior invest (transition, process_storms.py:145-164)") {
    val invest = storm("AL", 91, "AL912022", "2022-09-28 00:00:00",
      "2022-09-28 06:00:00", "NHC-91A", 5)
    val out = resolve(invest,
      summary("AL", 9, "AL092022", "2022-09-28 00:00:00",
        "2022-09-28 12:00:00", "HU-Ian", lat = 27.0, lon = -82.0), "r2")
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[String]("nhc_id") == "AL092022") // identity replaced
    assert(r.getAs[String]("name") == "HU-Ian")
    assert(r.getAs[Int]("annual_id") == 5) // invest's annual id kept
  }

  test("multi-candidate invest claim requires 100nm; nearest wins") {
    val far = storm("AL", 91, "AL912022", "2022-09-28 00:00:00",
      "2022-09-28 06:00:00", "NHC-91A", 5, lat = 40.0, lon = -60.0)
    val near = storm("AL", 92, "AL922022", "2022-09-28 00:00:00",
      "2022-09-28 06:00:00", "NHC-92A", 6, lat = 26.9, lon = -82.4)
    val out = resolve(far.union(near),
      summary("AL", 9, "AL092022", "2022-09-28 00:00:00",
        "2022-09-28 12:00:00", "HU-Ian"), "r2")
      .sortBy(_.getAs[String]("nhc_id"))
    // near invest replaced; far invest untouched
    assert(out.map(_.getAs[String]("nhc_id")).toSeq == Seq("AL092022", "AL912022"))
    assert(out(0).getAs[Int]("annual_id") == 6)
  }

  test("stale invest (>24h) is ignored (process_storms.py:79-81)") {
    val out = resolve(empty,
      summary("AL", 91, "AL912022", "2022-09-26 00:00:00",
        "2022-09-27 12:00:00", "NHC-91A"), "r1")
    assert(out.isEmpty)
  }

  test("invest skipped when a named storm matches (already transitioned)") {
    val named = storm("AL", 9, "AL092022", "2022-09-28 00:00:00",
      "2022-09-28 12:00:00", "HU-Ian")
    val out = resolve(named,
      summary("AL", 91, "AL912022", "2022-09-28 00:00:00",
        "2022-09-28 12:00:00", "NHC-91A"), "r2")
    assert(out.length == 1 && out(0).getAs[String]("nhc_id") == "AL092022")
  }

  test("same-batch transition: named processed before invest") {
    val both = summary("AL", 9, "AL092022", "2022-09-28 00:00:00",
      "2022-09-28 12:00:00", "HU-Ian")
      .union(summary("AL", 91, "AL912022", "2022-09-28 00:00:00",
        "2022-09-28 12:00:00", "NHC-91A"))
    val out = resolve(empty, both, "r1")
    assert(out.length == 1 && out(0).getAs[String]("nhc_id") == "AL092022")
  }

  test("invest re-observed updates within 24h start drift (process_storms.py:104-117)") {
    val existing = storm("AL", 91, "AL912022", "2022-09-28 00:00:00",
      "2022-09-28 06:00:00", "NHC-91A", 4)
    val out = resolve(existing,
      summary("AL", 91, "AL912022", "2022-09-28 06:00:00",
        "2022-09-28 12:00:00", "NHC-91A"), "r2")
    assert(out.length == 1)
    assert(out(0).getAs[Timestamp]("start_date") == ts("2022-09-28 06:00:00"))
    assert(out(0).getAs[Int]("annual_id") == 4)
  }

  test("invest with >24h start drift becomes a new storm") {
    val existing = storm("AL", 91, "AL912022", "2022-09-20 00:00:00",
      "2022-09-28 12:00:00", "NHC-91A", 4)
    val out = resolve(existing,
      summary("AL", 91, "AL912022", "2022-09-28 06:00:00",
        "2022-09-28 12:00:00", "NHC-91A"), "r2")
    // the reference would insert a second row with the same nhc_id; our
    // store is keyed by nhc_id so the incoming row replaces it — assert
    // the incoming start_date won
    assert(out.length == 1)
    assert(out(0).getAs[Timestamp]("start_date") == ts("2022-09-28 06:00:00"))
  }

  private lazy val mixedStore = storm("AL", 5, "AL052022",
    "2022-09-01 00:00:00", "2022-09-05 12:00:00", "TS-Old", 7)
  private lazy val mixedBatch = summary("AL", 9, "AL092022",
    "2022-09-28 00:00:00", "2022-09-28 12:00:00", "HU-Ian", lat = 10.0,
    lon = -40.0)
    .union(summary("AL", 91, "AL912022", "2022-09-28 06:00:00",
      "2022-09-28 12:00:00", "NHC-91A", lat = 20.0, lon = -60.0))

  test("annual ids: max+1 per (season, region), named before invests (A11)") {
    val out = resolve(mixedStore, mixedBatch, "r1")
      .sortBy(_.getAs[Int]("nhc_number"))
    assert(out.map(r => (r.getAs[Int]("nhc_number"), r.getAs[Int]("annual_id"))).toSeq
      == Seq((5, 7), (9, 8), (91, 9)))
  }

  test("driver-held seams cap the jobs of a resolve over a tiny batch") {
    // both phases run (a named storm and a live invest against a stored
    // storm); the count covers the seams and the final table's collect.
    // At threshold -1 the same seams join without broadcasts, which costs
    // shuffle jobs: the pin must sit below that.
    def jobs() = JobCount(spark)(
      StormResolver.resolve(mixedStore, mixedBatch, now, "r1").collect())._2
    val held = jobs()
    val unbroadcast = TestSpark.withConf(
      "spark.sql.autoBroadcastJoinThreshold", "-1")(jobs())
    assert(held <= 19 && held < unbroadcast,
      s"$held jobs held, $unbroadcast without broadcasts")
  }
}
