package graft.analytics

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.datasets.StormDataset
import graft.parse.Fixtures
import graft.pipeline.{Pipelines, Store}

/** The db SQL files analytics surface over a store built by the real E1/E2
  * pipelines — the automated version of the reference's manual
  * sql_export.py golden-output workflow (SURVEY.md §5). */
class ReferenceQueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val now = Timestamp.valueOf("2022-09-28 18:00:00")

  private lazy val store: Store = newStore()

  /** A store built by the E1/E2 pipelines over one b-deck and one a-deck
    * file of AL09 2022, in a fresh directory. */
  private def newStore(): Store = {
    val landingB = Files.createTempDirectory("rq_b")
    val landingA = Files.createTempDirectory("rq_a")
    val storeDir = Files.createTempDirectory("rq_store")
    Files.write(landingB.resolve("bal092022.dat"),
      Seq(Fixtures.bdeck("2022092800", 34),
        Fixtures.bdeck("2022092812", 34, vmax = 110))
        .mkString("\n").getBytes)
    Files.write(landingA.resolve("aal092022.dat"),
      Seq(Fixtures.adeck("2022092812", "OFCL", 0, 34),
        Fixtures.adeck("2022092812", "OFCL", 12, 34),
        Fixtures.adeck("2022092812", "HWRF", 12, 34),
        Fixtures.adeck("2022092812", "HWRF", 24, 34))
        .mkString("\n").getBytes)
    val s = new Store(spark, storeDir.toString)
    Pipelines.runBdeck(spark, landingB.toString, s, now)
    Pipelines.runAdeck(spark, landingA.toString, s, now,
      graft.schema.Seeds.modelAllowlist)
    s
  }

  test("basin_model_counts: tracks per model, count desc") {
    val out = ReferenceQueries.basinModelCounts(spark, store, "AL").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq(("HWRF", 1L), ("OFCL", 1L)))
  }

  test("basin_track_counts_by_model + model_counts_by_basin") {
    val byModel = ReferenceQueries
      .basinTrackCountsByModel(spark, store, "AL").collect()
    assert(byModel.map(_.getString(0)).toSet == Set("OFCL", "HWRF"))
    val byBasin = ReferenceQueries
      .modelCountsByBasin(spark, store, "HWRF").collect()
    assert(byBasin.map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq(("AL", 1L)))
  }

  test("storm_track_counts_by_model joins storm names") {
    val out = ReferenceQueries
      .stormTrackCountsByModel(spark, store, "AL").collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq
      == Seq(("HU-Ian", "HWRF"), ("HU-Ian", "OFCL")))
  }

  test("storm_track_counts_by_model orders same-numbered storms of two seasons by name") {
    // AL01 of 2022 and of 2023 tie on (nhc_number, n_tracks, model)
    val landingB = Files.createTempDirectory("rq2_b")
    val landingA = Files.createTempDirectory("rq2_a")
    Seq("2022" -> "ZETA", "2023" -> "ALEX").foreach { case (season, name) =>
      Files.write(landingB.resolve(s"bal01$season.dat"),
        Fixtures.bdeck(s"${season}092800", 34, snum = 1, name = name).getBytes)
      Files.write(landingA.resolve(s"aal01$season.dat"),
        Fixtures.adeck(s"${season}092800", "OFCL", 0, 34).getBytes)
    }
    val s = new Store(spark, Files.createTempDirectory("rq2_store").toString)
    Pipelines.runBdeck(spark, landingB.toString, s, now)
    Pipelines.runAdeck(spark, landingA.toString, s, now, Seq("OFCL"),
      recencyHours = None)
    val out = ReferenceQueries.stormTrackCountsByModel(spark, s, "AL").collect()
    assert(out.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      == Seq(("HU-Alex", "OFCL", 1L), ("HU-Zeta", "OFCL", 1L)))
  }

  test("track extraction: per-step rows filtered by init and model") {
    val out = ReferenceQueries.trackExtraction(spark, store, "AL092022",
      init = Some(Timestamp.valueOf("2022-09-28 12:00:00")),
      model = Some("OFCL")).collect()
    assert(out.map(_.getAs[Int]("hour")).toSeq == Seq(0, 12))
    assert(out.forall(_.getAs[String]("name") == "HU-Ian"))
    assert(out.forall(_.getAs[Int]("annual_id") == 1))
  }

  private def held(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("every read returns the same rows held on the driver on its first " +
      "run at the default threshold, lazy on a repeat, and lazy at -1") {
    // (whether the frame is held, its rows), collected at the threshold
    def reads(store: Store): Seq[(String, (Boolean, Seq[String]))] = {
      val ds = StormDataset.assemble(spark, store, "AL092022")
      Seq(
        "basinModelCounts" -> ReferenceQueries.basinModelCounts(spark, store, "AL"),
        "basinTrackCountsByModel" ->
          ReferenceQueries.basinTrackCountsByModel(spark, store, "AL"),
        "modelCountsByBasin" ->
          ReferenceQueries.modelCountsByBasin(spark, store, "HWRF"),
        "stormTrackCountsByModel" ->
          ReferenceQueries.stormTrackCountsByModel(spark, store, "AL"),
        "trackExtraction" ->
          ReferenceQueries.trackExtraction(spark, store, "AL092022"),
        "assemble.storm" -> ds.storm,
        "assemble.forecastTable" -> ds.forecastTable,
        "assemble.obsTable" -> ds.obsTable,
        "sql" -> SqlSurface.sql(spark, store,
          """SELECT s.status, count(*) AS n FROM storms s JOIN observations o
            |ON s.nhc_id = o.nhc_id AND s.start_date = o.start_date
            |GROUP BY s.status ORDER BY s.status""".stripMargin))
        .map { case (name, df) => name -> (held(df), rows(df)) }
    }
    // a store no other test has read, so every query is new to the session
    val fresh = newStore()
    val first = reads(fresh)
    val repeat = reads(fresh)
    val atMinus1 = TestSpark.withConf(
      "spark.sql.autoBroadcastJoinThreshold", "-1")(reads(newStore()))
    first.zip(repeat).zip(atMinus1).foreach {
      case (((name, (h, r)), (_, (rh, rr))), (_, (l, lr))) =>
        assert(h && !rh && !l,
          s"$name: held $h on the first run, $rh on a repeat, $l at -1")
        assert(r.nonEmpty && r == rr && r == lr, s"$name: $r vs $rr vs $lr")
    }
  }

  test("a SqlSurface result over the row cap comes back lazy with the " +
      "same rows") {
    // 256 KiB holds the store's tables, and at most 9,362 rows of
    // (string, bigint), whose defaultSize is 28 bytes
    // over eight partitions, each of them under the cap
    def cross(n: Int) = SqlSurface.sql(spark, store,
      s"SELECT s.nhc_id, r.id FROM storms s CROSS JOIN range(0, $n, 1, 8) r")
    val (over, under) = TestSpark.withConf(
      "spark.sql.autoBroadcastJoinThreshold", (256 * 1024).toString) {
      val o = cross(20000)
      val u = cross(9000)
      (held(o) -> rows(o), held(u) -> rows(u))
    }
    assert(!over._1 && under._1)
    assert(over._2.size == 20000)
    assert(over._2 == TestSpark.withConf(
      "spark.sql.autoBroadcastJoinThreshold", "-1")(rows(cross(20000))))
    assert(under._2 == rows(cross(9000)))
  }

  test("dimension seeds match the reference DDL") {
    assert(graft.schema.Seeds.regions(spark).count() == 6)
    assert(graft.schema.Seeds.dataSources(spark).count() == 5)
    assert(graft.schema.Seeds.modelAllowlist.length == 23)
  }
}
