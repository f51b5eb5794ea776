package graft.pipeline

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.parse.Fixtures
import graft.schema.Schemas

/** End-to-end E1/E2 over real files in a temp landing dir (SURVEY.md §5.4). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val now = Timestamp.valueOf("2022-09-28 18:00:00")

  private def tmpDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit(); d
  }

  private def writeLanding(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), lines.mkString("\n").getBytes)

  private val tables = Seq("storms" -> Schemas.storms,
    "observations" -> Schemas.observations, "forecasts" -> Schemas.forecasts,
    "tracks" -> Schemas.tracks, "steps" -> Schemas.steps)

  /** Every row of the five tables, as sorted strings per table. */
  private def dump(store: Store): Seq[Seq[String]] =
    tables.map { case (t, schema) =>
      store.read(t, schema).collect().map(_.toString).sorted.toSeq }

  /** A b-deck and an a-deck landing dir for storm AL09 of 2022 at
    * `dt`, six hours after `prev`, with CARQ, OFCL and a blocked tech. */
  private def landings(prev: String, dt: String): (Path, Path) = {
    val b = tmpDir("landing_b")
    val a = tmpDir("landing_a")
    writeLanding(b, "bal092022.dat", Seq(
      Fixtures.bdeck(prev, 34), Fixtures.bdeck(prev, 50),
      Fixtures.bdeck(dt, 34, vmax = 110, mslp = 940)))
    writeLanding(b, "bal912022.dat", Seq(
      Fixtures.bdeck(prev, 34, snum = 91, name = "INVEST",
        lat = "150N", lon = "400W")))
    writeLanding(a, "aal092022.dat", Seq(
      Fixtures.adeck(prev, "CARQ", -6, 34), Fixtures.adeck(prev, "CARQ", 0, 34),
      Fixtures.adeck(dt, "OFCL", 0, 34), Fixtures.adeck(dt, "OFCL", 12, 34),
      Fixtures.adeck(dt, "OFCL", 12, 50), Fixtures.adeck(dt, "XTRP", 12, 34)))
    (b, a)
  }

  test("E1 bdeck ingest: storms resolved, observations pivoted + upserted") {
    val landing = tmpDir("landing_b")
    val storeDir = tmpDir("store1")
    writeLanding(landing, "bal092022.dat", Seq(
      Fixtures.bdeck("2022092800", 34), Fixtures.bdeck("2022092800", 50),
      Fixtures.bdeck("2022092806", 34, vmax = 110, mslp = 940)))
    writeLanding(landing, "bal912022.dat", Seq(
      Fixtures.bdeck("2022092806", 34, snum = 91, name = "INVEST",
        lat = "150N", lon = "400W")))
    val store = new Store(spark, storeDir.toString)

    Pipelines.runBdeck(spark, landing.toString, store, now)

    val storms = store.read("storms", Schemas.storms).orderBy("nhc_number")
      .collect()
    assert(storms.map(_.getAs[String]("nhc_id")).toSeq
      == Seq("AL092022", "AL912022"))
    assert(storms.map(_.getAs[Int]("annual_id")).toSeq == Seq(1, 2))
    assert(storms.forall(_.getAs[String]("status") == "Active"))

    val obs = store.read("observations", Schemas.observations)
    assert(obs.count() == 3) // two datetimes for IAN + one for invest
    val o = obs.filter(col("nhc_id") === "AL092022" &&
      col("datetime_utc") === Timestamp.valueOf("2022-09-28 00:00:00"))
      .collect()(0)
    assert(o.getAs[Int]("r50_ne") == 140)
    assert(o.getAs[Double]("intensity_kts") == 105.0)

    // re-run is idempotent (T5)
    Pipelines.runBdeck(spark, landing.toString, store, now)
    assert(store.read("storms", Schemas.storms).count() == 2)
    assert(store.read("observations", Schemas.observations).count() == 3)

    // incremental update: newer file extends end_date and adds an obs
    writeLanding(landing, "bal092022.dat", Seq(
      Fixtures.bdeck("2022092800", 34), Fixtures.bdeck("2022092800", 50),
      Fixtures.bdeck("2022092806", 34, vmax = 110, mslp = 940),
      Fixtures.bdeck("2022092812", 34, vmax = 120, mslp = 930)))
    Pipelines.runBdeck(spark, landing.toString, store, now)
    val ian = store.read("storms", Schemas.storms)
      .filter(col("nhc_id") === "AL092022").collect()(0)
    assert(ian.getAs[Timestamp]("end_date")
      == Timestamp.valueOf("2022-09-28 12:00:00"))
    assert(store.read("observations", Schemas.observations).count() == 4)
  }

  test("E2 adeck ingest: forecasts -> tracks -> steps with model allowlist") {
    val landingB = tmpDir("landing_b2")
    val landingA = tmpDir("landing_a2")
    val storeDir = tmpDir("store2")
    val store = new Store(spark, storeDir.toString)
    // storms must exist first (file-name inference skips unknown storms)
    writeLanding(landingB, "bal092022.dat", Seq(
      Fixtures.bdeck("2022092800", 34),
      Fixtures.bdeck("2022092812", 34, vmax = 110)))
    Pipelines.runBdeck(spark, landingB.toString, store, now)

    writeLanding(landingA, "aal092022.dat", Seq(
      Fixtures.adeck("2022092812", "OFCL", 0, 34),
      Fixtures.adeck("2022092812", "OFCL", 12, 34),
      Fixtures.adeck("2022092812", "OFCL", 12, 50),
      Fixtures.adeck("2022092812", "HWRF", 12, 34),
      Fixtures.adeck("2022092812", "XTRP", 12, 34),   // not allowlisted
      Fixtures.adeck("2022092000", "OFCL", 12, 34)))  // too old (>48h)
    // unknown storm file is skipped entirely
    writeLanding(landingA, "aal552022.dat", Seq(
      Fixtures.adeck("2022092812", "OFCL", 12, 34)))

    Pipelines.runAdeck(spark, landingA.toString, store, now,
      allowedModels = Seq("OFCL", "HWRF"))

    val fc = store.read("forecasts", Schemas.forecasts).orderBy("model").collect()
    assert(fc.map(_.getAs[String]("model")).toSeq == Seq("HWRF", "OFCL"))
    assert(fc.forall(_.getAs[String]("data_source") == "NHC"))

    val tracks = store.read("tracks", Schemas.tracks)
    assert(tracks.count() == 2)
    assert(tracks.collect().forall(_.getAs[Int]("ensemble_number") == 1))

    val steps = store.read("steps", Schemas.steps)
      .filter(col("model") === "OFCL").orderBy("hour").collect()
    assert(steps.map(_.getAs[Int]("hour")).toSeq == Seq(0, 12))
    assert(steps(1).getAs[Double]("latitude") == 27.1)

    // idempotent re-run
    Pipelines.runAdeck(spark, landingA.toString, store, now,
      allowedModels = Seq("OFCL", "HWRF"))
    assert(store.read("steps", Schemas.steps).count() == 3)
  }

  test("a cron cycle writes the same five tables whether or not its " +
      "frames fit the broadcast threshold") {
    val landingB = tmpDir("cycle_b")
    val landingA = tmpDir("cycle_a")
    writeLanding(landingB, "bal092022.dat", Seq(
      Fixtures.bdeck("2022092800", 34), Fixtures.bdeck("2022092800", 50),
      Fixtures.bdeck("2022092806", 34, vmax = 110, mslp = 940)))
    writeLanding(landingB, "bal912022.dat", Seq(
      Fixtures.bdeck("2022092806", 34, snum = 91, name = "INVEST",
        lat = "150N", lon = "400W")))
    writeLanding(landingA, "aal092022.dat", Seq(
      Fixtures.adeck("2022092806", "CARQ", -12, 34),
      Fixtures.adeck("2022092806", "CARQ", -6, 34),
      Fixtures.adeck("2022092806", "CARQ", 0, 34),
      Fixtures.adeck("2022092812", "OFCL", 0, 34),
      Fixtures.adeck("2022092812", "OFCL", 12, 34),
      Fixtures.adeck("2022092812", "OFCL", 12, 50)))
    // the first cycle creates the tables; the second runs against them
    def cycles(): (Seq[Seq[String]], Int) = {
      val store = new Store(spark, tmpDir("cycle_store").toString)
      def cycle(): Unit = {
        Pipelines.runBdeck(spark, landingB.toString, store, now)
        Pipelines.runAdeck(spark, landingA.toString, store, now,
          allowedModels = Seq("CARQ", "OFCL"))
        Maintenance.archiveStale(store, now)
      }
      cycle()
      val (_, jobs) = graft.JobCount(spark)(cycle())
      (dump(store), jobs)
    }
    val (held, heldJobs) = cycles()
    // at -1 nothing fits: the steps stay lazy and no join broadcasts
    val (unfit, unfitJobs) = TestSpark.withConf(
      "spark.sql.autoBroadcastJoinThreshold", "-1")(cycles())
    tables.map(_._1).zip(held.zip(unfit)).foreach { case (t, (h, u)) =>
      assert(h == u, s"table $t differs between the two thresholds")
    }
    assert(heldJobs < unfitJobs,
      s"cycle ran $heldJobs jobs at the default threshold, $unfitJobs at -1")
    // CARQ's -12 and -6 share the null hour: one step, not two
    assert(held(4).size == 4, held(4).mkString("\n"))
  }

  test("a missing table reads as an empty local relation estimated at 0 " +
      "bytes, and a backfill into an empty store writes the tables it " +
      "writes at threshold -1") {
    val empty = new Store(spark, tmpDir("store_empty").toString)
    tables.foreach { case (t, schema) =>
      Seq(empty.read(t, schema), empty.readAsOf(t, schema, "1")).foreach { df =>
        assert(df.queryExecution.optimizedPlan.stats.sizeInBytes == 0, t)
        assert(df.isEmpty && df.schema == schema, t)
      }
    }
    val (landingB, landingA) = landings("2022092700", "2022092706")
    def backfill(): Seq[Seq[String]] = {
      val store = new Store(spark, tmpDir("store_backfill").toString)
      Pipelines.runBdeck(spark, landingB.toString, store, now)
      Pipelines.runAdeck(spark, landingA.toString, store, now,
        allowedModels = Seq("CARQ", "OFCL"), recencyHours = None)
      dump(store)
    }
    val held = backfill()
    assert(held.forall(_.nonEmpty), held)
    assert(held == TestSpark.withConf(
      "spark.sql.autoBroadcastJoinThreshold", "-1")(backfill()))
  }

  test("a backfill, a cron cycle and archiveStale that fit the threshold " +
      "compile no class and plan no whole-stage codegen; at -1 they " +
      "compile and write the same tables") {
    // a cycle time no other spec uses, so Spark's code cache holds none
    // of the -1 side's classes (timestamp literals are inlined in code)
    val (backfillB, backfillA) = landings("2022100106", "2022100112")
    val (cycleB, cycleA) = landings("2022100112", "2022100118")
    val cycleNow = Timestamp.valueOf("2022-10-01 18:00:00")
    val later = Timestamp.valueOf("2022-10-03 00:00:00")
    def run(): (Seq[Seq[String]], Seq[Seq[String]], Long) = {
      val store = new Store(spark, tmpDir("store_posture").toString)
      val t = graft.Measure.timed(graft.PlanTrace(spark) {
        Pipelines.runBdeck(spark, backfillB.toString, store, cycleNow)
        Pipelines.runAdeck(spark, backfillA.toString, store, cycleNow,
          allowedModels = Seq("CARQ", "OFCL"), recencyHours = None)
        Pipelines.runBdeck(spark, cycleB.toString, store, cycleNow)
        Pipelines.runAdeck(spark, cycleA.toString, store, cycleNow,
          allowedModels = Seq("CARQ", "OFCL"))
        Maintenance.archiveStale(store, later)
      })
      (dump(store), t.value._2.map(_._2), t.compiles)
    }
    // Spark generates three classes here whatever the posture, each cached
    // for the JVM: the text reader's row projection, and a partial
    // aggregate's key-and-buffer row joiner for stormSummaries'
    // (string, string | bigint) and archiveStale's (string | timestamp)
    // shapes. A first run caches them
    val (_, _, firstCompiles) = run()
    assert(firstCompiles <= 3)
    val (held, heldPlans, heldCompiles) = run()
    assert(heldCompiles == 0)
    assert(heldPlans.nonEmpty && !graft.PlanTrace.codegen(heldPlans),
      heldPlans.flatten.distinct)
    val (unfit, unfitPlans, unfitCompiles) = TestSpark.withConf(
      "spark.sql.autoBroadcastJoinThreshold", "-1")(run())
    assert(unfitCompiles > 0)
    assert(graft.PlanTrace.codegen(unfitPlans))
    info(s"Janino compiles: $heldCompiles within the threshold, $unfitCompiles at -1")
    tables.map(_._1).zip(held.zip(unfit)).foreach { case (t, (h, u)) =>
      assert(h == u, s"table $t differs between the two thresholds")
    }
    assert(held.head.exists(_.contains("Archive")), held.head)
  }

  test("a streaming a-deck micro-batch that fits the threshold compiles no " +
      "class beyond the stream's own scan and plans no whole-stage codegen " +
      "in its ingest; at -1 it compiles and writes the same tables") {
    val cycleNow = Timestamp.valueOf("2022-10-05 18:00:00")
    // (the five tables, the plans the ingest ran, Janino compiles)
    def run(): (Seq[Seq[String]], Seq[(String, Seq[String])], Long) = {
      val (landingB, landingA) = landings("2022100506", "2022100512")
      val store = new Store(spark, tmpDir("store_stream").toString)
      Pipelines.runBdeck(spark, landingB.toString, store, cycleNow)
      val t = graft.Measure.timed(graft.PlanTrace(spark) {
        graft.streaming.StreamingIngest.adeckStream(spark, landingA.toString,
          store, tmpDir("stream_ck").toString, () => cycleNow,
          Seq("CARQ", "OFCL"), recencyHours = None).awaitTermination(60000)
      })
      (dump(store), t.value._2, t.compiles)
    }
    // The stream engine plans and runs the micro-batch's text scan itself,
    // before the batch reaches the ingest, so that one plan keeps codegen.
    // Its classes compile again on every query start, so a stream whose
    // batches are only materialized, under the posture, is the baseline
    def bare(): Long = {
      val (_, landingA) = landings("2022100506", "2022100512")
      graft.Measure.timed(spark.readStream.textFile(landingA.toString)
        .toDF("value")
        .withColumn("file", regexp_extract(input_file_name(), "([^/]+)$", 1))
        .writeStream.option("checkpointLocation", tmpDir("bare_ck").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          Checkpoints.interpretedIfFits(batch)(
            batch.transform(Checkpoints.stable).isEmpty); ()
        }.start().awaitTermination(60000)).compiles
    }
    def ingestPlans(plans: Seq[(String, Seq[String])]) =
      plans.filterNot(_._2.exists(_.startsWith("Scan text"))).map(_._2)
    run()
    bare()
    val baseline = bare()
    val (held, heldPlans, heldCompiles) = run()
    info(s"Janino compiles: $heldCompiles in the ingest's stream, " +
      s"$baseline in one that only materializes its batch")
    assert(heldCompiles == baseline)
    assert(ingestPlans(heldPlans).nonEmpty &&
      !graft.PlanTrace.codegen(ingestPlans(heldPlans)),
      heldPlans.map(p => p._2.mkString(" / ")).mkString("\n"))
    val (unfit, unfitPlans, unfitCompiles) = TestSpark.withConf(
      "spark.sql.autoBroadcastJoinThreshold", "-1")(run())
    assert(unfitCompiles > 0)
    assert(graft.PlanTrace.codegen(ingestPlans(unfitPlans)))
    assert(held.forall(_.nonEmpty) && held == unfit)
  }

  test("store layout gives partition pruning on (region, season) predicates") {
    val storeDir = tmpDir("store_prune")
    val store = new Store(spark, storeDir.toString)
    import spark.implicits._
    val storms = Seq(
      ("AL092022", "AL", 2022, "Ian"), ("AL012021", "AL", 2021, "Ana"),
      ("EP052022", "EP", 2022, "Estelle"))
      .toDF("nhc_id", "region", "season", "name")
    store.write("storms_p", storms)
    val pruned = spark.read.parquet(store.path("storms_p"))
      .filter(col("region") === "AL" && col("season") === 2022)
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: ["), s"no partition filters in:\n$plan")
    assert(plan.contains("region") && plan.contains("season"),
      s"partition predicates not pushed to directory pruning in:\n$plan")
    // the pruned scan must not read the 2021/EP directories
    val files = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty &&
      files.forall(f => f.contains("region=AL") && f.contains("season=2022")),
      s"scan read non-matching partitions: ${files.mkString(", ")}")
  }

  test("dim-filtered join triggers DYNAMIC partition pruning on the fact scan") {
    // the flagship 100 TB star-join read path: the region predicate
    // lives on the DIM side, so static pruning can't touch the fact
    // scan — the runtime dynamicpruning subquery (fed by the broadcast)
    // must prune the (region=...) directories instead
    val storeDir = tmpDir("store_dpp")
    val store = new Store(spark, storeDir.toString)
    import spark.implicits._
    val fact = (1 to 300).map(i =>
      (s"ID$i", Seq("AL", "EP", "WP")(i % 3), 2020 + (i % 2), i.toDouble))
      .toDF("nhc_id", "region", "season", "v")
    store.write("fact_dpp", fact)
    // the dim must be a FILE-backed scan: a LocalRelation's filter
    // constant-folds away before the PartitionPruning rule looks for a
    // selective predicate over a scan, and no DPP is ever inserted
    Seq(("AL", "Atlantic"), ("EP", "EastPac"), ("WP", "WestPac"))
      .toDF("region", "basin")
      .write.mode("overwrite").parquet(s"$storeDir/dim_dpp")
    val dim = spark.read.parquet(s"$storeDir/dim_dpp")
    val q = spark.read.parquet(store.path("fact_dpp"))
      .join(broadcast(dim.filter(col("basin") === "Atlantic")), "region")
      .agg(org.apache.spark.sql.functions.sum("v"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning in:\n$plan")
  }

  test("maintenance: archive stale storms, expire old invests with cascade") {
    val landing = tmpDir("landing_m")
    val storeDir = tmpDir("store_m")
    val store = new Store(spark, storeDir.toString)
    writeLanding(landing, "bal092022.dat", Seq(
      Fixtures.bdeck("2022092800", 34), Fixtures.bdeck("2022092812", 34)))
    writeLanding(landing, "bal912022.dat", Seq(
      Fixtures.bdeck("2022092806", 34, snum = 91, name = "INVEST",
        lat = "150N", lon = "400W")))
    Pipelines.runBdeck(spark, landing.toString, store, now)
    assert(store.read("storms", Schemas.storms).count() == 2)

    // a day later: both stale -> archived
    val later = Timestamp.valueOf("2022-09-30 00:00:00")
    Maintenance.archiveStale(store, later, hours = 24)
    val statuses = store.read("storms", Schemas.storms)
      .collect().map(r => r.getAs[String]("nhc_id") -> r.getAs[String]("status")).toMap
    assert(statuses.values.forall(_ == "Archive"))

    // 31 days later: the invest expires, its observations cascade away
    val muchLater = Timestamp.valueOf("2022-10-29 00:00:00")
    Maintenance.expireInvests(store, muchLater, days = 30)
    val ids = store.read("storms", Schemas.storms)
      .collect().map(_.getAs[String]("nhc_id")).toSet
    assert(ids == Set("AL092022")) // named storm kept
    val obsIds = store.read("observations", Schemas.observations)
      .select("nhc_id").distinct().collect().map(_.getString(0)).toSet
    assert(obsIds == Set("AL092022"))
  }
}
