package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.merge.Merge
import graft.parse.AtcfParser
import graft.resolve.StormResolver
import graft.schema.Schemas

/** End-to-end batch pipelines — the Spark rewrite of the reference's
  * cron entry points (SURVEY.md §3 E1/E2).
  *
  * Each run is one declarative job: parse the landing directory once,
  * derive all frames, MERGE into the store in dependency order. The
  * reference's per-file/per-row DB round-trips become joins; its
  * `session.flush()` surrogate-id choreography disappears because every
  * table is keyed by its natural key (SURVEY.md §7.3).
  *
  * A cycle whose landing lines and the store tables it reads fit the
  * broadcast threshold runs without code generation
  * ([[Checkpoints.interpretedIfFits]]): a cron cycle's few thousand lines
  * cost less to interpret than to compile. Larger inputs keep Spark's
  * code generation. The analyst reads take the same posture
  * ([[Checkpoints.localInterpretedIfFits]]), so the Janino warm-up does
  * not move into them. Each cycle reads its tables once, up front, and
  * the size check reuses those frames.
  */
object Pipelines {

  def runId(job: String, now: Timestamp): String =
    s"${job}__${now.toInstant}"

  /** E1 — b-deck ingest: storms resolution + observation upsert
    * (tcdb/pipeline/bdeck.py:127-237, etl/process_storms.py,
    * etl/process_obs.py). */
  def runBdeck(spark: SparkSession, landing: String, store: Store,
      now: Timestamp): Unit = {
    val lines = AtcfParser.readDeckLines(spark, landing)
    val existing = store.read("storms", Schemas.storms)
    val observations = store.read("observations", Schemas.observations)
    Checkpoints.interpretedIfFits(lines, existing, observations)(
      bdeckCycle(lines, existing, observations, store, now))
  }

  private def bdeckCycle(lines: DataFrame, existing: DataFrame,
      observations: DataFrame, store: Store, now: Timestamp): Unit = {
    val rid = runId("STORMS", now)
    val bdeck = AtcfParser.parseBDeck(lines)

    // one row per landed file: held on the driver once and shared by the
    // resolver and the observations' file keys
    val summaries = Checkpoints.toLocal(AtcfParser.stormSummaries(bdeck))
    val storms = StormResolver.resolve(existing, summaries, now, rid)
      .withColumn("last_update", lit(now))
    store.write("storms", storms)

    // observations: associate each file's obs with its storm via the
    // summary's (nhc_id, start_date); files with no resolved storm are
    // skipped (process_obs.py:62-66)
    val obsRid = runId("OBS", now)
    val fileKeys = summaries.select(col("file"), col("nhc_id"), col("start_date"))
    val stormKeys = store.read("storms", Schemas.storms)
      .select(col("nhc_id"), col("start_date"))
    val incoming = AtcfParser.observations(bdeck)
      .join(fileKeys, Seq("file"))
      .join(stormKeys, Seq("nhc_id", "start_date"), "left_semi")
      .drop("file")
      .withColumn("run_id", lit(obsRid))
    val merged = Merge.upsert(observations,
      incoming.select(Schemas.observations.fieldNames.map(col).toIndexedSeq: _*),
      keys = Seq("nhc_id", "start_date", "datetime_utc"))
    store.write("observations", merged)
  }

  /** E2 — a-deck ingest: forecasts → tracks → steps MERGEs
    * (tcdb/pipeline/adeck.py:174-277, etl/atcf_forecasts.py:25-141). */
  def runAdeck(spark: SparkSession, landing: String, store: Store,
      now: Timestamp, allowedModels: Seq[String],
      recencyHours: Option[Int] = Some(48)): Unit =
    runAdeckLines(AtcfParser.readDeckLines(spark, landing), store, now,
      allowedModels, recencyHours)

  /** E2 core over pre-read (file, value) lines, shared by the batch
    * entry point above and [[runAdeckBatch]]. */
  def runAdeckLines(lines: DataFrame, store: Store,
      now: Timestamp, allowedModels: Seq[String],
      recencyHours: Option[Int] = Some(48)): Unit =
    gatedAdeck(lines, store)(adeckCycle(lines, _, _, _, _, store, now,
      allowedModels, recencyHours))

  /** E2 over one streaming micro-batch (StreamingIngest.adeckStream):
    * `batch` is materialized distributed and lineage-truncated
    * ([[Checkpoints.stable]]) and, unless empty, ingested at `now()`. The
    * materialization takes the cycle's posture too. */
  def runAdeckBatch(batch: DataFrame, store: Store, now: () => Timestamp,
      allowedModels: Seq[String], recencyHours: Option[Int]): Unit =
    gatedAdeck(batch, store) { (storms, forecasts, tracks, steps) =>
      val lines = batch.transform(Checkpoints.stable)
      if (!lines.isEmpty) adeckCycle(lines, storms, forecasts, tracks, steps,
        store, now(), allowedModels, recencyHours)
    }

  /** `cycle` over the four store tables an a-deck cycle reads, each read
    * once, under [[Checkpoints.interpretedIfFits]] of `lines` and them. */
  private def gatedAdeck(lines: DataFrame, store: Store)(
      cycle: (DataFrame, DataFrame, DataFrame, DataFrame) => Unit): Unit = {
    val storms = store.read("storms", Schemas.storms)
    val forecasts = store.read("forecasts", Schemas.forecasts)
    val tracks = store.read("tracks", Schemas.tracks)
    val steps = store.read("steps", Schemas.steps)
    Checkpoints.interpretedIfFits(lines, storms, forecasts, tracks, steps)(
      cycle(storms, forecasts, tracks, steps))
  }

  private def adeckCycle(lines: DataFrame, storms: DataFrame,
      forecastsIn: DataFrame, tracksIn: DataFrame, stepsIn: DataFrame,
      store: Store, now: Timestamp, allowedModels: Seq[String],
      recencyHours: Option[Int]): Unit = {
    val rid = runId("ADECK", now)
    val adeck = AtcfParser.parseADeck(lines)
      .filter(col("tech").isin(allowedModels: _*)) // P2 allowlist
    // T2 late-data gate: skip forecasts older than the watermark unless
    // backfilling (tcdb/pipeline/adeck.py:69-76,94-98)
    val recent = recencyHours match {
      case Some(h) => adeck.filter(
        unix_timestamp(lit(now)) - unix_timestamp(col("datetime")) <= h * 3600L)
      case None => adeck
    }

    // held on the driver for the three upserts below while it is tiny, as
    // in a cron cycle; steps grow with the a-deck, so a larger input stays
    // lazy and each upsert re-parses the a-deck and re-joins storms
    val steps = Checkpoints.localIfFits(AtcfParser.forecastSteps(recent)
      // storm inference from the FILE name; unknown storms skipped
      // (tcdb/models/database.py:26-66, adeck.py:155-160)
      .withColumn("nhc_id", graft.functions.Atcf.nhcId(
        col("region"), col("nhc_number"), col("season")))
      .join(storms.select("nhc_id"),
        Seq("nhc_id"), "left_semi"))

    val org = when(lower(col("region")).isin("al", "ep", "cp"), "NHC")
      .otherwise("JTWC")
    val forecasts = steps
      .select(col("region"), org.as("data_source"), col("model"),
        col("datetime_utc"))
      .distinct()
      .withColumn("run_id", lit(rid))
    store.write("forecasts", Merge.upsert(forecastsIn, forecasts,
      keys = Seq("region", "data_source", "model", "datetime_utc")))

    // a-deck tracks are the deterministic member (ensemble_number=1,
    // tcdb/etl/atcf_forecasts.py:101-116)
    val tracks = steps
      .select(col("region"), col("model"), col("datetime_utc"), col("nhc_id"))
      .distinct()
      .withColumn("ensemble_number", lit(1))
      .withColumn("run_id", lit(rid))
    store.write("tracks", Merge.upsert(tracksIn, tracks,
      keys = Seq("region", "model", "datetime_utc", "nhc_id", "ensemble_number")))

    val stepRows = steps
      .withColumn("ensemble_number", lit(1))
      .withColumn("run_id", lit(rid))
      .select(Schemas.steps.fieldNames.map(col).toIndexedSeq: _*)
    store.write("steps", Merge.upsert(stepsIn, stepRows,
      keys = Seq("region", "model", "datetime_utc", "nhc_id",
        "ensemble_number", "hour")))
  }
}
