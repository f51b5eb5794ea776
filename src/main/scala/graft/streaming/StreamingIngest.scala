package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.{Pipelines, Store}

/** Structured Streaming variants of the ingest semantics (SURVEY.md §2.8).
  *
  * T1 file-source ingest, T2 watermark late-data policy, T5 idempotent
  * foreachBatch MERGE, T8 tumbling 6-hour cycles. The batch pipelines
  * remain the semantic core; streaming wraps them per micro-batch, which
  * is exactly the reference's cron cadence made continuous.
  */
object StreamingIngest {

  /** T1/T5 — continuous b-deck ingest: watch a landing dir, run the full
    * batch resolution+upsert per micro-batch (exactly-once effects via
    * natural-key MERGE idempotence). */
  def bdeckStream(spark: SparkSession, landing: String, store: Store,
      checkpoint: String, now: () => Timestamp): StreamingQuery =
    spark.readStream.textFile(landing).toDF("value")
      .withColumn("file", regexp_extract(input_file_name(), "([^/]+)$", 1))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // materialize the micro-batch distributed (no driver round-trip —
        // a backfill burst of 20 seasons must not route through the
        // driver) and truncate lineage so the heavily branching
        // resolution plan doesn't re-read the streaming source per branch
        val lines = batch.transform(graft.pipeline.Checkpoints.stable)
        if (!lines.isEmpty) {
          val bdeck = graft.parse.AtcfParser.parseBDeck(lines)
          val ts = now()
          val summaries = graft.parse.AtcfParser.stormSummaries(bdeck)
          val storms = graft.resolve.StormResolver.resolve(
            store.read("storms", graft.schema.Schemas.storms),
            summaries, ts, Pipelines.runId("STORMS_STREAM", ts))
          store.write("storms", storms.withColumn("last_update", lit(ts)))
        }
        ()
      }
      .start()

  /** T1/T5 + E2 — continuous a-deck ingest: the forecasts → tracks →
    * steps MERGE chain per micro-batch (mirrors [[bdeckStream]]; each
    * MERGE is keyed by natural key, so replays are idempotent). */
  def adeckStream(spark: SparkSession, landing: String, store: Store,
      checkpoint: String, now: () => Timestamp,
      allowedModels: Seq[String],
      recencyHours: Option[Int] = Some(48)): StreamingQuery =
    spark.readStream.textFile(landing).toDF("value")
      .withColumn("file", regexp_extract(input_file_name(), "([^/]+)$", 1))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Pipelines.runAdeckBatch(batch, store, now, allowedModels,
          recencyHours)
      }
      .start()

  /** T2/T8 — windowed event-time aggregation with a 48 h watermark over
    * observation events: counts + peak intensity per 6 h cycle. */
  def cycleAggStream(obs: DataFrame): DataFrame =
    obs
      .withWatermark("datetime_utc", "48 hours")
      .groupBy(window(col("datetime_utc"), "6 hours").getField("start").as("cycle"),
        col("nhc_id"))
      .agg(count(lit(1)).as("n_obs"), max("intensity_kts").as("peak_kts"))

  /** T8 sliding — HOPPING event-time aggregation (12 h window, 6 h
    * slide): each observation contributes to window/slide = 2
    * overlapping windows, expanded map-side by `window()` before the
    * keyed state — the smoothed-cycle view tumbling can't express.
    * Same watermark contract as [[cycleAggStream]]. */
  def slidingAggStream(obs: DataFrame): DataFrame =
    obs
      .withWatermark("datetime_utc", "48 hours")
      .groupBy(window(col("datetime_utc"), "12 hours", "6 hours")
          .getField("start").as("win_start"),
        col("nhc_id"))
      .agg(count(lit(1)).as("n_obs"), max("intensity_kts").as("peak_kts"))

  /** S13 streaming — content-hash dedup across micro-batches: drop a row
    * if its payload hash was already seen within the watermark horizon
    * (state TTL bounds the hash set; the batch path's byte-identical
    * file skip, tcdb/pipeline/fs_utils.py:10-21, made continuous). */
  def dedupStream(lines: DataFrame, tsCol: String,
      watermark: String = "48 hours"): DataFrame =
    lines.withColumn("__h", sha2(col("value"), 256))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")

  /** Session windows, streaming-native: the built-in `session_window`
    * gap-merge (same 30-minute inactivity semantics as the batch
    * `OlapOps.sessionize` lag/cumsum form — equivalence asserted in
    * StreamingSessionSpec). State closes once the watermark passes the
    * session end, so memory is bounded by live sessions only. */
  def sessionStream(events: DataFrame, tsCol: String, userCol: String,
      gap: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap).as("w"), col(userCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(userCol), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
}
