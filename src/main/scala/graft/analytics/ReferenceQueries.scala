package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Checkpoints, Store}
import graft.schema.Schemas

/** The reference's db SQL analytics surface, translated 1:1 onto the
  * natural-key store (SURVEY.md §2 J1/J2/A1/A2/O1). Dimension attributes
  * (region, model) live denormalized on the fact tables, so the dim joins
  * of the MySQL star schema become key equalities; the small dimension
  * frames (Seeds) broadcast when actually needed.
  *
  * A query whose store tables fit the broadcast threshold runs without
  * code generation and comes back held on the driver
  * ([[Checkpoints.localInterpretedIfFits]]); otherwise it returns lazily,
  * with codegen.
  */
object ReferenceQueries {

  /** db/basin_model_counts.sql — tracks per model within a basin. */
  def basinModelCounts(spark: SparkSession, store: Store,
      region: String): DataFrame = {
    val tracks = store.read("tracks", Schemas.tracks)
    Checkpoints.localInterpretedIfFits(tracks)(tracks
      .filter(col("region") === region)
      .groupBy("model").agg(count(lit(1)).as("n_tracks"))
      .orderBy(col("n_tracks").desc, col("model").asc))
  }

  /** db/basin_track_counts_by_model.sql — forecasts per model in a basin. */
  def basinTrackCountsByModel(spark: SparkSession, store: Store,
      region: String): DataFrame = {
    val forecasts = store.read("forecasts", Schemas.forecasts)
    Checkpoints.localInterpretedIfFits(forecasts)(forecasts
      .filter(col("region") === region)
      .groupBy("model").agg(count(lit(1)).as("n_forecasts"))
      .orderBy(col("n_forecasts").desc, col("model").asc))
  }

  /** db/model_counts_by_basin.sql — forecasts per basin for one model. */
  def modelCountsByBasin(spark: SparkSession, store: Store,
      model: String): DataFrame = {
    val forecasts = store.read("forecasts", Schemas.forecasts)
    Checkpoints.localInterpretedIfFits(forecasts)(forecasts
      .filter(col("model") === model)
      .groupBy("region").agg(count(lit(1)).as("n_forecasts"))
      .orderBy(col("n_forecasts").desc, col("region").asc))
  }

  /** db/storm_track_counts_by_model.sql — tracks per (storm, model). */
  def stormTrackCountsByModel(spark: SparkSession, store: Store,
      region: String): DataFrame = {
    val storms = store.read("storms", Schemas.storms)
    val tracks = store.read("tracks", Schemas.tracks)
    Checkpoints.localInterpretedIfFits(storms, tracks)(tracks
      .filter(col("region") === region)
      .join(broadcast(storms.select(col("nhc_id"), col("name"),
        col("nhc_number"))), Seq("nhc_id"))
      .groupBy("name", "model", "nhc_number")
      .agg(count(lit(1)).as("n_tracks"))
      // name last: same-numbered storms of different seasons (AL01 of
      // 2022 and of 2023) tie on the first three keys
      .orderBy(col("nhc_number").asc, col("n_tracks").desc, col("model").asc,
        col("name").asc)
      .select("name", "model", "n_tracks"))
  }

  /** db/forecasts_by_init.sql + track_queries.sql — the 5-way track
    * extraction join: full per-step rows for one storm/init (or model). */
  def trackExtraction(spark: SparkSession, store: Store, nhcId: String,
      init: Option[java.sql.Timestamp] = None,
      model: Option[String] = None): DataFrame = {
    val steps = store.read("steps", Schemas.steps)
    val storms = store.read("storms", Schemas.storms)
    val base = steps
      .filter(col("nhc_id") === nhcId)
      .join(broadcast(storms.select(col("nhc_id"), col("name"),
        col("annual_id"))), Seq("nhc_id"))
    val withInit = init.map(ts => base.filter(col("datetime_utc") === ts))
      .getOrElse(base)
    Checkpoints.localInterpretedIfFits(steps, storms)(
      model.map(m => withInit.filter(col("model") === m)).getOrElse(withInit)
        .select(col("nhc_id"), col("name"), col("annual_id"),
          col("ensemble_number"), col("model"),
          col("datetime_utc").as("init"), col("hour"),
          col("latitude"), col("longitude"), col("intensity_kts"),
          col("mslp_mb"))
        .orderBy("model", "ensemble_number", "hour"))
  }
}
