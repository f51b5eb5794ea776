package graft.datasets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Checkpoints, Store}
import graft.schema.Schemas

/** Read-path dataset assembly — the Spark rewrite of the reference's
  * object-graph walks (tcdb/datasets/storm_dataset.py, models/invest.py).
  * The ORM storm→tracks→steps traversal becomes the J9 join pipeline.
  * Each frame whose store table fits the broadcast threshold is computed
  * without code generation and held on the driver
  * ([[Checkpoints.localInterpretedIfFits]]); otherwise it is lazy.
  */
final case class StormDataset(storm: DataFrame, forecastTable: DataFrame,
    obsTable: DataFrame)

object StormDataset {

  /** J9 — flatten storm→tracks→steps with model/init/valid enrichment
    * (storm_dataset.py:60-83): valid = init + hour. */
  def forecastTable(store: Store, nhcId: String): DataFrame = {
    val steps = store.read("steps", Schemas.steps)
    Checkpoints.localInterpretedIfFits(steps)(steps
      .filter(col("nhc_id") === nhcId)
      .withColumn("valid",
        col("datetime_utc") + col("hour") * expr("interval 1 hour"))
      .select(col("model"), col("datetime_utc").as("init"),
        col("ensemble_number"), col("hour"), col("valid"),
        col("latitude"), col("longitude"), col("intensity_kts"),
        col("mslp_mb")))
  }

  /** Observation table with id/audit columns dropped
    * (storm_dataset.py:85-92). */
  def obsTable(store: Store, nhcId: String): DataFrame = {
    val observations = store.read("observations", Schemas.observations)
    Checkpoints.localInterpretedIfFits(observations)(observations
      .filter(col("nhc_id") === nhcId)
      .drop("nhc_id", "start_date", "run_id"))
  }

  def assemble(spark: SparkSession, store: Store, nhcId: String): StormDataset = {
    val storms = store.read("storms", Schemas.storms)
    val storm = Checkpoints.localInterpretedIfFits(storms)(
      storms.filter(col("nhc_id") === nhcId))
    StormDataset(storm, forecastTable(store, nhcId), obsTable(store, nhcId))
  }
}
