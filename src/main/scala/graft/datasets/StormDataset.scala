package graft.datasets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Store
import graft.schema.Schemas

/** Read-path dataset assembly — the Spark rewrite of the reference's
  * object-graph walks (tcdb/datasets/storm_dataset.py, models/invest.py).
  * The ORM storm→tracks→steps traversal becomes the J9 join pipeline;
  * the invest snapshot is the J8 as-of lookup.
  */
final case class StormDataset(storm: DataFrame, forecastTable: DataFrame,
    obsTable: DataFrame)

object StormDataset {

  /** J9 — flatten storm→tracks→steps with model/init/valid enrichment
    * (storm_dataset.py:60-83): valid = init + hour. */
  def forecastTable(store: Store, nhcId: String): DataFrame = {
    val steps = store.read("steps", Schemas.steps)
      .filter(col("nhc_id") === nhcId)
    steps
      .withColumn("valid",
        col("datetime_utc") + col("hour") * expr("interval 1 hour"))
      .select(col("model"), col("datetime_utc").as("init"),
        col("ensemble_number"), col("hour"), col("valid"),
        col("latitude"), col("longitude"), col("intensity_kts"),
        col("mslp_mb"))
  }

  /** Observation table with id/audit columns dropped
    * (storm_dataset.py:85-92). */
  def obsTable(store: Store, nhcId: String): DataFrame =
    store.read("observations", Schemas.observations)
      .filter(col("nhc_id") === nhcId)
      .drop("nhc_id", "start_date", "run_id")

  def assemble(spark: SparkSession, store: Store, nhcId: String): StormDataset = {
    val storm = store.read("storms", Schemas.storms)
      .filter(col("nhc_id") === nhcId)
    StormDataset(storm, forecastTable(store, nhcId), obsTable(store, nhcId))
  }

  /** J8 — invest snapshot: the observation at `at`, or the latest one
    * (invest.py:60-144), flattened with the storm row. */
  def investSnapshot(store: Store, nhcId: String,
      at: Option[java.sql.Timestamp]): DataFrame = {
    val obs = store.read("observations", Schemas.observations)
      .filter(col("nhc_id") === nhcId)
    val picked = at match {
      case Some(ts) => obs.filter(col("datetime_utc") === ts)
      case None =>
        obs.withColumn("__rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("nhc_id").orderBy(col("datetime_utc").desc)))
          .filter(col("__rk") === 1).drop("__rk")
    }
    store.read("storms", Schemas.storms).filter(col("nhc_id") === nhcId)
      .join(picked.drop("start_date", "run_id"), Seq("nhc_id"))
  }
}
