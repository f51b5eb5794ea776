package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.merge.Merge
import graft.schema.Schemas

/** Maintenance routines (tcdb/pipeline/routines.py) as set-based jobs:
  * T3 archive storms with no recent observation, T4 expire old invests
  * with an S12 cascading delete of their children.
  */
object Maintenance {

  /** routines.py:14-31 — flip storms to Archive when their newest
    * observation is older than `hours` (default 24). Runs without code
    * generation when both tables fit the broadcast threshold, as the cron
    * cycles do ([[Pipelines]]). */
  def archiveStale(store: Store, now: Timestamp, hours: Int = 24): Unit = {
    val storms = store.read("storms", Schemas.storms)
    val observations = store.read("observations", Schemas.observations)
    Checkpoints.interpretedIfFits(storms, observations) {
      val lastObs = observations
        .groupBy("nhc_id").agg(max("datetime_utc").as("last_obs"))
      val updated = storms.join(lastObs, Seq("nhc_id"), "left_outer")
        .withColumn("status",
          when(col("status") === "Active" &&
              coalesce(col("last_obs"), col("end_date")) <
                lit(now) - expr(s"interval $hours hours"), "Archive")
            .otherwise(col("status")))
        .drop("last_obs")
      // no seam: the staged write reads the table before replacing it
      store.write("storms", updated)
    }
  }

  /** routines.py:33-63 — delete invests (nhc_number >= 90) whose last
    * observation is older than `days`, cascading to their observations
    * (and any forecast children keyed by the storm). */
  def expireInvests(store: Store, now: Timestamp, days: Int = 30): Unit = {
    val storms = store.read("storms", Schemas.storms)
    val expired = storms
      .filter(col("nhc_number") >= 90 &&
        col("end_date") < lit(now) - expr(s"interval $days days"))
      .select("nhc_id")
      .transform(graft.pipeline.Checkpoints.stable)

    store.write("storms",
      storms.join(expired, Seq("nhc_id"), "left_anti").transform(graft.pipeline.Checkpoints.stable))
    Seq("observations" -> Schemas.observations,
        "tracks" -> Schemas.tracks,
        "steps" -> Schemas.steps).foreach { case (t, schema) =>
      if (store.exists(t)) {
        val kept = Merge.cascadeDelete(
          store.read(t, schema), expired, "nhc_id", "nhc_id")
        store.write(t, kept.transform(graft.pipeline.Checkpoints.stable))
      }
    }
  }
}
