package graft.resolve

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Geo
import graft.pipeline.Checkpoints

/** Batch entity resolution for storms — the set-based rewrite of the
  * reference's sequential per-file state machine
  * (tcdb/etl/process_storms.py:63-243).
  *
  * The reference relies on sorted file order (named storms before
  * invests) so that invest→named transitions see the just-inserted named
  * rows. Here that ordering becomes an explicit two-phase dataflow:
  * named summaries resolve first (against the store), then invests
  * resolve against the post-named store. Joins replace point queries:
  * candidate generation is an equi-join on (region, start_date) or
  * nhc_id, the closest-storm rule is a window rank over a great-circle
  * distance, and annual ids are assigned with max+row_number per
  * (season, region) — all shuffle-on-key, no driver loops, skew-safe
  * under AQE at any storm count. Each phase ends at a driver-held seam
  * (see [[resolve]]): every phase outputs at most one row per storm plus
  * one per landed file, a bound that stays small at any data scale.
  */
object StormResolver {

  private val fields = Seq("region", "nhc_number", "nhc_id", "season",
    "start_date", "end_date", "status", "name", "start_lat", "start_lon")

  /** getClosestStorm (process_storms.py:24-60): with exactly one
    * candidate, match unconditionally; with several, the nearest wins
    * only within 100 nm. Returns probe rows + matched candidate key. */
  private def closest(probes: DataFrame, cands: DataFrame,
      joinKeys: Seq[String], probeId: String, candId: String): DataFrame = {
    val d = Geo.greatCircle(col("p_lat"), col("p_lon"),
      col("c_lat"), col("c_lon"), "nm")
    val w = Window.partitionBy(probeId)
      .orderBy(col("dist").asc, col(candId).asc)
    val nW = Window.partitionBy(probeId)
    probes.join(cands, joinKeys)
      .withColumn("dist", d)
      .withColumn("n_cands", count(lit(1)).over(nW))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 &&
        (col("n_cands") === 1 || col("dist") <= 100.0))
      .drop("dist", "n_cands", "rn", "p_lat", "p_lon", "c_lat", "c_lon")
  }

  /** Resolve a batch of per-file storm summaries against the store.
    *
    * `summaries`: output of AtcfParser.stormSummaries (one row per file).
    * `existing`: current storms table (Schemas.storms shape).
    * Returns the updated storms table.
    */
  def resolve(existingRaw: DataFrame, summaries: DataFrame, now: Timestamp,
      runId: String): DataFrame = {
    // audit columns are re-stamped by the caller
    val existingIn = existingRaw.drop("last_update")

    // Each phase's output is referenced several times by the next phase,
    // so every phase ends at a seam: without one the logical plan tree
    // duplicates multiplicatively and Catalyst spends minutes OPTIMIZING
    // a one-row batch. The seams hold the frames on the driver: the store
    // has one row per storm and the batch one row per landed file, and
    // every phase outputs at most |existing| + |summaries| rows of the
    // storms shape (an incoming row updates, claims or adds one storm),
    // so no seam outgrows a driver-side relation at any archive size.
    // The store rows are held too, so the joins between them broadcast
    // without a job.
    val existing = Checkpoints.toLocal(existingIn)

    // status stamp: Active if observed within 16 h (process_storms.py:205-208)
    val stamped = Checkpoints.toLocal(summaries.withColumn("status",
      when(unix_timestamp(lit(now)) - unix_timestamp(col("end_date")) <= 16 * 3600,
        "Active").otherwise("Archive")))

    val named   = stamped.filter(col("nhc_number") < 90)
    val invests = stamped.filter(col("nhc_number") >= 90)
      // stale invests (no obs for 24 h) are ignored (process_storms.py:79-81)
      .filter(unix_timestamp(lit(now)) - unix_timestamp(col("end_date")) < 24 * 3600)

    val postNamed = Checkpoints.toLocal(resolveNamed(existing, named, runId))
    val postBoth  = Checkpoints.toLocal(resolveInvests(postNamed, invests, runId))
    assignAnnualIds(postBoth)
  }

  /** Phase 1 — named storms (process_storms.py:128-168). */
  private def resolveNamed(existing: DataFrame, named: DataFrame,
      runId: String): DataFrame = {
    val e = existing
    val inc = named.select(fields.map(f => col(f).as(s"i_$f")): _*)

    // 1a. direct nhc_id match
    val byId = inc.join(e, col("i_nhc_id") === col("nhc_id"), "left_outer")
    val matchedById = byId.filter(col("nhc_id").isNotNull)
    val unmatched = byId.filter(col("nhc_id").isNull)
      .select(inc.columns.map(col).toIndexedSeq: _*)

    // old-file guard: existing end_date newer than incoming → no update
    // (process_storms.py:136-139)
    val updatedById = applyUpdate(matchedById, runId,
      guard = col("end_date") <= col("i_end_date"))

    // 1b. unmatched named → claim a prior invest in the same region with
    // the same start_date, closest within 100 nm (:145-164)
    val probes = unmatched.select(
      (unmatched.columns.map(col) :+ col("i_region").as("region") :+
        col("i_start_date").as("start_date") :+
        col("i_start_lat").as("p_lat") :+ col("i_start_lon").as("p_lon")): _*)
    val cands = e.filter(col("nhc_number") >= 70).select(
      col("region"), col("start_date"), col("nhc_id").as("cand_id"),
      col("annual_id").as("cand_annual"), col("run_id").as("cand_run"),
      col("start_lat").as("c_lat"), col("start_lon").as("c_lon"))
    val claimed = closest(probes, cands, Seq("region", "start_date"),
      "i_nhc_id", "cand_id")
      .drop("region", "start_date")

    // claimed rows: invest row takes the named identity, keeps annual_id
    val claimedRows = claimed.select(
      (fields.map(f => col(s"i_$f").as(f)) :+
        col("cand_annual").as("annual_id") :+ lit(runId).as("run_id") :+
        col("cand_id").as("__replaces")): _*)

    // brand-new named storms
    val newRows = unmatched
      .join(claimed.select(col("i_nhc_id")), Seq("i_nhc_id"), "left_anti")
      .select((fields.map(f => col(s"i_$f").as(f)) :+
        lit(null).cast("int").as("annual_id") :+ lit(runId).as("run_id") :+
        lit(null).cast("string").as("__replaces")): _*)

    merge(e, updatedById.withColumn("__replaces", lit(null).cast("string"))
      .unionByName(claimedRows).unionByName(newRows))
  }

  /** Phase 2 — invests (process_storms.py:63-125), resolved against the
    * post-named store so same-batch transitions are visible. */
  private def resolveInvests(store: DataFrame, invests: DataFrame,
      runId: String): DataFrame = {
    val inc = invests.select(fields.map(f => col(f).as(s"i_$f")): _*)

    // 2a. drop invests that already transitioned: a named storm (<=50)
    // exists in the same region with the same start_date, single
    // candidate or nearest within 100 nm (:85-97)
    val probes = inc.select(
      (inc.columns.map(col) :+ col("i_region").as("region") :+
        col("i_start_date").as("start_date") :+
        col("i_start_lat").as("p_lat") :+ col("i_start_lon").as("p_lon")): _*)
    val namedCands = store.filter(col("nhc_number") <= 50).select(
      col("region"), col("start_date"), col("nhc_id").as("cand_id"),
      col("start_lat").as("c_lat"), col("start_lon").as("c_lon"))
    val transitioned = closest(probes, namedCands,
      Seq("region", "start_date"), "i_nhc_id", "cand_id")
      .select(col("i_nhc_id"))
    val live = inc.join(transitioned, Seq("i_nhc_id"), "left_anti")

    // 2b. match existing invest by nhc_id with |Δstart| <= 24 h; earliest
    // existing row wins (the reference takes the first in id order) (:104-117)
    val cand = store.select(col("nhc_id"), col("start_date").as("e_start"),
      col("annual_id").as("e_annual"))
    val w = Window.partitionBy("i_nhc_id").orderBy(col("e_start").asc)
    val matched = live
      .join(cand, col("i_nhc_id") === col("nhc_id") &&
        abs(unix_timestamp(col("i_start_date")) - unix_timestamp(col("e_start"))) <= 24 * 3600)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)

    val updated = matched.select((fields.map(f => col(s"i_$f").as(f)) :+
      col("e_annual").as("annual_id") :+ lit(runId).as("run_id")): _*)

    val newRows = live
      .join(matched.select(col("i_nhc_id")), Seq("i_nhc_id"), "left_anti")
      .select((fields.map(f => col(s"i_$f").as(f)) :+
        lit(null).cast("int").as("annual_id") :+ lit(runId).as("run_id")): _*)

    val incoming = updated.unionByName(newRows)
      .withColumn("__replaces", lit(null).cast("string"))
    merge(store, incoming)
  }

  /** Replace store rows by natural key (nhc_id); `__replaces` marks a row
    * that takes over (and removes) a different existing nhc_id — the
    * invest→named identity change. */
  private def merge(store: DataFrame, incoming: DataFrame): DataFrame = {
    val replacedIds = incoming.filter(col("__replaces").isNotNull)
      .select(col("__replaces").as("nhc_id"))
    val overwrittenIds = incoming.select("nhc_id")
    // no explicit broadcast hints: the id frames are tiny and planner
    // stats auto-broadcast them in batch mode, while hinted broadcast
    // exchanges inside foreachBatch micro-batches hit a flaky scheduler
    // race (observed: builds stall waiting on the exchange future)
    val kept = store
      .join(replacedIds, Seq("nhc_id"), "left_anti")
      .join(overwrittenIds, Seq("nhc_id"), "left_anti")
    kept.unionByName(incoming.drop("__replaces"))
  }

  /** Max+1 annual-id assignment per (season, region), new storms ordered
    * by nhc_number then nhc_id — the batch equivalent of the reference's
    * sorted-file sequential assignment (process_storms.py:220-235). */
  def assignAnnualIds(storms: DataFrame): DataFrame = {
    val grp = Window.partitionBy("season", "region")
    val newOrder = Window
      .partitionBy(col("season"), col("region"), col("annual_id").isNull)
      .orderBy(col("nhc_number").asc, col("nhc_id").asc)
    storms
      .withColumn("__base", coalesce(max("annual_id").over(grp), lit(0)))
      .withColumn("__rn", row_number().over(newOrder))
      .withColumn("annual_id",
        coalesce(col("annual_id"), (col("__base") + col("__rn")).cast("int")))
      .drop("__base", "__rn")
  }

  /** Field-wise update with change detection (tcdb/models/base.py:50-80):
    * take incoming values when the guard passes; stamp run_id only when
    * something actually changed. */
  private def applyUpdate(joined: DataFrame, runId: String,
      guard: Column): DataFrame = {
    val changed = fields.map(f => !(col(f) <=> col(s"i_$f")))
      .reduce(_ || _)
    val take = coalesce(guard, lit(true))
    joined.select((fields.map(f =>
      when(take, col(s"i_$f")).otherwise(col(f)).as(f)) :+
      col("annual_id") :+
      when(take && changed, lit(runId)).otherwise(col("run_id")).as("run_id")): _*)
  }
}
