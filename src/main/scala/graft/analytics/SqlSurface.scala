package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.pipeline.{Checkpoints, Store}
import graft.schema.Schemas

/** The SQL-text entry point (SURVEY.md §3 E3(a)): the reference's users
  * run literal SQL files (the db directory's .sql) against MySQL; here
  * the same texts
  * run through `spark.sql(...)` over the Store's tables registered as
  * temp views — Catalyst parses, analyzes, optimizes and plans them
  * exactly like the DataFrame surface (both lower to the same logical
  * operators, so broadcast dims / partition pruning apply unchanged).
  * When the registered tables together fit the broadcast threshold, the
  * text runs without code generation and its result comes back held on
  * the driver, up to the row cap of
  * [[Checkpoints.localInterpretedIfFits]]; a larger result, or larger
  * tables, return lazily with codegen.
  */
object SqlSurface {

  /** The pipeline's queryable tables, by name. */
  val defaultTables: Map[String, StructType] = Map(
    "storms" -> Schemas.storms,
    "forecasts" -> Schemas.forecasts,
    "tracks" -> Schemas.tracks,
    "steps" -> Schemas.steps,
    "observations" -> Schemas.observations)

  /** Register `tables` from the store as session temp views and run one
    * SQL text. Register-then-parse runs under a lock because temp views
    * are session-global mutable state; `spark.sql` ANALYZES eagerly, so
    * the returned frame no longer depends on the view once this method
    * returns — a later re-registration (another store, another dir)
    * cannot retroactively change it. */
  def sql(spark: SparkSession, store: Store, query: String,
      tables: Map[String, StructType] = defaultTables): DataFrame = {
    val (frames, result) = SqlSurface.synchronized {
      val frames = tables.toSeq.map { case (name, schema) =>
        val df = store.read(name, schema)
        df.createOrReplaceTempView(name)
        df
      }
      (frames, spark.sql(query))
    }
    Checkpoints.localInterpretedIfFits(frames: _*)(result)
  }
}
