package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (see TESTDATA.md).
  *
  * Every operator query receives `(spark, sfDir)` and reads only these
  * parquet tables, so the DuckDB oracle sees byte-identical inputs.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The events table stores TIMESTAMP(NANOS) parquet, which Spark only
    // reads as long (spark.sql.legacy.parquet.nanosAsLong=true — set in
    // Session.configure). All values are microsecond-aligned, so integer
    // division to micros is lossless (`div`, not `/`: a double roundtrip
    // of an epoch-ns long loses precision).
    // NTZ keeps every downstream timestamp naive-UTC end to end (parquet
    // written isAdjustedToUTC=false), matching the oracle engine exactly.
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) {
      case (d, f) if f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType =>
        d.withColumn("ts", org.apache.spark.sql.functions
          .expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"))
      case (d, _) => d
    }
  }

  /** Cheap identity token of ONE table's bytes at `dir` (file names,
    * sizes, mtimes — recursive for Spark-written directories). Fixture
    * caches that memoize per-(session, dir) state key on this too, so a
    * replica rebuilt IN PLACE at the same path (the skew-probe builder
    * does this) invalidates them instead of serving stale indexes. */
  def dataToken(dir: String, name: String): String = {
    def sig(f: java.io.File): String =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
          .map(sig).mkString(",")
      else s"${f.getName}:${f.length}:${f.lastModified}"
    sig(new java.io.File(dir, s"$name.parquet"))
  }
}
