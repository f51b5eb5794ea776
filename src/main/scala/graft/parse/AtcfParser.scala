package graft.parse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Atcf, Validators}
import graft.schema.Schemas

/** ATCF a-deck/b-deck/tcvitals parsing as declarative Spark plans
  * (SURVEY.md §2.1 S1–S5).
  *
  * Shape: `spark.read.text` (gzip transparent) → comma split → ragged-row
  * filter/pad (rows <18 fields dropped, short rows padded with nulls via
  * OOB-null `get`) → positional projection → typed decode. All columnar,
  * codegen'd, partition-parallel — a 100 TB landing dir parses exactly
  * like one file.
  *
  * Reference semantics: tcdb/etl/atcf.py:19-171 (parse), :227-250
  * (ragged normalizer), scripts/download_parse_tcvitals.py (tcvitals).
  */
object AtcfParser {

  /** Read raw deck lines, tagging each row with its source file name. */
  def readDeckLines(spark: SparkSession, path: String): DataFrame =
    spark.read.textFile(path).toDF("value")
      .withColumn("file", regexp_extract(input_file_name(), "([^/]+)$", 1))

  /** Minimum comma-separated fields for a usable deck row
    * (tcdb/etl/atcf.py:245) — shared by the parse filter and its
    * [[rejectedLines]] complement so the two always partition the input. */
  val MinFields = 18
  private def fieldCount: Column = size(split(col("value"), ","))

  /** Split + ragged-normalize + positionally project `cols`; keeps `file`.
    *
    * The split lands behind its own projection ALIAS before the 37
    * positional `get`s reference it: CollapseProject keeps a non-cheap
    * alias with >1 use in its own project, so codegen splits each line
    * once instead of once per output column (measured 4.3 s -> ~1 s on
    * 225k lines at sf0.1). */
  private def project(lines: DataFrame, cols: Seq[String]): DataFrame = {
    val projected = cols.zipWithIndex.map { case (name, i) =>
      get(col("__parts"), lit(i)).as(name) // 0-based, null when OOB
    }
    lines
      .filter(fieldCount >= MinFields)
      .select(col("file"), split(col("value"), ",").as("__parts"))
      .select((col("file") +: projected): _*)
  }

  /** Typed decode shared by both decks. */
  private def decode(df: DataFrame, numericCols: Seq[String],
      allCols: Seq[String]): DataFrame = {
    val decoded = df
      .withColumn("datetime", Atcf.parseAtcfDatetime(col("datetime")))
      .withColumn("lat", Atcf.atcfLat(col("lat")))
      .withColumn("lon", Atcf.atcfLon(col("lon")))
      .withColumn("snum", trim(col("snum")).cast("int"))
      .withColumn("tau", trim(col("tau")).cast("int"))
      .withColumn("rad", Atcf.numOrNull(col("rad")))
    val withNums = numericCols.foldLeft(decoded)((d, c) =>
      d.withColumn(c, Atcf.numOrNull(col(c))))
    val strCols = allCols.filterNot(c =>
      (numericCols ++ Seq("datetime", "lat", "lon", "snum", "tau", "rad")).contains(c))
    strCols.foldLeft(withNums)((d, c) => d.withColumn(c, Atcf.strOrNull(col(c))))
  }

  /** S1 — a-deck (forecast aids): 17 positional columns. */
  def parseADeck(lines: DataFrame): DataFrame =
    decode(project(lines, Schemas.aDeckColumns),
      Schemas.aDeckNumeric, Schemas.aDeckColumns)

  /** S3 side-output — the rows the ragged-row filter DROPS (<18 fields,
    * tcdb/etl/atcf.py:245-246 logs and skips them). A quality-conscious
    * ingest keeps the rejects observable instead of silently vanishing:
    * route this to a quarantine sink and alert on its volume. */
  def rejectedLines(lines: DataFrame): DataFrame =
    lines.filter(fieldCount < MinFields)
      .select(col("file"), col("value"), fieldCount.as("n_fields"))

  /** S2/S3 — b-deck (best track): 36 positional columns, ragged rows. */
  def parseBDeck(lines: DataFrame): DataFrame =
    decode(project(lines, Schemas.bDeckColumns),
      Schemas.bDeckNumeric, Schemas.bDeckColumns)

  /** S5 — tcvitals: whitespace-delimited, multi-sentinel NA. */
  def parseTcvitals(lines: DataFrame): DataFrame = {
    val parts = split(regexp_replace(trim(col("value")), " +", ","), ",")
    val projected = Schemas.tcvitalsColumns.zipWithIndex.map { case (name, i) =>
      get(parts, lit(i)).as(name)
    }
    val df = lines.select(projected: _*)
    Schemas.tcvitalsColumns.foldLeft(df)((d, c) =>
      d.withColumn(c,
        when(col(c).isin(Schemas.tcvitalsNa: _*), lit(null)).otherwise(col(c))))
  }

  /** P9 — date-membership probe (tcdb/etl/atcf.py:253-286): does any row
    * in the deck carry this init time? EXISTS via limit(1). */
  def containsDate(lines: DataFrame, dateTime: java.sql.Timestamp): Boolean = {
    val parts = split(col("value"), ",")
    lines
      .filter(Atcf.parseAtcfDatetime(get(parts, lit(2))) === lit(dateTime))
      .limit(1).count() > 0
  }

  // ------------------------------------------------------------- summaries

  /** File-name metadata: `b{basin}{nn}{season}.dat` → (basin, nhc_number,
    * season) — tcdb/models/database.py:40-43. */
  private def fileMeta(df: DataFrame): DataFrame = df
    .withColumn("file_basin", upper(substring(col("file"), 2, 2)))
    .withColumn("file_nhc_number", substring(col("file"), 4, 2).cast("int"))
    .withColumn("file_season",
      regexp_extract(col("file"), "^.(..)(..)([0-9]{4})", 3).cast("int"))

  /** Arg-min/arg-max by key with an EXPLICIT total order under key
    * DUPLICATES and null values: the ordered struct is (key, null-rank,
    * coalesced value), so tie-break on equal keys is "null value first,
    * then smallest value" — on BOTH engines (the DuckDB oracles replay
    * the identical struct). Plain `min(struct(k, v))` relied on Spark's
    * null-first struct ordering, which DuckDB's aggregates (null-
    * IGNORING) and row_number replays (arbitrary on ties) don't share;
    * unique keys masked the difference until the sf1 replica sweep
    * introduced duplicate (datetime, rad) keys. */
  private[parse] def pickByKey(k: Column, v: Column, sentinel: Column,
      largest: Boolean): Column = {
    val s = struct(k.as("k"),
      when(v.isNull, 0).otherwise(1).as("vn"),
      coalesce(v, sentinel).as("v"))
    val m = if (largest) max(s) else min(s)
    when(m.getField("vn") === 0, lit(null)).otherwise(m.getField("v"))
  }

  /** Per-file storm summary — the set-based `toStormDict`
    * (tcdb/etl/atcf.py:289-337). One aggregation pass per file; "last row"
    * becomes max-by event time (b-decks are chronologically ordered).
    */
  def stormSummaries(bdeck: DataFrame): DataFrame = {
    val rowKey = struct(col("datetime"), coalesce(col("rad"), lit(0.0)))
    def firstStr(c: String) = pickByKey(rowKey, col(c), lit(""), largest = false)
    def lastStr(c: String) = pickByKey(rowKey, col(c), lit(""), largest = true)
    val grouped = fileMeta(bdeck)
      .groupBy("file", "file_basin", "file_nhc_number", "file_season")
      .agg(
        max("vmax").as("vmax_max"),
        firstStr("basin").as("basin_first"),
        pickByKey(rowKey, col("snum"), lit(0), largest = true).as("snum_last"),
        lastStr("subregion").as("subregion_last"),
        lastStr("stormname").as("name_last"),
        // mode of stormname with pandas' tie-break (lexicographic min):
        // max count, then min value — computed distributed-safe below.
        pickByKey(col("datetime"), col("lat"), lit(0.0), largest = false)
          .as("lat_first"),
        pickByKey(col("datetime"), col("lon"), lit(0.0), largest = false)
          .as("lon_first"),
        min("datetime").as("start_date"),
        max("datetime").as("end_date"))

    // pandas mode() tie-break = lexicographic MIN name (values sorted asc):
    // min over (-count, name) picks max count, then min name on ties.
    val nameMode = bdeck.filter(col("stormname").isNotNull)
      .groupBy("file", "stormname").agg(count(lit(1)).as("c"))
      .groupBy("file")
      .agg(min(struct((-col("c")).as("nc"), col("stormname").as("v")))
        .getField("v").as("name_mode"))

    val org = when(lower(col("basin_first")).isin("al", "ep", "cp"), "NHC")
      .otherwise("JTWC")
    val stormType = Atcf.stormType(col("vmax_max"), col("basin_first"))
    val rawName = coalesce(col("name_last"), col("name_mode"))

    grouped.join(nameMode, Seq("file"), "left_outer")
      .withColumn("nhc_number", col("snum_last"))
      .withColumn("region", col("basin_first"))
      .withColumn("season", col("file_season"))
      .withColumn("name",
        when(col("nhc_number") >= 70,
          Atcf.investName(org, col("nhc_number"), col("subregion_last")))
        .otherwise(concat(stormType, lit("-"), Atcf.titleCase(rawName))))
      .withColumn("nhc_id",
        Atcf.nhcId(col("region"), col("nhc_number"), col("season")))
      .withColumn("start_lat", Validators.validateLatitude(col("lat_first")))
      .withColumn("start_lon", Validators.validateLongitude(col("lon_first")))
      .select("file", "region", "nhc_number", "nhc_id", "season",
        "start_date", "end_date", "name", "start_lat", "start_lon")
  }

  /** Radial quadrant pivot for one threshold (tcdb/etl/atcf.py:418-427):
    * rXX_qq = the quadrant value of the row whose RAD == rad, as int. */
  private def radial(rad: Int, quad: String): Column =
    max(when(col("rad") === rad,
      Validators.validateDistance(col(quad)))).cast("int").as(s"r${rad}_$quad")

  /** Per-datetime observation rows with the full r34/r50/r64 pivot —
    * set-based `observationDictFromDataFrame` (tcdb/etl/atcf.py:340-385).
    */
  def observations(bdeck: DataFrame): DataFrame = {
    val first = (c: String) =>
      pickByKey(coalesce(col("rad"), lit(0.0)), col(c), lit(0.0),
        largest = false).as(c)
    bdeck.groupBy(col("file"), col("datetime").as("datetime_utc"))
      .agg(
        first("lat"), first("lon"), first("vmax"), first("mslp"),
        first("pouter"), first("roci"), first("rmw"),
        radial(34, "ne"), radial(34, "se"), radial(34, "sw"), radial(34, "nw"),
        radial(50, "ne"), radial(50, "se"), radial(50, "sw"), radial(50, "nw"),
        radial(64, "ne"), radial(64, "se"), radial(64, "sw"), radial(64, "nw"))
      .select(col("file"), col("datetime_utc"),
        Validators.validateLatitude(col("lat")).as("latitude"),
        Validators.validateLongitude(col("lon")).as("longitude"),
        Validators.validateVelocity(col("vmax")).as("intensity_kts"),
        Validators.validatePressure(col("mslp")).as("mslp_mb"),
        col("r34_ne"), col("r34_se"), col("r34_sw"), col("r34_nw"),
        col("r50_ne"), col("r50_se"), col("r50_sw"), col("r50_nw"),
        col("r64_ne"), col("r64_se"), col("r64_sw"), col("r64_nw"),
        Validators.validatePressure(col("pouter")).as("pouter_mb"),
        Validators.validateDistance(col("roci")).as("router_nmi"),
        Validators.validateDistance(col("rmw")).as("rmw_nmi"))
  }

  /** Forecast steps from an a-deck: one row per (init, model, hour) with
    * the radial pivot — set-based per-TAU upsert loop
    * (tcdb/etl/atcf_forecasts.py:119-131, atcf.py:388-415).
    *
    * Rows group by the VALIDATED hour, the step's natural key, so every
    * negative tau (CARQ carries -12 and -6) lands in the one null-hour
    * step. Among the taus that share an hour the largest raw tau wins —
    * the reference upserts per tau in ascending order, last write wins —
    * and an unparseable tau ranks below every real one; within the
    * winning tau the smallest radius row is picked, as for every hour. */
  def forecastSteps(adeck: DataFrame): DataFrame = {
    val rowKey = struct(
      coalesce(-col("tau").cast("long"), lit(Long.MaxValue)).as("t"),
      coalesce(col("rad"), lit(0.0)).as("r"))
    val first = (c: String) =>
      pickByKey(rowKey, col(c), lit(0.0), largest = false).as(c)
    fileMeta(adeck)
      .groupBy(col("file"), col("file_basin").as("region"),
        col("file_nhc_number").as("nhc_number"),
        col("file_season").as("season"),
        col("datetime").as("datetime_utc"), col("tech").as("model"),
        Validators.validateForecastStep(col("tau")).cast("int").as("hour"))
      .agg(first("lat"), first("lon"), first("vmax"), first("mslp"))
      .select(col("file"), col("region"), col("nhc_number"), col("season"),
        col("datetime_utc"), col("model"), col("hour"),
        Validators.validateLatitude(col("lat")).as("latitude"),
        Validators.validateLongitude(col("lon")).as("longitude"),
        Validators.validateVelocity(col("vmax")).as("intensity_kts"),
        Validators.validatePressure(col("mslp")).as("mslp_mb"))
  }
}
