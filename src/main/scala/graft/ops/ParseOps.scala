package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.parse.AtcfParser

/** DuckDB-differential gates for the ATCF parse path (SURVEY.md §2.1
  * S1–S5 + §2.4 A4/A5/A8 + §2.7 F1–F7) — the reference's core competency
  * (tcdb/etl/atcf.py:19-171,289-427, scripts/download_parse_tcvitals.py).
  *
  * There are no raw deck files in the driver's parquet testdata, so each
  * gate SYNTHESIZES raw deck text deterministically from `orders` /
  * `customer` keys — every field defined ONCE as a (name, Spark column,
  * DuckDB SQL) triple so both engines construct byte-identical lines and
  * the differential exercises the PARSE + summarize logic, not the data.
  * Coverage includes ragged rows (<18 fields, dropped), short rows (18 of
  * 37 fields, extras null-padded), blank fields (→ null), padded fields
  * (→ trim), hemisphere lat/lon decode, invest naming, mode tie-breaks,
  * the r34/r50/r64 radial pivot, and tcvitals multi-sentinel NA decode.
  */
object ParseOps {

  // ------------------------------------------------------- shared generator

  /** Storm-name pool; the summaries oracle replays `str.title()` results
    * as literals, which keeps the oracle independent of titleCase. */
  private val names = Seq("ALPHA", "ONE-E", "BRAVO TWO", "HOTEL", "SIERRA")
  private val titledNames =
    Seq("Alpha", "One-E", "Bravo Two", "Hotel", "Sierra")

  /** One raw deck field: output column name, Spark construction, and the
    * byte-identical DuckDB construction (over CTE cols ok/g/rad/nn/season/
    * basin/dt). */
  private final case class F(name: String, spark: Column, sql: String)

  private def caseOf(key: Column, pairs: Seq[(Int, String)], dflt: String): Column =
    pairs.foldLeft(when(lit(false), lit(""))) { case (c, (k, v)) =>
      c.when(key === k, lit(v))
    }.otherwise(lit(dflt))

  private val ok = col("ok")
  private val g = col("g")
  private val rad = col("rad")

  private def okS(c: Column): Column = c.cast("string")

  /** The 37 b-deck positional fields in Schemas.bDeckColumns order. */
  private def bdeckFields: Seq[F] = {
    val nameIdx = (g + when(ok % 7 < 2, 1).otherwise(0)) % 5
    Seq(
      F("basin", col("basin"), "basin"),
      F("snum", lpad(okS(col("nn")), 2, "0"),
        "lpad(CAST(nn AS VARCHAR),2,'0')"),
      F("datetime", col("dt"), "dt"),
      F("technum", lit(" "), "' '"),
      F("tech", lit(" BEST"), "' BEST'"),
      F("tau", lit("  0"), "'  0'"),
      F("lat", concat(lit(" "), okS(ok % 900),
          when(ok % 2 === 0, "N").otherwise("S")),
        "' ' || CAST(ok % 900 AS VARCHAR) || CASE WHEN ok % 2 = 0 THEN 'N' ELSE 'S' END"),
      F("lon", concat(lit(" "), okS(ok % 1795),
          when(ok % 3 === 0, "W").otherwise("E")),
        "' ' || CAST(ok % 1795 AS VARCHAR) || CASE WHEN ok % 3 = 0 THEN 'W' ELSE 'E' END"),
      F("vmax", when(ok % 13 === 0, "").otherwise(okS(ok % 300 + rad)),
        "CASE WHEN ok % 13 = 0 THEN '' ELSE CAST(ok % 300 + rad AS VARCHAR) END"),
      F("mslp", when(ok % 17 === 0, "").otherwise(okS(lit(800) + ok % 300)),
        "CASE WHEN ok % 17 = 0 THEN '' ELSE CAST(800 + ok % 300 AS VARCHAR) END"),
      F("ty", lit("XX"), "'XX'"),
      F("rad", okS(rad), "CAST(rad AS VARCHAR)"),
      F("windcode", lit("NEQ"), "'NEQ'"),
      F("ne", okS((ok + rad) % 400 - 50), "CAST((ok + rad) % 400 - 50 AS VARCHAR)"),
      F("se", okS((ok * 2 + rad) % 400 - 50), "CAST((ok*2 + rad) % 400 - 50 AS VARCHAR)"),
      F("sw", okS((ok * 3 + rad) % 400 - 50), "CAST((ok*3 + rad) % 400 - 50 AS VARCHAR)"),
      F("nw", okS((ok * 5 + rad) % 400 - 50), "CAST((ok*5 + rad) % 400 - 50 AS VARCHAR)"),
      F("pouter", when(ok % 11 === 0, "").otherwise(okS(lit(900) + ok % 200)),
        "CASE WHEN ok % 11 = 0 THEN '' ELSE CAST(900 + ok % 200 AS VARCHAR) END"),
      F("roci", okS(ok % 500 - 20), "CAST(ok % 500 - 20 AS VARCHAR)"),
      F("rmw", okS(ok % 150 - 10), "CAST(ok % 150 - 10 AS VARCHAR)"),
      F("gusts", okS(ok % 200), "CAST(ok % 200 AS VARCHAR)"),
      F("eye", lit(""), "''"),
      F("subregion", caseOf((ok % 3).cast("int"), Seq(0 -> "", 1 -> "E"), "W"),
        "CASE CAST(ok % 3 AS INT) WHEN 0 THEN '' WHEN 1 THEN 'E' ELSE 'W' END"),
      F("maxseas", lit(""), "''"),
      F("initials", lit(" XY"), "' XY'"),
      F("dir", okS(ok % 400), "CAST(ok % 400 AS VARCHAR)"),
      F("speed", okS(ok % 40), "CAST(ok % 40 AS VARCHAR)"),
      F("stormname",
        when(col("nn") >= 70, "INVEST")
          .when(ok % 10 === 9 || ok % 23 === 0, "")
          .otherwise(caseOf(nameIdx.cast("int"),
            names.init.zipWithIndex.map(_.swap), names.last)),
        s"""CASE WHEN nn >= 70 THEN 'INVEST' WHEN ok % 10 = 9 OR ok % 23 = 0 THEN ''
           | ELSE (CASE CAST((g + CASE WHEN ok % 7 < 2 THEN 1 ELSE 0 END) % 5 AS INT)
           |  ${names.init.zipWithIndex.map { case (n, i) => s"WHEN $i THEN '$n'" }.mkString(" ")}
           |  ELSE '${names.last}' END) END""".stripMargin.replace("\n", "")),
      F("depth", lit("D"), "'D'"),
      F("seas", lit(""), "''"),
      F("seascode", lit(""), "''"),
      F("seas1", okS((ok + 1) % 60 - 5), "CAST((ok + 1) % 60 - 5 AS VARCHAR)"),
      F("seas2", okS((ok + 2) % 60 - 5), "CAST((ok + 2) % 60 - 5 AS VARCHAR)"),
      F("seas3", okS((ok + 3) % 60 - 5), "CAST((ok + 3) % 60 - 5 AS VARCHAR)"),
      F("seas4", okS((ok + 4) % 60 - 5), "CAST((ok + 4) % 60 - 5 AS VARCHAR)"),
      F("userdefined", lit(""), "''"),
      F("userdata", lit(""), "''"))
  }

  /** a-deck: the 17 positional fields (tech = forecast model, tau = lead
    * hour, some negative → validator-nulled) plus 3 trailing extras so the
    * line clears the 18-field ragged gate, as real a-decks do. A -12 init
    * carries its 64 kt radius at -6, so one (file, init, model) has two
    * negative taus, as CARQ's -12 and -6 lines do in a real a-deck. */
  private def adeckFields: Seq[F] = {
    val b = bdeckFields
    val tech = F("tech",
      caseOf((ok % 4).cast("int"), Seq(0 -> " AVNO", 1 -> "GFSO", 2 -> "HWRF"), "OFCL"),
      "CASE CAST(ok % 4 AS INT) WHEN 0 THEN ' AVNO' WHEN 1 THEN 'GFSO' WHEN 2 THEN 'HWRF' ELSE 'OFCL' END")
    val tau = F("tau",
      when(ok % 10 === 0 && rad === 64, "-6").otherwise(okS((ok % 10) * 12 - 12)),
      "CASE WHEN ok % 10 = 0 AND rad = 64 THEN '-6' ELSE CAST((ok % 10) * 12 - 12 AS VARCHAR) END")
    b.take(17).map {
      case f if f.name == "tech" => tech
      case f if f.name == "tau" => tau
      case f => f
    } ++ b.slice(20, 23) // gusts, eye, subregion as trailing junk
  }

  // Spark-side construction ------------------------------------------------

  private def rawBase(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "orders").select(col("o_orderkey").as("ok"))
      .filter(col("ok") % 4 < 2)
      .withColumn("g", col("ok") % 40)
      .withColumn("rad", explode(array(lit(34), lit(50), lit(64))))
      .withColumn("nn",
        when(col("g") % 8 === 0, lit(70) + col("g") % 20)
          .otherwise(col("g") % 30 + 1))
      .withColumn("season", lit(2020) + col("g") % 4)
      .withColumn("basin", caseOf((col("g") % 5).cast("int"),
        Seq(0 -> "AL", 1 -> "EP", 2 -> "WP", 3 -> "SH"), "IO"))
      // time index floor(ok/40) is unique within a file (a file's keys all
      // share ok % 40 = g); % 20000 keeps epoch seconds < 2^31 (DuckDB's
      // interval multiply is INT32) — unique through sf0.1's key range.
      .withColumn("dt", date_format(
        timestamp_seconds(lit(1590969600L) +
          (floor(col("ok") / 40).cast("long") % 20000) * 21600), "yyyyMMddHH"))

  /** Raw (file, value) deck lines: ~5% ragged (5 fields, dropped by the
    * parser), ~5% short (18 fields, extras null-padded), rest full. */
  private def rawLines(spark: SparkSession, dir: String, defs: Seq[F],
      filePrefix: String): DataFrame = {
    val withFields = defs.zipWithIndex.foldLeft(rawBase(spark, dir)) {
      case (d, (f, i)) => d.withColumn(f"c${i + 1}%02d", f.spark)
    }
    val cs = (1 to defs.size).map(i => col(f"c$i%02d"))
    withFields
      .withColumn("file", concat(lit(filePrefix), lower(col("basin")),
        lpad(col("nn").cast("string"), 2, "0"), col("season").cast("string"),
        lit(".dat")))
      .withColumn("value",
        when(col("ok") % 19 === 0, concat_ws(",", cs.take(5): _*))
          .when(col("ok") % 19 === 1, concat_ws(",", cs.take(18): _*))
          .otherwise(concat_ws(",", cs: _*)))
      .select("file", "value")
  }

  /** Generated fixture lines are memoized per (prefix, dir) AND
    * materialized via localCheckpoint: the barrier stops the parser's 37
    * positional get(split(value)) from inlining the 37-expression
    * concat_ws generator (a ~1400-subtree plan that blows optimizer
    * heap), and the memo makes the six parse gates share one generation
    * pass instead of re-running it per query. Real deck files have
    * neither problem — this is fixture-construction cost only. */
  private val lineCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  private def cachedLines(key: String, dir: String)(mk: => DataFrame): DataFrame = {
    val df = mk
    // keyed by session too: a checkpointed frame's blocks die with its
    // SparkContext, so a later session must not see a stale entry
    lineCache.getOrElseUpdate((df.sparkSession, key, dir),
      // the source keys come from ONE small parquet file (one partition);
      // spread the fixture so the 37-column parse uses every core
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        .transform(graft.pipeline.Checkpoints.stable))
  }

  def bdeckLines(spark: SparkSession, dir: String): DataFrame =
    cachedLines("b", dir)(rawLines(spark, dir, bdeckFields, "b"))

  def adeckLines(spark: SparkSession, dir: String): DataFrame =
    cachedLines("a", dir)(rawLines(spark, dir, adeckFields, "a"))

  // DuckDB-side construction ----------------------------------------------

  private def cw(n: Range): String =
    s"concat_ws(',', ${n.map(i => f"c$i%02d").mkString(", ")})"

  /** WITH-clause prefix reconstructing the exact same (file, value) lines
    * in DuckDB. */
  private def rawCte(defs: Seq[F], filePrefix: String): String = {
    val fieldSelects = defs.zipWithIndex
      .map { case (f, i) => f"${f.sql} AS c${i + 1}%02d" }.mkString(",\n  ")
    s"""keys AS (SELECT o_orderkey AS ok, o_orderkey % 40 AS g FROM orders
       |  WHERE o_orderkey % 4 < 2),
       |rr AS (SELECT unnest([34,50,64]) AS rad),
       |base AS (SELECT ok, g, rad,
       |  CASE WHEN g % 8 = 0 THEN 70 + g % 20 ELSE g % 30 + 1 END AS nn,
       |  2020 + g % 4 AS season,
       |  CASE CAST(g % 5 AS INT) WHEN 0 THEN 'AL' WHEN 1 THEN 'EP'
       |    WHEN 2 THEN 'WP' WHEN 3 THEN 'SH' ELSE 'IO' END AS basin,
       |  strftime(TIMESTAMP '1970-01-01' + INTERVAL 1 SECOND *
       |    CAST(1590969600 + (CAST(floor(ok/40) AS BIGINT) % 20000)*21600
       |      AS INT), '%Y%m%d%H') AS dt
       |  FROM keys CROSS JOIN rr),
       |f AS (SELECT ok,
       |  '$filePrefix' || lower(basin) || lpad(CAST(nn AS VARCHAR),2,'0') ||
       |    CAST(season AS VARCHAR) || '.dat' AS file,
       |  $fieldSelects FROM base),
       |lines AS (SELECT file,
       |  CASE WHEN ok % 19 = 0 THEN ${cw(1 to 5)}
       |       WHEN ok % 19 = 1 THEN ${cw(1 to 18)}
       |       ELSE ${cw(1 to defs.size)} END AS value FROM f)""".stripMargin
  }

  /** Positional decode of one column, replaying AtcfParser/Atcf semantics
    * in DuckDB (1-based list index; OOB → NULL). */
  private def decodeSql(name: String, i: Int, numeric: Set[String]): String = {
    val p = s"p[$i]"
    val t = s"trim($p)"
    name match {
      case "datetime" => s"strptime($t, '%Y%m%d%H') AS datetime"
      case "lat" =>
        s"""CASE WHEN $t IS NULL THEN NULL
           | WHEN right($t,1) = 'N' THEN CAST(left($t, length($t)-1) AS DOUBLE)/10.0
           | ELSE -(CAST(left($t, length($t)-1) AS DOUBLE)/10.0) + 0.0 END AS lat""".stripMargin.replace("\n", "")
      case "lon" =>
        s"""CASE WHEN $t IS NULL THEN NULL
           | WHEN right($t,1) = 'W' THEN -(CAST(left($t, length($t)-1) AS DOUBLE)/10.0) + 0.0
           | ELSE CAST(left($t, length($t)-1) AS DOUBLE)/10.0 END AS lon""".stripMargin.replace("\n", "")
      case "snum" | "tau" => s"CAST(nullif($t,'') AS INT) AS $name"
      case n if numeric.contains(n) || n == "rad" =>
        s"CAST(nullif($t,'') AS DOUBLE) AS $n"
      case n => s"nullif($t,'') AS $n"
    }
  }

  /** `parsed` CTE: split + ragged filter + per-column decode. */
  private def parsedCte(cols: Seq[String], numeric: Set[String]): String = {
    val decodes = cols.zipWithIndex
      .map { case (n, i) => decodeSql(n, i + 1, numeric) }.mkString(",\n  ")
    s"""sp AS (SELECT file, str_split(value, ',') AS p FROM lines
       |  WHERE len(str_split(value, ',')) >= 18),
       |parsed AS (SELECT file,
       |  $decodes FROM sp)""".stripMargin
  }

  private[ops] def bdeckOraclePrefix: String =
    s"""WITH ${rawCte(bdeckFields, "b")},
       |${parsedCte(graft.schema.Schemas.bDeckColumns, graft.schema.Schemas.bDeckNumeric.toSet)}""".stripMargin

  private def adeckOraclePrefix: String =
    s"""WITH ${rawCte(adeckFields, "a")},
       |${parsedCte(graft.schema.Schemas.aDeckColumns, graft.schema.Schemas.aDeckNumeric.toSet)}""".stripMargin

  // ------------------------------------------------------------- the gates

  /** S2/S3 + F1–F7 — full b-deck parse: 37 decoded columns. */
  def parseBdeck(spark: SparkSession, dir: String): DataFrame =
    AtcfParser.parseBDeck(bdeckLines(spark, dir))

  private val parseBdeckOracle =
    s"""$bdeckOraclePrefix
       |SELECT * FROM parsed""".stripMargin

  /** S3 side-output — the ragged rows the parser drops. */
  def parseRejects(spark: SparkSession, dir: String): DataFrame =
    AtcfParser.rejectedLines(bdeckLines(spark, dir))

  private val parseRejectsOracle =
    s"""WITH ${rawCte(bdeckFields, "b")}
       |SELECT file, value, CAST(len(str_split(value, ',')) AS INT) AS n_fields
       |FROM lines WHERE len(str_split(value, ',')) < 18""".stripMargin

  /** Parsed b-deck, memoized+materialized: referenced by three gates and
    * twice within stormSummaries (grouped aggregate + name mode) — the
    * lineage truncation stops the branching plan from duplicating the
    * 37-column parse per reference (the StormResolver lesson). */
  private def parsedBdeck(spark: SparkSession, dir: String): DataFrame =
    cachedLines("parsed-b", dir)(AtcfParser.parseBDeck(bdeckLines(spark, dir)))

  /** A4/A5 + F5–F8 — per-file storm summaries over the parsed b-deck
    * (set-based toStormDict, tcdb/etl/atcf.py:289-337). */
  def stormSummaries(spark: SparkSession, dir: String): DataFrame =
    AtcfParser.stormSummaries(parsedBdeck(spark, dir))

  private val stormTypeCaseSql =
    """CASE WHEN region IN ('AL','EP') THEN
      |  (CASE WHEN w < 34 THEN 'TD' WHEN w < 63 THEN 'TS' ELSE 'HU' END)
      |WHEN region = 'WP' THEN
      |  (CASE WHEN w < 34 THEN 'TD' WHEN w < 63 THEN 'TS'
      |        WHEN w < 130 THEN 'TY' ELSE 'STY' END)
      |WHEN region = 'SH' THEN (CASE WHEN w < 63 THEN 'TC' ELSE 'STC' END)
      |WHEN region = 'IO' THEN
      |  (CASE WHEN w < 28 THEN 'DE' WHEN w < 34 THEN 'DD' WHEN w < 48 THEN 'CS'
      |        WHEN w < 64 THEN 'SCS' WHEN w < 90 THEN 'VSCS'
      |        WHEN w < 120 THEN 'ESCS' ELSE 'SuCS' END)
      |ELSE 'CY' END""".stripMargin

  private val titleCaseSql = names.zip(titledNames)
    .map { case (raw, t) => s"WHEN '$raw' THEN '$t'" }
    .mkString("CASE coalesce(a.name_last, m.name_mode) ", " ", " END")

  private[ops] val stormSummariesOracle =
    s"""$bdeckOraclePrefix,
       |meta AS (SELECT *,
       |  CAST(regexp_extract(file, '^.(..)(..)([0-9]{4})', 3) AS INT) AS fs
       |  FROM parsed),
       |agg AS (SELECT file, any_value(fs) AS fs,
       |  max(vmax) AS vmax_max,
       |  ${pickSql(Seq("datetime", "coalesce(rad, 0)"), "basin", "''",
            largest = false)} AS basin_first,
       |  ${pickSql(Seq("datetime", "coalesce(rad, 0)"), "snum", "0",
            largest = true)} AS snum_last,
       |  ${pickSql(Seq("datetime", "coalesce(rad, 0)"), "subregion", "''",
            largest = true)} AS subregion_last,
       |  ${pickSql(Seq("datetime", "coalesce(rad, 0)"), "stormname", "''",
            largest = true)} AS name_last,
       |  ${pickSql(Seq("datetime"), "lat", "0", largest = false)} AS lat_first,
       |  ${pickSql(Seq("datetime"), "lon", "0", largest = false)} AS lon_first,
       |  min(datetime) AS start_date, max(datetime) AS end_date
       |  FROM meta GROUP BY file),
       |nc AS (SELECT file, stormname, count(*) AS c FROM meta
       |  WHERE stormname IS NOT NULL GROUP BY file, stormname),
       |md AS (SELECT file, stormname AS name_mode FROM (
       |  SELECT file, stormname,
       |    row_number() OVER (PARTITION BY file ORDER BY c DESC, stormname ASC) AS rn
       |  FROM nc) WHERE rn = 1)
       |SELECT a.file AS file,
       |  a.basin_first AS region,
       |  a.snum_last AS nhc_number,
       |  upper(a.basin_first || lpad(CAST(a.snum_last AS VARCHAR),2,'0') ||
       |    CAST(a.fs AS VARCHAR)) AS nhc_id,
       |  a.fs AS season,
       |  a.start_date AS start_date, a.end_date AS end_date,
       |  CASE WHEN a.snum_last >= 70 THEN
       |    (CASE WHEN lower(a.basin_first) IN ('al','ep','cp') THEN 'NHC' ELSE 'JTWC' END)
       |      || '-' || lpad(CAST(a.snum_last AS VARCHAR),2,'0') || coalesce(a.subregion_last,'')
       |  ELSE
       |    (${stormTypeCaseSql.replace("region", "a.basin_first").replace(" w ", " a.vmax_max ")})
       |      || '-' || ($titleCaseSql)
       |  END AS name,
       |  CASE WHEN a.lat_first BETWEEN -90 AND 90 THEN a.lat_first END AS start_lat,
       |  CASE WHEN a.lon_first BETWEEN -180 AND 180 THEN a.lon_first END AS start_lon
       |FROM agg a LEFT JOIN md m USING (file)""".stripMargin

  /** A8 — per-datetime observations with the full r34/r50/r64 pivot
    * (tcdb/etl/atcf.py:340-427). */
  def observationsPivot(spark: SparkSession, dir: String): DataFrame =
    AtcfParser.observations(parsedBdeck(spark, dir))

  private def radialSql(r: Int, q: String): String =
    s"CAST(max(CASE WHEN rad = $r AND $q >= 0 THEN $q END) AS INT) AS r${r}_$q"

  /** DuckDB replay of [[AtcfParser.pickByKey]]: arg-min/arg-max by the
    * SAME (key…, null-rank, coalesced value) struct, so key duplicates
    * and null values order identically on both engines (DuckDB's plain
    * aggregates ignore nulls and row_number ties are arbitrary — both
    * diverge from Spark's struct order once the sf1 replica duplicates
    * (datetime, rad) keys). */
  private[ops] def pickSql(keys: Seq[String], c: String, sentinel: String,
      largest: Boolean): String = {
    val agg = if (largest) "max" else "min"
    val kFields = keys.zipWithIndex
      .map { case (k, i) => s"k$i := ($k)" }.mkString(", ")
    val sp = s"$agg(struct_pack($kFields, " +
      s"vn := CASE WHEN $c IS NULL THEN 0 ELSE 1 END, " +
      s"v := coalesce($c, $sentinel)))"
    s"CASE WHEN ($sp)['vn'] = 0 THEN NULL ELSE ($sp)['v'] END"
  }

  private val observationsOracle = {
    val f34 = Seq("lat", "lon", "vmax", "mslp", "pouter", "roci", "rmw")
      .map(c => pickSql(Seq("coalesce(rad, 0)"), c, "0", largest = false) +
        s" AS $c").mkString(",\n  ")
    val radials = (for (r <- Seq(34, 50, 64); q <- Seq("ne", "se", "sw", "nw"))
      yield radialSql(r, q)).mkString(",\n  ")
    val radialNames = (for (r <- Seq(34, 50, 64); q <- Seq("ne", "se", "sw", "nw"))
      yield s"r${r}_$q").mkString(", ")
    s"""$bdeckOraclePrefix,
       |o1 AS (SELECT file, datetime,
       |  $f34,
       |  $radials
       |  FROM parsed GROUP BY file, datetime)
       |SELECT file, datetime AS datetime_utc,
       |  CASE WHEN lat BETWEEN -90 AND 90 THEN lat END AS latitude,
       |  CASE WHEN lon BETWEEN -180 AND 180 THEN lon END AS longitude,
       |  CASE WHEN vmax BETWEEN 0 AND 250 THEN vmax END AS intensity_kts,
       |  CASE WHEN mslp IS NULL THEN CAST(1000 AS DOUBLE)
       |    WHEN (mslp BETWEEN 850 AND 1050) OR mslp = 0 THEN mslp
       |    ELSE CAST(1000 AS DOUBLE) END AS mslp_mb,
       |  $radialNames,
       |  CASE WHEN pouter IS NULL THEN CAST(1000 AS DOUBLE)
       |    WHEN (pouter BETWEEN 850 AND 1050) OR pouter = 0 THEN pouter
       |    ELSE CAST(1000 AS DOUBLE) END AS pouter_mb,
       |  CASE WHEN roci >= 0 THEN roci END AS router_nmi,
       |  CASE WHEN rmw >= 0 THEN rmw END AS rmw_nmi
       |FROM o1""".stripMargin
  }

  /** E2 core — a-deck parse → per-(init, model, hour) forecast steps
    * (tcdb/etl/atcf.py:388-415, atcf_forecasts.py:119-131). */
  def forecastSteps(spark: SparkSession, dir: String): DataFrame =
    AtcfParser.forecastSteps(AtcfParser.parseADeck(adeckLines(spark, dir)))

  /** Shared a-deck CTE chain: raw lines → parse → per-(file, init, model,
    * validated hour) rows with validators applied — used by both
    * q_forecast_steps and q_ref_track_extraction so the validator replay
    * lives ONCE. Negative taus share the null hour; the largest raw tau
    * wins, then the smallest radius. */
  private[ops] val adeckStepsCte = {
    val hour = "CASE WHEN tau >= 0 THEN tau END"
    val f34 = Seq("lat", "lon", "vmax", "mslp")
      .map(c => pickSql(Seq("coalesce(-CAST(tau AS BIGINT), 9223372036854775807)",
        "coalesce(rad, 0)"), c, "0", largest = false) +
        s" AS $c").mkString(",\n  ")
    s"""$adeckOraclePrefix,
       |o1 AS (SELECT file,
       |  upper(substr(file, 2, 2)) AS region,
       |  CAST(substr(file, 4, 2) AS INT) AS nhc_number,
       |  CAST(regexp_extract(file, '^.(..)(..)([0-9]{4})', 3) AS INT) AS season,
       |  datetime, tech, $hour AS hour,
       |  $f34
       |  FROM parsed GROUP BY file, datetime, tech, $hour),
       |vsteps AS (SELECT file, region, nhc_number, season,
       |  datetime AS datetime_utc, tech AS model, hour,
       |  CASE WHEN lat BETWEEN -90 AND 90 THEN lat END AS latitude,
       |  CASE WHEN lon BETWEEN -180 AND 180 THEN lon END AS longitude,
       |  CASE WHEN vmax BETWEEN 0 AND 250 THEN vmax END AS intensity_kts,
       |  CASE WHEN mslp IS NULL THEN CAST(1000 AS DOUBLE)
       |    WHEN (mslp BETWEEN 850 AND 1050) OR mslp = 0 THEN mslp
       |    ELSE CAST(1000 AS DOUBLE) END AS mslp_mb
       |  FROM o1)""".stripMargin
  }

  private val forecastStepsOracle =
    s"""$adeckStepsCte
       |SELECT * FROM vsteps""".stripMargin

  // ------------------------------------------------------------- tcvitals

  private val ck = col("ck")

  /** The 32 whitespace-delimited tcvitals fields
    * (scripts/download_parse_tcvitals.py:4-33). */
  private def tcvitalsFields: Seq[F] = {
    def quad(base: Int, mult: Int, sentinelMod: Int, j: Int): F = {
      val n = s"q$base$j"
      F(n, when(ck % sentinelMod === 0, "-9")
          .otherwise(okS((ck * mult + 100 * j) % 300)),
        s"CASE WHEN ck % $sentinelMod = 0 THEN '-9' ELSE CAST((ck*$mult + ${100 * j}) % 300 AS VARCHAR) END")
    }
    Seq(
      F("org", lit("NHC"), "'NHC'"),
      F("system_id", concat(lpad(okS(ck % 99), 2, "0"),
          caseOf((ck % 5).cast("int"), Seq(0 -> "L", 1 -> "E", 2 -> "W", 3 -> "A"), "B")),
        "lpad(CAST(ck % 99 AS VARCHAR),2,'0') || CASE CAST(ck % 5 AS INT) WHEN 0 THEN 'L' WHEN 1 THEN 'E' WHEN 2 THEN 'W' WHEN 3 THEN 'A' ELSE 'B' END"),
      F("storm_name", caseOf((ck % 4).cast("int"),
          Seq(0 -> "ALPHA", 1 -> "INVEST", 2 -> "NINE"), "TEST"),
        "CASE CAST(ck % 4 AS INT) WHEN 0 THEN 'ALPHA' WHEN 1 THEN 'INVEST' WHEN 2 THEN 'NINE' ELSE 'TEST' END"),
      F("date", date_format(timestamp_seconds(lit(1590969600L) + (ck % 6000) * 86400), "yyyyMMdd"),
        "strftime(TIMESTAMP '1970-01-01' + INTERVAL 1 SECOND * CAST(1590969600 + (ck % 6000)*86400 AS INT), '%Y%m%d')"),
      F("time", lpad(okS((ck % 24) * 100), 4, "0"),
        "lpad(CAST((ck % 24) * 100 AS VARCHAR),4,'0')"),
      F("latitude", concat(okS(ck % 900), when(ck % 2 === 0, "N").otherwise("S")),
        "CAST(ck % 900 AS VARCHAR) || CASE WHEN ck % 2 = 0 THEN 'N' ELSE 'S' END"),
      F("longitude", concat(okS(ck % 1800), when(ck % 3 === 0, "W").otherwise("E")),
        "CAST(ck % 1800 AS VARCHAR) || CASE WHEN ck % 3 = 0 THEN 'W' ELSE 'E' END"),
      F("storm_direction_degrees", when(ck % 9 === 0, "-99").otherwise(okS(ck % 360)),
        "CASE WHEN ck % 9 = 0 THEN '-99' ELSE CAST(ck % 360 AS VARCHAR) END"),
      F("storm_speed_dms", okS(ck % 300), "CAST(ck % 300 AS VARCHAR)"),
      F("mslp_mb", when(ck % 7 === 0, "-999").otherwise(okS(lit(900) + ck % 150)),
        "CASE WHEN ck % 7 = 0 THEN '-999' ELSE CAST(900 + ck % 150 AS VARCHAR) END"),
      F("env_press_mb", okS(lit(1000) + ck % 20), "CAST(1000 + ck % 20 AS VARCHAR)"),
      F("roci_km", when(ck % 11 === 0, "-999").otherwise(okS(ck % 800)),
        "CASE WHEN ck % 11 = 0 THEN '-999' ELSE CAST(ck % 800 AS VARCHAR) END"),
      F("vmax_ms", okS(ck % 80), "CAST(ck % 80 AS VARCHAR)"),
      F("rmw_km", when(ck % 13 === 0, "-99").otherwise(okS(ck % 100)),
        "CASE WHEN ck % 13 = 0 THEN '-99' ELSE CAST(ck % 100 AS VARCHAR) END"),
      quad(34, 1, 3, 1), quad(34, 1, 3, 2), quad(34, 1, 3, 3), quad(34, 1, 3, 4),
      F("storm_depth", caseOf((ck % 4).cast("int"),
          Seq(0 -> "D", 1 -> "M", 2 -> "S"), "X"),
        "CASE CAST(ck % 4 AS INT) WHEN 0 THEN 'D' WHEN 1 THEN 'M' WHEN 2 THEN 'S' ELSE 'X' END"),
      quad(50, 2, 5, 1), quad(50, 2, 5, 2), quad(50, 2, 5, 3), quad(50, 2, 5, 4),
      F("max_forecast_hour", when(ck % 8 === 0, "-9").otherwise(lit("72")),
        "CASE WHEN ck % 8 = 0 THEN '-9' ELSE '72' END"),
      F("max_forecast_lat", when(ck % 10 === 0, "-999N").otherwise(concat(okS(ck % 900), lit("N"))),
        "CASE WHEN ck % 10 = 0 THEN '-999N' ELSE CAST(ck % 900 AS VARCHAR) || 'N' END"),
      F("max_forecast_lon", when(ck % 12 === 0, "-999W").otherwise(concat(okS(ck % 1800), lit("E"))),
        "CASE WHEN ck % 12 = 0 THEN '-999W' ELSE CAST(ck % 1800 AS VARCHAR) || 'E' END"),
      quad(64, 3, 6, 1), quad(64, 3, 6, 2), quad(64, 3, 6, 3), quad(64, 3, 6, 4),
      F("storm_type", lit("L"), "'L'"),
      F("storm_priority", okS(ck % 9), "CAST(ck % 9 AS VARCHAR)"))
  }

  /** Raw tcvitals lines: leading/trailing blanks + one double-space gap,
    * exercising the `' +'` whitespace-split. */
  def tcvitalsLines(spark: SparkSession, dir: String): DataFrame =
    cachedLines("v", dir) { // same generator-inlining barrier as rawLines
      val defs = tcvitalsFields
      val base = load(spark, dir, "customer").select(col("c_custkey").as("ck"))
      val withFields = defs.zipWithIndex.foldLeft(base) {
        case (d, (f, i)) => d.withColumn(f"c${i + 1}%02d", f.spark)
      }
      val rest = (2 to defs.size).map(i => col(f"c$i%02d"))
      withFields.withColumn("value",
        concat(lit(" "), col("c01"), lit("  "),
          concat_ws(" ", rest: _*), lit(" ")))
        .select("value")
    }

  /** S5 — tcvitals parse with multi-sentinel NA decode. */
  def parseTcvitals(spark: SparkSession, dir: String): DataFrame =
    AtcfParser.parseTcvitals(tcvitalsLines(spark, dir))

  private val parseTcvitalsOracle = {
    val defs = tcvitalsFields
    val fieldSelects = defs.zipWithIndex
      .map { case (f, i) => f"${f.sql} AS c${i + 1}%02d" }.mkString(",\n  ")
    val restCols = (2 to defs.size).map(i => f"c$i%02d").mkString(", ")
    val nas = graft.schema.Schemas.tcvitalsNa.map(s => s"'$s'").mkString(", ")
    val decodes = graft.schema.Schemas.tcvitalsColumns.zipWithIndex.map {
      case (n, i) =>
        s"CASE WHEN p[${i + 1}] IN ($nas) THEN NULL ELSE p[${i + 1}] END AS $n"
    }.mkString(",\n  ")
    s"""WITH k AS (SELECT c_custkey AS ck FROM customer),
       |f AS (SELECT ck, $fieldSelects FROM k),
       |lines AS (SELECT ' ' || c01 || '  ' || concat_ws(' ', $restCols) || ' ' AS value FROM f),
       |sp AS (SELECT str_split_regex(trim(value), ' +') AS p FROM lines)
       |SELECT $decodes FROM sp""".stripMargin
  }

  // ------------------------------------------------- J9 analytics over Store

  /** J9 + db/track_queries.sql — the storm→steps flatten through a REAL
    * parquet Store (S8 write/read round trip, partitioned by
    * region/season): steps derive from the a-deck fixture exactly like
    * Pipelines.runAdeck (nhc_id composed from file metadata,
    * deterministic member 1), storms is a synthetic dimension keyed the
    * same way, and ReferenceQueries.trackExtraction runs against the
    * store for the lexicographically-first storm id — replayed via a
    * scalar subquery in the oracle. Name-derivation is NOT under test
    * here (q_storm_summaries gates it); the flatten and join are.
    *
    * The store construction (two partitioned writes + read-back + one-row
    * min-id probe) is FIXTURE PREP, not the operator under test, so it is
    * memoized per (session, dir): a repeat invocation — Bench warms once
    * untimed, then times two runs and reports the min — measures only
    * `trackExtraction`, the query a user actually runs against an
    * existing store. The store path is pid-scoped ([[SourceSinkOps.tmp]])
    * and the memo is session-keyed, so reuse is always of this process's
    * own freshly-written store. */
  private val storeCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (graft.pipeline.Store, String)]

  def refTrackExtraction(spark: SparkSession, dir: String): DataFrame = {
    val (store, firstId) = refStore(spark, dir)
    graft.analytics.ReferenceQueries.trackExtraction(spark, store, firstId)
  }

  /** The memoized store and its first storm id: the fixture the `q_ref_*`
    * gates and [[refSqlSurface]] query. */
  private def refStore(spark: SparkSession,
      dir: String): (graft.pipeline.Store, String) =
    storeCache.getOrElseUpdate((spark, dir), {
      val steps = AtcfParser.forecastSteps(
          AtcfParser.parseADeck(adeckLines(spark, dir)))
        .withColumn("nhc_id", graft.functions.Atcf.nhcId(
          col("region"), col("nhc_number"), col("season")))
        .withColumn("ensemble_number", lit(1))
        .withColumn("run_id", lit("r0"))
      val store = new graft.pipeline.Store(spark,
        SourceSinkOps.tmp("store", dir))
      store.write("steps", steps
        .select(graft.schema.Schemas.steps.fieldNames.map(col).toIndexedSeq :+
          col("season"): _*))
      // derive the dimension from the WRITTEN table — one parse pass total
      val written = store.read("steps", graft.schema.Schemas.steps)
      store.write("storms", written
        .select(col("nhc_id"), col("region")).distinct()
        .withColumn("name", concat(lit("S"), col("nhc_id")))
        .withColumn("annual_id",
          substring(col("nhc_id"), 3, 2).cast("int"))
        .withColumn("nhc_number",
          substring(col("nhc_id"), 3, 2).cast("int")))
      // forecasts + tracks exactly as Pipelines.runAdeckLines derives
      // them (one per distinct init/model[, member]) so the four db/*.sql
      // count analytics run over the tables a tcdb user actually queries
      val org = when(lower(col("region")).isin("al", "ep", "cp"), "NHC")
        .otherwise("JTWC")
      store.write("forecasts", written
        .select(col("region"), org.as("data_source"), col("model"),
          col("datetime_utc"))
        .distinct()
        .withColumn("run_id", lit("r0")))
      store.write("tracks", written
        .select(col("region"), col("model"), col("datetime_utc"),
          col("nhc_id"))
        .distinct()
        .withColumn("ensemble_number", lit(1))
        .withColumn("run_id", lit("r0")))
      val firstId = written.agg(min("nhc_id")).first().getString(0)
      (store, firstId)
    })

  /** db/basin_model_counts.sql:1-13 over the pipeline-built store —
    * tracks per model within basin AL (the reference's own literal). */
  def refBasinModelCounts(spark: SparkSession, dir: String): DataFrame =
    graft.analytics.ReferenceQueries
      .basinModelCounts(spark, refStore(spark, dir)._1, "AL")

  /** db/model_counts_by_basin.sql:1-12 — forecasts per basin for one
    * model. The reference's literal is 'HWRF'; the a-deck fixture only
    * emits AVNO/GFSO (ok%4<2 keys), so the gate binds 'GFSO' to keep the
    * differential non-vacuous. */
  def refModelCountsByBasin(spark: SparkSession, dir: String): DataFrame =
    graft.analytics.ReferenceQueries
      .modelCountsByBasin(spark, refStore(spark, dir)._1, "GFSO")

  /** db/basin_track_counts_by_model.sql — forecasts per model in WP. */
  def refBasinTrackCountsByModel(spark: SparkSession,
      dir: String): DataFrame =
    graft.analytics.ReferenceQueries
      .basinTrackCountsByModel(spark, refStore(spark, dir)._1, "WP")

  /** db/storm_track_counts_by_model.sql:12-15 — tracks per (storm,
    * model) in WP with the storm-name join. */
  def refStormTrackCountsByModel(spark: SparkSession,
      dir: String): DataFrame =
    graft.analytics.ReferenceQueries
      .stormTrackCountsByModel(spark, refStore(spark, dir)._1, "WP")

  /** E3(a) SQL-text surface — db/track_queries.sql:16-25 as LITERAL SQL
    * through `spark.sql` over the Store tables registered as temp views
    * ([[graft.analytics.SqlSurface]]): the natural-key translation of
    * the reference's 5-way tracks–steps–storms–forecasts join for one
    * storm and one model (surrogate ids become the composite natural
    * keys, the models dim is denormalized onto forecasts per SURVEY
    * §7.3). Every other gate builds plans with the DataFrame API; this
    * one proves the declared SQL-text lifecycle — text → Catalyst
    * parse/analyze/optimize → rows — over the same store. */
  def refSqlSurface(spark: SparkSession, dir: String): DataFrame = {
    val (store, _) = refStore(spark, dir)
    // the storm id is itself SQL (scalar subquery) — the whole gate is
    // one self-contained text, like the reference's .sql files; AVNO
    // scopes the pick because each fixture file carries a single model
    graft.analytics.SqlSurface.sql(spark, store,
      """SELECT t.nhc_id, t.ensemble_number, s.name, s.annual_id,
        |  p.hour, p.latitude, p.longitude, p.intensity_kts, p.mslp_mb,
        |  f.model, f.region, f.datetime_utc AS init
        |FROM tracks t
        |  INNER JOIN steps p ON p.region = t.region AND p.model = t.model
        |    AND p.datetime_utc = t.datetime_utc AND p.nhc_id = t.nhc_id
        |    AND p.ensemble_number = t.ensemble_number
        |  INNER JOIN storms s ON s.nhc_id = t.nhc_id
        |  INNER JOIN forecasts f ON f.region = t.region
        |    AND f.model = t.model AND f.datetime_utc = t.datetime_utc
        |WHERE t.nhc_id = (SELECT min(nhc_id) FROM tracks
        |                  WHERE model = 'AVNO')
        |  AND t.model = 'AVNO'
        |ORDER BY p.datetime_utc, p.hour""".stripMargin)
  }

  private val refSqlSurfaceOracle =
    s"""$adeckStepsCte,
       |steps AS (SELECT
       |  upper(region || lpad(CAST(nhc_number AS VARCHAR),2,'0') ||
       |    CAST(season AS VARCHAR)) AS nhc_id,
       |  region, nhc_number, datetime_utc, model, hour,
       |  latitude, longitude, intensity_kts, mslp_mb
       |  FROM vsteps)
       |SELECT nhc_id, CAST(1 AS INT) AS ensemble_number,
       |  'S' || nhc_id AS name, CAST(nhc_number AS INT) AS annual_id,
       |  hour, latitude, longitude, intensity_kts, mslp_mb,
       |  model, region, datetime_utc AS init
       |FROM steps
       |WHERE nhc_id = (SELECT min(nhc_id) FROM steps WHERE model = 'AVNO')
       |  AND model = 'AVNO'""".stripMargin

  /** Shared oracle CTE: the store's tracks/forecasts replayed from the
    * a-deck fixture the same way the store builder derives them. */
  private val refStoreCte =
    s"""$adeckStepsCte,
       |steps AS (SELECT
       |  upper(region || lpad(CAST(nhc_number AS VARCHAR),2,'0') ||
       |    CAST(season AS VARCHAR)) AS nhc_id,
       |  region, nhc_number, datetime_utc, model
       |  FROM vsteps),
       |tracks AS (SELECT DISTINCT region, model, datetime_utc, nhc_id
       |  FROM steps),
       |forecasts AS (SELECT DISTINCT region, model, datetime_utc
       |  FROM steps)""".stripMargin

  private val refBasinModelCountsOracle =
    s"""$refStoreCte
       |SELECT model, count(*) AS n_tracks FROM tracks
       |WHERE region = 'AL' GROUP BY model
       |ORDER BY n_tracks DESC, model ASC""".stripMargin

  private val refModelCountsByBasinOracle =
    s"""$refStoreCte
       |SELECT region, count(*) AS n_forecasts FROM forecasts
       |WHERE model = 'GFSO' GROUP BY region
       |ORDER BY n_forecasts DESC, region ASC""".stripMargin

  private val refBasinTrackCountsByModelOracle =
    s"""$refStoreCte
       |SELECT model, count(*) AS n_forecasts FROM forecasts
       |WHERE region = 'WP' GROUP BY model
       |ORDER BY n_forecasts DESC, model ASC""".stripMargin

  private val refStormTrackCountsByModelOracle =
    s"""$refStoreCte
       |SELECT 'S' || nhc_id AS name, model, count(*) AS n_tracks
       |FROM tracks WHERE region = 'WP'
       |GROUP BY nhc_id, model
       |ORDER BY name, model""".stripMargin

  private val refTrackExtractionOracle =
    s"""$adeckStepsCte,
       |steps AS (SELECT
       |  upper(region || lpad(CAST(nhc_number AS VARCHAR),2,'0') ||
       |    CAST(season AS VARCHAR)) AS nhc_id,
       |  nhc_number, datetime_utc AS init, model,
       |  CAST(1 AS INT) AS ensemble_number, hour,
       |  latitude, longitude, intensity_kts, mslp_mb
       |  FROM vsteps)
       |SELECT nhc_id, 'S' || nhc_id AS name,
       |  CAST(nhc_number AS INT) AS annual_id,
       |  ensemble_number, model, init, hour,
       |  latitude, longitude, intensity_kts, mslp_mb
       |FROM steps WHERE nhc_id = (SELECT min(nhc_id) FROM steps)""".stripMargin

  // --------------------------------------------------------------- registry

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_parse_bdeck", parseBdeck, Some(parseBdeckOracle), "S2/S3/F1-F7"),
    QuerySpec("q_parse_rejects", parseRejects, Some(parseRejectsOracle), "S3"),
    QuerySpec("q_parse_tcvitals", parseTcvitals, Some(parseTcvitalsOracle), "S5"),
    QuerySpec("q_storm_summaries", stormSummaries, Some(stormSummariesOracle), "A4/A5/F5-F8"),
    QuerySpec("q_observations_pivot", observationsPivot, Some(observationsOracle), "A8"),
    QuerySpec("q_forecast_steps", forecastSteps, Some(forecastStepsOracle), "A4/E2"),
    QuerySpec("q_ref_track_extraction", refTrackExtraction,
      Some(refTrackExtractionOracle), "J9/S8"),
    QuerySpec("q_ref_basin_model_counts", refBasinModelCounts,
      Some(refBasinModelCountsOracle), "A1/db-analytics"),
    QuerySpec("q_ref_model_counts_by_basin", refModelCountsByBasin,
      Some(refModelCountsByBasinOracle), "A1/db-analytics"),
    QuerySpec("q_ref_basin_track_counts_by_model", refBasinTrackCountsByModel,
      Some(refBasinTrackCountsByModelOracle), "A1/db-analytics"),
    QuerySpec("q_ref_storm_track_counts_by_model", refStormTrackCountsByModel,
      Some(refStormTrackCountsByModelOracle), "A2/J2/db-analytics"),
    QuerySpec("q_sql_surface", refSqlSurface,
      Some(refSqlSurfaceOracle), "E3a/sql-text"))
}
