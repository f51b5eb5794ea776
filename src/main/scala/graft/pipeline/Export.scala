package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Golden-output CSV export — the reference's `db/sql_export.py:10-28`
  * workflow: mode "init" writes headerless rows with `\N` nulls
  * (re-loadable fixtures), mode "validation" writes headered CSV for
  * human diffing.
  */
object Export {

  def csv(df: DataFrame, path: String, mode: String): Unit = mode match {
    case "init" =>
      df.write.mode(SaveMode.Overwrite)
        .option("header", "false").option("nullValue", "\\N")
        .csv(path)
    case "validation" =>
      df.write.mode(SaveMode.Overwrite)
        .option("header", "true")
        .csv(path)
    case other =>
      throw new IllegalArgumentException(s"export mode: $other")
  }
}
