package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet-backed table store for the pipeline outputs.
  *
  * Layout: `<root>/<table>/` parquet, partitioned by (region, season)
  * where present — the columnar analog of the reference's
  * `atcf/{basin}/{deck}/{year}` directory scheme
  * (tcdb/pipeline/adeck.py:141), giving dynamic partition pruning on the
  * two predicates every query starts with.
  */
final class Store(spark: SparkSession, root: String) {

  def path(table: String): String = s"$root/$table"

  def exists(table: String): Boolean =
    new java.io.File(path(table)).exists()

  /** Read with the EXPLICIT schema: skips footer inference (a real cost
    * at many-file scale) and — critically — stays well-defined when a
    * previous MERGE legitimately wrote an EMPTY table (a partitioned
    * empty write leaves no data files; inference would throw
    * UNABLE_TO_INFER_SCHEMA on the next micro-batch's read-modify-write).
    * Extra partition columns some callers append (e.g. season on the
    * ref-track steps) are still discovered and appended by Spark. */
  def read(table: String, schema: StructType): DataFrame =
    if (exists(table)) {
      // self-heal a compaction swap whose process died mid-way (cheap:
      // one marker-existence check when nothing is pending)
      recoverCompact(table)
      spark.read.schema(schema).parquet(path(table))
    } else empty(schema)

  /** No rows, as a local relation: Spark estimates it at 0 bytes, so a
    * missing table fits every size gate (an empty RDD-backed frame would
    * be estimated at `spark.sql.defaultSizeInBytes`, i.e. as huge). */
  private def empty(schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** Time-travel read over a BATCH-PUBLISHED table
    * ([[FsUtils.publishBatch]] drops `batch_<tag>_p*.parquet` per
    * batch): only batches with tag ≤ `asOf` are read — the state a
    * reader at that point in the ingest would have seen. Tags compare
    * NUMERICALLY when both parse as longs (micro-batch ids: "10" comes
    * after "2"), lexicographically otherwise (ISO-timestamp tags sort
    * correctly as strings). Compaction folds old batches into
    * `compacted_<gen>` files and thereby RETIRES the horizon — like a
    * vacuumed Delta table, as-of below the compaction point is
    * unanswerable, so the read fails loudly rather than returning a
    * silently incomplete frame. */
  def readAsOf(table: String, schema: StructType, asOf: String): DataFrame =
    readTagRange(table, schema, after = None, upTo = asOf)

  /** CDC-style incremental read over a BATCH-PUBLISHED table: exactly
    * the rows published after `afterTag` up to and including `upToTag` —
    * the delta a reader who last consumed at `afterTag` needs, without
    * rescanning the prefix ([[readAsOf]]'s job). Same tag-scheme and
    * compaction-horizon guards as [[readAsOf]]: both tags must order
    * under the table's single scheme, and a compacted generation makes
    * the range unanswerable (folded batches lose their tags), so it
    * fails loudly. By construction readSince(a, b) ==
    * readAsOf(b) minus readAsOf(a) on an append-published table. */
  def readSince(table: String, schema: StructType, afterTag: String,
      upToTag: String): DataFrame =
    readTagRange(table, schema, after = Some(afterTag), upTo = upToTag)

  private def readTagRange(table: String, schema: StructType,
      after: Option[String], upTo: String): DataFrame = {
    val dir = new java.io.File(path(table))
    if (!dir.exists()) return empty(schema)
    recoverCompact(table)
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    require(!files.exists(_.getName.startsWith("compacted_")),
      s"time-travel horizon lost: '$table' has compacted generations")
    val tagRe = "batch_(.+)_p\\d+\\.parquet".r
    // fail loudly on parquet files OUTSIDE the batch naming (e.g. a table
    // published via write()'s part-*.parquet): their publish point is
    // unknowable, so a tag-ranged read would silently drop them
    val untagged = files.filterNot(f => tagRe.pattern.matcher(f.getName).matches)
    require(untagged.isEmpty,
      s"'$table' is not (only) batch-published: files " +
        s"[${untagged.map(_.getName).mkString(", ")}] carry no batch tag, " +
        "so a tag-ranged read cannot place them in publish history")
    val tags = files.flatMap(f =>
      tagRe.findFirstMatchIn(f.getName).map(_.group(1))).distinct
    // one scheme per table: numeric-vs-lexical per PAIR is not a total
    // order, and a mixed table would get an arbitrary subset, not a
    // prefix of publish history
    val bounds = after.toSeq :+ upTo
    val numeric = upTo.toLongOption.isDefined
    require(bounds.forall(_.toLongOption.isDefined == numeric)
      && tags.forall(_.toLongOption.isDefined == numeric),
      s"mixed tag schemes in '$table': bounds [${bounds.mkString(", ")}] " +
        s"cannot totally order tags [${tags.mkString(", ")}]")
    def leq(a: String, b: String): Boolean =
      (a.toLongOption, b.toLongOption) match {
        case (Some(x), Some(y)) => x <= y
        case _ => a <= b
      }
    require(after.forall(a => leq(a, upTo)),
      s"empty tag range in '$table': after '${after.get}' > up-to '$upTo'")
    val keep = files.filter(f => tagRe.findFirstMatchIn(f.getName)
      .exists { m =>
        val t = m.group(1)
        leq(t, upTo) && after.forall(a => !leq(t, a))
      })
    if (keep.isEmpty) empty(schema)
    else spark.read.schema(schema).parquet(keep.map(_.getPath).toSeq: _*)
  }

  /** Full-table replace (read-modify-write MERGE target). The frame is
    * materialized to a staging dir first — Spark cannot overwrite a
    * parquet dir it is concurrently reading. */
  def write(table: String, df: DataFrame): Unit =
    writeStaged(table, df, Map.empty)

  private def writeStaged(table: String, df: DataFrame,
      options: Map[String, String]): Unit = {
    val stage = s"$root/.staging_$table"
    val partCols = Seq("region", "season").filter(df.columns.contains)
    val writer = df.write.mode(SaveMode.Overwrite).options(options)
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(stage)
    val target = new java.io.File(path(table))
    if (target.exists()) FsUtils.deleteRecursively(target)
    new java.io.File(stage).renameTo(target)
  }

  /** Parquet data files currently backing the table — the quantity
    * compaction exists to manage (each file at read time is a task, a
    * footer parse, and an open; thousands of small ones per directory is
    * the classic incremental-ingest pathology). */
  def dataFileCount(table: String): Int = {
    def walk(f: java.io.File): Int =
      // listFiles() is null on an unreadable dir or one deleted mid-walk
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(path(table)))
  }

  /** Small-file compaction: rewrite the table with each (region, season)
    * directory routed to ONE task — every replace through [[write]] can
    * leave up to `spark.sql.shuffle.partitions` files per directory, and
    * a long-running incremental pipeline accumulates the read-side cost.
    * Oversized partitions still split at `maxRecordsPerFile` (the
    * size-capped planning an OPTIMIZE job does); unpartitioned tables
    * plan round-robin by total row count. Data is untouched by
    * construction — same rows, same schema, fewer files. */
  def compact(table: String, schema: StructType,
      maxRecordsPerFile: Long = 4L * 1024 * 1024): Unit = {
    // a maintenance op must not manufacture tables: read() deliberately
    // returns an empty frame for missing tables (MERGE bootstrap), which
    // here would silently create one from a typo
    require(exists(table), s"cannot compact missing table '$table'")
    val df = read(table, schema)
    val partCols = Seq("region", "season").filter(df.columns.contains)
    val planned =
      if (partCols.nonEmpty)
        df.repartition(partCols.map(org.apache.spark.sql.functions.col): _*)
      else {
        val nFiles = math.max(1L,
          (df.count() + maxRecordsPerFile - 1) / maxRecordsPerFile)
        df.repartition(nFiles.toInt)
      }
    writeStaged(table, planned,
      Map("maxRecordsPerFile" -> maxRecordsPerFile.toString))
  }

  /** Small-file compaction for a BATCH-PUBLISHED table (one
    * `batch_<tag>_p*.parquet` drop per [[FsUtils.publishBatch]] call —
    * the unbounded-growth pathology of a long-running ingest), preserving
    * the batch-tag replay contract that [[compact]]'s full rewrite would
    * break: every data file EXCEPT those of `excludeTags` is folded into
    * `targetFiles` `compacted_<gen>_p*.parquet` files. Callers exclude
    * any tag that could still be REPLAYED (under foreachBatch
    * at-least-once, only the current batch — earlier ones are fenced by
    * the checkpoint commit), so `FsUtils.clearBatch` on a replayed tag
    * still removes exactly that batch's contribution.
    *
    * Crash-recoverable two-phase swap: the compacted output is fully
    * staged under a hidden dir and renamed to deterministic part names,
    * THEN a `_compacting` marker (generation + consumed file names) is
    * written — the commit point — then consumed files are deleted and
    * staged parts moved in. A crash before the marker changes nothing
    * (orphan staging is purged on the next attempt); a crash after it is
    * completed by [[recoverCompact]], which [[read]] runs automatically,
    * because deletes of named files and moves of staged parts are both
    * idempotent. Single-writer assumed, like every Store mutation; run
    * it between micro-batches (e.g. inside foreachBatch) or offline —
    * a concurrently EXECUTING query may hold the old file list. On an
    * object store this two-phase swap would be a manifest commit
    * instead; the marker file IS the manifest, scoped to one swap. */
  def compactBatched(table: String, schema: StructType,
      excludeTags: Set[String], targetFiles: Int = 1): Unit = {
    recoverCompact(table)
    val dir = new java.io.File(path(table))
    if (!dir.exists()) return
    val excludedPrefixes = excludeTags.map(t => s"batch_${t}_")
    val consumed = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet")
        && !excludedPrefixes.exists(f.getName.startsWith))
      .sortBy(_.getName)
    // batch drops are ALWAYS worth folding (they are the unbounded
    // growth, and folding retires their tags); short-circuit only an
    // already-compacted state
    val hasBatchFiles = consumed.exists(_.getName.startsWith("batch_"))
    if (consumed.isEmpty || (!hasBatchFiles && consumed.length <= targetFiles))
      return
    val gen = 1L + Option(dir.listFiles()).getOrElse(Array.empty)
      .flatMap(f => "compacted_(\\d+)_".r.findFirstMatchIn(f.getName)
        .map(_.group(1).toLong)).foldLeft(0L)(math.max)
    val stage = new java.io.File(dir, ".compact_stage")
    FsUtils.deleteRecursively(stage)
    spark.read.schema(schema).parquet(consumed.map(_.getPath).toSeq: _*)
      .repartition(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(stage.getPath)
    Option(stage.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).zipWithIndex
      .foreach { case (p, i) =>
        java.nio.file.Files.move(p.toPath,
          new java.io.File(stage, s"c_p$i.parquet").toPath)
      }
    val marker = new java.io.File(dir, "_compacting")
    java.nio.file.Files.write(marker.toPath,
      (gen.toString +: consumed.map(_.getName).toSeq).mkString("\n")
        .getBytes("UTF-8"))
    finishCompact(dir, marker)
  }

  /** Complete a compaction swap whose process died after the commit
    * point. No-op when no `_compacting` marker exists. */
  def recoverCompact(table: String): Unit = {
    val dir = new java.io.File(path(table))
    val marker = new java.io.File(dir, "_compacting")
    if (marker.exists()) finishCompact(dir, marker)
  }

  private def finishCompact(dir: java.io.File,
      marker: java.io.File): Unit = {
    val lines = java.nio.file.Files.readAllLines(marker.toPath)
    val gen = lines.get(0).toLong
    lines.subList(1, lines.size).forEach(n => new java.io.File(dir, n).delete())
    val stage = new java.io.File(dir, ".compact_stage")
    Option(stage.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("c_p")
        && f.getName.endsWith(".parquet"))
      .foreach { p =>
        java.nio.file.Files.move(p.toPath, new java.io.File(dir,
          s"compacted_${gen}_${p.getName.stripPrefix("c_")}").toPath)
      }
    FsUtils.deleteRecursively(stage)
    marker.delete(); ()
  }
}
