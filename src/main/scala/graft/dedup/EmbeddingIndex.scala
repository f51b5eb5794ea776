package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.{FsUtils, Store}

/** Persisted hyperplane-LSH index for incremental EMBEDDING near-dup
  * assignment — the vector analog of [[CorpusIndex]], completing the
  * build-once / read-per-batch / append-accepted lifecycle for the
  * embedding modality: a continuous ingestion run never re-bucketizes
  * the corpus, per-batch cost is proportional to the batch and its
  * bucket collisions, and accepted novel vectors become matchable by the
  * next batch.
  *
  * Two parquet tables under one [[Store]] root, named `<prefix>_*`:
  *  - `_vecs`    (id bigint, v array<double>): the corpus vectors,
  *    read back only for docs that bucket-collide with a batch.
  *  - `_buckets` (id bigint, tbl int, bkt long): one row per hyperplane
  *    table per vector — the LSH candidate index a batch joins against.
  *
  * The signature space (dim, bitsPerTable, tables, seed) is recorded in
  * `_meta` at build time and require-checked on every assign/append;
  * appends are batch-tagged file publications with the same cross-table
  * commit markers ([[IndexCommits]]) and the same clearBatch +
  * same-tag-replay contract as the text indexes, and
  * [[Store.compactBatched]] applies to both tables via [[compact]].
  *
  * Keeps Spark's code generation, unlike [[CorpusIndex]]'s batch path:
  * no workload measures its batches yet. */
object EmbeddingIndex {

  private val vecsSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", ArrayType(DoubleType))))
  private val bucketsSchema = StructType(Seq(
    StructField("id", LongType), StructField("tbl", IntegerType),
    StructField("bkt", LongType)))
  private val metaSchema = StructType(Seq(
    StructField("dim", IntegerType),
    StructField("bits_per_table", IntegerType),
    StructField("tables", IntegerType),
    StructField("seed", LongType)))

  private val suffixes = Seq("_vecs", "_buckets")

  private val metaCache =
    scala.collection.concurrent.TrieMap.empty[String, (Int, Int, Int, Long)]

  private def checkMeta(store: Store, prefix: String): (Int, Int, Int, Long) = {
    val stored = metaCache.getOrElseUpdate(store.path(s"${prefix}_meta"), {
      val rows = store.read(s"${prefix}_meta", metaSchema).collect()
      require(rows.nonEmpty,
        s"embedding index '$prefix' has no ${prefix}_meta table — " +
          "never built, or a rebuild died mid-replace?")
      val m = rows.head
      (m.getInt(0), m.getInt(1), m.getInt(2), m.getLong(3))
    })
    stored
  }

  private def indexRows(vecs: DataFrame, vecCol: String, idCol: String,
      planes: Seq[Seq[Seq[Double]]]): (DataFrame, DataFrame) = {
    import graft.functions.expressions.HyperplaneBuckets.bucketsNative
    val v = vecs.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val buckets = v.select(col("id"),
        posexplode(bucketsNative(col("v"), planes)).as(Seq("tbl", "bkt")))
    (v, buckets)
  }

  /** One-time full-corpus build (replaces any existing tables); `_meta`
    * deleted first and written last — same rebuild atomicity as
    * [[CorpusIndex.build]]. Geometry defaults to
    * [[Dedup.lshParamsFor]] at the given threshold when bits/tables are
    * not forced. */
  def build(store: Store, prefix: String, corpus: DataFrame,
      vecCol: String, idCol: String, dim: Int, threshold: Double = 0.9,
      bitsPerTable: Int = 0, tables: Int = 0, seed: Long = 42L): Unit = {
    val (autoBits, autoTables) =
      if (bitsPerTable > 0 && tables > 0) (bitsPerTable, tables)
      else Dedup.lshParamsFor(corpus.count(), threshold)
    metaCache.remove(store.path(s"${prefix}_meta"))
    FsUtils.deleteRecursively(
      new java.io.File(store.path(s"${prefix}_meta")))
    FsUtils.deleteRecursively(IndexCommits.dir(store, prefix))
    val planes = Dedup.hyperplaneTables(autoTables, autoBits, dim, seed)
    val (v, buckets) = indexRows(corpus, vecCol, idCol, planes)
    store.write(s"${prefix}_vecs", v)
    store.write(s"${prefix}_buckets", buckets)
    store.write(s"${prefix}_meta", corpus.sparkSession.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(dim, autoBits, autoTables, seed)),
      metaSchema))
  }

  /** Per-batch assignment against the PREBUILT index: best corpus match
    * at cosine >= threshold (ties to the smallest corpus id), else
    * batch-local novel closure — [[Dedup.assignEmbeddings]] over the
    * store-read relations. */
  def assign(store: Store, prefix: String, batch: DataFrame,
      vecCol: String, idCol: String, threshold: Double,
      maxIter: Int = 20): DataFrame = {
    val (dim, bits, tables, seed) = checkMeta(store, prefix)
    IndexCommits.validate(store, prefix, suffixes)
    Dedup.assignEmbeddings(
      store.read(s"${prefix}_buckets", bucketsSchema),
      store.read(s"${prefix}_vecs", vecsSchema),
      batch, vecCol, idCol,
      Dedup.hyperplaneTables(tables, bits, dim, seed), threshold, maxIter)
  }

  /** Append accepted new corpus vectors (novel self-representatives of
    * an [[assign]] result with their vectors re-attached) — batch-tagged
    * publications, commit marker last. */
  def append(store: Store, prefix: String, accepted: DataFrame,
      vecCol: String, idCol: String, batchTag: String): Unit = {
    val (dim, bits, tables, seed) = checkMeta(store, prefix)
    val planes = Dedup.hyperplaneTables(tables, bits, dim, seed)
    val vp = accepted.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .persist() // feeds both tables
    FsUtils.publishBatch(vp, store.path(s"${prefix}_vecs"), batchTag)
    FsUtils.publishBatch(
      vp.select(col("id"), posexplode(
          graft.functions.expressions.HyperplaneBuckets.bucketsNative(
            col("v"), planes)).as(Seq("tbl", "bkt"))),
      store.path(s"${prefix}_buckets"), batchTag)
    vp.unpersist(false)
    IndexCommits.mark(store, prefix, batchTag)
  }

  /** Purge a tag's files (marker first — see [[CorpusIndex.clearBatch]]
    * for the ordering argument). */
  def clearBatch(store: Store, prefix: String, batchTag: String): Unit = {
    IndexCommits.unmark(store, prefix, batchTag)
    suffixes.foreach(sfx =>
      FsUtils.clearBatch(store.path(s"$prefix$sfx"), batchTag))
  }

  /** Fold batch appends except still-replayable tags into one compacted
    * generation per table — [[Store.compactBatched]] semantics. */
  def compact(store: Store, prefix: String,
      excludeTags: Set[String] = Set.empty, targetFiles: Int = 1): Unit = {
    Seq("_vecs" -> vecsSchema, "_buckets" -> bucketsSchema)
      .foreach { case (sfx, schema) =>
        store.compactBatched(s"$prefix$sfx", schema, excludeTags, targetFiles)
      }
    IndexCommits.retireExcept(store, prefix, excludeTags)
  }
}
