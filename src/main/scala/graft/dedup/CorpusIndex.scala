package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.{Checkpoints, FsUtils, Store}

/** Persisted corpus indexes for incremental near-dup assignment — the
  * production contract behind [[Dedup.incrementalNearDup]]: a continuous
  * ingestion run BUILDS these once, READS them per batch, and APPENDS the
  * accepted novel representatives after each batch, so the corpus itself
  * is never re-hashed or re-shingled per run. (Reference analog: the
  * persistent natural-key indexes every nightly run reuses,
  * /root/reference/db/init_db_base.sql:137-145.)
  *
  * Three parquet tables under one [[Store]] root, named `<prefix>_*`:
  *  - `_exact`    (__h string, cid bigint): sha256(text) → smallest
  *    corpus doc id holding that content.
  *  - `_shingles` (id bigint, h bigint): distinct md5-60 word-shingle
  *    hashes per corpus doc — read back only for docs that band-collide
  *    with a batch (candidate-semi-joined before the verify join).
  *  - `_bands`    (cid bigint, band int, bsig array<bigint>): MinHash
  *    band signatures — the LSH candidate index a batch joins against.
  *
  * Invariants the caller owns: `shingleSize`/`numHashes`/`bands` must
  * match across build/assign/append for one prefix (they define the
  * signature space), doc ids are integral, and [[append]] receives only
  * docs whose content hash is absent from the index — exactly what the
  * `matched = 'novel'` self-representative rows of an [[assign]] result
  * are by construction.
  */
object CorpusIndex {

  private val exactSchema = StructType(Seq(
    StructField("__h", StringType), StructField("cid", LongType)))
  private val shingleSchema = StructType(Seq(
    StructField("id", LongType), StructField("h", LongType)))
  private val bandSchema = StructType(Seq(
    StructField("cid", LongType), StructField("band", IntegerType),
    StructField("bsig", ArrayType(LongType))))
  private val metaSchema = StructType(Seq(
    StructField("shingle_size", IntegerType),
    StructField("num_hashes", IntegerType),
    StructField("bands", IntegerType)))

  /** The signature-space parameters are recorded at build time and
    * require-checked on every assign/append: a mismatched caller would
    * otherwise silently match nothing on the band join (different bsig
    * lengths) and, worse, append incompatible signatures the index can
    * never query correctly again.
    *
    * The stored triple is cached per meta-table path after the first
    * read — the parameters are immutable for the life of a built index
    * ([[build]] invalidates on rebuild), and the per-call collect was a
    * measurable fixed cost at the head of every [[assign]], i.e. of
    * every streaming micro-batch. */
  private val metaCache =
    scala.collection.concurrent.TrieMap.empty[String, (Int, Int, Int)]

  private def checkMeta(store: Store, prefix: String, shingleSize: Int,
      numHashes: Int, bands: Int): Unit = {
    val stored = metaCache.getOrElseUpdate(store.path(s"${prefix}_meta"), {
      val rows = store.read(s"${prefix}_meta", metaSchema).collect()
      require(rows.nonEmpty,
        s"corpus index '$prefix' has no ${prefix}_meta table — built by an incompatible version, or a rebuild died mid-replace?")
      val m = rows.head
      (m.getInt(0), m.getInt(1), m.getInt(2))
    })
    require(stored == ((shingleSize, numHashes, bands)),
      s"corpus index '$prefix' was built with (shingleSize=${stored._1}, " +
        s"numHashes=${stored._2}, bands=${stored._3}); caller passed " +
        s"($shingleSize, $numHashes, $bands)")
  }

  private def indexRows(docs: DataFrame, textCol: String, idCol: String,
      shingleSize: Int): (DataFrame, DataFrame) = {
    val c = docs.select(col(idCol).cast("long").as("id"),
      col(textCol).as("t"))
    val rows = Dedup.shingleStringRows(c, "t", "id", shingleSize)
      .select(col("id"), Dedup.md5Hash60(col("sh")).as("h")).distinct()
    val exact = c.select(sha2(col("t"), 256).as("__h"), col("id"))
      .groupBy("__h").agg(min("id").as("cid"))
    (exact, rows)
  }

  /** One-time full-corpus index build (replaces any existing tables).
    *
    * Rebuild atomicity: the `_meta` table is DELETED first and written
    * LAST. A rebuild over an existing prefix replaces the three data
    * tables one by one; without this ordering a crash mid-replace would
    * leave the OLD meta (same parameters) readable over a
    * mixed-generation index, which [[checkMeta]] would accept and
    * [[assign]] silently mis-match against. With it, a half-replaced
    * index has no meta and fails loudly on the next use.
    *
    * Keeps Spark's code generation: the build reads the full corpus, and
    * an interpreted build would leave the Janino warm-up to the
    * full-corpus passes that follow it. */
  def build(store: Store, prefix: String, corpus: DataFrame,
      textCol: String, idCol: String, shingleSize: Int = 3,
      numHashes: Int = 32, bands: Int = 8): Unit = {
    metaCache.remove(store.path(s"${prefix}_meta"))
    FsUtils.deleteRecursively(
      new java.io.File(store.path(s"${prefix}_meta")))
    FsUtils.deleteRecursively(
      new java.io.File(store.path(s"${prefix}_commits")))
    val (exact, rows) = indexRows(corpus, textCol, idCol, shingleSize)
    val r = rows.persist() // feeds both the shingle and the band table
    store.write(s"${prefix}_exact", exact)
    store.write(s"${prefix}_shingles", r)
    store.write(s"${prefix}_bands",
      Dedup.portableBandRows(r, numHashes, bands).toDF("cid", "band", "bsig"))
    r.unpersist(false)
    store.write(s"${prefix}_meta", corpus.sparkSession.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(shingleSize, numHashes, bands)),
      metaSchema))
  }

  /** Per-batch assignment against the PREBUILT indexes — the hot path of
    * continuous ingestion: only the three index tables are read; the
    * corpus documents themselves are never touched. Decision semantics
    * are identical to [[Dedup.incrementalNearDup]] (exact sha2 match,
    * else LSH-verified near match, else batch-local novel closure).
    *
    * When the batch and the three index tables together fit the
    * broadcast threshold ([[Checkpoints.localInterpretedIfFits]]) the
    * assignment runs without code generation and comes back driver-held
    * (one row per batch doc): a bounded batch does too little work to
    * repay compiling its ~70 jobs' plans. Otherwise it returns lazily,
    * with codegen, as before. [[graft.tools.IncrementalScaleProbe]]
    * times both postures as the index grows: at 4 cores codegen starts
    * to win between 17 and 31 MB of summed estimate, above the default
    * 10 MB threshold. */
  def assign(store: Store, prefix: String, batch: DataFrame,
      textCol: String, idCol: String, shingleSize: Int = 3,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      maxIter: Int = 20): DataFrame = {
    checkMeta(store, prefix, shingleSize, numHashes, bands)
    IndexCommits.validate(store, prefix, Seq("_exact", "_shingles", "_bands"))
    val exact = store.read(s"${prefix}_exact", exactSchema)
    val shingles = store.read(s"${prefix}_shingles", shingleSchema)
    val bandRows = store.read(s"${prefix}_bands", bandSchema)
    Checkpoints.localInterpretedIfFits(batch, exact, shingles, bandRows)(
      Dedup.assignAgainstIndexes(exact, shingles, bandRows, batch, textCol,
        idCol, shingleSize, numHashes, bands, threshold, maxIter))
  }

  /** Append accepted new corpus members (novel self-representatives of an
    * [[assign]] result, with their text re-attached) to all three
    * indexes. Appends are file publications tagged by `batchTag` — no
    * read-modify-write of the existing index data, so the per-batch
    * maintenance cost is proportional to the BATCH, not the corpus, and
    * re-publishing the same tag REPLACES the previous attempt's files
    * instead of duplicating them (replay-safe; pair with [[clearBatch]]
    * at batch start for exactly-once effects under foreachBatch's
    * at-least-once delivery).
    *
    * Runs without code generation when `accepted` fits the broadcast
    * threshold, as [[assign]] does; derive it from the batch with a semi
    * join, since a plain join's estimate is the product of its sides. */
  def append(store: Store, prefix: String, accepted: DataFrame,
      textCol: String, idCol: String, batchTag: String,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8): Unit = {
    checkMeta(store, prefix, shingleSize, numHashes, bands)
    Checkpoints.interpretedIfFits(accepted) {
      val (exact, rows) = indexRows(accepted, textCol, idCol, shingleSize)
      val r = rows.persist()
      FsUtils.publishBatch(exact, store.path(s"${prefix}_exact"), batchTag)
      FsUtils.publishBatch(r, store.path(s"${prefix}_shingles"), batchTag)
      FsUtils.publishBatch(
        Dedup.portableBandRows(r, numHashes, bands).toDF("cid", "band", "bsig"),
        store.path(s"${prefix}_bands"), batchTag)
      r.unpersist(false)
    }
    // cross-table commit point, written LAST: a crash anywhere above
    // leaves the tag uncommitted and [[IndexCommits.validate]] fails the next
    // assign loudly instead of near-matching against a partial batch
    IndexCommits.mark(store, prefix, batchTag)
  }

  /** Purge every index file a previous attempt of `batchTag` published —
    * the batch-start half of the replay-safety contract: a half-applied
    * append from a crashed attempt must not be visible to the replayed
    * batch's [[assign]]. The tag's commit marker goes FIRST: from that
    * moment the old attempt is invalid, so no ordering of the subsequent
    * file purges can present a partial batch as committed. */
  def clearBatch(store: Store, prefix: String, batchTag: String): Unit = {
    IndexCommits.unmark(store, prefix, batchTag)
    Seq("_exact", "_shingles", "_bands").foreach(sfx =>
      FsUtils.clearBatch(store.path(s"$prefix$sfx"), batchTag))
  }

  /** Fold every batch append EXCEPT `excludeTags` (plus any previous
    * compaction generation) into `targetFiles` files per index table —
    * [[Store.compactBatched]] applied to all three tables, keeping the
    * replay contract: exclude any tag that could still be replayed
    * (under foreachBatch, the CURRENT batch; earlier ones are fenced by
    * the stream checkpoint). Consumed tags' commit markers are dropped
    * afterwards — their batch files no longer exist to validate. A crash
    * mid-compact self-heals on the next read ([[Store.recoverCompact]]);
    * markers surviving such a crash are a harmless superset until then. */
  def compact(store: Store, prefix: String,
      excludeTags: Set[String] = Set.empty, targetFiles: Int = 1): Unit = {
    Seq("_exact" -> exactSchema, "_shingles" -> shingleSchema,
        "_bands" -> bandSchema).foreach { case (sfx, schema) =>
      store.compactBatched(s"$prefix$sfx", schema, excludeTags, targetFiles)
    }
    IndexCommits.retireExcept(store, prefix, excludeTags)
  }
}
