package graft.similarity

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.{Vector, Vectors => MlVectors}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** IVF (inverted-file) approximate nearest-neighbor search: a k-means
  * coarse quantizer assigns every corpus vector to its nearest centroid
  * (one narrow pass), queries probe their `nProbe` closest cells, and
  * exact cosine re-ranks within the probed cells.
  *
  * Scale shape: the corpus is partitioned by cell once and reused across
  * query batches; a query touches nProbe/k of the corpus. Training runs
  * on a (deterministic, seeded) sample — at 100 TB you fit the quantizer
  * on a fraction and assign with one map-side pass.
  */
object Ivf {

  case class Index(centroids: Array[(Int, Array[Double])], assigned: DataFrame)

  /** Fit the coarse quantizer and assign each vector to its cell.
    *
    * The quantizer trains on a deterministic id-strided subsample capped
    * at `trainCap` vectors (a coarse quantizer only needs the density
    * shape, not every point) — at 100 TB the fit reads a sliver while
    * assignment stays one full map-side pass. */
  def build(corpus: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", seed: Long = 42L,
      trainCap: Long = 4096L): Index = {
    val vecs = corpus.select(col(idCol).as("id"),
      col(vecCol).as("emb"),
      array_to_vector(transform(col(vecCol), x => x.cast("double"))).as("features"))
    val n = vecs.count()
    val stride = math.max(1L, n / trainCap)
    // sample on a HASH of the id, not the id itself: structured id
    // spaces (all-odd, shared factors with the stride) would otherwise
    // starve — or empty — the training set
    val train =
      if (stride == 1L) vecs
      else vecs.filter(pmod(hash(col("id")), lit(stride)) === 0)
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(8).setTol(1e-3)
      .fit(train.select("features"))
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }
    val assigned = model.transform(vecs)
      .select(col("id"), col("emb"), col("prediction").as("cell"))
      .repartition(col("cell"))
    Index(centroids, assigned)
  }

  private val centroidSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("centroid",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))))
  private val cellsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("emb",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)),
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.IntegerType)))

  /** Train once, persist, serve many — the production lifecycle [[build]]
    * alone lacks (refitting k-means per run is a fixed cost every query
    * batch pays). Two tables under `<prefix>_`: `_centroids` (k rows,
    * collected at [[load]]) and `_cells` (the full cell-assigned corpus,
    * embeddings stored as float32 — the common source width; widening at
    * re-rank is exact, so serving results match the unpersisted path
    * bit-for-bit for float sources). At 100 TB the `_cells` write is the
    * one full-corpus pass, amortized over every subsequent query batch;
    * bucket it by `cell` there so the shuffle-join serving path stays
    * zero-exchange. */
  def buildPersisted(store: graft.pipeline.Store, prefix: String,
      corpus: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", seed: Long = 42L,
      trainCap: Long = 4096L): Unit = {
    val idx = build(corpus, k, idCol, vecCol, seed, trainCap)
    val spark = corpus.sparkSession
    import spark.implicits._
    store.write(s"${prefix}_centroids",
      idx.centroids.toSeq.toDF("cell", "centroid"))
    store.write(s"${prefix}_cells", idx.assigned.select(
      col("id").cast("long").as("id"),
      transform(col("emb"), x => x.cast("float")).as("emb"),
      col("cell").cast("int").as("cell")))
  }

  /** Read a persisted index for serving: centroids collect to the driver
    * (k rows — the probe ranking is a tiny broadcast cross product), the
    * cell table stays a lazy scan pruned to probed cells by the join. */
  def load(store: graft.pipeline.Store, prefix: String): Index = {
    require(store.exists(s"${prefix}_centroids")
        && store.exists(s"${prefix}_cells"),
      s"no persisted IVF index under prefix '$prefix' — run buildPersisted")
    val cents = store.read(s"${prefix}_centroids", centroidSchema).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    Index(cents, store.read(s"${prefix}_cells", cellsSchema))
  }

  /** Above this estimated probe-side size the probes stop being
    * broadcast-able (each probe row carries the query vector, ×nProbe
    * rows per query) and the cell join runs as a shuffle join instead. */
  val BroadcastMaxProbeBytes = 16L << 20

  /** Top-k cosine neighbors probing the query's nProbe nearest cells.
    *
    * `broadcastProbes`: None (default) auto-selects from the optimizer's
    * size estimate of the query batch (no extra job) — a bounded serving
    * batch broadcasts (corpus never shuffles), while a batch-vs-batch job
    * falls back to a cell-partitioned shuffle join on both sides. */
  def topK(index: Index, queries: DataFrame, k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      broadcastProbes: Option[Boolean] = None): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = index.centroids.toSeq.toDF("cell", "centroid")

    // nearest nProbe cells per query (tiny cross product: |q| x k cells)
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val cellRank = Window.partitionBy("qid")
      .orderBy(col("cdist").asc, col("cell").asc)
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("cdist", Vectors.l2sq(col("qv"), col("centroid")))
      .withColumn("rn", row_number().over(cellRank))
      .filter(col("rn") <= nProbe)
      .select("qid", "qv", "cell")

    val useBroadcast = broadcastProbes.getOrElse(
      q.queryExecution.optimizedPlan.stats.sizeInBytes * nProbe
        <= BigInt(BroadcastMaxProbeBytes))
    val cellJoin =
      if (useBroadcast) index.assigned.join(broadcast(probes), Seq("cell"))
      // the hint keeps AQE from broadcasting small probes at run time
      else index.assigned.join(
        probes.repartition(col("cell")).hint("shuffle_merge"), Seq("cell"))

    val w = Window.partitionBy("qid")
      .orderBy(round(col("cos"), 6).desc, col("id").asc)
    cellJoin
      .filter(col("id") =!= col("qid"))
      .withColumn("cos", graft.functions.expressions.CosineSimilarity.cosineNative(col("qv"), col("emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor"))
  }
}
