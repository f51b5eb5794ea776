package graft.similarity

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ, Jégou et al. 2011 "Product Quantization for
  * Nearest Neighbor Search") — the memory-bound half of the 100 TB ANN
  * story that [[Ivf]] (cell pruning) and the int8 scan (bandwidth) leave
  * open: each corpus vector is split into `m` subspaces and every
  * subspace quantized to one of `k` codewords, so a 64-dim float32
  * vector (256 bytes) becomes `m` small codes (8 bytes at m=8, k=16 —
  * 32× smaller). Queries never decode the corpus: an asymmetric-distance
  * (ADC) scan precomputes one m×k lookup table per query and scores a
  * corpus vector with `m` table lookups over its codes.
  *
  * Scale shape: codebooks are tiny (m·k·subDim values) and broadcast;
  * encoding is one map-side pass over the corpus; the ADC scan reads
  * ONLY the code column (the full vectors stay in cold storage for an
  * optional exact re-rank of the top-R). Composes with [[Ivf]]: assign
  * codes within IVF cells and probe-prune the code scan.
  *
  * Everything here runs in EXACT integer micro-units over L2-normalized
  * vectors (round(x/‖v‖·1e6), the established cross-engine convention),
  * so encode, table build, ADC scores, and ranking replay bit-for-bit in
  * another engine: normalization makes squared-L2 order equal cosine
  * order, and integer sums are associative — no float drift anywhere.
  */
object Pq {

  /** `books(s)(c)(j)` = coordinate j of codeword c in subspace s, in the
    * same micro-units as [[microNormalized]] vectors. */
  case class Codebooks(m: Int, k: Int, subDim: Int,
      books: Array[Array[Array[Long]]]) {
    require(books.length == m && books.forall(_.length == k)
      && books.forall(_.forall(_.length == subDim)), "ragged codebooks")
  }

  /** L2-normalized micro-unit quantization: round((x/‖v‖)·1e6) as LONG.
    * The norm is the plain left-fold sum of squares (same fold order as
    * DuckDB's list_reduce, so the double is identical cross-engine);
    * callers must drop rows with zero norm first. */
  def microNormalized(vecCol: Column): Column = {
    val v = transform(vecCol, x => x.cast("double"))
    val nrm = sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x))
    transform(v, x => round(x / nrm * 1000000.0).cast("long"))
  }

  /** The L2 norm used by [[microNormalized]], for the zero-norm guard. */
  def l2Norm(vecCol: Column): Column = {
    val v = transform(vecCol, x => x.cast("double"))
    sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x))
  }

  /** Squared-L2 distance (micro-units²) between a sub-vector column and
    * one literal codeword — exact integer arithmetic. */
  private[graft] def subDist(sub: Column, codeword: Array[Long]): Column =
    aggregate(zip_with(sub, typedlit(codeword.toSeq),
        (a, b) => (a - b) * (a - b)),
      lit(0L), (a, x) => a + x)

  /** PORTABLE codebook trainer — codeword c of subspace s is the
    * sub-vector of the corpus row with the (c+1)-th smallest id. Not a
    * good quantizer (that's [[trainKMeans]]); its value is that another
    * engine can re-derive it from the data with a rank window, making
    * the whole PQ pipeline differential. k rows collect to the driver. */
  def trainHead(corpus: DataFrame, idCol: String, mvCol: String,
      m: Int, k: Int): Codebooks = {
    val dim = headSubDim(corpus, mvCol)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val rows = corpus.select(col(idCol), col(mvCol))
      .orderBy(col(idCol).asc).limit(k).collect()
    require(rows.length == k, s"codebook needs $k corpus rows, got ${rows.length}")
    val books = Array.tabulate(m) { s =>
      rows.map(_.getSeq[Long](1).slice(s * subDim, (s + 1) * subDim).toArray)
    }
    Codebooks(m, k, subDim, books)
  }

  private def headSubDim(corpus: DataFrame, mvCol: String): Int =
    corpus.select(size(col(mvCol))).head().getInt(0) match {
      case d if d > 0 => d
      case d => throw new IllegalArgumentException(s"bad vector width $d")
    }

  /** PRODUCTION codebook trainer: an independent seeded k-means per
    * subspace on a deterministic hash-strided subsample (capped at
    * `trainCap` — codebooks need the density shape, not every point;
    * at 100 TB the fit reads a sliver while encoding stays one full
    * map-side pass). Centroids are rounded back to micro-units so the
    * downstream encode/ADC arithmetic stays exact-integer. */
  def trainKMeans(corpus: DataFrame, idCol: String, mvCol: String,
      m: Int, k: Int, seed: Long = 42L, trainCap: Long = 4096L): Codebooks = {
    val dim = headSubDim(corpus, mvCol)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val n = corpus.count()
    val stride = math.max(1L, n / trainCap)
    val train =
      (if (stride == 1L) corpus
       else corpus.filter(pmod(hash(col(idCol)), lit(stride)) === 0))
        .select(col(mvCol)).cache()
    val books = Array.tabulate(m) { s =>
      val sub = train.select(array_to_vector(
        transform(slice(col(mvCol), s * subDim + 1, subDim),
          x => x.cast("double"))).as("features"))
      val model = new KMeans().setK(k).setSeed(seed + s).setMaxIter(8)
        .setTol(1e-3).fit(sub)
      model.clusterCenters.map(_.toArray.map(x => math.round(x)))
    }
    train.unpersist()
    Codebooks(m, k, subDim, books)
  }

  /** Encode every corpus vector as its per-subspace nearest codeword —
    * `(id, codes ARRAY<INT>)`, ties to the smallest code. One map-side
    * pass via the native fused [[graft.functions.expressions.PqEncode]]
    * loop (element-identical to the composed-built-ins form it
    * replaced, which PqSpec keeps as its oracle and compares on real
    * data); the codebooks ride the plan as literals (no join, no
    * shuffle). */
  def encode(corpus: DataFrame, idCol: String, mvCol: String,
      cb: Codebooks): DataFrame =
    corpus.select(col(idCol).as("id"),
      graft.functions.expressions.PqEncode
        .encodeNative(col(mvCol), cb.books).as("codes"))

  /** The per-query ADC lookup table: `dt(s)(c)` = squared-L2 distance
    * (micro-units²) from the query's subspace-s sub-vector to codeword
    * c, as one ARRAY<ARRAY<LONG>> column. */
  private def distTable(mvCol: Column, cb: Codebooks): Column =
    array((0 until cb.m).map { s =>
      val sub = slice(mvCol, s * cb.subDim + 1, cb.subDim)
      array((0 until cb.k).map(c => subDist(sub, cb.books(s)(c))): _*)
    }: _*)

  /** ADC top-k: each query precomputes its m×k table, the (tiny) query
    * side broadcasts, and the corpus CODE column is scanned once —
    * `adist = Σ_s dt(s)(code_s)`, rank by (adist asc, id asc). The scan
    * reads m small codes per corpus row, never the vectors: this is the
    * pass that makes 100 TB of embeddings scannable from ~3 TB of codes.
    * The ranking runs through the custom TopKPerGroup operator, whose
    * partial instance bounds each map task to k rows per query BELOW the
    * exchange — the shuffle carries queries×k narrow rows, not the whole
    * scored cross product. Exact integer scores → fully replayable. */
  def adcTopK(codes: DataFrame, queries: DataFrame, cb: Codebooks, k: Int,
      idCol: String = "vec_id", mvCol: String = "mv"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
      distTable(col(mvCol), cb).as("dt"))
    scoreAndRank(codes.crossJoin(broadcast(q)), k)
  }

  /** The shared ADC scoring + ranking contract: candidates carry
    * (id, codes, qid, dt); score = Σ_s dt(s)(code_s) via the native
    * codegen'd [[graft.functions.expressions.AdcDistance]] (one fused
    * Java loop per row — integer adds are associative, so it is
    * bit-identical to the interpreted HOF fold it replaced), rank by
    * (adist asc, id asc) through the partial TopKPerGroup below the qid
    * exchange. Both the flat and the cell-pruned scan MUST rank through
    * this one definition — the q_ann_ivfpq full-probe == q_ann_pq
    * equivalence depends on it. */
  private def scoreAndRank(candidates: DataFrame, k: Int): DataFrame = {
    import graft.functions.expressions.AdcDistance.adcNative
    val scored = candidates
      .filter(col("id") =!= col("qid"))
      .withColumn("adist", adcNative(col("codes"), col("dt")))
      .select(col("qid"), col("id"), col("adist"))
    val w = Window.partitionBy("qid")
      .orderBy(col("adist").asc, col("id").asc)
    graft.plans.TopK.perGroup(scored, Seq(col("qid")),
        Seq(col("adist").asc, col("id").asc), k)
      .withColumn("rank", row_number().over(w))
      .select(col("qid"), col("rank"), col("id").as("neighbor"), col("adist"))
  }

  /** IVF-PQ — the composition production ANN systems actually deploy
    * (coarse cells prune the scan, codes compress it): queries probe
    * their `nProbe` nearest cells and ADC-scan ONLY those cells' codes,
    * so the scan touches ~nProbe/#cells of the code table instead of
    * all of it. At `nProbe` = #cells the candidate set is the whole
    * corpus and the result provably equals the flat [[adcTopK]] — the
    * exact-regime trick that gives the k-means cell machinery a real
    * differential ([[Ivf.topK]]'s q_ann_ivf pattern).
    *
    * `cells`: `(id, codes, cell)` — the encoded corpus joined with its
    * coarse-quantizer assignment, partitioned by cell once and reused
    * across query batches. */
  def adcTopKCells(cells: DataFrame,
      centroids: Array[(Int, Array[Double])], queries: DataFrame,
      cb: Codebooks, k: Int, nProbe: Int,
      idCol: String = "vec_id", mvCol: String = "mv"): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = centroids.toSeq.toDF("cell", "centroid")
    val q = queries.select(col(idCol).as("qid"), col(mvCol).as("mv"),
      distTable(col(mvCol), cb).as("dt"))
    val cellRank = Window.partitionBy("qid")
      .orderBy(col("cdist").asc, col("cell").asc)
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("cdist", graft.functions.Vectors.l2sq(
        transform(col("mv"), x => x.cast("double")), col("centroid")))
      .withColumn("rn", row_number().over(cellRank))
      .filter(col("rn") <= nProbe)
      .select("qid", "dt", "cell")
    scoreAndRank(cells.join(broadcast(probes), Seq("cell")), k)
  }

  // ---------------------------------------------------------------- persist

  private val booksSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("s",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("code",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("w",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))))
  private val codesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("codes",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType))))

  /** Train-once / serve-many: persist `_pqbooks` (m·k rows) and
    * `_pqcodes` (the encoded corpus — the ONLY full-corpus pass) under a
    * [[graft.pipeline.Store]] prefix. Serving then pays one tiny books
    * read plus the code scan per query batch, never a refit or
    * re-encode — the same lifecycle as [[Ivf.buildPersisted]] and
    * `dedup.CorpusIndex`. */
  def buildPersisted(store: graft.pipeline.Store, prefix: String,
      corpus: DataFrame, idCol: String, mvCol: String,
      cb: Codebooks): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bookRows = for {
      s <- 0 until cb.m; c <- 0 until cb.k
    } yield (s, c, cb.books(s)(c).toSeq)
    store.write(s"${prefix}_pqbooks", bookRows.toDF("s", "code", "w"))
    store.write(s"${prefix}_pqcodes", encode(corpus, idCol, mvCol, cb)
      .select(col("id").cast("long").as("id"), col("codes")))
  }

  /** Read a persisted PQ index back for serving: books collect to the
    * driver (m·k rows), codes stay a lazy pruned scan. */
  def load(store: graft.pipeline.Store, prefix: String): (Codebooks, DataFrame) = {
    require(store.exists(s"${prefix}_pqbooks")
        && store.exists(s"${prefix}_pqcodes"),
      s"no persisted PQ index under prefix '$prefix' — run buildPersisted")
    val rows = store.read(s"${prefix}_pqbooks", booksSchema).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Long](2).toArray))
      .toMap
    val m = rows.keys.map(_._1).max + 1
    val k = rows.keys.map(_._2).max + 1
    val subDim = rows.head._2.length
    val books = Array.tabulate(m, k)((s, c) => rows((s, c)))
    (Codebooks(m, k, subDim, books),
      store.read(s"${prefix}_pqcodes", codesSchema))
  }
}
