package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.{Text, Vectors}

/** Large-scale deduplication operators — the training-data-pipeline core.
  *
  * Scale design (100 TB): every variant is a shuffle-on-key + window/agg
  * plan. Candidate generation is always bucketed (hash, LSH band, label)
  * so the pairwise-verify join is per-bucket, never a global cross join.
  * Exact-dup hashing partial-aggregates map-side; MinHash signatures are
  * computed per-row (narrow) and only band keys shuffle.
  */
object Dedup {

  /** Exact dedup: group identical payloads by collision-safe hash, keep
    * the smallest id (deterministic survivor). */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.withColumn("__h", sha2(col(textCol), 256))
      .groupBy("__h")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))
      .drop("__h")

  /** Distinct word-n-gram shingles as flat (id, h) rows, h = 64-bit hash.
    *
    * Fully whole-stage-codegen shape: explode tokens with position, window
    * `lead` to line up the n-gram, multi-arg xxhash64 — no interpreted
    * higher-order lambdas and no intermediate concat'd shingle strings
    * (an order of magnitude faster per doc, and the flat-rows form is
    * exactly what MinHash aggregation and relational set-intersection
    * want at corpus scale). */
  /** Shared shingling core: one row per n-gram occurrence with the n
    * aligned token columns w0..w(n-1) — explode + window lead, fully
    * whole-stage codegen. The fast path and the portable path are two
    * PROJECTIONS of this one pipeline, so their tokenization can never
    * drift apart. */
  private def shingleTokenRows(docs: DataFrame, textCol: String,
      idCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), " +")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val w = Window.partitionBy("id").orderBy("pos")
    val leads = (1 until n).map(k => lead(col("w"), k).over(w).as(s"w$k"))
    toks.select((Seq(col("id"), col("pos"), col("w").as("w0")) ++ leads): _*)
      .filter(col(s"w${n - 1}").isNotNull)
  }

  def shingleRows(docs: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    shingleTokenRows(docs, textCol, idCol, n)
      .select(col("id"), xxhash64((0 until n).map(k => col(s"w$k")): _*).as("h"))
      .distinct()

  /** MinHash signatures from flat (id, h) shingle rows: each shingle is
    * hashed once, the numHashes affine permutations are cheap integer
    * transforms, and the per-permutation min partial-aggregates map-side
    * before the shuffle on doc id — the shape that scales to 100 TB. */
  /** The MinHash prime field and affine permutation constants —
    * deterministic and public so a differential oracle can replay the
    * exact permutations in another engine. Well-mixed constants matter:
    * tiny sequential multipliers (1,3,5,…) correlate the permutations
    * and break the banding estimator. */
  val minhashPrime: Long = 2038074743L
  def minhashPerms(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(0x5eed)
    (0 until numHashes).map { _ =>
      val a = 1L + rnd.nextLong(minhashPrime - 1)
      val b = rnd.nextLong(minhashPrime)
      (a, b)
    }
  }

  def minhashSignatures(rows: DataFrame, numHashes: Int): DataFrame = {
    val p = minhashPrime
    val hashed = rows.select(col("id"), pmod(col("h"), lit(p)).as("h"))
    val minCols = minhashPerms(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(p))).as(s"m$i")
    }
    hashed.groupBy("id").agg(minCols.head, minCols.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Exact pairwise Jaccard from flat shingle rows, relationally:
    * |A∩B| = count of matching hashes per candidate pair (join on h),
    * |A|,|B| from per-doc counts. Pairs with empty intersection never
    * materialize — exactly what a >0 threshold wants. `cand` must have
    * columns (id_a, id_b). */
  def jaccardForPairs(cand: DataFrame, rows: DataFrame): DataFrame = {
    val sizes = rows.groupBy("id").agg(count(lit(1)).as("sz"))
    cand.join(rows.toDF("id_a", "h"), Seq("id_a"))
      .join(rows.toDF("id_b", "h"), Seq("id_b", "h"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("ni"))
      .join(sizes.toDF("id_a", "sz_a"), Seq("id_a"))
      .join(sizes.toDF("id_b", "sz_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("ni") / (col("sz_a") + col("sz_b") - col("ni"))).as("jaccard"))
  }

  /** Advisory pairs threshold for the LSH verify-stage guard (see
    * [[guardBucketPairs]]): past this many bucket-coincident candidate
    * pairs the self-pair generators WARN loudly by default, or fail if
    * the caller set a budget. Lower than JaroWinklerJoin's 100M because
    * each LSH verify is a shingle-set join-aggregate (~10-100× a jw
    * kernel call). Override with `-Dgraft.lsh.warnPairs=`. */
  val DefaultWarnPairs: Long = 10000000L

  private def lshWarnPairs: Long =
    sys.props.get("graft.lsh.warnPairs").map(_.toLong)
      .getOrElse(DefaultWarnPairs)

  /** The LSH verify-stage pairs-budget guard (round-17, the contract
    * [[graft.similarity.JaroWinklerJoin]] got in round 16): the exact
    * candidate-pair count the bucket self-join will emit, computed from
    * the per-(band, bucket) occupancy as Σ n·(n−1)/2 — ONE tiny
    * aggregate job over the already-checkpointed band rows, no
    * collect of bucket rows. A boilerplate-heavy crawl whose hot bucket
    * would launch an unbounded quadratic verify now fails loudly when a
    * budget is set, and WARNS past [[DefaultWarnPairs]] when not —
    * results are bit-identical either way. (Pairs here are counted
    * per-band before the cross-band distinct, so the estimate is an
    * upper bound on distinct verify pairs and exact per-band work.) */
  private[dedup] def guardBucketPairs(banded: DataFrame, keys: Seq[String],
      budget: Long, site: String,
      advice: String = "A hot bucket (shared boilerplate shingles " +
        "landing every doc in one band bucket) makes the verify " +
        "quadratic in that bucket's docs; raise the budget, raise " +
        "`bands`' rows-per-band (a sharper S-curve), raise `threshold`, " +
        "or exact-collapse duplicates first (nearDupGroups already " +
        "does)."): Unit = {
    require(budget > 0, "maxCandidatePairs must be positive")
    val est = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) DIV 2")).as("pairs"))
      .head().get(0) match {
        case null => 0L
        case v: Long => v
      }
    if (budget != Long.MaxValue && est > budget)
      throw new IllegalStateException(
        s"Dedup.$site: $est bucket-coincident candidate pairs exceeds " +
          s"maxCandidatePairs=$budget (exact per-band count from " +
          "bucket occupancies). " + advice)
    if (budget == Long.MaxValue && est > lshWarnPairs)
      println(s"WARN Dedup.$site: $est bucket-coincident candidate " +
        s"pairs exceeds the advisory warn threshold $lshWarnPairs " +
        "(no maxCandidatePairs set — proceeding, results are exact). " +
        advice)
  }

  /** MinHash + LSH near-dup candidate pairs: band the signature, shuffle
    * on (band index, band hash), join within buckets, then verify with
    * exact Jaccard over shingles. Output: (id_a, id_b, jaccard) with
    * id_a < id_b, deduplicated across bands.
    *
    * `maxCandidatePairs` is the verify-stage circuit breaker (see
    * [[guardBucketPairs]]): default unlimited = advisory warn only. */
  def minhashLsh(docs: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5,
      maxCandidatePairs: Long = Long.MaxValue): DataFrame = {
    val rowsPerBand = numHashes / bands
    // Materialize the shingle rows once: they feed four plan branches
    // (signatures, both verify sides, sizes) whose consumers project
    // differently before their exchanges, so AQE stage reuse alone would
    // recompute the tokenize+window pipeline per branch (measured +35%
    // on the end-to-end grouping when this checkpoint was dropped).
    val rows = shingleRows(docs, textCol, idCol, shingleSize)
      .transform(graft.pipeline.Checkpoints.stable)

    // Band only (id, band, bucket) — don't drag shingle sets through the
    // LSH shuffle; dedupe candidate pairs BEFORE the verify join.
    // localCheckpoint: the band rows feed the guard count AND both
    // self-join sides (which per-consumer pruning would otherwise
    // recompute through the whole signature pipeline — the measured
    // ReuseExchange trap); the checkpoint preserves the (band, bucket)
    // hash partitioning so the join re-shuffles neither side.
    val banded = minhashSignatures(rows, numHashes)
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
          slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
      .select(col("id"), col("pos").as("band"), hash(col("col")).as("bucket"))
      .repartition(col("band"), col("bucket"))
      .transform(graft.pipeline.Checkpoints.stable)
    guardBucketPairs(banded, Seq("band", "bucket"), maxCandidatePairs,
      "minhashLsh")
    val cand = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    jaccardForPairs(cand, rows).filter(col("jaccard") >= threshold)
  }

  /** Distinct shingle STRINGS as flat (id, sh) rows — same relational
    * explode + window-lead shape as [[shingleRows]] (whole-stage codegen,
    * no interpreted array lambdas), emitting the space-joined n-gram
    * string instead of its xxhash64. The portable-hash pipelines md5 the
    * string, so the text itself must survive to the hash. */
  def shingleStringRows(docs: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    shingleTokenRows(docs, textCol, idCol, n)
      .select(col("id"),
        concat_ws(" ", (0 until n).map(k => col(s"w$k")): _*).as("sh"))
      .distinct()

  /** Portable (id, band, bsig) band rows from (id, h) shingle-hash rows:
    * the signature sliced into `bands` literal sub-arrays — the exact
    * banding a differential oracle (or a persisted corpus signature
    * index) reproduces. */
  def portableBandRows(rows: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val rpb = numHashes / bands
    minhashSignatures(rows, numHashes)
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
          slice(col("sig"), b * rpb + 1, lit(rpb)))))
      .select(col("id"), col("pos").as("band"), col("col").as("bsig"))
  }

  /** Verified near-dup pairs from prepared portable (id, h) shingle-hash
    * rows: band, bucket-join, exact-Jaccard verify. Callers that already
    * hold hashed rows (e.g. the incremental path) skip re-shingling.
    * `maxCandidatePairs`: see [[guardBucketPairs]] (default = warn-only). */
  def portablePairsFromRows(rows: DataFrame, numHashes: Int, bands: Int,
      threshold: Double,
      maxCandidatePairs: Long = Long.MaxValue): DataFrame = {
    // localCheckpoint: feeds the guard count and both self-join sides
    // (see minhashLsh — the same per-consumer recompute trap)
    val banded = portableBandRows(rows, numHashes, bands).transform(graft.pipeline.Checkpoints.stable)
    guardBucketPairs(banded, Seq("band", "bsig"), maxCandidatePairs,
      "portablePairsFromRows")
    val cand = banded.toDF("id_a", "band", "bsig")
      .join(banded.toDF("id_b", "band", "bsig"), Seq("band", "bsig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    jaccardForPairs(cand, rows).filter(col("jaccard") >= threshold)
  }

  /** MinHash-LSH with every stage engine-portable (md5-60 shingle hashes,
    * published permutations, banding by the literal band-slice array
    * instead of an engine bucket hash) — same pipeline as [[minhashLsh]],
    * reproducible in any SQL engine for differential testing. */
  def minhashLshPortable(docs: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5,
      maxCandidatePairs: Long = Long.MaxValue): DataFrame = {
    val rows = shingleStringRows(docs, textCol, idCol, shingleSize)
      .select(col("id"), md5Hash60(col("sh")).as("h"))
      .distinct().transform(graft.pipeline.Checkpoints.stable)
    portablePairsFromRows(rows, numHashes, bands, threshold,
      maxCandidatePairs)
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash signatures via explode + partial-aggregated bit sums — same
    * scale rationale as [[minhashSignatures]]: one hash per token, nBits
    * conditional-sum aggregates, map-side combine before the id shuffle.
    *
    * `tokenHash` defaults to xxhash64 (fast path); pass an
    * engine-portable hash (e.g. md5-derived, [[md5Hash60]]) to make the
    * whole pipeline reproducible in any SQL engine for differential
    * testing. */
  def simhashSignatures(docs: DataFrame, textCol: String, idCol: String,
      tokenHash: Column => Column = xxhash64(_), nBits: Int = 64): DataFrame = {
    val hashed = docs
      .select(col(idCol).as("id"), explode(Text.tokens(col(textCol))).as("t"))
      .select(col("id"), tokenHash(col("t")).as("h"))
    val bitSums = (0 until nBits).map(bit =>
      sum(when(shiftright(col("h"), bit).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$bit"))
    hashed.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        (0 until nBits).map(bit =>
          when(col(s"b$bit") >= 0, lit(1L << bit)).otherwise(0L))
          .reduce(_.bitwiseOR(_)).as("sig"))
  }

  /** Low 60 bits of md5 as a long — portable across engines (same value
    * from DuckDB's `CAST('0x' || substr(md5(t),2,15) AS BIGINT)`); 60
    * bits keeps the unsigned hex inside a signed long under ANSI mode. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 2, 15), 16, 10).cast("long")

  /** SimHash near-dup pairs within hamming distance `maxDist`, candidates
    * generated by matching any of 4 signature quarters. */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 3,
      tokenHash: Column => Column = xxhash64(_), nBits: Int = 64): DataFrame = {
    val qBits = nBits / 4
    val qMask = (1L << qBits) - 1
    val base = simhashSignatures(docs, textCol, idCol, tokenHash, nBits)
    val quarters = base.select(col("id"), col("sig"),
      posexplode(array((0 until 4).map(q =>
        shiftright(col("sig"), q * qBits).bitwiseAND(qMask)): _*)))
      .select(col("id"), col("sig"), col("pos").as("q"), col("col").as("qhash"))
    val a = quarters.select(col("q"), col("qhash"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = quarters.select(col("q"), col("qhash"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("q", "qhash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming64(col("sig_a"), col("sig_b")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Bounded min-label propagation over undirected edges (id_a, id_b) —
    * but ONLY over the edge-connected subgraph: a node with no near-dup
    * edge can never change label, and edge-touched nodes are a vanishing
    * fraction of the corpus at any scale. Returns (id, label) for every
    * edge-touched node; callers re-attach isolated nodes with label =
    * own id (one left join, no iteration cost). Dedup clusters have tiny
    * diameters, so convergence exits early; `maxIter` bounds the sweeps.
    * A non-converged exit (a chain longer than maxIter hops) yields a
    * consistent but possibly non-minimal labeling — the differential
    * gates compute the TRUE closure in the oracle, so such a divergence
    * fails loudly there.
    *
    * Returns (labels, converged). Convergence is determined exactly: if
    * the sweep budget runs out before a fixed point was OBSERVED, one
    * final probe-only pass (a join that adopts nothing) decides it, so
    * a graph that converged on its last permitted sweep — including
    * maxIter = 1 on a single edge — reports converged = true rather
    * than unknown. Returned explicitly (not via any side channel) so
    * interleaved calls on one thread can't clobber each other's
    * status.
    *
    * Two sides run the same sweeps and return the same labels, schema
    * and flag for every graph, converged or not. The first action
    * collects at most `bound + 1` edges, `bound` being the edges that
    * fit [[graft.pipeline.Checkpoints.driverBytes]] at 16 bytes each;
    * that collect also answers emptiness. When at most `bound` came
    * back, both id columns are `long` or both `int`, and no id is null,
    * the sweeps run over arrays on the driver ([[minLabelsOnDriver]])
    * and the labels are a `LocalRelation`: the few thousand edges of a
    * near-dup closure otherwise pay a checkpoint job and a probe job per
    * sweep for milliseconds of work. Otherwise they run as checkpointed
    * Spark jobs ([[propagateOnSpark]]). */
  private[graft] def propagateMinLabels(edges: DataFrame,
      maxIter: Int): (DataFrame, Boolean) = {
    val e = edges.toDF("id_a", "id_b")
    val undirected = e.union(e.select(col("id_b"), col("id_a")))
      .toDF("id", "nbr")
    val schema = undirected.select(col("id"), col("id").as("label")).schema
    val spark = e.sparkSession
    def local(rows: Seq[Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val threshold = graft.pipeline.Checkpoints.driverBytes(spark)
    val bound = if (threshold < 0) 0
      else math.min(threshold / 16, Int.MaxValue - 1L).toInt
    val head = e.limit(bound + 1).collect()
    if (head.isEmpty) // empty graph is trivially converged
      return (local(Nil), true)
    val idTypes = e.schema.fields.map(_.dataType).toSet
    if (head.length > bound ||
        (idTypes != Set(LongType) && idTypes != Set(IntegerType)) ||
        head.exists(r => r.isNullAt(0) || r.isNullAt(1)))
      return propagateOnSpark(
        undirected.transform(graft.pipeline.Checkpoints.stable), maxIter)
    def ids(k: Int) = head.map(_.get(k).asInstanceOf[Number].longValue)
    val (nodes, labels, converged) = minLabelsOnDriver(ids(0), ids(1), maxIter)
    val asId: Long => Any =
      if (idTypes == Set(LongType)) identity else _.toInt
    (local(nodes.indices.map(k => Row(asId(nodes(k)), asId(labels(k))))),
      converged)
  }

  /** [[propagateMinLabels]]' sweeps over arrays of directed edges
    * (a(k), b(k)): the same synchronous updates — sweep 1 is
    * least(id, min(nbr)), then up to maxIter - 1 probed sweeps, then the
    * budget-exhausted final probe. Returns the sorted distinct endpoints,
    * the label of each, and the flag. Nodes are numbered in id order, so
    * the minimum of their numbers is the number of the minimum id. */
  private def minLabelsOnDriver(a: Array[Long], b: Array[Long],
      maxIter: Int): (Array[Long], Array[Long], Boolean) = {
    val nodes = (a ++ b).distinct.sorted
    val u = a.map(java.util.Arrays.binarySearch(nodes, _))
    val v = b.map(java.util.Arrays.binarySearch(nodes, _))
    def sweep(label: Array[Int]): Array[Int] = {
      val next = label.clone()
      var k = 0
      while (k < u.length) {
        next(u(k)) = math.min(next(u(k)), label(v(k)))
        next(v(k)) = math.min(next(v(k)), label(u(k)))
        k += 1
      }
      next
    }
    var label = sweep(Array.range(0, nodes.length))
    var converged = false // sweep 1 is not probed, as on Spark
    var i = 1
    while (i < maxIter && !converged) {
      val next = sweep(label)
      converged = java.util.Arrays.equals(next, label)
      label = next
      i += 1
    }
    if (!converged) converged = java.util.Arrays.equals(sweep(label), label)
    (nodes, label.map(nodes(_)), converged)
  }

  /** [[propagateMinLabels]]' sweeps as Spark jobs over the checkpointed
    * undirected edge list (id, nbr), which has at least one row. */
  private def propagateOnSpark(undirected: DataFrame,
      maxIter: Int): (DataFrame, Boolean) = {
    // EAGER checkpoints throughout the loop, by measurement: each
    // iteration references `labels` twice, so any non-truncating reuse
    // (persist) doubles the logical plan per iteration — driver-side
    // analysis/AQE-reoptimization was measured dominating wall time 5x
    // before any executor ran. localCheckpoint cuts the plan to a
    // LogicalRDD leaf; the per-iteration convergence probe then scans the
    // just-materialized blocks (milliseconds, vs a recompute).
    // The caller's one checkpoint of `undirected` covers both union
    // branches (the shared pairs subtree is AQE-stage-reused).
    // Sweep 1 needs no labels frame — every node starts labeled by its
    // own id, so the first propagation is least(id, min(nbr)) straight
    // off the edge list (saves the identity-labels checkpoint plus one
    // join). `old` = id makes the convergence probe uniform.
    // Sweep 1 stays LAZY: its two references inside iteration 2's job
    // are an identical subtree over the checkpointed edge frame, which
    // AQE's stage cache computes once — a dedicated checkpoint here is
    // one more sequential barrier for no recompute saved.
    var labels = undirected.groupBy("id").agg(min("nbr").as("m"))
      .select(col("id"), least(col("id"), col("m")).as("label"))
    // no sweep-1 probe: with >=1 edge (id_a < id_b strictly) the larger
    // endpoint always adopts the smaller label, so sweep 1 never converges
    var converged = false
    var i = 1
    while (i < maxIter && !converged) {
      // one checkpoint per iteration carries (label, old) so the
      // convergence probe is a scan of the materialized frame, not a join
      val nbrMin = undirected
        .join(labels.toDF("nbr", "nbr_label"), Seq("nbr"))
        .groupBy("id").agg(min("nbr_label").as("nbr_min"))
      val next = labels.join(nbrMin, Seq("id"))
        .select(col("id"), least(col("label"), col("nbr_min")).as("label"),
          col("label").as("old"))
        .transform(graft.pipeline.Checkpoints.stable)
      converged = next.filter(col("label") =!= col("old")).isEmpty
      labels = next.select("id", "label")
      i += 1
    }
    if (!converged) {
      // Budget exhausted without observing a fixed point (this is also
      // every maxIter <= 1 call, which never enters the probing loop):
      // one probe-only pass — would another sweep lower any label? —
      // settles convergence exactly without spending another sweep.
      val nbrMin = undirected
        .join(labels.toDF("nbr", "nbr_label"), Seq("nbr"))
        .groupBy("id").agg(min("nbr_label").as("nbr_min"))
      converged = labels.join(nbrMin, Seq("id"))
        .filter(col("nbr_min") < col("label")).isEmpty
    }
    (labels, converged)
  }

  /** End-to-end near-dup grouping — the dedup deliverable a training-data
    * pipeline actually consumes: (doc_id, group_id) where group_id is the
    * smallest doc id of the near-duplicate cluster.
    *
    * Scale order matters: exact dedup (sha2) FIRST collapses identical
    * payloads to one representative, so the quadratic pairwise phase only
    * sees distinct texts — on duplicate-heavy corpora the naive
    * pairs-on-everything path explodes super-linearly (measured 24x cost
    * at 8x data), while this shape stays linear in the exact-dup mass.
    * Cluster transitive closure runs as [[propagateMinLabels]].
    */
  def nearDupGroups(docs: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxIter: Int = 5,
      portableEdges: Boolean = false,
      maxCandidatePairs: Long = Long.MaxValue): DataFrame = {
    val hashed = docs.select(col(idCol).as("id"), col(textCol).as("t"))
      .withColumn("__h", sha2(col("t"), 256))
    val repOf = hashed
      .groupBy("__h").agg(min("id").as("rep"))
    // eager checkpoint: docToRep is read by separate actions (the edge
    // computation and the caller's final one), and a truncated leaf keeps
    // every downstream plan small for AQE's per-stage re-optimization
    val docToRep = hashed.join(repOf, "__h").select(col("id"), col("rep"))
      .transform(graft.pipeline.Checkpoints.stable)
    val repDocs = docs.select(col(idCol).as("id"), col(textCol).as("t"))
      .join(docToRep.filter(col("id") === col("rep")).select("id"), Seq("id"))

    // near-dup edges between distinct representatives
    val edges = (if (portableEdges)
        minhashLshPortable(repDocs, "t", "id", shingleSize, numHashes,
          bands, threshold, maxCandidatePairs)
      else
        minhashLsh(repDocs, "t", "id", shingleSize, numHashes,
          bands, threshold, maxCandidatePairs))
      .select(col("id_a"), col("id_b"))

    // convergence backstopped by the differential gates (true closure
    // recomputed in the oracle), so the flag is intentionally unused here
    val (labels, _) = propagateMinLabels(edges, maxIter)

    docToRep
      .join(labels.toDF("rep", "group_id"), Seq("rep"), "left_outer")
      .select(col("id").as(idCol),
        coalesce(col("group_id"), col("rep")).as("group_id"))
  }

  /** Incremental near-dup: assign each document of a NEW batch against
    * the EXISTING corpus without re-grouping the corpus — the production
    * shape of continuous corpus ingestion (reference analog: the
    * match-against-existing-entities checks of the nightly update,
    * tcdb/etl/process_storms.py:84-138, which resolves each incoming
    * record against the stored set instead of re-resolving everything;
    * generalized here to near-duplicate text).
    *
    * Output: (idCol, assigned, matched) with matched in
    * ('exact','near','novel'); `assigned` = the min matching corpus id
    * (exact sha2 match wins over LSH-verified near match), else the
    * min-label of the batch-local near-dup closure over the leftovers.
    *
    * Scale design (100 TB corpus, small batch): the corpus participates
    * ONLY through (a) its exact-hash index, (b) its MinHash band
    * signature index — both one-time builds a production run persists
    * via [[CorpusIndex]] and appends each accepted batch to — and (c)
    * the shingle sets of
    * the few corpus docs that actually band-collide with the batch
    * (semi-joined by candidate id before the verify join). Nothing ever
    * re-shingles or re-groups the full corpus per batch. Assignment is
    * deliberately asymmetric vs a full re-run: a batch doc that matches
    * the corpus keeps its corpus assignment even if it also neighbors a
    * novel batch doc — existing corpus group ids must stay stable.
    * Every stage is engine-portable (md5-60 shingle hashes, published
    * permutations, literal band slices) so the whole decision replays
    * in a DuckDB differential. */
  def incrementalNearDup(corpus: DataFrame, batch: DataFrame,
      textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxIter: Int = 20): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

    val c = corpus.select(col(idCol).as("id"), col(textCol).as("t"))
    // The two corpus index builds are independent of each other and of
    // the batch-side chain — materialize them as concurrent driver jobs
    // so the corpus scans overlap the batch work (in production both are
    // persisted artifacts ([[CorpusIndex]]) appended to as each batch is
    // accepted, so a per-batch run only READS them).
    val cexF = Future {
      c.select(sha2(col("t"), 256).as("__h"), col("id"))
        .groupBy("__h").agg(min("id").as("cid")).transform(graft.pipeline.Checkpoints.stable)
    }
    val cRowsF = Future {
      shingleStringRows(c, "t", "id", shingleSize)
        .select(col("id"), md5Hash60(col("sh")).as("h")).distinct()
        .transform(graft.pipeline.Checkpoints.stable)
    }
    // by-name args: each Await fires at the core's first USE of that
    // index, so the corpus scans overlap the batch-side barriers that
    // precede the use point
    lazy val cRows = Await.result(cRowsF, Duration.Inf)
    assignAgainstIndexes(Await.result(cexF, Duration.Inf), cRows,
      portableBandRows(cRows, numHashes, bands).toDF("cid", "band", "bsig"),
      batch, textCol, idCol, shingleSize, numHashes, bands, threshold,
      maxIter)
  }

  /** The three corpus index relations of the incremental-dedup core —
    * exact-hash reps, shingle-hash rows, band signatures — built ONCE
    * and eagerly materialized (concurrent driver jobs, localCheckpoint
    * barriers). The IN-MEMORY twin of [[CorpusIndex.build]]'s persisted
    * tables: production either persists these (CorpusIndex) or holds
    * them resident across a run's batches; both serve every subsequent
    * batch for pure per-batch cost. */
  case class CorpusRelations(cex: DataFrame, cRows: DataFrame,
      cBand: DataFrame)

  def corpusRelations(corpus: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 32,
      bands: Int = 8): CorpusRelations = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val c = corpus.select(col(idCol).as("id"), col(textCol).as("t"))
    val cexF = Future {
      c.select(sha2(col("t"), 256).as("__h"), col("id"))
        .groupBy("__h").agg(min("id").as("cid")).transform(graft.pipeline.Checkpoints.stable)
    }
    val cRowsF = Future {
      val rows = shingleStringRows(c, "t", "id", shingleSize)
        .select(col("id"), md5Hash60(col("sh")).as("h")).distinct()
        .transform(graft.pipeline.Checkpoints.stable)
      // band signatures derive from the materialized rows — checkpoint
      // them too so serving never re-runs the signature aggregate
      (rows, portableBandRows(rows, numHashes, bands)
        .toDF("cid", "band", "bsig").transform(graft.pipeline.Checkpoints.stable))
    }
    val (cRows, cBand) = Await.result(cRowsF, Duration.Inf)
    CorpusRelations(Await.result(cexF, Duration.Inf), cRows, cBand)
  }

  /** [[incrementalNearDup]] with the corpus side already prepared
    * ([[corpusRelations]]) — the per-batch production shape: every job
    * in the plan is batch-sized or a read of the prepared relations. */
  def incrementalNearDupPrepared(rel: CorpusRelations, batch: DataFrame,
      textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxIter: Int = 20): DataFrame =
    assignAgainstIndexes(rel.cex, rel.cRows, rel.cBand, batch, textCol,
      idCol, shingleSize, numHashes, bands, threshold, maxIter)

  /** The incremental-assignment core: match a batch against a corpus
    * represented ONLY by its three index relations —
    * `cex(__h, cid)` exact-hash index, `cRows(id, h)` shingle-hash rows,
    * `cBand(cid, band, bsig)` MinHash band-signature index. Callers
    * either derive these from the corpus in-plan ([[incrementalNearDup]])
    * or read them as persisted tables ([[CorpusIndex.assign]]); the
    * [[graft.tools.IncrementalScaleProbe]] times it in both codegen
    * postures. */
  private[graft] def assignAgainstIndexes(cexIn: => DataFrame,
      cRowsIn: => DataFrame, cBandIn: => DataFrame, batch: DataFrame,
      textCol: String, idCol: String,
      shingleSize: Int, numHashes: Int, bands: Int,
      threshold: Double, maxIter: Int): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

    val b = batch.select(col(idCol).as("id"), col(textCol).as("t"))

    // Materialization strategy (measured, not guessed): frames that
    // cross ACTION boundaries carry an EAGER localCheckpoint — truncated
    // LogicalRDD leaves keep every downstream plan small, which is what
    // bounds driver-side analysis + AQE per-stage re-optimization (a
    // persist()-based variant kept full logical plans and measured 3-5x
    // slower on pure driver overhead). The round-7 shape paid those
    // checkpoints as ~9 SEQUENTIAL driver barriers (Profile parts: exec
    // 0.5-0.7 s, the rest barrier latency — a cost every micro-batch of
    // StreamingDedup.corpusIngest repeats), so this shape halves the
    // critical path by running independent chains as CONCURRENT driver
    // jobs, two waves of two:
    //   wave 1: {exact-match vs corpus} || {shingle all batch reps}
    //   wave 2: {LSH verify vs corpus}  || {batch-local rep pair edges}
    //
    // batch exact collapse to representatives — window-min over the
    // content hash: one shuffle, no self-join. LAZY: its recomputes land
    // inside wave-1's two CONCURRENT jobs (plus the final assembly), so
    // a dedicated barrier here would serialize more latency than the
    // duplicated window costs — the wave-1 jobs were already scanning
    // the batch.
    val bToRep = b
      .select(col("id"), sha2(col("t"), 256).as("__h"))
      .select(col("id"), col("__h"), min("id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("__h"))
        .as("rep"))
    val bReps = bToRep.filter(col("id") === col("rep"))
    val repDocs = b.join(bReps.select("id"), Seq("id"))

    // wave 1 — exact corpus assignment per batch representative, and the
    // shingle rows of ALL batch representatives (not just the
    // non-exact remainder, which would chain it AFTER the exact join):
    // independent of each other, materialized as concurrent driver jobs.
    // Forcing cexIn inside the future is the from-scratch path's Await
    // point — its corpus sha2 scan overlaps this whole wave.
    val repExactF = Future {
      bReps.select(col("id"), col("__h"))
        .join(cexIn, Seq("__h"))
        .select(col("id"), col("cid"))
        .transform(graft.pipeline.Checkpoints.stable)
    }
    val bRowsAllF = Future {
      shingleStringRows(repDocs, "t", "id", shingleSize)
        .select(col("id"), md5Hash60(col("sh")).as("h")).distinct()
        .transform(graft.pipeline.Checkpoints.stable)
    }
    val repExact = Await.result(repExactF, Duration.Inf)
    val bRowsAll = Await.result(bRowsAllF, Duration.Inf)
    // shingle rows of the non-exact remainder — a broadcast anti-join of
    // two materialized leaves, re-derived inside wave-2's jobs
    val bRows = bRowsAll.join(repExact.select("id"), Seq("id"), "left_anti")

    // wave 2 — corpus near-match verify and batch-local pair edges:
    // independent of each other, concurrent. Edges are computed over ALL
    // remainder reps and filtered to novel endpoints afterwards — pair
    // existence (band collision + Jaccard) is pairwise, so the filtered
    // set is identical to computing over the novel set directly, and it
    // unchains the edge work from `near`'s barrier.
    val nearF = Future {
      // band-collision candidates; cand's references all live inside
      // this one action — AQE stage reuse covers them
      val cand = portableBandRows(bRows, numHashes, bands)
          .toDF("bid", "band", "bsig")
        .join(cBandIn, Seq("band", "bsig"))
        .select("bid", "cid").distinct()
      // verify candidates with exact Jaccard; corpus shingles
      // materialize only for the candidate docs
      val cRowsCand = cRowsIn
        .join(cand.select(col("cid").as("id")).distinct(), Seq("id"))
      val bSz = bRows.groupBy("id").agg(count(lit(1)).as("sz_b"))
        .withColumnRenamed("id", "bid")
      val cSz = cRowsCand.groupBy("id").agg(count(lit(1)).as("sz_c"))
        .withColumnRenamed("id", "cid")
      cand
        .join(bRows.toDF("bid", "h"), Seq("bid"))
        .join(cRowsCand.toDF("cid", "h"), Seq("cid", "h"))
        .groupBy("bid", "cid").agg(count(lit(1)).as("ni"))
        .join(bSz, Seq("bid"))
        .join(cSz, Seq("cid"))
        .filter(col("ni") / (col("sz_b") + col("sz_c") - col("ni"))
          >= threshold)
        .groupBy("bid").agg(min("cid").as("cid"))
        .transform(graft.pipeline.Checkpoints.stable)
    }
    val remPairsF = Future {
      portablePairsFromRows(bRows, numHashes, bands, threshold)
        .select("id_a", "id_b")
        .transform(graft.pipeline.Checkpoints.stable)
    }
    val near = Await.result(nearF, Duration.Inf)
    val remPairs = Await.result(remPairsF, Duration.Inf)

    // batch-local closure over what matched nothing. Not checkpointed —
    // every consumer re-derives it from materialized leaves; the former
    // novel.isEmpty pre-probe is gone (one fewer barrier) because
    // propagateMinLabels' first collect answers emptiness, and the edge
    // work it guarded already ran concurrently in wave 2.
    val rem = repDocs.join(repExact.select("id"), Seq("id"), "left_anti")
    val novel = rem.join(near.select(col("bid").as("id")), Seq("id"),
      "left_anti")
    val novelIds = novel.select("id")
    val (labels, _) = propagateMinLabels(
      remPairs
        .join(novelIds.toDF("id_a"), Seq("id_a"), "left_semi")
        .join(novelIds.toDF("id_b"), Seq("id_b"), "left_semi")
        .select("id_a", "id_b"), // using-col joins reorder; restore (a, b)
      maxIter)

    val repAssign = repExact
      .select(col("id"), col("cid").as("assigned"),
        lit("exact").as("matched"))
      .unionAll(near.select(col("bid").as("id"),
        col("cid").as("assigned"), lit("near").as("matched")))
      .unionAll(novel.select(col("id"))
        .join(labels, Seq("id"), "left_outer")
        .select(col("id"),
          coalesce(col("label"), col("id")).as("assigned"),
          lit("novel").as("matched")))
    bToRep.join(repAssign.withColumnRenamed("id", "rep"), Seq("rep"))
      .select(col("id").as(idCol), col("assigned"), col("matched"))
  }

  /** Exact duplicate-SPAN detection (the substring-dedup signal of
    * "Deduplicating Training Data Makes Language Models Better", Lee et
    * al. 2022, arXiv:2107.06499 — there suffix-array based; here the
    * relational equivalent over fixed k-token windows): every k-token
    * window of every document, hashed (portable md5-60 of the
    * space-joined tokens), marked duplicated when it occurs in at least
    * `minDocs` DISTINCT documents. Returns one row per document:
    * (idCol, n_windows, n_dup_windows, dup_ppm) — the per-document
    * contamination fraction a curation pass thresholds on.
    *
    * Scale shape: one explode + window-lead pass per document (the same
    * whole-stage-codegen shingle machinery the MinHash path uses — no
    * interpreted array lambdas), collapsed to per-(doc, hash) occurrence
    * counts in the SAME stage (the shingle window is already partitioned
    * by doc, which satisfies the (id, h) grouping), then one explicit
    * hash exchange of those narrow counts by window hash that every
    * consumer shares: the distinct-doc count per hash and the
    * duplicated-occurrence semi-join read it co-partitioned with no
    * further shuffle, and the two per-doc totals re-key only (id, c)
    * pairs. The subtree below that exchange is identical in every
    * branch, so AQE's stage cache computes the scan + explode + window +
    * hash pipeline ONCE — the naive form keyed the three consumers
    * differently off the raw window rows and paid the tokenize + md5
    * corpus pass three times. Never any doc-x-doc pair work, so cost is
    * linear in total token count however large the corpus. Window
    * occurrences are counted per OCCURRENCE (a doc repeating a
    * duplicated span twice has both counted — `sum(c)`, not `count`),
    * duplication is across DOCUMENTS (`minDocs` distinct ids = distinct
    * (id, h) groups per h). */
  def duplicateSpans(docs: DataFrame, textCol: String, idCol: String,
      k: Int, minDocs: Int = 2): DataFrame = {
    val wrows = shingleTokenRows(docs, textCol, idCol, k)
      .select(col("id"),
        md5Hash60(concat_ws(" ", (0 until k).map(i => col(s"w$i")): _*))
          .as("h"))
    // one shared pre-aggregate: occurrences per (doc, window-hash),
    // materialized ONCE at the checkpoint seam. The (id, h) grouping is
    // satisfied by the shingle window's doc partitioning, so the
    // aggregate fuses into the window stage and the seam adds no
    // shuffle of its own. The seam is load-bearing, not plan-size
    // hygiene: left lazy, the optimizer re-specializes each consumer
    // (semi-join pushdown under the aggregate, h-only column pruning
    // for the distinct-doc count) into three non-identical subtrees
    // that each re-run the tokenize + md5 corpus pass — measured in
    // plans/r19/q_dedup_spans_*.txt. Downstream the three consumers
    // re-key only the narrow (id, h, c) counts.
    val g = wrows.groupBy("id", "h").agg(count(lit(1)).as("c"))
      .transform(graft.pipeline.Checkpoints.stable)
    val dup = g.groupBy("h")
      // rows of g are distinct (id, h), so distinct docs = group size
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("h")
    val perDoc = g.groupBy("id")
      .agg(coalesce(sum("c"), lit(0L)).as("n_windows"))
    val dupPerDoc = g.join(dup, Seq("h"), "left_semi")
      .groupBy("id").agg(sum("c").as("n_dup"))
    perDoc.join(dupPerDoc, Seq("id"), "left_outer")
      .select(col("id").as(idCol), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_windows"),
        // exact integer ppm, never round(double, 6): n_dup/n_windows is
        // a small-integer rational, and window counts of the form
        // 2^a*5^b make it a terminating decimal — an exact .5 tie at
        // the 6th digit that Spark and DuckDB round differently (the
        // q_window_ntile class from the sf0.1 sweep; this site just
        // hadn't been hit by data yet)
        expr("(coalesce(n_dup, 0L) * 1000000L) DIV n_windows")
          .as("dup_ppm"))
  }

  /** Line-level deduplication — the boilerplate-removal pass of
    * RefinedWeb / CCNet-style web curation (reference analog: none; this
    * is beyond-reference training-data surface): a LINE (newline-delimited
    * segment) that occurs in at least `minDocs` DISTINCT documents is
    * removed from every document, and each document is reassembled from
    * its surviving lines in original order. Unlike [[duplicateSpans]]
    * (which only SCORES contamination), this op REWRITES the corpus —
    * returns (idCol, n_lines, n_removed, clean_text).
    *
    * Scale shape: lines are grouped and joined on a 64-bit xxhash of the
    * line text, so shuffle rows on the frequency side are (hash, id) —
    * never the line string. Three keyed shuffles, all linear in total
    * line count: the distinct-doc count per hash (partial-aggregated
    * map-side), the hash-equi join marking duplicated occurrences (the
    * duplicated-line set can be corpus-sized at 100 TB — a shuffle join,
    * deliberately not a broadcast), and the per-document reassembly. No
    * doc-x-doc pair work. Reassembly keeps (pos, line) structs through
    * one sort_array — the per-document line list is bounded by document
    * size, the same per-group bound every tokenize pass already carries.
    * The removal rule is hash-function-independent ("same line text"),
    * so a DuckDB oracle replaying it on raw strings stays an exact
    * differential (the ~2^-64/pair collision caveat documented at
    * [[graft.ops.CurateOps.decontaminate]] applies identically). */
  def lineDedup(docs: DataFrame, textCol: String, idCol: String,
      minDocs: Int = 3): DataFrame = {
    val lines = docs
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .select(col("id"), col("pos"), col("line"),
        xxhash64(col("line")).as("h"))
    val dup = lines.groupBy("h")
      .agg(countDistinct("id").as("nd"))
      .filter(col("nd") >= minDocs)
      .select("h")
    lines.join(dup.withColumn("dup", lit(1)), Seq("h"), "left_outer")
      .select(col("id"), col("pos"), col("line"),
        coalesce(col("dup"), lit(0)).as("dup"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("dup")).cast("long").as("n_removed"),
        sort_array(collect_list(struct(col("pos"), col("line"),
          col("dup")))).as("ls"))
      .select(col("id").as(idCol), col("n_lines"), col("n_removed"),
        array_join(transform(filter(col("ls"), s => s("dup") === 0),
          s => s("line")), "\n").as("clean_text"))
  }

  /** Deterministic random-hyperplane tables, shared by the Spark path and
    * the oracle's SQL replay — both must see the IDENTICAL draw sequence,
    * so this is the single generation point (`tables` outer, then bits,
    * then dims, one `nextGaussian` per coefficient). */
  def hyperplaneTables(tables: Int, bitsPerTable: Int, dim: Int,
      seed: Long): Seq[Seq[Seq[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(tables)(Seq.fill(bitsPerTable)(Seq.fill(dim)(rnd.nextGaussian())))
  }

  /** Hyperplane-LSH parameters for a corpus of `n` vectors deduped at
    * `threshold`: enough bits that mean bucket occupancy stays near 256
    * (within-bucket work is quadratic in occupancy — a fixed bit width
    * measured 360x cost at 32x data before this), and enough tables that
    * a pair AT the threshold is still recalled with ~98% probability
    * (p_table = (1 - theta/pi)^bits; tables = ln(.02)/ln(1-p_table)).
    * Deterministic in (n, threshold), so an oracle replays it by fixing
    * the same n regime — all three testdata scales land on (4, 6).
    * Total verify work is ~n * occupancy/2 * tables: linear in n with a
    * slow multiplicative drift as `tables` buys recall back from the
    * deeper bit width (the price of holding recall at a FIXED threshold;
    * production near-dup thresholds of 0.95+ need fewer tables). */
  def lshParamsFor(n: Long, threshold: Double): (Int, Int) = {
    val theta = math.acos(math.min(1.0, math.max(-1.0, threshold)))
    val pBase = 1.0 - theta / math.Pi
    // deepest width 24 tables can still recall ~98% at — deeper than
    // this and the tables clamp would silently eat recall instead;
    // beyond the n this cap binds at (2^cap * 256 vectors), occupancy
    // regrows with n: the fixed-threshold LSH limit. Raise the
    // threshold or pass explicit parameters there.
    val recallCap = math.max(4, (math.log(1.0 - math.pow(0.02, 1.0 / 24))
      / math.log(pBase)).toInt)
    val bits = math.min(math.min(20, recallCap), math.max(4,
      math.ceil(math.log(math.max(1.0, n / 256.0)) / math.log(2.0)).toInt))
    val pTab = math.pow(pBase, bits)
    val tables = math.min(24, math.max(2,
      math.ceil(math.log(0.02) / math.log1p(-pTab)).toInt))
    (bits, tables)
  }

  /** Adaptive-parameter internal-LSH near-dup: one `count()` pass picks
    * (bitsPerTable, tables) via [[lshParamsFor]], then delegates to the
    * explicit overload below — the default entry point when the caller
    * knows the threshold but not the right LSH geometry for their
    * corpus size. */
  def embeddingNearDup(emb: DataFrame, vecCol: String, idCol: String,
      threshold: Double, dim: Int): DataFrame = {
    val (bits, tables) = lshParamsFor(emb.count(), threshold)
    embeddingNearDup(emb, vecCol, idCol, threshold, dim, bits, tables, 42L)
  }

  /** Auto-geometry entry with a verify-stage pairs budget (see
    * [[guardBucketPairs]] — the same circuit-breaker contract as
    * [[minhashLsh]], extended to the vector modality in round 18). */
  def embeddingNearDup(emb: DataFrame, vecCol: String, idCol: String,
      threshold: Double, dim: Int, maxCandidatePairs: Long): DataFrame = {
    val (bits, tables) = lshParamsFor(emb.count(), threshold)
    embeddingNearDup(emb, vecCol, idCol, threshold, dim, bits, tables, 42L,
      maxCandidatePairs)
  }

  /** Embedding near-dup with INTERNAL hyperplane-LSH blocking — the
    * default entry point: callers supply no blocking key and get
    * banded-LSH candidate generation instead of an all-pairs join.
    *
    * Candidates are id pairs sharing a bucket in AT LEAST ONE of `tables`
    * independent `bitsPerTable`-bit random-hyperplane tables; exact
    * cosine then verifies every candidate. For a pair at angle theta,
    * P(candidate) = 1 - (1 - (1 - theta/pi)^bitsPerTable)^tables — at the
    * defaults (8 bits x 6 tables) a cosine-0.95 pair is recalled with
    * p ~ 0.96, and misses decay geometrically in `tables`.
    *
    * 100 TB shape: bucket rows are (table, bucket, id) triples — vectors
    * do NOT ride the candidate shuffle; the self-join is per-(table,
    * bucket), pairs are distinct-ed as bare id pairs, and only then are
    * the two vectors re-joined for the verify pass. Within-bucket work is
    * quadratic in bucket occupancy, so `bitsPerTable` must grow with
    * corpus size (~log2(N / target bucket size)); raise `tables` to buy
    * recall back. The caller-block overload below remains for when a
    * domain key (URL host, shard, label) already bounds the pair space. */
  def embeddingNearDup(emb: DataFrame, vecCol: String, idCol: String,
      threshold: Double, dim: Int, bitsPerTable: Int, tables: Int,
      seed: Long, maxCandidatePairs: Long = Long.MaxValue): DataFrame = {
    import graft.functions.expressions.CosineSimilarity.cosineNative
    import graft.functions.expressions.HyperplaneBuckets.bucketsNative
    val planes = hyperplaneTables(tables, bitsPerTable, dim, seed)
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    // all table buckets in ONE fused codegen'd loop per row (the composed
    // hyperplaneBit form costs tables*bits interpreted HOF folds per row)
    // localCheckpoint: the bucket rows feed the pairs guard AND both
    // self-join sides (the minhashLsh per-consumer recompute trap); the
    // repartition preserves (tbl, bkt) partitioning into the self-join
    val bucketRows = base
      .select(col("id"), bucketsNative(col("v"), planes).as("bkts"))
      .select(col("id"), posexplode(col("bkts")).as(Seq("tbl", "bkt")))
      .repartition(col("tbl"), col("bkt"))
      .transform(graft.pipeline.Checkpoints.stable)
    guardBucketPairs(bucketRows, Seq("tbl", "bkt"), maxCandidatePairs,
      "embeddingNearDup", advice = "A hot hyperplane bucket (a dominant " +
        "direction — boilerplate embeddings — landing a corpus fraction " +
        "in one table bucket) makes the cosine verify quadratic in that " +
        "bucket's vectors; raise the budget, raise `bitsPerTable` " +
        "(smaller buckets; raise `tables` to buy recall back), or " +
        "pre-collapse byte-identical vectors.")
    val pairs = bucketRows.as("a")
      .join(bucketRows.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    pairs
      .join(base.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cos", cosineNative(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** The incremental-assignment core for EMBEDDINGS: match a batch of
    * vectors against a corpus represented ONLY by its two index
    * relations — `cBuckets(id, tbl, bkt)` hyperplane bucket rows and
    * `cVecs(id, v)` the vectors (read back only to verify candidates).
    * Mirrors [[assignAgainstIndexes]]'s decision asymmetry: a batch
    * vector that near-matches the corpus takes its BEST corpus match
    * (highest round-6 cosine, ties to the smallest corpus id — corpus
    * group ids stay stable); what matches nothing is grouped
    * batch-locally by min-label propagation over verified pairs.
    * Embeddings have no exact tier — byte-equal vectors land at cosine
    * 1.0 and resolve through the near path.
    *
    * Same two-wave concurrency shape as the text core: batch bucket rows
    * checkpoint once (wave 1), then the corpus-candidate verify and the
    * batch-local pair edges run as concurrent driver jobs (wave 2), the
    * edges computed over ALL batch ids and semi-joined to novel
    * endpoints afterwards — pairwise-identical, and unchained from the
    * corpus-match barrier. */
  private[dedup] def assignEmbeddings(cBuckets: => DataFrame,
      cVecs: => DataFrame, batch: DataFrame, vecCol: String, idCol: String,
      planes: Seq[Seq[Seq[Double]]], threshold: Double,
      maxIter: Int): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import graft.functions.expressions.CosineSimilarity.cosineNative
    import graft.functions.expressions.HyperplaneBuckets.bucketsNative

    val b = batch.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val bBuckets = b
      .select(col("id"), posexplode(bucketsNative(col("v"), planes))
        .as(Seq("tbl", "bkt")))
      .transform(graft.pipeline.Checkpoints.stable)

    val nearF = Future {
      val cand = bBuckets.toDF("bid", "tbl", "bkt")
        .join(cBuckets.toDF("cid", "tbl", "bkt"), Seq("tbl", "bkt"))
        .select("bid", "cid").distinct()
      cand
        .join(b.select(col("id").as("bid"), col("v").as("v_b")), Seq("bid"))
        .join(cVecs.toDF("cid", "v_c"), Seq("cid"))
        .withColumn("cos", cosineNative(col("v_b"), col("v_c")))
        .filter(col("cos") >= threshold)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("bid")
            .orderBy(round(col("cos"), 6).desc, col("cid").asc)))
        .filter(col("rn") === 1)
        .select(col("bid"), col("cid"))
        .transform(graft.pipeline.Checkpoints.stable)
    }
    val pairsF = Future {
      val x = bBuckets.toDF("id_a", "tbl", "bkt")
      x.join(bBuckets.toDF("id_b", "tbl", "bkt"), Seq("tbl", "bkt"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
        .join(b.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
        .join(b.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
        .filter(cosineNative(col("v_a"), col("v_b")) >= threshold)
        .select("id_a", "id_b")
        .transform(graft.pipeline.Checkpoints.stable)
    }
    val near = Await.result(nearF, Duration.Inf)
    val pairs = Await.result(pairsF, Duration.Inf)

    val novel = b.select("id")
      .join(near.select(col("bid").as("id")), Seq("id"), "left_anti")
    val (labels, _) = propagateMinLabels(
      pairs
        .join(novel.toDF("id_a"), Seq("id_a"), "left_semi")
        .join(novel.toDF("id_b"), Seq("id_b"), "left_semi")
        .select("id_a", "id_b"),
      maxIter)
    near.select(col("bid").as(idCol), col("cid").as("assigned"),
        lit("near").as("matched"))
      .unionAll(novel
        .join(labels, Seq("id"), "left_outer")
        .select(col("id").as(idCol),
          coalesce(col("label"), col("id")).as("assigned"),
          lit("novel").as("matched")))
  }

  /** Embedding near-dup within a CALLER-SUPPLIED blocking key — all pairs
    * inside a block are compared, so this is only safe when the key is
    * known to bound block sizes (a low-cardinality key is quadratic at
    * scale). Prefer the internal-LSH overload above when no such domain
    * key exists. */
  def embeddingNearDup(emb: DataFrame, vecCol: String, idCol: String,
      blockCol: String, threshold: Double): DataFrame =
    embeddingNearDup(emb, vecCol, idCol, blockCol, threshold, Long.MaxValue)

  /** Caller-block near-dup with a pairs budget: the block sizes ARE the
    * pair space (Σ n·(n−1)/2 over blocks), so the guard measures the
    * exact quadratic the key admits — the loud check that the "key is
    * known to bound block sizes" contract above actually holds. */
  def embeddingNearDup(emb: DataFrame, vecCol: String, idCol: String,
      blockCol: String, threshold: Double,
      maxCandidatePairs: Long): DataFrame = {
    // cosine via the fused native expression (codegen'd single loop per
    // pair — bit-identical to the composed-Column fold, ~10x faster)
    import graft.functions.expressions.CosineSimilarity.cosineNative
    val base = emb.select(col(blockCol).as("blk"), col(idCol).as("id"),
      col(vecCol).as("v"))
    guardBucketPairs(base, Seq("blk"), maxCandidatePairs,
      "embeddingNearDup(block)", advice = "A hot block makes the " +
        "all-pairs cosine quadratic in that block's vectors; raise the " +
        "budget, choose a finer blocking key, or switch to the " +
        "internal-LSH overload (no blocking key), which bounds buckets " +
        "by `bitsPerTable`.")
    val a = base.select(col("blk"), col("id").as("id_a"), col("v").as("v_a"))
    val b = base.select(col("blk"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosineNative(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }
}
