package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Physical-plan shape assertions for the flagship operators — the
  * properties that decide 100 TB behavior, pinned so a refactor that
  * silently loses them fails CI rather than only showing up as a bench
  * regression:
  *  - filters and column pruning reach the parquet scan
  *  - small dimension sides broadcast (no corpus shuffle)
  *  - the decontamination semi-join broadcasts the benchmark hash set
  *  - hot relational paths stay inside whole-stage codegen
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Final-plan string, as `graft.Profile final` dumps it: AQE keeps
    * `isFinalPlan=false` (no codegen spans shown) until the query
    * actually runs, so execute it first. */
  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString()
  }

  test("scan-project-filter pushes predicates and prunes columns") {
    val s = plan(RelationalOps.scanProjectFilter(spark, dir))
    // the shipdate predicate reaches the parquet scan, and the scan reads
    // only the 4 referenced columns of lineitem's 16
    assert(s.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), s)
    assert(s.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,"
      + "l_extendedprice:double,l_shipdate:timestamp"), s)
  }

  test("source cap rank-limits before the shuffle (partial TopKPerGroup)") {
    val s = plan(CurateOps.sourceCap(spark, dir))
    // row_number()<=15 must be rewritten into the TopKPerGroup physical
    // operator, with a partial (final=false) instance BELOW the exchange
    // so a skewed mega-source forwards at most k rows per map task
    assert("TopKPerGroup .*15, false".r.findFirstIn(s).isDefined, s)
    assert("TopKPerGroup .*15, true".r.findFirstIn(s).isDefined, s)
    // partial instance sits upstream of the hash exchange
    val partialIdx = s.indexOf("15, false")
    val exchangeIdx = s.indexOf("Exchange hashpartitioning(source")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx, s)
  }

  test("per-source weighted sample rank-limits before the shuffle") {
    val s = plan(CurateOps.sampleWeightedPerGroup(spark, dir))
    // the row_number()<=20 quota must rewrite to TopKPerGroup with the
    // partial (final=false) instance BELOW the exchange — a mega-source
    // forwards at most 20 candidate rows per map task
    assert("TopKPerGroup .*20, false".r.findFirstIn(s).isDefined, s)
    assert("TopKPerGroup .*20, true".r.findFirstIn(s).isDefined, s)
    val partialIdx = s.indexOf("20, false")
    val exchangeIdx = s.indexOf("Exchange hashpartitioning(source")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx, s)
  }

  test("capped conversation pack rank-limits before the user exchange") {
    val s = plan(ExtraOps.nestedPackCapped(spark, dir, lastN = 500))
    // the last-N window filter must rewrite to TopKPerGroup with the
    // partial (final=false) instance BELOW the hash exchange, so a
    // mega user forwards at most lastN rows per map task instead of
    // its whole history landing in one task (the round-16 `weak`)
    assert("TopKPerGroup .*500, false".r.findFirstIn(s).isDefined, s)
    assert("TopKPerGroup .*500, true".r.findFirstIn(s).isDefined, s)
    val partialIdx = s.indexOf("500, false")
    val exchangeIdx = s.indexOf("Exchange hashpartitioning(user_id")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx, s)
    // the groupBy(user_id) pack reuses the window's distribution: ONE
    // user_id hash exchange in the final plan (the AQE dump repeats the
    // tree under "== Initial Plan ==" — count before that marker only)
    val finalPart = s.split("== Initial Plan ==")(0)
    assert(finalPart.sliding("Exchange hashpartitioning(user_id".length)
      .count(_ == "Exchange hashpartitioning(user_id") == 1, s)
  }

  test("chunked sequence packing: corpus window partitions by (lang, chunk), " +
      "offsets broadcast back") {
    val s = plan(CurateOps.packSequencesChunked(spark, dir))
    // the heavy running sum runs chunk-parallel — its exchange hashes on
    // BOTH keys, so a mega-language spreads over idRange/chunkSpan tasks
    assert("Exchange hashpartitioning\\(lang#\\d+, chunk#\\d+"
      .r.findFirstIn(s).isDefined, s)
    // the stitch relation (one row per (lang, chunk)) joins back as a
    // broadcast — no second corpus-wide shuffle for the offsets
    assert(s.contains("BroadcastHashJoin"), s)
    // the wave-3 hazard pinned away: the only lang-ALONE exchange (the
    // offsets' per-lang prefix window) takes chunk TOTALS as input — its
    // (lang, chunk) aggregate sits below it in the tree, so corpus rows
    // never cross a lang-only boundary
    val finalPart = s.split("== Initial Plan ==")(0)
    val langOnly = "Exchange hashpartitioning\\(lang#\\d+, \\d+\\)"
      .r.findFirstMatchIn(finalPart)
    assert(langOnly.isDefined, s)
    val aggBelow = "HashAggregate\\(keys=\\[lang#\\d+, chunk#\\d+"
      .r.findAllMatchIn(finalPart).map(_.start).toSeq
    assert(aggBelow.exists(_ > langOnly.get.start),
      s"lang-only exchange has no (lang, chunk) aggregate below it:\n$s")
  }

  test("halo range frame: the sliding window partitions by (user_id, chunk)") {
    val s = plan(OlapOps.windowRangeFrameChunked(spark, dir))
    // the mega-user hazard pinned away: the RANGE frame's exchange
    // hashes on BOTH keys, so one user's history spreads over
    // span/chunkHours tasks (halo rows complete the boundary frames)
    assert("Exchange hashpartitioning\\(user_id#\\d+L?, chunk#\\d+"
      .r.findFirstIn(s).isDefined, s)
  }

  test("DEFAULT range frame is the prefix form: no bounded sliding frame " +
      "anywhere in the plan — only incremental unbounded-preceding windows") {
    // the plain/halo forms carry the O(n*w) sliding frame Spark cannot
    // retract; the work-optimality of the prefix form IS the absence of
    // that frame shape. Since round 18 the DEFAULT gate routes there —
    // pin the plan a user reaching for windowRangeFrame actually gets.
    val sliding = "RangeFrame, -3600000000"
    val plainPlan = plan(OlapOps.windowRangeFramePlain(spark, dir))
    assert(plainPlan.contains(sliding), plainPlan) // the hazard, present
    for (s <- Seq(plan(OlapOps.windowRangeFramePrefix(spark, dir)),
        plan(OlapOps.windowRangeFrame(spark, dir)))) {
      assert(!s.contains(sliding), s)              // and gone
      assert(s.contains("unboundedpreceding"), s)
      // the heavy pass still parallelizes by (user, chunk), and the
      // chunk-offset stitch broadcasts
      assert("Exchange hashpartitioning\\(user_id#\\d+L?, chunk#\\d+"
        .r.findFirstIn(s).isDefined, s)
      assert(s.contains("BroadcastHashJoin"), s)
    }
    // and the SQL-text gate: PrefixFrameRewriteRule rewrites the
    // RANGE-PRECEDING idiom a spark.sql user writes into the same
    // frame-free shape (round 18)
    val sqlPlan = plan(OlapOps.windowRangeFrameSql(spark, dir))
    assert(!sqlPlan.contains(sliding), sqlPlan)
    assert(sqlPlan.contains("unboundedpreceding"), sqlPlan)
  }

  test("rank-trick quality filter: the percentile window runs over " +
      "(lang, n) value groups, never corpus rows") {
    val s = plan(CurateOps.qualityFilterRank(spark, dir))
    // the window's input is the value-group aggregate — partial count
    // below its exchange, so a mega-language reduces map-side to its
    // distinct token counts before anything shuffles
    assert("HashAggregate\\(keys=\\[lang#\\d+, n#\\d+"
      .r.findFirstIn(s).isDefined, s)
    val aggIdx = "HashAggregate\\(keys=\\[lang#\\d+, n#\\d+"
      .r.findFirstMatchIn(s).map(_.start).get
    val winIdx = s.indexOf("Window ")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"value-group aggregate is not the window's input:\n$s")
    // thresholds (one row per lang) broadcast into the corpus filter
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("dimension joins broadcast; the big side never shuffles for them") {
    val s = plan(RelationalOps.join5Way(spark, dir))
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("PQ ADC scan: queries broadcast, rank-limit below the exchange, " +
      "no label column read") {
    import org.apache.spark.sql.functions.col
    import graft.similarity.Pq
    val micro = graft.Tables.load(spark, dir, "embeddings")
      .filter(Pq.l2Norm(col("embedding")) > 0)
      .select(col("vec_id"), Pq.microNormalized(col("embedding")).as("mv"))
    val cb = Pq.trainHead(micro, "vec_id", "mv", m = 8, k = 16)
    val codes = Pq.encode(micro, "vec_id", "mv", cb)
    val s = plan(Pq.adcTopK(codes, micro.filter(col("vec_id") < 8), cb, k = 3))
    // the tiny query side (8 rows with their ADC tables) broadcasts; the
    // code scan is never shuffled for the join
    assert(s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
    // per-query ranking through TopKPerGroup with the partial (final=false)
    // instance BELOW the qid exchange: each map task forwards at most k
    // scored rows per query instead of its whole code-scan output
    assert("TopKPerGroup .*3, false".r.findFirstIn(s).isDefined, s)
    assert("TopKPerGroup .*3, true".r.findFirstIn(s).isDefined, s)
    val partialIdx = s.indexOf("3, false")
    val exchangeIdx = s.indexOf("Exchange hashpartitioning(qid")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx, s)
    // column pruning reaches the embeddings scan: label is never read
    assert(!s.contains("label"), s)
  }

  test("keyless interval join runs as a hash join on the bucket key, " +
      "never a nested loop") {
    val s = plan(RelationalOps.joinIntervalBucketed(spark, dir))
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("bkt"), s)
  }

  test("decontamination broadcasts the benchmark hash set (semi-join)") {
    val s = plan(CurateOps.decontaminate(spark, dir))
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftSemi"), s)
  }

  /** Structural assertion on the join operator itself (not a plan-string
    * heuristic): the first BroadcastHashJoin's BUILD side must be the
    * subtree that outputs the batch attribute `bid` — a plan
    * broadcasting the corpus (`cid`) side fails this even if attribute
    * naming shifts. Executes the frame first (AQE finalizes plans at
    * run time), then unwraps adaptive/stage nodes. */
  private def assertBroadcastsBatchSide(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    df.collect()
    def all(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case q: QueryStageExec => all(q.plan)
      case _ => p.children.flatMap(all)
    })
    val bhjs = all(df.queryExecution.executedPlan)
      .collect { case j: BroadcastHashJoinExec => j }
    assert(bhjs.nonEmpty, df.queryExecution.executedPlan.toString())
    val j = bhjs.head
    val build = if (j.buildSide == BuildLeft) j.left else j.right
    val names = build.output.map(_.name)
    assert(names.exists(_.startsWith("bid")) && !names.exists(_.startsWith("cid")),
      s"broadcast side outputs $names — expected the batch (bid) side")
  }

  test("incremental-dedup candidate join broadcasts the batch band rows") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, dir, "documents")
    // corpus = the full table, batch = 10 docs — the production size
    // asymmetry. The cross-source band join must broadcast the BATCH
    // side; the corpus signature index must never shuffle for it.
    def rows(df: org.apache.spark.sql.DataFrame) =
      graft.dedup.Dedup.shingleStringRows(df, "text", "doc_id", 3)
        .select(col("id"), graft.dedup.Dedup.md5Hash60(col("sh")).as("h"))
        .distinct().localCheckpoint()
    val bBand = graft.dedup.Dedup
      .portableBandRows(rows(docs.filter(col("doc_id") < 10)), 32, 8)
      .toDF("bid", "band", "bsig")
    val cBand = graft.dedup.Dedup.portableBandRows(rows(docs), 32, 8)
      .toDF("cid", "band", "bsig")
    assertBroadcastsBatchSide(bBand.join(cBand, Seq("band", "bsig"))
      .select("bid", "cid").distinct())
  }

  test("persisted band-index join broadcasts the batch side (CorpusIndex.assign shape)") {
    import org.apache.spark.sql.functions._
    // the production path: corpus present ONLY as its persisted index
    // tables. The batch band rows joined against the store-read band
    // index must build (broadcast) the BATCH side — a plan that shuffles
    // the index scan would shuffle the corpus per batch at scale.
    val store = new graft.pipeline.Store(spark,
      s"/tmp/graft_ss/p${ProcessHandle.current().pid}/cidx_shape")
    val docs = graft.Tables.load(spark, dir, "documents")
    graft.dedup.CorpusIndex.build(store, "c",
      docs.filter(col("doc_id") % 5 =!= 0), "text", "doc_id")
    val bRows = graft.dedup.Dedup
      .shingleStringRows(docs.filter(col("doc_id") < 10), "text", "doc_id", 3)
      .select(col("id"), graft.dedup.Dedup.md5Hash60(col("sh")).as("h"))
      .distinct().localCheckpoint()
    val bBand = graft.dedup.Dedup.portableBandRows(bRows, 32, 8)
      .toDF("bid", "band", "bsig")
    val cBand = spark.read.parquet(store.path("c_bands"))
      .toDF("cid", "band", "bsig")
    assertBroadcastsBatchSide(bBand.join(cBand, Seq("band", "bsig"))
      .select("bid", "cid").distinct())
  }

  test("internal-LSH embedding near-dup: vectors never ride the candidate shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val df = graft.dedup.Dedup.embeddingNearDup(emb, "embedding", "vec_id",
      threshold = 0.9, dim = 64, bitsPerTable = 5, tables = 6, seed = 42)
    df.collect()
    def all(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case q: QueryStageExec => all(q.plan)
      case _ => p.children.flatMap(all)
    })
    val nodes = all(df.queryExecution.executedPlan)
    // no all-pairs fallback anywhere in the plan
    assert(!nodes.exists(_.getClass.getSimpleName.contains("Cartesian")),
      df.queryExecution.executedPlan.toString())
    // every shuffle carries only ids/buckets/counts — an exchange whose
    // rows include an embedding array means the vectors are riding the
    // candidate or dedup shuffle instead of being re-joined after it
    val arrayShuffles = nodes.collect { case s: ShuffleExchangeExec => s }
      .filter(_.output.exists(_.dataType.isInstanceOf[
        org.apache.spark.sql.types.ArrayType]))
    assert(arrayShuffles.isEmpty,
      arrayShuffles.map(_.output.map(_.name).mkString(",")).mkString(" | "))
  }

  test("persisted IVF serving broadcasts the probes; the cell table never shuffles") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions.col
    val store = new graft.pipeline.Store(spark,
      s"/tmp/graft_ss/p${ProcessHandle.current().pid}/ivf_shape")
    val emb = graft.Tables.load(spark, dir, "embeddings")
    graft.similarity.Ivf.buildPersisted(store, "ivf", emb, k = 8)
    val index = graft.similarity.Ivf.load(store, "ivf")
    val df = graft.similarity.Ivf.topK(index,
      emb.filter(col("vec_id") < 5), k = 3, nProbe = 2)
    df.collect()
    def all(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case q: QueryStageExec => all(q.plan)
      case _ => p.children.flatMap(all)
    })
    val nodes = all(df.queryExecution.executedPlan)
    // the cell join is a broadcast hash join (probes build side — the
    // corpus side outputs the cell-table embedding column `emb`)
    val bhj = nodes.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, df.queryExecution.executedPlan.toString())
    // the serving scan of the persisted cell table reaches the final
    // top-k without ANY shuffle of the corpus rows: the only exchanges
    // are for the tiny probe ranking and the final window, none of which
    // carry the corpus embedding column
    val corpusShuffles = nodes.collect { case s: ShuffleExchangeExec => s }
      .filter(_.output.exists(a => a.name == "emb"))
    assert(corpusShuffles.isEmpty,
      corpusShuffles.map(_.output.map(_.name).mkString(",")).mkString(" | "))
  }

  test("LM perplexity scoring joins all broadcast; one scoring shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val df = LmOps.lmPerplexity(spark, dir)
    df.collect()
    def all(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case q: QueryStageExec => all(q.plan)
      case o => o.children.flatMap(all)
    })
    val nodes = all(df.queryExecution.executedPlan)
    // the model (vocab/bigram/context) joins must never sort-merge: the
    // token-pair stream stays shuffle-free until the per-doc rollup
    assert(nodes.collect { case j: SortMergeJoinExec => j }.isEmpty,
      df.queryExecution.executedPlan.toString())
    // the per-pair stream hash-shuffles exactly once — the per-doc
    // rollup (model-side exchanges read checkpointed <=V^2-row frames
    // without doc_id; the only other doc_id exchange is the final
    // orderBy's range partitioning)
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val pairShuffles = nodes.collect { case s: ShuffleExchangeExec => s }
      .filter(s => s.outputPartitioning.isInstanceOf[HashPartitioning] &&
        s.output.exists(_.name == "doc_id"))
    assert(pairShuffles.size == 1,
      pairShuffles.map(_.output.map(_.name).mkString(",")).mkString(" | "))
  }

  test("bm25 search never hash-shuffles the corpus: stats row + TakeOrdered") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val df = SearchOps.searchBm25(spark, dir)
    df.collect()
    def all(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case q: QueryStageExec => all(q.plan)
      case o => o.children.flatMap(all)
    })
    val nodes = all(df.queryExecution.executedPlan)
    assert(nodes.collect { case j: SortMergeJoinExec => j }.isEmpty,
      df.queryExecution.executedPlan.toString())
    // per-doc scoring is pure column work: the only exchanges are the
    // single-row stats aggregation and the k-row rank window, never a
    // hash repartition of document rows
    val hashShuffles = nodes.collect { case s: ShuffleExchangeExec => s }
      .filter(_.outputPartitioning.isInstanceOf[HashPartitioning])
    assert(hashShuffles.isEmpty,
      hashShuffles.map(_.output.map(_.name).mkString(",")).mkString(" | "))
  }

  test("DSIR scoring broadcasts the bucket-weight frame; no sort-merge join") {
    val s = plan(CurateOps.dsirWeights(spark, dir))
    // the ≤256-row per-bucket weight frame must broadcast against the
    // exploded feature stream — a sort-merge join here would shuffle the
    // whole corpus's feature rows by bucket
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("int8 ANN broadcasts the query side; the corpus scan never hash-shuffles") {
    val s = plan(VectorOps.annQuantized(spark, dir))
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"), s)
    // corpus rows reach the per-qid rank window via the broadcast join,
    // not a corpus-wide hash exchange on join keys
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("sampled CC-Net cutoffs broadcast; the corpus-wide lang window is gone") {
    val s = plan(LmOps.ccnetBucketsSampled(spark, dir))
    // the languages×2-row cutoff frame joins by broadcast; bucketing is
    // then map-side — the exact-ntile form's corpus-wide per-language
    // window (the skew wall at scale) must not appear over the full
    // scores frame (the only windows run on the doc_id%10 sample)
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("inverted-index posting prefix rank-limits before the shuffle") {
    val s = plan(SearchOps.invertedIndex(spark, dir))
    // the row_number()<=20 posting cap must rewrite to TopKPerGroup with
    // the partial (final=false) instance below the exchange — a stopword
    // token's doc ids are capped per map task, never collected in full
    assert("TopKPerGroup .*20, false".r.findFirstIn(s).isDefined, s)
    val partialIdx = s.indexOf("20, false")
    val exchangeIdx = s.indexOf("Exchange hashpartitioning(tok")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx, s)
  }

  test("track claiming: candidate join is a broadcast HASH join on the " +
      "latitude band, never a nested loop over all invests") {
    val s = plan(EnsembleOps.claimTracks(spark, dir))
    // invests explode into lat bands and equi-join — per-track work is
    // O(invests in 3 bands). A BroadcastNestedLoopJoin here means the
    // band key was lost and every track re-evaluates every invest.
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("Cartesian"), s)
    assert(s.contains("lat_band"), s)
  }

  test("kNN join (batch-vs-batch): probes shuffle by cell, no probe broadcast") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val index = graft.similarity.Ivf.build(emb, k = 4)
    val df = graft.similarity.Ivf.topK(index,
      emb.filter(col("vec_id") % 10 === 0), k = 3, nProbe = 4,
      broadcastProbes = Some(false))
    df.collect()
    def all(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case q: QueryStageExec => all(q.plan)
      case o => o.children.flatMap(all)
    })
    val nodes = all(df.queryExecution.executedPlan)
    // the CELL join must not broadcast the probe side: any BHJ whose
    // build side carries the query-vector column qv is the forbidden
    // shape (the tiny centroid cross product's broadcast is fine)
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    val probeBroadcasts = nodes.collect { case j: BroadcastHashJoinExec => j }
      .filter { j =>
        val build = if (j.buildSide == BuildLeft) j.left else j.right
        build.output.exists(_.name == "qv")
      }
    assert(probeBroadcasts.isEmpty,
      df.queryExecution.executedPlan.toString())
    assert(!nodes.exists(_.getClass.getSimpleName.contains("Cartesian")))
  }

  test("pricing summary aggregates inside whole-stage codegen, map-side partial") {
    val s = plan(RelationalOps.aggPricingSummary(spark, dir))
    // `*(N)` prefixes mark whole-stage-codegen spans in the compact plan
    // string; the aggregate must sit inside one, and must partial-agg
    // before the exchange (map-side combine)
    assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(s).isDefined, s)
    assert(s.contains("partial_sum"), s)
  }

  test("bloom decontamination: the bit-probe prefilter sits in the corpus scan stage") {
    val s = plan(CurateOps.decontaminateBloom(spark, dir))
    // the might_contain probe must run BEFORE the semi-join (map-side
    // prefilter), and the exact verify stays a broadcast semi-join
    assert(s.contains("might_contain"), s)
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftSemi"), s)
    val probeIdx = s.indexOf("might_contain")
    val semiIdx = s.indexOf("LeftSemi")
    assert(probeIdx > semiIdx, // plan strings print top-down: deeper = later
      s"bloom probe must be below (before) the semi-join\n$s")
  }

  test("line dedup: no cartesian, both aggregates partial before their exchange") {
    val s = plan(graft.dedup.Dedup.lineDedup(
      graft.Tables.load(spark, dir, "documents"), "text", "doc_id"))
    assert(!s.contains("Cartesian"), s)
    // the distinct-doc count per line hash partial-aggregates map-side
    assert(s.contains("partial_count(distinct"), s)
  }

  test("shard balance: every window partitions by spark_partition_id — no funnel") {
    val s = plan(CurateOps.shardBalance(spark, dir))
    // the forbidden shapes: an empty partitionBy window (whole relation
    // through one task) and a shard-partitioned window (1/S of the
    // corpus through one task). The only windows allowed are the
    // two-pass rank's per-partition row_numbers, partitioned by pid.
    val windows = """Window \[[^\]]*\], \[([^\]]*)\]""".r
      .findAllMatchIn(s).map(_.group(1)).toSeq
    assert(windows.nonEmpty && windows.forall(_.startsWith("pid#")),
      s"unexpected window partitioning: $windows\n$s")
    assert(s.contains("row_number"), s)
  }

  test("snapshot diff: one full-outer sort-merge join on the key, " +
    "unchanged rows suppressed in-join") {
    val s = plan(SourceSinkOps.snapshotDiff(spark, dir))
    // the diff must stay a single key-equi full-outer join — a
    // nested-loop or cartesian fallback (e.g. from the classification
    // predicate leaking into the join condition) would be quadratic
    assert(s.contains("SortMergeJoin") && s.contains("FullOuter"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    // both snapshots scan the same parquet: filters must reach the scan
    assert(s.contains("PushedFilters"), s)
  }

  test("jaro-winkler join: candidate verify is a spread equi-join, no cartesian") {
    val df = MatchOps.joinJw(spark, dir)
    val s = plan(df)
    // the salted length-blocked candidate join must stay an equi-join
    // on (bucket, salt) — an all-pairs fallback would show as a
    // cartesian or a nested loop carrying the jw verify per string pair
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    // the verify stage runs inside a localCheckpoint barrier (its twin
    // re-execution under the broadcast expansion joins was measured at
    // 2x), so its plan is pinned directly: the explicit-width
    // repartition on (bkt, salt) must survive AQE — only ~(buckets ×
    // salts) distinct keys exist, and a coalesced exchange would
    // serialize the whole quadratic verify on a few tasks
    import org.apache.spark.sql.functions._
    val titles = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        array_join(slice(graft.functions.Text.tokens(col("text")), 1, 5), " ")
          .as("title"))
      .filter(length(col("title")) > 0)
      .select(col("doc_id").cast("long").as("id"), col("title").as("str"))
      .groupBy("str").agg(min("id").as("id"))
      .withColumn("len", length(col("str")))
    val verify = graft.similarity.JaroWinklerJoin.candidateVerify(
      titles, titles, 0.9, col("a.id") < col("b.id"), "str_a", "str_b")
    val vs = plan(verify)
    assert(!vs.contains("CartesianProduct") &&
      !vs.contains("BroadcastNestedLoopJoin"), vs)
    assert(vs.contains("REPARTITION_BY_NUM") || vs.contains("REPARTITION_BY_COL"),
      s"explicit repartition lost from the jw verify plan:\n$vs")
    assert(vs.contains("jaro_winkler"), vs)
  }

  test("fuzzy join: candidate verify is a spread equi-join, never one task") {
    val df = MatchOps.joinFuzzy(spark, dir)
    val s = plan(df)
    // no cartesian fallback anywhere; the short-string brute branch is a
    // DOCUMENTED bounded nested loop (empty for this fixture), so BNLJ
    // itself is not forbidden — but the gram-side candidate join must be
    // an equi-join on (gram, occ), visible as its hash-partitioned
    // exchange below.
    assert(!s.contains("CartesianProduct"), s)
    // the explicit-width repartition must survive AQE: if the candidate
    // join's exchange coalesces to one partition, the entire in-join
    // levenshtein verify serializes on a single task (measured 52 s ->
    // 3 s at sf0.1). REPARTITION_BY_COL with an explicit count is the
    // pinned mechanism.
    assert(s.contains("REPARTITION_BY_NUM") || s.contains("REPARTITION_BY_COL"),
      s"explicit repartition lost from the fuzzy-join plan:\n$s")
  }

  test("semantic decontamination: bench side broadcasts, corpus never shuffles") {
    val s = plan(VectorOps.decontaminateSemantic(spark, dir)
      .limit(1000)) // drop the display orderBy's global sort from the pin
    // the 40-vector bench set must build a broadcast nested-loop join
    // (the only join type for a pure theta condition) — never a corpus
    // repartition: the single allowed exchange is the broadcast itself
    assert(s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("Exchange hashpartitioning"), s)
    // the verify kernel is the native codegen cosine
    assert(s.contains("cosine_similarity"), s)
  }

  test("duplicate spans: one tokenize+hash corpus pass — the timed plan " +
      "reads the (id, h, c) seam, never the parquet text") {
    val out = graft.dedup.Dedup.duplicateSpans(
      graft.Tables.load(spark, dir, "documents"), "text", "doc_id", k = 8)
    val s = plan(out)
    // the three consumers (distinct-doc count, per-doc total, duplicated
    // total) must all read the materialized pre-aggregate: the naive
    // form re-ran the scan + explode + md5 pipeline once per consumer
    // (plans/r19/q_dedup_spans_before.txt has it three times)
    assert(!s.contains("Scan parquet"), s)
    assert(!s.contains("Generate"), s)
    assert(s.contains("Scan ExistingRDD"), s)
  }

  test("phash near-dup: one signature pass — both self-join legs read " +
      "the materialized quarter rows, never the payloads") {
    val s = plan(MultimodalOps.multimodalPhash(spark, dir).limit(1000))
    // the aHash pipeline is map-side (no exchange for AQE to reuse), so
    // without the seam each join leg re-ran payload synthesis + the 64
    // band aggregates (plans/r19/q_multimodal_phash_before.txt has the
    // pipeline twice)
    assert(!s.contains("Scan parquet"), s)
    assert(s.contains("Scan ExistingRDD"), s)
  }

  test("k-means assignment is map-side: literal centroids, no join, no " +
      "shuffle before the aggregate") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").cast("long").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = graft.similarity.Cluster.seeds(emb, 8)
    val s = plan(graft.similarity.Cluster.assign(emb, cents))
    // centroids ride as literals: the assignment pass must contain NO
    // join and NO exchange of any kind — one scan, one projection
    assert(!s.contains("Join"), s)
    assert(!s.contains("Exchange"), s)
    // and the argmax runs on the native cosine kernel
    assert(s.contains("cosine_similarity"), s)
  }
}
