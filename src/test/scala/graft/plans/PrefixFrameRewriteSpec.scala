package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The SQL-text prefix-difference rewrite (round 18): a sliding
  * count/sum RANGE frame written as plain SQL gets the O(n) plan, with
  * bit-identical results — and every soundness boundary bails back to
  * the plain frame instead of rewriting unsoundly. */
class PrefixFrameRewriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sliding = "RangeFrame, -"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** `body` with the rule excluded from the session's optimizer — the
    * reference semantics. Build the reference query inside it: a frame
    * planned before keeps its plan. */
  private def without[T](body: => T): T = TestSpark.withConf(
    "spark.sql.optimizer.excludedRules", "graft.plans.PrefixFrameRewriteRule")(body)

  private def fixtureView(): Unit = {
    def s(l: Long) = Option(l) // us NULLABLE: the IS NOT NULL filter,
    // not schema nullability, is what licenses the rewrite here
    val rows = Seq(
      // user 10: ties at t=100 (incl. a DUPLICATE row), a boundary-
      // exact pair (t=100 vs t=200 at L=100: inclusive edge), null
      // values inside frames, an all-null frame at t=500
      (10L, s(100L), Some(1.0)), (10L, s(100L), Some(1.0)),
      (10L, s(100L), None),
      (10L, s(200L), Some(4.0)), (10L, s(301L), Some(8.0)),
      (10L, s(500L), None),
      // user 20: single row; user 30: dense run
      (20L, s(50L), Some(16.0)),
      (30L, s(1L), Some(32.0)), (30L, s(2L), None), (30L, s(3L), Some(64.0)))
    // through a parquet roundtrip: over a LocalRelation the optimizer
    // evaluates the IS NOT NULL filter eagerly and the constraint that
    // licenses the rewrite disappears with the Filter node — a real
    // datasource (what the gates read) keeps it
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"), "pfx_fixture_pq").getPath
    rows.toDF("user_id", "us", "value")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("pfx_fixture")
  }

  private val fixtureSql =
    """SELECT user_id, us,
      |count(*) OVER w AS n,
      |count(value) OVER w AS nv,
      |CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS v,
      |CAST(AVG(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS a
      |FROM pfx_fixture WHERE us IS NOT NULL
      |WINDOW w AS (PARTITION BY user_id ORDER BY us
      |             RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""".stripMargin

  private def canon(df: DataFrame) =
    df.collect().map(_.toSeq).toSeq
      .sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long],
        r.map(String.valueOf).mkString("|")))

  test("sliding count/sum SQL text is rewritten to the prefix shape " +
      "and stays bit-identical on ties, duplicates, null values, " +
      "all-null frames and boundary-exact edges") {
    fixtureView()
    val q = spark.sql(fixtureSql)
    val s = plan(q)
    assert(!s.contains(sliding), s)          // the frame is GONE
    assert(s.contains("unboundedpreceding"), s)
    val (ref, refPlan) = without {
      val r = spark.sql(fixtureSql); (canon(r), plan(r))
    }
    assert(refPlan.contains(sliding), refPlan) // the rule is excluded
    assert(canon(q) == ref)
  }

  test("soundness boundaries bail out to the plain frame") {
    fixtureView()
    // 1. order key not provably non-null -> NOT rewritten (null peers
    // form a whole-group frame the prefix difference cannot reproduce)
    val nullable = fixtureSql.replace("WHERE us IS NOT NULL\n", "")
    assert(plan(spark.sql(nullable)).contains(sliding))
    // ...and its results still match the reference semantics
    assert(canon(spark.sql(nullable)) == without(canon(spark.sql(nullable))))
    // 2. double sums/avgs -> NOT rewritten (prefix difference reorders
    // float arithmetic; only exact integral/decimal buffers are eligible)
    val dbl = fixtureSql.replace(
      "CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)",
      "SUM(value) OVER w")
    assert(plan(spark.sql(dbl)).contains(sliding))
    val dblAvg = fixtureSql.replace(
      "CAST(AVG(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)",
      "AVG(value) OVER w")
    assert(plan(spark.sql(dblAvg)).contains(sliding))
    // 3. descending order -> NOT rewritten (the -1 gap argument is
    // ascending-integral only)
    val desc = fixtureSql.replace("ORDER BY us", "ORDER BY us DESC")
      .replace("100 PRECEDING", "100 PRECEDING")
    assert(plan(spark.sql(desc)).contains(sliding))
    // 4. a non-subtractable aggregate in the same window -> whole node
    // bails (all-or-nothing)
    val withMax = fixtureSql.replace("count(*) OVER w AS n,",
      "count(*) OVER w AS n, max(value) OVER w AS mx,")
    assert(plan(spark.sql(withMax)).contains(sliding))
  }

  test("multiple DISTINCT lookbacks in one window node are rewritten " +
      "(one probe leg each) and stay bit-identical") {
    fixtureView()
    // round 19: the round-18 rule bailed the whole node on mixed
    // lookbacks; now each aggregate subtracts its own probe's prefix
    val mixed =
      """SELECT user_id, us,
        |count(*) OVER w100 AS n100,
        |count(*) OVER w10 AS n10,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w10 AS DOUBLE) AS v10
        |FROM pfx_fixture WHERE us IS NOT NULL
        |WINDOW w100 AS (PARTITION BY user_id ORDER BY us
        |                RANGE BETWEEN 100 PRECEDING AND CURRENT ROW),
        |       w10 AS (PARTITION BY user_id ORDER BY us
        |               RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)""".stripMargin
    val q = spark.sql(mixed)
    assert(!plan(q).contains(sliding), plan(q))
    assert(canon(q) == without(canon(spark.sql(mixed))))
  }

  test("the chunked stitch (round 19) and the unchunked rewrite agree " +
      "bit-for-bit; the chunk kill switch works") {
    fixtureView()
    def withoutChunk[T](body: => T): T = {
      sys.props("graft.prefixFrame.chunk") = "false"
      try body finally sys.props.remove("graft.prefixFrame.chunk")
    }
    val chunked = spark.sql(fixtureSql)
    // the stitch's broadcast join is in the plan only when chunking is on
    assert(plan(chunked).contains("__pfx_chunk"), plan(chunked))
    val (unchunked, unchunkedPlan) = withoutChunk {
      val r = spark.sql(fixtureSql); (canon(r), plan(r))
    }
    assert(!unchunkedPlan.contains("__pfx_chunk"), unchunkedPlan)
    assert(!unchunkedPlan.contains(sliding), unchunkedPlan)
    assert(canon(chunked) == unchunked)
    // a tiny chunk factor forces many cross-chunk stitches on the same
    // fixture — the seam math must still be exact
    sys.props("graft.prefixFrame.chunkFactor") = "1"
    try assert(canon(spark.sql(fixtureSql)) == unchunked)
    finally sys.props.remove("graft.prefixFrame.chunkFactor")
  }

  test("the DataFrame surface benefits too when the order key is " +
      "filtered non-null") {
    val df = Seq((1L, 10L, 2.5), (1L, 60L, 1.5), (1L, 200L, 4.0),
        (2L, 5L, 8.0))
      .toDF("k", "t", "x")
      .filter(col("t").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("t").rangeBetween(-50L, 0L)
    def q = df.select(col("k"), col("t"),
      count(lit(1)).over(w).as("n"),
      sum(col("x").cast("decimal(18,2)")).over(w).as("sx"))
    val rewritten = q
    assert(!plan(rewritten).contains(sliding), plan(rewritten))
    val (ref, refPlan) = without { val r = q; (canon(r), plan(r)) }
    assert(refPlan.contains(sliding), refPlan)
    assert(canon(rewritten) == ref)
  }
}
