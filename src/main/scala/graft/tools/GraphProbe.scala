package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Measure, Session}

/** Skew probe wave 4 (round 18): the graph modality and the
  * track-interpolation window — the two surfaces waves 1-3 never
  * measured. Unlike [[SkewProbe]] this needs no replica directories:
  * the gate graphs are folded out of TPC-H keys (no way to inject a hub
  * through the gate), so the probe generates DETERMINISTIC synthetic
  * inputs directly — a uniform shape and a skewed shape of identical
  * row/edge volume at the same factor — and times the library operators
  * ([[graft.graph.PageRank]], [[graft.graph.ConnectedComponents]],
  * [[graft.datasets.Ensemble.interpolate]]) on both, so the ratio
  * isolates skew from volume exactly like waves 1-3.
  *
  * Shapes per probe (factor f scales rows/edges linearly):
  *  - pagerank_hub_in:  dst of every 2nd edge is node 0 (the power-law
  *    in-degree hub — contributions groupBy(dst) must partial-aggregate
  *    map-side for this to stay flat);
  *  - pagerank_hub_out: src of every 2nd edge is node 0 (one source
  *    fans out to half the graph — the per-sweep ranks⋈edges join on
  *    src concentrates that key in one task unless the join spreads);
  *  - cc_hub: half the edges become star spokes on node 0 (one giant
  *    component with a mega-degree center; label propagation joins
  *    labels on nbr — the hub key is half the undirected edge list);
  *    uniform baseline: 4-node chains (same edge count, diameter 3);
  *  - interpolate_mega_track: all rows one track key vs the same rows
  *    spread over 50-point tracks, alternating-null values (the exact
  *    mega-track regime the r17 verdict asked wave 4 to measure).
  *
  * Edge/row counts are deliberately modest (100k edges × f): the probe
  * measures RATIOS, and the quadratic baselines it exists to catch
  * (see [[graft.datasets.Ensemble.interpolateFollowingFrame]]) would
  * not finish at replica scale.
  */
object GraphProbe {

  private val P = 1000003L // prime for affine hashing inside ANSI range

  /** Deterministic pseudo-random long in [0, n) from (i, salt). */
  private def h(i: org.apache.spark.sql.Column, salt: Long, n: Long) =
    pmod((i * lit(2654435761L) + lit(salt)) % lit(P), lit(n))

  def pagerankEdges(spark: SparkSession, factor: Int,
      skew: String): DataFrame = {
    val nodes = 20000L * factor
    val edges = 100000L * factor
    val e = spark.range(edges).toDF("i")
      .select(h(col("i"), 17L, nodes).as("u_src"),
        h(col("i"), 71L, nodes).as("u_dst"), col("i"))
    val shaped = skew match {
      case "uniform" => e.select(col("u_src").as("src"), col("u_dst").as("dst"))
      case "hub_in" => e.select(col("u_src").as("src"),
        when(col("i") % 2 === 0, lit(0L)).otherwise(col("u_dst")).as("dst"))
      case "hub_out" => e.select(
        when(col("i") % 2 === 0, lit(0L)).otherwise(col("u_src")).as("src"),
        col("u_dst").as("dst"))
    }
    shaped.filter(col("src") =!= col("dst"))
  }

  def ccEdges(spark: SparkSession, factor: Int, skew: String): DataFrame = {
    val n = 100000L * factor
    val base = spark.range(n).toDF("i").filter(col("i") % 4 < 3)
    skew match {
      // 4-node chains: (4k)-(4k+1)-(4k+2)-(4k+3), diameter 3
      case "uniform" => base
        .select(col("i").as("a"), (col("i") + 1).as("b"))
      // half the chain edges become star spokes on node 0: one giant
      // low-diameter component whose center carries half the edge list
      case "hub" => base
        .select(
          when(col("i") % 2 === 0, lit(0L)).otherwise(col("i")).as("a"),
          (col("i") + 1).as("b"))
        .filter(col("a") =!= col("b"))
    }
  }

  def trackRows(spark: SparkSession, factor: Int,
      skew: String): DataFrame = {
    val rows = 12500L * factor
    val perTrack = 50L
    spark.range(rows).toDF("i")
      .select(
        (if (skew == "mega") lit(0L) else (col("i") / perTrack)).as("k"),
        (if (skew == "mega") col("i") else (col("i") % perTrack)).as("hour"),
        when(col("i") % 2 === 0, (col("i") % 97).cast("double")).as("v"))
  }

  private def time(body: => DataFrame): Double = {
    body.write.format("noop").mode("overwrite").save() // warm
    Measure.timed(body.write.format("noop").mode("overwrite").save()).wallS
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(8)
    val probes = if (args.length > 1) args.drop(1).toSet
      else Set("pagerank_hub_in", "pagerank_hub_out", "cc_hub",
        "interpolate_mega", "interpolate_mega_naive")
    val spark = Session.local()
    def report(name: String, u: Double, s: Double): Unit =
      println(f"[skew4] $name%-28s uniform_x$factor=${u}%7.2fs  " +
        f"skew_x$factor=${s}%7.2fs  skew_ratio=${s / u}%5.2f")

    for (shape <- Seq("hub_in", "hub_out")
         if probes.contains(s"pagerank_$shape")) {
      val u = time(graft.graph.PageRank.run(
        pagerankEdges(spark, factor, "uniform"), iterations = 5))
      val s = time(graft.graph.PageRank.run(
        pagerankEdges(spark, factor, shape), iterations = 5))
      report(s"pagerank_$shape", u, s)
    }
    if (probes.contains("cc_hub")) {
      val u = time(graft.graph.ConnectedComponents.run(
        ccEdges(spark, factor, "uniform")))
      val s = time(graft.graph.ConnectedComponents.run(
        ccEdges(spark, factor, "hub")))
      report("cc_hub", u, s)
    }
    if (probes.contains("interpolate_mega")) {
      val u = time(graft.datasets.Ensemble.interpolate(
        trackRows(spark, factor, "uniform"), Seq("k"), "hour", Seq("v")))
      val s = time(graft.datasets.Ensemble.interpolate(
        trackRows(spark, factor, "mega"), Seq("k"), "hour", Seq("v")))
      report("interpolate_mega", u, s)
    }
    if (probes.contains("interpolate_mega_naive")) {
      // the retained O(n^2)-per-partition baseline — run at LOW factors
      // only (the quadratic is the finding, not a thing to wait out)
      val u = time(graft.datasets.Ensemble.interpolateFollowingFrame(
        trackRows(spark, factor, "uniform"), Seq("k"), "hour", Seq("v")))
      val s = time(graft.datasets.Ensemble.interpolateFollowingFrame(
        trackRows(spark, factor, "mega"), Seq("k"), "hour", Seq("v")))
      report("interpolate_mega_naive", u, s)
    }
    spark.stop()
  }
}
