package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.{Measure, Session, Tables}
import graft.dedup.{CorpusIndex, Dedup}
import graft.pipeline.{Checkpoints, Store}

/** Scale probe for the persisted-index incremental-dedup path: corpus
  * grows (1x plus the given factors of [[Replicate]]'s re-keyed
  * replicas at /tmp/sfx<factor>), the batch stays FIXED, and the index
  * build is separated from the per-batch assign — the production
  * question is "what does one batch cost against an ever-larger indexed
  * corpus", which only the assign time answers. Expect: build grows
  * with the corpus (one-time, amortized), assign grows with the
  * CANDIDATE set only (the index joins broadcast the batch side and
  * never shuffle the corpus; on the replicated corpus every copy
  * band-collides, so candidates grow with the factor — the worst case
  * for assign).
  *
  * At each scale the assign also runs in both code-generation postures
  * [[CorpusIndex.assign]] chooses between, alternating which goes first:
  * Spark's lazy whole-stage codegen, and `NO_CODEGEN` with the result
  * collected inside the scope. It prints the summed input estimate, the
  * side [[Checkpoints.interpretedIfFits]] picks at this session's
  * `spark.sql.autoBroadcastJoinThreshold`, and each posture's median
  * wall and process CPU seconds (the CPU includes the JIT and Janino
  * threads), so the gate can be checked against the measured crossover.
  * `REPS` (default 4) sets the timed pairs per scale, after one warm
  * pair.
  *
  * Run: `runMain graft.tools.Replicate 8 /tmp/sfx8` (likewise for each
  * factor), then `runMain graft.tools.IncrementalScaleProbe 8 16 32`
  * (default factors 8 32).
  */
object IncrementalScaleProbe {
  def main(args: Array[String]): Unit = {
    val factors = 1 +: (if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(8, 32))
    val reps = sys.env.get("REPS").map(_.toInt).getOrElse(4)
    val src = "/root/testdata/sf0.1"
    val spark = Session.local()

    // Fixed batch: every fifth sf0.1 document, re-keyed clear of every
    // replica id range, split across the three decision paths — a pure
    // copy batch would exact-match everything and short-circuit the
    // banding/verify/closure work, measuring only the exact-index join:
    //  - %3=0: verbatim copy -> 'exact' (hash-index hit)
    //  - %3=1: one appended token -> 'near' (band collision + verify)
    //  - %3=2: synthetic text -> 'novel' (batch-local closure)
    val batch = Tables.load(spark, src, "documents")
      .filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 900000000L)
      .withColumn("text",
        when(col("doc_id") % 3 === 1, concat(col("text"), lit(" qq")))
          .when(col("doc_id") % 3 === 2,
            concat_ws(" ", lit("nv"), col("doc_id"), lit("aa"),
              col("doc_id"), lit("bb"), col("doc_id"), lit("cc")))
          .otherwise(col("text")))
      .transform(Checkpoints.stable)

    def probe(factor: Int): Unit = {
      val dir = if (factor == 1) src else s"/tmp/sfx$factor"
      require(new java.io.File(s"$dir/documents.parquet").exists(),
        s"run `runMain graft.tools.Replicate $factor $dir` first")
      val store = new Store(spark,
        s"/tmp/graft_ss/p${ProcessHandle.current().pid}/cidx_probe$factor")
      val tBuild = Measure.timed(CorpusIndex.build(store, "c",
        Tables.load(spark, dir, "documents"), "text", "doc_id")).wallS
      val Seq(exact, shingles, bandRows) = Seq("_exact", "_shingles", "_bands")
        .map(t => spark.read.parquet(store.path(s"c$t")))
      val estimate = (batch +: Seq(exact, shingles, bandRows))
        .map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum
      val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
      val gate = if (threshold >= 0 && estimate <= threshold) "interpreted"
        else "codegen"
      def assign(): DataFrame = Dedup.assignAgainstIndexes(exact, shingles,
        bandRows, batch, "text", "doc_id", 3, 32, 8, 0.2, 20)
      def codegen(): Unit = assign().write.format("noop").mode("overwrite").save()
      def interpreted(): Unit = {
        spark.conf.set(SQLConf.CODEGEN_FACTORY_MODE.key, "NO_CODEGEN")
        try Checkpoints.toLocal(assign())
          .write.format("noop").mode("overwrite").save()
        finally spark.conf.unset(SQLConf.CODEGEN_FACTORY_MODE.key)
      }
      val arms = Seq("codegen" -> (() => codegen()),
        "interpreted" -> (() => interpreted()))
      val samples = arms.map(_._1 -> Seq.newBuilder[(Double, Double)]).toMap
      for (r <- 0 to reps; (name, run) <- if (r % 2 == 0) arms else arms.reverse) {
        val t = Measure.timed(run())
        if (r > 0) samples(name) += ((t.wallS, t.cpuS))
      }
      def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      val cols = arms.map { case (name, _) =>
        val s = samples(name).result()
        f"$name wall/cpu=${median(s.map(_._1))}%.2f/${median(s.map(_._2))}%.1fs"
      }
      println(f"[iscale] corpus x$factor%-3d build=${tBuild}%6.2fs  " +
        f"estimate=${estimate.toDouble / 1e6}%.2fMB gate=$gate  " +
        cols.mkString("  "))
    }
    factors.foreach(probe)
    spark.stop()
  }
}
