package graft.tools

import org.apache.spark.sql.functions._

import graft.{Measure, Session, Tables}
import graft.functions.Text
import graft.similarity.EditJoin
import graft.pipeline.Store

/** Scale probe for the fuzzy-ingest per-batch path
  * ([[graft.streaming.StreamingDedup.fuzzyIngest]] ==
  * [[EditJoin.assignDecisions]] against the persisted prefix index):
  * corpus grows (1x / 8x / 32x replicated titles, reusing
  * [[Replicate]]'s re-keyed replicas), the batch stays FIXED, and the
  * one-time index build is separated from the per-batch decision — the
  * production question is "what does one micro-batch cost against an
  * ever-larger indexed corpus". The corpus participates in a decision
  * only through (a) the frozen element-frequency order, (b) the prefix
  * relation semi-joined by gram collision, (c) the short-string sliver
  * — so the per-batch cost should grow with the COLLIDING candidate
  * set, not the corpus, on a replicated corpus where every copy
  * collides (the worst case).
  */
object FuzzyScaleProbe {
  def main(args: Array[String]): Unit = {
    val factors = if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(8, 32)
    val src = "/root/testdata/sf0.1"
    val spark = Session.local()

    def titles(dir: String) = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        array_join(slice(Text.tokens(col("text")), 1, 5), " ").as("title"))

    // fixed batch across the three decision paths (the
    // IncrementalScaleProbe convention): verbatim copy -> 'exact',
    // one-char corruption -> 'near', synthetic -> 'novel'
    val batch = titles(src)
      .filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 900000000L)
      .withColumn("title",
        when(col("doc_id") % 3 === 1, concat(col("title"), lit("x")))
          .when(col("doc_id") % 3 === 2,
            concat_ws(" ", lit("nv"), col("doc_id"), lit("zz")))
          .otherwise(col("title")))
      .transform(graft.pipeline.Checkpoints.stable)

    def probe(factor: Int): Unit = {
      val dir = if (factor == 1) src else s"/tmp/sfx$factor"
      require(new java.io.File(s"$dir/documents.parquet").exists(),
        s"run `runMain graft.tools.Replicate $factor $dir` first")
      val store = new Store(spark,
        s"/tmp/graft_ss/p${ProcessHandle.current().pid}/fzidx_probe$factor")
      val tBuild = Measure.timed(EditJoin.buildIndex(store, "fz", titles(dir),
        "doc_id", "title", maxDist = 4)).wallS
      def once(): Double = Measure.timed(
        EditJoin.assignDecisions(store, "fz", batch, "doc_id", "title",
            maxDist = 4)
          .write.format("noop").mode("overwrite").save()).wallS
      once() // warm
      val tAssign = math.min(once(), once())
      println(f"[fzscale] corpus x$factor%-3d build=${tBuild}%6.2fs  " +
        f"decide(fixed batch)=${tAssign}%6.2fs")
    }
    probe(1)
    factors.foreach(probe)
    spark.stop()
  }
}
