package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Profile, Session, Tables}

/** Zipfian-skew probe: the scale question a uniform replica
  * ([[Replicate]], timed by `graft.Profile compare`) can't answer.
  * Uniform replication grows every key's group by the same factor; real
  * crawl corpora are zipfian — ONE source holds half the docs, ONE
  * length block holds the head entity's title variants, ONE vector cell
  * holds the boilerplate embedding. This tool builds a replica whose
  * extra copies concentrate into exactly those hot spots and compares
  * each probe query against the UNIFORM replica at the SAME factor, so
  * the reported ratio isolates skew from volume.
  *
  * Skew injections (extra copies only; copy 0 is the original data, so
  * every uniform-replica row set exists here at identical volume):
  *  - mega-source: every replicated document lands in `source = 'src0'`
  *    (probes q_source_cap's pre-shuffle rank-limit).
  *  - mega length-block: docs with `doc_id % 7 = 0` get a synthetic
  *    5-token title of FIXED shape/length with per-doc md5-hex filler —
  *    every such title collides in the fuzzy joins' length bands and
  *    the JW length blocks (hot candidate buckets), while the hex
  *    filler keeps pairwise similarity far below the accept thresholds
  *    (ed >> 4, JW << 0.9), so the OUTPUT stays linear and the probe
  *    measures candidate-path skew, not a quadratic result set
  *    (probes q_entity_resolution, q_join_jw).
  *  - mega vector cell: embeddings with `vec_id % 5 = 0` are rewritten
  *    to point almost exactly along dimension 0 (dominant first
  *    component, everything else scaled to noise) — they all land in
  *    one IVF cell, making one hot cell-join key
  *    (probes q_ann_knn_join's cell-partitioned shuffle join).
  *
  * Wave 2 (round 16) adds the dedup/stateful hot spots wave 1 skipped:
  *  - mega user: every replicated EVENT lands on `user_id = 0` — one
  *    user holds ~97% of events at 32×, the single-partition window
  *    regime (probes q_sessionize's per-user ordered window and
  *    q_funnel's per-user conditional aggregation).
  *  - hot line hash: replicated docs with `doc_id % 11 = 3` get one
  *    FIXED boilerplate first line — one 64-bit line hash carried by
  *    ~9% of all docs (probes q_dedup_lines' line-hash shuffle).
  *  - hot MinHash band, sub-threshold: replicated docs with
  *    `doc_id % 77 = 5` are rewritten as a FIXED ~32-token boilerplate
  *    block + the doc's own first ~80 tokens. Distinct hot docs (~20k
  *    at 32×) share ~30 of ~110 shingles pairwise (J ≈ 0.16, just
  *    BELOW the 0.2 gate threshold), so banding's t^r S-curve is the
  *    only thing between them and a 20k² verify
  *    (probes q_dedup_groups_portable after its exact-collapse).
  *  Priority when classes overlap: the wave-1 title prepend (% 7) wins,
  *  then the MinHash block, then the boilerplate line — so wave-1 probe
  *  rows are byte-identical to the v2 replica's.
  *
  * Wave 3 (round 17) adds the guaranteed-skew dimension of any real
  * crawl: every replicated doc is the mega LANGUAGE (`lang = 'en'`,
  * ~98% of docs at 32× — English alone is ~half of CommonCrawl, so this
  * is the realistic regime, not an adversarial corner). Probes the
  * lang-partitioned corpus windows — q_pack_sequences' running sum and
  * q_quality_filter's percentile rank — against their chunk-and-stitch /
  * value-group-rank mitigations, plus the wave-2 mega-user against the
  * third per-key window pathology, q_window_range_frame's sliding RANGE
  * frame vs its time-chunk/halo form. Text rewrites are unchanged from
  * v3, so wave-1/2 probe rows are byte-identical to the v3 replica's.
  *
  * Only `documents`, `embeddings` and `events` are written — the probe
  * queries read nothing else; do not point other gates at the skew
  * directory. */
object SkewProbe {

  val DefaultProbes = Seq("q_entity_resolution", "q_join_jw",
    "q_source_cap", "q_ann_knn_join")

  val Wave2Probes = Seq("q_sessionize", "q_funnel", "q_dedup_lines",
    "q_dedup_groups_portable", "q_nested_pack", "q_nested_pack_capped")

  val Wave3Probes = Seq("q_pack_sequences", "q_pack_sequences_chunked",
    "q_quality_filter", "q_quality_filter_rank",
    // since round 18 q_window_range_frame IS the prefix path (the
    // default routes there); _plain is the retained naive baseline
    "q_window_range_frame_plain", "q_window_range_frame_chunked",
    "q_window_range_frame")

  /** Fixed-shape hot title: 5 tokens "zk______ qw____ rt___ uv__
    * xy_____" (34 chars, constant) with md5(doc_id) hex filler. */
  private def hotTitle(idCol: org.apache.spark.sql.Column) = {
    val h = md5(idCol.cast("string"))
    concat(lit("zk"), substring(h, 1, 6), lit(" qw"), substring(h, 7, 4),
      lit(" rt"), substring(h, 11, 3), lit(" uv"), substring(h, 15, 2),
      lit(" xy"), substring(h, 17, 5), lit(" "))
  }

  /** Build the skewed replica (same marker contract as
    * [[Replicate.build]]). */
  /** Fixed ~32-token boilerplate block (every page's shared header in
    * the below-threshold MinHash regime). */
  private val boilerBlock: String = (1 to 32).map(i => s"bq$i").mkString(" ")

  def buildSkewed(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    import java.nio.charset.StandardCharsets.UTF_8
    val marker = new java.io.File(dst, "_SUCCESS")
    val stamp = s"src=$src factor=$factor skew=zipf-v4"
    if (marker.exists()) {
      val prev = new String(
        java.nio.file.Files.readAllBytes(marker.toPath), UTF_8).trim
      if (prev == stamp) return
      // Auto-rebuild ONLY over a recognized skew-replica stamp (an older
      // probe wave). Any other marker content — e.g. the empty _SUCCESS
      // of a Spark-written parquet directory — means dst is NOT ours to
      // delete: fail loudly instead of wiping a foreign directory.
      require(prev.startsWith("src=") && prev.contains(" skew=zipf-v"),
        s"$dst has a _SUCCESS marker that is not a skew-replica stamp " +
          s"('$prev') — refusing to delete a directory this probe did " +
          "not build; remove it manually to reuse the path")
      println(s"[skew] rebuilding $dst: '$prev' -> '$stamp'")
      graft.pipeline.FsUtils.deleteRecursively(new java.io.File(dst))
    }
    new java.io.File(dst).mkdirs()
    val copies = spark.range(1, factor.toLong).toDF("__i")

    val docs = Tables.load(spark, src, "documents")
    val extraDocs = docs.crossJoin(copies)
      .withColumn("doc_id", col("doc_id") + col("__i") * Replicate.Shift)
      .withColumn("source", lit("src0"))
      // wave 3 (zipf-v4): every replicated doc is ALSO the mega language
      // (~98% `en` at 32×) — the guaranteed shape of a real crawl, probing
      // the lang-partitioned windows (q_pack_sequences, q_quality_filter)
      .withColumn("lang", lit("en"))
      .withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(hotTitle(col("doc_id")), col("text")))
        .when(col("doc_id") % 77 === 5,
          concat(lit(boilerBlock + " "),
            concat_ws(" ", slice(split(col("text"), " +"), 1, 80))))
        .when(col("doc_id") % 11 === 3,
          concat(lit("All content on this page is provided as is " +
            "without any warranty of any kind.\n"), col("text")))
        .otherwise(col("text")))
      .drop("__i")
    docs.unionByName(extraDocs)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val ev = Tables.load(spark, src, "events")
    val extraEv = ev.crossJoin(copies)
      .withColumn("event_id", col("event_id") + col("__i") * Replicate.Shift)
      .withColumn("user_id", lit(0L)) // the mega user
      .drop("__i")
    ev.unionByName(extraEv)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    val emb = Tables.load(spark, src, "embeddings")
    val extraEmb = emb.crossJoin(copies)
      .withColumn("vec_id", col("vec_id") + col("__i") * Replicate.Shift)
      .withColumn("embedding", when(col("vec_id") % 5 === 0,
        transform(col("embedding"), (x, i) =>
          when(i === 0, lit(100.0f)).otherwise(x * lit(0.001f))))
        .otherwise(col("embedding")))
      .drop("__i")
    emb.unionByName(extraEmb)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    java.nio.file.Files.write(marker.toPath, stamp.getBytes(UTF_8))
    ()
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(8)
    val probes = if (args.length > 1) args.drop(1).toSeq else DefaultProbes
    val src = "/root/testdata/sf0.1"
    val uniform = s"/tmp/sfx$factor"
    val skewed = s"/tmp/sfskew$factor"
    val spark = Session.local()
    Replicate.build(spark, src, uniform, factor)
    buildSkewed(spark, src, skewed, factor)

    Profile.compare(spark, uniform, skewed, probes).foreach { case (name, u, s) =>
      println(f"[skew] $name%-24s uniform_x$factor=${u}%7.2fs  " +
        f"zipf_x$factor=${s}%7.2fs  skew_ratio=${s / u}%5.2f")
    }
    spark.stop()
  }
}
