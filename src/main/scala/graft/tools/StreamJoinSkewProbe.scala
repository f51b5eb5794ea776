package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Measure, Session}

/** Skew probe wave 5b (round 18): the STREAM-STREAM interval join under
  * a mega key — the second keyed-streaming-state regime (wave 5 seeded
  * the sessionization one). Unlike sessionization, a hot key here
  * multiplies OUTPUT, not just state: the join is clicks⋈purchases on
  * user_id with purchases inside a trailing window, so concentrating
  * both sides on one user makes the match count per click proportional
  * to that user's purchase rate — quadratic in the key's share, by the
  * declared semantics (the q_funnel adjudication class: real output
  * growth, not engine waste). A raw mega/uniform time ratio is
  * therefore meaningless; the honest engine metric is
  * **microseconds per OUTPUT row**, checked at two sizes of the mega
  * shape — flat µs/row between 1× and 2× mega means the engine degrades
  * gracefully (time ∝ output; state ≈ rate × (delay + range) regardless
  * of key shape), while growing µs/row would flag a real per-key state
  * pathology (the batch sliding frame's O(Σ frames) mode).
  *
  * Mechanics mirror [[StreamSkewProbe]]: time-ordered parquet slices
  * (maxFilesPerTrigger=2 → slices/2 micro-batches), a REAL state-
  * evicting watermark (1 day — unlike the determinism-pinned gate's
  * 3650 days, the probe wants eviction on), AvailableNow drain, fresh
  * checkpoint/sink per run, identical row/slice/time distribution
  * between shapes so only the key histogram varies.
  */
object StreamJoinSkewProbe {

  private val rangeMinutes = 30L

  /** Two landing dirs (clicks/, buys/) of `slices` time-ordered slices
    * each; event times spread over `spanHours`. Mega: ~97% of BOTH
    * sides on user 0 (the wave-2 zipf ratio), rest round-robin. */
  def writeSides(spark: SparkSession, dir: String, rowsPerSide: Long,
      slices: Int, spanHours: Int, mega: Boolean): Unit = {
    graft.pipeline.FsUtils.deleteRecursively(new java.io.File(dir))
    val perSlice = rowsPerSide / slices
    val users = math.max(rowsPerSide / 50, 2L)
    def userOf(c: org.apache.spark.sql.Column) =
      if (mega) when(c % 32 =!= 0, lit(0L)).otherwise(pmod(c, lit(users)))
      else pmod(c, lit(users))
    for (side <- Seq("clicks", "buys"); s <- 0 until slices) {
      spark.range(s * perSlice, (s + 1) * perSlice).toDF("id")
        .select(col("id"),
          timestamp_seconds(lit(1704067200L) +
            col("id") * lit(spanHours * 3600L) / lit(rowsPerSide) +
            // buys trail clicks by one minute so every click has
            // same-id-neighborhood matches inside the range
            (if (side == "buys") lit(60L) else lit(0L))).as("ts"),
          userOf(col("id")).as("user_id"))
        .coalesce(1)
        .write.mode("append").parquet(s"$dir/$side")
    }
  }

  /** Drain the interval join over the landing dirs; returns
    * (seconds, output rows). `chunked` switches the join to the
    * chunk-keyed form (chunk width = the range), the round-18
    * mitigation: the equi-key gains a coarse time chunk, bounding the
    * per-key state scan by two chunks' occupancy instead of the whole
    * key's state. */
  def drain(spark: SparkSession, landing: String, tag: String,
      chunked: Boolean = false): (Double, Long) = {
    val out = s"/tmp/streamjoinskew/out_$tag"
    val ckpt = s"/tmp/streamjoinskew/ckpt_$tag"
    graft.pipeline.FsUtils.deleteRecursively(new java.io.File(out))
    graft.pipeline.FsUtils.deleteRecursively(new java.io.File(ckpt))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType)))
    val cs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(s"$landing/clicks")
      .select(col("id").as("click_id"), col("user_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 day")
    val bs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(s"$landing/buys")
      .select(col("id").as("buy_id"), col("user_id").as("b_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 day")
    val rangeSecs = rangeMinutes * 60L
    val (cj, bj) =
      if (chunked)
        (cs.withColumn("k", explode(array(
            expr(s"unix_seconds(c_ts) DIV $rangeSecs"),
            expr(s"unix_seconds(c_ts) DIV $rangeSecs + 1L")))),
          bs.withColumn("bk", expr(s"unix_seconds(p_ts) DIV $rangeSecs")))
      else (cs, bs)
    val cond = col("user_id") === col("b_user") &&
      col("p_ts") >= col("c_ts") &&
      col("p_ts") <= col("c_ts") + expr(s"interval $rangeMinutes minutes")
    val secs = Measure.timed(cj.join(bj,
        if (chunked) cond && col("k") === col("bk") else cond)
      .select("click_id", "buy_id", "user_id")
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()).wallS
    (secs, spark.read.parquet(out).count())
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(8)
    // plain | chunked | both — the plain mega arms are expensive (the
    // pathology IS the cost: ~7 min at 1×, ~35 min at 2×), so the
    // mitigation can be probed without re-paying them
    val mode = args.drop(1).headOption.getOrElse("plain")
    val rowsPerSide = 50000L * factor
    // span scales with rows so per-key match DENSITY is constant across
    // factors — output then grows linearly in rows and the 1× vs 2×
    // µs/output-row comparison isolates per-key state behavior
    val spanHours = 720 * factor
    val spark = Session.local()
    val base = "/tmp/streamjoinskew"
    writeSides(spark, s"$base/u", rowsPerSide, 8, spanHours, mega = false)
    writeSides(spark, s"$base/m1", rowsPerSide, 8, spanHours, mega = true)
    writeSides(spark, s"$base/m2", rowsPerSide * 2, 8, spanHours * 2,
      mega = true)
    def us(t: Double, n: Long) = if (n == 0) 0.0 else t * 1e6 / n
    for (chunked <- Seq(false, true); if mode == "both" ||
        mode == (if (chunked) "chunked" else "plain")) {
      val tag = if (chunked) "chunked" else "plain"
      drain(spark, s"$base/u", s"warm_$tag", chunked) // JIT, untimed
      val (ut, un) = drain(spark, s"$base/u", s"u_$tag", chunked)
      val (m1t, m1n) = drain(spark, s"$base/m1", s"m1_$tag", chunked)
      val (m2t, m2n) = drain(spark, s"$base/m2", s"m2_$tag", chunked)
      println(f"[skew5b] stream_interval_join($tag) uniform_x$factor=${ut}%7.2fs/${un}%d rows " +
        f"mega_x$factor=${m1t}%7.2fs/${m1n}%d rows  mega_x${2 * factor}=${m2t}%7.2fs/${m2n}%d rows")
      println(f"[skew5b] us_per_output_row($tag) uniform=${us(ut, un)}%8.2f " +
        f"mega1=${us(m1t, m1n)}%8.2f mega2=${us(m2t, m2n)}%8.2f " +
        f"mega2/mega1=${us(m2t, m2n) / us(m1t, m1n)}%5.2f (flat = graceful)")
    }
    spark.stop()
  }
}
