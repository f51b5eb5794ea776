package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Measure, Session}

/** Skew probe wave 5 (round 18, seed): STREAMING state under a mega
  * key — the one per-key regime waves 1-4 never measured. Batch windows
  * have the chunk-and-stitch escape; keyed streaming state does not
  * (session-window merging is inherently per-key: all of a key's open
  * windows live in one state-store partition, and every micro-batch's
  * merge for that key runs in one task). This probe measures how bad
  * that actually is, on the engine's own append-mode sessionization
  * ([[graft.streaming.StreamingSessions.appendSessionStream]] — real
  * watermark, real state store, AvailableNow backlog drain).
  *
  * Shape: `sliceCount` parquet slices of `rowsPerSlice` events each
  * (maxFilesPerTrigger=2 → sliceCount/2 micro-batches), event times
  * spread over `spanHours`. Uniform: events round-robin over
  * rows/50 users. Mega: ~97% of events on user 0 (the wave-2 zipf
  * ratio), the remainder round-robin — identical row count, slice
  * count, and time distribution, so the ratio isolates key skew.
  * Timings include the full drain (query start → awaitTermination);
  * each shape gets a fresh checkpoint/sink.
  */
object StreamSkewProbe {

  def writeSlices(spark: SparkSession, dir: String, rows: Long,
      slices: Int, spanHours: Int, mega: Boolean): Unit = {
    graft.pipeline.FsUtils.deleteRecursively(new java.io.File(dir))
    val perSlice = rows / slices
    val users = math.max(rows / 50, 2L)
    (0 until slices).foreach { s =>
      spark.range(s * perSlice, (s + 1) * perSlice).toDF("event_id")
        .select(col("event_id"),
          // event time advances with id: slices are time-ordered, the
          // watermark moves per batch, sessions close and evict
          timestamp_seconds(lit(1704067200L) +
            col("event_id") * lit(spanHours * 3600L) / lit(rows))
            .as("ts"),
          (if (mega) when(col("event_id") % 32 =!= 0, lit(0L))
              .otherwise(pmod(col("event_id"), lit(users)))
           else pmod(col("event_id"), lit(users))).as("user_id"))
        .coalesce(1)
        .write.mode("append").parquet(dir)
    }
  }

  def drain(spark: SparkSession, landing: String, tag: String): Double = {
    val out = s"/tmp/streamskew/out_$tag"
    val ckpt = s"/tmp/streamskew/ckpt_$tag"
    graft.pipeline.FsUtils.deleteRecursively(new java.io.File(out))
    graft.pipeline.FsUtils.deleteRecursively(new java.io.File(ckpt))
    Measure.timed(graft.streaming.StreamingSessions.appendSessionStream(
      spark, landing, out, ckpt, gapMinutes = 30, delay = "10 minutes")
      .awaitTermination()).wallS
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(8)
    val rows = 100000L * factor
    val spark = Session.local()
    val base = "/tmp/streamskew"
    for (shape <- Seq("uniform", "mega")) {
      writeSlices(spark, s"$base/landing_$shape", rows, slices = 8,
        spanHours = 24 * 30, mega = shape == "mega")
    }
    // warm both paths once (JIT + state-store provider init), then time
    drain(spark, s"$base/landing_uniform", "warm_u")
    drain(spark, s"$base/landing_mega", "warm_m")
    val u = drain(spark, s"$base/landing_uniform", "u")
    val s = drain(spark, s"$base/landing_mega", "m")
    println(f"[skew5] stream_sessions_mega_user uniform_x$factor=${u}%7.2fs  " +
      f"mega_x$factor=${s}%7.2fs  skew_ratio=${s / u}%5.2f")
    spark.stop()
  }
}
