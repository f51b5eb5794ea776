package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Measure, Session}
import graft.analytics.{ReferenceQueries, SqlSurface}
import graft.datasets.StormDataset
import graft.ops.ParseOps
import graft.parse.AtcfParser
import graft.pipeline.{Checkpoints, Maintenance, Pipelines, Store}
import graft.schema.{Schemas, Seeds}

/** Scale probe for the cron cycle and the analyst read set in both
  * code-generation postures the store's entry points choose between
  * ([[Checkpoints.interpretedIfFits]]): interpreted, and Spark's lazy
  * whole-stage codegen ([[Checkpoints.keepingCodegen]]), both at a 64 MB
  * broadcast threshold so that every point fits the gate and broadcast
  * planning is the same on both sides.
  *
  * `prepare` slices the deck lines generated from an sf0.1 directory
  * ([[ParseOps.bdeckLines]], [[ParseOps.adeckLines]]) by a hash of the
  * line (`pct` at most 50): `pct` percent of the lines are backfilled
  * into a store, and as many other lines land as the cycle's b-deck and
  * a-deck files. The lines dominate every estimate, since the store's
  * parquet is a small fraction of the text it came from. It prints each
  * gate's summed input estimate: the cycle's three sites, and the largest
  * read (`trackExtraction`, steps plus storms).
  *
  * `measure` is one cold cron JVM: it copies a prepared store, then times
  * the cycle (`runBdeck`, `runAdeck` without the recency gate,
  * `archiveStale`) and the read set `tc_cycles` runs (`trackExtraction`
  * of four storms, the four count queries, one assembled storm, one SQL
  * text), each as process CPU (JIT and Janino threads included), wall
  * and Janino compiles; then a second cycle over the same landing six
  * hours later and the read set again, in the now warm JVM. It prints
  * one JSON line.
  *
  * Run: `runMain graft.tools.CycleScaleProbe prepare <sf0.1 dir>
  * /tmp/cscale 5 20 50`,
  * then, alternating the postures, one JVM per sample:
  * `runMain graft.tools.CycleScaleProbe measure /tmp/cscale 10 codegen`
  * and `... measure /tmp/cscale 10 interpreted`.
  */
object CycleScaleProbe {
  private val Threshold = 64L << 20
  private val BackfillNow = Timestamp.valueOf("2035-01-01 00:00:00")
  private val CycleNow = Timestamp.valueOf("2035-01-01 06:00:00")
  private val Cycle2Now = Timestamp.valueOf("2035-01-01 12:00:00")

  def main(args: Array[String]): Unit = args.toSeq match {
    case "prepare" +: sf +: dir +: pcts if pcts.nonEmpty =>
      prepare(sf, dir, pcts.map(_.toInt))
    case Seq("measure", dir, pct, posture)
        if Set("interpreted", "codegen")(posture) =>
      measure(dir, pct.toInt, posture)
    case _ => sys.error("usage: CycleScaleProbe prepare <sfDir> <dir> <pct>... | " +
      "measure <dir> <pct> interpreted|codegen")
  }

  private def session(): SparkSession = {
    val spark = Session.local()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", Threshold.toString)
    spark
  }

  /** Write `lines` (file, value) as one text file per deck file. */
  private def land(lines: DataFrame, dir: Path): Unit = {
    Files.createDirectories(dir)
    lines.collect().groupBy(_.getString(0)).foreach { case (file, rows) =>
      Files.write(dir.resolve(file),
        rows.map(_.getString(1)).mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }

  private def estimate(frames: DataFrame*): Double =
    frames.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum.toDouble / 1e6

  private def prepare(src: String, dir: String, pcts: Seq[Int]): Unit = {
    val spark = session()
    def bucketed(lines: DataFrame) =
      lines.withColumn("bucket", pmod(hash(col("value")), lit(1000)))
    val (b, a) = (bucketed(ParseOps.bdeckLines(spark, src)),
      bucketed(ParseOps.adeckLines(spark, src)))
    pcts.foreach { pct =>
      val root = Paths.get(dir, s"p$pct")
      val (lo, mid, hi) = (0, pct * 10, pct * 20)
      def slice(df: DataFrame, from: Int, to: Int) =
        df.filter(col("bucket") >= from && col("bucket") < to)
          .select("file", "value")
      Seq("backfill" -> (lo, mid), "cycle" -> (mid, hi)).foreach {
        case (phase, (from, to)) =>
          land(slice(b, from, to), root.resolve(s"$phase/b"))
          land(slice(a, from, to), root.resolve(s"$phase/a"))
      }
      val store = new Store(spark, root.resolve("store").toString)
      Pipelines.runBdeck(spark, root.resolve("backfill/b").toString, store,
        BackfillNow)
      Pipelines.runAdeck(spark, root.resolve("backfill/a").toString, store,
        BackfillNow, Seeds.modelAllowlist, recencyHours = None)
      // four storms with steps, the ones the read set extracts
      val ids = store.read("steps", Schemas.steps).select("nhc_id").distinct()
        .orderBy("nhc_id").limit(4).collect().map(_.getString(0))
      Files.write(root.resolve("ids.txt"), ids.mkString("\n").getBytes(UTF_8))
      def t(name: String) = store.read(name, name match {
        case "storms" => Schemas.storms
        case "observations" => Schemas.observations
        case "forecasts" => Schemas.forecasts
        case "tracks" => Schemas.tracks
        case _ => Schemas.steps
      })
      def lines(phase: String) =
        AtcfParser.readDeckLines(spark, root.resolve(s"cycle/$phase").toString)
      println(f"[cscale] p=$pct%-3d runBdeck=${estimate(lines("b"), t("storms"),
        t("observations"))}%.2fMB runAdeck=${estimate(lines("a"), t("storms"),
        t("forecasts"), t("tracks"), t("steps"))}%.2fMB " +
        f"archiveStale=${estimate(t("storms"), t("observations"))}%.2fMB " +
        f"trackExtraction=${estimate(t("steps"), t("storms"))}%.2fMB " +
        s"ids=${ids.mkString(",")}")
    }
    spark.stop()
  }

  private def measure(dir: String, pct: Int, posture: String): Unit = {
    val spark = session()
    val root = Paths.get(dir, s"p$pct")
    val work = Files.createTempDirectory("cscale_store")
    Files.walk(root.resolve("store")).iterator().asScala.foreach { p =>
      val to = work.resolve(root.resolve("store").relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to, StandardCopyOption.REPLACE_EXISTING)
    }
    val store = new Store(spark, work.toString)
    val ids = new String(Files.readAllBytes(root.resolve("ids.txt")), UTF_8)
      .split("\n").toSeq
    def timed(body: => Unit): Measure.Timed[Unit] = Measure.timed(
      if (posture == "codegen") Checkpoints.keepingCodegen(body) else body)
    def cycle(now: Timestamp): Unit = {
      Pipelines.runBdeck(spark, root.resolve("cycle/b").toString, store, now)
      Pipelines.runAdeck(spark, root.resolve("cycle/a").toString, store, now,
        Seeds.modelAllowlist, recencyHours = None)
      Maintenance.archiveStale(store, now)
    }
    def reads(): Unit = {
      ids.foreach(id =>
        ReferenceQueries.trackExtraction(spark, store, id).collect())
      ReferenceQueries.basinModelCounts(spark, store, "AL").collect()
      ReferenceQueries.basinTrackCountsByModel(spark, store, "AL").collect()
      ReferenceQueries.modelCountsByBasin(spark, store, "OFCL").collect()
      ReferenceQueries.stormTrackCountsByModel(spark, store, "AL").collect()
      val ds = StormDataset.assemble(spark, store, ids.head)
      Seq(ds.storm, ds.forecastTable, ds.obsTable).foreach(_.collect())
      SqlSurface.sql(spark, store,
        """SELECT s.status, count(*) AS n FROM storms s JOIN observations o
          |ON s.nhc_id = o.nhc_id AND s.start_date = o.start_date
          |GROUP BY s.status ORDER BY s.status""".stripMargin).collect()
    }
    // the cold cron JVM's cycle and reads, then a second cycle six hours
    // later (the same landing again, so the MERGEs see the same work) and
    // the repeated reads, in the now warm JVM
    val samples = Seq(
      "cycle" -> timed(cycle(CycleNow)), "reads" -> timed(reads()),
      "cycle2" -> timed(cycle(Cycle2Now)), "reads2" -> timed(reads()))
    def js(name: String, t: Measure.Timed[Unit]) =
      f""""${name}_wall_s": ${t.wallS}%.3f, "${name}_cpu_s": ${t.cpuS}%.3f, "${name}_compiles": ${t.compiles}"""
    println(s"""[cscale] {"pct": $pct, "posture": "$posture", ${
      samples.map { case (n, t) => js(n, t) }.mkString(", ")}}""")
    spark.stop()
    Files.walk(work).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
}
