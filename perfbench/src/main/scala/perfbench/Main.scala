package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.{ReferenceQueries, SqlSurface}
import graft.datasets.StormDataset
import graft.dedup.{CorpusIndex, Dedup}
import graft.merge.Merge
import graft.ops.TextOps
import graft.parse.AtcfParser
import graft.pipeline.{Maintenance, Pipelines, Store}
import graft.resolve.StormResolver
import graft.schema.Schemas

/** One benchmark run in a fresh JVM: set up a workload, run whole rounds
  * of its operations for `--seconds`, check every output, and write the
  * metrics as JSON to `--out`.
  *
  * Each workload has a write-side op ("ingest") and a read-side op
  * ("read"), one of each per round, one client, closed loop:
  *  - tc_cycles: ingest = a cron cycle's runBdeck -> runAdeck ->
  *    archiveStale; read = the analyst read set on the updated store;
  *    then a third op, "probe", checks the fixed probe storm's steps.
  *  - curation: read = the full-corpus pass (curationPipeline,
  *    textEntropy, textLangid); ingest = the incremental batch
  *    (CorpusIndex.assign, then append of the accepted docs).
  *
  * The metrics describe round 0 only, whatever the number of rounds, so
  * a faster program is not also credited with warmer rounds; later rounds
  * stay in the run record. With `--trace 1` round 0 carries spans around
  * each layer call and a Spark listener, followed by isolated
  * materializations of the lazy layers; it gives the per-layer metrics.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Path, cores: Int)

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", Paths.get(kv("work")), Paths.get(kv("out")), kv("cores").toInt)
    val spark = graft.Session.local(a.cores.toString)
    val run = new Run(spark, a, t0)
    run.phase("session up")
    a.workload match {
      case "tc_cycles" => new TcCycles(run).run()
      case "curation" => new Curation(run).run()
      case w => sys.error(s"unknown workload $w")
    }
    run.phase("done")
    Files.write(a.out, run.json.getBytes(UTF_8))
    Files.write(a.out.resolveSibling(a.out.getFileName.toString.stripSuffix(".json") + ".spans.json"),
      run.tracer.spansJson.getBytes(UTF_8))
    spark.stop()
  }

  def ts(hour: Long): Timestamp = new Timestamp(hour * 3600000L)
  def hourOf(t: Timestamp): Long = t.getTime / 3600000L
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Every per-layer metric, in output order, with its unit. A workload
    * that never calls a layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] =
    Seq("ingest", "read").flatMap(k => Seq(
      s"$k.jobs" -> "count", s"$k.stages" -> "count", s"$k.tasks" -> "count",
      s"$k.driver_s" -> "s", s"$k.task_cpu_s" -> "s", s"$k.gc_s" -> "s",
      s"$k.input_mb" -> "MB", s"$k.shuffle_mb" -> "MB", s"$k.spill_mb" -> "MB",
      s"$k.output_mb" -> "MB", s"$k.task_skew" -> "ratio")) ++ Seq(
      "pipeline.runBdeck_s" -> "s", "pipeline.runBdeck_jobs" -> "count",
      "pipeline.runAdeck_s" -> "s", "pipeline.runAdeck_jobs" -> "count",
      "pipeline.archiveStale_s" -> "s", "pipeline.archiveStale_jobs" -> "count",
      "pipeline.store_files" -> "count",
      "parse.bdeck_s" -> "s", "parse.adeck_s" -> "s", "parse.summaries_s" -> "s",
      "parse.observations_s" -> "s", "parse.steps_s" -> "s", "parse.plan_s" -> "s",
      "resolve.resolve_s" -> "s", "resolve.resolve_jobs" -> "count",
      "merge.upsert_s" -> "s", "merge.upsert_jobs" -> "count",
      "analytics.trackExtraction_s" -> "s", "analytics.counts_s" -> "s",
      "analytics.sql_s" -> "s", "analytics.scan_per_row" -> "ratio",
      "datasets.assemble_s" -> "s",
      "dedup.nearDupGroups_s" -> "s", "dedup.nearDupGroups_jobs" -> "count",
      "dedup.assign_s" -> "s", "dedup.assign_jobs" -> "count",
      "dedup.append_s" -> "s", "dedup.index_files" -> "count",
      "text.curation_s" -> "s", "text.entropy_s" -> "s", "text.langid_s" -> "s",
      "trace.overhead_ingest" -> "ratio", "trace.overhead_read" -> "ratio")

  /** Times are process CPU-seconds (all JVM threads: tasks, planning,
    * JIT, GC) of round 0: on a shared host they repeat far better than
    * wall time, which steal inflates by 30-40%. Wall seconds stay in the
    * run record. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_cpu_s" -> "s", "ingest_cpu_s" -> "s",
    "read_cpu_s" -> "s", "write_amp" -> "ratio", "space_amp" -> "ratio",
    "live_heap_mb" -> "MB")
}

/** Shared run state: op timing, failure accounting, checks, tracing. */
final class Run(val spark: SparkSession, val a: Main.Args, t0: Long) {
  import Main._

  val work: Path = a.work
  val tracer = new Tracer(spark.sparkContext)
  val outBytes = new OutputBytes(spark.sparkContext)
  spark.sparkContext.addSparkListener(outBytes)

  private val problems = mutable.ArrayBuffer.empty[String]
  /** What the ops that failed on a known program fault found. */
  private val faults = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  /** The timed round running now. */
  private var round = 0
  /** (round, traced, wall, process CPU) seconds of each timed op, by kind. */
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Int, Boolean, Double, Double)]]
  private val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var setupWallS = 0.0
  private var setupCpuS = 0.0
  private var coldWallS = 0.0
  private var coldCpuS = 0.0
  /** Bytes landed in round 0, and in the whole run. */
  var landedTimed = 0L
  var landedAll = 0L
  var linesPerRound = 0L
  private var outAtStart = 0L
  private var outAtEnd = 0L
  var spaceBytes = 0L
  var heapMb = 0.0
  var traced = false

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNow(): Double = os.getProcessCpuTime / 1e9

  /** Progress line on stderr, seconds since main started. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%8.3f s  $what")

  def check(found: Seq[String]): Unit = found.foreach { p =>
    if (problems.size < 50) problems += p
    System.err.println(s"[perfbench] CHECK FAILED: $p")
  }

  def record(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Time one op. In the timed window an exception counts as a failed op
    * and is reported; the round goes on, and the checks that follow see
    * its effect. Outside it (set-up, warm-up) an exception ends the run. */
  def op[T](kind: String, timed: Boolean)(body: => T): Option[T] = {
    if (timed) attempted += 1
    val t = System.nanoTime()
    val c = cpuNow()
    val r = try {
      Some(if (traced) tracer.span(kind)(body) else body)
    } catch {
      case e: Exception if timed =>
        failed += 1
        System.err.println(s"[perfbench] $kind FAILED: $e")
        e.printStackTrace()
        None
    }
    if (timed) samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
      ((round, traced, (System.nanoTime() - t) / 1e9, cpuNow() - c))
    r
  }

  /** A timed op that checks a known program fault on fixed inputs: the
    * problems its body finds make it a failed op, not an incorrect run. */
  def faultOp(kind: String)(body: => Seq[String]): Unit =
    op(kind, timed = true)(body).filter(_.nonEmpty).foreach { found =>
      failed += 1
      if (faults.size < 10) faults += s"$kind: ${found.head}"
      System.err.println(s"[perfbench] $kind FAILED: ${found.mkString("; ")}")
    }

  /** The JVM's first program op, untimed by the loop: its wall and CPU. */
  def coldOp(kind: String)(body: => Unit): Unit = {
    val t = System.nanoTime()
    val c = cpuNow()
    op(kind, timed = false)(body)
    coldWallS = (System.nanoTime() - t) / 1e9
    coldCpuS = cpuNow() - c
  }

  /** A layer call inside a traced round: a span when tracing, else just
    * the call. */
  def layerSpan[T](name: String)(body: => T): T =
    if (traced) tracer.span(name)(body) else body

  /** Set-up ends here; then whole rounds until `seconds` have passed.
    * When tracing, round 0 is the traced one. Write amplification counts
    * the bytes round 0 writes. */
  def timedRounds(body: (Int, Boolean) => Unit): Unit = {
    setupWallS = (System.nanoTime() - t0) / 1e9
    setupCpuS = cpuNow()
    phase("set-up done")
    outAtStart = outBytes.total()
    val start = System.nanoTime()
    round = 0
    while (round == 0 || (System.nanoTime() - start) / 1e9 < a.seconds) {
      traced = a.trace && round == 0
      if (traced) tracer.attach()
      body(round, traced)
      if (traced) tracer.detach()
      traced = false
      if (round == 0) outAtEnd = outBytes.total()
      round += 1
    }
    phase(s"timed window done: $round rounds")
  }

  /** Engine counters of the latest span named `kind` (an op span), and
    * the tracing overhead of that op: its wall time plus the time the
    * listener spent on its events, over its wall time. */
  def recordOp(kind: String): Tracer.Counters = {
    val span = tracer.spansNamed(kind).last
    val c = tracer.summary(span)
    record(s"trace.overhead_$kind", 1.0 + tracer.listenerS(span) / span.wallS)
    record(s"$kind.jobs", c.jobs); record(s"$kind.stages", c.stages)
    record(s"$kind.tasks", c.tasks); record(s"$kind.driver_s", c.driverS)
    record(s"$kind.task_cpu_s", c.taskCpuS); record(s"$kind.gc_s", c.gcS)
    record(s"$kind.input_mb", c.inputMb); record(s"$kind.shuffle_mb", c.shuffleMb)
    record(s"$kind.spill_mb", c.spillMb); record(s"$kind.output_mb", c.outputMb)
    record(s"$kind.task_skew", c.taskSkew)
    c
  }

  /** Seconds (and jobs) of the latest span with this name. */
  def recordSpan(name: String, jobs: Option[String] = None): Unit = {
    val s = tracer.spansNamed(name)
    if (s.nonEmpty) {
      record(s"${name}_s", s.last.wallS)
      jobs.foreach(j => record(j, tracer.summary(s.last).jobs))
    }
  }

  /** Run `body` alone in its own span (an isolated layer cost) and
    * record its seconds and, if named, its job count. */
  def isolated(name: String, jobs: Option[String] = None)(body: => Unit): Unit = {
    tracer.span(name)(body)
    recordSpan(name, jobs)
  }

  /** Store bytes, then the live heap: full GCs until the used heap stops
    * falling, since blocks of dropped checkpoints are released by Spark's
    * cleaner thread only after a GC has found their RDDs unreachable. */
  def end(storeRoot: Path): Unit = {
    spaceBytes = bytesUnder(storeRoot)
    val mem = ManagementFactory.getMemoryMXBean
    var last = Double.MaxValue
    var i = 0
    heapMb = 0.0
    while (i < 8 && (i < 3 || heapMb < 0.99 * last)) {
      if (i > 0) last = heapMb
      System.gc(); Thread.sleep(100)
      heapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0
      i += 1
    }
  }

  /** Process CPU-seconds of round 0's op of this kind. */
  private def round0Cpu(kind: String) =
    samples.getOrElse(kind, Nil).collectFirst { case (0, _, _, cpu) => cpu }.getOrElse(0.0)

  def metrics: Seq[(String, String, Double)] =
    if (!a.trace) {
      val values = Map(
        "setup_s" -> setupCpuS, "cold_cpu_s" -> coldCpuS,
        "ingest_cpu_s" -> round0Cpu("ingest"),
        "read_cpu_s" -> round0Cpu("read"),
        "write_amp" -> (outAtEnd - outAtStart).toDouble / math.max(1L, landedTimed),
        "space_amp" -> spaceBytes.toDouble / math.max(1L, landedAll),
        "live_heap_mb" -> heapMb)
      EndToEnd.map { case (n, u) => (n, u, values(n)) }
    } else PerLayer.map { case (n, u) => (n, u, median(layer.getOrElse(n, Nil).toSeq)) }

  def json: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val ms = metrics.map { case (n, u, v) => s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
    val ops = samples.toSeq.map { case (k, xs) =>
      s"${str(k)}: [${xs.map(x => s"[${x._1}, ${x._2}, ${num(x._3)}, ${num(x._4)}]").mkString(", ")}]"
    }
    val env = Seq(
      "spark" -> str(spark.version), "jdk" -> str(System.getProperty("java.version")),
      "master" -> str(spark.sparkContext.master),
      "shuffle_partitions" -> str(spark.conf.get("spark.sql.shuffle.partitions")),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "cores" -> a.cores.toString)
    s"""{"correct": ${problems.isEmpty}, "attempted": $attempted, "failed": $failed,
       |"metrics": {${ms.mkString(", ")}},
       |"problems": [${problems.map(str).mkString(", ")}],
       |"known_faults": [${faults.map(str).mkString(", ")}],
       |"op_round_traced_wall_cpu_seconds": {${ops.mkString(", ")}},
       |"setup_wall_cpu_seconds": [${num(setupWallS)}, ${num(setupCpuS)}],
       |"cold_wall_cpu_seconds": [${num(coldWallS)}, ${num(coldCpuS)}],
       |"bytes": {"landed_timed": $landedTimed, "landed_all": $landedAll, "written": ${outAtEnd - outAtStart}, "on_disk": $spaceBytes},
       |"landed_lines_per_round": $linesPerRound,
       |"env": {${env.map { case (k, v) => s"${str(k)}: $v" }.mkString(", ")}}}""".stripMargin
  }
}

/** Cron cycles on a store seeded with archived seasons: landing, the
  * ingest calls, the analyst read set, isolated layer costs and the
  * final store dump. */
final class TcCycles(r: Run) {
  import Main._
  private val spark: SparkSession = r.spark
  private val model = new AtcfGen.Model
  private val firstCycle = AtcfGen.hourOf(java.time.LocalDateTime.of(2024, 8, 10, 0, 0))
  private val seasonSys = AtcfGen.season(r.a.seed, 2024, firstCycle, 60)
  private val probe = AtcfGen.probe(firstCycle, 40)
  private val probeId = AtcfGen.desigAt(probe, firstCycle).get.id
  private val store = new Store(spark, r.work.resolve("store").toString)

  def ingest(dir: Path, now: Long, recency: Option[Int], archive: Boolean): Unit = {
    r.layerSpan("pipeline.runBdeck")(
      Pipelines.runBdeck(spark, dir.resolve("b").toString, store, ts(now)))
    r.layerSpan("pipeline.runAdeck")(
      Pipelines.runAdeck(spark, dir.resolve("a").toString, store, ts(now),
        AtcfGen.Allowed, recency))
    if (archive) r.layerSpan("pipeline.archiveStale")(
      Maintenance.archiveStale(store, ts(now)))
  }

  /** The analyst read set: trackExtraction per storm, the four count
    * queries, one assembled storm dataset and one SQL text. */
  def reads(ids: Seq[String], assembleId: String): Checks.Reads = {
    def pairs(df: DataFrame) = df.collect().toSeq.map(x => (x.getString(0), x.getLong(1)))
    val tracks = r.layerSpan("analytics.trackExtraction")(ids.map(id =>
      id -> ReferenceQueries.trackExtraction(spark, store, id).collect().length).toMap)
    val (bm, bt, mb, st) = r.layerSpan("analytics.counts")((
      pairs(ReferenceQueries.basinModelCounts(spark, store, "AL")),
      pairs(ReferenceQueries.basinTrackCountsByModel(spark, store, "AL")),
      pairs(ReferenceQueries.modelCountsByBasin(spark, store, "OFCL")),
      ReferenceQueries.stormTrackCountsByModel(spark, store, "AL").collect().toSeq
        .map(x => (x.getString(0), x.getString(1), x.getLong(2)))))
    val ds = r.layerSpan("datasets.assemble") {
      val d = StormDataset.assemble(spark, store, assembleId)
      (d.storm.collect().length, d.forecastTable.collect().length, d.obsTable.collect().length)
    }
    val sql = r.layerSpan("analytics.sql")(pairs(SqlSurface.sql(spark, store,
      """SELECT s.status, count(*) AS n FROM storms s JOIN observations o
        |ON s.nhc_id = o.nhc_id AND s.start_date = o.start_date
        |GROUP BY s.status ORDER BY s.status""".stripMargin)))
    Checks.Reads(tracks, bm, bt, mb, st, ds, sql)
  }

  def checkReads(actual: Option[Checks.Reads], ids: Seq[String], assembleId: String): Unit =
    actual.foreach(got =>
      r.check(Checks.reads(Checks.expectedReads(model, "AL", "OFCL", ids, assembleId), got)))

  /** Per-layer numbers of a traced round: the op spans' counters, and the
    * lazy parse/merge layers and the eager resolve, each run alone on the
    * round's landed decks against the post-op store. */
  def recordTraced(dir: Path, now: Long, readRows: Long): Unit = {
    r.recordOp("ingest")
    val read = r.recordOp("read")
    r.record("analytics.scan_per_row", read.inputRecords.toDouble / math.max(1L, readRows))
    r.recordSpan("pipeline.runBdeck", Some("pipeline.runBdeck_jobs"))
    r.recordSpan("pipeline.runAdeck", Some("pipeline.runAdeck_jobs"))
    r.recordSpan("pipeline.archiveStale", Some("pipeline.archiveStale_jobs"))
    Seq("analytics.trackExtraction", "analytics.counts", "analytics.sql",
      "datasets.assemble").foreach(r.recordSpan(_))
    r.record("pipeline.store_files",
      Seq("storms", "observations", "forecasts", "tracks", "steps").map(store.dataFileCount).sum)

    def bLines = AtcfParser.readDeckLines(spark, dir.resolve("b").toString)
    def aLines = AtcfParser.readDeckLines(spark, dir.resolve("a").toString)
    def bdeck = AtcfParser.parseBDeck(bLines)
    def adeck = AtcfParser.parseADeck(aLines)
    val frames: Seq[(String, () => DataFrame)] = Seq(
      "parse.bdeck" -> (() => bdeck), "parse.adeck" -> (() => adeck),
      "parse.summaries" -> (() => AtcfParser.stormSummaries(bdeck)),
      "parse.observations" -> (() => AtcfParser.observations(bdeck)),
      "parse.steps" -> (() => AtcfParser.forecastSteps(adeck)))
    frames.foreach { case (n, f) => r.isolated(n)(noop(f())) }
    val plan = frames.map { case (_, f) =>
      val df = f(); val t = System.nanoTime(); df.queryExecution.executedPlan
      (System.nanoTime() - t) / 1e9
    }.sum
    r.record("parse.plan_s", plan)
    r.isolated("resolve.resolve", Some("resolve.resolve_jobs"))(StormResolver.resolve(
      store.read("storms", Schemas.storms), AtcfParser.stormSummaries(bdeck),
      ts(now), Pipelines.runId("STORMS", ts(now))))
    val incoming = AtcfParser.forecastSteps(adeck.filter(col("tech").isin(AtcfGen.Allowed: _*)))
      .withColumn("nhc_id", graft.functions.Atcf.nhcId(col("region"), col("nhc_number"), col("season")))
      .join(store.read("storms", Schemas.storms).select("nhc_id"), Seq("nhc_id"), "left_semi")
      .withColumn("ensemble_number", lit(1)).withColumn("run_id", lit("perfbench"))
      .select(Schemas.steps.fieldNames.map(col).toIndexedSeq: _*)
    r.isolated("merge.upsert", Some("merge.upsert_jobs"))(noop(Merge.upsert(
      store.read("steps", Schemas.steps), incoming,
      Seq("region", "model", "datetime_utc", "nhc_id", "ensemble_number", "hour"))))
  }

  private def hour(x: Row, f: String) = hourOf(x.getAs[Timestamp](f))
  private def stepKey(x: Row): AtcfGen.StepKey = (x.getAs[String]("region"),
    x.getAs[String]("model"), hour(x, "datetime_utc"), x.getAs[String]("nhc_id"),
    Option(x.getAs[Integer]("hour")).map(_.intValue))

  /** The probe storm's steps and trackExtraction rows against the model. */
  private def probeCheck(): Seq[String] = {
    val rows = ReferenceQueries.trackExtraction(spark, store, probeId).collect().length
    val steps = store.read("steps", Schemas.steps).filter(col("nhc_id") === probeId)
      .collect().toSeq.map(stepKey)
    Checks.probe(model, probeId, steps, rows)
  }

  def dump(): Checks.StoreDump = {
    def rows(t: String, s: StructType) = store.read(t, s).collect().toSeq
    Checks.StoreDump(
      rows("storms", Schemas.storms).map(x => AtcfGen.StormRow(x.getAs[String]("nhc_id"),
        x.getAs[String]("region"), x.getAs[Int]("nhc_number"), x.getAs[Int]("season"),
        x.getAs[Int]("annual_id"), hour(x, "start_date"), hour(x, "end_date"),
        x.getAs[String]("status"), x.getAs[String]("name"))),
      rows("observations", Schemas.observations).map(x =>
        (x.getAs[String]("nhc_id"), hour(x, "start_date"), hour(x, "datetime_utc"))),
      rows("forecasts", Schemas.forecasts).map(x => (x.getAs[String]("region"),
        x.getAs[String]("data_source"), x.getAs[String]("model"), hour(x, "datetime_utc"))),
      rows("tracks", Schemas.tracks).map(x => (x.getAs[String]("region"),
        x.getAs[String]("model"), hour(x, "datetime_utc"), x.getAs[String]("nhc_id"))),
      rows("steps", Schemas.steps).map(stepKey))
  }

  private def cycle(k: Int, traced: Boolean): Unit = {
    val t = firstCycle + 6L * k
    val batch = AtcfGen.cycleBatch(seasonSys :+ probe, t)
    val dir = r.work.resolve(s"land/cycle$k")
    val bytes = batch.write(dir)
    r.landedAll += bytes
    if (k == 0) { r.landedTimed += bytes; r.linesPerRound = batch.lines }
    r.op("ingest", timed = true)(ingest(dir, t, Some(AtcfGen.RecencyHours), archive = true))
    model.ingest(batch, Some(AtcfGen.RecencyHours))
    model.archiveStale(t)
    // the active seeded storms (padded with the latest others), fixed at four
    val seeded = model.storms.values.toSeq.filter(_.id != probeId)
    val ids = (seeded.filter(_.status == "Active").sortBy(_.id) ++
      seeded.filter(_.status != "Active").sortBy(s => (-s.end, s.id)))
      .map(_.id).take(4)
    val got = r.op("read", timed = true)(reads(ids, ids.head))
    checkReads(got, ids, ids.head)
    r.faultOp("probe")(probeCheck())
    if (traced) recordTraced(dir, t, got.map(_.rows).getOrElse(0L))
  }

  def run(): Unit = {
    val archive = AtcfGen.archiveBatch(
      AtcfGen.archive(r.a.seed, Seq(2022, 2023), perRegion = 1),
      AtcfGen.hourOf(java.time.LocalDateTime.of(2024, 1, 1, 0, 0)))
    val dir = r.work.resolve("land/archive")
    r.landedAll += archive.write(dir)
    r.phase("archive landed")
    r.coldOp("backfill")(ingest(dir, archive.now, None, archive = false))
    r.phase("archive backfilled")
    model.ingest(archive, None)
    r.timedRounds(cycle)
    r.check(Checks.store(model, dump(), probeId))
    r.end(r.work.resolve("store"))
  }
}

/** Full-corpus curation passes and incremental batches against a
  * persisted corpus index. */
final class Curation(r: Run) {
  import Main._
  private val spark = r.spark
  private val CorpusSize = 5200
  private val BatchSize = 200
  /** The program's default MinHash parameters (curationPipeline and
    * CorpusIndex), which the banding floors of the checks assume. */
  private val NumHashes = 32
  private val Bands = 8
  private val (docs, families) = CorpusGen.corpus(r.a.seed, CorpusSize)
  private val corpusDir = r.work.resolve("corpus")
  private val index = new Store(spark, r.work.resolve("index").toString)
  private val known = mutable.LinkedHashMap(docs.map(d => d.id -> d): _*)
  private val passes = mutable.ArrayBuffer.empty[(Seq[(String, Long, Long)],
    Seq[(Long, Long, Long, Long)], Seq[(String, String, Long)])]
  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType)))

  private def writeJsonl(p: Path, ds: Seq[CorpusGen.Doc]): Long = {
    def q(s: String) = "\"" + s + "\"" // generated text has no quotes or escapes
    val data = ds.map(d => s"""{"doc_id": ${d.id}, "text": ${q(d.text)}, "lang": ${q(d.lang)}}""")
      .mkString("", "\n", "\n").getBytes(UTF_8)
    Files.createDirectories(p.getParent); Files.write(p, data)
    data.length
  }

  private def round(k: Int, traced: Boolean): Unit = {
    val got = r.op("read", timed = true) {
      val cur = r.layerSpan("text.curation")(TextOps.curationPipeline(spark, corpusDir.toString)
        .collect().toSeq.map(x => (x.getString(0), x.getLong(1), x.getLong(2))))
      val ent = r.layerSpan("text.entropy")(TextOps.textEntropy(spark, corpusDir.toString)
        .collect().toSeq.map(x => (x.getLong(0), x.getLong(2), x.getLong(3), x.getLong(4))))
      val lid = r.layerSpan("text.langid")(TextOps.textLangid(spark, corpusDir.toString)
        .collect().toSeq.map(x => (x.getString(0), x.getString(1), x.getLong(2))))
      (cur, ent, lid)
    }
    got.foreach(passes += _)

    val (batch, nearCopies) = CorpusGen.batch(r.a.seed, k, docs.toIndexedSeq,
      docs.size + k.toLong * BatchSize, BatchSize, families.count + k * BatchSize)
    val path = r.work.resolve(s"land/batch$k.jsonl")
    val bytes = writeJsonl(path, batch)
    r.landedAll += bytes
    if (k == 0) { r.landedTimed += bytes; r.linesPerRound = batch.size }
    val assigned = r.op("ingest", timed = true) {
      val df = spark.read.schema(docSchema).json(path.toString)
      val rows = r.layerSpan("dedup.assign")(CorpusIndex.assign(index, "corpus", df, "text", "doc_id")
        .collect().toSeq.map(x => (x.getLong(0), x.getLong(1), x.getString(2))))
      val accepted = rows.collect { case (id, a, "novel") if a == id => id }
      r.layerSpan("dedup.append")(CorpusIndex.append(index, "corpus",
        df.filter(col("doc_id").isin(accepted: _*)), "text", "doc_id", s"r$k"))
      (rows, accepted)
    }
    assigned.foreach { case (rows, accepted) =>
      r.check(Checks.assign(known.toMap, batch, nearCopies, rows, 0.5, NumHashes, Bands))
      val byId = batch.map(d => d.id -> d).toMap
      accepted.foreach(id => known(id) = byId(id))
    }
    if (traced) {
      r.recordOp("read"); r.recordOp("ingest")
      Seq("text.curation", "text.entropy", "text.langid", "dedup.append").foreach(r.recordSpan(_))
      r.recordSpan("dedup.assign", Some("dedup.assign_jobs"))
      r.record("dedup.index_files", Seq("_exact", "_shingles", "_bands")
        .map(s => index.dataFileCount(s"corpus$s")).sum)
      r.isolated("dedup.nearDupGroups", Some("dedup.nearDupGroups_jobs"))(noop(groupsFrame))
    }
  }

  private def corpusFrame = spark.read.parquet(corpusDir.resolve("documents.parquet").toString)
  /** The grouping curationPipeline runs inside, with its parameters. */
  private def groupsFrame = Dedup.nearDupGroups(corpusFrame, "text", "doc_id",
    threshold = 0.2, maxIter = 20, portableEdges = true)

  def run(): Unit = {
    val jsonl = r.work.resolve("land/corpus.jsonl")
    r.landedAll += writeJsonl(jsonl, docs)
    spark.read.schema(docSchema).json(jsonl.toString)
      .write.parquet(corpusDir.resolve("documents.parquet").toString)
    r.phase("corpus landed")
    r.coldOp("build")(CorpusIndex.build(index, "corpus", corpusFrame, "text", "doc_id"))
    r.phase("index built")
    r.timedRounds(round)
    r.end(r.work.resolve("index"))

    passes.foreach { case (cur, ent, lid) =>
      r.check(Checks.curationBounds(docs, families.plantedPairs, 0.2, NumHashes, Bands, cur))
      if (cur != passes.head._1) r.check(Seq(s"curationPipeline: passes differ, $cur vs ${passes.head._1}"))
      if (lid != passes.head._3) r.check(Seq(s"textLangid: passes differ, $lid vs ${passes.head._3}"))
      r.check(Checks.entropy(docs, ent))
      r.check(Checks.langid(docs, lid))
    }
    if (r.a.trace) {
      // the full grouping check: the traced run materializes the grouping anyway
      val groups = groupsFrame.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      r.check(Checks.groups(docs, families.plantedPairs, groups, 0.2, NumHashes, Bands))
      val want = Checks.expectedCuration(docs, groups)
      if (passes.head._1 != want) r.check(Seq(s"curationPipeline: got ${passes.head._1}, expected $want"))
    }
    val exact = index.read("corpus_exact", StructType(Seq(StructField("__h", StringType),
      StructField("cid", LongType)))).count()
    val wantExact = docs.map(_.text).distinct.size + (known.size - docs.size)
    if (exact != wantExact) r.check(Seq(s"index exact table has $exact rows, expected $wantExact"))
  }
}
