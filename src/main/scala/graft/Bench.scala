package graft
import org.apache.spark.sql.SparkSession
/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are fully materialized via the noop sink
  * (a bare count() would let Catalyst prune most of the work).
  *
  * Each query first runs once UNTIMED at the target SF: that warms
  * JIT/codegen AND populates any memoized fixture state (generated deck
  * lines, the ref-track store) at the scale being measured, so the timed
  * runs measure engine throughput on the operator — not one-time codegen
  * or fixture construction. Timed repeats (default 3) are then run
  * ROUND-ROBIN across the whole suite — repeat 1 of every query, then
  * repeat 2 of every query, ... — and the per-query MIN reported. Why
  * interleaved rather than back-to-back: the round-7 driver run hit a
  * multi-minute host-contention window that inflated a contiguous
  * alphabetical span of queries up to 87x; with back-to-back repeats
  * both samples of an affected query sit inside the same window, so
  * min-of-N is no defense. Interleaving spaces a query's samples the
  * whole suite apart (~1 min+), so a window inflates ONE sample of many
  * queries instead of ALL samples of a few, and the min recovers the
  * clean number. Per-repeat durations and suite-relative start offsets
  * are written to the detail file so a contiguous slow span is
  * self-diagnosing from the artifact alone.
  *
  * Failures are loud: a gate that throws in any pass is named on
  * stderr, left out of `value` and `queries`, counted as `"failed":N`
  * on both stdout lines and listed in the detail file's
  * `failed_gates`; with SPARK_GRAFT_BENCH_STRICT=1 the run then exits
  * non-zero.
  *
  * Streaming-gate caveat (round-19 verdict residual): the 9 streaming
  * gates memoize their drained sink per (session, dir) — the stream
  * executes ONCE, in the untimed warm pass, and the timed repeats read
  * the materialized parquet output. Their per-query seconds therefore
  * measure sink read-back, NOT streaming throughput (drain costs live
  * in tools/TimeParts "build" time and the Stream*Probe tools);
  * round-over-round comparisons stay valid because every round times
  * the same thing.
  *
  * Regression tripwire: before overwriting bench_full.json the previous
  * round's per-query map is loaded and every DRIFT-CORRECTED mover
  * >1.5x either way is printed (per-query ratio divided by the suite
  * median ratio, so uniform host drift neither floods the list nor
  * masks a real mover) — a zero-cost alarm for phantom speedups and
  * silent regressions. Filtered runs (SPARK_GRAFT_BENCH_ONLY) write
  * bench_filtered.json instead, so the committed full-suite baseline is
  * never clobbered by a partial run, and their tripwire output is
  * labeled informational (filtered timings drift vs in-suite ones). */
object Bench {
  /** Minimal parse of the {"queries":{"name":secs,...}} map out of a
    * previous bench line — no JSON lib needed for flat string->double. */
  private def parseQueries(line: String): Map[String, Double] = {
    val m = """"queries"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(line)
    m.map(_.group(1)).getOrElse("").split(',').toSeq
      .flatMap { kv =>
        """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findFirstMatchIn(kv)
          .map(g => g.group(1) -> g.group(2).toDouble)
      }.toMap
  }

  /** PIDs of java processes OUTSIDE this process's own ancestry chain.
    * Any such JVM competes for the same cores and is the documented
    * 1.3x-suite-wide bench pollution mode (round-7/9 postmortems); the
    * chain itself (this JVM, the sbt launcher, its shell) is expected. */
  private def foreignJvms(): Seq[Long] = {
    val self = ProcessHandle.current()
    val ancestry = Iterator.iterate(Option(self))(_.flatMap(h =>
        Option(h.parent().orElse(null))))
      .takeWhile(_.isDefined).flatten.map(_.pid()).toSet
    import scala.jdk.CollectionConverters._
    ProcessHandle.allProcesses().iterator().asScala
      .filter(h => h.info().command().map[Boolean](_.contains("java"))
        .orElse(false))
      .map(_.pid()).filterNot(ancestry).toSeq.sorted
  }

  def main(args: Array[String]): Unit = {
    // contention guard BEFORE any timing: a concurrent JVM makes every
    // number in this run suspect. Loud by default; strict mode (for
    // certification runs) refuses to produce a polluted artifact.
    val strict = sys.env.get("SPARK_GRAFT_BENCH_STRICT").contains("1")
    val foreign = foreignJvms()
    if (foreign.nonEmpty) {
      println(s"BENCH GUARD: ${foreign.size} foreign JVM(s) running " +
        s"(pids ${foreign.mkString(", ")}) — timings will be contended.")
      if (strict) {
        println("BENCH GUARD: SPARK_GRAFT_BENCH_STRICT=1 — aborting.")
        sys.exit(2)
      }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    val cpus = spark.sparkContext.master.stripPrefix("local[").stripSuffix("]")
    // optional local-iteration filter: comma-separated name prefixes
    val filtered = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    val only: String => Boolean = filtered match {
      case Some(ps) => name => ps.split(',').exists(name.startsWith)
      case None => _ => true
    }
    val prev: Map[String, Double] =
      try parseQueries(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench_full.json")), "UTF-8"))
      catch { case _: Throwable => Map.empty }
    val qs = SparkEntry.queries.toSeq.sortBy(_._1).filter(q => only(q._1))
    // A gate that throws in ANY pass (warm or timed) is reported by name
    // and left out of the total and the per-query map: timing a failure
    // at its failure latency would sum a broken gate into the result.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def runOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        false
      }
    qs.foreach { case (name, fn) => if (!runOnce(name, fn)) failed += name } // warm pass, untimed
    val repeats = sys.env.get("SPARK_GRAFT_BENCH_REPEATS")
      .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ > 0).getOrElse(3)
    val samples = Array.fill(qs.size)(Array.fill(repeats)(0.0))
    val starts = Array.fill(qs.size)(Array.fill(repeats)(0.0))
    val suiteT0 = System.nanoTime()
    for (r <- 0 until repeats; i <- qs.indices) {
      starts(i)(r) = (System.nanoTime() - suiteT0) / 1e9
      val t0 = System.nanoTime()
      if (!runOnce(qs(i)._1, qs(i)._2)) failed += qs(i)._1
      samples(i)(r) = (System.nanoTime() - t0) / 1e9
    }
    val results = qs.indices.filterNot(i => failed(qs(i)._1))
      .map(i => qs(i)._1 -> samples(i).min)
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Full per-query detail goes to a file (and an early log line): the
    // harness only retains the LAST ~2000 chars of stdout, so the line it
    // parses must stay comfortably under that. Rounds 1-3 printed a ~3.5 KB
    // line and the harness recorded parsed:null every time.
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // "cpus" rides along so a low-core re-run is self-describing from the
    // parsed line alone (the round-18 driver flagged suspect_cpus_ignored
    // because the artifact carried no evidence the knob was honored).
    // SPARK_GRAFT_CPUS is normally an integer; a non-numeric master spec
    // (e.g. "*") is emitted quoted so the line stays valid JSON.
    val cpusJson = if (cpus.matches("\\d+")) cpus else "\"" + cpus + "\""
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpusJson,"failed":${failed.size},"queries":$fullQs,"sf":"$sfDir"}"""
    // Detail line adds per-repeat samples and suite-relative start offsets
    // (file only — stdout stays compact): a contention window shows up as
    // one inflated sample column across a contiguous start-offset span.
    val perRepeat = qs.indices.map { i =>
      "\"" + qs(i)._1 + "\":[" +
        samples(i).map(s => f"$s%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val startOffsets = qs.indices.map { i =>
      "\"" + qs(i)._1 + "\":[" +
        starts(i).map(s => f"$s%.1f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val failedNames = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val detailLine = fullLine.dropRight(1) +
      s""","repeats":$repeats,"foreign_jvms":${foreign.size}""" +
      s""","failed_gates":$failedNames""" +
      s""","samples":$perRepeat,"starts":$startOffsets}"""
    val outFile =
      if (filtered.isDefined) "bench_filtered.json" else "bench_full.json"
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      (detailLine + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(fullLine)
    // Tripwire vs the previous full-suite run, DRIFT-CORRECTED: uniform
    // host slowdown/speedup moves every query by the same factor, so each
    // per-query ratio is divided by the suite median ratio before the
    // 1.5x threshold — whole-suite drift neither floods the mover list
    // nor masks a real mover hiding inside it. Filtered runs are labeled
    // informational: they compare against the full-suite baseline and
    // carry a known extra filtered-vs-in-suite drift.
    val ratios = results.flatMap { case (k, v) =>
      prev.get(k).collect {
        case p if p > 0.05 && v > 0.05 => (k, p, v, v / p)
      }
    }
    // Drift correction needs a population to estimate drift from: on
    // small filtered runs the median IS the mover, so fall back to raw
    // ratios there. And a RAW ratio beyond 2.5x always reports, so a
    // uniform global regression (which correction would normalize away)
    // still trips — the median line itself flags it too.
    val med =
      if (ratios.size < 8) 1.0
      else ratios.map(_._4).sorted.apply(ratios.size / 2)
    val movers = ratios.flatMap { case (k, p, v, r) =>
      val c = r / med
      if (c > 1.5 || 1 / c > 1.5 || r > 2.5 || r < 0.4)
        Some(f"$k: ${p}%.2f -> ${v}%.2f (${r}%.2fx raw, ${c}%.2fx drift-corrected)")
      else None
    }
    if (prev.nonEmpty && ratios.nonEmpty) {
      val tag = if (filtered.isDefined)
        " [FILTERED run vs full-suite baseline — informational only]" else ""
      val alarm = if (med > 1.5 || med < 0.67)
        f" SUITE-WIDE SHIFT ${med}%.2fx — global regression or host change?" else ""
      println(f"TRIPWIRE$tag: suite median ratio ${med}%.2fx over ${ratios.size} queries; ${movers.size} movers.$alarm")
      movers.foreach(m => println("  " + m))
    } else if (prev.nonEmpty) {
      // A baseline exists but shares no comparable queries (renames, or
      // everything under the 0.05s floor): say so explicitly — silence
      // here is indistinguishable from a clean run.
      println("TRIPWIRE: no comparable queries vs baseline — regression check did NOT run.")
    }
    spark.stop()
    // Compact summary line, printed LAST: total over every gate that
    // succeeded, the failed-gate count, plus the slowest queries
    // (3-decimal secs) while the whole line stays under 1600 chars.
    val sb = new StringBuilder
    sb.append(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"cpus":$cpusJson,"failed":${failed.size},""")
    sb.append("\"queries\":{")
    val tail = s"""},"sf":"$sfDir"}"""
    var first = true
    for ((k, v) <- results.sortBy(-_._2)) {
      val entry = (if (first) "" else ",") + "\"" + k + "\":" + f"$v%.3f"
      if (sb.length + entry.length + tail.length < 1600) {
        sb.append(entry); first = false
      }
    }
    sb.append(tail)
    println(sb.toString)
    if (failed.nonEmpty && strict) {
      System.err.println(s"BENCH: SPARK_GRAFT_BENCH_STRICT=1 — ${failed.size} " +
        s"gate(s) failed: ${failed.mkString(", ")}")
      sys.exit(3)
    }
  }
}
