package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.util.Random

/** Seeded ATCF deck generator and its own record of what the store must
  * hold afterwards. Plain Scala: no Spark and no program code, so the
  * expectations it derives are independent of the program under test.
  *
  * Times are whole epoch hours (UTC). A system is a track of 6-hourly
  * best-track points; it may start as an invest (number 90-99) and later
  * be re-labelled as a named storm whose b-deck carries the whole history
  * from the same genesis time. Genesis times are distinct per region, so
  * every invest-to-named claim has exactly one candidate.
  */
object AtcfGen {

  /** Regions of the seeded systems. */
  val Regions: Seq[String] = Seq("AL", "EP", "WP")
  /** Region of the fixed probe storm (see [[probe]]); no seeded system
    * uses it. */
  val ProbeRegion = "CP"
  def org(region: String): String = if (region == "WP") "JTWC" else "NHC"
  private def subregion(region: String): String =
    Map("AL" -> "L", "EP" -> "E", "WP" -> "W", "CP" -> "C")(region)

  /** The allowlist handed to `Pipelines.runAdeck`: fifteen techs of
    * tcdb's own a-deck allowlist (settings.yml) plus CARQ, whose past
    * positions carry the negative taus. With these a cron cycle lands
    * about 2.2k deck lines. */
  val Allowed: Seq[String] = Seq("OFCL", "OFCI", "AVNO", "AEMN", "EMX", "HWRF",
    "HWFI", "HMON", "HMNI", "CMC", "EGRR", "LGEM", "SHIP", "IVCN", "TVCA", "CARQ")
  /** Techs real decks carry that are outside the allowlist. */
  val Blocked: Seq[String] = Seq("XTRP", "CLP5", "BAMM", "TCLP")
  /** In the cron feed this model only ever arrives late (init 54 h before
    * the cycle), so the 48 h recency gate must keep it out of the store. */
  val LateModel = "TVCA"
  val RecencyHours = 48
  private val Taus = 0 to 120 by 12

  final case class Point(hour: Long, latT: Int, lonT: Int, vmax: Int)

  /** investPoints leading points are published under the invest number;
    * a system with no namedNum never develops. */
  final case class Sys(region: String, season: Int, investNum: Option[Int],
      investPoints: Int, namedNum: Option[Int], name: String,
      points: Vector[Point], probe: Boolean = false) {
    def genesis: Long = points.head.hour
    def last: Long = points.last.hour
    def namingHour: Long = genesis + 6L * investPoints
  }

  /** One landed deck file: the designation it is published under and the
    * points (b-deck) or forecast lines (a-deck) it carries. */
  final case class Desig(region: String, num: Int, season: Int, name: String) {
    def id: String = f"$region$num%02d$season"
    def invest: Boolean = num >= 90
    def fileSuffix: String = f"${region.toLowerCase}$num%02d$season.dat"
  }
  final case class ALine(init: Long, model: String, tau: Int)

  // ------------------------------------------------------------ worlds

  private val syll = Seq("ka", "lo", "mi", "ra", "te", "su", "no", "vi",
    "da", "re", "an", "el", "or", "is", "ma", "ne", "fa", "go", "hu", "ri")

  private def stormName(rnd: Random, used: mutable.Set[String]): String = {
    var n = ""
    while (n.isEmpty || used(n))
      n = (0 until 2 + rnd.nextInt(2)).map(_ => syll(rnd.nextInt(syll.size)))
        .mkString.toUpperCase
    used += n; n
  }

  /** 6-hourly points: weak while an invest, then up to `peak` kt and
    * down again. The seed moves positions and motion only. */
  private def track(rnd: Random, region: String, genesis: Long, n: Int,
      investPoints: Int, peak: Int): Vector[Point] = {
    val (lat0, lon0, dLon) = region match {
      case "AL" => (100 + rnd.nextInt(100), -(300 + rnd.nextInt(300)), -(5 + rnd.nextInt(6)))
      case "EP" => (100 + rnd.nextInt(50), -(950 + rnd.nextInt(150)), -(4 + rnd.nextInt(6)))
      case "CP" => (120 + rnd.nextInt(40), -(1450 + rnd.nextInt(50)), -(3 + rnd.nextInt(2)))
      case _    => (80 + rnd.nextInt(120), 1300 + rnd.nextInt(300), -(4 + rnd.nextInt(6)))
    }
    val dLat = 2 + rnd.nextInt(4)
    val named = n - investPoints
    Vector.tabulate(n) { i =>
      val v =
        if (i < investPoints) 20 + rnd.nextInt(10)
        else {
          val k = i - investPoints
          val rise = math.min(peak, 30 + 8 * k)
          val fall = peak - 10 * math.max(0, k - (named * 2) / 3)
          math.max(25, math.min(rise, fall))
        }
      Point(genesis + 6L * i, lat0 + dLat * i, lon0 + dLon * i, v)
    }
  }

  /** Peak intensity by position in the season, so that the deck volume
    * (rows per point follow the wind radii) does not depend on the seed. */
  private def peak(rnd: Random, j: Int): Int = 45 + 30 * (j % 4) + rnd.nextInt(5)

  /** Past seasons for the archive backfill: `perRegion` named storms per
    * region-season, spread over Jun-Nov; every other one had an invest
    * phase whose (by now stale) invest deck is landed too. Storm counts
    * and lengths are fixed; the seed draws names, tracks and timing. */
  def archive(seed: Long, seasons: Seq[Int], perRegion: Int): Seq[Sys] = {
    val rnd = new Random(seed * 7919L + 11)
    for (season <- seasons; region <- Regions) yield {
      val used = mutable.Set.empty[String]
      val t0 = hourOf(LocalDateTime.of(season, 6, 1, 0, 0))
      val spacing = (150 * 24 / perRegion / 6) * 6L // hours, on the 6 h grid
      (0 until perRegion).map { j =>
        val genesis = t0 + j * spacing + 6L * rnd.nextInt(4)
        val inv = if (j % 2 == 0) 4 + j % 3 else 0
        val n = inv + 16 + 2 * (j % 3)
        Sys(region, season, if (inv > 0) Some(90 + j % 10) else None, inv,
          Some(j + 1), stormName(rnd, used), track(rnd, region, genesis, n, inv, peak(rnd, j)))
      }
    }
  }.flatten

  /** The season the cron feed runs in. Per region a system forms every
    * 42 h, so about three per region are live at any cycle. By position in
    * the season, 2 of 5 systems develop from an invest, 2 are named at once
    * and 1 is an invest that never develops. Systems already running at
    * the first cycle are included. The timeline is the same for every
    * seed, so each cycle lands the same number of decks and points. */
  def season(seed: Long, year: Int, firstCycle: Long, cycles: Int): Seq[Sys] = {
    val rnd = new Random(seed * 104729L + 3)
    Regions.flatMap { region =>
      val used = mutable.Set.empty[String]
      var named = 0
      var invests = 0
      val start = firstCycle - 120
      val end = firstCycle + 6L * cycles
      Iterator.from(0).map(j => (j, start + 42L * j))
        .takeWhile(_._2 <= end).map { case (j, genesis) =>
          val kind = if (invests >= 10) 1 else Seq(0, 1, 0, 2, 1)(j % 5)
          val inv = kind match { case 0 => 4 + j % 3; case 1 => 0; case _ => 6 }
          val n = if (kind == 2) inv else inv + 16 + 2 * (j % 3)
          val investNum = if (inv > 0) { invests += 1; Some(89 + invests) } else None
          val namedNum = if (kind == 2) None else { named += 1; Some(named) }
          val nm = if (kind == 2) "INVEST" else stormName(rnd, used)
          Sys(region, year, investNum, inv, namedNum, nm,
            track(rnd, region, genesis, n, inv, peak(rnd, j)))
        }.toSeq
    }
  }

  /** The probe storm: one named CP system, the same for every seed, live
    * from a day before the first cron cycle for `cycles` cycles. Its
    * a-deck carries only CARQ, at taus -12, -6 and 0 as real a-decks do,
    * so its steps hold two negative-tau rows per init that share one
    * natural key (the hour is null for both): the store must hold that
    * key once. */
  def probe(firstCycle: Long, cycles: Int): Sys = {
    val rnd = new Random(1)
    Sys(ProbeRegion, 2024, None, 0, Some(1), "KALONI",
      track(rnd, ProbeRegion, firstCycle - 24, 5 + cycles, 0, 75), probe = true)
  }
  val ProbeCarqTaus: Seq[Int] = Seq(-12, -6, 0)

  // ------------------------------------------------------------ decks

  private val fmt = DateTimeFormatter.ofPattern("yyyyMMddHH")
  def hourOf(t: LocalDateTime): Long = t.toEpochSecond(ZoneOffset.UTC) / 3600
  def atcfTime(h: Long): String =
    LocalDateTime.ofEpochSecond(h * 3600, 0, ZoneOffset.UTC).format(fmt)
  private def lat(t: Int) = s"${math.abs(t)}${if (t >= 0) "N" else "S"}"
  private def lon(t: Int) = s"${math.abs(t)}${if (t >= 0) "E" else "W"}"
  private def mslp(v: Int) = 1012 - (v * 7) / 10
  private def rads(v: Int) = Seq(34) ++ (if (v >= 50) Seq(50) else Nil) ++ (if (v >= 64) Seq(64) else Nil)

  /** The designation a system is published under at hour `t`, or None
    * when nothing is landed for it (not formed yet, or finished). */
  def desigAt(s: Sys, t: Long): Option[Desig] =
    if (t < s.genesis || t > s.last) None
    else if (s.namedNum.isDefined && t >= s.namingHour)
      Some(Desig(s.region, s.namedNum.get, s.season, s.name))
    else Some(Desig(s.region, s.investNum.get, s.season, "INVEST"))

  private def bLine(d: Desig, p: Point, rad: Int): String = {
    val q = rad match { case 34 => "120, 100, 80, 110"; case 50 => "60, 50, 40, 55"; case _ => "30, 25, 20, 25" }
    s"${d.region}, ${f"${d.num}%02d"}, ${atcfTime(p.hour)},   , BEST,   0, ${lat(p.latT)}, ${lon(p.lonT)}," +
      s" ${p.vmax}, ${mslp(p.vmax)}, XX, $rad, NEQ, $q, 1010, 200, 25, ${p.vmax + 10}, 0," +
      s" ${subregion(d.region)}, 0,    , 280, 10, ${d.name}, D, 12, NEQ, 120, 120, 60, 60,    ,"
  }

  /** A cumulative b-deck: every point up to `upTo`, one row per wind
    * radius. The rad-34 row of the second point is ragged (24 fields,
    * still >= 18, so it is kept with nulls), and one short row (7 fields,
    * at an off-synoptic hour nothing else uses) must be dropped. */
  def bDeck(d: Desig, pts: Seq[Point]): Seq[String] =
    pts.zipWithIndex.flatMap { case (p, i) =>
      val rows = rads(p.vmax).map(r => bLine(d, p, r))
      val ragged = if (i == 1) rows.head.split(",", -1).take(24).mkString(",") +: rows.tail else rows
      if (i == 2) ragged :+ s"${d.region}, ${f"${d.num}%02d"}, ${atcfTime(p.hour).dropRight(2)}03,   , BEST,   0, ${lat(p.latT)}"
      else ragged
    }

  /** Forecast lines of one init: the allowlisted guidance at taus 0-120
    * (plus a second row at 50 kt where the forecast reaches it), CARQ at
    * taus -6 and 0 (the negative tau lands with a null hour), and blocked
    * models at taus 0-72. The probe storm carries CARQ alone, at
    * [[ProbeCarqTaus]]. */
  def aLines(s: Sys, init: Long, models: Seq[String]): Seq[ALine] =
    if (s.probe) ProbeCarqTaus.map(ALine(init, "CARQ", _))
    else models.flatMap {
      case "CARQ" => Seq(ALine(init, "CARQ", -6), ALine(init, "CARQ", 0))
      case m if Blocked.contains(m) => Taus.filter(_ <= 72).map(ALine(init, m, _))
      case m => Taus.map(ALine(init, m, _))
    }

  def aDeck(s: Sys, d: Desig, lines: Seq[ALine]): Seq[String] = {
    val short = lines.headOption.map(l =>
      s"${d.region}, ${f"${d.num}%02d"}, ${atcfTime(l.init)},   , OFCL")
    lines.flatMap { l =>
      val base = s.points.find(_.hour == l.init).getOrElse(s.points.last)
      val k = math.max(l.tau, 0) / 12
      val v = math.max(20, base.vmax + 5 * k - (l.model.hashCode & 7))
      val p = Point(l.init, base.latT + 8 * k, base.lonT - 9 * k, v)
      rads(v).filter(_ <= 50).map { r =>
        s"${d.region}, ${f"${d.num}%02d"}, ${atcfTime(l.init)},   , ${l.model}, ${l.tau}, ${lat(p.latT)}," +
          s" ${lon(p.lonT)}, $v, ${mslp(v)}, XX, $r, NEQ, 90, 80, 60, 70,"
      }
    } ++ short
  }

  // ------------------------------------------------------------ landing

  /** One landed batch: b-deck files (designation, points) and a-deck
    * files (designation, forecast lines) for a landing time `now`. */
  final case class Batch(now: Long, bdecks: Seq[(Desig, Sys, Seq[Point])],
      adecks: Seq[(Desig, Sys, Seq[ALine])]) {
    /** Deck lines landed by [[write]]. */
    def lines: Int = bdecks.map { case (d, _, pts) => bDeck(d, pts).size }.sum +
      adecks.map { case (d, s, ls) => aDeck(s, d, ls).size }.sum
    def write(dir: Path): Long = {
      val b = dir.resolve("b"); val a = dir.resolve("a")
      Files.createDirectories(b); Files.createDirectories(a)
      var bytes = 0L
      def put(p: Path, lines: Seq[String]): Unit = {
        val data = lines.mkString("", "\n", "\n").getBytes(UTF_8)
        Files.write(p, data); bytes += data.length
      }
      bdecks.foreach { case (d, _, pts) => put(b.resolve("b" + d.fileSuffix), bDeck(d, pts)) }
      adecks.foreach { case (d, s, ls) => put(a.resolve("a" + d.fileSuffix), aDeck(s, d, ls)) }
      bytes
    }
  }

  /** The archive as one backfill batch landed at `now`: every system's
    * final named deck with all its points and an a-deck with one init
    * per point, plus the invest decks of systems that had an invest
    * phase (stale by `now`, so the program must ignore them). */
  def archiveBatch(systems: Seq[Sys], now: Long): Batch = {
    val models = Allowed ++ Blocked
    val named = systems.map { s =>
      val d = Desig(s.region, s.namedNum.get, s.season, s.name)
      (d, s, s.points)
    }
    val invest = systems.filter(_.investPoints > 0).map { s =>
      (Desig(s.region, s.investNum.get, s.season, "INVEST"), s, s.points.take(s.investPoints))
    }
    val b = named ++ invest
    Batch(now, b, b.map { case (d, s, pts) =>
      (d, s, pts.flatMap(p => aLines(s, p.hour, models)))
    })
  }

  /** The cron cycle at hour `t`: the cumulative b-deck of every live
    * system, and an a-deck holding this cycle's init for all models plus
    * the late-model lines of the init 54 h earlier. */
  def cycleBatch(systems: Seq[Sys], t: Long): Batch = {
    val live = systems.flatMap(s => desigAt(s, t).map(d => (d, s)))
    Batch(t,
      live.map { case (d, s) => (d, s, s.points.takeWhile(_.hour <= t)) },
      live.map { case (d, s) =>
        val late = t - 54
        val lateLines =
          if (late >= s.genesis && !s.probe) aLines(s, late, Seq(LateModel)) else Nil
        (d, s, aLines(s, t, (Allowed.filterNot(_ == LateModel)) ++ Blocked) ++ lateLines)
      })
  }

  // ------------------------------------------------------------ expected store

  final case class StormRow(id: String, region: String, num: Int,
      season: Int, annual: Int, start: Long, end: Long, status: String,
      name: String)
  type ObsKey = (String, Long, Long)                    // nhc_id, start, datetime
  type FcKey = (String, String, String, Long)           // region, source, model, init
  type TrackKey = (String, String, Long, String)        // region, model, init, nhc_id
  type StepKey = (String, String, Long, String, Option[Int]) // + hour

  private def stormType(v: Int, region: String): String = region match {
    case "AL" | "EP" => if (v < 34) "TD" else if (v < 63) "TS" else "HU"
    case "WP" => if (v < 34) "TD" else if (v < 63) "TS" else if (v < 130) "TY" else "STY"
    case _ => "CY"
  }
  private def title(s: String) = s.head.toUpper + s.tail.toLowerCase

  /** The store as the documented pipeline semantics say it must evolve:
    * storms resolution (named first, then invests against the post-named
    * store, claims by region and genesis time, stale invests ignored,
    * max+1 annual ids), observation and forecast upserts by natural key,
    * the allowlist and recency gate, and archiveStale. */
  final class Model {
    val storms = mutable.LinkedHashMap.empty[String, StormRow]
    val obs = mutable.Set.empty[ObsKey]
    val forecasts = mutable.Set.empty[FcKey]
    val tracks = mutable.Set.empty[TrackKey]
    val steps = mutable.Set.empty[StepKey]

    def ingest(batch: Batch, recency: Option[Int]): Unit = {
      val now = batch.now
      // summaries of the landed b-decks
      val sums = batch.bdecks.map { case (d, _, pts) =>
        val end = pts.last.hour
        val name = if (d.invest) s"${org(d.region)}-${d.num}${subregion(d.region)}"
          else s"${stormType(pts.map(_.vmax).max, d.region)}-${title(d.name)}"
        StormRow(d.id, d.region, d.num, d.season, 0, pts.head.hour, end,
          if (now - end <= 16) "Active" else "Archive", name) -> pts
      }
      val fresh = mutable.ArrayBuffer.empty[String]
      // phase 1: named
      sums.filter(_._1.num < 90).foreach { case (s, _) =>
        storms.get(s.id) match {
          case Some(old) => storms(s.id) = s.copy(annual = old.annual)
          case None =>
            val cands = storms.values.filter(c => c.num >= 70 &&
              c.region == s.region && c.start == s.start).toSeq
            require(cands.size <= 1, s"ambiguous claim for ${s.id}")
            cands.headOption match {
              case Some(c) =>
                storms.remove(c.id); storms(s.id) = s.copy(annual = c.annual)
              case None => storms(s.id) = s; fresh += s.id
            }
        }
      }
      // phase 2: invests against the post-named store
      sums.filter(_._1.num >= 90).filter(x => now - x._1.end < 24).foreach { case (s, _) =>
        val transitioned = storms.values.exists(c => c.num <= 50 &&
          c.region == s.region && c.start == s.start)
        if (!transitioned) storms.get(s.id) match {
          case Some(old) if math.abs(old.start - s.start) <= 24 =>
            storms(s.id) = s.copy(annual = old.annual)
          case Some(_) => sys.error(s"invest number reused: ${s.id}")
          case None => storms(s.id) = s; fresh += s.id
        }
      }
      // max+1 annual ids per (season, region), new rows by number then id
      fresh.map(storms).groupBy(r => (r.season, r.region)).foreach { case ((se, re), rows) =>
        val base = storms.values.filter(r => r.season == se && r.region == re)
          .map(_.annual).foldLeft(0)(math.max)
        rows.sortBy(r => (r.num, r.id)).zipWithIndex.foreach { case (r, i) =>
          storms(r.id) = r.copy(annual = base + i + 1)
        }
      }
      // observations of files whose storm (id, start) is in the store
      sums.foreach { case (s, pts) =>
        if (storms.get(s.id).exists(_.start == s.start))
          pts.foreach(p => obs += ((s.id, s.start, p.hour)))
      }
      // a-decks: allowlist, recency gate, known storms only
      batch.adecks.foreach { case (d, _, lines) =>
        if (storms.contains(d.id)) lines.foreach { l =>
          if (Allowed.contains(l.model) && recency.forall(h => now - l.init <= h)) {
            val hour = if (l.tau >= 0) Some(l.tau) else None
            steps += ((d.region, l.model, l.init, d.id, hour))
            tracks += ((d.region, l.model, l.init, d.id))
            forecasts += ((d.region, org(d.region), l.model, l.init))
          }
        }
      }
    }

    def archiveStale(now: Long, hours: Int = 24): Unit = {
      val lastObs = obs.groupBy(_._1).map { case (id, ks) => id -> ks.map(_._3).max }
      storms.foreach { case (id, r) =>
        val last = lastObs.getOrElse(id, r.end)
        if (r.status == "Active" && last < now - hours)
          storms(id) = r.copy(status = "Archive")
      }
    }

    def stepsOf(id: String): Int = steps.count(_._4 == id)
  }
}
