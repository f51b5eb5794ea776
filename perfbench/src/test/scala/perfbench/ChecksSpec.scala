package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.AtcfGen.Model

/** Each check accepts an output built from the generator's own record and
  * fires on a tampered copy of it. No Spark: the checks see plain values. */
class ChecksSpec extends AnyFunSuite {

  private lazy val model: Model = {
    val m = new Model
    val t0 = AtcfGen.hourOf(java.time.LocalDateTime.of(2024, 8, 10, 0, 0))
    m.ingest(AtcfGen.archiveBatch(AtcfGen.archive(7, Seq(2023), 2),
      AtcfGen.hourOf(java.time.LocalDateTime.of(2024, 1, 1, 0, 0))), None)
    val season = AtcfGen.season(7, 2024, t0, 12) :+ AtcfGen.probe(t0, 12)
    (0 until 12).foreach { k =>
      m.ingest(AtcfGen.cycleBatch(season, t0 + 6L * k), Some(AtcfGen.RecencyHours))
      m.archiveStale(t0 + 6L * k)
    }
    m
  }
  private val probeId = "CP012024"
  private def dump(m: Model) = Checks.StoreDump(m.storms.values.toSeq, m.obs.toSeq,
    m.forecasts.toSeq, m.tracks.toSeq, m.steps.toSeq)

  test("the generated feed exercises claims, stale invests, negative taus and the late model") {
    val m = model
    val season = AtcfGen.season(7, 2024,
      AtcfGen.hourOf(java.time.LocalDateTime.of(2024, 8, 10, 0, 0)), 12)
    assert(season.exists(s => s.investNum.isDefined && s.namedNum.isDefined))
    assert(m.storms.values.exists(_.num >= 90))            // live invests
    assert(m.storms.values.exists(_.status == "Active"))
    assert(m.storms.values.exists(_.status == "Archive"))
    assert(m.steps.exists(_._5.isEmpty))                   // tau -6 -> null hour
    assert(!m.steps.exists(_._2 == "XTRP"))                // blocked model
    assert(!m.steps.exists(k => k._2 == AtcfGen.LateModel && k._4.endsWith("2024")))
  }

  test("store check: accepts the model, fires on a removed steps row") {
    val d = dump(model)
    assert(Checks.store(model, d, probeId).isEmpty)
    val tampered = d.copy(steps = d.steps.filter(_._4 != probeId).tail)
    assert(Checks.store(model, tampered, probeId).exists(_.startsWith("steps: 1 missing")))
  }

  test("store check: fires on duplicated keys and on a wrong storm identity") {
    val d = dump(model)
    assert(Checks.store(model, d.copy(obs = d.obs :+ d.obs.head), probeId)
      .exists(_.contains("duplicated")))
    val s = d.storms.head
    assert(Checks.store(model, d.copy(storms = s.copy(annual = s.annual + 1) +: d.storms.tail), probeId)
      .exists(_.startsWith("storms:")))
  }

  test("probe check: the probe's CARQ taus -12 and -6 share a key; a duplicated row fires") {
    val m = model
    assert(m.storms.contains(probeId))
    val steps = m.steps.filter(_._4 == probeId).toSeq
    assert(steps.count(_._5.isEmpty) == steps.count(_._5.contains(0)))
    assert(Checks.probe(m, probeId, steps, m.stepsOf(probeId)).isEmpty)
    val twice = steps.filter(_._5.isEmpty)
    assert(Checks.probe(m, probeId, steps ++ twice, m.stepsOf(probeId) + twice.size)
      .exists(_.contains("duplicated")))
    assert(Checks.probe(m, probeId, steps, m.stepsOf(probeId) + 1)
      .exists(_.startsWith("trackExtraction")))
  }

  test("read-set check: accepts the model's answer, fires on a short trackExtraction") {
    val ids = model.storms.keys.toSeq.sorted.take(3)
    val want = Checks.expectedReads(model, "AL", "OFCL", ids, ids.head)
    assert(Checks.reads(want, want).isEmpty)
    val got = want.copy(trackRows = want.trackRows.updated(ids.head, want.trackRows(ids.head) - 1))
    assert(Checks.reads(want, got).exists(_.startsWith("trackExtraction rows")))
  }

  private lazy val (docs, families) = CorpusGen.corpus(11, 1500)

  /** The planted grouping: exact copies and chain neighbours joined. */
  private lazy val planted: Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(docs.map(d => d.id -> d.id): _*)
    def find(x: Long): Long = if (parent(x) == x) x else find(parent(x))
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    docs.groupBy(_.text).values.foreach(ds => ds.tail.foreach(d => union(ds.head.id, d.id)))
    families.plantedPairs.foreach { case (a, b) => union(a, b) }
    val g = docs.map(d => d.id -> find(d.id)).toMap
    g.map { case (id, root) => id -> g.collect { case (x, r) if r == root => x }.min }
  }

  test("groups check: accepts the planted grouping") {
    assert(Checks.groups(docs, families.plantedPairs, planted, 0.2, 32, 8).isEmpty)
  }

  test("groups check: fires when two families are merged") {
    val byFamily = docs.groupBy(_.family)
    val (a, b) = (byFamily(0).head.id, byFamily(1).head.id)
    val merged = planted.map { case (id, g) =>
      id -> (if (g == planted(b)) math.min(planted(a), planted(b)) else if (g == planted(a)) math.min(planted(a), planted(b)) else g)
    }
    assert(Checks.groups(docs, families.plantedPairs, merged, 0.2, 32, 8)
      .exists(_.contains("span two families")))
  }

  test("groups check: fires on split copies, a non-minimal id and lost recall") {
    val copy = docs.groupBy(_.text).values.find(_.size > 1).get
    val split = planted.updated(copy.last.id, copy.last.id)
    assert(Checks.groups(docs, families.plantedPairs, split, 0.2, 32, 8)
      .exists(_.contains("byte-identical")))
    val members = planted.groupBy(_._2).values.find(_.size > 1).get
    val bumped = planted ++ members.keys.map(_ -> members.keys.max)
    assert(Checks.groups(docs, families.plantedPairs, bumped, 0.2, 32, 8)
      .exists(_.contains("not their minimum")))
    val singles = docs.map(d => d.id -> docs.filter(_.text == d.text).map(_.id).min).toMap
    assert(Checks.groups(docs, families.plantedPairs, singles, 0.2, 32, 8)
      .exists(_.contains("banding floor")))
  }

  test("curation bounds: fire on tampered totals and on a grouping that joins no near copies") {
    def bounds(got: Seq[(String, Long, Long)]) =
      Checks.curationBounds(docs, families.plantedPairs, 0.2, 32, 8, got)
    val want = Checks.expectedCuration(docs, planted)
    assert(bounds(want).isEmpty)
    val bad = want.head.copy(_3 = want.head._3 + 1) +: want.tail
    assert(bounds(bad).nonEmpty)
    val exactOnly = docs.map(d => d.id -> docs.filter(_.text == d.text).map(_.id).min).toMap
    assert(bounds(Checks.expectedCuration(docs, exactOnly)).exists(_.contains("out of bounds")))
  }

  test("entropy and langid checks fire on tampered rows") {
    val sample = docs.take(50)
    val rows = sample.map { d =>
      val b = d.text.getBytes("UTF-8")
      val hist = b.groupBy(identity).values.map(_.length.toDouble)
      val h = -hist.map(c => c / b.length * math.log(c / b.length) / math.log(2)).sum
      (d.id, b.length.toLong, hist.size.toLong, (h * 1e6).toLong)
    }
    assert(Checks.entropy(sample, rows).isEmpty)
    assert(Checks.entropy(sample, rows.updated(0, rows.head.copy(_2 = rows.head._2 + 1))).nonEmpty)
    val langs = sample.groupBy(d => if (d.lang == "es" && d.id % 2 == 1) "pt" else d.lang)
      .map { case (l, v) => (l, l, v.size.toLong) }.toSeq
    assert(Checks.langid(sample, langs).isEmpty)
    assert(Checks.langid(sample, langs.updated(0, langs.head.copy(_3 = langs.head._3 + 1))).nonEmpty)
    val allEn = langs.map { case (l, _, n) => (l, "en", n) }
    assert(Checks.langid(sample, allEn).exists(_.contains("too few")))
  }

  test("assign check: accepts correct decisions, fires on a non-minimal exact match and lost recall") {
    val known = docs.map(d => d.id -> d).toMap
    val (batch, nearCopies) = CorpusGen.batch(11, 0, docs.toIndexedSeq, docs.size.toLong, 200, families.count)
    val minByText = docs.groupBy(_.text).map { case (t, ds) => t -> ds.map(_.id).min }
    val rows = batch.map { d =>
      minByText.get(d.text).map(m => (d.id, m, "exact")).getOrElse {
        val best = docs.filter(_.family == d.family).map(k =>
          k.id -> CorpusGen.jaccard(CorpusGen.shingles(k.text), CorpusGen.shingles(d.text)))
        best.sortBy(-_._2).headOption.filter(_._2 >= 0.5) match {
          case Some((id, _)) => (d.id, id, "near")
          case None => (d.id, d.id, "novel")
        }
      }
    }
    def check(rs: Seq[(Long, Long, String)]) = Checks.assign(known, batch, nearCopies, rs, 0.5, 32, 8)
    assert(check(rows).isEmpty)
    val i = rows.indexWhere(_._3 == "exact")
    assert(check(rows.updated(i, rows(i).copy(_2 = rows(i)._2 + 100000))).nonEmpty)
    val novel = rows.map { case (id, a, m) => if (m == "near") (id, id, "novel") else (id, a, m) }
    assert(check(novel).exists(_.contains("banding floor")))
  }
}
