package perfbench

import perfbench.AtcfGen.{Model, StormRow}
import perfbench.CorpusGen.Doc

/** Output checks, computed apart from the program: the TC checks compare
  * against the generator's own model of the store, the curation checks
  * test properties any correct grouping and assignment must have. Each
  * returns the problems found (empty when the output is correct). Inputs
  * are plain values collected from the program's frames. */
object Checks {

  def diff[K](what: String, expected: Iterable[K], actual: Seq[K]): Seq[String] = {
    val dups = actual.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    val exp = expected.toSet
    val act = actual.toSet
    val missing = exp -- act
    val extra = act -- exp
    (if (dups.nonEmpty) Seq(s"$what: ${dups.size} duplicated keys, e.g. ${dups.head}") else Nil) ++
      (if (missing.nonEmpty) Seq(s"$what: ${missing.size} missing, e.g. ${missing.head}") else Nil) ++
      (if (extra.nonEmpty) Seq(s"$what: ${extra.size} unexpected, e.g. ${extra.head}") else Nil)
  }

  // ------------------------------------------------------------ TC store

  /** The five tables, by natural key; storms also by identity (annual id,
    * name, start/end and status after claims and archiving). */
  final case class StoreDump(storms: Seq[StormRow], obs: Seq[AtcfGen.ObsKey],
      forecasts: Seq[AtcfGen.FcKey], tracks: Seq[AtcfGen.TrackKey],
      steps: Seq[AtcfGen.StepKey])

  /** The probe storm's steps are left to [[probe]], which checks them on
    * every cycle. */
  def store(m: Model, d: StoreDump, probeId: String): Seq[String] =
    diff("storms", m.storms.values, d.storms) ++
      diff("observations", m.obs, d.obs) ++
      diff("forecasts", m.forecasts, d.forecasts) ++
      diff("tracks", m.tracks, d.tracks) ++
      diff("steps", m.steps.filter(_._4 != probeId), d.steps.filter(_._4 != probeId))

  /** The probe storm after a cycle: its steps by natural key, and the row
    * count trackExtraction returns for it. */
  def probe(m: Model, probeId: String, steps: Seq[AtcfGen.StepKey],
      trackRows: Int): Seq[String] =
    diff(s"steps of $probeId", m.steps.filter(_._4 == probeId), steps) ++
      (if (trackRows == m.stepsOf(probeId)) Nil
       else Seq(s"trackExtraction($probeId): $trackRows rows, expected ${m.stepsOf(probeId)}"))

  /** What one analyst read set returned. Counts queries keep their rows in
    * output order. */
  final case class Reads(
      trackRows: Map[String, Int],
      basinModel: Seq[(String, Long)],
      basinTracks: Seq[(String, Long)],
      modelByBasin: Seq[(String, Long)],
      stormTracks: Seq[(String, String, Long)],
      assembled: (Int, Int, Int),
      sqlStatus: Seq[(String, Long)]) {
    def rows: Long = trackRows.values.sum + basinModel.size + basinTracks.size +
      modelByBasin.size + stormTracks.size + assembled._1 + assembled._2 +
      assembled._3 + sqlStatus.size
  }

  /** The read set's expected answer, from the model alone. */
  def expectedReads(m: Model, region: String, model: String,
      ids: Seq[String], assembleId: String): Reads = {
    def ranked(xs: Iterable[String]): Seq[(String, Long)] =
      xs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }.toSeq
        .sortBy { case (k, n) => (-n, k) }
    val stormTracks = m.tracks.toSeq.filter(_._1 == region)
      .flatMap(t => m.storms.get(t._4).map(s => (s, t._2)))
      .groupBy(identity).map { case ((s, mo), v) => (s.num, s.name, mo, v.size.toLong) }
      .toSeq.sortBy { case (num, _, mo, n) => (num, -n, mo) }
      .map { case (_, name, mo, n) => (name, mo, n) }
    val sql = m.obs.toSeq.flatMap(k => m.storms.get(k._1).filter(_.start == k._2))
      .groupBy(_.status).map { case (st, v) => st -> v.size.toLong }.toSeq.sortBy(_._1)
    Reads(
      ids.map(id => id -> (if (m.storms.contains(id)) m.stepsOf(id) else 0)).toMap,
      ranked(m.tracks.toSeq.filter(_._1 == region).map(_._2)),
      ranked(m.forecasts.toSeq.filter(_._1 == region).map(_._3)),
      ranked(m.forecasts.toSeq.filter(_._3 == model).map(_._1)),
      stormTracks,
      (if (m.storms.contains(assembleId)) 1 else 0, m.stepsOf(assembleId),
        m.obs.count(_._1 == assembleId)),
      sql)
  }

  /** stormTrackCountsByModel orders by (nhc_number, count, model), which
    * ties for same-numbered storms of different seasons; its rows are
    * compared as a multiset. */
  def reads(expected: Reads, actual: Reads): Seq[String] = {
    def norm(x: Reads) = x.copy(stormTracks = x.stormTracks.sorted)
    norm(expected).productIterator.zip(norm(actual).productIterator)
      .zip(Seq("trackExtraction rows", "basinModelCounts", "basinTrackCountsByModel",
        "modelCountsByBasin", "stormTrackCountsByModel", "assemble rows", "sql"))
      .collect { case ((e, a), what) if e != a => s"$what: expected $e, got $a" }
      .toSeq
  }

  // ------------------------------------------------------------ curation

  /** MinHash banding: the chance a pair of true Jaccard `j` shares at
    * least one of `bands` bands of `numHashes / bands` rows. */
  def bandingProbability(j: Double, numHashes: Int, bands: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, numHashes.toDouble / bands), bands)

  /** The least number of successes `ps` (independent trials with these
    * chances) give short of a three-standard-deviation fluke. */
  def floor(ps: Seq[Double]): Double =
    ps.sum - 3 * math.sqrt(ps.map(p => p * (1 - p)).sum)

  /** Planted chain pairs with distinct texts and true Jaccard at or above
    * `threshold`, with the chance that MinHash banding makes them a
    * candidate pair. */
  def bandedPairs(byId: Map[Long, Doc], pairs: Seq[(Long, Long)], threshold: Double,
      numHashes: Int, bands: Int): Seq[((Long, Long), Double)] =
    pairs.flatMap { case (a, b) =>
      val (x, y) = (byId(a), byId(b))
      val j = CorpusGen.jaccard(CorpusGen.shingles(x.text), CorpusGen.shingles(y.text))
      if (x.text != y.text && j >= threshold)
        Some(((a, b), bandingProbability(j, numHashes, bands))) else None
    }

  /** nearDupGroups properties. `groups`: doc_id -> group_id. Planted pairs
    * with true Jaccard at or above `threshold` must land in one group at
    * a rate no lower than the banding probability allows: the expected
    * count less three binomial standard deviations. */
  def groups(docs: Seq[Doc], pairs: Seq[(Long, Long)], groups: Map[Long, Long],
      threshold: Double, numHashes: Int, bands: Int): Seq[String] = {
    val byId = docs.map(d => d.id -> d).toMap
    val out = Seq.newBuilder[String]
    if (groups.keySet != byId.keySet)
      out += s"groups: ${groups.size} docs grouped, corpus has ${byId.size}"
    val members = groups.toSeq.groupBy(_._2).map { case (g, v) => g -> v.map(_._1) }
    val badMin = members.count { case (g, ids) => ids.min != g }
    if (badMin > 0) out += s"groups: $badMin groups whose id is not their minimum doc_id"
    val mixed = members.count { case (_, ids) => ids.flatMap(byId.get).map(_.family).distinct.size > 1 }
    if (mixed > 0) out += s"groups: $mixed groups span two families"
    val split = docs.groupBy(_.text).count { case (_, ds) =>
      ds.map(d => groups.get(d.id)).distinct.size > 1 }
    if (split > 0) out += s"groups: $split byte-identical texts split across groups"
    val scored = bandedPairs(byId, pairs, threshold, numHashes, bands)
    if (scored.nonEmpty) {
      val joined = scored.count { case ((a, b), _) => groups.get(a).isDefined && groups.get(a) == groups.get(b) }
      val least = floor(scored.map(_._2))
      if (joined < least)
        out += f"groups: $joined of ${scored.size} planted pairs joined, below the banding floor $least%.1f"
    }
    out.result()
  }

  /** curationPipeline's per-language (n_docs, total_tokens), derived
    * from a checked grouping: survivors are group representatives with
    * at least five whitespace tokens. */
  def expectedCuration(docs: Seq[Doc], groups: Map[Long, Long]): Seq[(String, Long, Long)] =
    docs.filter(d => groups.get(d.id).contains(d.id))
      .map(d => d.lang -> d.text.split(" +").count(_.nonEmpty).toLong)
      .filter(_._2 >= 5).groupBy(_._1)
      .map { case (l, v) => (l, v.size.toLong, v.map(_._2).sum) }.toSeq.sortBy(_._1)

  /** curationPipeline's per-language (n_docs, total_tokens) without the
    * grouping. Exact copies always collapse and groups never span
    * families, so survivors per language are at least its family count.
    * Each planted chain pair the grouping joins removes a survivor from the
    * language's distinct-text count, and at least the banding floor of
    * those pairs must be joined, which caps the survivors. Every generated
    * doc has the same token count. */
  def curationBounds(docs: Seq[Doc], pairs: Seq[(Long, Long)], threshold: Double,
      numHashes: Int, bands: Int, got: Seq[(String, Long, Long)]): Seq[String] = {
    val byLang = docs.groupBy(_.lang)
    val byId = docs.map(d => d.id -> d).toMap
    val joinedAtLeast = bandedPairs(byId, pairs, threshold, numHashes, bands)
      .groupBy { case ((a, _), _) => byId(a).lang }
      .map { case (l, v) => l -> math.max(0.0, floor(v.map(_._2))) }
    val tokens = docs.head.text.split(" +").count(_.nonEmpty)
    val bad = got.filterNot { case (l, n, t) =>
      byLang.get(l).exists(ds => n >= ds.map(_.family).distinct.size &&
        n <= ds.map(_.text).distinct.size - joinedAtLeast.getOrElse(l, 0.0) &&
        t == n * tokens)
    }
    (if (got.map(_._1).toSet != byLang.keySet) Seq(s"curationPipeline: languages ${got.map(_._1)}") else Nil) ++
      (if (bad.nonEmpty) Seq(s"curationPipeline: rows out of bounds: $bad") else Nil)
  }

  /** textEntropy rows (doc_id, n_chars, n_distinct_chars, entropy_ubits)
    * against the byte histogram of each document. The program truncates
    * each per-byte term to whole micro-bits, hence the tolerance. */
  def entropy(docs: Seq[Doc], rows: Seq[(Long, Long, Long, Long)]): Seq[String] = {
    val byId = docs.map(d => d.id -> d).toMap
    val bad = rows.filter { case (id, n, nd, ub) =>
      byId.get(id).forall { d =>
        val b = d.text.getBytes("UTF-8")
        val hist = b.groupBy(identity).values.map(_.length.toDouble)
        val h = -hist.map(c => c / b.length * math.log(c / b.length) / math.log(2)).sum
        n != b.length || nd != hist.size || math.abs(ub - h * 1e6) > 2 * nd + 10
      }
    }
    (if (rows.size != docs.size) Seq(s"entropy: ${rows.size} rows for ${docs.size} docs") else Nil) ++
      (if (bad.nonEmpty) Seq(s"entropy: ${bad.size} rows off, e.g. ${bad.head}") else Nil)
  }

  /** textLangid (lang, guess, n): per labelled language the counts cover
    * exactly its documents (odd-id es documents are labelled pt). The
    * classifier's window is the language's own sample phrase (about 80 of
    * its 96 characters) and then the document's start, so a working
    * classifier names the label for at least `minShare` of each
    * language's documents. */
  def langid(docs: Seq[Doc], rows: Seq[(String, String, Long)],
      minShare: Double = 0.9): Seq[String] = {
    val want = docs.groupBy(d => if (d.lang == "es" && d.id % 2 == 1) "pt" else d.lang)
      .map { case (l, v) => l -> v.size.toLong }
    val got = rows.groupBy(_._1).map { case (l, v) => l -> v.map(_._3).sum }
    val right = rows.collect { case (l, g, n) if l == g => l -> n }.toMap
    val missed = want.collect { case (l, total) if right.getOrElse(l, 0L) < minShare * total =>
      s"$l: ${right.getOrElse(l, 0L)} of $total" }
    (if (want == got) Nil else Seq(s"langid: per-language totals $got, want $want")) ++
      (if (missed.isEmpty) Nil else Seq(s"langid: label guessed for too few docs: ${missed.mkString(", ")}"))
  }

  /** CorpusIndex.assign rows (doc_id, assigned, matched) for one batch.
    * `known`: every doc the index holds (corpus and earlier appends).
    * Byte copies of a held doc must be `exact` to the smallest id holding
    * that text; other docs must point into their own family, `near` to a
    * held doc with Jaccard >= `threshold`, `novel` to a batch doc whose id
    * is not larger. `nearCopies` (batch doc, held source) are the planted
    * one-step edits of held docs: at least the banding floor of those at
    * or above `threshold` must come out `near`. */
  def assign(known: Map[Long, Doc], batch: Seq[Doc], nearCopies: Seq[(Long, Long)],
      rows: Seq[(Long, Long, String)], threshold: Double,
      numHashes: Int, bands: Int): Seq[String] = {
    val minByText = known.values.groupBy(_.text).map { case (t, ds) => t -> ds.map(_.id).min }
    val batchById = batch.map(d => d.id -> d).toMap
    val byId = rows.groupBy(_._1)
    val bad = batch.flatMap { d =>
      byId.getOrElse(d.id, Nil) match {
        case Seq((_, a, m)) =>
          val ok = minByText.get(d.text) match {
            case Some(min) => m == "exact" && a == min
            case None => m match {
              case "near" => known.get(a).exists(k => k.family == d.family &&
                CorpusGen.jaccard(CorpusGen.shingles(k.text), CorpusGen.shingles(d.text)) >= threshold)
              case "novel" => a <= d.id && batchById.get(a).exists(_.family == d.family)
              case _ => false
            }
          }
          if (ok) None else Some(s"doc ${d.id} -> ($a, $m)")
        case other => Some(s"doc ${d.id} has ${other.size} assignment rows")
      }
    }
    val batchAndKnown = known ++ batch.map(d => d.id -> d)
    val scored = bandedPairs(batchAndKnown, nearCopies.filter(p => !minByText.contains(batchById(p._1).text)),
      threshold, numHashes, bands)
    val near = scored.count { case ((id, _), _) => byId.get(id).exists(_.exists(_._3 == "near")) }
    val least = floor(scored.map(_._2))
    (if (bad.isEmpty) Nil else Seq(s"assign: ${bad.size} bad rows, e.g. ${bad.head}")) ++
      (if (near >= least) Nil
       else Seq(f"assign: $near of ${scored.size} planted near copies matched near, below the banding floor $least%.1f"))
  }
}
