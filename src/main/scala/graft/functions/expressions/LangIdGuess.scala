package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native per-document Cavnar–Trenkle language guess for
  * [[graft.ops.TextOps.textLangid]]: the document window's trigram
  * histogram, its (count desc, trigram asc) ranking, the out-of-place
  * distance against each of the six literal rank-ordered profiles
  * ([[graft.functions.Text.langProfilesRanked]]) and the min-distance
  * argmin — one fused pass per row, replacing the doc_id ranking
  * exchange (explode + histogram aggregate + two window functions), the
  * broadcast profile join and two more keyed aggregations (the
  * [[ByteEntropy]] / [[PqEncode]] escalation precedent; guide §2.1 a
  * removable shuffle, §4 hot-path expression forests).
  *
  * Bit-identity with the expression form it replaced (kept in test
  * scope as TextLangIdSpec's oracle, which pins row equality on real
  * corpora and planted edge docs):
  *   - trigram extraction replays `substr(i, 3)` over CODE POINTS
  *     (UTF-8 lead-byte offsets — `UTF8String.substringSQL`'s unit), so
  *     multi-byte windows slice identically;
  *   - trigram grouping and the `t asc` rank tie-break use
  *     [[UTF8String]] equality/compareTo — exactly Spark's binary
  *     string semantics in the groupBy and the row_number window;
  *   - distances are exact integer arithmetic: Σ|rd − rp| over matched
  *     trigrams + (ntg − matched)·plen, per language;
  *   - the argmin iterates languages in ascending name order with a
  *     strict `<`, reproducing `array_min` over `struct(dist, plang)`
  *     lexicographic ordering (ties to the smallest language name).
  *
  * Null contract: null window yields NULL (unreachable — the caller's
  * CASE routes null/short windows to 'und' before this runs); a window
  * under 3 code points yields NULL deterministically for the same
  * reason.
  */
case class LangIdGuess(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "langid_guess"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.sql}")

  override protected def nullSafeEval(v: Any): Any =
    LangIdGuessImpl.guess(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val code = nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.expressions.LangIdGuessImpl.guess($c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
    code
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object LangIdGuess {
  def langIdGuess(s: Column): Column =
    Shims.column(LangIdGuess(Shims.expression(s)))
}

object LangIdGuessImpl {
  import graft.functions.Text

  /** Languages in ascending name order (the argmin tie order) with
    * their trigram→rank maps and profile lengths, built once from the
    * same literal profiles the expression form inlined. */
  private val langsSorted: Array[(String, Int)] =
    Text.langProfilesRanked.map { case (l, ts) => (l, ts.size) }
      .sortBy(_._1).toArray
  private val guessStrings: Array[UTF8String] =
    langsSorted.map { case (l, _) => UTF8String.fromString(l) }
  private val profMaps: Array[java.util.HashMap[UTF8String, Integer]] = {
    val byName = Text.langProfilesRanked.toMap
    langsSorted.map { case (l, _) =>
      val m = new java.util.HashMap[UTF8String, Integer]()
      byName(l).zipWithIndex.foreach { case (t, i) =>
        m.put(UTF8String.fromString(t), Integer.valueOf(i + 1))
      }
      m
    }
  }

  def guess(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val n = bytes.length
    // code-point start offsets (UTF-8 lead bytes); starts(m) = n sentinel
    val starts = new Array[Int](n + 1)
    var m = 0
    var i = 0
    while (i < n) {
      if ((bytes(i) & 0xc0) != 0x80) { starts(m) = i; m += 1 }
      i += 1
    }
    starts(m) = n
    if (m < 3) return null
    // exact trigram histogram over the m-2 code-point windows
    val counts = new java.util.HashMap[UTF8String, Array[Int]](64)
    var t = 0
    while (t < m - 2) {
      val tg = UTF8String.fromBytes(bytes, starts(t), starts(t + 3) - starts(t))
      val c = counts.get(tg)
      if (c == null) counts.put(tg, Array(1)) else c(0) += 1
      t += 1
    }
    // rank: count desc, trigram asc (UTF8String.compareTo = Spark's
    // binary string order — the row_number window's total order)
    val entries = new java.util.ArrayList[java.util.Map.Entry[UTF8String, Array[Int]]](
      counts.entrySet())
    entries.sort(new java.util.Comparator[java.util.Map.Entry[UTF8String, Array[Int]]] {
      override def compare(a: java.util.Map.Entry[UTF8String, Array[Int]],
          b: java.util.Map.Entry[UTF8String, Array[Int]]): Int = {
        val dc = Integer.compare(b.getValue()(0), a.getValue()(0))
        if (dc != 0) dc else a.getKey.compareTo(b.getKey)
      }
    })
    val ntg = entries.size().toLong
    // out-of-place distance per language; argmin with strict < over
    // ascending language names = array_min(struct(dist, plang))
    var bestDist = Long.MaxValue
    var bestLang = 0
    var l = 0
    while (l < langsSorted.length) {
      val prof = profMaps(l)
      var md = 0L
      var nm = 0L
      var r = 0
      val sz = entries.size()
      while (r < sz) {
        val rp = prof.get(entries.get(r).getKey)
        if (rp != null) {
          md += Math.abs((r + 1).toLong - rp.longValue())
          nm += 1L
        }
        r += 1
      }
      val dist = md + (ntg - nm) * langsSorted(l)._2
      if (dist < bestDist) { bestDist = dist; bestLang = l }
      l += 1
    }
    guessStrings(bestLang)
  }
}
