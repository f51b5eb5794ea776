package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native codegen'd PQ nearest-codeword encode: for each of `m`
  * subspaces of a micro-unit vector `mv ARRAY<BIGINT>`, the index of the
  * codeword minimizing exact squared-L2 distance (ties to the smallest
  * code) — one fused Java loop per row, replacing the per-row expression
  * forest of m×k aggregate-over-zip_with sub-distances plus a k-struct
  * sort_array per subspace (the hot per-task work of the PQ encode pass;
  * SURVEY.md §2.9 escalation rule: compose built-ins, then a custom
  * Expression — the [[AdcDistance]] precedent applied to the encode
  * side).
  *
  * Integer arithmetic throughout and strict `<` keeps the first (=
  * smallest) code on distance ties, so the result is element-identical
  * to the HOF form `sort_array(array(struct(d, c)...))[0].c` (ascending
  * struct order = (d, c) lexicographic; kept in test scope as PqSpec's
  * oracle, which pins the equality). The codebooks ride the
  * expression as a flat literal (`flatBooks(s*k*subDim + c*subDim + j)`),
  * exactly like the HOF form inlined them as typedlit codewords — no
  * join, no broadcast.
  *
  * Null contract: a null vector, a null element, or a width mismatch
  * (|mv| ≠ m·subDim) yields NULL. The HOF form's behavior on such rows
  * differs in detail (nulls percolate through sort_array ordering), but
  * [[graft.similarity.Pq.microNormalized]] guarantees non-null
  * fixed-width vectors, so these states mark corrupted inputs, not a
  * reachable path — pinned equivalent on real data in PqSpec.
  */
case class PqEncode(child: Expression, m: Int, k: Int, subDim: Int,
    flatBooks: Seq[Long]) extends UnaryExpression {

  require(m > 0 && k > 0 && subDim > 0 && flatBooks.length == m * k * subDim,
    s"flatBooks length ${flatBooks.length} != m*k*subDim = ${m * k * subDim}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<bigint>, got ${other.sql}")
    }

  @transient private lazy val flat: Array[Long] = flatBooks.toArray

  override protected def nullSafeEval(input: Any): Any = {
    val mv = input.asInstanceOf[ArrayData]
    val dim = m * subDim
    if (mv.numElements() != dim) return null
    val v = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      if (mv.isNullAt(i)) return null
      v(i) = mv.getLong(i)
      i += 1
    }
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val base = s * subDim
      var best = Long.MaxValue
      var bc = 0
      var c = 0
      while (c < k) {
        val boff = (s * k + c) * subDim
        var d = 0L
        var j = 0
        while (j < subDim) {
          val diff = v(base + j) - flat(boff + j)
          d += diff * diff
          j += 1
        }
        if (d < best) { best = d; bc = c }
        c += 1
      }
      out(s) = bc
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqFlatBooks", flat, "long[]")
    nullSafeCodeGen(ctx, ev, mv => {
      val dim = m * subDim
      val v = ctx.freshName("v"); val i = ctx.freshName("i")
      val out = ctx.freshName("out"); val s = ctx.freshName("s")
      val c = ctx.freshName("c"); val j = ctx.freshName("j")
      val d = ctx.freshName("d"); val best = ctx.freshName("best")
      val bc = ctx.freshName("bc"); val diff = ctx.freshName("diff")
      val boff = ctx.freshName("boff")
      s"""
         |if ($mv.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $v = new long[$dim];
         |  for (int $i = 0; $i < $dim; $i++) {
         |    if ($mv.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $v[$i] = $mv.getLong($i);
         |  }
         |  if (!${ev.isNull}) {
         |    int[] $out = new int[$m];
         |    for (int $s = 0; $s < $m; $s++) {
         |      long $best = Long.MAX_VALUE;
         |      int $bc = 0;
         |      for (int $c = 0; $c < $k; $c++) {
         |        int $boff = ($s * $k + $c) * $subDim;
         |        long $d = 0L;
         |        for (int $j = 0; $j < $subDim; $j++) {
         |          long $diff = $v[$s * $subDim + $j] - $booksRef[$boff + $j];
         |          $d += $diff * $diff;
         |        }
         |        if ($d < $best) { $best = $d; $bc = $c; }
         |      }
         |      $out[$s] = $bc;
         |    }
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncode {
  /** `mv` encoded against `books(s)(c)(j)` — see [[PqEncode]]. */
  def encodeNative(mv: Column, books: Array[Array[Array[Long]]]): Column = {
    val m = books.length
    val k = books.head.length
    val subDim = books.head.head.length
    Shims.column(PqEncode(Shims.expression(mv), m, k, subDim,
      books.flatten.flatten.toSeq))
  }
}
