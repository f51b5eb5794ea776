package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, ShiftLeft}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims

/** Engine-portable fixed-point math — the machinery that removes libm
  * from every differential (introduced for q_text_entropy after the
  * round-13 sf0.1 sweep; see the README correctness conventions).
  *
  * The contract: IEEE +, −, ×, ÷, comparisons and integer arithmetic are
  * bit-deterministic across engines; transcendental LIBRARY calls
  * (ln/log2/exp/pow) are not — Java and C libm differ by ulps, and any
  * quantization of their output has .5 boundaries that repeated argument
  * pairs amplify across millions of rows. So logarithms here are
  * computed by BINARY DIGIT EXTRACTION: the integer exponent from the
  * bit length of an integer quotient, then k mantissa digits by repeated
  * squaring of the normalized ratio — every step an exact-IEEE multiply,
  * divide or compare, identical in Spark and DuckDB (and any IEEE-754
  * engine). Downstream arithmetic stays in scaled integers via DIV.
  */
object PortableMath {

  /** SQL `DIV` (integral division) as a Column — `floor(a / b)` on
    * doubles silently flips at representation boundaries once products
    * exceed 2^53, so scaled-integer pipelines must use the true
    * integral divide. */
  def longDiv(num: Column, den: Column): Column =
    Shims.column(IntegralDivide(
      Shims.expression(num.cast("long")), Shims.expression(den.cast("long"))))

  private def shiftLeft(v: Column, bits: Column): Column =
    Shims.column(ShiftLeft(
      Shims.expression(v.cast("long")), Shims.expression(bits.cast("int"))))

  /** floor(log2(num / den) · 2^20) as BIGINT, for integer columns with
    * num >= den >= 1. Exponent: e = bitlength(num DIV den) − 1 is exact
    * (no power of two lies strictly between an integer m and m + 1);
    * mantissa: r = num / (den << e) ∈ [1, 2) via ONE IEEE division, then
    * 20 binary digits by exact squaring. */
  def log2Micro(numIn: Column, denIn: Column): Column = {
    val num = numIn.cast("long")
    val den = denIn.cast("long")
    val e = (length(bin(longDiv(num, den))) - 1).cast("int")
    val r0 = num.cast("double") / shiftLeft(den, e).cast("double")
    val frac = aggregate(
      sequence(lit(1), lit(20)),
      struct(r0.as("r"), lit(0L).as("acc")),
      (s, _) => {
        val r2 = s.getField("r") * s.getField("r")
        val ge = r2 >= lit(2.0)
        struct(
          when(ge, r2 / lit(2.0)).otherwise(r2).as("r"),
          (s.getField("acc") * 2 +
            when(ge, lit(1L)).otherwise(lit(0L))).as("acc"))
      },
      s => s.getField("acc"))
    e.cast("long") * lit(1048576L) + frac
  }

  /** ln(num/den) in nano-nats (BIGINT): [[log2Micro]] scaled by a fixed
    * integer ln 2 — `lmicro · 693147181 DIV 2^20` ≈ log2 · ln2 · 1e9.
    * The constant is shared verbatim with the SQL twin, so the value is
    * identical on both engines by construction; its 1e-9 relative
    * truncation of ln 2 is a deterministic definition, not noise. */
  def lnNano(num: Column, den: Column): Column =
    longDiv(log2Micro(num, den) * lit(693147181L), lit(1048576L))

  /** The DuckDB twin of [[log2Micro]]: CTE text computing `lmicro` for
    * every row of `pairs` (a relation with integer columns `numCol`,
    * `denCol`). Embed inside a `WITH RECURSIVE` list; join the `out`
    * CTE back on (pm_num, pm_den). Feed it DISTINCT pairs — the digit
    * extraction is 20 recursive steps per row. */
  def sqlLog2MicroCtes(pairs: String, numCol: String, denCol: String,
      out: String): String =
    s"""${out}_norm AS (SELECT $numCol AS pm_num, $denCol AS pm_den,
       |    length(bin(CAST($numCol AS BIGINT) // CAST($denCol AS BIGINT))) - 1 AS e
       |  FROM $pairs),
       |${out}_steps AS (
       |  SELECT pm_num, pm_den, e, 0 AS i,
       |    CAST(pm_num AS DOUBLE)
       |      / CAST(CAST(pm_den AS BIGINT) << e AS DOUBLE) AS r,
       |    CAST(0 AS BIGINT) AS acc FROM ${out}_norm
       |  UNION ALL
       |  SELECT pm_num, pm_den, e, i + 1,
       |    CASE WHEN r * r >= 2 THEN r * r / 2 ELSE r * r END,
       |    acc * 2 + CASE WHEN r * r >= 2 THEN 1 ELSE 0 END
       |  FROM ${out}_steps WHERE i < 20),
       |$out AS (SELECT pm_num, pm_den,
       |    CAST(e AS BIGINT) * 1048576 + acc AS lmicro
       |  FROM ${out}_steps WHERE i = 20)""".stripMargin

  /** 2^Ai as BIGINT for an integer-column exponent (0 <= Ai <= 62). */
  def pow2(e: Column): Column = shiftLeft(lit(1L), e)

  /** The iterated-sqrt-of-2 chain: c(j) = 2^(2^-j), j = 1..20. Math.sqrt
    * is IEEE correctly-rounded, so these CONSTANTS are exact doubles any
    * engine reproduces; they are burned into both sides as literals
    * (shortest round-trip decimal repr — unambiguous to reparse). */
  private[functions] val sqrt2Chain: Seq[Double] =
    Iterator.iterate(math.sqrt(2.0))(math.sqrt).take(20).toSeq

  /** 2^(frac / 2^20) ∈ [1, 2) for an integer column frac ∈ [0, 2^20):
    * the FIXED 20-factor product over the sqrt-of-2 chain, selected by
    * frac's bits and multiplied in ascending-j order — each factor is a
    * literal double, each multiply exact-IEEE, so the product is
    * bit-identical across engines (the exp twin of [[log2Micro]]). */
  def exp2MicroFrac(frac: Column): Column =
    (1 to 20).foldLeft(lit(1.0)) { (p, j) =>
      p * when(Shims.column(org.apache.spark.sql.catalyst.expressions
            .ShiftRight(Shims.expression(frac.cast("long")),
              Shims.expression(lit(20 - j))))
          .bitwiseAND(lit(1L)) === 1L,
        lit(sqrt2Chain(j - 1))).otherwise(lit(1.0))
    }

  /** DuckDB twin of [[exp2MicroFrac]] over a SQL expression `frac`.
    * Constants go through CAST('…' AS DOUBLE) STRING literals: DuckDB
    * parses a bare 17-digit numeric literal as DECIMAL first, and its
    * DECIMAL→DOUBLE conversion is 1-ulp off the correctly-rounded
    * value (measured on the j=17 chain constant) — the string→double
    * path is fast_float, correctly rounded, and bit-identical to the
    * JVM's parse of the same shortest-round-trip repr. */
  def sqlExp2MicroFrac(frac: String): String =
    (1 to 20).map { j =>
      s"(CASE WHEN ((($frac) >> ${20 - j}) & 1) = 1" +
        s" THEN CAST('${sqrt2Chain(j - 1)}' AS DOUBLE)" +
        " ELSE CAST('1.0' AS DOUBLE) END)"
    }.mkString("(", " * ", ")")

  /** Driver-side (plain Scala) twin of [[log2Micro]] — bit-identical by
    * construction, because the digit extraction uses only IEEE doubles
    * and the JVM, Spark codegen and DuckDB all implement IEEE-754
    * multiply/divide/compare identically (PortableMathSpec pins the
    * equality). Use it to burn small log tables into literal columns /
    * VALUES lists instead of running the 20-step extraction per row. */
  def log2MicroConst(num: Long, den: Long): Long = {
    require(num >= den && den >= 1, s"log2MicroConst($num, $den)")
    val m = num / den
    val e = 63 - java.lang.Long.numberOfLeadingZeros(m)
    var r = num.toDouble / (den << e).toDouble
    var acc = 0L
    for (_ <- 1 to 20) {
      val r2 = r * r
      if (r2 >= 2.0) { acc = acc * 2 + 1; r = r2 / 2.0 }
      else { acc = acc * 2; r = r2 }
    }
    e.toLong * 1048576L + acc
  }
}
