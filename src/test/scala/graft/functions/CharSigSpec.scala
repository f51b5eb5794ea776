package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.expressions.{CharSig, CharSigImpl}

class CharSigSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def trueIntersection(a: String, b: String): Int = {
    val ca = a.getBytes("UTF-8").groupBy(identity).view.mapValues(_.length)
    val cb = b.getBytes("UTF-8").groupBy(identity).view.mapValues(_.length)
    ca.keys.toSet.intersect(cb.keys.toSet)
      .toSeq.map(k => math.min(ca(k), cb(k))).sum
  }

  private def bound(a: String, b: String): Int =
    CharSigImpl.bound(
      CharSigImpl.sig(UTF8String.fromString(a)),
      CharSigImpl.sig(UTF8String.fromString(b)),
      a.getBytes("UTF-8").length, b.getBytes("UTF-8").length)

  test("bound is a sound UPPER bound on byte-multiset intersection") {
    val rnd = new scala.util.Random(7)
    val alphabets = Seq("ab", "abcdefgh", "abcdefghijklmnopqrstuvwxyz ",
      "aA!~é漢") // incl. bucket-colliding and multi-byte chars
    for (_ <- 1 to 500) {
      val al = alphabets(rnd.nextInt(alphabets.size))
      def mk() = Seq.fill(rnd.nextInt(60))(al(rnd.nextInt(al.length))).mkString
      val (x, y) = (mk(), mk())
      assert(bound(x, y) >= trueIntersection(x, y),
        s"unsound for '$x' vs '$y'")
    }
  }

  test("bound is exact when counts stay under the cap and buckets are distinct") {
    // distinct low-bucket chars, counts <= 15: no saturation, no merging
    assert(bound("abc", "bcd") == 2)
    assert(bound("aabbb", "abbbb") == 4) // min(2,1) + min(3,4)
    assert(bound("", "anything") == 0)
  }

  test("saturation repaid by overflow: 20 a's vs 20 a's bounds >= 20") {
    val s = "a" * 20
    assert(bound(s, s) >= 20) // true intersection IS 20; cap 15 + 5 + 5
  }

  test("codegen path equals the impl") {
    val rows = Seq(("katrina", "katrinna"), ("aaaa", "aaab"), ("", "x"))
    val schema = StructType(Seq(StructField("a", StringType),
      StructField("b", StringType)))
    EvalModes.inBoth(EvalModes.frame(rows.map { case (a, b) => Row(a, b) },
        schema).select(
      CharSig.overlapBound(
        CharSig.charSig(col("a")), CharSig.charSig(col("b")),
        octet_length(col("a")).cast("int"),
        octet_length(col("b")).cast("int")).as("bd")))
      .foreach(got =>
        assert(got.map(_.getInt(0)) == rows.map { case (a, b) => bound(a, b) }))
  }
}
