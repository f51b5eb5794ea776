package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.expressions.UnicodeNormalize.{normalize, stripAccents}
import graft.functions.expressions.UnicodeNormalizeImpl
import org.apache.spark.unsafe.types.UTF8String

class UnicodeNormalizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def impl(s: String, form: String, strip: Boolean = false): String =
    UnicodeNormalizeImpl.norm(UTF8String.fromString(s), form, strip).toString

  // escapes, not glyphs: the NFC and NFD variants of 'cafe'+acute are
  // visually identical in source; escapes keep them provably distinct
  private val cafeNfc = "caf\u00e9"
  private val cafeNfd = "cafe\u0301"
  private val fiLig   = "ﬁnal" // 'fi' compatibility ligature + "nal"

  test("all four forms behave per UAX #15 on the planted fixtures") {
    // NFC composes, NFD decomposes
    assert(impl(cafeNfd, "NFC") == cafeNfc)
    assert(impl(cafeNfc, "NFD") == cafeNfd)
    // canonical forms preserve compatibility chars; K-forms expand them
    assert(impl(fiLig, "NFC") == fiLig)
    assert(impl(fiLig, "NFD") == fiLig)
    assert(impl(fiLig, "NFKC") == "final")
    assert(impl(fiLig, "NFKD") == "final")
    // NFKD: ligature expands AND the composed accent decomposes
    assert(impl("ﬁ café", "NFKD") == "fi café")
  }

  test("stripAccents = NFD + Mn-removal; ASCII fast path is identity") {
    assert(impl(cafeNfc, "NFD", strip = true) == "cafe")
    assert(impl(cafeNfd, "NFD", strip = true) == "cafe")
    assert(impl("Ångström", "NFD", strip = true) == "Angstrom")
    // pure ASCII short-circuits (same reference, not just equal)
    val ascii = UTF8String.fromString("plain ascii")
    assert(UnicodeNormalizeImpl.norm(ascii, "NFC", strip = false) eq ascii)
  }

  test("documented divergence: non-Mn folds (stroked letters) NOT folded") {
    // U+00F8 'o with stroke' has no canonical decomposition — utf8proc
    // strip_accents folds it, java.text.Normalizer cannot; pinned here
    // as the known boundary of DuckDB parity
    assert(impl("ø", "NFD", strip = true) == "ø")
  }

  test("codegen path equals the interpreted impl; nulls propagate") {
    val rows = Seq(cafeNfc, cafeNfd, fiLig, "Ångström", "plain", null)
    val want = rows.map(s => if (s == null) List.fill(5)(null) else List(
      impl(s, "NFC"), impl(s, "NFD"), impl(s, "NFKC"), impl(s, "NFKD"),
      impl(s, "NFD", strip = true)))
    EvalModes.inBoth(EvalModes.frame(rows.map(Row(_)),
        StructType(Seq(StructField("s", StringType)))).select(
      normalize(col("s"), "NFC").as("nfc"),
      normalize(col("s"), "NFD").as("nfd"),
      normalize(col("s"), "NFKC").as("nfkc"),
      normalize(col("s"), "NFKD").as("nfkd"),
      stripAccents(col("s")).as("strip")))
      .foreach(got => assert(got.map(r => (0 to 4).map(r.getString).toList) == want))
  }

  test("registered for SQL as unicode_normalize / strip_accents") {
    val r = spark.sql(
      s"SELECT unicode_normalize('$cafeNfd', 'NFC') AS a, " +
      s"strip_accents('$cafeNfd') AS b").collect().head
    assert(r.getString(0) == cafeNfc)
    assert(r.getString(1) == "cafe")
  }

  test("SQL builder: foldable forms accepted, non-constant forms fail analysis") {
    // foldable non-literal (concat of constants) resolves
    val ok = spark.sql("SELECT unicode_normalize('x', 'NF' || 'C') AS n")
      .collect().head.getString(0)
    assert(ok == "x")
    // a column reference is not foldable: positioned AnalysisException
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        "SELECT unicode_normalize('x', s) FROM (SELECT 'NFC' AS s)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("form"), e.getMessage)
  }

  test("invalid form fails analysis, not execution") {
    val e = intercept[Exception] {
      Seq("x").toDF("s").select(normalize(col("s"), "NFX")).collect()
    }
    assert(e.getMessage.contains("NFC/NFD/NFKC/NFKD")
      || e.getMessage.toLowerCase.contains("form"))
  }
}
