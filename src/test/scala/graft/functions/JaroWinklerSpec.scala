package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.expressions.JaroWinkler.jaroWinklerNative
import graft.functions.expressions.JaroWinklerImpl

class JaroWinklerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def s(x: String) = x.getBytes("UTF-8")

  test("classic textbook values (match DuckDB's implementation)") {
    assert(math.abs(JaroWinklerImpl.score(s("MARTHA"), s("MARHTA"))
      - 0.9611111111111111) < 1e-12)
    assert(math.abs(JaroWinklerImpl.score(s("DWAYNE"), s("DUANE"))
      - 0.8400000000000001) < 1e-12)
    assert(math.abs(JaroWinklerImpl.score(s("DIXON"), s("DICKSONX"))
      - 0.8133333333333332) < 1e-12)
    // below the 0.7 boost threshold the shared 4-char prefix must NOT boost
    assert(math.abs(JaroWinklerImpl.score(s("abcdefgh"), s("abcdzzzzzzzz"))
      - 0.611111111111111) < 1e-12)
    // ODD raw mismatch count: transpositions floor-halve (t = 5, not
    // 5.5) — the q_join_jw differential caught a fractional-half
    // divergence on exactly this pair (DuckDB value pinned)
    assert(math.abs(JaroWinklerImpl.score(
      s("column line sort key window"), s("column key sort window stream"))
      - 0.9016283524904214) < 1e-12)
  }

  test("edges: empties score 0 (DuckDB contract), identity scores 1") {
    assert(JaroWinklerImpl.score(s(""), s("")) == 0.0)
    assert(JaroWinklerImpl.score(s("a"), s("")) == 0.0)
    assert(JaroWinklerImpl.score(s("ab"), s("ba")) == 0.0) // window 0
    assert(JaroWinklerImpl.score(s("same"), s("same")) == 1.0)
  }

  test("codegen path equals the interpreted impl; nulls propagate") {
    val pairs = Seq(("MARTHA", "MARHTA"), ("DWAYNE", "DUANE"),
      ("CRATE", "TRACE"), ("", ""), ("x", null))
    val schema = StructType(Seq(StructField("a", StringType),
      StructField("b", StringType)))
    val want = pairs.map {
      case (_, null) => null
      case (a, b) => JaroWinklerImpl.score(s(a), s(b))
    }
    EvalModes.inBoth(EvalModes.frame(pairs.map { case (a, b) => Row(a, b) },
        schema).select(jaroWinklerNative(col("a"), col("b"))))
      .foreach(got => assert(got.map(_.get(0)) == want))
  }

  test("registered for SQL as jaro_winkler") {
    val r = spark.sql("SELECT jaro_winkler('MARTHA', 'MARHTA') AS jw")
      .as[Double].collect().head
    assert(math.abs(r - 0.9611111111111111) < 1e-12)
  }
}
