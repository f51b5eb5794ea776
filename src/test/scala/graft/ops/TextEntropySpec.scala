package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.Tables.load

/** The native fused byte-entropy kernel
  * ([[graft.functions.expressions.ByteEntropy]]) must be row-identical
  * to the composed-built-ins form it replaced (`textEntropyHof` below
  * — per-byte explode, histogram aggregate, DISTINCT-pair portable-log
  * broadcast join, per-doc fold). */
class TextEntropySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The oracle: the composed-built-ins entropy (per-byte explode +
    * histogram aggregate + DISTINCT-pair broadcast log join + per-doc
    * fold) that [[TextOps.textEntropy]]'s native kernel replaced. */
  private def textEntropyHof(dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        octet_length(col("text")).as("n"),
        col("text").cast("binary").as("b"))
      .select(col("doc_id"), col("lang"), col("n"),
        // empty docs: sequence(1, 0) would count DOWN (the Text.scala:26
        // guard) — emit no byte rows, matching the oracle's empty unnest
        explode(when(col("n") >= 1,
          transform(sequence(lit(1), col("n")),
            i => conv(hex(col("b").substr(i, lit(1))), 16, 10).cast("int")))
          .otherwise(array().cast("array<int>"))).as("ch"))
      .groupBy("doc_id", "lang", "n", "ch")
      .agg(count(lit(1)).as("nc"))
      // portable log2(n/nc) in 2^-20 units (graft.functions.PortableMath
      // — exponent from the quotient's bit length, 20 fraction digits by
      // exact-IEEE squaring), evaluated once per DISTINCT (n, nc) pair
      // and broadcast back (the 20-step extraction is an interpreted
      // HOF; (n, nc) pairs repeat heavily across documents — measured
      // 2.4x on the gate when inlined per histogram row), then pure
      // integer term arithmetic
      .transform { hist =>
        val pairs = hist.select("n", "nc").distinct()
          .withColumn("lmicro",
            graft.functions.PortableMath.log2Micro(col("n"), col("nc")))
        hist.join(broadcast(pairs), Seq("n", "nc"))
      }
      .select(col("doc_id"), col("lang"), col("n"),
        graft.functions.PortableMath.longDiv(
          col("nc").cast("long") * col("lmicro") * lit(1000000L),
          col("n").cast("long") * lit(1048576L)).as("tm"))
      .groupBy("doc_id", "lang")
      .agg(max(col("n")).cast("long").as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        // exact integer micro-bits, never a rounded double: with both
        // engines' term sums identical, round(sum/1e6, 4) was STILL the
        // last divergence — sums ending in ...50 are exact decimal ties
        // at the 4th decimal, and Spark (BigDecimal HALF_UP on the
        // double's exact binary value) and DuckDB (scaled multiply)
        // resolve them differently. The caller divides by 1e6.
        sum(col("tm")).as("entropy_ubits"))
      .orderBy("doc_id")

  private def rows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq

  test("native kernel is row-identical to the HOF form on real sf0.001 " +
      "documents") {
    val nat = rows(TextOps.textEntropy(spark, "/root/testdata/sf0.001"))
    val hof = rows(textEntropyHof("/root/testdata/sf0.001"))
    assert(nat.nonEmpty)
    assert(nat == hof)
  }

  test("native kernel matches the HOF form on planted edge documents " +
      "(empty, single byte, uniform, all-256, high bytes, power-of-two " +
      "histogram counts)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "xx", ""),                                  // empty: absent
      (2L, "xx", "a"),                                 // 1 byte, H = 0
      (3L, "xx", "aaaaaaaa"),                          // uniform, H = 0
      (4L, "xx", (0 until 256).map(_.toChar).mkString), // every byte once
      (5L, "xx", "éü世界 café"), // multi-byte UTF-8
      (6L, "xx", "ab" * 512 + "c" * 1024),             // power-of-two ties
      (7L, "xx", "abcdabcdaabb"))
      .toDF("doc_id", "lang", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("te_edge").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val nat = rows(TextOps.textEntropy(spark, dir))
    val hof = rows(textEntropyHof(dir))
    assert(nat == hof)
    // the empty document is absent from both (old explode emitted no
    // byte rows; new form filters octet_length >= 1)
    assert(!nat.exists(_._1 == 1L))
    assert(nat.exists(_._1 == 2L))
  }
}
