package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.Tables.load
import graft.functions.Text

/** The native fused Cavnar–Trenkle kernel
  * ([[graft.functions.expressions.LangIdGuess]]) must be row-identical
  * to the composed-built-ins form it replaced (`textLangidHof` below
  * — explode, doc_id ranking windows, broadcast profile join,
  * per-language fold, und-branch union). */
class TextLangIdSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Out-of-place penalty for a document trigram absent from a language
    * profile — Cavnar & Trenkle use EACH language's own profile length
    * (a global max would bias distances toward shorter-profiled
    * languages if profile depths ever diverge). */
  private val langProfileLengths: Seq[(String, Int)] =
    Text.langProfilesRanked.map { case (l, ts) => (l, ts.size) }

  /** The oracle: the composed-built-ins classifier (explode + doc_id
    * ranking windows + broadcast profile join + per-language fold +
    * und-branch union) that [[TextOps.textLangid]]'s native kernel
    * replaced. */
  private def textLangidHof(dir: String): DataFrame = {
    import spark.implicits._
    import TextOps.langPhrases
    val elang = when(col("lang") === "es" && col("doc_id") % 2 === 1,
      lit("pt")).otherwise(col("lang"))
    val phrase = langPhrases.tail.foldLeft(
      when(col("elang") === langPhrases.head._1, lit(langPhrases.head._2))) {
      case (acc, (l, p)) => acc.when(col("elang") === l, lit(p))
    }.otherwise(lit(""))
    val scored = load(spark, dir, "documents")
      .withColumn("elang", elang)
      .withColumn("s",
        lower(substring(concat(phrase, lit(" "), col("text")), 1, 96)))
    // ONE doc_id exchange carries the whole classification: the ranking
    // window establishes hash(doc_id) partitioning, ntg rides the same
    // window (no separate groupBy + re-join), the profile joins
    // broadcast, and every later aggregate clusters on doc_id-prefixed
    // keys, which the existing partitioning already satisfies. The
    // per-language distances then fold over the LITERAL language list
    // (map lookup per language), so the former corpus×langs cross join,
    // its corpus-sized sort-merge join against the matches, the second
    // argmin window, and the final corpus self-join are all gone —
    // trigram-less docs come from a map-side re-scan filter, not a join.
    val ranked = scored
      .select(col("doc_id"), col("elang"),
        explode(Text.charTrigrams(col("s"))).as("t"))
      .groupBy("doc_id", "elang", "t").agg(count(lit(1)).as("c"))
      .withColumn("rd", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("c").desc, col("t").asc)))
      .withColumn("ntg", count(lit(1)).over(Window.partitionBy("doc_id")))
    val prof = Text.langProfilesRanked.flatMap { case (l, ts) =>
      ts.zipWithIndex.map { case (t, i) => (l, t, i + 1) }
    }.toDF("plang", "t", "rp")
    val perLang = ranked.join(broadcast(prof), Seq("t"), "left_outer")
      .groupBy("doc_id", "elang", "plang")
      .agg(sum(abs(col("rd") - col("rp"))).as("md"),
        count(col("rp")).as("nm"), min("ntg").as("ntg"))
    val perDoc = perLang.groupBy("doc_id", "elang")
      .agg(min("ntg").as("ntg"),
        map_from_entries(collect_list(when(col("plang").isNotNull,
          struct(col("plang"), struct(col("md"), col("nm"))))))
          .as("m"))
    val distStructs = langProfileLengths.map { case (l, plen) =>
      val e = element_at(col("m"), l)
      struct(
        (coalesce(e.getField("md"), lit(0L))
          + (col("ntg") - coalesce(e.getField("nm"), lit(0L))) * plen)
          .as("dist"),
        lit(l).as("plang"))
    }
    val guessed = perDoc.select(col("doc_id"), col("elang"),
      array_min(array(distStructs: _*)).getField("plang").as("guess"))
    // documents that produced NO trigram (window shorter than 3 chars,
    // or a NULL text making the whole window null) get a deterministic
    // 'und' — by the same predicate charTrigrams empties on, no join
    val und = scored.filter(coalesce(length(col("s")), lit(0)) < 3)
      .select(col("doc_id"), col("elang"), lit("und").as("guess"))
    guessed.unionByName(und)
      .groupBy(col("elang").as("lang"), col("guess"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "guess")
  }

  private def rows(df: DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq

  test("native kernel is row-identical to the HOF form on real sf0.001 " +
      "documents") {
    val nat = rows(TextOps.textLangid(spark, "/root/testdata/sf0.001"))
    val hof = rows(textLangidHof("/root/testdata/sf0.001"))
    assert(nat.nonEmpty)
    assert(nat == hof)
  }

  test("native kernel matches the HOF form on planted edge documents " +
      "(empty, short, multi-byte, rank-tie and distance-tie shapes)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", ""),                       // und: empty window -> ' ' only
      (2L, "en", "ab"),                     // und after the ' ' prefix? (3 chars)
      (3L, "de", "x"),                      // short
      (4L, "es", "la cantidad del valor"),  // planted es, even id
      (5L, "es", "la cantidad del valor"),  // odd id -> planted pt phrase
      (6L, "fr", "éü世界 café répétition"), // multi-byte code points
      (7L, "zh", "aaa bbb aaa ccc aaa"),    // repeated-count rank ties
      (8L, "en", "zzz yyy xxx www vvv"))    // no profile hit anywhere
      .toDF("doc_id", "lang", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("li_edge").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val nat = rows(TextOps.textLangid(spark, dir))
    val hof = rows(textLangidHof(dir))
    assert(nat == hof)
    assert(nat.map(_._3).sum == 8L)  // every document is counted
  }
}
