package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.Store

/** The persisted-index lifecycle: build → assign → append → assign.
  * The q_dedup_incremental_indexed gate diffs build+assign against the
  * from-scratch DuckDB oracle; this spec covers what the gate can't —
  * that APPENDING accepted novel docs makes the next batch resolve
  * against them, and that appends never touch existing index rows. */
class CorpusIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def store() = new Store(spark,
    s"/tmp/graft_ss/p${ProcessHandle.current().pid}/cidx_spec_${System.nanoTime()}")

  private val corpus = Seq(
    (10L, "alpha beta gamma delta epsilon zeta eta theta"),
    (11L, "one two three four five six seven eight nine ten"),
    (12L, "spark catalyst tungsten codegen adaptive execution engine"))
    .toDF("doc_id", "text")

  test("assign after append resolves the second batch against the first") {
    val st = store()
    CorpusIndex.build(st, "c", corpus, "text", "doc_id")

    // batch 1: one exact corpus dup, one novel doc
    val b1 = Seq(
      (20L, "one two three four five six seven eight nine ten"),
      (21L, "totally novel content about persisted banded indexes here"))
      .toDF("doc_id", "text")
    val r1 = CorpusIndex.assign(st, "c", b1, "text", "doc_id",
        threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(r1(20L) == ((11L, "exact")))
    assert(r1(21L) == ((21L, "novel")))

    // append the accepted novel representative (its own group rep)
    CorpusIndex.append(st, "c",
      b1.filter(col("doc_id") === 21L), "text", "doc_id", batchTag = "b1")

    // batch 2: an exact copy and a near-dup of the appended doc
    val b2 = Seq(
      (30L, "totally novel content about persisted banded indexes here"),
      (31L, "totally novel content about persisted banded indexes there"))
      .toDF("doc_id", "text")
    val r2 = CorpusIndex.assign(st, "c", b2, "text", "doc_id",
        threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(r2(30L) == ((21L, "exact")), r2)
    assert(r2(31L) == ((21L, "near")), r2)
  }

  test("append only adds rows; prior index data is untouched") {
    val st = store()
    CorpusIndex.build(st, "c", corpus, "text", "doc_id")
    val before = spark.read.parquet(st.path("c_shingles")).count()
    CorpusIndex.append(st, "c",
      Seq((40L, "fresh appended payload with brand new shingles"))
        .toDF("doc_id", "text"), "text", "doc_id", batchTag = "b1")
    val after = spark.read.parquet(st.path("c_shingles"))
    assert(after.count() > before)
    assert(after.filter(col("id") < 40L).count() == before)
    // replaying the SAME batch tag republishes instead of duplicating
    val n1 = after.count()
    CorpusIndex.append(st, "c",
      Seq((40L, "fresh appended payload with brand new shingles"))
        .toDF("doc_id", "text"), "text", "doc_id", batchTag = "b1")
    assert(spark.read.parquet(st.path("c_shingles")).count() == n1)
  }

  test("compact folds batch appends; assigns are unchanged; files bounded") {
    val st = store()
    CorpusIndex.build(st, "c", corpus, "text", "doc_id")
    CorpusIndex.append(st, "c",
      Seq((60L, "first appended corpus member with its own shingles"))
        .toDF("doc_id", "text"), "text", "doc_id", batchTag = "b1")
    CorpusIndex.append(st, "c",
      Seq((61L, "second appended corpus member carrying more content"))
        .toDF("doc_id", "text"), "text", "doc_id", batchTag = "b2")
    val probe = Seq(
      (70L, "first appended corpus member with its own shingles"),
      (71L, "second appended corpus member carrying more contents"))
      .toDF("doc_id", "text")
    def decisions() = CorpusIndex.assign(st, "c", probe, "text", "doc_id",
        threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    val before = decisions()
    assert(before(70L) == ((60L, "exact")))
    assert(before(71L) == ((61L, "near")))

    CorpusIndex.compact(st, "c")
    Seq("c_exact", "c_shingles", "c_bands").foreach { t =>
      val names = Option(new java.io.File(st.path(t)).listFiles())
        .getOrElse(Array.empty).map(_.getName)
      assert(names.exists(_.startsWith("compacted_")), s"$t not compacted")
      assert(!names.exists(_.startsWith("batch_")),
        s"$t still holds batch drops")
      assert(names.count(_.endsWith(".parquet")) == 1, s"$t file count")
    }
    assert(decisions() == before)

    // an excluded (replayable) tag keeps its files and commit marker
    CorpusIndex.append(st, "c",
      Seq((62L, "third appended corpus member published most recently"))
        .toDF("doc_id", "text"), "text", "doc_id", batchTag = "b3")
    CorpusIndex.compact(st, "c", excludeTags = Set("b3"))
    val bandNames = new java.io.File(st.path("c_bands")).listFiles()
      .map(_.getName)
    assert(bandNames.exists(_.startsWith("batch_b3_")))
    assert(new java.io.File(st.path("c_commits"), "b3").exists())
    assert(!new java.io.File(st.path("c_commits"), "b2").exists())
    CorpusIndex.clearBatch(st, "c", "b3") // replay retracts it cleanly
    assert(!new java.io.File(st.path("c_bands")).listFiles()
      .map(_.getName).exists(_.startsWith("batch_b3_")))
  }

  test("a compaction swap that died after its commit point self-heals") {
    val st = store()
    CorpusIndex.build(st, "c", corpus, "text", "doc_id")
    val dir = new java.io.File(st.path("c_shingles"))
    val rows = spark.read.parquet(st.path("c_shingles")).count()
    // forge the mid-crash state: full staged output + marker naming every
    // current file as consumed, with one consumed file already deleted
    val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    val stage = new java.io.File(dir, ".compact_stage")
    stage.mkdirs()
    files.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(stage, s"c_p$i.parquet").toPath)
    }
    java.nio.file.Files.write(new java.io.File(dir, "_compacting").toPath,
      ("7" +: files.map(_.getName).toSeq).mkString("\n").getBytes("UTF-8"))
    files.head.delete()
    // the next Store.read completes the swap before planning the scan
    assert(st.read("c_shingles", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.LongType)))).count() == rows)
    val names = dir.listFiles().map(_.getName)
    assert(!names.contains("_compacting") && !names.contains(".compact_stage"))
    assert(names.filter(_.endsWith(".parquet"))
      .forall(_.startsWith("compacted_7_")), names.mkString(", "))
  }

  test("an append that crashed between table publications fails assign") {
    val st = store()
    CorpusIndex.build(st, "c", corpus, "text", "doc_id")
    CorpusIndex.append(st, "c",
      Seq((80L, "doomed append whose commit marker never lands"))
        .toDF("doc_id", "text"), "text", "doc_id", batchTag = "bX")
    // forge the crash: the commit marker (written LAST) is missing
    assert(new java.io.File(st.path("c_commits"), "bX").delete())
    val b = Seq((81L, "any probe")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      CorpusIndex.assign(st, "c", b, "text", "doc_id")
    }
    assert(e.getMessage.contains("uncommitted append"))
    // the documented fix: replay with the same tag
    CorpusIndex.clearBatch(st, "c", "bX")
    CorpusIndex.append(st, "c",
      Seq((80L, "doomed append whose commit marker never lands"))
        .toDF("doc_id", "text"), "text", "doc_id", batchTag = "bX")
    assert(CorpusIndex.assign(st, "c", b, "text", "doc_id").count() == 1)
  }

  test("assign rejects mismatched signature-space parameters") {
    val st = store()
    CorpusIndex.build(st, "c", corpus, "text", "doc_id",
      numHashes = 32, bands = 8)
    val b = Seq((50L, "whatever text this is")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      CorpusIndex.assign(st, "c", b, "text", "doc_id", numHashes = 64)
    }
    assert(e.getMessage.contains("was built with"))
  }

  /** `body`'s result, the plans of the SQL executions it starts and the
    * Janino compiles it causes. */
  private def traced[T](body: => T): (T, Seq[(String, Seq[String])], Long) = {
    val t = graft.Measure.timed(graft.PlanTrace(spark)(body))
    (t.value._1, t.value._2, t.compiles)
  }

  private def codegen(plans: Iterable[Seq[String]]) = graft.PlanTrace.codegen(plans)

  test("a batch within the broadcast threshold assigns without codegen; " +
      "at -1 it takes the lazy codegen path; rows are identical") {
    // signature parameters no other spec uses, so Spark's codegen cache
    // holds none of the -1 side's generated classes yet
    val (sh, nh, bd) = (2, 24, 6)
    val st = store()
    CorpusIndex.build(st, "c", corpus, "text", "doc_id", sh, nh, bd)
    val batch = Seq(
      (20L, "one two three four five six seven eight nine ten"),
      (21L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (22L, "a batch doc that no corpus doc resembles at all"),
      (23L, "a batch doc that no corpus doc resembles at all really"))
      .toDF("doc_id", "text")
    def assign(): (DataFrame, Seq[(Long, Long, String)]) = {
      val df = CorpusIndex.assign(st, "c", batch, "text", "doc_id", sh, nh,
        bd, threshold = 0.5)
      (df, df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSeq.sorted)
    }
    val key = "spark.sql.codegen.factoryMode"
    val before = spark.sessionState.conf.getAllConfs.get(key)

    val ((small, smallRows), smallPlans, smallCompiles) = traced(assign())
    assert(small.queryExecution.analyzed.isInstanceOf[LocalRelation])
    // the parameter check reads c_meta before the gate, with codegen
    val gated = smallPlans.filterNot(_._1.contains("/c_meta"))
    assert(gated.size < smallPlans.size)
    assert(gated.nonEmpty && !codegen(gated.map(_._2)),
      gated.flatMap(_._2).distinct)
    assert(spark.sessionState.conf.getAllConfs.get(key) == before)

    val ((lazyDf, lazyRows), lazyPlans, lazyCompiles) =
      TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(
        traced(assign()))
    assert(!lazyDf.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(codegen(lazyPlans.map(_._2)), lazyPlans.flatMap(_._2).distinct)
    assert(smallCompiles < lazyCompiles, s"$smallCompiles vs $lazyCompiles")
    info(s"Janino compiles: $smallCompiles within the threshold, $lazyCompiles at -1")

    assert(smallRows == lazyRows)
    assert(smallRows.map(r => r._1 -> r._3).toMap ==
      Map(20L -> "exact", 21L -> "near", 22L -> "novel", 23L -> "novel"),
      smallRows)
  }

  test("a streaming ingest batch within the broadcast threshold appends " +
      "without codegen") {
    val st = store()
    CorpusIndex.build(st, "c", corpus, "text", "doc_id")
    // enough docs that an inner join of the batch with its decisions
    // would be estimated (product of the sides) past the threshold
    val docs = (0 until 200).map(i =>
      (100L + i, s"streamed doc $i carries words w$i x${i * 7} y${i * 13}"))
      .toDF("doc_id", "text")
    docs.coalesce(1).write.parquet(st.path("landing"))
    val (_, plans, _) = traced(graft.streaming.StreamingDedup.corpusIngest(
      spark, st.path("landing"), docs.schema, st, "c", st.path("ck"),
      "text", "doc_id", threshold = 0.5).awaitTermination())
    val appends = plans.filter { case (description, _) =>
      Seq("c_exact", "c_shingles", "c_bands")
        .exists(t => description.contains(s"/$t/.staging_batch_0"))
    }
    assert(appends.size == 3, plans.map(_._1).mkString("\n---\n"))
    assert(!codegen(appends.map(_._2)), appends.flatMap(_._2).distinct)
    val accepted = spark.read.parquet(st.path("decisions"))
      .filter(col("matched") === "novel" && col("assigned") === col("doc_id"))
      .count()
    assert(accepted > 0)
    assert(spark.read.parquet(st.path("c_exact")).count() == 3 + accepted)
  }
}
