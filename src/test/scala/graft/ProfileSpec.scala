package graft

import java.nio.file.Files

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.ConnectedComponents

/** `Profile`'s modes on one small gate, and the job window of
  * [[Measure.jobs]] that its `jobs` mode reads. */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val gate = "q_join_dim_filter"

  /** The lines `args`' mode prints on the shared session. */
  private def run(args: String*): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Profile.mode(args.toList)(spark))
    out.toString("UTF-8").linesIterator.toSeq
  }

  test("each Profile mode runs a gate and prints what it measured") {
    assert(run("time", sf, "2", gate).exists(_.matches(s" *[0-9.]+s  $gate")))
    assert(run("parts", sf, gate).count(_.matches(
      s"\\[parts\\] $gate run[12] build= *[0-9.]+s plan= *[0-9.]+s exec= *[0-9.]+s")) == 2)

    val jobs = run("jobs", sf, "1", gate)
    val n = s"\\[jobs\\] $gate run 1: [0-9.]+s, (\\d+) jobs".r
      .findFirstMatchIn(jobs.head).map(_.group(1).toInt)
    assert(n.exists(_ > 0), jobs.mkString("\n"))
    assert(jobs.tail.count(_.startsWith("  job ")) == n.get, jobs.mkString("\n"))

    val dir = Files.createTempDirectory("profile_plans")
    Seq("plan" -> "isFinalPlan=false", "final" -> "isFinalPlan=true").foreach {
      case (mode, marker) =>
        val printed = run(mode, sf, dir.toString, mode, gate)
        val file = dir.resolve(s"${gate}_$mode.txt")
        assert(printed.exists(_.contains(s"wrote $file")), printed)
        val text = Files.readString(file)
        assert(text.contains("== Physical Plan ==") && text.contains(marker), text)
    }

    val audit = run("audit", sf, gate)
    assert(audit.size == 1 && audit.head.startsWith(gate), audit)
    assert("joins\\[\\w+Join x\\d".r.findFirstIn(audit.head).isDefined, audit)

    val compare = run("compare", sf, sf, gate)
    assert(compare.exists(_.matches(
      s"\\[compare\\] $gate +sf0.001= *[0-9.]+s  sf0.001= *[0-9.]+s  ratio= *[0-9.]+")),
      compare)

    intercept[IllegalArgumentException](Profile.mode(List("jobs", sf)))
  }

  test("Measure.jobs counts the jobs a body starts on a Future on the " +
      "global execution context") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    // start a pool thread before the window, as a long-running JVM has one:
    // a thread created inside it would inherit the caller's local
    // properties, and with them any per-thread tag
    Await.result(Future(()), 1.minute)
    val (rows, jobs) = Measure.jobs(spark) {
      Await.result(Future(spark.range(0, 100, 1, 4).count()), 1.minute)
    }
    assert(rows == 100)
    assert(jobs.nonEmpty && jobs.forall(j => j.seconds >= 0), jobs)
  }

  test("Measure.jobs counts what JobCount counts on a same-thread body: " +
      "the connected-components 6-chain as Spark sweeps at threshold -1") {
    val chain = spark.range(1, 6).select($"id".as("a"), ($"id" + 1).as("b"))
    def body() = ConnectedComponents.run(chain).collect()
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val measured = Measure.jobs(spark)(body())._2.size
      val counted = JobCount(spark)(body())._2
      assert(measured == 32 && counted == 32, s"$measured vs $counted")
    }
  }
}
