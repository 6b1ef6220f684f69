package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class QueryProfileSpec extends AnyFunSuite {
  import TestSpark._

  test("jobs a query runs while it is built count as construction jobs") {
    val p = QueryProfile.run(spark, "two_counts", sf, (s, _) => {
      s.sparkContext.parallelize(1 to 10, 2).count()
      s.sparkContext.parallelize(1 to 10, 2).count()
      s.range(3).toDF()
    })
    assert(p.constructJobs == 2)
    assert(p.exec.jobs.nonEmpty)
    // the noop write is the last execution the run finished
    assert(p.executions.last.funcName == "overwrite")
  }

  test("a warm q01 build starts no job; its noop write starts jobs and stages") {
    QueryProfile.run(spark, "q01_pricing_summary", sf)
    val p = QueryProfile.run(spark, "q01_pricing_summary", sf)
    assert(p.constructJobs == 0)
    assert(p.exec.jobs.nonEmpty)
    assert(p.exec.stageCount >= 1)
    assert(p.exec.stages.map(_.tasks).sum >= 1)
  }

  test("One explain captures a query's internal executions without waiting") {
    val out = Files.createTempFile("q121", ".txt")
    One.run(spark, sf, Seq("q121_triangles", "explain", out.toString))
    val text = Files.readString(out)
    assert(text.startsWith("===== q121_triangles: returned plan ====="))
    // the collect inside the query and the noop write
    assert("===== internal execution: ".r.findAllMatchIn(text).size >= 2, text.take(2000))
    assert(text.contains("===== internal execution: collect"))
  }

  test("every One mode runs on q01") {
    val q = "q01_pricing_summary"
    val time = One.run(spark, sf, Seq(q, "time", "2"))
    assert(time.size == 1 && time.head.startsWith(s"$q: median ") && time.head.endsWith("(2 runs)"))

    val profile = One.run(spark, sf, Seq(q, "profile"))
    assert(profile.head.startsWith(s"=== $q: wall "))
    assert(profile.exists(_.startsWith("construction ")))
    assert(profile.exists(_.startsWith("catalyst: analysis ")))
    assert(profile.exists(_.startsWith("job ")))

    val rows = SparkEntry.queries(q)(spark, sf).count()
    val run = One.run(spark, sf, Seq(q, "run"))
    assert(run.head == s"=== $q: $rows rows ===")
    assert(run.size == 2 + rows)

    val out = Files.createTempFile("q01", ".txt")
    val explain = One.run(spark, sf, Seq(q, "explain", out.toString))
    assert(explain.head.startsWith("[explain] wrote "))
    assert(Files.readString(out).contains("===== internal execution: overwrite"))

    intercept[IllegalArgumentException](One.run(spark, sf, Seq(q, "profil")))
    intercept[IllegalArgumentException](One.run(spark, sf, Seq("q_unknown", "run")))
  }
}
