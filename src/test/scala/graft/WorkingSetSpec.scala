package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.WorkingSet

class WorkingSetSpec extends AnyFunSuite {
  import TestSpark._

  test("materialized hands back up to MaxRows rows and releases the working set") {
    var released = false
    val df = WorkingSet.materialized(spark, (spark.range(WorkingSet.MaxRows).toDF(), () => released = true))
    assert(released)
    assert(df.count() == WorkingSet.MaxRows)
  }

  test("an output over MaxRows throws and still releases the working set") {
    var released = false
    val e = intercept[IllegalStateException](
      WorkingSet.materialized(spark, (spark.range(WorkingSet.MaxRows + 1L).toDF(), () => released = true)))
    assert(e.getMessage.contains("MaxRows"))
    assert(released)
  }
}
