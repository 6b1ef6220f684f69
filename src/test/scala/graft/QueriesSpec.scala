package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

object TestSpark {
  // One session for the whole test JVM (suites share it).
  lazy val spark: SparkSession = {
    val s = Sessions.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** Runs `body` and counts the Spark jobs it starts from this thread. */
  def jobsDuring[T](body: => T): (T, Int) = QueryProfile.jobsDuring(spark)(body)
}

/** Executes every registered query end-to-end on sf0.001. Value-level
  * correctness is gated by the DuckDB oracle (tools/check.py / the driver);
  * here we pin execution, schema sanity, and a few known invariants.
  */
class QueriesSpec extends AnyFunSuite {
  import TestSpark._

  // per-query execution + row counts live in GoldenSpec (exact expected
  // rows, not the vacuous `count >= 0` this loop used to assert — r1 ADVICE)

  test("q01 groups match the distinct flag/status combos in the data") {
    val rows = SparkEntry.queries("q01_pricing_summary")(spark, sf).collect()
    // q01 is a plain groupBy — expected group count derived from the data,
    // not hardcoded (the synthetic testdata populates more combos than
    // classic TPC-H's 4).
    val expected = TestSpark.spark.read.parquet(s"$sf/lineitem.parquet")
      .where("l_shipdate <= timestamp'1998-09-02'")
      .select("l_returnflag", "l_linestatus").distinct().count()
    assert(rows.length == expected)
    assert(rows.map(_.getString(0)).distinct.sorted.sameElements(Array("A", "N", "R")))
  }

  test("warm construction of q01/q07/q13/q20 starts no Spark job") {
    // the first construction may infer table schemas; after it, building a
    // query's DataFrame is metadata-only (Tables caches each schema)
    Seq("q01_pricing_summary", "q07_supplier_part_rank", "q13_promo_share",
      "q20_string_funcs").foreach { q =>
      SparkEntry.queries(q)(spark, sf)
      val (_, jobs) = jobsDuring(SparkEntry.queries(q)(spark, sf))
      assert(jobs == 0, s"$q construction started $jobs jobs")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every oracle SQL carries a total ORDER BY (hash-gate determinism lint)") {
    // the driver hash-compares sorted rows, but a missing ORDER BY makes
    // LIMIT/windows nondeterministic — catch it at review time. Single-row
    // global aggregates are exempt (one row is trivially ordered).
    val singleRowAggregates = Set("q06_revenue_delta", "q13_promo_share",
      "q17_small_qty_revenue", "q19_disjunctive", "q43_event_dedup",
      "q65_stats_agg_pushdown", "q122_not_in_nulls", "q130_chi_square")
    val missing = SparkEntry.oracleSql.collect {
      case (name, sql) if !sql.toUpperCase.contains("ORDER BY")
        && !singleRowAggregates.contains(name) => name
    }
    assert(missing.isEmpty, s"oracled queries without ORDER BY: $missing")
    singleRowAggregates.foreach(n =>
      assert(SparkEntry.queries.contains(n), s"stale exemption: $n"))
  }
}
