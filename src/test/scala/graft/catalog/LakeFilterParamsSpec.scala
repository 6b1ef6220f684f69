package graft.catalog

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, InputAdapter, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Filters over lake scans compile once per query shape: a read that
  * differs from an earlier one only in its literal values compiles no
  * class, and returns what the interpreted plan returns.
  */
class LakeFilterParamsSpec extends AnyFunSuite {
  import graft.TestSpark.spark

  private def uniq(p: String) = s"$p${System.nanoTime() % 1000000}"

  /** Classes compiled while `body` runs. */
  private def compiles[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = body
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def rows(sql: String): Seq[Row] = spark.sql(sql).collect().toSeq

  private object Plans extends AdaptiveSparkPlanHelper

  private def lakeScan(p: SparkPlan): Boolean = p match {
    case InputAdapter(c) => lakeScan(c)
    case b: BatchScanExec => b.scan.isInstanceOf[LakeScan]
    case _ => false
  }

  /** The conditions of the filters over lake scans `df` executed, each
    * with whether it sits directly on a row-mode scan (else on
    * `ColumnarToRow`).
    */
  private def scanFilters(df: DataFrame): Seq[(Expression, Boolean)] =
    Plans.collect(df.queryExecution.executedPlan) {
      case FilterExec(c, child) if lakeScan(child) => (c, true)
      case FilterExec(c, ColumnarToRowExec(child)) if lakeScan(child) => (c, false)
    }

  /** `sql`'s rows with whole-stage and expression codegen off. */
  private def interpreted(sql: String): Seq[Row] =
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(rows(sql))

  private def bucketed(mor: Boolean): String = {
    val t = s"lake.params.${uniq("t")}"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.params")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) PARTITIONED BY (bucket(8, id)) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('v', id) FROM range(0, 2000)")
    // 40 tombstones spread over the buckets
    if (mor) spark.sql(s"DELETE FROM $t WHERE id % 50 = 17")
    t
  }

  private def secondReadsCompileNothing(t: String, tombstoned: Boolean, rowMode: Boolean): Unit = {
    def point(k: Long) = s"SELECT v FROM $t WHERE id = $k"
    def range(lo: Long) = s"SELECT count(*), sum(id) FROM $t WHERE id BETWEEN $lo AND ${lo + 300}"
    def run(sql: String) = { val df = spark.sql(sql); (df, df.collect().toSeq) }
    rows(point(5)); rows(range(10))
    val ((pdf, p), pc) = compiles(run(point(1234)))
    val ((rdf, r), rc) = compiles(run(range(1100)))
    assert(pc == 0L, s"a second point read compiled $pc classes")
    assert(rc == 0L, s"a second range read compiled $rc classes")
    assert(p == interpreted(point(1234)) && p == Seq(Row("v1234")))
    val ids = (1100L to 1400L).filterNot(i => tombstoned && i % 50 == 17)
    assert(r == interpreted(range(1100)) && r == Seq(Row(ids.size.toLong, ids.sum)), r)
    Seq(pdf, rdf).foreach { df =>
      val filters = scanFilters(df)
      assert(filters.nonEmpty && filters.forall(_._2 == rowMode), df.queryExecution.executedPlan)
      assert(filters.forall(_._1.exists(_.isInstanceOf[LiteralParam])), filters)
    }
  }

  test("a second point or range read over a clean table compiles nothing") {
    val t = bucketed(mor = false)
    secondReadsCompileNothing(t, tombstoned = false, rowMode = false)
    spark.sql(s"DROP TABLE $t")
  }

  test("a second point or range read over a tombstoned table compiles nothing") {
    val t = bucketed(mor = true)
    secondReadsCompileNothing(t, tombstoned = true, rowMode = false)
    spark.sql(s"DROP TABLE $t")
  }

  test("a second point or range read over a tombstoned row-mode scan compiles nothing") {
    val t = bucketed(mor = true)
    // keeps every file on the row reader, so the filter sits directly on
    // the scan (as MergeOnReadSpec's row reference does)
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    try secondReadsCompileNothing(t, tombstoned = true, rowMode = true)
    finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    spark.sql(s"DROP TABLE $t")
  }

  test("every rewritten type filters as the interpreted plan does") {
    val t = s"lake.params.${uniq("types")}"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.params")
    spark.sql(s"CREATE TABLE $t (b BOOLEAN, y TINYINT, s SMALLINT, i INT, l BIGINT, " +
      "f FLOAT, d DOUBLE, dt DATE, ts TIMESTAMP, tn TIMESTAMP_NTZ)")
    spark.sql(s"""INSERT INTO $t VALUES
      (true, 1, 10, 100, 1000, 1.5, 0.0, DATE'2024-01-01', TIMESTAMP'2024-01-01 00:00:00', TIMESTAMP_NTZ'2024-01-01 00:00:00'),
      (false, 2, 20, 200, 2000, 2.5, -0.0, DATE'2024-02-01', TIMESTAMP'2024-02-01 00:00:00', TIMESTAMP_NTZ'2024-02-01 00:00:00'),
      (true, 3, 30, 300, 3000, float('NaN'), double('NaN'), DATE'2024-03-01', TIMESTAMP'2024-03-01 00:00:00', TIMESTAMP_NTZ'2024-03-01 00:00:00'),
      (false, 4, 40, 400, 4000, float('Infinity'), double('Infinity'), DATE'2024-04-01', TIMESTAMP'2024-04-01 00:00:00', TIMESTAMP_NTZ'2024-04-01 00:00:00'),
      (true, 5, 50, 500, 5000, float('-Infinity'), double('-Infinity'), DATE'2024-05-01', TIMESTAMP'2024-05-01 00:00:00', TIMESTAMP_NTZ'2024-05-01 00:00:00'),
      (null, null, null, null, null, null, null, null, null, null)""")
    val preds = Seq(
      "coalesce(b, false)", "coalesce(b, true) AND i > 100",
      "y = 2", "y BETWEEN 2 AND 4", "y IN (1, 5)",
      "s = 30", "s BETWEEN 15 AND 45", "s IN (10, 40)",
      "i = 300", "i BETWEEN 150 AND 450", "i IN (100, 500, 7)",
      "l = 4000", "l BETWEEN 1000 AND 2500", "l IN (2000, 5000)",
      "f = float('NaN')", "f = float('Infinity')", "f BETWEEN 1.0 AND 2.0", "f IN (float('-Infinity'), 2.5)",
      "d = 0.0", "d = -0.0", "d = double('NaN')", "d > 1.0", "d = double('-Infinity')",
      "d BETWEEN double('-Infinity') AND 0.0", "d IN (double('NaN'), double('Infinity'))",
      "dt = DATE'2024-03-01'", "dt BETWEEN DATE'2024-01-15' AND DATE'2024-04-15'",
      "dt IN (DATE'2024-01-01', DATE'2024-05-01')",
      "ts = TIMESTAMP'2024-02-01 00:00:00'",
      "ts BETWEEN TIMESTAMP'2024-01-15 00:00:00' AND TIMESTAMP'2024-03-15 00:00:00'",
      "ts IN (TIMESTAMP'2024-04-01 00:00:00', TIMESTAMP'2024-05-01 00:00:00')",
      "tn = TIMESTAMP_NTZ'2024-04-01 00:00:00'",
      "tn BETWEEN TIMESTAMP_NTZ'2024-01-01 00:00:00' AND TIMESTAMP_NTZ'2024-02-01 00:00:00'",
      "tn IN (TIMESTAMP_NTZ'2024-03-01 00:00:00')")
    preds.foreach { p =>
      val q = s"SELECT i FROM $t WHERE $p ORDER BY i"
      val got = rows(q)
      assert(got == interpreted(q), s"$p: $got")
      val cond = spark.sql(s"SELECT i FROM $t WHERE $p").queryExecution.executedPlan
        .collect { case f: FilterExec => f.condition }.head
      assert(cond.exists(_.isInstanceOf[LiteralParam]), s"$p: $cond")
    }
    assert(rows(s"SELECT i FROM $t WHERE d = double('NaN')") == Seq(Row(300)))
    assert(rows(s"SELECT i FROM $t WHERE d = 0.0 ORDER BY i") == Seq(Row(100), Row(200)))
    spark.sql(s"DROP TABLE $t")
  }

  test("a UNION ALL of two reads that differ only in a literal returns both sides") {
    val t = bucketed(mor = false)
    def side(hi: Long) = s"SELECT count(*) AS n, sum(id) AS s FROM $t WHERE id BETWEEN 0 AND $hi"
    val got = rows(s"${side(99)} UNION ALL ${side(199)}").map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 4950L), (200L, 19900L)), got)
    val (a, b) = (LiteralParam(Literal(99L)), LiteralParam(Literal(199L)))
    assert(a != b && !a.semanticEquals(b) && a.semanticEquals(LiteralParam(Literal(99L))))
    spark.sql(s"DROP TABLE $t")
  }
}
