package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** One verifiable unit of query surface: a Spark implementation plus (when
  * SQL-expressible) the DuckDB oracle the driver hash-compares against.
  *
  * Numeric discipline for oracle parity (both engines must produce
  * bit-identical values):
  *   - sums of doubles go through DECIMAL(18,6) (exact, order-independent),
  *     surfaced as DOUBLE (decimal rendering is hash-hostile in the
  *     driver's gate; the exact decimal rounds to the same IEEE double in
  *     both engines);
  *   - averages = exact decimal sum cast to double, divided by count
  *     (IEEE double division is deterministic);
  *   - every query has a total ORDER BY with explicit NULLS FIRST on
  *     nullable keys (Spark defaults nulls-first, DuckDB nulls-last).
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  /** A single ANSI SQL string executed verbatim by BOTH spark.sql (over
    * temp views of the testdata) and the DuckDB oracle — semantic parity by
    * construction.
    */
  def shared(name: String, sql: String): QueryDef =
    QueryDef(name, (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) }, Some(sql))

  /** Idiomatic DataFrame/Dataset implementation with a separately-authored
    * DuckDB oracle.
    */
  def df(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))
}
