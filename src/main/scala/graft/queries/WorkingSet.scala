package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Collect-then-release: a query whose plan reads a working set it
  * persisted (a quantized corpus, connected components, shingle counts)
  * hands back its bounded result as a local DataFrame and releases the
  * working set before it returns, so no cache survives the query.
  */
object WorkingSet {
  /** Most rows [[materialized]] hands back. Every caller's output is
    * bounded by design (top-k lists, one row per component or source);
    * the largest at sf0.1 is q152's 256 rows.
    */
  val MaxRows = 100000

  /** Collects `out`, then runs `release` whether or not the collect
    * succeeds. Throws when `out` holds more than [[MaxRows]] rows.
    */
  def materialized(s: SparkSession, lazyPlan: (DataFrame, () => Unit)): DataFrame = {
    val (out, release) = lazyPlan
    try {
      val rows = out.collect()
      if (rows.length > MaxRows)
        throw new IllegalStateException(
          s"collected ${rows.length} rows, more than WorkingSet.MaxRows = $MaxRows")
      s.createDataFrame(rows.toSeq.asJava, out.schema)
    } finally release()
  }
}
