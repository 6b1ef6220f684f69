package graft

import org.scalatest.funsuite.AnyFunSuite

/** Copy-on-write `DELETE … WHERE` (the SupportsDelete rewrite) picks the
  * files it rewrites with the same pruner a scan plans with: min/max in the
  * column's stat order, file blooms and bucket stats. A file the predicate
  * provably misses stays untouched; its path survives the delete.
  */
class CowDeletePruningSpec extends AnyFunSuite {
  import TestSpark._

  /** Data file paths of table `lake.cowp.<t>`. */
  private def paths(t: String): Set[String] =
    spark.sql(s"SELECT path FROM lake.cowp.`$t$$files`").collect().map(_.getString(0)).toSet

  test("DELETE by key on a bucket(8) table rewrites the key's one bucket file") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.cowp")
    spark.sql("DROP TABLE IF EXISTS lake.cowp.b")
    spark.sql("CREATE TABLE lake.cowp.b (id BIGINT, v STRING) PARTITIONED BY (bucket(8, id))")
    spark.sql("INSERT INTO lake.cowp.b SELECT id, concat('v', id) FROM range(800)")
    val before = paths("b")
    assert(before.size == 8, s"one file per bucket expected, got ${before.size}")
    spark.sql("DELETE FROM lake.cowp.b WHERE id = 17")
    val rewritten = before -- paths("b")
    assert(rewritten.size == 1, s"expected 1 rewritten file, got ${rewritten.size}")
    assert(spark.table("lake.cowp.b").count() == 799L)
    assert(spark.sql("SELECT * FROM lake.cowp.b WHERE id = 17").count() == 0L)
  }

  test("DELETE by string key rewrites only the batch whose string bounds hold it") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.cowp")
    spark.sql("DROP TABLE IF EXISTS lake.cowp.s")
    spark.sql("CREATE TABLE lake.cowp.s (k STRING, v BIGINT)")
    // 4 batches of 4 files; round-robin spreads each batch's key range
    // ["k<b>0000", "k<b>9999"] over all four of its files
    val batches = (1 to 4).map { b =>
      val pre = paths("s")
      spark.range(b * 10000L, (b + 1) * 10000L).selectExpr("concat('k', id) AS k", "id AS v")
        .repartition(4).writeTo("lake.cowp.s").append()
      paths("s") -- pre
    }
    assert(batches.map(_.size) == Seq(4, 4, 4, 4), s"got ${batches.map(_.size)}")
    val before = paths("s")
    spark.sql("DELETE FROM lake.cowp.s WHERE k = 'k20007'")
    val rewritten = before -- paths("s")
    assert(rewritten == batches(1), s"expected batch 2's files, got $rewritten")
    assert(spark.table("lake.cowp.s").count() == 39999L)
    assert(spark.sql("SELECT * FROM lake.cowp.s WHERE k = 'k20007'").count() == 0L)
  }
}
