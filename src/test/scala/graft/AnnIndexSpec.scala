package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.AnnIndex

/** The materialized-ANN-index contract: same results as the on-the-fly q38
  * probe, with the scan provably pruned to the query's bucket files.
  */
class AnnIndexSpec extends AnyFunSuite {
  import TestSpark._

  private val table = "lake.idx.emb_bands_spec"

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("index probe returns exactly the q38 on-the-fly probe results") {
    AnnIndex.buildSrpIndex(spark, emb, table)
    val viaIndex = AnnIndex.probeSrpIndex(spark, table, emb, queryVecId = 0L)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val onTheFly = SparkEntry.queries("q38_ann_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(viaIndex == onTheFly,
      "identical banding must yield identical candidates and top-k")
    assert(viaIndex.size == 10)
  }

  test("probe scan is partition-pruned to exactly the query's bucket files") {
    AnnIndex.buildSrpIndex(spark, emb, table)
    val keys = AnnIndex.queryKeys(emb, queryVecId = 0L).toSet
    val t = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("idx"), "emb_bands_spec"))
      .asInstanceOf[graft.catalog.LakeTable]
    val files = t.meta.currentFiles
    // clustered write: every file single-valued on (band, bv)
    assert(files.forall(f => f.minValues.get("band") == f.maxValues.get("band")
      && f.minValues.get("bv") == f.maxValues.get("bv")))
    val matching = files.filter(f =>
      keys.contains((f.minValues("band").toInt, f.minValues("bv").toInt)))
    val nonMatching = files.filterNot(matching.contains)
    assert(matching.nonEmpty && nonMatching.nonEmpty,
      s"need both matching and prunable files, got ${matching.size}/${files.size}")
    assert(matching.size < files.size / 2,
      s"probe should touch a minority of files: ${matching.size}/${files.size}")
    val probe = AnnIndex.probeSrpIndex(spark, table, emb, queryVecId = 0L)
    probe.collect() // force execution so the executed plan is final
    val scanned = probe.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    // the LakeScan leaf reports its exact post-pruning file count (the path
    // list itself is truncated in plan strings, so count is the assertion)
    val m = """LakeScan\(lake\.idx\.emb_bands_spec, (\d+) files\)""".r
      .findFirstMatchIn(scanned)
    assert(m.isDefined, s"expected a LakeScan leaf over the index:\n$scanned")
    assert(m.get.group(1).toInt == matching.size,
      s"probe must scan exactly the ${matching.size} query-bucket files " +
        s"of ${files.size} total, scanned ${m.get.group(1)}")
  }

  test("index rebuild after new data picks up appended vectors") {
    import spark.implicits._
    AnnIndex.buildSrpIndex(spark, emb, table)
    val n0 = spark.table(table).select("vec_id").distinct().count()
    // append a clone of vector 0 under a fresh id: it must become the top
    // cosine neighbor after a rebuild
    val clone = emb.filter(col("vec_id") === 0L)
      .withColumn("vec_id", org.apache.spark.sql.functions.lit(999999L))
    AnnIndex.buildSrpIndex(spark, emb.unionByName(clone), table)
    assert(spark.table(table).select("vec_id").distinct().count() == n0 + 1)
    val top = AnnIndex.probeSrpIndex(spark, table, emb.unionByName(clone), queryVecId = 0L)
      .collect().head
    assert(top.getLong(0) == 999999L && top.getDouble(2) > 0.9999,
      s"the planted clone must be the nearest neighbor, got $top")
  }
}
