package graft

import org.scalatest.funsuite.AnyFunSuite

/** Dynamic partition pruning on lake scans: partition-source columns are
  * declared runtime-filterable (SupportsRuntimeV2Filtering), so a star
  * join whose dim side is filtered prunes fact FILES mid-query — only the
  * partitions whose keys survive the dim filter are read.
  */
class RuntimePruningSpec extends AnyFunSuite {
  import TestSpark._

  test("a filtered dim join prunes fact files at runtime (identity partitions)") {
    // (key type, fact key for row id, dim rows, the one key the dim keeps,
    // its fact row count)
    Seq(
      ("INT", "CAST(id % 10 AS INT)",
        "SELECT CAST(id AS INT), IF(id = 3, 'hit', 'miss') FROM range(10)", "3", 100L),
      ("BOOLEAN", "id % 2 = 0", "VALUES (true, 'hit'), (false, 'miss')", "true", 500L)
    ).foreach { case (dt, key, dimRows, hit, n) =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dpp")
      spark.sql("DROP TABLE IF EXISTS lake.dpp.fact")
      spark.sql("DROP TABLE IF EXISTS lake.dpp.dim")
      spark.sql(s"CREATE TABLE lake.dpp.fact (k $dt, v BIGINT) PARTITIONED BY (k)")
      spark.sql(s"INSERT INTO lake.dpp.fact SELECT $key, id FROM range(1000)")
      spark.sql(s"CREATE TABLE lake.dpp.dim (k $dt, attr STRING)")
      spark.sql(s"INSERT INTO lake.dpp.dim $dimRows")
      val q = spark.sql(
        """SELECT f.k, count(*) AS n, sum(f.v) AS sv
          |FROM lake.dpp.fact f JOIN lake.dpp.dim d ON f.k = d.k
          |WHERE d.attr = 'hit' GROUP BY f.k""".stripMargin)
      val rows = q.collect()
      // correctness: only the hit key survives, with all its fact rows
      assert(rows.toSeq.map(r => (r.get(0).toString, r.getLong(1))) == Seq((hit, n)), dt)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"$dt: expected a dynamic pruning predicate on the fact scan:\n$plan")
      // the scan description prints the CURRENT file list size; after
      // execution the runtime filter has pruned it to the single matching
      // partition file
      val scanDesc = "LakeScan\\(lake\\.dpp\\.fact, (\\d+) files\\)".r
      val counts = scanDesc.findAllMatchIn(plan).map(_.group(1).toInt).toSeq
      assert(counts.nonEmpty, s"$dt: fact scan description missing:\n$plan")
      assert(counts.min == 1,
        s"$dt: runtime filter should prune the fact scan to 1 file, got $counts:\n$plan")
    }
  }

  test("bucketed-table join with an unbucketed side: only the unbucketed side shuffles") {
    val prevShuffle = spark.conf.get("spark.sql.sources.v2.bucketing.shuffle.enabled", "false")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dpp")
      spark.sql("DROP TABLE IF EXISTS lake.dpp.idx")
      spark.sql("CREATE TABLE lake.dpp.idx (k BIGINT, v BIGINT) PARTITIONED BY (bucket(8, k))")
      spark.sql("INSERT INTO lake.dpp.idx SELECT id % 500, id FROM range(5000)")
      val probe = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS w")
      val j = spark.table("lake.dpp.idx").join(probe, "k")
      assert(j.count() == 1000L) // 100 probe keys x 10 rows each
      val plan = j.queryExecution.executedPlan.toString
      val nExchanges = "Exchange".r.findAllIn(plan).size
      // the bucketed index side reports its storage partitioning; only the
      // ad-hoc probe side should need an exchange (storage-aligned join)
      assert(nExchanges <= 1,
        s"expected at most one exchange (probe side only), got $nExchanges:\n$plan")
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", prevShuffle)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("runtime pruning composes with bucket partitioning") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dpp")
    spark.sql("DROP TABLE IF EXISTS lake.dpp.bfact")
    spark.sql("DROP TABLE IF EXISTS lake.dpp.bdim")
    spark.sql(
      "CREATE TABLE lake.dpp.bfact (k BIGINT, v BIGINT) PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO lake.dpp.bfact SELECT id % 64, id FROM range(2000)")
    spark.sql("CREATE TABLE lake.dpp.bdim (k BIGINT, attr STRING)")
    spark.sql(
      "INSERT INTO lake.dpp.bdim SELECT id, IF(id = 7, 'hit', 'miss') FROM range(64)")
    val q = spark.sql(
      """SELECT f.k, count(*) AS n FROM lake.dpp.bfact f
        |JOIN lake.dpp.bdim d ON f.k = d.k
        |WHERE d.attr = 'hit' GROUP BY f.k""".stripMargin)
    val rows = q.collect()
    assert(rows.toSeq.map(r => (r.getLong(0), r.getLong(1))) == Seq((7L, 32L)) ||
      rows.toSeq.map(r => (r.getLong(0), r.getLong(1))) == Seq((7L, 2000L / 64)))
    val plan = q.queryExecution.executedPlan.toString
    // bucket transform: the runtime keys map through the same murmur3
    // bucketing the writer used, pruning to the single matching bucket
    val scanDesc = "LakeScan\\(lake\\.dpp\\.bfact, (\\d+) files\\)".r
    val counts = scanDesc.findAllMatchIn(plan).map(_.group(1).toInt).toSeq
    if (plan.contains("dynamicpruning")) {
      assert(counts.nonEmpty && counts.min == 1,
        s"runtime filter should prune to the single bucket file, got $counts:\n$plan")
    }
  }

  test("runtime filters re-resolve the POSITIONAL delete skip (DPP drops " +
      "other partitions' tombstones, keeps the matching ones)") {
    import graft.catalog._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dpp")
    spark.sql("DROP TABLE IF EXISTS lake.dpp.mfact")
    spark.sql("DROP TABLE IF EXISTS lake.dpp.mdim")
    spark.sql("CREATE TABLE lake.dpp.mfact (k INT, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read', " +
      "'commit.manifest-merge.enabled'='false')")
    spark.sql("INSERT INTO lake.dpp.mfact SELECT CAST(id % 10 AS INT), id FROM range(1000)")
    // tombstones in TWO partitions, stamped with their targets' k-bounds
    spark.sql("DELETE FROM lake.dpp.mfact WHERE k = 3 AND v < 330") // 33 rows
    spark.sql("DELETE FROM lake.dpp.mfact WHERE k = 7 AND v < 100") // 10 rows
    spark.sql("CREATE TABLE lake.dpp.mdim (k INT, attr STRING)")
    spark.sql(
      "INSERT INTO lake.dpp.mdim SELECT CAST(id AS INT), IF(id = 3, 'hit', 'miss') FROM range(10)")
    val dropped0 = LakeScan.runtimeDeletesDropped.get()
    val q = spark.sql(
      """SELECT f.k, count(*) AS n, min(f.v) AS mv
        |FROM lake.dpp.mfact f JOIN lake.dpp.mdim d ON f.k = d.k
        |WHERE d.attr = 'hit' GROUP BY f.k""".stripMargin)
    val rows = q.collect()
    // correctness first: partition 3's OWN tombstones still apply (v<330
    // gone → 67 rows, min = 333); a dropped k=3 tombstone would show 100
    assert(rows.toSeq.map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      == Seq((3, 67L, 333L)), s"got ${rows.toSeq}")
    assert(q.queryExecution.executedPlan.toString.contains("dynamicpruning"))
    // ...and partition 7's tombstones were DROPPED by the runtime
    // re-resolution (stamped k-bounds [7,7] exclude the k=3 DPP keys)
    assert(LakeScan.runtimeDeletesDropped.get() > dropped0,
      "the k=7 tombstone files must be dropped under the k=3 runtime filter")
    spark.sql("DROP TABLE lake.dpp.mfact")
    spark.sql("DROP TABLE lake.dpp.mdim")
  }

  test("runtime filters re-resolve the EQUALITY delete skip; row-level scans never narrow") {
    import graft.catalog._
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dpp")
    spark.sql("DROP TABLE IF EXISTS lake.dpp.ups")
    spark.sql("CREATE TABLE lake.dpp.ups " +
      "TBLPROPERTIES ('commit.manifest-merge.enabled'='false') " +
      "AS SELECT id AS k, concat('v', id) AS v FROM range(1, 101)")
    // three eq-delete epochs over DISJOINT key ranges
    for ((lo, hi, tag) <- Seq((1L, 10L, "a"), (40L, 50L, "b"), (90L, 95L, "c"))) {
      spark.range(lo, hi + 1).selectExpr("id AS k", s"concat('$tag', id) AS v")
        .createOrReplaceTempView("dpp_ups_src")
      spark.sql("CALL lake.system.upsert('dpp.ups', 'dpp_ups_src', 'k')")
    }
    val cat = spark.sessionState.catalogManager.catalog("lake").asInstanceOf[LakeCatalog]
    val table = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("dpp"), "ups"))
      .asInstanceOf[LakeTable]
    // a PLAIN READ scan narrows its eq-delete list under a runtime k-probe:
    // epochs a and c's key bounds exclude k=42, only epoch b survives
    val scan = table.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of()))
      .build().asInstanceOf[LakeScan]
    val dropped0 = LakeScan.runtimeDeletesDropped.get()
    scan.filter(Array(new Predicate("=",
      Array(Expressions.column("k"), Expressions.literal(42L)))))
    assert(LakeScan.runtimeDeletesDropped.get() - dropped0 >= 2,
      "epochs a and c must be dropped under the k=42 runtime predicate")
    // answers unchanged through SQL (upserted values win, others intact)
    assert(spark.sql("SELECT v FROM lake.dpp.ups WHERE k = 42")
      .collect().map(_.getString(0)).toSeq == Seq("b42"))
    assert(spark.table("lake.dpp.ups").count() == 100)
    // a ROW-LEVEL operation's scan must KEEP the full delete state even
    // when runtime group filtering prunes its files: kept files are
    // rewritten wholesale, so skipped tombstones would resurrect rows in
    // the DATA. The narrow flag is builder-gated; prove it end-to-end.
    spark.sql("DROP TABLE IF EXISTS lake.dpp.seldim")
    spark.sql("CREATE TABLE lake.dpp.seldim (k BIGINT)")
    spark.sql("INSERT INTO lake.dpp.seldim VALUES (42), (5)")
    val dropped1 = LakeScan.runtimeDeletesDropped.get()
    spark.sql("DELETE FROM lake.dpp.ups WHERE k IN (SELECT k FROM lake.dpp.seldim)")
    assert(LakeScan.runtimeDeletesDropped.get() == dropped1,
      "row-level-operation scans must never narrow their delete lists")
    assert(spark.table("lake.dpp.ups").count() == 98)
    assert(spark.sql("SELECT v FROM lake.dpp.ups WHERE k = 43")
      .collect().map(_.getString(0)).toSeq == Seq("b43"))
    spark.sql("DROP TABLE lake.dpp.ups")
    spark.sql("DROP TABLE lake.dpp.seldim")
  }
}
