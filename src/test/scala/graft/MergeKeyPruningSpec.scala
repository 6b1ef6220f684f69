package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.MergeSourceKeys

/** Merge-on-read MERGE from a small local source reads only the target
  * files its ON keys can hit ([[graft.catalog.MergeSourceKeys]]): the
  * source's keys become `key IN (...)` on the target scan, and the scan's
  * bucket, min/max and bloom pruning do the rest. Each pruned MERGE must
  * leave the table equal to a copy-on-write twin given the same MERGE.
  */
class MergeKeyPruningSpec extends AnyFunSuite {
  import TestSpark._

  private val Files = 8 // one file per bucket after the single-task insert

  private def uniq(p: String) = s"$p${System.nanoTime() % 1000000}"

  /** A table holding ids [0, 2000) as `v<id>`; with `layout` =
    * [[bucketed]], one file per bucket. */
  private def table(p: String, layout: String): String = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.mkp")
    val t = s"lake.mkp.${uniq(p)}"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) $layout")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('v', id) FROM range(0, 2000)")
    t
  }
  private def bucketed(props: String = "") =
    s"PARTITIONED BY (bucket(8, id)) TBLPROPERTIES ('write.bloom-columns'='id'$props)"
  private def morTable(p: String) = table(p, bucketed(", 'write.merge.mode'='merge-on-read'"))
  private def drop(t: String): Unit = spark.sql(s"DROP TABLE $t PURGE")

  private def contents(t: String): Seq[String] =
    spark.sql(s"SELECT id, v FROM $t").collect().map(_.toString).sorted.toSeq

  /** Runs a MERGE and returns its executed plan, read through a
    * QueryExecutionListener (a command's plan is not on its DataFrame). */
  private def mergePlan(sql: String): String = {
    val plans = new LinkedBlockingQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.put(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.sql(sql)
      // an earlier statement's event may still be in flight: take the MERGE's
      Iterator.continually(plans.poll(60, TimeUnit.SECONDS))
        .map(p => { assert(p != null, "no MERGE plan reported"); p })
        .find(_.contains("MergeRows")).get
    } finally spark.listenerManager.unregister(listener)
  }

  /** File counts of every scan of `t` in `plan` (an adaptive plan prints
    * its final and its initial plan, so each scan shows twice). */
  private def scannedFiles(t: String, plan: String): Seq[Int] =
    s"LakeScan\\(${java.util.regex.Pattern.quote(t)}, (\\d+) files\\)".r
      .findAllMatchIn(plan).map(_.group(1).toInt).toSeq

  /** Runs `merge` (with `%t` for the table) on a MoR table and on its
    * copy-on-write twin (unpartitioned, so a wide rewrite stays a few
    * files); asserts both end equal and returns the MoR MERGE's
    * target-scan file counts and plan. */
  private def mergeBoth(p: String, merge: String): (Seq[Int], String) = {
    val (mor, cow) = (morTable(p), table(p, ""))
    val plan = mergePlan(merge.replace("%t", mor))
    spark.sql(merge.replace("%t", cow))
    assert(contents(mor) == contents(cow), "MoR MERGE must equal its copy-on-write twin")
    drop(mor); drop(cow)
    (scannedFiles(mor, plan), plan)
  }

  private def src(rows: String) = s"(SELECT * FROM VALUES $rows AS s(id, v)) s"

  private val Upsert =
    """ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET t.v = s.v
      |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin

  test("a VALUES MERGE with one matched and one fresh key scans at most one target file") {
    val t = morTable("one")
    assert(spark.sql(s"SELECT DISTINCT _file FROM $t").count() == Files)
    drop(t)
    val (files, plan) = mergeBoth("one",
      s"MERGE INTO %t t USING ${src("(7L, 'x'), (100000L, 'y')")} $Upsert")
    assert(files.nonEmpty && files.forall(_ <= 1), s"target scan not pruned: $files\n$plan")
  }

  test("a 20-key source keeps its In list and still bucket-prunes") {
    val t = morTable("twenty")
    // 20 keys from one file: they share its bucket
    val file = spark.sql(s"SELECT min(_file) FROM $t").head().getString(0)
    val keys = spark.sql(s"SELECT id FROM $t WHERE _file = '$file' ORDER BY id LIMIT 20")
      .collect().map(_.getLong(0))
    assert(keys.length == 20)
    drop(t)
    val values = keys.map(k => s"(${k}L, 'k$k')").mkString(", ")
    val (files, plan) = mergeBoth("twenty", s"MERGE INTO %t t USING ${src(values)} $Upsert")
    // one bucket, so one file; an InSet would not bucket-prune
    assert(files.nonEmpty && files.forall(_ <= 1), s"target scan not pruned: $files\n$plan")
    assert(plan.contains(" IN (") && !plan.contains("INSET"), s"expected an In filter:\n$plan")
  }

  test("WHEN NOT MATCHED BY SOURCE still scans every file") {
    val (files, _) = mergeBoth("bysrc",
      s"""MERGE INTO %t t USING ${src("(7L, 'x'), (100000L, 'y')")} $Upsert
         |WHEN NOT MATCHED BY SOURCE AND t.id < 100 THEN DELETE""".stripMargin)
    assert(files.nonEmpty && files.toSet == Set(Files), files)
  }

  test("NULL keys, an INT key against BIGINT and an over-bound source stay correct") {
    val (nullFiles, _) = mergeBoth("nul",
      s"MERGE INTO %t t USING ${src("(CAST(NULL AS BIGINT), 'n'), (9L, 'x')")} $Upsert")
    assert(nullFiles.nonEmpty && nullFiles.forall(_ <= 1), s"NULL key: $nullFiles")
    // the cast key is left alone: a full scan, same result
    val (castFiles, _) = mergeBoth("cast",
      s"MERGE INTO %t t USING ${src("(7, 'x'), (100000, 'y')")} $Upsert")
    assert(castFiles.nonEmpty && castFiles.toSet == Set(Files), castFiles)
    // a local DataFrame one row over the bound: no In list, same result
    val n = MergeSourceKeys.MaxSourceRows + 1
    spark.createDataFrame((0 until n).map(i => (i * 11L, s"big$i"))).toDF("id", "v")
      .createOrReplaceTempView("mkp_big")
    val (bigFiles, _) = mergeBoth("big", s"MERGE INTO %t t USING mkp_big s $Upsert")
    assert(bigFiles.nonEmpty && bigFiles.toSet == Set(Files), bigFiles)
    // a local DataFrame within the bound is pruned like a VALUES list
    spark.createDataFrame(Seq((5L, "a"), (3000L, "b"))).toDF("id", "v")
      .createOrReplaceTempView("mkp_small")
    val (smallFiles, _) = mergeBoth("small", s"MERGE INTO %t t USING mkp_small s $Upsert")
    assert(smallFiles.nonEmpty && smallFiles.forall(_ <= 1), s"local DataFrame: $smallFiles")
    spark.catalog.dropTempView("mkp_big"); spark.catalog.dropTempView("mkp_small")
  }

  test("copy-on-write MERGE and UPDATE on a bucketed table rewrite only the files they read") {
    // runtime group filtering prunes the storage-partitioned scan to the hit
    // bucket; the commit replaces that file alone, so the scan must read it alone
    val t = table("cow", bucketed())
    spark.sql(s"MERGE INTO $t t USING ${src("(7L, 'x'), (100000L, 'y')")} $Upsert")
    assert(spark.table(t).count() == 2001)
    spark.sql(s"UPDATE $t SET v = 'u' WHERE id = 8")
    assert(spark.table(t).count() == 2001)
    assert(spark.sql(s"SELECT v FROM $t WHERE id IN (7, 8, 100000) ORDER BY id").collect()
      .map(_.getString(0)).toSeq == Seq("x", "u", "y"))
    drop(t)
  }

  test("a lineage-preserving copy-on-write MERGE is pruned and keeps its _row_ids") {
    val t = table("lin", bucketed(", 'write.cow.preserve-lineage'='true'"))
    def ids = spark.sql(s"SELECT id, _row_id FROM $t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = ids
    val plan = mergePlan(
      s"MERGE INTO $t t USING ${src("(7L, 'x'), (100000L, 'y')")} $Upsert")
    val files = scannedFiles(t, plan)
    assert(files.nonEmpty && files.forall(_ <= 1), s"target scan not pruned: $files\n$plan")
    val after = ids
    assert(after.keySet == before.keySet + 100000L)
    assert(before.forall { case (k, rid) => after(k) == rid }, "updated and surviving rows keep _row_id")
    assert(!before.values.toSet.contains(after(100000L)), "the inserted row mints a fresh id")
    assert(spark.sql(s"SELECT v FROM $t WHERE id IN (7, 100000) ORDER BY id").collect()
      .map(_.getString(0)).toSeq == Seq("x", "y"))
    assert(spark.sql(s"SELECT * FROM lake.mkp.`${t.split('.').last}$$deletes`").count() == 0)
    drop(t)
  }
}
