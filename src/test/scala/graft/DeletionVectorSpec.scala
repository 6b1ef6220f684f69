package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._

/** Deletion vectors (`write.delete.format = 'dv'`) — Iceberg v3's
  * positional-delete representation: per-target roaring bitmaps in shared
  * container files, exact per-target coverage in metadata. Every MoR
  * behavior must hold bit-identically under either representation.
  */
class DeletionVectorSpec extends AnyFunSuite {
  import TestSpark._

  private def uniq(p: String) = s"$p${System.nanoTime() % 1000000}"

  private def lakeMeta(t: String): TableMeta = {
    val Array(cat, ns, name) = t.split('.')
    spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array(ns), name))
      .asInstanceOf[LakeTable].meta
  }

  private def dvTable(nameHint: String, rows: Int = 1000): String = {
    val t = s"lake.dv.${uniq(nameHint)}"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dv")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read','write.update.mode'='merge-on-read'," +
      "'write.delete.format'='dv')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, ${rows / 2})")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(${rows / 2}, $rows)")
    t
  }

  test("DV delete: bitmap entries committed, values exact, vectorized scan, time travel") {
    val t = dvTable("rt")
    spark.sql(s"DELETE FROM $t WHERE id % 10 = 3")
    val meta = lakeMeta(t)
    val dels = meta.currentDeleteFiles
    assert(dels.nonEmpty && dels.forall(_.isDv), s"expected DV entries: $dels")
    assert(dels.forall(_.path.endsWith(".dv")))
    // exact per-target coverage: every entry names one live data file
    val live = meta.currentFiles.map(_.path).toSet
    assert(dels.forall(d => live.contains(d.minValues("file_path"))))
    assert(dels.map(_.rowCount).sum == 100, "bitmap cardinality = deleted rows")
    // answers
    val expect = (0L until 1000L).filterNot(_ % 10 == 3)
    assert(spark.table(t).count() == expect.size)
    assert(spark.sql(s"SELECT sum(id) FROM $t").head().getLong(0) == expect.sum)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE id % 10 = 3").head().getLong(0) == 0)
    // flat schema stays vectorized under DVs too
    val q = spark.sql(s"SELECT sum(id) AS s FROM $t")
    q.collect()
    assert(q.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    // (file, _pos) stays a unique row id; time travel shows the
    // pre-delete snapshot
    val ids = spark.sql(s"SELECT _file, _pos FROM $t").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(ids.distinct.length == expect.size)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 2").head().getLong(0) == 1000)
    spark.sql(s"DROP TABLE $t")
  }

  test("DV UPDATE and stacked deletes: second bitmap unions with the first") {
    val t = dvTable("upd")
    spark.sql(s"DELETE FROM $t WHERE id < 100")
    spark.sql(s"UPDATE $t SET v = 'u' WHERE id % 100 = 7") // delete+insert delta
    spark.sql(s"DELETE FROM $t WHERE id >= 900")
    assert(spark.table(t).count() == 800)
    val upd = spark.sql(s"SELECT id FROM $t WHERE v = 'u'").collect().map(_.getLong(0)).sorted
    assert(upd.sameElements((100L until 900L).filter(_ % 100 == 7)))
    assert(spark.sql(s"SELECT min(id) FROM $t").head().getLong(0) == 100)
    spark.sql(s"DROP TABLE $t")
  }

  test("mixed history: parquet tombstones then DVs apply together") {
    val t = s"lake.dv.${uniq("mix")}"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dv")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read')") // parquet deletes first
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 600)")
    spark.sql(s"DELETE FROM $t WHERE id % 3 = 0")
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('write.delete.format'='dv')")
    spark.sql(s"DELETE FROM $t WHERE id % 5 = 1")
    val meta = lakeMeta(t)
    assert(meta.currentDeleteFiles.exists(_.isDv) &&
      meta.currentDeleteFiles.exists(!_.isDv), "both representations present")
    val expect = (0L until 600L).filterNot(i => i % 3 == 0 || i % 5 == 1)
    assert(spark.table(t).count() == expect.size)
    assert(spark.sql(s"SELECT sum(id) FROM $t").head().getLong(0) == expect.sum)
    spark.sql(s"DROP TABLE $t")
  }

  test("compaction folds DVs away; containers with live entries survive partial rewrites") {
    val t = dvTable("cmp")
    spark.sql(s"DELETE FROM $t WHERE id % 7 = 0")
    assert(lakeMeta(t).currentDeleteFiles.nonEmpty)
    LakeMaintenance.compact(spark, t)
    val meta = lakeMeta(t)
    assert(meta.currentDeleteFiles.isEmpty, "compaction must fold DVs away")
    val expect = (0L until 1000L).filterNot(_ % 7 == 0)
    assert(spark.table(t).count() == expect.size)
    assert(spark.sql(s"SELECT sum(id) FROM $t").head().getLong(0) == expect.sum)
    spark.sql(s"DROP TABLE $t")
  }

  test("CoW DELETE on a DV-tombstoned table folds without resurrection") {
    val t = dvTable("cow")
    spark.sql(s"DELETE FROM $t WHERE id < 50") // DV tombstones
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('write.delete.mode'='copy-on-write')")
    spark.sql(s"DELETE FROM $t WHERE id >= 400 AND id < 450")
    assert(spark.table(t).count() == 1000 - 50 - 50)
    assert(spark.sql(s"SELECT min(id) FROM $t").head().getLong(0) == 50,
      "DV-tombstoned ids must not resurrect through the CoW rewrite")
    spark.sql(s"DROP TABLE $t")
  }

  test("rewrite_position_delete_files consolidates DVs and converts parquet history") {
    val t = s"lake.dv.${uniq("cons")}"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dv")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 1000)")
    spark.sql(s"DELETE FROM $t WHERE id % 11 = 0") // parquet tombstones
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('write.delete.format'='dv')")
    spark.sql(s"DELETE FROM $t WHERE id % 11 = 1") // DV tombstones
    val before = spark.table(t).count()
    val res = spark.sql(s"CALL lake.system.rewrite_position_delete_files('dv.${t.split('.').last}')")
      .collect().head
    assert(res.getInt(1) > 0, s"rewrite must emit consolidated entries: $res")
    val meta = lakeMeta(t)
    assert(meta.currentDeleteFiles.nonEmpty && meta.currentDeleteFiles.forall(_.isDv),
      "consolidation under write.delete.format=dv must CONVERT parquet tombstones " +
        s"to DVs: ${meta.currentDeleteFiles.map(d => (d.path, d.isDv))}")
    assert(spark.table(t).count() == before, "consolidation is read-invisible")
    val expect = (0L until 1000L).filterNot(i => i % 11 == 0 || i % 11 == 1)
    assert(spark.sql(s"SELECT sum(id) FROM $t").head().getLong(0) == expect.sum)
    spark.sql(s"DROP TABLE $t")
  }

  test("CDC changelog reads the deleted side out of DVs") {
    val t = dvTable("cdc", rows = 200)
    spark.sql(s"DELETE FROM $t WHERE id < 10")
    val changes = LakeMaintenance.changelog(spark, t, 2, lakeMeta(t).currentSnapshotId)
      .collect()
    assert(changes.length == 10 && changes.forall(_.getAs[String]("_change_type") == "delete"))
    assert(changes.map(_.getAs[Long]("id")).sorted.sameElements(0L until 10L))
    spark.sql(s"DROP TABLE $t")
  }

  test("split-parallel + row-group pruning operate on DV tombstones too") {
    val t = s"lake.dv.${uniq("split")}"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dv")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read','write.delete.format'='dv'," +
      "'write.parquet.row-group-size-bytes'='65536')")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, " +
      "concat('v', repeat('x', 64), id) FROM range(0, 60000)")
    spark.sql(s"DELETE FROM $t WHERE id % 97 = 0")
    assert(lakeMeta(t).currentDeleteFiles.forall(_.isDv))
    val expect = (0L until 60000L).filterNot(_ % 97 == 0)
    assert(spark.table(t).count() == expect.size)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE id <> _pos").head().getLong(0) == 0,
      "footer-exact positions must align with DV bitmaps across splits")
    val q = spark.sql(s"SELECT id FROM $t WHERE id BETWEEN 30000 AND 30100")
    val r = q.collect()
    assert(r.length == expect.count(i => i >= 30000 && i <= 30100))
    // the groups the range misses are pruned: the scan reads at most the
    // two groups a ~100-id range can span
    val groupRows = {
      import scala.jdk.CollectionConverters._
      val f = PositionalParquet.openFooter(new org.apache.hadoop.fs.Path(
        lakeMeta(t).currentFiles.head.path), spark.sessionState.newHadoopConf())
      try f.getFooter.getBlocks.asScala.map(_.getRowCount) finally f.close()
    }
    assert(groupRows.size > 2)
    val m = q.queryExecution.executedPlan
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }.head
      .metrics.map { case (k, v) => k -> v.value }
    assert(m("numOutputRows") + m("tombstonedRows") <= 2 * groupRows.max, s"read $m")
    spark.sql(s"DROP TABLE $t")
  }

  test("expire + orphan cleanup handle DV containers: live kept, folded reclaimed") {
    val t = dvTable("exp", 400)
    spark.sql(s"DELETE FROM $t WHERE id % 4 = 0")
    val container = lakeMeta(t).currentDeleteFiles.head.path
    assert(container.endsWith(".dv"))
    val p = new org.apache.hadoop.fs.Path(container)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // orphan removal must KEEP the referenced container (age guard off)
    LakeMaintenance.removeOrphanFiles(spark, t, olderThanMs = 0L)
    assert(fs.exists(p), "live DV container must survive orphan removal")
    // compaction folds the DVs; expiring the old snapshots reclaims it
    LakeMaintenance.compact(spark, t)
    assert(lakeMeta(t).currentDeleteFiles.isEmpty)
    LakeMaintenance.expireSnapshots(spark, t, keepLast = 1)
    assert(!fs.exists(p), "folded DV container must be reclaimed by expiration")
    assert(spark.table(t).count() == 300)
    assert(spark.sql(s"SELECT sum(id) FROM $t").head().getLong(0) ==
      (0L until 400L).filterNot(_ % 4 == 0).sum)
    spark.sql(s"DROP TABLE $t")
  }

  test("DV container round-trip unit: offsets, range extraction, multi-target") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dv").toString
    val conf = spark.sessionState.newHadoopConf()
    val w = new DvContainerWriter(dir, "t", conf)
    val bm1 = new org.roaringbitmap.longlong.Roaring64Bitmap()
    Seq(1L, 5L, 1000000L, 8589934592L).foreach(bm1.addLong) // past 2^33
    val bm2 = new org.roaringbitmap.longlong.Roaring64Bitmap()
    (0L until 10000L by 3).foreach(bm2.addLong)
    w.add("fileA", bm1)
    w.add("fileB", bm2)
    val entries = w.commit()
    assert(entries.length == 2)
    assert(entries.map(_.path).distinct.size == 1, "one shared container")
    assert(entries(0).rowCount == 4 && entries(1).rowCount == 3334)
    val r1 = DeletionVectors.readBitmap(entries(0).path, entries(0).dvOffset,
      entries(0).dvLength, conf)
    assert(r1.contains(8589934592L) && r1.contains(1L) && !r1.contains(2L))
    val r2 = DeletionVectors.readBitmap(entries(1).path, entries(1).dvOffset,
      entries(1).dvLength, conf)
    assert(DeletionVectors.positionsInRange(r2, 9000L, 9010L)
      .sameElements(Array(9000L, 9003L, 9006L, 9009L)))
  }
}
