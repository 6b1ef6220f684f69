package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._

/** Merge-on-read positional deletes (SupportsDelta) + `_file`/`_pos`
  * metadata columns. The reference's pointer-swap protocol commits ANY
  * metadata shape atomically (src/catalog/mod.rs:296-347); these tests
  * cover the delta shape: tombstone files that subtract rows at scan time
  * instead of rewriting data files at commit time.
  */
class MergeOnReadSpec extends AnyFunSuite {
  import TestSpark._

  private def uniq(p: String) = s"$p${System.nanoTime() % 1000000}"

  private def lakeStore: PointerStore =
    spark.sessionState.catalogManager.catalog("lake").asInstanceOf[LakeCatalog].pointerStore

  /** Fresh metadata for `lake.ns.name` straight from the pointer store. */
  private def lakeMeta(t: String): TableMeta = {
    val Array(cat, ns, name) = t.split('.')
    val c = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    c.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array(ns), name))
      .asInstanceOf[LakeTable].meta
  }

  /** Row counts of `path`'s row groups, from its footer. */
  private def rowGroupRows(path: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val r = PositionalParquet.openFooter(new org.apache.hadoop.fs.Path(path),
      spark.sessionState.newHadoopConf())
    try r.getFooter.getBlocks.asScala.map(_.getRowCount).toSeq finally r.close()
  }

  /** The lake scan's SQL metrics after `q` ran. */
  private def scanMetrics(q: org.apache.spark.sql.DataFrame): Map[String, Long] = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    q.collect()
    q.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
      .metrics.map { case (k, m) => k -> m.value }.toMap
  }

  test("_file/_pos metadata columns: queryable, unique per row, stable across files") {
    val t = s"lake.mor.${uniq("meta")}"
    spark.sql(s"CREATE TABLE $t (id INT, v STRING)")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 100)")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(100, 150)")

    val rows = spark.sql(s"SELECT id, _file, _pos FROM $t").collect()
    assert(rows.length == 150)
    // (file, pos) is a unique row id
    assert(rows.map(r => (r.getString(1), r.getLong(2))).distinct.length == 150)
    // at least two files (two commits), every _pos starts at 0 within its file
    val byFile = rows.groupBy(_.getString(1))
    assert(byFile.size >= 2)
    byFile.values.foreach { rs =>
      val ps = rs.map(_.getLong(2)).sorted
      assert(ps.head == 0L && ps.last == ps.length - 1, "positions are dense per file")
    }
    // data values still correct through the positional reader
    assert(rows.map(_.getInt(0)).sorted.sameElements(0 until 150))
    spark.sql(s"DROP TABLE $t")
  }

  test("merge-on-read DELETE: tombstones, no data file rewritten, correct rows") {
    val t = s"lake.mor.${uniq("del")}"
    spark.sql(s"CREATE TABLE $t (id INT, v STRING) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 1000)")
    val filesBefore = lakeMeta(t).currentFiles.map(_.path).toSet

    spark.sql(s"DELETE FROM $t WHERE id % 10 = 3")

    val meta = lakeMeta(t)
    // data files untouched — that's the whole point of merge-on-read
    assert(meta.currentFiles.map(_.path).toSet == filesBefore,
      "MoR delete must not rewrite data files")
    assert(meta.currentDeleteFiles.nonEmpty, "tombstone file(s) committed")
    assert(meta.snapshot(meta.currentSnapshotId).get.operation == "delta")

    // scan subtracts tombstones
    assert(spark.table(t).count() == 900)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE id % 10 = 3").collect()(0).getLong(0) == 0)
    // untouched rows intact, values correct
    assert(spark.sql(s"SELECT sum(id) FROM $t").collect()(0).getLong(0) ==
      (0 until 1000).filterNot(_ % 10 == 3).sum)

    // second MoR delete stacks on the first
    spark.sql(s"DELETE FROM $t WHERE id < 100")
    assert(spark.table(t).count() == 810) // 900 - 90 survivors of first delete under 100

    // time travel: pre-delete snapshot still reads all 1000 rows
    val v1 = meta.snapshots.head.snapshotId
    assert(spark.read.option("snapshot-id", v1.toString).table(t).count() == 1000)
    spark.sql(s"DROP TABLE $t")
  }

  test("merge-on-read UPDATE: delete+insert delta, values updated in place") {
    val t = s"lake.mor.${uniq("upd")}"
    spark.sql(s"CREATE TABLE $t (id INT, v STRING) TBLPROPERTIES ('write.update.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 500)")
    val filesBefore = lakeMeta(t).currentFiles.map(_.path).toSet

    spark.sql(s"UPDATE $t SET v = 'updated' WHERE id % 100 = 7")

    val meta = lakeMeta(t)
    // original files still present; new data files carry only the 5 updated rows
    assert(filesBefore.subsetOf(meta.currentFiles.map(_.path).toSet))
    assert(meta.currentDeleteFiles.nonEmpty)
    assert(spark.table(t).count() == 500, "update must not change row count")
    val updated = spark.sql(s"SELECT id FROM $t WHERE v = 'updated'").collect().map(_.getInt(0))
    assert(updated.sorted.sameElements(Array(7, 107, 207, 307, 407)))
    // non-matching rows untouched
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE v = concat('v', id)").collect()(0)
      .getLong(0) == 495)
    spark.sql(s"DROP TABLE $t")
  }

  test("merge-on-read MERGE INTO: matched update + not-matched insert") {
    val t = s"lake.mor.${uniq("mrg")}"
    spark.sql(s"CREATE TABLE $t (id INT, v STRING) TBLPROPERTIES ('write.merge.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 100)")
    spark.sql(
      s"""MERGE INTO $t USING (SELECT id FROM range(90, 110)) s
         |ON $t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = 'merged'
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, 'inserted')""".stripMargin)
    assert(spark.table(t).count() == 110)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE v = 'merged'").collect()(0).getLong(0) == 10)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE v = 'inserted'").collect()(0).getLong(0) == 10)
    assert(lakeMeta(t).currentDeleteFiles.nonEmpty)
    spark.sql(s"DROP TABLE $t")
  }

  test("MERGE INTO ... WHEN NOT MATCHED BY SOURCE: full-sync semantics (merge-on-read)") {
    val t = s"lake.mor.${uniq("sync")}"
    spark.sql(s"CREATE TABLE $t (id INT, v STRING) TBLPROPERTIES ('write.merge.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 100)")
    // source = [50, 120): rows in target but not source get deleted (sync),
    // matched rows update, new source rows insert — one atomic commit
    spark.sql(
      s"""MERGE INTO $t USING (SELECT id FROM range(50, 120)) s
         |ON $t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = 'synced'
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, 'new')
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(spark.table(t).count() == 70, "target must equal the source id range")
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE v = 'synced'").head().getLong(0) == 50)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE v = 'new'").head().getLong(0) == 20)
    assert(spark.sql(s"SELECT min(id) FROM $t").head().getInt(0) == 50)
    spark.sql(s"DROP TABLE $t")
  }

  test("MERGE INTO ... WHEN NOT MATCHED BY SOURCE THEN UPDATE (copy-on-write)") {
    val t = s"lake.mor.${uniq("syncu")}"
    spark.sql(s"CREATE TABLE $t (id INT, v STRING)") // default copy-on-write
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 100)")
    // mark rows missing from the source instead of deleting them
    spark.sql(
      s"""MERGE INTO $t USING (SELECT id FROM range(0, 40)) s
         |ON $t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = 'kept'
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'stale'""".stripMargin)
    assert(spark.table(t).count() == 100)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE v = 'kept'").head().getLong(0) == 40)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE v = 'stale'").head().getLong(0) == 60)
    spark.sql(s"DROP TABLE $t")
  }

  test("compaction folds tombstones: delete files dropped, rows unchanged, back on vectorized path") {
    val t = s"lake.mor.${uniq("cmp")}"
    spark.sql(s"CREATE TABLE $t (id INT, v STRING) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 1000)")
    spark.sql(s"DELETE FROM $t WHERE id % 7 = 0")
    val expect = (0 until 1000).filterNot(_ % 7 == 0)
    assert(spark.table(t).count() == expect.size)
    assert(lakeMeta(t).currentDeleteFiles.nonEmpty)

    LakeMaintenance.compact(spark, t)

    val meta = lakeMeta(t)
    assert(meta.currentDeleteFiles.isEmpty, "compaction must fold tombstones away")
    assert(spark.table(t).count() == expect.size)
    assert(spark.sql(s"SELECT sum(id) FROM $t").collect()(0).getLong(0) == expect.map(_.toLong).sum)
    // back on the vectorized path: scan plan no longer mentions positional rows
    val postCompactPlan = spark.table(t).queryExecution.executedPlan
    assert(postCompactPlan.toString.contains("LakeScan"))
    spark.sql(s"DROP TABLE $t")
  }

  test("copy-on-write DELETE on a tombstoned table folds the tombstones, no resurrection") {
    val t = s"lake.mor.${uniq("cow")}"
    spark.sql(s"CREATE TABLE $t (id INT, v STRING) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 400)")
    spark.sql(s"DELETE FROM $t WHERE id < 50") // MoR: tombstones
    assert(lakeMeta(t).currentDeleteFiles.nonEmpty)

    // switch to copy-on-write and delete a range overlapping the tombstoned
    // file — the rewrite must subtract the pending tombstones (NOT
    // resurrect ids 0-49), and tombstones for rewritten files fold away
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('write.delete.mode'='copy-on-write')")
    spark.sql(s"DELETE FROM $t WHERE id >= 90 AND id < 110")
    assert(spark.table(t).count() == 400 - 50 - 20)
    assert(spark.sql(s"SELECT min(id) FROM $t").collect()(0).getInt(0) == 50,
      "tombstoned ids 0-49 must not resurrect through the CoW rewrite")
    // every tombstone targeted a file the CoW delete rewrote → all folded
    assert(lakeMeta(t).currentDeleteFiles.isEmpty,
      "CoW rewrite of all tombstoned files must drop the folded delete files")
    spark.sql(s"DROP TABLE $t")
  }

  test("MoR delete commit fails if its target file was concurrently compacted away") {
    val t = s"lake.mor.${uniq("race")}"
    spark.sql(s"CREATE TABLE $t (id INT, v STRING) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 100)")
    val table = {
      val c = spark.sessionState.catalogManager.catalog("lake")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      val Array(_, ns, name) = t.split('.')
      c.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array(ns), name))
        .asInstanceOf[LakeTable]
    }
    // forge a delta commit whose target was already compacted away
    val target = table.meta.currentFiles.head.path
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(100, 200)")
    LakeMaintenance.compact(spark, t, smallFileBytes = Long.MaxValue)
    val batchWrite = new LakeDeltaBatchWrite(table,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE,
      table.meta.schema, lakeStore, new org.apache.hadoop.conf.Configuration())
    val msg = LakeDeltaCommitMessage(Nil,
      Seq(DataFileMeta(s"${table.meta.location}/deletes/fake.parquet", 1, 10,
        Map("file_path" -> target), Map("file_path" -> target))),
      Seq(target))
    intercept[CommitConflictException] {
      batchWrite.commit(Array(msg))
    }
    spark.sql(s"DROP TABLE $t")
  }

  test("t$deletes metadata table exposes pending tombstone files with target ranges") {
    val t = s"lake.mor.${uniq("mdd")}"
    spark.sql(s"CREATE TABLE $t (id INT, v STRING) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 300)")
    val Array(_, ns, name) = t.split('.')
    def deletesDf = spark.sql(s"SELECT * FROM lake.$ns.`$name$$deletes`")
    assert(deletesDf.collect().isEmpty)
    spark.sql(s"DELETE FROM $t WHERE id % 3 = 0")
    val rows = deletesDf.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_tombstones")).sum == 100)
    rows.foreach { r =>
      assert(r.getAs[String]("min_target_file").contains("/data/"))
      assert(r.getAs[String]("min_target_file") <= r.getAs[String]("max_target_file"))
    }
    // manifests table reports the deletes manifest with its content tag
    val kinds = spark.sql(s"SELECT content FROM lake.$ns.`$name$$manifests`")
      .collect().map(_.getString(0)).toSet
    assert(kinds == Set("data", "deletes"))
    spark.sql(s"DROP TABLE $t")
  }

  test("incremental/streaming reads reject ranges containing delta snapshots") {
    val t = s"lake.mor.${uniq("inc")}"
    spark.sql(s"CREATE TABLE $t (id INT, v STRING) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 100)")
    spark.sql(s"DELETE FROM $t WHERE id < 10") // delta snapshot 2
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(100, 200)")
    // range crossing the delta: must fail loudly, not silently lie
    val e = intercept[Exception] {
      spark.read.option("start-snapshot-id", "1").option("end-snapshot-id", "3")
        .table(t).count()
    }
    assert(e.getMessage.contains("delta") || e.getMessage.contains("incremental"))
    // append-only range after the delta is fine
    assert(spark.read.option("start-snapshot-id", "2").option("end-snapshot-id", "3")
      .table(t).count() == 100)
    spark.sql(s"DROP TABLE $t")
  }

  test("scan statistics subtract tombstones (broadcast sizing stays honest)") {
    val t = s"lake.mor.${uniq("st")}"
    spark.sql(s"CREATE TABLE $t (id INT, v STRING) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 1000)")
    spark.sql(s"DELETE FROM $t WHERE id >= 100")
    val table = {
      val c = spark.sessionState.catalogManager.catalog("lake")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      val Array(_, ns, name) = t.split('.')
      c.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array(ns), name))
        .asInstanceOf[LakeTable]
    }
    val scan = table.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of())).build()
    val stats = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(stats.numRows().getAsLong == 100,
      s"numRows must reflect live rows, got ${stats.numRows()}")
    spark.sql(s"DROP TABLE $t")
  }

  test("CDC changelog: inserts and deletes per commit, update = delete+insert") {
    val t = s"lake.mor.${uniq("cdc")}"
    spark.sql(s"CREATE TABLE $t (id INT, v STRING) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read','write.update.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 100)") // snap 1
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(100, 150)") // snap 2
    spark.sql(s"DELETE FROM $t WHERE id < 10") // snap 3 (delta)
    spark.sql(s"UPDATE $t SET v = 'u' WHERE id = 120") // snap 4 (delta: del+ins)

    val all = LakeMaintenance.changelog(spark, t, 0, 4).collect()
    val byType = all.groupBy(_.getAs[String]("_change_type")).view.mapValues(_.length).toMap
    assert(byType("insert") == 151, s"150 appended + 1 update-reinsert: $byType")
    assert(byType("delete") == 11, s"10 deleted + 1 update-tombstone: $byType")

    // per-commit slices
    val snap2 = LakeMaintenance.changelog(spark, t, 1, 2).collect()
    assert(snap2.length == 50 && snap2.forall(_.getAs[String]("_change_type") == "insert"))
    val snap3 = LakeMaintenance.changelog(spark, t, 2, 3).collect()
    assert(snap3.length == 10 && snap3.forall(_.getAs[String]("_change_type") == "delete"))
    assert(snap3.map(_.getAs[Int]("id")).sorted.sameElements(0 until 10))
    val snap4 = LakeMaintenance.changelog(spark, t, 3, 4).collect()
    assert(snap4.length == 2)
    val del = snap4.find(_.getAs[String]("_change_type") == "delete").get
    val ins = snap4.find(_.getAs[String]("_change_type") == "insert").get
    assert(del.getAs[Int]("id") == 120 && del.getAs[String]("v") == "v120",
      "the delete side carries the PRE-update row values")
    assert(ins.getAs[Int]("id") == 120 && ins.getAs[String]("v") == "u")

    // rewrites are not expressible: compaction in range must be rejected
    LakeMaintenance.compact(spark, t)
    val e = intercept[IllegalArgumentException] {
      LakeMaintenance.changelog(spark, t, 0, lakeMeta(t).currentSnapshotId).collect()
    }
    assert(e.getMessage.contains("rewrite") || e.getMessage.contains("compact"))
    spark.sql(s"DROP TABLE $t")
  }

  test("table_changes TVF: the changelog is plain SQL, end defaults to the head") {
    val t = s"lake.mor.${uniq("tvf")}"
    spark.sql(s"CREATE TABLE $t (id INT, v STRING) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 20)") // snap 1
    spark.sql(s"DELETE FROM $t WHERE id < 5") // snap 2 (delta)
    val slice = spark.sql(s"SELECT * FROM table_changes('$t', 1, 2)").collect()
    assert(slice.length == 5 && slice.forall(_.getAs[String]("_change_type") == "delete"))
    assert(slice.map(_.getAs[Int]("id")).sorted.sameElements(0 until 5))
    // 2-arg form reads to the current head; aggregates compose over it
    val counts = spark.sql(
      s"SELECT _change_type, count(*) AS n FROM table_changes('$t', 0) GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("insert" -> 20L, "delete" -> 5L), s"got $counts")
    spark.sql(s"DROP TABLE $t")
  }

  test("CDC changelog across a WAP cherry-pick counts staged rows exactly once") {
    val t = s"lake.mor.${uniq("wcp")}"
    spark.sql(s"CREATE TABLE $t (k BIGINT) TBLPROPERTIES ('wap.enabled'='true')")
    spark.sql(s"INSERT INTO $t VALUES (1)") // staged S1
    val s1 = lakeMeta(t).snapshots.last.snapshotId
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('wap.enabled')")
    spark.sql(s"INSERT INTO $t VALUES (10)") // direct append
    LakeMaintenance.publish(spark, t, s1) // cherry-pick
    val changes = LakeMaintenance.changelog(spark, t, 0, lakeMeta(t).currentSnapshotId)
      .collect()
    assert(changes.length == 2, s"staged row must appear once, got ${changes.toSeq}")
    assert(changes.map(_.getAs[Long]("k")).sorted.sameElements(Array(1L, 10L)))
    assert(changes.forall(_.getAs[String]("_change_type") == "insert"))
    spark.sql(s"DROP TABLE $t")
  }

  test("merge-on-read composes with RENAME COLUMN (column mapping)") {
    val t = s"lake.mor.${uniq("ren")}"
    spark.sql(s"CREATE TABLE $t (id INT, label STRING) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('L', id) FROM range(0, 100)")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN label TO tag")
    spark.sql(s"DELETE FROM $t WHERE tag = 'L5' OR id >= 90")
    assert(spark.table(t).count() == 89)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE tag = 'L5'").collect()(0).getLong(0) == 0)
    // positional reader resolves the physical column behind the new name
    val r = spark.sql(s"SELECT tag, _pos FROM $t WHERE id = 7").collect()
    assert(r.length == 1 && r(0).getString(0) == "L7" && r(0).getLong(1) == 7L)
    spark.sql(s"DROP TABLE $t")
  }

  test("merge-on-read on a PARTITIONED table: tombstones target only the hit partition") {
    val t = s"lake.mor.${uniq("part")}"
    spark.sql(s"CREATE TABLE $t (region INT, v BIGINT) PARTITIONED BY (region) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT CAST(id % 4 AS INT), id FROM range(400)")
    spark.sql(s"DELETE FROM $t WHERE region = 2 AND v < 100")
    val meta = lakeMeta(t)
    // every tombstoned file is a region=2 file (clustered writes ⇒
    // min==max on region; the delta scan pruned the rest)
    val region2Files = meta.currentFiles
      .filter(f => f.minValues.get("region").contains("2")).map(_.path).toSet
    meta.currentDeleteFiles.foreach { d =>
      val lo = d.minValues("file_path"); val hi = d.maxValues("file_path")
      assert(region2Files.exists(p => lo <= p && p <= hi),
        s"tombstones must target region=2 files only: $d")
      // and no file OUTSIDE region=2 can fall in the range
      val others = meta.currentFiles.map(_.path).toSet -- region2Files
      assert(!others.exists(p => lo <= p && p <= hi) || region2Files.isEmpty)
    }
    assert(spark.table(t).count() == 400 - 25)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE region = 2").collect()(0).getLong(0) ==
      100 - 25)
    spark.sql(s"DROP TABLE $t")
  }

  test("concurrent MoR deletes: both tombstone sets land via CAS rebase") {
    val t = s"lake.mor.${uniq("cc")}"
    spark.sql(s"CREATE TABLE $t (id INT, v STRING) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 1000)")
    // two racing delta deletes on disjoint predicates: neither replaces a
    // file, so both must commit (appends rebase; the loser retries its CAS)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq("id % 10 = 1", "id % 10 = 2").map { pred =>
      new Thread(() =>
        try spark.sql(s"DELETE FROM $t WHERE $pred")
        catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"both MoR deletes must commit: ${errs.toArray.mkString}")
    assert(spark.table(t).count() == 800)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE id % 10 IN (1, 2)")
      .collect()(0).getLong(0) == 0)
    val meta = lakeMeta(t)
    assert(meta.snapshots.count(_.operation == "delta") == 2)
    spark.sql(s"DROP TABLE $t")
  }

  test("degenerate projections on tombstoned tables: count(*), meta-only, full-row") {
    val t = s"lake.mor.${uniq("proj")}"
    spark.sql(s"CREATE TABLE $t (id INT, v STRING) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 200)")
    spark.sql(s"DELETE FROM $t WHERE id % 4 = 0")
    // empty data projection (count star) through positional readers
    assert(spark.sql(s"SELECT count(*) FROM $t").collect()(0).getLong(0) == 150)
    // metadata-only projection
    assert(spark.sql(s"SELECT _pos FROM $t").count() == 150)
    // full row + both metadata columns
    val r = spark.sql(s"SELECT *, _file, _pos FROM $t WHERE id = 9").collect()
    assert(r.length == 1 && r(0).getInt(0) == 9 && r(0).getString(2).nonEmpty)
    spark.sql(s"DROP TABLE $t")
  }

  test("positional reader preserves rich types: timestamp, decimal, array, nulls") {
    val t = s"lake.mor.${uniq("typ")}"
    spark.sql(s"CREATE TABLE $t (id INT, ts TIMESTAMP, price DECIMAL(18,6), " +
      s"emb ARRAY<FLOAT>, note STRING) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(
      s"""INSERT INTO $t SELECT CAST(id AS INT),
         |  timestamp'2024-03-01 10:00:00' + make_interval(0,0,0,0,0,0,id),
         |  CAST(id AS DECIMAL(18,6)) / 7,
         |  array(CAST(id AS FLOAT), CAST(id*2 AS FLOAT)),
         |  CASE WHEN id % 3 = 0 THEN NULL ELSE concat('n', id) END
         |FROM range(0, 50)""".stripMargin)
    spark.sql(s"DELETE FROM $t WHERE id % 5 = 0") // forces positional reads
    val rows = spark.sql(s"SELECT id, ts, price, emb, note, _pos FROM $t WHERE id = 13")
      .collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getTimestamp(1).toInstant.toString == "2024-03-01T10:00:13Z")
    assert(r.getDecimal(2) == new java.math.BigDecimal("1.857143"))
    assert(r.getSeq[Float](3) == Seq(13.0f, 26.0f))
    assert(r.getString(4) == "n13" && r.getLong(5) >= 0L) // _pos is per-FILE
    // nulls survive, deleted rows gone, aggregate over decimal exact
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE note IS NULL").collect()(0).getLong(0) ==
      (0 until 50).count(i => i % 3 == 0 && i % 5 != 0))
    spark.sql(s"DROP TABLE $t")
  }

  test("split-parallel positional reads: a multi-row-group dirty file reads as many tasks") {
    val t = s"lake.mor.${uniq("split")}"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read'," +
      "'write.parquet.row-group-size-bytes'='65536')")
    // ONE data file (single write task), many small row groups
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, " +
      "concat('v', repeat('x', 64), id) FROM range(0, 100000)")
    val meta0 = lakeMeta(t)
    assert(meta0.currentFiles.size == 1, s"${meta0.currentFiles.size} files")
    val file = meta0.currentFiles.head
    val layout = rowGroupRows(file.path)
    assert(layout.size >= 4, s"need a multi-row-group file, got ${layout.size} groups")
    assert(layout.sum == 100000L)

    spark.sql(s"DELETE FROM $t WHERE id % 97 = 0") // tombstones across every group
    val expect = (0L until 100000L).filterNot(_ % 97 == 0)

    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes",
        math.max(file.sizeBytes / 4, 1L).toString)
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      val df = spark.table(t)
      val parts = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
        .flatMap(_.inputPartitions)
      val posParts = parts.collect { case p: MorInputPartition if p.dataPath.nonEmpty => p }
      assert(posParts.size >= 4,
        s"dirty file must read split-parallel, got ${posParts.size} positional partition(s)")
      assert(posParts.map(p => (p.inner.files.head.start, p.inner.files.head.length))
        .distinct.size == posParts.size)
      // row-group-level parallelism with EXACT positions: the file was
      // written in id order, so every live row must satisfy _pos == id —
      // any split whose footer-derived start position is off by even one
      // row breaks this (and the tombstone alignment counted next)
      assert(df.count() == expect.size)
      assert(spark.sql(s"SELECT count(*) FROM $t WHERE id <> _pos").head().getLong(0) == 0,
        "per-split start positions must reproduce whole-file row ordinals")
      assert(spark.sql(s"SELECT sum(id) FROM $t").head().getLong(0) == expect.sum)
      assert(spark.sql(s"SELECT count(*) FROM $t WHERE id % 97 = 0").head().getLong(0) == 0,
        "tombstones must land in the split that owns their position")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    spark.sql(s"DROP TABLE $t")
  }

  test("pushed filters prune row groups inside positional reads; positions stay exact") {
    val t = s"lake.mor.${uniq("rgp")}"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read'," +
      "'write.parquet.row-group-size-bytes'='65536')")
    // id-ordered single file: each row group covers a contiguous id range,
    // so a narrow range predicate is provably outside most groups
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, " +
      "concat('v', repeat('x', 64), id) FROM range(0, 100000)")
    spark.sql(s"DELETE FROM $t WHERE id % 97 = 0") // dirty → positional reads
    val groupRows = rowGroupRows(lakeMeta(t).currentFiles.head.path)
    val nGroups = groupRows.size
    assert(nGroups >= 4)

    val q = spark.sql(s"SELECT id, _pos FROM $t WHERE id BETWEEN 50000 AND 50100")
    val rows = q.collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = (50000L to 50100L).filterNot(_ % 97 == 0)
    assert(rows.map(_._1).sorted.sameElements(expect), s"got ${rows.length} rows")
    // positions survive group skipping: the file is id-ordered, so _pos == id
    assert(rows.forall { case (id, p) => id == p },
      "skipped row groups must not shift the position counter")
    // the groups the range misses are pruned: the scan reads at most the
    // two groups a ~100-id range can span
    val m = scanMetrics(q)
    assert(m("numOutputRows") + m("tombstonedRows") <= 2 * groupRows.max,
      s"a ~100-id range over $nGroups groups must prune most of them, read $m")
    // an unfiltered aggregate still sees every live row (no over-pruning)
    assert(spark.table(t).count() == 100000 - (0L until 100000L).count(_ % 97 == 0))
    spark.sql(s"DROP TABLE $t")
  }

  test("MoR scans stay VECTORIZED: dirty flat files read columnar batches") {
    // flat schema: the tombstoned file must NOT knock the scan off the
    // vectorized path (ColumnarToRow above the scan = batches flowed)
    val t = s"lake.mor.${uniq("vec")}"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING, d DOUBLE) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id), id * 0.5 FROM range(0, 5000)")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id), id * 0.5 FROM range(5000, 10000)")
    spark.sql(s"DELETE FROM $t WHERE id % 3 = 0") // dirties SOME files
    val q = spark.sql(s"SELECT sum(id) AS s, count(*) AS n, max(v) AS m FROM $t")
    val r = q.collect().head
    // AQE inserts columnar transitions at stage creation — the FINAL plan
    // shows whether batches actually flowed
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"dirty flat scan must stay vectorized:\n$plan")
    val expect = (0L until 10000L).filterNot(_ % 3 == 0)
    assert(r.getLong(1) == expect.size && r.getLong(0) == expect.sum)
    assert(r.getString(2) == expect.map(i => s"v$i").max)
    // _file/_pos ride the columnar path too (constant + position vectors):
    // (file, pos) unique, and within a file positions follow id order
    // (each insert task wrote a contiguous id range in order). Exact
    // per-split position values are pinned by the REPARTITION(1) test.
    val mp = spark.sql(s"SELECT id, _file, _pos FROM $t WHERE id >= 4000 AND id < 6000")
      .collect()
    assert(mp.length == expect.count(i => i >= 4000 && i < 6000))
    assert(mp.map(r => (r.getString(1), r.getLong(2))).distinct.length == mp.length)
    mp.groupBy(_.getString(1)).values.foreach { rs =>
      val byId = rs.sortBy(_.getLong(0)).map(_.getLong(2))
      assert(byId.sameElements(byId.sorted),
        "_pos must stay monotone in id within a file through columnar batches")
    }

    spark.sql(s"DROP TABLE $t")
  }

  test("columnar MoR handles NESTED schemas: tombstoned array/struct/map files stay vectorized") {
    // r10 (VERDICT r9 #6): an embeddings-style table (array<float>) taking
    // MoR deletes used to pay the row-reader tax; the compaction copy is
    // now recursive (append-based), so nested schemas stay on the
    // vectorized path with hash-identical answers.
    val t = s"lake.mor.${uniq("vecnest")}"
    spark.sql(s"CREATE TABLE $t (id BIGINT, emb ARRAY<FLOAT>, " +
      "tags MAP<STRING, BIGINT>, st STRUCT<a: BIGINT, b: STRING>, " +
      "aa ARRAY<ARRAY<BIGINT>>) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    // nulls at every level: null array, null element, null struct, null
    // struct FIELD, null map — each exercises a distinct append path (a
    // null struct in particular must pad its children or every later row
    // shifts by one)
    spark.sql(s"""INSERT INTO $t SELECT id,
      IF(id % 11 = 3, NULL, array(CAST(id AS FLOAT), IF(id % 13 = 4, NULL, CAST(id * 2 AS FLOAT)))),
      IF(id % 7 = 5, NULL, map(concat('k', id % 3), id)),
      IF(id % 17 = 6, NULL, named_struct('a', id * 10, 'b', IF(id % 19 = 7, NULL, concat('s', id)))),
      array(array(id), IF(id % 23 = 8, NULL, array(id + 1, id + 2)))
      FROM range(0, 20000)""")
    spark.sql(s"DELETE FROM $t WHERE id % 7 = 0") // dirty -> compaction runs
    val q = spark.sql(s"SELECT id, emb, tags, st, aa FROM $t")
    val rows = q.collect()
    assert(q.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      s"nested MoR scan must stay vectorized:\n${q.queryExecution.executedPlan}")
    val keep = (0L until 20000L).filterNot(_ % 7 == 0)
    assert(rows.length == keep.size)
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    keep.foreach { i =>
      val r = byId(i)
      if (i % 11 == 3) assert(r.isNullAt(1))
      else {
        val e = r.getSeq[Any](1)
        assert(e.head == i.toFloat && (if (i % 13 == 4) e(1) == null else e(1) == (i * 2).toFloat),
          s"row $i emb=$e")
      }
      if (i % 7 == 5) assert(r.isNullAt(2))
      else assert(r.getMap[String, Long](2) == Map(s"k${i % 3}" -> i), s"row $i tags")
      if (i % 17 == 6) assert(r.isNullAt(3))
      else {
        val st = r.getStruct(3)
        assert(st.getLong(0) == i * 10 &&
          (if (i % 19 == 7) st.isNullAt(1) else st.getString(1) == s"s$i"), s"row $i st")
      }
      val aa = r.getSeq[scala.collection.Seq[Long]](4)
      assert(aa.head == Seq(i) &&
        (if (i % 23 == 8) aa(1) == null else aa(1) == Seq(i + 1, i + 2)), s"row $i aa")
    }
    // answers hash-identical to the row reader (the A/B semantics pin)
    val colSum = spark.sql(s"SELECT sum(st.a) AS s, sum(size(emb)) AS e FROM $t").head()
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    try {
      spark.sql(s"REFRESH TABLE $t")
      val rowRows = spark.sql(s"SELECT id, emb, tags, st, aa FROM $t").collect()
      assert(rowRows.map(_.toString).sorted.sameElements(rows.map(_.toString).sorted),
        "columnar and row positional readers must agree bit-for-bit")
      val rowSum = spark.sql(s"SELECT sum(st.a) AS s, sum(size(emb)) AS e FROM $t").head()
      assert(rowSum == colSum)
    } finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    spark.sql(s"DROP TABLE $t")
  }

  test("columnar MoR handles decimals: int-, long- and bytes-backed precisions") {
    val t = s"lake.mor.${uniq("vecdec")}"
    spark.sql(s"CREATE TABLE $t (id BIGINT, p9 DECIMAL(9,2), p18 DECIMAL(18,6), " +
      s"p38 DECIMAL(38,10)) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS DECIMAL(9,2)) / 4, " +
      "CAST(id AS DECIMAL(18,6)) / 7, CAST(id AS DECIMAL(38,10)) / 3 FROM range(0, 2000)")
    spark.sql(s"DELETE FROM $t WHERE id % 5 = 2") // dirty → batch compaction runs
    val q = spark.sql(s"SELECT sum(p9) AS a, sum(p18) AS b, sum(p38) AS c, " +
      s"count(*) AS n FROM $t")
    val r = q.collect().head
    assert(q.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "flat decimal schema must stay vectorized")
    val keep = (0L until 2000L).filterNot(_ % 5 == 2)
    assert(r.getLong(3) == keep.size)
    assert(r.getDecimal(0) == new java.math.BigDecimal(
      keep.map(i => BigDecimal(i).setScale(2) / 4).sum.setScale(2, BigDecimal.RoundingMode.HALF_UP).toString))
    // spot-check a single surviving row through the compacted batch
    val one = spark.sql(s"SELECT p18, p38 FROM $t WHERE id = 13").collect().head
    assert(one.getDecimal(0) == new java.math.BigDecimal("1.857143"))
    assert(one.getDecimal(1) == new java.math.BigDecimal("4.3333333333"))
    spark.sql(s"DROP TABLE $t")
  }

  test("scan metrics report delete debt: tombstoned rows, pruned groups, batch split") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val t = s"lake.mor.${uniq("met")}"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read'," +
      "'write.parquet.row-group-size-bytes'='65536')")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, " +
      "concat('v', repeat('x', 64), id) FROM range(0, 50000)")
    spark.sql(s"DELETE FROM $t WHERE id % 100 = 1")
    def metricsOf(q: org.apache.spark.sql.DataFrame): Map[String, Long] = {
      q.collect()
      val scan = q.queryExecution.executedPlan
        .collect { case b: BatchScanExec => b }.head
      scan.metrics.map { case (k, m) => k -> m.value }.toMap
    }
    // unfiltered scan: all 500 tombstones skipped, batches mostly dirty
    // only where tombstones land (1% spread → every batch has some)
    val m1 = metricsOf(spark.table(t).select("id", "v"))
    assert(m1("tombstonedRows") == 500L, s"got $m1")
    assert(m1("batchesPassthrough") + m1("batchesCompacted") > 0, s"got $m1")
    // a narrow range prunes most row groups: it reads at most the two it spans
    val m2 = metricsOf(spark.table(t).where("id BETWEEN 1000 AND 1199").select("id"))
    val groupRows = rowGroupRows(lakeMeta(t).currentFiles.head.path)
    assert(m2("numOutputRows") + m2("tombstonedRows") <= 2 * groupRows.max, s"got $m2")
    assert(m2("tombstonedRows") > 0 && m2("tombstonedRows") < 50,
      s"only the SURVIVING groups' tombstones count, got $m2")
    spark.sql(s"DROP TABLE $t")
  }

  test("MoR DELETE matching nothing commits no snapshot") {
    val t = s"lake.mor.${uniq("noop")}"
    spark.sql(s"CREATE TABLE $t (id INT) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(0, 10)")
    val before = lakeMeta(t).currentSnapshotId
    spark.sql(s"DELETE FROM $t WHERE id > 1000")
    assert(lakeMeta(t).currentSnapshotId == before, "empty delta must not commit")
    assert(spark.table(t).count() == 10)
    spark.sql(s"DROP TABLE $t")
  }

  test("metadata columns survive filters and projections") {
    val t = s"lake.mor.${uniq("metaf")}"
    spark.sql(s"CREATE TABLE $t (id INT, v STRING)")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 50)")
    val rows = spark.sql(s"SELECT _pos, v FROM $t WHERE id >= 40").collect()
    assert(rows.length == 10)
    assert(rows.map(_.getString(1)).toSet == (40 until 50).map(i => s"v$i").toSet)
    spark.sql(s"DROP TABLE $t")
  }

  test("input_file_name() names the file on merge-on-read reads") {
    val t = s"lake.mor.${uniq("ifn")}"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING, n INT) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('a', id), 1 FROM range(0, 1000)")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('b', id), 1 FROM range(1000, 2000)")
    def qualified(p: String): String = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(path).toUri.toString
    }
    val Seq(first, second) = lakeMeta(t).currentFiles.sortBy(_.firstRowId).map(f => qualified(f.path))
    def rowsByName(sql: String): Map[String, Long] =
      spark.sql(sql).collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    spark.sql(s"DELETE FROM $t WHERE k = 5") // tombstones the first file
    assert(rowsByName(s"SELECT input_file_name(), count(*) FROM $t GROUP BY 1") ==
      Map(first -> 999L, second -> 1000L), "a tombstoned file")
    assert(rowsByName(s"SELECT input_file_name(), count(_pos) FROM $t GROUP BY 1") ==
      Map(first -> 999L, second -> 1000L), "a _pos read")

    // an upsert epoch writes equality deletes for its keys: the older
    // files keep their rows minus the overwritten ones, the new file the rest
    graft.catalog.ScanPlanningSpec.upsert(t, Seq((1500L until 1510L).map(k => UpsRow(k, s"c$k", 2))))
    val eq = rowsByName(s"SELECT input_file_name(), count(*) FROM $t WHERE n = 1 GROUP BY 1")
    assert(eq == Map(first -> 999L, second -> 990L), "an equality-deleted file")
    spark.sql(s"DROP TABLE $t")
  }
}
