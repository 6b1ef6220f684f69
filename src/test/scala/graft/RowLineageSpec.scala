package graft

import org.scalatest.funsuite.AnyFunSuite

/** Row lineage (Iceberg v3): every committed data file reserves a
  * contiguous id range from the table's high-water mark, so
  * `_row_id = first_row_id + _pos` is a pure-metadata read;
  * `_last_updated_seq` is the commit sequence that produced the row.
  * Identity-preserving rewrites (compaction, z-order, CoW DELETE)
  * materialize both as [[graft.catalog.RowLineage]] columns, NULL
  * inheriting the file's range/sequence.
  */
class RowLineageSpec extends AnyFunSuite {
  import TestSpark._

  private def uniq(p: String) = s"$p${System.nanoTime() % 1000000}"
  private def tbl(p: String): String = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.rl")
    s"lake.rl.${uniq(p)}"
  }
  private def filesOf(t: String) = {
    val Array(c, ns, n) = t.split('.')
    spark.sql(s"SELECT path, row_count, first_row_id, lineage_cols FROM $c.$ns.`$n$$files`")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3)))
  }

  test("appends reserve contiguous disjoint id ranges; _row_id = base + pos") {
    val t = tbl("asg")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('a', id) FROM range(0, 100)")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('b', id) FROM range(100, 150)")
    val fs = filesOf(t)
    assert(fs.length == 2 && fs.forall(_._3 > 0), s"every file assigned: ${fs.toSeq}")
    // ranges are disjoint and cover exactly rowCount each
    val ranges = fs.map(f => (f._3, f._3 + f._2)).sortBy(_._1)
    assert(ranges.sliding(2).forall { case Array((_, e1), (s2, _)) => s2 >= e1; case _ => true })
    // ids are unique across the table and equal base + pos
    val rows = spark.sql(s"SELECT _row_id, _file, _pos FROM $t").collect()
    assert(rows.length == 150 && rows.forall(!_.isNullAt(0)))
    assert(rows.map(_.getLong(0)).distinct.length == 150)
    val baseOf = fs.map(f => (f._1, f._3)).toMap
    assert(rows.forall(r => r.getLong(0) == baseOf(r.getString(1)) + r.getLong(2)))
    spark.sql(s"DROP TABLE $t")
  }

  test("_last_updated_seq is the producing commit; MoR DELETE keeps survivor ids") {
    val t = tbl("mor")
    spark.sql(s"CREATE TABLE $t (k BIGINT) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id FROM range(0, 100)")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id FROM range(100, 200)")
    val seqs = spark.sql(s"SELECT DISTINCT _last_updated_seq FROM $t")
      .collect().map(_.getLong(0)).sorted
    assert(seqs.length == 2 && seqs(0) < seqs(1), s"per-commit sequences: ${seqs.toSeq}")
    val before = spark.sql(s"SELECT k, _row_id FROM $t WHERE k % 7 <> 0")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    spark.sql(s"DELETE FROM $t WHERE k % 7 = 0")
    val after = spark.sql(s"SELECT k, _row_id FROM $t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after == before, "tombstoning must not move surviving rows' ids")
    spark.sql(s"DROP TABLE $t")
  }

  test("row and columnar MoR paths agree on lineage values") {
    val t = tbl("rc")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('x', id) FROM range(0, 500)")
    spark.sql(s"DELETE FROM $t WHERE k % 9 = 0")
    def read() = spark.sql(s"SELECT k, _row_id, _last_updated_seq FROM $t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val columnar = read()
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    try {
      val rowMode = read()
      assert(columnar == rowMode)
    } finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    assert(columnar.length == 500 - 56)
    spark.sql(s"DROP TABLE $t")
  }

  test("materialized-lineage files stay VECTORIZED: row/columnar agree, plan keeps ColumnarToRow") {
    val t = tbl("rcm")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('x', id) FROM range(0, 400)")
    spark.sql(s"DELETE FROM $t WHERE k % 9 = 0")
    graft.catalog.LakeMaintenance.compact(spark, t) // materializes lineage
    // fresh tombstones OVER the materialized file: the columnar compaction
    // path must splice file-sourced ids for the survivors
    spark.sql(s"DELETE FROM $t WHERE k % 7 = 0")
    def q() = spark.sql(s"SELECT k, _row_id, _last_updated_seq FROM $t ORDER BY k")
    def read() = q().collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // AQE inserts columnar transitions at stage creation — execute first,
    // then the FINAL plan shows whether batches actually flowed
    val exec = q()
    val columnar = exec.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val plan = exec.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"materialized-lineage scan must stay vectorized:\n$plan")
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    try assert(columnar == read(), "row and columnar lineage must agree on materialized files")
    finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    assert(columnar.length == 400 - 45 - 58 + 7) // 0..399 minus %9 (45), minus %7 (58), %63 double-counted (7)
    spark.sql(s"DROP TABLE $t")
  }

  test("a filtered read of _file, _pos and lineage over clean, tombstoned and compacted files") {
    val t = tbl("mix")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read','write.parquet.row-group-size-bytes'='4096')")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('a', id) FROM range(0, 400)")
    spark.sql(s"DELETE FROM $t WHERE k % 9 = 0")
    val carried = spark.sql(s"SELECT k, _row_id, _last_updated_seq FROM $t").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    graft.catalog.LakeMaintenance.compact(spark, t) // materializes lineage
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('b', id) FROM range(400, 800)")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('c', id) FROM range(800, 1200)")
    spark.sql(s"DELETE FROM $t WHERE k >= 800 AND k % 7 = 0")
    val fs = filesOf(t)
    assert(fs.length == 3 && fs.count(_._4) == 1, s"one compacted file and two appends: ${fs.toSeq}")
    val compacted = fs.find(_._4).get._1
    // appends reserve ascending ranges: the clean file, then the tombstoned one
    val Array(clean, tombstoned) = fs.filterNot(_._4).sortBy(_._3)

    def q() = spark.sql(s"SELECT k, _file, _pos, _row_id, _last_updated_seq FROM $t " +
      "WHERE k BETWEEN 300 AND 900")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      assert((1 to 4).forall(!r.isNullAt(_)), s"no NULL metadata: $r")
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }.sortBy(_._1).toSeq
    val vq = q()
    val vectorized = rows(vq)
    assert(vq.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      s"the mixed lineage scan must read vectorized:\n${vq.queryExecution.executedPlan}")
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    val rowMode = try rows(q()) finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    assert(vectorized == rowMode, "row and columnar readers must agree")

    val keys = (300L to 900L).filterNot(k => (k < 400 && k % 9 == 0) || (k >= 800 && k % 7 == 0))
    assert(vectorized.map(_._1) == keys)
    // the compacted file's rows keep the ids and sequences they had
    vectorized.filter(_._1 < 400).foreach { case (k, f, _, rid, seq) =>
      assert(f == compacted && (rid, seq) == carried(k), s"row $k")
    }
    // appended rows: _pos is the ordinal in the id-ordered file and
    // _row_id the file's range base plus it; one sequence per file
    for ((file, lo, hi) <- Seq((clean, 400L, 800L), (tombstoned, 800L, 1200L))) {
      val rs = vectorized.filter(r => r._1 >= lo && r._1 < hi)
      assert(rs.nonEmpty && rs.forall(r => r._2 == file._1 && r._3 == r._1 - lo &&
        r._4 == file._3 + r._3), s"rows of ${file._1}")
      assert(rs.map(_._5).distinct.size == 1)
    }
    val seqOf = (lo: Long) => vectorized.find(_._1 >= lo).get._5
    assert(carried.values.map(_._2).max < seqOf(400L) && seqOf(400L) < seqOf(800L))
    spark.sql(s"DROP TABLE $t")
  }

  test("compaction preserves every row's _row_id and _last_updated_seq (materialized)") {
    val t = tbl("cpk")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('a', id) FROM range(0, 300)")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('b', id) FROM range(300, 500)")
    spark.sql(s"DELETE FROM $t WHERE k % 11 = 0")
    def lineage() = spark.sql(s"SELECT k, _row_id, _last_updated_seq FROM $t")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val before = lineage()
    graft.catalog.LakeMaintenance.compact(spark, t)
    val fs = filesOf(t)
    assert(fs.forall(_._4), s"compacted files must carry materialized lineage: ${fs.toSeq}")
    assert(lineage() == before, "compaction must not change row identity")
    // a second compaction round-trips the MATERIALIZED values too
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('c', id) FROM range(500, 600)")
    val before2 = lineage()
    graft.catalog.LakeMaintenance.compact(spark, t, smallFileBytes = 64L * 1024 * 1024)
    assert(lineage() == before2, "re-compaction must carry materialized ids through")
    spark.sql(s"DROP TABLE $t")
  }

  test("copy-on-write DELETE (translatable predicate) preserves surviving rows' lineage") {
    val t = tbl("cow")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, id * 1.5 FROM range(0, 400)")
    val before = spark.sql(s"SELECT k, _row_id, _last_updated_seq FROM $t WHERE k >= 80")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    spark.sql(s"DELETE FROM $t WHERE k < 80") // range predicate -> deleteWhere rewrite
    val after = spark.sql(s"SELECT k, _row_id, _last_updated_seq FROM $t")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(after == before, "CoW rewrite must not change surviving rows' identity")
    assert(filesOf(t).forall(_._4))
    spark.sql(s"DROP TABLE $t")
  }

  test("group-based CoW UPDATE mints fresh UNIQUE ids (documented file-granular identity)") {
    // Spark's ReplaceData write strips metadata attributes before the
    // writer, so the group-based rewrite cannot carry ids — the contract
    // here is: still unique, still dense, new range, new sequence
    val t = tbl("upd")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('o', id) FROM range(0, 200)")
    val maxBefore = spark.sql(s"SELECT max(_row_id) AS m FROM $t").head().getLong(0)
    spark.sql(s"UPDATE $t SET v = concat('n', k) WHERE k % 3 = 0")
    val rows = spark.sql(s"SELECT k, v, _row_id, _last_updated_seq FROM $t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 200)
    assert(rows.forall { case (k, v, _, _) =>
      v == (if (k % 3 == 0) s"n$k" else s"o$k") })
    val ids = rows.map(_._3)
    assert(ids.distinct.length == 200 && ids.forall(_ > maxBefore),
      "rewritten file must carry a fresh disjoint id range")
    val seqs = rows.map(_._4).distinct
    assert(seqs.length == 1 && seqs.head > 1, s"rewritten file's sequence: ${seqs.toSeq}")
    spark.sql(s"DROP TABLE $t")
  }

  test("merge-on-read UPDATE preserves _row_id; MERGE inserts get fresh ids") {
    val t = tbl("mupd")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING) TBLPROPERTIES (" +
      "'write.update.mode'='merge-on-read','write.merge.mode'='merge-on-read'," +
      "'write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('o', id) FROM range(0, 300)")
    val before = spark.sql(s"SELECT k, _row_id FROM $t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    spark.sql(s"UPDATE $t SET v = concat('n', k) WHERE k % 4 = 0")
    val afterUpd = spark.sql(s"SELECT k, v, _row_id, _last_updated_seq FROM $t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(afterUpd.length == 300)
    assert(afterUpd.forall { case (k, v, _, _) =>
      v == (if (k % 4 == 0) s"n$k" else s"o$k") })
    assert(afterUpd.map(r => (r._1, r._3)).toMap == before,
      "MoR UPDATE must preserve _row_id for updated rows")
    // updated rows carry the NEW sequence, untouched rows the old one
    val updSeqs = afterUpd.filter(_._1 % 4 == 0).map(_._4).distinct
    val oldSeqs = afterUpd.filter(_._1 % 4 != 0).map(_._4).distinct
    assert(oldSeqs.length == 1 && updSeqs.length == 1 && updSeqs.head > oldSeqs.head,
      s"updated rows must advance _last_updated_seq: upd=$updSeqs old=$oldSeqs")
    // MERGE: update-action preserves, insert-action mints fresh
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW mupd_src AS " +
      s"SELECT id AS k, concat('m', id) AS v FROM range(250, 350)")
    spark.sql(
      s"""MERGE INTO $t USING mupd_src s ON $t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val afterMerge = spark.sql(s"SELECT k, _row_id FROM $t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(afterMerge.size == 350)
    assert((0L until 300L).forall(k => afterMerge(k) == before(k)),
      "MERGE update-action must preserve ids")
    val freshIds = (300L until 350L).map(afterMerge)
    assert(freshIds.toSet.size == 50 && freshIds.forall(_ > before.values.max),
      "MERGE insert-action rows take fresh ids")
    spark.sql(s"DROP TABLE $t")
  }

  test("z-order rewrite shuffles layout but not identity; time travel sees the same ids") {
    val t = tbl("zo")
    spark.sql(s"CREATE TABLE $t (x BIGINT, y BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id % 50, id / 50 FROM range(0, 2500)")
    val v1 = spark.sql(s"SELECT x, y, _row_id FROM $t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.catalog.LakeMaintenance.zorderCompact(spark, t, Seq("x", "y"))
    val v2 = spark.sql(s"SELECT x, y, _row_id FROM $t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(v2 == v1, "z-order must preserve identity")
    // the pre-rewrite snapshot answers with the SAME ids (computed there)
    val tt = spark.sql(s"SELECT x, y, _row_id FROM $t VERSION AS OF 1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tt == v1, "row ids must be stable across time travel")
    spark.sql(s"DROP TABLE $t")
  }

  test("clone and REPLACE TABLE carry the id high-water mark: no duplicate ids after") {
    val t = tbl("hwm")
    val Array(_, ns, n) = t.split('.')
    spark.sql(s"CREATE TABLE $t (k BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id FROM range(0, 100)")
    // zero-copy clone: carried files keep their stamped ranges — the
    // clone's own inserts must continue ABOVE them, never overlap
    spark.sql(s"DROP TABLE IF EXISTS lake.$ns.${n}_c")
    spark.sql(s"CALL lake.system.snapshot('$ns.$n', '$ns.${n}_c')")
    spark.sql(s"INSERT INTO lake.$ns.${n}_c SELECT /*+ REPARTITION(1) */ id FROM range(100, 150)")
    val cloneIds = spark.sql(s"SELECT _row_id FROM lake.$ns.${n}_c").collect().map(_.getLong(0))
    assert(cloneIds.length == 150 && cloneIds.distinct.length == 150,
      "clone inserts must not reuse carried id ranges")
    // RTAS keeps prior snapshots time-travelable: ids on the retained
    // timeline stay unique against post-replace inserts
    spark.sql(s"REPLACE TABLE $t AS SELECT /*+ REPARTITION(1) */ id AS k FROM range(0, 30)")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id FROM range(30, 60)")
    val nowIds = spark.sql(s"SELECT _row_id FROM $t").collect().map(_.getLong(0))
    val v1Ids = spark.sql(s"SELECT _row_id FROM $t VERSION AS OF 1").collect().map(_.getLong(0))
    assert(nowIds.length == 60 && nowIds.distinct.length == 60)
    assert(v1Ids.length == 100 && nowIds.toSet.intersect(v1Ids.toSet).isEmpty,
      "post-replace ids must not collide with the retained timeline's ids")
    spark.sql(s"DROP TABLE $t"); spark.sql(s"DROP TABLE lake.$ns.${n}_c")
  }

  test("streaming epochs reserve disjoint id ranges; a restarted query continues above them") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val t = tbl("str")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    val input = MemoryStream[(Long, String)](spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-rl").toString
    val q = input.toDF().toDF("k", "v").writeStream
      .outputMode("append").option("checkpointLocation", ckpt).toTable(t)
    input.addData((0L, "a"), (1L, "b"))
    q.processAllAvailable()
    input.addData((2L, "c"), (3L, "d"))
    q.processAllAvailable()
    q.stop()
    // a batch append between stream runs shares the same id space
    spark.sql(s"INSERT INTO $t VALUES (4, 'e')")
    val ids = spark.sql(s"SELECT _row_id FROM $t").collect().map(_.getLong(0))
    assert(ids.length == 5 && ids.distinct.length == 5,
      s"epochs and batch commits must draw from one id space: ${ids.toSeq}")
    spark.sql(s"DROP TABLE $t")
  }

  test("rollback keeps the high-water mark: post-rollback inserts never reuse abandoned ids") {
    val t = tbl("rb")
    spark.sql(s"CREATE TABLE $t (k BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id FROM range(0, 50)") // snap 1
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id FROM range(50, 100)") // snap 2
    val abandoned = spark.sql(s"SELECT _row_id FROM $t VERSION AS OF 2")
      .collect().map(_.getLong(0)).toSet
    graft.catalog.LakeMaintenance.rollback(spark, t, 1L)
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id FROM range(100, 150)")
    val ids = spark.sql(s"SELECT _row_id FROM $t").collect().map(_.getLong(0))
    assert(ids.length == 100 && ids.distinct.length == 100)
    // the rolled-back snapshot stays readable history — its ids must not
    // be reissued to the new timeline
    val snap2Only = abandoned -- spark.sql(s"SELECT _row_id FROM $t VERSION AS OF 1")
      .collect().map(_.getLong(0)).toSet
    assert(ids.toSet.intersect(snap2Only).isEmpty,
      "rollback must not hand abandoned ids out again")
    spark.sql(s"DROP TABLE $t")
  }

  test("racing appends never overlap id ranges (CAS rebase re-stamps)") {
    val t = tbl("race")
    spark.sql(s"CREATE TABLE $t (k BIGINT)")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (0 until 4).map(i => Future {
      spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id FROM range(${i * 50}, ${i * 50 + 50})")
    })
    Await.result(Future.sequence(fs), 120.seconds)
    val ids = spark.sql(s"SELECT _row_id FROM $t").collect().map(_.getLong(0))
    assert(ids.length == 200 && ids.distinct.length == 200,
      "concurrent commits must reserve disjoint ranges")
    spark.sql(s"DROP TABLE $t")
  }
}
