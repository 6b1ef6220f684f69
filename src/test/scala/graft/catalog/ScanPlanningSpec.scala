package graft.catalog

import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.UpsRow

object ScanPlanningSpec {
  import graft.TestSpark.spark

  /** Streams each epoch into `t` as one upsert on key `k`: every epoch
    * appends its rows and equality deletes for its keys.
    */
  def upsert(t: String, epochs: Seq[Seq[UpsRow]]): Unit = {
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val input = MemoryStream[UpsRow](spark)
    val q = input.toDS().writeStream
      .option("checkpointLocation", ckpt)
      .option("upsert-keys", "k")
      .toTable(t)
    try epochs.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
  }
}

/** Planning work per lake scan: the scan broadcasts its prepared Hadoop
  * conf at most once (twice when equality-delete groups read a wider
  * schema), and not at all when an earlier read of the same shape did,
  * hands Spark the same batch every time it asks, and rebuilds that batch
  * only when a runtime filter prunes its files.
  */
class ScanPlanningSpec extends AnyFunSuite {
  import graft.TestSpark._

  private def uniq(p: String) = s"$p${System.nanoTime() % 1000000}"

  /** The id the next broadcast will take. */
  private def nextBroadcastId(): Long = {
    val b = spark.sparkContext.broadcast(0)
    try b.id finally b.destroy()
  }

  /** Broadcasts `body` makes (the probe's own id excluded). */
  private def broadcastsDuring[T](body: => T): (T, Long) = {
    val before = nextBroadcastId()
    val r = body
    (r, nextBroadcastId() - before - 1)
  }

  /** Runs `body` under a SQL conf no earlier read carried, so its reads
    * share no conf broadcast with another test's (the suites share one
    * session).
    */
  private def freshShape[T](body: => T): T = {
    spark.conf.set("spark.graft.test.shape", uniq("shape"))
    try body finally spark.conf.unset("spark.graft.test.shape")
  }

  private def lakeScan(plan: org.apache.spark.sql.execution.SparkPlan): LakeScan =
    plan.collect { case b: BatchScanExec => b.scan }.collect { case s: LakeScan => s }.head

  private def qualified(path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  /** The files a batch's input partitions read. */
  private def paths(b: org.apache.spark.sql.connector.read.Batch): Set[String] =
    b.planInputPartitions().flatMap {
      case fp: FilePartition => fp.files.map(_.toPath.toString).toSeq
      case pp: PositionalInputPartition => Seq(qualified(pp.dataPath))
      case other => fail(s"unexpected partition $other")
    }.toSet

  test("a range read on a tombstoned bucketed table plans with one conf broadcast") {
    val t = s"lake.plan.${uniq("b")}"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.plan")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) PARTITIONED BY (bucket(8, id)) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('v', id) FROM range(0, 2000)")
    val target = qualified(spark.sql(s"SELECT _file FROM $t WHERE id = 17").collect().head.getString(0))
    spark.sql(s"DELETE FROM $t WHERE id = 17")

    val df = spark.sql(s"SELECT * FROM $t WHERE id BETWEEN 10 AND 900")
    val (plan, broadcasts) = freshShape(broadcastsDuring(df.queryExecution.executedPlan))
    assert(broadcasts == 1L, s"planning made $broadcasts broadcasts")
    assert(df.count() == 890L)

    val scan = lakeScan(plan)
    val batch = scan.toBatch
    assert(scan.toBatch eq batch, "the scan must hand Spark one batch")
    assert(paths(batch).size == 8 && paths(batch).contains(target))

    // a runtime filter on the bucket source keeps only bucket(8, 17)'s
    // file: the batch is rebuilt over it, on the conf already broadcast
    scan.filter(Array(new Predicate("=",
      Array(Expressions.column("id"), Expressions.literal(Long.box(17L))))))
    val (pruned, rebuildBroadcasts) = broadcastsDuring {
      val b = scan.toBatch
      b.createReaderFactory()
      b
    }
    assert(pruned ne batch, "filter() must rebuild the batch")
    assert(scan.toBatch eq pruned)
    assert(paths(pruned) == Set(target), paths(pruned))
    assert(rebuildBroadcasts == 0L, s"the rebuilt batch made $rebuildBroadcasts broadcasts")
    spark.sql(s"DROP TABLE $t")
  }

  test("equality-delete groups share one extra conf broadcast") {
    val t = s"lake.plan.${uniq("eq")}"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.plan")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING, n INT)")
    // epochs 2 and 3 each overwrite keys of every older file, so the
    // epoch-1 and epoch-2 files land in two equality-delete groups
    ScanPlanningSpec.upsert(t, Seq(
      (1L to 100L).map(i => UpsRow(i, s"a$i", 1)),
      (1L to 100L by 10L).map(i => UpsRow(i, s"b$i", 2)),
      (5L to 100L by 10L).map(i => UpsRow(i, s"c$i", 3))))

    // the scan reads only v; the groups also read their key k
    val df = spark.sql(s"SELECT v FROM $t")
    val (plan, broadcasts) = freshShape(broadcastsDuring(df.queryExecution.executedPlan))
    val parts = plan.collect { case b: BatchScanExec => b }.flatMap(_.inputPartitions)
    val groups = parts.collect { case e: EqFilteredInputPartition => e.eqDeletePaths }.distinct
    assert(groups.size == 2, s"expected two equality-delete groups, got $groups")
    // the scan's conf, the equality-delete groups' conf, and the one
    // broadcast of the delete files' keys
    assert(broadcasts == 3L, s"planning made $broadcasts broadcasts")
    val rows = df.collect().map(_.getString(0))
    assert(rows.length == 100 && rows.distinct.length == 100, rows.toSeq)
    assert(Seq("b1", "c5", "a2").forall(rows.contains) && !rows.contains("a1") && !rows.contains("a5"))
    spark.sql(s"DROP TABLE $t")
  }

  /** The scan's `confBroadcastReused` driver metric after `df` ran. */
  private def confReused(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .head.metrics("confBroadcastReused").value
  }

  test("a second read of the same shape makes no conf broadcast") {
    val t = s"lake.plan.${uniq("shape")}"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.plan")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 100)")
    freshShape {
      val first = spark.sql(s"SELECT v FROM $t WHERE id = 3")
      val (_, b1) = broadcastsDuring(first.queryExecution.executedPlan)
      assert(b1 == 1L, s"the first read made $b1 broadcasts")
      assert(confReused(first) == 0L)
      val second = spark.sql(s"SELECT v FROM $t WHERE id = 4")
      val (_, b2) = broadcastsDuring(second.queryExecution.executedPlan)
      assert(b2 == 0L, s"the second read made $b2 broadcasts")
      assert(confReused(second) == 1L)
      assert(second.collect().map(_.getString(0)).toSeq == Seq("v4"))
    }
    spark.sql(s"DROP TABLE $t")
  }

  test("a changed SQL conf or read option makes a new conf broadcast") {
    val t = s"lake.plan.${uniq("conf")}"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.plan")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 100)")
    def planBroadcasts(df: => org.apache.spark.sql.DataFrame): Long =
      broadcastsDuring(df.queryExecution.executedPlan)._2
    freshShape {
      val read = spark.sql(s"SELECT v FROM $t WHERE id = 3")
      assert(planBroadcasts(read) == 1L)
      assert(planBroadcasts(spark.sql(s"SELECT v FROM $t WHERE id = 5")) == 0L)
      spark.conf.set("spark.sql.parquet.binaryAsString", "true")
      try {
        val flipped = spark.sql(s"SELECT v FROM $t WHERE id = 6")
        assert(planBroadcasts(flipped) == 1L, "a changed SQL conf must broadcast anew")
        assert(confReused(flipped) == 0L)
      } finally spark.conf.unset("spark.sql.parquet.binaryAsString")
      assert(planBroadcasts(spark.sql(s"SELECT v FROM $t WHERE id = 7")) == 0L)
      val opt = spark.read.option("graft.test.read-option", "on").table(t).where("id = 8")
      assert(planBroadcasts(opt) == 1L, "a read option must broadcast anew")
      assert(opt.collect().map(_.getString(1)).toSeq == Seq("v8"))
    }
    spark.sql(s"DROP TABLE $t")
  }
}
