package graft

import org.scalatest.funsuite.AnyFunSuite

/** Dynamic partition overwrite (partitionOverwriteMode=dynamic): INSERT
  * OVERWRITE replaces exactly the partitions the incoming data touches and
  * leaves every other partition untouched — the backfill pattern. One CAS
  * commit, time-travel preserved.
  */
class DynamicOverwriteSpec extends AnyFunSuite {
  import TestSpark._

  private def withDynamicMode[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try f finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }

  test("INSERT OVERWRITE in dynamic mode replaces only the touched partitions") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dyo")
    spark.sql("DROP TABLE IF EXISTS lake.dyo.t")
    spark.sql("CREATE TABLE lake.dyo.t (day INT, v BIGINT) PARTITIONED BY (day)")
    spark.sql("INSERT INTO lake.dyo.t SELECT CAST(id % 4 AS INT), id FROM range(400)")
    withDynamicMode {
      // recompute day=1 only: 5 replacement rows
      spark.sql(
        "INSERT OVERWRITE lake.dyo.t SELECT CAST(1 AS INT), id + 10000 FROM range(5)")
    }
    val perDay = spark.sql(
      "SELECT day, count(*) AS n FROM lake.dyo.t GROUP BY day ORDER BY day")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(perDay == Seq((0, 100L), (1, 5L), (2, 100L), (3, 100L)),
      s"only day=1 may change: $perDay")
    assert(spark.sql("SELECT min(v) FROM lake.dyo.t WHERE day = 1").head().getLong(0) == 10000L)
    // the commit is its own snapshot kind, and time travel sees the old state
    val snaps = spark.sql(
      "SELECT snapshot_id, operation FROM lake.dyo.`t$snapshots` ORDER BY snapshot_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(snaps.last._2 == "dynamic-overwrite", s"got $snaps")
    val prevId = snaps(snaps.length - 2)._1
    val old = spark.sql(
      s"SELECT count(*) FROM lake.dyo.t VERSION AS OF $prevId WHERE day = 1")
      .head().getLong(0)
    assert(old == 100L, "pre-overwrite snapshot must still show the old partition")
  }

  test("static mode (default) still truncates the whole table") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dyo")
    spark.sql("DROP TABLE IF EXISTS lake.dyo.s")
    spark.sql("CREATE TABLE lake.dyo.s (day INT, v BIGINT) PARTITIONED BY (day)")
    spark.sql("INSERT INTO lake.dyo.s SELECT CAST(id % 4 AS INT), id FROM range(400)")
    spark.sql("INSERT OVERWRITE lake.dyo.s SELECT CAST(1 AS INT), id FROM range(5)")
    assert(spark.table("lake.dyo.s").count() == 5L,
      "static INSERT OVERWRITE replaces everything")
  }

  test("dynamic overwrite of an unpartitioned table is rejected") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dyo")
    spark.sql("DROP TABLE IF EXISTS lake.dyo.u")
    spark.sql("CREATE TABLE lake.dyo.u (v BIGINT)")
    spark.sql("INSERT INTO lake.dyo.u VALUES (1)")
    withDynamicMode {
      val e = intercept[Exception] {
        spark.sql("INSERT OVERWRITE lake.dyo.u SELECT id FROM range(3)")
      }
      assert(e.getMessage.contains("unpartitioned"), e.getMessage)
    }
  }

  test("static PARTITION-clause overwrite replaces exactly the named partition") {
    // (partition column type, its value for id % 4, the PARTITION literal
    // naming the third value, the four values as rendered)
    Seq(
      ("INT", "CAST(id % 4 AS INT)", "2", Seq("0", "1", "2", "3")),
      ("STRING", "concat('r', id % 4)", "'r2'", Seq("r0", "r1", "r2", "r3")),
      ("DATE", "date_add(DATE'2024-01-01', CAST(id % 4 AS INT))", "DATE'2024-01-03'",
        Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"))
    ).foreach { case (dt, value, lit, days) =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dyo")
      spark.sql("DROP TABLE IF EXISTS lake.dyo.p")
      spark.sql(s"CREATE TABLE lake.dyo.p (v BIGINT, day $dt) PARTITIONED BY (day)")
      spark.sql(s"INSERT INTO lake.dyo.p SELECT id, $value FROM range(400)")
      // expression overwrite: day=2 is a whole-partition predicate
      spark.sql(s"INSERT OVERWRITE lake.dyo.p PARTITION (day = $lit) SELECT id + 5000 FROM range(7)")
      val perDay = spark.sql(
        "SELECT day, count(*) AS n FROM lake.dyo.p GROUP BY day ORDER BY day")
        .collect().map(r => (r.get(0).toString, r.getLong(1))).toSeq
      assert(perDay == days.zip(Seq(100L, 100L, 7L, 100L)), s"$dt: got $perDay")
      val ops = spark.sql(
        "SELECT operation FROM lake.dyo.`p$snapshots` ORDER BY snapshot_id")
        .collect().map(_.getString(0)).toSeq
      assert(ops.last == "overwrite-where", s"$dt: got $ops")
    }
  }

  test("expression overwrite on a non-aligned predicate is rejected, data intact") {
    import org.apache.spark.sql.functions.{col, lit}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dyo")
    spark.sql("DROP TABLE IF EXISTS lake.dyo.w")
    spark.sql("CREATE TABLE lake.dyo.w (v BIGINT, day INT) PARTITIONED BY (day)")
    spark.sql("INSERT INTO lake.dyo.w SELECT id, CAST(id % 4 AS INT) FROM range(400)")
    // v=3 slices through every file: stats cannot prove any file fully
    // matches, so the overwrite must refuse rather than lose rows
    val e = intercept[Exception] {
      spark.range(1).selectExpr("CAST(999 AS BIGINT) AS v", "CAST(0 AS INT) AS day")
        .writeTo("lake.dyo.w").overwrite(col("v") === lit(3L))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("align")), e.toString)
    assert(spark.table("lake.dyo.w").count() == 400L, "failed overwrite must change nothing")
  }

  test("dynamic overwrite replaces the NULL partition, not silently appends to it") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dyo")
    spark.sql("DROP TABLE IF EXISTS lake.dyo.n")
    spark.sql("CREATE TABLE lake.dyo.n (day INT, v BIGINT) PARTITIONED BY (day)")
    spark.sql(
      "INSERT INTO lake.dyo.n SELECT CASE WHEN id % 4 = 3 THEN NULL ELSE CAST(id % 4 AS INT) END, id FROM range(400)")
    assert(spark.sql("SELECT count(*) FROM lake.dyo.n WHERE day IS NULL").head().getLong(0) == 100L)
    withDynamicMode {
      // a batch landing in the null partition must REPLACE it (Iceberg/Spark
      // __HIVE_DEFAULT_PARTITION__ semantics), never duplicate it
      spark.sql("INSERT OVERWRITE lake.dyo.n SELECT CAST(NULL AS INT), id + 20000 FROM range(5)")
    }
    val perDay = spark.sql(
      "SELECT day, count(*) AS n FROM lake.dyo.n GROUP BY day ORDER BY day NULLS FIRST")
      .collect().map(r => (if (r.isNullAt(0)) -1 else r.getInt(0), r.getLong(1))).toSeq
    assert(perDay == Seq((-1, 5L), (0, 100L), (1, 100L), (2, 100L)),
      s"null partition must be replaced, others untouched: $perDay")
    assert(spark.sql("SELECT min(v) FROM lake.dyo.n WHERE day IS NULL").head().getLong(0) == 20000L)
  }

  test("unattributable foreign file in a touched partition: refuse; untouched partition: fine") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dyo")
    spark.sql("DROP TABLE IF EXISTS lake.dyo.f")
    spark.sql("CREATE TABLE lake.dyo.f (day INT, v BIGINT) PARTITIONED BY (day)")
    spark.sql("INSERT INTO lake.dyo.f SELECT CAST(id % 3 AS INT), id FROM range(300)")
    // a foreign file mixing NULL and 0..2 day values in ONE file — no
    // partition value can be proven for it (keeping it under an overwrite
    // of day=1 would duplicate rows, deleting it would destroy day=0/2/null
    // rows: both wrong, so the overwrite must refuse)
    val ext = java.nio.file.Files.createTempDirectory("graft_dyof").toString
    spark.sql("SELECT CASE WHEN id % 5 = 0 THEN NULL ELSE CAST(id % 3 AS INT) END AS day, " +
        "id + 1000 AS v FROM range(50)")
      .coalesce(1).write.mode("overwrite").parquet(ext)
    spark.sql(s"CALL lake.system.add_files('dyo.f', '$ext')")
    val before = spark.table("lake.dyo.f").count()
    withDynamicMode {
      val e = intercept[Exception] {
        spark.sql("INSERT OVERWRITE lake.dyo.f SELECT CAST(1 AS INT), id + 9999 FROM range(5)")
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(e).exists(m => m != null && m.contains("cannot be attributed")), e.toString)
      assert(spark.table("lake.dyo.f").count() == before, "refusal must change nothing")
      // a partition the foreign file provably does NOT hold (day=77 is
      // outside its 0..2 stat range, and 77 is not the null partition)
      spark.sql("INSERT OVERWRITE lake.dyo.f SELECT CAST(77 AS INT), id FROM range(7)")
      assert(spark.sql("SELECT count(*) FROM lake.dyo.f WHERE day = 77").head().getLong(0) == 7L)
      assert(spark.table("lake.dyo.f").count() == before + 7)
    }
  }

  test("unattributable foreign file with numeric-looking STRING partition values: refuse") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dyo")
    spark.sql("DROP TABLE IF EXISTS lake.dyo.fs")
    spark.sql("CREATE TABLE lake.dyo.fs (p STRING, v BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO lake.dyo.fs SELECT CAST(id % 3 + 4 AS STRING), id FROM range(30)")
    // a foreign file mixing NULL, '10', '5' and '9': its string bounds
    // ["10", "9"] hold '5' in string order (numerically they would not),
    // so an overwrite of p='5' may collide with it and must refuse
    val ext = java.nio.file.Files.createTempDirectory("graft_dyofs").toString
    spark.sql("SELECT CASE id % 4 WHEN 0 THEN NULL WHEN 1 THEN '10' WHEN 2 THEN '5' " +
        "ELSE '9' END AS p, id + 1000 AS v FROM range(12)")
      .coalesce(1).write.mode("overwrite").parquet(ext)
    spark.sql(s"CALL lake.system.add_files('dyo.fs', '$ext')")
    val before = spark.table("lake.dyo.fs").count()
    withDynamicMode {
      val e = intercept[Exception] {
        spark.sql("INSERT OVERWRITE lake.dyo.fs SELECT '5', id + 9999 FROM range(5)")
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(e).exists(m => m != null && m.contains("cannot be attributed")), e.toString)
      assert(spark.table("lake.dyo.fs").count() == before, "refusal must change nothing")
    }
  }

  test("dynamic overwrite racing an append to another partition: both land") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dyo")
    spark.sql("DROP TABLE IF EXISTS lake.dyo.race")
    spark.sql("CREATE TABLE lake.dyo.race (day INT, v BIGINT) PARTITIONED BY (day)")
    spark.sql("INSERT INTO lake.dyo.race SELECT CAST(id % 2 AS INT), id FROM range(200)")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val overwriter = new Thread(() =>
      try withDynamicMode {
        spark.sql("INSERT OVERWRITE lake.dyo.race SELECT CAST(0 AS INT), id + 7000 FROM range(3)")
      } catch { case e: Throwable => errs.add(e) })
    val appender = new Thread(() =>
      try spark.sql("INSERT INTO lake.dyo.race SELECT CAST(1 AS INT), id + 9000 FROM range(4)")
      catch { case e: Throwable => errs.add(e) })
    overwriter.start(); appender.start()
    overwriter.join(60000); appender.join(60000)
    assert(errs.isEmpty, s"both commits must land via CAS rebase: ${errs.toArray.mkString}")
    val perDay = spark.sql(
      "SELECT day, count(*) AS n FROM lake.dyo.race GROUP BY day ORDER BY day")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    // day=0 fully replaced by 3 rows; day=1 keeps its 100 plus 4 appended
    assert(perDay == Seq((0, 3L), (1, 104L)), s"got $perDay")
  }

  test("dynamic overwrite composes with bucket partitioning (replaces buckets)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dyo")
    spark.sql("DROP TABLE IF EXISTS lake.dyo.b")
    spark.sql("CREATE TABLE lake.dyo.b (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO lake.dyo.b SELECT id % 16, id FROM range(160)")
    val before = spark.table("lake.dyo.b").count()
    assert(before == 160L)
    withDynamicMode {
      // k=3 hashes to one bucket; that whole bucket (k=3 plus its bucket
      // neighbors) is replaced — bucket-grain overwrite semantics
      spark.sql("INSERT OVERWRITE lake.dyo.b SELECT CAST(3 AS BIGINT), 999 FROM range(1)")
    }
    val after = spark.table("lake.dyo.b")
    // the replaced bucket now holds exactly the new row; other buckets intact
    assert(after.where("v = 999").count() == 1L)
    val bucketOf3 = after.where("k = 3").count()
    assert(bucketOf3 == 1L, "old k=3 rows must be gone with their bucket")
    // untouched buckets keep all their rows: total = 160 - (bucket of 3) + 1
    assert(after.count() < 160L && after.count() >= 1L)
  }
}
