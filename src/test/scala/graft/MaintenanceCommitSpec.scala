package graft

import java.sql.SQLException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._

/** Maintenance commits on the shared commit path: `expire_snapshots`
  * rebases through [[CasCommit.retryLoop]] (a commit landing between its
  * read and its CAS is kept, a torn CAS resolves), `snapshot` registers
  * through the torn-call resolver, and a scoped `compact` prunes by the
  * table's partition fields. Each store test runs on its own catalog so
  * the store it swaps in is seen by nothing else.
  */
class MaintenanceCommitSpec extends AnyFunSuite {
  import TestSpark._

  private val conf = spark.sessionState.newHadoopConf()

  /** A fresh lake catalog of its own (warehouse and Derby database). */
  private def freshCatalog(tag: String): (String, String, LakeCatalog) = {
    val name = s"mc$tag"
    val url = s"jdbc:derby:memory:mc$tag${System.nanoTime()};create=true"
    spark.conf.set(s"spark.sql.catalog.$name", "graft.catalog.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse",
      java.nio.file.Files.createTempDirectory(s"mc$tag").toString)
    spark.conf.set(s"spark.sql.catalog.$name.jdbc.url", url)
    val cat = spark.sessionState.catalogManager.catalog(name).asInstanceOf[LakeCatalog]
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.ns")
    (name, url, cat)
  }

  private def meta(cat: LakeCatalog, table: String): TableMeta =
    cat.loadTable(Identifier.of(Array("ns"), table)).asInstanceOf[LakeTable].meta

  private def exists(path: String): Boolean =
    new Path(path).getFileSystem(conf).exists(new Path(path))

  /** Three commits: two appends, then an overwrite that orphans both. */
  private def threeSnapshots(c: String, cat: LakeCatalog): Seq[String] = {
    spark.sql(s"CREATE TABLE $c.ns.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $c.ns.t SELECT id, 'a' FROM range(0, 10)")
    spark.sql(s"INSERT INTO $c.ns.t SELECT id, 'b' FROM range(10, 20)")
    val appended = meta(cat, "t").currentFiles.map(_.path)
    spark.sql(s"INSERT OVERWRITE $c.ns.t SELECT id, 'c' FROM range(20, 25)")
    appended
  }

  test("expire_snapshots racing an append rebases: the interloper's file stays live") {
    val (c, url, cat) = freshCatalog("race")
    val appended = threeSnapshots(c, cat)
    // the interloper's data file: a real parquet file in the table's data
    // directory, so the table still reads after the race
    val tmp = java.nio.file.Files.createTempDirectory("mcrace").toString + "/out"
    spark.range(100, 110).selectExpr("id AS k", "'i' AS v").coalesce(1).write.parquet(tmp)
    val fs = new Path(tmp).getFileSystem(conf)
    val part = fs.listStatus(new Path(tmp)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val interloper = s"${meta(cat, "t").location}/data/interloper.parquet"
    assert(fs.rename(part, new Path(interloper)))
    val interloperFile = DataFileMeta(interloper, 10L, fs.getFileStatus(new Path(interloper)).getLen)
    // the first CAS finds an interloper's append landed on the pointer it
    // expects (the way a concurrent writer's commit would), so it loses
    var interloped = false
    cat.store = new PointerStore(url, c) {
      override def casUpdate(ns: String, name: String, nl: String, pl: String): Int = {
        if (!interloped) {
          interloped = true
          val next = TableMeta.withAppend(TableMeta.read(pl, conf), "append",
            Seq(interloperFile), conf)
          assert(super.casUpdate(ns, name, TableMeta.write(next, conf), pl) == 1)
        }
        super.casUpdate(ns, name, nl, pl)
      }
    }
    val deleted = LakeMaintenance.expireSnapshots(spark, s"$c.ns.t")
    assert(interloped)
    assert(deleted == appended.size, "the two appends' files are orphaned")
    val after = meta(cat, "t")
    assert(after.snapshots.size == 1, "only the interloper's snapshot is retained")
    assert(after.currentFiles.map(_.path).contains(interloper), "the interloper's file is live")
    assert(exists(interloper), "the interloper's file stays on disk")
    assert(appended.forall(p => !exists(p)))
    assert(spark.table(s"$c.ns.t").count() == 15)
  }

  test("a torn expire CAS that applied resolves to committed") {
    val (c, url, cat) = freshCatalog("torn")
    val appended = threeSnapshots(c, cat)
    var casCalls = 0
    cat.store = new PointerStore(url, c) {
      override def casUpdate(ns: String, name: String, nl: String, pl: String): Int = {
        casCalls += 1
        super.casUpdate(ns, name, nl, pl) // APPLIES
        throw new SQLException("ack lost after apply")
      }
    }
    assert(LakeMaintenance.expireSnapshots(spark, s"$c.ns.t") == appended.size)
    assert(casCalls == 1, "resolution must come from the probe, not a blind retry")
    assert(meta(cat, "t").snapshots.size == 1)
    assert(appended.forall(p => !exists(p)), "the committed expiry cleans up")
    assert(spark.table(s"$c.ns.t").count() == 5)
  }

  test("CALL snapshot with a torn register that applied returns success") {
    val (c, url, cat) = freshCatalog("snap")
    spark.sql(s"CREATE TABLE $c.ns.src (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $c.ns.src SELECT id, 'a' FROM range(0, 10)")
    val srcFiles = meta(cat, "src").currentFiles.size
    cat.store = new PointerStore(url, c) {
      override def register(ns: String, name: String, loc: String): Boolean = {
        super.register(ns, name, loc) // APPLIES
        throw new SQLException("ack lost after insert")
      }
    }
    val res = spark.sql(s"CALL $c.system.snapshot('ns.src', 'ns.dst')").collect().head
    assert(res.getLong(0) == srcFiles)
    assert(spark.table(s"$c.ns.dst").count() == 10)
  }

  test("compact(where = 'id = 17') on a bucket(8, id) table rewrites only that bucket's files") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.mcb")
    spark.sql("DROP TABLE IF EXISTS lake.mcb.cb")
    spark.sql("CREATE TABLE lake.mcb.cb (id BIGINT, v STRING) PARTITIONED BY (bucket(8, id))")
    for (i <- 0 until 3)
      spark.sql(s"INSERT INTO lake.mcb.cb SELECT id, 'r$i' FROM range(0, 64)")
    val cat = spark.sessionState.catalogManager.catalog("lake").asInstanceOf[LakeCatalog]
    def bucketFiles(): Map[String, String] = {
      val m = cat.loadTable(Identifier.of(Array("mcb"), "cb")).asInstanceOf[LakeTable].meta
      m.logicalStatFiles(m.currentFiles).map(f => f.path -> f.minValues("_bucket_8_id")).toMap
    }
    val before = bucketFiles()
    val b17 = BucketHash(8, 17L, LongType).toString
    val inBucket = before.collect { case (p, b) if b == b17 => p }.toSet
    assert(inBucket.size >= 2, s"each insert writes a file of bucket $b17")
    LakeMaintenance.compact(spark, "lake.mcb.cb", where = Some("id = 17"))
    val after = bucketFiles()
    assert(before.keySet -- after.keySet == inBucket,
      "exactly the files of bucket-of-17 are rewritten")
    assert(spark.table("lake.mcb.cb").count() == 192)
    assert(spark.sql("SELECT v FROM lake.mcb.cb WHERE id = 17").count() == 3)
    spark.sql("DROP TABLE lake.mcb.cb")
  }
}
