package graft.catalog

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The parse cache of metadata documents: [[TableMeta.write]] stores the
  * document it serialized, [[TableMeta.read]] answers from it.
  */
class DocCacheSpec extends AnyFunSuite {

  private val conf = NioLocalFileSystem.register(new Configuration())
  private val schema = StructType(Seq(StructField("k", LongType)))

  private def tmp(tag: String): String =
    "file:" + java.nio.file.Files.createTempDirectory(s"doccache_$tag").toString

  private def files(dir: String, tag: String, n: Int): Seq[DataFileMeta] =
    (1 to n).map(i => DataFileMeta(s"$dir/data/$tag-$i.parquet", 10L, 100L,
      Map("k" -> "0"), Map("k" -> "9"), Map("k" -> 0L)))

  private def withConf(m: TableMeta): TableMeta = { m.ioConf = conf; m }

  /** Deletes the document at `loc`, returning its bytes. */
  private def take(loc: String): String = {
    val p = new Path(loc)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    assert(fs.delete(p, false))
    new String(bytes, UTF_8)
  }

  test("every commit shape's written-through document equals its bytes on disk, parsed") {
    val dir = tmp("shapes")
    var m = withConf(TableMeta.empty(dir, schema, Nil, Map("p" -> "1")))
    def commit(shape: String, next: TableMeta): Unit = {
      val loc = TableMeta.write(next, conf)
      val onDisk = TableMeta.fromJson(take(loc))
      // the file is gone: only the written-through entry can answer
      val served = TableMeta.read(loc, conf)
      assert(served == onDisk, s"$shape: the cached document differs from its bytes")
      assert(served == next, shape)
      m = served
    }
    commit("create", TableMeta.withOverwrite(m, "create", Nil, conf))
    commit("append", TableMeta.withAppend(m, "append", files(dir, "a", 3), conf))
    commit("delta", TableMeta.withDelta(m, "delete", files(dir, "da", 1),
      Seq(DataFileMeta(s"$dir/deletes/d.parquet", 2L, 50L)), conf))
    commit("rewrite", TableMeta.withRewrite(m, "overwrite",
      Set(s"$dir/data/a-1.parquet"), files(dir, "r", 2), conf))
    val branched = withConf(m.copy(properties =
      m.properties + ("branch.b" -> m.currentSnapshotId.toString)))
    commit("branch append", TableMeta.withBranchAppend(branched, "b", files(dir, "b", 1), conf))
    val wider = StructType(schema.fields :+ StructField("v", StringType))
    commit("schema evolution", TableMeta.withAppend(withConf(m.copy(schemaJson = wider.json,
      currentSchemaId = m.schemaIdNow + 1)), "append", files(dir, "s", 1), conf))
    commit("spec evolution", TableMeta.withAppend(withConf(m.evolveSpec(Seq("bucket(4,k)"))),
      "append", files(dir, "p", 1), conf))
    assert(m.snapshots.size == 7 && m.schemaTable.size == 2 && m.specTable.size == 2)
  }

  test("each read returns its own instance carrying the caller's conf") {
    val loc = TableMeta.write(TableMeta.empty(tmp("inst"), schema, Nil, Map.empty), conf)
    for (round <- Seq("written through", "parsed on a miss")) {
      val (c1, c2) = (new Configuration(conf), new Configuration(conf))
      val (r1, r2) = (TableMeta.read(loc, c1), TableMeta.read(loc, c2))
      assert(r1 == r2 && !(r1 eq r2), round)
      assert((r1.ioConf eq c1) && (r2.ioConf eq c2), round)
      TableMeta.forgetDocs(loc)
    }
  }

  test("the cache stays within its bound and a missing document still throws") {
    val dir = tmp("bound")
    val locs = (0 until TableMeta.DocCacheBound + 8).map(i =>
      TableMeta.write(TableMeta.empty(dir, schema, Nil, Map("i" -> i.toString)), conf))
    assert(TableMeta.cachedDocs <= TableMeta.DocCacheBound)
    // the oldest entry was evicted: with its file gone it cannot be served
    take(locs.head)
    intercept[java.io.FileNotFoundException](TableMeta.read(locs.head, conf))
    assert(TableMeta.read(locs.last, conf).properties("i") == locs.indices.last.toString)
    intercept[java.io.FileNotFoundException](
      TableMeta.read(s"$dir/metadata/absent.metadata.json", conf))
  }

  test("documents deleted by remove_orphan_files or a purging DROP are not served") {
    import graft.TestSpark._
    val short = s"dc${System.nanoTime() % 1000000}"
    val t = s"lake.doccache.$short"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.doccache")
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    val store = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[LakeCatalog].pointerStore
    def current = store.load("doccache", short).get
    spark.sql(s"INSERT INTO $t SELECT id FROM range(0, 10)")
    val old = current
    spark.sql(s"INSERT INTO $t SELECT id FROM range(10, 20)")
    val live = current
    val hconf = spark.sessionState.newHadoopConf()
    assert(TableMeta.read(old, hconf).currentSnapshotId < TableMeta.read(live, hconf).currentSnapshotId)
    LakeMaintenance.removeOrphanFiles(spark, t, olderThanMs = -60000L)
    intercept[java.io.FileNotFoundException](TableMeta.read(old, hconf))
    assert(spark.table(t).count() == 20L)
    spark.sql(s"DROP TABLE $t PURGE")
    intercept[java.io.FileNotFoundException](TableMeta.read(live, hconf))
  }
}
