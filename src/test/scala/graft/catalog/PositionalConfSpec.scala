package graft.catalog

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read readers take their Hadoop conf from the scan: they never
  * build a default one per parquet open, and their reader factory carries
  * it by broadcast rather than inside every task.
  */
class PositionalConfSpec extends AnyFunSuite {
  import graft.TestSpark._

  /** Counts lookups of Hadoop's default resource through this loader: every
    * `new Configuration()` that loads its properties makes one.
    */
  private final class CountingLoader(parent: ClassLoader) extends ClassLoader(parent) {
    val defaults = new java.util.concurrent.atomic.AtomicInteger
    override def getResource(name: String): java.net.URL = {
      if (name == "core-default.xml") defaults.incrementAndGet()
      super.getResource(name)
    }
  }

  private def defaultConfsDuring[T](body: => T): (T, Int) = {
    val th = Thread.currentThread()
    val prev = th.getContextClassLoader
    val loader = new CountingLoader(prev)
    th.setContextClassLoader(loader)
    try (body, loader.defaults.get) finally th.setContextClassLoader(prev)
  }

  test("positional opens and footer reads build no default Hadoop conf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pconf").toString
    spark.range(0, 1000).toDF("id").repartition(1).write.parquet(s"$dir/data")
    val dataPath = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toURI.toString
    Seq((dataPath, 3L), (dataPath, 7L), ("other", 1L))
      .toDF(DeleteFiles.FilePathCol, DeleteFiles.PosCol).repartition(1)
      .write.parquet(s"$dir/deletes")
    val deletePath = new java.io.File(s"$dir/deletes").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toURI.toString
    val conf = spark.sessionState.newHadoopConf()
    conf.get("fs.defaultFS") // loaded before counting
    val ((positions, groups, rows, entry), defaults) = defaultConfsDuring {
      val r = PositionalParquet.open(dataPath,
        StructType(Seq(StructField("id", LongType))), conf)
      var n = 0
      try while (r.read() != null) n += 1 finally r.close()
      (PositionalParquet.deletedPositions(dataPath, Seq(DeleteSlice(deletePath)), conf).toSeq,
        PositionalParquet.rowGroupStats(dataPath, conf).size, n,
        FooterStats.entry(dataPath, StructType(Seq(StructField("id", LongType))).json, conf))
    }
    assert(positions == Seq(3L, 7L) && groups == 1 && rows == 1000)
    assert(entry.rowCount == 1000L && entry.minValues.get("id").contains("0"))
    assert(defaults == 0, s"$defaults default Hadoop confs loaded")
  }

  test("the positional reader factory does not grow with the Hadoop conf") {
    val short = s"pc${System.nanoTime() % 1000000}"
    val t = s"lake.pconf.$short"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.pconf")
    spark.sql(s"CREATE TABLE $t (id BIGINT) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id FROM range(0, 100)")
    spark.sql(s"DELETE FROM $t WHERE id % 10 = 3")
    // every file is dirty, so the factory holds no delegate parquet factory
    // (which carries the session's SQL conf by design)
    def factoryBytes(): Int = {
      val df = spark.table(t)
      assert(df.count() == 90L)
      val f = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
        .readerFactory
      assert(f.isInstanceOf[LakeReaderFactory])
      val bos = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bos)
      out.writeObject(f)
      out.close()
      bos.size()
    }
    val before = factoryBytes()
    val pad = "x" * 200000
    spark.conf.set("graft.test.pad", pad)
    val after = try factoryBytes() finally spark.conf.unset("graft.test.pad")
    assert(after - before < pad.length / 10, s"factory grew from $before to $after bytes")
    spark.sql(s"DROP TABLE $t")
  }
}
