package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` infers each parquet file's schema once per session and reads
  * with it afterwards: the reads must equal a fresh `spark.read.parquet`,
  * run no job once warm, and notice a rewritten file.
  */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  /** A fresh, uncached read, with `events.ts` normalized as documented
    * on [[Tables.events]].
    */
  private def fresh(dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events") raw
    else raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  test("cached reads equal a fresh read: schema and rows, every table") {
    Tables.names.foreach { n =>
      Tables.t(spark, sf, n)
      val cached = Tables.t(spark, sf, n)
      val expected = fresh(sf, n)
      assert(cached.schema == expected.schema, s"$n schema")
      assert(cached.exceptAll(expected).isEmpty && expected.exceptAll(cached).isEmpty,
        s"$n rows differ")
    }
  }

  test("a warm read runs no Spark job; each read is a fresh relation") {
    Tables.t(spark, sf, "nation")
    val (a, jobs) = jobsDuring(Tables.t(spark, sf, "nation"))
    assert(jobs == 0, s"warm Tables.t started $jobs jobs")
    // a self-join still resolves each side's columns separately
    val b = Tables.t(spark, sf, "nation")
    val n = fresh(sf, "nation")
    assert(a.join(b, a("n_nationkey") === b("n_regionkey")).count() ==
      n.as("x").join(n.as("y"), col("x.n_nationkey") === col("y.n_regionkey")).count())
  }

  test("a rewritten file is read with its new schema") {
    val dir = Files.createTempDirectory("tables").toFile
    val target = new java.io.File(dir, "region.parquet").toPath
    Files.copy(java.nio.file.Paths.get(s"$sf/region.parquet"), target)
    assert(!Tables.t(spark, dir.getPath, "region").columns.contains("r_extra"))

    val staged = new java.io.File(dir, "staged").getPath
    fresh(sf, "region").withColumn("r_extra", lit(7)).coalesce(1)
      .write.parquet(staged)
    val part = new java.io.File(staged).listFiles.filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, target, StandardCopyOption.REPLACE_EXISTING)

    val reread = Tables.t(spark, dir.getPath, "region")
    assert(reread.columns.contains("r_extra"), s"stale schema: ${reread.schema}")
    assert(reread.select("r_extra").collect().map(_.getInt(0)).toSet == Set(7))
  }
}
