package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata (TESTDATA.md). One parquet per
  * table; `events.ts` is nanosecond-precision and needs an explicit cast.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  /** The one parquet reader. Bare `spark.read.parquet` runs a schema-
    * inference job (a footer read) on every call; here a regular file's
    * schema is inferred once and later reads pass it explicitly, so they
    * run no job. The cache key is (session, canonical path, length,
    * lastModified): inference depends on session settings (`nanosAsLong`
    * types `events.ts`), and a rewritten file changes its length or mtime,
    * so it misses and is inferred again. Directories are not cached. Only
    * the schema is cached: every call builds a fresh relation with fresh
    * expression ids, so self-joins resolve as with a bare read.
    */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Long, Long), StructType]()
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path).getCanonicalFile
    if (!f.isFile) spark.read.parquet(path)
    else {
      val key = (spark, f.getPath, f.length, f.lastModified)
      val cached = schemas.get(key)
      if (cached != null) spark.read.schema(cached).parquet(path)
      else {
        val df = spark.read.parquet(path)
        schemas.put(key, df.schema)
        df
      }
    }
  }

  /** events.ts has shipped as parquet TIMESTAMP(NANOS) (surfacing as Long
    * under spark.sql.legacy.parquet.nanosAsLong=true) and as TIMESTAMP(µs)
    * isAdjustedToUTC=false (surfacing as TIMESTAMP_NTZ) in different
    * testdata generations — adapt to whichever this dataset carries and
    * normalize to a µs TimestampType. The session timezone is pinned UTC
    * (Sessions), so the NTZ cast is value-identical to the nanos path and
    * to what DuckDB's reader produces; oracle comparisons line up exactly.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = parquet(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** [[t]] plus a data-adaptive fan-out for compute-heavy consumers
    * (explodes, shingling, per-pair verifies). The testdata ships ONE row
    * group per table, so a bare scan runs as a single task no matter how
    * many byte-range splits Spark makes, and every map-side stage above it
    * serializes on one core — the "unsplittable input" case of the
    * optimization guide (§2.5), whose fix is an explicit repartition right
    * after the read. The trigger is derived from the DATA, not the core
    * count: it engages only when the whole table fits in one scan split
    * (file bytes <= spark.sql.files.maxPartitionBytes). At production
    * scale that is false for any table big enough to matter — a table
    * spanning many splits already parallelizes at the scan, and the
    * repartition (a full shuffle of the projected columns) would be pure
    * cost, so it self-disables. Callers pass the columns they consume so
    * the fan-out shuffle carries only those bytes (guide §2.3: project
    * before the exchange); filters written after the fan still reach the
    * scan (Catalyst pushes predicates through Repartition).
    */
  def fan(spark: SparkSession, dir: String, name: String, cols: Column*): DataFrame = {
    val base = t(spark, dir, name)
    val df = if (cols.isEmpty) base else base.select(cols: _*)
    val f = new java.io.File(s"$dir/$name.parquet")
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val oneSplit = f.isFile && f.length <= maxSplit
    if (oneSplit) df.repartition(spark.sparkContext.defaultParallelism) else df
  }

  /** Register every table as a temp view so shared ANSI SQL (run by both
    * spark.sql and the DuckDB oracle) resolves the same relations. Views
    * are cached per (session, dir): re-registering 10 tables per query
    * inflated every shared query's latency in r1's bench. Registration is
    * metadata-only; through [[parquet]] only a session's first read of a
    * table pays its schema-inference footer read.
    */
  private val registeredDir = new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()
  def registerAll(spark: SparkSession, dir: String): Unit =
    if (registeredDir.get(spark) != dir) synchronized {
      if (registeredDir.get(spark) != dir) {
        names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
        registeredDir.put(spark, dir)
      }
    }
}
