package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession construction so Verify / Bench / tests share one
  * scale-aware config. Designed for a real cluster (partition counts and
  * AQE settings hold at 1000 executors); `master` is only `local[N]` here.
  */
object Sessions {
  /** The session every main runs on: `local[SPARK_GRAFT_CPUS]` (default 4)
    * with as many shuffle partitions, logging at WARN.
    */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Kryo for RDD-level shuffles/broadcasts (the pair-RDD iteration
      // cores: CC, BFS, PageRank). SQL exchanges use Tungsten UnsafeRow
      // regardless; this only shrinks/speeds the (Long, Long) pair
      // shuffles, which Java serialization bloats ~4×. Standard
      // production baseline (Spark tuning guide).
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // AQE: runtime coalescing, skew-join splitting, broadcast demotion —
      // the knobs that keep the same plan viable from sf0.001 to 100 TB.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE coalescing is BYTE-driven; its default 1 MiB minPartitionSize
      // floor collapses any reduce stage under ~cores·MiB to a handful of
      // tasks. That's correct for IO-bound stages but starves CPU-bound
      // ones — this engine's heavy reduce stages (shingle-array Jaccard
      // verifies, gram joins, per-pair hamming probes) cost ~µs/row on
      // ~100-byte rows, so a 1 MiB partition is ~10k rows of serial CPU.
      // A 64 KiB floor keeps those stages parallel while leaving any
      // stage above ~64 KiB/partition (i.e. every at-scale bulk stage,
      // which AQE sizes toward advisoryPartitionSizeInBytes anyway)
      // untouched.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // Storage-partitioned joins: two lake tables partitioned on the same
      // key join WITHOUT shuffling either side (scans report
      // KeyGroupedPartitioning from clustered-file metadata).
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "false")
      // Custom codegen expressions (minhash_signature / simhash /
      // cosine_sim) registered as SQL functions.
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's reader rejects;
      // read as long (nanos) and convert explicitly (Tables.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Write µs-precision int64 timestamps (matches the DuckDB oracle and
      // every modern reader; INT96 is deprecated).
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
      // Catalog plugin (SURVEY §7 M3): `lake` resolves through our
      // Derby-backed pointer store — see graft.catalog.LakeCatalog.
      .config("spark.sql.catalog.lake", "graft.catalog.LakeCatalog")
      .config("spark.sql.catalog.lake.warehouse", defaultWarehouse)
      .config("spark.sql.catalog.lake.jdbc.url", defaultJdbcUrl)
      // `file:` without a `chmod` fork per written file (and per `.crc`)
      .config(s"spark.hadoop.${catalog.NioLocalFileSystem.ImplKey}",
        catalog.NioLocalFileSystem.Impl)

  /** Per-process scratch warehouse; catalog tables created by queries live
    * here. Cleaned up lazily by the OS tmp reaper.
    */
  lazy val defaultWarehouse: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-warehouse")
    d.toString
  }

  /** Embedded in-memory Derby — same `iceberg_tables` contract as the
    * reference's Postgres (reference: src/catalog/mod.rs:365-385); the SQL
    * dialect shim makes the store portable to Postgres in prod.
    */
  lazy val defaultJdbcUrl: String =
    s"jdbc:derby:memory:graft${ProcessHandle.current().pid()};create=true"
}
