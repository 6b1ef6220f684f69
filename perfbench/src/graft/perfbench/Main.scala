package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one workload's fixed, seeded op list and
  * writes its result document (`result.json`) and, when tracing, its spans
  * (`spans.jsonl`) into the run's work directory.
  *
  * {{{
  *   Main --workload query_mix|lake_ops|commit_storm --seed N --ops N
  *        --trace 0|1 --data DIR --work DIR
  * }}}
  *
  * `--ops` is the size of the measured op list; the list itself, and every
  * key, value and order in it, derives from `--seed` only.
  */
object Main {
  final case class Args(workload: String, seed: Long, ops: Int, trace: Boolean,
      data: String, work: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("ops").toInt, kv("trace") == "1",
      kv("data"), kv("work"))
    Trace.enabled = a.trace
    val res = a.workload match {
      case "query_mix" => QueryMix.run(a)
      case "lake_ops" => LakeOps.run(a)
      case "commit_storm" => CommitStorm.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (a.trace) Trace.writeSpans(Paths.get(a.work, "spans.jsonl"))
    Files.writeString(Paths.get(a.work, "result.json"), res.json)
  }

  /** Spark task slots. Two, whatever the machine: the measured ops are small
    * (a few tasks each), and with fewer threads than cores the timings
    * depend less on what else the host runs.
    */
  val cores: Int = math.min(2, Runtime.getRuntime.availableProcessors())

  /** Seconds since this JVM started: the session-start part of set-up. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime) / 1e3

  def session(a: Args, cores: Int): SparkSession = {
    val b = graft.Sessions.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.catalog.lake.warehouse", s"${a.work}/lake")
      .config("spark.sql.catalog.lake.jdbc.url",
        s"jdbc:derby:memory:perfbench${ProcessHandle.current().pid()};create=true")
    if (a.trace) b.config("spark.sql.catalog.lake", classOf[BenchLakeCatalog].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (a.trace) {
      spark.sparkContext.addSparkListener(new ExecListener)
      spark.listenerManager.register(new CatalystListener)
    }
    spark
  }

  /** Delivers pending listener events (traced run only). */
  def drain(spark: SparkSession): Unit =
    if (Trace.enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Bench.scala's cache-hygiene rule, per op: nothing persisted or cached
    * may outlive the op that made it.
    */
  def requireClean(spark: SparkSession, what: String): Unit = {
    val leaked = spark.sparkContext.getPersistentRDDs
    require(leaked.isEmpty,
      s"$what leaked ${leaked.size} persisted RDD(s): ${leaked.values.map(_.name).mkString(", ")}")
    require(spark.sharedState.cacheManager.isEmpty, s"$what left a cached table behind")
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Per-op cost of a mix: each op kind's median, weighted by the kind's
    * share of the samples. Kinds without samples are left out.
    */
  def mixMedian(lat: Latencies, kinds: Seq[String]): Double = {
    val xs = kinds.map(k => lat(k)).filter(_.nonEmpty)
    require(xs.nonEmpty, s"no samples of ${kinds.mkString(", ")}")
    xs.map(x => x.size * median(x)).sum / xs.map(_.size).sum
  }

  /** The highest percentile with at least 10 samples beyond it; with 10
    * samples or fewer no percentile qualifies, and the slowest op stands in.
    */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size <= 10) s.last else s(s.size - 11)
  }

  /** The reference computation that the gated latencies are expressed in.
    *
    * On the shared 4-vCPU hosts this benchmark runs on, the milliseconds of
    * the same op list moved by up to 60% from one run to the next, with the
    * load of the host's other tenants. A fixed piece of work timed next to
    * each op moves with that load too: two threads each walk 20,000 steps of
    * a random cycle through a 32 MB array, so every step misses the caches,
    * the way the engine's threads share the host's cores and memory. It is
    * timed around every measured op; a run's op latencies divided by the
    * median of its reference timings keep the ops' cost and drop much of the
    * host's. No program code runs in the reference, so no program change
    * moves it.
    */
  object Reference {
    private val ring: Array[Int] = {
      val n = 1 << 23
      val perm = Array.range(0, n)
      val r = new java.util.Random(7L)
      var k = n - 1
      while (k > 0) { val j = r.nextInt(k + 1); val t = perm(k); perm(k) = perm(j); perm(j) = t; k -= 1 }
      val next = new Array[Int](n)
      k = 0
      while (k < n) { next(perm(k)) = perm((k + 1) % n); k += 1 }
      next
    }
    private val walkers = java.util.concurrent.Executors.newFixedThreadPool(2,
      (r: Runnable) => { val t = new Thread(r, "perfbench-reference"); t.setDaemon(true); t })
    @volatile private var sink = 0
    private def walk(from: Int): Int = {
      var p = from
      var s = 0
      while (s < 20000) { p = ring(p); s += 1 }
      p
    }
    private def once(): Double = {
      val t0 = System.nanoTime()
      val fs = Seq(1, 2).map(k => walkers.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = walk(k << 20)
      }))
      sink += fs.map(_.get()).sum
      (System.nanoTime() - t0) / 1e6
    }
    /** The reference's time now: the median of three timings, in ms. */
    def ms(): Double = median(Seq(once(), once(), once()))
    /** Builds the array and JIT-compiles the walk before anything is measured. */
    def warm(): Unit = (0 until 100).foreach(_ => once())
  }

  /** Sorted latency samples with their count, for the result document. */
  def latencyJson(xs: Seq[Double]): String =
    if (xs.isEmpty) """{"n":0}"""
    else f"""{"n":${xs.size},"p50_ms":${median(xs)}%.4f,"tail_ms":${tail(xs)}%.4f,"max_ms":${xs.max}%.4f}"""

  /** File size of a local path, 0 when absent. */
  def bytes(path: String): Long = {
    val p = Paths.get(new java.net.URI(if (path.contains(":")) path else s"file:$path").getPath)
    if (Files.exists(p)) Files.size(p) else 0L
  }

  /** Elapsed seconds of `body`. */
  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

/** One workload run's outcome. `e2e` holds the end-to-end metrics, `layers`
  * the per-layer metrics (traced run only); `info` carries sample counts
  * and sizes for the summary.
  */
final case class Result(workload: String, seed: Long, trace: Boolean,
    attempted: Int, failed: Int, correct: Boolean, errors: Seq[String],
    e2e: Map[String, Double], layers: Map[String, Double], info: Map[String, String]) {

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
  private def num(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}" }
      .mkString("{", ",", "}")

  def json: String =
    s"""{"workload":${q(workload)},"seed":$seed,"trace":$trace,"attempted":$attempted,""" +
      s""""failed":$failed,"correct":$correct,"errors":${errors.take(20).map(q).mkString("[", ",", "]")},""" +
      s""""e2e":${num(e2e)},"layers":${num(layers)},""" +
      s""""info":${info.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")}}"""
}

/** Accumulates op latencies by class. */
final class Latencies {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(cls: String, ms: Double): Unit = m.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += ms
  def apply(cls: String*): Seq[Double] = cls.flatMap(c => m.getOrElse(c, Nil)).toSeq
  def all: Seq[Double] = m.values.flatten.toSeq
}

/** Per-layer metrics of a traced run's measured phase, from the counter
  * deltas `d` (see [[Counters]]). Layers a workload never enters read 0;
  * workloads add the metrics only they can compute.
  */
object Layers {
  def from(d: Map[String, Long], wallS: Double, cores: Int): Map[String, Double] = {
    def n(k: String): Double = d(k).toDouble
    def ms(k: String): Double = d(k) / 1e6
    Map(
      "queries.construct_ms" -> ms("queries.construct_ns"),
      "queries.construct_jobs" -> n("queries.construct_jobs"),
      "tables.schema_jobs" -> n("tables.schema_jobs"),
      "catalyst.analysis_ms" -> n("catalyst.analysis_ms"),
      "catalyst.optimization_ms" -> n("catalyst.optimization_ms"),
      "catalyst.planning_ms" -> n("catalyst.planning_ms"),
      "exec.ms" -> ms("exec.job_ns"),
      "exec.jobs" -> n("exec.jobs"),
      "exec.tasks" -> n("exec.tasks"),
      "exec.task_ms" -> ms("exec.task_ns"),
      "exec.core_util" -> d("exec.task_ns") / 1e9 / (wallS * cores),
      "exec.shuffle_read_bytes" -> n("exec.shuffle_read_bytes"),
      "exec.shuffle_write_bytes" -> n("exec.shuffle_write_bytes"),
      "exec.single_task_stage_ms" -> ms("exec.single_task_stage_ns"),
      "lakecatalog.load_calls" -> n("lakecatalog.load_calls"),
      "lakecatalog.load_ms" -> ms("lakecatalog.load_ns"),
      "pointerstore.calls" -> n("pointerstore.calls"),
      "pointerstore.busy_ms" -> ms("pointerstore.busy_ns"),
      "pointerstore.wait_ms" -> ms("pointerstore.wait_ns"),
      "pointerstore.cas_calls" -> n("pointerstore.cas_calls"),
      "pointerstore.cas_lost_ratio" ->
        (if (d("pointerstore.cas_calls") == 0) 0.0 else n("pointerstore.cas_lost") / n("pointerstore.cas_calls")),
      "pointerstore.lease_calls" -> n("pointerstore.lease_calls"),
      "tablemeta.doc_bytes" -> 0.0,
      "tablemeta.transform_ms" -> ms("tablemeta.transform_ns"),
      "tablemeta.residual_ms" -> ms("tablemeta.residual_ns"),
      "manifestio.reads" -> n("ManifestIO.manifestReads"),
      "manifestio.skipped" -> n("ManifestIO.manifestsSkipped"),
      "manifestio.bloom_sidecar_reads" -> n("ManifestIO.bloomSidecarReads"),
      "manifestio.cached_entries" -> graft.catalog.ManifestIO.cachedEntryCount.toDouble,
      "scan.rows_per_row_returned" -> 0.0,
      "scan.positional_opens" -> n("EqDeletes.opens"),
      "scan.bloom_refined" -> n("EqDeletes.bloomRefined"),
      "scan.row_groups_pruned" -> n("PositionalParquet.rowGroupsPruned"),
      "scan.runtime_deletes_dropped" -> n("LakeScan.runtimeDeletesDropped"),
      "write.p50_ms" -> 0.0,
      "write.files_written" -> 0.0,
      "write.bytes_per_user_byte" -> 0.0,
      "write.delete_files_live" -> 0.0,
      "write.space_amp" -> 0.0,
      "maint.s" -> 0.0,
      "maint.files_rewritten" -> 0.0,
      "maint.bytes_rewritten" -> 0.0,
      "commit.replans" -> n("commit.replans"),
      "commit.writer_wall_spread" -> 0.0)
  }
}
