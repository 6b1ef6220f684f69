package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog._

/** commit_storm: two writer threads race commits through
  * `CasCommit.retryLoop` on one table, each through its own pointer store
  * on one shared in-memory Derby with 2 ms of injected latency per
  * statement, while one resolver thread resolves the table through
  * `LakeCatalog.loadTable`. The resolver's catalog is the one whose pointer
  * store writer 0 commits through. No Spark query runs; the session exists
  * only because the catalog takes its Hadoop configuration from it. Two
  * writers and the resolver leave a core of a 4-vCPU machine to the JVM's
  * own threads (GC, JIT, Derby).
  *
  * Each writer's commits follow a seeded 60/20/20 mix of append,
  * equality-delete delta and compaction (CommitContentionBench's op
  * shapes). A compaction re-plans from the fresh base on conflict; one that
  * exhausts its re-plan budget is a failed op. The resolver interleaves its
  * resolutions with commit progress (resolution i waits for commit
  * i * total / resolutions), so no time window is involved. Around each
  * resolution it also times the reference computation ([[Main.Reference]]).
  */
object CommitStorm {
  private val schema = StructType(Seq(StructField("k", LongType)))
  private val BaseFiles = 20
  private val ReplanBudget = 20
  private val Kinds = Seq("append", "eq-delta", "compact")

  private def dataFile(dir: String, tag: String): DataFileMeta =
    DataFileMeta(s"$dir/data/$tag.parquet", 100L, 1000L,
      Map("k" -> "0"), Map("k" -> "999"), Map("k" -> 0L))

  private def eqDeleteFile(dir: String, tag: String): DataFileMeta =
    DataFileMeta(s"$dir/data/$tag-eqdel.parquet", 10L, 100L)

  /** Commits completed so far; the resolver paces itself on it. */
  private final class Progress {
    private var done = 0
    def tick(): Unit = synchronized { done += 1; notifyAll() }
    def await(n: Int): Unit = synchronized { while (done < n) wait() }
  }

  private final class Tally {
    val appends, compactions, replans, failed = new AtomicInteger()
    val errors = new ConcurrentLinkedQueue[String]()
  }

  def run(a: Main.Args): Result = {
    PointerStore.injectedLatencyMs.set(2)
    val spark = Main.session(a, 1)
    val sessionS = Main.sinceJvmStart
    val conf = spark.sessionState.newHadoopConf()
    val url = s"jdbc:derby:memory:storm${ProcessHandle.current().pid()};create=true"
    val warehouse = s"${a.work}/storm"
    val catalog = new BenchLakeCatalog
    catalog.initialize("lake", new CaseInsensitiveStringMap(
      Map("warehouse" -> warehouse, "jdbc.url" -> url).asJava))
    val shared = catalog.pointerStore

    def register(tn: String): String = {
      val dir = s"$warehouse/$tn"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val base = TableMeta(1, dir, schema.json, Nil, Map.empty, 1L,
        Seq(SnapshotMeta(1L, 1000L, "append", Nil)))
      val seeded = TableMeta.withAppend(base, "append",
        (0 until BaseFiles).map(i => dataFile(dir, s"seed-$i")), conf)
      val loc = TableMeta.write(seeded, conf)
      require(shared.register("ns", tn, loc), s"register ns.$tn")
      loc
    }
    def resolve(tn: String): LakeTable =
      catalog.loadTable(Identifier.of(Array("ns"), tn)).asInstanceOf[LakeTable]

    // set-up: three rounds of register + warm-up (one writer, every op
    // shape, plus resolutions) on throwaway tables; median round counts
    val warmRounds = (0 until 3).map { r =>
      Main.timed {
        val tn = s"warm$r"
        register(tn)
        val tally = new Tally
        Seq("append", "eq-delta", "compact", "append", "compact", "append").zipWithIndex.foreach {
          case (op, i) => commitOne(shared, conf, warehouse, tn, 0, i, op, tally); resolve(tn)
        }
        require(tally.failed.get == 0, s"warm-up failed: ${tally.errors.asScala.mkString("; ")}")
      }
    }
    val setupS = sessionS + Main.median(warmRounds)
    val startLoc = register("t")
    val docStart = Main.bytes(startLoc)

    val nWriters = math.min(2, math.max(1, Runtime.getRuntime.availableProcessors() - 1))
    val perWriter = math.max(5, a.ops / nWriters)
    val total = perWriter * nWriters
    val nResolutions = math.max(11, total / 2)
    val plans = (0 until nWriters).map { w =>
      val n3 = perWriter / 5
      val kinds = Seq.fill(perWriter - 2 * n3)("append") ++ Seq.fill(n3)("eq-delta") ++
        Seq.fill(n3)("compact")
      new scala.util.Random(a.seed * 1000003L + w).shuffle(kinds)
    }

    Main.Reference.warm()
    Main.drain(spark)
    val before = Counters.snapshot()
    val tally = new Tally
    val progress = new Progress
    val commits = new ConcurrentLinkedQueue[(String, Double)]()
    val refs = new ConcurrentLinkedQueue[java.lang.Double]()
    val writerWall = new Array[Double](nWriters)
    val resolutions = new ConcurrentLinkedQueue[(Double, String, Long)]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until nWriters).map { w =>
      new Thread(() => {
        val store = if (w == 0) shared else new BenchStore(url, "lake")
        start.await()
        val t0 = System.nanoTime()
        try plans(w).zipWithIndex.foreach { case (op, i) =>
          val c0 = System.nanoTime()
          val ok = Trace.withOp((w + 1) * 1000000L + i)(
            Trace.span("op.commit")(commitOne(store, conf, warehouse, "t", w, i, op, tally)))
          if (ok) commits.add(op -> (System.nanoTime() - c0) / 1e6)
          progress.tick()
        } finally {
          writerWall(w) = (System.nanoTime() - t0) / 1e9
          if (w != 0) store.close()
        }
      }, s"writer-$w")
    } :+ new Thread(() => {
      start.await()
      (0 until nResolutions).foreach { i =>
        progress.await(i * total / nResolutions)
        val ref0 = Main.Reference.ms()
        val r0 = System.nanoTime()
        val t = Trace.withOp(-(i + 1L))(Trace.span("op.resolve")(resolve("t")))
        resolutions.add(((System.nanoTime() - r0) / 1e6, t.metadataLocation, t.meta.currentSnapshotId))
        refs.add((ref0 + Main.Reference.ms()) / 2)
      }
    }, "resolver")
    val errors = new ConcurrentLinkedQueue[String]()
    threads.foreach(_.setUncaughtExceptionHandler((t, e) => errors.add(s"${t.getName}: $e")))
    threads.foreach(_.start())
    val wall0 = System.nanoTime()
    start.countDown()
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - wall0) / 1e9
    val after = Counters.snapshot()

    // protocol invariants (CommitContentionBench's) plus resolution lineage
    val endLoc = shared.load("ns", "t").get
    val fin = TableMeta.read(endLoc, conf)
    val committed = commits.size
    val checks: Seq[(Boolean, String)] = Seq(
      errors.isEmpty -> s"thread failures: ${errors.asScala.mkString("; ")}",
      (fin.snapshots.size == 2 + committed) ->
        s"expected ${2 + committed} snapshots (2 base + $committed commits), got ${fin.snapshots.size}",
      (fin.snapshots.map(_.snapshotId).distinct.size == fin.snapshots.size) -> "duplicate snapshot ids",
      (fin.currentFiles.size == BaseFiles + tally.appends.get - tally.compactions.get) ->
        (s"live files ${fin.currentFiles.size} != $BaseFiles + ${tally.appends.get} appended - " +
          s"${tally.compactions.get} compactions"),
      (resolutions.size == nResolutions) -> s"${resolutions.size} of $nResolutions resolutions ran")
    val ids = fin.snapshots.map(_.snapshotId).toSet
    val stray = resolutions.asScala.filterNot { case (_, loc, sid) =>
      (loc == startLoc || BenchStore.won.contains(loc)) && loc.startsWith(s"$warehouse/t/") && ids(sid)
    }
    val failures: Seq[String] = checks.collect { case (false, msg) => msg } ++
      stray.take(3).map { case (_, loc, sid) => s"resolution outside the final lineage: $loc @ $sid" }
    val docEnd = Main.bytes(endLoc)
    catalog.pointerStore.close()
    spark.stop()

    val byKind = new Latencies
    commits.asScala.foreach { case (op, ms) => byKind.add(op, ms) }
    val lat = byKind.all
    val res = resolutions.asScala.map(_._1).toSeq
    val refMs = refs.asScala.map(_.doubleValue).toSeq
    val d = Counters.delta(before, after)
    val layers = if (!a.trace) Map.empty[String, Double] else Layers.from(d, wallS, 1) ++ Map(
      "tablemeta.doc_bytes" -> docEnd.toDouble,
      "commit.writer_wall_spread" -> (writerWall.max - writerWall.min) / writerWall.max)
    Result("commit_storm", a.seed, a.trace, total, tally.failed.get,
      correct = failures.isEmpty, failures ++ tally.errors.asScala.toSeq.take(5),
      e2e = Map(
        "setup_s" -> setupS,
        "op_ref" -> Main.mixMedian(byKind, Kinds) / Main.median(refMs),
        "read_ref" -> Main.median(res) / Main.median(refMs)),
      layers = layers,
      info = Map(
        "writers" -> nWriters.toString,
        "latency_commit" -> Main.latencyJson(lat),
        "latency_kind" -> Kinds.map(k => s""""$k":${Main.latencyJson(byKind(k))}""").mkString("{", ",", "}"),
        "ops_per_s" -> (committed / wallS).toString,
        "latency_resolve" -> Main.latencyJson(res),
        "reference_ms" -> Main.latencyJson(refMs),
        "doc_bytes_start" -> docStart.toString,
        "doc_bytes_end" -> docEnd.toString,
        "snapshots_end" -> fin.snapshots.size.toString,
        "live_files_end" -> fin.currentFiles.size.toString,
        "compactions" -> tally.compactions.get.toString,
        "replans" -> tally.replans.get.toString,
        "warmup_rounds_s" -> warmRounds.mkString("[", ",", "]"),
        "session_s" -> sessionS.toString,
        "measured_s" -> wallS.toString))
  }

  /** One logical commit through the production loop; false when it failed
    * (a compaction that exhausted its re-plan budget, or an error).
    */
  private def commitOne(store: PointerStore, conf: Configuration, warehouse: String, tn: String,
      w: Int, i: Int, op: String, tally: Tally): Boolean = {
    val dir = s"$warehouse/$tn"
    val storeNs0 = BenchStore.threadStoreNs.get
    var transformNs = 0L
    def transform(f: TableMeta => TableMeta): TableMeta => TableMeta = b => {
      val t0 = System.nanoTime()
      try Trace.span("tablemeta.transform")(f(b)) finally transformNs += System.nanoTime() - t0
    }
    def commit(loc: String, base: TableMeta, operation: String, lease: Option[String])(
        validate: TableMeta => Unit)(f: TableMeta => TableMeta): Unit =
      Trace.span("tablemeta.retryloop")(CasCommit.retryLoop(store, "ns", tn, loc, base, operation,
        s"ns.$tn", conf, heldLease = lease)(validate)(transform(f))(()))
    val c0 = System.nanoTime()
    var attempts = 0
    // after 5 conflicted re-plans a compaction claims the commit lease
    // before planning (CommitContentionBench's starvation escape)
    var lease: Option[String] = None
    try {
      while (true) {
        attempts += 1
        if (op == "compact" && attempts > 5 && lease.isEmpty) {
          val id = java.util.UUID.randomUUID().toString
          while (lease.isEmpty) {
            if (store.tryAcquireLease("ns", tn, id, System.currentTimeMillis(), 10000L)) lease = Some(id)
            else Thread.sleep(20)
          }
        }
        val loc = store.load("ns", tn).get
        val base = Trace.span("tablemeta.read")(TableMeta.read(loc, conf))
        try {
          op match {
            case "append" =>
              commit(loc, base, "append", None)(_ => ())(
                b => TableMeta.withAppend(b, "append", Seq(dataFile(dir, s"w$w-c$i")), conf))
              tally.appends.incrementAndGet()
            case "eq-delta" =>
              commit(loc, base, "delete-delta", None)(_ => ())(
                b => TableMeta.withDelta(b, "delete-delta", Nil,
                  Seq(eqDeleteFile(dir, s"w$w-c$i")), conf, "eq-deletes"))
            case "compact" =>
              val victims = base.currentFiles.sortBy(_.path).take(2)
              require(victims.size == 2, s"compaction w$w-c$i found ${victims.size} live files")
              val replaced = victims.map(_.path).toSet
              val scanDeletes = (base.currentDeleteFiles ++ base.currentEqDeleteFiles).map(_.path).toSet
              commit(loc, base, "compact", lease) { b =>
                CasCommit.requireReplacedLive(b, replaced, "compact", s"ns.$tn")
                CasCommit.requireNoNewDeletes(scanDeletes, b, replaced, "compact", s"ns.$tn")
              }(b => TableMeta.withRewrite(b, "compact", replaced,
                Seq(dataFile(dir, s"w$w-c$i-merged")), conf))
              tally.compactions.incrementAndGet()
          }
          return true
        } catch {
          case _: CommitConflictException if op == "compact" && attempts < ReplanBudget =>
            tally.replans.incrementAndGet()
            Trace.add("commit.replans", 1)
        }
      }
      false
    } catch {
      case e: Exception =>
        tally.failed.incrementAndGet()
        tally.errors.add(s"w$w-c$i $op: ${e.getMessage}")
        false
    } finally {
      lease.foreach(id => store.releaseLease("ns", tn, id))
      if (Trace.enabled) {
        val totalNs = System.nanoTime() - c0
        val storeNs = BenchStore.threadStoreNs.get - storeNs0
        Trace.add("tablemeta.transform_ns", transformNs)
        Trace.add("tablemeta.residual_ns", totalNs - storeNs - transformNs)
      }
    }
  }
}
