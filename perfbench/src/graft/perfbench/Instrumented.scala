package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.connector.catalog.{Identifier, Table}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.{CaseInsensitiveStringMap, QueryExecutionListener}

import graft.catalog.{LakeCatalog, PointerStore}

/** Pointer store used by every benchmark writer and catalog. It records the
  * location of every won CAS (the lineage the resolution check compares
  * against) and, when tracing, takes the store's own monitor before
  * delegating, which splits the time spent waiting for the monitor from the
  * time spent holding it.
  */
class BenchStore(url: String, catalogName: String,
    props: java.util.Properties = new java.util.Properties)
  extends PointerStore(url, catalogName, props) {

  private def call[T](method: String)(body: => T): T =
    if (!Trace.enabled) body
    else {
      val t0 = System.nanoTime()
      synchronized {
        val t1 = System.nanoTime()
        try Trace.span(s"pointerstore.$method")(body)
        finally {
          val t2 = System.nanoTime()
          Trace.add("pointerstore.calls", 1)
          Trace.add("pointerstore.wait_ns", t1 - t0)
          Trace.add("pointerstore.busy_ns", t2 - t1)
          BenchStore.threadStoreNs.set(BenchStore.threadStoreNs.get + (t2 - t0))
        }
      }
    }

  override def load(ns: String, name: String): Option[String] = call("load")(super.load(ns, name))

  override def casUpdate(ns: String, name: String, newLoc: String, expected: String): Int = {
    val r = call("cas")(super.casUpdate(ns, name, newLoc, expected))
    Trace.add("pointerstore.cas_calls", 1)
    if (r == 1) BenchStore.won.add(newLoc) else Trace.add("pointerstore.cas_lost", 1)
    r
  }

  override def register(ns: String, name: String, loc: String): Boolean = {
    val r = call("register")(super.register(ns, name, loc))
    if (r) BenchStore.won.add(loc)
    r
  }

  override def tableExists(ns: String, name: String): Boolean =
    call("exists")(super.tableExists(ns, name))

  override def tryAcquireLease(ns: String, name: String, holder: String,
      nowMs: Long, ttlMs: Long): Boolean = {
    Trace.add("pointerstore.lease_calls", 1)
    call("lease")(super.tryAcquireLease(ns, name, holder, nowMs, ttlMs))
  }

  override def peekLease(ns: String, name: String, nowMs: Long, ttlMs: Long): Option[String] = {
    Trace.add("pointerstore.lease_calls", 1)
    call("lease")(super.peekLease(ns, name, nowMs, ttlMs))
  }

  override def releaseLease(ns: String, name: String, holder: String): Unit = {
    Trace.add("pointerstore.lease_calls", 1)
    call("lease")(super.releaseLease(ns, name, holder))
  }
}

object BenchStore {
  /** Every metadata location a pointer was ever set to, by any store. */
  val won: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  /** Store time (wait + busy) spent by the current thread, when tracing. */
  val threadStoreNs: ThreadLocal[java.lang.Long] = ThreadLocal.withInitial(() => 0L)
}

/** The lake catalog with its pointer store swapped for a [[BenchStore]] and
  * table resolutions timed. Plugged in through `spark.sql.catalog.lake` in
  * the traced run, and built directly by commit_storm.
  */
class BenchLakeCatalog extends LakeCatalog {
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    super.initialize(name, options)
    val stock = store
    store = new BenchStore(options.get("jdbc.url"), name, LakeCatalog.jdbcProperties(options))
    stock.close()
  }

  override def loadTable(ident: Identifier): Table = {
    val t0 = System.nanoTime()
    try Trace.span("lakecatalog.load")(super.loadTable(ident))
    finally {
      Trace.add("lakecatalog.load_calls", 1)
      Trace.add("lakecatalog.load_ns", System.nanoTime() - t0)
    }
  }
}

/** Jobs, stages and tasks, attributed to the op (and phase) whose thread
  * started them through the `perfbench.op` / `perfbench.phase` local
  * properties.
  */
final class ExecListener extends SparkListener {
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]() // job -> (op, start ms)
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = prop(e.properties, "perfbench.op").map(_.toLong).getOrElse(0L)
    jobStart.put(e.jobId, (op, e.time))
    e.stageIds.foreach(s => stageOp.put(s, op))
    Trace.add("exec.jobs", 1)
    if (prop(e.properties, "perfbench.phase").contains("construct"))
      Trace.add("queries.construct_jobs", 1)
    // parquet schema inference of a base table read (`Tables.t`)
    if (e.stageInfos.exists(_.name.contains("Tables.scala"))) Trace.add("tables.schema_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
      Trace.record("exec.job", op, Trace.fromEpochMs(t0), Trace.fromEpochMs(e.time))
      Trace.add("exec.job_ns", (e.time - t0) * 1000000L)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    if (si.numTasks == 1)
      for (a <- si.submissionTime; b <- si.completionTime)
        Trace.add("exec.single_task_stage_ns", (b - a) * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Trace.add("exec.tasks", 1)
    Trace.add("exec.task_ns", e.taskInfo.duration * 1000000L)
    Option(e.taskMetrics).foreach { m =>
      Trace.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      Trace.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      Trace.add("exec.records_read", m.inputMetrics.recordsRead)
      Option(stageOp.get(e.stageId)).foreach(op => Trace.addRecords(op, m.inputMetrics.recordsRead))
    }
  }
}

/** Catalyst phase times from each execution's `QueryExecution.tracker`.
  * The listener runs on Spark's listener thread, so its spans carry no op
  * id; they sit on the span timeline by their tracker timestamps.
  */
final class CatalystListener extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Unit =
    Seq("analysis", "optimization", "planning").foreach { p =>
      qe.tracker.phases.get(p).foreach { s =>
        Trace.add(s"catalyst.${p}_ms", s.durationMs)
        Trace.record(s"catalyst.$p", 0L, Trace.fromEpochMs(s.startTimeMs), Trace.fromEpochMs(s.endTimeMs))
      }
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}
