package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Where one run of a registered query spent its time.
  *
  *  - Construction: building the query's DataFrame, with the Spark jobs its
  *    definition runs eagerly (collects, persists, index builds).
  *  - Catalyst: analysis of the returned DataFrame (its own tracker: the
  *    plan is analyzed when the DataFrame is made), then optimization and
  *    planning of the noop write.
  *  - Execution: the noop write, which materializes every output column
  *    (a bare `count()` would let Catalyst prune the plan to a row count),
  *    with its jobs and their completed stages.
  *
  * `returned` is the plan of the DataFrame the query returned; `executions`
  * holds every SQL execution the run finished, construction's internal ones
  * first and the noop write last.
  */
final case class QueryProfile(
    name: String,
    constructMs: Double,
    construct: QueryProfile.Jobs,
    analysisMs: Long,
    optimizationMs: Long,
    planningMs: Long,
    execMs: Double,
    exec: QueryProfile.Jobs,
    returned: QueryExecution,
    executions: Seq[QueryProfile.Execution]) {
  def constructJobs: Int = construct.jobs.size
  def totalMs: Double = constructMs + execMs
}

object QueryProfile {
  final case class Job(id: Int, wallMs: Long, stageIds: Seq[Int])

  /** One completed stage attempt. */
  final case class Stage(id: Int, name: String, wallMs: Long, taskMs: Long, tasks: Int,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, recordsRead: Long)

  /** The jobs one phase started and the stage attempts they completed. */
  final case class Jobs(jobs: Seq[Job], stages: Seq[Stage]) {
    def stageCount: Int = stages.map(_.id).distinct.size
    def taskMs: Long = stages.map(_.taskMs).sum
    def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
    def singleTaskStageMs: Long = stages.filter(_.tasks == 1).map(_.wallMs).sum
  }

  final case class Execution(funcName: String, durationNs: Long, qe: QueryExecution) {
    def plan: String = qe.explainString(FormattedMode)
  }

  /** Builds registered query `name` on `dir` and saves it to the noop sink.
    * Throws what the query throws.
    */
  def run(spark: SparkSession, name: String, dir: String): QueryProfile =
    run(spark, name, dir, SparkEntry.queries(name))

  def run(spark: SparkSession, name: String, dir: String,
      query: (SparkSession, String) => DataFrame): QueryProfile = {
    val executions = new ConcurrentLinkedQueue[Execution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.add(Execution(funcName, durationNs, qe))
      override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val ((df, constructNs, execNs), rec) = recording(spark.sparkContext) { rec =>
        val t0 = System.nanoTime()
        val df = rec.phase("construct")(query(spark, dir))
        val t1 = System.nanoTime()
        rec.phase("exec")(df.write.format("noop").mode("overwrite").save())
        (df, t1 - t0, System.nanoTime() - t1)
      }
      // the recorder's flush also delivered every QueryExecutionListener
      // event: both listeners sit on the context's shared listener queue
      val ran = executions.asScala.toSeq
      def phaseMs(qe: QueryExecution, p: String) =
        qe.tracker.phases.get(p).map(_.durationMs).getOrElse(0L)
      val write = ran.last.qe
      QueryProfile(name, constructNs / 1e6, rec.jobs("construct"),
        phaseMs(df.queryExecution, "analysis"), phaseMs(write, "optimization"),
        phaseMs(write, "planning"), execNs / 1e6, rec.jobs("exec"), df.queryExecution, ran)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Runs `body` and counts the Spark jobs it starts from this thread. */
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (r, rec) = recording(spark.sparkContext)(_.phase("body")(body))
    (r, rec.jobs("body").jobs.size)
  }

  private val ProfileKey = "graft.profile"

  private def recording[T](sc: SparkContext)(body: Recorder => T): (T, Recorder) = {
    val rec = new Recorder(sc)
    sc.addSparkListener(rec)
    try {
      val r = body(rec)
      rec.flush()
      (r, rec)
    } finally {
      sc.setLocalProperty(ProfileKey, null)
      sc.removeSparkListener(rec)
    }
  }

  /** Attributes the jobs the calling thread starts to named phases. A phase
    * tags its jobs with a local property, which Spark hands on to the
    * threads a query starts for it (broadcasts, AQE stages). `flush` runs a
    * marker job under its own tag and waits until this listener sees it:
    * the listener bus delivers its shared queue in order, so by then every
    * job, stage and query-execution event posted before the marker has been
    * delivered, and a phase that started jobs cannot read as starting none.
    */
  private final class Recorder(sc: SparkContext) extends SparkListener {
    private val tag = java.util.UUID.randomUUID.toString + ":"
    private val flushed = new CountDownLatch(1)
    private val jobStarts = mutable.LinkedHashMap[Int, (String, Long, Seq[Int])]()
    private val jobEnds = mutable.Map[Int, Long]()
    private val stagePhase = mutable.Map[Int, String]()
    private val stages = mutable.ArrayBuffer[(String, Stage)]()

    def phase[T](name: String)(body: => T): T = {
      sc.setLocalProperty(ProfileKey, tag + name)
      body
    }

    def flush(): Unit = {
      phase("marker")(sc.parallelize(Seq(1), 1).count())
      if (!flushed.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener bus did not flush")
    }

    def jobs(phase: String): Jobs = synchronized {
      Jobs(
        jobStarts.toSeq.collect { case (id, (`phase`, t0, ids)) =>
          Job(id, jobEnds.get(id).map(_ - t0).getOrElse(0L), ids)
        },
        stages.toSeq.collect { case (`phase`, s) => s })
    }

    private def phaseOf(p: java.util.Properties): Option[String] =
      Option(p).flatMap(x => Option(x.getProperty(ProfileKey)))
        .filter(_.startsWith(tag)).map(_.drop(tag.length))

    override def onJobStart(j: SparkListenerJobStart): Unit = phaseOf(j.properties).foreach {
      case "marker" => flushed.countDown()
      case p => synchronized {
        jobStarts(j.jobId) = (p, j.time, j.stageIds)
        j.stageIds.foreach(stagePhase(_) = p)
      }
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      if (jobStarts.contains(j.jobId)) jobEnds(j.jobId) = j.time
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      stagePhase.get(si.stageId).foreach { p =>
        val m = si.taskMetrics
        stages += p -> Stage(si.stageId, si.name.takeWhile(_ != '\n'),
          (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(0L),
          m.executorRunTime, si.numTasks, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.recordsRead)
      }
    }
  }
}
