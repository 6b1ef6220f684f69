package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Iterates on ONE registered query without a full Bench or Verify sweep,
  * on SPARK_GRAFT_SF_DIR (default sf0.1):
  *
  *  - `time [runs]`: median, min and max of `runs` (default 3) builds and
  *    noop writes, after one warm-up run;
  *  - `profile`: one run after a warm-up, with construction, Catalyst phases,
  *    execution totals, every job and the 40 longest stage attempts;
  *  - `run`: collects the rows and prints the schema and the first 100 rows;
  *  - `explain <out>`: writes the returned plan and the executed plan of
  *    every SQL execution the query ran (`explain("formatted")`, AQE-final)
  *    to the file `out`.
  *
  * {{{ sbt "runMain graft.One q117_pagerank profile" }}}
  */
object One {
  val Usage = "usage: graft.One <query> time [runs] | profile | run | explain <out>"

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    try run(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"), args.toSeq)
      .foreach(println)
    finally spark.stop()
  }

  /** Runs one mode (`args` as on the command line) and returns the lines it
    * prints.
    */
  def run(spark: SparkSession, dir: String, args: Seq[String]): Seq[String] = {
    require(args.nonEmpty && SparkEntry.queries.contains(args.head), Usage)
    val name = args.head
    def profile() = QueryProfile.run(spark, name, dir)
    args.tail match {
      case Seq("time", runs @ _*) if runs.size <= 1 =>
        val n = runs.headOption.fold(3)(_.toInt)
        profile() // warm
        val times = Seq.fill(n)(profile().totalMs / 1e3).sorted
        Seq(f"$name: median ${times(times.size / 2)}%.3f s, min ${times.head}%.3f, " +
          f"max ${times.last}%.3f ($n runs)")

      case Seq("profile") =>
        profile() // warm
        val p = profile()
        val jobs = (p.construct.jobs ++ p.exec.jobs).sortBy(_.id)
        val stages = p.construct.stages ++ p.exec.stages
        val jobWall = jobs.map(_.wallMs).sum
        Seq(
          f"=== $name: wall ${p.totalMs / 1e3}%.3f s, ${jobs.size} jobs, " +
            s"${p.construct.stageCount + p.exec.stageCount} stages ===",
          f"construction ${p.constructMs / 1e3}%.3f s, ${p.constructJobs} jobs; " +
            f"execution ${p.execMs / 1e3}%.3f s, ${p.exec.jobs.size} jobs",
          s"catalyst: analysis ${p.analysisMs} ms, optimization ${p.optimizationMs} ms, " +
            s"planning ${p.planningMs} ms",
          f"execution: task ${p.exec.taskMs / 1e3}%.3f s, shuffle read ${p.exec.shuffleReadBytes} B, " +
            f"write ${p.exec.shuffleWriteBytes} B, single-task stages ${p.exec.singleTaskStageMs / 1e3}%.3f s",
          f"sum(job wall) ${jobWall / 1e3}%.3f s  (gap to wall = driver/planning time)") ++
          jobs.map(j => f"job ${j.id}%3d  wall ${j.wallMs / 1e3}%7.3f s  stages ${j.stageIds.mkString(",")}") ++
          Seq(f"${"stage"}%5s ${"wall_s"}%8s ${"task_s"}%8s ${"tasks"}%6s ${"shRead"}%10s " +
            f"${"shWrite"}%10s ${"inRecs"}%10s  name") ++
          stages.sortBy(-_.wallMs).take(40).map { s =>
            f"${s.id}%5d ${s.wallMs / 1e3}%8.3f ${s.taskMs / 1e3}%8.3f ${s.tasks}%6d " +
              f"${s.shuffleReadBytes}%10d ${s.shuffleWriteBytes}%10d ${s.recordsRead}%10d  ${s.name.take(60)}"
          }

      case Seq("run") =>
        val df = SparkEntry.queries(name)(spark, dir)
        val rows = df.collect()
        Seq(s"=== $name: ${rows.length} rows ===",
          df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")) ++
          rows.take(100).map(_.toString)

      case Seq("explain", out) =>
        val p = profile()
        val text = s"===== $name: returned plan =====\n" + p.returned.explainString(FormattedMode) +
          p.executions.map { e =>
            f"\n===== internal execution: ${e.funcName} (${e.durationNs / 1e6}%.0f ms) =====\n" + e.plan
          }.mkString
        val path = java.nio.file.Paths.get(out)
        if (path.getParent != null) java.nio.file.Files.createDirectories(path.getParent)
        java.nio.file.Files.writeString(path, text)
        Seq(s"[explain] wrote ${text.length} chars to $out")

      case _ => throw new IllegalArgumentException(Usage)
    }
  }
}
