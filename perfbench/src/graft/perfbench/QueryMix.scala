package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** query_mix: one client runs the four lazy relational queries in
  * closed-loop passes, each pass in a seeded order. An op is one query,
  * run the way `graft.Bench` runs it: build the DataFrame (`QueryDef.run`), then save it to the noop sink. Query
  * construction, `Tables` schema jobs and Catalyst do most of the work; the
  * catalog does none.
  *
  * Set-up is session start plus one warm-up pass, which dumps every
  * query's result for the DuckDB oracle compare. The measured phase
  * is `ops` queries: whole passes, the last one cut short when `ops` is not
  * a multiple of the pass.
  */
object QueryMix {
  val Queries = Seq("q01_pricing_summary", "q07_supplier_part_rank", "q13_promo_share",
    "q20_string_funcs")

  def run(a: Main.Args): Result = {
    val cores = Main.cores
    val spark = Main.session(a, cores)
    val sessionS = Main.sinceJvmStart
    val registry = SparkEntry.queries
    val rnd = new scala.util.Random(a.seed)

    // set-up: the warm-up pass dumps each result for the oracle compare and
    // runs the queries on `cores` client threads: it pays the engine's
    // one-time cost per code path (class loading, JIT, codegen), which
    // overlaps across queries
    val dump = s"${a.work}/dump"
    Files.createDirectories(Paths.get(dump))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    val dumpS = Main.timed {
      rnd.shuffle(Queries).map { name =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            registry(name)(spark, a.data).repartition(1).write.mode("overwrite").parquet(s"$dump/$name")
        })
      }.foreach(_.get())
    }
    pool.shutdown()
    Main.requireClean(spark, "warm-up")
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
    require(oracles.size == Queries.size,
      s"no oracle SQL for ${Queries.filterNot(oracles.contains).mkString(", ")}")
    Files.writeString(Paths.get(dump, "oracle_sql.json"), oracles.map { case (k, v) =>
      "\"" + k + "\":\"" + v.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
        case '\t' => "\\t"; case c => c.toString
      } + "\""
    }.mkString("{", ",", "}"))
    val setupS = sessionS + dumpS
    Main.drain(spark)
    val before = Counters.snapshot()

    // measured phase
    val order = Iterator.continually(rnd.shuffle(Queries)).flatten.take(a.ops).toSeq
    val lat, ref = new Latencies
    Main.Reference.warm()
    val errors = Seq.newBuilder[String]
    var failed = 0
    val sc = spark.sparkContext
    val wall0 = System.nanoTime()
    order.zipWithIndex.foreach { case (name, i) =>
      val op = i + 1L
      sc.setLocalProperty("perfbench.op", op.toString)
      val ref0 = Main.Reference.ms()
      val t0 = System.nanoTime()
      try Trace.withOp(op) {
        Trace.span("op.query") {
          sc.setLocalProperty("perfbench.phase", "construct")
          val df = Trace.span("queries.construct")(registry(name)(spark, a.data))
          val t1 = System.nanoTime()
          Trace.add("queries.construct_ns", t1 - t0)
          lat.add("construct", (t1 - t0) / 1e6)
          lat.add(s"construct.$name", (t1 - t0) / 1e6)
          sc.setLocalProperty("perfbench.phase", "exec")
          Trace.span("exec.save")(df.write.format("noop").mode("overwrite").save())
        }
        val ms = (System.nanoTime() - t0) / 1e6
        lat.add("query", ms)
        lat.add(name, ms)
        ref.add(name, (ref0 + Main.Reference.ms()) / 2)
      } catch {
        case e: Exception => failed += 1; errors += s"$name: ${e.getMessage}"
      }
      Main.requireClean(spark, name)
    }
    val wallS = (System.nanoTime() - wall0) / 1e9
    sc.setLocalProperty("perfbench.op", null)
    sc.setLocalProperty("perfbench.phase", null)
    Main.drain(spark)

    val all = lat("query")
    val construct = lat("construct")
    val layers = if (!a.trace) Map.empty[String, Double]
      else Layers.from(Counters.delta(before, Counters.snapshot()), wallS, cores)
    spark.stop()
    Result("query_mix", a.seed, a.trace, order.size, failed, correct = failed == 0,
      errors.result(),
      e2e = Map(
        "setup_s" -> setupS,
        "op_ref" -> Main.mixMedian(lat, Queries) / Main.median(ref.all),
        "read_ref" -> Main.mixMedian(lat, Queries.map(q => s"construct.$q")) / Main.median(ref.all)),
      layers = layers,
      info = Map(
        "queries" -> Queries.size.toString,
        "session_s" -> sessionS.toString,
        "warmup_s" -> dumpS.toString,
        "latency_query" -> Queries.map(q => s""""$q":${Main.latencyJson(lat(q))}""").mkString("{", ",", "}"),
        "latency_construct_query" -> Queries.map(q => s""""$q":${Main.latencyJson(lat(s"construct.$q"))}""").mkString("{", ",", "}"),
        "latency_all" -> Main.latencyJson(all),
        "latency_construct" -> Main.latencyJson(construct),
        "ops_per_s" -> (all.size / wallS).toString,
        "reference_ms" -> Main.latencyJson(ref.all),
        "measured_s" -> wallS.toString))
  }
}
