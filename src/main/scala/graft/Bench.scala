package graft

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR
  * through [[QueryProfile]] (build, then save to the noop sink) and prints
  * one JSON headline. Per-query medians, spreads and construction figures
  * go to the SPARK_GRAFT_BENCH_OUT file.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // Warm the JVM/codegen once so per-query timings measure the plan, not
    // first-use classloading.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // Warm the BENCH-DIR parquet footers + temp-view registration too —
    // otherwise the first measured query pays every table's schema
    // inference (r1: q01 carried ~8s of session overhead).
    try {
      Tables.registerAll(spark, sfDir)
      Tables.names.foreach(n => Tables.t(spark, sfDir, n).write.format("noop").mode("overwrite").save())
    } catch { case _: Throwable => () }
    // Median of 3 runs per query: a one-shot timing lands any GC pause or
    // codegen-compile stall entirely on one query (r2 recorded q25 at 15 s
    // that re-measured at 1.4 s). The median is robust to a single outlier;
    // the max-min spread is reported so variance stays visible.
    val runsPer = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // optional arg: comma-separated query names — bench just those (local
    // A/B iteration; the driver passes no args and gets the full sweep).
    // Unknown names fail loudly: a typo'd filter silently benching
    // nothing would masquerade as a measurement.
    val only = args.headOption.map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown bench queries: ${unknown.mkString(", ")}")
    }
    val results = SparkEntry.queries.keys.toSeq.sorted
      .filter(name => only.forall(_.contains(name)))
      .map { name =>
      val runs = (1 to runsPer).flatMap { _ =>
        try Some(QueryProfile.run(spark, name, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); None
        }
      }
      // CACHE HYGIENE (VERDICT r9 #8): no persisted RDD may survive a
      // query's run — a leaked cache would hand cross-run (and cross-
      // QUERY) warmth to later measurements, flattering them against the
      // baseline. Fail the whole bench loudly: a silent unpersist here
      // would hide the leak the assertion exists to catch.
      val leaked = spark.sparkContext.getPersistentRDDs
      require(leaked.isEmpty,
        s"[bench] $name leaked ${leaked.size} persisted RDD(s): " +
          leaked.values.map(_.name).mkString(", "))
      // Any failed run reports -1 so a broken plan can't silently pass as a
      // fast one (ADVICE r1).
      def median(v: Seq[Double]) = v.sorted.apply(v.size / 2)
      val times = runs.map(_.totalMs / 1e3)
      name -> (
        if (runs.size < runsPer) Figures(-1.0, 0.0, -1.0, -1.0, -1.0)
        else Figures(median(times), times.max - times.min, median(runs.map(_.constructMs)),
          median(runs.map(_.constructJobs.toDouble)), median(runs.map(_.exec.jobs.size.toDouble))))
    }
    // explicit ROOT locale: the default-locale f"" interpolator renders
    // 0,123 under comma-decimal locales (e.g. de_DE) — invalid JSON
    def num(v: Double, dp: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))
    def perQuery(f: Figures => Double, dp: Int) =
      results.map { case (k, v) => "\"" + k + "\":" + num(f(v), dp) }.mkString("{", ",", "}")
    val total = results.map(_._2.median).filter(_ >= 0).sum
    val nFailed = results.count(_._2.median < 0)
    // ── canary + drift (VERDICT r12 #2): three queries untouched since
    // round 1 self-adjudicate box drift. r12 burned real effort proving a
    // 1.4-1.9× cross-round "regression" was the box, with four sweeps and
    // disjoint regression lists; the artifact now carries the evidence
    // itself: `canary` = this run's medians for q01/q13/q20, `drift` =
    // median ratio vs the previous round's committed BENCH_r*.json
    // (parsed from its stdout tail — keys may ride escaped inside the
    // driver's archived "tail" string, and q01 may be truncated away;
    // whatever canaries survive are used). drift≈1 ⇒ deltas are code;
    // drift≫1 ⇒ normalize before judging regressions.
    val canaryKeys = Seq("q01", "q13", "q20")
    val canaryNow: Map[String, Double] = results.collect {
      case (k, f) if canaryKeys.contains(k.takeWhile(_ != '_')) && f.median >= 0 =>
        k.takeWhile(_ != '_') -> f.median
    }.toMap
    val drift: Option[Double] = {
      val prevFile = sys.env.get("SPARK_GRAFT_PREV_BENCH").orElse {
        val rx = """BENCH_r(\d+)\.json""".r
        Option(new java.io.File(".").listFiles()).map(_.toSeq.flatMap { f =>
          f.getName match { case rx(n) => Some((n.toInt, f.getPath)); case _ => None }
        }).filter(_.nonEmpty).map(_.maxBy(_._1)._2)
      }
      prevFile.flatMap { pf =>
        try {
          val content = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(pf)), "UTF-8")
          val ratios = canaryKeys.flatMap { ck =>
            // matches both the plain form `"q13":0.163` and the driver
            // tail's escaped form `\"q13\":0.163`; the mandatory quote
            // right after the key keeps q130-q139 from matching q13
            (ck + """\\?":([0-9]+\.?[0-9]*)""").r.findFirstMatchIn(content)
              .map(_.group(1).toDouble)
              .filter(_ > 0)
              .flatMap(prev => canaryNow.get(ck).map(_ / prev))
          }.sorted
          if (ratios.isEmpty) None else Some(ratios(ratios.size / 2))
        } catch { case _: Exception => None }
      }
    }
    val canaryJson = canaryNow.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + num(v, 3) }.mkString("{", ",", "}")
    val driftJson = drift.map(d => num(d, 3)).getOrElse("null")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":${perQuery(_.median, 4)},""" +
      s""""spread":${perQuery(_.spread, 4)},"construct_ms":${perQuery(_.constructMs, 1)},""" +
      s""""construct_jobs":${perQuery(_.constructJobs, 0)},"exec_jobs":${perQuery(_.execJobs, 0)},""" +
      s""""runs":$runsPer,"failed":$nFailed,"sf":"$sfDir","canary":$canaryJson,"drift":$driftJson}"""
    // STDOUT gets only the headline: the archived run (`BENCH_r*.json`)
    // keeps a 2,000-byte tail of stdout, and any per-query map (about 2.4 KB
    // at 201 queries) pushes the start of the line out of it, so the line
    // no longer parses.
    println(s"""{"metric":"total","value":$total,"unit":"sec","runs":$runsPer,"failed":$nFailed,"sf":"$sfDir","canary":$canaryJson,"drift":$driftJson}""")
    // per-query medians, spreads and construction figures go to a file so
    // every round's numbers stay auditable
    // (SPARK_GRAFT_BENCH_OUT overrides; committed per round as BENCH_LOCAL_r*)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_round.json")
    try {
      val p = java.nio.file.Paths.get(out)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
    } catch { case e: Exception => System.err.println(s"[bench] write $out: $e") }
    spark.stop()
  }

  /** One query's medians over its runs, and the spread of its run times (s). */
  private final case class Figures(median: Double, spread: Double, constructMs: Double,
      constructJobs: Double, execJobs: Double)
}
