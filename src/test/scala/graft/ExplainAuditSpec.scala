package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the properties that make these queries
  * survive a 100x scale-up, asserted on the optimized physical plan.
  */
class ExplainAuditSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q02 filter+projection reach the parquet scan (pushdown)") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull"), s"no pushed filters:\n$p")
  }

  test("q38 ANN probe broadcasts only the single-vector query side") {
    val p = plan("q38_ann_lsh")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"query side should broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
  }

  test("q28 shuffles on band keys, broadcasts signature screen") {
    val p = plan("q28_neardup_pairs")
    assert(p.contains("BroadcastHashJoin"), s"sig screen should broadcast:\n$p")
  }

  test("q37 window agg is partial+final (no extra shuffle)") {
    val p = plan("q37_event_tumbling")
    // two HashAggregates (partial, final) around ONE exchange for the window group
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expected partial+final agg:\n$p")
  }

  test("q47 range join is an equi-join on (user, bin), not a nested loop") {
    val p = plan("q47_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must not degenerate to a nested loop:\n$p")
  }

  test("q46 as-of join is one shuffle + window, no join operator at all") {
    val p = plan("q46_asof_join")
    assert(!p.contains("Join"), s"as-of should be window-based, found a join:\n$p")
    assert(p.contains("Window"), s"expected a window operator:\n$p")
  }

  test("q01 agg is partial+final with scan-level filter") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter must reach the scan:\n$p")
  }

  test("q53 prefix-filter join never degenerates to a cross product; keys are hashed") {
    val p = plan("q53_ngram_jaccard_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an equi-join:\n$p")
    assert(p.contains("xxhash64"), s"candidate join must run on hashed gram keys:\n$p")
  }

  test("q52 index probe touches the catalog index, not a full corpus scan") {
    val p = plan("q52_ann_index_probe")
    assert(p.contains("LakeScan"), s"probe must read the materialized index table:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
  }

  test("q54 decode pipeline keeps whole-stage codegen around the generator") {
    val p = plan("q54_image_decode")
    assert(p.contains("Generate explode"), s"frame sampling should explode inline:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expected partial+final agg:\n$p")
  }

  test("q56 candidate generation is an equi-join (banded), never a theta/cross join") {
    val p = plan("q56_dedup_components")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"banded candidate join must stay an equi-join:\n$p")
  }

  test("q58 top-k terms is TakeOrderedAndProject, not a global sort") {
    val p = plan("q58_tfidf_terms")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
    assert(!p.contains("GlobalLimit"), s"limit should fuse into top-k:\n$p")
  }

  test("MoR read path: vectorized before AND after tombstones (r8: row-mode tax removed)") {
    val t = s"lake.audit.mor${System.nanoTime() % 100000}"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.audit")
    spark.sql(s"CREATE TABLE $t (id INT, v STRING) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 100)")
    // clean: columnar scan (ColumnarToRow present above the batch scan)
    val clean = spark.table(t).queryExecution.executedPlan.toString
    assert(clean.contains("ColumnarToRow"), s"clean MoR table must stay vectorized:\n$clean")
    spark.sql(s"DELETE FROM $t WHERE id = 3")
    // dirty: flat schemas STAY vectorized through the columnar positional
    // reader (until r8, one tombstoned file forced the whole scan to rows)
    val dirty = spark.table(t).queryExecution.executedPlan.toString
    assert(dirty.contains("ColumnarToRow"),
      s"tombstoned flat scans must stay vectorized:\n$dirty")
    assert(spark.table(t).count() == 99)
    // compaction keeps it vectorized and folds the tombstones away
    graft.catalog.LakeMaintenance.compact(spark, t)
    val compacted = spark.table(t).queryExecution.executedPlan.toString
    assert(compacted.contains("ColumnarToRow"),
      s"compaction must keep vectorization:\n$compacted")
    spark.sql(s"DROP TABLE $t")
  }

  test("a filtered lake read's formatted plan prints its literals as before") {
    import org.apache.spark.sql.execution.ExplainUtils
    val t = s"lake.audit.params${System.nanoTime() % 100000}"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.audit")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 100)")
    val plan = spark.sql(s"SELECT v FROM $t WHERE id = 17 OR id BETWEEN 40 AND 42")
      .queryExecution.executedPlan
    assert(plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[graft.catalog.LiteralParam]))),
      s"the lake filter's literals must be parameters:\n$plan")
    def formatted(p: org.apache.spark.sql.execution.SparkPlan): String = {
      val sb = new StringBuilder
      ExplainUtils.processPlan(p, s => { sb.append(s); () })
      sb.toString
    }
    val literals = plan.transformAllExpressions { case graft.catalog.LiteralParam(l) => l }
    val f = formatted(plan)
    assert(f == formatted(literals), s"formatted plan changed:\n$f")
    assert(f.contains("= 17)") && f.contains("40)") && plan.toString == literals.toString, f)
    spark.sql(s"DROP TABLE $t")
  }

  test("q70 resample: hourly agg is partial+final; the grid side broadcasts into the join") {
    val p = plan("q70_resample_ffill")
    assert(p.contains("BroadcastHashJoin"),
      s"the grid (rows ∝ output) must broadcast, not shuffle the hourly points:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"raw events must combine map-side before their shuffle:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross product:\n$p")
  }

  test("q71 BPE top-k is TakeOrderedAndProject over a partial+final count") {
    val p = plan("q71_bpe_tokens")
    assert(p.contains("TakeOrderedAndProject"), s"top-25 must not global-sort:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"token counts must combine map-side:\n$p")
  }

  test("q76 decontamination broadcasts the benchmark grams, never shuffles corpus grams") {
    val p = plan("q76_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded benchmark side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus grams must not shuffle through a sort-merge join:\n$p")
  }

  test("q78 stream-interval join stays an equi-join on user_id (range as post-filter)") {
    val p = plan("q78_stream_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join must hash-join on the user key:\n$p")
  }

  test("q79 span dedup: winner election is a hash-agg over fingerprints, never a theta join") {
    val p = plan("q79_span_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span dedup must stay equi-join/hash-agg shaped:\n$p")
    // the fp → min(struct) winner election is a partial+final hash agg: the
    // span TEXT never rides the dedup shuffle, only its md5 fingerprint
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expected partial+final agg:\n$p")
  }

  test("q80 packing is one shard shuffle + sorted group scan, no join") {
    val p = plan("q80_pack_sequences")
    assert(!p.contains("Join"), s"packing must not join:\n$p")
    assert(p.contains("MapGroups"), s"expected the sorted-group packer:\n$p")
  }

  test("q82 NLL scoring broadcasts the vocab into the token stream; top-k never global-sorts") {
    val p = plan("q82_unigram_nll")
    assert(p.contains("BroadcastHashJoin"), s"vocab lookup should broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-25 must not global-sort:\n$p")
  }

  test("q87 pivot is a two-level aggregate: only the first shuffle is data-proportional") {
    val p = plan("q87_pivot")
    // level 1: partial+final agg keyed (group, pivot) — the data shuffle;
    // level 2: pivotfirst over one row per (group, pivot value)
    assert(p.contains("partial_pivotfirst"), s"expected the pivotfirst level:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"expected exactly the two aggregate shuffles:\n$p")
    assert(!p.contains("Join"), s"pivot is an aggregate, not a join:\n$p")
  }

  test("q88 unpivot is an Expand in-task, no join and no extra shuffle") {
    val p = plan("q88_unpivot")
    assert(p.contains("Expand"), s"unpivot should compile to Expand:\n$p")
    assert(!p.contains("Join"), s"unpivot must not join:\n$p")
  }

  test("q92 image near-dup is banded hash-agg bucketing — no join operator anywhere") {
    val p = plan("q92_image_phash_neardup")
    assert(p.contains("phash64"), s"perceptual hash missing from the plan:\n$p")
    assert(p.contains("HashAggregate"), s"band bucketing should be a hash agg:\n$p")
    // candidate generation must never degenerate to a pairwise join: the
    // in-bucket expansion happens inside array lambdas (codegen), so the
    // only data-proportional movement is the (band, bv) shuffle
    assert(!p.contains("Join"), s"no join of any kind expected:\n$p")
  }

  test("q91 bloom probe filters the corpus side BELOW a non-broadcast exact join") {
    val p = plan("q91_bloom_decontaminate")
    assert(p.contains("bloom_probe"), s"sketch probe missing from the plan:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"exact join must model the non-broadcast shape:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"nothing should broadcast as rows:\n$p")
    // tree prints top-down: the probe must sit in the join's SUBTREE
    // (pre-shuffle), not above the join
    assert(p.indexOf("ShuffledHashJoin") < p.indexOf("bloom_probe"),
      s"probe must run before the join, on the corpus scan side:\n$p")
  }

  test("q94 substring dedup shuffles fingerprints only — no sort, no cartesian") {
    val p = plan("q94_substring_dedup")
    // winner-per-fingerprint is a hash agg; occurrence matching is an
    // equi-join on the fingerprint; nothing may degenerate to a nested loop
    assert(p.contains("HashAggregate"), s"winner pick should be a hash agg:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no pairwise expansion allowed:\n$p")
  }

  test("q73 percentiles: no window ever sorts the raw table — selection is histogram-targeted") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Window => LWindow}
    val lp = SparkEntry.queries("q73_percentiles")(spark, sf).queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.nonEmpty, s"expected the histogram-cumulative + selection windows:\n$lp")
    // every window's input must be bin-scale (below an aggregate) or
    // target-bin-filtered (below the broadcast join with the rank targets) —
    // a window whose subtree is a bare scan is the full-table sort cliff
    wins.foreach { w =>
      val bounded = w.child.collectFirst {
        case _: Aggregate => (); case _: Join => ()
      }.isDefined
      assert(bounded, s"window runs over the raw table (full-table sort):\n$w")
    }
  }

  test("q42 top-ngrams: bounded top-k aggregate, no rank window anywhere") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val qe = SparkEntry.queries("q42_ngram_freq")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      s"top-5-per-lang must be the bounded TopKByCount aggregate, not a rank window:\n${qe.optimizedPlan}")
    assert(qe.executedPlan.toString.contains("ObjectHashAggregate"),
      s"expected the typed top-k aggregate:\n${qe.executedPlan}")
  }

  test("q81 domain mixture: windows run bin-scale or boundary-bin only, never over the corpus") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Window => LWindow}
    val lp = SparkEntry.queries("q81_domain_mixture")(spark, sf).queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.nonEmpty, s"expected the histogram-cumulative + boundary windows:\n$lp")
    wins.foreach { w =>
      val bounded = w.child.collectFirst {
        case _: Aggregate => (); case _: Join => ()
      }.isDefined
      assert(bounded, s"window runs over the raw corpus (full sort):\n$w")
    }
  }

  test("q95 heavy hitters: candidate InSet filter sits below the exact count's shuffle") {
    val p = plan("q95_heavy_hitters")
    // pass 2 plans: scan -> candidate filter -> partial agg -> exchange ->
    // final agg; the filter must be scan-side (before any exchange)
    val filterIdx = p.indexOf("xxhash64")
    val exchangeIdx = p.indexOf("Exchange")
    assert(filterIdx >= 0, s"candidate hash filter missing:\n$p")
    assert(exchangeIdx < 0 || exchangeIdx < filterIdx,
      s"candidate filter must precede the shuffle (tree prints top-down):\n$p")
  }

  test("q116 interval range frames: one window pass, no corpus-wide sort") {
    val p = plan("q116_time_range_frame")
    assert(p.contains("Window"), s"expected a window operator:\n$p")
    // exactly one hash shuffle (user_id, feeding the window — the groupBy
    // reuses its partitioning) plus at most one range shuffle for the
    // final ORDER BY over the already-aggregated per-user rows; a
    // regression that global-sorts the raw events would add exchanges
    val hashEx = "hashpartitioning".r.findAllIn(p).size
    val rangeEx = "rangepartitioning".r.findAllIn(p).size
    assert(hashEx <= 1, s"expected at most one hash shuffle, got $hashEx:\n$p")
    assert(rangeEx <= 1, s"expected at most one range shuffle, got $rangeEx:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross product:\n$p")
  }

  test("q117 pagerank: RDD iterations run O(1) jobs, no leaked cache, ordered top-100") {
    // r13: the iterations moved to pair RDDs (one co-partitioned narrow
    // join + one reduce shuffle per round) — the old Catalyst-plan audit
    // is replaced by pinning the properties the rewrite exists for: the
    // whole query runs in a handful of jobs (the DF loop ran ~30: one per
    // AQE stage per round), every cached RDD is released, and the result
    // is the correctly-ordered top-100
    import org.apache.spark.sql.functions.col
    val pairs = graft.Tables.fan(spark, sf, "lineitem",
        col("l_orderkey"), col("l_suppkey"))
      .join(graft.Tables.fan(spark, sf, "orders",
        col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("s"), col("o_custkey").as("c")).distinct()
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    // other suites sharing this session may hold their own caches — audit
    // only RDDs pagerankPlan itself pins
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    spark.sparkContext.addSparkListener(listener)
    val top = try {
      val r = graft.queries.Relational.pagerankPlan(pairs)
      Thread.sleep(500) // listener events post asynchronously
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs <= 8, s"pagerank should run a handful of jobs, ran $jobs")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- preexisting
    assert(leaked.isEmpty,
      s"pagerankPlan must release every RDD it caches, leaked: $leaked")
    assert(top.length == 100)
    val resorted = top.sortBy { case (n, r) => (-r, n) }
    assert(top.sameElements(resorted), "top-100 must be (rank DESC, node) ordered")
  }

  test("q120 lateral top-k decorrelates: one customer scan, map-side group limit") {
    val p = plan("q120_lateral_topk")
    assert("customer\\.parquet".r.findAllIn(p).size == 1,
      s"correlated lateral must not re-scan customer per nation:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"decorrelated LIMIT should become a group limit, not a full rank:\n$p")
    assert(p.contains(", Partial"),
      s"group limit must run map-side before the shuffle (top-2/nation/partition):\n$p")
    assert(p.contains("BroadcastHashJoin"), s"nation side should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"lateral must not degenerate to a nested loop:\n$p")
  }

  test("q121 triangles: broadcast-adjacency count, no wedge shuffle, no window, top-k cut") {
    // the registered query collects eagerly (to release the edge caches), so
    // audit the LAZY plan the helper exposes
    val (out, e, o) = graft.queries.Relational.trianglesPlan(
      graft.Tables.t(spark, sf, "lineitem"))
    try {
      val p = out.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
      // r13: the three single-row aggregates assemble via one union job —
      // no nested-loop joins anywhere (the old broadcast-cross chain ran
      // them as sequential driver round-trips)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"scalar assembly must be the union job, not broadcast crosses:\n$p")
      assert(p.contains("Union"), s"scalar assembly must union the legs:\n$p")
      // r13: triangles = Σ |N⁻(x) ∩ N⁻(y)| over oriented edges — two
      // BROADCAST joins against the (≤ backboneK-entry) in-adjacency
      // lists; the r8 wedge-materializing self-join (a 77 MB shuffle at
      // sf0.1) must not come back
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
        s"adjacency attach must be broadcast hash joins:\n$p")
      assert(p.contains("array_intersect"),
        s"common in-neighbors must count via codegen array_intersect:\n$p")
      // the degree cap is a slice of the sorted per-part set — the old
      // row_number window (an extra full sort+shuffle) must not come back
      assert(!p.contains("Window"), s"no window anywhere in the plan:\n$p")
      assert(p.contains("InMemoryTableScan"),
        s"backbone/oriented edges must be computed once and reused from cache:\n$p")
      assert(p.contains("TakeOrderedAndProject"),
        s"top-20k backbone cut must not global-sort the support table:\n$p")
    } finally { o.unpersist(blocking = false); e.unpersist(blocking = false) }
  }

  test("q122 NOT IN plans null-aware anti joins, NOT EXISTS a plain anti") {
    val p = plan("q122_not_in_nulls")
    assert("LeftAnti".r.findAllIn(p).size == 3, s"expected three anti joins:\n$p")
    // trailing `true` = isNullAwareAntiJoin — the two NOT INs; the NOT
    // EXISTS needs no null handling (`false`)
    assert("LeftAnti, BuildRight, true".r.findAllIn(p).size == 2,
      s"both NOT INs must plan null-aware anti joins:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"NOT IN must never fall back to a nested loop:\n$p")
  }

  test("q127 fuzzy dedup generates pairs only inside equi-join blocks") {
    val p = plan("q127_fuzzy_blocked_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocked fuzzy join must stay an equi-join on the block keys:\n$p")
    assert(p.contains("levenshtein"), s"edit distance must run in the plan:\n$p")
  }

  test("q128 banded hamming: equi-join bands, verify inside the join, no candidate blowup") {
    val p = plan("q128_hamming_banded")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"band joins must stay equi-joins:\n$p")
    // the exact verify must sit in the JOIN operator (probe-time filter,
    // candidates never materialize), not in a Filter above it
    val joinLine = p.linesIterator.find(_.contains("Join")).getOrElse("")
    assert(joinLine.contains("hamming_distance"),
      s"hamming verify must run inside the join condition:\n$p")
  }

  test("q132 sliding distinct: explode rewrite keeps the window join equi (no nested loop)") {
    val p = plan("q132_sliding_distinct")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the BETWEEN range join must be rewritten to explode + equi-join:\n$p")
    assert(p.contains("Generate"), s"expected the sequence() generator:\n$p")
  }

  test("q125 islands: one window over (pri, day) distinct rows, no self-join") {
    val p = plan("q125_gaps_islands")
    assert(p.contains("Window"), s"expected the row_number window:\n$p")
    assert(!p.contains("Join"), s"islands must need no self-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must not global-sort:\n$p")
  }

  test("q131 funnel: cascaded min-aggs + equi-joins, no window, no nested loop") {
    val p = plan("q131_ordered_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"funnel steps must join on user_id:\n$p")
    assert(!p.contains("Window"), s"the funnel needs no window operator:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 6, // 3 steps × partial+final
      s"each step should be a partial+final min-agg:\n$p")
  }

  test("q133/q134 analytics plans stay equi-keyed") {
    val p133 = plan("q133_cohort_retention")
    assert(!p133.contains("CartesianProduct") && !p133.contains("BroadcastNestedLoopJoin"),
      s"cohort join must be on user_id:\n$p133")
    // q134: the ONLY nested loops allowed are the two broadcast crosses
    // assembling three single-row aggregates (q121's pattern); the FK
    // check itself must be a hash/merge anti join
    val p134 = plan("q134_quality_checks")
    assert(!p134.contains("CartesianProduct"), s"no cartesian:\n$p134")
    assert("BroadcastNestedLoopJoin BuildRight, Cross".r.findAllIn(p134).size == 2 &&
      "BroadcastNestedLoopJoin".r.findAllIn(p134).size == 2,
      s"only the two single-row assembly crosses are allowed:\n$p134")
    assert(p134.contains("LeftAnti"), s"FK check must be an anti join:\n$p134")
  }

  test("q126 multi-distinct expands with map-side dedup below the shuffle") {
    val p = plan("q126_filtered_agg")
    assert(p.contains("Expand"), s"multi-distinct should plan via Expand:\n$p")
    // bottom-most operators print LAST: a partial HashAggregate below the
    // last Exchange proves (flag, key, gid) pairs dedup map-side — the
    // shuffle carries distinct pairs, not raw expanded rows
    assert(p.lastIndexOf("HashAggregate") > p.lastIndexOf("Exchange"),
      s"expanded rows must partial-aggregate before the shuffle:\n$p")
  }

  test("q141 relational division: hash aggs + broadcast scalar, no correlated anti-joins") {
    val p = plan("q141_relational_division")
    // the division is counting (one distinct-agg per customer vs one
    // broadcast global distinct) — the double-NOT-EXISTS form would show
    // two anti/existence joins re-scanning orders
    assert(!p.contains("LeftAnti") && !p.contains("ExistenceJoin"),
      s"division must be counting, not nested NOT EXISTS:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"the one-row global-distinct side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross product:\n$p")
  }

  test("q142 running distinct: one full-row shuffle, cumulative sum over the tiny daily table") {
    val p = plan("q142_running_distinct")
    // first-occurrence window shuffles events once on (type, user); the
    // daily agg and the running sum add their own small exchanges but
    // never a second events-wide shuffle or a sort-merge self-join
    assert(!p.contains("SortMergeJoin") && !p.contains("Join"),
      s"running distinct must be window+agg, never a self-join:\n$p")
    assert("Window".r.findAllIn(p).size >= 2, s"expected two windows (rn + cumsum):\n$p")
  }

  test("q145 novelty: distinct fingerprints shuffle, the text never does; no nested loop") {
    val p = plan("q145_ngram_novelty")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"novelty anti-check must be an equi-join:\n$p")
    // fingerprints are md5 strings computed INSIDE the scan task's
    // project (array lambda) — no explode of raw window text into a join
    assert(p.contains("HashAggregate"), s"distinct must be a hash agg:\n$p")
  }

  test("q146 cdc-apply: rk=1 compiles to a map-side WindowGroupLimit") {
    val p = plan("q146_cdc_apply")
    assert(p.contains("WindowGroupLimit"),
      s"last-op-per-key must push a group limit below the shuffle:\n$p")
    assert(!p.contains("Join"), s"cdc apply is one window pass, no join:\n$p")
  }

  test("q144 keep-best: per-cluster argmax is a hash agg, never a corpus window") {
    val p = plan("q144_dedup_keep_best")
    // the returned plan is the materialized LocalRelation (cache released)
    // — audit the UNDERLYING shape instead: edges equi-join + CC rounds +
    // one hash-agg argmax, asserted by running it and checking no
    // RangeJoin/cartesian appeared anywhere in the final adaptive plan of
    // the heavy stage. LocalRelation output == the audit that collect ran.
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"),
      s"q144 must return a materialized (cache-released) result:\n$p")
  }

  test("q147 split: assignment is a projection; one hash-agg, no join, no window") {
    val p = plan("q147_stratified_split")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"split assignment must stay a map-side projection:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final agg on (lang, split):\n$p")
  }

  test("q148 mixture: corpus reduces to O(sources) BEFORE the normalizing window") {
    val p = plan("q148_mixture_weights")
    // the window runs over the per-source aggregate's output (tiny), so it
    // must sit ABOVE the hash aggregation in the plan, never over raw docs
    val aggIdx = p.indexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && winIdx < p.lastIndexOf("HashAggregate"),
      s"normalization window must consume the aggregated sources:\n$p")
  }

  test("q149 collocations: unigram side broadcasts; totals are single-row") {
    val p = plan("q149_collocation_lift")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab-sized unigram counts must broadcast onto bigram counts:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in q149 should sort-merge:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must not global-sort:\n$p")
  }

  test("q150 phrase search: phrase terms broadcast, the corpus never shuffles into a join") {
    val p = plan("q150_phrase_search")
    assert(p.contains("BroadcastHashJoin"),
      s"the (phrase, offset, term) table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the positional index must never shuffle into a join:\n$p")
  }

  test("q151 outliers: O(labels) centroids broadcast; rank<=5 is a map-side group limit") {
    val p = plan("q151_embedding_outliers")
    assert(p.contains("BroadcastHashJoin"),
      s"centroids must broadcast back onto the corpus:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-label bottom-5 must push a group limit below the shuffle:\n$p")
  }

  test("q152 containment: count-shaped — shingle arrays never join, no all-pairs") {
    // the QueryDef materializes the bounded pair output (r13 cache-release
    // pattern); audit the underlying lazy plan through the exposed helper
    val (out, release) = graft.queries.LlmPipeline.containmentWithRelease(spark, sf)
    val p = try out.queryExecution.executedPlan.toString finally release()
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment must never degenerate to all-pairs:\n$p")
    // the intersection is a per-pair COUNT from capped buckets; the only
    // array op is the per-doc shingle explode — no join input may carry
    // the shingle array (a pair-side array join ships a hot doc's array
    // once per pair: quadratic bytes, the 11 s first cut)
    assert(!p.contains("sorted_intersect_size"),
      s"verify must be count-shaped, not an array intersect per pair:\n$p")
  }

  test("q153 quantized ANN: single probe broadcasts, top-20 is per-partition heads") {
    val p = plan("q153_quantized_ann")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 by integer dot must not global-sort:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the one-row probe must broadcast, never shuffle:\n$p")
  }

  test("q154 gopher rules: one map pass + one hash-agg, no token shuffle") {
    val p = plan("q154_gopher_rules")
    assert(!p.contains("Generate") && !p.contains("SortMergeJoin"),
      s"all five stats must be computed within the row (no explode/join):\n$p")
    val aggs = "HashAggregate".r.findAllIn(p).length
    assert(aggs >= 2 && aggs <= 4, // partial + final on source, nothing else
      s"expected exactly the partial+final agg pair on source, saw $aggs:\n$p")
  }

  test("q155 source caps: text never enters the stratum shuffle") {
    // read each Exchange node's OWN carried attributes out of the formatted
    // explain (its `Input [...]` line IS the shuffled schema) — the
    // string-prefix check this replaces was vacuously true whenever any
    // Project preceded the first Exchange, i.e. always
    val p = SparkEntry.queries("q155_source_caps")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val exchangeInputs = raw"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchangeInputs.nonEmpty, s"stratum window needs one shuffle:\n$p")
    exchangeInputs.foreach { attrs =>
      assert(!attrs.contains("text#"),
        s"text must be projected away before the stratum shuffle; " +
          s"exchange carries: $attrs\n$p")
    }
  }

  test("q156 knn audit: probes broadcast; per-probe top-k is a map-side group limit") {
    val p = plan("q156_knn_label_audit")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 20 probes must broadcast (O(P·n) is the operator):\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=10 per probe must push a group limit below the shuffle:\n$p")
  }

  test("q157 integer IVF: assignment is a map-side encode, no window, no join, top-5 heads") {
    // the QueryDef returns the materialized (cache-released) 5-row result;
    // audit the UNDERLYING lazy probe plan through the exposed helper
    // (r13: training runs eagerly on the collected-grid Lloyd — the
    // pq_encode_i8 argmin is a pure map expression, so the probe plan
    // must carry NO window, NO sort-merge join, and NO crossJoin+agg
    // assignment subtree; the only join left is the broadcast of the
    // 1-row cell_n count)
    val (out, release) = graft.queries.LlmPipeline.q157Plan(spark, sf)
    val p = try out.queryExecution.executedPlan.toString finally release()
    assert(!p.contains("Window"),
      s"assignment must be the map-side pq_encode_i8 argmin, never a sorted window:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the 1-row cell_n side must broadcast:\n$p")
    assert(p.contains("pq_encode_i8"),
      s"the probe filter must re-encode inline (map-side argmin):\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-5 must not global-sort:\n$p")
  }

  test("q160 integer PQ: encode+ADC are one codegen scan; no window, no join anywhere") {
    val (out, release) = graft.queries.LlmPipeline.q160Plan(spark, sf)
    val p = try out.queryExecution.executedPlan.toString finally release()
    assert(!p.contains("Window"),
      s"per-(vector, subspace) argmin must be the map-side encode, never a window:\n$p")
    // no hash join anywhere (incl. inside the cached quantize subtree): a
    // code/dtab join and per-vector hash-agg must not come back
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastHashJoin"),
      s"ADC rides the driver-computed LUT (pq_adc_i8) — no code/dtab join may remain:\n$p")
    assert(p.contains("pq_adc_i8") && p.contains("pq_encode_i8"),
      s"the scan must encode and ADC-score in one codegen pass:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 must not global-sort:\n$p")
  }

  test("q162 weighted sample: top-k heads + broadcast membership, never a global sort") {
    val p = plan("q162_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"the sample set must come from per-partition heads:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"membership must broadcast back onto the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"), s"nothing here may shuffle-sort:\n$p")
  }

  test("q173 FK audit: parent sides join on DISTINCT keys, nation broadcasts") {
    val p = plan("q173_fk_audit")
    assert(p.contains("BroadcastHashJoin"),
      s"at least the nation parent must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"every leg must stay an equi-join:\n$p")
  }

  test("q174 SCD2: both windows share ONE user_id shuffle") {
    val p = plan("q174_scd2_intervals")
    assert(!p.contains("Join"), s"interval build needs no join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"lag and lead must reuse the same user_id partitioning:\n$p")
  }

  test("q175 anomalies: two hash-aggs on user_id, stats side broadcasts back") {
    val p = plan("q175_value_anomalies")
    assert(!p.contains("CartesianProduct"),
      s"the per-user stats join must stay keyed:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"moments and anomaly counts are both hash-aggs:\n$p")
  }

  test("q176 cross-modal corr: centroids broadcast, moments one hash-agg on label") {
    val p = plan("q176_quality_embedding_corr")
    assert(p.contains("BroadcastHashJoin"),
      s"O(labels) centroids must broadcast back onto the vectors:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the doc-vector join must not degenerate:\n$p")
  }

  test("q158 pattern matching: one per-user window, no join anywhere") {
    val p = plan("q158_event_patterns")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"MATCH_RECOGNIZE-style adjacency compiles to lead()s, never a self-join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"one shuffle for the window, one for the user agg, nothing more:\n$p")
  }

  test("q186 contamination span: benchmark broadcasts; text never enters a shuffle") {
    val p = plan("q186_contamination_span")
    assert(p.contains("BroadcastHashJoin"),
      s"the fixed benchmark gram set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"membership must never shuffle the corpus side on the join key:\n$p")
    // every KEYED shuffle must carry (doc_id, p)-shaped rows, never text.
    // The one exemption is Tables.fan's ROUND-ROBIN repartition (r13): a
    // data-adaptive one-time fan-out of the single-row-group scan that
    // self-disables once the table spans more than one split — at scale
    // text still never crosses an exchange on this path.
    val fp = SparkEntry.queries("q186_contamination_span")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    raw"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]\s*\nArguments: ([^\n]*)".r
      .findAllMatchIn(fp).foreach { m =>
        val (attrs, args) = (m.group(1), m.group(2))
        if (!args.contains("RoundRobinPartitioning"))
          assert(!attrs.contains("text#"),
            s"text crossed a keyed shuffle; exchange carries: $attrs")
      }
  }

  test("q188 length quantiles: token counts reduce in the scan projection") {
    val fp = SparkEntry.queries("q188_length_quantiles")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    raw"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]".r
      .findAllMatchIn(fp).map(_.group(1)).foreach { attrs =>
        assert(!attrs.contains("text#"),
          s"the percentile shuffle must carry one integer per doc, not text: $attrs")
      }
  }

  test("q196 BM25: df/stats broadcast, top-k never global-sorts, no text in a shuffle") {
    val p = plan("q196_bm25_topk")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"df and corpus stats should broadcast into the tf stream:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    val fp = SparkEntry.queries("q196_bm25_topk")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    raw"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]".r
      .findAllMatchIn(fp).map(_.group(1)).foreach { attrs =>
        assert(!attrs.contains("text#"),
          s"BM25 shuffles must carry (doc_id, tok/len) only, not text: $attrs")
      }
  }

  test("q201 index probe partition-prunes to the query terms' buckets, never scans the corpus") {
    val df = SparkEntry.queries("q201_bm25_index_probe")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("documents"), s"probe must never touch the corpus:\n$p")
    val total = spark.sql("SELECT count(*) FROM lake.idx.`bm25_postings$files`")
      .head.getLong(0)
    val m = """LakeScan\(lake\.idx\.bm25_postings, (\d+) files\)""".r.findFirstMatchIn(p)
    assert(m.isDefined, s"expected a postings LakeScan:\n$p")
    assert(m.get.group(1).toLong < total,
      s"4-term probe must prune posting buckets: ${m.get.group(1)} of $total files")
  }

  test("q197 RRF: rank windows run post-truncation, fusion join stays tiny") {
    val p = plan("q197_hybrid_rrf")
    assert(p.contains("TakeOrderedAndProject"),
      s"both top-50 lists must be TakeOrderedAndProject, not global sorts:\n$p")
    // the two Window operators rank 50-row lists; each must sit ABOVE a
    // TakeOrderedAndProject, so no corpus-sized single-partition window
    val sorts = "Sort ".r.findAllIn(p).size
    assert(sorts <= 4, s"unexpected corpus-sized sorts in the fusion path:\n$p")
  }

  test("a lake scan names the read schema and filters its parquet reader is handed") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.audit")
    spark.sql("DROP TABLE IF EXISTS lake.audit.scan")
    spark.sql("CREATE TABLE lake.audit.scan (id BIGINT, v STRING, w DOUBLE)")
    spark.sql("INSERT INTO lake.audit.scan SELECT id, concat('v', id), id * 0.5 FROM range(0, 100)")
    val p = spark.sql("SELECT v FROM lake.audit.scan WHERE id > 10")
      .queryExecution.executedPlan.toString
    assert(("""LakeScan\(lake\.audit\.scan, \d+ files\) """ +
      """PushedFilters: \[IsNotNull\(id\), GreaterThan\(id,10\)\], """ +
      """ReadSchema: struct<id:bigint,v:string>""").r.findFirstIn(p).isDefined, p)
    spark.sql("DROP TABLE lake.audit.scan")
  }
}
