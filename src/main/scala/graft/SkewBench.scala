package graft

/** Skewed-fixture A/B bench for the graph/dedup query family (VERDICT r8
  * #5): the sf corpora are UNIFORM-random, so a skew cliff (one hot join
  * key fanning out quadratically, one giant block, one hub node) never
  * shows in the per-round bench. This main synthesizes two fixture
  * directories with IDENTICAL row counts — one uniform, one power-law —
  * and times each query on both, printing per-query medians and the
  * skew/uniform ratio. A ratio creeping past ~2× on equal input size is a
  * skew cliff to fix or document.
  *
  * Planted skew (each targets one query's candidate-generation defense):
  *   - lineitem: part 0 co-supplied by EVERY supplier (q121's pre-pair
  *     degree cap), supplier 0 on 10% of rows (q117/q129 hub node).
  *   - orders: customer 0 on 10% of orders (bipartite hub's other side).
  *   - customer: a 5% block with one shared q127 edit-block key (same
  *     nation + length + name-minus-last-3), and a 5% block whose 9-char
  *     tails vary at ONE position — two of q128's three interleaved bands
  *     are constant over it (the giant-band probe case).
  *   - documents: 10% of docs share (lang, n_chars) — one giant q56
  *     component.
  *   - documents.text (r13, VERDICT #5 — the retrieval family): a
  *     stopword-flooded Zipf token stream — 50% of ALL corpus tokens are
  *     'the' (one `bucket(16, tok)` posting bucket holds half the
  *     postings at build) and the QUERY term 'join' rides on 10% of
  *     tokens (the probe's matching-postings set is corpus-sized) —
  *     versus the uniform side's flat 2000-word vocabulary. Exercises
  *     q196 (scan scorer) and q201 (index build + bucket-pruned probe).
  *   - embeddings: 20% of vectors are ONE exact duplicate point (max
  *     distance ties against every seed) — q194's bounded KNN buffer must
  *     stay flat when the tie-break does all the work.
  *
  * {{{ sbt "runMain graft.SkewBench" }}}
  */
object SkewBench {
  private val Queries = Seq(
    "q117_pagerank", "q121_triangles", "q129_bfs_hops",
    "q56_dedup_components", "q127_fuzzy_blocked_dedup", "q128_hamming_banded",
    "q196_bm25_topk", "q201_bm25_index_probe", "q194_knn_join_int8")

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val root = java.nio.file.Files.createTempDirectory("graft-skewbench").toString
    val uniformDir = s"$root/uniform"
    val skewDir = s"$root/skew"
    writeFixture(spark, uniformDir, skewed = false)
    writeFixture(spark, skewDir, skewed = true)

    // median of 3 runs, in seconds
    def run(dir: String, name: String): Double = {
      Tables.registerAll(spark, dir)
      Seq.fill(3)(QueryProfile.run(spark, name, dir).totalMs / 1e3).sorted.apply(1)
    }

    // warm codegen/classloading on the uniform dir once
    Queries.foreach { q => try run(uniformDir, q) catch { case _: Throwable => () } }

    println(f"${"query"}%-26s ${"uniform"}%9s ${"skewed"}%9s ${"ratio"}%7s")
    val rows = Queries.map { q =>
      val u = run(uniformDir, q)
      val s = run(skewDir, q)
      println(f"$q%-26s $u%8.2fs $s%8.2fs ${s / u}%6.2fx")
      (q, u, s)
    }
    val cliffs = rows.filter { case (_, u, s) => s / u > 2.0 }
    if (cliffs.isEmpty) println("no skew cliff > 2x on equal-size input")
    else println(s"CLIFFS: ${cliffs.map { case (q, u, s) => f"$q ${s / u}%.1fx" }.mkString(", ")}")
    spark.stop()
  }

  /** Same shape and row counts either way; `skewed` only redistributes
    * keys. Tables not stressed here (region/nation/part/events/embeddings)
    * are copied from sf0.01 so Tables.registerAll resolves all ten views.
    */
  private def writeFixture(spark: org.apache.spark.sql.SparkSession,
      dir: String, skewed: Boolean): Unit = {
    val hot = if (skewed) "true" else "false"
    val nLine = 600000L
    // lineitem: ~20k parts x ~2k suppliers. Skew: part 0 on 10% of rows
    // with uniformly-drawn suppliers (co-supply degree -> all 2k suppliers,
    // the C(d,2) pair bomb q121's degCap defuses); supplier 0 on another
    // 10% (the hub node in the supplier-customer bipartite projection).
    spark.range(nLine).selectExpr(
        "id % 150000 AS l_orderkey",
        s"CASE WHEN $hot AND id % 10 = 0 THEN 0 " +
          "ELSE 1 + pmod(hash(id, 11), 19999) END AS l_partkey",
        s"CASE WHEN $hot AND id % 10 = 1 THEN 0 " +
          "ELSE 1 + pmod(hash(id, 13), 1999) END AS l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    spark.range(150000).selectExpr(
        "id AS o_orderkey",
        s"CASE WHEN $hot AND id % 10 = 2 THEN 0 " +
          "ELSE 1 + pmod(hash(id, 17), 29999) END AS o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    spark.range(2000).selectExpr("id AS s_suppkey",
        "concat('Supplier#', lpad(CAST(id AS STRING), 9, '0')) AS s_name",
        "CAST(pmod(id, 25) AS INT) AS s_nationkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    // customer: 30k rows. Hot set A (ids ≡ 0 mod 20, nation pinned 0):
    // names share everything but the last 3 chars -> ONE q127 block of
    // 1500 (C(1500,2) ≈ 1.1M levenshtein evaluations). Hot set B
    // (ids ≡ 1 mod 20): 9-char tails vary only at position 1, so q128's
    // bands {2,5,8} and {3,6,9} are each constant over all 1500 rows —
    // giant band buckets whose pairs must stay probe-side.
    spark.range(30000).selectExpr(
        "id AS c_custkey",
        s"CASE WHEN $hot AND id % 20 = 0 THEN CAST(0 AS INT) " +
          "ELSE CAST(pmod(id, 25) AS INT) END AS c_nationkey",
        s"CASE WHEN $hot AND id % 20 = 0 THEN " +
          "  concat('HOTEDITBLOCK', chr(65 + pmod(id, 26)), " +
          "         chr(65 + pmod(id div 26, 26)), chr(65 + pmod(id div 676, 26))) " +
          s"WHEN $hot AND id % 20 = 1 THEN " +
          "  concat('HOTBAND', chr(65 + pmod(id div 20, 26)), 'AABBCCDD') " +
          "ELSE concat('Customer#', lpad(CAST(id AS STRING), 9, '0'), " +
          "            chr(65 + pmod(id, 26)), chr(65 + pmod(id div 7, 26)), " +
          "            chr(65 + pmod(id div 49, 26))) END AS c_name",
        "CAST(pmod(id, 10000) AS DOUBLE) / 10 AS c_acctbal",
        "'BUILDING' AS c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // documents: 5000 rows; skew plants 500 docs sharing (lang, n_chars)
    // exactly — one q56 component with C(500,2) intra-edges. text is a
    // 100-token stream either way (equal token counts); only the
    // DISTRIBUTION changes: uniform draws from a 2000-word vocabulary
    // with the four q196 query terms at ~8%, skewed is Zipf-at-the-cliff —
    // half of every doc is the stopword 'the' (one hot posting bucket)
    // and the query term 'join' floods 10% of tokens (probe-side heat)
    spark.range(5000).selectExpr(
        "id AS doc_id",
        s"CASE WHEN $hot AND id % 10 = 0 THEN 'en' " +
          "ELSE element_at(array('en','de','fr','es','pt'), " +
          "CAST(1 + pmod(hash(id, 19), 5) AS INT)) END AS lang",
        (if (skewed)
          "array_join(transform(sequence(1, 100), i -> " +
            "CASE WHEN pmod(hash(id, i, 37), 10) < 5 THEN 'the' " +
            "WHEN pmod(hash(id, i, 37), 10) = 5 THEN 'join' " +
            "ELSE concat('w', pmod(hash(id, i, 31), 2000)) END), ' ')"
        else
          "array_join(transform(sequence(1, 100), i -> " +
            "CASE WHEN pmod(hash(id, i, 29), 50) = 0 THEN 'join' " +
            "WHEN pmod(hash(id, i, 29), 50) = 1 THEN 'hash' " +
            "WHEN pmod(hash(id, i, 29), 50) = 2 THEN 'window' " +
            "WHEN pmod(hash(id, i, 29), 50) = 3 THEN 'dup' " +
            "ELSE concat('w', pmod(hash(id, i, 31), 2000)) END), ' ')") + " AS text",
        "'skewbench' AS source",
        s"CASE WHEN $hot AND id % 10 = 0 THEN CAST(500 AS BIGINT) " +
          "ELSE 100 + pmod(hash(id, 23), 2000) END AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // embeddings: 10k dim-64 vectors; skew collapses 20% of the corpus
    // (and none of the 5 seeds) onto ONE duplicate point — every distance
    // in that mass ties exactly, so q194's BottomKByDist earns its
    // (dist, vec_id) tie-break at scale
    val unifVec = "transform(sequence(1, 64), j -> " +
      "CAST((pmod(hash(id, j, 41), 2001) - 1000) / 1000.0 AS FLOAT))"
    val hotVec = "transform(sequence(1, 64), j -> " +
      "CAST((pmod(hash(CAST(0 AS BIGINT), j, 41), 2001) - 1000) / 1000.0 AS FLOAT))"
    spark.range(10000).selectExpr(
        "id AS vec_id",
        "CAST(pmod(id, 7) AS INT) AS label",
        s"CASE WHEN $hot AND id >= 5 AND id % 5 = 0 THEN $hotVec " +
          s"ELSE $unifVec END AS embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // untouched tables: borrow sf0.01's files so every view registers
    val src = "/root/testdata/sf0.01"
    Seq("region", "nation", "part", "events").foreach { n =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/$n.parquet"),
        java.nio.file.Paths.get(s"$dir/$n.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
