package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.Tables.t

/** Relational query surface (SURVEY §2b): projection/filter, joins of every
  * flavor, hash/sort aggregation, windows, set ops, rollup/cube/grouping
  * sets, subqueries, string/date/JSON functions — all Catalyst built-ins,
  * declared via DataFrame API or ANSI SQL and left to the optimizer.
  *
  * Scale posture: only fixed-cardinality dimensions (nation/region) carry
  * explicit `broadcast()` hints — anything that grows with SF is left to
  * AQE's runtime-stats decision; fact-fact joins shuffle on their keys with
  * AQE skew handling; aggregations are partial+final by construction
  * (groupBy). All plans survive a 100× data scale-up because nothing
  * materializes on the driver.
  */
object Relational {

  /** Exact, order-independent sum of a double column: accumulate in
    * decimal(18,6) (exact, so partial+final agg order doesn't matter), then
    * surface as DOUBLE — both engines round the same exact decimal to the
    * same IEEE double, and doubles hash identically in the driver's gate
    * (decimal rendering does not; see VERDICT r1 §What's wrong #1).
    */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast("double")

  /** q161's canonical DOUBLE rendering: the exact IEEE-754 bit pattern as a
    * C-style hex-float, normalized so Java's `%a` (Spark) and DuckDB's
    * `printf('%a')` agree byte for byte. Java prints `p0` where C prints
    * `p+0` (the oracle strips the '+'), and Java keeps at least one
    * mantissa digit (`0x1.0p1` vs C's `0x1p1`) — the lone `.0` is removed
    * here; a minimal mantissa can never otherwise end in '0', so the
    * rewrite is unambiguous. NaN payloads all canonicalize to 'nan';
    * −0.0 stays distinct from 0.0 (a real migration difference). NULL
    * propagates through every branch, nulling the row hash in both
    * engines identically.
    */
  private[graft] def canonicalDoubleHex(c: Column): Column =
    // the explicit NULL arm matters: format_string renders a SQL NULL as
    // the STRING "null" (Java Formatter semantics) while DuckDB's printf
    // propagates NULL — without the guard a null double would hash on one
    // engine and null the row hash on the other (caught by ChecksumSpec)
    when(c.isNull, lit(null).cast("string"))
      .when(isnan(c), lit("nan"))
      .when(c === Double.PositiveInfinity, lit("inf"))
      .when(c === Double.NegativeInfinity, lit("-inf"))
      // literal pattern: plain replace (no per-row regex engine — q161
      // runs this on every row of the table being checksummed)
      .otherwise(replace(format_string("%a", c), lit(".0p"), lit("p")))

  /** Unique scratch dir for the format-roundtrip queries (q163/164/165/180).
    * A FIXED relative path would depend on the process working directory
    * and let concurrent runs of the same query clobber each other's files
    * mid-read; a per-invocation dir under java.io.tmpdir cannot collide,
    * and the returned DataFrame stays readable for the caller's lifetime.
    */
  private def scratchDir(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$name")
    // the returned DataFrame must stay readable for the caller's lifetime,
    // so deletion is deferred to JVM exit — without it, repeated bench runs
    // accumulate orphaned CSV/JSONL/ORC scratch dirs indefinitely
    scratchDirs.add(dir)
    dir.toString
  }
  private val scratchDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[java.nio.file.Path]())
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    scratchDirs.forEach { d =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverseIterator
          .foreach(p => try java.nio.file.Files.deleteIfExists(p)
                        catch { case _: Exception => () })
      } catch { case _: Exception => () }
    }))

  /** q117's iteration core, exposed for the plan audit: builds the
    * symmetric edge table with out-degree denormalized in — ONE shuffle,
    * hash-partitioned by src (the "bucketed by src" cluster posture,
    * realized), degree counted inside the reduce-side task (src
    * partitioning co-locates each node's out-edges) — runs five integer
    * power iterations, and returns the top-100 rows.
    *
    * Node ids are LONGS internally — suppliers odd (2s+1), customers even
    * (2c), disjoint by parity exactly as the public 's…'/'c…' strings are
    * by prefix — and the strings are formatted only for the final ranking.
    * The graph is isomorphic, integer rank mass is unchanged, so results
    * are bit-identical to the string-keyed oracle.
    *
    * The iterations run on pair RDDs (r13, same rationale as
    * ConnectedComponents): the DataFrame loop re-planned every round and
    * AQE re-broadcast the rank side per round (~30 jobs); here every
    * iteration is the narrow co-partitioned join `edges ⋈ ranks` (both
    * hash-partitioned by node — no broadcast, which a corpus-sized rank
    * table at 100 TB could not afford anyway) plus ONE integer-sum
    * reduce shuffle whose output partitioning feeds the next round's join.
    * Out-degree is a per-partition count over the src-partitioned edges,
    * never a window (a power-law hub is one key in one task — its count is
    * a LongMap increment, not a sorted group). The final top-100 is
    * takeOrdered — per-partition heads + driver merge, the RDD twin of
    * TakeOrderedAndProject. Partition count derives from the measured
    * edge count (guide §2.2), so the layout is scale-adaptive.
    */
  private[graft] def pagerankPlan(pairs: DataFrame): Array[(String, Long)] = {
    val s = pairs.sparkSession
    import s.implicits._
    val raw = pairs.select(col("s").cast("long"), col("c").cast("long"))
      .as[(Long, Long)].rdd
      .flatMap { case (sk, ck) =>
        val sn = 2 * sk + 1; val cn = 2 * ck
        Iterator((sn, cn), (cn, sn))
      }.persist()
    val m = raw.count()
    val part = graft.functions.PairShuffle.partitioner(s.sparkContext, m)
    // Out-degree + denormalization INSIDE the one src-keyed exchange (r13,
    // guide §1.2 step 1): src-partitioning co-locates ALL of u's out-edges,
    // so degree is a per-partition count over a buffered pass — the r13a
    // separate sym.persist + deg reduce + deg⋈sym zipPartitions (a second
    // persisted copy of the edge list and two more passes over it,
    // profiled 18 task-s at sf0.1) collapse into this one task. The buffer
    // holds one partition of pairs — the same per-partition working set
    // the old sym.persist held deserialized in the block manager.
    val edges = raw.partitionBy(part)
      .mapPartitions({ it =>
        val buf = it.toArray
        val od = new scala.collection.mutable.LongMap[Long]()
        buf.foreach { case (u, _) =>
          od.update(u, od.getOrElse(u, 0L) + 1L)
        }
        buf.iterator.map { case (u, v) => (u, (v, od(u))) }
      }, preservesPartitioning = true).persist()
    edges.count() // materialize, then drop the builder
    raw.unpersist(blocking = false)
    try {
      // every node appears as a src (edges are symmetric), so the edge
      // table's key set IS the node set: distinct srcs per partition
      // (narrow — src-partitioned); initial rank = 1,000,000 mass units
      var ranks = edges.mapPartitions({ it =>
        val seen = new scala.collection.mutable.LongMap[Unit]()
        it.flatMap { case (u, _) =>
          if (seen.contains(u)) Iterator.empty
          else { seen.update(u, ()); Iterator.single((u, 1000000L)) }
        }
      }, preservesPartitioning = true)
      for (_ <- 1 to 5) {
        // the sides are co-partitioned, so the per-iteration join is a
        // zipPartitions with a primitive per-partition rank map — the
        // generic RDD join's cogroup buffers measured ~10× more CPU per
        // edge than this lookup (guide §1.2 step 2: per-task work)
        ranks = edges.zipPartitions(ranks) { (eIt, rIt) =>
          val rank = new scala.collection.mutable.LongMap[Long]()
          rIt.foreach { case (n, r) => rank.update(n, r) }
          eIt.flatMap { case (src, (dst, od)) =>
            val r = rank.getOrElse(src, -1L) // ranks are always positive
            if (r < 0) Iterator.empty
            else Iterator.single((dst, (17L * r) / (20L * od)))
          }
        }.reduceByKey(part, _ + _) // the round's one shuffle
          .mapValues(150000L + _)
      }
      ranks.map { case (node, rank) =>
        val name = (if (node % 2 == 1) "s" else "c") + (node >> 1).toString
        (name, rank)
      }.takeOrdered(100)(Ordering.by { case (name, rank) => (-rank, name) })
    } finally edges.unpersist(blocking = false)
  }
  private def davg(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast("double") / count(lit(1))

  val defs: Seq[QueryDef] = Seq(
    // ───── q01: TPC-H Q1 shape — scan-heavy partial+final aggregation ────
    QueryDef.df(
      "q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST((l_extendedprice*(1-l_discount))*(1+l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)/count(*) AS avg_qty,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)/count(*) AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          dsum((col("l_extendedprice") * (lit(1) - col("l_discount"))) * (lit(1) + col("l_tax")))
            .as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ───── q02: projection + filter — must push to the parquet scan ──────
    QueryDef.df(
      "q02_filter_project",
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
        |FROM lineitem WHERE l_discount > 0.06 AND l_quantity < 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_discount") > 0.06 && col("l_quantity") < 5)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ───── q03: 3-way join + agg + top-k (TPC-H Q3 shape) ────────────────
    QueryDef.df(
      "q03_topk_revenue",
      """SELECT o_orderkey, CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue, o_orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
      // customer grows with SF (150k rows/SF) — no explicit broadcast hint;
      // AQE picks broadcast vs shuffle from runtime stats, which stays safe
      // at 100 TB. orders⋈lineitem shuffles on the order key.
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },

    // ───── q04: EXISTS / left-semi join (TPC-H Q4 shape) ─────────────────
    QueryDef.df(
      "q04_priority_semijoin",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders").filter(
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
      val l = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
      o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    // ───── q05: 6-way join through dims (TPC-H Q5 shape) ─────────────────
    QueryDef.df(
      "q05_nation_revenue",
      """SELECT n_name, CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders").filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = t(s, dir, "lineitem")
      val supp = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
      // Fact side shuffles once on orderkey. Only fixed-cardinality dims
      // (nation=25, region=5 rows at ANY SF) get explicit broadcast hints;
      // customer/supplier grow with SF, so AQE decides their strategy.
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(
          supp,
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // ───── q06: filter + global sum (TPC-H Q6 shape) ─────────────────────
    QueryDef.df(
      "q06_revenue_delta",
      """SELECT CAST(sum(CAST(l_extendedprice*l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
            col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))
    },

    // ───── q07: window functions — rank within partition ─────────────────
    QueryDef.df(
      "q07_supplier_part_rank",
      """SELECT l_suppkey, l_partkey, revenue, rnk FROM (
        |  SELECT l_suppkey, l_partkey, revenue,
        |    CAST(row_number() OVER (PARTITION BY l_suppkey ORDER BY revenue DESC, l_partkey) AS INT) AS rnk
        |  FROM (SELECT l_suppkey, l_partkey,
        |          CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |        FROM lineitem GROUP BY l_suppkey, l_partkey) agg
        |) ranked WHERE rnk <= 3 ORDER BY l_suppkey, rnk""".stripMargin) { (s, dir) =>
      val agg = t(s, dir, "lineitem")
        .groupBy("l_suppkey", "l_partkey")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      val w = Window.partitionBy("l_suppkey").orderBy(col("revenue").desc, col("l_partkey"))
      agg
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .orderBy("l_suppkey", "rnk")
    },

    // ───── q08: distinct aggregation ─────────────────────────────────────
    QueryDef.df(
      "q08_distinct_counts",
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supp"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },

    // ───── q09: rollup ───────────────────────────────────────────────────
    QueryDef.df(
      "q09_rollup",
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // ───── q10: left outer join + two-level agg (TPC-H Q13 shape) ────────
    QueryDef.df(
      "q10_order_histogram",
      """SELECT n_orders, CAST(count(*) AS BIGINT) AS n_cust FROM (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey) per_cust
        |GROUP BY n_orders ORDER BY n_orders""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy("n_orders")
        .agg(count(lit(1)).as("n_cust"))
        .orderBy("n_orders")
    },

    // ───── q11: anti join ────────────────────────────────────────────────
    QueryDef.df(
      "q11_customers_no_orders",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(
          t(s, dir, "orders").filter(col("o_totalprice") > 250000),
          col("c_custkey") === col("o_custkey"),
          "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ───── q12: set operations ───────────────────────────────────────────
    QueryDef.shared(
      "q12_set_ops",
      """WITH hi AS (SELECT c_custkey AS ck FROM customer WHERE c_acctbal > 5000),
        |     big AS (SELECT DISTINCT o_custkey AS ck FROM orders WHERE o_totalprice > 300000)
        |SELECT 'intersect' AS op, CAST(count(*) AS BIGINT) AS n FROM (SELECT ck FROM hi INTERSECT SELECT ck FROM big) x
        |UNION ALL
        |SELECT 'except' AS op, CAST(count(*) AS BIGINT) AS n FROM (SELECT ck FROM hi EXCEPT SELECT ck FROM big) y
        |UNION ALL
        |SELECT 'union' AS op, CAST(count(*) AS BIGINT) AS n FROM (SELECT ck FROM hi UNION SELECT ck FROM big) z
        |ORDER BY op""".stripMargin),

    // ───── q13: conditional aggregation (TPC-H Q14 shape) ────────────────
    QueryDef.shared(
      "q13_promo_share",
      """SELECT CAST(sum(CAST(CASE WHEN p_type = 'PROMO' THEN l_extendedprice*(1-l_discount) ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue,
        |       CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin),

    // ───── q14: HAVING ───────────────────────────────────────────────────
    QueryDef.shared(
      "q14_having",
      """SELECT l_suppkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY l_suppkey
        |HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 100
        |ORDER BY l_suppkey""".stripMargin),

    // ───── q15: scalar subquery (max) ────────────────────────────────────
    QueryDef.shared(
      "q15_top_supplier",
      """WITH rev AS (SELECT l_suppkey AS supplier_no,
        |         CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
        |       FROM lineitem
        |       WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |       GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN rev ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),

    // ───── q16: grouping sets ────────────────────────────────────────────
    QueryDef.shared(
      "q16_grouping_sets",
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // ───── q17: correlated scalar subquery (TPC-H Q17 shape) ─────────────
    // l_quantity values are whole numbers → avg() over doubles is exact in
    // both engines (integer sums stay < 2^53), so the comparison is stable.
    QueryDef.shared(
      "q17_small_qty_revenue",
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
        |WHERE p_brand = 'Brand#11'
        |  AND l1.l_quantity < (SELECT 0.5*avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)""".stripMargin),

    // ───── q18: group-having feeding a join (TPC-H Q18 shape) ────────────
    QueryDef.shared(
      "q18_big_orders",
      """WITH big AS (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
        |             FROM lineitem GROUP BY l_orderkey
        |             HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 150)
        |SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    // ───── q19: disjunctive join predicates (TPC-H Q19 shape) ────────────
    QueryDef.shared(
      "q19_disjunctive",
      """SELECT CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin),

    // ───── q20: string functions ─────────────────────────────────────────
    QueryDef.shared(
      "q20_string_funcs",
      """SELECT upper(substr(p_type, 1, 3)) AS type_prefix,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(length(p_name)) AS INT) AS min_name_len,
        |       CAST(max(length(p_name)) AS INT) AS max_name_len,
        |       min(p_brand || '/' || p_type) AS min_concat
        |FROM part WHERE p_name LIKE '%a%'
        |GROUP BY upper(substr(p_type, 1, 3)) ORDER BY type_prefix""".stripMargin),

    // ───── q21: date functions ───────────────────────────────────────────
    QueryDef.shared(
      "q21_monthly_orders",
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders WHERE year(o_orderdate) = 1997
        |GROUP BY CAST(date_trunc('month', o_orderdate) AS DATE) ORDER BY month""".stripMargin),

    // ───── q22: cube ─────────────────────────────────────────────────────
    QueryDef.shared(
      "q22_cube",
      """SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // ───── q23: IN subquery ──────────────────────────────────────────────
    QueryDef.shared(
      "q23_in_subquery",
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_nationkey IN (SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
        |                      WHERE r_name = 'EUROPE')
        |ORDER BY s_suppkey""".stripMargin),

    // ───── q24: running window aggregates (lag / cumulative) ─────────────
    QueryDef.df(
      "q24_running_window",
      """SELECT user_id, day,
        |  CAST(n AS BIGINT) AS n,
        |  CAST(sum(n) OVER (PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
        |  CAST(coalesce(lag(n) OVER (PARTITION BY user_id ORDER BY day), 0) AS BIGINT) AS prev_n
        |FROM (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n
        |      FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)) d
        |WHERE user_id < 20 ORDER BY user_id, day""".stripMargin) { (s, dir) =>
      val daily = t(s, dir, "events")
        .filter(col("user_id") < 20)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("user_id").orderBy("day")
      daily
        .withColumn("cum_n", sum("n").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("prev_n", coalesce(lag("n", 1).over(w), lit(0L)))
        .select("user_id", "day", "n", "cum_n", "prev_n")
        .orderBy("user_id", "day")
    },

    // ───── q48: full-outer join + ALL set-op variants ────────────────────
    // Completes the join/set-op matrix: FULL OUTER with null-producing
    // sides, and INTERSECT ALL / EXCEPT ALL multiplicity semantics, in one
    // oracled query (both engines run the identical SQL).
    QueryDef.shared(
      "q48_outer_setops",
      """WITH c AS (SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_cust
        |           FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey),
        |     s AS (SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_supp
        |           FROM supplier GROUP BY s_nationkey),
        |     fo AS (SELECT coalesce(c.nk, s.nk) AS nationkey, c.n_cust, s.n_supp
        |            FROM c FULL OUTER JOIN s ON c.nk = s.nk),
        |     ia AS (SELECT CAST(count(*) AS BIGINT) AS n FROM
        |            (SELECT c_nationkey FROM customer INTERSECT ALL SELECT s_nationkey FROM supplier) t),
        |     ea AS (SELECT CAST(count(*) AS BIGINT) AS n FROM
        |            (SELECT c_nationkey FROM customer EXCEPT ALL SELECT s_nationkey FROM supplier) t)
        |SELECT fo.nationkey, fo.n_cust, fo.n_supp, ia.n AS n_intersect_all, ea.n AS n_except_all
        |FROM fo CROSS JOIN ia CROSS JOIN ea
        |ORDER BY nationkey NULLS FIRST""".stripMargin),

    // ───── q49: window-function breadth ──────────────────────────────────
    // dense_rank / ntile / lead over a unique total ordering, plus a
    // value-RANGE frame (peers included identically in both engines).
    QueryDef.shared(
      "q49_window_breadth",
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS drk,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile,
        |  CAST(lead(o_orderkey, 1) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS next_key,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
        |    OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice
        |          RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_total
        |FROM orders WHERE o_orderkey < 500
        |ORDER BY o_orderpriority, o_totalprice, o_orderkey""".stripMargin),

    // ───── q73: exact interpolated percentiles per group ─────────────────
    // percentile_cont semantics (linear interpolation between order
    // statistics, idx = p·(n-1), value = lo + frac·(hi-lo) — DuckDB
    // quantile_cont's formula, reproduced literally for bit parity).
    // Implemented by HISTOGRAM-TARGETED SELECTION, never a full-table
    // sort, in exactly TWO data passes: (1) one map-combined hash-agg
    // builds a bit-bucketed histogram — `double_order_bits(v) >> 40` is an
    // order-preserving bin key needing NO prior min/max scan, cardinality
    // hard-capped at 2^24; per-group counts, the needed order-statistic
    // ranks, and each rank's (bin, within-bin offset) all derive from the
    // histogram alone (bin-scale work); (2) ONLY the rows of the target
    // bins (a ~1/bins fraction) ride a selection window; a final tiny agg
    // interpolates. The previous window-sort plan partitioned the whole
    // table by the 3-value group key — at 100× each task sorts a third of
    // the table; here no task ever sorts more than one bin's rows and
    // every data-scale operator is a map-combined hash agg. Spark's
    // builtin exact `percentile` was rejected earlier for buffering a
    // value→count map of the whole partition (hundreds of MB on high-NDV
    // columns).
    QueryDef.df(
      "q73_percentiles",
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(quantile_cont(l_quantity, 0.25), 4) AS q25,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // (value-column, fraction, output-name) — both columns ride one
      // melted pipeline so every stage is a single pass
      val specs = Seq(("price", 0.5, "p50"), ("price", 0.9, "p90"), ("qty", 0.25, "q25"))
      val li = t(s, dir, "lineitem")
      val melted = li
        .select(col("l_returnflag"), explode(array(
          struct(lit("price").as("w"), col("l_extendedprice").as("v")),
          struct(lit("qty").as("w"), col("l_quantity").as("v")))).as("e"))
        .select(col("l_returnflag"), col("e.w").as("w"), col("e.v").as("v"))
        .withColumn("bin", shiftright(call_function("double_order_bits", col("v")), 40))
      // DATA PASS 1: the bit-bucketed histogram (map-combined hash agg);
      // the group total n and the running count both come from ONE window
      // shuffle over the HISTOGRAM (bin-scale, not data-scale), so the
      // needed order-statistic ranks and their (bin, within-bin offset)
      // locations fall out with no extra pass or join
      val hist = melted.groupBy("l_returnflag", "w", "bin").agg(count(lit(1)).as("cnt"))
      val wgrp = Window.partitionBy("l_returnflag", "w")
      val wcum = wgrp.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
      val cum = hist
        .withColumn("n", sum("cnt").over(wgrp))
        .withColumn("cb", coalesce(sum("cnt").over(wcum), lit(0L)))
      // the ≤2 0-based order statistics each percentile needs, per group
      val rankExprs = specs.flatMap { case (which, p, _) =>
        Seq(floor(lit(p) * (col("n") - 1)), ceil(lit(p) * (col("n") - 1)))
          .map(r => when(col("w") === which, r.cast("long")))
      }
      val targets = cum
        .select(col("l_returnflag"), col("w"), col("bin"), col("n"), col("cb"),
          col("cnt"), explode(array(rankExprs: _*)).as("r"))
        .filter(col("r").isNotNull &&
          col("cb") <= col("r") && col("r") < col("cb") + col("cnt"))
        .select(col("l_returnflag"), col("w"), col("bin"), col("r"),
          (col("r") - col("cb")).as("k"), col("n"))
        .distinct()
      // DATA PASS 2: only TARGET-BIN rows ride the selection window (ties
      // in v are rank-order-insensitive: the value at offset k is the same
      // under any tie order); n travels with the targets, so the final
      // interpolation agg needs no further join
      val wsel = Window.partitionBy("l_returnflag", "w", "r").orderBy("v")
      melted.join(broadcast(targets), Seq("l_returnflag", "w", "bin"))
        .withColumn("rn", row_number().over(wsel) - 1)
        .filter(col("rn") === col("k"))
        .select(col("l_returnflag"), col("w"), col("r"), col("v"), col("n"))
        .groupBy("l_returnflag")
        .agg(max(col("n")).as("n"),
          specs.map { case (which, p, out) =>
            val idx = lit(p) * (max(col("n")) - 1)
            val lo = max(when(col("w") === which &&
              col("r") === floor(lit(p) * (col("n") - 1)).cast("long"), col("v")))
            val hi = max(when(col("w") === which &&
              col("r") === ceil(lit(p) * (col("n") - 1)).cast("long"), col("v")))
            // round(4): linear interpolation associates differently in
            // the two engines — a 1-ulp double drift appears at sf0.1
            round(lo + (idx - floor(idx)) * (hi - lo), 4).as(out)
          }: _*)
        .select(col("l_returnflag"), col("p50"), col("p90"), col("q25"),
          col("n").cast("bigint").as("n"))
        .orderBy("l_returnflag")
    },

    // ───── q74: correlated scalar subquery (Catalyst decorrelation) ──────
    // "customers whose balance beats their nation's average" — the shape
    // users write as a correlated subquery and Catalyst must DECORRELATE
    // into an aggregate + join (RewriteCorrelatedScalarSubquery); a naive
    // engine re-executes the inner query per outer row. Shared ANSI text:
    // both engines run the identical SQL, value parity by construction.
    QueryDef.shared(
      "q74_correlated_scalar",
      """SELECT c_custkey, c_nationkey,
        |  CAST(c_acctbal AS DOUBLE) AS acctbal
        |FROM customer c
        |WHERE c_acctbal > 2 * (SELECT CAST(sum(CAST(i.c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
        |                              / count(*)
        |                       FROM customer i
        |                       WHERE i.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin),

    // ───── q25: JSON extraction over the events props column ─────────────
    QueryDef.df(
      "q25_events_json",
      """SELECT event_type, k_bucket, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM (SELECT event_type, value,
        |        CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket
        |      FROM events) e
        |GROUP BY event_type, k_bucket ORDER BY event_type, k_bucket NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .withColumn("k_bucket", get_json_object(col("props"), "$.k").cast("int") % 10)
        .groupBy("event_type", "k_bucket")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("event_type"), asc_nulls_first("k_bucket"))
    },

    // ───── q87: PIVOT — long → wide with EXPLICIT pivot values ───────────
    // The explicit value list is the 100 TB form: .pivot(col) alone runs a
    // driver-side distinct over the column first; .pivot(col, values)
    // plans a single pass. Spark compiles it to a two-level aggregate:
    // partial+final agg keyed (group, pivot) — the only shuffle that sees
    // data-proportional rows — then a pivotfirst agg whose shuffle moves
    // ONE row per (group, pivot value). l_quantity is integer-valued, so
    // double sums are exact.
    QueryDef.df(
      "q87_pivot",
      """SELECT l_returnflag,
        |  sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS f_qty,
        |  sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS o_qty,
        |  CAST(count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT) AS f_rows,
        |  CAST(count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT) AS o_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum("l_quantity").as("qty"), count(lit(1)).as("rows"))
        .select(col("l_returnflag"),
          col("F_qty").as("f_qty"), col("O_qty").as("o_qty"),
          col("F_rows").as("f_rows"), col("O_rows").as("o_rows"))
        .orderBy("l_returnflag")
    },

    // ───── q88: UNPIVOT — wide → long round-trip ─────────────────────────
    // Dataset.unpivot (SQL UNPIVOT) compiles to Expand: each input row
    // fans out to one row per value column in the same task — no shuffle,
    // no join. Round-tripping the q87 pivot back to long form and hashing
    // against the direct GROUP BY proves both reshapes are lossless.
    QueryDef.df(
      "q88_unpivot",
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS qty
        |FROM lineitem WHERE l_linestatus IN ('F', 'O')
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      val wide = t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum("l_quantity"))
      wide.unpivot(Array(col("l_returnflag")), Array(col("F"), col("O")),
          "l_linestatus", "qty")
        .where(col("qty").isNotNull) // flags with no rows for a status
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ───── q114: RECURSIVE CTE — date-spine gap analysis ─────────────────
    // Spark 4.1's WITH RECURSIVE (UnionLoop): generate a contiguous date
    // spine and LEFT JOIN the fact table so ZERO-activity days surface —
    // the classic gap-filling pattern a GROUP BY alone cannot express
    // (absent groups produce no row). The anchor is one row, so Spark
    // converts the loop to a local relation and the join is a broadcast;
    // at 100 TB the spine stays O(days) regardless of fact size. The
    // oracle runs DuckDB's own recursive CTE (date + 1 vs date_add — the
    // only dialect difference).
    QueryDef.df(
      "q114_recursive_cte",
      """WITH RECURSIVE days(d) AS (
        |  SELECT DATE '1995-01-01' AS d
        |  UNION ALL
        |  SELECT d + 1 FROM days WHERE d < DATE '1995-02-28'
        |),
        |daily AS (
        |  SELECT o_orderdate AS d, count(*) AS n,
        |    sum(CAST(o_totalprice AS DECIMAL(18,6))) AS amt
        |  FROM orders
        |  WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-02-28'
        |  GROUP BY o_orderdate)
        |SELECT days.d, CAST(coalesce(daily.n, 0) AS BIGINT) AS n,
        |  CAST(coalesce(daily.amt, 0) AS DOUBLE) AS total
        |FROM days LEFT JOIN daily ON daily.d = days.d
        |ORDER BY days.d""".stripMargin) { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql(
        """WITH RECURSIVE days(d) AS (
          |  SELECT DATE '1995-01-01' AS d
          |  UNION ALL
          |  SELECT date_add(d, 1) FROM days WHERE d < DATE '1995-02-28'
          |),
          |daily AS (
          |  SELECT o_orderdate AS d, count(*) AS n,
          |    sum(CAST(o_totalprice AS DECIMAL(18,6))) AS amt
          |  FROM orders
          |  WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-02-28'
          |  GROUP BY o_orderdate)
          |SELECT days.d, CAST(coalesce(daily.n, 0) AS BIGINT) AS n,
          |  CAST(coalesce(daily.amt, 0) AS DOUBLE) AS total
          |FROM days LEFT JOIN daily ON daily.d = days.d
          |ORDER BY days.d""".stripMargin)
    },

    // ───── q115: higher-order array functions ────────────────────────────
    // collect_list → sort_array → aggregate(lambda) / element_at — the
    // codegen'd array kernel the embedding operators build on (dot
    // products via aggregate/zip_with), exercised on relational data and
    // hash-checked against DuckDB's list functions (list_sort /
    // list_transform / list_sum). Determinism: the per-group list is
    // SORTED before any fold, and l_quantity is integer-valued, so every
    // double operation is exact — no summation-order hazard.
    QueryDef.df(
      "q115_higher_order_arrays",
      """WITH per_o AS (
        |  SELECT l_orderkey AS k, list_sort(list(l_quantity)) AS qtys
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT k, list_sum(list_transform(qtys, x -> x * x)) AS sumsq,
        |    qtys[-1] AS maxq, len(qtys) AS n FROM per_o)
        |SELECT CAST(k % 7 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(sumsq) AS DOUBLE) AS ss, CAST(sum(maxq) AS DOUBLE) AS mx,
        |  CAST(sum(n) AS BIGINT) AS items
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val perO = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("k"))
        .agg(sort_array(collect_list(col("l_quantity"))).as("qtys"))
      perO.select(col("k"),
          aggregate(col("qtys"), lit(0.0), (a, x) => a + x * x).as("sumsq"),
          element_at(col("qtys"), -1).as("maxq"),
          size(col("qtys")).as("n"))
        .groupBy(pmod(col("k"), lit(7)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          sum("sumsq").cast("double").as("ss"),
          sum("maxq").cast("double").as("mx"),
          sum("n").cast("long").as("items"))
        .orderBy("bucket")
    },

    // ───── q116: time-INTERVAL RANGE window frames ────────────────────────
    // Trailing 1-hour sliding aggregates per user — the sessionless "burst"
    // analysis shape. RANGE frames bound by a calendar interval (not row
    // counts, not numeric offsets — q24 covers those): frame membership is
    // value-based, so ts ties are peers in both engines by definition.
    // Window sums accumulate in DECIMAL(18,6) (exact, so Spark's running
    // accumulation and DuckDB's segment-tree evaluation cannot diverge);
    // only the final max is cast to double. Scale: one shuffle on user_id,
    // sort within partitions — no corpus-wide sort.
    QueryDef.df(
      "q116_time_range_frame",
      """WITH w AS (
        |  SELECT user_id,
        |    count(*) OVER (PARTITION BY user_id ORDER BY ts
        |      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS c1h,
        |    sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY ts
        |      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS v1h
        |  FROM events)
        |SELECT user_id, CAST(max(c1h) AS BIGINT) AS peak_1h,
        |  CAST(count(CASE WHEN c1h >= 3 THEN 1 END) AS BIGINT) AS bursts,
        |  CAST(max(v1h) AS DOUBLE) AS max_v1h
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .selectExpr("user_id",
          """count(*) OVER (PARTITION BY user_id ORDER BY ts
            |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS c1h""".stripMargin,
          """sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY ts
            |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS v1h""".stripMargin)
        .groupBy("user_id")
        .agg(max(col("c1h")).cast("long").as("peak_1h"),
          count(when(col("c1h") >= 3, 1)).cast("long").as("bursts"),
          max(col("v1h")).cast("double").as("max_v1h"))
        .orderBy("user_id")
    },

    // ───── q117: PageRank over the supplier↔customer trade graph ─────────
    // Iterative distributed graph centrality — the quality-scoring shape a
    // web-corpus curation pipeline runs (rank sources by link mass). The
    // graph: an undirected edge per distinct (supplier, customer) pair that
    // traded. Five unrolled power iterations, damping 17/20.
    //
    // DETERMINISM AT SCALE: ranks are integer mass units and each node's
    // out-contribution uses integer floor division — every per-edge value
    // is exact and integer sums are order-independent, so Spark and DuckDB
    // agree bit-for-bit with no float-summation hazard (same trick as the
    // engine's write-skew-free bucket hashing: make the hot path exact).
    //
    // 100 TB posture: edges build once (one distinct over the join) and are
    // reused by every iteration; per-iteration work is one equi-join of the
    // small rank table against edges plus a hash aggregation on dst — no
    // all-pairs, nothing driver-side, iteration count fixed. On a cluster
    // the edge table would be bucketed by src so every iteration's join is
    // shuffle-free on the big side.
    QueryDef.df(
      "q117_pagerank",
      """WITH pairs AS (
        |  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (
        |  SELECT 's' || s AS src, 'c' || c AS dst FROM pairs
        |  UNION ALL
        |  SELECT 'c' || c AS src, 's' || s AS dst FROM pairs),
        |deg AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
        |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank, od FROM deg),
        |r1 AS (SELECT e.dst AS node, 150000 + sum((17 * r.rank) // (20 * r.od)) AS rank
        |       FROM r0 r JOIN edges e ON r.node = e.src GROUP BY 1),
        |r1d AS (SELECT node, rank, od FROM r1 JOIN deg ON node = src),
        |r2 AS (SELECT e.dst AS node, 150000 + sum((17 * r.rank) // (20 * r.od)) AS rank
        |       FROM r1d r JOIN edges e ON r.node = e.src GROUP BY 1),
        |r2d AS (SELECT node, rank, od FROM r2 JOIN deg ON node = src),
        |r3 AS (SELECT e.dst AS node, 150000 + sum((17 * r.rank) // (20 * r.od)) AS rank
        |       FROM r2d r JOIN edges e ON r.node = e.src GROUP BY 1),
        |r3d AS (SELECT node, rank, od FROM r3 JOIN deg ON node = src),
        |r4 AS (SELECT e.dst AS node, 150000 + sum((17 * r.rank) // (20 * r.od)) AS rank
        |       FROM r3d r JOIN edges e ON r.node = e.src GROUP BY 1),
        |r4d AS (SELECT node, rank, od FROM r4 JOIN deg ON node = src),
        |r5 AS (SELECT e.dst AS node, 150000 + sum((17 * r.rank) // (20 * r.od)) AS rank
        |       FROM r4d r JOIN edges e ON r.node = e.src GROUP BY 1)
        |SELECT node, CAST(rank AS BIGINT) AS rank FROM r5
        |ORDER BY rank DESC, node LIMIT 100""".stripMargin) { (s, dir) =>
      // fanned scans (Tables.fan): the one-row-group inputs otherwise run
      // the join + partial distinct of the edge build as a single task
      val pairs = graft.Tables.fan(s, dir, "lineitem",
          col("l_orderkey"), col("l_suppkey"))
        .join(graft.Tables.fan(s, dir, "orders",
          col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("s"), col("o_custkey").as("c")).distinct()
      // pagerankPlan runs the iterations (RDD loop, one shuffle per round)
      // and returns the materialized top-100 — LocalRelation from here, so
      // no cache outlives the call and downstream actions re-run nothing
      import scala.jdk.CollectionConverters._
      s.createDataFrame(
        pagerankPlan(pairs).map { case (n, r) =>
          org.apache.spark.sql.Row(n, r) }.toSeq.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.StringType, nullable = true),
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.LongType, nullable = true))))
    },

    // ───── q119: statistical aggregates from exact moment sums ───────────
    // stddev / correlation per group — the data-profiling shape. The
    // built-in single-pass estimators (Welford merges) are FLOAT-ORDER-
    // DEPENDENT across partitions, so no two engines (or two runs) agree
    // bit-for-bit; instead the moments (n, Σx, Σx², Σy, Σy², Σxy) accumulate
    // in DECIMAL — every input is integer-valued, so the sums are EXACT and
    // order-free — and the statistics derive in one fixed double expression
    // both engines evaluate identically. `StatAggSpec` pins Spark's
    // builtins (stddev_samp/corr/covar_samp) against these exact values.
    QueryDef.df(
      "q119_stat_aggregates",
      """WITH m AS (
        |  SELECT l_returnflag AS flag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,6))) AS sx,
        |    sum(CAST(l_quantity * l_quantity AS DECIMAL(18,6))) AS sxx,
        |    sum(CAST(l_linenumber AS DECIMAL(18,6))) AS sy,
        |    sum(CAST(l_linenumber * l_linenumber AS DECIMAL(18,6))) AS syy,
        |    sum(CAST(l_quantity * l_linenumber AS DECIMAL(18,6))) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT flag, CAST(n AS BIGINT) AS n,
        |  CAST(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        |    / (n - 1)) AS DOUBLE) AS sd_qty,
        |  CAST((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        |    / (n - 1) AS DOUBLE) AS cov_ql,
        |  CAST((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        |    / (sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        |       * sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n))
        |    AS DOUBLE) AS corr_ql
        |FROM m ORDER BY flag""".stripMargin) { (s, dir) =>
      val dec = DecimalType(18, 6)
      val m = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("flag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(dec)).as("sx"),
          sum((col("l_quantity") * col("l_quantity")).cast(dec)).as("sxx"),
          sum(col("l_linenumber").cast(dec)).as("sy"),
          sum((col("l_linenumber") * col("l_linenumber")).cast(dec)).as("syy"),
          sum((col("l_quantity") * col("l_linenumber")).cast(dec)).as("sxy"))
      val (n, sx, sxx, sy, syy, sxy) = (col("n"), col("sx").cast("double"),
        col("sxx").cast("double"), col("sy").cast("double"),
        col("syy").cast("double"), col("sxy").cast("double"))
      m.select(col("flag"), n.cast("long").as("n"),
          sqrt((sxx - sx * sx / n) / (n - 1)).cast("double").as("sd_qty"),
          ((sxy - sx * sy / n) / (n - 1)).cast("double").as("cov_ql"),
          ((sxy - sx * sy / n) / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)))
            .cast("double").as("corr_ql"))
        .orderBy("flag")
    },

    // ───── q118: ordered LISTAGG / string_agg ────────────────────────────
    // Spark 4.1's listagg WITHIN GROUP vs DuckDB's string_agg ORDER BY —
    // deterministic because the aggregation order is total (status is
    // distinct per group after the inner distinct).
    QueryDef.df(
      "q118_listagg",
      """WITH d AS (
        |  SELECT DISTINCT l_returnflag AS flag,
        |    l_linestatus || ':' || CAST(month(l_shipdate) AS VARCHAR) AS tag
        |  FROM lineitem)
        |SELECT flag, string_agg(tag, ',' ORDER BY tag) AS tags,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          concat(col("l_linestatus"), lit(":"),
            month(col("l_shipdate")).cast("string")).as("tag"))
        .distinct()
        .groupBy("flag")
        .agg(expr("listagg(tag, ',') WITHIN GROUP (ORDER BY tag)").as("tags"),
          count(lit(1)).as("n"))
        .orderBy("flag")
    },

    // ───── q120: correlated LATERAL top-k ────────────────────────────────
    // ANSI lateral join with a correlated ORDER BY + LIMIT subquery — the
    // per-group top-k idiom written the way an analyst writes it. Catalyst
    // decorrelates the lateral (DecorrelateInnerQuery rewrites the
    // correlated LIMIT into a rank over one customer shuffle partitioned
    // by the join key) — no per-nation re-scan ever runs, so the plan is
    // one shuffle + one broadcast join regardless of nation count; at
    // 100 TB the work is O(customers), identical to the hand-written
    // window form. Determinism: total tiebreak (c_acctbal DESC, c_custkey).
    QueryDef.df(
      "q120_lateral_topk",
      """SELECT n.n_name, s.c_custkey, s.c_name, s.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_custkey, c_name, c_acctbal FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) s
        |ORDER BY n.n_name, s.c_acctbal DESC, s.c_custkey""".stripMargin) { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql(
        """SELECT n.n_name, s.c_custkey, s.c_name, s.c_acctbal
          |FROM nation n, LATERAL (
          |  SELECT c_custkey, c_name, c_acctbal FROM customer
          |  WHERE c_nationkey = n.n_nationkey
          |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) s
          |ORDER BY n.n_name, s.c_acctbal DESC, s.c_custkey""".stripMargin)
    },

    // ───── q121: triangle count + clustering coefficient ─────────────────
    // Exact triangle enumeration over the co-supply BACKBONE graph: the
    // top-20k supplier pairs by number of distinct shared parts (weight-
    // backbone extraction — the raw bipartite projection of uniform keys
    // saturates into a near-clique, 166M triangles at sf0.1; real graph
    // analytics runs on the thresholded/backbone graph, and a top-k cut is
    // deterministic at every data scale where a fixed support is not).
    // Counting uses the DEGREE-ORDERED orientation [Schank & Wagner 2005]:
    // every edge points from its (deg, id)-smaller endpoint to the larger,
    // so the orientation is acyclic, each triangle is counted exactly once
    // (at its unique out-degree-2 apex), and — the 100 TB bound — every
    // node's out-degree is O(√m), so the wedge self-join's fan-out is
    // capped at out-deg² per node no matter how skewed the raw degree
    // distribution is (a hub of degree d contributes d oriented IN-edges
    // spread across d partners, not d² wedges at the hub). Everything is
    // agg + equi-joins shuffled on node keys plus one TakeOrdered of the
    // fixed-k backbone; nothing all-pairs, nothing driver-side.
    // Clustering coefficient = 3·triangles / wedges, exact integers
    // divided once as doubles — bit-equal across engines. Ties at the
    // cutoff break on the total order (support DESC, u, v).
    QueryDef.df(
      "q121_triangles",
      """WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        |e AS (SELECT a.s AS u, b.s AS v
        |      FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
        |      GROUP BY 1, 2
        |      ORDER BY count(*) DESC, u, v LIMIT 20000),
        |d AS (SELECT node, count(*) AS deg FROM (
        |        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) x
        |      GROUP BY node),
        |o AS (SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
        |               THEN e.u ELSE e.v END AS a,
        |             CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
        |               THEN e.v ELSE e.u END AS b
        |      FROM e JOIN d du ON du.node = e.u JOIN d dv ON dv.node = e.v),
        |tri AS (SELECT count(*) AS t
        |        FROM o e1 JOIN o e2 ON e1.a = e2.a AND e1.b <> e2.b
        |        JOIN o e3 ON e3.a = e1.b AND e3.b = e2.b),
        |w AS (SELECT sum(deg * (deg - 1) / 2) AS wedges FROM d)
        |SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
        |  CAST(tri.t AS BIGINT) AS n_triangles,
        |  CAST(w.wedges AS BIGINT) AS n_wedges,
        |  CAST(3.0 * tri.t / w.wedges AS DOUBLE) AS clustering
        |FROM tri, w""".stripMargin) { (s, dir) =>
      val (out, e, o) = trianglesPlan(t(s, dir, "lineitem"))
      WorkingSet.materialized(s,
        (out, () => { o.unpersist(blocking = false); e.unpersist(blocking = false); () }))
    },

    // ───── q122: NOT IN three-valued logic / null-aware anti join ────────
    // The classic SQL correctness trap, asserted as data: `x NOT IN (list)`
    // is FALSE-or-UNKNOWN for every x once the list contains one NULL
    // (anti_poisoned counts only rows provably not-in — 0 when a NULL is
    // present), while NOT EXISTS is null-robust. Spark plans the nullable
    // NOT IN as a NULL-AWARE anti join (broadcast hash, single-key NAAJ) —
    // the O(n·m) fallback a naive engine uses is the scale hazard this
    // query pins. Shared SQL: both engines run the identical statement.
    QueryDef.shared(
      "q122_not_in_nulls",
      """SELECT
        |  CAST((SELECT count(*) FROM orders WHERE o_custkey NOT IN
        |     (SELECT c_custkey FROM customer
        |      WHERE c_mktsegment = 'MACHINERY')) AS BIGINT) AS anti_clean,
        |  CAST((SELECT count(*) FROM orders WHERE o_custkey NOT IN
        |     (SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END
        |      FROM customer
        |      WHERE c_mktsegment = 'MACHINERY')) AS BIGINT) AS anti_poisoned,
        |  CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS
        |     (SELECT 1 FROM customer c WHERE c.c_mktsegment = 'MACHINERY'
        |        AND c.c_acctbal >= 0
        |        AND c.c_custkey = o.o_custkey)) AS BIGINT) AS anti_exists""".stripMargin),

    // ───── q123: generators — array agg round-trip through posexplode ────
    // collect_list → sort_array → posexplode with ordinality: the
    // array-column explode path (tokenized text, shredded features) that a
    // training pipeline uses constantly. The generator runs inside
    // whole-stage codegen per partition — no shuffle beyond the groupBy
    // that built the array; output cardinality equals input, so the
    // round-trip is loss-free by construction. Oracle states the same
    // relation directly (row_number per order), proving the agg→explode
    // pair is the identity on this data.
    QueryDef.df(
      "q123_generators",
      """SELECT l_orderkey,
        |  CAST(row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, l_quantity) - 1 AS INT) AS pos,
        |  l_linenumber AS ln, l_quantity AS qty
        |FROM lineitem WHERE l_orderkey < 1000
        |ORDER BY l_orderkey, pos""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") < 1000)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(
          struct(col("l_linenumber"), col("l_quantity")))).as("items"))
        .select(col("l_orderkey"), posexplode(col("items")))
        .select(col("l_orderkey"), col("pos"),
          col("col.l_linenumber").as("ln"), col("col.l_quantity").as("qty"))
        .orderBy("l_orderkey", "pos")
    },

    // ───── q124: map column construction + higher-order map functions ────
    // map_from_entries → transform_values → map_filter → explode: typed
    // MapType as a first-class intermediate (feature dictionaries,
    // per-token scores). Map keys must be unique, so the per-(order, line)
    // price sums first (the testdata duplicates linenumbers within an
    // order — map_from_entries would throw DUPLICATE_MAP_KEY). All three
    // higher-order functions are codegen lambda expressions evaluated in
    // place — zero extra shuffles; the oracle computes the equivalent
    // relation directly, so the whole map round-trip is verified
    // value-exact. The 0.9 rescale is ONE double multiply on an
    // exact-decimal-summed double (IEEE-identical in both engines).
    QueryDef.df(
      "q124_map_functions",
      """WITH per AS (SELECT l_orderkey, l_linenumber AS ln,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS v
        |  FROM lineitem WHERE l_orderkey < 1000 GROUP BY 1, 2)
        |SELECT l_orderkey, ln, v * 0.9 AS discounted FROM per
        |WHERE v * 0.9 > 2000
        |ORDER BY l_orderkey, ln""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") < 1000)
        .groupBy(col("l_orderkey"), col("l_linenumber").as("k"))
        .agg(dsum(col("l_extendedprice")).as("v"))
        .groupBy("l_orderkey")
        .agg(map_from_entries(sort_array(collect_list(struct(col("k"), col("v")))))
          .as("m"))
        .select(col("l_orderkey"),
          map_filter(transform_values(col("m"), (_, v) => v * lit(0.9)),
            (_, v) => v > 2000).as("m2"))
        .select(col("l_orderkey"), explode(col("m2")))
        .select(col("l_orderkey"), col("key").as("ln"), col("value").as("discounted"))
        .orderBy("l_orderkey", "ln")
    },

    // ───── q125: gaps and islands — consecutive-day runs per priority ────
    // The canonical islands idiom (sessionize a calendar): distinct active
    // days minus their per-partition row_number is constant within each
    // consecutive run, so ONE window + ONE hash agg finds every island —
    // no self-join, no iteration. At 100 TB the distinct compresses the
    // corpus to (priority, day) first (map-side combine), and the window
    // partitions by priority — bounded groups, never a global sort. Top-20
    // longest islands, total tiebreak for determinism.
    QueryDef.df(
      "q125_gaps_islands",
      """WITH d AS (SELECT DISTINCT o_orderpriority AS pri,
        |                  CAST(o_orderdate AS DATE) AS d FROM orders),
        |g AS (SELECT pri, d,
        |        d - CAST(row_number() OVER (PARTITION BY pri ORDER BY d) AS INT) AS anchor
        |      FROM d)
        |SELECT pri, min(d) AS start_day, max(d) AS end_day,
        |  CAST(count(*) AS BIGINT) AS len
        |FROM g GROUP BY pri, anchor
        |ORDER BY len DESC, pri, start_day LIMIT 20""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "orders")
        .select(col("o_orderpriority").as("pri"),
          to_date(col("o_orderdate")).as("d")).distinct()
      val w = Window.partitionBy("pri").orderBy("d")
      d.withColumn("anchor", date_sub(col("d"), row_number().over(w)))
        .groupBy("pri", "anchor")
        .agg(min("d").as("start_day"), max("d").as("end_day"),
          count(lit(1)).as("len"))
        .select("pri", "start_day", "end_day", "len")
        .orderBy(col("len").desc, col("pri"), col("start_day")).limit(20)
    },

    // ───── q129: multi-source BFS — k-hop distance census ────────────────
    // The third iterative-graph shape (after q117 power iteration and q121
    // triangles): shortest hop-distance from a seed set through the
    // supplier↔customer trade graph, 4 unrolled rounds of relax-and-min —
    // the reachability/contamination-radius workload (which documents sit
    // within k links of a flagged source). Each round is ONE equi-join of
    // the small frontier table against the persisted edge table plus ONE
    // hash agg (min distance is idempotent, so re-relaxation is harmless
    // and no visited-set state is needed); distances are integers —
    // bit-equal across engines. The oracle walks the same graph with a
    // recursive CTE (UNION dedup bounds it at nodes × levels). At 100 TB:
    // frontier ≪ edges, so every iteration broadcasts the frontier; edges
    // build once and would be bucketed by src on a cluster (same posture
    // as q117, which shares the cached-edge pattern).
    QueryDef.df(
      "q129_bfs_hops",
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (SELECT 's'||s AS src, 'c'||c AS dst FROM pairs
        |          UNION ALL SELECT 'c'||c, 's'||s FROM pairs),
        |walk(node, d) AS (
        |  SELECT 's' || s_suppkey, 0 FROM supplier WHERE s_suppkey < 10
        |  UNION
        |  SELECT e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE w.d < 4),
        |best AS (SELECT node, min(d) AS d FROM walk GROUP BY node)
        |SELECT d, CAST(count(*) AS BIGINT) AS n
        |FROM best GROUP BY d ORDER BY d""".stripMargin) { (s, dir) =>
      // fanned scans (Tables.fan): the one-row-group inputs otherwise run
      // the join + partial distinct of the edge build as a single task
      val pairs = graft.Tables.fan(s, dir, "lineitem",
          col("l_orderkey"), col("l_suppkey"))
        .join(graft.Tables.fan(s, dir, "orders",
          col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck")).distinct()
      // node ids are internal-only here (the census never names a node),
      // so the engine walks LONG keys — suppliers odd (2s+1), customers
      // even (2c), disjoint by parity — while the oracle keeps its string
      // prefixes: the graphs are isomorphic and only distances surface
      val sN = col("sk").cast("long") * 2 + 1
      val cN = col("ck").cast("long") * 2
      val edges = pairs.select(sN.as("src"), cN.as("dst"))
        .unionAll(pairs.select(cN.as("src"), sN.as("dst")))
      val seeds = t(s, dir, "supplier").filter(col("s_suppkey") < 10)
        .select((col("s_suppkey").cast("long") * 2 + 1).as("node"))
      bfsCensus(s, edges, seeds, hops = 4)
    },

    // ───── q130: chi-square independence test (drift detection) ──────────
    // Pearson's χ² between return flag and line status — the
    // distribution-shift / feature-independence test a data-profiling
    // pipeline runs per ingest batch. Determinism discipline (q119's
    // pattern, but for a NONLINEAR statistic): an unordered SUM of
    // per-cell doubles would be float-order-dependent across engines, so
    // the fixed 3×2 domain is pivoted into ONE row by conditional
    // aggregation (exact integer counts, one scan, map-side partials) and
    // χ² is ONE fixed left-associated expression over the six named
    // cells — both engines evaluate the identical AST, bit-equal by
    // construction. sqrt is IEEE-correctly-rounded in both, so Cramér's V
    // is too. 100 TB: a single conditional-aggregation pass, O(1) result.
    {
      val flags = Seq("A", "N", "R"); val stats = Seq("F", "O")
      val cellDefs = (for (f <- flags; st <- stats) yield
        s"CAST(count(*) FILTER (WHERE l_returnflag = '$f' AND l_linestatus = '$st') AS DOUBLE) AS o_${f}_$st")
        .mkString(",\n        ")
      val margins = (flags.map(f =>
        s"(${stats.map(st => s"o_${f}_$st").mkString(" + ")}) AS r_$f") ++
        stats.map(st =>
          s"(${flags.map(f => s"o_${f}_$st").mkString(" + ")}) AS c_$st"))
        .mkString(",\n        ")
      val chi = (for (f <- flags; st <- stats) yield
        s"(o_${f}_$st - r_$f * c_$st / n) * (o_${f}_$st - r_$f * c_$st / n) / (r_$f * c_$st / n)")
        .mkString("(", "\n          + ", ")")
      QueryDef.shared(
        "q130_chi_square",
        s"""WITH c AS (SELECT
        $cellDefs,
        CAST(count(*) AS DOUBLE) AS n FROM lineitem),
        |m AS (SELECT *,
        $margins
        |  FROM c)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST($chi AS DOUBLE) AS chi2,
        |  CAST(sqrt($chi / n) AS DOUBLE) AS cramers_v
        |FROM m""".stripMargin)
    },

    // ───── q131: strictly-ordered conversion funnel ──────────────────────
    // Product-analytics funnel with STRICT event ordering (view, then a
    // click AFTER that view, then a purchase AFTER that click) — the
    // sequential-pattern shape engines without MATCH_RECOGNIZE express as
    // cascaded first-occurrence joins: each step is one per-user min-agg
    // plus one equi-join against the previous step's table, so the work is
    // O(events) with per-user hash groups — no self-join of the raw event
    // stream, no window over the corpus. Timestamps compare exactly
    // (microsecond integers). Shared SQL: both engines run the statement.
    QueryDef.shared(
      "q131_ordered_funnel",
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |      JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
        |      WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |      JOIN c ON c.user_id = e.user_id AND e.ts > c.t2
        |      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT step, users FROM (
        |  SELECT 'step1_view' AS step, CAST(count(*) AS BIGINT) AS users FROM v
        |  UNION ALL
        |  SELECT 'step2_click', CAST(count(*) AS BIGINT) FROM c
        |  UNION ALL
        |  SELECT 'step3_purchase', CAST(count(*) AS BIGINT) FROM p) f
        |ORDER BY step""".stripMargin),

    // ───── q132: sliding-window distinct count ────────────────────────────
    // Trailing-7-day distinct purchasers per active day — the windowed-
    // cardinality profile every engagement dashboard needs. The SCALABLE
    // formulation is not a range join (day BETWEEN eday-6 AND eday turns
    // into a nested loop): each (purchase-day, user) EXPLODES into its 7
    // target days via sequence() — a generator inside codegen, fan-out
    // exactly 7 — and the count lands as one distinct-agg over equi-keys.
    // The oracle states the same relation with the BETWEEN join (fine at
    // oracle scale), so the rewrite's equivalence is hash-verified.
    QueryDef.df(
      "q132_sliding_distinct",
      """WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |x AS (SELECT DISTINCT CAST(ts AS DATE) AS eday, user_id FROM events
        |      WHERE event_type = 'purchase')
        |SELECT d.day, CAST(count(DISTINCT x.user_id) AS BIGINT) AS u7
        |FROM days d JOIN x ON x.eday BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day ORDER BY d.day""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val days = ev.select(to_date(col("ts")).as("day")).distinct()
      val x = ev.filter(col("event_type") === "purchase")
        .select(to_date(col("ts")).as("eday"), col("user_id")).distinct()
      x.select(explode(expr("sequence(eday, date_add(eday, 6))")).as("day"),
          col("user_id"))
        .join(days, "day") // keep only days that actually occur
        .groupBy("day").agg(countDistinct(col("user_id")).as("u7"))
        .orderBy("day")
    },

    // ───── q133: weekly cohort retention ─────────────────────────────────
    // Cohort = signup week; retention(cohort, k) = distinct cohort users
    // with ANY activity k weeks later — the engagement matrix. One min-agg
    // (first signup), one distinct projection (user-week activity), one
    // equi-join on user, one hash agg on (cohort, k): O(events) with no
    // window, no self-join of the raw stream; the week index is exact
    // integer floor-division of a day difference.
    QueryDef.df(
      "q133_cohort_retention",
      """WITH s AS (SELECT user_id, min(CAST(ts AS DATE)) AS sd FROM events
        |           WHERE event_type = 'signup' GROUP BY user_id),
        |sw AS (SELECT user_id,
        |         CAST((sd - DATE '2024-01-01') // 7 AS INT) AS cw FROM s),
        |a AS (SELECT DISTINCT user_id,
        |        CAST((CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS INT) AS aw
        |      FROM events),
        |j AS (SELECT sw.cw, a.aw - sw.cw AS k, a.user_id
        |      FROM sw JOIN a ON a.user_id = sw.user_id WHERE a.aw >= sw.cw)
        |SELECT cw, k, CAST(count(DISTINCT user_id) AS BIGINT) AS users
        |FROM j GROUP BY cw, k ORDER BY cw, k""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val anchor = lit("2024-01-01")
      val sw = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(to_date(col("ts"))).as("sd"))
        .select(col("user_id"), floor(datediff(col("sd"), anchor) / 7)
          .cast("int").as("cw"))
      val a = ev.select(col("user_id"),
        floor(datediff(to_date(col("ts")), anchor) / 7).cast("int").as("aw"))
        .distinct()
      sw.join(a, "user_id").filter(col("aw") >= col("cw"))
        .select(col("cw"), (col("aw") - col("cw")).as("k"), col("user_id"))
        .groupBy("cw", "k").agg(countDistinct(col("user_id")).as("users"))
        .orderBy("cw", "k")
    },

    // ───── q134: data-quality expectation suite ──────────────────────────
    // Constraint validation as a query (the Deequ/expectations shape a
    // production ingest gate runs per batch): completeness (nulls),
    // domain-range compliance, duplicate keys, and referential integrity,
    // each reported as (check, violations). One conditional-aggregation
    // scan covers the row-local checks (map-side partials, zero extra
    // passes); uniqueness is one hash agg; the FK check is one ANTI join —
    // every check is O(rows) with no window and no self-join, so the suite
    // scales like the scan it rides.
    QueryDef.df(
      "q134_quality_checks",
      """SELECT check_name, violations FROM (
        |  SELECT 'null_orderkey' AS check_name,
        |    CAST(count(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT) AS violations
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'qty_range', CAST(count(*) FILTER (
        |    WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'discount_range', CAST(count(*) FILTER (
        |    WHERE l_discount < 0 OR l_discount > 0.1) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'dup_order_line', CAST(count(*) AS BIGINT) FROM (
        |    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
        |    FROM lineitem GROUP BY 1, 2, 3, 4 HAVING count(*) > 1) dups
        |  UNION ALL
        |  SELECT 'orphan_lineitem', CAST(count(*) AS BIGINT) FROM lineitem
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |) checks ORDER BY check_name""".stripMargin) { (s, dir) =>
      qualityChecks(t(s, dir, "lineitem"), t(s, dir, "orders"))
    },

    // ───── q135: aggregate breadth — argmax/argmin, bool aggs, INTERSECT ─
    // The remaining analyst-essential aggregates in one oracled pass:
    // max_by/min_by (argmax — "which order had the extreme price", no
    // self-join back), bool_and/bool_or (predicate rollups), and a
    // per-group INTERSECT cardinality. Determinism: the by-struct embeds
    // the returned key, so tied extremes still return one value; booleans
    // surface as 0/1 ints (cross-engine bool rendering differs). All hash
    // aggs + one intersect (itself a hash agg pair) — scan-bound at any
    // scale.
    QueryDef.df(
      "q135_agg_breadth",
      """WITH hi AS (SELECT l_returnflag AS flag, l_orderkey,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey DESC, l_linenumber DESC) AS r
        |  FROM lineitem),
        |lo AS (SELECT l_returnflag AS flag, l_orderkey,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC) AS r
        |  FROM lineitem),
        |b AS (SELECT l_returnflag AS flag,
        |    CAST(bool_and(l_shipdate < TIMESTAMP '1999-01-01') AS INT) AS all_pre99,
        |    CAST(bool_or(l_quantity > 45) AS INT) AS any_big
        |  FROM lineitem GROUP BY 1),
        |sh AS (SELECT flag, CAST(count(*) AS BIGINT) AS shared_months FROM (
        |    SELECT l_returnflag AS flag, month(l_shipdate) AS m
        |    FROM lineitem WHERE l_linestatus = 'F'
        |    INTERSECT
        |    SELECT l_returnflag, month(l_shipdate)
        |    FROM lineitem WHERE l_linestatus = 'O') i GROUP BY 1)
        |SELECT b.flag, hi.l_orderkey AS hi_key, lo.l_orderkey AS lo_key,
        |  b.all_pre99, b.any_big, COALESCE(sh.shared_months, 0) AS shared_months
        |FROM b JOIN hi ON hi.flag = b.flag AND hi.r = 1
        |  JOIN lo ON lo.flag = b.flag AND lo.r = 1
        |  LEFT JOIN sh ON sh.flag = b.flag
        |ORDER BY b.flag""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val key = struct(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      val aggs = li.groupBy(col("l_returnflag").as("flag")).agg(
        max_by(col("l_orderkey"), key).as("hi_key"),
        min_by(col("l_orderkey"), key).as("lo_key"),
        bool_and(col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
          .cast("int").as("all_pre99"),
        bool_or(col("l_quantity") > 45).cast("int").as("any_big"))
      def months(status: String) = li.filter(col("l_linestatus") === status)
        .select(col("l_returnflag").as("flag"), month(col("l_shipdate")).as("m"))
      val shared = months("F").intersect(months("O"))
        .groupBy("flag").agg(count(lit(1)).as("shared_months"))
      aggs.join(shared, Seq("flag"), "left")
        .select(col("flag"), col("hi_key"), col("lo_key"),
          col("all_pre99"), col("any_big"),
          coalesce(col("shared_months"), lit(0L)).as("shared_months"))
        .orderBy("flag")
    },

    // ───── q126: FILTER-clause + multi-distinct aggregation ──────────────
    // Conditional aggregation the ANSI way (FILTER clause) combined with
    // two COUNT(DISTINCT)s in one pass. Spark plans multiple distincts via
    // Expand — input rows multiply by the number of distinct groups BUT
    // each (flag, key) pair dedupes map-side before the shuffle, so the
    // exchange carries distinct pairs, not raw rows; the conditional
    // distinct rides the same Expand for free as a CASE key. Shared SQL.
    QueryDef.shared(
      "q126_filtered_agg",
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT CASE WHEN l_quantity > 25 THEN l_partkey END) AS BIGINT) AS hi_qty_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supps,
        |  CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS discounted,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ───── q136: linear-regression / correlation aggregates ──────────────
    // Least-squares slope/intercept and Pearson r per group — drift and
    // feature-correlation profiling (quantity vs discount). Computed from
    // DECIMAL-exact moment sums (one scan, map-side combinable — the
    // single-pass shape that scales), cast to DOUBLE only at the end so
    // both engines do the identical IEEE arithmetic on identical inputs.
    // TWO cross-engine float traps found at the gate and designed around:
    // (a) symmetric (19,6)x(19,6) products need precision 39 and Spark
    // silently truncates scale under allowPrecisionLoss — the asymmetric
    // (19,6)x(18,6) product is DECIMAL(38,12) exactly, and the 19-width
    // side forces DuckDB onto int128 arithmetic; (b) a moment whose exact
    // decimal exceeds ~15 significant digits (sum of price^2) rounds
    // DIFFERENTLY in each engine's decimal->double cast (1-ulp r drift) —
    // qty/discount moments stay within double's exact range at every SF.
    // The builtin corr() is float-summation-order-dependent and can't be
    // hash-compared across engines, so each engine CHECKS its own builtin
    // against the exact moments (within 1e-9), surfacing agreement as a
    // flag: the builtin surface is exercised, the oracle stays exact.
    QueryDef.shared(
      "q136_regression_aggs",
      """WITH m AS (SELECT l_returnflag AS flag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_discount AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
        |    corr(l_discount, l_quantity) AS builtin_r
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT flag,
        |  CAST(n AS BIGINT) AS n,
        |  CAST((n * sxy - sx * sy) / (n * sxx - sx * sx) AS DOUBLE) AS slope,
        |  CAST((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS DOUBLE) AS intercept,
        |  CAST((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS DOUBLE) AS r,
        |  CAST(CASE WHEN abs(builtin_r - (n * sxy - sx * sy) /
        |      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))) < 1e-9
        |    THEN 1 ELSE 0 END AS INT) AS builtin_corr_agrees
        |FROM m ORDER BY flag""".stripMargin),

    // ───── q137: PIVOT — long-to-wide reshaping ──────────────────────────
    // Monthly quantity matrix, one column per return flag: the reshape
    // every report/feature-matrix pipeline does. Spark's RelationalGroupedDataset
    // .pivot with EXPLICIT values compiles to one hash aggregate of
    // conditional sums — no second pass to discover the pivot domain, no
    // extra shuffle vs a plain groupBy (the implicit-values overload adds a
    // distinct-scan job; never use it at scale). Oracle states the same
    // conditional aggregation directly.
    QueryDef.df(
      "q137_pivot_matrix",
      """SELECT month(l_shipdate) AS m,
        |  CAST(sum(CASE WHEN l_returnflag = 'A'
        |    THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS qty_a,
        |  CAST(sum(CASE WHEN l_returnflag = 'N'
        |    THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS qty_n,
        |  CAST(sum(CASE WHEN l_returnflag = 'R'
        |    THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS qty_r
        |FROM lineitem GROUP BY 1 ORDER BY m""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(month(col("l_shipdate")).as("m"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 6))).cast("double"))
        .select(col("m"), col("A").as("qty_a"), col("N").as("qty_n"),
          col("R").as("qty_r"))
        .orderBy("m")
    },

    // ───── q138: time-series gap filling (calendar densification) ────────
    // Orders-per-segment-per-month with EXPLICIT zeros for silent months —
    // the densification every windowed trend model needs (a groupBy alone
    // silently drops empty buckets). The calendar derives from the data's
    // own [min, max] month span via sequence()+explode — a one-row
    // aggregate broadcast into a generator, O(months) rows — then
    // cross-joins the segment dimension (≤ 5 rows, broadcast) and
    // LEFT-joins the real monthly counts. At 100 TB the fact-side
    // aggregation is the only big shuffle; the densification itself is
    // dimension-sized.
    QueryDef.df(
      "q138_gap_fill",
      """WITH b AS (SELECT date_trunc('month', min(o_orderdate)) AS lo,
        |    date_trunc('month', max(o_orderdate)) AS hi FROM orders),
        |cal AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS m FROM b),
        |seg AS (SELECT DISTINCT c_mktsegment AS segment FROM customer),
        |cnt AS (SELECT c_mktsegment AS segment,
        |    date_trunc('month', o_orderdate) AS m, count(*) AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2)
        |SELECT s.segment, CAST(c.m AS DATE) AS month,
        |  CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_orders
        |FROM seg s CROSS JOIN cal c
        |LEFT JOIN cnt ON cnt.segment = s.segment AND cnt.m = c.m
        |ORDER BY s.segment, month""".stripMargin) { (s, dir) =>
      val orders = t(s, dir, "orders")
      val cal = orders
        .agg(date_trunc("month", min(col("o_orderdate"))).as("lo"),
          date_trunc("month", max(col("o_orderdate"))).as("hi"))
        .select(explode(expr("sequence(lo, hi, interval 1 month)")).as("m"))
      val seg = t(s, dir, "customer")
        .select(col("c_mktsegment").as("segment")).distinct()
      val cnt = orders
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"),
          date_trunc("month", col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"))
      seg.crossJoin(cal)
        .join(cnt, Seq("segment", "m"), "left")
        .select(col("segment"), col("m").cast("date").as("month"),
          coalesce(col("n"), lit(0L)).as("n_orders"))
        .orderBy("segment", "month")
    },

    // ───── q139: distribution windows — ntile / percent_rank / cume_dist ─
    // Decile assignment and empirical CDF per segment, the quantile-bucket
    // features a ranking model trains on. ntile depends on ROW order, not
    // just peer groups, so the window ORDER BY carries the key tiebreak —
    // without it two engines legally disagree. percent_rank/cume_dist are
    // exact small-integer ratios ((rank-1)/(n-1), peers/n) — identical
    // doubles on both engines. The post-window sample filter keeps the
    // output bounded while the windows still compute over the full
    // partition (filter-above-window, not below). Shared SQL.
    QueryDef.shared(
      "q139_distribution_windows",
      """SELECT * FROM (
        |  SELECT c_mktsegment AS seg, o_orderkey,
        |    CAST(ntile(10) OVER w AS INT) AS decile,
        |    CAST(percent_rank() OVER w AS DOUBLE) AS pr,
        |    CAST(cume_dist() OVER w AS DOUBLE) AS cd
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WINDOW w AS (PARTITION BY c_mktsegment
        |               ORDER BY o_totalprice, o_orderkey)) x
        |WHERE o_orderkey % 20 = 0
        |ORDER BY seg, o_orderkey""".stripMargin),

    // ───── q140: ordered string aggregation (LISTAGG) ────────────────────
    // Deterministic ordered concatenation per group — label lists, path
    // rollups, prompt assembly. The DF side builds it from
    // collect_list(struct) + array_sort + transform + array_join: the
    // collect is per-group bounded (suppliers per nation), the sort is
    // in-memory per row, and the whole thing is one hash aggregate — the
    // struct embeds the (acctbal, name) sort key so ties still produce ONE
    // canonical string on every engine and partitioning. Oracle: DuckDB's
    // native string_agg ... ORDER BY.
    QueryDef.df(
      "q140_listagg",
      """SELECT s_nationkey AS nation,
        |  CAST(count(*) AS BIGINT) AS n_suppliers,
        |  string_agg(s_name, ';' ORDER BY s_acctbal, s_name) AS names
        |FROM supplier GROUP BY 1 ORDER BY nation""".stripMargin) { (s, dir) =>
      t(s, dir, "supplier")
        .groupBy(col("s_nationkey").cast("int").as("nation"))
        .agg(count(lit(1)).as("n_suppliers"),
          array_join(expr(
            "transform(array_sort(collect_list(struct(s_acctbal, s_name))), x -> x.s_name)"),
            ";").as("names"))
        .orderBy("nation")
    },

    // ───── q141: relational division (FOR-ALL semantics) ─────────────────
    // "Customers who ordered at EVERY priority level" — the universal
    // quantifier every segmentation/compliance query needs ("users active
    // in all regions", "docs passing every filter stage"). The textbook
    // double-NOT-EXISTS decorrelates into two nested anti-joins that
    // re-scan orders; division-by-counting is the scale shape: ONE
    // distinct-aggregate per customer, one global distinct (a broadcast
    // scalar), one equality — all hash operators, orders scanned once per
    // distinct, never correlated. Counting is exact because count(DISTINCT)
    // compares the customer's coverage to the full domain's.
    QueryDef.df(
      "q141_relational_division",
      """WITH pr AS (SELECT count(DISTINCT o_orderpriority) AS np FROM orders),
        |per AS (SELECT o_custkey, count(DISTINCT o_orderpriority) AS c
        |        FROM orders GROUP BY 1)
        |SELECT c_nationkey AS nation,
        |  CAST(count(*) AS BIGINT) AS n_full_coverage
        |FROM customer JOIN per ON c_custkey = o_custkey, pr
        |WHERE per.c = pr.np
        |GROUP BY 1 ORDER BY nation""".stripMargin) { (s, dir) =>
      val orders = t(s, dir, "orders")
      val np = orders.agg(countDistinct(col("o_orderpriority")).as("np"))
      val per = orders.groupBy("o_custkey")
        .agg(countDistinct(col("o_orderpriority")).as("c"))
      val div = per.crossJoin(broadcast(np)).where(col("c") === col("np"))
      t(s, dir, "customer")
        .join(div, col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_nationkey").cast("int").as("nation"))
        .agg(count(lit(1)).as("n_full_coverage"))
        .orderBy("nation")
    },

    // ───── q142: running DISTINCT count (cumulative unique users) ────────
    // Distinct-users-to-date per event type per day — the growth-curve /
    // saturation metric every product and corpus dashboard draws. Spark
    // has NO windowed DISTINCT aggregate; the scalable identity is
    // first-occurrence attribution: a user's FIRST event (row_number = 1
    // over (type, user) by time) adds them to exactly one day, daily
    // new-user counts hash-aggregate, and the cumulative sum runs over the
    // tiny (type, day) table — never a per-row distinct state. The
    // row_number compiles map-side (WindowGroupLimit shape); the only
    // full-row shuffle is the (type, user) repartition. The oracle runs
    // the SAME portable ANSI (DuckDB's native windowed DISTINCT would be
    // an independent path, but first-occurrence is the form both engines
    // plan well — the identity itself is what this query certifies).
    QueryDef.df(
      "q142_running_distinct",
      """WITH f AS (
        |  SELECT event_type, user_id, CAST(ts AS DATE) AS day,
        |    row_number() OVER (PARTITION BY event_type, user_id ORDER BY ts) AS rn
        |  FROM events),
        |d AS (SELECT event_type, day,
        |        CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS new_users
        |      FROM f GROUP BY 1, 2)
        |SELECT event_type, day,
        |  CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT)
        |    AS cum_distinct_users
        |FROM d ORDER BY event_type, day""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val firsts = t(s, dir, "events")
        .select(col("event_type"), col("user_id"), col("ts").cast("date").as("day"),
          row_number().over(Window.partitionBy("event_type", "user_id")
            .orderBy("ts")).as("rn"))
      val daily = firsts.groupBy("event_type", "day")
        .agg(sum(when(col("rn") === 1, 1L).otherwise(0L)).as("new_users"))
      daily.select(col("event_type"), col("day"),
          sum(col("new_users")).over(Window.partitionBy("event_type")
            .orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("cum_distinct_users"))
        .orderBy("event_type", "day")
    },

    // ───── q143: last-observation-carried-forward (LOCF) attribution ─────
    // "Most recent purchase amount as of each event" — the imputation /
    // attribution shape feature pipelines run constantly (carry the last
    // known label, price, or sensor reading forward onto every row).
    // last_value(... IGNORE NULLS) over a running frame is the whole
    // operator: one per-user sort inside the window, no self-join, no
    // as-of join against the purchases subset (which would re-shuffle
    // events twice). Aggregated by type with max/count only — both
    // order-independent, so doubles cross engines bit-exactly (no float
    // sums). ts is unique per user in this corpus; the event_id tiebreak
    // keeps the frame total-ordered anyway (two engines may otherwise
    // legally disagree inside a tie).
    QueryDef.df(
      "q143_locf_attribution",
      """WITH e AS (
        |  SELECT event_type,
        |    last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
        |  FROM events)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(last_purchase) AS BIGINT) AS n_attributed,
        |  CAST(max(last_purchase) AS DOUBLE) AS max_attributed
        |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_type"),
          last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true)
            .over(w).as("last_purchase"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          count(col("last_purchase")).as("n_attributed"),
          max(col("last_purchase")).as("max_attributed"))
        .orderBy("event_type")
    },

    // ───── q146: CDC changelog APPLY as a relational op ──────────────────
    // The batch materialization of a change stream without any catalog:
    // per key, the LAST op wins ('error' events are deletes, everything
    // else upserts the event's value), and only keys whose final op is an
    // upsert survive. One shuffle by key; the rk=1 window compiles to a
    // map-side WindowGroupLimit (top-1 per key before the exchange), so
    // at 100 TB the shuffle carries ~one row per key per map task, not
    // the changelog. Shared SQL — the oracle runs the identical
    // statement; final_value passes through untouched (no double math).
    QueryDef.shared(
      "q146_cdc_apply",
      """WITH ops AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op, value
        |  FROM events),
        |last AS (
        |  SELECT user_id, op, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM ops)
        |SELECT user_id, value AS final_value
        |FROM last WHERE rk = 1 AND op = 'U' ORDER BY user_id""".stripMargin),

    // ───── q158: consecutive event-pattern matching (MATCH_RECOGNIZE) ────
    // Pattern detection over ordered streams — the per-user count of
    // STRICTLY-CONSECUTIVE view→click→purchase runs (q131's funnel asks
    // "did each step EVER happen after the previous"; this asks for the
    // adjacent occurrence, the MATCH_RECOGNIZE PATTERN (A B C) semantics
    // engines ship as a dedicated operator). Compiled to two lead()s over
    // one per-user window — ONE shuffle on user_id, rows are (type, ts,
    // id) triples, match spans summed as exact microsecond integers.
    QueryDef.df(
      "q158_event_patterns",
      """WITH s AS (
        |  SELECT user_id, event_type, ts,
        |    lead(event_type, 1) OVER w AS t1,
        |    lead(event_type, 2) OVER w AS t2,
        |    lead(ts, 2) OVER w AS ts2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_matches,
        |  CAST(sum(epoch_us(ts2) - epoch_us(ts)) AS BIGINT) AS total_span_us
        |FROM s
        |WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("t1", lead(col("event_type"), 1).over(w))
        .withColumn("t2", lead(col("event_type"), 2).over(w))
        .withColumn("ts2", lead(col("ts"), 2).over(w))
        .filter(col("event_type") === "view" && col("t1") === "click" &&
          col("t2") === "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_matches"),
          sum(unix_micros(col("ts2")) - unix_micros(col("ts"))).as("total_span_us"))
        .orderBy("user_id")
    },

    // ───── q161: cross-engine table checksum (migration validation) ──────
    // THE tool for this library's own premise — a user switching engines
    // needs to prove "same table, same rows" without sorting or moving
    // either copy: an ORDER-INDEPENDENT group-wise fingerprint. Row hash =
    // 60 bits of md5 over a canonical rendering of EVERY column type (r11;
    // r10 excluded doubles/timestamps as engine-specific):
    //   - ints/strings render identically everywhere;
    //   - DOUBLE → the IEEE-754 bit pattern via C-style hex-float: Java's
    //     %a and DuckDB's printf('%a') print the same minimal mantissa,
    //     differing only in 'p+'→'p', a kept '.0', and nan/inf tokens —
    //     all normalized below. −0.0 stays distinct from 0.0 (a real
    //     migration difference); every NaN payload canonicalizes to 'nan'.
    //     Pinned against an independent bits-level model in ChecksumSpec.
    //   - TIMESTAMP → epoch microseconds (unix_micros ≡ epoch_us).
    // XOR is the combiner (commutative, associative, self-inverse), so the
    // checksum is partition-order-free and computes as one map pass + one
    // hash-agg — no shuffle carries more than 5 group rows per map task,
    // no sort at any scale.
    QueryDef.df(
      "q161_table_checksum",
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(bit_xor(CAST(concat('0x', substr(md5(
        |    o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|' ||
        |    (CASE WHEN isnan(o_totalprice) THEN 'nan'
        |          WHEN o_totalprice = 'infinity'::DOUBLE THEN 'inf'
        |          WHEN o_totalprice = '-infinity'::DOUBLE THEN '-inf'
        |          ELSE replace(printf('%a', o_totalprice), 'p+', 'p') END) || '|' ||
        |    epoch_us(o_orderdate)), 1, 15)) AS BIGINT)) AS BIGINT) AS checksum
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      // concat (not concat_ws): a NULL column must NULL the row hash —
      // matching the oracle's `||`, which propagates NULL — so both
      // engines' bit_xor then skip the same rows
      val rowHash = conv(substring(md5(concat(
          col("o_orderkey").cast("string"), lit("|"),
          col("o_custkey").cast("string"), lit("|"),
          col("o_orderstatus"), lit("|"),
          canonicalDoubleHex(col("o_totalprice")), lit("|"),
          // o_orderdate reads as TIMESTAMP_NTZ; the UTC session makes the
          // cast a pure reinterpretation, micros ≡ DuckDB's epoch_us
          unix_micros(col("o_orderdate").cast("timestamp")).cast("string"))), 1, 15), 16, 10)
        .cast("long")
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), bit_xor(rowHash).as("checksum"))
        .orderBy("o_orderpriority")
    },

    // ───── q163: CSV source/sink roundtrip (format fidelity) ─────────────
    // The interchange path every lake still has at its edges: write a
    // slice out as HEADERED CSV, read it back through the CSV source with
    // an explicit schema (never inference — at 100 TB schema inference is
    // a full extra scan), and prove the roundtrip is VALUE-EXACT by
    // aggregating against the parquet ground truth in DuckDB. Doubles
    // survive because Spark writes the shortest round-trippable
    // representation; the DECIMAL(18,6) sum discipline makes the compare
    // order-free. Splittable at scale: plain (uncompressed) CSV reads
    // split-parallel like any text source.
    QueryDef.df(
      "q163_csv_roundtrip",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 3 = 0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val tmp = scratchDir("q163_csv")
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.mode("overwrite").option("header", "true").csv(tmp)
      s.read
        .schema("o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING")
        .option("header", "true").csv(tmp)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy("o_orderpriority")
    },

    // ───── q164: JSON-lines source/sink roundtrip ─────────────────────────
    // Same fidelity proof for the other edge format (event feeds, API
    // dumps): newline-delimited JSON out, explicit-schema JSON source
    // back, aggregate hash-matched against parquet ground truth. The
    // nested struct leg matters: the writer emits a real object, the
    // reader projects a field out of it — the path an events-with-props
    // pipeline exercises.
    QueryDef.df(
      "q164_jsonl_roundtrip",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS user_sum,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events WHERE event_id % 2 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val tmp = scratchDir("q164_jsonl")
      t(s, dir, "events")
        .filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("event_type"),
          struct(col("user_id"), col("value")).as("payload"))
        .write.mode("overwrite").json(tmp)
      s.read
        .schema("event_id BIGINT, event_type STRING, payload STRUCT<user_id: BIGINT, value: DOUBLE>")
        .json(tmp)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("payload.user_id")).as("user_sum"),
          sum(col("payload.value").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy("event_type")
    },

    // ───── q165: ORC source/sink roundtrip (the columnar alternate) ──────
    // Completes the format surface (parquet native + CSV + JSONL + ORC):
    // ORC is Spark-bundled and vectorized, and its TIMESTAMP leg is the
    // part worth proving — micros must survive the roundtrip exactly for
    // the month() bucketing to hash-match the parquet ground truth.
    QueryDef.df(
      "q165_orc_roundtrip",
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 5 = 0
        |GROUP BY 1 ORDER BY month""".stripMargin) { (s, dir) =>
      val tmp = scratchDir("q165_orc")
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy("month")
    },

    // ───── q173: referential-integrity audit (orphan foreign keys) ───────
    // The FK leg q134's rule checks don't cover: per relationship, how
    // many child rows point at a missing parent. Each leg is one LEFT
    // join + one agg — the parent side projects to DISTINCT keys first,
    // so the join input is O(parent keys), and nation broadcasts. Clean
    // data audits to zero orphans; the detection leg is pinned with
    // planted orphans in QualityChecksSpec-style tests via golden counts.
    QueryDef.df(
      "q173_fk_audit",
      """SELECT rel, CAST(n_child AS BIGINT) AS n_child,
        |  CAST(n_orphan AS BIGINT) AS n_orphan FROM (
        |  SELECT 'customer->nation' AS rel, count(*) AS n_child,
        |    count(*) FILTER (WHERE n.n_nationkey IS NULL) AS n_orphan
        |  FROM customer cu LEFT JOIN nation n ON cu.c_nationkey = n.n_nationkey
        |  UNION ALL
        |  SELECT 'lineitem->orders', count(*),
        |    count(*) FILTER (WHERE o.o_orderkey IS NULL)
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  UNION ALL
        |  SELECT 'orders->customer', count(*),
        |    count(*) FILTER (WHERE c.c_custkey IS NULL)
        |  FROM orders ord LEFT JOIN customer c ON ord.o_custkey = c.c_custkey) x
        |ORDER BY rel""".stripMargin) { (s, dir) =>
      def leg(rel: String, child: DataFrame, parent: DataFrame): DataFrame =
        child.join(parent, col("k") === col("pk"), "left")
          .agg(count(lit(1)).as("n_child"),
            sum(when(col("pk").isNull, 1L).otherwise(0L)).as("n_orphan"))
          .select(lit(rel).as("rel"), col("n_child"), col("n_orphan"))
      val a = leg("customer->nation",
        t(s, dir, "customer").select(col("c_nationkey").as("k")),
        t(s, dir, "nation").select(col("n_nationkey").as("pk")).distinct())
      val b = leg("lineitem->orders",
        t(s, dir, "lineitem").select(col("l_orderkey").as("k")),
        t(s, dir, "orders").select(col("o_orderkey").as("pk")).distinct())
      val c = leg("orders->customer",
        t(s, dir, "orders").select(col("o_custkey").as("k")),
        t(s, dir, "customer").select(col("c_custkey").as("pk")).distinct())
      a.union(b).union(c).orderBy("rel")
    },

    // ───── q174: SCD2 build (validity intervals from a change stream) ────
    // The warehouse staple: turn each user's event stream into
    // slowly-changing-dimension rows — one row per attribute CHANGE with
    // [valid_from, valid_to) and an open (NULL) end on the current state.
    // Change points come from lag() over the per-user order; valid_to is
    // the lead() of the change points — two windows over ONE shuffle on
    // user_id (same partitioning reused, no second exchange). The
    // event_id tiebreak keeps the interval chain total even under equal
    // timestamps.
    QueryDef.df(
      "q174_scd2_intervals",
      """WITH o AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER w AS prev
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (SELECT user_id, event_type, ts AS valid_from, event_id FROM o
        |      WHERE prev IS NULL OR prev <> event_type),
        |v AS (SELECT user_id, event_type, valid_from,
        |        lead(valid_from) OVER (PARTITION BY user_id
        |          ORDER BY valid_from, event_id) AS valid_to
        |      FROM c)
        |SELECT user_id, event_type, valid_from, valid_to
        |FROM v ORDER BY user_id, valid_from""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val w2 = Window.partitionBy("user_id").orderBy(col("valid_from"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("valid_from", col("ts"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
        .select(col("user_id"), col("event_type"),
          col("valid_from").cast("timestamp_ntz").as("valid_from"),
          col("valid_to").cast("timestamp_ntz").as("valid_to"))
        .orderBy("user_id", "valid_from")
    },

    // ───── q177: data-freshness profile (pipeline ops monitoring) ────────
    // The operational query every ingest dashboard runs: per event type,
    // volume, latest arrival, staleness vs the corpus high-water mark
    // (exact microseconds — timestamps never touch floats), and volume
    // inside the trailing day. One scalar subquery (the high-water mark)
    // + one hash-agg on event_type.
    QueryDef.df(
      "q177_data_freshness",
      """WITH mx AS (SELECT max(ts) AS tmax FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  max(ts) AS latest,
        |  CAST(epoch_us((SELECT tmax FROM mx)) - epoch_us(max(ts)) AS BIGINT) AS staleness_us,
        |  CAST(count(*) FILTER (WHERE ts >= (SELECT tmax FROM mx) - INTERVAL 1 DAY) AS BIGINT) AS n_last_day
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events").select(col("event_type"), col("ts"))
      val mx = ev.agg(max(col("ts")).as("tmax"))
      ev.crossJoin(broadcast(mx))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          max(col("ts")).cast("timestamp_ntz").as("latest"),
          (first(unix_micros(col("tmax"))) - unix_micros(max(col("ts"))))
            .as("staleness_us"),
          sum(when(col("ts") >= col("tmax") - expr("INTERVAL 1 DAY"), 1L)
            .otherwise(0L)).as("n_last_day"))
        .orderBy("event_type")
    },

    // ───── q178: template/boilerplate detection by prefix fingerprint ────
    // Docs sharing an 8-token PREFIX are template suspects (boilerplate
    // headers survive near-dup thresholds that full-text Jaccard sets) —
    // per source, how many docs sit in a shared-prefix block and how many
    // a keep-min-id dedup would drop. Only (fingerprint, ids) ever
    // shuffle; text never moves; the keeper choice is a hash-agg min.
    QueryDef.df(
      "q178_prefix_dedup",
      """WITH d AS (SELECT doc_id, source,
        |    md5(array_to_string(string_split(lower(text), ' ')[1:8], ' ')) AS h
        |  FROM documents),
        |k AS (SELECT h, count(*) AS n, min(doc_id) AS keeper FROM d GROUP BY h)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (WHERE k.n > 1) AS BIGINT) AS n_template_suspect,
        |  CAST(count(*) FILTER (WHERE k.n > 1 AND d.doc_id <> k.keeper) AS BIGINT) AS n_dropped
        |FROM d JOIN k USING (h) GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        md5(array_join(slice(split(lower(col("text")), " "), 1, 8), " ")).as("h"))
      val k = d.groupBy("h").agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
      d.join(k, "h")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_template_suspect"),
          sum(when(col("n") > 1 && col("doc_id") =!= col("keeper"), 1L).otherwise(0L))
            .as("n_dropped"))
        .orderBy("source")
    },

    // ───── q179: join-fanout profile (cardinality histogram) ─────────────
    // The profiling query a join planner sanity-check runs: how many
    // orders have 1, 2, … lineitems — the fan-out histogram that predicts
    // join blow-up. Two hash-aggs, output O(max fanout) rows.
    QueryDef.shared(
      "q179_fanout_profile",
      """WITH f AS (SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY 1)
        |SELECT n AS lines_per_order, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(n) AS BIGINT) AS n_lineitems
        |FROM f GROUP BY n ORDER BY n""".stripMargin),

    // ───── q180: malformed-input accounting (PERMISSIVE JSON ingest) ─────
    // Error-tolerant ingest is a first-class surface: write a JSONL file
    // with 7 DELIBERATELY-malformed lines interleaved among good rows,
    // read it back in PERMISSIVE mode with a declared _corrupt_record
    // column, and account for both populations exactly. The oracle states
    // the good-row aggregate from the parquet ground truth and the
    // planted bad count as a literal — a hash match proves the source
    // neither drops good rows nor silently swallows bad ones.
    QueryDef.df(
      "q180_corrupt_ingest",
      """SELECT CAST(count(*) AS BIGINT) AS n_good,
        |  CAST(7 AS BIGINT) AS n_bad,
        |  CAST(sum(o_orderkey) AS BIGINT) AS k_sum
        |FROM orders WHERE o_orderkey % 11 = 0
        |ORDER BY n_good""".stripMargin) { (s, dir) =>
      val tmp = scratchDir("q180_jsonl")
      val good = t(s, dir, "orders")
        .filter(col("o_orderkey") % 11 === 0)
        .select(to_json(struct(col("o_orderkey").as("k"),
          col("o_orderpriority").as("p"))).as("value"))
      val bad = s.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row("{not json"), org.apache.spark.sql.Row("[1,2"),
          org.apache.spark.sql.Row("{\"k\": }"), org.apache.spark.sql.Row("plain text"),
          org.apache.spark.sql.Row("{\"k\":1,"), org.apache.spark.sql.Row("}{"),
          org.apache.spark.sql.Row("\"")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.StringType))))
      good.union(bad).write.mode("overwrite").text(tmp)
      s.read
        .schema("k BIGINT, p STRING, _corrupt_record STRING")
        .json(tmp)
        .agg(sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_bad"),
          sum(when(col("_corrupt_record").isNull, col("k"))).as("k_sum"))
    },

    // ───── q181: month-over-month growth (reporting windows) ─────────────
    // The reporting staple q21 stops short of: monthly revenue plus the
    // MoM delta and growth percentage. Revenue is the exact decimal sum
    // surfaced as double; lag/subtract/divide/round are identical IEEE
    // ops in both engines. The window is over O(months) rows — the
    // corpus reduces first.
    QueryDef.df(
      "q181_mom_growth",
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT month, rev,
        |  CAST(rev - lag(rev) OVER (ORDER BY month) AS DOUBLE) AS delta,
        |  round(100.0 * (rev - lag(rev) OVER (ORDER BY month))
        |    / lag(rev) OVER (ORDER BY month), 4) AS pct
        |FROM m ORDER BY month""".stripMargin) { (s, dir) =>
      val m = t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("rev"))
      val w = Window.orderBy("month")
      m.withColumn("delta", col("rev") - lag(col("rev"), 1).over(w))
        .withColumn("pct",
          round(lit(100.0) * (col("rev") - lag(col("rev"), 1).over(w))
            / lag(col("rev"), 1).over(w), 4))
        .orderBy("month")
    },

    // ───── q182: behavioral dominance (per-user modal event type) ────────
    // Which event type DOMINATES each user's behavior, and how users
    // distribute over dominant types — the segmentation cut behavioral
    // cohorts start from. The per-user mode is a WindowGroupLimit argmax
    // (count desc, type tiebreak); output is O(types).
    QueryDef.df(
      "q182_dominant_type",
      """WITH c AS (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, n,
        |        row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rk
        |      FROM c)
        |SELECT event_type AS dominant_type, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(n) AS BIGINT) AS n_dominant_events
        |FROM r WHERE rk = 1 GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      c.withColumn("rk", row_number().over(
          Window.partitionBy("user_id").orderBy(col("n").desc, col("event_type"))))
        .filter(col("rk") === 1)
        .groupBy(col("event_type").as("dominant_type"))
        .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_dominant_events"))
        .orderBy("dominant_type")
    },

    // ───── q183: conversion-lag distribution (time-to-convert) ───────────
    // q131 counts who converts; this measures HOW LONG — hours from first
    // view to first subsequent purchase, bucketed into an hour histogram.
    // Lags are exact microsecond differences floored into hour buckets
    // (no quantile-semantics divergence between engines); two min-aggs
    // and one histogram agg, all keyed on user_id.
    QueryDef.df(
      "q183_conversion_lag",
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > v.t1 GROUP BY 1),
        |g AS (SELECT v.user_id,
        |        CAST(floor((epoch_us(p.t2) - epoch_us(v.t1)) / 3600000000.0) AS BIGINT) AS lag_hours
        |      FROM v JOIN p USING (user_id))
        |SELECT lag_hours, CAST(count(*) AS BIGINT) AS n_users
        |FROM g GROUP BY lag_hours ORDER BY lag_hours""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(v, "user_id").filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      v.join(p, "user_id")
        .select(floor((unix_micros(col("t2")) - unix_micros(col("t1")))
          / lit(3600000000.0)).cast("long").as("lag_hours"))
        .groupBy("lag_hours").agg(count(lit(1)).as("n_users"))
        .orderBy("lag_hours")
    },

    // ───── q184: day-of-week seasonality (date-part parity) ──────────────
    // Weekly seasonality of order volume and revenue — and a deliberate
    // date-part parity exercise: DuckDB's isodow (1=Mon..7=Sun) maps to
    // Spark's weekday()+1 (Spark's dayofweek() is 1=Sun and would be off
    // by one in both directions). One hash-agg, 7 output rows.
    QueryDef.df(
      "q184_dow_seasonality",
      """SELECT CAST(isodow(o_orderdate) AS INT) AS iso_dow,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1 ORDER BY iso_dow""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy((weekday(col("o_orderdate")) + 1).cast("int").as("iso_dow"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("revenue"))
        .orderBy("iso_dow")
    },

    // ───── q166: event-type transition matrix (Markov counts) ────────────
    // The behavioral profile feeding synthetic-trajectory generation and
    // anomaly baselines: per (state, next-state) transition counts over
    // each user's time-ordered stream. One lead() over the per-user
    // window (same single shuffle as q158), then a hash-agg to the
    // |types|² matrix — the corpus collapses to ≤ 25 rows.
    QueryDef.df(
      "q166_event_transitions",
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events)
        |SELECT event_type, nxt, CAST(count(*) AS BIGINT) AS n
        |FROM s WHERE nxt IS NOT NULL
        |GROUP BY event_type, nxt ORDER BY event_type, nxt""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("nxt", lead(col("event_type"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy("event_type", "nxt")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "nxt")
    })

  /** q121's plan, exposed for the plan audit: backbone edges and oriented
    * edges are PERSISTED (the caller must unpersist both). e feeds the
    * degree table, the orientation, and the edge count; o feeds all three
    * legs of the wedge join — the self-join behind them is the expensive
    * part. Each joined row is one distinct shared part (ps is distinct),
    * so count(*) is the co-supply support; the top-20k backbone cut is a
    * TakeOrderedAndProject. Returns (result, e, o).
    */
  /** q134's expectation suite, exposed for the planted-defect spec (the
    * testdata is clean — every violation count is 0 there — so the spec
    * proves each check DETECTS by feeding frames with known defects).
    */
  private[graft] def qualityChecks(li: DataFrame, orders: DataFrame): DataFrame = {
    val rowLocal = li.agg(
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("null_orderkey"),
      sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
        .otherwise(0L)).as("qty_range"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
        .otherwise(0L)).as("discount_range"))
    val dups = li.groupBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(count(lit(1)).as("dup_order_line"))
    val orphans = li.join(orders,
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_lineitem"))
    rowLocal.crossJoin(broadcast(dups)).crossJoin(broadcast(orphans))
      .selectExpr("stack(5, " +
        "'discount_range', discount_range, " +
        "'dup_order_line', dup_order_line, " +
        "'null_orderkey', null_orderkey, " +
        "'orphan_lineitem', orphan_lineitem, " +
        "'qty_range', qty_range) AS (check_name, violations)")
      .orderBy("check_name")
  }

  /** q129's BFS core, exposed for the property spec: `hops` unrolled
    * relax-and-min rounds from `seeds` (distance 0) over `edges`
    * (src, dst — directed, integral node ids; pass both directions for an
    * undirected graph), returning the (d, n) census as a collected
    * LocalRelation.
    *
    * The hops run on pair RDDs (r13, same rationale as
    * ConnectedComponents): the DataFrame version re-planned every hop and
    * executed ~6 AQE stage-jobs per hop plus a per-hop cache
    * materialization (26 jobs at 4 hops); here the edge table is hash-
    * partitioned ONCE (the "bucketed by src" cluster posture, realized),
    * each hop is the narrow co-partitioned join `edges ⋈ dist` plus ONE
    * min-reduce shuffle, and the census collapses everything into a
    * single action — intermediate hop results need no explicit caching
    * because RDD shuffle outputs are materialized on disk and re-read,
    * never recomputed (the quadratic re-execution that forced the DF
    * version's per-hop persist cannot happen). Partition count derives
    * from the measured edge count (~4M pairs/partition, floored at 1),
    * scale-adaptive per guide §2.2.
    */
  private[graft] def bfsCensus(s: SparkSession, edgesIn: DataFrame,
      seeds: DataFrame, hops: Int): DataFrame = {
    import s.implicits._
    val raw = edgesIn
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd.persist()
    val m = raw.count()
    val part = graft.functions.PairShuffle.partitioner(s.sparkContext, m)
    val edges = raw.partitionBy(part).persist()
    edges.count()
    raw.unpersist(blocking = false)
    try {
      var dist = seeds.select(col("node").cast("long")).as[Long].rdd
        .map((_, 0)).reduceByKey(part, math.min(_: Int, _: Int))
      for (_ <- 1 to hops) {
        // co-partitioned sides: zipPartitions + a primitive per-partition
        // distance map instead of the generic join's cogroup (see
        // pagerankPlan — measured ~10× less CPU per edge)
        val relaxed = edges.zipPartitions(dist) { (eIt, dIt) =>
          val d = new scala.collection.mutable.LongMap[Int]()
          dIt.foreach { case (n, dn) => d.update(n, dn) }
          eIt.flatMap { case (src, dst) =>
            val dn = d.getOrElse(src, -1)
            if (dn < 0) Iterator.empty else Iterator.single((dst, dn + 1))
          }
        }
        dist = dist.union(relaxed).reduceByKey(part, math.min(_: Int, _: Int))
      }
      val census = dist.map { case (_, d) => (d, 1L) }
        .reduceByKey(_ + _).collect().sortBy(_._1)
      import scala.jdk.CollectionConverters._
      s.createDataFrame(
        census.map { case (d, n) => org.apache.spark.sql.Row(d, n) }.toSeq.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("d",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType, nullable = false))))
    } finally edges.unpersist(blocking = false)
  }

  private[graft] def trianglesPlan(
      lineitem: DataFrame, backboneK: Int = 20000,
      degCap: Int = 256): (DataFrame, DataFrame, DataFrame) = {
    // Per-part supplier SETS in one shuffle (r13, guide §2.4): groupBy(p) +
    // collect_set replaces the r8 distinct + row_number window + self-join —
    // three (p,s)-projection shuffles and a join build (profiled 12.7 + most
    // of a 34.9 task-s stage at sf0.1) — with ONE exchange keyed by p.
    // SKEW GUARD (r8 VERDICT Wrong #1) unchanged in semantics: cap per-part
    // supplier degree BEFORE pair generation — a hot part with d suppliers
    // otherwise fans out C(d,2) pairs (10⁵ suppliers → 5×10⁹) regardless of
    // the downstream backbone cut. Deterministic keep: slice(sort_array, 1,
    // degCap) = the degCap smallest supplier keys per part, exactly the old
    // row_number≤cap rule. collect_set's partial aggregation dedups map-side
    // (the hot key ships each distinct supplier once per map task, bounded
    // like the old map-side WindowGroupLimit); the backbone threshold
    // already declares the query approximate at the cutoff; the default cap
    // (256) is far above this corpus's max co-supply degree (measured 52 at
    // sf0.1), so the oracle replays unchanged at every SF. Pairs explode
    // from the capped sorted set by a codegen lambda, map-side.
    val ss = lineitem
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .groupBy("p")
      .agg(slice(sort_array(collect_set(col("s"))), 1, degCap).as("ss"))
    val pairs = ss
      .select(explode(flatten(transform(col("ss"), (a, i) =>
        transform(slice(col("ss"), i + 2, size(col("ss"))), b =>
          struct(a.as("u"), b.as("v")))))).as("pr"))
      .select(col("pr.u"), col("pr.v"))
    val e = pairs
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("u"), col("v")).limit(backboneK)
      .select("u", "v").persist()
    val d = e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val fwd = col("du.deg") < col("dv.deg") ||
      (col("du.deg") === col("dv.deg") && col("e.u") < col("e.v"))
    val o = e.as("e")
      .join(d.as("du"), col("du.node") === col("e.u"))
      .join(d.as("dv"), col("dv.node") === col("e.v"))
      .select(when(fwd, col("e.u")).otherwise(col("e.v")).as("a"),
        when(fwd, col("e.v")).otherwise(col("e.u")).as("b")).persist()
    // Triangle count WITHOUT materializing wedges (r13, guide §2.3/§2.4):
    // the r8 shape joined o to itself twice, shuffling every (apex, b1, b2)
    // wedge row. Equivalent count: the old pattern counted (e1,e2,e3) with
    // e1=(a,x), e2=(a,y), x≠y, e3=(x,y) — i.e. for each oriented edge
    // (x,y), the number of common IN-neighbors a. So
    //   tri = Σ over (x,y) ∈ o of |N⁻(x) ∩ N⁻(y)|,
    // computed as two BROADCAST joins of o against the in-adjacency lists
    // plus a codegen array_intersect — no wedge shuffle at all. The
    // broadcast is scale-safe BY CONSTRUCTION: the backbone is capped at
    // backboneK (20k) edges by the query itself, so the adjacency table
    // never exceeds backboneK entries at any corpus size. Edges whose
    // endpoint has no in-neighbors contribute 0 (inner join drops them).
    val inN = o.groupBy(col("b").as("node"))
      .agg(collect_list(col("a")).as("inn"))
    val tri = o
      .join(broadcast(inN.select(col("node").as("a"), col("inn").as("inn_a"))), "a")
      .join(broadcast(inN.select(col("node").as("b"), col("inn").as("inn_b"))), "b")
      .select(size(array_intersect(col("inn_a"), col("inn_b"))).cast("long").as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("t"))
    val w = d.agg(sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("wedges"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    // Assemble the three single-row aggregates via ONE union job (r13):
    // the broadcast-cross chain ran them as sequential driver round-trips
    // (profiled: six ~0.45 s jobs, each ~0.3 s driver gap, over cached
    // inputs); a union evaluates all three branches inside one action.
    val scalars = ne.select(col("n_edges").cast("long").as("v"), lit(0).as("k"))
      .unionAll(tri.select(col("t").cast("long").as("v"), lit(1).as("k")))
      .unionAll(w.select(col("wedges").cast("long").as("v"), lit(2).as("k")))
    val out = scalars
      .agg(max(when(col("k") === 0, col("v"))).as("n_edges"),
        max(when(col("k") === 1, col("v"))).as("t"),
        max(when(col("k") === 2, col("v"))).as("wedges"))
      .select(col("n_edges").cast("long").as("n_edges"),
        col("t").cast("long").as("n_triangles"),
        col("wedges").cast("long").as("n_wedges"),
        (lit(3.0) * col("t") / col("wedges")).cast("double").as("clustering"))
    (out, e, o)
  }
}
