package graft.queries

import graft.Tables

/** Catalog-lifecycle queries (SURVEY §2a surfaced through the engine): CTAS
  * into the `lake` catalog — create (reference mod.rs:98-105) + append
  * committed via the CAS pointer swap (mod.rs:296-347) — then a read back
  * through the metadata-driven DSv2 scan. The DuckDB oracle runs the
  * equivalent plain SQL over the raw parquet, so a hash match proves the
  * whole write→commit→resolve→scan loop preserves values exactly.
  */
object CatalogQueries {

  val defs: Seq[QueryDef] = Seq(
    QueryDef.df(
      "q30_catalog_roundtrip",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.orders_by_priority")
      s.sql(
        """CREATE TABLE lake.verify.orders_by_priority AS
          |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
          |FROM orders GROUP BY o_orderpriority""".stripMargin)
      s.table("lake.verify.orders_by_priority").orderBy("o_orderpriority")
    },

    QueryDef.df(
      "q198_partition_evolution",
      // Oracle = the same point lookup straight off the source parquet: a
      // hash match proves a table whose partition spec EVOLVED mid-life
      // (bucket(4) generation + bucket(8) generation, never rewritten)
      // returns exactly the rows a single-spec table would. The lookup key
      // set crosses both generations; each generation prunes under its own
      // spec via TableMeta.allPartitionFields (PartitionEvolutionSpec pins
      // the planned-file counts; this query pins the VALUES).
      """SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price
        |FROM orders WHERE o_custkey IN (1, 7, 25)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.orders_pe")
      s.sql(
        """CREATE TABLE lake.verify.orders_pe
          |  (o_orderkey BIGINT, o_custkey BIGINT, price DOUBLE)
          |PARTITIONED BY (bucket(4, o_custkey))""".stripMargin)
      s.sql(
        """INSERT INTO lake.verify.orders_pe
          |SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE)
          |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin)
      graft.catalog.LakeMaintenance.setPartitionSpec(
        s, "lake.verify.orders_pe", Seq("bucket(8,o_custkey)"))
      s.sql(
        """INSERT INTO lake.verify.orders_pe
          |SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE)
          |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin)
      s.sql(
        """SELECT o_orderkey, o_custkey, price
          |FROM lake.verify.orders_pe WHERE o_custkey IN (1, 7, 25)
          |ORDER BY o_orderkey""".stripMargin)
    },

    QueryDef.df(
      "q31_catalog_snapshot_isolation",
      // Oracle = first half of the data only: the query reads VERSION AS OF
      // the first append, proving time travel returns the old snapshot even
      // after a second append moved the pointer.
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n
        |FROM customer WHERE c_custkey % 2 = 0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.cust_tt")
      s.sql(
        """CREATE TABLE lake.verify.cust_tt AS
          |SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 2 = 0""".stripMargin)
      s.sql("INSERT INTO lake.verify.cust_tt SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 2 = 1")
      s.sql(
        """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n
          |FROM lake.verify.cust_tt VERSION AS OF 1
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    },

    QueryDef.df(
      "q55_mor_roundtrip",
      // Oracle = the same subset with the DELETE predicate excluded and the
      // UPDATE applied as a CASE: a hash match proves the merge-on-read
      // DELETE (positional tombstones) and UPDATE (delete+insert delta)
      // produce exactly the rows a from-scratch computation would.
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  sum(CASE WHEN l_orderkey % 10 = 0 THEN l_quantity * 2 ELSE l_quantity END) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 5 = 0 AND l_returnflag <> 'A'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.li_mor")
      s.sql(
        """CREATE TABLE lake.verify.li_mor
          |TBLPROPERTIES ('write.delete.mode'='merge-on-read',
          |               'write.update.mode'='merge-on-read')
          |AS SELECT l_orderkey, l_quantity, l_returnflag
          |FROM lineitem WHERE l_orderkey % 5 = 0""".stripMargin)
      // MoR DELETE: appends tombstones, rewrites no data file
      s.sql("DELETE FROM lake.verify.li_mor WHERE l_returnflag = 'A'")
      // MoR UPDATE: tombstone + insert delta
      s.sql("UPDATE lake.verify.li_mor SET l_quantity = l_quantity * 2 WHERE l_orderkey % 10 = 0")
      s.sql(
        """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, sum(l_quantity) AS sum_qty
          |FROM lake.verify.li_mor GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },

    QueryDef.df(
      "q109_dv_roundtrip",
      // q55's merge-on-read lifecycle under DELETION VECTORS
      // (write.delete.format = dv — Iceberg v3's per-target roaring
      // bitmaps in shared containers): a hash match proves the DV write,
      // the bitmap read path and the update delta produce exactly the
      // rows a from-scratch computation would.
      """SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |  sum(CASE WHEN l_orderkey % 8 = 0 THEN l_quantity + 5 ELSE l_quantity END) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 3 = 0 AND l_quantity > 10
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.li_dv")
      s.sql(
        """CREATE TABLE lake.verify.li_dv
          |TBLPROPERTIES ('write.delete.mode'='merge-on-read',
          |               'write.update.mode'='merge-on-read',
          |               'write.delete.format'='dv')
          |AS SELECT l_orderkey, l_quantity, l_linestatus
          |FROM lineitem WHERE l_orderkey % 3 = 0""".stripMargin)
      s.sql("DELETE FROM lake.verify.li_dv WHERE l_quantity <= 10")
      s.sql("UPDATE lake.verify.li_dv SET l_quantity = l_quantity + 5 WHERE l_orderkey % 8 = 0")
      s.sql(
        """SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n, sum(l_quantity) AS sum_qty
          |FROM lake.verify.li_dv GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)
    },

    QueryDef.df(
      "q108_mor_split_scan",
      // Oracle = the same aggregate computed from scratch with the DELETE
      // predicate excluded. The Spark side builds the table shape the r8
      // read-path work targets — ONE sorted file with many small row
      // groups, position-tombstoned — so a hash match proves the whole
      // stack at once: byte-range split planning, row-index positions,
      // row-group stats pruning under the range predicate, and the
      // vectorized batch reader's tombstone compaction.
      """SELECT CAST(l_partkey % 10 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  sum(l_quantity) AS qty, round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem
        |WHERE l_orderkey % 7 <> 0 AND l_orderkey BETWEEN 300 AND 899
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.li_split")
      s.sql(
        """CREATE TABLE lake.verify.li_split
          |TBLPROPERTIES ('write.delete.mode'='merge-on-read',
          |  'write.sort-order'='l_orderkey',
          |  'write.parquet.row-group-size-bytes'='262144')
          |AS SELECT /*+ REPARTITION(1) */ l_orderkey, l_partkey, l_quantity, l_extendedprice
          |FROM lineitem""".stripMargin)
      s.sql("DELETE FROM lake.verify.li_split WHERE l_orderkey % 7 = 0")
      s.sql(
        """SELECT CAST(l_partkey % 10 AS BIGINT) AS bucket,
          |  CAST(count(*) AS BIGINT) AS n,
          |  sum(l_quantity) AS qty, round(sum(l_extendedprice), 2) AS rev
          |FROM lake.verify.li_split
          |WHERE l_orderkey BETWEEN 300 AND 899
          |GROUP BY 1 ORDER BY 1""".stripMargin)
    },

    QueryDef.df(
      "q110_column_defaults",
      // Column DEFAULTs, Iceberg v3's two-default model: files written
      // BEFORE a column existed read its IMMUTABLE initial default (pure
      // metadata ADD — zero backfill), INSERTs that omit the column get
      // the write default, and SET DEFAULT moves only the write default.
      // The oracle reconstructs the final state from raw parquet with the
      // defaults as literals per insert era; the CoW DELETE at the end
      // proves rewrites of pre-add files preserve synthesized values. A
      // hash match pins the whole stack: initial-default fill in the
      // readers (incl. a NOT NULL defaulted column), analyzer write-fill,
      // and default immutability across SET DEFAULT.
      """WITH final AS (
        |  SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal,
        |    'none' AS seg, CAST(1.5 AS DOUBLE) AS boost
        |  FROM customer WHERE c_custkey % 3 = 0
        |  UNION ALL
        |  SELECT c_custkey, CAST(c_acctbal AS DOUBLE), c_mktsegment, CAST(2.0 AS DOUBLE)
        |  FROM customer WHERE c_custkey % 3 = 1
        |  UNION ALL
        |  SELECT c_custkey, CAST(c_acctbal AS DOUBLE), 'late', CAST(1.5 AS DOUBLE)
        |  FROM customer WHERE c_custkey % 3 = 2)
        |SELECT seg, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(bal * boost), 2) AS amt
        |FROM final WHERE k % 7 <> 0 GROUP BY seg ORDER BY seg""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.cust_def")
      s.sql(
        """CREATE TABLE lake.verify.cust_def AS
          |SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal
          |FROM customer WHERE c_custkey % 3 = 0""".stripMargin)
      // pure metadata: old files will read seg='none', boost=1.5 forever
      s.sql("ALTER TABLE lake.verify.cust_def ADD COLUMN seg STRING DEFAULT 'none'")
      s.sql("ALTER TABLE lake.verify.cust_def ADD COLUMN boost DOUBLE NOT NULL DEFAULT 1.5")
      s.sql(
        """INSERT INTO lake.verify.cust_def
          |SELECT c_custkey, CAST(c_acctbal AS DOUBLE), c_mktsegment, CAST(2.0 AS DOUBLE)
          |FROM customer WHERE c_custkey % 3 = 1""".stripMargin)
      // the WRITE default moves; the initial default must not
      s.sql("ALTER TABLE lake.verify.cust_def ALTER COLUMN seg SET DEFAULT 'late'")
      s.sql(
        """INSERT INTO lake.verify.cust_def (k, bal)
          |SELECT c_custkey, CAST(c_acctbal AS DOUBLE)
          |FROM customer WHERE c_custkey % 3 = 2""".stripMargin)
      // CoW rewrite folds pre-add files: synthesized defaults materialize
      s.sql("DELETE FROM lake.verify.cust_def WHERE k % 7 = 0")
      s.sql(
        """SELECT seg, CAST(count(*) AS BIGINT) AS n,
          |  round(sum(bal * boost), 2) AS amt
          |FROM lake.verify.cust_def GROUP BY seg ORDER BY seg""".stripMargin)
    },

    QueryDef.df(
      "q111_row_lineage",
      // ROW LINEAGE (Iceberg v3): ids are assigned per committed file from
      // the table's high-water mark, `_row_id = first_row_id + _pos`. The
      // writes here are deterministic (REPARTITION(1) + write.sort-order),
      // so DuckDB replays the id assignment exactly: era-0 rows get
      // row_number() in key order, era-1 rows continue after them. The MoR
      // DELETE then COMPACTION in the middle are the point: tombstones
      // must not move surviving ids, and the compaction rewrite must carry
      // them through MATERIALIZED lineage columns — a hash match pins the
      // whole identity chain.
      """WITH e0 AS (
        |  SELECT c_custkey AS k,
        |    row_number() OVER (ORDER BY c_custkey) AS rid
        |  FROM customer WHERE c_custkey % 2 = 0),
        |e1 AS (
        |  SELECT c_custkey AS k,
        |    (SELECT count(*) FROM e0) + row_number() OVER (ORDER BY c_custkey) AS rid
        |  FROM customer WHERE c_custkey % 2 = 1),
        |united AS (SELECT * FROM e0 UNION ALL SELECT * FROM e1)
        |SELECT CAST(k % 2 AS BIGINT) AS era, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(rid) AS BIGINT) AS rid_sum,
        |  CAST(min(rid) AS BIGINT) AS rid_min, CAST(max(rid) AS BIGINT) AS rid_max
        |FROM united WHERE k % 13 <> 0 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.cust_rl")
      s.sql(
        """CREATE TABLE lake.verify.cust_rl
          |TBLPROPERTIES ('write.sort-order'='k',
          |               'write.delete.mode'='merge-on-read')
          |AS SELECT /*+ REPARTITION(1) */ c_custkey AS k
          |FROM customer WHERE c_custkey % 2 = 0""".stripMargin)
      s.sql(
        """INSERT INTO lake.verify.cust_rl
          |SELECT /*+ REPARTITION(1) */ c_custkey
          |FROM customer WHERE c_custkey % 2 = 1""".stripMargin)
      s.sql("DELETE FROM lake.verify.cust_rl WHERE k % 13 = 0")
      graft.catalog.LakeMaintenance.compact(s, "lake.verify.cust_rl")
      s.sql(
        """SELECT CAST(k % 2 AS BIGINT) AS era, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(_row_id) AS BIGINT) AS rid_sum,
          |  CAST(min(_row_id) AS BIGINT) AS rid_min,
          |  CAST(max(_row_id) AS BIGINT) AS rid_max
          |FROM lake.verify.cust_rl GROUP BY 1 ORDER BY 1""".stripMargin)
    },

    QueryDef.df(
      "q112_variant_shred",
      // VARIANT columns (Spark 4.1 / Iceberg v3's semi-structured type):
      // JSON parses ONCE at write into variant's binary encoding; reads
      // shred typed paths out with variant_get — no per-query JSON
      // re-parse at 100 TB. The lifecycle covers write-through (CTAS into
      // the lake), typed path extraction under filter/aggregate, and a
      // MoR DELETE over the variant table (tombstoned variant files read
      // through the merge-on-read row reader). The oracle replays the same
      // shredding from the raw JSON strings with DuckDB's json functions.
      """WITH shredded AS (
        |  SELECT event_type, event_id,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k, user_id AS u
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS k_sum, CAST(sum(u) AS BIGINT) AS u_sum
        |FROM shredded WHERE k % 3 = 0 AND event_id % 7 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.ev_var")
      s.sql(
        """CREATE TABLE lake.verify.ev_var
          |TBLPROPERTIES ('write.delete.mode'='merge-on-read')
          |AS SELECT event_id, event_type,
          |  parse_json(concat('{"k":', get_json_object(props, '$.k'),
          |                    ',"u":', CAST(user_id AS STRING), '}')) AS payload
          |FROM events""".stripMargin)
      s.sql("DELETE FROM lake.verify.ev_var WHERE event_id % 7 = 0")
      s.sql(
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(variant_get(payload, '$.k', 'long')) AS BIGINT) AS k_sum,
          |  CAST(sum(variant_get(payload, '$.u', 'long')) AS BIGINT) AS u_sum
          |FROM lake.verify.ev_var
          |WHERE variant_get(payload, '$.k', 'long') % 3 = 0
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    QueryDef.df(
      "q113_merge_full",
      // FULL-CLAUSE MERGE: conditional MATCHED DELETE + UPDATE, conditional
      // NOT MATCHED INSERT, and both NOT MATCHED BY SOURCE actions
      // (UPDATE then DELETE — clause order decides, first match wins).
      // The oracle replays the final state set-wise: matched rows update
      // unless the delete condition fires, target-only rows follow the
      // BY SOURCE clause cascade, source-only rows insert under their
      // condition. Target = part %3=0, source = part %2=0, so matched
      // means %6=0 and "by source" means odd multiples of 3.
      """WITH t AS (
        |  SELECT p_partkey AS k, p_type AS v, CAST(p_retailprice AS DOUBLE) AS amt
        |  FROM part WHERE p_partkey % 3 = 0),
        |s AS (
        |  SELECT p_partkey AS k, p_type AS v,
        |    CAST(p_retailprice AS DOUBLE) * CAST(2 AS DOUBLE) AS amt
        |  FROM part WHERE p_partkey % 2 = 0),
        |final AS (
        |  SELECT t.k, 'U:' || s.v AS v, s.amt
        |  FROM t JOIN s ON t.k = s.k WHERE t.k % 5 <> 0
        |  UNION ALL
        |  SELECT k, CASE WHEN k % 7 = 0 THEN 'NMS' ELSE v END AS v,
        |    CASE WHEN k % 7 = 0 THEN amt / CAST(2 AS DOUBLE) ELSE amt END AS amt
        |  FROM t WHERE k % 2 <> 0 AND NOT (k % 7 <> 0 AND k % 11 = 0)
        |  UNION ALL
        |  SELECT k, 'I:' || v AS v, amt FROM s WHERE k % 3 <> 0 AND k % 5 = 0
        |)
        |SELECT substr(v, 1, 2) AS vp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS ksum,
        |  CAST(sum(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM final GROUP BY vp ORDER BY vp""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.mrg_full")
      s.sql(
        """CREATE TABLE lake.verify.mrg_full AS
          |SELECT p_partkey AS k, p_type AS v, CAST(p_retailprice AS DOUBLE) AS amt
          |FROM part WHERE p_partkey % 3 = 0""".stripMargin)
      s.sql(
        """SELECT p_partkey AS k, p_type AS v,
          |  CAST(p_retailprice AS DOUBLE) * CAST(2 AS DOUBLE) AS amt
          |FROM part WHERE p_partkey % 2 = 0""".stripMargin)
        .createOrReplaceTempView("mrgf_src")
      s.sql(
        """MERGE INTO lake.verify.mrg_full t USING mrgf_src s ON t.k = s.k
          |WHEN MATCHED AND s.k % 5 = 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = concat('U:', s.v), amt = s.amt
          |WHEN NOT MATCHED AND s.k % 5 = 0 THEN
          |  INSERT (k, v, amt) VALUES (s.k, concat('I:', s.v), s.amt)
          |WHEN NOT MATCHED BY SOURCE AND t.k % 7 = 0 THEN
          |  UPDATE SET v = 'NMS', amt = t.amt / CAST(2 AS DOUBLE)
          |WHEN NOT MATCHED BY SOURCE AND t.k % 11 = 0 THEN DELETE""".stripMargin)
      s.sql(
        """SELECT substring(v, 1, 2) AS vp, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(k) AS BIGINT) AS ksum,
          |  CAST(sum(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS total
          |FROM lake.verify.mrg_full GROUP BY vp ORDER BY vp""".stripMargin)
    },

    QueryDef.df(
      "q63_upsert_roundtrip",
      // Oracle = the merged state computed from scratch (DuckDB's view of
      // INSERT .. ON CONFLICT DO UPDATE): epoch-2 keys (%16=0 overwrites,
      // %4=1 inserts) beat epoch-1 keys (%8=0) beat the base (%4=0). A hash
      // match proves the equality-delete upsert lifecycle — append + key
      // tombstones + sequence-number applicability — reproduces it exactly.
      """WITH final AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 16 = 0 THEN 'U2:' || o_orderpriority
        |         WHEN o_orderkey % 8 = 0 THEN 'U1:' || o_orderpriority
        |         ELSE o_orderpriority END AS v,
        |    CAST(o_totalprice AS DOUBLE) *
        |      CASE WHEN o_orderkey % 16 = 0 THEN CAST(3 AS DOUBLE)
        |           WHEN o_orderkey % 8 = 0 THEN CAST(2 AS DOUBLE)
        |           ELSE CAST(1 AS DOUBLE) END AS amt
        |  FROM orders WHERE o_orderkey % 4 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'U2:' || o_orderpriority,
        |    CAST(o_totalprice AS DOUBLE) * CAST(3 AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 4 = 1
        |)
        |SELECT v, CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS ksum,
        |  CAST(sum(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM final GROUP BY v ORDER BY v""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.ups_rt")
      s.sql(
        """CREATE TABLE lake.verify.ups_rt AS
          |SELECT o_orderkey AS k, o_orderpriority AS v,
          |  CAST(o_totalprice AS DOUBLE) AS amt
          |FROM orders WHERE o_orderkey % 4 = 0""".stripMargin)
      // epoch 1: overwrite every 8th key (all already present)
      s.sql(
        """SELECT o_orderkey AS k, concat('U1:', o_orderpriority) AS v,
          |  CAST(o_totalprice AS DOUBLE) * CAST(2 AS DOUBLE) AS amt
          |FROM orders WHERE o_orderkey % 8 = 0""".stripMargin)
        .createOrReplaceTempView("ups_rt_src1")
      s.sql("CALL lake.system.upsert('verify.ups_rt', 'ups_rt_src1', 'k')")
      // epoch 2: overwrite every 16th key AND insert brand-new keys (%4=1)
      s.sql(
        """SELECT o_orderkey AS k, concat('U2:', o_orderpriority) AS v,
          |  CAST(o_totalprice AS DOUBLE) * CAST(3 AS DOUBLE) AS amt
          |FROM orders WHERE o_orderkey % 16 = 0 OR o_orderkey % 4 = 1""".stripMargin)
        .createOrReplaceTempView("ups_rt_src2")
      s.sql("CALL lake.system.upsert('verify.ups_rt', 'ups_rt_src2', 'k')")
      // final state reads through the eq-delete-filtered scan
      s.sql(
        """SELECT v, CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS ksum,
          |  CAST(sum(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS total
          |FROM lake.verify.ups_rt GROUP BY v ORDER BY v""".stripMargin)
    },

    QueryDef.df(
      "q93_table_stats",
      // Oracle = exact count(DISTINCT) per column plus an always-TRUE
      // tolerance flag. The engine side answers `ndv` EXACTLY (it has the
      // rows) but gates its analyze-maintained HLL estimate — loaded in
      // two halves with an analyze after each, so the second analyze MUST
      // take the incremental union path — through the 2% flag: a broken
      // sketch/union path flips the boolean and the hash. (The earlier
      // exact-match formulation only held while the sketch stayed in
      // coupon mode; at sf0.1 cardinalities the HLL estimate is ±1%,
      // which is correct behavior, not a wrong answer.)
      """SELECT 'c_custkey' AS column_name, CAST(count(DISTINCT c_custkey) AS BIGINT) AS ndv, TRUE AS ndv_within_2pct FROM customer
        |UNION ALL
        |SELECT 'c_mktsegment', CAST(count(DISTINCT c_mktsegment) AS BIGINT), TRUE FROM customer
        |UNION ALL
        |SELECT 'c_nationkey', CAST(count(DISTINCT c_nationkey) AS BIGINT), TRUE FROM customer
        |ORDER BY column_name""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.stats_cust")
      s.sql(
        """CREATE TABLE lake.verify.stats_cust AS
          |SELECT c_custkey, c_nationkey, c_mktsegment FROM customer
          |WHERE c_custkey % 2 = 0""".stripMargin)
      s.sql("CALL lake.system.analyze(table => 'verify.stats_cust')")
      s.sql(
        """INSERT INTO lake.verify.stats_cust
          |SELECT c_custkey, c_nationkey, c_mktsegment FROM customer
          |WHERE c_custkey % 2 = 1""".stripMargin)
      s.sql("CALL lake.system.analyze(table => 'verify.stats_cust')")
      // report the stored estimates (mode "current": no recompute happens)
      val (mode, ndvs) = graft.catalog.LakeMaintenance.analyze(s, "lake.verify.stats_cust")
      require(mode == "current", s"watermark should be at head, got $mode")
      import s.implicits._
      val est = ndvs.toMap
      val ex = s.sql(
        """SELECT CAST(count(DISTINCT c_custkey) AS BIGINT),
          |  CAST(count(DISTINCT c_mktsegment) AS BIGINT),
          |  CAST(count(DISTINCT c_nationkey) AS BIGINT)
          |FROM lake.verify.stats_cust""".stripMargin).head()
      val exact = Seq("c_custkey" -> ex.getLong(0), "c_mktsegment" -> ex.getLong(1),
        "c_nationkey" -> ex.getLong(2))
      exact.map { case (c, n) =>
        val e = est.getOrElse(c, 0L)
        (c, n, math.abs(e - n) <= math.max(1L, math.ceil(0.02 * n).toLong))
      }.toDF("column_name", "ndv", "ndv_within_2pct").orderBy("column_name")
    },

    QueryDef.df(
      "q64_merge_equality",
      // Oracle = the merged state computed from scratch. Merge-2 keys
      // (%12=0 overwrites, %6=5 inserts) beat merge-1 keys (%6=0
      // overwrites, %6=2 inserts) beat the base (%3=0). A hash match
      // proves the equality-mode MERGE INTO — parse-time rewrite to an
      // append + key-tombstone commit, no target scan — reproduces exactly
      // what a row-level MERGE would have produced.
      """WITH final AS (
        |  SELECT p_partkey AS k,
        |    CASE WHEN p_partkey % 12 = 0 THEN 'M2:' || p_type
        |         WHEN p_partkey % 6 = 0 THEN 'M1:' || p_type
        |         ELSE p_type END AS v,
        |    CAST(p_retailprice AS DOUBLE) *
        |      CASE WHEN p_partkey % 12 = 0 THEN CAST(3 AS DOUBLE)
        |           WHEN p_partkey % 6 = 0 THEN CAST(2 AS DOUBLE)
        |           ELSE CAST(1 AS DOUBLE) END AS amt
        |  FROM part WHERE p_partkey % 3 = 0
        |  UNION ALL
        |  SELECT p_partkey, 'M1:' || p_type, CAST(p_retailprice AS DOUBLE) * CAST(2 AS DOUBLE)
        |  FROM part WHERE p_partkey % 6 = 2
        |  UNION ALL
        |  SELECT p_partkey, 'M2:' || p_type, CAST(p_retailprice AS DOUBLE) * CAST(3 AS DOUBLE)
        |  FROM part WHERE p_partkey % 6 = 5
        |)
        |SELECT substr(v, 1, 3) AS vp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS ksum,
        |  CAST(sum(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM final GROUP BY vp ORDER BY vp""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.mrg_rt")
      s.sql(
        """CREATE TABLE lake.verify.mrg_rt
          |TBLPROPERTIES ('write.merge.mode'='equality')
          |AS SELECT p_partkey AS k, p_type AS v,
          |  CAST(p_retailprice AS DOUBLE) AS amt
          |FROM part WHERE p_partkey % 3 = 0""".stripMargin)
      // merge 1 (explicit SET/VALUES lists): %6=0 overwrites, %6=2 inserts
      s.sql(
        """SELECT p_partkey AS k, concat('M1:', p_type) AS v,
          |  CAST(p_retailprice AS DOUBLE) * CAST(2 AS DOUBLE) AS amt
          |FROM part WHERE p_partkey % 6 = 0 OR p_partkey % 6 = 2""".stripMargin)
        .createOrReplaceTempView("mrg_src1")
      s.sql(
        """MERGE INTO lake.verify.mrg_rt t USING mrg_src1 s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET k = s.k, v = s.v, amt = s.amt
          |WHEN NOT MATCHED THEN INSERT (k, v, amt) VALUES (s.k, s.v, s.amt)""".stripMargin)
      // merge 2 (UPDATE SET * / INSERT * sugar): %12=0 overwrites, %6=5 inserts
      s.sql(
        """SELECT p_partkey AS k, concat('M2:', p_type) AS v,
          |  CAST(p_retailprice AS DOUBLE) * CAST(3 AS DOUBLE) AS amt
          |FROM part WHERE p_partkey % 12 = 0 OR p_partkey % 6 = 5""".stripMargin)
        .createOrReplaceTempView("mrg_src2")
      s.sql(
        """MERGE INTO lake.verify.mrg_rt t USING mrg_src2 s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // final state reads through the eq-delete-filtered scan
      s.sql(
        """SELECT substring(v, 1, 3) AS vp, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(k) AS BIGINT) AS ksum,
          |  CAST(sum(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS total
          |FROM lake.verify.mrg_rt GROUP BY vp ORDER BY vp""".stripMargin)
    },

    QueryDef.df(
      "q65_stats_agg_pushdown",
      // Oracle = the same global aggregates computed by DuckDB from the raw
      // rows. The engine answers them from manifest stats alone (metadata-
      // only aggregate pushdown — the plan is a LocalTableScan, zero data
      // files opened; AggPushdownSpec asserts the plan shape), so a hash
      // match proves the writer's per-file row/null/min/max stats are
      // EXACT, across bigint/double/timestamp and a NULL-bearing (string)
      // column, over multiple commits. STRING min/max is deliberately
      // absent: manifest string bounds are truncated prefixes
      // ([[graft.catalog.StatBounds]]) and must never be served as
      // answers — AggPushdownSpec pins the fall-back-to-scan contract.
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(CASE WHEN l_orderkey % 3 = 0 THEN NULL ELSE l_returnflag END) AS BIGINT) AS n_rf,
        |  CAST(min(l_orderkey) AS BIGINT) AS min_ok, CAST(max(l_orderkey) AS BIGINT) AS max_ok,
        |  min(l_shipdate) AS min_sd, max(l_shipdate) AS max_sd,
        |  CAST(min(l_extendedprice) AS DOUBLE) AS min_ep,
        |  CAST(max(l_extendedprice) AS DOUBLE) AS max_ep
        |FROM lineitem""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.li_statsagg")
      s.sql(
        """CREATE TABLE lake.verify.li_statsagg AS
          |SELECT l_orderkey, l_shipdate, l_returnflag, l_extendedprice,
          |  CASE WHEN l_orderkey % 3 = 0 THEN NULL ELSE l_returnflag END AS rf_n
          |FROM lineitem WHERE l_orderkey % 2 = 0""".stripMargin)
      // second commit: the metadata fold spans several manifests
      s.sql(
        """INSERT INTO lake.verify.li_statsagg
          |SELECT l_orderkey, l_shipdate, l_returnflag, l_extendedprice,
          |  CASE WHEN l_orderkey % 3 = 0 THEN NULL ELSE l_returnflag END
          |FROM lineitem WHERE l_orderkey % 2 = 1""".stripMargin)
      s.sql(
        """SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(rf_n) AS BIGINT) AS n_rf,
          |  CAST(min(l_orderkey) AS BIGINT) AS min_ok, CAST(max(l_orderkey) AS BIGINT) AS max_ok,
          |  min(l_shipdate) AS min_sd, max(l_shipdate) AS max_sd,
          |  CAST(min(l_extendedprice) AS DOUBLE) AS min_ep,
          |  CAST(max(l_extendedprice) AS DOUBLE) AS max_ep
          |FROM lake.verify.li_statsagg""".stripMargin)
    },

    QueryDef.df(
      "q66_branch_roundtrip",
      // Oracle = base ∪ both branch epochs: after CTAS (suppkey%3=0), two
      // appends land on branch 'audit' (%3=1 then %3=2) while main stays at
      // the base; fast_forward then merges. A hash match proves branch
      // commits chain off the branch head, isolate from main until the
      // merge, and lose nothing through the pointer move.
      """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(s_suppkey) AS BIGINT) AS ksum,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS bal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.sup_br")
      s.sql(
        """CREATE TABLE lake.verify.sup_br AS
          |SELECT s_suppkey, s_nationkey, CAST(s_acctbal AS DOUBLE) AS s_acctbal
          |FROM supplier WHERE s_suppkey % 3 = 0""".stripMargin)
      s.sql("CALL lake.system.create_branch('verify.sup_br', 'audit')")
      s.sql("""SELECT s_suppkey, s_nationkey, CAST(s_acctbal AS DOUBLE) AS s_acctbal
              |FROM supplier WHERE s_suppkey % 3 = 1""".stripMargin)
        .writeTo("lake.verify.sup_br").option("branch", "audit").append()
      // main is still the base while the branch runs ahead
      s.sql("""SELECT s_suppkey, s_nationkey, CAST(s_acctbal AS DOUBLE) AS s_acctbal
              |FROM supplier WHERE s_suppkey % 3 = 2""".stripMargin)
        .writeTo("lake.verify.sup_br").option("branch", "audit").append()
      s.sql("CALL lake.system.fast_forward('verify.sup_br', 'audit')")
      s.sql(
        """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(s_suppkey) AS BIGINT) AS ksum,
          |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS bal
          |FROM lake.verify.sup_br GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)
    },

    QueryDef.df(
      "q75_incremental_mv",
      // Oracle = the from-scratch aggregate over ALL of lineitem. The query
      // loads the source in two halves with a refresh after each, so a hash
      // match proves the incremental path (delta snapshots -> partial agg ->
      // touched-group upsert, watermark in the same commit) reproduces the
      // from-scratch answer bit-for-bit — decimal accumulation makes the
      // incremental sums order-independent.
      """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY flag""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.li_src")
      s.sql("DROP TABLE IF EXISTS lake.verify.li_mv")
      s.sql("CREATE TABLE lake.verify.li_src (l_returnflag STRING, l_quantity DOUBLE)")
      s.sql("""INSERT INTO lake.verify.li_src
              |SELECT l_returnflag, CAST(l_quantity AS DOUBLE) FROM lineitem
              |WHERE l_orderkey % 2 = 0""".stripMargin)
      s.sql("CALL lake.system.create_aggregate('verify.li_mv', 'verify.li_src'," +
        " 'l_returnflag', 'l_quantity')")
      s.sql("CALL lake.system.refresh_aggregate('verify.li_mv')")
      s.sql("""INSERT INTO lake.verify.li_src
              |SELECT l_returnflag, CAST(l_quantity AS DOUBLE) FROM lineitem
              |WHERE l_orderkey % 2 = 1""".stripMargin)
      s.sql("CALL lake.system.refresh_aggregate('verify.li_mv')")
      s.table("lake.verify.li_mv")
        .selectExpr("l_returnflag AS flag", "cnt",
          "CAST(sum_l_quantity AS DOUBLE) AS sum_qty")
        .orderBy("flag")
    },

    QueryDef.df(
      "q83_add_files",
      // Oracle = the raw parquet plus the natively-inserted rows. add_files
      // registers the EXTERNAL orders.parquet into the table by reference
      // (metadata-only commit: one footer pass, zero rows rewritten), then
      // a native INSERT lands beside it. A hash match proves imported and
      // written files read identically through the same scan — row counts,
      // footer-harvested stats, and value decoding all faithful.
      """WITH allrows AS (
        |  SELECT o_orderstatus, o_orderpriority, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT 'Z', o_orderpriority, o_totalprice * 2 FROM orders
        |  WHERE o_orderkey % 1000 = 0
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM allrows WHERE o_orderstatus <> 'P'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.ord_ext")
      // empty CTAS fixes the schema; no data files written
      s.sql("CREATE TABLE lake.verify.ord_ext AS SELECT * FROM orders WHERE 1=0")
      s.sql(s"CALL lake.system.add_files('verify.ord_ext', '$dir/orders.parquet')")
      s.sql(
        """INSERT INTO lake.verify.ord_ext
          |SELECT o_orderkey + 10000000, o_custkey, 'Z', o_totalprice * 2,
          |  o_orderdate, o_orderpriority
          |FROM orders WHERE o_orderkey % 1000 = 0""".stripMargin)
      s.sql(
        """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
          |FROM lake.verify.ord_ext WHERE o_orderstatus <> 'P'
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    },

    QueryDef.df(
      "q90_table_changes",
      // Oracle = the change SET derived from scratch: CTAS (%5 keys), a
      // merge-on-read DELETE (%10 keys → positional-tombstone deletes),
      // then an upsert epoch (%15 keys → eq-delete of LIVE priors +
      // re-inserts; %30 keys were already deleted, so they re-insert with
      // NO second delete). The final read is the table_changes SQL TVF
      // aggregated by change type — a hash match drives the whole CDC
      // changelog (positional + equality diffs, TVF splice) through the
      // DuckDB gate.
      """WITH base AS (
        |  SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS v
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |changes AS (
        |  SELECT 'insert' AS ct, k, v FROM base
        |  UNION ALL
        |  SELECT 'insert', k, v * CAST(2 AS DOUBLE) FROM base WHERE k % 15 = 0
        |  UNION ALL
        |  SELECT 'delete', k, v FROM base WHERE k % 10 = 0
        |  UNION ALL
        |  SELECT 'delete', k, v FROM base WHERE k % 15 = 0 AND k % 10 <> 0
        |)
        |SELECT ct AS _change_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS ksum,
        |  CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM changes GROUP BY ct ORDER BY ct""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.tc_src")
      s.sql(
        """CREATE TABLE lake.verify.tc_src
          |TBLPROPERTIES ('write.delete.mode'='merge-on-read')
          |AS SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS v
          |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin)
      s.sql("DELETE FROM lake.verify.tc_src WHERE k % 10 = 0")
      s.sql(
        """SELECT o_orderkey AS k,
          |  CAST(o_totalprice AS DOUBLE) * CAST(2 AS DOUBLE) AS v
          |FROM orders WHERE o_orderkey % 15 = 0""".stripMargin)
        .createOrReplaceTempView("tc_up1")
      s.sql("CALL lake.system.upsert('verify.tc_src', 'tc_up1', 'k')")
      s.sql(
        """SELECT _change_type, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(k) AS BIGINT) AS ksum,
          |  CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS total
          |FROM table_changes('lake.verify.tc_src', 0)
          |GROUP BY _change_type ORDER BY _change_type""".stripMargin)
    },

    QueryDef.df(
      "q89_mv_retraction",
      // Oracle = the from-scratch aggregate over the source's FINAL state.
      // The MV refreshes once on the append-only base, then the source
      // takes an upsert epoch that MOVES rows between groups (%8 keys →
      // group 'UPD', doubled amounts); the second refresh folds the CDC
      // changelog with retraction (-old row, +new row). A hash match
      // proves signed decimal folding reproduces from-scratch exactly —
      // including the groups rows LEFT.
      """SELECT g, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
        |FROM (SELECT CASE WHEN o_orderkey % 8 = 0 THEN 'UPD'
        |             ELSE o_orderpriority END AS g,
        |        CAST(o_totalprice AS DOUBLE) *
        |          CASE WHEN o_orderkey % 8 = 0 THEN CAST(2 AS DOUBLE)
        |               ELSE CAST(1 AS DOUBLE) END AS v
        |      FROM orders) s
        |GROUP BY g ORDER BY g""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.mvr_src")
      s.sql("DROP TABLE IF EXISTS lake.verify.mvr_mv")
      s.sql(
        """CREATE TABLE lake.verify.mvr_src AS
          |SELECT o_orderkey AS k, o_orderpriority AS g,
          |  CAST(o_totalprice AS DOUBLE) AS v
          |FROM orders""".stripMargin)
      s.sql("CALL lake.system.create_aggregate('verify.mvr_mv', 'verify.mvr_src', 'g', 'v')")
      s.sql("CALL lake.system.refresh_aggregate('verify.mvr_mv')")
      // upsert epoch moves %8 keys into a NEW group with doubled amounts
      s.sql(
        """SELECT o_orderkey AS k, 'UPD' AS g,
          |  CAST(o_totalprice AS DOUBLE) * CAST(2 AS DOUBLE) AS v
          |FROM orders WHERE o_orderkey % 8 = 0""".stripMargin)
        .createOrReplaceTempView("mvr_up1")
      s.sql("CALL lake.system.upsert('verify.mvr_src', 'mvr_up1', 'k')")
      s.sql("CALL lake.system.refresh_aggregate('verify.mvr_mv')")
      s.sql(
        """SELECT g, cnt, CAST(sum_v AS DOUBLE) AS sum_v
          |FROM lake.verify.mvr_mv WHERE cnt > 0 ORDER BY g""".stripMargin)
    },

    QueryDef.df(
      "q85_rewrite_deletes",
      // Oracle = q63's merged state computed from scratch. Same upsert
      // lifecycle, but the eq-delete files are bin-packed per sequence
      // number (dead keys eliminated) by rewrite_delete_files before the
      // final read. A hash match proves the rewrite changes METADATA ONLY:
      // every key still resolves to its newest version afterwards.
      """WITH final AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 16 = 0 THEN 'U2:' || o_orderpriority
        |         WHEN o_orderkey % 8 = 0 THEN 'U1:' || o_orderpriority
        |         ELSE o_orderpriority END AS v,
        |    CAST(o_totalprice AS DOUBLE) *
        |      CASE WHEN o_orderkey % 16 = 0 THEN CAST(3 AS DOUBLE)
        |           WHEN o_orderkey % 8 = 0 THEN CAST(2 AS DOUBLE)
        |           ELSE CAST(1 AS DOUBLE) END AS amt
        |  FROM orders WHERE o_orderkey % 4 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'U2:' || o_orderpriority,
        |    CAST(o_totalprice AS DOUBLE) * CAST(3 AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 4 = 1
        |)
        |SELECT v, CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS ksum,
        |  CAST(sum(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM final GROUP BY v ORDER BY v""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.ups_rdf")
      s.sql(
        """CREATE TABLE lake.verify.ups_rdf AS
          |SELECT o_orderkey AS k, o_orderpriority AS v,
          |  CAST(o_totalprice AS DOUBLE) AS amt
          |FROM orders WHERE o_orderkey % 4 = 0""".stripMargin)
      s.sql(
        """SELECT o_orderkey AS k, concat('U1:', o_orderpriority) AS v,
          |  CAST(o_totalprice AS DOUBLE) * CAST(2 AS DOUBLE) AS amt
          |FROM orders WHERE o_orderkey % 8 = 0""".stripMargin)
        .repartition(4).createOrReplaceTempView("ups_rdf_s1")
      s.sql("CALL lake.system.upsert('verify.ups_rdf', 'ups_rdf_s1', 'k')")
      s.sql(
        """SELECT o_orderkey AS k, concat('U2:', o_orderpriority) AS v,
          |  CAST(o_totalprice AS DOUBLE) * CAST(3 AS DOUBLE) AS amt
          |FROM orders WHERE o_orderkey % 16 = 0 OR o_orderkey % 4 = 1""".stripMargin)
        .repartition(4).createOrReplaceTempView("ups_rdf_s2")
      s.sql("CALL lake.system.upsert('verify.ups_rdf', 'ups_rdf_s2', 'k')")
      // bin-pack the per-task eq-delete files; results must not move
      s.sql("CALL lake.system.rewrite_delete_files('verify.ups_rdf')")
      s.sql(
        """SELECT v, CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS ksum,
          |  CAST(sum(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS total
          |FROM lake.verify.ups_rdf GROUP BY v ORDER BY v""".stripMargin)
    },

    QueryDef.df(
      "q102_rewrite_pos_deletes",
      // Oracle = the post-delete state computed from scratch. A
      // merge-on-read table takes two point-DELETE waves (positional
      // tombstones), a SCOPED compact folds part of the table (stranding
      // dead tombstone entries aimed at the rewritten files), then
      // rewrite_position_delete_files bin-packs the survivors and drops
      // the dead entries WITHOUT touching data. A hash match proves the
      // whole maintenance chain is metadata-only: every surviving row
      // reads back exactly.
      """SELECT v, CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS ksum,
        |  CAST(sum(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM (SELECT o_orderkey AS k, o_orderpriority AS v,
        |        CAST(o_totalprice AS DOUBLE) AS amt
        |      FROM orders
        |      WHERE NOT (o_orderkey % 7 = 0) AND NOT (o_orderkey % 11 = 3)) s
        |GROUP BY v ORDER BY v""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.rpd_t")
      s.sql(
        """CREATE TABLE lake.verify.rpd_t
          |TBLPROPERTIES ('write.delete.mode'='merge-on-read') AS
          |SELECT o_orderkey AS k, o_orderpriority AS v,
          |  CAST(o_totalprice AS DOUBLE) AS amt
          |FROM orders""".stripMargin)
      s.sql("DELETE FROM lake.verify.rpd_t WHERE k % 7 = 0")
      s.sql("DELETE FROM lake.verify.rpd_t WHERE k % 11 = 3")
      // scoped compact rewrites only part of the key range: tombstone
      // entries aimed at the rewritten files go dead in place
      s.sql("CALL lake.system.compact('verify.rpd_t', where => 'k < 1000')")
      s.sql("CALL lake.system.rewrite_position_delete_files('verify.rpd_t')")
      s.sql(
        """SELECT v, CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS ksum,
          |  CAST(sum(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS total
          |FROM lake.verify.rpd_t GROUP BY v ORDER BY v""".stripMargin)
    },

    QueryDef.df(
      "q103_bloom_point_lookup",
      // Oracle = the same needle lookups straight off the parquet. The
      // lake table is written as two interleaved halves (even/odd keys),
      // so every file's min/max covers every needle — any file skipping is
      // the FILE-LEVEL BLOOM's (sidecar-carried, FileBloomSpec asserts the
      // plan shape); the hash match proves skipping never drops a row.
      """SELECT k, v, CAST(amt AS DOUBLE) AS amt FROM (
        |  SELECT o_orderkey AS k, o_orderpriority AS v, o_totalprice AS amt
        |  FROM orders) s
        |WHERE k IN (8, 13, 444, 1201, 2026, 999983)
        |ORDER BY k""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.blm_orders")
      s.sql(
        """CREATE TABLE lake.verify.blm_orders
          |TBLPROPERTIES ('write.bloom-columns'='k') AS
          |SELECT o_orderkey AS k, o_orderpriority AS v,
          |  CAST(o_totalprice AS DOUBLE) AS amt
          |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin)
      s.sql(
        """INSERT INTO lake.verify.blm_orders
          |SELECT o_orderkey, o_orderpriority, CAST(o_totalprice AS DOUBLE)
          |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin)
      s.sql(
        """SELECT k, v, CAST(amt AS DOUBLE) AS amt FROM lake.verify.blm_orders
          |WHERE k IN (8, 13, 444, 1201, 2026, 999983)
          |ORDER BY k""".stripMargin)
    },

    QueryDef.df(
      "q105_time_partitions",
      // Oracle = the same backfilled state computed from scratch. Events
      // land in a days(ts)-partitioned table (clustered one-file-per-day
      // writes), a DYNAMIC OVERWRITE backfills exactly one day (doubling
      // that day's values), and the final read filters a ts range — the
      // canonical time-partitioned fact-table lifecycle. A hash match
      // proves per-day attribution, the single-day replacement, and the
      // range read over the survivors.
      """WITH base AS (
        |  SELECT CAST(ts AS DATE) AS d, event_type,
        |    CASE WHEN CAST(ts AS DATE) = DATE '2024-01-02'
        |         THEN CAST(value AS DOUBLE) * 2 ELSE CAST(value AS DOUBLE) END AS v
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-05 00:00:00')
        |SELECT d, event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM base GROUP BY d, event_type ORDER BY d, event_type""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.ev_days")
      s.sql(
        """CREATE TABLE lake.verify.ev_days
          |PARTITIONED BY (days(ts)) AS
          |SELECT ts, event_type, CAST(value AS DOUBLE) AS value FROM events""".stripMargin)
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try s.sql(
        """INSERT OVERWRITE lake.verify.ev_days
          |SELECT ts, event_type, CAST(value AS DOUBLE) * 2
          |FROM events
          |WHERE CAST(ts AS DATE) = DATE '2024-01-02'""".stripMargin)
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      s.sql(
        """SELECT CAST(ts AS DATE) AS d, event_type, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
          |FROM lake.verify.ev_days
          |WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
          |  AND ts < TIMESTAMP '2024-01-05 00:00:00'
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    },

    QueryDef.df(
      "q106_truncate_partitions",
      // Oracle = the same backfilled state from scratch. Orders land in a
      // truncate(500, k)-partitioned table over a SCALE-INVARIANT band key
      // (o_orderkey mod 2000 → exactly 4 bands at every SF; partitioning
      // directly on the raw key would mint files ∝ rows — the classic
      // mis-specified-spec trap), a dynamic overwrite backfills exactly
      // one band (tripling its values), and the final read filters a key
      // range. Proves per-band attribution, single-band replacement, and
      // the range read.
      """WITH base AS (
        |  SELECT o_orderkey % 2000 AS k, o_orderpriority AS p,
        |    CASE WHEN o_orderkey % 2000 >= 500 AND o_orderkey % 2000 < 1000
        |         THEN CAST(o_totalprice AS DOUBLE) * 3
        |         ELSE CAST(o_totalprice AS DOUBLE) END AS amt
        |  FROM orders)
        |SELECT p, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM base WHERE k >= 500 AND k < 1700 GROUP BY p ORDER BY p""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.ord_bands")
      s.sql(
        """CREATE TABLE lake.verify.ord_bands
          |PARTITIONED BY (truncate(500, k)) AS
          |SELECT o_orderkey % 2000 AS k, o_orderpriority AS p,
          |  CAST(o_totalprice AS DOUBLE) AS amt
          |FROM orders""".stripMargin)
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try s.sql(
        """INSERT OVERWRITE lake.verify.ord_bands
          |SELECT o_orderkey % 2000, o_orderpriority, CAST(o_totalprice AS DOUBLE) * 3
          |FROM orders WHERE o_orderkey % 2000 >= 500 AND o_orderkey % 2000 < 1000""".stripMargin)
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      s.sql(
        """SELECT p, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS total
          |FROM lake.verify.ord_bands
          |WHERE k >= 500 AND k < 1700
          |GROUP BY p ORDER BY p""".stripMargin)
    },

    QueryDef.df(
      "q84_snapshot_clone",
      // Oracle = both tables' final states computed from scratch. A
      // zero-copy clone is taken after upsert epoch U1; the source then
      // advances (U2 over %8 keys), the clone diverges independently (C1
      // over %6 keys + brand-new %4=1 inserts). A hash match proves the
      // clone carried the source's live state (including eq-delete
      // applicability) by reference, and that the two lineages never leak
      // into each other.
      """WITH src AS (
        |  SELECT CASE WHEN c_custkey % 8 = 0 THEN 'U2'
        |              WHEN c_custkey % 4 = 0 THEN 'U1'
        |              ELSE c_mktsegment END AS seg,
        |    CAST(c_acctbal AS DOUBLE) *
        |      CASE WHEN c_custkey % 8 = 0 THEN CAST(3 AS DOUBLE)
        |           WHEN c_custkey % 4 = 0 THEN CAST(2 AS DOUBLE)
        |           ELSE CAST(1 AS DOUBLE) END AS bal
        |  FROM customer WHERE c_custkey % 2 = 0
        |), clone AS (
        |  SELECT CASE WHEN c_custkey % 6 = 0 THEN 'C1'
        |              WHEN c_custkey % 4 = 0 THEN 'U1'
        |              ELSE c_mktsegment END AS seg,
        |    CAST(c_acctbal AS DOUBLE) *
        |      CASE WHEN c_custkey % 6 = 0 THEN CAST(5 AS DOUBLE)
        |           WHEN c_custkey % 4 = 0 THEN CAST(2 AS DOUBLE)
        |           ELSE CAST(1 AS DOUBLE) END AS bal
        |  FROM customer WHERE c_custkey % 2 = 0
        |  UNION ALL
        |  SELECT 'C1', CAST(c_acctbal AS DOUBLE) * CAST(5 AS DOUBLE)
        |  FROM customer WHERE c_custkey % 4 = 1
        |)
        |SELECT side, seg, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(bal AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM (SELECT 'src' AS side, seg, bal FROM src
        |      UNION ALL SELECT 'clone' AS side, seg, bal FROM clone) u
        |GROUP BY side, seg ORDER BY side, seg""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.sc_base")
      s.sql("DROP TABLE IF EXISTS lake.verify.sc_clone")
      s.sql(
        """CREATE TABLE lake.verify.sc_base AS
          |SELECT c_custkey AS k, c_mktsegment AS seg,
          |  CAST(c_acctbal AS DOUBLE) AS bal
          |FROM customer WHERE c_custkey % 2 = 0""".stripMargin)
      s.sql(
        """SELECT c_custkey AS k, 'U1' AS seg,
          |  CAST(c_acctbal AS DOUBLE) * CAST(2 AS DOUBLE) AS bal
          |FROM customer WHERE c_custkey % 4 = 0""".stripMargin)
        .createOrReplaceTempView("sc_u1")
      s.sql("CALL lake.system.upsert('verify.sc_base', 'sc_u1', 'k')")
      // zero-copy clone of the post-U1 state
      s.sql("CALL lake.system.snapshot('verify.sc_base', 'verify.sc_clone')")
      // source advances...
      s.sql(
        """SELECT c_custkey AS k, 'U2' AS seg,
          |  CAST(c_acctbal AS DOUBLE) * CAST(3 AS DOUBLE) AS bal
          |FROM customer WHERE c_custkey % 8 = 0""".stripMargin)
        .createOrReplaceTempView("sc_u2")
      s.sql("CALL lake.system.upsert('verify.sc_base', 'sc_u2', 'k')")
      // ...and the clone diverges independently
      s.sql(
        """SELECT c_custkey AS k, 'C1' AS seg,
          |  CAST(c_acctbal AS DOUBLE) * CAST(5 AS DOUBLE) AS bal
          |FROM customer WHERE c_custkey % 6 = 0 OR c_custkey % 4 = 1""".stripMargin)
        .createOrReplaceTempView("sc_c1")
      s.sql("CALL lake.system.upsert('verify.sc_clone', 'sc_c1', 'k')")
      s.sql(
        """SELECT side, seg, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(bal AS DECIMAL(18,6))) AS DOUBLE) AS total
          |FROM (SELECT 'src' AS side, seg, bal FROM lake.verify.sc_base
          |      UNION ALL
          |      SELECT 'clone' AS side, seg, bal FROM lake.verify.sc_clone) u
          |GROUP BY side, seg ORDER BY side, seg""".stripMargin)
    },

    QueryDef.df(
      "q97_sorted_spj_join",
      // Oracle = the same join computed directly over the raw parquet. The
      // Spark side routes it through two lake tables bucketed AND sorted on
      // the join key: the scans report KeyGroupedPartitioning (no exchange)
      // plus SupportsReportOrdering (no sort), so the forced sort-merge
      // join runs entirely on storage layout — the hash match proves the
      // zero-shuffle zero-sort read path returns exactly the right rows
      // (plan shape asserted in SortedScanSpec).
      """SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.so_cust")
      s.sql("DROP TABLE IF EXISTS lake.verify.so_ord")
      s.sql(
        """CREATE TABLE lake.verify.so_cust (k BIGINT, seg STRING)
          |PARTITIONED BY (bucket(8, k))
          |TBLPROPERTIES ('write.sort-order'='k')""".stripMargin)
      s.sql(
        """CREATE TABLE lake.verify.so_ord (k BIGINT, price DOUBLE)
          |PARTITIONED BY (bucket(8, k))
          |TBLPROPERTIES ('write.sort-order'='k')""".stripMargin)
      s.sql("INSERT INTO lake.verify.so_cust SELECT c_custkey, c_mktsegment FROM customer")
      s.sql(
        """INSERT INTO lake.verify.so_ord
          |SELECT o_custkey, CAST(o_totalprice AS DOUBLE) FROM orders""".stripMargin)
      // MERGE hint pins the sort-merge strategy a large-table join would
      // take; the co-partitioned sorted scans then need no exchange/sort
      s.sql(
        """SELECT /*+ MERGE(o) */ c.seg,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(o.price AS DECIMAL(18,6))) AS DOUBLE) AS total
          |FROM lake.verify.so_cust c JOIN lake.verify.so_ord o ON c.k = o.k
          |GROUP BY c.seg ORDER BY c.seg""".stripMargin)
    },

    QueryDef.df(
      "q98_dynamic_overwrite",
      // Oracle = the post-backfill state computed from scratch: the
      // '1-URGENT' partition carries recomputed (doubled) amounts, every
      // other partition the original load. A hash match proves dynamic
      // partition overwrite replaced exactly the touched partition —
      // atomically, via one file-replacing CAS commit — and left the rest
      // byte-identical.
      """SELECT o_orderpriority AS prio, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice *
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 2 ELSE 1 END
        |    AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.dyn_ow")
      s.sql(
        """CREATE TABLE lake.verify.dyn_ow (prio STRING, k BIGINT, amt DOUBLE)
          |PARTITIONED BY (prio)""".stripMargin)
      s.sql(
        """INSERT INTO lake.verify.dyn_ow
          |SELECT o_orderpriority, o_orderkey, CAST(o_totalprice AS DOUBLE)
          |FROM orders""".stripMargin)
      // backfill ONE partition: recompute it (doubled) and swap it in with
      // partitionOverwriteMode=dynamic — other partitions never rewritten
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try s.sql(
        """INSERT OVERWRITE lake.verify.dyn_ow
          |SELECT o_orderpriority, o_orderkey, CAST(o_totalprice AS DOUBLE) * 2
          |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin)
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      s.sql(
        """SELECT prio, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS total
          |FROM lake.verify.dyn_ow GROUP BY prio ORDER BY prio""".stripMargin)
    },

    QueryDef.df(
      "q101_schema_evolution",
      // Oracle = the final table reconstructed from raw parquet: rows
      // loaded BEFORE the evolution carry NULL in the added column and
      // their narrow-int ids; rows after carry scores and wide ids. A
      // hash match proves rename resolves through field-id column
      // mapping (old files still answer under the new name), the added
      // column null-backfills historical files, and INT→BIGINT widening
      // promotes old physical values exactly.
      """WITH final AS (
        |  SELECT o_orderkey AS id, o_orderpriority AS prio_renamed,
        |    CAST(NULL AS DOUBLE) AS score
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderpriority, CAST(o_totalprice AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT prio_renamed, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(score) AS BIGINT) AS n_scored,
        |  CAST(sum(id) AS BIGINT) AS idsum,
        |  CAST(sum(CAST(coalesce(score, 0) AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM final GROUP BY prio_renamed ORDER BY prio_renamed""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.se_t")
      s.sql(
        """CREATE TABLE lake.verify.se_t AS
          |SELECT CAST(o_orderkey AS INT) AS id, o_orderpriority AS prio
          |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin)
      // evolve: rename (field-id mapping), add a column (null backfill on
      // old files), widen the id type (old INT values promote on read)
      s.sql("ALTER TABLE lake.verify.se_t RENAME COLUMN prio TO prio_renamed")
      s.sql("ALTER TABLE lake.verify.se_t ADD COLUMN score DOUBLE")
      s.sql("ALTER TABLE lake.verify.se_t ALTER COLUMN id TYPE BIGINT")
      s.sql(
        """INSERT INTO lake.verify.se_t
          |SELECT o_orderkey, o_orderpriority, CAST(o_totalprice AS DOUBLE)
          |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin)
      s.sql(
        """SELECT prio_renamed, CAST(count(*) AS BIGINT) AS n,
          |  CAST(count(score) AS BIGINT) AS n_scored,
          |  CAST(sum(id) AS BIGINT) AS idsum,
          |  CAST(sum(CAST(coalesce(score, 0) AS DECIMAL(18,6))) AS DOUBLE) AS total
          |FROM lake.verify.se_t GROUP BY prio_renamed ORDER BY prio_renamed""".stripMargin)
    },

    QueryDef.df(
      "q159_snapshot_diff",
      // Semantic diff between ARBITRARY snapshots — q90's changelog needs
      // the CDC log; this one needs only two readable versions: FULL OUTER
      // join current against VERSION AS OF 1 on the key and classify every
      // key as added / removed / changed / unchanged. The table is
      // merge-on-read, so the v1 read must NOT apply the later tombstones
      // and the current read must (time-travel × MoR interaction is the
      // stress). Oracle = both versions derived from scratch from orders.
      // At scale: one equi-join keyed on the table key — and identical
      // clustered writes make it an SPJ candidate; kind counts are a
      // hash-agg to 4 rows.
      """WITH v1 AS (
        |  SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS v
        |  FROM orders WHERE o_orderkey % 4 = 0),
        |cur AS (
        |  SELECT k, CASE WHEN k % 10 = 6 THEN v * CAST(2 AS DOUBLE) ELSE v END AS v
        |  FROM v1 WHERE k % 20 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 4 = 1 AND o_orderkey % 5 = 0)
        |SELECT kind, CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS key_sum
        |FROM (
        |  SELECT CASE WHEN b.k IS NULL THEN 'removed'
        |              WHEN a.k IS NULL THEN 'added'
        |              WHEN a.v <> b.v THEN 'changed' ELSE 'unchanged' END AS kind,
        |    coalesce(a.k, b.k) AS k
        |  FROM cur a FULL OUTER JOIN v1 b ON a.k = b.k) d
        |GROUP BY kind ORDER BY kind""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.sd_t")
      s.sql(
        """CREATE TABLE lake.verify.sd_t
          |TBLPROPERTIES ('write.delete.mode'='merge-on-read',
          |               'write.update.mode'='merge-on-read')
          |AS SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS v
          |FROM orders WHERE o_orderkey % 4 = 0""".stripMargin)
      s.sql("DELETE FROM lake.verify.sd_t WHERE k % 20 = 0")
      s.sql("UPDATE lake.verify.sd_t SET v = v * 2 WHERE k % 10 = 6")
      s.sql(
        """INSERT INTO lake.verify.sd_t
          |SELECT o_orderkey, CAST(o_totalprice AS DOUBLE)
          |FROM orders WHERE o_orderkey % 4 = 1 AND o_orderkey % 5 = 0""".stripMargin)
      s.sql(
        """SELECT kind, CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS key_sum
          |FROM (
          |  SELECT CASE WHEN b.k IS NULL THEN 'removed'
          |              WHEN a.k IS NULL THEN 'added'
          |              WHEN a.v <> b.v THEN 'changed' ELSE 'unchanged' END AS kind,
          |    coalesce(a.k, b.k) AS k
          |  FROM lake.verify.sd_t a
          |  FULL OUTER JOIN (SELECT * FROM lake.verify.sd_t VERSION AS OF 1) b
          |  ON a.k = b.k) d
          |GROUP BY kind ORDER BY kind""".stripMargin)
    },

    QueryDef.df(
      "q168_ts_travel_rollback",
      // TIMESTAMP AS OF + rollback, both under the hash gate: leg 1 reads
      // the table AS OF snapshot 1's commit timestamp (resolved from the
      // $snapshots metadata table, at-or-before semantics) AFTER a second
      // append moved the pointer; leg 2 rolls the table back and reads
      // current. Both legs must equal the FIRST slice exactly — the
      // oracle states that slice twice from scratch. The 50 ms pause
      // between the commits keeps the two snapshots' millisecond
      // timestamps distinct, so the at-or-before boundary is unambiguous.
      """SELECT leg, p, n, ksum FROM (
        |  SELECT 'as_of_ts' AS leg, o_orderpriority AS p,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(o_orderkey) AS BIGINT) AS ksum
        |  FROM orders WHERE o_orderkey % 7 = 0 GROUP BY 2
        |  UNION ALL
        |  SELECT 'after_rollback', o_orderpriority,
        |    CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 7 = 0 GROUP BY 2) x
        |ORDER BY leg, p""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS lake.verify")
      s.sql("DROP TABLE IF EXISTS lake.verify.ttr")
      s.sql(
        """CREATE TABLE lake.verify.ttr AS
          |SELECT o_orderkey AS k, o_orderpriority AS p
          |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin)
      // resolve the snapshot-1 commit time NUMERICALLY (epoch millis) —
      // Timestamp.toString renders in the JVM default timezone and the
      // re-parse happens under the session timezone, so the string round
      // trip is wrong whenever the two differ; timestamp_millis() is
      // timezone-free in both directions
      val snap1Ms = s.sql(
        "SELECT committed_at FROM lake.verify.`ttr$snapshots` WHERE snapshot_id = 1")
        .collect()(0).getTimestamp(0).getTime
      // commit times come from System.currentTimeMillis and AS-OF ties
      // break toward the HIGHER snapshot — busy-wait past snapshot 1's
      // millisecond so snapshot 2 is guaranteed strictly later (the old
      // sleep(50) was merely probabilistic on a stalled CI box)
      while (System.currentTimeMillis() <= snap1Ms) Thread.sleep(1)
      s.sql(
        """INSERT INTO lake.verify.ttr
          |SELECT o_orderkey, o_orderpriority
          |FROM orders WHERE o_orderkey % 7 = 1""".stripMargin)
      val snap2Ms = s.sql(
        "SELECT committed_at FROM lake.verify.`ttr$snapshots` WHERE snapshot_id = 2")
        .collect()(0).getTimestamp(0).getTime
      require(snap2Ms > snap1Ms,
        s"snapshot commit millis not distinct: $snap1Ms vs $snap2Ms")
      val asOf = s.sql(
        s"""SELECT 'as_of_ts' AS leg, p, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(k) AS BIGINT) AS ksum
           |FROM lake.verify.ttr TIMESTAMP AS OF timestamp_millis(${snap1Ms}L)
           |GROUP BY p""".stripMargin)
      s.sql("CALL lake.system.rollback(table => 'verify.ttr', snapshot_id => 1)")
      val after = s.sql(
        """SELECT 'after_rollback' AS leg, p, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(k) AS BIGINT) AS ksum
          |FROM lake.verify.ttr GROUP BY p""".stripMargin)
      asOf.union(after).orderBy("leg", "p")
    })
}
