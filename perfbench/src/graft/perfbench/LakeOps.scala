package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.catalog.{DataFileMeta, EqDeletes, LakeScan, ManifestIO, PointerStore, PositionalParquet, TableMeta}

/** lake_ops: one client in a closed loop against `lake.db.bench`, a CTAS of
  * the generated `lineitem`, bucketed by `l_orderkey`, merge-on-read for
  * every row-level command, with file blooms on `l_orderkey`. The catalog's
  * pointer store answers with 2 ms of injected latency per statement (the
  * repository's remote-Postgres emulation).
  *
  * Ops (seeded): 33% point reads by key (half on keys this run wrote), 17%
  * range reads (count and integer checksums over a key range), 50% MoR
  * INSERT / UPDATE / DELETE / MERGE on a few keys. Every read is compared
  * with an in-benchmark model of the table. At fixed positions one
  * maintenance round runs inline: compact, rewrite_position_delete_files,
  * expire_snapshots(keep_last => 5); its time counts in the measured phase.
  */
object LakeOps {
  private final case class Line(ln: Int, q: Long)

  /** Rows per key; keys beyond the generated range are fresh inserts. */
  private final class Model {
    val rows = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Line]]
    def of(k: Long): mutable.ArrayBuffer[Line] = rows.getOrElseUpdate(k, mutable.ArrayBuffer.empty)
    def point(k: Long): Seq[(Int, Long)] = rows.get(k).toSeq.flatten.map(l => (l.ln, l.q)).sorted
    def range(lo: Long, hi: Long): (Long, Long, Long) = {
      var (n, sk, sv) = (0L, 0L, 0L)
      rows.foreach { case (k, ls) =>
        if (k >= lo && k <= hi) ls.foreach { l => n += 1; sk += k; sv += l.ln * 64L + l.q }
      }
      (n, sk, sv)
    }
  }

  private val Table = "lake.db.bench"
  private val Props = "TBLPROPERTIES ('write.delete.mode'='merge-on-read', " +
    "'write.update.mode'='merge-on-read', 'write.merge.mode'='merge-on-read', " +
    "'write.bloom-columns'='l_orderkey')"
  private val RangeKeys = 40

  def run(a: Main.Args): Result = {
    PointerStore.injectedLatencyMs.set(2)
    val cores = Main.cores
    val spark = Main.session(a, cores)
    val sessionS = Main.sinceJvmStart
    val url = spark.conf.get("spark.sql.catalog.lake.jdbc.url")
    val src = s"parquet.`${a.data}/lineitem.parquet`"
    def ctas(name: String, from: String): Unit =
      spark.sql(s"CREATE TABLE lake.db.$name PARTITIONED BY (bucket(8, l_orderkey)) $Props " +
        s"AS SELECT * FROM $from")

    // the model: every generated row's (key, line number, quantity), as the
    // generator wrote them next to the parquet
    val model = new Model
    val buf = java.nio.ByteBuffer.wrap(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${a.data}/lineitem.model.bin"))).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    while (buf.hasRemaining) model.of(buf.getLong()) += Line(buf.getInt(), buf.getInt().toLong)
    val nKeys = model.rows.keys.max + 1

    // set-up: one build of the measured table, then a warm-up of one op of
    // every kind on it, checked against the model like every measured op.
    // Maintenance is not warmed: that costs more set-up than it saves in
    // the measured round.
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.db")
    val buildS = Main.timed(ctas("bench", src))
    val meta = new MetaReader(spark, url)
    val fresh0 = meta.current("bench")
    require(Seq("delete", "update", "merge").forall(c =>
      fresh0.props.get(s"write.$c.mode").contains("merge-on-read")),
      s"lake.db.bench is not merge-on-read: ${fresh0.props}")
    val rowBytes = fresh0.dataBytes.toDouble / fresh0.rows
    val tsType = spark.table(Table).schema("l_shipdate").dataType.sql
    val rnd = new scala.util.Random(a.seed)
    val ops = new Ops(spark, Table, model, rnd, nKeys, tsType, Ops.Kinds ++ Ops.deck(a.ops, rnd))
    val warmS = Main.timed(Ops.Kinds.indices.foreach { i =>
      val op = ops.next(i)
      require(op.run(), s"warm-up ${op.sql}: result differs from the model")
    })
    ops.readOpIds.clear()
    val setupS = sessionS + buildS + warmS
    Main.requireClean(spark, "set-up")

    // measured phase
    Main.Reference.warm()
    Main.drain(spark)
    val before = Counters.snapshot()
    val maintEvery = math.max(2, a.ops / 2) // one round, mid-run
    val lat, ref = new Latencies
    val errors = Seq.newBuilder[String]
    var failed, mismatched = 0
    var maintS = 0.0
    var rowsReturned = 0L
    var filesWritten, bytesWritten, userRows = 0L
    var maintFiles, maintBytes = 0L
    val sc = spark.sparkContext
    val wall0 = System.nanoTime()
    (0 until a.ops).foreach { i =>
      val op = ops.next(Ops.Kinds.size + i)
      val id = i + 1L
      sc.setLocalProperty("perfbench.op", id.toString)
      val live0 = if (a.trace && op.isWrite) meta.current("bench").live else Map.empty[String, Long]
      val ref0 = Main.Reference.ms()
      val t0 = System.nanoTime()
      try {
        val ok = Trace.withOp(id)(Trace.span(s"op.${op.kind}")(op.run()))
        val ms = (System.nanoTime() - t0) / 1e6
        lat.add(op.kind, ms)
        ref.add(op.kind, (ref0 + Main.Reference.ms()) / 2)
        if (!ok) { mismatched += 1; errors += s"op $id ${op.sql}: result differs from the model" }
        rowsReturned += op.rowsReturned
      } catch {
        case e: Exception => failed += 1; errors += s"op $id ${op.sql}: ${e.getMessage}"
      }
      if (a.trace && op.isWrite) {
        val added = meta.current("bench").live -- live0.keys
        filesWritten += added.size
        bytesWritten += added.values.sum
        userRows += op.rowsWritten
      }
      Main.requireClean(spark, s"op $id")
      if ((i + 1) % maintEvery == 0 && i + 1 < a.ops) {
        sc.setLocalProperty("perfbench.op", null)
        val live0 = if (a.trace) meta.current("bench").live else Map.empty[String, Long]
        maintS += Main.timed(Trace.span("op.maint") {
          Trace.span("maint.compact")(spark.sql("CALL lake.system.compact('db.bench', 262144)").collect())
          Trace.span("maint.rewrite_position_delete_files")(
            spark.sql("CALL lake.system.rewrite_position_delete_files('db.bench')").collect())
          Trace.span("maint.expire_snapshots")(
            spark.sql("CALL lake.system.expire_snapshots('db.bench', 5)").collect())
        })
        if (a.trace) {
          val gone = live0 -- meta.current("bench").live.keys
          maintFiles += gone.size
          maintBytes += gone.values.sum
        }
        Main.requireClean(spark, "maintenance")
      }
    }
    val wallS = (System.nanoTime() - wall0) / 1e9
    sc.setLocalProperty("perfbench.op", null)
    Main.drain(spark)
    val after = Counters.snapshot()
    val readRecords = ops.readOpIds.toSeq.map(Trace.opRecords).sum

    // final state: full-table checksums against the model, then space
    // amplification against a fresh CTAS of the same rows
    val fin = spark.sql(s"SELECT count(*), coalesce(sum(l_orderkey), 0), " +
      s"coalesce(sum(l_linenumber * 64 + CAST(l_quantity AS BIGINT)), 0) FROM $Table").head()
    val expect = model.range(Long.MinValue, Long.MaxValue)
    val finalOk = (fin.getLong(0), fin.getLong(1), fin.getLong(2)) == expect
    if (!finalOk) errors += s"final table (count, key sum, checksum) ${(fin.getLong(0), fin.getLong(1), fin.getLong(2))} != model $expect"
    val end = meta.current("bench")
    // space amplification needs a fresh CTAS of the final rows: traced run only
    val fresh = if (a.trace) { ctas("fresh", Table); Some(meta.current("fresh")) } else None
    val spaceAmp = fresh.map(f => end.totalBytes.toDouble / f.totalBytes).getOrElse(Double.NaN)
    spark.stop()

    val reads = lat("point", "range")
    val writes = lat("insert", "update", "delete", "merge")
    val d = Counters.delta(before, after)
    val layers = if (!a.trace) Map.empty[String, Double] else Layers.from(d, wallS, cores) ++ Map(
      "write.p50_ms" -> Main.median(writes),
      "write.space_amp" -> spaceAmp,
      "maint.s" -> maintS,
      "tablemeta.doc_bytes" -> end.docBytes.toDouble,
      "scan.rows_per_row_returned" -> readRecords.toDouble / math.max(1L, rowsReturned),
      "write.files_written" -> filesWritten.toDouble,
      "write.bytes_per_user_byte" -> bytesWritten / math.max(1.0, userRows * rowBytes),
      "write.delete_files_live" -> end.deleteFiles.toDouble,
      "maint.files_rewritten" -> maintFiles.toDouble,
      "maint.bytes_rewritten" -> maintBytes.toDouble)
    Result("lake_ops", a.seed, a.trace, a.ops, failed, correct = failed == 0 && mismatched == 0 && finalOk,
      errors.result(),
      e2e = Map(
        "setup_s" -> setupS,
        "op_ref" -> Main.mixMedian(lat, Ops.Classes) / Main.median(ref.all),
        "read_ref" -> Main.mixMedian(lat, Ops.ReadClasses) / Main.median(ref.all)),
      layers = layers,
      info = Map(
        "latency_all" -> Main.latencyJson(lat.all),
        "latency_read" -> Main.latencyJson(reads),
        "latency_write" -> Main.latencyJson(writes),
        "latency_kind" -> Ops.Classes.map(k => s""""$k":${Main.latencyJson(lat(k))}""").mkString("{", ",", "}"),
        "build_s" -> buildS.toString,
        "warmup_s" -> warmS.toString,
        "maint_s" -> maintS.toString,
        "session_s" -> sessionS.toString,
        "table_start" -> fresh0.json,
        "table_end" -> end.json,
        "table_fresh" -> fresh.map(_.json).getOrElse("null"),
        "manifest_cache" -> (s"""{"manifests":${ManifestIO.cachedManifestCount},"entries":${ManifestIO.cachedEntryCount},""" +
          s""""bound_manifests":${Integer.getInteger("graft.manifest-cache.max-manifests", 16384)},""" +
          s""""bound_entries":${java.lang.Long.getLong("graft.manifest-cache.max-entries", 131072L)}}"""),
        "ops_per_s" -> (lat.all.size / wallS).toString,
        "reference_ms" -> Main.latencyJson(ref.all),
        "measured_s" -> wallS.toString))
  }

  private object Ops {
    /** The latency classes: reads first. */
    val ReadClasses = Seq("point", "range")
    val Classes = ReadClasses ++ Seq("insert", "update", "delete", "merge")

    /** Every op kind once: the warm-up sequence, run before the measured deck. */
    val Kinds: IndexedSeq[String] =
      IndexedSeq("point-written", "point-any", "range", "insert", "update", "delete", "merge")

    /** `n` op kinds in exact proportions, so every seed runs the same mix:
      * 1/6 point reads on written keys, the rest of the reads on any key, 1/6
      * range reads, 2/15 each UPDATE, DELETE and INSERT, and 1/10 MERGE. At
      * 36 ops that is 11 point reads, 6 range reads, 5 each of UPDATE, DELETE
      * and INSERT, and 4 MERGEs.
      */
    def deck(n: Int, rnd: scala.util.Random): IndexedSeq[String] = {
      def c(f: Double) = math.round(n * f).toInt
      val fixed = Seq.fill(c(1.0 / 6))("point-written") ++ Seq.fill(c(1.0 / 6))("range") ++
        Seq.fill(c(2.0 / 15))("update") ++ Seq.fill(c(2.0 / 15))("delete") ++
        Seq.fill(c(2.0 / 15))("insert") ++ Seq.fill(c(0.1))("merge")
      rnd.shuffle(fixed ++ Seq.fill(math.max(0, n - fixed.size))("point-any")).take(n).toIndexedSeq
    }
  }

  /** The seeded op stream against one table and its model. */
  private final class Ops(spark: SparkSession, table: String, model: Model,
      rnd: scala.util.Random, nKeys: Long, tsType: String, deck: IndexedSeq[String]) {
    private val written = mutable.ArrayBuffer.empty[Long]
    private var freshKey = nKeys
    val readOpIds = mutable.ArrayBuffer.empty[Long]

    final class Op(val kind: String, val sql: String, val isWrite: Boolean,
        check: Seq[org.apache.spark.sql.Row] => Boolean, apply: () => Unit, val rowsWritten: Long) {
      var rowsReturned = 0L
      def run(): Boolean = {
        val rows = spark.sql(sql).collect().toSeq
        if (!isWrite) { rowsReturned = rows.size; readOpIds += Trace.currentOp }
        apply()
        check(rows)
      }
    }

    private def anyKey(): Long = rnd.nextLong(nKeys)
    private def line(k: Long, ln: Int, q: Long): String =
      s"(${k}L, 0L, 0L, $ln, ${q}D, 1000.0D, 0.05D, 0.02D, 'N', 'O', $tsType '2000-01-01 00:00:00')"
    private def note(k: Long): Unit = written += k
    private def lineOf(k: Long): Option[Line] = {
      val ls = model.rows.get(k).filter(_.nonEmpty)
      ls.map(l => l(rnd.nextInt(l.size)))
    }

    def next(i: Int): Op = deck(i) match {
      case "point-written" | "point-any" =>
        val k = if (written.nonEmpty && deck(i) == "point-written") written(rnd.nextInt(written.size))
          else anyKey()
        val expect = model.point(k)
        new Op("point", s"SELECT l_linenumber, CAST(l_quantity AS BIGINT) FROM $table WHERE l_orderkey = $k",
          false, rows => rows.map(r => (r.getInt(0), r.getLong(1))).sorted == expect, () => (), 0)
      case "range" =>
        val lo = rnd.nextLong(nKeys)
        val hi = lo + RangeKeys - 1
        val expect = model.range(lo, hi)
        new Op("range", s"SELECT count(*), coalesce(sum(l_orderkey), 0), " +
          s"coalesce(sum(l_linenumber * 64 + CAST(l_quantity AS BIGINT)), 0) FROM $table " +
          s"WHERE l_orderkey BETWEEN $lo AND $hi",
          false, rows => (rows.head.getLong(0), rows.head.getLong(1), rows.head.getLong(2)) == expect,
          () => (), 0)
      case "insert" =>
        val k = if (rnd.nextBoolean()) anyKey() else { freshKey += 1; freshKey - 1 }
        val add = Seq.fill(1 + rnd.nextInt(3))(Line(1 + rnd.nextInt(7), 1L + rnd.nextInt(50)))
        note(k)
        new Op("insert", s"INSERT INTO $table VALUES ${add.map(l => line(k, l.ln, l.q)).mkString(", ")}",
          true, _ => true, () => model.of(k) ++= add, add.size)
      case "update" =>
        val k = anyKey()
        note(k)
        val n = model.rows.get(k).map(_.size).getOrElse(0)
        new Op("update", s"UPDATE $table SET l_quantity = l_quantity + 1 WHERE l_orderkey = $k",
          true, _ => true, () => model.rows.get(k).foreach(ls => ls.mapInPlace(l => l.copy(q = l.q + 1))), n)
      case "delete" =>
        val k = anyKey()
        val ln = lineOf(k).map(_.ln).getOrElse(1)
        note(k)
        val n = model.rows.get(k).map(_.count(_.ln == ln)).getOrElse(0)
        new Op("delete", s"DELETE FROM $table WHERE l_orderkey = $k AND l_linenumber = $ln",
          true, _ => true, () => model.rows.get(k).foreach(_.filterInPlace(_.ln != ln)), n)
      case "merge" =>
        val k = anyKey()
        val hit = lineOf(k).map(_.ln).getOrElse(1)
        val q1 = 1L + rnd.nextInt(50)
        val k2 = { freshKey += 1; freshKey - 1 }
        val ln2 = 1 + rnd.nextInt(7)
        val q2 = 1L + rnd.nextInt(50)
        note(k); note(k2)
        val n = model.rows.get(k).map(_.count(_.ln == hit)).getOrElse(0) + 1
        new Op("merge",
          s"MERGE INTO $table t USING (SELECT * FROM VALUES (${k}L, $hit, ${q1}D), (${k2}L, $ln2, ${q2}D) " +
            "AS s(k, ln, q)) s ON t.l_orderkey = s.k AND t.l_linenumber = s.ln " +
            "WHEN MATCHED THEN UPDATE SET t.l_quantity = s.q " +
            "WHEN NOT MATCHED THEN INSERT (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, " +
            "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate) VALUES " +
            s"(s.k, 0L, 0L, s.ln, s.q, 1000.0D, 0.05D, 0.02D, 'N', 'O', $tsType '2000-01-01 00:00:00')",
          true, _ => true, () => {
            val ls = model.of(k)
            if (ls.exists(_.ln == hit)) ls.mapInPlace(l => if (l.ln == hit) l.copy(q = q1) else l)
            else ls += Line(hit, q1)
            model.of(k2) += Line(ln2, q2)
          }, n)
    }
  }
}

/** Bench-side reads of a lake table's current metadata, through a plain
  * pointer store of its own so they never count toward the catalog's.
  */
final class MetaReader(spark: SparkSession, url: String) {
  private val store = new PointerStore(url, "lake")
  private val conf = spark.sessionState.newHadoopConf()

  final case class State(docBytes: Long, rows: Long, dataBytes: Long, deleteFiles: Int,
      deleteBytes: Long, live: Map[String, Long], props: Map[String, String]) {
    def totalBytes: Long = dataBytes + deleteBytes + docBytes
    def json: String = s"""{"file_rows":$rows,"data_files":${live.size - deleteFiles},""" +
      s""""data_bytes":$dataBytes,"delete_files":$deleteFiles,"delete_bytes":$deleteBytes,"doc_bytes":$docBytes}"""
  }

  def current(name: String): State = {
    val loc = store.load("db", name).getOrElse(throw new IllegalStateException(s"no table db.$name"))
    val m = TableMeta.read(loc, conf)
    val data = m.currentFiles
    val dels: Seq[DataFileMeta] = m.currentDeleteFiles ++ m.currentEqDeleteFiles
    State(Main.bytes(loc), data.map(_.rowCount).sum, data.map(_.sizeBytes).sum, dels.size,
      dels.map(_.sizeBytes).sum, (data ++ dels).map(f => f.path -> f.sizeBytes).toMap, m.properties)
  }
}

/** The engine's public instrumentation counters, read before and after. */
object Counters {
  def snapshot(): Map[String, Long] = Map(
    "ManifestIO.manifestReads" -> ManifestIO.manifestReads.get(),
    "ManifestIO.manifestsSkipped" -> ManifestIO.manifestsSkipped.get(),
    "ManifestIO.bloomSidecarReads" -> ManifestIO.bloomSidecarReads.get(),
    "EqDeletes.opens" -> EqDeletes.opens.get(),
    "EqDeletes.bloomRefined" -> EqDeletes.bloomRefined.get(),
    "PositionalParquet.rowGroupsPruned" -> PositionalParquet.rowGroupsPruned.get(),
    "LakeScan.runtimeDeletesDropped" -> LakeScan.runtimeDeletesDropped.get()) ++
    Trace.counters

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }.withDefaultValue(0L)
}
