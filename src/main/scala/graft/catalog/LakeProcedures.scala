package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL-native maintenance: `CALL lake.system.<proc>(...)` — Spark 4.1's
  * DSv2 stored-procedure protocol (ResolveProcedures/BindProcedures in
  * the analyzer) over the [[LakeMaintenance]] operations, mirroring
  * Iceberg's procedure surface. Every procedure returns its outcome as a
  * one-row LocalScan so `CALL` results read like any query. (Maintenance
  * is the operational surface the reference leaves entirely to operators —
  * its drop_table never even deletes files, reference:
  * src/catalog/mod.rs:164.)
  */
object LakeProcedures {

  val Namespace: Array[String] = Array("system")

  def names: Seq[String] = Seq("compact", "expire_snapshots", "rollback",
    "create_tag", "remove_tag", "publish", "cherrypick_snapshot",
    "set_partition_spec", "zorder",
    "upsert", "rewrite_manifests", "rewrite_delete_files",
    "rewrite_position_delete_files",
    "remove_orphan_files", "add_files", "snapshot", "analyze",
    "create_branch", "remove_branch", "fast_forward",
    "create_aggregate", "refresh_aggregate")

  def load(catalogName: String, ident: Identifier): Option[UnboundProcedure] = {
    if (!ident.namespace().sameElements(Namespace)) return None
    def full(table: String) = s"$catalogName.$table"
    ident.name() match {
      case "compact" => Some(proc("compact",
        Seq(in("table", StringType), inDef("small_file_bytes", LongType, (32L * 1024 * 1024).toString),
          inDef("target_file_bytes", LongType, (128L * 1024 * 1024).toString),
          inDef("where", StringType, "''"), // stats-scoped: compact only files that may match
          // partial progress: rewrite at most this many files per commit
          inDef("max_files_per_commit", IntegerType, Int.MaxValue.toString)),
        StructType(Seq(StructField("files_before", IntegerType), StructField("files_after", IntegerType))),
        { (spark, args) =>
          val (b, a) = LakeMaintenance.compact(spark, full(args.getString(0)),
            args.getLong(1), args.getLong(2), Option(args.getString(3)).filter(_.nonEmpty),
            args.getInt(4))
          row(b, a)
        }))
      case "expire_snapshots" => Some(proc("expire_snapshots",
        Seq(in("table", StringType), inDef("keep_last", IntegerType, "1"),
          // age guard: snapshots committed at/after this epoch-ms never expire
          inDef("older_than_ms", LongType, Long.MaxValue.toString + "L")),
        StructType(Seq(StructField("orphan_files_deleted", IntegerType))),
        { (spark, args) =>
          row(LakeMaintenance.expireSnapshots(spark, full(args.getString(0)), args.getInt(1),
            args.getLong(2)))
        }))
      case "rollback" => Some(proc("rollback",
        Seq(in("table", StringType), in("snapshot_id", LongType)),
        StructType(Seq(StructField("current_snapshot_id", LongType))),
        { (spark, args) =>
          LakeMaintenance.rollback(spark, full(args.getString(0)), args.getLong(1))
          row(args.getLong(1))
        }))
      case "create_tag" => Some(proc("create_tag",
        Seq(in("table", StringType), in("tag", StringType), inDef("snapshot_id", LongType, "-1")),
        StructType(Seq(StructField("tagged_snapshot_id", LongType))),
        { (spark, args) =>
          val sid = args.getLong(2)
          row(LakeMaintenance.createTag(spark, full(args.getString(0)),
            args.getString(1), if (sid < 0) None else Some(sid)))
        }))
      case "create_branch" => Some(proc("create_branch",
        Seq(in("table", StringType), in("branch", StringType),
          inDef("snapshot_id", LongType, "-1")),
        StructType(Seq(StructField("branched_snapshot_id", LongType))),
        { (spark, args) =>
          val sid = args.getLong(2)
          row(LakeMaintenance.createBranch(spark, full(args.getString(0)),
            args.getString(1), if (sid < 0) None else Some(sid)))
        }))
      case "remove_branch" => Some(proc("remove_branch",
        Seq(in("table", StringType), in("branch", StringType)),
        StructType(Seq(StructField("removed", BooleanType))),
        { (spark, args) =>
          LakeMaintenance.removeBranch(spark, full(args.getString(0)), args.getString(1))
          row(true)
        }))
      // merge-a-branch: move the main pointer to the branch head (pure
      // fast-forward; a diverged main must rollback or cherry-pick)
      case "fast_forward" => Some(proc("fast_forward",
        Seq(in("table", StringType), in("branch", StringType)),
        StructType(Seq(StructField("current_snapshot_id", LongType))),
        { (spark, args) =>
          row(LakeMaintenance.fastForward(spark, full(args.getString(0)), args.getString(1)))
        }))
      case "remove_tag" => Some(proc("remove_tag",
        Seq(in("table", StringType), in("tag", StringType)),
        StructType(Seq(StructField("removed", BooleanType))),
        { (spark, args) =>
          LakeMaintenance.removeTag(spark, full(args.getString(0)), args.getString(1))
          row(true)
        }))
      case "publish" => Some(proc("publish",
        Seq(in("table", StringType), in("snapshot_id", LongType)),
        StructType(Seq(StructField("published_snapshot_id", LongType))),
        { (spark, args) =>
          row(LakeMaintenance.publish(spark, full(args.getString(0)), args.getLong(1)))
        }))
      // incrementally-maintained materialized aggregate: create the MV
      // table + contract, then refresh folds only NEW source snapshots in
      case "create_aggregate" => Some(proc("create_aggregate",
        Seq(in("mv_table", StringType), in("source_table", StringType),
          in("group_by", StringType) /* comma-separated */,
          inDef("sum", StringType, "''") /* comma-separated, may be empty */,
          inDef("min", StringType, "''"), inDef("max", StringType, "''")),
        StructType(Seq(StructField("created", BooleanType))),
        { (spark, args) =>
          def cols(s: String) = s.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          Materialized.createAggregate(spark, full(args.getString(0)), full(args.getString(1)),
            cols(args.getString(2)), cols(args.getString(3)),
            cols(args.getString(4)), cols(args.getString(5)))
          row(true)
        }))
      case "refresh_aggregate" => Some(proc("refresh_aggregate",
        Seq(in("mv_table", StringType)),
        StructType(Seq(StructField("groups_updated", LongType),
          StructField("mv_snapshot_id", LongType))),
        { (spark, args) =>
          val (g, s) = Materialized.refresh(spark, full(args.getString(0)))
          row(g, s)
        }))
      // apply one append-family commit (typically from a DIVERGED branch,
      // where fast_forward refuses) onto main as a new snapshot
      case "cherrypick_snapshot" => Some(proc("cherrypick_snapshot",
        Seq(in("table", StringType), in("snapshot_id", LongType)),
        StructType(Seq(StructField("applied_snapshot_id", LongType))),
        { (spark, args) =>
          row(LakeMaintenance.cherrypick(spark, full(args.getString(0)), args.getLong(1)))
        }))
      case "zorder" => Some(proc("zorder",
        Seq(in("table", StringType), in("columns", StringType) /* semicolon-separated */,
          inDef("target_file_bytes", LongType, (128L * 1024 * 1024).toString)),
        StructType(Seq(StructField("files_before", IntegerType), StructField("files_after", IntegerType))),
        { (spark, args) =>
          val cols = args.getString(1).split(';').map(_.trim).filter(_.nonEmpty).toSeq
          val (b, a) = LakeMaintenance.zorderCompact(spark, full(args.getString(0)),
            cols, args.getLong(2))
          row(b, a)
        }))
      // batch MERGE-by-key through equality deletes: O(batch) commit, no
      // target rewrite — `source` is any resolvable table/view name
      case "upsert" => Some(proc("upsert",
        Seq(in("table", StringType), in("source", StringType), in("keys", StringType)),
        StructType(Seq(StructField("upserted_rows", LongType),
          StructField("snapshot_id", LongType))),
        { (spark, args) =>
          val (n, sid) = LakeMaintenance.upsert(spark, full(args.getString(0)),
            spark.table(args.getString(1)),
            args.getString(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq)
          row(n, sid)
        }))
      // metadata-only manifest bin-packing: keeps planning O(few manifests)
      // after thousands of streaming-epoch commits
      case "rewrite_manifests" => Some(proc("rewrite_manifests",
        Seq(in("table", StringType), inDef("target_entries", IntegerType, "4096")),
        StructType(Seq(StructField("manifests_before", IntegerType),
          StructField("manifests_after", IntegerType))),
        { (spark, args) =>
          val (b, a) = LakeMaintenance.rewriteManifests(spark, full(args.getString(0)),
            args.getInt(1))
          row(b, a)
        }))
      case "analyze" => Some(proc("analyze",
        Seq(in("table", StringType), inDef("columns", StringType, "''"),
          inDef("lg_k", IntegerType, "14")),
        StructType(Seq(StructField("mode", StringType),
          StructField("columns_analyzed", IntegerType))),
        { (spark, args) =>
          val cols = Option(args.getString(1)).filter(_.nonEmpty)
            .map(_.split(',').toSeq.map(_.trim)).getOrElse(Nil)
          val (mode, ndvs) = LakeMaintenance.analyze(spark, full(args.getString(0)),
            cols, args.getInt(2))
          row(UTF8String.fromString(mode), ndvs.size)
        }))
      case "rewrite_delete_files" => Some(proc("rewrite_delete_files",
        Seq(in("table", StringType)),
        StructType(Seq(StructField("delete_files_before", IntegerType),
          StructField("delete_files_after", IntegerType))),
        { (spark, args) =>
          val (b, a) = LakeMaintenance.rewriteDeleteFiles(spark, full(args.getString(0)))
          row(b, a)
        }))
      case "rewrite_position_delete_files" => Some(proc("rewrite_position_delete_files",
        Seq(in("table", StringType)),
        StructType(Seq(StructField("delete_files_before", IntegerType),
          StructField("delete_files_after", IntegerType))),
        { (spark, args) =>
          val (b, a) = LakeMaintenance.rewritePositionDeleteFiles(spark, full(args.getString(0)))
          row(b, a)
        }))
      case "snapshot" => Some(proc("snapshot",
        Seq(in("source", StringType), in("dest", StringType),
          inDef("snapshot_id", LongType, "-1")), // -1 = current head
        StructType(Seq(StructField("files_referenced", LongType),
          StructField("snapshot_id", LongType))),
        { (spark, args) =>
          val at = args.getLong(2)
          val (n, sid) = LakeMaintenance.snapshotTable(spark, full(args.getString(0)),
            args.getString(1), if (at < 0) None else Some(at))
          row(n, sid)
        }))
      case "add_files" => Some(proc("add_files",
        Seq(in("table", StringType), in("source", StringType)),
        StructType(Seq(StructField("files_added", IntegerType),
          StructField("snapshot_id", LongType))),
        { (spark, args) =>
          val (n, sid) = LakeMaintenance.addFiles(spark, full(args.getString(0)),
            args.getString(1))
          row(n, sid)
        }))
      case "remove_orphan_files" => Some(proc("remove_orphan_files",
        Seq(in("table", StringType),
          inDef("older_than_ms", LongType, (3L * 24 * 3600 * 1000).toString),
          inDef("dry_run", BooleanType, "false")),
        StructType(Seq(StructField("files_deleted", LongType),
          StructField("unreferenced_found", LongType))),
        { (spark, args) =>
          val (d, f) = LakeMaintenance.removeOrphanFiles(spark, full(args.getString(0)),
            args.getLong(1), args.getBoolean(2))
          row(d, f)
        }))
      case "set_partition_spec" => Some(proc("set_partition_spec",
        Seq(in("table", StringType), in("spec", StringType)),
        StructType(Seq(StructField("spec", StringType))),
        { (spark, args) =>
          val spec = args.getString(1).split(';').map(_.trim).filter(_.nonEmpty).toSeq
          LakeMaintenance.setPartitionSpec(spark, full(args.getString(0)), spec)
          row(UTF8String.fromString(spec.mkString(";")))
        }))
      case _ => None
    }
  }

  private def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()
  private def inDef(name: String, dt: DataType, default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  private def row(vals: Any*): InternalRow =
    new GenericInternalRow(vals.toArray)

  private def proc(procName: String, params: Seq[ProcedureParameter],
      resultSchema: StructType,
      body: (SparkSession, InternalRow) => InternalRow): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = s"lake maintenance procedure $procName"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = s"lake maintenance procedure $procName"
        override def parameters(): Array[ProcedureParameter] = params.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val result = body(SparkSession.active, input)
          java.util.List.of[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = Array(result)
            override def readSchema(): StructType = resultSchema
          }).iterator()
        }
      }
    }
}
