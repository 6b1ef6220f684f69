package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GenericInternalRow, In, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.optimizer.CombineFilters
import org.apache.spark.sql.catalyst.plans.{Inner, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LocalRelation, LogicalPlan, Project, WriteDelta}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Merge-on-read row-level operation (SupportsDelta): instead of rewriting
  * every file that contains a matching row (copy-on-write), the write emits
  * positional TOMBSTONES — parquet files of `(file_path, pos)` — plus data
  * files for inserted rows, and the commit appends both as new manifests
  * through the reference's pointer-swap protocol (reference:
  * src/catalog/mod.rs:296-347 — the CAS commits ANY metadata shape
  * atomically; the delta shape is Iceberg v2's public delete-file model).
  * A point DELETE on a 100 TB table commits kilobytes, not rewritten
  * gigabytes; scans subtract tombstones per file ([[LakeMixedBatch]]) and
  * compaction folds them away.
  *
  * Spark core drives everything: RewriteDeleteFromTable /
  * RewriteUpdateTable / RewriteMergeIntoTable plan a WriteDelta over this
  * operation's scan, with UPDATE represented as DELETE + INSERT. The row ID
  * is the table's `_file`/`_pos` metadata columns — the same identity the
  * reference's Iceberg metadata model gives every row.
  *
  * Activated per table by `write.delete.mode` / `write.update.mode` /
  * `write.merge.mode` = 'merge-on-read' (Iceberg's property names).
  *
  * LINEAGE-PRESERVING COPY-ON-WRITE (`foldOnCommit`, activated by
  * `write.cow.preserve-lineage=true` in copy-on-write mode): the same delta
  * plan runs — the writer captures tombstones + replacement rows, with each
  * updated row's `_row_id` preserved through `update()` — but the COMMIT
  * folds instead of appending: every tombstoned data file is rewritten
  * without its dead rows (surviving rows keep their identity via
  * materialized lineage, the compaction contract), the just-written
  * tombstones are discarded, and one CAS swap replaces the touched files.
  * Post-commit the table carries ZERO new delete files — true copy-on-write
  * — yet updated rows keep their `_row_id`, which Spark's group-based
  * ReplaceData plan structurally cannot do (it strips metadata attributes
  * before the write; see the note in [[LakeRowLevelOperation]]). Cost vs
  * ReplaceData: touched files are read twice (find-matching scan + fold)
  * instead of once — the price of identity.
  */
final class LakeDeltaOperation(
    table: LakeTable,
    cmd: RowLevelOperation.Command,
    store: PointerStore,
    hadoopConf: Configuration,
    foldOnCommit: Boolean = false)
  extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(LakeMetaCols.File), Expressions.column(LakeMetaCols.Pos))

  /** ROW LINEAGE through updates: the scan serves each matched row's
    * current `_row_id`; `update()` writes it into the replacement row's
    * materialized [[RowLineage]] column — an updated row KEEPS its id
    * (Iceberg v3's update contract), while its `_last_updated_seq`
    * inherits the delta commit's sequence. MERGE-inserted rows carry NULL
    * and inherit fresh ids from the new file's reserved range. DELETE
    * never consumes the attribute, so it is not requested there — keeps
    * the find-matching-rows scan columnar even after rewrites
    * materialized lineage columns.
    */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (cmd == RowLevelOperation.Command.DELETE) Array.empty
    else Array(Expressions.column(LakeMetaCols.RowId))

  // UPDATE stays an update operation (NOT delete+insert) so the writer
  // sees (metadata, id, row) together and can preserve the row's identity
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(table.name(), table.schema(),
      table.meta.logicalStatFiles(table.meta.currentFiles), options,
      partitionCols = table.meta.partitionColumns,
      allPartitionCols = table.meta.allPartitionColumns,
      l2p = table.meta.l2pMap,
      // existing tombstones apply during the scan: a second DELETE can't
      // re-tombstone (or resurrect) rows a first one already removed
      deleteFiles = table.meta.currentDeleteFiles,
      eqDeletes = table.meta.currentEqDeleteFiles,
      eqKeySchema = table.meta.upsertKeySchema,
      // DELETE/UPDATE/MERGE WHERE key = x IS the point-lookup case: the
      // find-matching-rows scan bloom-prunes like any read. A MERGE from
      // a small local source gets the same: [[MergeSourceKeys]] turns its
      // ON keys into `key IN (...)` filters that reach pushFilters here
      bloomFor = table.bloomLookupFor(
        table.meta.snapshot(table.meta.currentSnapshotId)))

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new LakeDeltaWrite(table, cmd, info, store, hadoopConf, foldOnCommit)
    }
}

/** Key pruning for a delta MERGE whose source is a small local relation
  * (`USING (VALUES ...)`, a literal DataFrame): in an inner or right-outer
  * join with the target on the left, a target row whose ON key is not
  * among the source's keys can match nothing, so reading it is waste.
  * Spark's dynamic partition pruning does not fire here (a VALUES list
  * has no selective predicate), and without this rule the find-matching
  * scan reads and shuffles the whole table. For every `target.a =
  * source.b` conjunct with equal, exactly comparable types, the rule puts
  * `a IN (distinct non-null b)` directly over the target relation; it runs
  * as a pre-CBO rule, after OptimizeIn and before V2 scan pushdown, so the
  * list stays an `In` and reaches [[LakeScanBuilder.pushFilters]], where
  * manifest, bucket, min/max and bloom pruning apply as for any read.
  *
  * Left alone: `WHEN NOT MATCHED BY SOURCE` (left/full outer joins need
  * every target row), copy-on-write ReplaceData plans (they carry
  * unmatched rows through), casted keys, non-equi conjuncts, and sources
  * over [[MergeSourceKeys.MaxSourceRows]] rows (the list is evaluated per
  * scanned row).
  */
object MergeSourceKeys extends Rule[LogicalPlan] with PredicateHelper {
  val MaxSourceRows = 256

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case wd @ WriteDelta(target: DataSourceV2Relation, _, query, _, _, _)
        if wd.operation.isInstanceOf[LakeDeltaOperation] =>
      wd.copy(query = query.transformUp {
        case j @ Join(left, Local(rows, src), Inner | RightOuter, Some(cond), _)
            if rows.size <= MaxSourceRows =>
          left.collect { case r: DataSourceV2Relation => r } match {
            case Seq(rel) if rel.table eq target.table =>
              val keys = splitConjunctivePredicates(cond).flatMap {
                case EqualTo(a: Attribute, b: Attribute) =>
                  keyIn(rel, a, rows, src, b).orElse(keyIn(rel, b, rows, src, a))
                case _ => None
              }
              if (keys.isEmpty) j
              else j.copy(left = CombineFilters(left.transformUp {
                case r: DataSourceV2Relation => Filter(keys.reduce(And), r)
              }))
            case _ => j
          }
      })
  }

  /** `t IN (source column s's distinct non-null values)`, when `t` is a
    * target column and `s` a source column of the same type. */
  private def keyIn(rel: DataSourceV2Relation, t: Attribute, rows: Seq[InternalRow],
      src: Seq[Attribute], s: Attribute): Option[Expression] = {
    val i = src.indexWhere(_.exprId == s.exprId)
    if (i < 0 || !rel.outputSet.contains(t) || t.dataType != s.dataType || !exact(t.dataType)) None
    else Some(In(t, rows.map(_.get(i, s.dataType)).filter(_ != null).distinct
      .map(Literal(_, s.dataType))))
  }

  // types whose equality is value equality on Catalyst's internal values
  // and on the writer's min/max stats (no collations, no -0.0/NaN)
  private def exact(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType | DateType |
        TimestampType | TimestampNTZType | StringType | _: DecimalType => true
    case _ => false
  }

  /** A local relation, possibly under a projection of its attributes. */
  private object Local {
    def unapply(p: LogicalPlan): Option[(Seq[InternalRow], Seq[Attribute])] = p match {
      case l: LocalRelation => Some((l.data, l.output))
      case Project(list, l: LocalRelation) if list.forall(_.isInstanceOf[Attribute]) =>
        Some((l.data, l.output))
      case _ => None
    }
  }
}

/** The delta write: no required distribution (tombstones and inserts flow
  * where the scan/join produced them — no extra shuffle), but a per-task
  * SORT so tombstones land grouped by target file (tight file_path min/max
  * on each delete file ⇒ precise covering-delete pruning at read time) and
  * inserted rows land clustered by partition value (the data writer rolls
  * files on key change).
  */
final class LakeDeltaWrite(
    table: LakeTable,
    cmd: RowLevelOperation.Command,
    info: LogicalWriteInfo,
    store: PointerStore,
    hadoopConf: Configuration,
    foldOnCommit: Boolean = false)
  extends DeltaWrite with RequiresDistributionAndOrdering {

  override def requiredDistribution(): Distribution = Distributions.unspecified()

  override def requiredOrdering(): Array[SortOrder] = {
    val rowIdOrder = Seq(
      Expressions.sort(Expressions.column(LakeMetaCols.File), SortDirection.ASCENDING),
      Expressions.sort(Expressions.column(LakeMetaCols.Pos), SortDirection.ASCENDING))
    // pure DELETE plans carry no data columns — partition columns only
    // resolve for UPDATE/MERGE (whose plans include the full row)
    val partOrder =
      if (cmd == RowLevelOperation.Command.DELETE) Nil
      else table.meta.partitionFields.map(f =>
        Expressions.sort(f.buckets match {
          case None => Expressions.column(f.source)
          case Some(n) => Expressions.bucket(n, f.source)
        }, SortDirection.ASCENDING))
    (partOrder ++ rowIdOrder).toArray
  }

  override def toBatch: DeltaBatchWrite =
    new LakeDeltaBatchWrite(table, cmd, info.schema(), store, hadoopConf, foldOnCommit)
}

final case class LakeDeltaCommitMessage(
    dataFiles: Seq[DataFileMeta],
    deleteFiles: Seq[DataFileMeta],
    targetPaths: Seq[String]) extends WriterCommitMessage

final class LakeDeltaBatchWrite(
    table: LakeTable,
    cmd: RowLevelOperation.Command,
    writeSchema: StructType,
    store: PointerStore,
    hadoopConf: Configuration,
    foldOnCommit: Boolean = false)
  extends DeltaBatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    LakeDeltaWriterFactory(
      ColumnMapping.toPhysical(writeSchema, table.meta.l2pMap).json,
      s"${table.meta.location}/data",
      s"${table.meta.location}/deletes",
      table.meta.physicalPartitionColumns,
      new SerializableConfiguration(hadoopConf),
      dvMode = DeletionVectors.enabled(table.meta.properties),
      statTruncateLen = table.meta.statTruncateLen)

  /** Commit = append tombstone + insert manifests via the usual CAS swap.
    * Rebase validation: every tombstoned data file must still be live — a
    * concurrent compaction/CoW that rewrote one means these positions now
    * point at a dead file and the delete would silently miss; fail instead
    * (serializable-or-fail, same rule as rewrites).
    */
  // set once the CAS lands or its outcome turns unknown: the written files
  // may be referenced by the live snapshot and abort() must not delete them
  @volatile private var filesMayBeCommitted = false

  override def commit(messages: Array[WriterCommitMessage]): Unit = try {
    val ms = messages.collect { case m: LakeDeltaCommitMessage => m }
    val dataFiles = ms.flatMap(_.dataFiles).toSeq
    // stamp each task's tombstone files with ITS targets' partition-value
    // bounds (per task, so a partition-aligned write keeps tight ranges) —
    // the delete-manifest summary then lets partition-predicated scans
    // skip these tombstones wholesale ([[TableMeta.deleteFilesMatching]]).
    // Schema/file-map state resolves once per commit (the stamper), and
    // the fold-on-commit path skips stamping entirely — it discards the
    // tombstone files after folding.
    val deleteFiles =
      if (foldOnCommit) ms.flatMap(_.deleteFiles).toSeq
      else {
        val stamp = TableMeta.targetBoundsStamper(table.meta)
        ms.flatMap(m => stamp(m.deleteFiles, m.targetPaths.toSet)).toSeq
      }
    val targets = ms.flatMap(_.targetPaths).toSet
    if (dataFiles.isEmpty && deleteFiles.isEmpty) return // no-op command: no snapshot
    if (foldOnCommit && deleteFiles.nonEmpty) {
      foldCommit(dataFiles, deleteFiles, targets)
      return
    }
    // insert-only commands (pure NOT MATCHED MERGE) have nothing to fold —
    // the plain append below is already copy-on-write-shaped
    CasCommit.retryLoop(store, table.namespace, table.tableName,
      table.metadataLocation, table.meta, s"$cmd", table.ident, hadoopConf)(
      base => CasCommit.requireReplacedLive(base, targets, s"$cmd (merge-on-read)", table.ident))(
      base => TableMeta.withDelta(base, "delta", dataFiles, deleteFiles, hadoopConf))(
      { filesMayBeCommitted = true; table.commitSucceeded() })
  } catch {
    case e: CommitStateUnknownException => filesMayBeCommitted = true; throw e
  }

  /** Lineage-preserving copy-on-write: rewrite every tombstoned file
    * without its dead rows (pre-existing pending tombstones fold in too —
    * same as compaction), commit {touched files + folded old deletes} →
    * {rewritten survivors + inserted rows} in ONE snapshot, and discard the
    * just-written tombstone files — they were bookkeeping between the
    * writer and this commit, never table state. Survivors keep their
    * `_row_id`/`_last_updated_seq` (materialized by the rewrite); updated
    * rows keep their `_row_id` (written by `update()`) and take this
    * commit's sequence, Iceberg v3's update contract.
    */
  private def foldCommit(
      inserts: Seq[DataFileMeta],
      newDeletes: Seq[DataFileMeta],
      targets: Set[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val base0 = table.meta
    // the find-matching-rows scan applied these; any delete file committed
    // after it may kill rows this rewrite resurrects — conflict, not merge.
    // (No early liveness check: base0 is the load-time snapshot the scan
    // enumerated targets from, so targets are live in it by construction —
    // conflicts only exist against FRESHER snapshots, caught in the loop.)
    val scanDeletePaths =
      (base0.currentDeleteFiles ++ base0.currentEqDeleteFiles).map(_.path).toSet
    val targetMetas = base0.currentFiles.filter(f => targets(f.path))
    val survivors = LakeMaintenance.rewriteLive(spark, base0, targetMetas,
      base0.currentDeleteFiles ++ newDeletes, base0.currentEqDeleteFiles,
      base0.targetFileBytes, hadoopConf)
    // pre-existing tombstones whose last live target died with this rewrite
    // die with it; eq-deletes fold once no surviving OLD file is strictly
    // older (rewritten files carry the new sequence — nothing to apply to)
    val covering = TombstoneRewrite.covering(base0.currentDeleteFiles, targets.toSeq)
    val folded = TombstoneRewrite.foldable(spark, covering, targets,
      allDeletes = base0.currentDeleteFiles)
    val keep = base0.currentFiles.filterNot(f => targets(f.path))
    val foldedEq = base0.currentEqDeleteFiles
      .filter(d => keep.forall(_.addedAt >= d.addedAt)).map(_.path).toSet
    val replaced = targets ++ folded ++ foldedEq
    val newFiles = survivors ++ inserts
    try {
      CasCommit.retryLoop(store, table.namespace, table.tableName,
        table.metadataLocation, base0, s"$cmd", table.ident, hadoopConf)(
        base => {
          CasCommit.requireReplacedLive(base, replaced, s"$cmd (cow-fold)", table.ident)
          CasCommit.requireNoNewDeletes(scanDeletePaths, base, targets,
            s"$cmd (cow-fold)", table.ident)
        })(
        base => TableMeta.withRewrite(base, "replace-rows", replaced, newFiles, hadoopConf))(
        { filesMayBeCommitted = true; table.commitSucceeded() })
    } finally {
      // win or lose, the temp tombstone files never become table state.
      // BEST-EFFORT only: after a successful CAS this commit IS committed —
      // a cleanup IOException must never propagate (Spark would call
      // abort(), deleting insert files the new snapshot references).
      // Unreclaimed temp files are plain orphans for remove_orphan_files.
      try {
        val fs = new Path(table.meta.location).getFileSystem(hadoopConf)
        newDeletes.foreach(f => fs.delete(new Path(f.path), false))
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    if (filesMayBeCommitted) return // committed-or-unknown: orphans at worst
    val fs = new Path(table.meta.location).getFileSystem(hadoopConf)
    messages.collect { case LakeDeltaCommitMessage(dfs, dels, _) =>
      (dfs ++ dels).foreach(f => fs.delete(new Path(f.path), false))
    }
  }
}

final case class LakeDeltaWriterFactory(
    physDataSchemaJson: String,
    dataDir: String,
    deleteDir: String,
    physPartCols: Seq[String],
    conf: SerializableConfiguration,
    dvMode: Boolean = false,
    statTruncateLen: Int = StatBounds.DefaultLen)
  extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new LakeDeltaWriter(physDataSchemaJson, dataDir, deleteDir, physPartCols, conf.value,
      partitionId, taskId, dvMode, statTruncateLen)
}

/** Two lazy sub-writers behind one DeltaWriter: inserted rows stream into
  * the standard [[LakeDataWriter]] (same files, stats, clustering as any
  * append), tombstones stream into a second LakeDataWriter over the
  * `(file_path, pos)` delete schema — its min/max tracking doubles as the
  * file_path-range index the scan prunes covering deletes with. Nothing is
  * buffered; a task that only deletes never opens a data file and vice
  * versa.
  */
final class LakeDeltaWriter(
    physDataSchemaJson: String,
    dataDir: String,
    deleteDir: String,
    physPartCols: Seq[String],
    conf: Configuration,
    partitionId: Int,
    taskId: Long,
    dvMode: Boolean = false,
    statTruncateLen: Int = StatBounds.DefaultLen)
  extends DeltaWriter[InternalRow] {

  private var insertW: LakeDataWriter = _
  private var deleteW: LakeDataWriter = _
  private val targets = scala.collection.mutable.HashSet.empty[String]
  private val tombstone = new GenericInternalRow(2)
  // DV mode: the container writer accumulates one bitmap per target in
  // ANY arrival order (UPDATE/MERGE sort partition columns before _file,
  // so a multi-partition-value file can be revisited) and rolls them into
  // one immutable .dv file for the task at commit
  private var dvW: DvContainerWriter = _

  // insert files carry a materialized _graft_rid column: NULL for genuine
  // inserts (the row inherits a fresh id from the file's reserved range),
  // the PRESERVED id for updated rows (see requiredMetadataAttributes)
  private val insertSchema = StructType(
    DataType.fromJson(physDataSchemaJson).asInstanceOf[StructType].fields :+
      RowLineage.RidField)
  private val ridRow = new GenericInternalRow(1)
  private val joinedInsert = new org.apache.spark.sql.catalyst.expressions.JoinedRow

  private def insertWriter(): LakeDataWriter = {
    if (insertW == null)
      insertW = new LakeDataWriter(
        insertSchema,
        s"$dataDir/part-$partitionId-$taskId-${java.util.UUID.randomUUID()}",
        physPartCols, conf, statTruncateLen = statTruncateLen)
    insertW
  }

  private def deleteWriter(): LakeDataWriter = {
    if (deleteW == null)
      deleteW = new LakeDataWriter(
        DeleteFiles.schema,
        s"$deleteDir/delete-$partitionId-$taskId-${java.util.UUID.randomUUID()}",
        // file_path ranges keep full precision: tombstone covering prunes
        // by these bounds, and table paths share long directory prefixes
        Nil, conf, statTruncateLen = 0)
    deleteW
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val file: UTF8String = id.getUTF8String(0)
    val f = file.toString
    targets += f
    if (dvMode) {
      if (dvW == null) dvW = new DvContainerWriter(deleteDir, s"$partitionId-$taskId", conf)
      dvW.record(f, id.getLong(1))
    } else {
      tombstone.update(0, file.copy()) // id rows are reused by the exec
      tombstone.update(1, id.getLong(1))
      deleteWriter().write(tombstone)
    }
  }

  // true once update() materialized at least one preserved id — insert-only
  // files (pure MERGE inserts) carry an all-NULL _graft_rid column and are
  // NOT flagged, so they stay on the computed/columnar lineage path
  private var wroteRid = false

  override def insert(row: InternalRow): Unit = {
    ridRow.update(0, null)
    insertWriter().write(joinedInsert(row, ridRow))
  }

  /** UPDATE: tombstone the old position AND re-insert with the row's
    * preserved `_row_id` materialized (metadata col 0). A pre-lineage
    * row arrives with NULL — written through as NULL, which the readers'
    * null-inherits rule resolves to a fresh id from this file's reserved
    * range (the row gains an identity here, same as Iceberg v3).
    */
  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(meta, id)
    if (meta.isNullAt(0)) ridRow.update(0, null)
    else { ridRow.update(0, meta.getLong(0)); wroteRid = true }
    insertWriter().write(joinedInsert(row, ridRow))
  }

  override def commit(): WriterCommitMessage = {
    val dataFiles = Option(insertW).map(_.commit()).collect {
      case LakeCommitMessage(fs) => fs }.getOrElse(Nil)
      .map(_.copy(lineageCols = wroteRid))
    val deleteFiles = Option(deleteW).map(_.commit()).collect {
      case LakeCommitMessage(fs) => fs }.getOrElse(Nil) ++
      Option(dvW).map(_.commit()).getOrElse(Nil)
    LakeDeltaCommitMessage(dataFiles, deleteFiles, targets.toSeq)
  }

  override def abort(): Unit = {
    Option(insertW).foreach(_.abort())
    Option(deleteW).foreach(_.abort())
    Option(dvW).foreach(_.abort())
  }

  override def close(): Unit = ()
}
