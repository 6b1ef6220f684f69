package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.{Column, SparkSession, sources}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** A catalog-managed table: the engine-side handle the reference's
  * `load_table` returns (reference: src/catalog/mod.rs:177-236).
  *
  * Read path: the current (or pinned) snapshot's file list comes from table
  * metadata — never from a directory listing (SURVEY §7 "never
  * `fs.listStatus`") — is pruned against per-file min/max stats, then
  * planned into parquet splits from the manifest's paths and sizes and
  * read by Spark's built-in vectorized parquet reader factory
  * ([[ParquetDelegate]]), which supplies column pruning, row-group
  * predicate pushdown and whole-stage codegen; the manifest also supplies
  * size statistics for AQE join planning.
  *
  * Write path: executors stream [[InternalRow]]s straight into parquet
  * files under `location/data/`; the driver then commits by writing a new
  * immutable metadata document and CAS-swapping the pointer
  * (reference: src/catalog/mod.rs:296-347) with bounded rebase-and-retry.
  */
final class LakeTable(
    val ident: String, // "catalog.ns.name" for display
    val namespace: String,
    val tableName: String,
    val meta: TableMeta,
    val metadataLocation: String,
    store: PointerStore,
    hadoopConf: Configuration,
    pinnedSnapshotId: Option[Long] = None,
    onCommit: () => Unit = () => ())
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with SupportsRowLevelOperations with SupportsMetadataColumns {

  override def name(): String = ident
  override def schema(): StructType = meta.schema

  /** Row-identity metadata columns (`SELECT _file, _pos FROM t`), and the
    * row ID the merge-on-read delete path tombstones by.
    */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    LakeMetaColumn(LakeMetaCols.File, StringType),
    LakeMetaColumn(LakeMetaCols.Pos, LongType),
    // row lineage (nullable: files older than lineage surface NULL)
    LakeMetaColumn(LakeMetaCols.RowId, LongType, nullable = true),
    LakeMetaColumn(LakeMetaCols.LastSeq, LongType, nullable = true))
  override def properties(): util.Map[String, String] = meta.properties.asJava
  override def version(): String = meta.currentSnapshotId.toString
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    meta.partitionFields.map(LakeTransforms.v2).toArray

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)

  private def effectiveSnapshot: Option[SnapshotMeta] = pinnedSnapshotId match {
    case Some(id) => Some(meta.snapshot(id).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $id for table $ident")))
    case None => meta.snapshot(meta.currentSnapshotId)
  }

  /** Files appended between two snapshots (start exclusive, end inclusive)
    * — the batch-side changelog read. Fails fast if the range contains a
    * non-append snapshot (the file delta would lie about row changes),
    * mirroring the streaming source's guard.
    */
  private def incrementalFiles(startId: Long, endId: Long): Seq[DataFileMeta] = {
    if (endId < startId) throw new IllegalArgumentException(
      s"end-snapshot-id $endId precedes start-snapshot-id $startId on $ident")
    // Validate ops along endId's PARENT CHAIN only (legacy id-order
    // fallback for unstamped docs) — concurrent branch commits and staged
    // snapshots share the id RANGE but not the lineage, and must not fail
    // a main-lineage read. branch-append / rewrite-manifests are
    // append-family (they change no existing main files), matching the
    // streaming source's acceptance set.
    val appendOps = Set("append", "stream-append", "branch-append", "create",
      "stage-append", "publish", "rewrite-manifests", "rewrite-deletes", "add_files")
    val chainOps: Seq[SnapshotMeta] = {
      var acc = List.empty[SnapshotMeta]
      var curId = endId
      var legacy = false
      while (curId > startId && !legacy) {
        meta.snapshot(curId) match {
          case Some(s) if s.parentId > 0 => acc = s :: acc; curId = s.parentId
          case _ => legacy = true
        }
      }
      if (!legacy) acc
      else meta.snapshots.filter(s => s.snapshotId > startId && s.snapshotId <= endId)
    }
    chainOps.foreach { s =>
      if (!appendOps(s.operation))
        throw new IllegalArgumentException(
          s"incremental read over $ident: snapshot ${s.snapshotId} is '${s.operation}' — " +
            "only append-only ranges can be read incrementally")
    }
    def filesAt(id: Long): Seq[DataFileMeta] =
      if (id <= 0) Nil
      else meta.snapshot(id).map(meta.filesOf).getOrElse(
        throw new IllegalArgumentException(s"no snapshot $id for table $ident"))
    val before = filesAt(startId).map(_.path).toSet
    filesAt(endId).filterNot(f => before.contains(f.path))
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // option-based time travel: spark.read.option("snapshot-id", n) or
    // option("as-of-timestamp", epochMillis); incremental batch reads via
    // option("start-snapshot-id", a)[.option("end-snapshot-id", b)]
    val snap = (Option(options.get("snapshot-id")), Option(options.get("as-of-timestamp"))) match {
      case (Some(id), _) => meta.snapshot(id.toLong).orElse(
        throw new IllegalArgumentException(s"no snapshot $id for table $ident"))
      case (None, Some(ts)) =>
        val candidates = meta.snapshots.filter(_.timestampMs <= ts.toLong)
        if (candidates.isEmpty) throw new IllegalArgumentException(
          s"no snapshot of $ident committed at or before $ts ms")
        Some(candidates.maxBy(s => (s.timestampMs, s.snapshotId)))
      case (None, None) => Option(options.get("branch")) match {
        // spark.read.option("branch", "b"): the branch head snapshot
        case Some(b) =>
          val head = meta.branchHead(b).getOrElse(throw new IllegalArgumentException(
            s"no branch '$b' on table $ident"))
          meta.snapshot(head).orElse(throw new IllegalStateException(
            s"branch '$b' of $ident points at expired snapshot $head"))
        case None => effectiveSnapshot
      }
    }
    // BOUNDED-MEMORY planning: past `read.plan.slim-threshold` manifest
    // entries (known from the manifest list alone — O(manifests)), the
    // plan holds SLIM file entries: stat maps cut to the planning keys
    // (partition/sort/eq-key) plus any pushed-predicate columns, resolved
    // manifest-by-manifest through a bounded read window. A filterless
    // scan of an ~1M-file wide table then costs O(window × largest
    // manifest) full-width driver heap instead of O(all files) — the
    // trade is losing planning-OPTIONAL stats (metadata-agg pushdown,
    // CBO min/max, top-N pruning on non-sort columns) at extreme file
    // counts, never correctness.
    val slimPlan = snap.exists(sn =>
      meta.manifestsOf(sn).filter(_.isData).map(_.nFiles).sum >=
        meta.properties.getOrElse("read.plan.slim-threshold", "200000").toLong)
    // LAZY: a filtered scan resolves its files through the manifest-skip
    // path below and may never force the full list at all
    lazy val scanFiles = Option(options.get("start-snapshot-id")) match {
      case Some(start) =>
        val end = Option(options.get("end-snapshot-id")).map(_.toLong)
          .getOrElse(meta.currentSnapshotId)
        incrementalFiles(start.toLong, end)
      case None =>
        snap.map(sn => if (slimPlan) meta.filesOfSlim(sn) else meta.filesOf(sn))
          .getOrElse(Nil)
    }
    // manifest-level planning skips apply to plain (non-incremental)
    // scans only; one gate shared by all three axes (data/eq/pos)
    def skipFor(resolve: (SnapshotMeta, Seq[Expression]) => Seq[DataFileMeta])
        : Option[Seq[Expression] => Seq[DataFileMeta]] =
      if (options.containsKey("start-snapshot-id")) None
      else snap.map(sn => (filterExprs: Seq[Expression]) => resolve(sn, filterExprs))
    // the builder hands its pushed filters here, and only manifests whose
    // summary may match are ever opened
    val skipSource = skipFor((sn, es) =>
      meta.logicalStatFiles(meta.filesMatching(sn, es, slim = slimPlan)))
    // files are handed over with stats re-keyed to logical names so every
    // pruner (metadata, runtime, SPJ keys) speaks the query's column names;
    // the parquet delegate inside the scan uses physical names (l2p)
    new LakeScanBuilder(ident, schema(), meta.logicalStatFiles(scanFiles),
      options,
      // partition-source columns accept RUNTIME predicates (dynamic
      // partition pruning): a star join whose dim side is filtered hands
      // the surviving join keys to this scan mid-query, and file pruning
      // drops every fact file whose partition value can't match — at
      // 100 TB the difference between scanning one partition and all of
      // them. Same pruners as planning-time filters (min/max + bucket).
      // BLOOM-indexed columns accept runtime predicates too: a join keyed
      // on a high-NDV bloom column hands its surviving keys to the scan,
      // and file-level blooms drop every file provably holding none.
      runtimeFilterCols =
        (meta.allPartitionFields.map(_.source) ++ meta.bloomColumns).distinct,
      microBatch = Some(() => new LakeMicroBatchStream(ident, meta.physicalSchema,
        () => {
          val loc = store.load(namespace, tableName).getOrElse(
            throw new IllegalStateException(s"table $ident dropped during streaming read"))
          TableMeta.read(loc, hadoopConf)
        }, options)),
      partitionCols = meta.partitionColumns,
      allPartitionCols = meta.allPartitionColumns,
      l2p = meta.l2pMap,
      deleteFiles = snap.map(meta.deleteFilesOf).getOrElse(Nil),
      eqDeletes = snap.map(meta.eqDeleteFilesOf).getOrElse(Nil),
      eqDeleteMatching = skipFor(meta.eqDeleteFilesMatching),
      eqDeletesExist =
        snap.map(sn => meta.manifestsOf(sn).exists(_.kind == "eq-deletes")),
      posDeleteMatching = skipFor(meta.deleteFilesMatching),
      posDeletesExist =
        snap.map(sn => meta.manifestsOf(sn).exists(_.kind == "deletes")),
      eqKeySchema = meta.upsertKeySchema,
      ndv = ndvStats,
      kll = kllStats,
      sortOrder = meta.sortOrderColumns,
      bloomFor = bloomLookupFor(snap),
      manifestMatching = skipSource)
  }

  /** Lazy, memoizing file-level bloom lookup for a scan: nothing is read
    * until the pruner actually asks (i.e. an eq/IN predicate reached a
    * bloom-configured table), then one sidecar per data manifest, then
    * each filter decodes once. Tables with no `write.bloom-columns` pay
    * exactly nothing.
    */
  private[catalog] def bloomLookupFor(snap: Option[SnapshotMeta])
      : (String, String) => Option[FileBloom] = {
    if (meta.physicalBloomColumns.isEmpty || snap.isEmpty) FilePruner.NoBloom
    else {
      lazy val index: Map[String, Map[String, String]] =
        meta.bloomIndexOf(snap.get)
      val decoded = new java.util.concurrent.ConcurrentHashMap[(String, String),
        Option[FileBloom]]()
      (path, col) =>
        decoded.computeIfAbsent((path, col),
          _ => index.get(path).flatMap(_.get(col)).flatMap(FileBloom.decode))
    }
  }

  /** analyze-maintained per-column NDV estimates (logical names), decoded
    * once per table handle from the stored HLL sketches — fed to Catalyst
    * through the scan's columnStats.
    */
  private lazy val ndvStats: Map[String, Long] = {
    val p2l = meta.l2pMap.map(_.swap)
    val logicalNames = meta.schema.fieldNames.toSet
    meta.properties.collect {
      case (k, v) if k.startsWith("stats.ndv.") =>
        val phys = k.stripPrefix("stats.ndv.")
        p2l.getOrElse(phys, phys) -> StatsKeys.estimate(v)
    }.filter { case (n, _) => logicalNames.contains(n) }
  }

  /** analyze-maintained per-column KLL quantile sketches (logical names) —
    * turned into equi-height histograms at scan planning ([[LakeHistogram]]).
    */
  private lazy val kllStats: Map[String, Array[Byte]] = {
    val p2l = meta.l2pMap.map(_.swap)
    val logicalNames = meta.schema.fieldNames.toSet
    meta.properties.collect {
      case (k, v) if k.startsWith("stats.kll.") =>
        val phys = k.stripPrefix("stats.kll.")
        p2l.getOrElse(phys, phys) -> java.util.Base64.getDecoder.decode(v)
    }.filter { case (n, _) => logicalNames.contains(n) }
  }

  /** Per-command write mode: 'copy-on-write' (default — rewrite affected
    * files) or 'merge-on-read' (append positional tombstones), selected by
    * the Iceberg-convention table properties write.delete.mode /
    * write.update.mode / write.merge.mode.
    */
  private[catalog] def writeMode(cmd: RowLevelOperation.Command): String =
    meta.properties.getOrElse(s"write.${cmd.toString.toLowerCase}.mode", "copy-on-write")

  /** DELETE / UPDATE / MERGE INTO. Copy-on-write: Spark rewrites the
    * command into a ReplaceData plan whose scan this operation builds and
    * whose write replaces exactly the files that scan covered — one CAS
    * swap, same atomicity as every other commit (DELETE additionally keeps
    * the cheaper SupportsDelete metadata-pruned rewrite). Merge-on-read:
    * a SupportsDelta operation appends tombstones instead
    * ([[LakeDeltaOperation]]).
    *
    * Copy-on-write with `write.cow.preserve-lineage=true` routes through
    * the delta operation's fold-on-commit path instead of ReplaceData: the
    * post-commit table is identical in shape (touched files rewritten, no
    * delete files), but surviving AND updated rows keep their `_row_id` —
    * ReplaceData structurally cannot carry it (Spark strips metadata
    * attributes before the group-based write).
    */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () =>
      if (writeMode(info.command()) == "merge-on-read")
        new LakeDeltaOperation(this, info.command(), store, hadoopConf)
      else if (meta.properties.get("write.cow.preserve-lineage").contains("true"))
        new LakeDeltaOperation(this, info.command(), store, hadoopConf, foldOnCommit = true)
      else new LakeRowLevelOperation(this, info.command(), store, hadoopConf)

  private[catalog] def commitSucceeded(): Unit = onCommit()

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new LakeWriteBuilder(this, info, store, hadoopConf)

  // ── DELETE FROM (copy-on-write) ──────────────────────────────────────────
  // The DML path the reference's pointer protocol enables but never builds:
  // files that provably contain no matching rows (metadata min/max) survive
  // untouched; only possibly-affected files are rewritten without the
  // matching rows by a DISTRIBUTED job (executors stream InternalRows
  // through the same stats-tracking parquet writer as inserts); one CAS
  // pointer swap makes the whole delete atomic. At 100 TB a
  // delete-by-partition-key touches only that partition's files.

  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    // in merge-on-read mode DELETE must take the SupportsDelta plan, not
    // this rewrite path (OptimizeMetadataOnlyDeleteFromTable checks here)
    writeMode(RowLevelOperation.Command.DELETE) != "merge-on-read" &&
      filters.forall(f => FilterToColumn.translate(f).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    val spark = SparkSession.active
    val cond: Column = filters.flatMap(FilterToColumn.translate)
      .reduceOption(_ && _).getOrElse(org.apache.spark.sql.functions.lit(true))
    // prune with logically-keyed stats (filters reference logical names)
    // exactly as a scan would: min/max, file blooms, bucket stats
    val preds = filters.toSeq.flatMap(FilePruner.fromV1(_, schema()))
    val bloomFor = bloomLookupFor(meta.snapshot(meta.currentSnapshotId))
    val pf = meta.allPartitionFields
    val affected = meta.logicalStatFiles(meta.currentFiles).filter(f =>
      preds.forall(FilePruner.mayMatch(_, f, bloomFor, pf)))
    val affectedPaths = affected.map(_.path).toSet
    val scanDeletes = meta.currentDeleteFiles
    val covering = TombstoneRewrite.covering(scanDeletes, affected.map(_.path))
    val newFiles: Seq[DataFileMeta] =
      if (affected.isEmpty) Nil
      else {
        // survivors are rows where the delete condition is false OR NULL —
        // SQL DELETE only removes rows where the predicate is TRUE, and
        // !NULL = NULL would silently drop null-valued rows from the rewrite.
        // Pending merge-on-read tombstones are folded in (subtracted) before
        // the predicate. Files are read under physical names, relabeled
        // logical for the predicate, rewritten under physical names.
        import org.apache.spark.sql.functions.{coalesce, col, lit, substring_index}
        // survivors are CARRIED rows: their lineage rides as materialized
        // columns (already-materialized values win, NULL inherits the
        // file's reserved range/sequence) so a CoW DELETE never changes a
        // surviving row's _row_id
        val physLineage = StructType(meta.physicalSchema.fields ++
          Seq(RowLineage.RidField, RowLineage.RseqField))
        val raw = spark.read.schema(physLineage)
          .parquet(affected.map(_.path): _*)
        val untombed = TombstoneRewrite.subtract(spark, raw, covering, hadoopConf)
        val withLin = RowLineage.inherit(spark,
          untombed
            .withColumn("__gname", substring_index(col("_metadata.file_path"), "/", -1))
            .withColumn("__gidx", col("_metadata.row_index")),
          affected, "__gname", "__gidx")
          .drop("__gname", "__gidx")
        // data columns relabel LOGICAL for the predicate; lineage rides
        val relabeled = withLin.select(
          schema().fieldNames.toIndexedSeq.zip(meta.physicalSchema.fieldNames).map {
            case (l, p) => col(p).as(l) } ++
            Seq(col(RowLineage.Rid), col(RowLineage.Rseq)): _*)
        val survivors = relabeled.filter(!coalesce(cond, lit(false)))
        val factory = LakeWriterFactory(physLineage.json, s"${meta.location}/data",
          meta.physicalPartitionColumns, new SerializableConfiguration(meta.writeConf(hadoopConf)),
          meta.physicalBloomColumns, meta.targetFileBytes,
          bloomBits = meta.fileBloomBits, statTruncateLen = meta.statTruncateLen)
        survivors.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
          val w = factory.createWriter(pid, org.apache.spark.TaskContext.get().taskAttemptId())
          rows.foreach(w.write)
          Iterator.single(w.commit())
        }.collect().toSeq.collect { case LakeCommitMessage(fs) => fs }
          .flatten.map(_.copy(lineageCols = true))
      }
    // delete files whose tombstones were all folded into this rewrite die
    // with it — that's what puts the surviving files back on the
    // vectorized read path
    val foldedDeletes = TombstoneRewrite.foldable(spark, covering, affectedPaths,
      allDeletes = scanDeletes)
    val scanDeletePaths = scanDeletes.map(_.path).toSet
    // rebase against concurrent appends: keep everything currently live
    // except the files this delete rewrote — but only if those files ARE
    // still live (a concurrent rewrite must fail this commit) and no
    // concurrent merge-on-read tombstones target them (this rewrite was
    // computed without those deletes and would resurrect their rows)
    CasCommit.retryLoop(store, namespace, tableName, metadataLocation, meta,
      "delete", ident, hadoopConf)(
      base => {
        CasCommit.requireReplacedLive(base, affectedPaths ++ foldedDeletes, "DELETE", ident)
        CasCommit.requireNoNewDeletes(scanDeletePaths, base, affectedPaths, "DELETE", ident)
      })(
      base => TableMeta.withRewrite(base, "delete", affectedPaths ++ foldedDeletes,
        newFiles, hadoopConf))(
      commitSucceeded())
  }
}

/** V1 source Filter -> Column translation: the copy-on-write DELETE's
  * rewrite predicate (file pruning goes through [[FilePruner.fromV1]]).
  */
private[catalog] object FilterToColumn {
  import org.apache.spark.sql.functions.{col, lit, not}

  def translate(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.And(l, r) => for (a <- translate(l); b <- translate(r)) yield a && b
    case sources.Or(l, r) => for (a <- translate(l); b <- translate(r)) yield a || b
    case sources.Not(c) => translate(c).map(not)
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** Copy-on-write row-level operation (UPDATE / MERGE INTO). The scan side
  * records which snapshot files it read; the write side's commit swaps
  * exactly those files for the rewritten ones. The scan prunes by the
  * command's pushed filters and, through Spark's runtime group filtering,
  * by the partition and bloom values of the rows the command matches
  * (`runtimeFilterCols` below), so the commit rewrites only the files
  * holding a matched row.
  */
final class LakeRowLevelOperation(
    table: LakeTable,
    cmd: RowLevelOperation.Command,
    store: PointerStore,
    hadoopConf: Configuration)
  extends RowLevelOperation {

  @volatile private var scanned: Seq[DataFileMeta] = Nil

  override def command(): RowLevelOperation.Command = cmd

  // ROW LINEAGE note: Spark's group-based (ReplaceData) write hands the
  // writer EXACTLY the table columns — requiredMetadataAttributes are
  // consumed for distribution upstream and stripped before the write, so
  // lineage cannot ride through this plan. Group-based UPDATE/MERGE (and
  // DELETEs whose predicate doesn't translate to deleteWhere) therefore
  // mint fresh row ids for the rewritten files — file-granular CoW
  // identity. The paths that CAN preserve identity do: deleteWhere,
  // compaction, z-order (materialized [[RowLineage]] columns), the
  // merge-on-read delta path (tombstones never move surviving rows), and
  // copy-on-write itself under `write.cow.preserve-lineage=true`, which
  // swaps this plan for the delta operation's fold-on-commit path
  // ([[LakeDeltaOperation]]) — same post-commit file shape, ids kept.

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(table.name(), table.schema(),
      table.meta.logicalStatFiles(table.meta.currentFiles), options,
      files => scanned = files,
      // runtime group filtering: Spark's RowLevelOperationRuntimeGroupFiltering
      // computes the distinct partition values matching the command's
      // condition and calls Scan.filter with them BEFORE planning input
      // partitions — an UPDATE/MERGE touching one partition rewrites one
      // partition, not the table. Bloom columns participate too: a MERGE
      // keyed on a bloom-indexed id rewrites only the files whose blooms
      // may hold a matched key, even with no partitioning at all.
      runtimeFilterCols =
        (table.meta.allPartitionFields.map(_.source) ++ table.meta.bloomColumns).distinct,
      partitionCols = table.meta.partitionColumns,
      allPartitionCols = table.meta.allPartitionColumns,
      l2p = table.meta.l2pMap,
      // pending merge-on-read tombstones apply during the CoW scan, so the
      // rewritten files exclude the deleted rows
      deleteFiles = table.meta.currentDeleteFiles,
      eqDeletes = table.meta.currentEqDeleteFiles,
      eqKeySchema = table.meta.upsertKeySchema,
      bloomFor = table.bloomLookupFor(
        table.meta.snapshot(table.meta.currentSnapshotId)))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = new Write {
      override def toBatch: BatchWrite = new BatchWrite {
        override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
          LakeWriterFactory(ColumnMapping.toPhysical(info.schema(), table.meta.l2pMap).json,
            s"${table.meta.location}/data",
            table.meta.physicalPartitionColumns, new SerializableConfiguration(table.meta.writeConf(hadoopConf)),
            table.meta.physicalBloomColumns, table.meta.targetFileBytes,
            bloomBits = table.meta.fileBloomBits,
            statTruncateLen = table.meta.statTruncateLen)
        // flipped the moment the CAS lands (or its outcome turns unknown):
        // from then on the written files may be table state and abort()
        // must leave them alone — deleting a committed file is data loss
        @volatile private var filesMayBeCommitted = false
        override def commit(messages: Array[WriterCommitMessage]): Unit = try {
          val newFiles = messages.collect { case LakeCommitMessage(fs) => fs }.flatten.toSeq
          val replacedPaths = scanned.map(_.path).toSet
          // tombstones applied by the scan are folded into the rewrite;
          // delete files left with no live targets die with this commit
          val spark = SparkSession.active
          val scanDeletes = table.meta.currentDeleteFiles
          val foldedDeletes = TombstoneRewrite.foldable(spark,
            TombstoneRewrite.covering(scanDeletes, scanned.map(_.path)),
            replacedPaths, allDeletes = scanDeletes)
          // the scan's baseline covers BOTH delete kinds: it applied the
          // current eq-deletes too, so only ones committed AFTER the scan
          // may conflict (without this, any CoW command on an upserted
          // table would spuriously fail its own validation)
          val scanDeletePaths =
            (scanDeletes ++ table.meta.currentEqDeleteFiles).map(_.path).toSet
          CasCommit.retryLoop(store, table.namespace, table.tableName,
            table.metadataLocation, table.meta, cmd.toString, table.ident, hadoopConf)(
            base => {
              // a concurrent rewrite of any scanned file invalidates this
              // CoW, and so does a concurrent tombstone targeting one
              CasCommit.requireReplacedLive(base, replacedPaths ++ foldedDeletes,
                cmd.toString, table.ident)
              CasCommit.requireNoNewDeletes(scanDeletePaths, base, replacedPaths,
                cmd.toString, table.ident)
            })(
            base => TableMeta.withRewrite(base, "replace-rows",
              replacedPaths ++ foldedDeletes, newFiles, hadoopConf))(
            { filesMayBeCommitted = true; table.commitSucceeded() })
        } catch {
          case e: CommitStateUnknownException => filesMayBeCommitted = true; throw e
        }
        override def abort(messages: Array[WriterCommitMessage]): Unit = {
          if (filesMayBeCommitted) return // committed-or-unknown: orphans at worst
          val fs = new Path(table.meta.location).getFileSystem(hadoopConf)
          messages.collect { case LakeCommitMessage(files) =>
            files.foreach(f => fs.delete(new Path(f.path), false))
          }
        }
      }
    }
  }
}

/** Scan builder: collects Spark's pushed-down filters and required columns,
  * prunes the snapshot's file list against metadata min/max BEFORE any file
  * or footer is opened, then hands the surviving files to Spark's built-in
  * parquet reader (forwarding the same pushdown so row-group pruning still
  * applies inside each file).
  */
final class LakeScanBuilder(
    ident: String,
    tableSchema: StructType,
    files: => Seq[DataFileMeta],
    options: CaseInsensitiveStringMap,
    onFilesSelected: Seq[DataFileMeta] => Unit = _ => (),
    runtimeFilterCols: Seq[String] = Nil,
    microBatch: Option[() => LakeMicroBatchStream] = None,
    partitionCols: Seq[String] = Nil,
    // the UNION of historical specs (TableMeta.allPartitionColumns) for
    // bucket pruning under partition evolution; empty = partitionCols
    allPartitionCols: Seq[String] = Nil,
    l2p: Map[String, String] = Map.empty,
    deleteFiles: => Seq[DataFileMeta] = Nil,
    eqDeletes: => Seq[DataFileMeta] = Nil,
    eqKeySchema: Option[StructType] = None,
    ndv: Map[String, Long] = Map.empty,
    kll: Map[String, Array[Byte]] = Map.empty,
    sortOrder: Seq[String] = Nil,
    bloomFor: (String, String) => Option[FileBloom] = FilePruner.NoBloom,
    // manifest-level planning skip: when set (plain table scans), build()
    // resolves the file list THROUGH the per-manifest summaries for the
    // pushed filters instead of forcing the full `files` list — a
    // selective scan of a many-manifest table never opens non-matching
    // manifests ([[TableMeta.filesMatching]])
    manifestMatching: Option[Seq[Expression] => Seq[DataFileMeta]] = None,
    // the eq-delete twin: a filtered scan resolves its equality deletes
    // through the per-manifest KEY-bound summaries, skipping epochs whose
    // keys provably can't satisfy the predicate
    // ([[TableMeta.eqDeleteFilesMatching]]); `eqDeletesExist` answers the
    // cheap presence questions (limit/top-N/agg-pushdown gating) from the
    // manifest list without opening any eq manifest
    eqDeleteMatching: Option[Seq[Expression] => Seq[DataFileMeta]] = None,
    eqDeletesExist: Option[Boolean] = None,
    // the POSITIONAL-delete twin: delta commits stamp tombstone files with
    // their targets' partition-value bounds, so a partition-predicated
    // scan skips non-matching delete manifests wholesale
    // ([[TableMeta.deleteFilesMatching]]); hint semantics as above
    posDeleteMatching: Option[Seq[Expression] => Seq[DataFileMeta]] = None,
    posDeletesExist: Option[Boolean] = None)
  extends ScanBuilder with SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit
  with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var exprs: Seq[Expression] = Nil
  // full file list, forced only by paths that genuinely need every entry
  // (metadata-only aggregates, filterless scans, limit/top-N pruning)
  private lazy val allFiles: Seq[DataFileMeta] = files
  // full delete lists, forced only when no skip source can narrow them
  private lazy val allEqDeletes: Seq[DataFileMeta] = eqDeletes
  private lazy val allDeleteFiles: Seq[DataFileMeta] = deleteFiles
  private def hasEqDeletes: Boolean = eqDeletesExist.getOrElse(allEqDeletes.nonEmpty)
  private def hasPosDeletes: Boolean = posDeletesExist.getOrElse(allDeleteFiles.nonEmpty)
  private var requiredSchema: StructType = tableSchema
  private var pushedAgg: Option[StatsAggregates.Pushed] = None
  private var limit: Option[Int] = None
  private var topN: Option[(String, Boolean, Int)] = None // (col, descending, n)

  // ── limit / top-N FILE pruning ────────────────────────────────────────
  // Partial pushdown (Spark keeps its Limit/TakeOrdered operator — we only
  // shrink the file list, never the semantics): a LIMIT n needs at most
  // the first files whose cumulative row count reaches n, and an ORDER BY
  // k LIMIT n over range-written files needs only the files that can hold
  // one of the n extreme values. On a 100 TB sorted table this turns
  // "plan every split, cancel after the first task" into "plan one file".
  // POSITIONAL tombstones don't disable pruning — each tombstone row kills
  // exactly one physical row, so pruning at n + Σ(tombstone rows) is sound
  // (see build()). EQUALITY deletes still refuse: one key's physical kill
  // count is unbounded and not metadata-derivable.
  override def pushLimit(n: Int): Boolean = {
    if (!hasEqDeletes) limit = Some(n)
    false // never fully pushed — Spark re-applies the limit
  }
  override def isPartiallyPushed(): Boolean = true

  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    if (!hasEqDeletes) orders match {
      case Array(o) => o.expression() match {
        case r: NamedReference if r.fieldNames().length == 1 =>
          topN = Some((r.fieldNames()(0), o.direction() == SortDirection.DESCENDING, n))
        case _ => ()
      }
      case _ => ()
    }
    false // partial: Spark keeps TakeOrderedAndProject
  }


  // Metadata-only aggregates are sound only when the scan applies no
  // tombstones: any positional or equality delete file makes per-file row
  // counts over-counts. Residual filters can't happen (Spark pushes
  // aggregates only when no Filter remains above the relation) but are
  // re-checked for safety.
  private def aggFromStats(agg: Aggregation): Option[StatsAggregates.Pushed] =
    if (exprs.nonEmpty || hasPosDeletes || hasEqDeletes) None
    else StatsAggregates.compute(agg, tableSchema, allFiles)

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    aggFromStats(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = aggFromStats(agg) match {
    case some @ Some(_) => pushedAgg = some; true
    case None => false
  }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    exprs = filters
    // Everything stays a post-scan filter for Spark (pushdown here is
    // best-effort skipping: file-level via min/max, row-group level inside
    // the delegated parquet scan) — matching FileScanBuilder's contract.
    filters
  }
  // explain-level pushdown display is LakeScan's description
  // (PushedFilters: [...]), which names what the parquet factory is handed.
  override def pushedFilters: Array[Predicate] = Array.empty
  override def pruneColumns(s: StructType): Unit = requiredSchema = s

  override def build(): Scan = {
    pushedAgg match {
      case Some(p) => return LakeStatsScan(ident, p)
      case None =>
    }
    val pf = (if (allPartitionCols.nonEmpty) allPartitionCols
              else partitionCols).map(PartField.parse)
    val baseFiles = manifestMatching match {
      case Some(fm) if exprs.nonEmpty => fm(exprs)
      case _ => allFiles
    }
    val survivors = baseFiles.filter(f =>
      exprs.forall(FilePruner.mayMatch(_, f, bloomFor, pf)))
    // limit/top-N file pruning (partial pushdown — Spark re-applies the
    // operator above, so dropping provably-unneeded files is free).
    // Belt-and-braces soundness guard: Spark only pushes LIMIT/TopN when
    // no post-scan filter remains, so exprs is empty today — but if
    // filter pushdown ever became "complete", a row-count prefix under a
    // residual filter would under-deliver rows. Keep the pruning OFF
    // whenever any filter is present rather than depend on that invariant.
    //
    // Positional-tombstone slack: each tombstone row kills exactly ONE
    // physical row, so (a) a prefix holding n + slack physical rows holds
    // >= n live rows, and (b) deleting slack rows promotes at most slack
    // new values into the live top-n, so every live top-n value is among
    // the top-(n + slack) physical values — whose files TopNPrune keeps.
    // A heavily-tombstoned table degrades gracefully to planning
    // everything (= the old refusal), never to a wrong prefix.
    // slack is only consumed on FILTERLESS limit/top-N paths, where no
    // skip source narrows the list — the FULL tombstone count is the bound
    lazy val slack = if (hasPosDeletes) allDeleteFiles.map(_.rowCount).sum else 0L
    val pruned = if (exprs.nonEmpty) survivors else topN match {
      case Some((c, desc, n)) if n + slack <= Int.MaxValue =>
        tableSchema.fields.find(_.name == c) match {
          case Some(f) => TopNPrune.prune(survivors, c, f.dataType, desc, (n + slack).toInt)
          case None => survivors
        }
      case Some(_) => survivors
      case None => limit match {
        case Some(n) =>
          var cum = 0L
          survivors.takeWhile { f => val need = cum < n + slack; cum += f.rowCount; need }
        case None => survivors
      }
    }
    onFilesSelected(pruned)
    // delete-side planning skip: a filtered scan resolves its tombstones
    // through the per-manifest summaries (key bounds for eq deletes,
    // target-partition bounds for positional ones); filterless scans and
    // builders without a skip source read the full lists as before
    def narrow(has: Boolean, matching: Option[Seq[Expression] => Seq[DataFileMeta]],
        all: => Seq[DataFileMeta]): Seq[DataFileMeta] =
      if (!has) Nil
      else matching match {
        case Some(m) if exprs.nonEmpty => m(exprs)
        case _ => all
      }
    val eqs = narrow(hasEqDeletes, eqDeleteMatching, allEqDeletes)
    val posDeletes = narrow(hasPosDeletes, posDeleteMatching, allDeleteFiles)
    new LakeScan(ident, tableSchema, pruned, exprs, requiredSchema, options,
      runtimeFilterCols, onFilesSelected, microBatch, partitionCols, l2p, posDeletes,
      eqs, eqKeySchema, ndv, kll, sortOrder, bloomFor,
      allPartitionCols = allPartitionCols,
      // runtime predicates may narrow the delete lists exactly where the
      // plan-time skip was allowed (plain read scans) — row-level-op
      // builders pass no skip source, so their scans keep full MoR state
      runtimeDeleteNarrow = eqDeleteMatching.isDefined || posDeleteMatching.isDefined)
  }
}

object LakeScan {
  /** Delete files dropped by RUNTIME predicate re-resolution — test
    * instrumentation for the DPP delete-side skip.
    */
  val runtimeDeletesDropped = new java.util.concurrent.atomic.AtomicLong()
}

/** Top-N file selection from manifest stats (the SupportsPushDownTopN
  * half of limit pushdown): files that can hold one of the `n` extreme
  * values of a column — order files by the relevant stat bound, take a
  * prefix with >= n rows, then include every file whose range overlaps
  * the prefix's worst-case cutoff (and any file with nulls or missing
  * stats — unprovable, so kept). With range-distributed sorted writes
  * the ranges are disjoint and this collapses to the minimal prefix.
  * Soundness is property-tested against adversarial row placements
  * (PropertySpec).
  */
private[graft] object TopNPrune {
  def prune(files: Seq[DataFileMeta], c: String, dt: DataType, desc: Boolean,
      n: Int): Seq[DataFileMeta] = {
    // the stat order; a type without one, or an unparsable stat, throws
    // out of the selection below, which then keeps every file
    val ord: Ordering[String] = (a, b) => StatBounds.compare(dt, a, b).getOrElse(
      throw new IllegalArgumentException(s"no $dt stat order for '$a' / '$b'"))
    try {
      def lo(f: DataFileMeta) = f.minValues.get(c)
      def hi(f: DataFileMeta) = f.maxValues.get(c)
      // a file with nulls can always contribute (nulls sort first asc /
      // participate per null ordering) — keep it, and don't attempt
      // pruning when any file lacks usable stats
      if (files.isEmpty || files.exists(f => lo(f).isEmpty || hi(f).isEmpty ||
          !f.nulls.get(c).contains(0L))) files
      else {
        val ordered = if (desc) files.sortBy(f => hi(f).get)(ord.reverse)
          else files.sortBy(f => lo(f).get)(ord)
        var cum = 0L
        val prefix = ordered.takeWhile { f =>
          val need = cum < n
          cum += f.rowCount
          need
        }
        // worst-case bound on the n-th extreme value across the prefix
        val cutoff = if (desc) prefix.flatMap(lo).min(ord)
          else prefix.flatMap(hi).max(ord)
        files.filter(f =>
          if (desc) ord.gteq(hi(f).get, cutoff) else ord.lteq(lo(f).get, cutoff))
      }
    } catch { case _: Exception => files } // unparsable stats -> no pruning
  }
}

/** The scan handed to Spark: plans the metadata-pruned file list into
  * parquet splits from the manifest and reads them with Spark's built-in
  * vectorized parquet reader factory ([[ParquetDelegate]]), and
  * accepts RUNTIME file pruning (SupportsRuntimeV2Filtering) on the
  * declared filter columns — used by row-level commands (UPDATE/MERGE
  * group filtering) to shrink the copy-on-write set to the files that
  * actually contain matching rows. Every re-filter re-reports the final
  * file set so the replacing commit swaps exactly what was read.
  */
final class LakeScan(
    ident: String,
    tableSchema: StructType,
    initialFiles: Seq[DataFileMeta],
    exprs: Seq[Expression],
    requiredSchema: StructType,
    options: CaseInsensitiveStringMap,
    runtimeFilterCols: Seq[String],
    onFilesSelected: Seq[DataFileMeta] => Unit,
    microBatch: Option[() => LakeMicroBatchStream] = None,
    partitionCols: Seq[String] = Nil,
    l2p: Map[String, String] = Map.empty,
    deleteFiles: Seq[DataFileMeta] = Nil,
    eqDeletes: Seq[DataFileMeta] = Nil,
    eqKeySchema: Option[StructType] = None,
    ndv: Map[String, Long] = Map.empty,
    kll: Map[String, Array[Byte]] = Map.empty,
    sortOrder: Seq[String] = Nil, // table write.sort-order (LOGICAL names)
    bloomFor: (String, String) => Option[FileBloom] = FilePruner.NoBloom,
    // runtime (DPP) predicates may ALSO narrow the delete lists — allowed
    // only for plain READ scans (the builder sets it when a plan-time
    // delete skip source exists). Row-level-operation scans must keep the
    // full delete state: their kept files are REWRITTEN wholesale, so a
    // tombstone aimed at a predicate-failing row in a kept file still has
    // to apply or the rewrite resurrects the row in the data itself.
    runtimeDeleteNarrow: Boolean = false,
    // union-of-specs for runtime bucket pruning (see LakeScanBuilder)
    allPartitionCols: Seq[String] = Nil)
  extends Scan with SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}

  private var files: Seq[DataFileMeta] = initialFiles

  // MoR observability in the Spark UI's SQL node (delete debt per scan)
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    LakeScanMetrics.all
  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(LakeScanMetrics.Value("confBroadcastReused",
      if (reads.values.asScala.forall(_.confReused)) 1L else 0L))

  // one eq-key load per delete FILE per scan (the once-per-query IO
  // contract, open-count asserted in UpsertSpec), shared by the broadcast
  // below AND the bloom applicability refinement; broadcasts memoize per
  // requested set on top (planning and AQE may call toBatch repeatedly)
  @transient private lazy val eqKeyCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      Array[org.apache.spark.sql.catalyst.expressions.UnsafeRow]]()
  private def eqKeysLoaded(paths: Seq[String])
      : Map[String, Array[org.apache.spark.sql.catalyst.expressions.UnsafeRow]] =
    paths.distinct.map(p => p -> eqKeyCache.computeIfAbsent(p, { pp =>
      EqDeletes.loadKeys(Seq(pp), eqKeySchema.getOrElse(new StructType()),
        SparkSession.active.sessionState.newHadoopConf())(pp)
    })).toMap
  @transient private lazy val eqKeyBroadcasts =
    new java.util.concurrent.ConcurrentHashMap[Seq[String],
      org.apache.spark.broadcast.Broadcast[Map[String, Array[org.apache.spark.sql.catalyst.expressions.UnsafeRow]]]]()
  private def eqKeysFor(paths: Seq[String])
      : org.apache.spark.broadcast.Broadcast[Map[String, Array[org.apache.spark.sql.catalyst.expressions.UnsafeRow]]] =
    eqKeyBroadcasts.computeIfAbsent(paths.sorted, { ps =>
      SparkSession.active.sparkContext.broadcast(eqKeysLoaded(ps))
    })

  // the required schema splits into data columns (delegated to parquet) and
  // requested metadata columns (_file/_pos/lineage, appended by the
  // merge-on-read readers); Spark appends metadata columns after data
  // columns, preserved here
  private val metaCols: Seq[String] =
    requiredSchema.fields.map(_.name).filter(LakeMetaCols.isMeta).toSeq
  private val requiredDataSchema: StructType =
    StructType(requiredSchema.fields.filterNot(f => LakeMetaCols.isMeta(f.name)))

  // runtime-narrowable delete state: the plan-time lists, re-narrowed by
  // runtime (DPP) predicates in [[filter]] when the builder allowed it
  private var deleteFilesV: Seq[DataFileMeta] = deleteFiles
  private var eqDeletesV: Seq[DataFileMeta] = eqDeletes

  // DV entries are one-per-TARGET, so a heavily deleted table carries
  // O(files) of them — the planning loop must resolve them by hash
  // lookup, not a linear range scan per data file (which would make
  // planning O(files²)); parquet delete FILES stay maintenance-bounded,
  // so their linear range check is fine. Caches invalidate when [[filter]]
  // narrows the delete lists.
  @transient private var dvByTargetC: Map[String, Seq[DataFileMeta]] = _
  private def dvByTarget: Map[String, Seq[DataFileMeta]] = {
    if (dvByTargetC == null)
      dvByTargetC = deleteFilesV.filter(_.isDv).groupBy(_.minValues(DeleteFiles.FilePathCol))
    dvByTargetC
  }
  @transient private var pqDeleteFilesC: Seq[DataFileMeta] = _
  private def pqDeleteFiles: Seq[DataFileMeta] = {
    if (pqDeleteFilesC == null) pqDeleteFilesC = deleteFilesV.filterNot(_.isDv)
    pqDeleteFilesC
  }

  /** Per-file covering delete references (merge-on-read tombstones):
    * parquet files by path range, DV entries by exact-target lookup.
    */
  private def coveringDeletes(f: DataFileMeta): Seq[DeleteSlice] =
    (DeleteFiles.covering(pqDeleteFiles, f.path) ++
      dvByTarget.getOrElse(f.path, Nil)).map(DeleteSlice.of)

  /** Equality deletes applicable to a file: strictly newer sequence AND a
    * key min/max range that can overlap the file's — a delete whose key
    * range is provably disjoint can't kill anything here, so the file
    * skips eq filtering entirely (both sides' stats come from the same
    * tracking writer).
    */
  private def eqApplicable(f: DataFileMeta): Seq[String] =
    eqDeletesV.filter(d => d.addedAt > f.addedAt &&
      eqKeySchema.forall(_.fields.forall(k => FilePruner.mayOverlap(f, d, k.name, k.dataType))) &&
      eqBloomMayHit(f, d)).map(_.path)

  // ── bloom refinement of eq-delete applicability ─────────────────────────
  // CDC upsert keys are effectively random, so every epoch's key min/max
  // range overlaps every data file and range disjointness never fires.
  // When the (single) key column is bloom-indexed, probe the DATA file's
  // bloom with the delete file's keys: "every key provably absent" means
  // this delete cannot kill anything in the file, which stays on the
  // clean vectorized path. Keys load once per file per scan (shared
  // cache with the execution broadcast); capped by delete-file row count
  // so a pathological epoch can't turn planning into a scan.
  private lazy val eqBloomKeyCol: Option[(String, DataType)] =
    eqKeySchema.filter(_.fields.length == 1).map { ks =>
      val p2l = l2p.map(_.swap)
      (p2l.getOrElse(ks.fields(0).name, ks.fields(0).name), ks.fields(0).dataType)
    }
  // None = at least one key failed to canonicalize (null key, exotic
  // type) => the refinement must NOT claim absence for that delete file.
  // Keys are canonicalized AND double-hashed once per delete file — the
  // hash pair is filter-size-independent, so probing N data files costs
  // N × (6 bit reads per key), never N × (hash per key).
  @transient private lazy val eqKeyCanon =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Array[Long]]]()
  private def eqCanonKeys(path: String, dt: DataType): Option[Array[Long]] =
    eqKeyCanon.computeIfAbsent(path, { p =>
      val rows = eqKeysLoaded(Seq(p))(p)
      val canon = rows.flatMap(row => FileBloom.canonical(row.get(0, dt)))
      if (canon.length == rows.length) Some(canon.map(FileBloom.hashes)) else None
    })
  // Hard ceiling on PLANNING work: each (data file, delete file) pair
  // spends up to |keys| probe-steps; once the scan's budget is gone the
  // refinement degrades to "maybe hits" (correct, just no longer prunes) —
  // a pathological epoch mix can never turn planning into a scan-sized job.
  @transient private val eqBloomBudget =
    new java.util.concurrent.atomic.AtomicLong(EqDeletes.BloomRefineBudget)
  private def eqBloomMayHit(f: DataFileMeta, d: DataFileMeta): Boolean =
    eqBloomKeyCol match {
      case Some((logicalKey, dt)) if d.rowCount <= EqDeletes.BloomRefineMaxKeys =>
        // resolve bloom + canonical keys FIRST: (file, delete) pairs that
        // resolve to "no bloom → keep" must not burn probe budget, or a
        // bloomless file mix exhausts the refinement long before the
        // documented 64M probe-step bound is actually spent
        (bloomFor(f.path, logicalKey), eqCanonKeys(d.path, dt)) match {
          case (Some(b), Some(keys)) if eqBloomBudget.addAndGet(-d.rowCount) >= 0L =>
            val hit = keys.exists(b.mightContainHashed)
            if (!hit) EqDeletes.bloomRefined.incrementAndGet()
            hit
          case _ => true
        }
      case _ => true
    }

  // the parquet side reads file schemas, which carry PHYSICAL column
  // names; rows come back positionally identical
  private val physSchema = ColumnMapping.toPhysical(tableSchema, l2p)
  private val physRequired = ColumnMapping.toPhysical(requiredDataSchema, l2p)
  private lazy val physExprs = ColumnMapping.toPhysicalExprs(exprs, l2p)
  // the filters the parquet factory evaluates against row-group stats,
  // translated once per scan
  @transient private lazy val pushed: Array[sources.Filter] =
    org.apache.spark.sql.graft.PlanShim.parquetFilters(SparkSession.active, physSchema, physExprs)
  // ONE read per read schema per scan — the requested columns, and a
  // merge-on-read batch's wider layout — over the conf broadcast every read
  // of the same shape shares (made only by the first): both are
  // file-independent, so a batch rebuilt by runtime filtering reuses them
  @transient private lazy val reads =
    new java.util.concurrent.ConcurrentHashMap[StructType, ParquetDelegate.Read]()
  private def readOver(readSchema: StructType): ParquetDelegate.Read =
    reads.computeIfAbsent(readSchema, s => ParquetDelegate.read(options, physSchema, pushed, s))
  private def parquet: ParquetDelegate.Read = readOver(physRequired)

  override def filterAttributes(): Array[NamedReference] =
    runtimeFilterCols.map(Expressions.column).toArray

  override def filter(predicates: Array[Predicate]): Unit = {
    val pf = (if (allPartitionCols.nonEmpty) allPartitionCols
              else partitionCols).map(PartField.parse)
    val runtime = predicates.toSeq.flatMap(FilePruner.fromV2(_, tableSchema))
    def may(f: DataFileMeta, bloom: (String, String) => Option[FileBloom]): Boolean =
      runtime.forall(FilePruner.mayMatch(_, f, bloom, pf))
    files = files.filter(may(_, bloomFor))
    onFilesSelected(files)
    // re-resolve the DELETE-side skip under the runtime predicates: a
    // DPP-pruned scan also drops delete files whose stamped bounds
    // (target-partition values for positional tombstones, key ranges for
    // eq-deletes) provably exclude the predicate. Sound for read scans by
    // the plan-time skip's own argument: a runtime predicate is implied
    // by the query, so rows such a tombstone kills fail the predicate and
    // contribute nothing to the result — leaving them alive is invisible.
    // Entries keep PHYSICAL stat keys; the view remaps them to the
    // predicate's logical names and DROPS the reserved tombstone keys
    // (file_path/pos target stats must never pose as user-column bounds).
    if (runtimeDeleteNarrow && (deleteFilesV.nonEmpty || eqDeletesV.nonEmpty)) {
      val p2l = l2p.map(_.swap)
      val identity = p2l.forall(kv => kv._1 == kv._2)
      def view(d: DataFileMeta): DataFileMeta = {
        def clean(m: Map[String, String]): Map[String, String] = {
          val noRes = m - DeleteFiles.FilePathCol - DeleteFiles.PosCol
          if (identity) noRes
          else noRes.map { case (k, v) => (ColumnMapping.logicalStatKey(k, p2l), v) }
        }
        d.copy(minValues = clean(d.minValues), maxValues = clean(d.maxValues))
      }
      def keep(d: DataFileMeta): Boolean = may(view(d), FilePruner.NoBloom)
      val nBefore = deleteFilesV.size + eqDeletesV.size
      deleteFilesV = deleteFilesV.filter(keep)
      eqDeletesV = eqDeletesV.filter(keep)
      LakeScan.runtimeDeletesDropped.addAndGet(
        (nBefore - deleteFilesV.size - eqDeletesV.size).toLong)
      dvByTargetC = null
      pqDeleteFilesC = null
    }
    batchV = null // rebuild the batch over the pruned list
    keyGroupsV = null // and the storage-partitioned batch
    keyedBatchV = null
    // the row estimate and column stats fold over files/deleteFilesV/
    // eqDeletesV — a stale cache here would report pre-pruning rows next
    // to post-pruning sizeInBytes (internally inconsistent stats)
    cachedNumRowsV = null
    cachedColumnStatsV = null
  }

  // ── storage-partitioned join support ─────────────────────────────────────
  // Clustered writes guarantee min==max on partition columns per file, so
  // the file list partitions cleanly by key. Reporting KeyGroupedPartitioning
  // + HasPartitionKey partitions lets Spark join two tables partitioned the
  // same way WITHOUT shuffling either side — at 100 TB the difference
  // between a metadata-aligned join and moving both tables over the network.

  private def pfields: Seq[PartField] = partitionCols.map(PartField.parse)

  private def parseKey(f: DataFileMeta): Option[Seq[Any]] = {
    val vals = pfields.map { pf =>
      (f.minValues.get(pf.statKey), f.maxValues.get(pf.statKey)) match {
        case (Some(lo), Some(hi)) if lo == hi =>
          try {
            // bucket/time keys are ints; identity AND truncate keys carry
            // the SOURCE column's runtime type (truncate of a BIGINT/STRING
            // is a BIGINT/STRING)
            if (pf.buckets.isDefined || pf.time.isDefined) lo.toInt
            else tableSchema.fields(tableSchema.fieldIndex(pf.source)).dataType match {
              case IntegerType | DateType => lo.toInt
              case LongType => lo.toLong
              case ShortType => lo.toShort
              case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(lo)
              case BooleanType => lo.toBoolean
              case _ => null
            }
          } catch { case _: Exception => null }
        case _ => null
      }
    }
    if (vals.contains(null)) None else Some(vals)
  }

  /** (key row, files) per partition value — None if any file is not cleanly
    * single-valued on the partition columns (then no SPJ, regular planning).
    * Cached until [[filter]] prunes `files`: a grouping frozen before a
    * runtime filter reads every pre-filter file, and a copy-on-write
    * commit, which replaces only the filtered files, would then re-add
    * the rows of the files it keeps.
    */
  @transient private var keyGroupsV: Option[Seq[(InternalRow, Seq[DataFileMeta])]] = null
  private def keyGroups: Option[Seq[(InternalRow, Seq[DataFileMeta])]] = {
    if (keyGroupsV == null) keyGroupsV = computeKeyGroups
    keyGroupsV
  }
  private def computeKeyGroups: Option[Seq[(InternalRow, Seq[DataFileMeta])]] =
    // no SPJ when metadata columns are requested or tombstones are pending:
    // those files read through merge-on-read partitions, which don't carry keys
    if (partitionCols.isEmpty || files.isEmpty || metaCols.nonEmpty ||
        files.exists(f => coveringDeletes(f).nonEmpty || eqApplicable(f).nonEmpty)) None
    else {
      val parsed = files.map(f => parseKey(f).map(_ -> f))
      if (parsed.exists(_.isEmpty)) None
      else Some(parsed.flatten
        .groupBy(_._1)
        .toSeq
        .sortBy(_._1.map(_.toString).mkString("/")) // deterministic order
        .map { case (k, fs) =>
          (new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(k.toArray),
            fs.map(_._2))
        })
    }

  @transient private var keyedBatchV: Option[LakeKeyGroupedBatch] = null
  private def keyedBatch: Option[LakeKeyGroupedBatch] = {
    if (keyedBatchV == null) keyedBatchV = keyGroups.map(new LakeKeyGroupedBatch(_, parquet.factory))
    keyedBatchV
  }

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedBatch match {
      case Some(b) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          pfields.map(LakeTransforms.v2(_):
            org.apache.spark.sql.connector.expressions.Expression).toArray,
          b.planInputPartitions().length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  // ── sorted-scan support (SupportsReportOrdering) ─────────────────────────
  // A table whose files were WRITTEN under write.sort-order can tell Spark
  // its partitions arrive pre-sorted — combined with KeyGroupedPartitioning
  // this yields sort-merge joins with NEITHER an exchange NOR a sort on
  // either side: the join runs entirely on storage layout. Claimed only
  // when provably true per input partition:
  //   - every selected file carries sorted-by provenance whose prefix is
  //     the current sort order (stamped by sorted writes / compaction;
  //     files from before the property was set don't qualify),
  //   - the key-grouped path is active with exactly ONE file per partition
  //     value (the post-compaction state) — each input partition then holds
  //     splits of a single sorted file, never a concatenation of files,
  //   - no pending tombstones/eq-deletes and no metadata columns (already
  //     folded into keyGroups' definition).
  // Spark's side drops the ordering itself if runtime grouping would break
  // it; reporting is the storage truth, EnsureRequirements does the rest.
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val eligible = sortOrder.nonEmpty &&
      keyGroups.exists(_.forall(_._2.size == 1)) &&
      files.forall(f => f.sortCols.take(sortOrder.length) == sortOrder)
    if (eligible)
      sortOrder.map(c => Expressions.sort(Expressions.column(c),
        SortDirection.ASCENDING)).toArray
    else Array.empty
  }

  /** Exact size/row statistics straight from the manifest (the writer
    * tracked them) — without this, Catalyst falls back to
    * defaultSizeInBytes (Long.MaxValue) and a small catalog dimension
    * would NEVER broadcast-join.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(files.map(_.sizeBytes).sum)
      // Catalyst asks for stats repeatedly during planning; the eq-delete
      // accounting below is the one non-trivial part, so compute the row
      // estimate once per scan instance
      override def numRows(): java.util.OptionalLong = cachedNumRows
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        cachedColumnStats
    }

  // cached-until-invalidated (NOT lazy val): filter() mutates the file and
  // delete lists, and a frozen pre-pruning estimate next to the recomputed
  // sizeInBytes would hand Catalyst inconsistent stats
  @transient private var cachedNumRowsV: java.util.OptionalLong = null
  private def cachedNumRows: java.util.OptionalLong = {
    if (cachedNumRowsV == null) cachedNumRowsV = computeNumRows
    cachedNumRowsV
  }
  private def computeNumRows: java.util.OptionalLong = {
        // each POSITIONAL tombstone kills exactly one live row; only delete
        // files whose range covers a SELECTED file count (a pruned scan
        // must not subtract tombstones aimed at files it no longer reads).
        // DV entries: exact-target set membership (O(1) each — their
        // count scales with files); parquet files: the bounded range scan
        val pathSet = files.map(_.path).toSet
        val paths = files.map(_.path)
        val covering = deleteFilesV.filter(d =>
          if (d.isDv) pathSet.contains(d.minValues(DeleteFiles.FilePathCol))
          else DeleteFiles.coversAny(d, paths))
        // EQUALITY-delete kills (r11, VERDICT #6): the r10 estimate charged
        // one kill per delete ROW, which drove a blind-upsert stream
        // (insert + delete per key per epoch) to ~zero estimated rows —
        // and an underestimated fact table is a broadcast OOM at scale.
        // Now kills are bounded by what was KILLABLE: walking delete files
        // in commit order, each can kill at most the not-yet-killed rows
        // of OLDER, key-range-OVERLAPPING selected files (overlap via the
        // shared min/max stat columns, in the stat order). The blind
        // upsert shape now estimates ~|keys| live. Still an estimate —
        // metadata cannot know per-key multiplicity — but it only feeds
        // join sizing, and compaction re-trues it.
        // a key outside the schema has no stat order: conservative overlap
        val statTypes = tableSchema.fields.map(c => c.name -> c.dataType).toMap
        def overlaps(d: DataFileMeta, f: DataFileMeta): Boolean =
          d.minValues.keySet.intersect(f.minValues.keySet).forall(c =>
            statTypes.get(c).forall(FilePruner.mayOverlap(d, f, c, _)))
        // planning-cost bound: the overlap REFINEMENT is O(deletes × files)
        // with per-file stat-map intersections — measured +0.7 s on a
        // metadata-heavy query when run unconditionally, and unacceptable
        // at real file counts. Past the budget, kills fall back to the
        // commit-order prefix bound alone (O((D+F) log F)) — that is the
        // part that fixes the blind-upsert underestimate; range overlap
        // only sharpens disjoint-key cases.
        val eqApplicable = eqDeletesV.filter(d => files.exists(_.addedAt < d.addedAt))
          .sortBy(d => (d.addedAt, d.path))
        val refine = eqApplicable.size.toLong * files.size <= 1000000L
        val byAdded = files.sortBy(_.addedAt)
        val addedAts = byAdded.map(_.addedAt).toArray
        val prefixRows = byAdded.scanLeft(0L)(_ + _.rowCount).toArray
        def olderRows(addedAt: Long): Long = {
          var lo = 0; var hi = addedAts.length
          while (lo < hi) { // first index with addedAt >= delete's
            val mid = (lo + hi) >>> 1
            if (addedAts(mid) < addedAt) lo = mid + 1 else hi = mid
          }
          prefixRows(lo)
        }
        var eqKilled = 0L
        eqApplicable.foreach { d =>
          val killable =
            if (refine) files.iterator
              .filter(f => f.addedAt < d.addedAt && overlaps(d, f))
              .map(_.rowCount).sum
            else olderRows(d.addedAt)
          eqKilled += math.max(0L, math.min(d.rowCount, killable - eqKilled))
        }
        java.util.OptionalLong.of(math.max(0L,
          files.map(_.rowCount).sum - covering.map(_.rowCount).sum - eqKilled))
  }

  // Per-column stats for CBO (converted by transformV2Stats into
  // per-attribute ColumnStat): distinctCount from the analyze-
  // maintained HLL sketches (table-level estimates), nullCount summed
  // EXACTLY from the manifests over the SELECTED files — join
  // reordering and sizing read these once spark.sql.cbo.enabled is on.
  // Cached like the row estimate: the per-column min/max fold parses
  // BigDecimals over every selected file and Catalyst asks repeatedly.
  @transient private var cachedColumnStatsV: java.util.Map[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = null
  private def cachedColumnStats: java.util.Map[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    if (cachedColumnStatsV == null) cachedColumnStatsV = computeColumnStats
    cachedColumnStatsV
  }
  private def computeColumnStats: java.util.Map[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
        // typed min/max over the SELECTED files (exact — the writer tracks
        // full values), for the types Catalyst's estimation consumes as
        // plain JVM boxes; feeds range-filter selectivity once CBO is on
        def bound(f: StructField, stats: DataFileMeta => Map[String, String],
            wantMin: Boolean): Option[Any] = {
          val box: Option[String => Any] = f.dataType match {
            case IntegerType | DateType => Some(_.toInt)
            case LongType | TimestampType | TimestampNTZType => Some(_.toLong)
            case DoubleType => Some(_.toDouble)
            case FloatType => Some(_.toFloat)
            case ShortType => Some(_.toShort)
            case _ => None
          }
          val raw = files.map(x => stats(x).get(f.name))
          if (files.isEmpty || box.isEmpty || raw.exists(_.isEmpty)) None
          else try {
            val vals = raw.flatten
            // no typed bound past a non-finite stat (NaN / ±Infinity)
            require(!vals.exists(StatBounds.isNonFinite))
            val ord: Ordering[String] = (a, b) => StatBounds.compare(f.dataType, a, b).get
            box.map(_(if (wantMin) vals.min(ord) else vals.max(ord)))
          } catch { case _: Exception => None }
        }
        val m = new java.util.HashMap[NamedReference, ColumnStatistics]()
        tableSchema.fields.foreach { f =>
          val ndvOpt = ndv.get(f.name)
          val nullsOpt =
            if (files.nonEmpty && files.forall(_.nulls.contains(f.name)))
              Some(files.map(_.nulls(f.name)).sum)
            else None
          val minOpt = bound(f, _.minValues, wantMin = true)
          val maxOpt = bound(f, _.maxValues, wantMin = false)
          val histOpt = for {
            nd <- ndvOpt; bytes <- kll.get(f.name)
            h <- LakeHistogram.fromSketch(bytes, nd)
          } yield h
          if (ndvOpt.isDefined || nullsOpt.isDefined || minOpt.isDefined) {
            m.put(Expressions.column(f.name), new ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                ndvOpt.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
              override def nullCount(): java.util.OptionalLong =
                nullsOpt.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
              override def min(): java.util.Optional[Object] =
                minOpt.fold(java.util.Optional.empty[Object]())(v =>
                  java.util.Optional.of(v.asInstanceOf[Object]))
              override def max(): java.util.Optional[Object] =
                maxOpt.fold(java.util.Optional.empty[Object]())(v =>
                  java.util.Optional.of(v.asInstanceOf[Object]))
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                histOpt.fold(java.util.Optional.empty[
                  org.apache.spark.sql.connector.read.colstats.Histogram]())(
                  java.util.Optional.of(_))
            })
          }
        }
        m
  }

  // Spark consumes rows positionally against this schema: report LOGICAL
  // names (the parquet side reads physical ones; layout is identical), plus
  // any requested metadata columns appended after the data columns.
  override def readSchema(): StructType =
    StructType(ColumnMapping.toLogical(physRequired, l2p).fields ++
      metaCols.map(LakeMetaCols.fieldOf))

  // Spark asks for the batch more than once while planning; cached until
  // [[filter]] prunes `files`
  @transient private var batchV: org.apache.spark.sql.connector.read.Batch = _
  override def toBatch: org.apache.spark.sql.connector.read.Batch = {
    if (batchV == null) batchV = newBatch
    batchV
  }

  /** A scan none of whose files has deletes, and that requests no metadata
    * column, reads through the scan's one parquet factory (key-grouped when
    * the files partition cleanly). Otherwise the files that need graft's
    * delete mask — POSITION-tombstoned files, files with applicable
    * equality deletes, and every file when `_file`/`_pos`/lineage columns
    * are requested — read through Spark's parquet factory with the mask on
    * top ([[LakeMixedBatch]]).
    */
  private def newBatch: org.apache.spark.sql.connector.read.Batch = {
    val dirty = files.map(f => (f, coveringDeletes(f), eqApplicable(f)))
    if (metaCols.nonEmpty || dirty.exists(d => d._2.nonEmpty || d._3.nonEmpty)) {
      val (positional, rest) =
        if (metaCols.nonEmpty) (dirty, Nil)
        else dirty.partition(_._2.nonEmpty)
      val (eqOnly, clean) = rest.partition(_._3.nonEmpty)
      new LakeMixedBatch(physRequired, readOver, clean.map(_._1), positional,
        eqOnly.map(d => (d._1, d._3)), metaCols,
        eqKeySchema.getOrElse(new StructType()), eqKeysFor)
    } else keyedBatch.getOrElse(new LakeFileBatch(files, parquet.factory))
  }
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    microBatch.map(_.apply()).getOrElse(
      throw new UnsupportedOperationException(s"$ident does not support streaming reads"))
  // what the parquet factory is handed, in the format of Spark's own file
  // scans (physical names; each value abbreviated past
  // spark.sql.maxMetadataStringLength)
  override def description(): String = {
    val max = SparkSession.active.sessionState.conf.maxMetadataStringLength
    def abbr(s: String) = org.apache.commons.lang3.StringUtils.abbreviate(s, max)
    s"LakeScan($ident, ${files.size} files) PushedFilters: " +
      s"${abbr(pushed.mkString("[", ", ", "]"))}, ReadSchema: ${abbr(physRequired.catalogString)}"
  }
}

/** Key-grouped batch: each partition value's files planned on their own,
  * every emitted input partition carrying its key (HasPartitionKey) so
  * BatchScanExec can co-locate it with the matching partition of another
  * table scanned the same way. The parquet reader factory is
  * file-independent (schema, filters, conf): the scan's one factory serves
  * every group.
  */
final class LakeKeyGroupedBatch(
    groups: Seq[(InternalRow, Seq[DataFileMeta])],
    factory: org.apache.spark.sql.connector.read.PartitionReaderFactory)
  extends org.apache.spark.sql.connector.read.Batch {

  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

  private lazy val parts: Array[InputPartition] = groups.flatMap { case (key, files) =>
    ParquetDelegate.partitions(files).map(p => KeyedInputPartition(p, key))
  }.toArray[InputPartition]

  override def planInputPartitions(): Array[InputPartition] = parts
  override def createReaderFactory(): PartitionReaderFactory = new UnwrappingReaderFactory(factory)
}

/** A batch of clean files read by the scan's parquet factory alone. */
final class LakeFileBatch(
    files: Seq[DataFileMeta],
    factory: org.apache.spark.sql.connector.read.PartitionReaderFactory)
  extends org.apache.spark.sql.connector.read.Batch {

  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

  private lazy val parts = ParquetDelegate.partitions(files).toArray[InputPartition]

  override def planInputPartitions(): Array[InputPartition] = parts
  override def createReaderFactory(): PartitionReaderFactory = factory
}

/** The parquet side of every lake read, planned from the manifest: input
  * partitions from each file's path and recorded size, and Spark's own
  * vectorized reader factory (column pruning, row-group predicate
  * pushdown) over a prepared Hadoop conf, broadcast once per read shape.
  * Planning lists, stats and opens no file. Schemas and filters use the
  * files' (physical) column names.
  */
private[catalog] object ParquetDelegate {
  import org.apache.hadoop.fs.FileStatus
  import org.apache.spark.SparkContext
  import org.apache.spark.broadcast.Broadcast
  import org.apache.spark.sql.connector.read.PartitionReaderFactory
  import org.apache.spark.sql.execution.PartitionedFileUtil
  import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata, PartitionedFile}
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport}
  import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
  import org.apache.spark.sql.graft.PlanShim
  import org.apache.spark.sql.internal.SQLConf

  /** A parquet read: the broadcast conf, the factory that reads with it,
    * and whether the conf's broadcast was an earlier read's. Tombstone
    * loads take the same conf and set their own keys on a copy, so a shared
    * value is never mutated.
    */
  final case class Read(conf: Broadcast[SerializableConfiguration],
      factory: PartitionReaderFactory, confReused: Boolean)

  // the last few conf broadcasts, by context and the prepared conf's full
  // content: reads of one shape share one broadcast until the options, the
  // read schema or the SQL conf change. Eviction only drops the reference,
  // never destroys: the ContextCleaner reclaims a broadcast once no plan
  // holds it, so a running task can still fetch its value.
  private val MaxConfs = 16
  private val confs = new java.util.LinkedHashMap[(SparkContext, Map[String, String]),
      Broadcast[SerializableConfiguration]](MaxConfs, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[(SparkContext, Map[String, String]),
        Broadcast[SerializableConfiguration]]): Boolean = size > MaxConfs
  }

  /** `c`'s broadcast on `sc`: an earlier one of the same content, or a new
    * one (true when reused).
    */
  private def broadcastConf(sc: SparkContext,
      c: Configuration): (Broadcast[SerializableConfiguration], Boolean) = {
    val key = (sc, c.iterator.asScala.map(e => e.getKey -> e.getValue).toMap)
    val cached = confs.synchronized {
      confs.keySet.removeIf(_._1.isStopped)
      Option(confs.get(key))
    }
    cached.map(_ -> true).getOrElse {
      val b = sc.broadcast(new SerializableConfiguration(c))
      confs.synchronized(confs.put(key, b))
      (b, false)
    }
  }

  /** Each of `files` cut as Spark's `FileScan.partitions` cuts it: the
    * split size from the session and the files' total size, each file into
    * splits of at most that size. Sizes come from the manifest; splits carry
    * no host preference.
    */
  private def splits(files: Seq[DataFileMeta]): (Long, Seq[Seq[PartitionedFile]]) = {
    val spark = SparkSession.active
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark, files.map(_.sizeBytes + openCost).sum)
    (maxSplit, files.map { f =>
      val raw = new Path(f.path)
      val path = raw.getFileSystem(hadoopConf).makeQualified(raw)
      PartitionedFileUtil.splitFiles(
        FileStatusWithMetadata(new FileStatus(f.sizeBytes, false, 0, 0L, 0L, path)),
        path, isSplitable = true, maxSplit, InternalRow.empty)
    })
  }

  /** `files` split and packed as Spark's `FileScan.partitions` does it:
    * the [[splits]], largest first, packed into partitions.
    */
  def partitions(files: Seq[DataFileMeta]): Array[FilePartition] =
    if (files.isEmpty) Array.empty
    else {
      val (maxSplit, perFile) = splits(files)
      FilePartition.getFilePartitions(SparkSession.active,
        perFile.flatten.sortBy(-_.length), maxSplit).toArray
    }

  /** The [[splits]] of `items`' files, one split per partition, each with
    * the item it came from.
    */
  def splitPartitions[T](items: Seq[T])(file: T => DataFileMeta): Seq[(T, FilePartition)] =
    items.zip(splits(items.map(file))._2)
      .flatMap { case (item, ss) => ss.map(item -> _) }
      .zipWithIndex.map { case ((item, s), i) => item -> FilePartition(i, Array(s)) }

  /** Spark's parquet reader factory reading `readSchema` from files of
    * `fileSchema`, with `pushed` filters, over a conf carrying the scan's
    * options and the keys `ParquetScan.createReaderFactory` sets. The
    * factory (which holds `pushed`) is built per call; the conf's broadcast
    * is shared with every earlier read whose prepared conf is the same.
    */
  def read(options: CaseInsensitiveStringMap, fileSchema: StructType,
      pushed: Array[sources.Filter], readSchema: StructType): Read = {
    val spark = SparkSession.active
    val sql = spark.sessionState.conf
    val opts = options.asCaseSensitiveMap.asScala.toMap
    val c = spark.sessionState.newHadoopConfWithOptions(opts)
    val json = readSchema.json
    c.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, json)
    c.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, json)
    c.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    c.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, sql.nestedSchemaPruningEnabled)
    c.setBoolean(SQLConf.CASE_SENSITIVE.key, sql.caseSensitiveAnalysis)
    c.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sql.isParquetBinaryAsString)
    c.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sql.isParquetINT96AsTimestamp)
    c.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sql.parquetInferTimestampNTZEnabled)
    c.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sql.legacyParquetNanosAsLong)
    c.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sql.parquetReaderRespectUnknownTypeAnnotation)
    val (conf, reused) = broadcastConf(spark.sparkContext, c)
    Read(conf, ParquetPartitionReaderFactory(sql, conf, PlanShim.asNullable(fileSchema),
      readSchema, new StructType(), pushed, None, new ParquetOptions(opts, sql)), reused)
  }
}

/** A batch of a scan some of whose files need graft's delete mask. Files
  * with positional tombstones — every file, when `_file`/`_pos`/lineage
  * columns are requested — read one split per partition, cut as clean
  * files are cut; files dirtied only by equality deletes pack per
  * applicable delete set, so an upsert epoch adds no tasks. Both read
  * through Spark's parquet factory over the batch's [[MorLayout]] with the
  * mask on top ([[LakeReaderFactory]]), so row-group pruning, rebasing and
  * time zones are Spark's, as on clean files. Clean files pack as on a
  * clean scan and keep the scan's own read, unless the merge-on-read read
  * fetches no stored column they do not: then they share it, and the batch
  * needs one conf broadcast. `readOver` is the scan's memoized read per
  * read schema.
  */
final class LakeMixedBatch(
    physRequired: StructType,
    readOver: StructType => ParquetDelegate.Read,
    cleanFiles: Seq[DataFileMeta],
    positional: Seq[(DataFileMeta, Seq[DeleteSlice], Seq[String])],
    eqOnly: Seq[(DataFileMeta, Seq[String])],
    metaCols: Seq[String],
    eqKeySchema: StructType,
    eqKeysFor: Seq[String] => org.apache.spark.broadcast.Broadcast[Map[String, Array[org.apache.spark.sql.catalyst.expressions.UnsafeRow]]])
  extends org.apache.spark.sql.connector.read.Batch {

  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

  // eq-only files group by their applicable delete set (≈ one group per
  // epoch boundary)
  private lazy val eqGroups: Seq[(Seq[String], Seq[DataFileMeta])] =
    eqOnly.groupBy(_._2.sorted).toSeq.sortBy(_._1.mkString(","))
      .map { case (eqPaths, fs) => (eqPaths, fs.map(_._1)) }

  private lazy val eqPaths: Seq[String] =
    (positional.flatMap(_._3) ++ eqGroups.flatMap(_._1)).distinct

  private lazy val layout = MorLayout.of(physRequired,
    keys = if (eqPaths.isEmpty) new StructType() else eqKeySchema,
    lineage = metaCols.exists(LakeMetaCols.isLineage) && positional.exists(_._1.lineageCols),
    rowIndex = positional.nonEmpty, metaCols)
  private lazy val mor = readOver(layout.read)
  private lazy val cleanViaMor = !layout.readsExtraColumns
  private lazy val clean = if (cleanViaMor || cleanFiles.isEmpty) mor else readOver(physRequired)

  private lazy val parts: Array[InputPartition] = {
    val cleanParts = ParquetDelegate.partitions(cleanFiles)
    (if (cleanViaMor) cleanParts.map(p => MorInputPartition(p)) else cleanParts).toSeq ++
      ParquetDelegate.splitPartitions(positional)(_._1).map { case ((f, dels, eqs), p) =>
        MorInputPartition(p, eqs, f.path, dels, f.firstRowId, f.addedAt)
      } ++
      eqGroups.flatMap { case (paths, fs) =>
        ParquetDelegate.partitions(fs).map(p => MorInputPartition(p, paths))
      }
  }.toArray

  override def planInputPartitions(): Array[InputPartition] = parts

  override def createReaderFactory(): PartitionReaderFactory = {
    // the whole scan reads vectorized when Spark's factories support every
    // partition and the requested columns can be compacted
    val columnar = ColumnarSupport.ok(physRequired) && parts.forall {
      case m: MorInputPartition => mor.factory.supportColumnarReads(m.inner)
      case p => clean.factory.supportColumnarReads(p)
    }
    new LakeReaderFactory(clean.factory, mor.factory, layout, mor.conf,
      if (eqPaths.isEmpty) null else eqKeysFor(eqPaths), columnar)
  }
}

/** An input partition tagged with its partition-key row. */
final case class KeyedInputPartition(
    inner: org.apache.spark.sql.connector.read.InputPartition,
    key: InternalRow)
  extends org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Unwraps [[KeyedInputPartition]] before delegating to the parquet reader
  * factory (which expects its own FilePartition instances).
  */
final class UnwrappingReaderFactory(
    delegate: org.apache.spark.sql.connector.read.PartitionReaderFactory)
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.connector.read.InputPartition
  private def unwrap(p: InputPartition): InputPartition = p match {
    case KeyedInputPartition(inner, _) => inner
    case other => other
  }
  override def createReader(p: InputPartition) = delegate.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition) = delegate.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    delegate.supportColumnarReads(unwrap(p))
}

/** Metadata-level file skipping — the one pruner every stats-based skip
  * goes through (scan planning, runtime filters, manifest summaries,
  * copy-on-write DELETE, expression overwrite, row groups). It reads
  * catalyst predicates over internal representations (dates = days-since-
  * epoch Int, timestamps = micros Long), which is exactly what catalyst
  * Literals and the writer-side stats carry; DSv2 runtime predicates and
  * V1 source filters enter through [[fromV2]] / [[fromV1]]. Every stat
  * string is ordered by [[StatBounds.compare]]. `mayMatch = false` only
  * when the stats prove no row of the file satisfies the predicate —
  * unknown shapes, casts on the column side, missing stats ⇒ keep the
  * file.
  */
object FilePruner {
  import org.apache.spark.sql.catalyst.{expressions => ce}
  import org.apache.spark.unsafe.types.UTF8String

  /** `(sign(min cmp v), sign(max cmp v))` of `f`'s stats on key `k`
    * against the stat value `v`, in `dt`'s stat order. None ⇒ can't
    * compare ⇒ caller keeps the file.
    */
  private def cmp(f: DataFileMeta, k: String, v: String, dt: DataType): Option[(Int, Int)] =
    for {
      mn <- f.minValues.get(k); mx <- f.maxValues.get(k)
      lo <- StatBounds.compare(dt, mn, v); hi <- StatBounds.compare(dt, mx, v)
    } yield (lo, hi)

  /** May `f` hold the stat value `v` on key `k`? Missing or unordered
    * bounds: maybe.
    */
  def mayContain(f: DataFileMeta, k: String, v: String, dt: DataType): Boolean =
    cmp(f, k, v, dt).forall { case (lo, hi) => lo <= 0 && hi >= 0 }

  /** May the [min, max] ranges of `a` and `b` on key `k` overlap? A
    * missing bound is unbounded; unordered bounds overlap.
    */
  def mayOverlap(a: DataFileMeta, b: DataFileMeta, k: String, dt: DataType): Boolean = {
    def le(x: Option[String], y: Option[String]): Boolean =
      (for (p <- x; q <- y; c <- StatBounds.compare(dt, p, q)) yield c <= 0).getOrElse(true)
    le(a.minValues.get(k), b.maxValues.get(k)) && le(b.minValues.get(k), a.maxValues.get(k))
  }

  /** A stat-keyed term and, once resolved, its type: a plain column
    * reference (unresolved in a parsed maintenance scope), or a typed
    * variant extraction `variant_get(col, '$.path', type)` whose per-file
    * min/max the writer recorded under `col#path` (write.variant.shred-
    * paths). The extraction TYPE is part of the stat key: a predicate
    * shredding the same path as a different type finds no stats and keeps
    * the file. Unshredded paths simply have no stats ⇒ conservative keep.
    */
  private def termKey(e: ce.Expression): Option[(String, Option[DataType])] = e match {
    case a: ce.Attribute => Some((a.name, if (a.resolved) Some(a.dataType) else None))
    case org.apache.spark.sql.catalyst.expressions.variant.VariantGet(
        a: ce.Attribute, ce.Literal(p: UTF8String, _), dt, _, _) if p != null =>
      Some((VariantShred.statKey(a.name, p.toString, dt), Some(dt)))
    case _ => None
  }

  /** `term op lit` / `lit op term` with a non-null literal: the term's
    * stat key, the literal's value and type (the stats compare in that
    * type's order), whether the term has that type, and whether the
    * literal is on the left.
    */
  private final case class Probe(key: String, v: Any, dt: DataType, sameType: Boolean,
      flipped: Boolean)

  private def probe(l: ce.Expression, r: ce.Expression): Option[Probe] = (l, r) match {
    case (t, ce.Literal(v, dt)) if v != null =>
      termKey(t).map { case (k, tdt) => Probe(k, v, dt, tdt.contains(dt), flipped = false) }
    case (ce.Literal(v, dt), t) if v != null =>
      termKey(t).map { case (k, tdt) => Probe(k, v, dt, tdt.contains(dt), flipped = true) }
    case _ => None
  }

  /** No bloom index — point predicates prune on min/max alone. */
  val NoBloom: (String, String) => Option[FileBloom] = (_, _) => None

  /** Could any row of `f` satisfy `e`? `bloomFor(path, col)` supplies the
    * file-level bloom (if any) for point predicates beyond min/max;
    * `partFields` (the union of historical specs under partition
    * evolution) supplies the bucket fields a point predicate may prune by.
    */
  def mayMatch(e: ce.Expression, f: DataFileMeta,
      bloomFor: (String, String) => Option[FileBloom] = NoBloom,
      partFields: Seq[PartField] = Nil): Boolean = {
    if (f.minValues.isEmpty) return true
    // test receives (sign(lo cmp v), sign(hi cmp v), literalOnLeft)
    def check(l: ce.Expression, r: ce.Expression)(
        test: (Int, Int, Boolean) => Boolean): Boolean =
      probe(l, r).forall(p =>
        cmp(f, p.key, p.v.toString, p.dt).forall { case (cl, ch) => test(cl, ch, p.flipped) })
    // could a row of f hold `key = v`? Its [min, max], its file bloom, and
    // the recorded bucket of EVERY bucket field on the column: each file
    // carries the stat of the one spec it was written under, and a field
    // whose key it lacks keeps it. A bucket is the hash of a value of the
    // column's type, so a literal of another type keeps the file.
    def mayEqual(p: Probe): Boolean =
      mayContain(f, p.key, p.v.toString, p.dt) &&
        bloomFor(f.path, p.key).forall(b => FileBloom.canonical(p.v).forall(b.mightContain)) &&
        partFields.forall(pf => pf.buckets.isEmpty || pf.source != p.key || !p.sameType ||
          (try mayContain(f, pf.statKey, BucketHash(pf.buckets.get, p.v, p.dt).toString,
            IntegerType) catch { case _: Exception => true }))
    def mayEqualTerm(t: ce.Expression, v: ce.Expression): Boolean = probe(t, v).forall(mayEqual)
    def may(e: ce.Expression): Boolean = e match {
      case ce.And(a, b) => may(a) && may(b)
      case ce.Or(a, b) => may(a) || may(b)
      // null-count stats: a file with zero nulls has no IS NULL match; a
      // file that is all-null has no IS NOT NULL match
      case ce.IsNull(a: ce.Attribute) => f.nulls.get(a.name).forall(_ > 0)
      case ce.IsNotNull(a: ce.Attribute) => f.nulls.get(a.name).forall(_ < f.rowCount)
      // a non-null literal: `<=>` matches exactly the rows `=` does
      case ce.EqualTo(l, r) => mayEqualTerm(l, r)
      case ce.EqualNullSafe(l, r) => mayEqualTerm(l, r)
      case ce.GreaterThan(l, r) => // attr > v needs hi > v; v > attr needs lo < v
        check(l, r)((cl, ch, flip) => if (flip) cl < 0 else ch > 0)
      case ce.GreaterThanOrEqual(l, r) =>
        check(l, r)((cl, ch, flip) => if (flip) cl <= 0 else ch >= 0)
      case ce.LessThan(l, r) =>
        check(l, r)((cl, ch, flip) => if (flip) ch > 0 else cl < 0)
      case ce.LessThanOrEqual(l, r) =>
        check(l, r)((cl, ch, flip) => if (flip) ch >= 0 else cl <= 0)
      // LIKE 'p%' ⇒ the matching strings form the interval [p, next(p))
      // in the stat order: keep the file iff its [min, max] overlaps that
      // interval — the prefix-scan pattern on a sorted string column plans
      // only the covering run of files
      case ce.StartsWith(a: ce.Attribute, ce.Literal(p: UTF8String, dt)) if p != null =>
        val ps = p.toString
        (for (mn <- f.minValues.get(a.name); mx <- f.maxValues.get(a.name)) yield
          StatBounds.compare(dt, mx, ps).forall(_ >= 0) &&
            StatBounds.prefixUpper(ps).forall(ub =>
              StatBounds.compare(dt, mn, ub).forall(_ < 0))).getOrElse(true)
      // IN lists: keep the file iff ANY value may be in it — the multi-
      // point-lookup pattern (e.g. an IVF probe's `cell IN (...)`) prunes
      // like a disjunction of equalities. Non-literal values keep the
      // file; an empty list matches nothing.
      case ce.In(t, vs) => vs.exists(mayEqualTerm(t, _))
      case ce.InSet(t, vs) => termKey(t).forall { case (k, tdt) => tdt.forall(dt =>
        vs.exists(v => v == null || mayEqual(Probe(k, v, dt, sameType = true, flipped = false)))) }
      case _ => true
    }
    may(e)
  }

  /** Does EVERY row of `f` provably satisfy `e`? False whenever the stats
    * can't prove it (expression overwrite then rejects the file as
    * partially matching rather than silently keeping rows the predicate
    * wanted deleted). Equality proofs need min == max == value and a
    * recorded zero null count.
    */
  def mustMatch(e: ce.Expression, f: DataFileMeta): Boolean = {
    def isValue(l: ce.Expression, r: ce.Expression): Boolean =
      probe(l, r).exists(p =>
        cmp(f, p.key, p.v.toString, p.dt).contains((0, 0)) && f.nulls.get(p.key).contains(0L))
    e match {
      case ce.And(a, b) => mustMatch(a, f) && mustMatch(b, f)
      case ce.Or(a, b) => mustMatch(a, f) || mustMatch(b, f)
      // a non-null value: `<=>` proves exactly like `=` (and PARTITION
      // (p = v) clauses arrive as EqualNullSafe)
      case ce.EqualTo(l, r) => isValue(l, r)
      case ce.EqualNullSafe(l, r) => isValue(l, r)
      case ce.In(t, vs) => vs.exists(isValue(t, _))
      case ce.IsNotNull(a: ce.Attribute) => f.nulls.get(a.name).contains(0L)
      case ce.Literal(true, BooleanType) => true
      case _ => false
    }
  }

  private def column(schema: StructType, name: String): Option[ce.AttributeReference] =
    schema.find(_.name == name).map(c => ce.AttributeReference(name, c.dataType)())

  /** A V1 source filter (copy-on-write DELETE's and expression overwrite's
    * pushed filters) as a catalyst predicate over `schema`'s columns, each
    * literal converted to its column's internal type. None = not
    * translatable: `mayMatch` callers keep the file, `mustMatch` proves
    * nothing.
    */
  def fromV1(f: sources.Filter, schema: StructType): Option[ce.Expression] = {
    def lit(a: ce.Attribute, v: Any): Option[ce.Expression] =
      try Some(ce.Literal.create(v, a.dataType)) catch { case _: Exception => None }
    def op(a: String, v: Any)(mk: (ce.Expression, ce.Expression) => ce.Expression) =
      for (c <- column(schema, a); l <- lit(c, v)) yield mk(c, l)
    def both(l: sources.Filter, r: sources.Filter)(
        mk: (ce.Expression, ce.Expression) => ce.Expression) =
      for (a <- fromV1(l, schema); b <- fromV1(r, schema)) yield mk(a, b)
    f match {
      case sources.EqualTo(a, v) => op(a, v)(ce.EqualTo)
      case sources.EqualNullSafe(a, null) => column(schema, a).map(ce.IsNull)
      case sources.EqualNullSafe(a, v) => op(a, v)(ce.EqualNullSafe)
      case sources.GreaterThan(a, v) => op(a, v)(ce.GreaterThan)
      case sources.GreaterThanOrEqual(a, v) => op(a, v)(ce.GreaterThanOrEqual)
      case sources.LessThan(a, v) => op(a, v)(ce.LessThan)
      case sources.LessThanOrEqual(a, v) => op(a, v)(ce.LessThanOrEqual)
      case sources.In(a, vs) => column(schema, a).flatMap { c =>
        val ls = vs.toSeq.map(lit(c, _))
        if (ls.forall(_.isDefined)) Some(ce.In(c, ls.flatten)) else None
      }
      case sources.IsNull(a) => column(schema, a).map(ce.IsNull)
      case sources.IsNotNull(a) => column(schema, a).map(ce.IsNotNull)
      case sources.StringStartsWith(a, v) => op(a, v)(ce.StartsWith)
      case sources.StringEndsWith(a, v) => op(a, v)(ce.EndsWith)
      case sources.StringContains(a, v) => op(a, v)(ce.Contains)
      case sources.And(l, r) => both(l, r)(ce.And)
      case sources.Or(l, r) => both(l, r)(ce.Or)
      case sources.Not(c) => fromV1(c, schema).map(ce.Not)
      case sources.AlwaysTrue() => Some(ce.Literal.TrueLiteral)
      case sources.AlwaysFalse() => Some(ce.Literal.FalseLiteral)
      case _ => None
    }
  }

  /** A DSv2 runtime predicate (dynamic or runtime group filtering hands
    * the scan `col IN (v1, v2, …)`, under AND/OR) as a catalyst predicate
    * over `schema`'s columns; literals already carry internal values. An
    * untranslated conjunct is dropped (the rest still prunes); None = keep
    * every file.
    */
  def fromV2(p: Predicate, schema: StructType): Option[ce.Expression] = {
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
    import org.apache.spark.sql.connector.expressions.filter.{And, Or}
    p match {
      case a: And => (fromV2(a.left(), schema), fromV2(a.right(), schema)) match {
        case (Some(l), Some(r)) => Some(ce.And(l, r))
        case (l, r) => l.orElse(r)
      }
      case o: Or =>
        for (l <- fromV2(o.left(), schema); r <- fromV2(o.right(), schema)) yield ce.Or(l, r)
      case _ if p.name() == "IN" || p.name() == "=" =>
        val kids = p.children()
        val c = kids.head match {
          case r: NamedReference => column(schema, r.fieldNames().mkString("."))
          case _ => None
        }
        c.flatMap { c =>
          val ls = kids.tail.toSeq.map {
            case l: V2Literal[_] => Some(ce.Literal(l.value(), l.dataType()))
            case _ => None
          }
          if (ls.exists(_.isEmpty)) None
          else if (p.name() == "=") Some(ce.EqualTo(c, ls.head.get))
          else Some(ce.In(c, ls.flatten))
        }
      case _ => None
    }
  }
}

/** Append (default), truncate-then-append (static INSERT OVERWRITE), or
  * dynamic partition overwrite (partitionOverwriteMode=dynamic: replace
  * exactly the partitions the incoming data touches, leave the rest — the
  * backfill pattern: recompute one day/key and swap it atomically while
  * 100 TB of other partitions stay untouched).
  */
final class LakeWriteBuilder(
    table: LakeTable,
    info: LogicalWriteInfo,
    store: PointerStore,
    hadoopConf: Configuration)
  extends WriteBuilder with SupportsTruncate
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite
  with org.apache.spark.sql.connector.write.SupportsOverwrite {

  private var overwrite = false
  private var dynamic = false
  private var where: Seq[sources.Filter] = Nil
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def overwriteDynamicPartitions(): WriteBuilder = { dynamic = true; this }
  // expression overwrite (static INSERT OVERWRITE ... PARTITION (p=v),
  // df.writeTo(t).overwrite(cond)): atomically delete the rows matching
  // the conjunction and insert the new data — accepted only when the
  // predicate aligns with whole files (validated at commit)
  override def overwrite(filters: Array[sources.Filter]): WriteBuilder = {
    if (filters.exists(_ == sources.AlwaysTrue())) overwrite = true
    else where = filters.toSeq
    this
  }

  override def build(): Write = {
    if (dynamic) require(table.meta.partitionFields.nonEmpty,
      s"dynamic partition overwrite of ${table.ident}: table is unpartitioned " +
        "(use plain INSERT OVERWRITE)")
    new LakeWrite(table, info, overwrite, store, hadoopConf, dynamic, where)
  }
}

/** Write plan for a lake table. For a partitioned table it asks Spark to
  * CLUSTER and SORT incoming rows by the partition columns
  * (RequiresDistributionAndOrdering): rows of one partition value land
  * contiguously in one task, each emitted file then has min==max on the
  * partition columns, and [[FilePruner]] prunes partition-filtered scans
  * down to exactly the matching files — partition pruning via stats, with
  * no directory layout and no per-partition small files.
  *
  * A `write.sort-order` table property (comma-separated columns) layers a
  * SORT ORDER on top (Iceberg's write order): with no partition spec the
  * distribution becomes RANGE (a global sort) — tasks own disjoint key
  * ranges, so per-file min/max are disjoint and a point/range query prunes
  * to the few files that can match; with a partition spec, rows sort by
  * the order WITHIN each partition clustering, tightening parquet
  * row-group stats for the delegated scan's row-group pruning.
  */
final class LakeWrite(
    table: LakeTable,
    info: LogicalWriteInfo,
    overwrite: Boolean,
    store: PointerStore,
    hadoopConf: Configuration,
    dynamic: Boolean = false,
    where: Seq[sources.Filter] = Nil)
  extends RequiresDistributionAndOrdering {

  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

  private def pfields = table.meta.partitionFields

  // via the schema-validated accessor: a sort column gone stale after a
  // rename (pre-fix history, foreign writer) must not fail every write
  private def sortFields: Seq[String] = table.meta.sortOrderColumns

  // resolved through the catalog's FunctionCatalog (BucketFunction /
  // TimeFunction / TruncFunction): rows cluster by the same transform the
  // writer stats and SPJ use
  private def transformOf(f: PartField): org.apache.spark.sql.connector.expressions.Expression =
    LakeTransforms.clusterExpr(f)

  private def orderOf(cols: Seq[String]): Array[SortOrder] =
    cols.map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray

  // writeStream.option("upsert-keys", "k1,k2"): CDC-style upsert epochs —
  // each commit appends its rows plus an EQUALITY-delete file of the
  // written keys, killing prior versions in older files (per-file
  // sequence numbers decide applicability)
  private def upsertKeys: Seq[String] =
    Option(info.options().get("upsert-keys"))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  // option("upsert-nulls-as-deletes", true): Kafka-compacted-topic /
  // Debezium tombstone semantics — a row whose NON-KEY columns are all
  // NULL retracts its key (the key joins the epoch's equality delete, no
  // data row is written). Lets a CDC stream express true row DELETIONS
  // without any schema extension.
  private def upsertNullsAsDeletes: Boolean =
    Option(info.options().get("upsert-nulls-as-deletes")).exists(_.toBoolean)

  /** Iceberg's write.distribution-mode: 'hash' (default for partitioned
    * tables — cluster rows by the partition transform so each task owns
    * whole partition values), 'range' (globally range-order by partition +
    * sort columns — disjoint per-file min/max for range-predicate pruning),
    * 'none' (trust the incoming distribution — the bulk-load escape hatch
    * when the upstream job already clustered, at the price of up to
    * tasks × partitions files).
    */
  private def distributionMode: String =
    table.meta.properties.getOrElse("write.distribution-mode",
      if (pfields.nonEmpty) "hash" else if (sortFields.nonEmpty) "range" else "none")

  override def requiredDistribution(): Distribution =
    // upsert epochs MUST cluster by the key: all versions of one key land in
    // one task, so last-writer-wins can resolve in-epoch duplicates (the
    // Iceberg/Flink upsert-writer contract). The task writer re-sorts its
    // buffered survivors by partition value itself, so no ordering is asked.
    if (upsertKeys.nonEmpty)
      Distributions.clustered(upsertKeys.map(Expressions.column(_):
        org.apache.spark.sql.connector.expressions.Expression).toArray)
    else distributionMode match {
      case "none" => Distributions.unspecified()
      case "range" if pfields.nonEmpty || sortFields.nonEmpty =>
        Distributions.ordered(
          pfields.map(f => Expressions.sort(transformOf(f), SortDirection.ASCENDING)).toArray ++
            orderOf(sortFields))
      case _ if pfields.nonEmpty => Distributions.clustered(pfields.map(transformOf).toArray)
      case _ if sortFields.nonEmpty => Distributions.ordered(orderOf(sortFields))
      case _ => Distributions.unspecified()
    }

  override def requiredOrdering(): Array[SortOrder] =
    // no sort in upsert mode: shuffle arrival order per upstream partition
    // IS the CDC order — a sort would scramble which version is "last"
    if (upsertKeys.nonEmpty) Array.empty
    else pfields.map(f => Expressions.sort(transformOf(f), SortDirection.ASCENDING)).toArray ++
      orderOf(sortFields)

  /** NON-strict by default (Iceberg's stance): under AQE the clustered /
    * range write shuffle becomes a REBALANCE — small shuffle partitions
    * coalesce toward the advisory size (no tiny write tasks) and a SKEWED
    * partition value splits across tasks (more files for that value, no
    * straggler; every file still has min==max on the partition columns
    * because each task still receives transform-sorted rows). Upsert
    * epochs stay STRICT: last-writer-wins requires every version of a key
    * in ONE task, and a rebalance may split one key's rows mid-partition.
    */
  override def distributionStrictlyRequired(): Boolean = upsertKeys.nonEmpty

  /** Iceberg's `write.spark.advisory-partition-size-bytes`: the AQE
    * rebalance target for write partitions (0 = session default) — the
    * knob that sizes output files independently of
    * `spark.sql.shuffle.partitions`.
    */
  override def advisoryPartitionSizeInBytes(): Long =
    table.meta.properties.get("write.spark.advisory-partition-size-bytes")
      .map(_.toLong).getOrElse(0L)

  // df.writeTo(t).option("branch", "b").append(): commit onto a named
  // branch — the main pointer stays put, `branch.<b>` advances.
  private def branch: Option[String] = Option(info.options().get("branch"))

  override def toBatch: BatchWrite = {
    branch.foreach { b =>
      require(!overwrite && !dynamic && where.isEmpty,
        s"overwrite of branch '$b' is not supported — append, " +
        "then fast_forward/rollback the branch")
      require(table.meta.branchHead(b).isDefined,
        s"no branch '$b' on ${table.ident}: CALL lake.system.create_branch first")
    }
    new LakeBatchWrite(table, info.schema(), overwrite, store, hadoopConf, branch,
      dynamic, where)
  }
  override def toStreaming: streaming.StreamingWrite = {
    if (upsertNullsAsDeletes) {
      require(upsertKeys.nonEmpty,
        "upsert-nulls-as-deletes requires upsert-keys")
      require(info.schema().fieldNames.exists(!upsertKeys.contains(_)),
        "upsert-nulls-as-deletes needs at least one non-key column to carry the tombstone")
    }
    new LakeStreamingWrite(table, info.schema(), info.queryId(), store, hadoopConf,
      upsertKeys, upsertNullsAsDeletes)
  }
}

final case class LakeCommitMessage(files: Seq[DataFileMeta]) extends WriterCommitMessage

final class LakeBatchWrite(
    table: LakeTable,
    writeSchema: StructType,
    overwrite: Boolean,
    store: PointerStore,
    hadoopConf: Configuration,
    branch: Option[String] = None,
    dynamic: Boolean = false,
    where: Seq[sources.Filter] = Nil)
  extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    LakeWriterFactory(ColumnMapping.toPhysical(writeSchema, table.meta.l2pMap).json,
      s"${table.meta.location}/data",
      table.meta.physicalPartitionColumns, new SerializableConfiguration(table.meta.writeConf(hadoopConf)),
      table.meta.physicalBloomColumns, table.meta.targetFileBytes,
      // batch writes arrive ordered by (partition transform, sort order) —
      // LakeWrite.requiredOrdering — so each rolled file is provably sorted
      // by the sort-order columns; stamp that provenance (physical names)
      // for the scan's SupportsReportOrdering
      sortedBy = table.meta.physicalSortOrder,
      bloomBits = table.meta.fileBloomBits,
      statTruncateLen = table.meta.statTruncateLen)

  /** Files of the partitions the incoming data touches (dynamic overwrite's
    * replacement set). Partition attribution reads the same per-file stats
    * the writer rolls files by (min==max on every partition field — the
    * clustered-write invariant), so attribution is exact for files written
    * by this engine. A NULL partition value leaves no min/max stat, but the
    * per-column null counts prove it: nulls(col) == rowCount means the
    * file's partition value IS null, attributed under a distinct sentinel —
    * so a batch carrying null partition keys REPLACES the null partition
    * (Spark/Iceberg's __HIVE_DEFAULT_PARTITION__ semantics) instead of
    * silently appending next to it. A file that is NOT cleanly attributable
    * either way (mixed null/non-null from a foreign writer, or
    * pre-spec-evolution history) in an UNTOUCHED partition is KEPT; one
    * that might overlap a touched partition FAILS the overwrite with a
    * clear message (mirroring [[whereReplaced]]'s partial-file refusal) —
    * silently keeping it would duplicate the overwritten rows and silently
    * deleting it could destroy rows of other partitions, so the only sound
    * move is to refuse and point at compaction / DELETE+INSERT.
    */
  private def dynamicReplaced(base: TableMeta, newFiles: Seq[DataFileMeta]): Set[String] = {
    val pf = base.physicalPartitionColumns.map(PartField.parse)
    def keyOf(f: DataFileMeta): Option[Seq[String]] = {
      val vals = pf.map(p => (f.minValues.get(p.statKey), f.maxValues.get(p.statKey)) match {
        // zero-nulls guard: a foreign/imported file can carry stats AND
        // null partition values; attributing it wholly to the stat value
        // would let an overwrite of that value destroy the null rows
        case (Some(lo), Some(hi)) if lo == hi &&
          f.nulls.get(p.source).contains(0L) => Some("v:" + lo)
        // no stat recorded AND every row's source value is null → the
        // file belongs to the null partition ("n:" can't collide with any
        // real value's "v:"-prefixed key)
        case (None, None) if f.rowCount > 0 &&
          f.nulls.get(p.source).contains(f.rowCount) => Some("n:")
        case _ => None
      })
      if (vals.forall(_.isDefined)) Some(vals.map(_.get)) else None
    }
    val newKeys = newFiles.flatMap(keyOf).toSet
    // Could an unattributable file hold any row of partition key `key`?
    // Each field's stats order by the field's type; a field without one,
    // or missing stats ⇒ maybe.
    val types = base.physicalSchema.fields.map(c => c.name -> c.dataType).toMap
    def mayHold(f: DataFileMeta, p: PartField, key: String): Boolean =
      if (key == "n:") !f.nulls.get(p.source).contains(0L)
      else types.get(p.source).forall(dt =>
        FilePruner.mayContain(f, p.statKey, key.substring(2), p.statType(dt)))
    val clashing = base.currentFiles.filter(f => keyOf(f).isEmpty &&
      newKeys.exists(k => pf.lazyZip(k).forall((p, kv) => mayHold(f, p, kv))))
    if (clashing.nonEmpty) throw new IllegalArgumentException(
      s"INSERT OVERWRITE (dynamic) on ${table.ident}: ${clashing.size} file(s) " +
        s"cannot be attributed to a partition value (foreign/imported file with " +
        s"mixed or unknown nulls, e.g. ${clashing.head.path}) and may overlap an " +
        "overwritten partition — compact the table first, or use DELETE + INSERT")
    base.currentFiles.filter(f => keyOf(f).exists(newKeys)).map(_.path).toSet
  }

  /** Expression-overwrite's replacement set: files whose every row provably
    * satisfies the predicate conjunction. A file the predicate MIGHT touch
    * but provably-fully doesn't (stats straddle the boundary) makes the
    * whole overwrite ILLEGAL — rewriting it would require row-level
    * surgery this commit shape doesn't do, and dropping it would silently
    * keep rows the predicate asked to delete. Iceberg's overwrite
    * validation draws the same line.
    */
  private def whereReplaced(base: TableMeta): Set[String] = {
    val stat = base.logicalStatFiles(base.currentFiles)
    val preds = where.map(FilePruner.fromV1(_, base.schema))
    val pf = base.allPartitionFields
    val (full, rest) = stat.partition(f => preds.forall(_.exists(FilePruner.mustMatch(_, f))))
    val partial = rest.filter(f =>
      preds.forall(_.forall(FilePruner.mayMatch(_, f, partFields = pf))))
    if (partial.nonEmpty) throw new IllegalArgumentException(
      s"INSERT OVERWRITE ... on ${table.ident}: predicate $where does not align " +
        s"with file boundaries — ${partial.size} file(s) partially match " +
        s"(e.g. ${partial.head.path}); overwrite by a partition-aligned " +
        "predicate, or use DELETE + INSERT")
    full.map(_.path).toSet
  }

  /** The reference's EP3: write new metadata → CAS the pointer; on a lost
    * race, reload the current metadata, REBASE (append = union with the
    * winner's file list) and retry, bounded. The reference has no retry
    * loop (SURVEY §2a gap) — we add one, as any real engine must.
    */
  // see the CoW writer above: once the CAS lands or turns unknown, abort()
  // must not delete — the files may be referenced by the live snapshot
  @volatile private var filesMayBeCommitted = false

  override def commit(messages: Array[WriterCommitMessage]): Unit = try {
    val newFiles = messages.collect { case LakeCommitMessage(fs) => fs }.flatten.toSeq
    // write-audit-publish: with wap.enabled, appends STAGE their snapshot
    // (pointer unchanged) for auditing; LakeMaintenance.publish promotes it
    val stage = !overwrite &&
      table.meta.properties.get("wap.enabled").contains("true")
    CasCommit.retryLoop(store, table.namespace, table.tableName,
      table.metadataLocation, table.meta, "commit", table.ident, hadoopConf)(
      _ => ())(
      base => branch match {
        case Some(b) => TableMeta.withBranchAppend(base, b, newFiles, hadoopConf)
        case None =>
          if (dynamic)
            // replace exactly the partitions the incoming files landed in;
            // recomputed from the refreshed base on every CAS attempt, so a
            // racing compaction/append serializes cleanly (any delete that
            // committed first is simply overwritten — serial order)
            TableMeta.withRewrite(base, "dynamic-overwrite",
              dynamicReplaced(base, newFiles), newFiles, hadoopConf)
          else if (where.nonEmpty)
            TableMeta.withRewrite(base, "overwrite-where",
              whereReplaced(base), newFiles, hadoopConf)
          else if (overwrite) TableMeta.withOverwrite(base, "overwrite", newFiles, hadoopConf)
          else TableMeta.withAppend(base, if (stage) "stage-append" else "append",
            newFiles, hadoopConf, advance = !stage)
      })(
      // evict catalog cache: readers must see this snapshot
      { filesMayBeCommitted = true; table.commitSucceeded() })
  } catch {
    case e: CommitStateUnknownException => filesMayBeCommitted = true; throw e
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    if (filesMayBeCommitted) return // committed-or-unknown: orphans at worst
    val fs = new Path(table.meta.location).getFileSystem(hadoopConf)
    messages.collect { case LakeCommitMessage(files) =>
      files.foreach(f => fs.delete(new Path(f.path), false))
    }
  }
}

/** Streaming micro-batch sink: every epoch appends a snapshot through the
  * same CAS pointer swap as batch writes (reference EP3, mod.rs:296-347),
  * made EXACTLY-ONCE by recording `(queryId, epochId)` in the table
  * properties inside the same atomic commit. Spark's contract allows the
  * same epoch to be re-committed after a failure (StreamingWrite javadoc);
  * the guard makes the replay a no-op, so a retried micro-batch can never
  * double-append — the CAS provides atomicity, the epoch watermark provides
  * idempotence.
  */
final class LakeStreamingWrite(
    table: LakeTable,
    writeSchema: StructType,
    queryId: String,
    store: PointerStore,
    hadoopConf: Configuration,
    upsertKeys: Seq[String] = Nil,
    nullsAsDeletes: Boolean = false)
  extends streaming.StreamingWrite {

  private def epochKey = s"stream.$queryId.last-epoch"

  upsertKeys.foreach(k => require(writeSchema.fieldNames.contains(k),
    s"upsert key '$k' not in the write schema of ${table.ident}"))

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory = {
    val physSchema = ColumnMapping.toPhysical(writeSchema, table.meta.l2pMap)
    val base = LakeWriterFactory(physSchema.json,
      s"${table.meta.location}/data",
      table.meta.physicalPartitionColumns, new SerializableConfiguration(table.meta.writeConf(hadoopConf)),
      table.meta.physicalBloomColumns, table.meta.targetFileBytes,
      bloomBits = table.meta.fileBloomBits,
      statTruncateLen = table.meta.statTruncateLen)
    if (upsertKeys.isEmpty) base
    else {
      val keyIdx = upsertKeys.map(writeSchema.fieldIndex).toArray
      LakeUpsertWriterFactory(base, physSchema.json, keyIdx,
        s"${table.meta.location}/deletes", new SerializableConfiguration(hadoopConf),
        nullsAsDeletes)
    }
  }

  // high-water mark of epochs whose CAS landed (or turned unknown): Spark
  // may still call abort(epochId) for them — e.g. the process dies between
  // the sink CAS and the checkpoint's commit marker, or anything after the
  // CAS throws — and abort MUST NOT delete files the committed snapshot
  // references. A watermark (not a set): epochs are monotonic per query,
  // anything at-or-below the mark is committed-or-replay-handled, and the
  // state stays O(1) over a stream's lifetime.
  @volatile private var noCleanupThrough: Long = Long.MinValue

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val newFiles = messages.collect { case LakeCommitMessage(fs) => fs }.flatten.toSeq
    val eqFiles = messages.collect { case LakeUpsertCommitMessage(_, eq) => eq }.flatten.toSeq
    val dataFiles = newFiles ++
      messages.collect { case LakeUpsertCommitMessage(d, _) => d }.flatten.toSeq
    StreamingCommitHooks.beforeCas(table.ident, epochId)
    // Always re-resolve the pointer: this handle lives for the whole query,
    // and every prior epoch moved it.
    val prevLoc = store.load(table.namespace, table.tableName).getOrElse(
      throw new IllegalStateException(s"table ${table.ident} dropped during streaming commit"))
    try CasCommit.retryLoop(store, table.namespace, table.tableName, prevLoc,
      TableMeta.read(prevLoc, hadoopConf), s"stream epoch $epochId", table.ident, hadoopConf)(
      base => {
        if (base.properties.get(epochKey).exists(_.toLong >= epochId))
          throw LakeStreamingWrite.EpochReplayed
        if (upsertKeys.nonEmpty)
          base.properties.get("upsert.keys").foreach(prev => require(
            prev == upsertKeys.mkString(","),
            s"upsert keys '$prev' already fixed for ${table.ident}"))
      })(
      base =>
        if (upsertKeys.isEmpty)
          TableMeta.withAppend(base, "stream-append", dataFiles, hadoopConf,
            extraProps = Map(epochKey -> epochId.toString))
        else
          TableMeta.withDelta(base, "upsert", dataFiles, eqFiles, hadoopConf,
            deleteContent = "eq-deletes",
            extraProps = Map(epochKey -> epochId.toString,
              "upsert.keys" -> upsertKeys.mkString(","))))(
      {
        noCleanupThrough = math.max(noCleanupThrough, epochId)
        table.commitSucceeded()
        StreamingCommitHooks.afterCas(table.ident, epochId)
      })
    catch {
      case LakeStreamingWrite.EpochReplayed =>
        // replayed epoch (sink retry / restart from checkpoint): drop the
        // re-written files, keep the committed snapshot — exactly-once.
        val hfs = new Path(table.meta.location).getFileSystem(hadoopConf)
        (dataFiles ++ eqFiles).foreach(f => hfs.delete(new Path(f.path), false))
      case e: CommitStateUnknownException =>
        noCleanupThrough = math.max(noCleanupThrough, epochId); throw e
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    if (epochId <= noCleanupThrough) return // committed-or-unknown epoch
    val fs = new Path(table.meta.location).getFileSystem(hadoopConf)
    messages.foreach {
      case LakeCommitMessage(files) =>
        files.foreach(f => fs.delete(new Path(f.path), false))
      case LakeUpsertCommitMessage(d, eq) =>
        (d ++ eq).foreach(f => fs.delete(new Path(f.path), false))
      case _ => ()
    }
  }
}

private object LakeStreamingWrite {
  /** The epoch is already in the table: its commit is a replay. */
  object EpochReplayed extends scala.util.control.ControlThrowable
}

/** Crash-injection seam for streaming exactly-once tests (nothing touches
  * it in production: both hooks default to no-ops). `beforeCas` fires once
  * per epoch commit, BEFORE its first pointer swap — throwing there models
  * a sink that died after writing its files but before committing.
  * `afterCas` fires right after a SUCCESSFUL swap (post cache-eviction) —
  * throwing there models dying in the gap between the table commit and the
  * checkpoint's commit marker, the window Spark resolves by REPLAYING the
  * epoch on restart (StreamingWrite javadoc), which the `epochKey`
  * watermark must then no-op.
  */
private[graft] object StreamingCommitHooks {
  @volatile var beforeCas: (String, Long) => Unit = (_, _) => ()
  @volatile var afterCas: (String, Long) => Unit = (_, _) => ()
  def reset(): Unit = { beforeCas = (_, _) => (); afterCas = (_, _) => () }
}

final case class LakeUpsertCommitMessage(
    dataFiles: Seq[DataFileMeta],
    eqDeleteFiles: Seq[DataFileMeta]) extends WriterCommitMessage

/** Upsert epoch writer: rows buffer into a LAST-WRITER-WINS map keyed by
  * the upsert key (value-compared UnsafeRows) — the write's cluster-by-key
  * distribution guarantees every version of a key reaches one task, and the
  * map keeps only the latest, so in-epoch duplicates (the normal case for a
  * busy CDC stream) resolve exactly like Iceberg's Flink upsert writer. At
  * commit the survivors are sorted by partition value (restoring the
  * rolling data writer's one-file-per-value layout the epoch's shuffle no
  * longer provides) and flushed, followed by one equality-delete parquet of
  * the epoch's keys — the file that kills prior versions of these keys in
  * all OLDER files. Memory is O(distinct keys per task per epoch) rows —
  * the CDC batch, not the table.
  */
final case class LakeUpsertWriterFactory(
    dataFactory: LakeWriterFactory,
    physSchemaJson: String,
    keyIdx: Array[Int],
    deleteDir: String,
    conf: SerializableConfiguration,
    nullsAsDeletes: Boolean = false)
  extends streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val physSchema = DataType.fromJson(physSchemaJson).asInstanceOf[StructType]
    val keySchema = StructType(keyIdx.map(physSchema.fields))
    new DataWriter[InternalRow] {
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
      private val keyProj = UnsafeProjection.create(keyIdx.map(i =>
        BoundReference(i, physSchema.fields(i).dataType, physSchema.fields(i).nullable)
          : org.apache.spark.sql.catalyst.expressions.Expression))
      private val rowProj = UnsafeProjection.create(physSchema)
      // key -> latest full row; put() replaces the value, so iteration at
      // commit yields exactly one (the last-written) version per key. A
      // NULL value is a TOMBSTONE (nullsAsDeletes): the key still joins the
      // epoch's equality delete, but no data row is written — so within an
      // epoch delete-then-reinsert keeps the reinsert, insert-then-delete
      // keeps nothing, exactly the Kafka-compaction resolution.
      private val latest = new java.util.LinkedHashMap[UnsafeRow, UnsafeRow]()
      private var inner: DataWriter[InternalRow] = _
      private val nonKeyIdx: Array[Int] =
        physSchema.fields.indices.filterNot(keyIdx.contains(_)).toArray

      override def write(row: InternalRow): Unit = {
        val u = rowProj(row).copy()
        val tombstone = nullsAsDeletes && nonKeyIdx.forall(u.isNullAt)
        latest.put(keyProj(u).copy(), if (tombstone) null else u)
      }

      // partition sort key of a buffered row (identity value or bucket
      // number — the same key LakeDataWriter rolls files on)
      private val partFields = dataFactory.partitionCols.map(PartField.parse).toArray
      private val partIdx = partFields.map(f => physSchema.fieldIndex(f.source))
      private def partKey(row: InternalRow): Seq[Any] =
        partFields.indices.map { j =>
          val i = partIdx(j)
          val dt = physSchema.fields(i).dataType
          val v = if (row.isNullAt(i)) null else row.get(i, dt)
          partFields(j).buckets match {
            case None => v
            case Some(n) => BucketHash(n, v, dt)
          }
        }
      private val keyOrd: Ordering[Seq[Any]] = (a, b) => {
        var i = 0
        var res = 0
        while (res == 0 && i < a.length) {
          res = (a(i), b(i)) match {
            case (null, null) => 0
            case (null, _) => -1
            case (_, null) => 1
            case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
          }
          i += 1
        }
        res
      }

      override def commit(): WriterCommitMessage = {
        inner = dataFactory.createWriter(partitionId, taskId, epochId)
        val buf = new scala.collection.mutable.ArrayBuffer[UnsafeRow](latest.size)
        latest.values().forEach(r => if (r != null) buf += r) // tombstones write no data row
        val ordered =
          if (partFields.isEmpty) buf
          else buf.sortBy(partKey)(keyOrd) // stable: ties keep arrival order
        ordered.foreach(inner.write)
        val dataFiles = inner.commit() match {
          case LakeCommitMessage(fs) => fs
          case _ => Nil
        }
        val kw = new LakeDataWriter(keySchema,
          s"$deleteDir/eq-$partitionId-$taskId-${java.util.UUID.randomUUID()}",
          Nil, conf.value, statTruncateLen = 0) // eq keys: full precision
        latest.keySet().forEach(k => kw.write(k))
        val eqFiles = kw.commit() match {
          case LakeCommitMessage(fs) => fs
          case _ => Nil
        }
        LakeUpsertCommitMessage(dataFiles, eqFiles)
      }
      override def abort(): Unit = if (inner != null) inner.abort()
      override def close(): Unit = if (inner != null) inner.close()
    }
  }
}

/** Serialized to executors: only strings + a serializable Hadoop conf.
  * Serves both batch and streaming writes (same parquet writer; the epoch
  * is handled at commit time, not write time).
  */
final case class LakeWriterFactory(
    schemaJson: String,
    dataDir: String,
    partitionCols: Seq[String],
    conf: SerializableConfiguration,
    bloomCols: Seq[String] = Nil,
    targetFileBytes: Long = 0L,
    sortedBy: Seq[String] = Nil,
    bloomBits: Int = FileBloom.DefaultBits,
    statTruncateLen: Int = StatBounds.DefaultLen)
  extends DataWriterFactory with streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new LakeDataWriter(
      DataType.fromJson(schemaJson).asInstanceOf[StructType],
      s"$dataDir/part-$partitionId-$taskId-${java.util.UUID.randomUUID()}",
      partitionCols, conf.value, bloomCols, targetFileBytes, sortedBy, bloomBits,
      statTruncateLen)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
}

/** Streams rows into parquet files using Spark's own
  * [[ParquetWriteSupport]] (identical encoding to `df.write.parquet`),
  * tracking per-column min/max on the fly so the commit can record pruning
  * stats without re-reading footers. For a partitioned table the incoming
  * rows arrive clustered AND sorted on the partition columns (the write
  * requires that distribution/ordering), so the writer simply ROLLS to a
  * new file whenever the partition key changes — producing per-value files
  * whose min==max stats make partition pruning exact.
  */
final class LakeDataWriter(
    schema: StructType,
    pathPrefix: String,
    partitionCols: Seq[String],
    conf: Configuration,
    bloomCols: Seq[String] = Nil,
    targetFileBytes: Long = 0L,
    sortedBy: Seq[String] = Nil, // provenance: rows arrive sorted by these
    bloomBits: Int = FileBloom.DefaultBits,
    // manifest string-bound prefix length ([[StatBounds]]); 0 disables.
    // Delete-file and eq-delete-key writers pass 0 — their bounds need
    // full precision (tombstone covering, key-range short-circuits).
    statTruncateLen: Int = StatBounds.DefaultLen)
  extends DataWriter[InternalRow] {

  private val writeConf: Configuration = {
    import org.apache.spark.sql.internal.SQLConf
    val c = new Configuration(conf)
    ParquetWriteSupport.setSchema(schema, c)
    // ParquetWriteSupport/SparkToParquetSchemaConverter read these straight
    // from the Configuration with no defaults — all must be present
    // (normally ParquetFileFormat.prepareWrite sets them; we are our own
    // prepareWrite).
    c.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    c.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    c.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    c.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    c.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    c.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    c.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, "UTC")
    c
  }

  // partitionCols carries spec strings ("col" or "bucket(n,col)") over
  // PHYSICAL column names
  private val partFields: Array[PartField] = partitionCols.map(PartField.parse).toArray
  private val partIdx: Array[Int] = partFields.map(f => schema.fieldIndex(f.source))

  /** This row's value for partition field j: the column value (identity)
    * or its bucket number (same BucketHash the V2 function evaluates).
    */
  private def partKeyAt(row: InternalRow, j: Int): Any = {
    val pf = partFields(j)
    val i = partIdx(j)
    val dt = schema.fields(i).dataType
    (pf.buckets, pf.time, pf.trunc) match {
      case (None, None, None) => scalarAt(row, i)
      case (Some(n), _, _) =>
        BucketHash(n, if (row.isNullAt(i)) null else row.get(i, dt), dt)
      case (_, Some(u), _) =>
        if (row.isNullAt(i)) null else TimeTransform(u, row.get(i, dt), dt)
      case (_, _, Some(w)) =>
        if (row.isNullAt(i)) null else TruncateTransform(w, row.get(i, dt), dt)
    }
  }

  // per-file state
  private var writer: ParquetWriter[InternalRow] = _
  private var path: String = _
  private var rows = 0L
  private var mins: Array[Any] = _
  private var maxs: Array[Any] = _
  private var nullsPerCol: Array[Long] = _
  private var fileSeq = 0
  private var currentKey: Seq[Any] = null
  private val done = Seq.newBuilder[DataFileMeta]

  // SHREDDED VARIANT STATS ("graft.write.variant-shred" in the write
  // conf, baked physical by TableMeta.writeConf): per configured
  // `col:$.path:type`, the typed extraction is evaluated once per row
  // (interpreted VariantGet over the already-decoded variant — the same
  // pass that tracks column min/max) and recorded under the synthetic
  // stat key `col#path`, which [[FilePruner]] matches against
  // variant_get/try_variant_get predicates for FILE skipping. Extraction
  // runs in try-mode: a path/type mismatch yields null and simply doesn't
  // constrain the stats (conservative).
  private val shred: Array[(Int, String, DataType, Expression, Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.variant.VariantGet
    import org.apache.spark.unsafe.types.UTF8String
    val spec = conf.get("graft.write.variant-shred", "")
    if (spec.isEmpty) Array.empty
    else VariantShred.parse(spec).flatMap { case (c, p, t) =>
      val i = schema.fields.indexWhere(_.name == c)
      val dt = try DataType.fromDDL(t) catch { case _: Exception => null }
      val ok = i >= 0 && schema.fields(i).dataType == VariantType &&
        (dt match {
          case _: NumericType | StringType => true
          case _ => false
        })
      if (!ok) None // e.g. tombstone writers reuse the same conf
      else {
        def get(target: DataType) =
          VariantGet(BoundReference(i, VariantType, schema.fields(i).nullable),
            Literal(UTF8String.fromString(p), StringType), target, false,
            Some("UTC")): Expression
        // the typed extraction AND a raw-existence probe: a row where the
        // path EXISTS but the cast fails poisons the file's stats for
        // this path — a strict variant_get query must reach that row and
        // throw, so the file must never be pruned away from it
        Some((i, p, dt, get(dt), get(VariantType)))
      }
    }.toArray
  }
  private var shredMins: Array[Any] = _
  private var shredMaxs: Array[Any] = _
  private var shredPoisoned: Array[Boolean] = _

  private def trackShredded(row: InternalRow): Unit = {
    var j = 0
    while (j < shred.length) {
      val (i, _, _, typedEx, rawEx) = shred(j)
      if (!row.isNullAt(i)) {
        val v = typedEx.eval(row)
        if (v != null) v match {
          case u: org.apache.spark.unsafe.types.UTF8String =>
            if (shredMins(j) == null ||
              u.compareTo(shredMins(j).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]) < 0)
              shredMins(j) = u.clone()
            if (shredMaxs(j) == null ||
              u.compareTo(shredMaxs(j).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]) > 0)
              shredMaxs(j) = u.clone()
          case other =>
            val cmp = other.asInstanceOf[Comparable[Any]]
            if (shredMins(j) == null || cmp.compareTo(shredMins(j)) < 0) shredMins(j) = other
            if (shredMaxs(j) == null || cmp.compareTo(shredMaxs(j)) > 0) shredMaxs(j) = other
        } else if (!shredPoisoned(j) && rawEx.eval(row) != null) {
          shredPoisoned(j) = true // existing value, failed cast
        }
      }
      j += 1
    }
  }

  // FILE-level blooms (one per bloom column per file; see [[FileBloom]]):
  // built from the same pass that tracks min/max, attached at roll()
  private val fileBloomIdx: Array[Int] =
    bloomCols.flatMap(c => schema.fields.indexWhere(_.name == c) match {
      case -1 => None // e.g. tombstone writers reuse the factory's cols
      case i => Some(i)
    }).toArray
  private var fileBlooms: Array[FileBloom] = _

  private def open(): Unit = {
    path = s"$pathPrefix-$fileSeq.parquet"
    fileSeq += 1
    val b = new LakeParquetBuilder(new Path(path), writeConf)
    // per-column parquet bloom filters (write.bloom-columns): row-group
    // skipping for selective point predicates that min/max can't prune
    bloomCols.foreach(c => b.withBloomFilterEnabled(c, true))
    writer = b.build()
    rows = 0L
    mins = new Array[Any](schema.length)
    maxs = new Array[Any](schema.length)
    nullsPerCol = new Array[Long](schema.length)
    shredMins = new Array[Any](shred.length)
    shredMaxs = new Array[Any](shred.length)
    shredPoisoned = new Array[Boolean](shred.length)
    fileBlooms = fileBloomIdx.map(_ => FileBloom(bloomBits))
  }

  /** Close the current file and record its manifest entry (if non-empty). */
  private def roll(): Unit = {
    if (writer == null) return
    writer.close()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (rows == 0) { fs.delete(p, false); writer = null; return }
    val size = fs.getFileStatus(p).getLen
    // string bounds truncate to a prefix ([[StatBounds]]): min → prefix
    // (≤ true min), max → prefix with last code point incremented (≥ true
    // max, None = unbounded → entry omitted, consumers keep the file).
    // Identity-partition sources are EXEMPT: attribution, SPJ grouping and
    // dynamic overwrite all need the exact single value (min == max).
    val exemptCols: Set[String] =
      partFields.collect { case f if f.isIdentity => f.source }.toSet
    def bound(name: String, dt: DataType, raw: String, isMin: Boolean): Option[String] =
      if (statTruncateLen <= 0 || dt != StringType || exemptCols(name)) Some(raw)
      else if (isMin) Some(StatBounds.truncateMin(raw, statTruncateLen))
      else StatBounds.truncateMax(raw, statTruncateLen)
    def m(a: Array[Any], isMin: Boolean): Map[String, String] =
      schema.fields.indices.flatMap { i =>
        if (a(i) == null) None
        else bound(schema.fields(i).name, schema.fields(i).dataType,
          a(i).toString, isMin).map(schema.fields(i).name -> _)
      }.toMap
    // transform fields (bucket/time/truncate): the file holds exactly
    // one value (we rolled on every key change), recorded under the
    // spec's stat key for pruning / SPJ / dynamic-overwrite attribution
    val transformStats: Map[String, String] =
      if (currentKey == null) Map.empty
      else partFields.indices.collect {
        case j if !partFields(j).isIdentity && currentKey(j) != null =>
          partFields(j).statKey -> currentKey(j).toString
      }.toMap
    val nulls = schema.fields.indices
      .map(i => schema.fields(i).name -> nullsPerCol(i)).toMap
    val fileBloomStats = fileBloomIdx.indices
      .map(j => schema.fields(fileBloomIdx(j)).name -> fileBlooms(j).encode).toMap
    def sm(a: Array[Any], isMin: Boolean): Map[String, String] =
      shred.indices.flatMap { j =>
        if (a(j) == null || shredPoisoned(j)) None
        else {
          val key = VariantShred.statKey(schema.fields(shred(j)._1).name,
            shred(j)._2, shred(j)._3)
          bound(key, shred(j)._3, a(j).toString, isMin).map(key -> _)
        }
      }.toMap
    done += DataFileMeta(path, rows, size,
      m(mins, isMin = true) ++ transformStats ++ sm(shredMins, isMin = true),
      m(maxs, isMin = false) ++ transformStats ++ sm(shredMaxs, isMin = false),
      nulls, sortedBy = sortedBy, blooms = fileBloomStats)
    writer = null
  }

  private def scalarAt(row: InternalRow, i: Int): Any =
    if (row.isNullAt(i)) null else schema.fields(i).dataType match {
      case IntegerType | DateType => row.getInt(i)
      case LongType | TimestampType | TimestampNTZType => row.getLong(i)
      case DoubleType => row.getDouble(i)
      case FloatType => row.getFloat(i)
      case ShortType => row.getShort(i)
      case ByteType => row.getByte(i)
      case StringType => row.getUTF8String(i).toString
      case BooleanType => row.getBoolean(i)
      // stats carry the plain decimal string ("12.34") — the pruner
      // compares numerics as BigDecimal, so price-style predicates prune
      case d: DecimalType =>
        val dec = row.getDecimal(i, d.precision, d.scale)
        if (dec == null) null else dec.toJavaBigDecimal
      case _ => null
    }

  private def track(row: InternalRow): Unit = {
    var i = 0
    while (i < schema.length) {
      if (row.isNullAt(i)) nullsPerCol(i) += 1
      else if (schema.fields(i).dataType == StringType) {
        // compare in UTF8 BINARY order — Spark's SQL string ordering —
        // not java.lang.String's UTF-16 code-unit order (they diverge for
        // supplementary characters vs U+E000..U+FFFF); the stat is stored
        // as a java String at roll() either way. clone(): the row's
        // UTF8String is a view into a reused buffer.
        val u = row.getUTF8String(i)
        if (mins(i) == null || u.compareTo(mins(i).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]) < 0)
          mins(i) = u.clone()
        if (maxs(i) == null || u.compareTo(maxs(i).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]) > 0)
          maxs(i) = u.clone()
      } else {
        val v = scalarAt(row, i)
        if (v != null) {
          val cmp = v.asInstanceOf[Comparable[Any]]
          if (mins(i) == null || cmp.compareTo(mins(i)) < 0) mins(i) = v
          if (maxs(i) == null || cmp.compareTo(maxs(i)) > 0) maxs(i) = v
        }
      }
      i += 1
    }
  }

  // Row-level (UPDATE/MERGE) ReplaceData plans prepend a __row_operation
  // marker column that the write schema excludes; project it away once,
  // based on the first row's width (data columns keep their order).
  private var aligner: org.apache.spark.sql.catalyst.ProjectingInternalRow = _
  private var alignChecked = false

  private def aligned(row: InternalRow): InternalRow = {
    if (!alignChecked) {
      alignChecked = true
      val extra = row.numFields - schema.length
      require(extra >= 0, s"writer got ${row.numFields} fields for ${schema.length}-column schema")
      if (extra > 0)
        aligner = org.apache.spark.sql.catalyst.ProjectingInternalRow(
          schema, (extra until row.numFields).toIndexedSeq)
    }
    if (aligner == null) row else { aligner.project(row); aligner }
  }

  override def write(rawRow: InternalRow): Unit = {
    val row = aligned(rawRow)
    if (partFields.nonEmpty) {
      val key = partFields.indices.map(j => partKeyAt(row, j))
      if (currentKey == null || key != currentKey) {
        roll() // partition value changed (input is sorted): next file
        currentKey = key
      }
    }
    if (writer == null) open()
    track(row)
    if (shred.length > 0) trackShredded(row)
    var j = 0
    while (j < fileBloomIdx.length) {
      val i = fileBloomIdx(j)
      if (!row.isNullAt(i)) {
        // canonical key must match what the pruner derives from a literal
        val key =
          if (schema.fields(i).dataType == StringType) row.getUTF8String(i).toString
          else FileBloom.canonical(scalarAt(row, i)).orNull
        if (key != null) fileBlooms(j).add(key)
      }
      j += 1
    }
    writer.write(row)
    rows += 1
    // size rolling: bound the largest file one task can produce (checked
    // every 256 rows — getDataSize walks the column writers)
    if (targetFileBytes > 0 && (rows & 255) == 0 && writer.getDataSize >= targetFileBytes)
      roll()
  }

  override def commit(): WriterCommitMessage = {
    roll()
    LakeCommitMessage(done.result())
  }

  override def abort(): Unit = {
    if (writer != null) { writer.close(); writer = null }
    val fs = new Path(pathPrefix).getFileSystem(conf)
    (done.result().map(_.path) :+ path).filter(_ != null)
      .foreach(p => fs.delete(new Path(p), false))
  }

  override def close(): Unit = ()
}

/** parquet-hadoop builder wired to Spark's InternalRow WriteSupport. */
final class LakeParquetBuilder(path: Path, conf: Configuration)
  extends ParquetWriter.Builder[InternalRow, LakeParquetBuilder](path) {
  withConf(conf)
  // table-level write.parquet.compression-codec, stamped into the conf by
  // TableMeta.writeConf on every write path; snappy when absent
  withCompressionCodec(CompressionCodecName.valueOf(
    conf.get("graft.write.compression", "snappy").toUpperCase(java.util.Locale.ROOT)))
  // write.parquet.row-group-size-bytes (TableMeta.writeConf); parquet's
  // 128 MB default otherwise
  private val rg = conf.getLong("graft.write.rowgroup-bytes", -1L)
  if (rg > 0) withRowGroupSize(rg)
  override def self(): LakeParquetBuilder = this
  override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
    new ParquetWriteSupport()
}
