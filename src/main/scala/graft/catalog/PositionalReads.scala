package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport}
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The table's row-identity metadata columns, Iceberg's names: `_file` is
  * the data file a row lives in, `_pos` its 0-based ordinal in that file.
  * (Row identity is the Iceberg metadata contract the reference's schema
  * model implies — field IDs and snapshots, reference:
  * src/catalog/mod.rs:437-450, 296-347; the engine-side realization here
  * is ours.)
  * Together they are the row ID the merge-on-read delete path tombstones
  * (a positional delete file is a sorted list of `(file_path, pos)`), and
  * they're queryable directly (`SELECT _file, _pos FROM t`) for
  * lineage/debugging, exactly like Iceberg/Delta expose them.
  */
final case class LakeMetaColumn(name: String, dataType: DataType,
    nullable: Boolean = false)
  extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  override def isNullable: Boolean = nullable
}

object LakeMetaCols {
  val File = "_file"
  val Pos = "_pos"
  // ROW LINEAGE (Iceberg v3): a row's table-lifetime-unique id and the
  // commit sequence that last produced it. Computed from metadata
  // (`firstRowId + _pos`) for ordinary files; rewrites that must preserve
  // identity materialize them as [[RowLineage]] columns, whose non-NULL
  // values win (NULL inherits the file's range/sequence).
  val RowId = "_row_id"
  val LastSeq = "_last_updated_seq"
  def isMeta(name: String): Boolean =
    name == File || name == Pos || name == RowId || name == LastSeq
  def isLineage(name: String): Boolean = name == RowId || name == LastSeq
  def fieldOf(name: String): StructField = name match {
    case File => StructField(File, StringType, nullable = false)
    case Pos => StructField(Pos, LongType, nullable = false)
    case RowId => StructField(RowId, LongType, nullable = true)
    case LastSeq => StructField(LastSeq, LongType, nullable = true)
  }
}

/** Physical names of the MATERIALIZED row-lineage columns carried by
  * files that identity-preserving rewrites (compaction, z-order, CoW
  * DELETE) produce. Not part of the table schema — ordinary scans never
  * read them; lineage-requesting scans over `lineageCols` files add them
  * to the read schema and surface them through `_row_id` /
  * `_last_updated_seq`. NULL values inherit (fresh id from the file's
  * reserved range; the file's own commit sequence) — Iceberg v3's
  * null-inherits contract, which is what lets a rewrite mark only the
  * CARRIED rows and leave changed/new rows to the metadata defaults.
  */
object RowLineage {
  val Rid = "_graft_rid"
  val Rseq = "_graft_rseq"
  val RidField: StructField = StructField(Rid, LongType, nullable = true)
  val RseqField: StructField = StructField(Rseq, LongType, nullable = true)

  /** Resolve the CURRENT lineage of every row in a V1 rewrite-read: the
    * df's existing [[Rid]]/[[Rseq]] columns (read from materialized files;
    * NULL elsewhere) are overwritten with the inherit rule — materialized
    * value wins, NULL inherits the file's reserved range (`firstRowId +
    * ordinal`) / the file's own commit sequence, pre-lineage files stay
    * NULL. The ONE definition of row identity every identity-preserving
    * rewrite (compaction, z-order, CoW DELETE) writes through.
    *
    * @param nameCol column holding the row's file NAME (last path segment)
    * @param posCol  column holding the row's 0-based ordinal in that file
    */
  def inherit(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame, files: Seq[DataFileMeta],
      nameCol: String, posCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, when}
    def nameOf(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val lin = spark.createDataFrame(files.map(f => (nameOf(f.path),
      if (f.firstRowId > 0) f.firstRowId else -1L,
      if (f.addedAt > 0) f.addedAt else -1L))).toDF("__lname", "__lbase", "__lseq")
    df.join(broadcast(lin), df(nameCol) === lin("__lname"), "left")
      .withColumn(Rid, coalesce(col(Rid),
        when(col("__lbase") > 0, col("__lbase") + col(posCol))))
      .withColumn(Rseq, coalesce(col(Rseq),
        when(col("__lseq") > 0, col("__lseq"))))
      .drop("__lname", "__lbase", "__lseq")
  }
}

/** Positional delete files: parquet of `(file_path string, pos long)`,
  * written sorted by (file_path, pos) so per-column min/max stats give a
  * tight file_path RANGE — the scan loads only delete files whose range
  * covers the data file being read (Iceberg v2's delete-file layout and
  * pruning model).
  */
object DeleteFiles {
  val FilePathCol = "file_path"
  val PosCol = "pos"
  val schema: StructType = StructType(Seq(
    StructField(FilePathCol, StringType, nullable = false),
    StructField(PosCol, LongType, nullable = false)))

  /** May `delete`'s file_path [min, max] range cover `dataPath`? Missing
    * stats ⇒ conservative cover.
    */
  def covers(delete: DataFileMeta, dataPath: String): Boolean =
    FilePruner.mayContain(delete, FilePathCol, dataPath, StringType)

  def covering(deletes: Seq[DataFileMeta], dataPath: String): Seq[DataFileMeta] =
    deletes.filter(covers(_, dataPath))

  def coversAny(delete: DataFileMeta, dataPaths: Iterable[String]): Boolean =
    dataPaths.exists(covers(delete, _))
}

/** Parquet reads graft makes outside Spark's scan: delete files and
  * equality-delete keys, through Spark's own [[ParquetReadSupport]] (the
  * mirror of the write path's ParquetWriteSupport in
  * [[LakeParquetBuilder]]). Data files never read here: every lake scan
  * reads them through Spark's parquet reader factory
  * ([[ParquetDelegate]]), which prunes row groups by the pushed filters
  * and, for merge-on-read files, emits each row's file ordinal as the
  * row-index column ([[MorLayout]]).
  */
object PositionalParquet {
  def open(path: String, schema: StructType, conf: Configuration,
      filter: Option[org.apache.parquet.filter2.compat.FilterCompat.Filter] = None)
      : ParquetReader[InternalRow] = {
    val c = readerConf(schema, conf)
    // our writer stamps CORRECTED rebase metadata (LakeDataWriter.writeConf)
    val corrected = RebaseSpec(LegacyBehaviorPolicy.CORRECTED, None)
    val support = new ParquetReadSupport(None, false, corrected, corrected)
    // built on the caller's conf: `ParquetReader.builder(support, path)`
    // starts from a fresh default Configuration, which re-parses
    // core-default.xml on every open
    val b = new ParquetReader.Builder[InternalRow](
        HadoopInputFile.fromPath(new Path(path), c), new HadoopParquetConfiguration(c)) {
      override protected def getReadSupport(): ReadSupport[InternalRow] = support
    }
    filter.foreach(b.withFilter)
    b.build()
  }

  /** ParquetReadSupport/ParquetToSparkSchemaConverter read these from the
    * Configuration with NO defaults (normally ParquetFileFormat sets them;
    * we are our own prepareRead, mirroring LakeDataWriter.writeConf).
    */
  private def readerConf(schema: StructType, conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    c.set(SQLConf.PARQUET_BINARY_AS_STRING.key, "false")
    c.set(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, "true")
    c.set(SQLConf.CASE_SENSITIVE.key, "false")
    c.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, "true")
    c.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "false")
    c.set(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, "false")
    c.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, "UTC")
    c
  }

  /** Always 0: Spark's parquet reader prunes the row groups of every lake
    * read and does not report them. Kept for the benchmark's counters.
    */
  val rowGroupsPruned = new java.util.concurrent.atomic.AtomicLong()

  /** A file reader on `p` whose options come from `conf`: the one-argument
    * `ParquetFileReader.open(in)` builds them from a fresh default
    * Configuration, which re-parses core-default.xml on every open.
    */
  def openFooter(p: Path, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(p, conf),
      HadoopReadOptions.builder(conf, p).build())

  /** All tombstoned positions for `dataPath`, merged over its covering
    * delete files: sorted, distinct. Small by construction — it is the
    * delete set of ONE data file. The `file_path = target` predicate is
    * pushed into parquet-mr (record filter + row-group statistics):
    * delete files are written SORTED by (file_path, pos), so a reader
    * interested in one data file touches only that file's row groups —
    * tombstone-loading IO stays O(this file's tombstones), not O(all
    * tombstones), no matter how many files share a delete file.
    */
  def deletedPositions(dataPath: String, deletes: Seq[DeleteSlice],
      conf: Configuration): Array[Long] = {
    if (deletes.isEmpty) return Array.emptyLongArray
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.io.api.Binary
    val (dvs, deleteFiles) = deletes.partition(_.dvLength > 0L)
    // deletion vectors: one seek per covering slice (their covering match
    // is exact-per-target, so no path re-check is needed); positions are
    // row ordinals (≥ 0; Roaring64 iterates in UNSIGNED order, so the
    // floor must be 0, never Long.MinValue)
    val dvPositions: Array[Long] = dvs.toArray.flatMap { s =>
      DeletionVectors.positionsInRange(
        DeletionVectors.readBitmap(s.path, s.dvOffset, s.dvLength, conf), 0L, Long.MaxValue)
    }
    if (deleteFiles.isEmpty) return dvPositions.sorted.distinct
    val pathFilter = FilterCompat.get(FilterApi.eq(
      FilterApi.binaryColumn(DeleteFiles.FilePathCol),
      Binary.fromString(dataPath)))
    val target = UTF8String.fromString(dataPath)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    deleteFiles.map(_.path).distinct.foreach { df =>
      val r = open(df, DeleteFiles.schema, conf, Some(pathFilter))
      try {
        var row = r.read()
        while (row != null) {
          // parquet-mr's record filter materializes non-matching rows as
          // all-null records; the explicit equality re-check also guards
          // against dictionary/stats edge cases
          if (!row.isNullAt(0) && row.getUTF8String(0) == target) buf += row.getLong(1)
          row = r.read()
        }
      } finally r.close()
    }
    (buf.toArray ++ dvPositions).sorted.distinct
  }
}

/** One covering delete reference a positional partition ships to its
  * tasks: a parquet tombstone file (`dvLength == 0`) or a deletion-vector
  * slice of a container (see [[DeletionVectors]]).
  */
final case class DeleteSlice(path: String, dvOffset: Long = 0L, dvLength: Long = 0L)

object DeleteSlice {
  def of(d: DataFileMeta): DeleteSlice = DeleteSlice(d.path, d.dvOffset, d.dvLength)
}

/** Driver-side tombstone handling for copy-on-write rewrite jobs (CoW
  * DELETE, compaction): they read the affected parquet files directly with
  * the V1 reader, so pending merge-on-read tombstones must be subtracted
  * explicitly — an anti-join on `(_metadata.file_path, _metadata.row_index)`,
  * the V1 reader's native row identity. Rewriting a tombstoned file FOLDS
  * its tombstones in; delete files whose every remaining target dies with
  * the rewrite are dropped from the table in the same commit (that's what
  * puts files back on the vectorized read path).
  */
object TombstoneRewrite {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions.{col, input_file_name, substring_index}

  // _metadata.file_path / input_file_name report qualified URIs
  // ("file:///…"), manifests store the writer's paths verbatim; every file
  // NAME carries a task UUID and is globally unique, so matching on the
  // last path segment sidesteps URI-form normalization entirely
  private def nameOf(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** Delete files whose file_path range may cover any of `dataPaths`. */
  def covering(deletes: Seq[DataFileMeta], dataPaths: Seq[String]): Seq[DataFileMeta] =
    deletes.filter(d => DeleteFiles.coversAny(d, dataPaths))

  /** Subtract the tombstoned rows from `raw` (a V1 parquet read of the
    * files `coveringDeletes` cover). No-op without covering deletes.
    */
  def subtract(spark: SparkSession, raw: DataFrame,
      coveringDeletes: Seq[DataFileMeta], conf: Configuration): DataFrame = {
    if (coveringDeletes.isEmpty) return raw
    val dels = DeletionVectors.tombstonesDf(spark, coveringDeletes, conf)
      .select(substring_index(col(DeleteFiles.FilePathCol), "/", -1).as("__dname"),
        col(DeleteFiles.PosCol).as("__dpos"))
    val withId = raw
      .withColumn("__gname", substring_index(col("_metadata.file_path"), "/", -1))
      .withColumn("__gpos", col("_metadata.row_index"))
    withId
      .join(dels, withId("__gname") === dels("__dname") && withId("__gpos") === dels("__dpos"),
        "left_anti")
      .drop("__gname", "__gpos")
  }

  /** The inverse of [[subtract]]: ONLY the tombstoned rows of `raw`
    * (semi-join on file name + row_index) — the "-D" side of a CDC
    * changelog read.
    */
  def select(spark: SparkSession, raw: DataFrame,
      coveringDeletes: Seq[DataFileMeta], conf: Configuration): DataFrame = {
    import org.apache.spark.sql.functions.lit
    if (coveringDeletes.isEmpty) return raw.where(lit(false))
    val dels = DeletionVectors.tombstonesDf(spark, coveringDeletes, conf)
      .select(substring_index(col(DeleteFiles.FilePathCol), "/", -1).as("__dname"),
        col(DeleteFiles.PosCol).as("__dpos"))
    val withId = raw
      .withColumn("__gname", substring_index(col("_metadata.file_path"), "/", -1))
      .withColumn("__gpos", col("_metadata.row_index"))
    withId
      .join(dels, withId("__gname") === dels("__dname") && withId("__gpos") === dels("__dpos"),
        "left_semi")
      .drop("__gname", "__gpos")
  }

  /** Delete files every one of whose targets is in `replacedPaths` — their
    * tombstones were folded into the rewrite, so the commit can drop them
    * (pass their paths into `withRewrite.replacedPaths`). Exact, not
    * range-based: reads the distinct target list of each candidate delete
    * file (one small driver job).
    */
  def foldable(spark: SparkSession, coveringDeletes: Seq[DataFileMeta],
      replacedPaths: Set[String],
      allDeletes: Seq[DataFileMeta] = Nil): Set[String] = {
    if (coveringDeletes.isEmpty) return Set.empty
    val (dv, pq) = coveringDeletes.partition(_.isDv)
    // DV targets are EXACT in metadata: a container drops when EVERY one
    // of its entries' targets (across the WHOLE table, not just the
    // covering subset — hence `allDeletes`) died with the rewrite — zero
    // file reads. A partially-folded container stays whole; its dead
    // entries stop applying, and the consolidation job reclaims the bytes.
    val candidates = dv.map(_.path).toSet
    val universe = (if (allDeletes.nonEmpty) allDeletes else coveringDeletes)
      .filter(e => e.isDv && candidates.contains(e.path))
    val dvFold = universe.groupBy(_.path).collect {
      case (src, es) if es.forall(e =>
        replacedPaths.contains(e.minValues(DeleteFiles.FilePathCol))) => src
    }.toSet
    if (pq.isEmpty) return dvFold
    val n2m = pq.map(d => nameOf(d.path) -> d.path).toMap
    val targets = spark.read.schema(DeleteFiles.schema)
      .parquet(pq.map(_.path).distinct: _*)
      .select(input_file_name().as("src"), col(DeleteFiles.FilePathCol))
      .distinct().collect()
      .groupBy(r => n2m.getOrElse(nameOf(r.getString(0)), r.getString(0)))
      .map { case (src, rs) => src -> rs.map(_.getString(1)).toSet }
    dvFold ++ targets.collect { case (src, ts) if ts.subsetOf(replacedPaths) => src }
  }
}

/** Equality-delete handling shared by the scan paths.
  *
  * Keys are loaded ONCE per scan on the driver and broadcast: a scan over N
  * data files with E applicable delete files opens each delete file once
  * (E opens total), not N×E times from inside every reader — at 100 TB the
  * difference between one small metadata read per epoch and a storm of
  * repeated small reads. The deduped key set is bounded by the epochs'
  * distinct keys, which already had to fit in task memory to be written.
  */
object EqDeletes {
  /** Delete-file opens — instrumentation for tests asserting the
    * once-per-scan loading contract.
    */
  val opens = new java.util.concurrent.atomic.AtomicLong()

  /** (data file, delete file) pairs proven non-overlapping by the FILE
    * BLOOM refinement — instrumentation for tests.
    */
  val bloomRefined = new java.util.concurrent.atomic.AtomicLong()

  /** Max delete-file rows the bloom refinement will probe per data file. */
  val BloomRefineMaxKeys = 20000L

  /** Total probe-steps one scan's planning may spend on eq-bloom
    * refinement before degrading to "maybe hits" (var: tests lower it to
    * pin the degraded path). 64M steps ≈ tens of ms — bounded by
    * construction no matter how many files × epochs pile up.
    */
  @volatile var BloomRefineBudget: Long = 64L * 1000 * 1000

  /** Driver-side: key rows of each delete file, path-keyed. */
  def loadKeys(paths: Seq[String], keySchema: StructType,
      conf: Configuration): Map[String, Array[UnsafeRow]] = {
    val proj = UnsafeProjection.create(keySchema)
    paths.distinct.map { p =>
      opens.incrementAndGet()
      val buf = scala.collection.mutable.ArrayBuffer.empty[UnsafeRow]
      val r = PositionalParquet.open(p, keySchema, conf)
      try {
        var row = r.read()
        while (row != null) { buf += proj(row).copy(); row = r.read() }
      } finally r.close()
      p -> buf.toArray
    }.toMap
  }
}

/** One partition of a [[LakeMixedBatch]] that reads through the delete
  * mask: Spark's file partition `inner`, read by the batch's merge-on-read
  * factory. A file with positional tombstones, or any file of a read that
  * requests `_file`/`_pos`/lineage columns, reads one split per partition:
  * `dataPath` is its path as the manifest holds it, `deletes` its covering
  * tombstones, `firstRowId`/`addedSeq` its lineage (0 = pre-lineage).
  * Files that need only the equality-delete anti-filter, or nothing, pack
  * several to a partition and leave those empty. `eqDeletePaths` names the
  * broadcast key arrays to anti-filter with.
  */
final case class MorInputPartition(
    inner: FilePartition,
    eqDeletePaths: Seq[String] = Nil,
    dataPath: String = "",
    deletes: Seq[DeleteSlice] = Nil,
    firstRowId: Long = 0L,
    addedSeq: Long = 0L)
  extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** The columns of a batch's merge-on-read reads. Spark's parquet reader
  * returns `read`: the requested columns (its first `outLen`), then what
  * the delete mask needs besides — the equality-delete `keys` not among
  * them, the materialized lineage columns, and Spark's row-index column,
  * which carries each row's ordinal in its file. The readers emit the
  * requested columns followed by `metaCols`.
  */
final case class MorLayout(read: StructType, outLen: Int, keys: StructType,
    metaCols: Seq[String]) {
  private def ordinal(name: String): Int = read.fieldNames.indexOf(name)
  def rowIndex: Int = ordinal(MorLayout.RowIndex.name)
  def rid: Int = ordinal(RowLineage.Rid)
  def rseq: Int = ordinal(RowLineage.Rseq)
  def out: StructType =
    StructType(read.fields.take(outLen) ++ metaCols.map(LakeMetaCols.fieldOf))

  /** A row's equality-delete key, as the broadcast key arrays hold it. */
  def keyProjection: UnsafeProjection = UnsafeProjection.create(keys.fields.map { f =>
    BoundReference(read.fieldIndex(f.name), f.dataType, f.nullable): Expression
  })

  /** Does the read fetch a stored column beyond the requested ones? The
    * row index is generated by the reader, not stored.
    */
  def readsExtraColumns: Boolean =
    read.fields.drop(outLen).exists(_.name != MorLayout.RowIndex.name)
}

object MorLayout {
  /** Spark's parquet readers fill this column with the row's ordinal in its
    * file when a read schema names it. The files do not hold it, so it must
    * be nullable: Spark fails a missing non-nullable column.
    */
  val RowIndex: StructField = StructField(
    ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType, nullable = true)

  def of(required: StructType, keys: StructType, lineage: Boolean, rowIndex: Boolean,
      metaCols: Seq[String]): MorLayout = {
    val extra = keys.fields.filterNot(f => required.fieldNames.contains(f.name)) ++
      (if (lineage) Seq(RowLineage.RidField, RowLineage.RseqField) else Nil) ++
      (if (rowIndex) Seq(RowIndex) else Nil)
    MorLayout(StructType(required.fields ++ extra), required.length, keys, metaCols)
  }
}

/** The reader factory of a [[LakeMixedBatch]]: a [[MorInputPartition]]
  * reads through Spark's parquet factory over the batch's [[MorLayout]]
  * (`mor`), with the delete mask on top; any other partition is clean and
  * reads through `clean`. Spark requires every partition of one scan to
  * agree on columnar support, so `columnar` is decided once per batch.
  * `conf` is the merge-on-read read's broadcast conf, which tombstone loads
  * reuse; `eqKeys` the once-per-scan broadcast of delete-file key arrays.
  */
final class LakeReaderFactory(
    clean: PartitionReaderFactory,
    mor: PartitionReaderFactory,
    layout: MorLayout,
    conf: Broadcast[SerializableConfiguration],
    eqKeys: Broadcast[Map[String, Array[UnsafeRow]]],
    columnar: Boolean)
  extends PartitionReaderFactory {

  private def maskOf(p: MorInputPartition): MorMask = {
    val keys =
      if (p.eqDeletePaths.isEmpty) null
      else {
        val set = new java.util.HashSet[UnsafeRow]()
        p.eqDeletePaths.foreach(k => eqKeys.value.getOrElse(k, Array.empty).foreach(set.add))
        set
      }
    new MorMask(p, layout, conf.value.value, keys)
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
    case m: MorInputPartition => new MorRowReader(mor.createReader(m.inner), m, layout, maskOf(m))
    case other => clean.createReader(other)
  }
  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = p match {
    case m: MorInputPartition =>
      new MorColumnarReader(mor.createColumnarReader(m.inner), m, layout, maskOf(m))
    case other => clean.createColumnarReader(other)
  }
  override def supportColumnarReads(p: InputPartition): Boolean = columnar
}

/** The delete mask of one [[MorInputPartition]], shared by its row and
  * columnar readers: positional tombstones (loaded when the first row asks,
  * so a split whose row groups all prune opens no delete file), equality-
  * delete keys, and the lineage values rows inherit.
  */
final class MorMask(part: MorInputPartition, layout: MorLayout, conf: Configuration,
    eqKeys: java.util.HashSet[UnsafeRow]) {
  var tombstonedRows = 0L
  var eqDeletedRows = 0L

  private lazy val deleted: Array[Long] =
    PositionalParquet.deletedPositions(part.dataPath, part.deletes, conf)
  private val keyOf: UnsafeProjection =
    if (eqKeys == null || eqKeys.isEmpty) null else layout.keyProjection

  /** Nothing in the partition can be deleted. */
  val clean: Boolean = part.deletes.isEmpty && keyOf == null
  def hasKeys: Boolean = keyOf != null

  /** The first tombstoned position at or after `pos`, Long.MaxValue if none. */
  def nextTombstone(pos: Long): Long =
    if (part.deletes.isEmpty) Long.MaxValue
    else {
      val i = java.util.Arrays.binarySearch(deleted, pos)
      val at = if (i >= 0) i else -i - 1
      if (at < deleted.length) deleted(at) else Long.MaxValue
    }

  /** Does `row`, at file ordinal `pos`, survive? Counts the rows it drops. */
  def keeps(row: InternalRow, pos: Long): Boolean =
    if (nextTombstone(pos) == pos) { tombstonedRows += 1; false }
    else if (keyOf != null && eqKeys.contains(keyOf(row))) { eqDeletedRows += 1; false }
    else true

  /** The `_row_id` a row at `pos` inherits when it holds none: the file's
    * reserved range, -1 for a pre-lineage file.
    */
  def inheritedRowId(pos: Long): Long = if (part.firstRowId > 0) part.firstRowId + pos else -1L
  /** The `_last_updated_seq` a row inherits: the file's, -1 if unknown. */
  def inheritedSeq: Long = if (part.addedSeq > 0) part.addedSeq else -1L

  def metrics: Array[CustomTaskMetric] =
    Array(LakeScanMetrics.Value("tombstonedRows", tombstonedRows),
      LakeScanMetrics.Value("eqDeletedRows", eqDeletedRows))
}

/** Driver-aggregated (summed) scan metrics the MoR readers report per
  * task — surfaced in the Spark UI's SQL node, the operational answer to
  * "how much delete debt is this table carrying" at 100 TB: tombstoned
  * rows actually skipped, rows dropped by equality-delete keys, and the
  * columnar reader's pass-through vs compacted batch split (pass-through
  * should dominate under sparse deletes — if compaction dominates, run
  * rewrite_position_delete_files). One driver metric rides along: 1 when
  * every conf broadcast the scan used was an earlier scan's, 0 otherwise.
  */
object LakeScanMetrics {
  import org.apache.spark.sql.connector.metric.CustomMetric

  // each metric is its own ZERO-ARG top-level class: Spark re-instantiates
  // the class reflectively on the driver to aggregate task values for the
  // UI — a parameterized class fails that lookup (silently, per metric)
  val all: Array[CustomMetric] = Array(new TombstonedRowsMetric,
    new EqDeletedRowsMetric, new BatchesPassthroughMetric,
    new BatchesCompactedMetric, new ConfBroadcastReusedMetric)

  final case class Value(name: String, value: Long) extends CustomTaskMetric
}

final class TombstonedRowsMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "tombstonedRows"
  override def description(): String = "MoR rows skipped by positional tombstones"
}
final class EqDeletedRowsMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "eqDeletedRows"
  override def description(): String = "MoR rows dropped by equality-delete keys"
}
final class BatchesPassthroughMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "batchesPassthrough"
  override def description(): String = "columnar MoR batches passed through untouched"
}
final class BatchesCompactedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "batchesCompacted"
  override def description(): String = "columnar MoR batches compacted (tombstones hit)"
}
final class ConfBroadcastReusedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "confBroadcastReused"
  override def description(): String = "scan conf broadcast reused from an earlier scan"
}

/** Row-mode merge-on-read: the rows of Spark's parquet row reader that the
  * mask keeps, with the requested metadata columns appended — `_file` the
  * manifest's path, `_pos` the row index, `_row_id`/`_last_updated_seq`
  * the file's materialized value where there is one, else the inherited
  * one (NULL for pre-lineage files).
  */
final class MorRowReader(
    inner: PartitionReader[InternalRow],
    part: MorInputPartition,
    layout: MorLayout,
    mask: MorMask)
  extends PartitionReader[InternalRow] {

  private val rowIndex = layout.rowIndex
  private val rid = layout.rid
  private val rseq = layout.rseq
  private val metaCols = layout.metaCols.toArray
  private val file = UTF8String.fromString(part.dataPath)
  private val meta = new GenericInternalRow(metaCols.length)
  private val joined = new JoinedRow
  // output = the requested prefix of the read, then the metadata columns;
  // rows pass as read when that is the whole read
  private val project: UnsafeProjection =
    if (metaCols.isEmpty && layout.read.length == layout.outLen) null
    else UnsafeProjection.create(layout.out.fields.zipWithIndex.map { case (f, i) =>
      val at = if (i < layout.outLen) i else layout.read.length + i - layout.outLen
      BoundReference(at, f.dataType, f.nullable): Expression
    })
  private var current: InternalRow = _

  override def currentMetricsValues(): Array[CustomTaskMetric] = mask.metrics

  private def lineage(row: InternalRow, col: Int, inherited: Long): Any =
    if (col >= 0 && !row.isNullAt(col)) row.getLong(col)
    else if (inherited >= 0) inherited
    else null

  override def next(): Boolean = {
    while (inner.next()) {
      val row = inner.get()
      val pos = if (rowIndex >= 0) row.getLong(rowIndex) else -1L
      if (mask.clean || mask.keeps(row, pos)) {
        if (project == null) current = row
        else {
          var j = 0
          while (j < metaCols.length) {
            meta.update(j, metaCols(j) match {
              case LakeMetaCols.File => file
              case LakeMetaCols.Pos => pos
              case LakeMetaCols.RowId => lineage(row, rid, mask.inheritedRowId(pos))
              case LakeMetaCols.LastSeq => lineage(row, rseq, mask.inheritedSeq)
            })
            j += 1
          }
          current = project(joined(row, meta))
        }
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = inner.close()
}
