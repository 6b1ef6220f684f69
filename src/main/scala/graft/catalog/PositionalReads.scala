package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types._
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

/** Executor-side parquet→InternalRow reader built from Spark's own
  * [[ParquetReadSupport]] (the exact mirror of the write path's
  * ParquetWriteSupport in [[LakeParquetBuilder]]): same encodings, zero
  * extra dependencies. It reads a WHOLE file sequentially — no splits, no
  * pushed filters, no row-group skipping — which is precisely what makes
  * the row-position counter trustworthy. Predicates still apply: the scan
  * never claims pushdown, so Spark's own Filter sits above.
  */
object PositionalParquet {
  def open(path: String, schema: StructType, conf: Configuration,
      filter: Option[org.apache.parquet.filter2.compat.FilterCompat.Filter] = None,
      fileRange: Option[(Long, Long)] = None)
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
    // NEVER set a filter on a positional DATA read (it would corrupt the
    // row counter); delete-file reads are content-only and filter freely
    filter.foreach(b.withFilter)
    // a split range selects whole row groups by byte midpoint — positions
    // stay exact because the split's start position comes from the footer
    fileRange.foreach { case (s, e) => b.withFileRange(s, e) }
    b.build()
  }

  /** Read configuration shared by the row and columnar paths —
    * ParquetReadSupport/ParquetToSparkSchemaConverter read these from the
    * Configuration with NO defaults (normally ParquetFileFormat sets them;
    * we are our own prepareRead, mirroring LakeDataWriter.writeConf).
    */
  def readerConf(schema: StructType, conf: Configuration): Configuration = {
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

  /** Footer row-group layout of `path`: per group, its byte MIDPOINT
    * (`startingPos + compressedSize/2` — the value parquet-mr's file-range
    * filter assigns groups to splits by) and its exact row count.
    */
  def rowGroupLayout(path: String, conf: Configuration): Seq[(Long, Long)] =
    rowGroupStats(path, conf, Set.empty).map(g => (g._1, g._2))

  /** Row groups pruned by pushed-filter stats inside positional readers —
    * instrumentation for tests.
    */
  val rowGroupsPruned = new java.util.concurrent.atomic.AtomicLong()

  /** [[rowGroupLayout]] plus each group's column statistics rendered as a
    * pseudo [[DataFileMeta]] in the WRITER's stat-string format, so
    * [[FilePruner.mayMatch]] evaluates pushed filters against row groups
    * exactly as it does against files. Only stat renderings that provably
    * agree with the pruner's comparisons are emitted (plain ints/longs,
    * date days, timestamp micros, non-NaN floats/doubles, UTF8 strings —
    * parquet's unsigned-byte BINARY order IS UTF8String.compareTo order;
    * truncated binary stats remain valid bounds); decimals, unsigned ints
    * and everything exotic stay absent ⇒ conservative keep. `statCols`
    * bounds the rendering to the columns the pushed filters actually
    * reference — a filterless scan (empty set) pays for row counts and
    * midpoints only, never N-columns × N-groups of stat strings.
    */
  def rowGroupStats(path: String, conf: Configuration,
      statCols: Set[String] = null): Seq[(Long, Long, DataFileMeta)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val fr = openFooter(new Path(path), conf)
    try fr.getFooter.getBlocks.asScala.toSeq.map { b =>
      val mins = Map.newBuilder[String, String]
      val maxs = Map.newBuilder[String, String]
      val nulls = Map.newBuilder[String, Long]
      b.getColumns.asScala.foreach { c =>
        if (c.getPath.size == 1 &&
          (statCols == null || statCols.contains(c.getPath.toDotString))) {
          val name = c.getPath.toDotString
          val pt = c.getPrimitiveType
          val logical = pt.getLogicalTypeAnnotation
          def statString(v: Any): Option[String] = (pt.getPrimitiveTypeName, logical) match {
            case (_, _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) => None
            case (INT32 | INT64, l: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
              if !l.isSigned => None
            // pruner probe literals for timestamps/times are MICROS; a
            // foreign file annotated MILLIS/NANOS would render bounds in
            // the wrong unit and wrongly prune (unrecoverable row loss) —
            // emit only the unit the pruner compares, else conservative keep
            case (INT32 | INT64, t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
              if (t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS) Some(v.toString) else None
            case (INT32 | INT64, t: LogicalTypeAnnotation.TimeLogicalTypeAnnotation) =>
              if (t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS) Some(v.toString) else None
            case (INT32 | INT64, _) => Some(v.toString)
            case (FLOAT, _) =>
              Some(v.asInstanceOf[java.lang.Float]).filterNot(_.isNaN).map(_.toString)
            case (DOUBLE, _) =>
              Some(v.asInstanceOf[java.lang.Double]).filterNot(_.isNaN).map(_.toString)
            case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
              Some(v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
            case _ => None
          }
          val st = c.getStatistics
          if (st != null) {
            if (st.isNumNullsSet) nulls += name -> st.getNumNulls
            if (st.hasNonNullValue) {
              statString(st.genericGetMin).foreach(mins += name -> _)
              statString(st.genericGetMax).foreach(maxs += name -> _)
            }
          }
        }
      }
      (b.getStartingPos + b.getCompressedSize / 2, b.getRowCount,
        DataFileMeta(path, b.getRowCount, b.getCompressedSize,
          mins.result(), maxs.result(), nulls.result()))
    } finally fr.close()
  }

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
      conf: Configuration, posRange: Option[(Long, Long)] = None): Array[Long] = {
    if (deletes.isEmpty) return Array.emptyLongArray
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.io.api.Binary
    val (dvs, deleteFiles) = deletes.partition(_.dvLength > 0L)
    // deletion vectors: one seek per covering slice, positions clipped to
    // the split's range (their covering match is exact-per-target, so no
    // path re-check is needed)
    val dvPositions: Array[Long] = dvs.toArray.flatMap { s =>
      val bm = DeletionVectors.readBitmap(s.path, s.dvOffset, s.dvLength, conf)
      // positions are row ordinals (≥ 0; Roaring64 iterates in UNSIGNED
      // order, so the full-range floor must be 0, never Long.MinValue)
      posRange match {
        case Some((lo, hi)) => DeletionVectors.positionsInRange(bm, math.max(0L, lo), hi)
        case None => DeletionVectors.positionsInRange(bm, 0L, Long.MaxValue)
      }
    }
    if (deleteFiles.isEmpty) return dvPositions.sorted.distinct
    val pathPred = FilterApi.eq(
      FilterApi.binaryColumn(DeleteFiles.FilePathCol),
      Binary.fromString(dataPath))
    // split-parallel readers only need THEIR row-group range's tombstones —
    // the [start, end) position predicate keeps per-task tombstone IO and
    // memory O(split's tombstones) on a heavily point-deleted file
    val pathFilter = FilterCompat.get(posRange.fold(
      pathPred: org.apache.parquet.filter2.predicate.FilterPredicate) {
      case (lo, hi) => FilterApi.and(pathPred, FilterApi.and(
        FilterApi.gtEq(FilterApi.longColumn(DeleteFiles.PosCol), java.lang.Long.valueOf(lo)),
        FilterApi.lt(FilterApi.longColumn(DeleteFiles.PosCol), java.lang.Long.valueOf(hi))))
    })
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
          if (!row.isNullAt(0) && row.getUTF8String(0) == target &&
            posRange.forall { case (lo, hi) =>
              val p = row.getLong(1); p >= lo && p < hi }) buf += row.getLong(1)
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

  /** Subtract the tombstoned rows of `dataPaths` from `raw` (a V1 parquet
    * read of exactly those files). No-op without covering deletes.
    */
  def subtract(spark: SparkSession, raw: DataFrame, dataPaths: Seq[String],
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

  /** The inverse of [[subtract]]: ONLY the tombstoned rows of `dataPaths`
    * (semi-join on file name + row_index) — the "-D" side of a CDC
    * changelog read.
    */
  def select(spark: SparkSession, raw: DataFrame, dataPaths: Seq[String],
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
      replacedPaths: Set[String], conf: Configuration,
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
  import org.apache.spark.sql.catalyst.expressions.UnsafeRow

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

/** One SPLIT of a data file read positionally: the row groups whose byte
  * midpoint falls in `[splitStart, splitEnd)` (parquet-mr's standard
  * split-to-row-group assignment), minus tombstoned positions, minus rows
  * whose key appears in an APPLICABLE equality delete (one with a newer
  * sequence number than this file), optionally extended with the
  * `_file`/`_pos` metadata columns (in `metaCols` order, appended after
  * the data columns). The defaults cover the whole file. Each split's
  * starting row position comes from the footer's row-group row counts —
  * exact by the parquet spec — so a heavily tombstoned 1 GB file reads as
  * ~8 parallel tasks instead of one (Iceberg plans MoR reads the same
  * way); the planner stays O(files) because byte boundaries need no
  * footer IO, only the tasks (which must open the footer anyway) do.
  */
final case class PositionalInputPartition(
    dataPath: String,
    deletes: Seq[DeleteSlice],
    physDataSchemaJson: String,
    metaCols: Seq[String],
    eqDeletePaths: Seq[String] = Nil,
    eqKeySchemaJson: String = "",
    splitStart: Long = 0L,
    splitEnd: Long = Long.MaxValue,
    // row lineage: the file's reserved id base (0 = pre-lineage), its
    // commit sequence, and whether it carries materialized lineage columns
    firstRowId: Long = 0L,
    addedSeq: Long = 0L,
    lineageCols: Boolean = false,
    // pushed data filters (PHYSICAL names) for row-group stats pruning —
    // best-effort ONLY: the scan reports every filter as post-scan, so a
    // kept group's non-matching rows still die in Spark's Filter above
    filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil)
  extends InputPartition

/** A delegate parquet split of an EQ-ONLY dirty file (equality deletes
  * apply, no positional tombstones): the inner partition keeps the
  * delegate's split planning, pushed filters and row-group pruning — eq
  * filtering needs no position counter, so unlike positional tombstones it
  * costs neither pushdown nor whole-file reads. Every such split reads
  * through the scan's one eq-delete factory (requested ∪ key columns);
  * `eqDeletePaths` names the broadcast key arrays to anti-filter with,
  * `outLen` the requested-column prefix to emit.
  */
final case class EqFilteredInputPartition(
    inner: InputPartition,
    eqDeletePaths: Seq[String],
    keySchemaJson: String,
    unionSchemaJson: String,
    outLen: Int) extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Dispatches positional partitions to the row reader, eq-filtered
  * partitions to the eq-delete delegate reader wrapped with the key
  * anti-filter, and everything else to the delegated parquet factory.
  * Spark requires every partition of one scan to agree on columnar support
  * (DataSourceV2ScanExecBase), so when a scan mixes clean files with dirty
  * ones (`forceRows`), clean partitions read through the delegate's
  * ROW-based parquet reader — they keep split planning and row-group
  * pruning, only losing vectorization until compaction folds the deletes
  * away. `eqKeys` is the once-per-scan broadcast of delete-file key arrays,
  * `conf` the once-per-scan broadcast of the Hadoop conf.
  */
final class LakeReaderFactory(
    conf: org.apache.spark.broadcast.Broadcast[SerializableConfiguration],
    delegate: Option[PartitionReaderFactory],
    forceRows: Boolean,
    eqDelegate: Option[PartitionReaderFactory] = None,
    eqKeys: org.apache.spark.broadcast.Broadcast[Map[String, Array[org.apache.spark.sql.catalyst.expressions.UnsafeRow]]] = null,
    // true ⇒ EVERY partition of this scan reads vectorized (decided at
    // planning: flat schemas + delegate support) — Spark requires the
    // whole scan to agree, so this is all-or-nothing by construction
    columnar: Boolean = false)
  extends PartitionReaderFactory {

  private def keySetOf(paths: Seq[String]) = {
    val set = new java.util.HashSet[org.apache.spark.sql.catalyst.expressions.UnsafeRow]()
    paths.foreach(p => eqKeys.value.getOrElse(p, Array.empty).foreach(set.add))
    set
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
    case pp: PositionalInputPartition =>
      new PositionalRowReader(pp, conf.value.value,
        if (pp.eqDeletePaths.isEmpty) null else keySetOf(pp.eqDeletePaths))
    case ep: EqFilteredInputPartition =>
      new EqFilteredRowReader(eqDelegate.get.createReader(ep.inner), ep,
        keySetOf(ep.eqDeletePaths))
    case other => delegate.get.createReader(other)
  }
  override def createColumnarReader(p: InputPartition) = p match {
    case pp: PositionalInputPartition =>
      new PositionalColumnarReader(pp, conf.value.value,
        if (pp.eqDeletePaths.isEmpty) null else keySetOf(pp.eqDeletePaths))
    case ep: EqFilteredInputPartition =>
      new EqFilteredColumnarReader(
        eqDelegate.get.createColumnarReader(ep.inner), ep,
        keySetOf(ep.eqDeletePaths))
    case other => delegate.get.createColumnarReader(other)
  }
  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case _: PositionalInputPartition | _: EqFilteredInputPartition => columnar
    case other =>
      (columnar || !forceRows) && delegate.exists(_.supportColumnarReads(other))
  }
}

/** Applies the equality-delete key anti-filter above a delegate parquet
  * row reader, then projects away any key columns the query didn't ask
  * for. The delegate did its own filter pushdown and row-group pruning —
  * this wrapper only drops overwritten key versions.
  */
final class EqFilteredRowReader(
    inner: PartitionReader[InternalRow],
    part: EqFilteredInputPartition,
    eqKeys: java.util.HashSet[org.apache.spark.sql.catalyst.expressions.UnsafeRow])
  extends PartitionReader[InternalRow] {

  import org.apache.spark.sql.catalyst.expressions.BoundReference

  private val unionSchema =
    DataType.fromJson(part.unionSchemaJson).asInstanceOf[StructType]
  private val keySchema =
    DataType.fromJson(part.keySchemaJson).asInstanceOf[StructType]
  private val rowKeyProj = UnsafeProjection.create(keySchema.fields.map { f =>
    val i = unionSchema.fieldIndex(f.name)
    BoundReference(i, f.dataType, f.nullable): org.apache.spark.sql.catalyst.expressions.Expression
  })
  // identity when the query already asked for every union column
  private val outProj =
    if (part.outLen == unionSchema.length) null
    else UnsafeProjection.create(unionSchema.fields.take(part.outLen).zipWithIndex.map {
      case (f, i) => BoundReference(i, f.dataType, f.nullable):
        org.apache.spark.sql.catalyst.expressions.Expression
    })

  private var current: InternalRow = _
  private var eqDeletedRows = 0L

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(LakeScanMetrics.Value("eqDeletedRows", eqDeletedRows))

  override def next(): Boolean = {
    while (inner.next()) {
      val row = inner.get()
      if (!eqKeys.contains(rowKeyProj(row))) {
        current = if (outProj == null) row else outProj(row)
        return true
      }
      eqDeletedRows += 1
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = inner.close()
}

/** One contiguous stretch of surviving row groups in a positional split:
  * byte range (covering exactly their midpoints), footer-exact starting
  * row ordinal, expected row count.
  */
final case class GroupRun(byteStart: Long, byteEnd: Long, startPos: Long, rows: Long)

/** Driver-aggregated (summed) scan metrics the MoR readers report per
  * task — surfaced in the Spark UI's SQL node, the operational answer to
  * "how much delete debt is this table carrying" at 100 TB: tombstoned
  * rows actually skipped, rows dropped by equality-delete keys, row
  * groups pruned by pushed-filter stats, and the columnar reader's
  * pass-through vs compacted batch split (pass-through should dominate
  * under sparse deletes — if compaction dominates, run
  * rewrite_position_delete_files). One driver metric rides along: 1 when
  * the scan's conf broadcast was an earlier scan's, 0 when it made one.
  */
object LakeScanMetrics {
  import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}

  // each metric is its own ZERO-ARG top-level class: Spark re-instantiates
  // the class reflectively on the driver to aggregate task values for the
  // UI — a parameterized class fails that lookup (silently, per metric)
  val all: Array[CustomMetric] = Array(new TombstonedRowsMetric,
    new EqDeletedRowsMetric, new RowGroupsPrunedMetric,
    new BatchesPassthroughMetric, new BatchesCompactedMetric,
    new ConfBroadcastReusedMetric)

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
final class RowGroupsPrunedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "rowGroupsPruned"
  override def description(): String = "row groups pruned by pushed-filter stats"
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

/** Shared split planning for the row and columnar positional readers:
  * resolve the split's byte range to whole row groups (parquet-mr's
  * midpoint rule), compute each group's exact starting row ordinal from
  * the footer's row counts, skip groups the pushed filters provably
  * cannot match (best-effort — Spark's Filter sits above), coalesce the
  * survivors into contiguous byte-range runs, and load only the runs'
  * tombstone range.
  */
object PositionalRuns {
  def plan(part: PositionalInputPartition,
      conf: Configuration): (Seq[GroupRun], Array[Long], Long) = {
    // stats rendered only for the columns the pushed filters reference
    val statCols: Set[String] =
      part.filters.flatMap(_.references.map(_.name).toSeq).toSet
    val layout = PositionalParquet.rowGroupStats(part.dataPath, conf, statCols)
    val starts = layout.scanLeft(0L)(_ + _._2)
    val indexed = layout.zipWithIndex.map { case ((mid, rows, pseudo), i) =>
      (mid, rows, pseudo, starts(i))
    }
    val mine = indexed.filter(g => g._1 >= part.splitStart && g._1 < part.splitEnd)
    val selected = mine.filter(g =>
      part.filters.forall(FilePruner.mayMatch(_, g._3)))
    PositionalParquet.rowGroupsPruned.addAndGet(mine.size - selected.size)
    // coalesce groups adjacent IN THE FILE (consecutive layout index ⇔
    // consecutive start positions) into one reader range each
    val runs = selected.foldLeft(Vector.empty[(GroupRun, Long)]) {
      case (acc :+ ((run, endPos)), g) if g._4 == endPos =>
        acc :+ (run.copy(byteEnd = g._1 + 1, rows = run.rows + g._2), g._4 + g._2)
      case (acc, g) =>
        acc :+ (GroupRun(g._1, g._1 + 1, g._4, g._2), g._4 + g._2)
    }.map(_._1)
    val deleted: Array[Long] =
      if (runs.isEmpty) Array.emptyLongArray
      else PositionalParquet.deletedPositions(part.dataPath, part.deletes, conf,
        posRange = Some((runs.head.startPos, runs.last.startPos + runs.last.rows)))
    (runs, deleted, (mine.size - selected.size).toLong)
  }
}

final class PositionalRowReader(
    part: PositionalInputPartition,
    conf: Configuration,
    eqKeys: java.util.HashSet[org.apache.spark.sql.catalyst.expressions.UnsafeRow] = null)
  extends PartitionReader[InternalRow] {

  import org.apache.spark.sql.catalyst.expressions.BoundReference

  private val outSchema =
    DataType.fromJson(part.physDataSchemaJson).asInstanceOf[StructType]
  // equality-delete keys may not be in the requested projection: read the
  // union, emit only the requested prefix
  private val keySchema: StructType =
    if (part.eqDeletePaths.isEmpty) new StructType()
    else DataType.fromJson(part.eqKeySchemaJson).asInstanceOf[StructType]
  // lineage-requesting reads of a MATERIALIZED file also read the
  // _graft_rid/_graft_rseq columns (absent columns clip to null — which
  // the inherit rules below turn back into computed values)
  private val needLineageCols =
    part.lineageCols && part.metaCols.exists(LakeMetaCols.isLineage)
  private val readSchema = StructType(outSchema.fields ++
    keySchema.fields.filterNot(f => outSchema.fieldNames.contains(f.name)) ++
    (if (needLineageCols) Seq(RowLineage.RidField, RowLineage.RseqField) else Nil))
  private val ridCol = if (needLineageCols) readSchema.fieldIndex(RowLineage.Rid) else -1
  private val rseqCol = if (needLineageCols) readSchema.fieldIndex(RowLineage.Rseq) else -1

  private val (runs, deleted, prunedGroups) = PositionalRuns.plan(part, conf)
  private var tombstonedRows = 0L
  private var eqDeletedRows = 0L

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(LakeScanMetrics.Value("tombstonedRows", tombstonedRows),
      LakeScanMetrics.Value("eqDeletedRows", eqDeletedRows),
      LakeScanMetrics.Value("rowGroupsPruned", prunedGroups))

  private val rowKeyProj =
    if (eqKeys == null || eqKeys.isEmpty) null
    else UnsafeProjection.create(keySchema.fields.map { f =>
      val i = readSchema.fieldIndex(f.name)
      BoundReference(i, f.dataType, f.nullable): org.apache.spark.sql.catalyst.expressions.Expression
    })

  // one reader per contiguous run of surviving row groups, opened lazily
  private var runIdx = -1
  private var reader: ParquetReader[InternalRow] = _
  private var runRowsRead = 0L

  private def advanceRun(): Boolean = {
    runIdx += 1
    if (runIdx >= runs.length) false
    else {
      val r = runs(runIdx)
      reader = PositionalParquet.open(part.dataPath, readSchema, conf,
        fileRange = Some((r.byteStart, r.byteEnd)))
      pos = r.startPos - 1L
      runRowsRead = 0L
      true
    }
  }

  // appended metadata values: constant _file (+ _last_updated_seq when not
  // materialized), running _pos, per-row lineage
  private val metaRow = new GenericInternalRow(part.metaCols.length)
  part.metaCols.zipWithIndex.foreach {
    case (LakeMetaCols.File, i) => metaRow.update(i, UTF8String.fromString(part.dataPath))
    case (LakeMetaCols.LastSeq, i) if !needLineageCols =>
      metaRow.update(i, if (part.addedSeq > 0) part.addedSeq else null)
    case _ => ()
  }
  private val posIdx = part.metaCols.indexOf(LakeMetaCols.Pos)
  private val rowIdIdx = part.metaCols.indexOf(LakeMetaCols.RowId)
  private val seqIdx = part.metaCols.indexOf(LakeMetaCols.LastSeq)
  private val joined = new JoinedRow
  // output = requested data columns (the readSchema prefix) + metadata cols
  private val toUnsafe = UnsafeProjection.create(
    outSchema.fields.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable): org.apache.spark.sql.catalyst.expressions.Expression
    } ++ part.metaCols.zipWithIndex.map { case (m, j) =>
      val f = LakeMetaCols.fieldOf(m)
      BoundReference(readSchema.length + j, f.dataType, f.nullable): org.apache.spark.sql.catalyst.expressions.Expression
    })

  private var pos = -1L
  private var delIdx = 0
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      if (reader == null && !advanceRun()) return false
      val row = reader.read()
      if (row == null) {
        // self-verifying: the reader's internal row-group selection MUST
        // agree with the footer-derived start position — a short or long
        // read means positions were wrong, which must fail loudly, never
        // return rows with silently shifted _pos/tombstone alignment
        if (runRowsRead != runs(runIdx).rows) throw new IllegalStateException(
          s"positional run [${runs(runIdx).byteStart},${runs(runIdx).byteEnd}) of " +
            s"${part.dataPath} read $runRowsRead rows, footer says ${runs(runIdx).rows}")
        reader.close()
        reader = null
      } else {
        pos += 1
        runRowsRead += 1
        while (delIdx < deleted.length && deleted(delIdx) < pos) delIdx += 1
        if (delIdx < deleted.length && deleted(delIdx) == pos) {
          delIdx += 1 // position-tombstoned: skip
          tombstonedRows += 1
        } else if (rowKeyProj != null && eqKeys.contains(rowKeyProj(row))) {
          // key-tombstoned by a newer equality delete: skip
          eqDeletedRows += 1
        } else {
          if (posIdx >= 0) metaRow.update(posIdx, pos)
          if (rowIdIdx >= 0) {
            // materialized value wins; NULL inherits the file's range
            val rid =
              if (ridCol >= 0 && !row.isNullAt(ridCol)) row.getLong(ridCol)
              else if (part.firstRowId > 0) part.firstRowId + pos
              else -1L
            metaRow.update(rowIdIdx, if (rid >= 0) rid else null)
          }
          if (seqIdx >= 0 && needLineageCols) {
            val rseq =
              if (rseqCol >= 0 && !row.isNullAt(rseqCol)) row.getLong(rseqCol)
              else if (part.addedSeq > 0) part.addedSeq
              else -1L
            metaRow.update(seqIdx, if (rseq >= 0) rseq else null)
          }
          current = toUnsafe(joined(row, metaRow))
          return true
        }
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (reader != null) reader.close()
}
