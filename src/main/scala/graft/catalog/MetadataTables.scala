package graft.catalog

import java.util

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Iceberg-style metadata tables: `SELECT * FROM lake.ns.t$snapshots`
  * (also `$files`, `$manifests`) — the table's own metadata surfaced as
  * SQL-queryable relations. Driver-side only: the rows come from the
  * metadata document + manifest summaries, no data file is opened.
  */
object MetadataTables {

  def forSuffix(display: String, meta: TableMeta, suffix: String): Option[Table] = suffix match {
    case "snapshots" => Some(snapshots(display, meta))
    case "files" => Some(files(display, meta))
    case "manifests" => Some(manifests(display, meta))
    case "deletes" => Some(deletes(display, meta))
    case "partitions" => Some(partitions(display, meta))
    case "refs" => Some(refs(display, meta))
    case "history" => Some(history(display, meta))
    case "specs" => Some(specs(display, meta))
    case _ => None
  }

  /** Partition-spec history (Iceberg's `partitions`-spec metadata shape):
    * one row per spec ever set on the table, with the current one flagged
    * — the operational view of partition EVOLUTION (which transform keys
    * files may carry; see TableMeta.allPartitionFields for how pruning
    * uses the union).
    */
  private def specs(display: String, meta: TableMeta): Table = {
    val schema = StructType(Seq(
      StructField("spec_id", IntegerType, nullable = false),
      StructField("spec", StringType, nullable = false),
      StructField("is_current", BooleanType, nullable = false)))
    val rows = meta.specTable.toSeq
      .map { case (id, cols) => (id.toInt, cols.mkString(", ")) }
      .sortBy(_._1)
      .map { case (id, spec) => Row(id, spec, id == meta.specIdNow) }
    RowsTable(display, schema, rows)
  }

  /** Snapshot lineage (Iceberg's `history` table shape): every snapshot
    * with its parent and whether it is an ancestor of the CURRENT pointer —
    * i.e. whether time travel to it reads a state the current table
    * lineage ever contained (branch/staged/abandoned snapshots show false).
    */
  private def history(display: String, meta: TableMeta): Table = {
    val schema = StructType(Seq(
      StructField("committed_at", TimestampType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false),
      StructField("parent_id", LongType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("is_current_ancestor", BooleanType, nullable = false)))
    val ancestors = {
      val b = Set.newBuilder[Long]
      var cursor = meta.currentSnapshotId
      var guard = meta.snapshots.size + 1
      while (cursor > 0 && guard > 0) {
        b += cursor
        cursor = meta.snapshot(cursor).map(_.parentId).getOrElse(0L)
        guard -= 1
      }
      b.result()
    }
    val rows = meta.snapshots.sortBy(_.snapshotId).map(s => Row(
      new java.sql.Timestamp(s.timestampMs), s.snapshotId, s.parentId,
      s.operation, ancestors.contains(s.snapshotId)))
    RowsTable(display, schema, rows)
  }

  /** Named refs (Iceberg's `refs` metadata table): the main pointer, every
    * tag and every branch, with the summary of the snapshot each points at.
    */
  private def refs(display: String, meta: TableMeta): Table = {
    val schema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("type", StringType, nullable = false), // "branch" | "tag"
      StructField("snapshot_id", LongType, nullable = false),
      StructField("committed_at", TimestampType),
      StructField("n_rows", LongType)))
    def rowOf(name: String, kind: String, id: Long): Row = {
      val s = meta.snapshot(id)
      Row(name, kind, id,
        s.map(x => new java.sql.Timestamp(x.timestampMs)).orNull,
        s.map(x => java.lang.Long.valueOf(x.nRows)).orNull)
    }
    val main =
      if (meta.currentSnapshotId < 0) Nil
      else Seq(rowOf("main", "branch", meta.currentSnapshotId))
    val named = meta.properties.toSeq.collect {
      case (k, v) if k.startsWith("tag.") => rowOf(k.stripPrefix("tag."), "tag", v.toLong)
      case (k, v) if k.startsWith("branch.") =>
        rowOf(k.stripPrefix("branch."), "branch", v.toLong)
    }.sortBy(r => (r.getString(1), r.getString(0)))
    RowsTable(display, schema, main ++ named)
  }

  private def snapshots(display: String, meta: TableMeta): Table = {
    val schema = StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("committed_at", TimestampType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("is_current", BooleanType, nullable = false),
      StructField("manifest_list", StringType)))
    val rows = meta.snapshots.map(s => Row(
      s.snapshotId, new java.sql.Timestamp(s.timestampMs), s.operation,
      s.nFiles, s.nRows, s.nBytes,
      s.snapshotId == meta.currentSnapshotId, s.listLocation.orNull))
    RowsTable(display, schema, rows)
  }

  private def files(display: String, meta: TableMeta): Table = {
    val schema = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("row_count", LongType, nullable = false),
      StructField("size_bytes", LongType, nullable = false),
      StructField("min_values", MapType(StringType, StringType)),
      StructField("max_values", MapType(StringType, StringType)),
      StructField("sorted_by", ArrayType(StringType), nullable = false),
      // row lineage: the file's reserved id range starts here (null =
      // pre-lineage file); lineage_cols marks materialized _rid/_rseq
      StructField("first_row_id", LongType),
      StructField("lineage_cols", BooleanType, nullable = false)))
    // stats re-keyed to logical column names, same as the pruning boundary
    val rows = meta.logicalStatFiles(meta.currentFiles).map(f =>
      Row(f.path, f.rowCount, f.sizeBytes, f.minValues, f.maxValues, f.sortCols,
        if (f.firstRowId > 0) f.firstRowId else null, f.lineageCols))
    RowsTable(display, schema, rows)
  }

  private def manifests(display: String, meta: TableMeta): Table = {
    val schema = StructType(Seq(
      StructField("location", StringType, nullable = false),
      StructField("content", StringType, nullable = false),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      // the folded per-manifest column bounds scan planning skips with
      // (TableMeta.filesMatching) — surfaced under LOGICAL column names so
      // an operator can see WHY a manifest is (or isn't) skippable for a
      // given predicate; empty maps = legacy manifest, never skipped
      StructField("summary_mins", MapType(StringType, StringType), nullable = false),
      StructField("summary_maxs", MapType(StringType, StringType), nullable = false),
      StructField("summary_null_counts", MapType(StringType, LongType), nullable = false)))
    // the FULL remap (plain columns, transform stat keys, shredded variant
    // keys) — the same one scan planning applies, so this view shows
    // exactly the keys a pushed predicate is matched against; batched so
    // the remap table builds once, not once per manifest row
    val ms = meta.snapshot(meta.currentSnapshotId).map(meta.manifestsOf).getOrElse(Nil)
    val rows = ms.zip(meta.summaryEntries(ms)).map { case (m, pseudo) =>
      Row(m.location, m.kind, m.nFiles, m.nRows, m.nBytes,
        pseudo.minValues, pseudo.maxValues, pseudo.nullCounts)
    }
    RowsTable(display, schema, rows)
  }

  /** Per-partition-value file/row/byte counts (`t$partitions`), derived
    * from the clustered writers' per-file stats — the skew/size view an
    * operator reads before deciding to compact or re-bucket. Files not
    * cleanly single-valued on the spec (pre-evolution generations) group
    * under a null partition value.
    */
  private def partitions(display: String, meta: TableMeta): Table = {
    val schema = StructType(Seq(
      StructField("partition", StringType),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_bytes", LongType, nullable = false)))
    val pfields = meta.partitionFields
    def keyOf(f: DataFileMeta): Option[String] =
      if (pfields.isEmpty) None
      else {
        val parts = pfields.map { pf =>
          (f.minValues.get(pf.statKey), f.maxValues.get(pf.statKey)) match {
            case (Some(lo), Some(hi)) if lo == hi => Some(s"${pf.spec}=$lo")
            case _ => None
          }
        }
        if (parts.forall(_.isDefined)) Some(parts.flatten.mkString("/")) else None
      }
    val rows = meta.logicalStatFiles(meta.currentFiles)
      .groupBy(keyOf)
      .toSeq.sortBy(_._1.getOrElse(""))
      .map { case (k, fs) =>
        Row(k.orNull, fs.size.toLong, fs.map(_.rowCount).sum, fs.map(_.sizeBytes).sum)
      }
    RowsTable(display, schema, rows)
  }

  /** Pending merge-on-read delete files: one row per tombstone file with
    * its target-file range (`t$deletes` — the observability hook for "how
    * much read amplification is compaction currently saving me from").
    */
  private def deletes(display: String, meta: TableMeta): Table = {
    val schema = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("n_tombstones", LongType, nullable = false),
      StructField("size_bytes", LongType, nullable = false),
      StructField("min_target_file", StringType),
      StructField("max_target_file", StringType)))
    val rows = meta.currentDeleteFiles.map(f =>
      Row(f.path, f.rowCount, f.sizeBytes,
        f.minValues.get(DeleteFiles.FilePathCol).orNull,
        f.maxValues.get(DeleteFiles.FilePathCol).orNull))
    RowsTable(display, schema, rows)
  }
}

/** A tiny read-only DSv2 table over driver-materialized rows. */
final case class RowsTable(tableName: String, rowSchema: StructType, rows: Seq[Row])
  extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = rowSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = rowSchema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(RowsPartition(rows, rowSchema.json))
      override def createReaderFactory(): PartitionReaderFactory = RowsReaderFactory
    }
}

final case class RowsPartition(rows: Seq[Row], schemaJson: String) extends InputPartition

object RowsReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[RowsPartition]
    val schema = DataType.fromJson(part.schemaJson).asInstanceOf[StructType]
    val convert = CatalystTypeConverters.createToCatalystConverter(schema)
    val it = part.rows.iterator
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = convert(it.next()).asInstanceOf[InternalRow]; true }
        else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
