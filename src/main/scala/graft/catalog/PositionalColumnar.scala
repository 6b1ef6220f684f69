package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
// the OLD mapred FileSplit: Spark's SpecificParquetRecordReaderBase casts
// to it (it extends the mapreduce one, so it satisfies both signatures)
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** VECTORIZED merge-on-read: the columnar twin of [[PositionalRowReader]].
  *
  * Spark requires every partition of one scan to agree on columnar
  * support, so before this reader existed ONE tombstoned file knocked the
  * whole scan — including its clean files — off the vectorized path. Now
  * a dirty file reads through Spark's own [[VectorizedParquetRecordReader]]
  * (the exact decoder clean parquet scans use) over the same footer-exact
  * [[GroupRun]] ranges as the row reader, and tombstones apply at BATCH
  * granularity: a batch whose position range contains no tombstone (and
  * no equality-delete key hit) passes through untouched — zero copies, the
  * common case when deletes are sparse — while a dirty batch compacts its
  * survivors into fresh on-heap vectors. `_file`/`_pos` metadata columns
  * ride as a constant vector and a refilled position vector. Eligibility
  * is decided at planning ([[ColumnarSupport.ok]]): any schema of
  * supported types — flat primitives/decimals AND (since r10) nested
  * arrays/structs/maps of them, compacted by the recursive append-based
  * [[ColumnarSupport.appendValue]] copy, so an embeddings table
  * (array<float>) carrying MoR tombstones reads vectorized too.
  */
object ColumnarSupport {
  /** Types the columnar positional path can pass through AND compact. */
  def flat(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType | TimestampNTZType |
         StringType | BinaryType => true
    case _: DecimalType => true
    case _ => false
  }
  /** r10: NESTED types compact too (arrays/structs/maps of supported
    * types, recursively) via the append-based [[appendValue]] copy — an
    * embeddings table (array<float>) taking MoR deletes no longer pays
    * the row-reader tax. Pass-through batches were always type-agnostic;
    * this extends the COMPACTION side.
    */
  def supported(dt: DataType): Boolean = dt match {
    case ArrayType(et, _) => supported(et)
    case st: StructType => st.fields.forall(f => supported(f.dataType))
    case MapType(k, v, _) => supported(k) && supported(v)
    case other => flat(other)
  }
  def ok(schema: StructType): Boolean = schema.fields.forall(f => supported(f.dataType))

  /** APPEND one value (possibly nested) from a batch row / array / map
    * entry into a writable vector. Append-based (not put-based) so nested
    * children grow their offset bookkeeping correctly; callers append
    * rows strictly in order. A null STRUCT must go through
    * appendStruct(true) — a bare appendNull would leave the children one
    * slot short and misalign every later row.
    */
  def appendValue(dst: WritableColumnVector, dt: DataType,
      src: org.apache.spark.sql.catalyst.expressions.SpecializedGetters, ord: Int): Unit =
    if (src.isNullAt(ord)) dt match {
      case _: StructType => dst.appendStruct(true)
      case _ => dst.appendNull(); ()
    }
    else dt match {
      case BooleanType => dst.appendBoolean(src.getBoolean(ord))
      case ByteType => dst.appendByte(src.getByte(ord))
      case ShortType => dst.appendShort(src.getShort(ord))
      case IntegerType | DateType => dst.appendInt(src.getInt(ord))
      case LongType | TimestampType | TimestampNTZType => dst.appendLong(src.getLong(ord))
      case FloatType => dst.appendFloat(src.getFloat(ord))
      case DoubleType => dst.appendDouble(src.getDouble(ord))
      case StringType =>
        val b = src.getUTF8String(ord).getBytes
        dst.appendByteArray(b, 0, b.length)
      case BinaryType =>
        val b = src.getBinary(ord)
        dst.appendByteArray(b, 0, b.length)
      case dec: DecimalType =>
        val d = src.getDecimal(ord, dec.precision, dec.scale)
        if (dec.precision <= org.apache.spark.sql.types.Decimal.MAX_INT_DIGITS)
          dst.appendInt(d.toUnscaledLong.toInt)
        else if (dec.precision <= org.apache.spark.sql.types.Decimal.MAX_LONG_DIGITS)
          dst.appendLong(d.toUnscaledLong)
        else {
          val b = d.toJavaBigDecimal.unscaledValue().toByteArray
          dst.appendByteArray(b, 0, b.length)
        }
      case at: ArrayType =>
        val arr = src.getArray(ord)
        val n = arr.numElements()
        dst.appendArray(n)
        val child = dst.arrayData()
        var k = 0
        while (k < n) { appendValue(child, at.elementType, arr, k); k += 1 }
      case st: StructType =>
        dst.appendStruct(false)
        val row = src.getStruct(ord, st.length)
        var k = 0
        while (k < st.length) {
          appendValue(dst.getChild(k).asInstanceOf[WritableColumnVector],
            st.fields(k).dataType, row, k)
          k += 1
        }
      case mt: MapType =>
        val m = src.getMap(ord)
        val n = m.numElements()
        dst.appendArray(n)
        val keys = m.keyArray()
        val vals = m.valueArray()
        val kv = dst.getChild(0).asInstanceOf[WritableColumnVector]
        val vv = dst.getChild(1).asInstanceOf[WritableColumnVector]
        var k = 0
        while (k < n) {
          appendValue(kv, mt.keyType, keys, k)
          appendValue(vv, mt.valueType, vals, k)
          k += 1
        }
      case other => throw new IllegalStateException(s"unsupported columnar copy: $other")
    }

}

final class PositionalColumnarReader(
    part: PositionalInputPartition,
    conf: Configuration,
    eqKeys: java.util.HashSet[UnsafeRow])
  extends PartitionReader[ColumnarBatch] {

  private val outSchema =
    DataType.fromJson(part.physDataSchemaJson).asInstanceOf[StructType]
  private val keySchema: StructType =
    if (part.eqDeletePaths.isEmpty) new StructType()
    else DataType.fromJson(part.eqKeySchemaJson).asInstanceOf[StructType]
  // lineage-requesting reads of a MATERIALIZED file also read the
  // _graft_rid/_graft_rseq columns, exactly like the row reader: the
  // file's value wins, NULL inherits the file's range/sequence
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
  private var passthrough = 0L
  private var compacted = 0L

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(LakeScanMetrics.Value("tombstonedRows", tombstonedRows),
      LakeScanMetrics.Value("eqDeletedRows", eqDeletedRows),
      LakeScanMetrics.Value("rowGroupsPruned", prunedGroups),
      LakeScanMetrics.Value("batchesPassthrough", passthrough),
      LakeScanMetrics.Value("batchesCompacted", compacted))

  private val rowKeyProj =
    if (eqKeys == null || eqKeys.isEmpty) null
    else UnsafeProjection.create(keySchema.fields.map { f =>
      val i = readSchema.fieldIndex(f.name)
      BoundReference(i, f.dataType, f.nullable): org.apache.spark.sql.catalyst.expressions.Expression
    })

  private val Capacity = 4096
  // appended metadata vectors: constant _file; _pos refilled per batch
  private val fileVector: ConstantColumnVector =
    if (part.metaCols.contains(LakeMetaCols.File)) {
      val v = new ConstantColumnVector(Capacity, StringType)
      v.setUtf8String(UTF8String.fromString(part.dataPath))
      v
    } else null
  private val posVector: OnHeapColumnVector =
    if (part.metaCols.contains(LakeMetaCols.Pos))
      new OnHeapColumnVector(Capacity, LongType)
    else null
  // row lineage: COMPUTED (`firstRowId + pos`, per-file-constant sequence)
  // unless the file carries MATERIALIZED lineage columns, in which case the
  // file's value wins per row and NULL inherits the computed one — the
  // same contract as the row reader, refilled into long vectors per batch
  private val rowIdVector: OnHeapColumnVector =
    if (part.metaCols.contains(LakeMetaCols.RowId))
      new OnHeapColumnVector(Capacity, LongType)
    else null
  private val seqVector: ConstantColumnVector =
    if (part.metaCols.contains(LakeMetaCols.LastSeq) && !needLineageCols) {
      val v = new ConstantColumnVector(Capacity, LongType)
      if (part.addedSeq > 0) v.setLong(part.addedSeq) else v.setNull()
      v
    } else null
  private val seqVarVector: OnHeapColumnVector =
    if (part.metaCols.contains(LakeMetaCols.LastSeq) && needLineageCols)
      new OnHeapColumnVector(Capacity, LongType)
    else null
  private def metaVectorOf(name: String): ColumnVector = name match {
    case LakeMetaCols.File => fileVector
    case LakeMetaCols.Pos => posVector
    case LakeMetaCols.RowId => rowIdVector
    case LakeMetaCols.LastSeq => if (seqVarVector != null) seqVarVector else seqVector
  }
  /** Refill lineage vectors for rows at positions startPos..startPos+n-1
    * of a pass-through batch (file-sourced value wins, NULL inherits).
    */
  private def fillLineage(batch: ColumnarBatch, startPos: Long, n: Int): Unit = {
    if (rowIdVector != null) {
      rowIdVector.reset()
      val src = if (ridCol >= 0) batch.column(ridCol) else null
      var i = 0
      while (i < n) {
        if (src != null && !src.isNullAt(i)) rowIdVector.putLong(i, src.getLong(i))
        else if (part.firstRowId > 0) rowIdVector.putLong(i, part.firstRowId + startPos + i)
        else rowIdVector.putNull(i)
        i += 1
      }
    }
    if (seqVarVector != null) {
      seqVarVector.reset()
      val src = batch.column(rseqCol)
      var i = 0
      while (i < n) {
        if (!src.isNullAt(i)) seqVarVector.putLong(i, src.getLong(i))
        else if (part.addedSeq > 0) seqVarVector.putLong(i, part.addedSeq)
        else seqVarVector.putNull(i)
        i += 1
      }
    }
  }

  private var runIdx = -1
  private var reader: VectorizedParquetRecordReader = _
  private var runRowsSeen = 0L
  private var delIdx = 0
  private var current: ColumnarBatch = _
  private var copied: ColumnarBatch = _ // last compacted batch (we own it)

  private def advanceRun(): Boolean = {
    runIdx += 1
    if (runIdx >= runs.length) return false
    val r = runs(runIdx)
    val c = PositionalParquet.readerConf(readSchema, conf)
    // the vectorized base reader resolves its ReadSupport from the conf
    // (ParquetFileFormat does the same for normal scans)
    c.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport].getName)
    val split = new FileSplit(new Path(part.dataPath),
      r.byteStart, r.byteEnd - r.byteStart, Array.empty[String])
    val ctx = new TaskAttemptContextImpl(c,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    // same rebase stance as the row path: our writer stamps CORRECTED
    val vr = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, Capacity)
    vr.initialize(split, ctx)
    vr.initBatch(new StructType(), InternalRow.empty)
    vr.enableReturningBatches()
    reader = vr
    runRowsSeen = 0L
    true
  }

  private def closeCopied(): Unit =
    if (copied != null) { copied.close(); copied = null }

  override def next(): Boolean = {
    closeCopied()
    while (true) {
      if (reader == null && !advanceRun()) return false
      if (!reader.nextKeyValue()) {
        // self-verifying, like the row path: a range/row-count mismatch
        // must fail loudly, never ship silently shifted positions
        if (runRowsSeen != runs(runIdx).rows) throw new IllegalStateException(
          s"columnar run [${runs(runIdx).byteStart},${runs(runIdx).byteEnd}) of " +
            s"${part.dataPath} read $runRowsSeen rows, footer says ${runs(runIdx).rows}")
        reader.close()
        reader = null
      } else {
        val batch = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
        val n = batch.numRows()
        val start = runs(runIdx).startPos + runRowsSeen
        runRowsSeen += n

        // tombstoned positions inside [start, start + n)
        while (delIdx < deleted.length && deleted(delIdx) < start) delIdx += 1
        val delFrom = delIdx
        var delTo = delIdx
        while (delTo < deleted.length && deleted(delTo) < start + n) delTo += 1
        delIdx = delTo

        def eqKilled(i: Int): Boolean =
          rowKeyProj != null && eqKeys.contains(rowKeyProj(batch.getRow(i)))

        val hasEq = rowKeyProj != null
        if (delFrom == delTo && !hasEq) {
          // clean batch: pass through, appending metadata vectors
          if (posVector != null) {
            posVector.reset()
            var i = 0
            while (i < n) { posVector.putLong(i, start + i); i += 1 }
          }
          fillLineage(batch, start, n)
          passthrough += 1
          current = withMeta(dataVectors(batch), n)
          return true
        }
        // dirty batch: compact survivors into fresh on-heap vectors
        val live = new Array[Int](n)
        var m = 0
        var i = 0
        var d = delFrom
        while (i < n) {
          val pos = start + i
          while (d < delTo && deleted(d) < pos) d += 1
          val tomb = d < delTo && deleted(d) == pos
          if (tomb) tombstonedRows += 1
          else if (eqKilled(i)) eqDeletedRows += 1
          else { live(m) = i; m += 1 }
          i += 1
        }
        if (m == n) { // every row survived the eq check after all
          if (posVector != null) {
            posVector.reset()
            var j = 0
            while (j < n) { posVector.putLong(j, start + j); j += 1 }
          }
          fillLineage(batch, start, n)
          passthrough += 1
          current = withMeta(dataVectors(batch), n)
          return true
        }
        if (m > 0) {
          val out = OnHeapColumnVector.allocateColumns(m, outWithMetaSchema)
          // row-major APPEND copy (handles nested types; flat columns hit
          // the same primitive append fast paths the old put copy used)
          var j = 0
          while (j < m) {
            val row = batch.getRow(live(j))
            var c2 = 0
            while (c2 < outSchema.length) {
              ColumnarSupport.appendValue(out(c2), outSchema.fields(c2).dataType, row, c2)
              c2 += 1
            }
            j += 1
          }
          part.metaCols.zipWithIndex.foreach { case (mc, k) =>
            val v = out(outSchema.length + k)
            mc match {
              case LakeMetaCols.File =>
                val b = UTF8String.fromString(part.dataPath).getBytes
                var j = 0
                while (j < m) { v.putByteArray(j, b, 0, b.length); j += 1 }
              case LakeMetaCols.Pos =>
                var j = 0
                while (j < m) { v.putLong(j, start + live(j)); j += 1 }
              case LakeMetaCols.RowId =>
                val src = if (ridCol >= 0) batch.column(ridCol) else null
                var j = 0
                while (j < m) {
                  if (src != null && !src.isNullAt(live(j))) v.putLong(j, src.getLong(live(j)))
                  else if (part.firstRowId > 0) v.putLong(j, part.firstRowId + start + live(j))
                  else v.putNull(j)
                  j += 1
                }
              case LakeMetaCols.LastSeq =>
                val src = if (rseqCol >= 0) batch.column(rseqCol) else null
                var j = 0
                while (j < m) {
                  if (src != null && !src.isNullAt(live(j))) v.putLong(j, src.getLong(live(j)))
                  else if (part.addedSeq > 0) v.putLong(j, part.addedSeq)
                  else v.putNull(j)
                  j += 1
                }
            }
          }
          compacted += 1
          copied = new ColumnarBatch(out.toArray[ColumnVector], m)
          current = copied
          return true
        }
        compacted += 1 // m == 0: every row tombstoned — read on
      }
    }
    false
  }

  private val outWithMetaSchema = StructType(
    outSchema.fields ++ part.metaCols.map(LakeMetaCols.fieldOf))

  // requested data columns = the readSchema prefix (extra eq-key columns
  // are read for the filter but never emitted)
  private def dataVectors(batch: ColumnarBatch): Array[ColumnVector] =
    Array.tabulate(outSchema.length)(batch.column)

  private def withMeta(data: Array[ColumnVector], n: Int): ColumnarBatch =
    if (part.metaCols.isEmpty) new ColumnarBatch(data, n)
    else new ColumnarBatch(data ++ part.metaCols.map(metaVectorOf), n)

  override def get(): ColumnarBatch = current

  override def close(): Unit = {
    closeCopied()
    if (reader != null) reader.close()
    if (posVector != null) posVector.close()
    if (fileVector != null) fileVector.close()
    if (rowIdVector != null) rowIdVector.close()
    if (seqVector != null) seqVector.close()
    if (seqVarVector != null) seqVarVector.close()
  }
}

/** Columnar twin of [[EqFilteredRowReader]]: equality-delete key
  * anti-filter over the delegate's VECTORIZED reader. Clean batches (no
  * key hit) pass through with the extra key columns projected away
  * (vector-subset, zero copy); dirty batches compact survivors.
  */
final class EqFilteredColumnarReader(
    inner: PartitionReader[ColumnarBatch],
    part: EqFilteredInputPartition,
    eqKeys: java.util.HashSet[UnsafeRow])
  extends PartitionReader[ColumnarBatch] {

  private val unionSchema =
    DataType.fromJson(part.unionSchemaJson).asInstanceOf[StructType]
  private val keySchema =
    DataType.fromJson(part.keySchemaJson).asInstanceOf[StructType]
  private val rowKeyProj = UnsafeProjection.create(keySchema.fields.map { f =>
    val i = unionSchema.fieldIndex(f.name)
    BoundReference(i, f.dataType, f.nullable): org.apache.spark.sql.catalyst.expressions.Expression
  })
  private val outSchema = StructType(unionSchema.fields.take(part.outLen))

  private var current: ColumnarBatch = _
  private var copied: ColumnarBatch = _
  private var eqDeletedRows = 0L
  private var passthrough = 0L
  private var compacted = 0L

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(LakeScanMetrics.Value("eqDeletedRows", eqDeletedRows),
      LakeScanMetrics.Value("batchesPassthrough", passthrough),
      LakeScanMetrics.Value("batchesCompacted", compacted))

  private def closeCopied(): Unit =
    if (copied != null) { copied.close(); copied = null }

  override def next(): Boolean = {
    closeCopied()
    while (inner.next()) {
      val batch = inner.get()
      val n = batch.numRows()
      val live = new Array[Int](n)
      var m = 0
      var i = 0
      while (i < n) {
        if (!eqKeys.contains(rowKeyProj(batch.getRow(i)))) { live(m) = i; m += 1 }
        i += 1
      }
      eqDeletedRows += n - m
      if (m == n) {
        passthrough += 1
        current = new ColumnarBatch(
          Array.tabulate[ColumnVector](part.outLen)(batch.column), n)
        return true
      }
      compacted += 1
      if (m > 0) {
        val out = OnHeapColumnVector.allocateColumns(m, outSchema)
        var j = 0
        while (j < m) {
          val row = batch.getRow(live(j))
          var c = 0
          while (c < part.outLen) {
            ColumnarSupport.appendValue(out(c), outSchema.fields(c).dataType, row, c)
            c += 1
          }
          j += 1
        }
        copied = new ColumnarBatch(out.toArray[ColumnVector], m)
        current = copied
        return true
      }
      // m == 0: whole batch key-tombstoned — read on
    }
    false
  }

  override def get(): ColumnarBatch = current
  override def close(): Unit = { closeCopied(); inner.close() }
}
