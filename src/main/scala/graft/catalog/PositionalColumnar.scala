package graft.catalog

import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** The types a vectorized merge-on-read scan can compact
  * ([[MorColumnarReader]]). Spark requires every partition of one scan to
  * agree on columnar support, so a scan with dirty files stays vectorized
  * only when every requested column is of a type listed here — flat
  * primitives/decimals and (since r10) nested arrays/structs/maps of them,
  * copied by the recursive append-based [[appendValue]], so an embeddings
  * table (array<float>) carrying MoR tombstones reads vectorized too.
  */
object ColumnarSupport {
  /** Types the columnar merge-on-read path can pass through AND compact. */
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

/** Columnar merge-on-read: the batches of Spark's vectorized parquet
  * reader, masked at batch granularity. A batch none of whose rows the mask
  * drops passes through untouched — zero copies, the common case when
  * deletes are sparse — with the requested metadata columns appended: a
  * constant `_file` vector, the row-index vector as `_pos`, and lineage
  * vectors refilled per batch (materialized value wins, NULL inherits, as
  * in [[MorRowReader]]). A batch that loses rows compacts its survivors
  * into fresh on-heap vectors ([[ColumnarSupport.appendValue]]).
  */
final class MorColumnarReader(
    inner: PartitionReader[ColumnarBatch],
    part: MorInputPartition,
    layout: MorLayout,
    mask: MorMask)
  extends PartitionReader[ColumnarBatch] {

  private val out = layout.out
  private val rowIndex = layout.rowIndex
  private val Capacity = 4096
  private val file: ConstantColumnVector =
    if (layout.metaCols.contains(LakeMetaCols.File)) {
      val v = new ConstantColumnVector(Capacity, StringType)
      v.setUtf8String(UTF8String.fromString(part.dataPath))
      v
    } else null
  private def longs(name: String): OnHeapColumnVector =
    if (layout.metaCols.contains(name)) new OnHeapColumnVector(Capacity, LongType) else null
  private val rowIds = longs(LakeMetaCols.RowId)
  private val seqs = longs(LakeMetaCols.LastSeq)

  private var passthrough = 0L
  private var compacted = 0L
  private var current: ColumnarBatch = _
  private var copied: ColumnarBatch = _ // last compacted batch (we own it)

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    mask.metrics ++ Array(LakeScanMetrics.Value("batchesPassthrough", passthrough),
      LakeScanMetrics.Value("batchesCompacted", compacted))

  /** `dst` refilled for the batch's `n` rows: the materialized lineage value
    * in column `col` where there is one, else `inherited(pos)`, NULL where
    * that is negative.
    */
  private def lineage(dst: OnHeapColumnVector, batch: ColumnarBatch, n: Int, col: Int,
      inherited: Long => Long): ColumnVector = {
    dst.reset()
    dst.reserve(n)
    val src = if (col >= 0) batch.column(col) else null
    val pos = batch.column(rowIndex)
    var i = 0
    while (i < n) {
      if (src != null && !src.isNullAt(i)) dst.putLong(i, src.getLong(i))
      else {
        val v = inherited(pos.getLong(i))
        if (v >= 0) dst.putLong(i, v) else dst.putNull(i)
      }
      i += 1
    }
    dst
  }

  private def metaVector(batch: ColumnarBatch, n: Int, name: String): ColumnVector = name match {
    case LakeMetaCols.File => file
    case LakeMetaCols.Pos => batch.column(rowIndex)
    case LakeMetaCols.RowId => lineage(rowIds, batch, n, layout.rid, mask.inheritedRowId)
    case LakeMetaCols.LastSeq => lineage(seqs, batch, n, layout.rseq, _ => mask.inheritedSeq)
  }

  /** The indices of the rows the mask keeps, or null when it keeps all. Row
    * indexes ascend within a split, so a batch holds a tombstone only if
    * the first one at or after its first row falls at or before its last.
    */
  private def survivors(batch: ColumnarBatch, n: Int): Array[Int] = {
    if (mask.clean || n == 0) return null
    val pos = if (rowIndex >= 0) batch.column(rowIndex) else null
    val tombstoned = pos != null && mask.nextTombstone(pos.getLong(0)) <= pos.getLong(n - 1)
    if (!tombstoned && !mask.hasKeys) return null
    val live = new Array[Int](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (mask.keeps(batch.getRow(i), if (pos == null) -1L else pos.getLong(i))) {
        live(m) = i
        m += 1
      }
      i += 1
    }
    if (m == n) null else java.util.Arrays.copyOf(live, m)
  }

  private def compact(full: ColumnarBatch, live: Array[Int]): ColumnarBatch = {
    val vs = OnHeapColumnVector.allocateColumns(live.length, out)
    // row-major APPEND copy (handles nested types; flat columns hit the
    // primitive append fast paths)
    var j = 0
    while (j < live.length) {
      val row = full.getRow(live(j))
      var c = 0
      while (c < out.length) {
        ColumnarSupport.appendValue(vs(c), out.fields(c).dataType, row, c)
        c += 1
      }
      j += 1
    }
    copied = new ColumnarBatch(vs.toArray[ColumnVector], live.length)
    copied
  }

  private def closeCopied(): Unit =
    if (copied != null) { copied.close(); copied = null }

  override def next(): Boolean = {
    closeCopied()
    while (inner.next()) {
      val batch = inner.get()
      val n = batch.numRows()
      val full = new ColumnarBatch(Array.tabulate[ColumnVector](layout.outLen)(batch.column) ++
        layout.metaCols.map(metaVector(batch, n, _)), n)
      val live = survivors(batch, n)
      if (live == null) {
        passthrough += 1
        current = full
        return true
      }
      compacted += 1
      if (live.nonEmpty) {
        current = compact(full, live)
        return true
      }
      // every row deleted: read on
    }
    false
  }

  override def get(): ColumnarBatch = current

  override def close(): Unit = {
    closeCopied()
    inner.close()
    Seq(file, rowIds, seqs).foreach(v => if (v != null) v.close())
  }
}
