package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expression => VExpression, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.LocalScan
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Metadata-only aggregate pushdown (DSv2 `SupportsPushDownAggregates`).
  *
  * `SELECT count(*) / count(c) / min(c) / max(c) FROM t` is answered from
  * the manifest entries' exact per-file row counts, null counts and min/max
  * values — ZERO data files are opened. On a 100 TB table this turns a
  * full scan into a read of metadata the planner already holds; the plan
  * collapses to a `LocalTableScan` of one precomputed row (same approach as
  * Apache Iceberg's Spark aggregate pushdown).
  *
  * GROUP BY pushes too when every grouped column is single-valued per
  * file — true by construction for identity partition columns (the writer
  * rolls files on every partition-value change), so per-partition
  * count/min/max roll-ups are also metadata reads.
  *
  * Pushdown is refused — Spark then runs the ordinary scan-and-aggregate
  * plan, so refusal is always safe — unless EVERY aggregate is provable
  * from stats:
  *   - no residual filters (Spark only attempts pushdown for filterless
  *     aggregates, but we re-check),
  *   - no positional or equality delete files in the scanned snapshot
  *     (tombstoned rows would make file stats over-count),
  *   - count(c): every live file carries a null count for `c`,
  *   - min/max(c): a supported scalar type, and every live file either
  *     carries min/max for `c` or provably holds only NULLs in `c`
  *     (nullCount == rowCount; writer stats skip all-null columns).
  *
  * Numeric/temporal writer stats are exact, so the pushed answer is exact,
  * not approximate. STRING bounds are truncated prefixes since
  * [[StatBounds]] — string min/max therefore never pushes down (the widened
  * bound is not a value that exists in the table); string GROUP BY still
  * qualifies because truncation can never fabricate the min == max
  * single-valued proof it requires.
  */
object StatsAggregates {

  /** The aggregate output: the schema Spark expects from the scan
    * (GROUP BY columns first, then one field per aggregate expression —
    * complete pushdown) and the result rows (exactly one for a global
    * aggregation, one per group otherwise).
    */
  final case class Pushed(schema: StructType, rows: Seq[InternalRow])

  def compute(agg: Aggregation, tableSchema: StructType,
      files: Seq[DataFileMeta]): Option[Pushed] = {
    // GROUP BY pushes when every grouped column is SINGLE-VALUED per file
    // (min == max with zero nulls, or all-null). Identity-partitioned
    // writes roll to a new file on every partition-value change, so
    // grouping by a partition column always qualifies — `SELECT dt,
    // count(*) FROM t GROUP BY dt` on a 100 TB table is a metadata read.
    // A file that mixes values (e.g. written before a partition-spec
    // change) makes the whole pushdown refuse — correct, just not cheap.
    val groupFields = agg.groupByExpressions.toSeq.map(fieldOf(_, tableSchema))
    if (groupFields.exists(_.isEmpty)) return None
    val gfs = groupFields.map(_.get)

    val grouped: Seq[(Seq[Any], Seq[DataFileMeta])] =
      if (gfs.isEmpty) Seq((Nil, files))
      else {
        val keyed = files.map { f =>
          val key = gfs.map(gf => singleValue(f, gf))
          if (key.exists(_.isEmpty)) return None // not single-valued: refuse
          (key.map(_.get.orNull), f)
        }
        // group by the DECODED values; UTF8String/Decimal/boxed primitives
        // all have value equality, so this matches SQL group semantics
        keyed.groupBy(_._1).map { case (k, fs) => (k, fs.map(_._2)) }.toSeq
      }

    // resolve each aggregate once; evaluate per group
    type AggEval = Seq[DataFileMeta] => Option[Any]
    val aggCols: Seq[Option[(String, DataType, Boolean, AggEval)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          Some(("count(*)", LongType: DataType, false,
            ((fs: Seq[DataFileMeta]) =>
              Some(java.lang.Long.valueOf(fs.map(_.rowCount).sum): Any)): AggEval))
        case c: Count if !c.isDistinct =>
          fieldOf(c.column, tableSchema).map { f =>
            (s"count(${f.name})", LongType: DataType, false,
              ((fs: Seq[DataFileMeta]) =>
                countNonNull(f.name, fs).map(java.lang.Long.valueOf(_): Any)): AggEval)
          }
        // STRING min/max never pushes: manifest string bounds are WIDENED
        // prefixes ([[StatBounds]]) — serving them as answers would return
        // values that do not exist in the table. (GROUP BY on strings stays
        // fine: truncation can never fabricate the min == max it requires.)
        case m: Min =>
          fieldOf(m.column, tableSchema).filter(_.dataType != StringType).map { f =>
            (s"min(${f.name})", f.dataType, true,
              ((fs: Seq[DataFileMeta]) =>
                minMax(f, fs, wantMin = true).map(_.orNull: Any)): AggEval)
          }
        case m: Max =>
          fieldOf(m.column, tableSchema).filter(_.dataType != StringType).map { f =>
            (s"max(${f.name})", f.dataType, true,
              ((fs: Seq[DataFileMeta]) =>
                minMax(f, fs, wantMin = false).map(_.orNull: Any)): AggEval)
          }
        case _ => None // sum/avg/distinct/UDAF: not provable from stats
      }
    if (aggCols.exists(_.isEmpty)) return None
    val resolved = aggCols.map(_.get)

    val schema = StructType(
      gfs.map(gf => StructField(gf.name, gf.dataType, gf.nullable)) ++
        resolved.map { case (n, dt, nullable, _) => StructField(n, dt, nullable) })
    val rows = grouped.map { case (key, fs) =>
      val aggVals = resolved.map { case (_, _, _, eval) => eval(fs) }
      if (aggVals.exists(_.isEmpty)) return None // stats gap in this group
      new GenericInternalRow((key ++ aggVals.map(_.get)).toArray): InternalRow
    }
    Some(Pushed(schema, rows))
  }

  /** The file's single value for `field`: `Some(Some(v))` when the whole
    * file provably holds exactly `v` (min == max, zero nulls),
    * `Some(None)` when provably all-NULL, `None` when mixed/unknown.
    */
  private def singleValue(f: DataFileMeta, field: StructField): Option[Option[Any]] = {
    // float/double group keys: SQL grouping normalizes -0.0 == 0.0 but
    // boxed equality does not — refuse rather than risk a split group
    if (field.dataType == DoubleType || field.dataType == FloatType) return None
    val nulls = f.nulls.get(field.name)
    if (nulls.contains(f.rowCount)) return Some(None)
    if (!nulls.contains(0L)) return None // some nulls alongside values: two groups
    (f.minValues.get(field.name), f.maxValues.get(field.name)) match {
      case (Some(mn), Some(mx)) if mn == mx => decode(field.dataType, mn).map(Some(_))
      case _ => None
    }
  }

  /** Resolve a pushed column reference to a TOP-LEVEL schema field. */
  private def fieldOf(e: VExpression, schema: StructType): Option[StructField] = e match {
    case ref: NamedReference if ref.fieldNames.length == 1 =>
      val n = ref.fieldNames()(0)
      schema.fields.find(_.name == n)
        .orElse(schema.fields.find(_.name.equalsIgnoreCase(n)))
    case _ => None
  }

  /** Σ (rowCount − nullCount) — None if any file lacks a null count. */
  private def countNonNull(col: String, files: Seq[DataFileMeta]): Option[Long] =
    files.foldLeft(Option(0L)) { (acc, f) =>
      for (a <- acc; n <- f.nulls.get(col)) yield a + (f.rowCount - n)
    }

  /** Fold min/max stats across files. `Some(None)` = provably all-NULL
    * (a valid answer: the aggregate is NULL); `None` = not provable.
    */
  private def minMax(field: StructField, files: Seq[DataFileMeta],
      wantMin: Boolean): Option[Option[Any]] = {
    var best: Any = null
    files.foreach { f =>
      f.minValues.get(field.name).filter(_ => f.maxValues.contains(field.name)) match {
        case Some(_) =>
          val raw = if (wantMin) f.minValues(field.name) else f.maxValues(field.name)
          decode(field.dataType, raw) match {
            case Some(v) =>
              if (best == null) best = v
              else {
                val c = v.asInstanceOf[Comparable[Any]].compareTo(best)
                if ((wantMin && c < 0) || (!wantMin && c > 0)) best = v
              }
            case None => return None // undecodable / unsupported type
          }
        case None =>
          // no stat for this column: fine only if the file is all-NULL here
          if (!f.nulls.get(field.name).contains(f.rowCount)) return None
      }
    }
    Some(Option(best))
  }

  /** Parse a writer stat string back to the Catalyst internal value. The
    * encodings mirror [[LakeDataWriter.scalarAt]] (DateType stats are the
    * epoch-day int, timestamps the micros long, decimals the plain string);
    * comparison semantics match the writer's `Comparable` use — including
    * UTF8String binary order for strings and java.lang.{Float,Double}
    * ordering (NaN greatest) for floats, which is also Spark's SQL ordering.
    */
  private def decode(dt: DataType, s: String): Option[Any] = try {
    dt match {
      case IntegerType | DateType => Some(java.lang.Integer.valueOf(s.toInt))
      case LongType | TimestampType | TimestampNTZType =>
        Some(java.lang.Long.valueOf(s.toLong))
      case ShortType => Some(java.lang.Short.valueOf(s.toShort))
      case FloatType => Some(java.lang.Float.valueOf(s.toFloat))
      case DoubleType => Some(java.lang.Double.valueOf(s.toDouble))
      case BooleanType => Some(java.lang.Boolean.valueOf(s.toBoolean))
      case StringType => Some(UTF8String.fromString(s))
      case d: DecimalType =>
        val dec = Decimal(new java.math.BigDecimal(s))
        if (dec.changePrecision(d.precision, d.scale)) Some(dec) else None
      case _ => None
    }
  } catch { case _: NumberFormatException => None }
}

/** The scan produced when an aggregation was pushed: precomputed rows,
  * planned by Spark as a driver-local `LocalTableScanExec` — no tasks, no
  * file IO.
  */
final case class LakeStatsScan(ident: String, pushed: StatsAggregates.Pushed)
  extends LocalScan {
  override def readSchema(): StructType = pushed.schema
  override def rows(): Array[InternalRow] = pushed.rows.toArray
  override def description(): String =
    s"$ident metadata-only aggregate ${pushed.schema.fieldNames.mkString(", ")}"
}
