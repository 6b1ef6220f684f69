package graft.catalog

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Manifest string-bound truncation (Iceberg's `truncate(N)` metrics mode;
  * ref behavior delegated to the engine — the reference stores Iceberg
  * metadata whose spec §Appendix D defines exactly this contract).
  *
  * Without truncation, a file's min/max for a free-text column embeds up to
  * two FULL document bodies per file in the manifest: at 100 TB / 128 MB
  * files that is gigabytes of driver-resident planning metadata for bounds
  * whose first few dozen characters carry all the pruning power. Bounds
  * are therefore WIDENED, never narrowed, to a fixed prefix length:
  *
  *  - lower bound → the first `len` code points (a prefix is ≤ the full
  *    string in UTF-8 byte order, which is code-point order);
  *  - upper bound → the first `len` code points with the LAST one
  *    incremented (skipping the surrogate gap), which is ≥ every string
  *    sharing the prefix; if every prefix code point is already U+10FFFF
  *    there is no finite upper bound → None (consumers treat a missing
  *    bound as unbounded and keep the file — conservative).
  *
  * Every stats consumer orders string bounds through [[compare]] (UTF-8
  * byte order), so widened bounds keep all pruning/attribution SOUND; only precision on
  * >`len`-char values is lost. Identity-partition source columns are
  * exempt at the writer (attribution and SPJ need exact single values),
  * and delete-file writers disable truncation entirely (tombstone
  * `file_path` ranges share long directory prefixes — truncation would
  * make every delete file "cover" every data file).
  */
object StatBounds {
  /** Default prefix length in code points; table property
    * `write.metadata.truncate-length` overrides (0 disables).
    */
  val DefaultLen = 64

  /** Non-finite double/float stat tokens (java `Double.toString` forms).
    * The writer records a file's min/max via `Double.compareTo`, which
    * orders NaN greatest — exactly Spark SQL's NaN semantics — so a file
    * containing NaN legitimately carries max = "NaN" (and an all-NaN file
    * min = "NaN"); ±Infinity are ordinary values with unparseable-for-
    * BigDecimal renderings. Consumers must compare these in Spark's
    * order, never fall back to lexical comparison (which would prune
    * wrongly: "10.0" < "9.0" < "Infinity" < "NaN" lexically is nonsense).
    */
  def isNonFinite(s: String): Boolean =
    s == "NaN" || s == "Infinity" || s == "-Infinity"

  /** Numeric stat comparison honoring non-finite tokens with Spark's
    * ordering (NaN greatest, then +Infinity; -Infinity least — exactly
    * `java.lang.Double.compare`). Finite×finite compares exactly via
    * BigDecimal (no double rounding for wide longs/decimals). None when
    * either side is not numeric at all.
    */
  def numCmp(a: String, b: String): Option[Int] =
    try {
      if (isNonFinite(a) || isNonFinite(b))
        Some(java.lang.Double.compare(a.toDouble, b.toDouble))
      else Some(BigDecimal(a).compare(BigDecimal(b)))
    } catch { case _: NumberFormatException => None }

  /** THE stat order: the sign of `a` vs `b`, two stat strings of a column
    * of type `dt`, as Spark orders the typed values. Numeric, date,
    * timestamp and decimal stats compare through [[numCmp]]; strings in
    * UTF-8 binary order (the order the writer records them in — Java's
    * UTF-16 `compareTo` diverges for supplementary characters); booleans
    * as `false < true`. None = a type without a stat order, or a value
    * that does not parse as the type — every caller then keeps the file.
    */
  def compare(dt: DataType, a: String, b: String): Option[Int] = dt match {
    case _: NumericType | DateType | TimestampType | TimestampNTZType => numCmp(a, b)
    case StringType => Some(UTF8String.fromString(a).compareTo(UTF8String.fromString(b)))
    case BooleanType => for (x <- a.toBooleanOption; y <- b.toBooleanOption)
      yield java.lang.Boolean.compare(x, y)
    case _ => None
  }

  private def cpCount(s: String): Int = s.codePointCount(0, s.length)

  def truncateMin(s: String, len: Int): String =
    if (len <= 0 || cpCount(s) <= len) s
    else {
      val cps = s.codePoints().limit(len.toLong).toArray
      new String(cps, 0, cps.length)
    }

  /** None = no finite upper bound exists for this prefix. */
  def truncateMax(s: String, len: Int): Option[String] =
    if (len <= 0 || cpCount(s) <= len) Some(s)
    else prefixUpper(truncateMin(s, len))

  /** Smallest string greater than every string starting with `p` (in
    * code-point order, which is UTF-8 byte order): `p` with its last
    * code point incremented. None = no such string (empty `p`, or every
    * code point already U+10FFFF).
    */
  def prefixUpper(p: String): Option[String] = {
    val cps = p.codePoints().toArray
    // increment the last code point that CAN be incremented, dropping any
    // U+10FFFF tail; the surrogate range [D800, DFFF] is not a valid code
    // point sequence, so 0xD7FF increments straight to 0xE000
    var i = cps.length - 1
    while (i >= 0 && cps(i) >= Character.MAX_CODE_POINT) i -= 1
    if (i < 0) return None
    cps(i) = if (cps(i) == 0xD7FF) 0xE000 else cps(i) + 1
    Some(new String(cps, 0, i + 1))
  }
}
