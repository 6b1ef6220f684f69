package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the LLM-pipeline dedup operators
  * (SURVEY §2b "dedup (LLM pipeline)" / north-star operators; the reference
  * delegates ALL compute to the engine, reference: src/catalog/mod.rs:359-361,
  * so these are engine-surface additions, not ports).
  *
  * All three are full codegen expressions (`doGenCode`, no
  * CodegenFallback): they stay inside whole-stage codegen, so the hot loop
  * over shingles/tokens compiles to a tight Java loop per row — the
  * difference between an LSH job that scans 100 TB at parquet speed and one
  * bottlenecked on per-row interpretation. No UDFs anywhere.
  */
object TextHashing {

  /** Deterministic affine hash families (a*h+b over the base XXH64), seeded
    * by SplitMix64 so signatures are reproducible across JVMs/sessions.
    */
  private[functions] def families(k: Int, seed: Long): (Array[Long], Array[Long]) = {
    var x = seed
    def next(): Long = { // SplitMix64 (public domain constant-set)
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val a = Array.fill(k)(next() | 1L) // odd multipliers
    val b = Array.fill(k)(next())
    (a, b)
  }

  /** Column API (via the functions registered by [[graft.GraftExtensions]]). */
  def minhashSignature(shingles: Column, numHashes: Int = 64, seed: Long = 42L): Column =
    call_function("minhash_signature", shingles, lit(numHashes), lit(seed))

  def simhash(tokens: Column, seed: Long = 42L): Column =
    call_function("simhash", tokens, lit(seed))

  def cosineSim(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  def sigMatchCount(a: Column, b: Column): Column =
    call_function("sig_match_count", a, b)

  def wordNgrams(tokens: Column, n: Int): Column =
    call_function("word_ngrams", tokens, lit(n))

  def fixedSimhash(tokens: Column): Column =
    call_function("fixed_simhash", tokens)

  def sortedIntersectSize(a: Column, b: Column): Column =
    call_function("sorted_intersect_size", a, b)

  def hammingDistance(a: Column, b: Column): Column =
    call_function("hamming_distance", a, b)
}

/** `sorted_intersect_size(a, b) -> int`: |A ∩ B| for two SORTED (Spark
  * `array_sort` order = UTF8 binary order) string arrays by linear merge —
  * zero allocation, codegen. Replaces `size(array_intersect(a, b))` in the
  * exact-Jaccard verify: `ArrayIntersect` is CodegenFallback and builds a
  * hash set PER ROW, which made the verify stage of the similarity joins
  * (millions of candidate pairs × ~2k-shingle docs) the dominant cost of
  * the whole dedup suite.
  */
final case class SortedIntersectSize(left: Expression, right: Expression)
  extends BinaryExpression {

  private def isStringArray(dt: DataType) = dt match {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isStringArray(left.dataType) && isStringArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, array<string>), got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  override def nullSafeEval(l: Any, r: Any): Any =
    SortedIntersectSize.count(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedIntersectSize.count($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  /** Merge-count over two sorted string arrays. `array_sort` places NULL
    * elements LAST, so the merge simply stops at the first null.
    */
  def count(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb && !a.isNullAt(i) && !b.isNullAt(j)) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }
}

/** `word_ngrams(tokens, n) -> array<string>`: space-joined word n-grams of
  * an array<string> (empty when fewer than n tokens). The codegen scalar
  * twin of the [[ExplodeNgrams]] UDTF — shingling via interpreted
  * `transform(sequence(...), concat_ws(element_at...))` chains was the
  * dominant cost of the dedup pipelines (per-token interpreted expression
  * dispatch), not the hashing or the bucket joins.
  */
final case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "word_ngrams: n >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>, got $dt")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override def nullSafeEval(input: Any): Any =
    WordNgrams.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.WordNgrams$$.MODULE$$.compute($arr, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

object WordNgrams {
  private val space = UTF8String.fromString(" ")

  /** Shared by interpreted eval and generated code. */
  def compute(arr: ArrayData, n: Int): GenericArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      toks(i) = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](m - n + 1)
    var s = 0
    while (s <= m - n) {
      out(s) = UTF8String.concatWs(space, java.util.Arrays.copyOfRange(toks, s, s + n): _*)
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** Number of equal slots between two MinHash signatures (array<long>) —
  * matches/k estimates Jaccard similarity. A dedicated codegen expression
  * because the equivalent `size(filter(zip_with(a, b, _ === _), identity))`
  * is an interpreted higher-order chain: on millions of LSH candidate pairs
  * the interpreted lambda dominates the whole dedup job.
  */
final case class SigMatchCount(left: Expression, right: Expression)
  extends BinaryExpression {

  private def isLongArray(dt: DataType) = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<long>, array<long>), got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sig_match_count"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) c += 1; i += 1 }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SigMatchCount =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature: for each of `numHashes` affine families, the minimum
  * of `a_i * xxh64(shingle) + b_i` over all shingles. Rows whose shingle
  * sets have Jaccard similarity J agree on each signature slot with
  * probability J — the estimator behind MinHash/LSH dedup (Broder '97,
  * public knowledge; same operator family as Spark MLlib's MinHashLSH but
  * as a scalar codegen expression usable in plain SQL plans).
  */
final case class MinHashSignature(child: Expression, numHashes: Int, seed: Long)
  extends UnaryExpression {

  private lazy val (fa, fb) = TextHashing.families(numHashes, seed)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == ArrayType(StringType, true) || child.dataType == ArrayType(StringType, false))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    while (j < arr.numElements()) {
      if (!arr.isNullAt(j)) {
        val s = arr.getUTF8String(j)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
        var i = 0
        while (i < numHashes) {
          val v = fa(i) * h + fb(i)
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", fa, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", fb, "long[]")
    nullSafeCodeGen(ctx, ev, arr => {
      val sig = ctx.freshName("sig")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
         |long[] $sig = new long[$numHashes];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $j = 0; $j < $arr.numElements(); $j++) {
         |  if (!$arr.isNullAt($j)) {
         |    UTF8String $s = $arr.getUTF8String($j);
         |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
         |      $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), ${seed}L);
         |    for (int $i = 0; $i < $numHashes; $i++) {
         |      long $v = $aRef[$i] * $h + $bRef[$i];
         |      if ($v < $sig[$i]) $sig[$i] = $v;
         |    }
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($sig);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** SimHash (Charikar '02): 64-bit fingerprint where bit b is the sign of
  * `sum over tokens of (bit b of xxh64(token) ? +1 : -1)`. Near-duplicate
  * texts land within a small Hamming distance — cheap single-long dedup
  * complementing MinHash.
  */
final case class SimHash(child: Expression, seed: Long)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == ArrayType(StringType, true) || child.dataType == ArrayType(StringType, false))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    var j = 0
    while (j < arr.numElements()) {
      if (!arr.isNullAt(j)) {
        val s = arr.getUTF8String(j)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val counts = ctx.freshName("counts")
      val j = ctx.freshName("j")
      val b = ctx.freshName("b")
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |int[] $counts = new int[64];
         |for (int $j = 0; $j < $arr.numElements(); $j++) {
         |  if (!$arr.isNullAt($j)) {
         |    UTF8String $s = $arr.getUTF8String($j);
         |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
         |      $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), ${seed}L);
         |    for (int $b = 0; $b < 64; $b++) {
         |      if ((($h >>> $b) & 1L) == 1L) $counts[$b]++; else $counts[$b]--;
         |    }
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 64; $b++) if ($counts[$b] > 0) $out |= (1L << $b);
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash =
    copy(child = newChild)
}

/** Cosine similarity over `array<float>` embeddings, accumulating in double
  * element-by-element in array order (deterministic; matches DuckDB's
  * list-function semantics for oracle parity). Returns null for null/empty
  * inputs or zero-norm vectors.
  */
final case class CosineSim(left: Expression, right: Expression)
  extends BinaryExpression {

  private def isFloatArray(dt: DataType) = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, array<float>), got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0d; var na = 0d; var nb = 0d
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0d || nb == 0d) null else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val code = nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0d, $na = 0d, $nb = 0d;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |if ($na == 0d || $nb == 0d) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })
    code
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** `hamming_distance(a, b) -> int`: number of differing BYTE positions of
  * two equal-length strings (≡ differing characters for ASCII, matching
  * DuckDB's `hamming` on the identifier strings this serves); NULL when
  * byte lengths differ. Codegen, zero allocation — the verify predicate of
  * the banded suffix-hamming dedup (q128), where the pigeonhole band join
  * is lossless for distance ≤ 2 and this expression confirms each
  * candidate exactly.
  */
final case class HammingDistance(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string), got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true // also null on length mismatch
  override def prettyName: String = "hamming_distance"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val d = HammingDistance.compute(
      l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
    if (d < 0) null else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${ev.value} = graft.functions.HammingDistance$$.MODULE$$.compute($a, $b);
         |if (${ev.value} < 0) { ${ev.isNull} = true; ${ev.value} = -1; }
       """.stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): HammingDistance =
    copy(left = newLeft, right = newRight)
}

object HammingDistance {
  /** -1 signals a length mismatch (surfaced as NULL). Shared by
    * interpreted eval and generated code.
    */
  def compute(a: UTF8String, b: UTF8String): Int = {
    val n = a.numBytes()
    if (n != b.numBytes()) return -1
    var i = 0
    var c = 0
    while (i < n) {
      if (a.getByte(i) != b.getByte(i)) c += 1
      i += 1
    }
    c
  }
}

/** `fixed_simhash(tokens) -> bigint`: the ORACLE-REPLAYABLE simhash of
  * q33. The per-shingle (3 consecutive tokens) hash is the XOR of three
  * FIXED 60-bit constants from [[FixedSimhash.table]] — one column per
  * shingle position; XOR of sub-2^60 values never overflows a signed
  * 64-bit lane, so DuckDB computes the identical value from the same
  * literals — and the 64-bit fingerprint is the per-bit majority vote
  * over all shingles (sum of +1/-1 strictly positive => bit set, exactly
  * the oracle's CASE/SUM spelling). One codegen pass per doc replaced the
  * interpreted nested-lambda formulation that benched 25x slower at
  * sf0.1. Tokens outside the table hash to 0 (the synthetic corpus
  * vocabulary is closed); fewer than 3 tokens => 0L.
  */
final case class FixedSimhash(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>, got $dt")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "fixed_simhash"

  override def nullSafeEval(input: Any): Any =
    FixedSimhash.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.FixedSimhash$$.MODULE$$.compute($arr);")

  override protected def withNewChildInternal(newChild: Expression): FixedSimhash =
    copy(child = newChild)
}

object FixedSimhash {
  /** One row per corpus-vocabulary token: three independent 60-bit
    * constants (one per shingle position). This Seq is the single source
    * of truth — q33's DuckDB oracle SQL embeds it as a VALUES literal.
    */
  val table: Seq[(String, Long, Long, Long)] = Seq(
    ("a", 192830449058384696L, 268881705817474461L, 969334123185777189L),
    ("agg", 552211475515345043L, 1014875301393484644L, 614133267197341636L),
    ("batch", 608005418390191221L, 1128976036235528552L, 1043624777385219707L),
    ("big", 1087789350415721948L, 370082314557745972L, 792087188662173672L),
    ("column", 554514992108172424L, 325359713207987257L, 775821842472319308L),
    ("customer", 81595134289378089L, 477043419020108347L, 597491988709482508L),
    ("data", 1036310232663355994L, 856718101716603043L, 991330131572848965L),
    ("dup", 780787699947730874L, 939906861020717365L, 323373880967822209L),
    ("fast", 368314185719768369L, 881709225787282157L, 283179304264474561L),
    ("filter", 996780722138420011L, 368142331743259687L, 1023394945960165341L),
    ("group", 1147398860785651975L, 1141981016934510643L, 76355726280988905L),
    ("hash", 421793842119058865L, 753447352849197463L, 887251167113447996L),
    ("join", 591210701832333573L, 369058706896195159L, 407986734545086274L),
    ("key", 759202383117003433L, 639925750176769418L, 448535307704002706L),
    ("line", 792531031524163172L, 1013633654086075902L, 420330311753996259L),
    ("merge", 723353778650932853L, 787370854069804545L, 982360719234521449L),
    ("order", 73006863946619399L, 107527491897364477L, 931745558553530409L),
    ("part", 3503586571557556L, 472686976810528479L, 401410371971245365L),
    ("query", 999675427384518956L, 780281883612011292L, 447965830514919004L),
    ("row", 689055984814020813L, 910466071590731942L, 679796472982136255L),
    ("scan", 523742827083780534L, 992600729690592034L, 560442789059986625L),
    ("slow", 11178885345075284L, 437844275484297065L, 873775372461750127L),
    ("small", 416830603813404096L, 769707665187796344L, 281070454669253061L),
    ("sort", 1080201476351701648L, 731753693880255770L, 833594128323287401L),
    ("spark", 1006074323548080701L, 972745783521509601L, 995252399192728118L),
    ("stream", 1048984757033514988L, 840902092707355961L, 557319155141656492L),
    ("table", 796475717814828071L, 1020993853544740517L, 1072506916112659927L),
    ("the", 324805096711974761L, 322503963757955514L, 1091604560437069768L),
    ("value", 468533238559091847L, 544785141981366205L, 717298145362560416L),
    ("vector", 873399290447619942L, 447126232390053842L, 875117934748474631L),
    ("window", 366196120317653897L, 1103373927810638069L, 193290576440866494L))

  private def lookupOf(pick: ((String, Long, Long, Long)) => Long)
      : java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](table.size * 2)
    table.foreach(r => m.put(UTF8String.fromString(r._1), pick(r)))
    m
  }
  private val h1 = lookupOf(_._2)
  private val h2 = lookupOf(_._3)
  private val h3 = lookupOf(_._4)

  private def hv(m: java.util.HashMap[UTF8String, java.lang.Long],
      arr: ArrayData, i: Int): Long = {
    if (arr.isNullAt(i)) return 0L
    val v = m.get(arr.getUTF8String(i))
    if (v == null) 0L else v.longValue()
  }

  /** Shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): Long = {
    val m = arr.numElements()
    if (m < 3) return 0L
    val cnt = new Array[Int](64)
    var total = 0
    var i = 0
    while (i + 2 < m) {
      val h = hv(h1, arr, i) ^ hv(h2, arr, i + 1) ^ hv(h3, arr, i + 2)
      total += 1
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) cnt(b) += 1
        b += 1
      }
      i += 1
    }
    var sh = 0L
    var b = 0
    while (b < 64) {
      // strict majority: sum of +1/-1 > 0  <=>  2*cnt > total (ties -> 0)
      if (2 * cnt(b) > total) sh |= (1L << b)
      b += 1
    }
    sh
  }
}
