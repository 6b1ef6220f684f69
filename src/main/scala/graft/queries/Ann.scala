package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Int8Ops, PqOps}
import graft.functions.TextHashing.cosineSim

/** The ANN core: one copy of each step of inverted-file (IVF) and
  * product-quantization (PQ) search — train, encode, index, probe — that
  * every IVF/PQ query composes. Per-query values (cells, subspaces,
  * probe vector, nprobe, shortlist size) come in from the query
  * definitions; output columns and self-exclusion stay at the call site.
  *
  *  - A [[Codec]] is the numeric format: how vectors encode to PQ codes
  *    and coarse cells, how a query scores stored codes (ADC, asymmetric
  *    distance computation), which score is best, and how the trained
  *    parameters persist in TBLPROPERTIES. [[FloatCodec]] carries the
  *    frozen float literals (q190–q199); [[Int8Codec]] the live-trained
  *    int8 grid (q51/q68/q69/q72/q157/q160).
  *  - [[live]] is the lazy pipeline of the live-trained queries: quantize
  *    and persist the corpus, train, plan over the working set, release.
  *  - [[build]]/[[refresh]] write a materialized index (`PARTITIONED BY
  *    (cell)` when the codec has coarse cells, so the manifest's min==max
  *    cell stats let a probe read only its cells' files); [[scan]] opens
  *    it for a query with the parameters read back from its properties.
  *  - [[Codec.shortlist]] ranks candidates by ADC; [[rerank]] re-scores
  *    the shortlist by exact cosine over the original floats.
  *
  * Int8 training is engine-reproducible, so the live queries ride the
  * DuckDB hash gate:
  *   1. GLOBAL int8 quantization (scale = corpus max|x|, a comparison-only
  *      max — order-free);
  *   2. centroids on a 1/256 grid — recompute is floor(CAST(256·sum AS
  *      DOUBLE)/n): exact integer sum, ONE correctly-rounded conversion
  *      and division, floor — bit-identical in any IEEE engine;
  *   3. every training/encoding/ADC distance is a pure-BIGINT
  *      sum((256·q−c)²) — no rounding anywhere, ties → lowest cell;
  *   4. only the final top-k re-rank touches floats: exact cosine over
  *      the ORIGINAL embeddings (the q26-proven replayable op).
  *
  * Scale shape: centroids/codebooks are k·d values broadcast everywhere;
  * training shuffles only (cell, dim) partial sums; an index persists
  * m-byte codes per vector. Reference capability: vector similarity
  * probes delegated to the engine (reference: src/catalog/mod.rs:359-361).
  */
object Ann {

  private val Dim = 64

  // ── the numeric format ────────────────────────────────────────────────

  /** One numeric format of codes, cells and lookup tables. `cells == 0`
    * means no coarse layer.
    */
  sealed trait Codec {
    def cells: Int

    /** The codec-space vector of a raw `array<float>` embedding column. */
    def space(embedding: Column): Column

    /** Per-subspace PQ codes (`array<tinyint>`) of a codec-space vector. */
    def codes(v: Column): Column

    /** Nearest coarse cell of a codec-space vector: encode against the
      * coarse centroids viewed as ONE subspace of `cells` centroids.
      */
    def cell(v: Column): Column

    /** ADC score of stored codes against the query's lookup table (the
      * table is driver-computed query metadata).
      */
    def adc(codes: Column, qvec: Array[Float]): Column

    /** Best-first order of ADC scores. */
    def best(adc: Column): Column

    /** The query's `nprobe` nearest coarse cells, nearest first —
      * driver-side query planning, the same argmin [[cell]] applies
      * row-side, ties to the lowest cell.
      */
    def nearest(qvec: Array[Float], nprobe: Int): Seq[Int]

    /** The trained parameters as TBLPROPERTIES. */
    def props: Seq[(String, String)]

    /** The `n` best of `cand` by the ADC score of `codes`, with the score
      * as column `adc`: one codegen scan into a top-k, no sort of the
      * corpus.
      */
    final def shortlist(cand: DataFrame, codes: Column, qvec: Array[Float], n: Int): DataFrame =
      cand.withColumn("adc", adc(codes, qvec))
        .orderBy(best(col("adc")), col("vec_id"))
        .limit(n)
  }

  object Codec {
    /** The codec an index table's properties pin. */
    def of(s: SparkSession, table: String): Codec = {
      val p = s.sql(s"SHOW TBLPROPERTIES $table").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      if (p.contains("pqi8.codebook")) Int8Codec.read(p) else FloatCodec.read(p)
    }
  }

  /** Float codebooks — the frozen-literal indexes. Inner-product lookup
    * table over unit vectors, so a HIGHER ADC score is better.
    */
  final case class FloatCodec(codebook: Array[Float], coarse: Array[Float],
      m: Int, ksub: Int, cells: Int) extends Codec {
    require(cells <= 128, "cell ids ride in a signed byte code")

    def space(embedding: Column): Column = embedding
    def codes(v: Column): Column = PqOps.pqEncode(v, codebook, m, ksub)
    def cell(v: Column): Column = element_at(PqOps.pqEncode(v, coarse, 1, cells), 1).cast("int")
    def adc(codes: Column, qvec: Array[Float]): Column =
      PqOps.pqAdc(codes, PqOps.ipLut(qvec, codebook, m, ksub), ksub)
    def best(adc: Column): Column = adc.desc

    def nearest(qvec: Array[Float], nprobe: Int): Seq[Int] = {
      val dim = coarse.length / cells
      nearestBy(cells, nprobe) { c =>
        var d2 = 0d
        var d = 0
        while (d < dim) {
          val diff = qvec(d) - coarse(c * dim + d)
          d2 += diff * diff
          d += 1
        }
        d2
      }
    }

    def props: Seq[(String, String)] =
      Seq("pq.codebook" -> packFloats(codebook), "pq.m" -> s"$m", "pq.ksub" -> s"$ksub") ++
        (if (cells > 0) Seq("ivf.centroids" -> packFloats(coarse), "ivf.cells" -> s"$cells")
        else Nil)
  }

  object FloatCodec {
    def read(p: Map[String, String]): FloatCodec = FloatCodec(
      unpackFloats(p("pq.codebook")), p.get("ivf.centroids").fold(Array.empty[Float])(unpackFloats),
      p("pq.m").toInt, p("pq.ksub").toInt, p.get("ivf.cells").fold(0)(_.toInt))
  }

  /** Int8 grid codebooks — the live-trained indexes. Vectors quantize
    * against the corpus scale, pinned as raw IEEE-754 bits so the probe's
    * driver-side quantization reproduces the build's to the last ulp;
    * every distance is an exact BIGINT, so a LOWER ADC score is better.
    */
  final case class Int8Codec(codebook: Array[Long], coarse: Array[Long],
      m: Int, ksub: Int, cells: Int, scale: Double) extends Codec {
    require(cells <= 128, "cell ids ride in a signed byte code")

    /** The quantized query: the same four IEEE ops [[space]] runs row-side. */
    def query(qvec: Array[Float]): Array[Int] = Int8Ops.quantizeVec(qvec, scale)

    def space(embedding: Column): Column = Int8Ops.int8Quantize(embedding, lit(scale))
    def codes(v: Column): Column = Int8Ops.pqEncodeI8(v, codebook, m, ksub)
    def cell(v: Column): Column = element_at(Int8Ops.pqEncodeI8(v, coarse, 1, cells), 1).cast("int")
    def adc(codes: Column, qvec: Array[Float]): Column =
      Int8Ops.pqAdcI8(codes, Int8Ops.distLut(query(qvec), codebook, m, ksub), ksub)
    def best(adc: Column): Column = adc.asc

    def nearest(qvec: Array[Float], nprobe: Int): Seq[Int] = {
      val qv = query(qvec)
      val dim = coarse.length / cells
      nearestBy(cells, nprobe) { c =>
        var d2 = 0L
        var overflow = false
        var d = 0
        while (d < dim) {
          val diff = 256L * qv(d) - coarse(c * dim + d)
          if (diff > 3037000499L || diff < -3037000499L) overflow = true
          else d2 += diff * diff
          d += 1
        }
        if (overflow) Long.MaxValue else d2
      }
    }

    def props: Seq[(String, String)] =
      Seq("pqi8.codebook" -> packLongs(codebook), "pqi8.m" -> s"$m", "pqi8.ksub" -> s"$ksub") ++
        (if (cells > 0) Seq("ivfi8.centroids" -> packLongs(coarse), "ivfi8.cells" -> s"$cells")
        else Nil) :+
        ("pqi8.scalebits" -> java.lang.Double.doubleToLongBits(scale).toString)
  }

  object Int8Codec {
    def read(p: Map[String, String]): Int8Codec = Int8Codec(
      unpackLongs(p("pqi8.codebook")), p.get("ivfi8.centroids").fold(Array.empty[Long])(unpackLongs),
      p("pqi8.m").toInt, p("pqi8.ksub").toInt, p.get("ivfi8.cells").fold(0)(_.toInt),
      java.lang.Double.longBitsToDouble(p("pqi8.scalebits").toLong))
  }

  /** Cells ordered by (distance, cell), the first `nprobe`. */
  private def nearestBy[D: Ordering](cells: Int, nprobe: Int)(dist: Int => D): Seq[Int] =
    (0 until cells).map(c => (dist(c), c)).sorted.take(nprobe).map(_._2)

  // ── int8 training ─────────────────────────────────────────────────────
  // Assignments run as the map-side `pq_encode_i8` argmin — the operator
  // the index probes ride, with the same saturation guard and
  // ties-to-lowest-cell order as the oracle's row_number. Between Lloyd
  // rounds only the k·d grid centroids come to the driver (≤ 1024 longs,
  // the payload an index pins in TBLPROPERTIES), so each round is one
  // narrow aggregation of (subspace, cell, dim) partial sums.

  private[queries] def baseOf(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label").cast("int").as("label"), col("embedding"))

  /** One corpus vector's embedding, driver-side (the probe vector). */
  private[queries] def vecOf(base: DataFrame, vecId: Long): Array[Float] =
    base.filter(col("vec_id") === vecId).select(col("embedding"))
      .head().getAs[scala.collection.Seq[Float]](0).toArray

  /** The persisted quantized working set (vec_id, qv) and its corpus
    * scale = max|x| (one order-free aggregate).
    */
  private def quantized(base: DataFrame): (DataFrame, Double) = {
    val scale = base.agg(max(array_max(transform(col("embedding"),
      x => abs(x.cast("double")))))).head().getDouble(0)
    (base.select(col("vec_id"), Int8Ops.int8Quantize(col("embedding"), lit(scale)).as("qv"))
      .persist(), scale)
  }

  /** The quantized seed vectors (vec_id < k) in ONE collect, shared by the
    * coarse and PQ seeds of one training run.
    */
  private[queries] def seedRows(q: DataFrame, k: Int): Map[Int, Array[Int]] =
    q.filter(col("vec_id") < k).select(col("vec_id"), col("qv")).collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Int](1).toArray).toMap

  /** Flat ×256-grid seed centroids from the first `k` vec_ids
    * (`[cell*dim + d]`; absent seeds stay far-sentinel, which the encode
    * guard can never select).
    */
  private def seedGrid(seeds: Map[Int, Array[Int]], k: Int, dim: Int): Array[Long] = {
    val out = Array.fill(k * dim)(Long.MaxValue / 4)
    seeds.foreach { case (cell, qv) =>
      if (cell < k) {
        var d = 0
        while (d < dim) { out(cell * dim + d) = qv(d) * 256L; d += 1 }
      }
    }
    out
  }

  /** One Lloyd recompute against `grid`: map-side encode assigns, exact
    * integer (subspace, cell, dim) sums shuffle (k·d groups — the corpus
    * never moves), one correctly-rounded grid division per centroid
    * element — the same op order the oracle replays. Returns the next
    * flat grid; cells that lost every member stay far-sentinel.
    */
  private[queries] def lloydRound(q: DataFrame, grid: Array[Long], m: Int, ksub: Int,
      dim: Int): Array[Long] = {
    val subDim = dim / m
    val next = Array.fill(m * ksub * subDim)(Long.MaxValue / 4)
    q.select(col("qv"),
        posexplode(Int8Ops.pqEncodeI8(col("qv"), grid, m, ksub)).as(Seq("m", "cell")))
      .select(col("m"), col("cell").cast("int").as("cell"),
        posexplode(slice(col("qv"), col("m") * subDim + 1, lit(subDim))).as(Seq("i", "val")))
      .groupBy("m", "cell", "i")
      .agg(sum(col("val")).as("s"), count(lit(1)).as("n"))
      .select(col("m"), col("cell"), col("i"),
        floor((col("s") * 256).cast("double") / col("n").cast("double"))
          .cast("long").as("cv"))
      .collect()
      .foreach { r =>
        next((r.getInt(0) * ksub + r.getInt(1)) * subDim + r.getInt(2)) = r.getLong(3)
      }
    next
  }

  /** Per-subspace PQ codebook (`[(sub*ksub + cell)*subDim + d]`): the
    * seed vectors' slices, one Lloyd round.
    */
  private def trainPq(q: DataFrame, m: Int, ksub: Int, seeds: Map[Int, Array[Int]]): Array[Long] = {
    val subDim = Dim / m
    val seeds64 = seedGrid(seeds, ksub, Dim)
    val c0 = new Array[Long](m * ksub * subDim)
    var s = 0
    while (s < m) {
      var cell = 0
      while (cell < ksub) {
        var d = 0
        while (d < subDim) {
          c0((s * ksub + cell) * subDim + d) = seeds64(cell * Dim + s * subDim + d)
          d += 1
        }
        cell += 1
      }
      s += 1
    }
    lloydRound(q, c0, m, ksub, Dim)
  }

  /** Train the int8 layers over the working set: `cells` coarse cells
    * (full-vector Lloyd round) and an `m × ksub` PQ codebook; a zero
    * size leaves that layer out. Seeds are the first vec_ids, collected
    * once for both layers.
    */
  private def train(q: DataFrame, scale: Double, cells: Int, m: Int, ksub: Int): Int8Codec = {
    val seeds = seedRows(q, math.max(cells, ksub))
    val coarse =
      if (cells > 0) lloydRound(q, seedGrid(seeds, cells, Dim), 1, cells, Dim) else Array.empty[Long]
    val codebook = if (m > 0) trainPq(q, m, ksub, seeds) else Array.empty[Long]
    Int8Codec(codebook, coarse, m, ksub, cells, scale)
  }

  /** An int8 codec trained on `emb` for an index build; the working set
    * is released before it returns.
    */
  def trained(emb: DataFrame, cells: Int, m: Int, ksub: Int): Int8Codec = {
    val (q, scale) = quantized(baseOf(emb))
    try train(q, scale, cells, m, ksub) finally q.unpersist(blocking = true)
  }

  // ── the live pipeline ─────────────────────────────────────────────────

  /** A live-trained codec over the persisted working set `q` (vec_id, qv),
    * probed by the corpus vector `qvec`; `base` is the float corpus.
    */
  final case class Live(base: DataFrame, q: DataFrame, codec: Int8Codec, qvec: Array[Float]) {
    /** Working-set rows whose nearest coarse cell is one of `cells`. */
    def members(cells: Seq[Int]): DataFrame = q.filter(codec.cell(col("qv")).isin(cells: _*))

    /** [[Codec.shortlist]] of working-set rows, encoded inline. */
    def shortlist(cand: DataFrame, n: Int): DataFrame =
      codec.shortlist(cand, codec.codes(col("qv")), qvec, n)
  }

  /** The lazy plan of a live-trained query plus the callback releasing its
    * persisted working set. Training runs eagerly (its centroids are
    * planning metadata); `plan` builds the probe over the working set.
    */
  def live(emb: DataFrame, cells: Int, m: Int, ksub: Int, probe: Long)(
      plan: Live => DataFrame): (DataFrame, () => Unit) = {
    val base = baseOf(emb)
    val (q, scale) = quantized(base)
    val codec = train(q, scale, cells, m, ksub)
    (plan(Live(base, q, codec, vecOf(base, probe))), () => { q.unpersist(blocking = true); () })
  }

  // ── the materialized index ────────────────────────────────────────────

  /** (Re)create a lake table for an index: namespace, drop, create with
    * `schema`, pin `props`.
    */
  private[queries] def createIndex(s: SparkSession, table: String, schema: String,
      props: Seq[(String, String)]): Unit = {
    val ns = table.split('.').dropRight(1).mkString(".")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    s.sql(s"DROP TABLE IF EXISTS $table")
    s.sql(s"CREATE TABLE $table $schema")
    if (props.nonEmpty)
      s.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
        props.map { case (k, v) => s"'$k'='$v'" }.mkString(", ") + ")")
  }

  /** Build (replace) a materialized index over `emb` under `codec`: one
    * scan encodes every vector to m code bytes, and the parameters pinned
    * in TBLPROPERTIES make the index self-describing — any later session
    * probes it without retraining.
    */
  def build(s: SparkSession, emb: DataFrame, table: String, codec: Codec): Unit = {
    val rows = "vec_id BIGINT, label INT, codes ARRAY<TINYINT>"
    createIndex(s, table,
      if (codec.cells > 0) s"(cell INT, $rows) PARTITIONED BY (cell)" else s"($rows)",
      codec.props)
    append(emb, table, codec)
  }

  /** Incremental maintenance: encode ONLY `newVecs` under the parameters
    * pinned at build time and append their rows — O(new vectors), no
    * retraining, so a refreshed index answers identically to a full
    * rebuild. Appended files land clustered by cell, so probes keep
    * pruning. Assumes new vec_ids (the ingest contract).
    */
  def refresh(s: SparkSession, table: String, newVecs: DataFrame): Unit =
    append(newVecs, table, Codec.of(s, table))

  private def append(emb: DataFrame, table: String, codec: Codec): Unit = {
    val v = codec.space(col("embedding"))
    val rows = Seq(col("vec_id"), col("label"), codec.codes(v).as("codes"))
    baseOf(emb).select((if (codec.cells > 0) codec.cell(v).as("cell") +: rows else rows): _*)
      .writeTo(table).append()
  }

  /** Open an index for one query: the codec its properties pin, and its
    * stored rows in the `nprobe` cells nearest `qvec` — a filter on the
    * partition column, so the scan reads only those cells' files. An
    * index without coarse cells yields every row.
    */
  def scan(s: SparkSession, table: String, qvec: Array[Float], nprobe: Int): (Codec, DataFrame) = {
    val codec = Codec.of(s, table)
    val rows = s.table(table)
    (codec,
      if (codec.cells > 0) rows.filter(col("cell").isin(codec.nearest(qvec, nprobe): _*)) else rows)
  }

  /** Exact-cosine top-`k` of a shortlist against the query: the shortlist
    * joins back to the float corpus `base` (vec_id, label, embedding), and
    * every other shortlist column rides into the output before `sim`.
    */
  def rerank(base: DataFrame, shortlist: DataFrame, qvec: Array[Float], k: Int): DataFrame = {
    val cand = base.join(broadcast(shortlist), "vec_id")
    cand.select(cand.columns.filter(_ != "embedding").map(col).toSeq :+
        cosineSim(col("embedding"), lit(qvec)).as("sim"): _*)
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Base64 of the little-endian bytes — the wire form of parameters in
    * table properties (a few KB).
    */
  private[graft] def packFloats(a: Array[Float]): String = {
    val bb = java.nio.ByteBuffer.allocate(a.length * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    a.foreach(bb.putFloat)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private[graft] def unpackFloats(s: String): Array[Float] = {
    val bb = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(s))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(bb.remaining() / 4)(bb.getFloat)
  }

  private def packLongs(a: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(a.length * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    a.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private def unpackLongs(s: String): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(s))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(bb.remaining() / 8)(bb.getLong)
  }

  // ── DuckDB oracles ────────────────────────────────────────────────────

  private val quantCtes =
    """e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |gs AS (SELECT max(list_max([abs(x) for x in v])) AS s FROM e),
      |q AS (SELECT vec_id, [CAST(floor(x * 127.0 / s + 0.5) AS INT) for x in v] AS qv FROM e, gs)""".stripMargin

  private val rerankTail =
    """qe AS (SELECT v AS qe FROM e WHERE vec_id = 0)
      |SELECT e.vec_id, CAST(e.label AS INT) AS label,
      |       list_cosine_similarity(e.v, qe.qe) AS sim
      |FROM short JOIN e USING (vec_id), qe
      |ORDER BY sim DESC, e.vec_id LIMIT 10""".stripMargin

  /** The coarse (full-vector, 16-cell) training chain — q157's oracle
    * with 16 seeds; suffix distinguishes it from the PQ chain in q72.
    */
  private def coarseCtes(p: String): String =
    s"""${p}c0 AS (SELECT vec_id AS cell, [CAST(x * 256 AS BIGINT) for x in qv] AS c FROM q WHERE vec_id < 16),
       |${p}a1 AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT q.vec_id, ${p}c0.cell,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_sum([(256 * q.qv[i] - ${p}c0.c[i]) * (256 * q.qv[i] - ${p}c0.c[i]) for i in range(1, len(q.qv) + 1)]),
       |        ${p}c0.cell) AS rn
       |    FROM q, ${p}c0) WHERE rn = 1),
       |${p}d1 AS (SELECT ${p}a1.cell, t.i, q.qv[t.i] AS val
       |       FROM ${p}a1 JOIN q USING (vec_id), unnest(range(1, len(q.qv) + 1)) AS t(i)),
       |${p}c1 AS (SELECT cell, list(CAST(floor(CAST(256 * s AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
       |       FROM (SELECT cell, i, sum(val) AS s, count(*) AS n FROM ${p}d1 GROUP BY 1, 2) GROUP BY cell),
       |${p}a2 AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT q.vec_id, ${p}c1.cell,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_sum([(256 * q.qv[i] - ${p}c1.c[i]) * (256 * q.qv[i] - ${p}c1.c[i]) for i in range(1, len(q.qv) + 1)]),
       |        ${p}c1.cell) AS rn
       |    FROM q, ${p}c1) WHERE rn = 1),
       |pv AS (SELECT qv AS pv FROM q WHERE vec_id = 0),
       |pcell AS (
       |  SELECT cell FROM (
       |    SELECT ${p}c1.cell,
       |      row_number() OVER (ORDER BY
       |        list_sum([(256 * pv.pv[i] - ${p}c1.c[i]) * (256 * pv.pv[i] - ${p}c1.c[i]) for i in range(1, len(pv.pv) + 1)]),
       |        ${p}c1.cell) AS rn
       |    FROM ${p}c1, pv) WHERE rn <= 2)""".stripMargin

  /** The per-subspace (m=8, ksub=8) PQ training chain + integer ADC —
    * q160's oracle with the probe at vec_id 0.
    */
  private val pqCtes =
    """sub AS (
      |  SELECT vec_id, t.m, [q.qv[t.m * 8 + j] for j in range(1, 9)] AS sv
      |  FROM q, unnest(range(0, 8)) AS t(m)),
      |sc0 AS (SELECT m, vec_id AS cell, [CAST(x * 256 AS BIGINT) for x in sv] AS c
      |       FROM sub WHERE vec_id < 8),
      |sa1 AS (
      |  SELECT vec_id, m, cell FROM (
      |    SELECT sub.vec_id, sub.m, sc0.cell,
      |      row_number() OVER (PARTITION BY sub.vec_id, sub.m ORDER BY
      |        list_sum([(256 * sub.sv[i] - sc0.c[i]) * (256 * sub.sv[i] - sc0.c[i]) for i in range(1, 9)]),
      |        sc0.cell) AS rn
      |    FROM sub JOIN sc0 ON sc0.m = sub.m) WHERE rn = 1),
      |sd1 AS (SELECT sa1.m, sa1.cell, t.i, sub.sv[t.i] AS val
      |       FROM sa1 JOIN sub ON sub.vec_id = sa1.vec_id AND sub.m = sa1.m,
      |       unnest(range(1, 9)) AS t(i)),
      |sc1 AS (SELECT m, cell, list(CAST(floor(CAST(256 * s AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
      |       FROM (SELECT m, cell, i, sum(val) AS s, count(*) AS n FROM sd1 GROUP BY 1, 2, 3)
      |       GROUP BY m, cell),
      |codes AS (
      |  SELECT vec_id, m, cell FROM (
      |    SELECT sub.vec_id, sub.m, sc1.cell,
      |      row_number() OVER (PARTITION BY sub.vec_id, sub.m ORDER BY
      |        list_sum([(256 * sub.sv[i] - sc1.c[i]) * (256 * sub.sv[i] - sc1.c[i]) for i in range(1, 9)]),
      |        sc1.cell) AS rn
      |    FROM sub JOIN sc1 ON sc1.m = sub.m) WHERE rn = 1),
      |dtab AS (
      |  SELECT sc1.m, sc1.cell,
      |    list_sum([(256 * p.sv[i] - sc1.c[i]) * (256 * p.sv[i] - sc1.c[i]) for i in range(1, 9)]) AS d
      |  FROM sc1 JOIN (SELECT m, sv FROM sub WHERE vec_id = 0) p ON p.m = sc1.m)""".stripMargin

  /** q51's oracle: integer-Lloyd's IVF training, 2-cell centroid-distance
    * probe, exact-cosine top-10 over the candidates.
    */
  val q51OracleSql: String =
    s"""WITH $quantCtes,
       |${coarseCtes("k")},
       |short AS (
       |  SELECT vec_id FROM ka2 JOIN pcell USING (cell) WHERE vec_id <> 0),
       |$rerankTail""".stripMargin

  /** q68's oracle (and q69's verbatim — the materialized probe must
    * answer exactly what the inline pipeline answers, the q52/q38
    * index-parity discipline): integer PQ training, exact ADC top-50
    * shortlist, exact-cosine top-10 re-rank.
    */
  val q68OracleSql: String =
    s"""WITH $quantCtes,
       |$pqCtes,
       |adc AS (
       |  SELECT codes.vec_id, sum(dtab.d) AS ad
       |  FROM codes JOIN dtab ON dtab.m = codes.m AND dtab.cell = codes.cell
       |  WHERE codes.vec_id <> 0
       |  GROUP BY codes.vec_id),
       |short AS (SELECT vec_id FROM adc ORDER BY ad, vec_id LIMIT 100),
       |$rerankTail""".stripMargin

  /** q72's oracle: BOTH chains — coarse cells prune the candidate rows,
    * PQ codes ADC-rank the survivors, cosine re-ranks the shortlist.
    */
  val q72OracleSql: String =
    s"""WITH $quantCtes,
       |${coarseCtes("k")},
       |$pqCtes,
       |adc AS (
       |  SELECT codes.vec_id, sum(dtab.d) AS ad
       |  FROM codes JOIN dtab ON dtab.m = codes.m AND dtab.cell = codes.cell
       |  JOIN (SELECT vec_id FROM ka2 JOIN pcell USING (cell)) cand USING (vec_id)
       |  WHERE codes.vec_id <> 0
       |  GROUP BY codes.vec_id),
       |short AS (SELECT vec_id FROM adc ORDER BY ad, vec_id LIMIT 100),
       |$rerankTail""".stripMargin
}
