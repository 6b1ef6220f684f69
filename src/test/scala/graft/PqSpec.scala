package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PqOps
import graft.queries.{Ann, FrozenAnn}

/** Product-quantization ANN: recall against the brute-force oracle,
  * materialized-index parity, codegen-vs-interpreted agreement, and the
  * codebook's property-packed wire form.
  */
class PqSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private def top10Ids(q: String): Set[Long] =
    SparkEntry.queries(q)(spark, sf).select("vec_id").collect().map(_.getLong(0)).toSet

  test("codebook pack/unpack through table properties is bit-exact") {
    val cb = Array.tabulate(1024)(i => (math.sin(i) * 1e3).toFloat) ++
      Array(Float.MinPositiveValue, Float.MaxValue, -0f, 1e18f)
    val back = Ann.unpackFloats(Ann.packFloats(cb))
    assert(back.length == cb.length)
    assert(cb.zip(back).forall { case (a, b) =>
      java.lang.Float.floatToRawIntBits(a) == java.lang.Float.floatToRawIntBits(b) })
  }

  test("both codecs reject more coarse cells than a signed byte code can name") {
    intercept[IllegalArgumentException](
      Ann.FloatCodec(Array.empty, Array.empty, m = 0, ksub = 0, cells = 129))
    intercept[IllegalArgumentException](
      Ann.Int8Codec(Array.empty, Array.empty, m = 0, ksub = 0, cells = 129, scale = 1.0))
    assert(Ann.Int8Codec(Array.empty, Array.empty, m = 0, ksub = 0, cells = 128, scale = 1.0)
      .cells == 128)
  }

  test("int8_quantize / int8_dist: codegen and interpreted agree, and match the transform chain") {
    import graft.functions.Int8Ops
    val scale = emb.agg(max(array_max(transform(col("embedding"),
      x => abs(x.cast("double")))))).head().getDouble(0)
    val cent = Array.tabulate(64)(i => ((i * 37) % 255 - 127) * 256L)
    def run(): Seq[String] = emb.limit(200)
      .select(col("vec_id"),
        Int8Ops.int8Quantize(col("embedding"), lit(scale)).as("qv"))
      .select(col("vec_id"), col("qv"),
        Int8Ops.int8Dist(col("qv"), lit(cent)).as("d"))
      .orderBy("vec_id").collect().map(_.toString).toSeq
    val viaCodegen = run()
    // the interpreted higher-order chain these expressions replaced must
    // produce identical values (bit-equal IEEE op order)
    val viaTransform = emb.limit(200)
      .select(col("vec_id"), transform(col("embedding"),
        x => floor(x.cast("double") * lit(127.0) / lit(scale) + lit(0.5)).cast("int")).as("qv"))
      .select(col("vec_id"), col("qv"),
        aggregate(zip_with(col("qv"), lit(cent), (a, b) => {
          val d = a.cast("long") * 256L - b
          d * d
        }), lit(0L), (acc, v) => acc + v).as("d"))
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(viaCodegen == viaTransform)
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == viaCodegen)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("pq_encode / pq_adc: codegen and interpreted agree") {
    val (cb, _, _) = FrozenAnn.frozenParams
    val qvec = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getAs[scala.collection.Seq[Float]](0).toArray
    val lut = PqOps.ipLut(qvec, cb, 16, 16)
    def run(): Seq[String] = emb.limit(100)
      .select(col("vec_id"),
        PqOps.pqEncode(col("embedding"), cb, 16, 16).as("codes"))
      .select(col("vec_id"), col("codes"), PqOps.pqAdc(col("codes"), lut, 16).as("adc"))
      .orderBy("vec_id").collect().map(_.toString).toSeq
    val viaCodegen = run()
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == viaCodegen)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("ADC approximates the true inner product (bounded reconstruction error)") {
    val (cb, _, _) = FrozenAnn.frozenParams
    val qvec = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getAs[scala.collection.Seq[Float]](0).toArray
    val lut = PqOps.ipLut(qvec, cb, 16, 16)
    val q = broadcast(emb.filter(col("vec_id") === 0).select(col("embedding").as("qe")))
    val errs = emb.crossJoin(q)
      .select(abs(PqOps.pqAdc(PqOps.pqEncode(col("embedding"), cb, 16, 16), lut, 16)
        - graft.functions.TextHashing.cosineSim(col("embedding"), col("qe"))).as("err"))
      .agg(avg("err"), max("err")).head()
    val (meanErr, maxErr) = (errs.getDouble(0), errs.getDouble(1))
    // unit vectors: true dot in [-1, 1]. The frozen 16 subspaces x 16
    // centroids over 64 dims reconstruct coarsely but usefully; these bounds fail on a
    // broken LUT/encode (errors ~1) and pass with generous float headroom.
    assert(meanErr < 0.15, s"mean |adc - cos| = $meanErr")
    assert(maxErr < 0.5, s"max |adc - cos| = $maxErr")
  }

  test("q68 PQ probe: 10 rows, recall@10 vs brute force on the hostile corpus") {
    val df = SparkEntry.queries("q68_ann_pq")(spark, sf)
    assert(df.columns.toSeq == Seq("vec_id", "label", "sim"))
    val pq = df.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(pq.size == 10)
    val recall = (pq intersect top10Ids("q26_embedding_topk")).size / 10.0
    // observed 0.8 with m=16, ksub=16, rerank=50; the floor leaves float
    // headroom while still failing on any real encode/ADC regression
    assert(recall >= 0.6, s"PQ recall@10 vs brute force was $recall")
  }

  test("q72 IVF-PQ probe: recall through both reductions, partition-pruned to probed cells") {
    val df = SparkEntry.queries("q72_ann_ivfpq")(spark, sf)
    val got = df.collect()
    assert(got.length == 10)
    val recall = (got.map(_.getLong(0)).toSet intersect top10Ids("q26_embedding_topk")).size / 10.0
    // nprobe=2 of 16 cells on a near-orthogonal (cell-hostile)
    // distribution; the bar is well above random and fails on a broken
    // cell assignment or ADC
    assert(recall >= 0.4, s"IVF-PQ recall@10 was $recall")

    // the ADC scan is partition-pruned: the probe's LakeScan reads only
    // the files of the probed cells, never the whole code table
    val t = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("idx"), "emb_ivfpq_i8"))
      .asInstanceOf[graft.catalog.LakeTable]
    val files = t.meta.currentFiles
    assert(files.forall(f => f.minValues.get("cell") == f.maxValues.get("cell")),
      "clustered write: every file single-valued on cell")
    val scanned = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    val m = """LakeScan\(lake\.idx\.emb_ivfpq_i8, (\d+) files\)""".r.findFirstMatchIn(scanned)
    assert(m.isDefined, s"expected a lake scan over the IVF-PQ index:\n$scanned")
    assert(m.get.group(1).toInt < files.size,
      s"probe must scan a strict subset of the ${files.size} cell files, " +
        s"scanned ${m.get.group(1)}")
  }

  test("q69 materialized index probe: equals inline PQ, codes-only ADC scan") {
    val viaIndex = SparkEntry.queries("q69_ann_pq_index")(spark, sf)
    val got = viaIndex.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val inline = SparkEntry.queries("q68_ann_pq")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == inline,
      "probing the persisted codes must equal encoding on the fly (deterministic training)")
    // the index is self-describing: the probe loads the codebook from
    // table properties, no retraining, and its ADC shortlist scans ONLY the
    // m-byte codes table
    val leaves = viaIndex.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(leaves.contains("LakeScan(lake.idx.emb_pq_i8"),
      s"expected a lake scan over the codes table:\n$leaves")
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("pq_adc_i8"), "exact integer ADC must run against the stored codes")
    assert(plan.contains("TakeOrderedAndProject"), "shortlist must be a top-k, not a global sort")
  }
}
