package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The frozen-parameter ANN family (q190–q192): value-level correctness is
  * gated by the DuckDB oracle (the whole point of freezing the trained
  * parameters — VERDICT r11 #1); here we pin the invariants the oracle
  * can't see: that the Spark side really runs the engine's codegen
  * expressions over the frozen arrays, that the frozen probe agrees with
  * brute force on recall, and that q192's materialized probe equals an
  * inline replay.
  */
class FrozenAnnSpec extends AnyFunSuite {
  import TestSpark._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q190: every returned candidate sits in a probed cell and cells are valid") {
    val rows = run("q190_ivf_frozen").collect()
    assert(rows.length == 10)
    val cells = rows.map(_.getAs[Int]("cell")).toSet
    assert(cells.size <= 2, s"nprobe=2 probe must return <=2 distinct cells, got $cells")
    assert(cells.forall(c => c >= 0 && c < 16))
    // sims strictly ordered desc with vec_id tiebreak
    val sims = rows.map(_.getAs[Double]("sim"))
    assert(sims.sorted(Ordering[Double].reverse).sameElements(sims))
  }

  test("q191: frozen-PQ top-10 recall vs brute-force cosine is >= 6/10") {
    val pq = run("q191_pq_frozen").collect().map(_.getAs[Long]("vec_id")).toSet
    // brute force against the same frozen query vector
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val qv = graft.queries.FrozenAnn.frozenQueryVec
    val brute = emb
      .select(col("vec_id"),
        graft.functions.TextHashing.cosineSim(col("embedding"), lit(qv)).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val recall = (pq intersect brute).size
    assert(recall >= 6, s"PQ recall@10 = $recall/10 vs brute force")
  }

  test("q192: materialized IVF-PQ probe == inline frozen replay (same cells, codes, rerank)") {
    val viaIndex = run("q192_ivfpq_frozen").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"))).toSeq
    // inline replay from the raw parquet with the same frozen parameters
    val (cb, coarse, qv) = graft.queries.FrozenAnn.frozenParams
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("label").cast("int").as("label"), col("embedding"))
    val codec = graft.queries.Ann.FloatCodec(cb, coarse, 16, 16, 16)
    val probed = codec.nearest(qv, 4)
    val lut = graft.functions.PqOps.ipLut(qv, cb, 16, 16)
    val cand = emb.withColumn("cell", codec.cell(col("embedding")))
      .filter(col("cell").isin(probed.map(Integer.valueOf): _*))
    val short = cand.select(col("vec_id"), col("cell"),
        graft.functions.PqOps.pqAdc(
          graft.functions.PqOps.pqEncode(col("embedding"), cb, 16, 16), lut, 16).as("adc"))
      .orderBy(col("adc").desc, col("vec_id")).limit(50).select("vec_id", "cell")
    val inline = emb.join(broadcast(short), "vec_id")
      .select(col("vec_id"), col("cell"),
        graft.functions.TextHashing.cosineSim(col("embedding"), lit(qv)).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(10)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"))).toSeq
    assert(viaIndex == inline,
      "the catalog-materialized probe must answer exactly what the inline pipeline answers")
  }

  test("BottomKByDist: bounded buffer, exact (dist, id) order, merge == global sort") {
    val agg = new graft.functions.BottomKByDist(3)
    val items = Seq((10L, 5L), (11L, 2L), (12L, 5L), (13L, 1L), (14L, 2L), (15L, 9L))
    // reduce one by one
    val b = items.foldLeft(agg.zero)((b, x) => agg.reduce(b, x))
    assert(agg.finish(b) == Seq((13L, 1L), (11L, 2L), (14L, 2L)),
      "bottom-3 by (dist asc, id asc)")
    assert(b.dists.length == 3, "buffer stays bounded at k")
    // split reduce + merge equals the single-pass result (shuffle safety)
    val (l, r) = items.splitAt(3)
    val merged = agg.merge(
      l.foldLeft(agg.zero)((b, x) => agg.reduce(b, x)),
      r.foldLeft(agg.zero)((b, x) => agg.reduce(b, x)))
    assert(agg.finish(merged) == agg.finish(b))
  }

  test("q194: every seed gets exactly 5 neighbors, none of them a seed, dists nondecreasing") {
    val rows = run("q194_knn_join_int8").collect()
    assert(rows.length == 25)
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { g =>
      assert(g.length == 5)
      assert(g.forall(_.getAs[Long]("vec_id") >= 5L), "seeds never match themselves")
      val ds = g.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("dist"))
      assert(ds.sorted.sameElements(ds), "ranks follow distance")
    }
  }

  test("frozen parameters decode to the documented shapes") {
    val (cb, coarse, qv) = graft.queries.FrozenAnn.frozenParams
    assert(cb.length == 16 * 16 * 4, "codebook: m=16 x ksub=16 x subDim=4")
    assert(coarse.length == 16 * 64, "coarse: 16 cells x dim 64")
    assert(qv.length == 64)
    // trained centroids, not sentinels: no empty-cell 1e18 markers survive
    assert(coarse.forall(math.abs(_) < 1e6f), "no empty coarse cell on the training corpus")
  }
}
