package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHashing.cosineSim
import graft.functions.VectorHashing.srpBands

/** Materialized ANN index: the SRP-LSH banded table written THROUGH the
  * catalog as a `PARTITIONED BY (band, bv)` lake table, composing the two
  * halves of the engine — the LLM-pipeline operators generate the index,
  * the catalog's clustered writes + min/max file stats make every probe a
  * partition-pruned lookup.
  *
  * This is the 100 TB shape q38 only promises in a comment: the banding is
  * computed ONCE at build time (one scan of the corpus); a probe then reads
  * only the ≤ `bands` bucket files matching the query vector's band values
  * — file-pruned I/O proportional to bucket size, independent of corpus
  * size. The reference delegates all such compute to the engine
  * (reference: src/catalog/mod.rs:359-361).
  */
object AnnIndex {

  /** Build (replace) the SRP band index for an embedding table. One row per
    * (vector, band); clustered into per-(band, bv) files by the catalog's
    * partitioned write, so every file carries min==max on (band, bv).
    */
  def buildSrpIndex(s: SparkSession, emb: DataFrame, indexTable: String,
      bands: Int = 16, bitsPerBand: Int = 4): Unit = {
    Ann.createIndex(s, indexTable,
      "(band INT, bv INT, vec_id BIGINT, label INT, embedding ARRAY<FLOAT>) PARTITIONED BY (band, bv)",
      Nil)
    emb.select(col("vec_id"), col("label").cast("int").as("label"), col("embedding"),
        posexplode(srpBands(col("embedding"), bands, bitsPerBand)).as(Seq("band", "bv")))
      .select("band", "bv", "vec_id", "label", "embedding")
      .writeTo(indexTable).append()
  }

  /** The query vector's (band, bv) keys — a handful of ints, computed with
    * the same expression the build used (a query-planning constant, like
    * every ANN library's query hash).
    */
  def queryKeys(emb: DataFrame, queryVecId: Long,
      bands: Int = 16, bitsPerBand: Int = 4): Seq[(Int, Int)] =
    emb.filter(col("vec_id") === queryVecId)
      .select(posexplode(srpBands(col("embedding"), bands, bitsPerBand)).as(Seq("band", "bv")))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq

  /** Top-k cosine probe against the materialized index. The (band, bv)
    * disjunction prunes the scan to exactly the matching bucket files via
    * manifest min/max stats — at any corpus size the probe reads only the
    * query's buckets.
    */
  def probeSrpIndex(s: SparkSession, indexTable: String, emb: DataFrame,
      queryVecId: Long, k: Int = 10,
      bands: Int = 16, bitsPerBand: Int = 4): DataFrame = {
    val keys = queryKeys(emb, queryVecId, bands, bitsPerBand)
    val bucketFilter = keys.map { case (b, v) => col("band") === b && col("bv") === v }
      .reduce(_ || _)
    val q = broadcast(
      emb.filter(col("vec_id") === queryVecId).select(col("embedding").as("qe")))
    s.table(indexTable)
      .filter(bucketFilter) // partition-pruned: only the query's bucket files
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("label"), col("embedding"))
      .distinct() // a candidate may collide on several bands
      .crossJoin(q) // single-row query side, broadcast
      .select(col("vec_id"), col("label"),
        cosineSim(col("embedding"), col("qe")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }
}
