package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized inverted index for BM25 retrieval (q201) — the lexical
  * twin of the ANN index tables (AnnIndex/Ann): postings live in a
  * catalog table `(tok, doc_id, tf, len)` PARTITIONED BY bucket(16, tok)
  * — doc length DENORMALIZED into each posting — with a companion length
  * table and the corpus statistics (N, Σlen) pinned in TBLPROPERTIES at
  * build time.
  *
  * Scale shape: a probe reads only the query terms' posting BUCKETS
  * (FilePruner projects the `tok IN (...)` filter onto the bucket
  * stat, so non-matching files are never opened), computes df from just
  * those postings, and scores with NO join at all — pruned postings
  * carry everything BM25 needs, so probe cost tracks matching postings,
  * never corpus size. Refresh follows the q199 discipline: new
  * documents' postings append (disjoint doc_ids), stats re-pin in the
  * same commit.
  */
object Bm25Index {

  /** One pass over the corpus: postings + doc lengths + pinned stats. */
  def build(s: SparkSession, docs: DataFrame, postingsTable: String,
      lenTable: String): Unit = {
    val ns = postingsTable.split('.').dropRight(1).mkString(".")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    s.sql(s"DROP TABLE IF EXISTS $postingsTable")
    s.sql(s"DROP TABLE IF EXISTS $lenTable")
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    s.sql(s"CREATE TABLE $lenTable (doc_id BIGINT, len BIGINT)")
    toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
      .writeTo(lenTable).append()
    // doc length DENORMALIZED into every posting (the impact-ordering
    // trick minus the ordering): the probe then needs NO corpus-sized
    // join at all — pruned postings alone carry everything BM25 needs.
    // Build pays the one-time join; probes are join-free forever.
    s.sql(s"CREATE TABLE $postingsTable (tok STRING, doc_id BIGINT, tf BIGINT, len BIGINT)" +
      " PARTITIONED BY (bucket(16, tok))")
    toks.groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
      .join(s.table(lenTable), "doc_id")
      .select(col("tok"), col("doc_id"), col("tf"), col("len"))
      .writeTo(postingsTable).append()
    // corpus stats pinned as PLAIN LONGS; the probe re-derives avgdl with
    // the same double division the scan-side scorer runs, so the two
    // paths compute identical IEEE values
    val st = s.table(lenTable)
      .agg(count(lit(1)).as("n"), sum("len").as("sum_len")).head()
    s.sql(s"ALTER TABLE $postingsTable SET TBLPROPERTIES (" +
      s"'bm25.n_docs'='${st.getLong(0)}', 'bm25.sum_len'='${st.getLong(1)}')")
  }

  /** Incremental refresh (q202, the q199 discipline on the lexical side):
    * tokenize ONLY the new documents, append their postings and lengths,
    * and re-pin the corpus stats in the SAME pass — O(new docs) work, no
    * rebuild. New postings land bucket-clustered like the originals, so
    * probe pruning is unchanged. BM25's global stats (N, Σlen, df) shift
    * with every refresh BY DESIGN — scores are corpus-relative — and
    * because df is computed at probe time from the postings themselves,
    * a refreshed index answers exactly like a from-scratch build over the
    * union (q202 hash-gates that against the full-corpus oracle).
    * Assumes new doc_ids (the ingest contract).
    */
  def refresh(s: SparkSession, postingsTable: String, lenTable: String,
      newDocs: DataFrame): Unit = {
    // stats advance by the NEW batch's delta over the previously pinned
    // values (pure addition) — O(new docs), never a rescan of history
    val pinned = stats(s, postingsTable)
    val toks = newDocs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val newLens = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val delta = newLens.agg(count(lit(1)).as("n"), sum("len").as("sum_len")).head()
    // POSTINGS land first, lengths second, pin last — three commits, and
    // the order is load-bearing for the torn windows:
    //   crash after postings only: probe sees pinned N == length-table
    //     count, scores the new postings under the OLD stats — visible new
    //     docs with slightly stale idf/avgdl, self-consistent, converges
    //     on the retried refresh (the residual window; cheap detection
    //     would need a postings-side doc count, which is corpus-priced);
    //   crash after postings + lengths: probe's metadata-only length count
    //     exceeds pinned N and it self-heals by re-aggregating — and
    //     because the postings ALREADY landed, the healed N/avgdl describe
    //     docs whose postings are present: probe ≡ a from-scratch rebuild.
    // The reverse order (lengths first) made the self-heal WRONG in its
    // own window: re-aggregated stats counted docs with no postings.
    toks.groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
      .join(newLens, "doc_id")
      .select(col("tok"), col("doc_id"), col("tf"), col("len"))
      .writeTo(postingsTable).append()
    newLens.writeTo(lenTable).append()
    s.sql(s"ALTER TABLE $postingsTable SET TBLPROPERTIES (" +
      s"'bm25.n_docs'='${pinned._1 + delta.getLong(0)}'," +
      s" 'bm25.sum_len'='${pinned._2 + delta.getLong(1)}')")
  }

  private def stats(s: SparkSession, postingsTable: String): (Long, Long) = {
    val props = s.sql(s"SHOW TBLPROPERTIES $postingsTable").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    (props("bm25.n_docs").toLong, props("bm25.sum_len").toLong)
  }

  /** Top-k BM25 over the index — bit-identical to the corpus-scan scorer
    * (LlmPipeline.bm25Scores): same term-score expression, same
    * DECIMAL(18,6) summation, same tie-break.
    */
  def probe(s: SparkSession, postingsTable: String, lenTable: String,
      terms: Seq[String], k: Int): DataFrame = {
    val (pinnedN, pinnedSum) = stats(s, postingsTable)
    // freshness check against a TORN refresh (both appends landed, property
    // pin didn't): the doc count is a metadata-only aggregate (one manifest
    // read, q65's pushdown), so this costs ~nothing; on mismatch the probe
    // self-heals by re-aggregating the length table once — sound because
    // refresh() appends postings BEFORE lengths, so every doc the healed
    // stats count has its postings visible (see refresh's window notes)
    val lenCount = s.table(lenTable).count()
    val (nDocs, sumLen) =
      if (lenCount == pinnedN) (pinnedN, pinnedSum)
      else {
        val st = s.table(lenTable)
          .agg(count(lit(1)).as("n"), sum("len").as("sum_len")).head()
        (st.getLong(0), st.getLong(1))
      }
    // the same arithmetic shape as the scan side's st aggregate:
    // CAST(count AS DOUBLE) and CAST(sum AS DOUBLE) / count
    val n = nDocs.toDouble
    val avgdl = sumLen.toDouble / nDocs.toDouble
    val tf = s.table(postingsTable).filter(col("tok").isin(terms: _*))
    val dfc = tf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(dfc), "tok")
      .withColumn("term_score", LlmPipeline.bm25TermScore(
        col("tf"), col("df"), col("len"), lit(n), lit(avgdl)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        sum("term_score").cast("double").as("score"))
      .select(col("doc_id"), col("n_terms"), col("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }
}
