package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType, StringType}

import graft.functions.{BloomBuildAgg, BloomProbe, BpeEncode, CosineSim, DoubleOrderBits, FixedSimhash, FreqBuildAgg, HammingDistance, Int8Dist, Int8PqAdc, Int8PqEncode, Int8Quantize, KllBuildAgg, L2Sq, DecodeAudio, DecodeImage, ExplodeHammingPairs, ExplodeNgrams, ExplodePairs, MinHashSignature, PHash64, PqAdc, PqEncode, SampleFrames, SigMatchCount, SimHash, SortedIntersectSize, SrpBands, ThetaBuildAgg, WinnowFingerprints, WordNgrams}

/** Session extensions registering the engine's custom codegen expressions
  * as SQL functions — the Spark-idiomatic extension point
  * (`spark.sql.extensions=graft.GraftExtensions`), so the LLM-pipeline
  * operators are first-class in both SQL text and the Column API
  * (via `call_function`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(getClass.getName, null, name, usage, "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // upsert-shaped MERGE on write.merge.mode='equality' tables commits
    // O(batch) equality deletes instead of scanning the target. Parser-level
    // because the analyzer consumes MergeIntoTable within one fixed-point
    // iteration — injected resolution rules never see it. Every other MERGE
    // parses through untouched to the standard row-level delta path.
    ext.injectParser((session, delegate) =>
      new graft.catalog.EqualityMergeParser(session, delegate))

    // a merge-on-read MERGE from a small local source scans only the target
    // files its ON keys can hit (pre-CBO: see MergeSourceKeys for why)
    ext.injectPreCBORule(_ => graft.catalog.MergeSourceKeys)

    // a filter over a lake scan compiles once per shape, not once per
    // literal value (see LakeFilterParams for why after the transitions)
    ext.injectColumnar(_ => graft.catalog.LakeFilterParams.columnarRule)

    // CDC changelog as a SQL table-valued function:
    //   SELECT * FROM table_changes('cat.ns.t', start_id[, end_id])
    // (the Delta table_changes / Iceberg changelog-scan shape). The spliced
    // plan is the changelog's own distributed plan — parquet scans plus
    // anti-joins — nothing driver-side; end defaults to the current head.
    ext.injectTableFunction((
      FunctionIdentifier("table_changes"),
      info("table_changes",
        "table_changes(table, start_snapshot_id[, end_snapshot_id]) - CDC rows " +
          "(+ _change_type, _commit_snapshot_id) between two snapshots " +
          "(start exclusive, end inclusive; end defaults to the current head)"),
      (children: Seq[Expression]) => {
        def long(e: Expression): Long = e match {
          case Literal(v: Long, LongType) => v
          case Literal(v: Int, IntegerType) => v.toLong
          case other => throw new IllegalArgumentException(
            s"table_changes: literal snapshot id expected, got $other")
        }
        val spark = org.apache.spark.sql.SparkSession.active
        children match {
          case Literal(t, StringType) +: rest if rest.nonEmpty && rest.size <= 2 =>
            val table = String.valueOf(t)
            val start = long(rest.head)
            val end = rest.lift(1).map(long).getOrElse(
              graft.catalog.LakeMaintenance.currentSnapshotId(spark, table))
            graft.catalog.LakeMaintenance.changelog(spark, table, start, end)
              .queryExecution.analyzed
          case other => throw new IllegalArgumentException(
            s"table_changes(table, start_id[, end_id]): bad args $other")
        }
      }))

    ext.injectFunction((
      FunctionIdentifier("minhash_signature"),
      info("minhash_signature",
        "minhash_signature(shingles[, numHashes[, seed]]) - MinHash signature array<long> of an array<string>"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => MinHashSignature(c, 64, 42L)
        case Seq(c, Literal(k: Int, IntegerType)) => MinHashSignature(c, k, 42L)
        case Seq(c, Literal(k: Int, IntegerType), Literal(s: Long, LongType)) =>
          MinHashSignature(c, k, s)
        case Seq(c, Literal(k: Int, IntegerType), Literal(s: Int, IntegerType)) =>
          MinHashSignature(c, k, s.toLong)
        case other => throw new IllegalArgumentException(
          s"minhash_signature(shingles[, numHashes[, seed]]): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("simhash"),
      info("simhash", "simhash(tokens[, seed]) - 64-bit SimHash of an array<string>"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => SimHash(c, 42L)
        case Seq(c, Literal(s: Long, LongType)) => SimHash(c, s)
        case Seq(c, Literal(s: Int, IntegerType)) => SimHash(c, s.toLong)
        case other => throw new IllegalArgumentException(s"simhash(tokens[, seed]): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("fixed_simhash"),
      info("fixed_simhash",
        "fixed_simhash(tokens) - oracle-replayable 64-bit simhash over the fixed literal token-hash table (q33)"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => FixedSimhash(c)
        case other => throw new IllegalArgumentException(s"fixed_simhash(tokens): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("srp_bands"),
      info("srp_bands",
        "srp_bands(embedding, numBands, bitsPerBand[, seed]) - SRP-LSH band values array<int> of an array<float>"),
      (children: Seq[Expression]) => {
        def long(e: Expression): Long = e match {
          case Literal(v: Long, LongType) => v
          case Literal(v: Int, IntegerType) => v.toLong
          case other => throw new IllegalArgumentException(s"srp_bands: literal expected, got $other")
        }
        children match {
          case Seq(c, nb, bpb) => SrpBands(c, long(nb).toInt, long(bpb).toInt, 7L)
          case Seq(c, nb, bpb, s) => SrpBands(c, long(nb).toInt, long(bpb).toInt, long(s))
          case other => throw new IllegalArgumentException(
            s"srp_bands(embedding, numBands, bitsPerBand[, seed]): bad args $other")
        }
      }))

    ext.injectFunction((
      FunctionIdentifier("pq_encode"),
      info("pq_encode",
        "pq_encode(embedding, codebook, m, ksub) - product-quantization codes array<tinyint> of an array<float>"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(cb: org.apache.spark.sql.catalyst.util.ArrayData, ArrayType(FloatType, _)),
            Literal(m: Int, IntegerType), Literal(k: Int, IntegerType)) =>
          PqEncode(c, cb.toFloatArray(), m, k)
        case other => throw new IllegalArgumentException(
          s"pq_encode(embedding, codebook, m, ksub): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("pq_adc"),
      info("pq_adc",
        "pq_adc(codes, lut, ksub) - asymmetric-distance score (approx inner product) of PQ codes against a query lookup table"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(lut: org.apache.spark.sql.catalyst.util.ArrayData, ArrayType(FloatType, _)),
            Literal(k: Int, IntegerType)) =>
          PqAdc(c, lut.toFloatArray(), k)
        case other => throw new IllegalArgumentException(
          s"pq_adc(codes, lut, ksub): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("pq_encode_i8"),
      info("pq_encode_i8",
        "pq_encode_i8(qv, codebook, m, ksub) - integer-exact PQ codes array<tinyint> of an int8-quantized array<int>"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(cb: org.apache.spark.sql.catalyst.util.ArrayData, ArrayType(LongType, _)),
            Literal(m: Int, IntegerType), Literal(k: Int, IntegerType)) =>
          Int8PqEncode(c, cb.toLongArray(), m, k)
        case other => throw new IllegalArgumentException(
          s"pq_encode_i8(qv, codebook, m, ksub): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("pq_adc_i8"),
      info("pq_adc_i8",
        "pq_adc_i8(codes, lut, ksub) - exact integer asymmetric distance of PQ codes against a query lookup table"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(lut: org.apache.spark.sql.catalyst.util.ArrayData, ArrayType(LongType, _)),
            Literal(k: Int, IntegerType)) =>
          Int8PqAdc(c, lut.toLongArray(), k)
        case other => throw new IllegalArgumentException(
          s"pq_adc_i8(codes, lut, ksub): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("int8_quantize"),
      info("int8_quantize",
        "int8_quantize(v, scale) - per-element floor(x*127/scale + 0.5) array<int> of an array<float> (codegen twin of the transform chain)"),
      (children: Seq[Expression]) => children match {
        case Seq(v, s) => Int8Quantize(v, s)
        case other => throw new IllegalArgumentException(
          s"int8_quantize(v, scale): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("int8_dist"),
      info("int8_dist",
        "int8_dist(qv, c) - exact BIGINT sum((256*qv[i]-c[i])^2) of an array<int> against an array<long> grid centroid"),
      (children: Seq[Expression]) => children match {
        case Seq(q, c) => Int8Dist(q, c)
        case other => throw new IllegalArgumentException(
          s"int8_dist(qv, c): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("l2_sq"),
      info("l2_sq", "l2_sq(a, b) - squared euclidean distance of two array<float> vectors"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => L2Sq(a, b)
        case other => throw new IllegalArgumentException(s"l2_sq(a, b): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("bpe_encode"),
      info("bpe_encode",
        "bpe_encode(text, merges) - trained-subword BPE tokens array<string> of a text column"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(ms: org.apache.spark.sql.catalyst.util.ArrayData, ArrayType(StringType, _))) =>
          BpeEncode(c, ms.toObjectArray(StringType).map(_.toString))
        case other => throw new IllegalArgumentException(
          s"bpe_encode(text, merges): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("bloom_build"),
      info("bloom_build",
        "bloom_build(hash[, expectedItems[, fpp]]) - aggregate 64-bit hashes into a serialized Bloom sketch (binary)"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => BloomBuildAgg(c, 1 << 20, 0.01)
        case Seq(c, Literal(n: Int, IntegerType)) => BloomBuildAgg(c, n.toLong, 0.01)
        case Seq(c, Literal(n: Long, LongType)) => BloomBuildAgg(c, n, 0.01)
        case Seq(c, Literal(n: Int, IntegerType), Literal(f: Double, DoubleType)) =>
          BloomBuildAgg(c, n.toLong, f)
        case Seq(c, Literal(n: Long, LongType), Literal(f: Double, DoubleType)) =>
          BloomBuildAgg(c, n, f)
        case other => throw new IllegalArgumentException(
          s"bloom_build(hash[, expectedItems[, fpp]]): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("freq_build"),
      info("freq_build",
        "freq_build(hash[, maxMapSize]) - aggregate 64-bit hashes into a serialized frequent-items sketch (binary)"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => FreqBuildAgg(c, 1 << 14)
        case Seq(c, Literal(m: Int, IntegerType)) => FreqBuildAgg(c, m)
        case other => throw new IllegalArgumentException(
          s"freq_build(hash[, maxMapSize]): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("theta_build"),
      info("theta_build",
        "theta_build(value[, lgK]) - aggregate STRING/LONG values into a serialized theta distinct sketch (binary)"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => ThetaBuildAgg(c, 16)
        case Seq(c, Literal(k: Int, IntegerType)) => ThetaBuildAgg(c, k)
        case other => throw new IllegalArgumentException(
          s"theta_build(value[, lgK]): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("kll_build"),
      info("kll_build",
        "kll_build(value[, k]) - aggregate DOUBLE values into a serialized KLL quantile sketch (binary)"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => KllBuildAgg(c, 200)
        case Seq(c, Literal(k: Int, IntegerType)) => KllBuildAgg(c, k)
        case other => throw new IllegalArgumentException(
          s"kll_build(value[, k]): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("phash64"),
      info("phash64",
        "phash64(payload) - 64-bit DCT perceptual hash of an image payload (NULL for non-images)"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => PHash64(c)
        case other => throw new IllegalArgumentException(
          s"phash64(payload): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("bloom_probe"),
      info("bloom_probe",
        "bloom_probe(sketch, hash) - membership probe of a 64-bit hash against a constant Bloom sketch"),
      (children: Seq[Expression]) => children match {
        case Seq(b, h) => BloomProbe(b, h)
        case other => throw new IllegalArgumentException(
          s"bloom_probe(sketch, hash): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("explode_ngrams"),
      info("explode_ngrams",
        "explode_ngrams(tokens, n) - one row per word n-gram of an array<string> (UDTF)"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(n: Int, IntegerType)) => ExplodeNgrams(c, n)
        case other => throw new IllegalArgumentException(
          s"explode_ngrams(tokens, n): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("winnow_fingerprints"),
      info("winnow_fingerprints",
        "winnow_fingerprints(text, k, w) - MOSS winnowing fingerprints (rolling k-byte hashes, window w) as array<long>"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(k: Int, IntegerType), Literal(w: Int, IntegerType)) =>
          WinnowFingerprints(c, k, w)
        case other => throw new IllegalArgumentException(
          s"winnow_fingerprints(text, k, w): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("explode_pairs"),
      info("explode_pairs",
        "explode_pairs(ids) - all position-ordered pairs (id_a, id_b) of an array<long> (UDTF)"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => ExplodePairs(c)
        case other => throw new IllegalArgumentException(s"explode_pairs(ids): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("explode_hamming_pairs"),
      info("explode_hamming_pairs",
        "explode_hamming_pairs(ids, hashes, maxHamming) - bucket pairs within a hamming radius (UDTF)"),
      (children: Seq[Expression]) => children match {
        case Seq(ids, hs, Literal(m: Int, IntegerType)) => ExplodeHammingPairs(ids, hs, m)
        case other => throw new IllegalArgumentException(
          s"explode_hamming_pairs(ids, hashes, maxHamming): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("sample_frames"),
      info("sample_frames",
        "sample_frames(payload, frameBytes, n) - n evenly-spaced binary frames (stubbed decode)"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(fb: Int, IntegerType), Literal(n: Int, IntegerType)) =>
          SampleFrames(c, fb, n)
        case other => throw new IllegalArgumentException(
          s"sample_frames(payload, frameBytes, n): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("video_frames"),
      info("video_frames",
        "video_frames(payload, n) - n evenly-spaced DECODED frames (PNG payloads) of a multi-frame image container (animated GIF); NULL for non-images"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(n: Int, IntegerType)) => graft.functions.VideoFrames(c, n)
        case other => throw new IllegalArgumentException(
          s"video_frames(payload, n): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("decode_image"),
      info("decode_image",
        "decode_image(payload, grid) - real JDK ImageIO decode to struct(width, height, format, gray grid); NULL for non-images"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(g: Int, IntegerType)) => DecodeImage(c, g)
        case other => throw new IllegalArgumentException(
          s"decode_image(payload, grid): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("decode_audio"),
      info("decode_audio",
        "decode_audio(payload) - real JDK sampled-audio decode (WAV/AIFF/AU) to struct(sample_rate, channels, frames, duration_ms, rms, peak); NULL for non-audio"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => DecodeAudio(c)
        case other => throw new IllegalArgumentException(s"decode_audio(payload): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("word_ngrams"),
      info("word_ngrams",
        "word_ngrams(tokens, n) - space-joined word n-grams array<string> (scalar twin of explode_ngrams)"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(n: Int, IntegerType)) => WordNgrams(c, n)
        case other => throw new IllegalArgumentException(s"word_ngrams(tokens, n): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("sig_match_count"),
      info("sig_match_count",
        "sig_match_count(a, b) - number of equal slots between two array<long> signatures"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => SigMatchCount(a, b)
        case other => throw new IllegalArgumentException(s"sig_match_count(a, b): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two array<float> embeddings"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => CosineSim(a, b)
        case other => throw new IllegalArgumentException(s"cosine_sim(a, b): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("double_order_bits"),
      info("double_order_bits",
        "double_order_bits(v) - order-preserving signed-long key of a double (one-pass histogram bin key)"),
      (children: Seq[Expression]) => children match {
        case Seq(v) => DoubleOrderBits(v)
        case other => throw new IllegalArgumentException(s"double_order_bits(v): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("sorted_intersect_size"),
      info("sorted_intersect_size",
        "sorted_intersect_size(a, b) - |A ∩ B| of two SORTED array<string> by linear merge (codegen twin of size(array_intersect))"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => SortedIntersectSize(a, b)
        case other => throw new IllegalArgumentException(s"sorted_intersect_size(a, b): bad args $other")
      }))

    ext.injectFunction((
      FunctionIdentifier("hamming_distance"),
      info("hamming_distance",
        "hamming_distance(a, b) - differing byte positions of two equal-length strings; NULL on length mismatch"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => HammingDistance(a, b)
        case other => throw new IllegalArgumentException(s"hamming_distance(a, b): bad args $other")
      }))
  }
}
