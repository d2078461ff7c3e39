package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import org.apache.spark.sql.graft.{CosineSimilarity, GramCounts, IntArrayMatchCount, Md5NibbleHashes, Md5NibbleShingleHashes, ShingleHashes, SimHash64, SimHashBits, SortedIntersectCount}

/** Session extension entry point: register graft's native expressions.
  *
  * Users opt in with
  * `spark.sql.extensions=graft.GraftExtensions` (the supported Spark
  * mechanism for third-party Catalyst extensions), or imperatively via
  * [[GraftFunctions.register]] on a live session. Both register exactly
  * [[GraftFunctions.sqlFunctions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftFunctions {
  /** Every graft function callable from SQL: (name, info, builder). */
  private[graft] val sqlFunctions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_cosine", CosineSimilarity.info, c => CosineSimilarity(c(0), c(1))),
    ("graft_sorted_intersect_count", SortedIntersectCount.info,
      c => SortedIntersectCount(c(0), c(1))),
    ("graft_simhash64", SimHash64.info, c => SimHash64(c(0))),
    ("graft_simhash_bits", SimHashBits.info, c => SimHashBits(c(0))),
    ("graft_shingle_hashes", ShingleHashes.info, c => ShingleHashes(c(0))),
    ("graft_gram_counts", GramCounts.info, c => GramCounts(c(0))),
    ("graft_int_array_match_count", IntArrayMatchCount.info,
      c => IntArrayMatchCount(c(0), c(1))),
    ("graft_md5_shingle_hashes", Md5NibbleShingleHashes.info, c => Md5NibbleShingleHashes(c(0))),
    ("graft_md5_hashes", Md5NibbleHashes.info, c => Md5NibbleHashes(c(0))))

  /** Idempotently register graft functions for SQL use on a session. */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
    }

  /** Cosine similarity via the fused native expression: one codegen'd
    * loop per row, no intermediate arrays. Agrees exactly with
    * VectorFunctions.cosine on equal-length double arrays (same
    * accumulation order); float inputs are cast to double BEFORE the
    * multiply here (vs float-multiply-first in the zip_with form) — see
    * CosineSimilarity's scaladoc for the corner cases.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      CosineSimilarity(
        org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))

  /** |A ∩ B| of two sorted+distinct long arrays via the allocation-free
    * merge expression — equals `size(array_intersect(a, b))` on such
    * inputs (see SortedIntersectCount's scaladoc for the precondition).
    */
  def sortedIntersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      SortedIntersectCount(
        org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))

  /** `localCheckpoint` without inheriting the origin plan's stats —
    * REQUIRED in per-iteration checkpoint loops: the inherited
    * sizeInBytes is a product over the origin plan's joins, so
    * re-checkpointing a joined frame each round doubles the stats
    * BigInt's bit-length per round and the DRIVER ends up multiplying
    * million-digit integers during planning (see
    * Bridge.localCheckpointFreshStats for the measurement). Replaces
    * the inherited product with the RDD's materialized size.
    */
  def localCheckpointFreshStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graft.Bridge.localCheckpointFreshStats(df)

  /** 64-bit SimHash of a token array in one map-side pass — equals the
    * explode → per-bit-sum aggregation with `xxhash64` token hashes
    * (seed 42), with zero shuffle (see SimHash64's scaladoc).
    */
  def simhash64(toks: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      SimHash64(org.apache.spark.sql.graft.Bridge.expression(toks)))

  /** 64-bit SimHash over PRE-COMPUTED token hashes (array<long>) —
    * same ±1 accumulation and strict `> 0` bit convention as
    * [[simhash64]], for hash functions an engine-portable oracle can
    * reproduce (see SimHashBits' scaladoc).
    */
  def simhashBits(hashes: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      SimHashBits(org.apache.spark.sql.graft.Bridge.expression(hashes)))

  /** Full MinHash signature over hashed shingles in one traversal —
    * position i equals `array_min(transform(sh, h => pmod(pmod(h, p) *
    * a(i) + b(i), p)))` as int (see MinHashSignature's scaladoc and
    * precondition). Column-API only: the coefficient vectors are plain
    * constructor parameters.
    */
  def minhashSignature(sh: Column, a: Array[Long], b: Array[Long]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.graft.MinHashSignature(
        org.apache.spark.sql.graft.Bridge.expression(sh), a, b))

  /** All `bands` LSH band-bucket keys of a MinHash signature in one
    * constant-size loop — position b equals `hash(sig(b*rpb).cast(
    * "long"), …)` (murmur3 fold, seed 42). Exists because the composed
    * form's generated code grows with bands × rowsPerBand and crosses
    * HotSpot's 8 KB JIT limit at scale-knob band counts (see
    * MinHashBandBuckets' scaladoc). Column-API only.
    *
    * Precondition: `sig` must carry at least bands × rowsPerBand
    * NON-NULL ints (minhashSignature's output always does). A shorter
    * array throws IllegalArgumentException — unlike the composed
    * GetArrayItem form's silent null — in both eval paths; null
    * elements are undefined behavior and must not be passed.
    */
  def minhashBandBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.graft.MinHashBandBuckets(
        org.apache.spark.sql.graft.Bridge.expression(sig), bands, rowsPerBand))

  /** All `tables` sampled-bit LSH keys of a simhash in one
    * constant-size loop — position t equals
    * `Σ_i shiftleft(shiftright(sh, pos(t)(i)).bitwiseAND(1), i)`.
    * Exists because the composed form's generated method grows with
    * tables × bitsPerTable and sits 7× over HotSpot's silent 8 KB JIT
    * limit at the DEFAULT knobs (see SimHashLshKeys' scaladoc).
    * Column-API only: the position table is a plain constructor
    * parameter.
    */
  def simhashLshKeys(sh: Column, positions: Array[Array[Int]]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.graft.SimHashLshKeys(
        org.apache.spark.sql.graft.Bridge.expression(sh), positions))

  /** Per-document counts of `terms` among the BM25 tokens of `text`,
    * as `array<int>` aligned with `terms` — equals counting
    * `explode(TextFunctions.tokenizeBm25(text))` per term, without the
    * explode (see Bm25TermCounts' scaladoc). Column-API only: the term
    * list is a constructor parameter.
    */
  def bm25TermCounts(text: Column, terms: Seq[String]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.graft.Bm25TermCounts(
        org.apache.spark.sql.graft.Bridge.expression(text), terms))

  /** Per-position `Σ w·v / Σ w` of a list of vectors (any numeric
    * element type, cast to double) paired by index with `weights` —
    * the query-vector kernel over `collect_list`ed example rows (see
    * WeightedMeanVector's scaladoc).
    */
  def weightedMeanVector(vectors: Column, weights: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.graft.WeightedMeanVector(
        org.apache.spark.sql.graft.Bridge.expression(vectors.cast("array<array<double>>")),
        org.apache.spark.sql.graft.Bridge.expression(weights.cast("array<double>"))))

  /** Sorted distinct xxhash64 values of all character 3-grams in one
    * byte-level pass — equals `array_sort(array_distinct(transform(
    * sequence(1, greatest(length(t) - 2, 1)), i -> xxhash64(substr(t,
    * i, 3)))))` including the short-string corner (see ShingleHashes'
    * scaladoc).
    */
  def shingleHashes(text: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      ShingleHashes(org.apache.spark.sql.graft.Bridge.expression(text)))

  /** Per-document character 3-gram counts as sorted (g, cnt) structs —
    * exploding it equals the explode-every-occurrence + groupBy-count
    * formulation, with the aggregation inside the scan (see
    * GramCounts' scaladoc).
    */
  def gramCounts(text: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      GramCounts(org.apache.spark.sql.graft.Bridge.expression(text)))

  /** Sorted distinct md5-nibble 60-bit values of all character 3-grams
    * in one pass — equals `array_sort(array_distinct(transform(
    * sequence(1, greatest(length(t) - 2, 1)), i ->
    * CAST(conv(substr(md5(substr(t, i, 3)), 1, 15), 16, 10) AS
    * BIGINT))))` including the short-string corner (see
    * Md5NibbleShingleHashes' scaladoc).
    */
  def md5ShingleHashes(text: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.graft.Md5NibbleShingleHashes(
        org.apache.spark.sql.graft.Bridge.expression(text)))

  /** Element-wise md5-nibble 60-bit values of a string array — equals
    * `transform(toks, t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS
    * BIGINT))` with null elements mapping to null.
    */
  def md5Hashes(toks: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.graft.Md5NibbleHashes(
        org.apache.spark.sql.graft.Bridge.expression(toks)))

  /** Positions where two int arrays agree (over the shorter length) —
    * equals `size(filter(zip_with(a, b, _ === _), m => m))` on
    * equal-length null-free arrays, allocation-free.
    */
  def intArrayMatchCount(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      IntArrayMatchCount(
        org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))

  /** Greedy MMR tag selection over (cands, sims) arrays in plain loops
    * — exactly KeywordTags.mmrSelection's fold (see MmrSelect's
    * scaladoc for the positional struct contract). Column-API only:
    * the scalar parameters are constructor values.
    */
  def mmrSelect(cands: Column, sims: Column,
                maxTags: Int, lambda: Double, maxSimSq: Double): Column =
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.graft.MmrSelect(
        org.apache.spark.sql.graft.Bridge.expression(cands),
        org.apache.spark.sql.graft.Bridge.expression(sims),
        maxTags, lambda, maxSimSq))

  /** Keyword→basket assignment over (cands, sims, tags) arrays in one
    * pass — exactly the three-join + rank-window relational form (see
    * BasketAssign's scaladoc). Column-API only.
    */
  def basketAssign(cands: Column, sims: Column, tags: Column,
                   minSimSq: Double): Column =
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.graft.BasketAssign(
        org.apache.spark.sql.graft.Bridge.expression(cands),
        org.apache.spark.sql.graft.Bridge.expression(sims),
        org.apache.spark.sql.graft.Bridge.expression(tags),
        minSimSq))
}
