package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Deduplication operators for an LLM training-data pipeline, over the
  * `documents` (text) and `embeddings` (vector) corpora.
  *
  * The reference dedups at ingest via content hashing
  * (`src/rust/common/src/hashing.rs` — document_id from content digest);
  * the near-dup family (MinHash/SimHash/Jaccard/embedding-cosine) is the
  * scale-path extension a 100 TB pipeline needs.
  *
  * Scale posture: every candidate-generation step is a key-equality
  * join (hash group, LSH band bucket, simhash chunk block) — shuffles
  * are proportional to candidate pairs, never |corpus|².
  */
object Dedup {

  /** Exact dedup via content hash: every doc maps to the min doc_id of
    * its md5 group. One groupBy shuffle on a 16-byte key. The grouping
    * key pairs the digest with the text LENGTH: chosen-prefix md5
    * collisions are practically constructible, and a 100 TB web corpus
    * can contain adversarial content — two colliding docs of different
    * length stay distinct (the dumped `content_hash` column is still
    * the bare digest; only the canonical grouping is hardened, so the
    * output changes only in the presence of an actual collision).
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("content_hash"),
        length(col("text")).as("clen"))
      .withColumn("canonical_id",
        min(col("doc_id")).over(Window.partitionBy(col("content_hash"), col("clen"))))
      .withColumn("is_dup", (col("doc_id") =!= col("canonical_id")).cast("int"))
      .select(col("doc_id"), col("content_hash"), col("canonical_id"), col("is_dup"))
      .orderBy(col("doc_id"))

  /** Distinct character 3-gram shingles (the granularity at which this
    * corpus actually has near-dup structure; word shingles are a
    * parameter swap). `substr` needs a column position, so this is an
    * `expr` — still fully codegen'd.
    */
  private val shinglesExpr: Column =
    expr("array_distinct(transform(sequence(1, greatest(length(text) - 2, 1)), i -> substr(text, i, 3)))")

  // MinHash family: min of (a*h + b) mod p per position over pre-hashed
  // shingles (classic universal hash, p = 2^31-1; hashes reduced mod p
  // BEFORE the multiply, so even full-range a < p keeps the product
  // < 2^62 — Spark 4 runs ANSI mode and a long overflow would throw;
  // see minhashCoeffs for why full-range multipliers are load-bearing).
  // All positions are computed by the one-traversal MinHashSignature
  // expression; DedupSpec keeps the composed array_min(transform(...))
  // twin as the equality oracle.

  /** MinHash + LSH near-dup pairs: `bands` bands of `rows` signature
    * positions each; docs sharing any band bucket are candidates;
    * candidates are verified with true shingle-set Jaccard.
    *
    * The band join shuffles on (band, bucket-hash) — at 100 TB the
    * candidate volume, not n², drives cost (GPL-free standard MinHash
    * LSH as in Broder '97 / MMDS ch.3).
    */
  def dedupMinhash(spark: SparkSession, dir: String,
                   bands: Int = 12, rowsPerBand: Int = 3,
                   jaccardThreshold: Double = 0.6): DataFrame =
    dedupMinhashOf(Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      bands, rowsPerBand, jaccardThreshold)

  /** §3 `*Of` form of dedup_minhash over a (doc_id, text) frame.
    *
    * `bucketSampleMod` is a MEASUREMENT knob (CapSweep only, default 1
    * = off, never set by a registered query): keep only band buckets
    * with hash ≡ 0 (mod K). Per-retained-bucket occupancy — the
    * quantity that drives the capped family's coverage loss — is
    * EXACTLY the full corpus's (density-matched), while the pair
    * family shrinks ~K×, which is what makes the full family's
    * decade-3 pair set materializable for an ABSOLUTE coverage anchor
    * (round-15 board #3; CAPSWEEP_r14 could only impute it).
    */
  def dedupMinhashOf(corpus: DataFrame,
                     bands: Int = 12, rowsPerBand: Int = 3,
                     jaccardThreshold: Double = 0.6,
                     bucketSampleMod: Int = 1,
                     // pair-SINK mode (round 15): composition consumers
                     // (corpus pipelines, clustering) re-shuffle the
                     // pair set on their own keys — the global sort is
                     // pure cost there, mid-plan where the registry's
                     // top-sort strip cannot reach
                     ordered: Boolean = true): DataFrame =
    minhashCore(corpus, bands, rowsPerBand, jaccardThreshold,
      t => graft.GraftFunctions.shingleHashes(t),
      (sigName, nb, rpb) =>
        graft.GraftFunctions.minhashBandBuckets(col(sigName), nb, rpb),
      bucketSampleMod = bucketSampleMod, ordered = ordered)

  /** Bucket-window-capped fast family (see minhashCore's bucketWindow
    * note): candidates LINEAR in bucket size, for the clustering
    * consumers whose downstream needs components, not the complete
    * intra-cluster pair enumeration. W-capped output is a verified
    * SUBSET of [[dedupMinhashOf]]'s pair set (DedupSpec pins subset +
    * cluster-keep agreement). The decade-3 one-box default is W=8:
    * measured at ×100 one-box the capped family completes in 78.4 s
    * where the uncapped pair stage dies on disk (>60 GB estimate-join
    * spill).
    *
    * CONTRACT — what the cap does and does not promise. The emitted
    * pair set is exactly "each bucket member × its next W bucket-mates
    * in doc_id order, Jaccard-verified" — a deterministic, oracle-able
    * definition ([[dedupMinhashCappedOracleOf]] carries the hard
    * DuckDB twin). It is NOT a guaranteed-connectivity contract: the
    * W-overlap chain links two bucket-mates only through INTERMEDIATE
    * verified pairs, so a bucket where consecutive-by-doc_id members
    * fall below the Jaccard threshold while distant members sit above
    * it can split a cluster the full family would merge (chain break).
    * On real near-dup clusters — whose bucket-mates are mutually
    * similar by construction — breaks are rare; DedupSpec pins a ≥0.9
    * cluster-keep agreement floor vs the full family at test SF, a
    * MEASURED floor, not a bound. The measured W curve
    * (CAPSWEEP_r12.txt, graft.CapSweep, scale-stable across sf0.1/×10):
    * keep agreement ≥ 0.978 at every W ≥ 1; the real cost axis is
    * COVERAGE — docs whose only above-threshold partners sit further
    * than W away in bucket doc_id order are silently KEPT (never
    * wrongly dropped): 0.90 of the full family's clustered docs at
    * W=8, 0.95 at W=32 (~2× runtime, still linear). COVERAGE LEVERS,
    * measured head-to-head in CAPSWEEP_r13.txt (post the band-buckets
    * JIT fix — the first grid measured an interpreter artifact):
    * MULTI-PASS WINS — at equal coverage ~0.955, W=8 passes=3 emits
    * 40 % fewer verified pairs than W=32 (1.48M vs 2.46M at ×10,
    * deterministic — pairs are what the downstream clustering
    * shuffles) at half-or-par wall, because a new pass re-draws
    * bucket composition while a wider window spends candidates inside
    * the same doc_id ordering. Settings ladder: W=8 → 0.90, +passes=2
    * → 0.94, +passes=3 → 0.955 (preferred over W=32), passes=4 or
    * W=16 passes=2 → 0.965+. Consumers that need the complete pair
    * enumeration use [[dedupMinhashOf]] and pay its quadratic
    * intra-cluster cost.
    */
  def dedupMinhashCappedOf(corpus: DataFrame,
                           bands: Int = 12, rowsPerBand: Int = 3,
                           jaccardThreshold: Double = 0.6,
                           window: Int = 8,
                           // pair-SINK mode: at decade 3 the output is
                           // millions of pairs and a caller writing them
                           // partitioned (or feeding dedupClustersOf,
                           // which re-shuffles anyway) has no use for
                           // the presentation-ordered global sort —
                           // ordered=false skips it (measured cost in
                           // SURVEY §6 round 12)
                           ordered: Boolean = true,
                           // coverage knob (round 13): P independent
                           // band-seed passes over the SAME shingle
                           // scan; candidates are the union of the
                           // per-pass W-window sets, the output a
                           // deterministic superset of passes = 1
                           // (see minhashCore's multi-pass note and
                           // the measured coverage-vs-passes curve in
                           // CAPSWEEP_r13.txt / SURVEY §4)
                           passes: Int = 1,
                           // CapSweep-only density-matched sampling
                           // knob — see dedupMinhashOf's scaladoc
                           bucketSampleMod: Int = 1): DataFrame =
    minhashCore(corpus, bands, rowsPerBand, jaccardThreshold,
      t => graft.GraftFunctions.shingleHashes(t),
      (sigName, nb, rpb) =>
        graft.GraftFunctions.minhashBandBuckets(col(sigName), nb, rpb),
      bucketWindow = window, ordered = ordered, passes = passes,
      bucketSampleMod = bucketSampleMod)

  /** Registered decade-3 form of the capped family over the documents
    * table (W = 8, the measured one-box default). Rows-only posture,
    * same §5 adjudication as dedup_minhash: the xxhash64/murmur3 hash
    * family is not DuckDB-reproducible; the md5 capped twin below is
    * the hard-oracled certificate for the W-window candidate policy.
    */
  def dedupMinhashCapped(spark: SparkSession, dir: String,
                         window: Int = 8): DataFrame =
    dedupMinhashCappedOf(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      window = window)

  /** Registered multi-pass form of the capped family (round 13):
    * P = 2 independent band-seed passes at W = 8 — the measured
    * coverage setting (CAPSWEEP_r13.txt) for a decade-3 run that wants
    * the capped family's linear cost but more of the full family's
    * clustered docs. Same rows-only posture as dedup_minhash_capped;
    * the md5 multi twin below hard-oracles the multi-pass arithmetic
    * (per-pass coefficient tables, disjoint global band ids, max-over-
    * passes estimate) cross-engine.
    */
  def dedupMinhashCappedMulti(spark: SparkSession, dir: String,
                              window: Int = 8, passes: Int = 2): DataFrame =
    dedupMinhashCappedOf(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      window = window, passes = passes)

  /** Oracle-portable md5-nibble twin of the multi-pass capped family —
    * the capped md5 twin with `passes` independent seed-(7+p)
    * coefficient families; its DuckDB oracle is GENERATED from the
    * same per-pass tables and the same max-over-passes estimate
    * (SparkEntry.dedupMinhashCappedOracleSqlFor(passes = P)), so the
    * multi-pass candidate policy itself is certified cross-engine.
    */
  def dedupMinhashCappedMultiOracle(spark: SparkSession, dir: String,
                                    window: Int = 8,
                                    passes: Int = 2): DataFrame =
    dedupMinhashCappedOracleOf(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      window = window, passes = passes)

  /** Oracle-portable md5-nibble twin of the W-capped family — the SAME
    * shared core as [[dedupMinhashOracleOf]] (md5-nibble shingle
    * hashes, plain value-tuple band keys) with the W-window candidate
    * policy. Its DuckDB oracle is GENERATED from the same coefficient
    * table AND the same rank-window definition
    * (SparkEntry.dedupMinhashCappedOracleSqlFor: row_number per
    * (band, bucket) + W rank-offset join), so the capped candidate
    * policy itself — not just the hash family — is certified
    * cross-engine.
    */
  def dedupMinhashCappedOracle(spark: SparkSession, dir: String,
                               window: Int = 8): DataFrame =
    dedupMinhashCappedOracleOf(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      window = window)

  /** The oracle-portable band-bucket keys: per band, the plain
    * signature-value tuple joined as a string. One HOF lambda regardless
    * of band count (constant generated-code size; value-identical to the
    * per-band concat_ws unroll). */
  private val portableBandBuckets: (String, Int, Int) => Column = (sigName, nb, rpb) => expr(
    s"transform(sequence(0, ${nb - 1}), b -> concat_ws(':', " +
      (0 until rpb).map(r => s"cast(element_at($sigName, b*$rpb+$r+1) as string)")
        .mkString(", ") + "))")

  /** §3 `*Of` form of dedup_minhash_capped_oracle. */
  def dedupMinhashCappedOracleOf(corpus: DataFrame,
                                 bands: Int = 12, rowsPerBand: Int = 3,
                                 jaccardThreshold: Double = 0.6,
                                 window: Int = 8,
                                 passes: Int = 1,
                                 ordered: Boolean = true): DataFrame =
    minhashCore(corpus, bands, rowsPerBand, jaccardThreshold,
      // native one-pass md5-nibble shingle stage (round 16) — the
      // composed transform allocated a hex string + substring + radix
      // parse per gram and was the family's dominant CPU (executor
      // sampling); Md5NibbleShingleHashes is bit-identical
      // (NativeExpressionPropSpec) and the generated DuckDB oracle
      // recomputes md5 itself, so the cert is unaffected
      _ => graft.GraftFunctions.md5ShingleHashes(col("text")),
      portableBandBuckets,
      bucketWindow = window, passes = passes, ordered = ordered)

  /** Oracle-portable twin of dedup_minhash (same recipe as
    * [[dedupSimhashOracle]], registered because it measured UNDER the
    * round-8 board's 2× cost criterion: the md5-nibble shingle stage
    * is 3.4 s vs 0.3 s at sf0.1, ~10 s total vs the 6.9 s fast path):
    * shingles hash to 60-bit md5-nibble integers, the band bucket is
    * the PLAIN signature-value tuple as a string key (murmur3 `hash()`
    * is not DuckDB-reproducible; the tuple key yields the identical
    * candidate set — hash() only compressed it), everything else —
    * exact-dup pre-pass, seeded coefficient table, estimate cut,
    * exact-Jaccard verify, group expansion — is the SAME shared core.
    * The DuckDB oracle is GENERATED from the same coefficient array
    * ([[SparkEntry.dedupMinhashOracleSql]]) so the two sides cannot
    * drift.
    */
  def dedupMinhashOracle(spark: SparkSession, dir: String,
                         bands: Int = 12, rowsPerBand: Int = 3,
                         jaccardThreshold: Double = 0.6): DataFrame =
    dedupMinhashOracleOf(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      bands, rowsPerBand, jaccardThreshold)

  /** §3 `*Of` form of dedup_minhash_oracle. */
  def dedupMinhashOracleOf(corpus: DataFrame,
                           bands: Int = 12, rowsPerBand: Int = 3,
                           jaccardThreshold: Double = 0.6,
                           ordered: Boolean = true): DataFrame =
    minhashCore(corpus, bands, rowsPerBand, jaccardThreshold,
      // native one-pass md5-nibble shingle stage (round 16; see the
      // capped twin above — bit-identical, oracle unaffected)
      _ => graft.GraftFunctions.md5ShingleHashes(col("text")),
      portableBandBuckets,
      ordered = ordered)

  /** Universal-hash coefficient table shared by both minhash variants
    * AND the generated DuckDB oracle — seed 7, a ∈ [1, p−1],
    * b ∈ [0, p−1] with p = 2³¹−1.
    *
    * FULL-RANGE multipliers are load-bearing (round-9 fix, found by
    * the md5 oracle twin): the original a ≤ 10⁶ slice — chosen for an
    * overflow margin it never actually needed, since (p−1)·(p−1) <
    * 2⁶² is already ANSI-safe — covers 0.05% of the multiplier space
    * and cannot mix the FIXED constellation of xxhash64-of-3-gram
    * values mod p. Measured on the corpus at sf0.01: signature match
    * rate 0.494 for pairs of true Jaccard 0.588 (md5-nibble values:
    * 0.596), dragging dedup_minhash recall vs brute-force truth to
    * 0.744 where MinHash theory promises ~0.95. With a ∈ [1, p−1]
    * both value families measure ~0.60 match at J 0.585 and recall
    * recovers (DedupSpec pins the recall floor).
    */
  private[graft] def minhashCoeffs(n: Int, seed: Long = 7L): Array[(Long, Long)] = {
    val p = 2147483647L
    val rng = new java.util.Random(seed)
    Array.fill(n)((math.abs(rng.nextLong()) % (p - 1L) + 1L,
      math.abs(rng.nextLong()) % p))
  }

  /** The shared MinHash+LSH core — variant axes: the shingle hasher
    * (xxhash64 native expression vs md5-nibble fold), the band
    * bucket key (murmur3 compression vs portable value tuple), and
    * the per-bucket candidate policy (`bucketWindow`, below).
    *
    * bucketWindow = 0 (default, the registered contract): every pair
    * inside a band bucket is a candidate — k members generate k²/2,
    * the complete pair SET. bucketWindow = W > 0: each member pairs
    * only with the next W members in doc_id order inside its bucket —
    * k·W candidates, LINEAR in bucket size. The capped form exists
    * because the pair set itself is quadratic in near-dup cluster
    * size: at ×100 the synthetic corpus's ~100-member clusters put
    * ~10⁹ candidates through the estimate join, whose shuffle carries
    * a signature array per candidate — measured >60 GB of spill on
    * one box (round 11; it also exposed that the round-10 ×100
    * dedup_minhash "measurement" had actually died on disk, timed as
    * a success by the old Bench). For the CLUSTERING consumer
    * (dedup_clusters, the corpus pipeline) the capped family is
    * connectivity-preserving inside every bucket (members form a
    * W-overlap chain; any two bucket-mates are linked through
    * intermediate verified pairs when the bucket is one true cluster)
    * and the downstream keep/drop needs components, not the pair
    * enumeration — the same recall-for-cost trade as
    * dedup_simhash_lsh, spec-pinned in DedupSpec.
    */
  private def minhashCore(corpus: DataFrame,
                          bands: Int, rowsPerBand: Int,
                          jaccardThreshold: Double,
                          shingleHashesOf: Column => Column,
                          // per-pass band-bucket ARRAY generator:
                          // (signature column name, bands, rowsPerBand)
                          // → array of `bands` bucket keys, position =
                          // band index within the pass. MUST generate
                          // constant-size code in `bands` (see the
                          // buckets note below).
                          bandBuckets: (String, Int, Int) => Column,
                          bucketWindow: Int = 0,
                          ordered: Boolean = true,
                          passes: Int = 1,
                          // keep band buckets with xxhash64 ≡ 0 (mod K)
                          // — CapSweep's density-matched subsample
                          bucketSampleMod: Int = 1): DataFrame = {
    // Exact-dup pre-pass — the reference's ingest-time content-hash
    // dedup (src/rust/common/src/hashing.rs) composed in front of the
    // near-dup path: shingling, signatures, banding, and verification
    // run on ONE canonical representative per distinct text; the pair
    // set expands back through the hash groups afterwards (identical
    // text ⇒ identical shingle set ⇒ identical signatures and Jaccard,
    // so the expanded output is exactly the all-members pair set —
    // DedupSpec locks the equivalence). At 100 TB exact-dup clusters
    // are massive and this removes their k² share from every LSH
    // stage; the slim (doc_id, rep) map is the only full-corpus frame.
    // Group key = (md5, length): an adversarial chosen-prefix md5
    // collision between two distinct documents would otherwise merge
    // them into one hash group, suppress their real LSH comparison, and
    // fabricate jaccard=1.0 pairs for every group member. md5
    // collisions preserve length only when constructed to, so the
    // length pairing closes the practical attack at zero extra cost
    // (both values are computed in the same scan projection).
    val members = corpus
      .select(col("doc_id"), md5(col("text")).as("ch"),
        length(col("text")).as("clen"))
      .withColumn("rep",
        min(col("doc_id")).over(Window.partitionBy(col("ch"), col("clen"))))
      .select(col("doc_id"), col("rep"))
      .localCheckpoint()
    // Shingles are hashed to longs up front: the minhash family and the
    // exact-Jaccard verification both run on int arrays (≈10× cheaper
    // than string sets; hash collisions are vanishingly rare and
    // deterministic). SORTED so the verify stage can use the
    // allocation-free merge-count expression.
    // Checkpointed: the hashed shingle table feeds signature computation
    // AND both stage-2 join-backs — without this the xxhash64-over-3-grams
    // scan recomputes three times, and AQE sees estimated (not exact)
    // sizes for the join-backs, which let runtime join-strategy flips
    // inflate run-to-run variance up to 4× (round-6 fresh-JVM probes on
    // identical code/data: 21-130 s swings; exact sizes pin the plan).
    // Explicit width (the session's shuffle parallelism) BEFORE the
    // shingle projection: AQE coalesces the semi-join's shuffle read on
    // COMPRESSED BYTES — a slim (doc_id, text) frame reads as one
    // advisory-sized partition — but the work hanging off each row
    // (shingle hashing, 36-position signatures, band explode, the
    // candidate join) is orders of magnitude heavier than its bytes,
    // and localCheckpoint FREEZES whatever layout the join emitted, so
    // every downstream stage inherits it. Measured at ×10 SF: the whole
    // near-dup pipeline ran as ONE 400-second task (load ~1 on 32
    // cores) until this repartition; an explicit partition count is
    // exempt from AQE coalescing by contract.
    val shufP = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val docs = corpus
      .join(members.filter(col("doc_id") === col("rep")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .repartition(shufP, col("doc_id"))
      .select(col("doc_id"), shingleHashesOf(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint()

    // Signature values live in [0, 2^31-1) by construction (mod p), so
    // they store and SHUFFLE as ints — the estimate stage ships two
    // 36-value signatures per candidate pair, and halving their width
    // halves that exchange. The graft minhash expression computes all
    // 36 positions in ONE traversal of the shingle array (the composed
    // array_min(transform(...)) per position walks and copies the array
    // 36 times per row — DedupSpec pins positionwise equality). Band
    // buckets hash the LONG view of each value (murmur3 folds ints and
    // longs differently), keeping bucket values — and thus the
    // candidate set — bit-identical to the original long-array
    // formulation.
    // Multi-pass (passes > 1): P INDEPENDENT coefficient families —
    // pass p reseeds the whole universal-hash table with seed 7+p, so
    // its bands bucket on statistically independent signatures. For
    // the W-capped policy this is the coverage knob (round-13 board
    // #1): a doc whose only above-threshold partners sit further than
    // W away in one pass's bucket order gets P independent chances at
    // a nearer slot. Signature cost is the same arithmetic as one
    // P·bands-band family (each pass traverses the SHARED hashed
    // shingle array once), and the shingle scan — the dominant cost —
    // is computed once for all passes; candidates are the exact UNION
    // of the per-pass candidate sets (global band ids p·bands+bIdx
    // keep passes' buckets disjoint).
    val passCoeffs = (0 until passes).map(p =>
      minhashCoeffs(bands * rowsPerBand, 7L + p))
    val sigCols = passCoeffs.zipWithIndex.map { case (c, p) =>
      graft.GraftFunctions.minhashSignature(
        col("sh"), c.map(_._1), c.map(_._2)).as(s"sig_$p")
    }
    // Per-pass bucket ARRAYS (round 13) instead of an unrolled array
    // of (band, bucket) structs: the unrolled form inlines
    // bands × rowsPerBand murmur3 calls into ONE generated method,
    // which crosses HotSpot's 8 KB DontCompileHugeMethods limit at
    // scale-knob band counts (bands = 24, or any passes > 1) and drops
    // the whole signature projection to the bytecode interpreter —
    // measured 46× the stage CPU at ×10 (§6 round-13 forensic). The
    // bucket arrays come from constant-code-size generators (the
    // native loop for the murmur3 family, one HOF lambda for the
    // portable tuple family), and flatten-concatenation makes the
    // posexplode position the GLOBAL band id p·bands + bIdx directly.
    val sig = docs
      .select(col("doc_id") +: col("sh") +: sigCols: _*)
      .withColumn("buckets", flatten(array(
        (0 until passes).map(p => bandBuckets(s"sig_$p", bands, rowsPerBand)): _*)))
      .localCheckpoint() // signatures computed once, reused by 3 joins

    // Candidate generation shuffles ONLY (band, bucket, id); signature
    // and shingle arrays come back via plain equi-joins on doc id —
    // deliberately UNHINTED so AQE broadcasts the per-doc side only
    // while it fits, and falls back to a shuffle join beyond that. A
    // forced broadcast here would ship the whole corpus's shingle
    // table to every executor at 100 TB.
    val explodedAll = sig.select(col("doc_id"),
      posexplode(col("buckets")).as(Seq("band", "bucket")))
    // Density-matched bucket subsample (measurement only): dropping
    // whole (band, bucket) keys leaves every RETAINED bucket's member
    // list — and so the per-bucket candidate mechanics the W cap acts
    // on — bit-identical to the unsampled run's.
    val exploded =
      if (bucketSampleMod <= 1) explodedAll
      else explodedAll.filter(
        pmod(xxhash64(col("band"), col("bucket")), lit(bucketSampleMod)) === 0)

    // The bucket self-join is skew-SALTED: a near-dup cluster of k docs
    // puts all k members in one (band, bucket) key, and the k² pair
    // generation would otherwise run inside a single task (measured as
    // 16-59 s run-to-run swings at sf0.1, where clusters reach ~10³
    // docs — one straggler task serializes the stage). Salting the left
    // side by doc_id and replicating the right side SALT times spreads
    // each hot bucket's pair generation across SALT tasks; the
    // replicated side is the exploded (band, bucket, id) table — tiny —
    // so the extra shuffle is SALT × |exploded|, never corpus-squared.
    val SALT = 8
    val left = exploded.withColumn("salt", pmod(col("doc_id"), lit(SALT)))
    val right = exploded.select(col("band"), col("bucket"), col("doc_id").as("b"))
      .withColumn("salt", explode(array((0 until SALT).map(lit(_)): _*)))
    val rawCandidates =
      if (bucketWindow <= 0)
        left.join(right, Seq("band", "bucket", "salt"))
          .filter(col("doc_id") < col("b"))
          .select(col("doc_id").as("a"), col("b"))
      else {
        // W-window linking: rank bucket members by doc_id, pair each
        // with ranks r+1..r+W via an EQUI-join on (band, bucket, rank)
        // — a range predicate on a bucket join would materialize the
        // k² intermediate this path exists to avoid. Shuffle ∝ k·W.
        // (The per-bucket rank window is partitioned — never global.)
        val ranked = exploded.withColumn("r", row_number().over(
          Window.partitionBy(col("band"), col("bucket"))
            .orderBy(col("doc_id"))))
        val lft = ranked
          .withColumn("d", explode(sequence(lit(1), lit(bucketWindow))))
          .select(col("band"), col("bucket"), col("doc_id").as("a"),
            (col("r") + col("d")).as("r2"))
        // SHUFFLE_HASH hint, build on the un-exploded side (round 13):
        // without it the planner BROADCASTS lft — its size estimate
        // doesn't price the W-explode, but lft is a corpus-scale frame
        // (W·bands·docs rows; 576M entries at ×100) whose hash
        // relation is then built single-threaded on the driver —
        // measured 8-10× the whole query's wall once bands double
        // (§6 round-13 forensic), and a driver OOM at real cluster
        // scale. The §4 bounded-by-construction broadcast rule says
        // neither side of this join may ever broadcast; the hinted
        // shuffled-hash join exchanges both sides on (band, bucket,
        // r2) — skinny int/long rows — and builds W× less data per
        // task, in parallel.
        lft.join(
            ranked.select(col("band"), col("bucket"),
              col("doc_id").as("b"), col("r").as("r2"))
              .hint("shuffle_hash"),
            Seq("band", "bucket", "r2"))
          .select(least(col("a"), col("b")).as("a"),
            greatest(col("a"), col("b")).as("b"))
      }
    val candidates = rawCandidates
      .distinct()
      // Same AQE hazard as `docs`: the deduped pair set is slim (two
      // longs), so coalescing packs it into ~one advisory partition,
      // and when the signature side broadcasts (it fits at small SFs)
      // the estimate/verify compute inherits that width instead of
      // re-spreading through a join shuffle. Explicit width on the
      // probe key keeps both stages parallel AND pre-aligns the sig
      // join on `a` when it does shuffle at scale.
      .repartition(shufP, col("a"))

    // Stage 1: cheap signature-agreement estimate (E[matches/k] = J)
    // discards the long tail of low-similarity candidates before the
    // exact set intersection.
    val nSig = bands * rowsPerBand
    val estThreshold = jaccardThreshold - 0.15
    // Agreement count via the allocation-free match-count expression —
    // the composed size(filter(zip_with(...))) materializes two arrays
    // per candidate pair under interpreted lambda evaluation, and this
    // runs once per pair (millions at sf0.1; NativeExpressionPropSpec
    // pins equality).
    // Multi-pass estimate = MAX over passes of the per-pass agreement
    // fraction: a pair survives iff AT LEAST ONE coefficient family
    // estimates it above the cut. This makes the P-pass output a
    // deterministic SUPERSET of the single-pass output (DedupSpec pins
    // it) — per-pass families are what the candidate came from, and
    // averaging across families would let an unlucky family veto a
    // pair another family correctly surfaced. Each per-pass count is
    // the same allocation-free expression over that pass's own array.
    // COST (accepted): joining all P arrays onto every candidate
    // multiplies this exchange's payload by P even though each pair
    // came from one pass. The alternative — carry the originating
    // pass id and ship only that pass's signature — would halve the
    // P=2 payload but break the superset-of-single-pass property the
    // max-over-passes contract provides; switch only if a bench
    // forensic ever shows this exchange dominating.
    val estCols = (0 until passes).map(p =>
      graft.GraftFunctions.intArrayMatchCount(
        col(s"sig_${p}_a"), col(s"sig_${p}_b")).cast("double") / nSig)
    val estCol = if (passes == 1) estCols.head else greatest(estCols: _*)
    val estimated = candidates
      .join(sig.select(col("doc_id").as("a") +:
        (0 until passes).map(p => col(s"sig_$p").as(s"sig_${p}_a")): _*), Seq("a"))
      .join(sig.select(col("doc_id").as("b") +:
        (0 until passes).map(p => col(s"sig_$p").as(s"sig_${p}_b")): _*), Seq("b"))
      .withColumn("est", estCol)
      .filter(col("est") >= estThreshold)
      .select(col("a"), col("b"))

    // Stage 2: exact Jaccard on the survivors.
    // |A ∪ B| = |A| + |B| − |A ∩ B| — one merge-count (the sorted
    // arrays let graft_sorted_intersect_count replace
    // size(array_intersect(...)), which builds a per-row hash set AND
    // materializes the intersection array just to read its length).
    val repPairs = estimated
      .join(docs.select(col("doc_id").as("a"), col("sh").as("sh_a")), Seq("a"))
      .join(docs.select(col("doc_id").as("b"), col("sh").as("sh_b")), Seq("b"))
      .withColumn("inter",
        graft.GraftFunctions.sortedIntersectCount(col("sh_a"), col("sh_b"))
          .cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("a").as("ra"), col("b").as("rb"),
        round(col("jaccard"), 4).as("jaccard"))

    // Expansion: pairs among canonical reps become pairs among all
    // members of their hash groups. Intra-group pairs (identical text)
    // are Jaccard 1.0 by definition; both joins are against the slim
    // membership map (AQE broadcasts it), so the shuffle stays ∝ output
    // pairs. Groups whose text yields no shingles are excluded on both
    // arms — their members produced no pairs pre-refactor either.
    val valid = members
      .join(docs.select(col("doc_id").as("rep")), Seq("rep"), "left_semi")
    val dupGroups = valid.filter(col("doc_id") =!= col("rep"))
      .select(col("rep")).distinct()
    val grouped = valid.join(dupGroups, Seq("rep"), "left_semi")
    val intra = grouped.select(col("rep"), col("doc_id").as("a"))
      .join(grouped.select(col("rep"), col("doc_id").as("b")), Seq("rep"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), lit(1.0).as("jaccard"))
    val cross = repPairs
      .join(valid.select(col("rep").as("ra"), col("doc_id").as("ma")), Seq("ra"))
      .join(valid.select(col("rep").as("rb"), col("doc_id").as("mb")), Seq("rb"))
      .select(least(col("ma"), col("mb")).as("a"),
        greatest(col("ma"), col("mb")).as("b"), col("jaccard"))
    val pairs = cross.unionByName(intra)
    if (ordered) pairs.orderBy(col("a"), col("b")) else pairs
  }

  /** 64-bit SimHash from token hashes (Charikar '02): per bit position,
    * sum ±1 over tokens' xxhash64 bits; near-dups = pairs within
    * `maxHamming`, blocked into (maxHamming+1) disjoint bit-chunks
    * (pigeonhole: ≤ maxHamming errors leave ≥1 chunk equal) so the
    * join is key-equality and radius-complete. The candidate tail is
    * blocks·n²/2^width by construction — see simhashPairs for the
    * measured scaling and the radius/cost tradeoff.
    */
  def dedupSimhash(spark: SparkSession, dir: String,
                   maxHamming: Int = 7): DataFrame = {
    val docs = simhashTokens(Tables.documents(spark, dir))

    // simhash bit j = sign of sum over tokens of (bit j of hash ? 1 : -1)
    // — computed by the graft_simhash64 expression in ONE pass inside
    // the scan projection. The previous explode → 64-conditional-sum
    // groupBy shuffled every token of the corpus (DedupSpec pins output
    // equality of the two formulations); this plan's only shuffle is
    // the chunk-bucket pair join inside simhashPairs.
    val sims = docs.select(col("doc_id"),
      graft.GraftFunctions.simhash64(col("toks")).as("simhash"))
    simhashPairs(sims, maxHamming)
  }

  /** Oracle-portable twin of [[dedupSimhash]]: per-token hash = the
    * first 15 md5 nibbles as a 60-bit integer (`conv(substr(md5(t), 1,
    * 15), 16, 10)` — the store_points / communities digest precedent,
    * exactly reproducible in DuckDB with a nibble fold), simhash over
    * those hashes via graft_simhash_bits (bits 60–63 stay zero on both
    * engines), then the SAME chunk-blocked pair stage. This gives the
    * simhash near-dup family a HARD cross-engine hash oracle; the
    * xxhash64 fast path above stays the library default (one fewer md5
    * per token), with DedupSpec pinning the two variants' pair sets
    * against each other on the corpus at matched thresholds.
    */
  def dedupSimhashOracle(spark: SparkSession, dir: String,
                         maxHamming: Int = 7): DataFrame =
    dedupSimhashOracleOf(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), maxHamming)

  /** §3 `*Of` form of dedup_simhash_oracle over a (doc_id, text) frame. */
  def dedupSimhashOracleOf(corpus: DataFrame, maxHamming: Int = 7): DataFrame = {
    val sims = simhashTokens(corpus).select(col("doc_id"),
      graft.GraftFunctions.simhashBits(
        // native element-wise md5-nibble token hashes (round 16) —
        // bit-identical to the composed transform, no hex-string
        // allocation per token (NativeExpressionPropSpec pins equality)
        graft.GraftFunctions.md5Hashes(col("toks")))
        .as("simhash"))
    simhashPairs(sims, maxHamming)
  }

  /** Recall-trading multi-table SimHash — the sub-quadratic answer at
    * radii where the radius-COMPLETE pigeonhole join above is provably
    * n²-heavy (h=7 carries n²/32 candidates by construction; SURVEY
    * §4). Classic bit-sampling LSH for Hamming distance (Indyk &
    * Motwani, STOC '98): each of `tables` hash tables keys a doc by a
    * fixed seeded sample of `bitsPerTable` of the 60 simhash bit
    * positions; a pair within hamming h collides in one table iff the
    * sample dodges all h differing bits, P = C(60−h, b)/C(60, b), so
    * recall = 1 − (1 − P)^T — with the defaults (T=24, b=16) that is
    * ≥ 0.95 at h=7 and ≥ 0.9999 at h≤3, while the candidate tail drops
    * from n²/32 to T·n²/2¹⁶ ≈ n²/2730 (85× fewer collisions). Matched
    * pairs are verified with the exact hamming distance, so the output
    * is a SUBSET of the radius-complete pair set — never a false
    * positive; DedupSpec pins the measured recall floor against the
    * complete twin.
    *
    * Uses the md5-nibble token-hash family (shared with
    * [[dedupSimhashOracle]]) so the whole path — simhash, sampled-bit
    * keys, verify — reproduces in DuckDB: the oracle SQL is GENERATED
    * from the same position table (SparkEntry.dedupSimhashLshSql),
    * making this a HARD-oracled near-dup operator, not a rows-only one.
    */
  def dedupSimhashLsh(spark: SparkSession, dir: String,
                      maxHamming: Int = 7, tables: Int = 24,
                      bitsPerTable: Int = 16): DataFrame =
    dedupSimhashLshOf(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      maxHamming, tables, bitsPerTable)

  /** §3 `*Of` form of dedup_simhash_lsh over a (doc_id, text) frame. */
  def dedupSimhashLshOf(corpus: DataFrame, maxHamming: Int = 7,
                        tables: Int = 24, bitsPerTable: Int = 16): DataFrame = {
    val sims = simhashTokens(corpus).select(col("doc_id"),
      graft.GraftFunctions.simhashBits(
        // native md5-nibble token hashes (round 16; see the oracle twin)
        graft.GraftFunctions.md5Hashes(col("toks")))
        .as("simhash"))
    val positions = simhashLshPositions(tables, bitsPerTable)
    // Per-table sampled-bit keys via the NATIVE SimHashLshKeys loop
    // (round 15, board #2). History of this projection: the unrolled
    // shift/mask form blew janino's 64 KB class limit at wide knobs
    // (round 13), and the round-13 term-budget batching fix (384 terms
    // per projection, sized against janino) still generated a 57,701 B
    // method at the DEFAULT 24×16 — 7× over HotSpot's SILENT 8 KB
    // DontCompileHugeMethods cliff, i.e. interpreted forever at
    // decade-3 row counts (caught by JitBytecodeLockSpec; it escaped
    // the r14 PrintCompilation audit because sf0.1 partitions stay
    // under the OSR backedge threshold). The native loop's generated
    // code is constant-size at ANY (tables, bitsPerTable) — no
    // batching, no checkpoint, one fused projection; bit-identical
    // keys (exact integer arithmetic over disjoint bits), so the
    // generated DuckDB oracle is unaffected.
    val keyed = sims.select(col("doc_id"), col("simhash"),
      posexplode(graft.GraftFunctions.simhashLshKeys(col("simhash"), positions))
        .as(Seq("tbl", "k")))
    hammingPairs(keyed, Seq("tbl", "k"), maxHamming)
  }

  /** The sampled bit-position table shared by the Spark path and the
    * generated DuckDB oracle — seed 11, `tables` samples of
    * `bitsPerTable` distinct positions in [0, 60) (the md5-nibble
    * simhash is 60-bit).
    */
  private[graft] def simhashLshPositions(tables: Int,
                                         bitsPerTable: Int): Array[Array[Int]] = {
    val rng = new scala.util.Random(new java.util.Random(11))
    Array.fill(tables)(
      rng.shuffle((0 until 60).toList).take(bitsPerTable).sorted.toArray)
  }

  /** Chunk-blocked near-dup pairs from a (doc_id, simhash) frame —
    * shared by the xxhash64 fast path and the md5-nibble oracle twin.
    */
  private def simhashPairs(sims: DataFrame, maxHamming: Int): DataFrame = {
    // Pigeonhole blocking, generalized to the radius: maxHamming bit
    // errors corrupt at most maxHamming of (maxHamming+1) disjoint
    // blocks, so every within-radius pair shares ≥1 block — a
    // key-equality join with no false negatives at ANY radius. Block
    // WIDTH is what prices the join at scale: expected collision volume
    // is blocks·n²/2^width, so the default h=7 (8 blocks of 8 bits)
    // carries an n²/32 candidate tail by construction — the ×10 scale
    // bench measured exponent 1.52 for it — while h=3 gets 4 blocks of
    // 16 bits (n²/4096) from the same code, 128× fewer collisions. A
    // radius-complete join cannot be cheaper than this without giving
    // up completeness (multi-table probabilistic SimHash trades recall
    // for it); at 100 TB one runs the tighter radius.
    val blocks = math.min(maxHamming + 1, 64)
    val width = 64 / blocks
    val chunks = sims.select(col("doc_id"), col("simhash"),
      explode(array((0 until blocks).map { c =>
        val start = c * width
        val w = if (c == blocks - 1) 64 - start else width
        val piece =
          if (w >= 64) col("simhash")
          else shiftright(col("simhash"), start).bitwiseAND(lit((1L << w) - 1))
        struct(lit(c).as("chunk"), piece.as("ck"))
      }: _*)).as("cc"))
      .select(col("doc_id"), col("simhash"), col("cc.chunk").as("chunk"), col("cc.ck").as("ck"))
    hammingPairs(chunks, Seq("chunk", "ck"), maxHamming)
  }

  /** The simhash family's prelude over a (doc_id, text, ...) frame:
    * explicit width, tokenize, drop token-less docs. The width comes
    * BEFORE the per-token hashing, whose work per row is orders of
    * magnitude heavier than its bytes: otherwise the projection
    * inherits the scan's split count — a single-row-group parquet file
    * ran the whole corpus's token hashing on ONE task (2.7 of 2.9 s
    * wall at sf0.1), and at ×100 eight splits ran the stage 8-wide with
    * one straggler task (27 min of CPU in the tokenizer).
    */
  private def simhashTokens(corpus: DataFrame): DataFrame =
    corpus
      .repartition(corpus.sparkSession.sessionState.conf.numShufflePartitions, col("doc_id"))
      .select(col("doc_id"), tokenizeSimple(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)

  /** Verified pairs from a (keys..., doc_id, simhash) candidate table:
    * self-join on the blocking `keys`, one orientation per pair, exact
    * hamming ≤ `maxHamming`, one row per pair, ordered.
    *
    * Hamming filter BEFORE the pair dedup: a pair's hamming distance is
    * fixed, so filter-then-distinct equals distinct-then-filter — but
    * the filter is map-side inside the join's codegen stage and kills
    * ~99% of collision rows, while distinct is a shuffle whose cost
    * scales with what reaches it (measured at sf0.1: 6.5M collision
    * rows → 4.9 s distinct before, ~250k rows → negligible after).
    */
  private def hammingPairs(keyed: DataFrame, keys: Seq[String], maxHamming: Int): DataFrame = {
    val side = (id: String, sh: String) =>
      keyed.select(keys.map(col) :+ col("doc_id").as(id) :+ col("simhash").as(sh): _*)
    side("a", "sh_a").join(side("b", "sh_b"), keys)
      .filter(col("a") < col("b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("a", "b")
      .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
      .orderBy(col("a"), col("b"))
  }

  /** Character 3-gram Jaccard over a bounded probe set (doc_id below
    * `probeMax` on both sides) — the exact-verification partner of the
    * MinHash path, and an SQL-expressible oracle query. Jaccard is an
    * exact rational (|∩|/|∪|), so cross-engine hashing is stable.
    */
  def ngramJaccard(spark: SparkSession, dir: String,
                   probeMax: Long = 50L, threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("doc_id") < probeMax)
      .select(col("doc_id"), shinglesExpr.as("g"))
    val l = docs.select(col("doc_id").as("a"), col("g").as("g_a"))
    val r = docs.select(col("doc_id").as("b"), col("g").as("g_b"))
    l.crossJoin(r)
      .filter(col("a") < col("b"))
      .withColumn("jaccard",
        size(array_intersect(col("g_a"), col("g_b"))).cast("double") /
          size(array_union(col("g_a"), col("g_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("a"), col("b"))
  }

  /** Embedding-cosine near-dup: top-20 most similar pairs among the
    * probe slice, ranks only (engine-stable). At scale the same query
    * runs over LSH buckets (see VectorSearch.annLsh) instead of the
    * bounded slice.
    */
  def dedupEmbedding(spark: SparkSession, dir: String,
                     probeMax: Long = 100L, k: Int = 20): DataFrame = {
    val emb = Tables.embeddings(spark, dir).filter(col("vec_id") < probeMax)
    val l = emb.select(col("vec_id").as("a"), col("embedding").as("e_a"))
    val r = emb.select(col("vec_id").as("b"), col("embedding").as("e_b"))
    val pairs = l.crossJoin(r).filter(col("a") < col("b"))
      .withColumn("score", graft.GraftFunctions.cosine(col("e_a"), col("e_b")))
    pairs
      .orderBy(col("score").desc, col("a"), col("b"))
      .limit(k)
      .select(col("a"), col("b"),
        row_number().over(Window.orderBy(col("score").desc, col("a"), col("b"))).as("rnk"))
      .orderBy(col("rnk"))
  }

  /** Near-dup cluster canonicalization — the decision layer a training
    * pipeline runs AFTER pair generation (the reference dedups whole
    * clusters at ingest by canonical content id, hashing.rs; web-scale
    * pipelines do the same over NEAR-dup graphs): the oracle-portable
    * MinHash pair set (exact-dup groups included as jaccard-1.0 pairs)
    * becomes an undirected graph, each connected component is one
    * duplication cluster, and every cluster keeps exactly ONE
    * representative — the longest text, ties to the lowest doc_id —
    * and drops the rest. Docs with no near-dup edge are trivially kept
    * and not listed (at 100 TB the clustered subset is a small
    * fraction of the corpus; emitting n "keep" rows would dominate the
    * output for no information).
    *
    * Scale posture: components run the budget-gated union-find /
    * min-label-propagation twin pair
    * ([[Grouping.connectedComponentsLong]] — pointer jumping, O(log
    * diameter) rounds past the gate); the keep decision is one window
    * over cluster_id. Shuffles ∝ clustered docs, never corpus size.
    */
  def dedupClusters(spark: SparkSession, dir: String,
                    bands: Int = 12, rowsPerBand: Int = 3,
                    jaccardThreshold: Double = 0.6): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    dedupClustersOf(
      // ordered = false (round 15): the component derivation re-shuffles
      // the pair set on its own keys — a mid-plan global pair sort here
      // is pure cost at every scale (clusters/keeps are set-functions of
      // the pairs, so the output is bit-identical; DedupSpec pins it)
      dedupMinhashOracleOf(docs, bands, rowsPerBand, jaccardThreshold,
        ordered = false),
      docs.select(col("doc_id"), length(col("text")).cast("long").as("keep_rank")))
  }

  /** §3 `*Of` form over any (a, b) near-dup pair frame plus a (doc_id,
    * keep_rank) priority frame — higher keep_rank is kept, ties to the
    * lower doc_id. The xxhash64 fast-path pair set
    * ([[dedupMinhashOf]], [[dedupSimhash]]) plugs in here unchanged.
    */
  def dedupClustersOf(pairs: DataFrame, priority: DataFrame): DataFrame = {
    val comps = Grouping.connectedComponentsLong(pairs.select(col("a"), col("b")))
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
    val sizeW = Window.partitionBy(col("cluster_id"))
    val keepW = Window.partitionBy(col("cluster_id"))
      .orderBy(col("keep_rank").desc, col("doc_id"))
    comps.join(priority, Seq("doc_id"))
      .withColumn("cluster_size", count(lit(1)).over(sizeW))
      .withColumn("is_kept", (row_number().over(keepW) === 1).cast("int"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"), col("is_kept"))
      .orderBy(col("doc_id"))
  }
}
