package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.VectorFunctions._

/** Dense vector search re-expressed as Spark batch operators.
  *
  * Mirrors the reference's Qdrant query surface (reference:
  * src/rust/daemon/core/src/storage/search.rs — dense cosine top-k with
  * optional payload filter; qdrant recommend API = avg(positive) −
  * avg(negative) query vector) but as scan-based ranking over an
  * embedding corpus: the 100 TB posture is a single pruned parquet scan
  * + broadcast of the (tiny) query side + TakeOrderedAndProject — no
  * shuffle of the big side at all for single-query top-k, and one
  * bucket-join shuffle for the LSH/IVF approximate paths.
  *
  * All query outputs are integer-only (ids + ranks); float scores order
  * internally at full double precision, so results are hash-stable
  * across engines.
  */
object VectorSearch {

  /** The query side: one row holding the embedding of `queryId`. */
  private def queryVec(emb: DataFrame, queryId: Long): DataFrame =
    emb.filter(col("vec_id") === queryId).select(col("embedding").as("q_emb"))

  /** Brute-force cosine top-k against one stored vector, excluding it.
    * Plan: pruned scan → broadcast-nested-loop with a 1-row side →
    * TakeOrderedAndProject(k). Scales linearly; no shuffle.
    * `threshold` = the reference's `score_threshold` (search.rs:251):
    * results scoring below it are dropped before ranking. The compare
    * is on `round(score, 6)` so the in/out decision is stable across
    * engines whose cosines differ in the last ulp (the oracle rounds
    * identically); ranking still orders by the full-precision score.
    */
  def denseTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
                k: Int = 20, label: Option[Int] = None,
                threshold: Option[Double] = None): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val base = label.fold(emb)(l => emb.filter(col("label") === l))
    val all = base
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(queryVec(emb, queryId)))
      .withColumn("score", graft.GraftFunctions.cosine(col("embedding"), col("q_emb")))
    val scored = threshold.fold(all)(t => all.filter(round(col("score"), 6) >= t))
    scored
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"),
        row_number().over(Window.orderBy(col("score").desc, col("vec_id"))).as("rnk"))
      .orderBy(col("rnk"))
  }

  /** Qdrant-style recommend: query vector = avg(positive) − avg(negative)
    * per position, an absent side counting as 0; examples are excluded
    * from the candidates as Qdrant does.
    *
    * Plan shape: one aggregate over the few example rows collects the
    * positive and the negative embeddings; `graft_weighted_mean_vector`
    * (unit weights) averages each list and `zip_with` subtracts them,
    * giving ONE query row that is broadcast into a pruned corpus scan →
    * broadcast-nested-loop → fused cosine → TakeOrderedAndProject(k).
    * No Generate and no shuffle of the corpus.
    */
  def recommend(spark: SparkSession, dir: String,
                positive: Seq[Long] = Seq(1L, 2L, 3L),
                negative: Seq[Long] = Seq(4L, 5L),
                k: Int = 20): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val scored = emb
      .filter(!col("vec_id").isin(positive ++ negative: _*))
      .crossJoin(broadcast(recommendVector(emb, positive, negative)))
      .withColumn("score", graft.GraftFunctions.cosine(col("embedding"), col("q_emb")))
    scored
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"),
        row_number().over(Window.orderBy(col("score").desc, col("vec_id"))).as("rnk"))
      .orderBy(col("rnk"))
  }

  /** recommend's query side: one row holding `q_emb`, per position the
    * average of the positive examples' embeddings minus that of the
    * negative ones (a side with no example row counts as 0).
    */
  private[graft] def recommendVector(emb: DataFrame, positive: Seq[Long],
                                     negative: Seq[Long]): DataFrame = {
    def mean(vs: Column): Column =
      graft.GraftFunctions.weightedMeanVector(vs, array_repeat(lit(1.0), size(vs)))
    emb
      .filter(col("vec_id").isin(positive ++ negative: _*))
      .agg(collect_list(when(col("vec_id").isin(positive: _*), col("embedding"))).as("pos"),
        collect_list(when(col("vec_id").isin(negative: _*), col("embedding"))).as("neg"))
      .select(zip_with(mean(col("pos")), mean(col("neg")),
        (p, n) => coalesce(p, lit(0.0)) - coalesce(n, lit(0.0))).as("q_emb"))
  }

  /** Exact k-NN join: every probe (small side, broadcast) against the
    * full corpus; per-probe top-k via window over (score desc, id).
    * This is the brute-force baseline the ANN paths are measured
    * against. One scan of the big side, no shuffle of it (broadcast
    * probes), then a shuffle of only the k·|probes| survivors.
    */
  def knnJoin(spark: SparkSession, dir: String, probeMax: Long = 10L,
              k: Int = 3): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val probes = emb.filter(col("vec_id") < probeMax)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("score").desc, col("vec_id"))
    emb.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("score", graft.GraftFunctions.cosine(col("embedding"), col("p_emb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("rnk"))
      .orderBy(col("probe_id"), col("rnk"))
  }

  // ------------------------------------------------------------------
  // Approximate paths — the 100 TB designs
  // ------------------------------------------------------------------

  /** Deterministic random hyperplanes: L tables × b planes × dim, seeded
    * so Spark-side and test-side agree run-to-run.
    */
  def hyperplanes(tables: Int, bits: Int, dim: Int, seed: Long = 42L): Array[Array[Array[Double]]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(tables, bits, dim)(rng.nextGaussian())
  }

  /** Bucket signature for one LSH table: interpret the sign bits of the
    * projections onto `planes` as an integer bucket id. Pure Column
    * expression (sequence + aggregate) — codegen'd per row.
    */
  private def lshBucket(emb: Column, planes: Array[Array[Double]]): Column = {
    val planesLit = typedLit(planes.map(_.toSeq).toSeq)
    aggregate(
      sequence(lit(0), lit(planes.length - 1)),
      lit(0L),
      (acc, m) => acc * 2 + when(dot(emb, element_at(planesLit, (m + 1).cast("int"))) >= 0, 1L).otherwise(0L))
  }

  /** Random-hyperplane LSH ANN: candidates = union over L tables of
    * same-bucket vectors; rank candidates by true cosine; top-k.
    *
    * Scale path: the corpus is exploded to (table, bucket) keys and the
    * join shuffles only on those keys — work is proportional to matched
    * buckets, never n². (Reference capability: approximate recall of
    * Qdrant's HNSW serving, re-expressed as batch LSH.)
    *
    * Measured recall@10 vs brute force at sf0.1 (`runMain graft.Recall`):
    * tables 4/8/16 → 0.44/0.64/0.92 at ~equal wall-clock (2-3 s) —
    * candidate volume, not table count, drives cost here, so the
    * default is 16. IVF for comparison: nprobe 1/3/5 → 0.32/0.40/0.48
    * (200 flat centroids struggle on 64-dim near-uniform embeddings —
    * the honest tradeoff of a coarse quantizer without residual codes).
    */
  def annLsh(spark: SparkSession, dir: String, probeMax: Long = 5L, k: Int = 10,
             tables: Int = 16, bits: Int = 4, dim: Int = 64,
             probeHamming: Int = 0): DataFrame = {
    val candidates = lshCandidates(spark, dir, probeMax, tables, bits, dim,
      probeHamming)
    val w = Window.partitionBy(col("probe_id")).orderBy(col("score").desc, col("vec_id"))
    candidates
      .withColumn("score", graft.GraftFunctions.cosine(col("embedding"), col("p_emb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("rnk"))
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** LSH candidate generation — the bucket-collision set without the
    * final ranking (one row per distinct (probe, candidate) pair with
    * both embeddings), exposed like [[ivfCandidates]] so graft.Recall
    * can measure the TRUE scanned fraction alongside recall. annLsh
    * above ranks exactly this frame — pure code motion, the registered
    * query's plan is unchanged.
    */
  def lshCandidates(spark: SparkSession, dir: String, probeMax: Long = 5L,
                    tables: Int = 16, bits: Int = 4, dim: Int = 64,
                    // MULTI-PROBE (round 13, the literature's standard
                    // recall fix for hyperplane LSH at scale — Lv et al.
                    // VLDB '07): probe the query's own bucket plus every
                    // bucket within Hamming distance `probeHamming` of
                    // it in EACH table. Only the PROBE side fans out
                    // (1 + b + C(b,2) keys per table at distance 2) —
                    // the corpus side's layout and shuffle volume are
                    // untouched, so at 100 TB the cost is paid on the
                    // handful of query rows, never the corpus. This is
                    // what lets bits scale with log2(n) (small buckets)
                    // without the single-probe recall collapse measured
                    // in RECALL_x100_r12.txt.
                    probeHamming: Int = 0): DataFrame = {
    val planes = hyperplanes(tables, bits, dim)
    val emb = Tables.embeddings(spark, dir)

    def withBuckets(df: DataFrame): DataFrame = {
      val e = asDouble(col("embedding"))
      val buckets = array(planes.indices.map(l => lshBucket(e, planes(l))): _*)
      df.withColumn("buckets", buckets)
    }

    val corpus = withBuckets(emb)
      .select(col("vec_id"), col("embedding"), posexplode(col("buckets")).as(Seq("tbl", "bkt")))
    val probesBase = withBuckets(emb.filter(col("vec_id") < probeMax))
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        posexplode(col("buckets")).as(Seq("tbl", "bkt")))
    // XOR masks enumerating the Hamming ball around each probe's
    // bucket key, precomputed driver-side (bits ≤ ~20, so ≤ ~211
    // masks at distance 2); the explode replaces each probe-table row
    // with its neighbor-key rows
    val masks: Seq[Long] = Seq(0L) ++
      (if (probeHamming >= 1) (0 until bits).map(j => 1L << j) else Nil) ++
      (if (probeHamming >= 2)
        for { i <- 0 until bits; j <- (i + 1) until bits }
          yield (1L << i) | (1L << j)
      else Nil)
    val probes =
      if (probeHamming <= 0) probesBase
      else probesBase.withColumn("bkt",
        explode(array(masks.map(m => col("bkt").bitwiseXOR(lit(m))): _*)))

    corpus
      .join(probes, Seq("tbl", "bkt"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("embedding"), col("p_emb"))
      .dropDuplicates("probe_id", "vec_id")
  }

  /** IVF candidate generation — the inverted-list scan without the
    * final ranking, exposed so graft.Recall can measure the TRUE
    * scanned fraction (candidates / probes·n) alongside recall.
    *
    * Quantizer: MLlib k-means|| (distributed init + Lloyd) — the
    * idiomatic Spark quantizer, replacing round 4's id-sampled
    * centroids whose placement quality capped recall at 0.56. The fit
    * runs on every `trainEvery`-th vector (all of them at test SF; a
    * deterministic id-sample at 100 TB — centroid quality saturates
    * long before the full corpus). Centroids broadcast; corpus
    * assignment is one map-side rank-1 pass; `replicas` > 1 assigns
    * each corpus vector to its nearest r lists (boundary-recall
    * insurance paid for in scan volume).
    */
  def ivfCandidates(spark: SparkSession, dir: String, probeMax: Long = 5L,
                    numCentroids: Int = 500, nprobe: Int = 18,
                    kmeansIters: Int = 5, replicas: Int = 1,
                    trainEvery: Long = 1L, seed: Long = 42L,
                    kmeansInit: String = "k-means||"): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val nEmb = emb.count()
    // The fit input is the (sampled) training slice. Width scales with
    // the TRAINING size, not the scan layout: at test SFs (≤ ~8k
    // vectors) one partition wins — k-means|| runs ~2·iters tiny jobs
    // and per-job scheduling over 32 near-empty partitions dominates —
    // but a blanket coalesce(1) made the ×100 sweep's whole Lloyd run
    // single-threaded (200k vectors × k=5000 on one core, jstack'd at
    // load 1.0/32). 8192 vectors per partition keeps both regimes
    // right; widths at the driver SFs are unchanged (=1), so the
    // fitted centroids — and every registered ann_ivf/cert row — are
    // bit-identical there (k-means|| init sampling is
    // partition-dependent, so width IS part of the fit seed).
    val fitWidth = math.max(1L, math.min(32L, nEmb / trainEvery / 8192L)).toInt
    val featsNarrow = emb.filter(col("vec_id") % trainEvery === 0)
      .select(org.apache.spark.ml.functions.array_to_vector(
        asDouble(col("embedding"))).as("features"))
    // coalesce can only SHRINK: a large training slice read from few
    // parquet splits (e.g. a single-file embeddings.parquet) would keep
    // the Lloyd fit on those few cores no matter what fitWidth says.
    // Grow via repartition when needed; keep coalesce for the shrink
    // case so driver-SF fits stay single-partition (k-means|| init
    // sampling is partition-dependent — width is part of the fit seed,
    // and the registered rows are bit-identical only on the shrink path
    // they have always taken).
    val feats =
      (if (featsNarrow.rdd.getNumPartitions < fitWidth)
         featsNarrow.repartition(fitWidth)
       else featsNarrow.coalesce(fitWidth)).cache()
    // Cap the quantizer at n/4 lists so tiny corpora stay non-degenerate
    // (at sf0.1's 2000 vectors the tuned k=500 IS the n/4 cap).
    val k = math.max(16L, math.min(numCentroids.toLong, nEmb / 4)).toInt
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(k).setMaxIter(kmeansIters).setSeed(seed)
      .setInitMode(kmeansInit).fit(feats)
    val centers = model.clusterCenters.map(_.toArray.toSeq).toSeq
    val centroids = centers.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("c_id", "c_emb")

    // Top-n nearest centroids via crossJoin + rank window — fine for the
    // tiny probe side and the replicated-assignment option, but it
    // SHUFFLES n·k rows, so the corpus path below uses it only when
    // replicas > 1.
    def assign(df: DataFrame, idCol: String, embCol: String, n: Int): DataFrame = {
      val w = Window.partitionBy(col(idCol)).orderBy(col("c_dist"), col("c_id"))
      df.crossJoin(broadcast(centroids))
        .withColumn("c_dist", l2Distance(asDouble(col(embCol)), col("c_emb")))
        .withColumn("c_rnk", row_number().over(w))
        .filter(col("c_rnk") <= n)
        .drop("c_emb", "c_dist", "c_rnk")
    }

    // Corpus assignment (replicas = 1): MLlib's own nearest-centroid
    // prediction — a MAP-ONLY pass (broadcast centers + BLAS distances
    // inside the model), no shuffle of the big side at any corpus size.
    val corpus =
      if (replicas == 1)
        model.transform(emb.withColumn("features",
            org.apache.spark.ml.functions.array_to_vector(asDouble(col("embedding")))))
          .withColumn("c_id", col("prediction").cast("bigint"))
          .select(col("vec_id"), col("embedding"), col("c_id"))
      else assign(emb, "vec_id", "embedding", replicas)
    val probes = assign(
      emb.filter(col("vec_id") < probeMax)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb")),
      "probe_id", "p_emb", nprobe)
    corpus.join(probes, Seq("c_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .dropDuplicates("probe_id", "vec_id")
      .select(col("probe_id"), col("vec_id"), col("embedding"), col("p_emb"))
  }

  /** IVF ANN: k-means|| coarse quantizer, probes scan the `nprobe`
    * nearest inverted lists, candidates ranked by exact cosine (the
    * residual re-rank — candidate coverage, not ranking, is the recall
    * limit). At scale the assignment is a map-only pass and the probe
    * join touches only matched clusters.
    *
    * Defaults from the measured sweep (graft.Recall, sf0.1, 2000×64
    * unit vectors): k-means|| (it=5) at 500 centroids / nprobe 18 →
    * recall@10 = 0.70 scanning 4.8% of the corpus (np=12 → 0.64 @
    * 3.0%, np=20 → 0.72 @ 5.3%); round 4's id-sampled quantizer peaked
    * at 0.56 @ ~10%. Finer quantization at a FIXED scan budget is the
    * winning axis on this near-uniform corpus (k=200/np=5 → 0.42 @
    * 4.6%); random init loses ~0.04 recall, replicas>1 lose per-scan.
    * n/k here is 4 — far below FAISS's sqrt(n) convention because at
    * this tiny SF the quantizer must be fine to separate a weakly
    * clustered sphere; at 100 TB, scale k with sqrt(n) and keep
    * nprobe/k at the same measured ~4% scan budget.
    */
  def annIvf(spark: SparkSession, dir: String, probeMax: Long = 5L, k: Int = 10,
             numCentroids: Int = 500, nprobe: Int = 18,
             kmeansIters: Int = 5, replicas: Int = 1,
             trainEvery: Long = 1L, kmeansInit: String = "k-means||"): DataFrame = {
    val w = Window.partitionBy(col("probe_id")).orderBy(col("score").desc, col("vec_id"))
    ivfCandidates(spark, dir, probeMax, numCentroids, nprobe, kmeansIters,
        replicas, trainEvery, kmeansInit = kmeansInit)
      .withColumn("score", graft.GraftFunctions.cosine(col("embedding"), col("p_emb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("rnk"))
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** Recall CERTIFICATE for an ANN result frame — the oracle posture
    * for the seeded-randomness ANN paths (round-8 board): instead of
    * porting hyperplanes/centroids to SQL, certify the INVARIANT the
    * user cares about. Per probe: `true_kth_cos` = the exact k-th
    * cosine by brute force (engine-portable — DuckDB recomputes it),
    * and `cert` = whether at least `minHits` of the ANN's k returned
    * neighbours have exact cosine ≥ that k-th score (− 1e-9 for float
    * ties), i.e. recall@k ≥ minHits/k against the ideal answer set.
    * The oracle pins `cert = true` with the SAME brute-force k-th
    * column, so a hash match certifies BOTH the cross-engine cosine
    * math AND that the ANN actually achieved the recall bound on this
    * corpus — while hyperplane/centroid seeds stay Spark-side.
    *
    * Brute force here is one broadcast-probes scan of the corpus — the
    * certificate costs what knn_join costs, ∝ probes × corpus, fine
    * for a fixed probe panel at any SF.
    */
  def annCertificate(spark: SparkSession, dir: String, annResult: DataFrame,
                     probeMax: Long = 5L, k: Int = 10,
                     minHits: Int = 7): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val probes = emb.filter(col("vec_id") < probeMax)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    val exact = emb.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("score", graft.GraftFunctions.cosine(col("embedding"), col("p_emb")))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("score").desc, col("vec_id"))
    val kth = exact.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === k)
      .select(col("probe_id"), col("score").as("kth_score"))
    val annScored = annResult
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb")),
        Seq("neighbor_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .withColumn("score", graft.GraftFunctions.cosine(col("n_emb"), col("p_emb")))
    annScored.join(broadcast(kth), Seq("probe_id"))
      .groupBy(col("probe_id"), col("kth_score"))
      .agg(sum(when(col("score") >= col("kth_score") - 1e-9, 1).otherwise(0)).as("hits"))
      .select(col("probe_id"),
        round(col("kth_score"), 6).as("true_kth_cos"),
        (col("hits") >= minHits).as("cert"))
      .orderBy(col("probe_id"))
  }

  /** ann_lsh_cert query: the LSH path's recall certificate. The bound
    * is set from measured per-probe hits with headroom (see the
    * VectorSearchSpec calibration note).
    */
  def annLshCert(spark: SparkSession, dir: String): DataFrame =
    annCertificate(spark, dir, annLsh(spark, dir), minHits = annLshMinHits)

  /** ann_ivf_cert query: the IVF path's recall certificate. */
  def annIvfCert(spark: SparkSession, dir: String): DataFrame =
    annCertificate(spark, dir, annIvf(spark, dir), minHits = annIvfMinHits)

  /** ann_lsh_multiprobe_cert query (round-14 board #4): the recall
    * certificate for the DOCUMENTED no-training knob — the README's
    * selection table tells users without a training pass to run
    * probeHamming=2, and until this row no correctness gate exercised
    * that path. Same certificate as ann_lsh_cert over the SAME probe
    * panel; the bound can sit a step higher because the Hamming-ball
    * candidate set is a SUPERSET of the single-probe set, and top-k by
    * exact cosine over a superset can only raise per-probe hits
    * (displacement requires a score above the true k-th, which itself
    * counts as a hit) — VectorSearchSpec pins the dominance.
    */
  def annLshMultiprobeCert(spark: SparkSession, dir: String): DataFrame =
    annCertificate(spark, dir, annLsh(spark, dir, probeHamming = 2),
      minHits = annLshMultiprobeMinHits)

  /** Measured-with-headroom certificate bounds (hits out of k=10).
    * Calibration (this corpus, seeds fixed; dev dump with the hits
    * column exposed): LSH per-probe hits = 9,9,10,9,9 at sf0.01 and
    * 10,9,8,10,9 at sf0.1; IVF = 6,10,7,7,8 at sf0.01 and 6,8,6,6,9
    * at sf0.1. Bounds sit 2 below the measured minimum so SF-driven
    * drift fails loudly only on a real recall collapse.
    */
  private val annLshMinHits = 6
  private val annIvfMinHits = 4

  /** Multi-probe bound: candidate-superset dominance guarantees
    * per-probe hits ≥ the single-probe run's (9,9,10,9,9 at sf0.01;
    * 10,9,8,10,9 at sf0.1), so the single-probe floor carries over;
    * measured multiprobe hits are 10,10,10,10,10 at BOTH SFs
    * (`graft.Probe ann_lsh_multiprobe_hits`, round 14). Bound =
    * measured min − 2, same headroom convention as the other certs —
    * and strictly above the single-probe bound, certifying the recall
    * IMPROVEMENT the README's knob guidance promises. */
  private val annLshMultiprobeMinHits = 8
}
