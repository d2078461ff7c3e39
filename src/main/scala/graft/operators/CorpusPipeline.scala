package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Overlap, Tables}

/** The composed end-to-end TRAINING-DATA pipeline — every corpus-quality
  * stage this library ships, run as ONE plan over ONE materialized
  * corpus frame, the way `search_pipeline` composes the search stack
  * (the reference composes its retrieval stages the same way:
  * client/src/search/flow.rs:198 run_search_pipeline). Stages, in the
  * order a real pretraining pipeline runs them:
  *
  *   1. boilerplate REWRITE (CCNet line-level dedup, the rewrite form of
  *      boilerplate_lines) — per-source recurring lines dropped, kept
  *      lines re-joined;
  *   2. quality gates on the cleaned text — Gopher repetition fractions
  *      (quality_repetition) AND the unigram-LM score (lm_quality),
  *      evaluated in parallel, both must pass;
  *   3. eval-set decontamination (decontaminate) — gate SURVIVORS only,
  *      against the raw benchmark grams (the benchmark is never
  *      cleaned: contamination is against what the eval set actually
  *      says);
  *   4. near-dup clustering (dedup_minhash_oracle pair family →
  *      dedup_clusters) — uncontaminated survivors only; each cluster
  *      keeps its longest text;
  *   5. sequence packing (pack_sequences) — final keeps, concat-and-cut
  *      at 512 tokens, summarized per doc (first/last sequence + offset
  *      — the spans are derivable, one row per doc keeps the ledger
  *      flat);
  *   6. stratified audit sample (sample_stratified) — per-source holdout
  *      ranks over the final keeps.
  *
  * Output: the per-document pipeline LEDGER — one row per candidate doc
  * with every stage's verdict, the artifact a pipeline owner audits.
  * Stages a document never reached carry -1 (the funnel is sequential:
  * decontamination grams are computed only for gate survivors, shingles
  * only for uncontaminated docs — at 100 TB each expensive stage sees a
  * shrinking corpus, which is the point of composing).
  *
  * Scale shape: the corpus is scanned ONCE (localCheckpoint'd —
  * PlanSpec locks zero parquet scans in the composed plan); the cleaned
  * frame is likewise pinned, since five stages consume it and
  * re-deriving it would re-run the boilerplate shuffle per stage.
  * Everything downstream inherits the component stages' measured scale
  * postures (SURVEY §2/§6) unchanged — composition adds joins keyed on
  * doc_id only, shuffles ∝ candidate docs.
  */
object CorpusPipeline {

  def corpusPipeline(spark: SparkSession, dir: String): DataFrame =
    corpusPipelineOf(pinnedCorpus(spark, dir))

  /** The single corpus scan, pinned: every stage reads this frame, so
    * the parquet is scanned once. localCheckpoint freezes the scan's
    * own layout; the pin deliberately adds no repartition, because
    * spreading the corpus at the pin measured costlier than the
    * single-split stages it would widen.
    */
  private def pinnedCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .localCheckpoint()

  /** The PRODUCTION composition — identical stages, but the near-dup
    * pair family is the xxhash64 fast path ([[Dedup.dedupMinhashOf]]:
    * native shingle hashing + murmur3-compressed band buckets) instead
    * of the oracle-portable md5-nibble twin. This is the variant a
    * 100 TB run executes; the md5 flagship exists so the composed
    * ledger has a DuckDB twin (`corpus_pipeline` is accordingly listed
    * under [[graft.SparkEntry.instruments]]). Correctness posture:
    * rows-only by design — the fast hash family is not
    * DuckDB-reproducible (murmur3/xxhash64), and re-oracling it would
    * test the port, not the operator (the §5 dedup_minhash
    * adjudication); instead CorpusPipelineSpec pins DUAL-PATH
    * agreement: every pair-family-independent ledger column
    * bit-identical to the flagship's, dup verdicts agreeing outside
    * the families' borderline band, and the packing/sampling
    * self-invariants re-checked on the fast path's own keeps.
    */
  def corpusPipelineFast(spark: SparkSession, dir: String): DataFrame =
    corpusPipelineOf(pinnedCorpus(spark, dir),
      pairFamily = Dedup.dedupMinhashOf(_, _, _, _, ordered = false))

  /** The DECADE-3 production composition: identical stages with the
    * W=8 bucket-window-capped pair family
    * ([[Dedup.dedupMinhashCappedOf]]) — candidates linear in bucket
    * size, the form a 100 TB run executes where the uncapped pair
    * stage's quadratic-in-cluster-size candidate volume is measured
    * disk death at ×100 one-box (148.9 s capped vs DNF uncapped,
    * round 11). Rows-only posture, two certificates: the W-window
    * candidate policy is hard-oracled standalone
    * (dedup_minhash_capped_oracle), and CorpusPipelineSpec pins this
    * ledger's pair-family-independent columns bit-identical to the
    * hash-green flagship's plus a ≥0.9 dup-keep agreement vs the
    * uncapped fast path (the capped family's chain-break caveat —
    * see dedupMinhashCappedOf — is why agreement is a measured floor,
    * not an identity).
    */
  def corpusPipelineFastCapped(spark: SparkSession, dir: String): DataFrame =
    corpusPipelineOf(pinnedCorpus(spark, dir),
      pairFamily = Dedup.dedupMinhashCappedOf(_, _, _, _, ordered = false))

  /** §3 `*Of` form over any (doc_id, source, text) frame (callers pass
    * a cached/checkpointed frame; the standalone entry pins it). Docs
    * with doc_id < evalMax are the fixed benchmark stand-in (the
    * decontaminate convention) and are not candidates.
    */
  def corpusPipelineOf(corpus: DataFrame,
                       evalMax: Long = 50L, dfThreshold: Int = 3,
                       vocabSize: Int = 10000, lmThreshold: Double = -4.0,
                       ngram: Int = 8,
                       bands: Int = 12, rowsPerBand: Int = 3,
                       jaccardThreshold: Double = 0.6,
                       seqLen: Int = 512, quota: Int = 25,
                       // the near-dup pair family: (corpus, bands,
                       // rowsPerBand, jaccardThreshold) => (a, b,
                       // jaccard). Default = the oracle-portable md5
                       // twin; corpusPipelineFast passes the xxhash64
                       // production path. Both return the same schema
                       // (shared minhashCore), so everything downstream
                       // — clustering, packing, sampling, the ledger —
                       // is family-agnostic. All families run ordered =
                       // false (round 15): the pipeline's consumers
                       // (dedupClustersOf's component shuffle, the
                       // doc_id ledger joins) re-key the pair set, so
                       // the mid-plan global pair sort the checkpoint
                       // would otherwise materialize is pure cost —
                       // the ledger is a set-function of the pairs and
                       // stays bit-identical (CorpusPipelineSpec).
                       pairFamily: (DataFrame, Int, Int, Double) => DataFrame =
                         Dedup.dedupMinhashOracleOf(_, _, _, _, ordered = false)): DataFrame = {
    // every eager stage's jobs carry a `corpus_pipeline/<stage>` label
    def stage[T](label: String)(f: => T): T =
      Overlap.labelled(corpus.sparkSession, s"corpus_pipeline/$label")(f)
    val eval = corpus.filter(col("doc_id") < evalMax)
    val cand = corpus.filter(col("doc_id") >= evalMax)

    // Stage 1 — boilerplate rewrite. Pinned: five downstream stages
    // read it; without the checkpoint each would re-run the
    // (source, line)-frequency shuffle. (Round 16 measured explicit
    // repartition-before-pin here and on the corpus pin — the A/B at
    // sf0.1 showed the added full-text exchanges cost more than the
    // width bought: capped pipeline 10.6 -> 13.5 s with both pins
    // repartitioned; reverted. The per-row-heavy stages downstream
    // already parallelize off the rewrite join's own shuffle.)
    val cleaned = stage("cleaned")(Boilerplate.cleanedTextOf(cand, dfThreshold)
      .localCheckpoint())

    // Stage 2 — parallel quality gates on the cleaned text.
    //
    // CHECKPOINT PLACEMENT is where this composition wins or loses:
    // every stage verdict below is consumed at least twice (by the next
    // stage's filter AND by the final ledger join), and every shrunken
    // corpus frame feeds 2-4 downstream stages. Left lazy, each
    // consumer re-derives its whole upstream chain — measured at sf0.1
    // as 251 s for the composed plan vs ~17 s with the stage outputs
    // pinned.
    //
    // WHAT gets pinned is the other half of the lesson (round 11, found
    // by a ×100 disk-full failure, not an argument): pinning the
    // shrunken corpus frames THEMSELVES (passers/survivors/kept) stores
    // up to four near-full copies of the corpus TEXT in the block
    // manager — at ×100 on one machine that plus the pair stage's
    // shuffle exhausted 67 GB of /tmp mid-run. Only `cleaned` carries
    // text; every later stage pins its doc_id SET (a few longs per doc)
    // and re-attaches text lazily via a semi-join against the one
    // pinned text frame. The re-join is a broadcast/shuffle of ids —
    // cheap at every scale — and the disk budget drops from
    // O(stages × corpus) to O(corpus).
    val rep = TextAnalysis.qualityRepetitionOf(
        cleaned.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("keep").cast("long").as("rep_keep"))
    val lm = LmQuality.lmQualityOf(
        cleaned.select(col("doc_id"), col("text")), vocabSize, lmThreshold)
      .select(col("doc_id"), col("keep").cast("long").as("lm_keep"))
    val gates = stage("gates")(rep.join(lm, Seq("doc_id")).localCheckpoint())
    def withText(ids: DataFrame): DataFrame =
      cleaned.join(ids, Seq("doc_id"), "left_semi")
    val passerIds = stage("passers")(gates
      .filter(col("rep_keep") === 1 && col("lm_keep") === 1)
      .select(col("doc_id"))
      .localCheckpoint())
    val passers = withText(passerIds)

    // Stage 3 — decontamination, gate survivors vs the RAW benchmark.
    val deco = stage("deco")(Decontamination.decontaminateOf(
        passers.select(col("doc_id"), col("text")),
        eval.select(col("doc_id"), col("text")), ngram)
      .select(col("doc_id"), col("contaminated").cast("long").as("contaminated"))
      .localCheckpoint())
    val survivorIds = stage("survivors")(passerIds
      .join(deco.filter(col("contaminated") === 0).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .localCheckpoint())
    val survivors = withText(survivorIds)

    // Stage 4 — near-dup clusters over the surviving cleaned text (the
    // oracle-portable minhash family; the xxhash64 fast path plugs in
    // unchanged via dedupMinhashOf).
    // pairs pinned: the component algorithm's budget gate and its
    // label iteration would each re-run the candidate/verify joins
    val pairs = stage("pairs")(pairFamily(
      survivors.select(col("doc_id"), col("text")),
      bands, rowsPerBand, jaccardThreshold)
      .localCheckpoint())
    val clusters = Dedup.dedupClustersOf(pairs,
      survivors.select(col("doc_id"), length(col("text")).cast("long").as("keep_rank")))
    // unclustered survivors: cluster_id 0, size 0, kept
    val dupVerdict = stage("dupVerdict")(survivorIds
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), lit(0L)).as("cluster_id"),
        coalesce(col("cluster_size"), lit(0L)).as("cluster_size"),
        coalesce(col("is_kept").cast("long"), lit(1L)).as("dup_kept"))
      .localCheckpoint())
    val kept = withText(survivorIds
      .join(dupVerdict.filter(col("dup_kept") === 1).select(col("doc_id")),
        Seq("doc_id"), "left_semi"))

    // Stage 5 — pack the final keeps, summarized per doc.
    val bpePattern = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"
    val counts = kept.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
        .cast("long").as("n_tokens"))
    val packed = Packing.packSequencesOf(counts, seqLen)
      .groupBy(col("doc_id"))
      .agg(sum(col("tok_len")).as("n_tokens"),
        min(col("seq_id")).as("seq_first"),
        max(col("seq_id")).as("seq_last"),
        min_by(col("tok_start"), col("seq_id")).as("tok_off"))

    // Stage 6 — per-source audit-sample ranks over the final keeps.
    val sample = Sampling.sampleStratifiedOf(
        kept.select(col("doc_id"), col("source")), quota)
      .select(col("doc_id"), col("sample_rank").cast("long").as("sample_rank"))

    // The ledger: every candidate doc, every stage verdict; -1 marks
    // stages the funnel never reached.
    cleaned.select(col("doc_id"), col("n_lines"), col("boiler_lines"))
      .join(gates, Seq("doc_id"))
      .join(deco, Seq("doc_id"), "left")
      .join(dupVerdict, Seq("doc_id"), "left")
      .join(packed, Seq("doc_id"), "left")
      .join(sample, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"), col("boiler_lines"),
        col("rep_keep"), col("lm_keep"),
        coalesce(col("contaminated"), lit(-1L)).as("contaminated"),
        coalesce(col("cluster_id"), lit(-1L)).as("cluster_id"),
        coalesce(col("cluster_size"), lit(-1L)).as("cluster_size"),
        coalesce(col("dup_kept"), lit(-1L)).as("dup_kept"),
        (coalesce(col("dup_kept"), lit(0L)) === 1).cast("long").as("final_keep"),
        coalesce(col("n_tokens"), lit(-1L)).as("n_tokens"),
        coalesce(col("seq_first"), lit(-1L)).as("seq_first"),
        coalesce(col("seq_last"), lit(-1L)).as("seq_last"),
        coalesce(col("tok_off"), lit(-1L)).as("tok_off"),
        coalesce(col("sample_rank"), lit(-1L)).as("sample_rank"))
      .orderBy(col("doc_id"))
  }
}
