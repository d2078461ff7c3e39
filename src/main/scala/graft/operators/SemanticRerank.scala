package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Semantic rerank — candidates rescored against the weighted mean of
  * context vectors (keyword_extraction/semantic_rerank.rs:78
  * `weighted_mean_vector`, :50 `cosine_similarity`, :126
  * `rerank_candidates`): candidates below `min_similarity` cosine to
  * the parent summary vector are dropped, survivors rank by
  * `semantic_weight·semantic + (1−semantic_weight)·lexical` descending.
  *
  * Deviations, documented: the reference accumulates the mean in f32
  * (a storage detail of its embedding service) — here the mean is pure
  * f64 column math; and the corpus has no per-phrase sublinear tf, so
  * the lexical score is the same saturating-tf shape over the
  * document's whitespace token count, wt/(wt+k1) with the reference's
  * k1 = 1.2 — exact rational column math on both engines.
  *
  * Plan shape: the mean vector is ONE aggregate over the tiny context
  * set (collect the vectors and weights, sum the weights) finished by
  * `graft_weighted_mean_vector` into one broadcast row — no Generate,
  * no shuffle keyed by position; candidates are one pruned corpus scan
  * → broadcast-nested-loop with that row → fused cosine →
  * TakeOrderedAndProject(k). No corpus shuffle at any scale.
  */
object SemanticRerank {

  /** weighted_mean_vector over a (embedding, weight) frame: one row
    * holding `q_emb` = Σ wᵢ·vᵢ / Σ wᵢ per position. Returns an empty
    * frame when the input is empty or Σ wᵢ ≤ 1e-10, like the reference
    * (semantic_rerank.rs:89 guard; the caller's crossJoin then yields
    * no output rows). Rows with a NULL embedding or weight contribute
    * nothing, as `sum` skips them.
    */
  def weightedMeanVector(ctx: DataFrame): DataFrame =
    ctx.select(col("embedding"), col("weight").cast("double").as("w"))
      .filter(col("embedding").isNotNull && col("w").isNotNull)
      .agg(collect_list(col("embedding")).as("vs"), collect_list(col("w")).as("ws"),
        sum(col("w")).as("tw"))
      .select(when(col("tw") > 1e-10,
        graft.GraftFunctions.weightedMeanVector(col("vs"), col("ws"))).as("q_emb"))
      .filter(size(col("q_emb")) > 0)

  /** rerank_candidates over a (vec_id, embedding, lex) frame vs a 1-row
    * (q_emb) mean frame. The threshold compares round(sem, 6) so
    * membership is stable across engines that differ in the last ulp.
    */
  def rerankOf(cands: DataFrame, meanVec: DataFrame,
               minSimilarity: Double = 0.15, semanticWeight: Double = 0.6,
               k: Int = 20): DataFrame = {
    val scored = cands.crossJoin(broadcast(meanVec))
      .withColumn("sem", graft.GraftFunctions.cosine(col("embedding"), col("q_emb")))
      .filter(round(col("sem"), 6) >= minSimilarity)
      .withColumn("combined",
        lit(semanticWeight) * col("sem") + (lit(1) - lit(semanticWeight)) * col("lex"))
    scored
      .orderBy(col("combined").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"),
        row_number().over(Window.orderBy(col("combined").desc, col("vec_id"))).as("rnk"))
      .orderBy(col("rnk"))
  }

  /** semantic_rerank query: parent summary = weighted mean of the first
    * `nContext` embeddings (weight = vec_id + 1, exact integers); every
    * other vector is a candidate with the saturating-tf lexical score
    * of its aligned document.
    */
  def semanticRerank(spark: SparkSession, dir: String,
                     nContext: Int = 5, k: Int = 20): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val ctx = emb.filter(col("vec_id") < nContext)
      .select(col("embedding"), (col("vec_id") + 1).as("weight"))
    val lex = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("double").as("wt"))
      .select(col("doc_id"), (col("wt") / (col("wt") + 1.2)).as("lex"))
    val cands = emb.filter(col("vec_id") >= nContext)
      .join(lex, col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("embedding"), col("lex"))
    rerankOf(cands, weightedMeanVector(ctx), k = k)
  }
}
