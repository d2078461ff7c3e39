package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.TextFunctions._

/** Sparse (BM25) retrieval, hybrid RRF fusion, grep, and diversity
  * re-ranking — the reference's search core re-expressed as batch
  * DataFrame jobs.
  *
  * Reference semantics:
  *  - BM25: `embedding/bm25.rs:184` — `IDF * (k1*tf)/(tf+k1)` with
  *    `IDF = ln((N-df+0.5)/(df+0.5)).max(0)`, k1 = 1.2 (no length
  *    normalization, i.e. b = 0 — matches the reference exactly).
  *  - BM25 tokenizer: `embedding/bm25.rs:16` `tokenize_for_bm25` — the
  *    junk-filtering tokenizer IS the scoring tokenizer for every
  *    BM25-family operator (hex hashes, versions, paths, digits carry
  *    no IDF weight). The nlp.rs tokenizer serves the keyword/lexicon
  *    family only, as in the reference.
  *  - `score_threshold`: first-class parameter on every search API
  *    (`storage/search.rs:251,265`) — results scoring below the
  *    threshold are dropped before ranking.
  *  - Hybrid RRF: `storage/search.rs:368` — fetch 2k from each ranker,
  *    score `w/(60+rank)`, sum per id, sort desc.
  *  - Diversity penalty: `source_diversity/penalty.rs:51` — two tiers:
  *    the Nth consecutive same-FILE result is multiplied by `0.85^N`
  *    (N counted from the second run member), a different-file
  *    same-PROJECT result by `0.92^project_run`, where the project run
  *    survives intervening file-tier rows and resets only on a
  *    fully-new source. Then the list re-sorts by adjusted score.
  *
  * Scale posture: query-scoped scoring (everything built on
  * [[bm25ScoresForQuery]] and [[bm25TopKExpanded]]) is one corpus scan
  * plus a 1-row stats broadcast. The scan counts the query's terms per
  * document inside the projection (`graft_bm25_term_counts`); one
  * global aggregate over those counts yields N(docs) and each term's
  * df, and that single row is broadcast back to the scan for scoring.
  * Nothing keyed by term is shuffled, so a 4-term query costs the same
  * whatever the corpus vocabulary. Corpus-wide operators
  * (`sparseVectors`, `idfRebalance`, `keywordTfidf`) need every term:
  * they join tf to stats WITHOUT a broadcast hint — AQE picks
  * broadcast while the vocab fits and falls back to a (skew-mitigated)
  * shuffle join beyond that, with N(docs) riding the plan as a
  * broadcast 1-row aggregate. Rankings output integer ranks only
  * (hash-stable across engines).
  */
object SparseSearch {

  val K1 = 1.2

  /** nlp.rs term frequencies — the keyword/lexicon-family tokenizer.
    * (doc_id, term, tf) — one shuffle with map-side combine. */
  def termFreq(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokenizeSimple(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** bm25.rs term frequencies — the junk-filtered scoring tokenizer
    * (tokenize_for_bm25, bm25.rs:16-55). */
  def termFreqBm25(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokenizeBm25(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** (term, df) document frequencies from a (doc_id, term, tf) table.
    * Shares its shuffle with the tf side via Spark's ReuseExchange. */
  def docFreq(tf: DataFrame): DataFrame =
    tf.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** tokenize_for_bm25 of a driver-held query string — the scalar side
    * of the kernel behind [[graft.functions.TextFunctions.tokenizeBm25]]. */
  def tokenizeBm25Query(text: String): Seq[String] =
    org.apache.spark.sql.graft.Bm25TermCounts.tokenize(text)

  /** 1-row (n_docs) corpus size as a broadcast dimension — keeps N
    * inside the plan instead of a driver-side count() action. */
  private def withNDocs(df: DataFrame, docs: DataFrame): DataFrame =
    df.crossJoin(broadcast(docs.agg(count(lit(1)).cast("double").as("n_docs"))))

  /** BM25 IDF: ln((N-df+0.5)/(df+0.5)) floored at 0 (bm25.rs:184). */
  private def idf(df: Column): Column =
    greatest(log((col("n_docs") - df + 0.5) / (df + 0.5)), lit(0.0))

  /** Shared BM25 scorer: per-doc score for a weighted term set.
    * The scan counts each term per document (`tf_i`); one global
    * aggregate of those counts gives `n_docs` and `df_i = Σ[tf_i > 0]`
    * and is broadcast as one row; the score is
    * `Σ_i idf_i·(k1·tf_i)/(tf_i+k1)·tw_i`. Zero-score docs are dropped
    * (bm25.rs semantics); an optional `score_threshold` filters before
    * ranking (search.rs:251).
    */
  private def bm25Scores(docs: DataFrame, weights: Seq[(String, Double)],
                         threshold: Option[Double]): DataFrame = {
    val terms = weights.map(_._1)
    val tf = docs.select(col("doc_id"),
      graft.GraftFunctions.bm25TermCounts(col("text"), terms).as("tf"))
    def tfAt(i: Int): Column = col("tf").getItem(i)
    val stats = tf.agg(count(lit(1)).cast("double").as("n_docs"),
      terms.indices.map(i => sum(when(tfAt(i) > 0, 1).otherwise(0)).as(s"df_$i")): _*)
    val contribs = weights.zipWithIndex.map { case ((_, tw), i) =>
      idf(col(s"df_$i")) * (lit(K1) * tfAt(i)) / (tfAt(i) + lit(K1)) * lit(tw)
    }
    val scored = tf.crossJoin(broadcast(stats))
      .select(col("doc_id"), contribs.reduceOption(_ + _).getOrElse(lit(0.0)).as("score"))
      .filter(col("score") > 0)
    threshold.fold(scored)(t => scored.filter(col("score") >= t))
  }

  /** (doc_id, rnk) top-k of a scored table — TakeOrderedAndProject. */
  private def rankTopK(scored: DataFrame, k: Int, idCol: String = "doc_id"): DataFrame =
    scored
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol),
        row_number().over(Window.orderBy(col("score").desc, col(idCol))).as("rnk"))
      .orderBy(col("rnk"))

  /** BM25-ranked retrieval of `k` documents for a fixed text query. */
  def bm25TopK(spark: SparkSession, dir: String,
               query: String = "dup vector window fast", k: Int = 10,
               threshold: Option[Double] = None): DataFrame =
    bm25TopKDocs(spark, Tables.documents(spark, dir), query, k, threshold)

  /** BM25 retrieval over any (doc_id, text) DataFrame — the generic core
    * behind [[bm25TopK]], also exercised by the reference-parity specs.
    */
  def bm25TopKDocs(spark: SparkSession, docs: DataFrame, query: String, k: Int,
                   threshold: Option[Double] = None): DataFrame =
    rankTopK(bm25ScoresForQuery(spark, docs, query, threshold), k)

  /** (doc_id, score) BM25 scores for a plain query — the shared scorer,
    * also used by cross-collection search. */
  def bm25ScoresForQuery(spark: SparkSession, docs: DataFrame, query: String,
                         threshold: Option[Double] = None): DataFrame = {
    bm25Scores(docs, tokenizeBm25Query(query).distinct.map(_ -> 1.0), threshold)
  }

  /** Sparse query expansion (reference:
    * client/src/search/expansion.rs:16 `merge_sparse_vectors` +
    * search_tests_score.rs DEFAULT_EXPANSION_WEIGHT = 0.5): expansion
    * terms contribute at `weight`, and ONLY if they are not already
    * query terms (add-if-absent merge). Pure map function. */
  def mergeSparseVectors(original: Map[String, Double],
                         expansion: Map[String, Double],
                         weight: Double = 0.5): Map[String, Double] =
    expansion.foldLeft(original) { case (acc, (t, v)) =>
      if (acc.contains(t)) acc else acc + (t -> v * weight)
    }

  /** BM25 retrieval with expansion keywords merged at `weight` — the
    * search tool's tag-basket expansion path, as one plan: per-term
    * weights are literals of the score expression.
    */
  def bm25TopKExpanded(spark: SparkSession, dir: String,
                       query: String = "dup vector",
                       expansion: Seq[String] = Seq("window", "fast", "line"),
                       weight: Double = 0.5, k: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val weights = mergeSparseVectors(
      tokenizeBm25Query(query).distinct.map(_ -> 1.0).toMap,
      expansion.map(_ -> 1.0).toMap, weight)
    rankTopK(bm25Scores(docs, weights.toSeq, None), k)
  }

  /** Per-document sparse-vector summary (the reference materializes one
    * sparse BM25 vector per chunk — `embedding/bm25.rs:162`): number of
    * non-zero terms and the L2 norm of the BM25 weights. Corpus-wide:
    * the tf⋈df join is unhinted — AQE broadcasts while the vocab fits.
    */
  def sparseVectors(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = termFreqBm25(docs)
    withNDocs(tf.join(docFreq(tf), "term"), docs)
      .withColumn("w", idf(col("df")) * (lit(K1) * col("tf")) / (col("tf") + lit(K1)))
      .filter(col("w") > 0)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nnz"),
        round(sqrt(sum(col("w") * col("w"))), 4).as("l2_norm"))
      .orderBy(col("doc_id"))
  }

  /** Hybrid dense+sparse retrieval with Reciprocal Rank Fusion.
    * doc_id and vec_id share the id space (one collection, two named
    * vectors — the Qdrant model). Each ranker contributes
    * `weight/(60+rank)`; fused scores are exact rationals, so ordering
    * is engine-stable. `threshold` filters fused scores (search.rs:265).
    */
  def hybridRrf(spark: SparkSession, dir: String,
                queryId: Long = 0L, query: String = "dup vector window fast",
                k: Int = 20, denseWeight: Double = 1.0, sparseWeight: Double = 1.0,
                threshold: Option[Double] = None): DataFrame = {
    val fetch = k * 2 // reference fetches limit*2 from each ranker
    val dense = VectorSearch.denseTopK(spark, dir, queryId = queryId, k = fetch)
      .select(col("vec_id").as("id"), col("rnk").as("dense_rank"))
    val sparse = bm25TopK(spark, dir, query = query, k = fetch)
      .select(col("doc_id").as("id"), col("rnk").as("sparse_rank"))

    val fused = dense.join(sparse, Seq("id"), "full_outer")
      .withColumn("score",
        coalesce(lit(denseWeight) / (lit(60.0) + col("dense_rank")), lit(0.0)) +
        coalesce(lit(sparseWeight) / (lit(60.0) + col("sparse_rank")), lit(0.0)))
    val cut = threshold.fold(fused)(t => fused.filter(col("score") >= t))
    rankTopK(cut, k, idCol = "id")
  }

  /** Regex text search with per-document match counts (the reference's
    * `grep` MCP tool over FTS — mcp-server/src/tools/grep.rs). A single
    * projected scan; the regex runs codegen'd per row.
    */
  def grepSearch(spark: SparkSession, dir: String,
                 pattern: String = "quer(y|ies)"): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(pattern)).as("n_matches"))
      .filter(col("n_matches") > 0)
      .orderBy(col("doc_id"))

  /** Source-diversity re-ranking of the hybrid result list
    * (penalty.rs semantics, both tiers): file = `source`, project =
    * a derived source group (`p<source_number mod 5>` — the test corpus
    * has no tenant column, so projects are a deterministic grouping of
    * sources). The k-row hybrid list is the BROADCAST side; the corpus
    * scan streams past it — never the reverse.
    */
  def diversityRerank(spark: SparkSession, dir: String,
                      k: Int = 20, filePenalty: Double = 0.85,
                      projectPenalty: Double = 0.92): DataFrame = {
    val hybrid = hybridRrf(spark, dir, k = k)
      .withColumn("score",
        lit(1.0) / (lit(60.0) + col("rnk"))) // monotone stand-in score
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").as("id"), col("source").as("file"),
        concat(lit("p"), expr("cast(substring(source, 4) as int) % 5")).as("project"))
    val ranked = docs.join(broadcast(hybrid), Seq("id"))
    applyDiversityPenalty(ranked.drop("rnk"), filePenalty, projectPenalty)
      .select(col("id"), col("file").as("source"),
        row_number().over(Window.orderBy(col("adj_score").desc, col("id"))).as("rnk"))
      .orderBy(col("rnk"))
  }

  /** The penalty core (penalty.rs:51 two-tier state machine): walk the
    * (score desc, id) order; a row whose `file` matches the previous
    * row's is tier FILE, else a row whose `project` matches is tier
    * PROJECT, else no tier. `file_run` counts consecutive FILE rows and
    * resets on anything else; `project_run` counts PROJECT rows since
    * the last untiered row — it survives intervening FILE rows (same
    * file implies same project) and resets only on a fully-new source.
    * Multipliers: FILE → filePenalty^file_run, PROJECT →
    * projectPenalty^project_run.
    *
    * Declarative walk: lag → tier, gaps-and-islands for file runs, a
    * running N-count segment + running P-count for project runs. The
    * input is a top-k result list (≤ hundreds of rows), so the global
    * single-partition windows are bounded — this operator re-ranks a
    * page, it never sees the corpus.
    */
  def applyDiversityPenalty(ranked: DataFrame, filePenalty: Double = 0.85,
                            projectPenalty: Double = 0.92): DataFrame = {
    val walk = Window.orderBy(col("score").desc, col("id"))
    val tiered = ranked
      .withColumn("rn", row_number().over(walk))
      .withColumn("tier",
        when(col("file") === lag(col("file"), 1).over(walk), "F")
          .when(col("project") === lag(col("project"), 1).over(walk), "P")
          .otherwise("N"))
    val byRn = Window.orderBy(col("rn"))
    val islands = tiered
      // islands of consecutive F rows (the non-F partition is unused)
      .withColumn("f_isl",
        col("rn") - row_number().over(Window.partitionBy(col("tier") === "F").orderBy(col("rn"))))
      // segment id between untiered rows: project runs live inside one segment
      .withColumn("n_seg",
        sum(when(col("tier") === "N", 1).otherwise(0)).over(byRn))
    val runs = islands
      .withColumn("file_run",
        when(col("tier") === "F",
          row_number().over(Window.partitionBy(col("tier"), col("f_isl")).orderBy(col("rn"))))
          .otherwise(0))
      .withColumn("project_run",
        when(col("tier") === "P",
          sum(when(col("tier") === "P", 1).otherwise(0))
            .over(Window.partitionBy(col("n_seg")).orderBy(col("rn"))))
          .otherwise(0))
    runs
      .withColumn("adj_score",
        col("score") * when(col("tier") === "F", pow(lit(filePenalty), col("file_run")))
          .when(col("tier") === "P", pow(lit(projectPenalty), col("project_run")))
          .otherwise(lit(1.0)))
      .drop("rn", "tier", "f_isl", "n_seg", "file_run", "project_run")
  }

  /** IDF drift correction factors (idf_rebalance.rs:73 `idf_correction`
    * + `bm25_idf`): sparse weights stored at ingest time used the corpus
    * size N of that moment; as the corpus grows, the correction
    * `new_idf / old_idf` brings them to the current N. The "old"
    * snapshot is a deterministic 80% slice (doc_id % 5 != 0 — standing
    * in for `last_corrected_n` from the reference's state store). Same
    * guards as the reference: df = 0 or df > n → idf 0 (corrupt-vocab
    * guard, idf_rebalance.rs:63); old_idf < 1e-10 or no growth → factor
    * 1. One groupBy over the tokenized corpus + a broadcast 1-row count
    * dim — map-side at any scale.
    */
  def idfRebalance(spark: SparkSession, dir: String, oldMod: Int = 5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val dfStats = docFreq(termFreqBm25(docs))
    val counts = docs.agg(
      count(lit(1)).cast("double").as("new_n"),
      sum(when(pmod(col("doc_id"), lit(oldMod)) =!= 0, 1).otherwise(0)).cast("double").as("old_n"))
    def idf(n: Column): Column =
      when(col("df") > n, lit(0.0))
        .otherwise(greatest(log((n - col("df") + 0.5) / (col("df") + 0.5)), lit(0.0)))
    dfStats.crossJoin(broadcast(counts))
      .withColumn("old_idf", idf(col("old_n")))
      .withColumn("new_idf", idf(col("new_n")))
      .select(col("term"), col("df"),
        when(col("old_n") === col("new_n"), lit(1.0))
          .when(col("old_idf") < 1e-10, lit(1.0))
          .otherwise(round(col("new_idf") / col("old_idf"), 4)).as("correction"))
      .orderBy(col("term"))
  }

  /** Top tf-idf keyword per document (the reference's lexical candidate
    * stage — keyword_extraction/lexical_candidates, which tokenizes with
    * nlp.rs). tf·ln(N/df), deterministic term-asc tiebreak. The tf⋈df
    * join is unhinted — AQE broadcasts the stats while the vocab fits.
    */
  def keywordTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = termFreq(docs)
    val scored = withNDocs(tf.join(docFreq(tf), "term"), docs)
      .withColumn("tfidf", col("tf") * log(col("n_docs") / col("df")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("term").as("keyword"))
      .orderBy(col("doc_id"))
  }
}
