package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic ×N synthetic scale-up of the whole driver corpus — the
  * measurement harness behind SURVEY §6's scaling-exponent table
  * (round-8 board #1: convert every "would survive 100×" claim from
  * argument to measurement).
  *
  * Each table is replicated `scale`× with per-replica key namespacing
  * (disjoint strides a power of ten above the base max, the TPC-H-style
  * scaling shape: 10 structurally-identical shards of the business,
  * join fan-outs preserved per shard). Content perturbation is chosen
  * per table so the OUTPUT of each operator family scales the way a
  * real 10× corpus would:
  *
  *  - `documents`: replica 0 is the original; replicas r>0 replace
  *    every token with `xxhash64(r, token) % 3 == 0` by a
  *    replica-derived surrogate (`q` + md5 prefix of (token, r)). The
  *    decision and the surrogate depend on the token CONTENT, not its
  *    position, so the mutation is alignment-independent: two
  *    near-dup docs share their tokens, the shared tokens transform
  *    identically, and within-replica near-dup structure is preserved
  *    (a position-based variant was measured destroying it — the two
  *    docs' diffs shift alignment, and intra-replica Jaccard of a
  *    0.65-pair collapsed to 0.19). Cross-replica, ~1/3 of token
  *    occurrences differ, putting a doc's 3-gram Jaccard to its own
  *    source at ~0.45 — BELOW the 0.6 near-dup threshold — so dedup
  *    pair volume scales LINEARLY with the corpus (10 shards × the
  *    original pair structure), not quadratically through
  *    replica-chains of the same document. A corpus whose duplicate
  *    clusters really do grow 10× is a different workload (the
  *    exact-dup pre-pass is the answer there, SURVEY §4).
  *  - `embeddings`: the Recall.scaledDir recipe (validated for the IVF
  *    k~√n rule in round 7): per-coordinate perturbation of amplitude
  *    0.12 ≈ the component stddev, so replicas densify their source's
  *    semantic region without sitting on top of it.
  *  - `events`/TPC-H tables: pure key-namespaced replication — windows
  *    and sessions get 10× volume over the same time span, per-key
  *    skew shape is preserved within each shard.
  *
  * Written once under `target/synth-corpus-x<scale>/` and reused.
  * `runMain graft.ScaleUp [scale] [baseDir]`, then point Bench at the
  * printed dir (`SPARK_GRAFT_SF_DIR`).
  */
object ScaleUp {

  def scaledDir(spark: SparkSession, baseDir: String, scale: Int): String = {
    val out = s"target/synth-corpus-x$scale"
    val done = new java.io.File(s"$out/_COMPLETE")
    if (done.exists()) return out

    def reps(df: DataFrame): DataFrame =
      df.withColumn("r", explode(sequence(lit(0L), lit(scale - 1L))))

    // Fail loudly if a base key would collide across replicas — e.g.
    // pointing ScaleUp at an ALREADY-SCALED dir, whose keys exceed the
    // strides below and would silently merge replicas into a corrupt
    // corpus.
    def checkStrides(df: DataFrame, table: String, keys: (String, Long)*): Unit = {
      // one full-table scan per TABLE (not per key), null-safe: max()
      // over an empty table is NULL, which must surface as the
      // descriptive message below, not an NPE
      val aggs = keys.map { case (key, _) => max(col(key).cast("long")) }
      val row = df.agg(aggs.head, aggs.tail: _*).head
      keys.zipWithIndex.foreach { case ((key, stride), i) =>
        require(!row.isNullAt(i),
          s"ScaleUp: $table is empty — no base rows to replicate")
        val mx = row.getLong(i)
        require(mx < stride,
          s"ScaleUp: $table.$key max $mx >= stride $stride — base dir " +
            s"already scaled or stride too small; replicas would collide")
      }
    }
    checkStrides(Tables.documents(spark, baseDir), "documents", "doc_id" -> 10000L)
    checkStrides(Tables.embeddings(spark, baseDir), "embeddings", "vec_id" -> 10000L)
    checkStrides(Tables.events(spark, baseDir), "events",
      "event_id" -> 1000000L, "user_id" -> 10000L)
    checkStrides(Tables.orders(spark, baseDir), "orders",
      "o_orderkey" -> 1000000L, "o_custkey" -> 100000L)
    checkStrides(Tables.lineitem(spark, baseDir), "lineitem",
      "l_orderkey" -> 1000000L, "l_partkey" -> 100000L, "l_suppkey" -> 10000L)
    checkStrides(Tables.customer(spark, baseDir), "customer", "c_custkey" -> 100000L)
    checkStrides(Tables.supplier(spark, baseDir), "supplier", "s_suppkey" -> 10000L)
    checkStrides(Tables.part(spark, baseDir), "part", "p_partkey" -> 100000L)

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    // documents — per-replica deterministic token-content-anchored
    // replacement (corpus text is single-line space-separated; the
    // driver generator emits no newlines/tabs, checked before this
    // shape was chosen)
    val mutated = expr(
      "array_join(transform(split(text, ' '), t -> " +
        "CASE WHEN pmod(xxhash64(r, t), 3) = 0 " +
        "THEN concat('q', substr(md5(concat(t, CAST(r AS STRING))), 1, 5)) " +
        "ELSE t END), ' ')")
    write(reps(Tables.documents(spark, baseDir)).select(
      (col("r") * 10000L + col("doc_id")).as("doc_id"),
      when(col("r") === 0L, col("text")).otherwise(mutated).as("text"),
      col("lang"), col("source"))
      .withColumn("n_chars", length(col("text"))), "documents")

    // embeddings — Recall.scaledDir amplitude (0.12 ≈ component stddev)
    write(reps(Tables.embeddings(spark, baseDir)).select(
      (col("r") * 10000L + col("vec_id")).as("vec_id"),
      when(col("r") === 0L, col("embedding")).otherwise(
        expr("transform(embedding, (x, j) -> CAST(x + 0.12 * " +
          "(pmod(xxhash64(vec_id, r, j), 2001) / 1000.0 - 1.0) AS FLOAT))"))
        .as("embedding"),
      col("label")), "embeddings")

    // events — key-namespaced replication, time axis untouched
    write(reps(Tables.events(spark, baseDir)).select(
      (col("r") * 1000000L + col("event_id")).as("event_id"),
      col("ts"),
      (col("r") * 10000L + col("user_id")).as("user_id"),
      col("event_type"), col("value"), col("props")), "events")

    write(reps(Tables.orders(spark, baseDir)).select(
      (col("r") * 1000000L + col("o_orderkey")).as("o_orderkey"),
      (col("r") * 100000L + col("o_custkey")).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), "orders")

    write(reps(Tables.lineitem(spark, baseDir)).select(
      (col("r") * 1000000L + col("l_orderkey")).as("l_orderkey"),
      (col("r") * 100000L + col("l_partkey")).as("l_partkey"),
      (col("r") * 10000L + col("l_suppkey")).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")), "lineitem")

    write(reps(Tables.customer(spark, baseDir)).select(
      (col("r") * 100000L + col("c_custkey")).as("c_custkey"),
      col("c_name"), col("c_nationkey"), col("c_acctbal"),
      col("c_mktsegment")), "customer")

    write(reps(Tables.supplier(spark, baseDir)).select(
      (col("r") * 10000L + col("s_suppkey")).as("s_suppkey"),
      col("s_name"), col("s_nationkey"), col("s_acctbal")), "supplier")

    write(reps(Tables.part(spark, baseDir)).select(
      (col("r") * 100000L + col("p_partkey")).as("p_partkey"),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("p_retailprice")), "part")

    // fixed dimensions — copied untouched
    write(Tables.region(spark, baseDir), "region")
    write(Tables.nation(spark, baseDir), "nation")

    java.nio.file.Files.writeString(done.toPath, "ok")
    out
  }

  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toInt).getOrElse(10)
    val baseDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.build()
    val out = scaledDir(spark, baseDir, scale)
    println(s"scaled corpus ready: $out")
    spark.stop()
  }
}
