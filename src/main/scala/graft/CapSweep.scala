package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dev tool: the recall-vs-W curve for the bucket-window-capped minhash
  * family — places the knee of the W knob instead of asserting it.
  * For each W: pair count, fraction of the full family's pair set
  * recovered, cluster-keep agreement with the full family (the
  * clustering consumer's metric), and coarse wall time.
  * `runMain graft.CapSweep [sfDir]`.
  */
object CapSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.build()
    // Density-matched CLUSTER subsample (round-15 board #3, the
    // absolute-anchor path): with SPARK_GRAFT_CAPSWEEP_CLUSTER_SAMPLE=K,
    // keep only documents whose BASE near-dup cluster (connected
    // component of the full family at the unscaled base dir, mapped
    // through the ScaleUp doc_id stride) hashes ≡ 0 (mod K) — every
    // kept cluster keeps ALL its replicas across all shards, so cluster
    // sizes and the intra-group bucket crowding that drives W-cap
    // coverage loss stay decade-exact, while the full family's pair
    // set shrinks ~K× to materializable size. Cross-GROUP co-bucketing
    // (moderately-similar docs of different base clusters) thins by
    // (1 − 1/K); the estimator is therefore VALIDATED at the decades
    // where the true absolute is computable (sf0.1, ×10) before the
    // ×100 number is carried as the anchor.
    val clusterSample =
      sys.env.getOrElse("SPARK_GRAFT_CAPSWEEP_CLUSTER_SAMPLE", "1").toInt
    val docsAll = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val docs = (if (clusterSample <= 1) docsAll else {
      val baseDir =
        sys.env.getOrElse("SPARK_GRAFT_CAPSWEEP_BASE_DIR", "/root/testdata/sf0.1")
      println(s"[capsweep] cluster subsample: mod=$clusterSample base=$baseDir")
      val baseDocs = Tables.documents(spark, baseDir)
        .select(col("doc_id"), col("text"))
      val basePrio = baseDocs.select(col("doc_id"),
        length(col("text")).cast("long").as("keep_rank"))
      val roots = Dedup.dedupClustersOf(
          Dedup.dedupMinhashOf(baseDocs).select(col("a"), col("b")), basePrio)
        .select(col("doc_id").as("base_id"), col("cluster_id").as("root"))
      docsAll
        .withColumn("base_id", col("doc_id") % 10000)
        .join(broadcast(roots), Seq("base_id"), "left")
        .withColumn("root", coalesce(col("root"), col("base_id")))
        .filter(pmod(xxhash64(col("root")), lit(clusterSample)) === 0)
        .select(col("doc_id"), col("text"))
    }).localCheckpoint()
    if (clusterSample > 1)
      println(s"[capsweep] subsample docs=${docs.count()} of ${docsAll.count()}")
    val prio = docs.select(col("doc_id"),
      length(col("text")).cast("long").as("keep_rank")).localCheckpoint()

    // Density-matched bucket subsample (round-15 board #3): with
    // SPARK_GRAFT_CAPSWEEP_BUCKET_MOD=K > 1, both the reference and the
    // grid keep only band buckets with hash ≡ 0 (mod K). Retained
    // buckets keep their FULL member lists — decade-exact occupancy,
    // the quantity that drives W-cap coverage loss — while the pair
    // family shrinks ~K×, making the decade-3 FULL family
    // materializable for an ABSOLUTE anchor. Validate the estimator at
    // the decades where the true absolute exists (sampled ≈ unsampled
    // at sf0.1/×10), then carry the ×100 sampled number as the anchor.
    // Multi-bucket rescue shrinks on BOTH sides of the ratio, slightly
    // conservatively for the capped side (more buckets = more chances
    // at a within-W slot), so the anchor reads as a mild lower bound.
    val bucketMod = sys.env.getOrElse("SPARK_GRAFT_CAPSWEEP_BUCKET_MOD", "1").toInt
    if (bucketMod > 1)
      println(s"[capsweep] density-matched bucket subsample: mod=$bucketMod")
    def pairsOf(w: Int, passes: Int = 1) =
      if (w <= 0) Dedup.dedupMinhashOf(docs, bucketSampleMod = bucketMod)
      else Dedup.dedupMinhashCappedOf(docs, window = w, passes = passes,
        bucketSampleMod = bucketMod)
    def keepsOf(p: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      Dedup.dedupClustersOf(p.select(col("a"), col("b")), prio)
        .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap

    // Reference point: the full family (W=0) by default. At decade 3
    // the full pair set is disk-infeasible BY ITS OWN OUTPUT (the ×100
    // attempt filled >60 GB of spill before its first count — recorded
    // in CAPSWEEP_r14.txt), so SPARK_GRAFT_CAPSWEEP_REF="W:P" swaps in
    // a capped anchor (W=32) and the grid reads as coverage RELATIVE
    // to that anchor — cross-calibrated against the absolute ladder at
    // the decades where both references exist.
    val (refW, refP) = sys.env.get("SPARK_GRAFT_CAPSWEEP_REF") match {
      case Some(s) => val Array(w, p) = s.split(":"); (w.trim.toInt, p.trim.toInt)
      case None => (0, 1)
    }
    val refLabel = if (refW == 0) "full" else s"W=$refW P=$refP"
    val t0 = System.nanoTime()
    val fullPairs = pairsOf(refW, refP).localCheckpoint()
    val fullN = fullPairs.count()
    val fullSec = (System.nanoTime() - t0) / 1e9
    val kf = keepsOf(fullPairs)
    println(f"[capsweep] ref=$refLabel  pairs=$fullN%8d  recovered=1.000  keep_agree=1.000  ($fullSec%.1fs)  docs_clustered=${kf.size}")

    // (W, passes) grid — the round-13 question: does a second
    // independent band-seed pass at W=8 recover coverage faster than
    // widening the window to 16/32 at equal-or-less runtime?
    // SPARK_GRAFT_CAPSWEEP_GRID="8:1,8:2,..." overrides (round 14: the
    // ×100 run sweeps only the README ladder rows — the full-family
    // reference alone costs most of the decade-3 budget).
    val grid = sys.env.get("SPARK_GRAFT_CAPSWEEP_GRID") match {
      case Some(s) => s.split(",").toSeq.map { wp =>
        val Array(w, p) = wp.split(":"); (w.trim.toInt, p.trim.toInt)
      }
      case None => Seq((1, 1), (2, 1), (4, 1), (8, 1), (16, 1), (32, 1),
        (8, 2), (8, 3), (8, 4), (16, 2))
    }
    for ((w, passes) <- grid) {
      val t1 = System.nanoTime()
      val p = pairsOf(w, passes).localCheckpoint()
      val n = p.count()
      val sec = (System.nanoTime() - t1) / 1e9
      val kc = keepsOf(p)
      val common = kf.keySet intersect kc.keySet
      val agree =
        if (common.isEmpty) Double.NaN
        else common.count(d => kf(d) == kc(d)).toDouble / common.size
      // clustered-doc coverage: docs the full family clusters that the
      // capped family also sees (a doc missing entirely counts against
      // the clustering consumer too)
      val coverage = if (kf.isEmpty) Double.NaN
        else common.size.toDouble / kf.size
      println(f"[capsweep] W=$w%-4d P=$passes%-2d pairs=$n%8d  recovered=${n.toDouble / fullN}%.3f  " +
        f"keep_agree=$agree%.3f  coverage=$coverage%.3f  ($sec%.1fs)")
    }
    spark.stop()
  }
}
