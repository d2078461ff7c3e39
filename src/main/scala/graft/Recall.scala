package graft

import org.apache.spark.sql.SparkSession

import graft.operators.VectorSearch

/** Dev tool: measured recall@k of the ANN paths against brute force,
  * sweeping the knobs that trade cost for recall.
  * `runMain graft.Recall [sfDir]`.
  */
object Recall {

  /** Deterministic scale-up of the embeddings table for larger-SF ANN
    * sweeps (the driver testdata stops at sf0.1 = 2,000 vectors):
    * each source vector is replicated `scale` times with an
    * xxhash64-seeded per-coordinate perturbation. The amplitude (0.12 ≈
    * the component stddev) matters: replicas land WITHIN their source's
    * label cluster but not on top of the source — a 0.04 probe run left
    * top-10 sets dominated by same-source replicas and the unscaled
    * quantizer scored an uninformative 0.98 recall. At 0.12 the
    * neighbour sets mix replicas of different sources, which is how a
    * larger corpus actually densifies a semantic region.
    * New ids are `replica * n + vec_id`, keeping probe ids 0..4 on
    * DISTINCT source vectors. Written once under target/ and reused.
    */
  def scaledDir(spark: SparkSession, sfDir: String, scale: Int,
                hardProbes: Boolean = false, probes: Int = 5): String = {
    import org.apache.spark.sql.functions._
    val pSuffix = if (probes != 5) s"p$probes" else ""
    val out = if (hardProbes) s"target/synth-emb-a12q$pSuffix-x$scale"
              else s"target/synth-emb-a12-x$scale"
    if (!new java.io.File(s"$out/embeddings.parquet").exists()) {
      val src = graft.Tables.embeddings(spark, sfDir)
      val n = src.count()
      // hardProbes (round-11: make the decade-2 sweep DISCRIMINATE
      // again): at ×100 the 0.12-amplitude densification packs every
      // probe's top-10 into its own replica ball — one IVF cell holds
      // all of it, so every swept config saturates recall@10 = 1.000.
      // Drawing each probe OFF-manifold — the midpoint of its source
      // and the first later source with a DIFFERENT label — puts the
      // true top-10 on the edge of (at least) two clusters, so cell
      // coverage (nprobe, and k via cell granularity) separates
      // configs again. Probe ids stay 0..4 (replica 0), so
      // knnJoin(probeMax=5) picks them unchanged.
      // The midpoint overrides are a hardProbes-only construction —
      // computed ONLY under the flag: on the plain scaled-dir path the
      // probe-pool collect and the off-label partner search are new
      // failure modes (too few qualifying base rows, or an all-one-label
      // pool) a non-hard caller should never be able to hit.
      val overrides: Seq[(Long, Seq[Float])] = if (!hardProbes) Seq.empty
      else {
        val pool = math.max(4 * probes, 20)
        val probeSrc = src.filter(col("vec_id") < pool)
          .select(col("vec_id"), col("embedding"), col("label").cast("long"))
          .collect().map(r => (r.getLong(0),
            r.getSeq[Float](1).toArray, r.getLong(2))).sortBy(_._1)
        require(probeSrc.length >= 2 * probes,
          s"hard probes need >= ${2 * probes} base vectors with vec_id < $pool; " +
            s"found ${probeSrc.length}")
        (0L until probes.toLong).map { i =>
          val (_, ea, la) = probeSrc(i.toInt)
          // rotate the partner search start so each probe gets a
          // DIFFERENT off-label partner (a shared partner would make
          // the 50-probe set 50 variations of one boundary)
          val (_, eb, _) = (probeSrc.drop(probes + i.toInt) ++
              probeSrc.drop(probes))
            .find { case (j, _, lb) => j >= probes && lb != la }
            .getOrElse(sys.error(
              s"hard probe $i: no off-label partner in the ${probeSrc.length}-vector " +
                s"pool (all candidates carry label $la) — widen the pool or the base table"))
          (i, ea.zip(eb).map { case (x, y) => (x + y) / 2.0f }.toSeq)
        }
      }
      val overrideDf =
        if (overrides.isEmpty)
          spark.createDataFrame(Seq((0L, Seq.empty[Float]))).toDF("vec_id", "emb_mid").limit(0)
        else spark.createDataFrame(overrides).toDF("vec_id", "emb_mid")
      src.select(col("vec_id"), col("embedding"), col("label"),
        explode(sequence(lit(0), lit(scale - 1))).as("r"))
        .select(
          (col("r") * n + col("vec_id")).as("vec_id"),
          when(col("r") === 0, col("embedding")).otherwise(
            expr("transform(embedding, (x, j) -> CAST(x + 0.12 * " +
              "(pmod(xxhash64(vec_id, r, j), 2001) / 1000.0 - 1.0) AS FLOAT))"))
            .as("embedding"),
          col("label"))
        .join(broadcast(overrideDf), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("emb_mid"), col("embedding")).as("embedding"),
          col("label"))
        // spread the write: the base table is ONE file → one partition,
        // and the in-place explode keeps the scaled corpus in that one
        // partition — 51 MB of floats is a single parquet split, so
        // every downstream k-means/scan stage ran ONE task (jstack'd at
        // ×100: load 1.0 on 32 cores). Compute per byte is huge here;
        // lay the corpus out wide at write time.
        .repartition(64, col("vec_id"))
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }
    out
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scale = args.drop(1).headOption.map(_.toInt).getOrElse(1)
    val spark = GraftSession.build()
    val hard = sys.env.get("SPARK_GRAFT_RECALL_HARD").contains("1")
    // probe-set size: 5 historically; 50 tightens the sweep's recall
    // quantum from 0.02 to 0.002 (round-11 close item #4)
    val nProbes = sys.env.getOrElse("SPARK_GRAFT_RECALL_PROBES", "5").toInt
    val sfDir = if (scale > 1) scaledDir(spark, baseDir, scale, hard, nProbes)
                else baseDir
    val k = 10
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = sets(VectorSearch.knnJoin(spark, sfDir,
      probeMax = nProbes.toLong, k = k))
    val n = graft.Tables.embeddings(spark, sfDir).count()
    // (name, top-k frame, candidate frame for scanned-fraction — null for LSH)
    def ivf(name: String, nc: Int, np: Int, r: Int = 1, it: Int = 10,
            init: String = "k-means||") =
      (s"ann_ivf $name",
        () => VectorSearch.annIvf(spark, sfDir, probeMax = nProbes.toLong,
          numCentroids = nc, nprobe = np,
          replicas = r, kmeansIters = it, kmeansInit = init),
        () => VectorSearch.ivfCandidates(spark, sfDir,
          probeMax = nProbes.toLong, numCentroids = nc, nprobe = np,
          replicas = r, kmeansIters = it, kmeansInit = init))
    def lsh(name: String, tables: Int, bits: Int, mp: Int = 0) =
      (s"ann_lsh $name",
        () => VectorSearch.annLsh(spark, sfDir, probeMax = nProbes.toLong,
          tables = tables, bits = bits, probeHamming = mp),
        () => VectorSearch.lshCandidates(spark, sfDir,
          probeMax = nProbes.toLong, tables = tables, bits = bits,
          probeHamming = mp))
    // LSH scale rule under test (round-12 board #6): expected bucket
    // occupancy is n/2^bits, so holding the per-table scanned fraction
    // needs bits ~ log2(n) — bits-scaled = 4 + log2(scale) vs the
    // sf0.1-tuned (16, 4).
    val bScaled = (4 + math.log(scale) / math.log(2)).round.toInt
    val sweeps = if (scale > 1)
      // The k ~ sqrt(n) validation sweep: at scale x the tuned sf0.1
      // point (k=500, np=18 @ n=2000), the rule predicts
      // k = 500·sqrt(x) with nprobe scaled to hold the ~4-5% scan
      // budget. The UNSCALED (k=500) point shows what happens when the
      // quantizer is not re-sized with the corpus.
      Seq(
        ivf("unscaled k=500 np=18 it=5", 500, 18, it = 5),
        ivf("unscaled k=500 np=8 it=5", 500, 8, it = 5),
        ivf(s"sqrt-scaled k=${(500 * math.sqrt(scale)).toInt} np=18 it=5",
          (500 * math.sqrt(scale)).toInt, 18, it = 5),
        ivf(s"sqrt-scaled k=${(500 * math.sqrt(scale)).toInt} np=32 it=5",
          (500 * math.sqrt(scale)).toInt, 32, it = 5),
        ivf(s"sqrt-scaled k=${(500 * math.sqrt(scale)).toInt} np=${(18 * math.sqrt(scale)).toInt} it=5",
          (500 * math.sqrt(scale)).toInt, (18 * math.sqrt(scale)).toInt, it = 5),
        lsh("unscaled t=16 b=4", 16, 4),
        lsh(s"bits-scaled t=16 b=$bScaled", 16, bScaled),
        lsh(s"bits-scaled t=32 b=$bScaled", 32, bScaled),
        // multi-probe (round 13): Hamming-1/2 neighbor buckets on the
        // probe side. Design rule for the H2 grid: per-table probed
        // fraction is (1 + b + C(b,2))/2^b, so holding scan ≈ 4% at
        // t=8 needs b ≈ log2(n) + 7 — multiprobe exists precisely to
        // let bits run PAST log2(n) (tiny buckets) while the Hamming
        // ball recovers the collisions single-probe loses there.
        lsh(s"multiprobe t=16 b=$bScaled h1", 16, bScaled, mp = 1),
        lsh(s"multiprobe t=8 b=${bScaled + 3} h2", 8, bScaled + 3, mp = 2),
        lsh(s"multiprobe t=8 b=${bScaled + 7} h2", 8, bScaled + 7, mp = 2),
        lsh(s"multiprobe t=16 b=${bScaled + 7} h2", 16, bScaled + 7, mp = 2),
        lsh(s"multiprobe t=8 b=${bScaled + 8} h2", 8, bScaled + 8, mp = 2))
    else Seq(
      lsh("tables=4", 4, 4),
      lsh("tables=8", 8, 4),
      lsh("tables=16", 16, 4),
      ivf("k=200 np=5", 200, 5),
      ivf("k=500 np=12 it=5", 500, 12, it = 5),
      ivf("k=500 np=18 it=5", 500, 18, it = 5),
      ivf("k=500 np=20 it=5", 500, 20, it = 5))
    // iterate on one family without re-fitting the other's quantizers
    // (the ×100 IVF rows re-run a k=5000 k-means fit each)
    val only = sys.env.get("SPARK_GRAFT_RECALL_ONLY") // substring filter
    sweeps.filter(s => only.forall(s._1.contains)).foreach { case (name, mk, cand) =>
      val t0 = System.nanoTime()
      val got = sets(mk())
      val sec = (System.nanoTime() - t0) / 1e9
      val recalls = exact.map { case (p, ex) =>
        got.getOrElse(p, Set.empty).count(ex).toDouble / ex.size
      }
      val scanned = if (cand == null) Double.NaN
        else cand().count().toDouble / (nProbes.toDouble * n)
      println(f"[recall] $name%-20s recall@$k = ${recalls.sum / recalls.size}%.3f  " +
        f"scanned = $scanned%.3f  ($sec%.1fs)")
    }
    spark.stop()
  }
}
