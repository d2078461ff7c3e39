package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: every SparkEntry query on SPARK_GRAFT_SF_DIR.
  *
  * Stabilized protocol (local[32] single-JVM runs vary ±20% with JVM
  * and page-cache state otherwise): one untimed warmup query first
  * (pays classloading + parquet-footer + first-codegen costs), then
  * each query runs SPARK_GRAFT_BENCH_REPEATS times (default 3) in-JVM
  * and reports the MEDIAN — the first, cold repeat carries the
  * query-specific codegen compile, so the median reflects steady-state
  * execution. The JVM heap is pinned in build.sbt (-Xmx24g default).
  *
  * Contention evidence: machine load during a bench run inflates
  * medians in ways a reader cannot attribute from one number (three
  * rounds of anomalous driver artifacts). The output therefore carries
  * per-query MIN alongside the median — min is far more robust to
  * external contention, so med ≫ min across many queries reads as "the
  * machine was busy", not "the code got slower" — plus a `health`
  * object: process CPU seconds vs wall, GC time, and system load
  * average, so the artifact is adjudicable on its own.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt
    // Twin-probe mode (SPARK_GRAFT_FORCE_DISTRIBUTED=1, see GraftSession):
    // the 100 TB distributed twins keep a tracked sf0.1 runtime — the
    // corpus graphs all sit under the compact budgets, so a regression
    // in a distributed twin would otherwise be invisible until cluster
    // scale. Typically combined with SPARK_GRAFT_BENCH_ONLY over the
    // gated queries.
    val spark = GraftSession.build()
    val forceDistributed = sys.props.get("graft.forceDistributed").contains("1")
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def cpuNanos: Long = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }
    val wall0 = System.nanoTime(); val cpu0 = cpuNanos; val gc0 = gcMillis
    val evictPins = warmStore(spark, sfDir)
    // Optional comma-separated filter for isolated fresh-JVM probes of
    // individual queries (regression bisection without a full run).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Names in BENCH_ONLY that are NOT registered queries resolve
    // through Probe's dev-target map (round 15): probe-only forms
    // (sink/nosort twins, knob variants) get protocol-grade repeats-N
    // medians in the same artifact layout as registered rows.
    val probeExtras = only.toSeq.flatten
      .filterNot(SparkEntry.queries.contains).sorted
      .map(n => n -> Probe.targetFn(n))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) } ++ probeExtras
    val results = selected.map { case (name, fn) =>
      val times = (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        // Forcing is toRdd.count(), NOT Dataset.count(): count() lets
        // the optimizer prune every column and then (Spark 3.4+
        // distinct-keys propagation) ELIMINATE left joins against
        // aggregated verdict frames — entire subtrees of the measured
        // query silently skip. Measured: decontaminate 0.17 s under
        // count() vs ~10 s really materializing its gram overlap at
        // sf0.1. toRdd executes the query's own physical plan with all
        // output columns and counts rows executor-side.
        val n = try { fn(spark, sfDir).queryExecution.toRdd.count() }
          catch { case _: Throwable => -1L }
        val sec = (System.nanoTime() - t0) / 1e9
        evictPins()
        (sec, n)
      }
      // Compact the heap between queries: accumulated garbage from a
      // long bench JVM otherwise bleeds GC pauses into later timings
      // (the round-2/3 driver-artifact pathology).
      System.gc()
      // A crashed repeat (rows = -1) recorded a FAILURE duration, not a
      // measurement — med/min are computed over successful repeats only,
      // so a single mid-run crash can never contribute a timing (the
      // round-11 timed-failure hazard, closed for partial failures too).
      // When EVERY repeat failed there is no measurement; the failure
      // durations are reported as-is and the query lands in `failed`.
      val ok = times.filter(_._2 >= 0)
      val basis = if (ok.nonEmpty) ok else times
      val sorted = basis.map(_._1).sorted
      val med = sorted(basis.length / 2)
      val min = sorted.head
      System.err.println(f"[bench] $name%-22s med=$med%7.2fs min=$min%7.2fs  " +
        f"rows=${times.last._2}  runs=${times.map(t => f"${t._1}%.2f").mkString(",")}")
      name -> (med, min, times.map(_._2).max, times.exists(_._2 < 0))
    }
    val qs = results.map { case (k, (m, _, _, _)) => s"\"" + k + "\":" + m }
      .mkString("{", ",", "}")
    val qmins = results.map { case (k, (_, mn, _, _)) => s"\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    // A repeat that THREW was timed as -1 rows by the catch above —
    // silently folding that into the medians made a ×100 disk-full
    // failure look like a (slow) success (round 11, the
    // corpus_pipeline_fast anomaly). The artifact must carry the
    // failure signal: `failed` lists queries where NO repeat returned
    // rows (their reported timings are failure durations, not
    // measurements); `partial_failed` lists queries where SOME repeat
    // crashed — those med/min are computed over the surviving repeats
    // only, but the instability itself must be visible.
    val failed = results.collect { case (k, (_, _, n, _)) if n < 0 => s"\"$k\"" }
      .mkString("[", ",", "]")
    val partialFailed = results
      .collect { case (k, (_, _, n, anyFail)) if n >= 0 && anyFail => s"\"$k\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2._1).sum
    val totalMin = results.map(_._2._2).sum
    // Operator/instrument split (SparkEntry.instruments): `value` stays
    // the cross-round-comparable full total; the two sub-totals keep
    // the operator tree's regression signal separate from the
    // reproducibility instruments' deliberate oracle-portable cost.
    val (instr, ops) = results.partition(r => SparkEntry.instruments(r._1))
    val opTotal = ops.map(_._2._1).sum
    val instrTotal = instr.map(_._2._1).sum
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val cpuSec = if (cpu0 >= 0) (cpuNanos - cpu0) / 1e9 else -1.0
    val gcSec = (gcMillis - gc0) / 1e3
    val load = osBean.getSystemLoadAverage
    // cpu_per_wall ≈ busy cores; on an otherwise-idle local[32] box it
    // tracks query parallelism — a LOW value with inflated medians
    // means this process was starved by external load.
    val health = f"""{"wall_sec":$wallSec%.1f,"process_cpu_sec":$cpuSec%.1f,""" +
      f""""cpu_per_wall":${if (wallSec > 0) cpuSec / wallSec else -1.0}%.2f,""" +
      f""""gc_sec":$gcSec%.1f,"load_avg_end":$load%.1f}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","total_min":$totalMin,""" +
      s""""operator_total":$opTotal,"instrument_total":$instrTotal,""" +
      s""""queries":$qs,"queries_min":$qmins,"failed":$failed,""" +
      s""""partial_failed":$partialFailed,""" +
      s""""health":$health,""" +
      s""""sf":"$sfDir","repeats":$repeats,"forcing":"toRdd",""" +
      s""""force_distributed":$forceDistributed}""")
    spark.stop()
  }

  /** Untimed warmup shared by Bench and Probe; returns the per-query
    * evictor.
    *
    * One q1_agg run pays classloading, parquet-footer and first-codegen
    * costs. Then the derived corpus-graph store is built once: in the
    * reference this graph is WRITTEN at ingest and only READ by the
    * graph queries, so its derivation is not part of any query's cost.
    *
    * The evictor drops the caches and checkpoints a query left behind,
    * so heap pressure does not compound into later timings — except
    * every RDD already persisted when the warmup ends, the store among
    * them. The store is localCheckpoint-backed, so clearCache cannot
    * touch it; the RDD eviction must skip it explicitly.
    */
  private[graft] def warmStore(spark: SparkSession, sfDir: String): () => Unit = {
    try SparkEntry.queries("q1_agg")(spark, sfDir).count()
    catch { case _: Throwable => () }
    try {
      Seq(
        graft.operators.GraphFusion.explainsGraph(spark, sfDir),
        graft.operators.CrossBoundary.conceptGraph(spark, sfDir),
        graft.operators.GraphQueries.narrativeGraph(spark, sfDir)
      ).foreach { case (e, n) => e.count(); n.count() }
    } catch { case _: Throwable => () }
    val protectedIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    () => {
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => protectedIds.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }
  }
}
