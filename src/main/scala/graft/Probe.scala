package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.operators.{Dedup, GraphAlgorithms, Leiden, SkewJoin, VectorSearch}

/** Dev tool: run queries cold, then warm, and explain where the warm
  * run's time went. `runMain graft.Probe <name1,name2,...> [sfDir]`.
  *
  * After Bench's untimed warmup, each query (resolved by [[targetFn]])
  * runs twice, forced like Bench with `queryExecution.toRdd.count()`.
  * Per query it prints:
  *   - `[probe] <name> round N: <s>s rows=<n>` for each round
  *     (scripts/jit_audit_r14.sh parses round 2);
  *   - `[probe] <name> codegen round1=<n> round2=<n> compile_s=<s>`: the
  *     classes the code generator compiled in each round (cache misses)
  *     and the compile seconds of both rounds. A warm round above 0
  *     means the query's classes were evicted from the class cache of
  *     the code generator;
  *   - round 2's `[job]` lines: each job's start gap since the previous
  *     job ended (driver-side work: planning, collect processing,
  *     checkpoint bookkeeping) and its duration (cluster work);
  *   - round 2's counter row: jobs, stages, tasks, task seconds vs CPU
  *     seconds, shuffle MB. Many sequential jobs at low CPU mark a
  *     latency-bound query; task CPU ≈ task time a compute-bound one;
  *   - the Catalyst phase times and top rules of round 2's final query
  *     execution (eager actions during construction are not in them);
  *   - the formatted post-execution plan, in which AQE has resolved its
  *     stages, so runtime join choices, coalesced reads and skew splits
  *     are visible.
  *
  * `SPARK_GRAFT_PROBE_SAMPLE` (any value) samples the driver thread's
  * stack every 50 ms; `SPARK_GRAFT_PROBE_SAMPLE=exec` samples every
  * running executor task thread instead. The 25 most frequent frames
  * print at the end: a poor man's flame graph.
  */
object Probe {

  /** What one probed query reported for its warm round. */
  final case class Result(name: String, rows: Long, counters: Counters, plan: String,
                          codegen: String)

  /** (classes compiled, compile nanoseconds) by this JVM's code
    * generator so far. */
  private def codegenNow: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.build()
    val sampler = sys.env.get("SPARK_GRAFT_PROBE_SAMPLE").map(new Sampler(_))
    try run(spark, names, sfDir)
    finally {
      sampler.foreach(_.stopAndPrint())
      spark.stop()
    }
  }

  /** The probe loop; leaves the session running. */
  def run(spark: SparkSession, names: Seq[String], sfDir: String): Seq[Result] = {
    val evictPins = Bench.warmStore(spark, sfDir)
    names.map { name =>
      val fn = targetFn(name)
      def round(r: Int) = {
        val t0 = System.nanoTime()
        val qe = fn(spark, sfDir).queryExecution
        val n = qe.toRdd.count()
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[probe] $name round $r: $sec%.2fs rows=$n")
        (qe, n)
      }
      val (c0, ns0) = codegenNow
      round(1)
      val (c1, _) = codegenNow
      evictPins()
      val counters = new Counters
      spark.sparkContext.addSparkListener(counters)
      val (qe, rows) =
        try round(2)
        finally {
          Bridge.drainListeners(spark.sparkContext)
          spark.sparkContext.removeSparkListener(counters)
        }
      val (c2, ns2) = codegenNow
      val codegen = f"[probe] $name codegen round1=${c1 - c0} round2=${c2 - c1} " +
        f"compile_s=${(ns2 - ns0) / 1e9}%.3f"
      System.err.println(codegen)
      System.err.println(s"[probe] $name ${counters.row}")
      qe.tracker.phases.foreach { case (p, s) =>
        System.err.println(f"[phase] $name $p ${(s.endTimeMs - s.startTimeMs) / 1e3}%.3f s")
      }
      qe.tracker.topRulesByTime(8).foreach { case (rule, s) =>
        System.err.println(f"[rule] $name ${s.totalTimeNs / 1e9}%.3f s " +
          f"invocations=${s.numInvocations} effective=${s.numEffectiveInvocations} $rule")
      }
      val plan = qe.explainString(ExplainMode.fromString("formatted"))
      System.err.println(plan)
      evictPins()
      Result(name, rows, counters, plan, codegen)
    }
  }

  /** Per-query listener: counts jobs, stages and tasks, sums task time,
    * task CPU time and shuffle bytes, and prints a `[job]` line at each
    * job's start (gap since the previous job ended) and end (duration).
    */
  final class Counters extends SparkListener {
    val jobs, stages, tasks = new AtomicInteger
    val taskMs, cpuMs, shuffleReadBytes, shuffleWriteBytes = new AtomicLong
    private val jobStartMs = new ConcurrentHashMap[Int, Long]()
    private val lastEndMs = new AtomicLong(-1L)

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      jobStartMs.put(j.jobId, j.time)
      val gap = if (lastEndMs.get < 0) 0.0 else (j.time - lastEndMs.get) / 1e3
      val desc = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      System.err.println(f"[job] start id=${j.jobId}%-4d gap=$gap%6.3f  $desc")
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      lastEndMs.set(j.time)
      val dur = Option(jobStartMs.get(j.jobId)).map(s => (j.time - s) / 1e3).getOrElse(-1.0)
      System.err.println(f"[job] end   id=${j.jobId}%-4d dur=$dur%6.3f")
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        cpuMs.addAndGet(m.executorCpuTime / 1000000L)
        shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }

    def row: String =
      f"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} " +
        f"task_s=${taskMs.get / 1e3}%.1f cpu_s=${cpuMs.get / 1e3}%.1f " +
        f"shuffle_read_mb=${shuffleReadBytes.get / 1e6}%.1f " +
        f"shuffle_write_mb=${shuffleWriteBytes.get / 1e6}%.1f"
  }

  /** Samples, every 50 ms, the topmost interesting frame of the thread
    * that created it, or with mode `exec` of every running executor
    * task thread, until [[stopAndPrint]].
    */
  private final class Sampler(mode: String) {
    private val driver = Thread.currentThread()
    private val counts = scala.collection.mutable.HashMap.empty[String, Int]
    @volatile private var running = true

    private def record(st: Array[StackTraceElement], keys: Seq[String]): Unit =
      st.find(f => keys.exists(f.getClassName.contains)).orElse(st.headOption)
        .foreach { f =>
          val k = f.getClassName + "." + f.getMethodName
          counts(k) = counts.getOrElse(k, 0) + 1
        }

    private val thread = new Thread(() =>
      while (running) {
        if (mode == "exec")
          Thread.getAllStackTraces.asScala.foreach { case (th, st) =>
            if (th.getName.startsWith("Executor task launch") &&
                th.getState == Thread.State.RUNNABLE)
              record(st, Seq("graft", "generated", "catalyst", "unsafe", "shuffle", "parquet"))
          }
        else record(driver.getStackTrace, Seq("catalyst", "graft", "org.apache.spark.sql.execution"))
        Thread.sleep(50)
      })
    thread.setDaemon(true)
    thread.start()

    def stopAndPrint(): Unit = {
      running = false
      thread.join()
      counts.toSeq.sortBy(-_._2).take(25).foreach { case (f, c) =>
        System.err.println(f"[sample] $c%5d  $f")
      }
    }
  }

  /** Resolve a probe target: dev-only knob points and calibration dumps
    * first (deliberately NOT registered queries), then the registered
    * query map. Bench resolves unregistered SPARK_GRAFT_BENCH_ONLY names
    * here too, and JitBytecodeLockSpec audits the SAME target list the
    * JIT audit script drives, so coverage can't drift.
    */
  def targetFn(name: String): (SparkSession, String) => DataFrame =
    name match {
      case "skew_join_unsalted" =>
        (s, d) => SkewJoin.skewJoinUnsalted(s, d)
      case "dedup_minhash_capped_b24" =>
        // the wide-band knob: the same total band count as passes=2
        // (24 bands) from one coefficient family and one signature array
        (s, d) => Dedup.dedupMinhashCappedOf(
          Tables.documents(s, d).select(col("doc_id"), col("text")), bands = 24)
      case "dedup_minhash_capped_p3" =>
        // the README ladder's 0.955-coverage setting (W=8, passes=3)
        (s, d) => Dedup.dedupMinhashCappedOf(
          Tables.documents(s, d).select(col("doc_id"), col("text")), passes = 3)
      case "dedup_simhash_lsh_wide" =>
        // the decade-3 key-width point: w=20/t=64 cuts the candidate
        // tail 6x (64/2^20 vs 24/2^16) at analytic h=7 worst-case
        // recall 0.958 (hypergeometric, spec-pinned in DedupSpec)
        (s, d) => Dedup.dedupSimhashLshOf(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          maxHamming = 7, tables = 64, bitsPerTable = 20)
      case "ann_lsh_multiprobe_hits" =>
        // calibration dump for annLshMultiprobeCert's bound: the
        // per-probe hit counts the cert thresholds on
        (s, d) => {
          val emb = Tables.embeddings(s, d)
          val probes = emb.filter(col("vec_id") < 5)
            .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
          val exact = emb.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
            .withColumn("score", GraftFunctions.cosine(col("embedding"), col("p_emb")))
          val w = Window.partitionBy(col("probe_id")).orderBy(col("score").desc, col("vec_id"))
          val kth = exact.withColumn("rnk", row_number().over(w)).filter(col("rnk") === 10)
            .select(col("probe_id"), col("score").as("kth_score"))
          val ann = VectorSearch.annLsh(s, d, probeHamming = 2)
          val hits = ann
            .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb")), Seq("neighbor_id"))
            .join(broadcast(probes), Seq("probe_id"))
            .withColumn("score", GraftFunctions.cosine(col("n_emb"), col("p_emb")))
            .join(broadcast(kth), Seq("probe_id"))
            .groupBy(col("probe_id"))
            .agg(sum(when(col("score") >= col("kth_score") - 1e-9, 1).otherwise(0)).as("hits"))
            .orderBy("probe_id")
          hits.collect().foreach(r => System.err.println(
            s"[certcal] multiprobe probe=${r.getLong(0)} hits=${r.getLong(1)}"))
          hits
        }
      case "leiden_modularity" =>
        // calibration dump for graphLeidenCert: both modularities
        (s, d) => {
          val e = Leiden.weightedEdges(s, d)
          val und = e.select(col("src").as("u"), col("dst").as("v"), col("w"))
            .union(e.select(col("dst"), col("src"), col("w")))
            .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w")).localCheckpoint()
          val qL = Leiden.modularityOf(und, Leiden.graphLeiden(s, d)).collect()(0).getDouble(0)
          val qP = Leiden.modularityOf(und,
            GraphAlgorithms.communitiesEdges(e.select(col("src"), col("dst")), 10, 1))
            .collect()(0).getDouble(0)
          System.err.println(s"[certcal] q_leiden=$qL q_labelprop=$qP")
          Leiden.graphLeidenCert(s, d)
        }
      case _ => SparkEntry.queries(name)
    }
}
