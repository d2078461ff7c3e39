package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{lit, raise_error}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, pretty, render}

/** One benchmark run in one JVM: set-up, a cold pass over the
  * workload's queries, warm passes for `--seconds`, then one untimed
  * content-hash check per query. Writes everything it measured to
  * `--out` as JSON; `perfbench/run.py` turns that into the result line.
  *
  * Every query is called through `graft.SparkEntry.queries` and forced
  * with `queryExecution.toRdd.count()`. A call that throws, or returns
  * a row count or content hash that differs from its golden, is a
  * failure and contributes no timing.
  *
  * Modes: `run` (default), `record` (print row counts and hashes for
  * the goldens) and `selftest` (a workload with one injected throwing
  * query and one injected wrong-output query).
  */
object Harness {
  implicit val formats: Formats = DefaultFormats

  final case class Exec(query: String, pass: Int, traced: Boolean, ok: Boolean,
                        wall: Double, cpu: Double, gcS: Double,
                        layers: Map[String, Double], error: String)

  /** The corpus-graph store: graphs derived once per session and read
    * by the store-reading graph queries. */
  val StoreGraphs: Map[String, (SparkSession, String) => (DataFrame, DataFrame)] = Map(
    "explains" -> graft.operators.GraphFusion.explainsGraph,
    "concept" -> graft.operators.CrossBoundary.conceptGraph,
    "narrative" -> graft.operators.GraphQueries.narrativeGraph)

  /** Set-ups per run; setup_s is their median. */
  val Setups = 5

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMillis: Long = gcBeans.map(_.getCollectionTime).sum
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = opts.getOrElse("mode", "run")
    val workloads = parse(new String(Files.readAllBytes(Paths.get(opts("workloads"))), UTF_8))
    val name = opts("workload")
    val spec = if (mode == "selftest") JObject() else workloads \ "workloads" \ name
    if (spec == JNothing) sys.error(s"unknown workload $name")
    val dir = opts("data")
    val n = opts("n").toInt
    val seed = opts("seed").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traceMode = opts.getOrElse("trace", "0") == "1"

    val registry = graft.SparkEntry.queries
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] =
      if (mode == "selftest") Seq(
        "dense_topk" -> registry("dense_topk"),
        "selftest_throw" -> ((s: SparkSession, _: String) =>
          s.range(10).select(raise_error(lit("injected failure")))),
        "selftest_wrong" -> ((s: SparkSession, d: String) =>
          registry("dense_topk")(s, d).withColumn("selftest_extra", lit(1))))
      else (spec \ "queries").extract[Seq[String]].map(q => q -> registry(q))

    // Set-up, `Setups` times: session and one tiny warm-up query. The first
    // is timed from JVM start; the last session is the one measured.
    def setUp(): Double = {
      val t0 = System.nanoTime()
      val spark = Session.build(s"perfbench-$name", n)
      val sessionS = (System.nanoTime() - t0) / 1e9
      registry("q1_agg")(spark, dir).queryExecution.toRdd.count()
      sessionS
    }
    val setups = (1 to (if (mode == "run") Setups else 1)).map { i =>
      if (i > 1) SparkSession.active.stop()
      val t0 = System.nanoTime()
      val sessionS = setUp()
      val total = if (i > 1) (System.nanoTime() - t0) / 1e9 else
        (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      (total, sessionS)
    }
    val spark = SparkSession.active
    val sc = spark.sparkContext
    val protectedIds = sc.getPersistentRDDs.keySet.toSet

    def evict(): Unit = {
      sc.getPersistentRDDs.filterNot { case (id, _) => protectedIds.contains(id) }
        .values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }

    if (mode == "record") {
      val recorded = queries.map { case (q, fn) =>
        val (rows, hash) = Golden.hash(fn(spark, dir))
        evict()
        q -> JObject("rows" -> JLong(rows), "hash" -> JString(hash))
      }
      Files.write(Paths.get(opts("out")), compact(render(JObject(recorded.toList))).getBytes(UTF_8))
      spark.stop()
      return
    }

    val goldens = Golden.load(opts("goldens"), if (mode == "selftest") "search_batch" else name)
    def goldenOf(q: String) = goldens.get(if (q.startsWith("selftest_")) "dense_topk" else q)

    val trace = new Trace
    def runQuery(q: String, fn: (SparkSession, String) => DataFrame, pass: Int,
                 traced: Boolean): Exec = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val gc0 = gcMillis
      val compileNs0 = CodeGenerator.compileTime
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cpu0 = osBean.getProcessCpuTime
      val ms0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      var ms1 = ms0
      var n1 = n0
      val result = Try {
        val df = fn(spark, dir)
        n1 = System.nanoTime(); ms1 = System.currentTimeMillis()
        (df, df.queryExecution.toRdd.count())
      }
      val n2 = System.nanoTime()
      val ms2 = System.currentTimeMillis()
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      val gcS = (gcMillis - gc0) / 1e3
      val pins = (sc.getPersistentRDDs.keySet -- before).size.toDouble
      val wall = (n2 - n0) / 1e9
      val layers = if (!traced) Map.empty[String, Double] else {
        val fromJobs = trace.take(sc, ms0, ms1, ms2)
        val phases = result.toOption.map(_._1.queryExecution.tracker.phases).getOrElse(Map.empty)
        def phase(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
        val inBuild = phases.values.filter(_.startTimeMs < ms1).map(_.durationMs).sum / 1e3
        val catalyst = phase("analysis") + phase("optimization") + phase("planning")
        // Each call's span minus the Catalyst phases that ran inside it:
        // operator construction, then execution (physical preparation,
        // job submission and the jobs themselves).
        val buildS = (n1 - n0) / 1e9 - inBuild
        val execS = (n2 - n1) / 1e9 - (catalyst - inBuild)
        fromJobs ++ trace.takeStreaming(sc) ++ Map(
          "catalyst.analysis_s" -> phase("analysis"),
          "catalyst.optimization_s" -> phase("optimization"),
          "catalyst.planning_s" -> phase("planning"),
          "operators.build_s" -> buildS,
          "exec.s" -> execS,
          "exec.driver_s" -> (execS - fromJobs("exec.jobs_s")),
          "operators.pins" -> pins,
          "codegen.compile_s" -> (CodeGenerator.compileTime - compileNs0) / 1e9,
          "codegen.compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
          "jvm.gc_s" -> gcS,
          "trace.reconcile_err" ->
            math.abs(wall - (buildS + catalyst + execS)) / wall)
      }
      evict()
      val golden = goldenOf(q)
      val (ok, error) = result match {
        case scala.util.Failure(e) =>
          (false, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        case scala.util.Success((_, rows)) if golden.exists(_.rows != rows) =>
          (false, s"rows $rows, golden ${golden.get.rows}")
        case _ => (true, "")
      }
      System.err.println(f"[perfbench] pass $pass%-3d $q%-24s $wall%8.3f s ${if (ok) "ok" else error}")
      Exec(q, pass, traced, ok, wall, cpu, gcS, layers, error)
    }

    // Pass 0 is the cold pass; warm passes alternate untraced and
    // traced when tracing is on, so both see the same JVM state.
    val execs = Seq.newBuilder[Exec]
    def runPass(pass: Int, traced: Boolean): Unit = {
      if (traced) { sc.addSparkListener(trace); spark.streams.addListener(trace.streaming) }
      new Random(seed * 1000003L + pass).shuffle(queries).foreach { case (q, fn) =>
        execs += runQuery(q, fn, pass, traced)
      }
      if (traced) { sc.removeSparkListener(trace); spark.streams.removeListener(trace.streaming) }
      System.gc()
    }
    runPass(0, traced = false)
    val warmStart = System.nanoTime()
    var pass = 1
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    while (pass <= 2 || (traceMode && pass <= 3) || elapsed < seconds) {
      runPass(pass, traced = traceMode && pass % 2 == 0)
      pass += 1
    }
    val measuredS = elapsed

    // Untimed content check: one execution per query, hashed canonically.
    val hashChecks = queries.map { case (q, fn) =>
      val golden = goldenOf(q)
      val got = Try(Golden.hash(fn(spark, dir)))
      evict()
      val ok = got.toOption.exists { case (rows, hash) =>
        golden.forall(g => g.rows == rows && (!g.deterministic || g.hash == hash))
      }
      q -> (ok, got.map { case (r, h) => s"$r:$h" }.getOrElse(got.failed.get.toString.take(200)))
    }.toMap

    // Traced runs of a workload with `trace_store` time the corpus-graph
    // store derivation once, in a fresh session, after the passes: the
    // set-up cost a store-reading workload would pay.
    val storeWarmS = if (!traceMode) 0.0 else {
      val graphs = (spec \ "trace_store").extractOpt[Seq[String]].getOrElse(Nil)
      val fresh = spark.newSession()
      val t = System.nanoTime()
      graphs.map(StoreGraphs(_)(fresh, dir)).foreach { case (e, v) => e.count(); v.count() }
      (System.nanoTime() - t) / 1e9
    }

    val peakRssMb = Try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)
    val heapMb = Runtime.getRuntime.maxMemory / 1048576.0
    spark.stop()

    val all = execs.result()
    val badQueries = hashChecks.collect { case (q, (false, _)) => q }.toSet
    val good = all.filter(e => e.ok && !badQueries(e.query))
    val attempted = all.size + hashChecks.size
    val failed = all.count(e => !e.ok || badQueries(e.query)) + badQueries.size
    val untraced = good.filter(e => e.pass > 0 && !e.traced)
    val tracedGood = good.filter(_.traced)

    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) Double.NaN else {
        val s = xs.sorted
        if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
    def perPass(es: Seq[Exec])(f: Exec => Double): Seq[Double] =
      es.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2.map(f).sum)
    val opMedians = untraced.groupBy(_.query).map { case (q, es) => q -> median(es.map(_.wall)) }
    val wallS = median(perPass(untraced)(_.wall))
    val e2e = Map(
      "setup_s" -> median(setups.map(_._1)),
      "first_pass_s" -> good.filter(_.pass == 0).map(_.wall).sum,
      "wall_s" -> wallS,
      "query_geomean_s" ->
        (if (opMedians.isEmpty) Double.NaN
         else math.exp(opMedians.values.map(math.log).sum / opMedians.size)),
      "cpu_s" -> median(perPass(untraced)(_.cpu)),
      "peak_rss_mb" -> peakRssMb,
      "failed_frac" -> failed.toDouble / attempted)
    val layerNames = tracedGood.flatMap(_.layers.keys).distinct.filterNot(_ == "trace.reconcile_err")
    val reconcile = tracedGood.groupBy(_.query).map { case (q, es) =>
      q -> median(es.map(_.layers("trace.reconcile_err")))
    }
    // Each traced pass against the mean of its untraced neighbours, so
    // the warm-up trend across passes cancels out.
    val untracedWalls = untraced.groupBy(_.pass).map { case (p, es) => p -> es.map(_.wall).sum }
    val overheadRatios = tracedGood.groupBy(_.pass).toSeq.flatMap { case (p, es) =>
      val nb = Seq(p - 1, p + 1).flatMap(untracedWalls.get)
      if (nb.isEmpty) None else Some(es.map(_.wall).sum / (nb.sum / nb.size))
    }
    val layers = if (!traceMode) Map.empty[String, Double] else
      layerNames.map(l => l -> median(perPass(tracedGood)(_.layers(l)))).toMap ++ Map(
        "setup.session_s" -> median(setups.map(_._2)),
        "setup.store_s" -> storeWarmS,
        "setup.first_s" -> setups.head._1,
        "trace.overhead_frac" -> (median(overheadRatios) - 1),
        "trace.reconcile_err_max" -> (if (reconcile.isEmpty) Double.NaN else reconcile.values.max),
        "trace.unreconciled_queries" -> reconcile.values.count(_ > 0.10).toDouble)

    def num(x: Double): JValue = if (x.isNaN || x.isInfinite) JNull else JDouble(x)
    def obj(m: Iterable[(String, Double)]): JObject =
      JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> num(v) })
    val out = JObject(
      "workload" -> JString(name),
      "seed" -> JLong(seed),
      "n" -> JInt(n),
      "heap_mb" -> num(heapMb),
      "warm_passes" -> JInt(pass - 1),
      "setup_s_samples" -> JArray(setups.map(x => num(x._1)).toList),
      "measured_s" -> num(measuredS),
      "attempted" -> JInt(attempted),
      "failed" -> JInt(failed),
      "correct" -> JBool(failed == 0),
      "end_to_end" -> obj(e2e),
      "per_layer" -> obj(layers),
      "op_s" -> obj(opMedians),
      "reconcile_err" -> obj(reconcile),
      "query_layers" -> JObject(tracedGood.groupBy(_.query).toList.sortBy(_._1).map {
        case (q, es) => q -> obj((es.head.layers.keys.toSeq :+ "wall_s").map(l =>
          l -> median(es.map(e => if (l == "wall_s") e.wall else e.layers(l)))))
      }),
      "nondeterministic" -> JArray(queries.map(_._1)
        .filter(q => goldenOf(q).exists(!_.deterministic)).map(JString(_)).toList),
      "pass_wall_s" -> JArray(perPass(good.filter(_.pass > 0))(_.wall).map(num).toList),
      "failures" -> JArray(all.filterNot(_.ok).map(e =>
        JObject("query" -> JString(e.query), "pass" -> JInt(e.pass),
          "error" -> JString(e.error))).toList ++
        hashChecks.collect { case (q, (false, got)) =>
          JObject("query" -> JString(q), "pass" -> JString("hash"), "error" -> JString(got))
        }),
      "executions" -> JArray(all.map(e => JObject("query" -> JString(e.query),
        "pass" -> JInt(e.pass), "traced" -> JBool(e.traced), "ok" -> JBool(e.ok),
        "wall_s" -> num(e.wall), "cpu_s" -> num(e.cpu), "gc_s" -> num(e.gcS))).toList))
    Files.write(Paths.get(opts("out")), pretty(render(out)).getBytes(UTF_8))
  }
}
