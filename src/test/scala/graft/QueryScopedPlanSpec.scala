package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.Bridge

/** Plan-shape guards for the query-scoped search paths: BM25 top-k is
  * one corpus scan plus a 1-row stats broadcast, and the recommend /
  * semantic_rerank query vectors are one aggregate over the example
  * rows — checked on the AQE-final plans of the registered queries.
  */
class QueryScopedPlanSpec extends SparkSpec {

  /** The AQE-final physical plan of a registered query and the number
    * of jobs forcing it took. */
  private def run(name: String): (String, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
    spark.sparkContext.addSparkListener(listener)
    try qe.toRdd.count()
    finally {
      Bridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    (qe.executedPlan.toString, jobs.get)
  }

  test("bm25_topk scores in the scan: no Generate, no exchange on term, at most 3 jobs") {
    val (p, jobs) = run("bm25_topk")
    assert(p.contains("isFinalPlan=true"), p)
    assert(!p.contains("Generate"), p)
    assert(!"hashpartitioning\\(term".r.findFirstIn(p).isDefined, p)
    assert(jobs <= 3, s"bm25_topk ran $jobs jobs:\n$p")
  }

  test("recommend and semantic_rerank build their query vector without a Generate") {
    for (name <- Seq("recommend", "semantic_rerank")) {
      val (p, _) = run(name)
      assert(p.contains("isFinalPlan=true"), s"$name:\n$p")
      assert(!p.contains("Generate"), s"$name:\n$p")
    }
  }
}
