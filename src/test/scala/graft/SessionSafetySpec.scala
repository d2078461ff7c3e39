package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame

import graft.operators.{GraphAlgorithms, Leiden}

/** Operators share one session with whatever else runs on it, so they
  * must not write its conf; independent queries must then run
  * concurrently on it with their serial results; and [[Overlap]] keeps
  * its order, failure and labelling contract. */
class SessionSafetySpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("loaders, streaming and distributed graph loops leave the session conf unchanged") {
    val s = spark.newSession()
    val before = s.conf.getAll
    SparkEntry.queries("window_events")(s, sfDir).collect()
    SparkEntry.queries("streaming_window")(s, sfDir).collect()
    val e = GraphAlgorithms.edges(s, sfDir)
    GraphAlgorithms.pageRankEdges(e, iterations = 5, damping = 0.85, broadcastByteBudget = 0L)
      .collect()
    GraphAlgorithms.communitiesEdges(e, iterations = 5, minSize = 2, broadcastByteBudget = 0L)
      .collect()
    GraphAlgorithms.betweennessEdges(s, e, maxSamples = 8, broadcastByteBudget = 0L).collect()
    Leiden.leidenEdges(s, Leiden.weightedEdges(s, sfDir), Leiden.Config(),
      broadcastByteBudget = 0L).collect()
    val after = s.conf.getAll
    assert((after.toSet diff before.toSet) ++ (before.toSet diff after.toSet) == Set.empty)
    // the one conf the events loader relies on comes from GraftSession
    assert(before.get("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
  }

  test("registered queries run concurrently on one session with their serial rows") {
    val names = Seq("project_groups", "window_events", "graph_communities", "dedup_simhash")
    def run(name: String) = rows(SparkEntry.queries(name)(spark, sfDir))
    val serial = names.map(run)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val concurrent = Await.result(Future.traverse(names)(n => Future(run(n))), 10.minutes)
    names.zip(serial.zip(concurrent)).foreach { case (name, (s, c)) =>
      assert(c == s, s"$name: concurrent rows differ from serial")
    }
  }

  test("Overlap.all returns branches in argument order") {
    val out = Overlap.all(spark)(
      "slow" -> (() => { Thread.sleep(300); spark.range(1).toDF() }),
      "mid" -> (() => { Thread.sleep(100); spark.range(2).toDF() }),
      "fast" -> (() => spark.range(3).toDF()))
    assert(out.map(_.count()) == Seq(1L, 2L, 3L))
  }

  test("Overlap.all rethrows the first failure in argument order after every branch ends") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](Overlap.all(spark)(
      "ok" -> (() => spark.range(1).toDF()),
      "first" -> (() => { Thread.sleep(100); throw new IllegalStateException("first") }),
      "second" -> (() => throw new IllegalStateException("second")),
      "slow" -> (() => { Thread.sleep(400); siblingDone.set(true); spark.range(1).toDF() })))
    assert(e.getMessage == "first")
    assert(siblingDone.get, "returned before the slow sibling finished")
  }

  test("labelled sets the job description for its block and restores the previous one") {
    val sc = spark.sparkContext
    def desc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("outer")
    try {
      assert(Overlap.labelled(spark, "inner")(desc) == "inner")
      assert(desc == "outer")
      intercept[RuntimeException](Overlap.labelled(spark, "boom")(throw new RuntimeException))
      assert(desc == "outer")
      val seen = new AtomicReference[String]
      Overlap.all(spark)("branch" -> (() => { seen.set(desc); spark.range(1).toDF() }))
      assert(seen.get == "branch")
      assert(desc == "outer")
    } finally sc.setJobDescription(null)
    assert(Overlap.labelled(spark, "inner")(desc) == "inner")
    assert(desc == null)
  }
}
