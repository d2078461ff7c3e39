package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Layer counters for the traced passes, gathered from outside the
  * program: a SparkListener (jobs, stages, tasks, task metrics), a
  * StreamingQueryListener (micro-batches) and, per query, the time
  * windows the harness records around the operator call and the
  * `toRdd.count()` call. Jobs are attributed to a window by their start
  * time, so jobs submitted from operator-owned thread pools are counted
  * with the query that ran them.
  */
final class Trace extends SparkListener {
  final class TaskTotals {
    var tasks, failed = 0L
    var runMs, gcMs, fetchWaitMs = 0L
    var cpuNs, inputBytes, inputRecords, shuffleWrite, shuffleRead, spill = 0L
  }
  private final case class Job(start: Long, var end: Long, totals: TaskTotals,
                               var stages: Int)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var batches, batchMs, streamRows = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.time, -1L, new TaskTotals, 0)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      val t = j.totals
      t.tasks += 1
      if (e.reason != org.apache.spark.Success) t.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.inputRecords += m.inputMetrics.recordsRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.spill += m.diskBytesSpilled
      }
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        batches += 1
        batchMs += e.progress.batchDuration
        streamRows += e.progress.numInputRows
      }
  }

  /** Layer numbers of one query whose operator call ran over
    * [buildStart, buildEnd) and whose forcing call ran over
    * [buildEnd, execEnd), all in epoch milliseconds. Consumes the jobs
    * it attributes, so the listener state stays small.
    */
  def take(sc: SparkContext, buildStart: Long, buildEnd: Long, execEnd: Long): Map[String, Double] = {
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    synchronized {
      val done = jobs.filter { case (_, j) => j.start <= execEnd }
      done.keys.foreach(jobs.remove)
      val mine = done.filter { case (_, j) => j.start >= buildStart }
      stageJob.filterInPlace { case (_, id) => jobs.contains(id) }
      val (build, exec) = mine.values.partition(_.start < buildEnd)
      def covered(js: Iterable[Job], lo: Long, hi: Long): Double =
        Trace.union(js.map(j => (math.max(j.start, lo), math.min(if (j.end < 0) hi else j.end, hi))))
      def sum(f: TaskTotals => Long) = mine.values.map(j => f(j.totals)).sum.toDouble
      def sumOf(js: Iterable[Job])(f: TaskTotals => Long) = js.map(j => f(j.totals)).sum.toDouble
      Map(
        "operators.build_jobs" -> build.size.toDouble,
        "operators.build_task_s" -> sumOf(build)(_.runMs) / 1e3,
        "exec.jobs" -> exec.size.toDouble,
        "exec.stages" -> exec.map(_.stages).sum.toDouble,
        "exec.tasks" -> sumOf(exec)(_.tasks),
        "exec.failed_tasks" -> sumOf(exec)(_.failed),
        "exec.jobs_s" -> covered(exec, buildEnd, execEnd) / 1e3,
        "exec.task_s" -> sumOf(exec)(_.runMs) / 1e3,
        "exec.task_cpu_s" -> sumOf(exec)(_.cpuNs) / 1e9,
        "exec.task_gc_s" -> sumOf(exec)(_.gcMs) / 1e3,
        "scan.input_mb" -> sum(_.inputBytes) / 1e6,
        "scan.records" -> sum(_.inputRecords),
        "shuffle.write_mb" -> sum(_.shuffleWrite) / 1e6,
        "shuffle.read_mb" -> sum(_.shuffleRead) / 1e6,
        "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
        "spill.mb" -> sum(_.spill) / 1e6,
        "driver.gap_s" -> ((execEnd - buildStart) - covered(mine.values, buildStart, execEnd)) / 1e3)
    }
  }

  /** Streaming counters accumulated since the last call. */
  def takeStreaming(sc: SparkContext): Map[String, Double] = {
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    synchronized {
      val out = Map("streaming.batches" -> batches.toDouble,
        "streaming.batch_s" -> batchMs / 1e3, "streaming.rows" -> streamRows.toDouble)
      batches = 0; batchMs = 0; streamRows = 0
      out
    }
  }
}

object Trace {
  /** Total length of the union of [start, end) intervals. */
  def union(intervals: Iterable[(Long, Long)]): Double = {
    var total, reach = 0L
    var open = false
    intervals.filter(i => i._2 > i._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > reach) { total += e - s; reach = e; open = true }
      else if (e > reach) { total += e - reach; reach = e }
    }
    total.toDouble
  }
}
