package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one helper for overlapping independent work, and the job label
  * every stage of a composite operator runs under.
  *
  * Operators whose construction is eager (pins, gate counts, driver-side
  * loops) submit chains of small jobs. Built one after another, each
  * chain leaves the cluster idle between its stages; built concurrently,
  * the chains back-fill each other (the scheduler runs concurrent jobs
  * and job submission is thread-safe). Nothing here writes session
  * conf: the only state touched is the calling thread's job
  * description, and it is restored.
  */
object Overlap {

  /** Run `f` with `label` as the description of every job it submits on
    * this thread (Probe's `[job] start` line prints it), restoring the
    * previous description after. */
  def labelled[T](spark: SparkSession, label: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try f finally sc.setJobDescription(prev)
  }

  /** Build independent frames concurrently, one pool thread per
    * `(label, thunk)` branch, each under [[labelled]]. Waits for every
    * branch, then returns the frames in argument order or rethrows the
    * first failure in argument order. Pool threads inherit the caller's
    * local properties (job group, scheduler pool). */
  def all(spark: SparkSession)(branches: (String, () => DataFrame)*): Seq[DataFrame] = {
    val pool = Executors.newFixedThreadPool(branches.size)
    try {
      val tasks = branches.map { case (label, f) =>
        new Callable[DataFrame] { def call(): DataFrame = labelled(spark, label)(f()) }
      }
      pool.invokeAll(tasks.asJava).asScala.toSeq.map { fut =>
        try fut.get() catch { case e: ExecutionException => throw e.getCause }
      }
    } finally pool.shutdown()
  }
}
