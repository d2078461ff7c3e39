package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession: every `main` and the test
  * session go through [[build]].
  *
  * The session is `local[n]` with `n` shuffle partitions, the UTC
  * session time zone, the UI off and log level WARN. `n` defaults to
  * `SPARK_GRAFT_CPUS`, else the JVM's available processors.
  *
  * `SPARK_GRAFT_FORCE_DISTRIBUTED=1` sets the `graft.forceDistributed`
  * property that `GraphAlgorithms.gatedBudget` reads, so every
  * budget-gated iterative operator takes its distributed path — the
  * 100 TB code paths then run (and dump, and time) at small scale.
  */
object GraftSession {
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def build(cpus: Int = defaultCpus): SparkSession = {
    if (sys.env.get("SPARK_GRAFT_FORCE_DISTRIBUTED").contains("1"))
      sys.props("graft.forceDistributed") = "1"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
