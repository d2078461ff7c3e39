package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession: every `main` and the test
  * session go through [[build]].
  *
  * The session is `local[n]` with `n` shuffle partitions, the UTC
  * session time zone, the UI off and log level WARN. `n` defaults to
  * `SPARK_GRAFT_CPUS`, else the JVM's available processors.
  *
  * It also sets `spark.sql.legacy.parquet.nanosAsLong=true`: Spark reads
  * a parquet TIMESTAMP(NANOS) column only as a long under that conf, and
  * some testdata generations write the events `ts` that way
  * ([[Tables.events]] converts it). Set here once, and inherited by
  * `newSession()` children, it keeps loaders and operators from writing
  * the conf of a session that concurrent queries share.
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
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
