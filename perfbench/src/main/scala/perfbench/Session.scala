package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's session: `local[n]` with `n` shuffle partitions, the
  * same settings graft.Bench uses. Scratch locations come from the
  * `spark.local.dir` / `spark.sql.warehouse.dir` system properties. */
object Session {
  def build(app: String, n: Int): SparkSession = {
    val spark = SparkSession.builder()
      .appName(app)
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
