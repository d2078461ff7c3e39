package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Registered-dump lint: the driver's pandas canon crashes on
    * array/map/struct/binary cells (r07 branch_switch — ndarray cells
    * zeroed the whole entry), so complex types fail the dump fast with
    * the operator name. Integral WIDTH is deliberately not linted: the
    * driver canon upcasts int32→int64 (dozens of int-dumping frames
    * pass its hash every round); the dtype hazard that actually bites
    * is int-vs-float on the ORACLE side (DuckDB HUGEINT sums), policed
    * by scripts/check_oracle.py's dtype-parity assertion.
    */
  private[graft] def lintSchema(name: String,
                                df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.types._
    val bad = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType] ||
        f.dataType == BinaryType =>
        s"${f.name}: ${f.dataType.simpleString} (stringify before dump)"
    }
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"registered dump '$name' violates the dump contract — ${bad.mkString("; ")}")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // With SPARK_GRAFT_FORCE_DISTRIBUTED=1 (see GraftSession) the dumps
    // come from the distributed twins, so compact-vs-distributed output
    // equality is checkable at the full dump level.
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated filter for fast single-operator iteration
    // (the driver gate always runs unfiltered).
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        lintSchema(name, df)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    writeOracleJson(outDir, SparkEntry.oracleSql)
    spark.stop()
  }

  /** Shared with OracleProps: dump a name→SQL map as the
    * check_oracle.py-compatible oracle_sql.json. */
  private[graft] def writeOracleJson(outDir: String,
                                     oracles: Map[String, String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
