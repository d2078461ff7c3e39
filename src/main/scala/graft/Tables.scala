package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated TPC-H-ish test data.
  *
  * All operators take a `sfDir` (e.g. `/root/testdata/sf0.01`) and read
  * one parquet file per table. Reads are plain `spark.read.parquet` so
  * Catalyst keeps full filter-pushdown / column-pruning freedom — never
  * cache here; operators decide. Loaders never write session conf: the
  * nanos-as-long read that TIMESTAMP(NANOS) events need is set once by
  * [[GraftSession.build]].
  */
object Tables {
  /** Parquet footer SCHEMAS memoized per path and per the values of
    * the session confs that change how a footer maps to a Spark schema
    * ([[schemaConfs]]): without a catalog, every `spark.read.parquet`
    * re-infers the schema by reading the footer on the driver at
    * query-construction time — sampled at 1-2 s per bench query spread
    * across its table loads (SchemaMergeUtils.mergeSchemasInParallel
    * on the main thread). This memo is METADATA only — the exact
    * metastore behaviour a real deployment gets from its catalog — and
    * never caches rows; every query still scans the parquet data
    * itself.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[String]), org.apache.spark.sql.types.StructType]()

  /** Confs under which one parquet footer infers different types:
    * TIMESTAMP(NANOS) is a long only under nanosAsLong, and a
    * not-UTC-adjusted timestamp is TIMESTAMP_NTZ only under
    * inferTimestampNTZ. */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.inferTimestampNTZ.enabled")

  private[graft] def cachedSchema(spark: SparkSession, path: String) =
    schemaCache.computeIfAbsent((path, schemaConfs.map(k => spark.conf.getOption(k).orNull)),
      _ => spark.read.parquet(path).schema)

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(cachedSchema(spark, path)).parquet(path)
  }

  /** The events table's `ts` encoding has shifted across testdata
    * generations — TIMESTAMP(NANOS) (which Spark only reads as long via
    * the legacy `nanosAsLong` conf, set by [[GraftSession.build]] and
    * not here — a session built elsewhere must set it itself) vs plain
    * timestamp[us] (which Spark reads as TIMESTAMP_NTZ under
    * inferTimestampNTZ). Branch on the actual type the scan reports
    * instead of hard-coding either:
    *   - LongType      → nanos-as-long; integer `div 1000` to micros (no
    *                     double routing; micro truncation matches DuckDB).
    *   - TIMESTAMP_NTZ → cast to session-tz timestamp (sessions run UTC,
    *                     so the instant is unchanged).
    *   - TIMESTAMP     → already what downstream operators expect.
    * All operators therefore see one canonical `ts: TimestampType`.
    */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType       => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _              => df
    }
  }

  /** The `ts` type the events parquet scan reports (LongType under the
    * nanos legacy conf, or a timestamp type) — the branch point shared
    * with the streaming reader's explicit schema. */
  def eventsTsType(spark: SparkSession, dir: String): org.apache.spark.sql.types.DataType =
    cachedSchema(spark, s"$dir/events.parquet")("ts").dataType

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
