package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** The parquet schema memo must not hand one session's inferred types
  * to another session whose schema-affecting confs differ. Each test
  * loads under the permissive conf first, so a memo keyed by path
  * alone would answer the second session from the first. */
class TablesSchemaSpec extends SparkSpec {

  /** A one-row events.parquet whose `ts` is INT64 TIMESTAMP(NANOS). */
  private def nanosEventsDir(): java.io.File = {
    val dir = Files.createTempDirectory("graft-nanos").toFile
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withConf(new Configuration()).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L))
    finally writer.close()
    dir
  }

  private def session(conf: String, value: String) = {
    val s = spark.newSession()
    s.conf.set(conf, value)
    s
  }

  test("sessions with different nanosAsLong read events.parquet as different ts types") {
    val dir = nanosEventsDir()
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    try {
      assert(Tables.load(session(nanos, "true"), dir.getPath, "events").schema("ts").dataType ==
        LongType)
      // without the legacy conf Spark has no type for TIMESTAMP(NANOS)
      val e = intercept[AnalysisException](
        Tables.load(session(nanos, "false"), dir.getPath, "events").schema("ts").dataType)
      assert(e.getMessage.contains("TIMESTAMP(NANOS"), e.getMessage)
    } finally { dir.listFiles().foreach(_.delete()); dir.delete() }
  }

  test("sessions with different inferTimestampNTZ read events.parquet as different ts types") {
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assert(Tables.load(session(ntz, "true"), sfDir, "events").schema("ts").dataType ==
      TimestampNTZType)
    assert(Tables.load(session(ntz, "false"), sfDir, "events").schema("ts").dataType ==
      TimestampType)
  }
}
