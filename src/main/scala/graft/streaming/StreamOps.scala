package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** One event inside the stateful debouncer: ts carried both as the
  * watermark timestamp and as exact epoch micros for gap arithmetic.
  */
case class DebEvent(user_id: Long, event_id: Long, event_type: String,
                    ts: java.sql.Timestamp, ts_us: Long)

/** Structured Streaming twin of the batch event operators — the
  * reference's continuous ingest loop (memexd file watcher →
  * debounce → processing queue) re-expressed as `readStream` →
  * watermarked windowed aggregation.
  *
  * The same column expressions power the batch `window_events` query,
  * so batch and stream agree row-for-row on the same input (asserted in
  * StreamOpsSpec and by the `streaming_window` verify entry, which
  * replays the events table through a real streaming query).
  */
object StreamOps {

  /** Streaming needs an explicit schema, but the events parquet's `ts`
    * encoding has shifted across testdata generations (TIMESTAMP(NANOS)
    * read as long vs timestamp[us] read as TIMESTAMP_NTZ) — so the
    * schema is parameterized by the type a one-off batch probe of the
    * same file reports (graft.Tables.eventsTsType), and the conversion
    * branch mirrors graft.Tables.events exactly.
    */
  def eventsRawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** A table named `<name>.parquet` exists in two physical layouts:
    * the driver testdata ships a single FILE, while any Spark-written
    * corpus (ScaleUp, a real cluster at 100 TB) is a DIRECTORY of
    * part-files. The streaming file source lists a directory and
    * `pathGlobFilter` matches LEAF file names, so the single glob that
    * finds the flat file matches nothing inside a directory table —
    * the ×10 scale bench caught streaming_sessions reading 0 rows on
    * the scaled corpus. Branch on the layout: directory tables stream
    * directly (part-files and _SUCCESS handled natively), flat files
    * keep the leaf-glob scope.
    */
  private def streamSource(spark: SparkSession, dir: String,
                           table: String, schema: StructType): DataFrame = {
    val path = s"$dir/$table.parquet"
    if (new java.io.File(path).isDirectory)
      spark.readStream.schema(schema).parquet(path)
    else
      spark.readStream.schema(schema)
        .option("pathGlobFilter", s"$table.parquet")
        .parquet(dir)
  }

  /** File-source stream over the events parquet; emits canonical
    * `ts: TimestampType` regardless of the on-disk encoding. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val tsType = graft.Tables.eventsTsType(spark, dir)
    val base = streamSource(spark, dir, "events", eventsRawSchema(tsType))
    tsType match {
      case LongType => base.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => base.withColumn("ts", col("ts").cast(TimestampType))
      case _        => base
    }
  }

  /** Watermarked tumbling-window aggregation (shared shape with the
    * batch `window_events` operator).
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Run the streaming pipeline to completion over the (static) events
    * file and return the final result as a batch DataFrame — this is
    * what the verify gate executes, so the streaming path is under the
    * same DuckDB oracle as the batch path.
    */
  def streamingWindowOnce(spark: SparkSession, dir: String): DataFrame = {
    val name = "graft_streaming_window"
    val q = windowedCounts(eventsStream(spark, dir))
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Streaming sessionization: Spark's native `session_window` (30-min
    * gap) under a watermark, run to completion over the static events
    * file — the stream twin of the batch `session_window_agg` operator,
    * same column expressions. COMPLETE output mode (like
    * streamingWindowOnce) keeps every session in state through the
    * final trigger, so on a closed log the emitted table equals the
    * batch result row-for-row and sits under the SAME DuckDB oracle —
    * sessions still open at the final watermark included. The
    * append-mode variant (only watermark-closed sessions emitted) is
    * what a truly unbounded deployment runs; StreamOpsSpec asserts its
    * prefix property against this complete-mode table.
    */
  def sessionWindowOnce(spark: SparkSession, dir: String): DataFrame =
    sessionWindowRun(spark, dir, "complete", "graft_streaming_sessions")

  /** The append-mode variant an unbounded deployment runs: only
    * watermark-closed sessions are emitted. StreamOpsSpec asserts it is
    * exactly the complete-mode table minus sessions still open at the
    * final watermark. */
  def sessionWindowAppendOnce(spark: SparkSession, dir: String): DataFrame =
    sessionWindowRun(spark, dir, "append", "graft_streaming_sessions_append")

  private def sessionWindowRun(spark: SparkSession, dir: String,
                               mode: String, name: String): DataFrame = {
    val q = eventsStream(spark, dir)
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("session_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("session_value"))
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Schema for streaming reads of the documents parquet. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over the documents parquet — the post-debounce
    * document feed of the reference's continuous loop (memexd:
    * file event → EventDebouncer → document_processor → point upsert;
    * the debouncer stage is [[debounce]] below).
    */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    streamSource(spark, dir, "documents", documentsSchema)

  /** The store pipeline INSIDE the stream: chunk → deterministic embed →
    * point rows, reusing the batch operator's column expressions
    * verbatim (Ingest.chunkWithMeta + Ingest.pointRows — both map-only
    * narrow transforms, so the streaming plan is append-mode with no
    * state at all: each micro-batch emits its documents' points and is
    * done. That IS the reference's ingest queue semantics
    * (shared/point_builder.rs build_point per processed file), and it
    * scales as a pure map at any rate — no watermark, no shuffle.
    */
  def storePointsStream(docs: DataFrame, dim: Int = 8): DataFrame =
    graft.operators.Ingest.pointRows(
      graft.operators.Ingest.chunkWithMeta(docs, 200, 50, Seq("lang", "source")), dim)

  /** Run the streaming store to completion over the static corpus —
    * the verify gate runs this under the SAME DuckDB oracle as the
    * batch store_points (identical digest scheme ⇒ row-for-row equal
    * on a closed log, also asserted in StreamOpsSpec).
    */
  def streamingStoreOnce(spark: SparkSession, dir: String): DataFrame = {
    val name = "graft_streaming_store"
    val q = storePointsStream(documentsStream(spark, dir))
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
      .orderBy(col("doc_id"), col("chunk_index"))
  }

  /** Manifest-based source variant of the streaming store (round 12,
    * board #7 — the §4 listing caveat turned into a working
    * alternative): the plain file source LISTS the input directory on
    * every trigger, O(all files) per batch regardless of how few are
    * new — at 10⁵-10⁶ part-files the listing term grows with the
    * corpus. The 100 TB posture is a source whose discovery is O(new
    * files): the ingest writer APPENDS each landed data file's path to
    * a compacted manifest (the reference's watch daemon IS such a
    * notifier — watching_queue/ emits per-file events; cloud stores
    * ship the same shape as an event queue). Here the STREAM reads the
    * manifest directory — tiny text segments, one path per line — and
    * each micro-batch loads exactly the data files its new segments
    * name (`foreachBatch` + a batch parquet read of those paths, the
    * standard Structured Streaming pattern for source indirection).
    * Per-trigger cost: list the manifest dir (O(segments), compactable)
    * + read the NEW data files only. The store pipeline inside the
    * batch is the same map-only chunk → embed → point rows, so outputs
    * are row-for-row the file-source twin's (StreamOpsSpec reconciles;
    * the registered query sits under the SAME DuckDB store oracle).
    */
  def streamingStoreManifestOnce(spark: SparkSession, dir: String,
                                 segments: Int = 4): DataFrame = {
    val dataPath = new java.io.File(s"$dir/documents.parquet")
    // the "ingest writer"'s manifest: the corpus part-files split into
    // append-order segments (a flat single-file table is one segment)
    val files: Seq[String] =
      if (dataPath.isDirectory)
        dataPath.listFiles().toSeq.map(_.getAbsolutePath)
          .filter(p => p.endsWith(".parquet") || p.contains("part-")).sorted
      else Seq(dataPath.getAbsolutePath)
    val tag = Integer.toHexString(dir.hashCode)
    val work = new java.io.File(s"target/stream-manifest-$tag")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    if (work.exists()) rm(work)
    val manifestDir = new java.io.File(work, "manifest"); manifestDir.mkdirs()
    val nSeg = math.max(1, math.min(segments, files.length))
    files.grouped(math.ceil(files.length.toDouble / nSeg).toInt)
      .foreach(fs => appendManifestSegment(manifestDir, fs))
    runManifestStore(spark, manifestDir, new java.io.File(work, "points"))
  }

  /** Writer half of the manifest protocol: seal `paths` as the next
    * numbered segment (`seg-NNNNN.txt`, one data-file path per line) —
    * what the reference's watch daemon would emit per landed batch.
    */
  /** The sealed-segment name contract, shared by the writer, the
    * compactor, and the index computation: ONLY `seg-<digits>.txt`
    * counts. A stray file in the manifest dir (a partial write, a
    * temp/hidden file, a non-numeric `seg-x.txt`) is excluded from
    * both the merge set and the max-index scan instead of crashing
    * compaction with NumberFormatException or silently merging
    * foreign lines into the manifest.
    */
  private val SegmentName = """seg-(\d+)\.txt""".r

  /** Sealed segments of `manifestDir` with their parsed indices,
    * sorted by the PARSED index (round-14 advice: a lexicographic
    * name sort flips append order once indices reach 6 digits —
    * seg-100000 would sort before seg-99999 and perturb the
    * compacted manifest's first-occurrence dedup order). */
  private def sealedSegments(manifestDir: java.io.File): Array[(java.io.File, Int)] =
    Option(manifestDir.listFiles()).getOrElse(Array.empty)
      .flatMap(f => f.getName match {
        case SegmentName(idx) => Some((f, idx.toInt))
        case _                => None
      })
      .sortBy(_._2)

  def appendManifestSegment(manifestDir: java.io.File,
                            paths: Seq[String]): java.io.File = {
    manifestDir.mkdirs()
    val next = sealedSegments(manifestDir).map(_._2).foldLeft(-1)(math.max) + 1
    val f = new java.io.File(manifestDir, f"seg-$next%05d.txt")
    java.nio.file.Files.writeString(f.toPath, paths.mkString("", "\n", "\n"))
    f
  }

  /** Compaction: merge every sealed segment into ONE segment holding
    * the distinct union of their paths (append order preserved), and
    * delete the merged inputs. Keeps the manifest dir's file count —
    * the per-trigger discovery term — O(1) across long append
    * histories instead of O(appends).
    *
    * Segment numbering is MONOTONIC ACROSS COMPACTION: the compacted
    * output takes max(merged indices) + 1, computed BEFORE the merged
    * inputs are deleted, and every later [[appendManifestSegment]]
    * counts up from it. The file stream's checkpoint tracks processed
    * manifest files BY NAME, so reusing a retired name (the round-12
    * behavior: delete first, recount from the survivors → the
    * compacted file and post-compaction appends restart at seg-00000)
    * makes a stream resumed on an existing checkpoint treat NEW
    * segments as already processed and silently SKIP them — data
    * loss. With fresh names the resumed stream instead sees the
    * compacted segment as new and RE-DELIVERS its (already processed)
    * paths: duplicate delivery, the safe at-least-once failure mode —
    * downstream point stores are keyed by (doc_id, chunk_index) and
    * dedup idempotently. Write order is compact-then-delete for the
    * same reason: a crash between the two leaves duplicates, never a
    * gap. StreamOpsSpec pins exactly-once enumeration on a fresh
    * start AND new-segment delivery on a resumed checkpoint.
    */
  def compactManifest(manifestDir: java.io.File): java.io.File = {
    val indexed = sealedSegments(manifestDir)
    val segs = indexed.map(_._1)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    segs.foreach { f =>
      java.nio.file.Files.readAllLines(f.toPath).forEach { l =>
        if (l.nonEmpty) { seen += l; () }
      }
    }
    // next index from the inputs BEFORE deleting them — the high-water
    // mark lives in the compacted segment's own name, so numbering
    // never rewinds no matter how many compaction cycles run
    val next = indexed.map(_._2).foldLeft(-1)(math.max) + 1
    val out = new java.io.File(manifestDir, f"seg-$next%05d.txt")
    java.nio.file.Files.writeString(out.toPath,
      seen.mkString("", "\n", "\n"))
    segs.foreach(_.delete())
    out
  }

  /** Reader half: stream the manifest segments (one per trigger), each
    * micro-batch loading exactly the data files its segment names, into
    * a parquet point sink; returns the accumulated points.
    */
  private def runManifestStore(spark: SparkSession, manifestDir: java.io.File,
                               outDir: java.io.File): DataFrame =
    runManifestStoreResumable(spark, manifestDir, outDir, checkpointDir = None)

  /** [[runManifestStore]] with an optional DURABLE checkpoint so a
    * stream can be stopped and RESUMED against the same manifest —
    * the deployment shape whose interplay with [[compactManifest]]'s
    * segment naming the spec pins (a resumed checkpoint must deliver
    * post-compaction appends; re-delivery of compacted paths is the
    * documented at-least-once cost).
    */
  private[graft] def runManifestStoreResumable(spark: SparkSession,
                                               manifestDir: java.io.File,
                                               outDir: java.io.File,
                                               checkpointDir: Option[java.io.File])
      : DataFrame = {
    val writer = spark.readStream
      .option("maxFilesPerTrigger", "1") // one manifest segment per trigger
      .text(manifestDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val paths = batch.collect().map(_.getString(0)).filter(_.nonEmpty)
        if (paths.nonEmpty) {
          val docs = spark.read.schema(documentsSchema).parquet(paths.toIndexedSeq: _*)
          storePointsStream(docs)
            .write.mode("append").parquet(outDir.getAbsolutePath)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
    val q = checkpointDir
      .map(c => writer.option("checkpointLocation", c.getAbsolutePath))
      .getOrElse(writer)
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir.getAbsolutePath)
      .orderBy(col("doc_id"), col("chunk_index"))
  }

  /** [[streamingStoreManifestOnce]] with a compaction cycle in front:
    * seal per-file segments (a long append history), compact them to
    * one, then run the store from the compacted manifest — the spec
    * uses this to pin output equality across compaction.
    */
  def streamingStoreCompactedManifestOnce(spark: SparkSession,
                                          dir: String): DataFrame = {
    val dataPath = new java.io.File(s"$dir/documents.parquet")
    val files: Seq[String] =
      if (dataPath.isDirectory)
        dataPath.listFiles().toSeq.map(_.getAbsolutePath)
          .filter(p => p.endsWith(".parquet") || p.contains("part-")).sorted
      else Seq(dataPath.getAbsolutePath)
    val work = new java.io.File(
      s"target/stream-manifest-c${Integer.toHexString(dir.hashCode)}")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    if (work.exists()) rm(work)
    val manifestDir = new java.io.File(work, "manifest")
    files.foreach(p => appendManifestSegment(manifestDir, Seq(p)))
    compactManifest(manifestDir)
    runManifestStore(spark, manifestDir, new java.io.File(work, "points"))
  }

  /** Stateful per-key debouncer — the streaming twin of the reference's
    * `EventDebouncer` (watching_queue/types.rs:160: per path only the
    * latest event survives; it is released after `debounceSec` of
    * quiet). Keys here are user ids standing in for watched paths.
    *
    * flatMapGroupsWithState semantics: state holds the pending (latest)
    * event; a batch of arrivals emits every event followed within the
    * batch by a gap > debounce, keeps the newest pending, and arms an
    * event-time timeout at pending.ts + debounce — when the watermark
    * passes it with no newer arrival, the pending event flushes. This
    * is the genuinely incremental operator: state is one event per key,
    * partitioned by key across the cluster.
    */
  def debounce(debounceSec: Long)(
      key: Long, rows: Iterator[DebEvent],
      state: GroupState[DebEvent]): Iterator[DebEvent] = {
    val debounceUs = debounceSec * 1000000L
    if (state.hasTimedOut) {
      // timeout fired: the pending event has been quiet past the window
      val out = state.getOption.toSeq
      state.remove()
      out.iterator
    } else {
      val all = (state.getOption.toSeq ++ rows.toSeq)
        .sortBy(e => (e.ts_us, e.event_id))
      val emitted = all.zip(all.tail).collect {
        case (e, next) if next.ts_us - e.ts_us > debounceUs => e
      }
      val pending = all.last
      val timeoutMs = pending.ts_us / 1000L + debounceSec * 1000L
      // Multi-batch guard: if the watermark already passed the pending
      // event's quiet window (possible when the source splits into
      // several micro-batches), arming a timeout in the past would
      // throw and kill the query — the event is due, so flush it now.
      if (timeoutMs <= state.getCurrentWatermarkMs()) {
        state.remove()
        (emitted :+ pending).iterator
      } else {
        state.update(pending)
        state.setTimeoutTimestamp(timeoutMs)
        emitted.iterator
      }
    }
  }

  /** Run the debouncing stream to completion over the static events
    * file; returns what flushed before the final watermark. Each key's
    * still-pending tail event stays in state by design — the batch twin
    * [[graft.operators.PayloadOps.debounceEvents]] closes the log and
    * so also emits the tails; StreamOpsSpec reconciles the two.
    */
  def debounceOnce(spark: SparkSession, dir: String,
                   debounceSec: Long = 600L): DataFrame = {
    import spark.implicits._
    val name = "graft_debounce"
    val evs = eventsStream(spark, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"), col("ts_us"))
      .as[DebEvent]
    val q = evs
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        debounce(debounceSec))
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }
}
