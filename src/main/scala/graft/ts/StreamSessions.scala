package graft.ts

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Streaming session windows — the ONLINE twin of [[Sessions.sessionRange]]
 * using Structured Streaming's NATIVE `session_window(eventTime, gap)`
 * stateful operator (the one TS window shape Spark ships a dedicated
 * state-merging implementation for — unlike the z-score/CUSUM scorers
 * there is no hand-rolled `flatMapGroupsWithState` here; the engine's
 * own session state store does the cross-batch merging).
 *
 * Semantics bridge (both are exact, both hash-checked against the SAME
 * DuckDB oracle as the batch operator):
 *
 *  - gap contract: the batch operator merges consecutive samples with
 *    `diff <= gapMs` (a gap STRICTLY greater starts a new session);
 *    Spark's session_window merges sessions whose intervals touch —
 *    `next.start <= prev.end` with `end = last + gap` — i.e. ALSO
 *    `diff <= gap` (verified by StreamSessionsSpec's exact-boundary
 *    case: diff == gap merges, diff == gap+1 splits). The two
 *    operators agree with the gap passed through unchanged.
 *  - session bounds are re-derived as min(ts)/max(ts) of the merged
 *    group (the batch contract), NOT session_window's `[start,
 *    last+gap)` struct.
 *  - presence semantics: NaN samples still extend sessions (their
 *    timestamp proves the pipe was alive); the value aggregate applies
 *    [[Aggs]]' NaN handling inside the merged group.
 *
 * Watermark/flush discipline: event time is the sample's own ts
 * (timestamp_millis), watermark delay 0 — legal because the one-shot
 * replay stages time-ordered chunks (`repartitionByRange` by ts), so
 * no event is ever late; a session is emitted (append mode) once the
 * watermark passes its end + gap, and a final SENTINEL chunk (one row
 * far past every real timestamp, filtered from the result) closes the
 * tail sessions that no later data would otherwise flush. Production
 * ingest replaces the sentinel with its real watermark delay.
 *
 * Scale: state per in-flight session is the aggregation buffer (a few
 * scalars), keyed by series — bounded by series cardinality, not
 * history; the RocksDB provider path (`useRocksDb`) is the
 * high-cardinality configuration, same as the other TS streaming
 * operators.
 */
object StreamSessions {

  private[ts] val Sentinel = "__graft_wm_sentinel__"

  /** One-shot replay of `samples` through the native session-window
    * operator in `nChunks` time-ordered micro-batches:
    * `(series, session_start, session_end, n_samples, <agg>_value)` —
    * the exact [[Sessions.sessionRange]] surface, so
    * [[Sessions.sessionRangeSql]] is the shared oracle. */
  def sessionStreamOnce(
      spark: SparkSession, samples: DataFrame, agg: String, gapMs: Long,
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      nChunks: Int = 8, useRocksDb: Boolean = false): DataFrame =
      Compaction.withStatePartitions(spark, 8) {
      Replay.withStateStore(spark, useRocksDb) {
    require(gapMs > 0, "session gap must be positive")
    import spark.implicits._
    var s = samples
    fromMs.foreach(f => s = s.filter(col("ts") >= f))
    toMs.foreach(t => s = s.filter(col("ts") <= t))
    val srcStage = graft.Scratch.dir("graft_ssess_src_").resolve("stage").toString
    val data = Replay.stage(s.select(col("series"), col("ts"), col("value")),
      srcStage, nChunks, Seq(col("ts")))
    // the sentinel must outrun every real session's end + gap. Read
    // max(ts) off the STAGED files with parquet aggregate pushdown —
    // footer statistics only — instead of a second full scan of the
    // (projected, transformed) source: one of the two pre-stream jobs
    // this one-shot pays, cut to ~nothing (r14 #6 floor work).
    val maxTs = Compaction.withConf(spark,
        "spark.sql.parquet.aggregatePushdown", "true") {
      spark.read.parquet(srcStage).agg(max(col("ts"))).collect()(0) match {
        case r if r.isNullAt(0) => 0L
        case r                  => r.getLong(0)
      }
    }
    val sentinelTs = maxTs + 2 * gapMs + 86400000L
    Seq((Sentinel, sentinelTs, 0.0)).toDF("series", "ts", "value")
      .write.mode("append").parquet(srcStage)
    // mtime order = replay order: data chunks in ts order, sentinel
    // LAST — it must not advance the watermark before real data plays
    val dataNames = data.map(_.getName).toSet
    Replay.stamp(Replay.partFiles(srcStage).filterNot(f => dataNames(f.getName)),
      from = data.length)
    val out = Replay.source(spark, Compaction.sampleSchema, srcStage)
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withWatermark("event_time", "0 milliseconds")
      .groupBy(col("series"),
        session_window(col("event_time"), s"$gapMs milliseconds"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_samples"),
        Aggs.expr(agg, col("value"), col("ts")))
      .drop("session_window")
    val sinkDir = graft.Scratch.dir("graft_ssess_").resolve("out").toString
    Replay.runToParquet(out, sinkDir)
    Replay.readSink(spark, sinkDir, out.schema)
      .filter(col("series") =!= Sentinel)
  } }
}
