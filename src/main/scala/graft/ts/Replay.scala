package graft.ts

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType

/**
 * The one-shot replay harness every streaming runner shares. A bounded
 * frame is staged as range-ordered parquet files, the file-stream
 * source replays them a fixed number of files per trigger under
 * `Trigger.AvailableNow`, and each micro-batch goes through one
 * `foreachBatch` body — the reference's per-write fold into
 * per-series state, at micro-batch granularity.
 *
 * Replay order is decided here and nowhere else. The file source
 * orders by mtime; the range partitioner numbers part files in range
 * order; so the staged files are stamped with strictly ascending
 * mtimes in name order and the replay order IS the range order. A
 * stamp the filesystem refuses would silently fall back to
 * write-order mtimes and reorder the replay, so every stamp is
 * `require`d.
 */
object Replay {

  private val MtimeBase = 1000000000000L
  private val MtimeStep = 60000L

  /** The `part-` files under `dir` in name order — range order for a
    * range-partitioned write. */
  def partFiles(dir: String): Array[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)

  /** Stamp `files` with strictly ascending mtimes in the given order,
    * starting `from` slots after the base (a file staged after an
    * earlier [[stage]] continues its sequence). */
  def stamp(files: Array[File], from: Int = 0): Unit =
    files.zipWithIndex.foreach { case (f, i) =>
      val t = MtimeBase + (from + i) * MtimeStep
      require(f.setLastModified(t),
        s"could not set mtime $t on $f: the replay would reorder silently")
    }

  /**
   * Range-partition `df` by `by` into `nChunks * filesPerChunk` parquet
   * files under `dir` (overwriting), and stamp them in range order.
   * Empty range partitions write no file, so a small or empty input
   * stages FEWER files than requested — legal, the replay only needs
   * the files that exist — but never more. Returns the staged files in
   * replay order.
   */
  def stage(df: DataFrame, dir: String, nChunks: Int, by: Seq[Column],
      filesPerChunk: Int = 1): Array[File] = {
    val n = nChunks * filesPerChunk
    df.repartitionByRange(n, by: _*).write.mode("overwrite").parquet(dir)
    val files = partFiles(dir)
    require(files.length <= n,
      s"staging produced ${files.length} files for $nChunks chunks x $filesPerChunk")
    stamp(files)
    files
  }

  /**
   * The file-stream source over a staged `dir`: `filesPerTrigger` files
   * per micro-batch, in mtime order. Every TS runner replays one file
   * per trigger, so the trigger count is the chunk count.
   *
   * Per-trigger parallelism is bounded by `filesPerTrigger`: a
   * trigger's scan stage has one task per (small) file. StreamDedup
   * passes slots / nChunks files per trigger, so each trigger fills at
   * most slots / nChunks of the session's slots (4 of 32 at 8 chunks),
   * not all of them; at slots ≤ nChunks it is one task per trigger.
   */
  def source(spark: SparkSession, schema: StructType, dir: String,
      filesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(dir)

  /** Run `stream` to completion under `Trigger.AvailableNow`, handing
    * each micro-batch and its batch id to `body`. */
  def run(stream: DataFrame, outputMode: String = "append")(
      body: (DataFrame, Long) => Unit): Unit =
    stream.writeStream.outputMode(outputMode)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) => body(batch, batchId) }
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** [[run]] with the plain append sink: every micro-batch's rows are
    * appended to parquet under `sinkDir`. */
  def runToParquet(stream: DataFrame, sinkDir: String): Unit =
    run(stream) { (batch, _) => batch.write.mode("append").parquet(sinkDir) }

  /** Read a parquet sink back with its known schema. A replay that
    * emitted no rows leaves no part files, where schema inference
    * would throw — that reads back as an empty frame of `schema`. */
  def readSink(spark: SparkSession, sinkDir: String, schema: StructType): DataFrame =
    if (partFiles(sinkDir).nonEmpty) spark.read.schema(schema).parquet(sinkDir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Run `body` and return its result with `(numRowsTotal,
    * memoryUsedBytes)` of the state operator in the LAST progress event
    * that reported one — scale evidence for a runner's state
    * cardinality bound. Progress arrives through a
    * [[StreamingQueryListener]] and is settled by draining the listener
    * bus before it is read; `None` when no stateful query ran. */
  def withStateMetrics[T](spark: SparkSession)(body: => T): (T, Option[(Long, Long)]) = {
    val last = new java.util.concurrent.atomic.AtomicReference[Option[(Long, Long)]](None)
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.headOption.foreach(so =>
          last.set(Some((so.numRowsTotal, so.memoryUsedBytes))))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val out = body
      org.apache.spark.sql.GraftSessionBridge.waitListenerBusEmpty(spark, 30000L)
      (out, last.get)
    } finally spark.streams.removeListener(listener)
  }

  /** Run `body` under the requested state-store provider: RocksDB
    * (disk-backed state, the configuration for corpus- or
    * series-cardinality state) or whatever the session has. Provider
    * choice is semantics-free — the runners' specs pin parity. */
  def withStateStore[T](spark: SparkSession, useRocksDb: Boolean)(body: => T): T =
    Compaction.withConf(spark, "spark.sql.streaming.stateStore.providerClass",
      if (useRocksDb) graft.pipeline.StreamDedup.RocksDbProvider
      else spark.conf.get("spark.sql.streaming.stateStore.providerClass"))(body)
}
