package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ts.{Sessions, StreamMonitors, StreamSessions}

/** Native session_window streaming == the batch lag/cumsum session
  * operator: the inclusive merge contract at the exact-boundary case
  * (diff == gap merges in both engines), presence semantics for NaN
  * arrivals, cross-chunk session merging, and the full-fixture
  * differential under both state providers. The streaming gap monitor
  * ([[StreamMonitors.gapsSlice]] of the shared pass) == the batch gap
  * report. */
class StreamSessionsSpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  /** The shared monitor pass with only the gap monitor under test:
    * every value monitor gets an inert threshold. */
  private def gapsStream(df: org.apache.spark.sql.DataFrame, thresholdMs: Long,
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      nChunks: Int = 8) =
    StreamMonitors.gapsSlice(StreamMonitors.monitorsOnce(spark, df,
      zThreshold = 99.0, cusumThreshold = 99.0, q = 0.5, span = 3,
      gapThresholdMs = thresholdMs, seasonalThreshold = 99.0,
      seasonalMode = "dow", fromMs = fromMs, toMs = toMs,
      nChunks = nChunks, cacheKey = None))

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) Double.NaN else math.rint(r.getDouble(4) * 1e9) / 1e9)
    }.sortBy(t => (t._1, t._2)).toSeq

  test("exact-boundary gap (diff == gapMs) merges in BOTH engines; gap+1 splits") {
    // gap=100: diffs of exactly 100 must merge (batch contract:
    // diff > gap starts a session); 101 must split
    val rows = Seq(
      ("a", 0L, 1.0), ("a", 100L, 2.0), ("a", 200L, 3.0), // one session
      ("a", 301L, 4.0),                                   // 101 -> new session
      ("b", 50L, 5.0))
    val df = rows.toDF("series", "ts", "value")
    val stream = StreamSessions.sessionStreamOnce(
      spark, df, "avg", gapMs = 100L, nChunks = 2)
    val batch = Sessions.sessionRange(df, "avg", gapMs = 100L)
    assert(canon(stream) == canon(batch))
    assert(canon(stream).map(t => (t._1, t._2, t._3)) ==
      Seq(("a", 0L, 200L), ("a", 301L, 301L), ("b", 50L, 50L)))
  }

  test("NaN arrivals extend sessions but are excluded from avg (presence semantics)") {
    val rows = Seq(
      ("k", 0L, 2.0), ("k", 80L, Double.NaN), ("k", 160L, 4.0),
      // without the NaN bridge, 0 -> 160 (gap 160 > 100) would split
      ("k", 400L, 9.0))
    val df = rows.toDF("series", "ts", "value")
    val got = canon(StreamSessions.sessionStreamOnce(
      spark, df, "avg", gapMs = 100L, nChunks = 2))
    assert(got == Seq(("k", 0L, 160L, 3L, 3.0), ("k", 400L, 400L, 1L, 9.0)))
    assert(got == canon(Sessions.sessionRange(df, "avg", gapMs = 100L)))
  }

  test("a session spanning micro-batch boundaries merges in the state store") {
    // one long session of 16 samples 10ms apart replayed in 8 chunks:
    // every chunk boundary falls INSIDE the session
    val rows = (0 until 16).map(i => ("s", i * 10L, i.toDouble))
    val df = rows.toDF("series", "ts", "value")
    val got = canon(StreamSessions.sessionStreamOnce(
      spark, df, "avg", gapMs = 50L, nChunks = 8))
    assert(got == Seq(("s", 0L, 150L, 16L, 7.5)))
  }

  test("gapsStream: gap reported at the closing arrival, cross-batch; duplicates inert") {
    // series 'a': samples at 0,10 then silence until 500 (the gap
    // spans several chunk boundaries), then 510; threshold 50
    val rows = Seq(
      ("a", 0L, 1.0), ("a", 10L, 2.0), ("a", 10L, 9.0), // dup ts: one arrival
      ("a", 500L, 3.0), ("a", 510L, 4.0),
      ("b", 5L, 1.0))
    val df = rows.toDF("series", "ts", "value")
    val got = gapsStream(df, thresholdMs = 50L, nChunks = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == Seq(("a", 10L, 500L, 490L)))
  }

  test("gapsStream == batch gaps on the fixture month") {
    val T0 = 1704067200000L; val T31 = 1706745599999L
    val samples = graft.ts.TSModel.samples(spark, sf)
    def canonGaps(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val batch = canonGaps(Sessions.gaps(samples, thresholdMs = 2 * 86400000L,
      fromMs = Some(T0), toMs = Some(T31)))
    assert(batch.nonEmpty)
    val stream = canonGaps(gapsStream(samples,
      thresholdMs = 2 * 86400000L, fromMs = Some(T0), toMs = Some(T31),
      nChunks = 6))
    assert(stream == batch)
  }

  test("streaming == batch on the fixture month, default and RocksDB providers") {
    val T0 = 1704067200000L; val T31 = 1706745599999L
    val samples = graft.ts.TSModel.samples(spark, sf)
    val batch = canon(Sessions.sessionRange(samples, "avg",
      gapMs = 12 * 3600000L, fromMs = Some(T0), toMs = Some(T31)))
    assert(batch.nonEmpty)
    val stream = canon(StreamSessions.sessionStreamOnce(
      spark, samples, "avg", gapMs = 12 * 3600000L,
      fromMs = Some(T0), toMs = Some(T31), nChunks = 6))
    assert(stream == batch)
    val rocks = canon(StreamSessions.sessionStreamOnce(
      spark, samples, "avg", gapMs = 12 * 3600000L,
      fromMs = Some(T0), toMs = Some(T31), nChunks = 6, useRocksDb = true))
    assert(rocks == batch)
  }

  test("empty/near-empty in-range input degrades to an empty result, not an abort") {
    // ADVICE r11: repartitionByRange on a tiny/empty frame legally
    // emits fewer part files than nChunks — the staging guard must
    // tolerate that (the batch twins return empty frames here)
    import spark.implicits._
    val samples = Seq(("s", 1L, 1.0), ("s", 2L, 2.0))
      .toDF("series", "ts", "value")
    // range excludes everything -> zero staged rows
    assert(StreamSessions.sessionStreamOnce(spark, samples, "avg",
      gapMs = 1000L, fromMs = Some(100L), toMs = Some(200L)).count() == 0)
    assert(gapsStream(samples,
      thresholdMs = 1000L, fromMs = Some(100L), toMs = Some(200L)).count() == 0)
    // two rows against nChunks = 8: fewer part files than chunks
    val two = StreamSessions.sessionStreamOnce(spark, samples, "avg",
      gapMs = 1000L, nChunks = 8)
      .collect()
    assert(two.length == 1 && two.head.getLong(3) == 2L, two.toSeq.toString)
  }
}
