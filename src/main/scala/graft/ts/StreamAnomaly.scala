package graft.ts

/**
 * Oracles of the streaming per-series anomaly monitors — prefix
 * z-score, seasonal cohort z-score and CUSUM drift — whose stateful
 * transitions run inside [[StreamMonitors]]' shared pass (the
 * `ts_*_stream` queries read its slices). Each arriving sample is
 * scored against the statistics of its series' (or cohort's) PREFIX
 * — all samples that arrived before it — so an alert fires at arrival
 * time, not after a batch re-read.
 *
 * Semantics (deterministic, oracle-checkable): samples are processed
 * in (ts, value) order; sample x at prefix (n, μ, σ) is flagged when
 * `n ≥ minPrefix`, `σ > 0` and `|x − μ| / σ ≥ threshold`, then folded
 * into the state. This is exactly the cumulative-window formulation
 * `avg/stddev_pop OVER (PARTITION BY series ORDER BY ts, value ROWS
 * UNBOUNDED PRECEDING TO 1 PRECEDING)` — which is what the DuckDB
 * oracles below compute, so the STREAMING state path is hash-checked
 * against a closed-form batch derivation.
 */
object StreamAnomaly {

  /** minimum prior samples before a score is meaningful */
  val MinPrefix = 5

  /** Oracle of the seasonal cohort monitor ([[StreamMonitors.seasonalSlice]]):
    * state per (series, season), season = [[Seasonal]]'s hod/dow key,
    * so each arrival is scored against its own cohort's prefix ("this
    * Monday vs previous Mondays"). Prefix stats as a cumulative window
    * over the cohort. */
  def seasonalStreamSql(
      threshold: Double, mode: String = "dow",
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      cte: String = TSModel.samplesCte): String = {
    val bounds = (fromMs.map(f => s"ts >= $f") ++ toMs.map(t => s"ts <= $t"))
      .mkString(" AND ")
    val where = (Seq("NOT isnan(value)") ++ (if (bounds.nonEmpty) Seq(bounds) else Nil))
      .mkString("WHERE ", " AND ", "")
    s"""$cte, f AS (
       |  SELECT series, ts, value, ${Seasonal.seasonKeySqlPublic(mode)} AS season
       |  FROM samples $where
       |), scored AS (
       |  SELECT series, ts, value, season,
       |    avg(value)        OVER w AS mu,
       |    stddev_pop(value) OVER w AS sigma,
       |    count(*)          OVER w AS n
       |  FROM f
       |  WINDOW w AS (PARTITION BY series, season ORDER BY ts, value
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |)
       |SELECT series, ts, value, season, (value - mu) / sigma AS s_value
       |FROM scored
       |WHERE n >= $MinPrefix AND sigma > 0
       |  AND abs((value - mu) / sigma) >= $threshold""".stripMargin
  }

  /** Oracle of the CUSUM drift monitor ([[StreamMonitors.cusumSlice]]).
    * The batch [[Changepoint.cusum]] normalizes against the WHOLE
    * series' μ/σ (unknowable online), so the streaming form uses the
    * prefix statistics: each arrival adds `(x − μ_prefix)/σ_prefix` to
    * a running sum S, and |S| ≥ threshold flags a sustained drift.
    * Closed form: prefix stats from one cumulative window, the running
    * S as a second cumulative sum over the derived per-row terms (rows
    * before MinPrefix / with zero prefix variance contribute 0 and
    * never emit). */
  def cusumStreamSql(
      threshold: Double,
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      cte: String = TSModel.samplesCte): String = {
    val bounds = (fromMs.map(f => s"ts >= $f") ++ toMs.map(t => s"ts <= $t"))
      .mkString(" AND ")
    val where = (Seq("NOT isnan(value)") ++ (if (bounds.nonEmpty) Seq(bounds) else Nil))
      .mkString("WHERE ", " AND ", "")
    s"""$cte, f AS (
       |  SELECT * FROM samples $where
       |), prefixed AS (
       |  SELECT series, ts, value,
       |    avg(value)        OVER w AS mu,
       |    stddev_pop(value) OVER w AS sigma,
       |    count(*)          OVER w AS n
       |  FROM f
       |  WINDOW w AS (PARTITION BY series ORDER BY ts, value
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |), termed AS (
       |  SELECT series, ts, value,
       |    (n >= $MinPrefix AND sigma > 0) AS scored,
       |    CASE WHEN n >= $MinPrefix AND sigma > 0
       |         THEN (value - mu) / sigma ELSE 0.0 END AS term
       |  FROM prefixed
       |), summed AS (
       |  SELECT series, ts, value, scored,
       |    sum(term) OVER (PARTITION BY series ORDER BY ts, value
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum_score
       |  FROM termed
       |)
       |SELECT series, ts, value, cusum_score FROM summed
       |WHERE scored AND abs(cusum_score) >= $threshold""".stripMargin
  }

  /** Oracle of the z-score monitor ([[StreamMonitors.zscoreSlice]]):
    * the prefix statistics as a cumulative window — the streaming
    * Welford fold and this closed form must agree row-for-row
    * (Welford's σ and stddev_pop differ only in ulps, far
    * inside the compare tolerance; gate flips would need |z−thr| ~
    * 1e-12, probability ~0 on continuous data). */
  def zscoreStreamSql(
      threshold: Double,
      fromMs: Option[Long] = None, toMs: Option[Long] = None,
      cte: String = TSModel.samplesCte): String = {
    val bounds = (fromMs.map(f => s"ts >= $f") ++ toMs.map(t => s"ts <= $t"))
      .mkString(" AND ")
    val where = (Seq("NOT isnan(value)") ++ (if (bounds.nonEmpty) Seq(bounds) else Nil))
      .mkString("WHERE ", " AND ", "")
    s"""$cte, f AS (
       |  SELECT * FROM samples $where
       |), scored AS (
       |  SELECT series, ts, value,
       |    avg(value)        OVER w AS mu,
       |    stddev_pop(value) OVER w AS sigma,
       |    count(*)          OVER w AS n
       |  FROM f
       |  WINDOW w AS (PARTITION BY series ORDER BY ts, value
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |)
       |SELECT series, ts, value, (value - mu) / sigma AS z_value
       |FROM scored
       |WHERE n >= $MinPrefix AND sigma > 0
       |  AND abs((value - mu) / sigma) >= $threshold""".stripMargin
  }
}
