package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.Present.PresentOps

/** Tumbling-window OHLC candle aggregation — the reference engine's core
  * (reference: data_processor.py:144-165, SURVEY.md §2.E).
  *
  * Deliberate deviations from the reference, both required for a result
  * that is reproducible on any cluster layout / partition count:
  *
  *  - `first`/`last` (arrival-order, nondeterministic in Spark;
  *    data_processor.py:148,151,156-157) are replaced by event-time-ordered
  *    `min_by`/`max_by` keyed on a collision-free BIGINT
  *    (epoch-millis * 1e6 + row id), so open/close are well-defined even
  *    when two rows share a timestamp.
  *  - DOUBLE sums are accumulated in DECIMAL and cast back to DOUBLE, so
  *    the value does not depend on partition merge order (float addition
  *    is not associative; at 1000-executor scale the merge order is
  *    arbitrary).
  *
  * Scale posture: one hash-partitioned shuffle on (window, key) — the same
  * single Exchange the reference's streaming plan has. Partial (map-side)
  * aggregation applies to every agg used here, so shuffled bytes are
  * O(groups), not O(rows).
  */
object Candles {

  /** Collision-free event-time ordering key: epoch-ms * 1e6 + id.
    * Works for ids in [0, 1e6) and epoch-ms < ~9.2e12 (year 2262 in
    * BIGINT). Mirrors DuckDB `epoch_ms(ts) * 1000000 + id` exactly (both
    * floor).
    *
    * The id-range precondition is ENFORCED, not assumed: an id outside
    * [0, 1e6) would spill into the neighboring millisecond bucket and two
    * rows could silently share a key — reintroducing nondeterministic
    * open/close under partition-merge order at exactly the scale where
    * the merge order is arbitrary. raise_error fails the query instead.
    */
  def orderKey(ts: Column, id: Column): Column = {
    val guarded = when(id.between(0L, 999999L), id).otherwise(
      raise_error(concat(
        lit("orderKey tiebreaker id out of [0, 1e6): "), id.cast(StringType),
        lit(" — widen the key (see graft.ops.Candles.orderKey)"))))
    unix_millis(ts.cast(TimestampType)) * lit(1000000L) + guarded
  }

  /** Generic OHLC: group rows into `windowDur` buckets of `ts` starting
    * every `slideDur` (default: tumbling, `slideDur` = `windowDur`) per
    * `keys`, emitting open/high/low/close/volume/n_trades.
    */
  def ohlc(df: DataFrame, ts: Column, id: Column, value: Column,
           keys: Seq[(String, Column)], windowDur: String,
           slideDur: Option[String] = None): DataFrame = {
    val ord = orderKey(ts, id)
    val keyCols = keys.map { case (n, c) => c.as(n) }
    val win = window(ts, windowDur, slideDur.getOrElse(windowDur))
    df.groupBy((win +: keyCols): _*)
      .agg(
        min_by(value, ord).as("open"),
        max(value).as("high"),
        min(value).as("low"),
        max_by(value, ord).as("close"),
        sum(value.cast(DecimalType(18, 2))).cast(DoubleType).as("volume"),
        count(lit(1)).as("n_trades"))
      .select(
        (Seq(col("window.start").as("window_start"),
             col("window.end").as("window_end")) ++
          keys.map { case (n, _) => col(n) } ++
          Seq(col("open"), col("high"), col("low"), col("close"),
              col("volume"), col("n_trades"))): _*)
  }

  /** Flagship: 1-minute candles over the `events` table, one series per
    * event_type (the instrument stand-in). Full-key ORDER BY for a
    * deterministic, oracle-hashable row order.
    */
  def candles1m(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ohlc(ev, col("ts"), col("event_id"), col("value"),
         Seq("event_type" -> col("event_type")), "1 minute")
      .presentSorted(col("window_start"), col("event_type"))
  }

  /** 5-minute variant (the reference documents 5/15-minute configs,
    * README.md:252-255): the same `event_type` grouping as
    * [[candles1m]], over 5-minute tumbling windows.
    */
  def candles5m(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ohlc(ev, col("ts"), col("event_id"), col("value"),
         Seq("event_type" -> col("event_type")), "5 minutes")
      .presentSorted(col("window_start"), col("event_type"))
  }

  /** Sliding-window OHLC: `window(ts, "5 minutes", "1 minute")` — each
    * event lands in window/slide = 5 overlapping buckets. The reference
    * documents tumbling only (data_processor.py:145); sliding completes
    * the Spark windowing surface (SURVEY §4 "window kind" row).
    *
    * Scale posture: identical to tumbling — ONE hash shuffle on
    * (window, key) with map-side partial aggregation; the ×5 row
    * expansion happens map-side BEFORE the partial agg, so shuffled
    * bytes stay O(groups). The same orderKey tie-break keeps open/close
    * deterministic in every overlapping bucket.
    */
  def candlesSliding(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ohlc(ev, col("ts"), col("event_id"), col("value"),
         Seq("event_type" -> col("event_type")), "5 minutes", Some("1 minute"))
      .presentSorted(col("window_start"), col("event_type"))
  }

  /** Session-window candles: `session_window(ts, "15 minutes")` — a
    * session per event_type closes after 15 minutes of silence; its end
    * is last-event-ts + gap (Spark semantics: per-event windows
    * [ts, ts+gap) merged while next.start < current.end, i.e. a gap of
    * EXACTLY 15 minutes starts a new session).
    *
    * Scale posture: one shuffle on the session key (event_type here;
    * (instrument, day) in production) + an in-partition sort to merge
    * intervals — the same Exchange+Sort shape as the as-of join. State
    * is per open session, not per event.
    */
  def candlesSession(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(session_window(col("ts"), "15 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("value")).as("low"),
        max(col("value")).as("high"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("volume"))
      .select(col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"), col("event_type"),
              col("n_events"), col("low"), col("high"), col("volume"))
      .presentSorted(col("session_start"), col("event_type"))
  }

  /** C18: window-struct field access surfaced directly
    * (reference: data_processor.py:159-160). */
  def windowStruct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
              col("window.end").as("window_end"), col("n"))
      .presentSorted(col("window_start"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "candles_1m"      -> candles1m _,
    "candles_5m"      -> candles5m _,
    "candles_sliding" -> candlesSliding _,
    "candles_session" -> candlesSession _,
    "window_struct"   -> windowStruct _)

  private def ohlcOracle(bucket: String): String =
    s"""SELECT time_bucket(INTERVAL $bucket, CAST(ts AS TIMESTAMP)) AS window_start,
       |  time_bucket(INTERVAL $bucket, CAST(ts AS TIMESTAMP)) + INTERVAL $bucket AS window_end,
       |  event_type,
       |  arg_min(value, epoch_ms(CAST(ts AS TIMESTAMP)) * 1000000 + event_id) AS open,
       |  max(value) AS high,
       |  min(value) AS low,
       |  arg_max(value, epoch_ms(CAST(ts AS TIMESTAMP)) * 1000000 + event_id) AS close,
       |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume,
       |  count(*) AS n_trades
       |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin

  val oracles: Map[String, String] = Map(
    "candles_1m" -> ohlcOracle("1 minute"),
    "candles_5m" -> ohlcOracle("5 minute"),
    // Sliding windows as a cross join with the k = 0..4 slide offsets:
    // a row with minute-bucket b belongs to exactly the 5 windows
    // starting at b-k minutes (all satisfy start <= ts < start+5m).
    "candles_sliding" ->
      """SELECT time_bucket(INTERVAL 1 minute, CAST(ts AS TIMESTAMP))
        |         - k.k * INTERVAL 1 minute AS window_start,
        |  time_bucket(INTERVAL 1 minute, CAST(ts AS TIMESTAMP))
        |         - k.k * INTERVAL 1 minute + INTERVAL 5 minute AS window_end,
        |  event_type,
        |  arg_min(value, epoch_ms(CAST(ts AS TIMESTAMP)) * 1000000 + event_id) AS open,
        |  max(value) AS high,
        |  min(value) AS low,
        |  arg_max(value, epoch_ms(CAST(ts AS TIMESTAMP)) * 1000000 + event_id) AS close,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume,
        |  count(*) AS n_trades
        |FROM events, range(5) k(k)
        |GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,
    // Sessions via gaps-and-islands: a new session starts when the gap
    // to the previous event (same key) is >= 15 min — integer-µs
    // comparison, mirroring Spark's strict interval-overlap merge.
    "candles_session" ->
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 900000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
        |sess AS (
        |  SELECT *, sum(new_s) OVER
        |    (PARTITION BY event_type ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT min(ts) AS session_start,
        |  max(ts) + INTERVAL 15 minute AS session_end,
        |  event_type, count(*) AS n_events, min(value) AS low,
        |  max(value) AS high,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
        |FROM sess GROUP BY event_type, sid ORDER BY 1, 3""".stripMargin,
    "window_struct" ->
      """SELECT time_bucket(INTERVAL 1 hour, CAST(ts AS TIMESTAMP)) AS window_start,
        |  time_bucket(INTERVAL 1 hour, CAST(ts AS TIMESTAMP)) + INTERVAL 1 hour AS window_end,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1""".stripMargin)
}
