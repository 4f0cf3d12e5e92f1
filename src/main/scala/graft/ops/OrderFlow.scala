package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.sources.TickGen
import graft.stream.CandlePipeline
import graft.Present.PresentOps

/** Quote-rule orderflow classification and the full tick→candle pipeline —
  * C15/C16 + §3.1 of SURVEY.md.
  *
  * Classification (reference: data_processor.py:136-140):
  *   buy_volume  = ltq  if |ltp − best_ask| <= |ltp − best_bid| else 0
  *   sell_volume = ltq  if |ltp − best_bid| <  |ltp − best_ask| else 0
  * A tick equidistant from both quotes classifies as BUY (<= vs <) and
  * exactly one side receives ltq; delta = buy − sell.
  *
  * Everything is per-row codegen'd expressions; the only shuffle in the
  * full pipeline is the candle groupBy — same single-Exchange shape as the
  * reference's streaming plan, so it scales to arbitrary input size.
  */
object OrderFlow {

  /** buy/sell/delta columns from (ltp, ltq, best_bid, best_ask). */
  def classify(df: DataFrame): DataFrame = {
    val buySide  = abs(col("ltp") - col("best_ask")) <= abs(col("ltp") - col("best_bid"))
    val sellSide = abs(col("ltp") - col("best_bid")) < abs(col("ltp") - col("best_ask"))
    df.withColumn("buy_volume", when(buySide, col("ltq")).otherwise(lit(0)))
      .withColumn("sell_volume", when(sellSide, col("ltq")).otherwise(lit(0)))
      .withColumn("delta", col("buy_volume") - col("sell_volume"))
  }

  /** C15/C16 in isolation, over a book whose bid/ask distances differ by
    * whole integers keyed on k so both branches AND the tie→buy case are
    * exercised robustly (tie when k % 3 == 1). */
  def orderflowClassify(spark: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast(IntegerType)
    val df = Tables.events(spark, dir)
      .withColumn("ltp", col("value"))
      .withColumn("ltq", k) // single parse; best_ask reuses the attribute
      .withColumn("best_bid", col("value") - lit(2.0))
      .withColumn("best_ask",
        col("value") + lit(1.0) + (col("ltq") % lit(3)).cast(DoubleType))
    classify(df)
      .select("event_id", "ltp", "ltq", "buy_volume", "sell_volume", "delta")
      .presentSorted(col("event_id"))
  }

  /** The reference's entire §3.1 lifecycle as one batch query:
    * build wire JSON → [[CandlePipeline.parseAndClassify]] →
    * [[CandlePipeline.candleAgg]] over tumbling 1-min windows (E2-E8).
    * Reference: data_processor.py:65-165. */
  def orderflowCandles1m(spark: SparkSession, dir: String): DataFrame = {
    // Single-file scan → conditional repartition so the JSON
    // serialize+parse chain runs on every core, not one straggler task
    // (see Parse.parallelEvents / Tables.spreadForCpu).
    val ticks = TickGen.ticksFromEvents(
      Tables.spreadForCpu(Tables.events(spark, dir)))
    // C10 on the batch side: session-UTC wall clock, like every
    // declared query's timestamps (DuckDB's naive TIMESTAMP).
    val flow = CandlePipeline.parseAndClassify(ticks, carry = Seq("event_id"))
      .withColumn("event_time", col("event_time").cast(TimestampNTZType))
    CandlePipeline.candleAgg(flow,
        Candles.orderKey(col("event_time"), col("event_id")), "1 minute")
      .presentSorted(col("window_start"), col("instrument"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orderflow_classify"   -> orderflowClassify _,
    "orderflow_candles_1m" -> orderflowCandles1m _)

  val oracles: Map[String, String] = Map(
    "orderflow_classify" ->
      """WITH t AS (
        |  SELECT event_id, value AS ltp, CAST(props->>'$.k' AS INTEGER) AS ltq,
        |    value - CAST(2.0 AS DOUBLE) AS best_bid,
        |    value + CAST(1.0 AS DOUBLE)
        |          + CAST(CAST(props->>'$.k' AS INTEGER) % 3 AS DOUBLE) AS best_ask
        |  FROM events)
        |SELECT event_id, ltp, ltq,
        |  CASE WHEN abs(ltp - best_ask) <= abs(ltp - best_bid) THEN ltq ELSE 0 END AS buy_volume,
        |  CASE WHEN abs(ltp - best_bid) < abs(ltp - best_ask) THEN ltq ELSE 0 END AS sell_volume,
        |  CASE WHEN abs(ltp - best_ask) <= abs(ltp - best_bid) THEN ltq ELSE 0 END
        |  - CASE WHEN abs(ltp - best_bid) < abs(ltp - best_ask) THEN ltq ELSE 0 END AS delta
        |FROM t ORDER BY event_id""".stripMargin,
    "orderflow_candles_1m" ->
      """WITH t AS (
        |  SELECT event_id, event_type AS instrument, value AS ltp,
        |    CAST(props->>'$.k' AS INTEGER) AS ltq,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ltt_ms,
        |    make_timestamp(epoch_ms(CAST(ts AS TIMESTAMP)) * 1000) AS event_time,
        |    CAST(CAST(props->>'$.k' AS INTEGER) + user_id AS DOUBLE) AS tbq,
        |    CAST(CAST(props->>'$.k' AS INTEGER) AS DOUBLE) AS tsq,
        |    greatest(value * CAST(0.999 AS DOUBLE), value * CAST(0.998 AS DOUBLE)) AS best_bid,
        |    least(value * CAST(1.001 AS DOUBLE), value * CAST(1.002 AS DOUBLE)) AS best_ask
        |  FROM events),
        |f AS (
        |  SELECT *, ltt_ms * 1000000 + event_id AS ord,
        |    CASE WHEN abs(ltp - best_ask) <= abs(ltp - best_bid) THEN ltq ELSE 0 END AS buy_v,
        |    CASE WHEN abs(ltp - best_bid) < abs(ltp - best_ask) THEN ltq ELSE 0 END AS sell_v
        |  FROM t)
        |SELECT time_bucket(INTERVAL 1 minute, event_time) AS window_start,
        |  time_bucket(INTERVAL 1 minute, event_time) + INTERVAL 1 minute AS window_end,
        |  instrument,
        |  arg_min(ltp, ord) AS open, max(ltp) AS high, min(ltp) AS low,
        |  arg_max(ltp, ord) AS close,
        |  CAST(sum(buy_v) AS BIGINT) AS buy_volume,
        |  CAST(sum(sell_v) AS BIGINT) AS sell_volume,
        |  CAST(sum(buy_v) + sum(sell_v) AS BIGINT) AS total_volume,
        |  CAST(sum(buy_v) - sum(sell_v) AS BIGINT) AS delta,
        |  arg_max(tbq, ord) AS tbq, arg_max(tsq, ord) AS tsq
        |FROM f GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin)
}
