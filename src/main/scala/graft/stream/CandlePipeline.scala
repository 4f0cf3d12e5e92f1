package graft.stream

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TickFeeds
import graft.ops.OrderFlow
import graft.schema.Candle

/** The reference's core streaming pipeline (§3.1 of SURVEY.md), wired for
  * Structured Streaming: tick JSON → parse → explode feeds → orderflow
  * classification → watermark (E1) → tumbling-window candle aggregation
  * (E2-E8) → append-mode emission (E9).
  *
  * Reference: data_processor.py:65-183. Every stage is a declarative
  * expression, so the SAME function body runs batch or streaming — the
  * batch path is what the correctness gate verifies
  * (graft.ops.OrderFlow.orderflowCandles1m is the event_id-keyed batch
  * twin); the streaming path adds only watermark + state semantics, which
  * StreamingSpec covers with MemoryStream.
  *
  * Scale: stateless per-row chain until the single hash Exchange of the
  * windowed groupBy; state per (window, instrument) group is bounded by
  * the watermark (state for a window is evicted once the watermark passes
  * its end — E9).
  *
  * Ordering note — WEAKER tie-break than the batch twin, by necessity:
  * the batch pipeline orders open/close by the collision-free
  * `Candles.orderKey` (epoch-ms × 1e6 + row id), but the wire format
  * here carries NO row id (SURVEY §1.2 — the tick schema has only the
  * epoch-ms `ltt`), so open/close use `min_by`/`max_by` on `ltt` alone:
  * deterministic up to within-millisecond ties, the strongest guarantee
  * the reference's own data model allows (its `first`/`last` are
  * arrival-order and weaker still, data_processor.py:148,151). Ticks in
  * the same millisecond at the same price are indistinguishable on the
  * wire, so the residual nondeterminism is bounded and inherent; a
  * producer-assigned sequence number is the upgrade path if a stronger
  * guarantee is ever required.
  */
object CandlePipeline {

  /** Tick wire JSON (`json_str`) → one classified row per instrument
    * feed: `tick_feeds` parse of the fields read here (C2,
    * [[graft.functions.TickFeeds]], ≡ `from_json(json_str,
    * Schemas.tickCandle).feeds`) → explode feeds (C6) → nested projection
    * (C5) → casts (C9, C10 ms-precision `event_time`) → not-null filter
    * (D1) → quote price arrays (C13) → sentinel folds (C14) → classify
    * (C15/C16). Reference: data_processor.py:71-140.
    * The ONE body behind both [[candles]] and the batch twin
    * [[OrderFlow.orderflowCandles1m]], so the oracle gate checks the code
    * the stream runs. `carry` names input columns kept on every feed row
    * (the batch twin's `event_id`). */
  def parseAndClassify(ticks: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val kept = carry.map(col)
    // explode_outer, not explode: for plain explode Catalyst infers a
    // size(feeds) > 0 filter and inlines the whole build-JSON+parse-JSON
    // expression into it (in the batch twin, BELOW its repartition) —
    // doubling the heaviest expression and running one copy on a single
    // core (measured 3× from_json in the optimized plan). The outer
    // variant infers nothing; the D1 not-null filter below drops any
    // null-feed rows, so the semantics are identical.
    val parsed = ticks
      .select(kept :+ explode_outer(TickFeeds(col("json_str")))
                        .as(Seq("instrument", "feed")): _*)
      .select(kept ++ Seq(
        col("instrument"),
        col("feed.fullFeed.marketFF.ltpc.ltp").as("ltp"),
        col("feed.fullFeed.marketFF.ltpc.ltq").cast(IntegerType).as("ltq"),
        col("feed.fullFeed.marketFF.ltpc.ltt").cast(LongType).as("ltt_long"),
        col("feed.fullFeed.marketFF.marketLevel.bidAskQuote").as("quotes"),
        col("feed.fullFeed.marketFF.tbq").as("tbq"),
        col("feed.fullFeed.marketFF.tsq").as("tsq")): _*)
      // C10: epoch-ms → timestamp preserving ms precision. The reference's
      // (ltt/1000).cast("timestamp") float path truncates to the µs below
      // the true ms on some values; timestamp_millis is the exact form of
      // the same ms-precision semantics (data_processor.py:113-114).
      .withColumn("event_time", timestamp_millis(col("ltt_long")))
      .filter(col("ltq").isNotNull && col("ltp").isNotNull &&
              col("event_time").isNotNull) // D1
      .withColumn("bid_prices", col("quotes.bidP"))
      .withColumn("ask_prices", col("quotes.askP"))
      .withColumn("best_bid",
        aggregate(col("bid_prices"), lit(-1.7976931348623157e308),
                  (acc, x) => when(acc > x, acc).otherwise(x)))
      .withColumn("best_ask",
        aggregate(col("ask_prices"), lit(1.7976931348623157e308),
                  (acc, x) => when(acc < x, acc).otherwise(x)))
    OrderFlow.classify(parsed)
  }

  /** E1-E9: watermarked tumbling-window candles. With append output mode
    * a candle is emitted exactly once — after the watermark passes its
    * window end — and its state is then evicted. */
  def candles(ticks: DataFrame,
              windowDur: String = "1 minute",
              watermark: String = "5 minutes"): DataFrame =
    candleAgg(
      parseAndClassify(ticks).withWatermark("event_time", watermark), // E1
      col("ltt_long"), windowDur)

  /** E2-E8 over [[parseAndClassify]]'s rows: `windowDur` tumbling
    * windows per instrument, open/close and the last tbq/tsq ordered by
    * `ord`. The ONE aggregate behind [[candles]] (ordered by `ltt_long`,
    * see the ordering note above) and the batch twin
    * [[OrderFlow.orderflowCandles1m]] (ordered by
    * [[graft.ops.Candles.orderKey]]). */
  def candleAgg(flow: DataFrame, ord: Column, windowDur: String): DataFrame =
    flow
      .groupBy(window(col("event_time"), windowDur), col("instrument")) // E2
      .agg(
        min_by(col("ltp"), ord).as("open"),                // E3 (deterministic)
        max(col("ltp")).as("high"),                        // E4
        min(col("ltp")).as("low"),
        max_by(col("ltp"), ord).as("close"),               // E5
        sum(col("buy_volume")).as("buy_volume"),           // E6
        sum(col("sell_volume")).as("sell_volume"),
        (sum(col("buy_volume")) + sum(col("sell_volume"))).as("total_volume"), // E7
        sum(col("delta")).as("delta"),
        max_by(col("tbq"), ord).as("tbq"),
        max_by(col("tsq"), ord).as("tsq"))
      .select( // E8: flatten the window struct
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("instrument"), col("open"), col("high"), col("low"), col("close"),
        col("buy_volume"), col("sell_volume"), col("total_volume"),
        col("delta"), col("tbq"), col("tsq"))

  /** Typed module boundary (SURVEY §1.4): the same stream as
    * Dataset[Candle], giving downstream consumers compile-time column
    * safety. Casts are the narrowing the case class declares (sums come
    * back as BIGINT, window bounds as the session-UTC wall clock). */
  def candlesTyped(ticks: DataFrame,
                   windowDur: String = "1 minute",
                   watermark: String = "5 minutes"): Dataset[Candle] = {
    val df = candles(ticks, windowDur, watermark)
    import df.sparkSession.implicits._
    df.select(
        col("instrument"),
        col("window_start").cast(TimestampNTZType).as("window_start"),
        col("window_end").cast(TimestampNTZType).as("window_end"),
        col("open"), col("high"), col("low"), col("close"),
        col("buy_volume").cast(IntegerType).as("buy_volume"),
        col("sell_volume").cast(IntegerType).as("sell_volume"),
        col("total_volume").cast(IntegerType).as("total_volume"),
        col("delta").cast(IntegerType).as("delta"),
        col("tbq"), col("tsq"))
      .as[Candle]
  }
}
