package graft.schema

import org.apache.spark.sql.types._

/** Declared schemas for the engine's three message shapes, mirroring the
  * reference's schema-on-read contracts (SURVEY.md §1.2):
  *
  *  - [[tick]]: the full 6-deep nested market tick
  *    (reference: data_processor.py:20-63)
  *  - [[tickCandle]]: the PARTIAL schema for the same messages (C3): only
  *    the fields the stream reads (`feeds` → `fullFeed` → `marketFF` →
  *    `ltpc{ltp, ltt, ltq}`, `marketLevel.bidAskQuote[{bidP, askP}]`,
  *    `tbq`, `tsq`). Both fan-out legs parse ticks with the native
  *    [[graft.functions.TickFeeds]], defined by
  *    `tick_feeds(j) ≡ from_json(j, tickCandle).feeds` for every string
  *    `j`; the archive leg uses its `ltt` path, as the reference's
  *    ltt-only schema does (reference: tick_to_hdfs.py:32-42)
  *  - [[candle]]: the flat 13-column candle record
  *    (reference: candle_to_hdfs.py:11-25), with timestamps as
  *    TIMESTAMP_NTZ per the engine's UTC-naive policy (see graft.Tables)
  *
  * Unknown JSON fields are dropped by `from_json`; missing fields become
  * null — schemas are contracts, never inferred.
  */
object Schemas {

  /** ltpc: last-traded price/time/quantity + close price. Prices DOUBLE;
    * ltt (epoch-ms) and ltq carried as STRING and cast late, exactly as
    * the wire format does. */
  val ltpc: StructType = StructType(Seq(
    StructField("ltp", DoubleType),
    StructField("ltt", StringType),
    StructField("ltq", StringType),
    StructField("cp", DoubleType)))

  val bidAskQuote: StructType = StructType(Seq(
    StructField("bidQ", StringType),
    StructField("bidP", DoubleType),
    StructField("askQ", StringType),
    StructField("askP", DoubleType)))

  val ohlcEntry: StructType = StructType(Seq(
    StructField("interval", StringType),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("vol", StringType),
    StructField("ts", StringType)))

  val marketFF: StructType = StructType(Seq(
    StructField("ltpc", ltpc),
    StructField("marketLevel", StructType(Seq(
      StructField("bidAskQuote", ArrayType(bidAskQuote))))),
    StructField("optionGreeks", StructType(Nil)), // empty struct, as declared upstream
    StructField("marketOHLC", StructType(Seq(
      StructField("ohlc", ArrayType(ohlcEntry))))),
    StructField("atp", DoubleType),
    StructField("vtt", StringType),
    StructField("tbq", DoubleType),
    StructField("tsq", DoubleType)))

  /** Full tick message: feeds is a MAP keyed by instrument id. */
  val tick: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("feeds", MapType(StringType, StructType(Seq(
      StructField("fullFeed", StructType(Seq(
        StructField("marketFF", marketFF),
        StructField("requestMode", StringType)))))))),
    StructField("currentTs", StringType)))

  /** Partial schema: only the fields the two stream legs read
    * (`CandlePipeline.parseAndClassify`, `ArchivalPipeline.tickArchival`).
    * With Spark's partial results on, an unread malformed field cannot
    * change a read one, so the read fields equal the full [[tick]]
    * parse's (TickFeedsProps checks this). */
  val tickCandle: StructType = {
    val ltpcRead = StructType(Seq(
      StructField("ltp", DoubleType),
      StructField("ltt", StringType),
      StructField("ltq", StringType)))
    val quote = StructType(Seq(
      StructField("bidP", DoubleType),
      StructField("askP", DoubleType)))
    val mff = StructType(Seq(
      StructField("ltpc", ltpcRead),
      StructField("marketLevel", StructType(Seq(
        StructField("bidAskQuote", ArrayType(quote))))),
      StructField("tbq", DoubleType),
      StructField("tsq", DoubleType)))
    val full    = StructType(Seq(StructField("marketFF", mff)))
    val feedVal = StructType(Seq(StructField("fullFeed", full)))
    StructType(Seq(StructField("feeds", MapType(StringType, feedVal))))
  }

  /** Flat candle record. */
  val candle: StructType = StructType(Seq(
    StructField("instrument", StringType),
    StructField("window_start", TimestampNTZType),
    StructField("window_end", TimestampNTZType),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("buy_volume", IntegerType),
    StructField("sell_volume", IntegerType),
    StructField("total_volume", IntegerType),
    StructField("delta", IntegerType),
    StructField("tbq", DoubleType),
    StructField("tsq", DoubleType)))
}

/** Typed row models for module-boundary Datasets. */
case class Candle(
    instrument: String,
    window_start: java.time.LocalDateTime,
    window_end: java.time.LocalDateTime,
    open: Double, high: Double, low: Double, close: Double,
    buy_volume: Int, sell_volume: Int, total_volume: Int, delta: Int,
    tbq: Double, tsq: Double)
