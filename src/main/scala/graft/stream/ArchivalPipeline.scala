package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TickFeeds
import graft.schema.Schemas

/** The reference's two archival entry points (SURVEY.md §3.2/§3.3) as
  * reusable stream transforms — the medallion bronze/silver writers.
  *
  * Both are STATELESS map-only pipelines: no watermark, no shuffle; each
  * micro-batch is parse → project → partitioned append, which scales
  * with input splits and parallel executors. Pair with
  * [[Sinks.partitionedParquetSink]] (B2/B3: date partitioning, 10 s
  * trigger, exactly-once via the file-sink manifest).
  *
  * Each is also the body of its batch query, so the oracle gate checks
  * the code the stream runs: [[tickArchival]] behind
  * `tick_parse_partial`, [[candleArchival]] behind `tick_parse_flat`
  * ([[graft.ops.Parse]]). `carry` names input columns kept on every row
  * (the batch queries' `event_id`), as in
  * [[CandlePipeline.parseAndClassify]].
  */
object ArchivalPipeline {

  /** §3.2 bronze: raw tick archival (reference: tick_to_hdfs.py:28-59).
    * Schema-on-read with a PARTIAL schema (C3): the stream's one tick
    * parse, `tick_feeds` (≡ `from_json(json_str,
    * Schemas.tickCandle).feeds`, [[graft.functions.TickFeeds]]), which
    * the candle leg reads too; only its `ltt` path is used here. Keeps
    * the VERBATIM json_str next to the extracted routing columns (hybrid
    * raw+typed bronze layout): instrument via map_keys[0] (C7), feed via
    * element_at by column (C8), tick_time via the second-truncating
    * epoch conversion (C11); the sink derives the partition date (C12). */
  def tickArchival(ticks: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val kept = carry.map(col) :+ col("json_str")
    ticks
      .select(kept :+ TickFeeds(col("json_str")).as("feeds"): _*)
      .withColumn("instrument", element_at(map_keys(col("feeds")), 1))
      .withColumn("feed", element_at(col("feeds"), col("instrument")))
      .withColumn("tick_time",
        to_timestamp((col("feed.fullFeed.marketFF.ltpc.ltt").cast(DoubleType)
          / 1000).cast(LongType)))
      .select(kept :+ col("instrument") :+ col("tick_time"): _*)
  }

  /** §3.3 silver: candle archival (reference: candle_to_hdfs.py:45-53).
    * Flat typed parse (C4). The reference follows this with an illegal
    * streaming global sort; the legal per-batch ordering lives in
    * [[Sinks.sortedParquetSink]] — compose
    * `Sinks.sortedParquetSink(candleArchival(df), "window_start", ...)`. */
  def candleArchival(candles: DataFrame, carry: Seq[String] = Nil): DataFrame =
    candles
      .select(carry.map(col) :+ from_json(col("json_str"), Schemas.candle).as("c"): _*)
      .select(carry.map(col) :+ col("c.*"): _*)
}
