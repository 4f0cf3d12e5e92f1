package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.schema.Schemas
import graft.sources.TickGen
import graft.stream.ArchivalPipeline
import graft.Present.PresentOps

/** JSON parse surface — C1-C5, C9, C11, C12 of SURVEY.md §2.
  *
  * Each query builds wire-format JSON from `events` with
  * [[graft.sources.TickGen]] (all columnar, deterministic), parses it back
  * through one of the three declared schemas, and projects typed columns.
  * The DuckDB oracle recomputes the same values directly from `events`
  * with no JSON involved — so a green row proves the full build → parse →
  * project round trip is value-exact.
  *
  * Scale posture: the whole chain is per-row expressions inside one
  * WholeStageCodegen span — no shuffle, no state; it scales linearly with
  * input splits.
  */
object Parse {

  /** Full nested parse (reference: data_processor.py:71,81,91,101-110):
    * CAST (C1) → from_json full 6-deep schema (C2) → struct expansion →
    * explode feeds map (C6) → dotted-path projection (C5) → string→int
    * cast (C9). */
  /** events.parquet is a single file → one input split; without an
    * explicit repartition the whole serialize+parse chain would run on one
    * core (one straggler task on a real cluster). Round-robin repartition
    * to the session's parallelism puts the per-row chain on every core;
    * safe here because everything downstream is per-row or keyed.
    * Conditional ([[Tables.spreadForCpu]]): a production-scale scan is
    * already thousands of splits and must NOT be shuffled for this. */
  private def parallelEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.spreadForCpu(Tables.events(spark, dir))

  def tickParseFull(spark: SparkSession, dir: String): DataFrame = {
    val ticks = TickGen.ticksFromEvents(parallelEvents(spark, dir))
    // Parse ONCE and carry the whole struct through the Generate: pulling
    // `type`/`currentTs`/`feeds` into separate columns before the explode
    // lets OptimizeJsonExprs split the parse into three schema-pruned
    // from_json copies (measured 3× parse cost at sf0.1); extracting every
    // field from the single `data` attribute keeps one parse per row.
    val parsed = ticks
      .select(col("event_id"),
              from_json(col("json_str").cast(StringType), Schemas.tick).as("data"))
    parsed
      .select(col("event_id"), col("data"),
              explode(col("data.feeds")).as(Seq("instrument", "feed")))
      .select(
        col("event_id"),
        col("instrument"),
        col("feed.fullFeed.marketFF.ltpc.ltp").as("ltp"),
        col("feed.fullFeed.marketFF.ltpc.ltq").cast(IntegerType).as("ltq"),
        col("feed.fullFeed.marketFF.ltpc.cp").as("cp"),
        col("feed.fullFeed.marketFF.atp").as("atp"),
        col("feed.fullFeed.marketFF.vtt").as("vtt"),
        col("feed.fullFeed.marketFF.tbq").as("tbq"),
        col("feed.fullFeed.marketFF.tsq").as("tsq"),
        col("feed.fullFeed.requestMode").as("request_mode"),
        col("data.type").as("msg_type"),
        col("data.currentTs").as("current_ts"))
      .presentSorted(col("event_id"))
  }

  /** Partial-schema parse (reference: tick_to_hdfs.py:28,45-51): the
    * bronze archive leg's own body, [[ArchivalPipeline.tickArchival]]
    * (`tick_feeds` over the same JSON, C3; instrument via map_keys[0],
    * C7; feed via element_at with a column key, C8; epoch-s truncation
    * (ltt/1000) CAST LONG, C11 — deliberately coarser than C10's ms
    * precision), then to_date for partitioning (C12). */
  def tickParsePartial(spark: SparkSession, dir: String): DataFrame = {
    val ticks = TickGen.ticksFromEvents(parallelEvents(spark, dir))
    ArchivalPipeline.tickArchival(ticks, carry = Seq("event_id"))
      .withColumn("tick_time", col("tick_time").cast(TimestampNTZType))
      .withColumn("date", to_date(col("tick_time")))
      .select("event_id", "instrument", "tick_time", "date")
      .presentSorted(col("event_id"))
  }

  /** Flat candle parse (reference: candle_to_hdfs.py:45-47): the silver
    * archive leg's own body, [[ArchivalPipeline.candleArchival]] — 13
    * typed columns out of flat JSON (C4), including TIMESTAMP round
    * trips. */
  def tickParseFlat(spark: SparkSession, dir: String): DataFrame = {
    val js = TickGen.candleJsonFromEvents(parallelEvents(spark, dir))
    ArchivalPipeline.candleArchival(js, carry = Seq("event_id"))
      .presentSorted(col("event_id"))
  }

  /** Corrupt-record quarantine — the malformed-feed path every
    * production wire consumer needs (the reference assumes a clean feed;
    * SURVEY.md §5 flags the absence). PERMISSIVE `from_json` turns an
    * unparseable record into an all-null struct instead of failing the
    * job; flagging rows whose never-null key field parsed null splits
    * the stream into a clean leg and a quarantine leg in ONE pass — no
    * second parse, no job restart, per-row codegen'd.
    *
    * The gate corrupts every 10th record deterministically (truncation —
    * invalid JSON under any parser) and hash-verifies the flag against
    * DuckDB's `json_valid`. Each engine truncates ITS OWN serialized
    * form, so the check is parser-semantics parity, not byte parity. */
  def parseQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType)))
    val raw = to_json(struct(col("event_id"), col("user_id"), col("event_type")))
    parallelEvents(spark, dir)
      .select(col("event_id").as("id"),
              when(col("event_id") % 10 === 0,
                   raw.substr(lit(1), length(raw) - 15))
                .otherwise(raw).as("raw"))
      .select(col("id"), from_json(col("raw"), schema).as("p"))
      .select(col("id").as("event_id"),
              when(col("p.event_id").isNull, 1).otherwise(0)
                .cast(IntegerType).as("quarantined"))
      .presentSorted(col("event_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tick_parse_full"    -> tickParseFull _,
    "tick_parse_partial" -> tickParsePartial _,
    "tick_parse_flat"    -> tickParseFlat _,
    "parse_quarantine"   -> parseQuarantine _)

  /** Shared oracle base: k and epoch-ms derivations, matching TickGen. */
  private val base =
    """(SELECT *, CAST(props->>'$.k' AS INTEGER) AS k,
      |  epoch_ms(CAST(ts AS TIMESTAMP)) AS ltt_ms FROM events) e""".stripMargin

  val oracles: Map[String, String] = Map(
    "tick_parse_full" ->
      s"""SELECT event_id, event_type AS instrument,
         |  value AS ltp, k AS ltq, value * CAST(0.5 AS DOUBLE) AS cp,
         |  value * CAST(1.0005 AS DOUBLE) AS atp,
         |  CAST(k * 100 AS VARCHAR) AS vtt,
         |  CAST(k + user_id AS DOUBLE) AS tbq, CAST(k AS DOUBLE) AS tsq,
         |  'full_d30' AS request_mode, 'live_feed' AS msg_type,
         |  CAST(ltt_ms AS VARCHAR) AS current_ts
         |FROM $base ORDER BY event_id""".stripMargin,
    "tick_parse_partial" ->
      s"""SELECT event_id, event_type AS instrument,
         |  make_timestamp((ltt_ms // 1000) * 1000000) AS tick_time,
         |  CAST(make_timestamp((ltt_ms // 1000) * 1000000) AS DATE) AS date
         |FROM $base ORDER BY event_id""".stripMargin,
    "parse_quarantine" ->
      """WITH r AS (
        |  SELECT event_id,
        |    CAST(to_json(struct_pack(event_id := event_id, user_id := user_id,
        |                             event_type := event_type)) AS VARCHAR)
        |      AS raw
        |  FROM events),
        |c AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 10 = 0
        |         THEN substr(raw, 1, CAST(length(raw) AS INTEGER) - 15)
        |         ELSE raw END AS raw
        |  FROM r)
        |SELECT event_id,
        |  CAST(CASE WHEN json_valid(raw) THEN 0 ELSE 1 END AS INTEGER)
        |    AS quarantined
        |FROM c ORDER BY event_id""".stripMargin,
    "tick_parse_flat" ->
      s"""SELECT event_id, event_type AS instrument,
         |  date_trunc('minute', CAST(ts AS TIMESTAMP)) AS window_start,
         |  date_trunc('minute', CAST(ts AS TIMESTAMP)) + INTERVAL 1 MINUTE AS window_end,
         |  value AS open, value * CAST(1.01 AS DOUBLE) AS high,
         |  value * CAST(0.99 AS DOUBLE) AS low,
         |  value * CAST(1.005 AS DOUBLE) AS close,
         |  k AS buy_volume, k % 5 AS sell_volume,
         |  k + k % 5 AS total_volume, k - k % 5 AS delta,
         |  CAST(k + user_id AS DOUBLE) AS tbq, CAST(k AS DOUBLE) AS tsq
         |FROM $base ORDER BY event_id""".stripMargin)
}
