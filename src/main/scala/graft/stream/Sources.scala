package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.TickGen

/** Streaming sources — A1-A3 and the A5 test replacement of SURVEY.md §2.
  *
  * The Kafka wrappers assemble exactly the reference's source options
  * (topic + offset asymmetry: the processor replays from `earliest`,
  * archival starts at `latest` — data_processor.py:65-69 vs
  * tick_to_hdfs.py:20-25, candle_to_hdfs.py:38-42). Option assembly is
  * split from `.load()` so it is unit-testable in this broker-less
  * environment; the spark-sql-kafka connector jar must be on the
  * classpath at deploy time.
  */
object Sources {

  /** A1: tick source for the processor — replay from earliest. */
  def kafkaTickOptions(bootstrap: String, topic: String): Map[String, String] =
    kafkaOptions(bootstrap, topic, startingOffsets = "earliest")

  /** A2/A3: archival sources — start at latest. */
  def kafkaArchivalOptions(bootstrap: String, topic: String): Map[String, String] =
    kafkaOptions(bootstrap, topic, startingOffsets = "latest")

  def kafkaOptions(bootstrap: String, topic: String,
                   startingOffsets: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribe"               -> topic,
    "startingOffsets"         -> startingOffsets)

  /** Kafka source stream: binary key/value rows + metadata, exactly what
    * the reference's readStream sees (data_processor.py:65-69). */
  def kafka(spark: SparkSession, options: Map[String, String]): DataFrame =
    spark.readStream.format("kafka").options(options).load()

  /** C1: the Kafka value is binary; the first pipeline step everywhere in
    * the reference is CAST(value AS STRING) (data_processor.py:71). */
  def valueAsJson(kafkaDf: DataFrame): DataFrame =
    kafkaDf.select(col("value").cast(StringType).as("json_str"))

  /** (value, timestamp) rate rows → the synthetic event shape TickGen
    * renders to wire JSON. */
  private def eventsFromRate(raw: DataFrame): DataFrame = {
    val types = array(Seq("click", "view", "purchase", "refund", "error").map(lit): _*)
    raw.select(
      col("value").as("event_id"),
      col("timestamp").as("ts"),
      (col("value") % 50).as("user_id"),
      element_at(types, (col("value") % 5 + 1).cast(IntegerType)).as("event_type"),
      (col("value") % 997).cast(DoubleType).as("value"),
      concat(lit("""{"k": """), (col("value") % 100).cast(StringType), lit("}"))
        .as("props"))
  }

  /** A5 replacement: deterministic tick-JSON stream from the built-in
    * `rate` source — the WebSocket ingress stand-in for local tests and
    * load generation (SURVEY §2.A5). Fully distributed: the rate source
    * scales with numPartitions, TickGen is per-row codegen. */
  def rateTicks(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    TickGen.ticksFromEvents(eventsFromRate(
      spark.readStream.format("rate")
        .option("rowsPerSecond", rowsPerSecond.toLong).load()))
      .select("json_str")
}
