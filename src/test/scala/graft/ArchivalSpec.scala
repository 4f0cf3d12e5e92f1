package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.Schemas
import graft.stream.{ArchivalPipeline, Sinks}

/** The archival entry points (§3.2/§3.3) end-to-end over MemoryStream,
  * plus checkpoint-recovery: a restarted query must resume from committed
  * offsets with the file sink staying exactly-once. */
class ArchivalSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._
  private implicit def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tickJson(instr: String, lttMs: Long): String =
    s"""{"type":"live_feed","feeds":{"$instr":{"fullFeed":{"marketFF":""" +
      s"""{"ltpc":{"ltp":100.0,"ltt":"$lttMs","ltq":"1","cp":0.0}},""" +
      s""""requestMode":"full_d30"}}},"currentTs":"$lttMs"}"""

  private val T0 = 1705309200000L // 2024-01-15 09:00:00 UTC

  test("tick archival: partial-schema parse keeps verbatim json + routing columns, partitioned by date") {
    val input = MemoryStream[String]
    val bronze = ArchivalPipeline.tickArchival(
      input.toDF().select(col("value").as("json_str")))
    val out  = Files.createTempDirectory("graft_bronze_out").toString
    val ckpt = Files.createTempDirectory("graft_bronze_ckpt").toString
    val q = Sinks.partitionedParquetSink(bronze, dateFrom = "tick_time",
        path = out, checkpoint = ckpt, trigger = Trigger.ProcessingTime(0)).start()
    try {
      input.addData(tickJson("I1", T0), tickJson("I2", T0 + 86400000L))
      q.processAllAvailable()
    } finally q.stop()

    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("date="))
    assert(dirs.toSet === Set("date=2024-01-15", "date=2024-01-16"))
    val back = spark.read.parquet(out)
    assert(back.count() === 2)
    assert(back.select("instrument").as[String].collect().toSet === Set("I1", "I2"))
    // bronze keeps the raw message verbatim
    assert(back.filter(col("json_str") === tickJson("I1", T0)).count() === 1)
  }

  test("tick archival keeps malformed ticks verbatim, routed as the full-schema parse routes them") {
    val good = tickJson("I1", T0)
    val inputs = Seq(
      good.replace("\"ltp\":100.0", "\"ltp\":\"abc\""),          // ltp not a number
      good.replace(s"\"ltt\":\"$T0\"", s"\"ltt\":$T0"),           // ltt as a number
      good.replace("\"marketFF\":{", "\"marketFF\":42,\"x\":{"),   // marketFF a scalar
      tickJson("INÉ9", T0 + 1000),                                  // non-ASCII key
      good.dropRight(12),                                           // truncated
      """{"type":"live_feed","feeds":[{"I1":1}],"currentTs":"1"}""", // feeds an array
      "not json")
    assert(inputs.distinct.size === inputs.size)
    val input = MemoryStream[String]
    val bronze = ArchivalPipeline.tickArchival(
      input.toDF().select(col("value").as("json_str")))
    val out  = Files.createTempDirectory("graft_bronze_bad_out").toString
    val ckpt = Files.createTempDirectory("graft_bronze_bad_ckpt").toString
    val q = Sinks.partitionedParquetSink(bronze, dateFrom = "tick_time",
        path = out, checkpoint = ckpt, trigger = Trigger.ProcessingTime(0)).start()
    try {
      input.addData(inputs: _*)
      q.processAllAvailable()
    } finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("json_str", "instrument", "tick_time").collect()
        .map(r => (r.getString(0), Option(r.getString(1)), Option(r.get(2))))
        .sortBy(_._1).toSeq
    val back = rows(spark.read.parquet(out))
    assert(back.map(_._1) === inputs.sorted, "json_str not kept verbatim, once each")
    val full = inputs.toDF("json_str")
      .withColumn("feeds", from_json(col("json_str"), Schemas.tick).getField("feeds"))
      .withColumn("instrument", element_at(map_keys(col("feeds")), 1))
      .withColumn("tick_time", to_timestamp((element_at(col("feeds"), col("instrument"))
        .getField("fullFeed").getField("marketFF").getField("ltpc").getField("ltt")
        .cast("double") / 1000).cast("long")))
    assert(back === rows(full))
    // the well-formed fields still route: not every row collapsed to null
    assert(back.count(_._2.isDefined) >= 4, back)
  }

  test("candle archival: flat typed parse feeds the sorted partitioned sink") {
    val input = MemoryStream[String]
    val silver = ArchivalPipeline.candleArchival(
      input.toDF().select(col("value").as("json_str")))
    val out  = Files.createTempDirectory("graft_silver_out").toString
    val ckpt = Files.createTempDirectory("graft_silver_ckpt").toString
    val q = Sinks.sortedParquetSink(silver, dateFrom = "window_start",
        sortCol = "window_start", path = out, checkpoint = ckpt).start()
    try {
      input.addData(
        """{"instrument":"I1","window_start":"2024-01-15T09:00:00","window_end":"2024-01-15T09:01:00",""" +
          """"open":1.0,"high":2.0,"low":0.5,"close":1.5,"buy_volume":3,"sell_volume":1,""" +
          """"total_volume":4,"delta":2,"tbq":1.0,"tsq":2.0}""")
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(out)
    assert(back.count() === 1)
    val r = back.collect()(0)
    assert(r.getAs[String]("instrument") === "I1")
    assert(r.getAs[Double]("close") === 1.5)
    assert(r.getAs[Int]("total_volume") === 4)
  }

  test("restarted query resumes from the checkpoint without duplicating archived rows") {
    val input = MemoryStream[String]
    val df = ArchivalPipeline.tickArchival(
      input.toDF().select(col("value").as("json_str")))
    val out  = Files.createTempDirectory("graft_recover_out").toString
    val ckpt = Files.createTempDirectory("graft_recover_ckpt").toString
    def start() = Sinks.partitionedParquetSink(df, dateFrom = "tick_time",
        path = out, checkpoint = ckpt, trigger = Trigger.ProcessingTime(0)).start()

    val q1 = start()
    try {
      input.addData(tickJson("A", T0))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(out).count() === 1)

    val q2 = start() // same checkpoint → resumes after batch 0
    try {
      input.addData(tickJson("B", T0 + 60000))
      q2.processAllAvailable()
    } finally q2.stop()
    val back = spark.read.parquet(out)
    assert(back.count() === 2, "restart duplicated or dropped rows")
    assert(back.select("instrument").as[String].collect().sorted === Array("A", "B"))
  }
}
