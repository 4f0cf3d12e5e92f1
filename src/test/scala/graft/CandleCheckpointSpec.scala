package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.stream.CandlePipeline

/** The candle leg's checkpoint: what a micro-batch costs to commit (no
  * child process per checkpoint file) and what a restart restores (the
  * same candles as an uninterrupted run and as the batch operator over the
  * admitted ticks). */
class CandleCheckpointSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._
  private implicit def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val T0 = 1705309200000L // 2024-01-15 09:00:00 UTC
  private val Min = 60000L

  /** side 0: the print sits nearer the ask (buy), 1: nearer the bid
    * (sell), 2: exactly mid-spread. */
  private def tickJson(instr: String, lttMs: Long, ltp: Double, ltq: Int,
                       side: Int = 0): String = {
    val (bid, ask) = side match {
      case 0 => (ltp - 0.5, ltp + 0.25)
      case 1 => (ltp - 0.25, ltp + 0.5)
      case _ => (ltp - 0.25, ltp + 0.25)
    }
    s"""{"type":"live_feed","feeds":{"$instr":{"fullFeed":{"marketFF":""" +
      s"""{"ltpc":{"ltp":$ltp,"ltt":"$lttMs","ltq":"$ltq","cp":0.0},""" +
      s""""marketLevel":{"bidAskQuote":[{"bidQ":"1","bidP":$bid,"askQ":"1","askP":$ask}]},""" +
      s""""atp":0.0,"vtt":"0","tbq":$ltq.0,"tsq":${ltq + 1}.0},"requestMode":"full_d30"}}},""" +
      s""""currentTs":"$lttMs"}"""
  }

  private def candles(input: MemoryStream[String]): DataFrame =
    CandlePipeline.candles(input.toDF().select(col("value").as("json_str")))

  private def sorted(rows: Iterable[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  test("candle micro-batches start no child processes") {
    val ckpt = Files.createTempDirectory("graft_fork_ckpt").toString
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    val input = MemoryStream[String]
    val q = candles(input).writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try (0 until 3).foreach { b =>
      input.addData((0 until 20).map(i =>
        tickJson(s"I${i % 4}", T0 + b * 2 * Min + i * 1000L, 100.0 + i, 1 + i)): _*)
      q.processAllAvailable()
    } finally { q.stop(); recording.stop() }
    val dump = Files.createTempFile("graft_fork", ".jfr")
    try {
      recording.dump(dump)
      val launched = RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
        .filter(_.contains(ckpt)) // the recording is JVM-wide
      val n = launched.size
      assert(n === 0, s"process launches on checkpoint files, e.g. ${launched.take(3).mkString("; ")}")
    } finally { recording.close(); Files.deleteIfExists(dump) }
  }

  test("candles restarted from the checkpoint equal an uninterrupted run and the batch result") {
    // five instruments over twelve minutes, 2 s apart, fed in six data
    // batches of two minutes each; every sixth tick arrives one batch late
    // (out of order, inside the watermark). (instrument, ltt) is unique.
    val rnd = new scala.util.Random(7)
    val onTime = for (t <- 0 until 360; i <- 0 until 5) yield
      (t / 60, tickJson(s"S$i", T0 + t * 2000L + i, 100.0 + rnd.nextInt(40) * 0.25,
                        1 + rnd.nextInt(9), rnd.nextInt(3)))
    val batches = onTime.zipWithIndex.groupBy { case ((b, _), n) =>
      if (n % 6 == 0) math.min(b + 1, 5) else b
    }.toSeq.sortBy(_._1).map(_._2.map(_._1._2)).toIndexedSeq
    // Two ticks past the watermark, in the last data batch: windows that
    // ended by 09:02, while Spark's late-event watermark there is at least
    // 09:02:58 (the event-time max of the batch before last, 09:07:58,
    // less 5 minutes). Their prices are out of range, so admitting them
    // would show.
    val late = Seq(tickJson("S0", T0 + 30000L + 7, 999.0, 50),
                   tickJson("S1", T0 + Min + 20000L + 11, 1.0, 50, side = 1))
    val flush = tickJson("FLUSH", T0 + 60 * Min, 1.0, 1)
    val feed = batches.init :+ (batches.last ++ late) :+ Seq(flush)

    def runFrom(input: MemoryStream[String], ckpt: String, from: Int, until: Int,
                out: ConcurrentLinkedQueue[Row]): Unit = {
      val q = candles(input).writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) => batch.collect().foreach(out.add) }
        .start()
      try (from until until).foreach { n =>
        input.addData(feed(n): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    def checkpoint(name: String) = Files.createTempDirectory(name).toString

    val whole = new ConcurrentLinkedQueue[Row]()
    runFrom(MemoryStream[String], checkpoint("graft_candle_whole"), 0, feed.size, whole)

    val restarted = new ConcurrentLinkedQueue[Row]()
    val input = MemoryStream[String]
    val ckpt = checkpoint("graft_candle_restart")
    // stop after four data batches: windows up to 09:02 are emitted, the
    // rest are open in the state store
    runFrom(input, ckpt, 0, 4, restarted)
    val beforeStop = restarted.size
    assert(beforeStop > 0 && beforeStop < whole.size,
           "the stop must fall between emitted and open windows")
    runFrom(input, ckpt, 4, feed.size, restarted)

    val admitted = feed.flatten.filterNot(late.toSet).filterNot(_ == flush)
    val batch = CandlePipeline.candles(admitted.toDF("json_str")).collect()
    assert(batch.length === 12 * 5)
    val emitted = sorted(whole.asScala)
    assert(sorted(restarted.asScala) === emitted, "restart changed the emitted candles")
    assert(emitted === sorted(batch), "stream differs from the batch candles over admitted ticks")
    val withLate = CandlePipeline.candles(feed.flatten.filterNot(_ == flush).toDF("json_str"))
    assert(sorted(withLate.collect()) !== emitted, "the late ticks must be visible if admitted")
  }
}
