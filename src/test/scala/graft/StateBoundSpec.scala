package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.stream.{IntervalJoin, SessionWindows}

/** Watermark eviction keeps the stateful legs' state BOUNDED: over a
  * stream whose event time advances every batch and whose key set
  * rotates, the state store's row count plateaus at the keys live inside
  * the watermark horizon instead of growing with stream length.
  *
  * Each batch is one `addData` on ONE MemoryStream (the join derives
  * both sides from it), so the batch split — and with it every state
  * count — is the same on every run. `processAllAvailable` returns only
  * after the no-data batch that applies the advanced watermark, so each
  * reading is taken with eviction caught up. The bound on the last
  * reading is 1.5 × the first steady one: eviction lags input by the
  * watermark horizon, so a small overshoot is legitimate, unbounded
  * growth is not. */
class StateBoundSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._
  private implicit def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val T0 = 1705309200000L // 2024-01-15 09:00:00 UTC
  private def ts(sec: Long) = new Timestamp(T0 + sec * 1000L)

  private val Batches = 20
  private val KeysPerBatch = 40
  /** Key blocks cycle, so evicted keys come back and must not find
    * orphaned state. */
  private val KeyBlocks = 4
  /** Event time advances this much per batch: wider than either leg's
    * watermark delay plus its gap or match interval, so every key of
    * batch b is evictable once batch b + 1 sets the watermark. */
  private val BatchSpacingSec = 20L
  private val StateGrowthBound = 1.5

  private def key(b: Int, i: Int): Long = (b % KeyBlocks).toLong * KeysPerBatch + i

  /** State rows after each batch, read once the query is caught up. */
  private def stateRowsPerBatch(q: StreamingQuery, addBatch: Int => Unit): Seq[Long] =
    (0 until Batches).map { b =>
      addBatch(b)
      q.processAllAvailable()
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    }

  private def start(df: DataFrame, name: String): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation",
              Files.createTempDirectory(s"graft_sb_$name").toString)
      .start()

  private def assertBounded(rows: Seq[Long], live: Long): Unit = {
    // batch 0 fills state with nothing yet to evict; from batch 1 on,
    // each reading has the previous batch's keys evicted
    val steady = rows.drop(1)
    assert(steady.head > 0, s"no state recorded: ${rows.mkString(",")}")
    assert(steady.last <= StateGrowthBound * steady.head,
           s"state grew ${steady.head} -> ${steady.last}: ${rows.mkString(",")}")
    assert(rows.forall(_ <= live),
           s"state beyond the $live rows live in the horizon: ${rows.mkString(",")}")
  }

  test("session windows: state stays within the open sessions as users rotate") {
    val input = MemoryStream[(Long, Timestamp)]
    val sessions = SessionWindows.userSessions(
      input.toDF().toDF("user_id", "ts"), gap = "5 seconds", watermark = "2 seconds")
    val q = start(sessions, "sb_sessions")
    try {
      // every user of batch b has one session [t, t + 2 s + gap), which
      // the watermark (t + 20 s + 2 s) - 2 s set by batch b + 1 closes
      val rows = stateRowsPerBatch(q, b => input.addData(
        for (i <- 0 until KeysPerBatch; s <- 0 to 2)
          yield (key(b, i), ts(b * BatchSpacingSec + s))))
      // open sessions: at most the current batch's users (one each)
      assertBounded(rows, live = KeysPerBatch)
      // the eviction path ran: every batch but the last emitted its
      // users' closed sessions, each exactly once
      val emitted = spark.table("sb_sessions")
      assert(emitted.count() === (Batches - 1) * KeysPerBatch)
      assert(emitted.where(col("n_events") =!= 3).count() === 0)
    } finally q.stop()
  }

  test("interval join: buffered trades and quotes leave state past the horizon") {
    // (is_trade, instrument, id, ts): one source, both sides
    val input = MemoryStream[(Boolean, String, Long, Timestamp)]
    val all = input.toDF().toDF("is_trade", "instrument", "id", "ts")
    val joined = IntervalJoin.quotesNearTrades(
      all.where(col("is_trade"))
        .select(col("instrument"), col("id").as("trade_id"), col("ts").as("trade_ts")),
      all.where(!col("is_trade"))
        .select(col("instrument"), col("id").as("quote_id"), col("ts").as("quote_ts")),
      maxLag = "10 seconds", watermark = "5 seconds")
    val q = start(joined, "sb_join")
    try {
      // per instrument and batch: a quote at t and a trade at t + 1 s,
      // which match. The watermark batch b + 1 sets, (t + 21 s) - 5 s,
      // passes both the trade (t + 1 s) and the quote's last possible
      // match (t + 10 s)
      val rows = stateRowsPerBatch(q, b => input.addData(
        (0 until KeysPerBatch).flatMap { i =>
          val instr = s"I${key(b, i)}"
          val t = b * BatchSpacingSec
          Seq((false, instr, b * 1000L + i, ts(t)),
              (true, instr, b * 1000L + i, ts(t + 1)))
        }))
      // buffered rows: at most the current batch's trade and quote per key
      assertBounded(rows, live = 2L * KeysPerBatch)
      val matched = spark.table("sb_join")
      assert(matched.count() === Batches * KeysPerBatch)
      assert(matched.where(col("trade_id") =!= col("quote_id")).count() === 0)
    } finally q.stop()
  }
}
