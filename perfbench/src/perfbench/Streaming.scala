package perfbench

import java.io.File
import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.HostCal
import graft.stream.{ArchivalPipeline, CandlePipeline, Sinks}

/** The two streaming workloads. Both feed one tick source to the
  * reference's two consumers:
  *  - `candles`: `CandlePipeline.candles` in append mode (5-minute
  *    watermark) into a memory sink standing in for the candle topic;
  *  - `archive`: `ArchivalPipeline.tickArchival` into
  *    `Sinks.partitionedParquetSink` (10 s trigger).
  *
  * `live_1k` offers 1,000 ticks/s on a fixed schedule (open loop) through
  * one in-process source per consumer, and runs both legs side by side,
  * the candle leg on the 1 s trigger of the engine's deployed topology.
  * `replay_day` drains one pre-generated trading day from a file source
  * in fixed 100k-tick candle micro-batches (closed loop); its archive leg
  * replays the same files after the candle leg has caught up, so the
  * candle drain is measured alone.
  *
  * Each run warms up before it measures, because the JVM takes tens of
  * seconds to compile the engine's hot paths and the speed it reaches by
  * then would dominate the run-to-run spread: `replay_day` with an
  * unmeasured pass, `live_1k` with an unmeasured lead-in of the same
  * queries.
  */
object Streaming {
  val LiveRate = 1000
  /** Unmeasured seconds of `live_1k` ticks before the measured ones. */
  val LiveLeadInSeconds = 15
  val ReplayBatch = 100000
  private val DayMs = 86400000L

  /** Epoch-ms clock with sub-ms resolution, anchored to System.nanoTime. */
  private object Clock {
    private val n0 = System.nanoTime()
    private val i0 = Instant.now()
    private val e0 = i0.getEpochSecond * 1000.0 + i0.getNano / 1e6
    def ms(nanos: Long): Double = e0 + (nanos - n0) / 1e6
    def now(): Double = ms(System.nanoTime())
  }

  private def commitMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").toDouble

  private def offset(s: String): Long =
    if (s == null || s == "null") -1L else s.trim.toLong

  final case class Legs(candles: StreamingQuery, archive: Option[StreamingQuery],
                        dir: String, sinkTable: String) {
    def all: Seq[StreamingQuery] = candles +: archive.toSeq
    def stop(): Unit = all.foreach(_.stop())
    def failure: Option[Throwable] = all.flatMap(_.exception).headOption
  }

  sealed trait Mode
  case object WarmUp extends Mode
  case object Measured extends Mode
  /** Measured, then flushed and left complete for the output checks. */
  case object Checked extends Mode

  final case class Pass(e2e: Map[String, Double], layer: Map[String, Double],
                        info: Map[String, Double], attempted: Long, failed: Long,
                        spans: Seq[Span])

  /** A workload: its own source and schedule around the shared legs. */
  abstract class Workload(val spark: SparkSession, val root: File, val seed: Long) {
    def name: String
    def ticks: Ticks
    /** Trigger of the candle leg. */
    def candleTrigger: Trigger
    /** Rows in the warm-up input of a set-up trial. */
    def warmRows: Long
    /** Starts both legs on a set-up trial's warm-up input. */
    def startTrial(tag: String): Legs
    /** Runs the workload's schedule once; returns the legs, end-to-end
      * metrics and informational numbers (both empty for a warm-up). */
    def runPass(tag: String, mode: Mode, traced: Boolean): (Legs, Map[String, Double], Map[String, Double])
    /** Every tick offered in a pass, flush ticks excluded. */
    def offeredTicks: DataFrame
    /** Candle-leg data batches of the pass, flush batches excluded. */
    def candleBatchesOf(legs: Legs): Seq[StreamingQueryProgress]
    /** Archive-leg data batches of the pass. */
    def archiveBatchesOf(legs: Legs): Seq[StreamingQueryProgress] =
      legs.archive.toSeq.flatMap(dataBatches)

    def flushJsons: Seq[String] = Seq(Ticks.flush(Ticks.DayStartMs + DayMs),
                                      Ticks.flush(Ticks.DayStartMs + 2 * DayMs))

    private var tagN = 0
    def nextTag(prefix: String): String = { tagN += 1; s"${prefix}_$tagN" }
    def dirOf(tag: String): String = new File(root, tag).getAbsolutePath

    def startCandles(in: DataFrame, tag: String): StreamingQuery =
      CandlePipeline.candles(in).writeStream
        .format("memory").queryName(tag).outputMode("append")
        .trigger(candleTrigger)
        .option("checkpointLocation", s"${dirOf(tag)}/ckpt-candles").start()

    def startArchive(in: DataFrame, tag: String): StreamingQuery =
      Sinks.partitionedParquetSink(ArchivalPipeline.tickArchival(in), "tick_time",
        s"${dirOf(tag)}/archive", s"${dirOf(tag)}/ckpt-archive").start()

    private def await(q: StreamingQuery, what: String)(done: => Boolean): Unit = {
      val deadline = System.nanoTime() + 120e9.toLong
      while (!done) {
        q.exception.foreach(e => throw e)
        if (System.nanoTime() > deadline)
          throw new java.util.concurrent.TimeoutException(s"${q.name} did not $what")
        Thread.sleep(10)
      }
    }

    /** Waits until `q` has committed `rows` input rows in total. */
    def awaitRows(q: StreamingQuery, rows: Long): Unit =
      await(q, s"commit $rows rows")(q.recentProgress.iterator.map(_.numInputRows).sum >= rows)

    /** Waits until `q` has run its first trigger. */
    def awaitStarted(q: StreamingQuery): Unit = await(q, "start")(q.recentProgress.nonEmpty)

    /** `n` set-ups: start both legs on fresh checkpoints and run them until
      * a small warm-up input is committed. Returns the median of all but
      * the first, which also pays the process's one-off class loading and
      * code generation, and every trial. */
    def setupSeconds(n: Int): (Double, Seq[Double]) = {
      val ts = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        val legs = startTrial(nextTag("setup"))
        legs.all.foreach(awaitRows(_, warmRows))
        val s = (System.nanoTime() - t0) / 1e9
        legs.stop()
        legs.failure.foreach(e => throw new IllegalStateException("set-up query failed", e))
        s
      }
      (Stats.median(ts.drop(1)), ts)
    }

    def warmUp(): Unit = {
      val (legs, _, _) = runPass(nextTag("warmup"), WarmUp, traced = false)
      legs.stop()
      legs.failure.foreach(e => throw new IllegalStateException("warm-up query failed", e))
    }

    def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
      q.recentProgress.toSeq.filter(_.numInputRows > 0)

    /** Per-layer numbers read from the legs' progress reports. */
    def streamLayers(legs: Legs): Map[String, Double] = {
      val batches = candleBatchesOf(legs)
      def phase(k: String) = Stats.median(batches.map(_.durationMs.get(k).toDouble))
      val ops = legs.candles.recentProgress.toSeq.flatMap(_.stateOperators.headOption)
      val arch = archiveBatchesOf(legs)
      val steady = if (batches.size > 2) batches.drop(1) else batches
      val files = walk(new File(legs.dir, "archive")).filter(_.getName.endsWith(".parquet"))
      Map(
        "stream.candles.batch_ms_p50" -> phase("triggerExecution"),
        "stream.candles.addBatch_ms_p50" -> phase("addBatch"),
        "stream.candles.queryPlanning_ms_p50" -> phase("queryPlanning"),
        "stream.candles.walCommit_ms_p50" -> phase("walCommit"),
        "stream.candles.commitOffsets_ms_p50" -> phase("commitOffsets"),
        "stream.candles.ticks_per_s_p50" -> Stats.median(steady.map(p =>
          p.numInputRows * 1000.0 / math.max(1L, p.durationMs.get("triggerExecution")))),
        "state.candles.commit_ms_p50" ->
          Stats.median(batches.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble)),
        "state.candles.rows_total" -> ops.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
        "state.candles.memory_bytes" -> ops.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
        "state.candles.rows_dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark.toDouble).sum,
        "stream.archive.batch_ms_p50" ->
          Stats.median(arch.map(_.durationMs.get("triggerExecution").toDouble)),
        "sink.archive.files_written" -> files.size.toDouble,
        "sink.archive.bytes_written" -> files.map(_.length.toDouble).sum)
    }

    /** Candle output checks, outside the timed region. Returns
      * (attempted, failed). */
    def checkCandles(legs: Legs): (Long, Long) = {
      import spark.implicits._
      // the stream's output equals the batch operator over exactly the
      // admitted ticks (every tick but the planted late ones)
      val admitted = offeredTicks.withColumn("ltt", lttOf(col("json_str")))
        .join(broadcast(ticks.lateLtts.toSeq.toDF("ltt")), Seq("ltt"), "left_anti")
        .select("json_str")
      val expected = CandlePipeline.candles(admitted).cache()
      val emitted = spark.table(legs.sinkTable)
        .filter(col("instrument") =!= Ticks.FlushInstrument).cache()
      val nCandles = expected.count()
      val candleBad = expected.exceptAll(emitted).count() + emitted.exceptAll(expected).count()
      // late ticks: the engine drops exactly the planted ones
      val dropped = legs.candles.recentProgress.toSeq
        .flatMap(_.stateOperators.headOption).map(_.numRowsDroppedByWatermark).sum
      val planted = ticks.lateCount.toLong
      println(s"[check] candles: $nCandles expected, ${emitted.count()} emitted, $candleBad mismatched rows")
      println(s"[check] watermark drops: $dropped dropped, $planted planted")
      expected.unpersist(); emitted.unpersist()
      (nCandles + 1, candleBad + (if (dropped == planted) 0 else 1) + (if (nCandles == 0) 1 else 0))
    }

    /** Archive output check: every offered tick once, with its
      * second-truncated time. Returns (attempted, failed). */
    def checkArchive(legs: Legs): (Long, Long) = {
      import spark.implicits._
      def counted(df: DataFrame, c: String) =
        df.select(xxhash64(col("json_str")).as("h"), col("tick_time"))
          .groupBy("h", "tick_time").agg(count(lit(1)).as(c))
      val exp = counted(offeredTicks.unionByName(flushJsons.toDF("json_str"))
        .withColumn("tick_time", timestamp_seconds(floor(lttOf(col("json_str")) / 1000))), "n_exp")
      val got = counted(spark.read.parquet(s"${legs.dir}/archive"), "n_got")
      val (nArch, archBad) = exp.join(got, Seq("h", "tick_time"), "full_outer")
        .select(sum(coalesce(col("n_exp"), lit(0L))),
                sum(abs(coalesce(col("n_exp"), lit(0L)) - coalesce(col("n_got"), lit(0L)))))
        .as[(Long, Long)].head()
      println(s"[check] archive: $nArch expected ticks, $archBad missing, duplicated or wrong tick_time")
      (nArch, archBad)
    }

    /** One measured pass: run, optionally trace, optionally check. */
    def pass(traced: Boolean, checked: Boolean): Pass = {
      val tracer = if (traced) Some(new Tracer(spark)) else None
      tracer.foreach(_.install())
      val tag = nextTag(if (traced) "traced" else "pass")
      val s0 = HostCal.stealTicks()
      val w0 = Clock.now()
      val (legs, e2e, info) = runPass(tag, if (checked) Checked else Measured, traced)
      val w1 = Clock.now()
      val steal = HostCal.stealFrac(s0, HostCal.stealTicks(), (w1 - w0) / 1000)
      // the tracer stops before the checks, which run their own jobs
      val spans = tracer.map { t =>
        t.uninstall()
        t.spans(name, w0, w1, ((legs.candles.id.toString -> "candles") +:
          legs.archive.map(_.id.toString -> "archive").toSeq).toMap)
      }.getOrElse(Nil)
      println(f"[phase] pass ${tag}: ${(Clock.now() - w0) / 1000}%.1f s")
      def dead = legs.failure
      // the candle check overlaps the archive leg's wait for its trigger
      val candleCheck = if (checked && dead.isEmpty) checkCandles(legs) else (0L, 0L)
      if (checked && dead.isEmpty)
        legs.archive.foreach(awaitRows(_, ticks.size + flushJsons.size))
      legs.stop()
      dead.foreach(e => println(s"[error] streaming query failed: $e"))
      val archiveCheck =
        if (checked && dead.isEmpty && legs.archive.isDefined) checkArchive(legs) else (0L, 0L)
      val (attempted, failed) =
        if (dead.isDefined) (1L, 1L)
        else (candleCheck._1 + archiveCheck._1, candleCheck._2 + archiveCheck._2)
      val layer = if (traced) streamLayers(legs) ++ Tracer.schedCounts(spans) +
          ("source.backlog_ticks_max" -> info("source.backlog_ticks_max"))
        else Map.empty[String, Double]
      Pass(e2e, layer, info + ("steal_frac" -> steal), attempted, failed, spans)
    }

    /** `layer.*`: one batch call of each public function over the
      * workload's offered ticks, into the noop sink. */
    def batchLayers(): Map[String, Double] = {
      def time(df: => DataFrame): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val in = offeredTicks
      Map("layer.parse_classify_s" -> time(CandlePipeline.parseAndClassify(in)),
          "layer.candles_s" -> time(CandlePipeline.candles(in)),
          "layer.tick_archival_s" -> time(ArchivalPipeline.tickArchival(in)))
    }
  }

  private def lttOf(json: org.apache.spark.sql.Column) =
    regexp_extract(json, "\"ltt\":\"(-?[0-9]+)\"", 1).cast("long")

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)

  private def latencyPercentiles(lat: Array[Double]): Map[String, Double] = {
    java.util.Arrays.sort(lat)
    Map("tick_latency_p50_ms" -> Stats.quantileSorted(lat, 0.5),
        "tick_latency_p99_ms" -> Stats.quantileSorted(lat, 0.99))
  }

  /** `live_1k`: 1,000 ticks/s, one tick per ms: a lead-in, then `seconds`
    * measured seconds. A tick's latency runs from its scheduled creation
    * time to the commit of the candle micro-batch that folded it into
    * state. */
  final class Live(spark: SparkSession, root: File, seed: Long, seconds: Int)
      extends Workload(spark, root, seed) {
    val name = "live_1k"
    // the candle processor's trigger in the engine's deployed topology
    // (`graft.stream.KafkaDemo`)
    val candleTrigger: Trigger = Trigger.ProcessingTime("1 second")
    // The lead-in is the warm-up: the same queries run it unmeasured, so
    // JIT compilation and the slower first batches of a fresh query are
    // behind them when the measured seconds start.
    private val leadIn = LiveLeadInSeconds * LiveRate
    // late ticks only after the lead-in, by which many batches have
    // committed; slot 0 sits 50 s into a minute, so a run spans at least
    // two windows
    val ticks: Ticks = Ticks.generate(seed, leadIn + seconds * LiveRate, 1, 2000, 0, leadIn,
                                      Ticks.DayStartMs + 50000L)
    private val jsons: Array[String] = Array.tabulate(ticks.size)(ticks.json)
    private val warm: Array[String] = {
      val w = Ticks.generate(seed ^ 0x5eedL, 1000, 1, 200, 0, Int.MaxValue, Ticks.DayStartMs)
      Array.tabulate(w.size)(w.json)
    }
    val warmRows: Long = warm.length

    private def source(): MemoryStream[String] = MemoryStream[String](spark, 4)(Encoders.STRING)
    private def asTicks(m: MemoryStream[String]) = m.toDF().select(col("value").as("json_str"))

    def offeredTicks: DataFrame = {
      import spark.implicits._
      jsons.toSeq.toDF("json_str")
    }

    def candleBatchesOf(legs: Legs): Seq[StreamingQueryProgress] =
      dataBatches(legs.candles).filter(p => offset(p.sources(0).endOffset) < ticks.size)

    override def archiveBatchesOf(legs: Legs): Seq[StreamingQueryProgress] =
      legs.archive.toSeq.flatMap(dataBatches).filter(p => offset(p.sources(0).endOffset) < ticks.size)

    def startTrial(tag: String): Legs = {
      val (c, a) = (source(), source())
      c.addData(warm.toIndexedSeq: _*); a.addData(warm.toIndexedSeq: _*)
      Legs(startCandles(asTicks(c), tag), Some(startArchive(asTicks(a), tag)), dirOf(tag), tag)
    }

    /** The lead-in warms the measured queries themselves. */
    override def warmUp(): Unit = ()

    def runPass(tag: String, mode: Mode, traced: Boolean) = {
      val (cs, as) = (source(), source())
      val legs = Legs(startCandles(asTicks(cs), tag), Some(startArchive(asTicks(as), tag)),
                      dirOf(tag), tag)
      legs.all.foreach(awaitStarted)
      val n = ticks.size
      val lateness = new Array[Double](n)
      val start = System.nanoTime() + 100000000L
      val startMs = Clock.ms(start)
      val gen = new Thread(() => {
        var i = 0
        while (i < n) {
          val due = start + i * 1000000L
          // park, never spin: the generator must not take a core from
          // the engine's four
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          lateness(i) = (now - due) / 1e6
          cs.addData(jsons(i)); as.addData(jsons(i))
          i += 1
        }
      }, "perfbench-generator")
      gen.start(); gen.join()
      // the archive takes its flush ticks at once, so its next trigger
      // completes it while the candle leg drains and is checked
      if (mode == Checked) flushJsons.foreach(as.addData(_))
      awaitRows(legs.candles, n)
      val rssMb = Stats.peakRssMb()
      // tick i sits in the batch whose offsets (s, e] hold i
      val lat = new Array[Double](n - leadIn)
      var backlog = 0.0
      var lastCommit = 0.0
      for (p <- candleBatchesOf(legs)) {
        val s = offset(p.sources(0).startOffset); val e = offset(p.sources(0).endOffset)
        val c = commitMs(p)
        lastCommit = math.max(lastCommit, c)
        for (i <- math.max(s + 1, leadIn) to e) lat((i - leadIn).toInt) = c - (startMs + i)
        val offered = math.min(n.toDouble, math.floor(c - startMs) + 1)
        backlog = math.max(backlog, offered - (s + 1))
      }
      if (mode == Checked) { cs.addData(flushJsons: _*); legs.candles.processAllAvailable() }
      java.util.Arrays.sort(lateness)
      val info = Map("source.backlog_ticks_max" -> backlog,
                     "source.gen_late_ms_p99" -> Stats.quantileSorted(lateness, 0.99),
                     "drain_s" -> (lastCommit - startMs) / 1000,
                     "ticks" -> n.toDouble)
      (legs, latencyPercentiles(lat) + ("peak_rss_mb" -> rssMb), info)
    }
  }

  /** `replay_day`: one trading day (09:15–15:30 at 50 msg/s) replayed from
    * a file source in fixed 100k-tick candle micro-batches. Every tick is
    * backlog when the query starts, so its latency runs from the query
    * start to the commit of its batch; p99 is the catch-up time. */
  final class Replay(spark: SparkSession, root: File, seed: Long, dayTicks: Int)
      extends Workload(spark, root, seed) {
    val name = "replay_day"
    // back to back, as the processor drains a backlog
    val candleTrigger: Trigger = Trigger.ProcessingTime(0L)
    // 20 ms between slots = 50 msg/s; out-of-order ticks up to 120 s late
    val ticks: Ticks = Ticks.generate(seed, dayTicks, 20, 6000, ReplayBatch, ReplayBatch,
                                      Ticks.DayStartMs)
    val warmRows: Long = 2000
    private val dayDir = new File(root, "day")
    private val trialDir = new File(root, "trial")
    private val warmUpDir = new File(root, "warmup")
    private var mtime = System.currentTimeMillis() - 3600000L
    private def stamp(f: File): Unit = { f.setLastModified(mtime); mtime += 1000 }

    val genSeconds: Double = {
      val t0 = System.nanoTime()
      Seq(dayDir, trialDir, warmUpDir).foreach(_.mkdirs())
      val files = (0 until (ticks.size + ReplayBatch - 1) / ReplayBatch).map { b =>
        val f = new File(dayDir, f"ticks-$b%03d.json")
        (f, new Thread(() =>
          ticks.writeLines(f, b * ReplayBatch, math.min(ticks.size, (b + 1) * ReplayBatch))))
      }
      files.grouped(Main.Cores.toInt).foreach { g =>
        g.foreach(_._2.start()); g.foreach(_._2.join())
      }
      files.foreach(f => stamp(f._1))
      val w = Ticks.generate(seed ^ 0x5eedL, warmRows.toInt, 20, 100, 0, Int.MaxValue,
                             Ticks.DayStartMs)
      w.writeLines(new File(trialDir, "warm.json"), 0, w.size)
      // the warm-up pass replays the day's first batch
      Files.createLink(new File(warmUpDir, "ticks-000.json").toPath,
                       new File(dayDir, "ticks-000.json").toPath)
      (System.nanoTime() - t0) / 1e9
    }
    private val dayFiles = dayDir.listFiles.map(_.getAbsolutePath).sorted

    def offeredTicks: DataFrame =
      spark.read.text(dayFiles.toIndexedSeq: _*).select(col("value").as("json_str"))

    def candleBatchesOf(legs: Legs): Seq[StreamingQueryProgress] =
      dataBatches(legs.candles).take(dayFiles.length)

    private def stream(dir: File, capped: Boolean): DataFrame = {
      val r = spark.readStream
      (if (capped) r.option("maxFilesPerTrigger", 1) else r)
        .text(dir.getAbsolutePath).select(col("value").as("json_str"))
    }

    def startTrial(tag: String): Legs =
      Legs(startCandles(stream(trialDir, capped = true), tag),
           Some(startArchive(stream(trialDir, capped = false), tag)), dirOf(tag), tag)

    def runPass(tag: String, mode: Mode, traced: Boolean) = {
      if (mode == WarmUp) {
        val legs = Legs(startCandles(stream(warmUpDir, capped = true), tag), None, dirOf(tag), tag)
        legs.candles.processAllAvailable()
        (legs, Map.empty[String, Double], Map.empty[String, Double])
      } else {
        val startMs = Clock.now()
        val candles = startCandles(stream(dayDir, capped = true), tag)
        candles.processAllAvailable()
        val rssMb = Stats.peakRssMb()
        val batches = candleBatchesOf(Legs(candles, None, dirOf(tag), tag))
        val lat = batches.flatMap(p => Iterator.fill(p.numInputRows.toInt)(commitMs(p) - startMs))
        val catchup = batches.map(commitMs).max - startMs
        if (mode == Checked)
          for ((f, i) <- flushJsons.zipWithIndex) {
            val file = new File(dayDir, s"flush-$i.json")
            Files.writeString(file.toPath, f + "\n")
            stamp(file)
            candles.processAllAvailable()
          }
        // the archive leg replays the day only in traced runs, which
        // report its layers and check its output
        val archive = if (mode == Checked && traced) {
          val a = startArchive(stream(dayDir, capped = false), tag)
          awaitRows(a, ticks.size + flushJsons.size)
          Some(a)
        } else None
        val info = Map("source.backlog_ticks_max" -> ticks.size.toDouble,
                       "drain_s" -> catchup / 1000,
                       "ticks" -> ticks.size.toDouble,
                       "gen_s" -> genSeconds)
        (Legs(candles, archive, dirOf(tag), tag),
         latencyPercentiles(lat.toArray) + ("peak_rss_mb" -> rssMb), info)
      }
    }
  }
}
