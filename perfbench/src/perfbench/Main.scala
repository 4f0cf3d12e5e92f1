package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import graft.Sessions

/** Benchmark process: runs one workload once and writes its result.
  *
  * {{{
  * perfbench.Main --workload live_1k|replay_day|suite_sf0.1 --seed N
  *   --seconds S --trace 0|1 --out result.json --work DIR
  *   [--ticks N]     replay_day: ticks in the day (default: a full day)
  *   [--data DIR]    suite_sf0.1: the declared-query test tables
  * }}}
  *
  * With `--trace 0` the result carries the end-to-end metrics of an
  * untraced run. With `--trace 1` it runs the workload once untraced and
  * once traced, reports the per-layer metrics of the traced pass, writes
  * the span tree to `spans-<workload>-<seed>.json` in the work directory
  * and prints the tracing overhead.
  */
object Main {
  /** The engine runs on four local cores in every workload. */
  val Cores = "4"
  val SetupTrials = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val work = new File(args("work")).getAbsoluteFile
    work.mkdirs()
    val t0 = System.nanoTime()
    val spark = Sessions.local(Cores)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    println(f"[info] session start ${(System.nanoTime() - t0) / 1e9}%.3f s")

    val result = workload match {
      case "live_1k" =>
        streaming(new Streaming.Live(spark, work, seed, seconds), traced, work)
      case "replay_day" =>
        val n = args.get("ticks").map(_.toInt).getOrElse(Ticks.DayTicks)
        streaming(new Streaming.Replay(spark, work, seed, n), traced, work)
      case "suite_sf0.1" =>
        Suite.run(spark, args("data"), traced, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.writeString(Paths.get(args("out")), result)
    spark.stop()
  }

  private def fmt(m: Map[String, Double]): String =
    Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })

  def resultJson(attempted: Long, failed: Long, metrics: Map[String, Double],
                 info: Map[String, Double]): String =
    Json.obj(Seq("correct" -> (failed == 0 && attempted > 0).toString,
                 "attempted" -> attempted.toString, "failed" -> failed.toString,
                 "metrics" -> fmt(metrics), "info" -> fmt(info))) + "\n"

  private val started = System.nanoTime()
  private def phase(name: String): Unit =
    println(f"[phase] $name done at ${(System.nanoTime() - started) / 1e9}%.1f s")

  private def streaming(w: Streaming.Workload, traced: Boolean, work: File): String = {
    phase("input generation")
    println(s"[info] ${w.name}: ${w.ticks.size} ticks, ${w.ticks.lateCount} planted late")
    // The watermark hold is a fixed term of the query's meaning, reported
    // beside the latency metrics rather than inside them.
    println("[info] watermark hold: 60 s window + 300 s watermark = 360 s before a candle is emitted")
    val (setup, trials) = w.setupSeconds(SetupTrials)
    println(s"[info] set-up trials (s): ${trials.map(t => f"$t%.3f").mkString(" ")}")
    phase("set-up trials")
    w.warmUp()
    phase("warm-up pass")
    if (!traced) {
      val p = w.pass(traced = false, checked = true)
      phase("measured pass and checks")
      report(p.info)
      val failedFrac = if (p.attempted > 0) p.failed.toDouble / p.attempted else 1.0
      resultJson(p.attempted, p.failed, p.e2e + ("setup_s" -> setup),
                 p.info + ("failed_frac" -> failedFrac))
    } else {
      // The traced pass runs first, so the untraced pass after it runs in
      // a warmer JVM: the overhead printed here is an upper bound.
      val p = w.pass(traced = true, checked = true)
      val plain = w.pass(traced = false, checked = false)
      for (k <- Seq("tick_latency_p50_ms", "tick_latency_p99_ms"))
        println(f"[trace] overhead $k: untraced ${plain.e2e(k)}%.1f, traced ${p.e2e(k)}%.1f " +
                f"(${(p.e2e(k) / plain.e2e(k) - 1) * 100}%+.1f%%)")
      val spansFile = new File(work, s"spans-${w.name}-${w.seed}.json")
      Files.writeString(spansFile.toPath, Tracer.toJson(p.spans))
      println(s"[trace] ${p.spans.size} spans written to $spansFile")
      val layers = p.layer ++ w.batchLayers()
      report(p.info)
      resultJson(p.attempted, p.failed, layers,
                 p.info ++ Map("overhead.tick_latency_p50_ms" -> (p.e2e("tick_latency_p50_ms") -
                                 plain.e2e("tick_latency_p50_ms"))))
    }
  }

  private def report(info: Map[String, Double]): Unit =
    for ((k, v) <- info.toSeq.sortBy(_._1)) println(f"[info] $k = $v%.4f")
}
