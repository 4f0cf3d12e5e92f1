package perfbench

import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One span of the traced run: workload → query or micro-batch → job →
  * stage. Spans of one streaming query share `queryId`. */
final case class Span(id: String, name: String, kind: String, parent: String,
                      queryId: String, startMs: Double, endMs: Double,
                      counts: Map[String, Double]) {
  def durMs: Double = endMs - startMs
}

/** The benchmark's own tracer: a SparkListener for jobs and stages and a
  * StreamingQueryListener for micro-batches. Installed only for the traced
  * pass; events are kept in memory and turned into spans when it ends.
  *
  * A job belongs to the micro-batch its `sql.streaming.queryId` /
  * `streaming.sql.batchId` properties name. Jobs without them (batch
  * queries) belong to the query whose wall-clock window they start in,
  * which is exact when queries run one at a time. */
final class Tracer(spark: SparkSession) {
  private final case class Job(id: Int, start: Long, var end: Long,
                               stages: Seq[Int], queryId: String, batchId: String)
  private final case class Stage(id: Int, attempt: Int, submit: Long, end: Long,
                                 tasks: Int, shuffleWrite: Long, spill: Long)
  private val jobs = ArrayBuffer.empty[Job]
  private val stages = ArrayBuffer.empty[Stage]
  private val batches = ArrayBuffer.empty[QueryProgressEvent]
  @volatile private var lastEventNs = System.nanoTime()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).orNull
      jobs += Job(e.jobId, e.time, -1L, e.stageIds,
                  prop("sql.streaming.queryId"), prop("streaming.sql.batchId"))
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
      lastEventNs = System.nanoTime()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val s = e.stageInfo
      val m = Option(s.taskMetrics)
      stages += Stage(s.stageId, s.attemptNumber(), s.submissionTime.getOrElse(0L),
        s.completionTime.getOrElse(0L), s.numTasks,
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))
      lastEventNs = System.nanoTime()
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Tracer.this.synchronized { batches += e; lastEventNs = System.nanoTime() }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until the listener buses have been quiet for 500 ms, then
    * detaches both listeners. */
  def uninstall(): Unit = {
    val deadline = System.nanoTime() + 10e9.toLong
    while (System.nanoTime() - lastEventNs < 500e6.toLong && System.nanoTime() < deadline)
      Thread.sleep(100)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  /** Builds the span tree.
    *
    * @param legs      streaming query id → leg name
    * @param queries   batch query spans (name, start ms, end ms), run in turn
    */
  def spans(workload: String, startMs: Double, endMs: Double,
            legs: Map[String, String],
            queries: Seq[(String, Double, Double)] = Nil): Seq[Span] = synchronized {
    val out = ArrayBuffer.empty[Span]
    out += Span("w", workload, "workload", null, null, startMs, endMs, Map.empty)
    for (e <- batches; p = e.progress; leg <- legs.get(p.id.toString)) {
      val s = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => s"$k.ms" -> v.toDouble }.toMap
      val st = p.stateOperators.headOption.map { o =>
        Map("state.rows_total" -> o.numRowsTotal.toDouble,
            "state.memory_bytes" -> o.memoryUsedBytes.toDouble,
            "state.commit.ms" -> o.commitTimeMs.toDouble,
            "state.rows_dropped_by_watermark" -> o.numRowsDroppedByWatermark.toDouble)
      }.getOrElse(Map.empty)
      out += Span(s"${p.id}:${p.batchId}", s"$leg.batch", "micro-batch", "w",
                  p.id.toString, s, s + d.getOrElse("triggerExecution.ms", 0.0),
                  d ++ st + ("input_rows" -> p.numInputRows.toDouble))
    }
    for ((q, i) <- queries.zipWithIndex)
      out += Span(s"q$i", q._1, "query", "w", s"q$i", q._2, q._3, Map.empty)
    val parents = out.filter(s => s.kind == "micro-batch" || s.kind == "query").toSeq
    val stageById = stages.groupBy(_.id)
    val stageOwner = scala.collection.mutable.Map.empty[Int, String]
    for (j <- jobs.sortBy(_.id) if j.end >= 0) {
      val parent = (if (j.queryId != null) parents.find(_.id == s"${j.queryId}:${j.batchId}")
                    else parents.find(p => p.kind == "query" && j.start >= p.startMs && j.start <= p.endMs))
      val own = j.stages.flatMap(stageById.getOrElse(_, Nil))
      out += Span(s"job:${j.id}", s"job ${j.id}", "job", parent.map(_.id).getOrElse("w"),
                  parent.map(_.queryId).orNull, j.start.toDouble, j.end.toDouble,
                  Map("stages" -> own.size.toDouble, "tasks" -> own.map(_.tasks).sum.toDouble))
      for (s <- own if !stageOwner.contains(s.id)) stageOwner(s.id) = s"job:${j.id}"
    }
    for (s <- stages) {
      val owner = stageOwner.getOrElse(s.id, "w")
      out += Span(s"stage:${s.id}.${s.attempt}", s"stage ${s.id}", "stage", owner,
                  out.find(_.id == owner).map(_.queryId).orNull,
                  s.submit.toDouble, s.end.toDouble,
                  Map("tasks" -> s.tasks.toDouble,
                      "shuffle_write_bytes" -> s.shuffleWrite.toDouble,
                      "spill_bytes" -> s.spill.toDouble))
    }
    out.toSeq
  }
}

object Tracer {
  /** Span duration minus the union of its children's intervals (clipped
    * to the span). */
  def selfMs(span: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startMs, span.startMs), math.min(c.endMs, span.endMs)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
    for ((s, e) <- iv) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    span.durMs - covered
  }

  /** Scheduler counts over a span tree. `driver.outside_jobs_s` sums the
    * self time of the query / micro-batch spans. */
  def schedCounts(spans: Seq[Span]): Map[String, Double] = {
    val byParent = spans.groupBy(s => Option(s.parent).getOrElse(""))
    val js = spans.filter(_.kind == "job")
    val ss = spans.filter(_.kind == "stage")
    val owners = spans.filter(s => s.kind == "micro-batch" || s.kind == "query")
    Map(
      "sched.jobs" -> js.size.toDouble,
      "sched.stages" -> ss.size.toDouble,
      "sched.tasks" -> ss.map(_.counts("tasks")).sum,
      "sched.job_busy_s" -> js.map(_.durMs).sum / 1000,
      "driver.outside_jobs_s" ->
        owners.map(o => selfMs(o, byParent.getOrElse(o.id, Nil))).sum / 1000,
      "spill.bytes" -> ss.map(_.counts("spill_bytes")).sum,
      "exchange.shuffle_write_bytes" -> ss.map(_.counts("shuffle_write_bytes")).sum)
  }

  def toJson(spans: Seq[Span]): String = {
    val byParent = spans.groupBy(s => Option(s.parent).getOrElse(""))
    spans.map { s =>
      Json.obj(Seq(
        "id" -> Json.str(s.id), "name" -> Json.str(s.name), "kind" -> Json.str(s.kind),
        "parent" -> Json.strOrNull(s.parent), "query_id" -> Json.strOrNull(s.queryId),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "self_ms" -> Json.num(selfMs(s, byParent.getOrElse(s.id, Nil))),
        "counts" -> Json.obj(s.counts.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
