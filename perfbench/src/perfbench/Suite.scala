package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{HostCal, Sessions, SparkEntry, Tables}

/** `suite_sf0.1`: one cold pass over every `SparkEntry.queries` entry,
  * one client, queries in name order, outputs to the noop sink, after the
  * table scans are warmed (as `graft.Bench` does).
  *
  * It needs the declared-query test tables (`--data`, see TESTDATA.md), which the benchmark does not
  * generate, so it is run by hand rather than listed in BENCHMARK.json.
  * The oracle comparison runs after the pass, outside the timed region
  * (see run.py).
  */
object Suite {
  /** The 51 `SparkEntry` modules, in its order. */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "ops.Candles" -> graft.ops.Candles.queries,
    "ops.Parse" -> graft.ops.Parse.queries,
    "ops.Maps" -> graft.ops.Maps.queries,
    "ops.Arrays" -> graft.ops.Arrays.queries,
    "ops.OrderFlow" -> graft.ops.OrderFlow.queries,
    "ops.Scalars" -> graft.ops.Scalars.queries,
    "ops.Rollups" -> graft.ops.Rollups.queries,
    "ops.Export" -> graft.ops.Export.queries,
    "ops.Joins" -> graft.ops.Joins.queries,
    "ops.TimeJoins" -> graft.ops.TimeJoins.queries,
    "ops.Grouping" -> graft.ops.Grouping.queries,
    "ops.Bucketing" -> graft.ops.Bucketing.queries,
    "ops.BloomJoin" -> graft.ops.BloomJoin.queries,
    "ops.Quality" -> graft.ops.Quality.queries,
    "ops.Stats" -> graft.ops.Stats.queries,
    "ops.SetOps" -> graft.ops.SetOps.queries,
    "ops.Sessionize" -> graft.ops.Sessionize.queries,
    "ops.Cdc" -> graft.ops.Cdc.queries,
    "ops.Layout" -> graft.ops.Layout.queries,
    "ops.ZOrder" -> graft.ops.ZOrder.queries,
    "ops.TypedAgg" -> graft.ops.TypedAgg.queries,
    "ops.Windows" -> graft.ops.Windows.queries,
    "ops.Incremental" -> graft.ops.Incremental.queries,
    "ext.Text" -> graft.ext.Text.queries,
    "ext.LangModel" -> graft.ext.LangModel.queries,
    "ext.Funnel" -> graft.ext.Funnel.queries,
    "ext.Bpe" -> graft.ext.Bpe.queries,
    "ext.Unigram" -> graft.ext.Unigram.queries,
    "ext.Card" -> graft.ext.Card.queries,
    "ext.KMeans" -> graft.ext.KMeans.queries,
    "ext.Pq" -> graft.ext.Pq.queries,
    "ext.IvfPq" -> graft.ext.IvfPq.queries,
    "ext.Opq" -> graft.ext.Opq.queries,
    "ext.Corpus" -> graft.ext.Corpus.queries,
    "ext.Dedup" -> graft.ext.Dedup.queries,
    "ext.DedupHistory" -> graft.ext.DedupHistory.queries,
    "ext.EmbHistory" -> graft.ext.EmbHistory.queries,
    "ext.Cluster" -> graft.ext.Cluster.queries,
    "ext.Similarity" -> graft.ext.Similarity.queries,
    "ext.SemDedup" -> graft.ext.SemDedup.queries,
    "ext.Scoring" -> graft.ext.Scoring.queries,
    "ext.Classifier" -> graft.ext.Classifier.queries,
    "ext.Sketch" -> graft.ext.Sketch.queries,
    "ext.Multimodal" -> graft.ext.Multimodal.queries,
    "ext.Privacy" -> graft.ext.Privacy.queries,
    "ext.Decontam" -> graft.ext.Decontam.queries,
    "ext.Relevance" -> graft.ext.Relevance.queries,
    "ext.FuzzyJoin" -> graft.ext.FuzzyJoin.queries,
    "ext.Curation" -> graft.ext.Curation.queries,
    "ext.Urls" -> graft.ext.Urls.queries,
    "ext.Graph" -> graft.ext.Graph.queries)

  private val tables = Seq("events", "lineitem", "orders", "customer", "supplier",
                           "part", "nation", "region", "documents", "embeddings")

  def run(spark: SparkSession, dir: String, traced: Boolean, work: java.io.File,
          seed: Long): String = {
    val declared = modules.flatMap(_._2.keys)
    require(declared.toSet == SparkEntry.queries.keySet && declared.size == declared.toSet.size,
            "perfbench.Suite.modules is out of step with SparkEntry")
    Sessions.quietBenchLogs()
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val setups = (1 to Main.SetupTrials).map(_ => time(
      tables.foreach(t => Tables.load(spark, dir, t).write.format("noop").mode("overwrite").save())))
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val moduleOf = modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
    val s0 = HostCal.stealTicks()
    val wall0 = System.currentTimeMillis().toDouble
    val runs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val start = System.currentTimeMillis().toDouble
      val ok = try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable => println(s"[error] $name failed: $e"); false }
      (name, start, System.currentTimeMillis().toDouble, ok)
    }
    val wall1 = System.currentTimeMillis().toDouble
    val rss = Stats.peakRssMb()
    val steal = HostCal.stealFrac(s0, HostCal.stealTicks(), (wall1 - wall0) / 1000)
    val secs = runs.map(r => (r._3 - r._2) / 1000)
    val failed = runs.count(!_._4).toLong
    val spans = tracer.map { t =>
      t.uninstall()
      t.spans("suite_sf0.1", wall0, wall1, Map.empty, runs.map(r => (r._1, r._2, r._3)))
    }.getOrElse(Nil)
    val metrics: Map[String, Double] =
      if (!traced) Map(
        "setup_s" -> Stats.median(setups), "peak_rss_mb" -> rss,
        "suite_s" -> (wall1 - wall0) / 1000,
        "query_p50_s" -> Stats.quantile(secs, 0.5),
        // the highest percentile with at least 10 of the samples beyond it
        "query_p90_s" -> Stats.quantile(secs, 1.0 - 10.0 / secs.size),
        "failed_frac" -> failed.toDouble / runs.size)
      else {
        val byQuery = spans.filter(_.kind == "query").map(s => s.id -> s.name).toMap
        val jobsOf = spans.filter(_.kind == "job").groupBy(j => byQuery.get(j.parent).map(moduleOf))
        val wallOf = runs.groupBy(r => moduleOf(r._1)).map { case (m, rs) =>
          m -> rs.map(r => (r._3 - r._2) / 1000).sum }
        modules.flatMap { case (m, _) =>
          Seq(s"module.$m.wall_s" -> wallOf.getOrElse(m, 0.0),
              s"module.$m.jobs" -> jobsOf.get(Some(m)).map(_.size.toDouble).getOrElse(0.0))
        }.toMap ++ Tracer.schedCounts(spans)
      }
    tracer.foreach { _ =>
      val f = new java.io.File(work, s"spans-suite_sf0.1-$seed.json")
      java.nio.file.Files.writeString(f.toPath, Tracer.toJson(spans))
      println(s"[trace] ${spans.size} spans written to $f")
    }
    Main.resultJson(runs.size.toLong, failed, metrics,
                    Map("steal_frac" -> steal, "queries" -> runs.size.toDouble))
  }
}
