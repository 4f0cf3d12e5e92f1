package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards — the "ExplainSpec" SURVEY §5 calls
  * for. A silently-unpushed filter or a global sort where a top-k heap
  * should be is invisible to the value-comparing gate but fatal at
  * 100 TB; these tests pin the plan shape itself. */
class PlanSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.sparkPlan.toString // pre-AQE physical plan

  test("scan_pruned pushes the ts range filter into the parquet scan") {
    val plan = planOf(ops.Scalars.scanPruned(spark, sfDir))
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
           s"filter not pushed:\n$plan")
    // narrow projection: only the 3 needed columns reach the reader. The
    // expected types are derived from the file's own schema, not spelled
    // out — the testdata's physical ts type has drifted between rounds
    // (epoch-nanos BIGINT vs timestamp_ntz), and the operator branches on
    // it (Scalars.scanPruned); this pin guards the PRUNING, not the
    // fixture's type choice.
    val fileSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val expected = Seq("event_id", "ts", "value")
      .map(c => s"$c:${fileSchema(c).dataType.catalogString}")
      .mkString("ReadSchema: struct<", ",", ">")
    assert(plan.contains(expected),
           s"scan reads more than [$expected]:\n$plan")
  }

  test("top-k by recency plans as TakeOrderedAndProject, not a global sort") {
    val plan = planOf(ops.Rollups.topkRecent(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  /** The tick parse nodes in `leg`'s optimized plan: (`tick_feeds`
    * count, `from_json` count, the plan). The input is a column, not a
    * local row, which the optimizer would fold the whole leg into. */
  private def tickParses(leg: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import org.apache.spark.sql.functions.col
    val ticks = spark.range(1).select(col("id").cast("string").as("json_str"))
    val plan = leg(ticks).queryExecution.optimizedPlan
    def count(p: PartialFunction[Any, Unit]): Int =
      plan.flatMap(_.expressions.flatMap(_.collect(p))).size
    (count { case _: functions.TickFeeds => }, count { case _: JsonToStructs => }, plan)
  }

  test("the candle leg parses each tick once, with tick_feeds and no from_json") {
    val (tickFeeds, fromJson, plan) = tickParses(stream.CandlePipeline.parseAndClassify(_))
    assert(tickFeeds === 1, plan)
    assert(fromJson === 0, plan)
  }

  test("the tick archive parses each tick once, with tick_feeds and no from_json") {
    val (tickFeeds, fromJson, plan) = tickParses(stream.ArchivalPipeline.tickArchival(_))
    assert(tickFeeds === 1, plan)
    assert(fromJson === 0, plan)
  }

  test("candle aggregation shuffles exactly once (partial + final HashAggregate)") {
    // executedPlan: exchanges are only inserted by EnsureRequirements
    val plan = ops.Candles.candles1m(spark, sfDir)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, s"expected 1 hash exchange:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan) // partial+final
  }

  test("brute-force knn broadcasts the query side, not the corpus") {
    val plan = planOf(ext.Similarity.knnBrute(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
           plan)
  }

  test("star join: dims broadcast, fact-fact shuffle-joined") {
    // At test SF orders fits under autoBroadcastJoinThreshold and Spark
    // (correctly) broadcasts it too; disable auto-broadcast to assert the
    // at-scale plan: only the EXPLICIT broadcast() dims build hash sides,
    // the fact-fact join shuffles.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val plan = planOf(ops.Joins.starRevenue(spark, sfDir))
      assert("BroadcastHashJoin".r.findAllIn(plan).size === 3, plan) // c, n, r
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
             s"fact-fact join must shuffle, not broadcast:\n$plan")
    } finally spark.conf.set(key, old)
  }

  test("high-cardinality rolling window partitions on the composed series key") {
    val df = ops.Windows.rollingStatsHc(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the window's exchange must hash on series_key — hundreds-to-
    // thousands of partitionable series, not event_type's 5
    assert(plan.contains("Exchange hashpartitioning(series_key"),
           s"window not partitioned on the composed key:\n$plan")
    import org.apache.spark.sql.functions.{col, countDistinct}
    // 75 series at the sf0.001 test fixture (5 types × 15 users) — 15×
    // event_type's cardinality; 750 at the sf0.01 gate, 7500 at the
    // sf0.1 bench.
    val nSeries = df.agg(countDistinct(col("series_key"))).collect()(0).getLong(0)
    assert(nSeries >= 50,
           s"fixture must exercise high key cardinality, got $nSeries series")
  }

  test("corpus_clean composes dedup + quality gate behind ONE digest shuffle") {
    val plan = ext.Corpus.corpusClean(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the dedup window is the only hash exchange; the quality stats are
    // per-row expressions above it (the final orderBy adds a range
    // exchange, which is not a hash repartition)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
  }

  test("emb_quantize broadcasts the per-dimension stats, never shuffles the corpus onto them") {
    val plan = planOf(ext.Similarity.embQuantize(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
           s"stats join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not shuffle onto stats:\n$plan")
  }

  test("ivf multi-probe: corpus equi-joins the broadcast probe set, never shuffles") {
    val plan = planOf(ext.Similarity.knnIvfProbe2(spark, sfDir))
    // candidate selection must be a hash join on the cell key with the
    // (≤ 3 cells × queries)-row probe frame broadcast; the corpus side
    // must not sort-merge-shuffle onto it. The only nested-loop allowed
    // is the query×centroid ranking cross join — both sides tiny.
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
           s"corpus must not shuffle onto the probe set:\n$plan")
  }

  test("LSH candidate generation joins within buckets — no cartesian product") {
    val plan = planOf(ext.Dedup.dedupMinhashLsh(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("simhash pairing is ONE banded equi-join — no cartesian, no sig join-backs") {
    val plan = planOf(ext.Dedup.dedupSimhashPairs(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // The signature rides the band rows: the whole query plans exactly
    // one join (the band self-join). A second join node means the
    // verify went back to joining the signature table onto candidate
    // pairs — two extra shuffles of the signature table at scale.
    assert("Join".r.findAllIn(plan).size === 1,
           s"expected exactly 1 join node:\n$plan")
  }

  test("paragraph dedup keeps first via min-AGGREGATE, never a digest window") {
    // boilerplate chunks are the skewed keys at crawl scale: a
    // row_number window by digest funnels the hottest chunk through one
    // task, while partial_min collapses it map-side. The keeper must
    // stay an aggregate (2 aggs: keeper + doc reassembly), no Window.
    val plan = ext.Curation.paragraphDedup(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"digest window reintroduced:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("min("),
           s"keeper min-aggregate missing:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("as-of join is union + ONE key shuffle + running window — no join node at all") {
    val plan = ops.TimeJoins.asofQuoteTrade(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the union-window formulation has zero pair blow-up: no Join node
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    assert(plan.contains("Window"), plan)
    // exactly one hash exchange on the as-of key (the final orderBy adds
    // a range exchange, which is the presentation sort, not the as-of)
    val hashEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(hashEx === 1, s"expected 1 key shuffle:\n$plan")
  }

  test("rollup is ONE Expand + ONE shuffle — not one aggregation job per level") {
    val plan = ops.Grouping.rollupRevenue(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), plan)
    // one hash exchange feeds all 3 grouping sets (the orderBy adds a
    // range exchange — presentation, not aggregation)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx === 1, s"expected 1 hash exchange:\n$plan")
  }

  test("pivot with pinned values: fact shuffle is map-side combined, no domain scan") {
    val df = ops.Grouping.pivotStatus(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // two-phase pivot: (key, pivotcol) agg shuffles the COMBINED partials
    // of the fact table, then pivotfirst re-shuffles only O(groups) rows
    assert("Exchange hashpartitioning\\(l_returnflag[^,]*, l_linestatus".r
             .findAllIn(plan).size === 1, s"no combined fact exchange:\n$plan")
    assert(plan.contains("partial_pivotfirst"), s"pivot not partial-agg'd:\n$plan")
    // pinned values ⇒ the 2 values × 2 aggs are columns at PLAN time —
    // an implicit pivot would need a collect-backed distinct job here
    assert(df.columns.toSet === Set("l_returnflag", "F_n", "F_qty", "O_n", "O_qty"))
  }

  test("salted agg is two-stage: (key, salt) exchange then key exchange") {
    val plan = ops.Grouping.saltedAgg(spark, sfDir)
      .queryExecution.executedPlan.toString
    // groupBy-expression aliases are internal at plan time — the salt
    // column surfaces as _groupingexpression
    assert("Exchange hashpartitioning\\(event_type#\\d+, _groupingexpression".r
             .findAllIn(plan).size === 1, s"no salted exchange:\n$plan")
    assert("Exchange hashpartitioning\\(event_type#\\d+, \\d+\\)".r
             .findAllIn(plan).size === 1, s"no final key exchange:\n$plan")
  }

  test("bucketed fact-fact join inserts NO exchange on either side") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1") // neither fact side broadcasts at scale
      val (l, o) = ops.Bucketing.bucketedFacts(spark, sfDir)
      val plan = l.join(o, org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
             s"bucketed join must read co-located buckets, not shuffle:\n$plan")
      assert("SelectedBucketsCount: 8 out of 8".r.findAllIn(plan).size === 2,
             s"both scans must be bucketed:\n$plan")
    } finally spark.conf.set(key, old)
  }

  test("bucketedFacts memo is per-dir: A then B then A returns A's data") {
    val dirA = sfDir
    val dirB = "/root/testdata/sf0.01"
    def rows(dir: String) = ops.Bucketing.bucketedFacts(spark, dir)._2.count()
    val nA = Tables.orders(spark, dirA).count()
    val nB = Tables.orders(spark, dirB).count()
    assert(nA !== nB) // precondition: the two dirs are distinguishable
    assert(rows(dirA) === nA)
    assert(rows(dirB) === nB)
    assert(rows(dirA) === nA, "memoized A call returned B's table")
  }

  test("correlated scalar subquery decorrelates to aggregate + join") {
    val plan = ops.Joins.aboveAvgOrders(spark, sfDir)
      .queryExecution.executedPlan.toString
    // decorrelation = the subquery became a per-custkey aggregate joined
    // back; a non-decorrelated plan would carry a Subquery/ScalarSubquery
    // node executed per outer row
    assert(!plan.contains("ScalarSubquery"), plan)
    assert(plan.contains("Join"), plan)
    assert("HashAggregate".r.findAllIn(plan).nonEmpty, plan)
  }

  test("sessionize: windows + per-session agg ride ONE user-key shuffle") {
    val plan = ops.Sessionize.sessionize(spark, sfDir)
      .queryExecution.executedPlan.toString
    // lag + running sum + the (user, session) groupBy all execute inside
    // the user_id hash partitioning; only the presentation orderBy adds
    // a range exchange
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx === 1, s"expected 1 hash exchange:\n$plan")
    assert("Window".r.findAllIn(plan).nonEmpty, plan)
  }

  test("hash-sketch signature builders never fold with CodegenFallback HOFs") {
    // Spark's higher-order aggregate() is CodegenFallback: a signature
    // built from per-lane array folds runs its whole hot loop
    // interpreted (measured r13: 1.75 s vs 0.57 s for the 64-bit simhash
    // count pass at sf0.1, zero WholeStageCodegen spans). The kernels
    // must keep the per-token/per-shingle work in the explode →
    // hash-aggregate shape. (transform() for shingle CONSTRUCTION is
    // fine — it runs once per doc, not once per lane per element.)
    for ((name, df) <- Seq[(String, org.apache.spark.sql.DataFrame)](
        "minhash signatures" -> ext.Dedup.minhashSignatures(spark, sfDir),
        "simhash16"          -> ext.Dedup.dedupSimhash(spark, sfDir))) {
      val plan = planOf(df)
      assert(!plan.contains("aggregate(lambdafunction"),
             s"$name folds with an interpreted HOF:\n$plan")
      // HashAggregate for the Long-sum kernels; the string-min minhash
      // lanes legitimately plan as SortAggregate (string agg buffers
      // aren't hash-table mutable) — still whole-stage codegen'd
      assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
             s"$name lost its explode+aggregate shape:\n$plan")
    }
  }

  test("presentation sorts are single-partition local sorts, never sampling range sorts") {
    // A terminal orderBy's range exchange SAMPLES its child to pick
    // bounds — re-executing the entire upstream plan once (measured r13:
    // +0.7 s on dedup_minhash_sig alone; ~20% of the whole suite).
    // Gate-sized results must sort via one single-partition exchange.
    for ((name, df) <- Seq[(String, org.apache.spark.sql.DataFrame)](
        "candles_1m"        -> ops.Candles.candles1m(spark, sfDir),
        "dedup_minhash_sig" -> ext.Dedup.minhashSignatures(spark, sfDir)
          .transform(d => graft.Present.sorted(d, org.apache.spark.sql.functions.col("doc_id"))),
        "text_normalize"    -> ext.Text.normalize(spark, sfDir))) {
      val plan = planOf(df)
      assert(!plan.contains("rangepartitioning"),
             s"$name still range-sorts (sampling pass!):\n$plan")
      assert(plan.contains("SinglePartition") ||
             plan.contains("RoundRobinPartitioning(1)"),
             s"$name lost its single-partition presentation sort:\n$plan")
    }
  }

  test("Present.RangeSortConf flips every presentation sort to a range sort") {
    // The corpus-scale escape hatch: per-doc-output queries (one row per
    // document) must be switchable to a distributed range sort with ONE
    // session conf — the production deployment where repartition(1)
    // would funnel the corpus through a single task.
    spark.conf.set(graft.Present.RangeSortConf, "true")
    try {
      // executedPlan, not sparkPlan: a global Sort's range exchange is
      // inserted by EnsureRequirements, which runs after sparkPlan
      val plan = ext.Text.normalize(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("rangepartitioning"),
             s"RangeSortConf did not plan a distributed range sort:\n$plan")
      assert(!plan.contains("SinglePartition") &&
             !plan.contains("RoundRobinPartitioning(1)"),
             s"RangeSortConf left a single-partition funnel in the plan:\n$plan")
    } finally spark.conf.unset(graft.Present.RangeSortConf)
  }

  test("range join is a bucketed equi-join — never a nested-loop/cartesian") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1") // at 100 TB neither side broadcasts
      val plan = planOf(ops.TimeJoins.rangeJoinFollowers(spark, sfDir))
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"),
             s"range predicate must ride a bucket equi-key:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
             plan)
    } finally spark.conf.set(key, old)
  }

  test("round-17 ops prune the documents scan to the columns they read") {
    // ReadSchema pins (the scan_pruned practice): a 100 TB corpus scan
    // that drags `text` into a query needing only counts — or `source`
    // into one needing only text — pays the full corpus width
    def readSchemas(df: org.apache.spark.sql.DataFrame): Seq[String] =
      "ReadSchema: struct<[^>]*>".r
        .findAllIn(df.queryExecution.executedPlan.toString).toSeq
    CacheScope.scoped(spark) {
      // perplexity needs doc_id + text only — n_chars/source never read
      readSchemas(ext.LangModel.lmPerplexity(spark, sfDir)).foreach { rs =>
        assert(!rs.contains("n_chars") && !rs.contains("source"), rs)
      }
      // the datasheet needs no n_chars (it recomputes width from text)
      readSchemas(ext.Card.corpusCard(spark, sfDir)).foreach { rs =>
        assert(!rs.contains("n_chars"), rs)
      }
      // temperature sampling never reads text at all
      readSchemas(ext.Corpus.langTemperatureSample(spark, sfDir)).foreach { rs =>
        assert(!rs.contains("text"), rs)
      }
    }
  }
}
