package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.Present.PresentOps

/** The curation FUNNEL report — the whole cleaning pipeline's
  * survivor accounting in one plan: how many documents (and tokens)
  * remain after each stage of ingest → URL curation → exact dedup
  * → near-dup clustering → quality rules → eval decontamination → perplexity
  * bucket keep (head+middle; unscorable docs drop — the CCNet rule)
  * → classifier band keep (keep+review). This is the dashboard number
  * every corpus run publishes ("we went from 1.2 T tokens to 310 B"),
  * and it exercises the engine's composability: seven operator
  * families' cores ([[Urls]], [[Dedup]]/[[Cluster]], [[Text]],
  * [[Decontam]], [[LangModel]], [[Scoring]]) feed one aggregation without
  * materializing intermediate corpora.
  *
  * Stage predicates are CORPUS-GLOBAL flags (keeper-by-digest,
  * cluster representative, Gopher pass, contamination), applied
  * CUMULATIVELY as intersections — the real-pipeline shape: flags are
  * materialized once per corpus snapshot and the funnel is their
  * running conjunction. Stage-RESTRICTED recomputation (re-clustering
  * only exact-dedup survivors, etc.) would couple every stage's
  * definition to every upstream decision; on keeper-style rules the
  * two agree anyway (dropping a non-keeper doc never changes another
  * doc's keeper/pass status, and a cluster's min-id member survives
  * exact dedup by construction — it IS a digest keeper or shares its
  * cluster with one).
  *
  * Scale shape: every flag is doc_id-keyed, so the compose is a chain
  * of equi-joins on ONE key — co-located after the first exchange
  * (AQE picks broadcast for the flag sides when they shrink, e.g. the
  * O(contaminated) frame). The per-stage aggregates ride a single
  * scan as conditional aggregates (the [[graft.ops.Quality]] dq_checks
  * pattern — never one job per stage), reshaped 1 row → 5 via `stack`
  * (a per-row Expand, no shuffle). Output is integer-only.
  */
object Funnel {

  /** The joined flag frame + the cumulative stage predicates —
    * shared by the corpus-global and per-language funnels (one
    * definition, two aggregation scopes). */
  private def flaggedDocs(spark: SparkSession,
                          dir: String): (DataFrame, Seq[Column]) = {
    // Flag pipelines read this projection; pinning it was MEASURED
    // SLOWER (r17: 4.7 → 5.5 s at sf0.1; RE-measured r21 after the flag
    // count grew to seven: 4.9 → 5.7/5.9 s — still slower: the
    // cache-materialization job costs more than the parquet rescans it
    // saves, because the scan is column-pruned and the per-pipeline
    // work, not the scan, dominates each flag). At a corpus scale where
    // the scan dominates, wrap the call in CacheScope.pin at the call
    // site instead.
    //
    // PER-ROW stages ride the spine as COLUMNS, not joins (r22, guide
    // §2.4): the URL verdict, the Gopher pass, and the classifier band
    // are pure per-row expressions of (doc_id, source, text) — the
    // previous shape computed each over a second scan of the same table
    // and joined it back on doc_id, three provably-1:1 self-joins.
    // Inlining them drops three joins (and their exchanges/sorts) from
    // the spine; only the genuinely AGGREGATED stages (digest keeper,
    // cluster rep, contamination, perplexity bucket) remain joins.
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val docs = Scoring.scoredKeeping(Text.gopherFlags(base))
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("wc"),
        md5(col("text")).as("digest"),
        Urls.keptExpr.as("url_kept"), col("pass"), col("band"))
    // exact-dedup keeper: min-AGGREGATE per digest (the paragraphDedup
    // rationale — partial agg collapses hot digests map-side; never a
    // digest window)
    val exactKeep = base
      .select(md5(col("text")).as("digest"), col("doc_id"))
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("keeper"))
    // ONE corpus tokenize+shingle pass feeds BOTH the near-dup pair
    // graph and the contamination probe (guide §2.3) — previously
    // Decontam re-derived the identical shingles from the texts.
    val sh = Dedup.pinnedShingles(spark, dir)
    // near-dup cluster representative (min reachable id — the
    // dedupClusters keep rule)
    val lbl = Cluster.connectedComponents(
      base.select(col("doc_id").as("id")),
      Dedup.lshPairsFrom(sh)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .select(col("id").as("doc_id"), col("label"))
    val cont = Decontam.contaminationFromShingles(
        sh.select(col("doc_id"), explode(col("ss")).as("shingle")))
      .select(col("doc_id"), col("contaminated"))
    // CCNet keep rule: head+middle survive, tail (and unscorable
    // sub-bigram docs, absent from the scored frame) drop
    val ppl = LangModel.bucketsOf(base.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("bucket"))
    val s2 = col("url_kept")
    val s3 = s2 && col("doc_id") === col("keeper")
    val s4 = s3 && col("doc_id") === col("label")
    val s5 = s4 && col("pass") === 1
    val s6 = s5 && coalesce(col("contaminated"), lit(0)) === 0
    val s7 = s6 && col("bucket").isNotNull && col("bucket") =!= "tail"
    val s8 = s7 && col("band") =!= "drop"
    (docs
      .join(exactKeep, "digest")
      .join(lbl, "doc_id")
      .join(cont, Seq("doc_id"), "left")
      .join(ppl, Seq("doc_id"), "left"),
     Seq(s2, s3, s4, s5, s6, s7, s8))
  }

  private def stageAggs(stages: Seq[Column]): Seq[Column] = {
    def d(c: Column) = sum(when(c, 1L).otherwise(0L))
    def t(c: Column) = sum(when(c, col("wc")).otherwise(0L))
    (count(lit(1)).as("d1") +: sum(col("wc")).as("t1") +:
      stages.zipWithIndex.flatMap { case (s, i) =>
        Seq(d(s).as(s"d${i + 2}"), t(s).as(s"t${i + 2}"))
      })
  }

  private val StackSql =
    """stack(8,
      |  CAST(1 AS BIGINT), 'ingest',      d1, t1,
      |  CAST(2 AS BIGINT), 'url_filter',  d2, t2,
      |  CAST(3 AS BIGINT), 'exact_dedup', d3, t3,
      |  CAST(4 AS BIGINT), 'near_dedup',  d4, t4,
      |  CAST(5 AS BIGINT), 'quality',     d5, t5,
      |  CAST(6 AS BIGINT), 'decontam',    d6, t6,
      |  CAST(7 AS BIGINT), 'perplexity',  d7, t7,
      |  CAST(8 AS BIGINT), 'classifier',  d8, t8
      |) AS (stage, stage_name, n_docs, n_tokens)""".stripMargin

  def corpusFunnel(spark: SparkSession, dir: String): DataFrame = {
    val (flagged, stages) = flaggedDocs(spark, dir)
    val aggs = stageAggs(stages)
    flagged
      .agg(aggs.head, aggs.tail: _*)
      .select(expr(StackSql))
      .presentSorted(col("stage"))
  }

  /** Per-LANGUAGE funnel — the survivor accounting that feeds
    * multilingual sampling decisions: [[Corpus.langTemperatureSample]]
    * resamples on per-language MASS, and the mass that actually
    * enters training is each language's stage-7 output, not its
    * ingest count (a language whose documents die at the quality or
    * perplexity stage contributes far less than its crawl share
    * suggests — exactly what this report shows). Same flag frame and
    * predicates as [[corpusFunnel]] (one definition, shared via
    * [[flaggedDocs]]); the only plan change is the aggregate key:
    * groupBy(lang) with the identical conditional aggregates — still
    * ONE scan, map-side partials, O(languages × 7) output rows. */
  def corpusFunnelByLang(spark: SparkSession, dir: String): DataFrame = {
    val (flagged, stages) = flaggedDocs(spark, dir)
    val aggs = stageAggs(stages)
    flagged
      .groupBy(col("lang"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("lang"), expr(StackSql))
      .presentSorted(col("lang"), col("stage"))
  }

  /** Per-INCREMENT funnel — [[corpusFunnel]]'s operational sibling: a
    * new crawl batch (the [[Dedup.IncrMod]] split [[Dedup
    * .dedupIncremental]] defines) runs the same 8-stage survivor
    * accounting, but every history-dependent stage consults a FROZEN
    * history artifact instead of re-processing the corpus:
    *
    *  - exact dedup = batch-internal digest keeper AND digest absent
    *    from the history digest set. The history side is probed BY the
    *    batch's broadcast digest list (O(batch) rows out, broadcast
    *    back), so history text/digests never shuffle — at production
    *    scale the digest set is a persisted bucketed artifact and this
    *    probe is the [[Dedup.dedupIncremental]] bloom+join funnel.
    *  - near dedup = X84's `kept` manifest verbatim
    *    ([[Dedup.incrementalManifest]] — bloom-prefiltered band join,
    *    history bands probed by the tiny batch build side).
    *  - perplexity = the batch scored under the HISTORY-trained bigram
    *    model ([[LangModel.bucketsWith]] — the frozen-model artifact
    *    path; a production run loads the persisted model, LangModelSpec
    *    round-trips it), per-increment tertile bounds.
    *  - quality / decontam / classifier are per-doc (Gopher rules, the
    *    eval-set n-gram probe, the scoring seam) — history-free.
    *
    * The gate query builds the artifacts inline because a gate query is
    * self-contained; in the plan the history text feeds ONLY the
    * artifact builds (digest aggregate, band/shingle build, model
    * counts) — the per-batch stage joins are all batch-keyed, and
    * IncrementalFunnelSpec pins the funnel plan (bloom probe present,
    * history digest restriction broadcast, no cartesian). */
  def incrementalFunnel(spark: SparkSession, dir: String): DataFrame = {
    val (flagged, stages) = incrementalFlags(spark, dir)
    val aggs = stageAggs(stages)
    flagged
      .agg(aggs.head, aggs.tail: _*)
      .select(expr(StackSql))
      .presentSorted(col("stage"))
  }

  /** Per-LANGUAGE per-increment funnel — [[corpusFunnelByLang]]'s move
    * applied to [[incrementalFunnel]]: the same frozen-history flag
    * frame, aggregated by `lang` instead of globally. This is the
    * artifact a multilingual crawl actually reviews per batch: which
    * languages' documents die at which stage of THIS increment — a
    * language whose crawl slice collapses at the history near-dup
    * stage (syndicated content already banked) needs different
    * sourcing than one dying at quality. One scan, map-side partials,
    * O(languages × 7) rows; partitions the increment funnel to the
    * row (FunnelSpec's per-language pin applied to the increment). */
  def incrementalFunnelByLang(spark: SparkSession, dir: String): DataFrame = {
    val (flagged, stages) = incrementalFlags(spark, dir)
    val aggs = stageAggs(stages)
    flagged
      .groupBy(col("lang"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("lang"), expr(StackSql))
      .presentSorted(col("lang"), col("stage"))
  }

  /** The per-increment flag frame + cumulative stage predicates —
    * shared by the global and per-language increment funnels the same
    * way [[flaggedDocs]] serves the corpus pair. */
  private def incrementalFlags(spark: SparkSession,
                               dir: String): (DataFrame, Seq[Column]) = {
    val isNew = col("doc_id") % Dedup.IncrMod === 0
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val batchBase = base.filter(isNew)
    val histBase = base.filter(!isNew)
    // PER-ROW stages (URL verdict, Gopher pass, classifier band) ride
    // the batch spine as COLUMNS — same three tautological-self-join
    // eliminations as [[flaggedDocs]] (r22, guide §2.4); restricting
    // the corpus-wide per-row flag to the batch via a doc_id join is
    // the identity, since the flag is a function of the row itself.
    val batch = Scoring.scoredKeeping(Text.gopherFlags(batchBase))
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("wc"),
        md5(col("text")).as("digest"),
        Urls.keptExpr.as("url_kept"), col("pass"), col("band"))
    // batch-internal exact keeper (same min-aggregate rule as X85)
    val exKeep = batchBase
      .select(md5(col("text")).as("digest"), col("doc_id"))
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("keeper"))
    // frozen digest artifact, probed by the broadcast batch digest set:
    // hits are O(batch ∩ history) ≤ O(batch) — broadcastable back, and
    // the history side never shuffles
    val dupDigests = histBase.select(md5(col("text")).as("digest"))
      .join(broadcast(batchBase.select(md5(col("text")).as("digest"))
        .distinct()), "digest")
      .distinct()
      .withColumn("in_hist", lit(1))
    // The shingle pass is shared with the contamination probe (§2.3).
    val sh = Dedup.pinnedShingles(spark, dir)
    val man = Dedup.incrementalManifestFrom(spark, dir, sh)
      .select(col("doc_id"), col("kept"))
    val cont = Decontam.contaminationFromShingles(
        sh.select(col("doc_id"), explode(col("ss")).as("shingle")))
      .select(col("doc_id"), col("contaminated"))
    val model = LangModel.trainBigramModel(
      histBase.select(col("doc_id"), col("text")))
    val ppl = LangModel.bucketsWith(
        batchBase.select(col("doc_id"), col("text")), model)
      .select(col("doc_id"), col("bucket"))
    val s2 = col("url_kept")
    val s3 = s2 && col("doc_id") === col("keeper") && col("in_hist").isNull
    val s4 = s3 && col("kept")
    val s5 = s4 && col("pass") === 1
    val s6 = s5 && coalesce(col("contaminated"), lit(0)) === 0
    val s7 = s6 && col("bucket").isNotNull && col("bucket") =!= "tail"
    val s8 = s7 && col("band") =!= "drop"
    (batch
      .join(exKeep, "digest")
      .join(broadcast(dupDigests), Seq("digest"), "left")
      .join(man, "doc_id")
      .join(cont, Seq("doc_id"), "left")
      .join(ppl, Seq("doc_id"), "left"),
     Seq(s2, s3, s4, s5, s6, s7, s8))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_funnel" -> corpusFunnel _,
    "funnel_by_lang" -> corpusFunnelByLang _,
    "incremental_funnel" -> incrementalFunnel _,
    "incremental_funnel_by_lang" -> incrementalFunnelByLang _)

  /** Eval-contamination CTEs (`dsh`/`dcont`) — [[Decontam]]'s n-gram
    * probe, shared by both funnel oracles. */
  private val decontamCtes: String =
    s"""dsh AS (
       |  SELECT doc_id,
       |    unnest(CASE WHEN len(string_split(text, ' ')) >= 3
       |                THEN ${Dedup.shingleSql} ELSE [] END) AS shingle
       |  FROM documents),
       |dcont AS (
       |  SELECT c.doc_id
       |  FROM (SELECT doc_id, shingle FROM dsh
       |        WHERE doc_id % ${Decontam.BenchMod} <> ${Decontam.BenchRem}) c
       |  JOIN (SELECT doc_id AS bench_id, shingle FROM dsh
       |        WHERE doc_id % ${Decontam.BenchMod} = ${Decontam.BenchRem}) b
       |    ON c.shingle = b.shingle
       |  GROUP BY c.doc_id
       |  HAVING count(DISTINCT c.shingle) >= ${Decontam.Threshold})""".stripMargin

  /** Classifier-score CTE (`cb`) — [[Scoring.scored]]'s hash score,
    * shared by both funnel oracles. */
  private val classifierCte: String =
    """cb AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 1000000
      |         AS DOUBLE) / 1e6 AS score
      |  FROM documents)""".stripMargin

  /** Perplexity-bucket CTE (`pb` over `s` + `lb`) — shared spelling. */
  private val bucketCte: String =
    s"""lb AS (${LangModel.BoundsSql}),
       |pb AS (
       |  SELECT s.doc_id,
       |    CASE WHEN s.nll_ppm <= lb.q1 THEN 'head'
       |         WHEN s.nll_ppm <= lb.q2 THEN 'middle'
       |         ELSE 'tail' END AS bucket
       |  FROM s CROSS JOIN lb)""".stripMargin

  private val StageNames = Seq("ingest", "url_filter", "exact_dedup",
    "near_dedup", "quality", "decontam", "perplexity", "classifier")

  /** The stacked 8-row stage report over a flags CTE `f(doc_id, wc,
    * s2..s8, ...)` — shared tail of the funnel oracles. `by` adds a
    * grouping column (the per-language report). */
  private def stageReport(by: Option[String] = None): String = {
    val sel = by.map(b => s"$b, ").getOrElse("")
    val grp = by.map(b => s" GROUP BY $b").getOrElse("")
    val blocks = StageNames.zipWithIndex.map { case (name, i0) =>
      val i = i0 + 1
      val docs =
        if (i == 1) "CAST(count(*) AS BIGINT)"
        else s"CAST(count(*) FILTER (WHERE s$i) AS BIGINT)"
      val toks =
        if (i == 1) "CAST(sum(wc) AS BIGINT)"
        else s"CAST(coalesce(sum(wc) FILTER (WHERE s$i), 0) AS BIGINT)"
      s"""SELECT ${sel}CAST($i AS BIGINT) AS stage, '$name' AS stage_name,
         |    $docs AS n_docs, $toks AS n_tokens FROM f$grp""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""SELECT * FROM (
       |  $blocks)
       |ORDER BY ${by.map(_ + ", ").getOrElse("")}stage""".stripMargin
  }

  private val stageReportSql: String = stageReport()

  /** Oracle: the same five cumulative stage sets, built from the shared
    * fragments — [[Cluster.ClosureCtes]] for the near-dup assignment,
    * [[Text.gopherPassSql]] for the quality pass, [[Dedup.shingleSql]]
    * + [[Decontam]]'s constants for contamination — so the funnel can
    * never drift from the per-stage gates. */
  /** The full-corpus flag chain ending at `f(doc_id, lang, wc,
    * s2..s7)` — shared by the global and per-language funnel oracles
    * (one spelling, two report scopes). */
  private def corpusFlagsCtes: String =
    s"""${Cluster.ClosureCtes},
       |dd AS (
       |  SELECT doc_id, lang, md5(text) AS digest,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS wc
       |  FROM documents),
       |ex AS (SELECT digest, min(doc_id) AS keeper FROM dd GROUP BY 1),
       |g AS (${Text.gopherPassSql}),
       |${Urls.KeepCtes},
       |$decontamCtes,
       |${LangModel.ScoredCtesBody},
       |$bucketCte,
       |$classifierCte,
       |f0 AS (
       |  SELECT dd.doc_id, dd.lang, dd.wc,
       |    uf.ukeep AS p2,
       |    dd.doc_id = ex.keeper AS p3,
       |    dd.doc_id = a.cluster_rep AS p4,
       |    g.pass = 1 AS p5,
       |    dd.doc_id NOT IN (SELECT doc_id FROM dcont) AS p6,
       |    pb.bucket IS NOT NULL AND pb.bucket <> 'tail' AS p7,
       |    cb.score >= ${Scoring.ReviewMin} AS p8
       |  FROM dd JOIN ex USING (digest) JOIN asg a USING (doc_id)
       |          JOIN g USING (doc_id)
       |          JOIN uf ON uf.doc_id = dd.doc_id
       |          LEFT JOIN pb ON pb.doc_id = dd.doc_id
       |          JOIN cb ON cb.doc_id = dd.doc_id),
       |f AS (
       |  SELECT doc_id, lang, wc,
       |    p2 AS s2,
       |    p2 AND p3 AS s3,
       |    p2 AND p3 AND p4 AS s4,
       |    p2 AND p3 AND p4 AND p5 AS s5,
       |    p2 AND p3 AND p4 AND p5 AND p6 AS s6,
       |    p2 AND p3 AND p4 AND p5 AND p6 AND p7 AS s7,
       |    p2 AND p3 AND p4 AND p5 AND p6 AND p7 AND p8 AS s8
       |  FROM f0)""".stripMargin

  val oracles: Map[String, String] = Map(
    "corpus_funnel" ->
      s"""$corpusFlagsCtes
         |$stageReportSql""".stripMargin,
    "funnel_by_lang" ->
      s"""$corpusFlagsCtes
         |${stageReport(Some("lang"))}""".stripMargin,
    "incremental_funnel" -> incrementalOracle(byLang = false),
    "incremental_funnel_by_lang" -> incrementalOracle(byLang = true))

  /** The per-increment oracle body, shared by the global and
    * per-language spellings — only the carried `lang` column and the
    * report's grouping differ, so the increment semantics cannot
    * drift between the two gates. */
  private def incrementalOracle(byLang: Boolean): String = {
    val l = if (byLang) ", lang" else ""
    val nl = if (byLang) ", nb.lang" else ""
    s"""WITH ${Dedup.incrVerCtes},
       |man AS (
       |  SELECT d.doc_id, v.doc_n IS NULL AS kept
       |  FROM documents d LEFT JOIN ver v ON v.doc_n = d.doc_id
       |  WHERE d.doc_id % ${Dedup.IncrMod} = 0),
       |dd AS (
       |  SELECT doc_id$l, md5(text) AS digest,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS wc
       |  FROM documents),
       |nb AS (SELECT * FROM dd WHERE doc_id % ${Dedup.IncrMod} = 0),
       |ex AS (SELECT digest, min(doc_id) AS keeper FROM nb GROUP BY 1),
       |hd AS (SELECT DISTINCT digest FROM dd
       |       WHERE doc_id % ${Dedup.IncrMod} <> 0),
       |g AS (${Text.gopherPassSql}),
       |${Urls.KeepCtes},
       |$decontamCtes,
       |${LangModel.splitScoredCtes(
           s"doc_id % ${Dedup.IncrMod} <> 0",
           s"doc_id % ${Dedup.IncrMod} = 0")},
       |$bucketCte,
       |$classifierCte,
       |f0 AS (
       |  SELECT nb.doc_id$nl, nb.wc,
       |    uf.ukeep AS p2,
       |    nb.doc_id = ex.keeper AND hd.digest IS NULL AS p3,
       |    man.kept AS p4,
       |    g.pass = 1 AS p5,
       |    nb.doc_id NOT IN (SELECT doc_id FROM dcont) AS p6,
       |    pb.bucket IS NOT NULL AND pb.bucket <> 'tail' AS p7,
       |    cb.score >= ${Scoring.ReviewMin} AS p8
       |  FROM nb JOIN ex USING (digest)
       |          LEFT JOIN hd USING (digest)
       |          JOIN man USING (doc_id)
       |          JOIN g USING (doc_id)
       |          JOIN uf ON uf.doc_id = nb.doc_id
       |          LEFT JOIN pb ON pb.doc_id = nb.doc_id
       |          JOIN cb ON cb.doc_id = nb.doc_id),
       |f AS (
       |  SELECT doc_id$l, wc,
       |    p2 AS s2,
       |    p2 AND p3 AS s3,
       |    p2 AND p3 AND p4 AS s4,
       |    p2 AND p3 AND p4 AND p5 AS s5,
       |    p2 AND p3 AND p4 AND p5 AND p6 AS s6,
       |    p2 AND p3 AND p4 AND p5 AND p6 AND p7 AS s7,
       |    p2 AND p3 AND p4 AND p5 AND p6 AND p7 AND p8 AS s8
       |  FROM f0)
       |${if (byLang) stageReport(Some("lang")) else stageReportSql}""".stripMargin
  }
}
