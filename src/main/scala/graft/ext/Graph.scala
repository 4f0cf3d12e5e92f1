package graft.ext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.Present.PresentOps

/** Link-graph analytics for corpus curation — PageRank as iterated
  * join + aggregate, the power-iteration form that scales: each round is
  * one edge-key shuffle of O(E) contribution rows plus an O(V)
  * aggregation; no adjacency matrix, no driver-side graph.
  *
  * Complements [[Cluster.connectedComponents]] (same iterative-DataFrame
  * discipline: `localCheckpoint` per round truncates the lineage so round
  * N never re-executes rounds 1..N−1; production swaps in reliable
  * `checkpoint()` to a DFS dir, same call shape).
  *
  * Iterative-loop hygiene (the r10 lesson — the 12 s isolated bench
  * number and the driver's block-store death rattle were all constant
  * factor, not asymptotics): the teleport term is a driver-computed
  * literal instead of a per-round 1-row crossJoin, the dangling-mass
  * aggregate is folded into the same rank⟕out-degree pass the shares
  * come from, iteration frames run at a task count matched to the graph
  * size instead of inheriting the session's shuffle width, tiny sides are
  * broadcast explicitly (post-checkpoint frames have unknown stats, which
  * otherwise default to sort-merge), and each round frees the superseded
  * round's checkpoint blocks.
  */
object Graph {

  /** Broadcast-regime bound for the O(V) per-round frames (ranks, shares,
    * in-mass, out-degree) — same discipline as Dedup's bounded-broadcast
    * joins: below this the join is a map-side hash probe, above it the
    * planner's shuffle strategies take over. */
  private val MaxBroadcastRows = 4000000L

  /** Free the executor blocks of a superseded `localCheckpoint` round.
    * `Dataset.unpersist` only covers CacheManager entries, never
    * checkpoint RDDs, so without this every round of every bench rep
    * leaves pinned blocks behind until the driver GCs the frame (r10's
    * driver died mid-bench with block-store WARNs from exactly this).
    * Only safe once nothing reads the frame again — the loop calls it
    * after the NEXT round is eagerly materialized. The final returned
    * frame stays pinned until the caller drops it and the ContextCleaner
    * collects the RDD. */
  private[ext] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.asInstanceOf[RDD[_]].unpersist(blocking = false)
      case _              => ()
    }

  /** Damped PageRank over a directed graph.
    *
    * Semantics (the standard formulation): ranks start uniform at 1/N;
    * each round every node keeps `(1−d)/N` teleport mass plus `d` times
    * (the rank shares of its in-neighbors + an equal slice of the total
    * DANGLING mass — rank held by nodes with no out-edges). Total rank
    * stays exactly 1 every round, which GraphSpec pins.
    *
    * Edges are restricted to `nodes × nodes` (two semi-joins): a foreign
    * src would dilute out-degrees without ever receiving rank and a
    * foreign dst would swallow in-mass the node join then drops — either
    * silently breaks the sum-to-1 invariant. On closed-by-construction
    * inputs ([[syndicationPagerank]]) the semi-joins are no-op probes of
    * the already-persisted node frame.
    *
    * Scale shape per round: contributions are `edges ⋈ shares` on the
    * src key — O(E) rows — then a groupBy(dst) partial-aggregated sum.
    * N and the edge count are driver-side SCALARS (counts, never data
    * rows — the same discipline as Cluster.connectedComponents'
    * convergence counter); they set the teleport literal, the iteration
    * task count, and the broadcast regime. Fixed `iters`, not
    * convergence-tested: curation wants a reproducible budget, and 10
    * damped rounds bound the residual by d^10 < 0.2.
    *
    * @param nodes one column `id`
    * @param edges columns `src`, `dst`; self-loops, duplicate edges, and
    *              edges with endpoints outside `nodes` dropped (a
    *              syndication graph is unweighted; foreign endpoints
    *              would leak rank mass)
    * @return (id, rank) — ranks sum to 1
    */
  def pageRank(nodes: DataFrame, edges: DataFrame,
               iters: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val dbg = sys.env.contains("GRAFT_PR_DEBUG")
    def tdbg[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      if (dbg) System.err.println(
        f"[pr] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    // The setup frames are local-CHECKPOINTED, not merely persisted: a
    // persisted frame still carries its full logical plan (here the
    // whole LSH pipeline behind the edge list), and every round's plan
    // embeds every input's plan — so Catalyst re-analyzes and
    // re-optimizes the complete upstream tree 10× over. Measured r11:
    // that planning debt, not execution, was most of the ~0.5 s/round.
    // A checkpoint leaf plans in microseconds. The node/edge counts the
    // loop needs ride the SAME checkpoint jobs via Dataset.observe —
    // no separate count jobs.
    val obsV = Observation()
    val v = tdbg("v ckpt")(
      nodes.select(col("id")).distinct()
        .observe(obsV, count(lit(1)).as("n"))
        .localCheckpoint())
    val obsE = Observation()
    val e = tdbg("e ckpt")(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .join(v.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(v.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .observe(obsE, count(lit(1)).as("n"))
      .localCheckpoint())
    val n = obsV.get("n").asInstanceOf[Long]
    require(n > 0, "pageRank needs at least one node")
    val nEdges = obsE.get("n").asInstanceOf[Long]
    val sessParts = nodes.sparkSession.sessionState.conf.numShufflePartitions
    // ~1M graph rows per task; a 20-node gate graph must not pay the
    // session's shuffle width × rounds, while a billion-edge graph still
    // spreads across the cluster
    val parts = math.min(sessParts.toLong, (n max nEdges) / 1000000L + 1).toInt
    // Two execution regimes, picked by the counted size (the same
    // measured-switch discipline as Dedup's bounded-broadcast joins):
    //
    // LOCAL (the gate + any graph within [[Iterate.MaxGraphRows]], which
    // implies parts == 1): the whole graph fits ONE partition, so the
    // fastest correct plan is ONE task that runs the power iteration in
    // memory ([[Iterate.pageRankLocal]])
    // — genuine per-partition imperative logic, the one place
    // mapPartitions beats every declarative shape. The previous regime
    // here (exchange-free single-partition DataFrame rounds, r11) had
    // the right PLAN per round but still paid one checkpoint job per
    // round — measured 0.10–0.13 s × 10 rounds of pure job-scheduling
    // overhead on a 20-node graph vs ~0.1 s total for the local solve.
    // The distributed loop below stays the scale path; specs force it
    // via [[Iterate.distributedOnly]] to keep both regimes covered.
    //
    // LARGE: edges keep their scan/shuffle parallelism, the O(V) frames
    // ride broadcast joins below MaxBroadcastRows and the planner's
    // shuffle strategies above, and the dangling scalar is an agg
    // crossed in as a 1-row broadcast (a global window would funnel V
    // rows through one task — fine at gate scale, wrong at 100 TB).
    // The bound is a STRICTER ceiling than parts == 1: the local solver
    // holds the graph as boxed values in one task's heap (~120–180 B/row),
    // so the regime switch is bounded by heap, not by partition math.
    if (Iterate.solveLocally(n max nEdges, Iterate.MaxGraphRows)) {
      // The solve output is checkpointed so v/e blocks can be freed NOW
      // (the returned frame must not re-read them after unpersist);
      // O(V) rows, same pinned-until-GC lifecycle as the loop's result.
      val out = tdbg("local solve")(
        Iterate.pageRankLocal(v, e, n, iters, damping).localCheckpoint())
      freeCheckpoint(e); freeCheckpoint(v)
      out
    } else {
      val eIter = if (parts < sessParts) e.coalesce(parts) else e
      val small = n <= MaxBroadcastRows
      def b(df: DataFrame): DataFrame = if (small) broadcast(df) else df
      val outDegCk = tdbg("outDeg ckpt")(
        eIter.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .withColumnRenamed("src", "id")
          .localCheckpoint())
      val outDeg = outDegCk
      // Every round materializes via localCheckpoint — lazily CHAINING
      // rounds between checkpoints was measured SLOWER: the rank frame is
      // referenced twice per round, so a k-round chain embeds ~2^k copies
      // of the base plan and Catalyst's per-round planning grows faster
      // than the saved job overhead. One round per job, every plan rooted
      // at checkpoint leaves, measured fastest (per-round planning 0.02 s;
      // the remainder is irreducible per-job overhead).
      var ranks = v.select(col("id"), lit(1.0 / n).as("rank"))
      var lastCkpt: Option[DataFrame] = None
      for (it <- 1 to iters) {
        // ONE pass over the rank frame yields both the per-edge shares
        // and the dangling total (rank stuck on sinks, redistributed
        // uniformly — else total decays); r10 spent a separate anti-join
        // job on it.
        val rd = ranks.join(b(outDeg), Seq("id"), "left")
        val shares = rd.filter(col("deg").isNotNull)
          .select(col("id").as("from"), (col("rank") / col("deg")).as("share"))
        val inMass = eIter.join(b(shares), col("src") === col("from"))
          .groupBy(col("dst")).agg(sum(col("share")).as("in_mass"))
          .withColumnRenamed("dst", "id")
        val dangling = rd.agg(
          coalesce(sum(when(col("deg").isNull, col("rank"))), lit(0.0))
            .as("dangling"))
        val nx = v.join(b(inMass), Seq("id"), "left")
          .crossJoin(broadcast(dangling)) // 1 row — always broadcast
          .select(col("id"),
            (lit((1.0 - damping) / n)
              + lit(damping) * (coalesce(col("in_mass"), lit(0.0))
                                 + col("dangling") / n)).as("rank"))
        ranks = {
          val ck = tdbg(s"round $it")(nx.localCheckpoint())
          lastCkpt.foreach(freeCheckpoint)
          lastCkpt = Some(ck)
          ck
        }
      }
      freeCheckpoint(e); freeCheckpoint(v); freeCheckpoint(outDegCk)
      ranks
    }
  }

  /** Gate query: PageRank over the content-SYNDICATION graph — sources
    * are linked when near-duplicate documents (the Jaccard-verified
    * MinHash-LSH pairs, [[Dedup.dedupMinhashLsh]]) appear under BOTH, the
    * standard signal for mirror/aggregator domains whose weight a
    * curation pass discounts.
    *
    * The gate projection is INTEGER-stable (r10's float ranks could only
    * ride a rows-only check): ppm-quantized rank plus the position under
    * the pinned (rank_ppm DESC, source) order. ULP-level
    * summation-order noise between Spark and the oracle vanishes at ppm
    * grain; exact float semantics are pinned by GraphSpec's dense
    * witness. The single-partition ranking window is safe here: sources
    * are domains, O(thousands) even at corpus scale — sub-linear in the
    * documents they aggregate.
    */
  def syndicationPagerank(spark: SparkSession, dir: String): DataFrame = {
    // Edge input comes straight from the LSH verify with `source` carried
    // through the shingle frame (Dedup.lshSourcePairs) — the previous
    // shape ran the generic dedup gate (ordered, jaccard-projected) and
    // joined doc→source TWICE, re-scanning the corpus for an attribute
    // the verify already held. Symmetrization is ONE explode over each
    // verified pair, not a union of two copies of the verify subplan —
    // a shared subplan re-executes per reference, so the union shape
    // paid the verify join twice inside the edge checkpoint.
    val edges = Dedup.lshSourcePairs(spark, dir)
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
    val nodes = Tables.documents(spark, dir)
      .select(col("source").as("id")).distinct()
    val w = Window.orderBy(col("rank_ppm").desc, col("source"))
    pageRank(nodes, edges)
      .select(col("id").as("source"),
              round(col("rank") * 1e6).cast(LongType).as("rank_ppm"))
      .withColumn("rank_pos", row_number().over(w).cast(LongType))
      .select(col("source"), col("rank_pos"), col("rank_ppm"))
      .presentSorted(col("rank_pos"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "syndication_pagerank" -> syndicationPagerank _)

  /** One unrolled damped-PageRank round in DuckDB SQL: the same
    * recurrence as the Spark loop (teleport coefficient spelled
    * `(1 - CAST(0.85 AS DOUBLE))` — bare `(1 - 0.85)` is DECIMAL-exact
    * in DuckDB (0.15) while Scala's `1.0 - 0.85` is a double subtraction
    * (0.15000000000000002, ~2 ULP apart), and a rank within ~1e-9 of a
    * 0.5-ppm quantization boundary could flip the integer gate; the cast
    * forces the identical double op in both engines. Dangling mass from
    * a left-anti over out-degrees; in-mass as share-sum grouped by dst.)
    * Unrolled rather than recursive-CTE'd: the iteration count is fixed
    * at 10 and DuckDB's recursive form restricts aggregates in the
    * recursive term. */
  private def prRoundSql(k: Int): String =
    s"""r$k AS MATERIALIZED (
       |  SELECT v.id,
       |    (1 - CAST(0.85 AS DOUBLE)) / nn.n
       |      + 0.85 * (coalesce(im.mass, 0) + dg.m / nn.n) AS rank
       |  FROM nd v
       |  CROSS JOIN nn
       |  CROSS JOIN (SELECT coalesce(sum(r.rank), 0) AS m FROM r${k - 1} r
       |              LEFT JOIN odeg od ON od.src = r.id
       |              WHERE od.src IS NULL) dg
       |  LEFT JOIN (SELECT e.dst AS id, sum(r.rank / od.deg) AS mass
       |             FROM ed e JOIN r${k - 1} r ON r.id = e.src
       |             JOIN odeg od ON od.src = e.src GROUP BY e.dst) im
       |    ON im.id = v.id)""".stripMargin

  /** The oracle rebuilds the verified LSH pair graph with the SAME SQL as
    * the `dedup_minhash_lsh` oracle (shared [[Dedup.shingleSql]] /
    * [[Dedup.bandsSql]] fragments), lifts it to the source-level
    * syndication graph, then runs the 10 damped rounds unrolled and emits
    * the integer projection. */
  val oracles: Map[String, String] = Map(
    "syndication_pagerank" ->
      s"""WITH sh AS MATERIALIZED (
         |  SELECT doc_id,
         |    CASE WHEN len(string_split(text, ' ')) >= 3
         |         THEN ${Dedup.shingleSql} ELSE [] END AS ss
         |  FROM documents),
         |bands AS MATERIALIZED (${Dedup.bandsSql}),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.bkey = b.bkey
         |   AND a.doc_id < b.doc_id),
         |prs AS MATERIALIZED (
         |  SELECT doc_a, doc_b
         |  FROM cand JOIN sh x ON x.doc_id = doc_a
         |            JOIN sh y ON y.doc_id = doc_b
         |  WHERE CAST(len(list_intersect(x.ss, y.ss)) AS DOUBLE)
         |      / len(list_distinct(x.ss || y.ss)) >= 0.5),
         |ep AS MATERIALIZED (
         |  SELECT da.source AS src, db.source AS dst
         |  FROM prs JOIN documents da ON da.doc_id = prs.doc_a
         |           JOIN documents db ON db.doc_id = prs.doc_b),
         |ed AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM ep
         |    UNION ALL SELECT dst AS src, src AS dst FROM ep) u
         |  WHERE src <> dst),
         |nd AS MATERIALIZED (SELECT DISTINCT source AS id FROM documents),
         |odeg AS MATERIALIZED (
         |  SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM ed GROUP BY src),
         |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nd),
         |r0 AS MATERIALIZED (SELECT id, 1.0 / nn.n AS rank FROM nd CROSS JOIN nn),
         |${(1 to 10).map(prRoundSql).mkString(",\n")}
         |SELECT id AS source,
         |  CAST(row_number() OVER (ORDER BY round(rank * 1000000) DESC, id)
         |       AS BIGINT) AS rank_pos,
         |  CAST(round(rank * 1000000) AS BIGINT) AS rank_ppm
         |FROM r10 ORDER BY rank_pos""".stripMargin)
}
