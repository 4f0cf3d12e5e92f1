package graft.ext

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Present.PresentOps

/** Duplicate-CLUSTER assignment — the step that turns near-dup PAIRS
  * (the output of [[Dedup.dedupMinhashLsh]] / [[Dedup.dedupSimhashPairs]])
  * into a dedup DECISION: every document gets a canonical cluster
  * representative (the minimum doc_id reachable through the duplicate
  * graph), and "keep one per cluster" is then a single filter
  * (`doc_id = cluster_rep`). Pairs alone can't do that: near-duplication
  * is not transitive pairwise (A~B, B~C with A≁C is common at the
  * similarity threshold), so a corpus-scale dedup MUST close the pair
  * graph into components or it both under- and over-deletes — e.g.
  * keeping B while deleting A and C against A~B~C leaves nothing that
  * matches C's half of the cluster.
  *
  * Algorithm: iterative MIN-LABEL propagation with POINTER JUMPING.
  * Every node starts labeled with itself; each round a node takes the
  * minimum label over {itself} ∪ graph neighbors ∪ its current label's
  * node (the pointer edge, added in both directions). Propagating through
  * the label pointers as well as the raw edges is classic path doubling —
  * reachable-minimum distance halves each round, so convergence is
  * O(log diameter) rounds, not O(diameter) (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SOCC'14 — the same trick their
  * large-star/small-star rounds exploit). Duplicate clusters are
  * near-cliques, so in practice 2-3 rounds close them; a 100-TB corpus
  * with adversarial chain topology still converges in ~log₂(chain)
  * rounds.
  *
  * Scale posture per round: ONE shuffle of O(E + V) rows (the
  * union-then-groupBy-min), where E is the DEDUPLICATED symmetric edge
  * set — never all-pairs; the edges arrive from LSH banding which is
  * already O(near-dups). The driver sees only a convergence COUNTER per
  * round (the labels themselves never leave the executors), and
  * `localCheckpoint` truncates the growing lineage each round so round N
  * doesn't re-execute rounds 1..N-1 (the classic iterative-DataFrame
  * trap; local checkpointing trades re-computability on executor loss
  * for not re-running the whole history — at production scale use
  * reliable `checkpoint()` to a DFS dir instead, same call shape).
  */
object Cluster {

  /** Connected components of an undirected graph.
    *
    * @param nodes one column `id` (any orderable numeric type)
    * @param edges columns `src`, `dst`; direction and duplicates ignored
    * @return (id, label) with label = min id in the component
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxRounds: Int = 25): DataFrame = {
    // local-CHECKPOINTED, not merely persisted: a persisted frame still
    // carries its full logical plan (here the LSH pipeline behind the
    // pair list) and every round's plan embeds it, so Catalyst would
    // re-analyze the whole upstream tree per round — measured in
    // Graph.pageRank as the dominant per-round cost. A checkpoint leaf
    // plans in microseconds. The node/edge counts the loop needs ride
    // the SAME checkpoint jobs via Dataset.observe (driver-side SCALARS,
    // never data rows — they size the loop: a 500-node gate graph must
    // not pay the session's shuffle width per round, and post-checkpoint
    // frames have unknown stats (default: sort-merge) so the tiny-side
    // joins pick the broadcast regime explicitly; ~1M graph rows per
    // task at scale).
    val obsV = Observation()
    val v = nodes.select(col("id")).distinct()
      .observe(obsV, count(lit(1)).as("n"))
      .localCheckpoint()
    // Edges are restricted to `nodes × nodes` (two semi-joins), exactly
    // like [[Graph.pageRank]]'s closure joins: the sum-equality
    // convergence proof below is only sound when every label the loop
    // ever emits belongs to a row of the label frame — a foreign
    // endpoint would otherwise GROW the frame in round 1 (the groupBy
    // union emits a label row for the foreign id), handing dedup a
    // cluster assignment containing ids the caller never supplied. On
    // closed-by-construction inputs ([[dedupClusters]]) the semi-joins
    // are no-op probes of the already-checkpointed node frame.
    val obsE = Observation()
    val symAll = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .join(v.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(v.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .observe(obsE, count(lit(1)).as("n"))
      .localCheckpoint()
    val nV = obsV.get("n").asInstanceOf[Long]
    val nE = obsE.get("n").asInstanceOf[Long]
    val sessParts = nodes.sparkSession.sessionState.conf.numShufflePartitions
    val parts = math.min(sessParts.toLong, (nV max nE) / 1000000L + 1).toInt
    // Two execution regimes, same split as [[Graph.pageRank]]:
    //
    // LOCAL: the graph fits one partition, so one task runs
    // path-compressed union-find in memory ([[Iterate.ccLocal]]) — exact
    // closure, zero rounds, ~3 jobs total. The r11 regime here
    // (exchange-free single-partition DataFrame rounds) still paid one
    // checkpoint job per pointer-jumping round; specs force the
    // distributed loop via [[Iterate.distributedOnly]] to keep it covered.
    //
    // DISTRIBUTED: pointer-jumping min-label rounds; the O(V) label
    // frame broadcasts below the bound and shuffles above it.
    // Heap-bounded like [[Graph.pageRank]]'s switch: the local solver
    // materializes the graph boxed in one task (~120–180 B/row), so the
    // ceiling is [[Iterate.MaxGraphRows]], not the 1M/task partition
    // heuristic.
    if (Iterate.solveLocally(nV max nE, Iterate.MaxGraphRows)) {
      // checkpoint the O(V) result so v/sym blocks can be freed now —
      // the returned frame must not re-read them after unpersist
      val out = Iterate.ccLocal(v, symAll).localCheckpoint()
      Graph.freeCheckpoint(symAll); Graph.freeCheckpoint(v)
      out
    } else {
      // narrow merge of the cached blocks — no shuffle
      val sym = if (parts < sessParts) symAll.coalesce(parts) else symAll
      val small = nV <= 4000000L
      def b(df: DataFrame): DataFrame = if (small) broadcast(df) else df
      // min-label propagation through graph neighbors AND the label
      // pointer edges (id <-> current label, both directions) — the path-
      // doubling step that makes convergence logarithmic
      // Each round's aggregate carries the id's PREVIOUS label alongside
      // the new min: labels rows are tagged with `cur = label`, neighbor
      // rows with `cur = null`, and since every id has exactly one labels
      // row, `max(cur)` recovers the old label inside the same min-
      // aggregate — no extra join, no extra shuffle.
      val lblType = v.schema("id").dataType
      def step(labels: DataFrame): DataFrame = {
        val ptr = labels.filter(col("id") =!= col("label"))
        val hops = sym
          .unionByName(ptr.select(col("id").as("src"), col("label").as("dst")))
          .unionByName(ptr.select(col("label").as("src"), col("id").as("dst")))
        val viaNbr = hops
          .join(b(labels.select(col("id").as("nid"), col("label"))),
                col("dst") === col("nid"))
          .select(col("src").as("id"), col("label"))
        labels.withColumn("cur", col("label"))
          .unionByName(viaNbr.withColumn("cur", lit(null).cast(lblType)))
          .groupBy(col("id"))
          .agg(min(col("label")).as("label"), max(col("cur")).as("prev"))
      }
      // Convergence rides the checkpoint job itself via Dataset.observe:
      // the round is converged iff NO id's label changed, and the changed
      // count is an exact observation over (label, prev) — complete for
      // every label type (longs, strings, …; r13's label-SUM checksum
      // cast to DECIMAL and ANSI-failed on string ids), with ZERO extra
      // jobs (the old join+count per round doubled the loop's job bill).
      def changed = sum(when(col("label") === col("prev"), 0L)
        .otherwise(1L)).as("changed")
      // the RAW checkpoint is kept aside because freeing blocks needs the
      // LogicalRDD leaf itself
      var labelsCk = v.select(col("id"), col("id").as("label"))
        .localCheckpoint()
      var labels = labelsCk
      var round = 0
      var converged = false
      while (!converged && round < maxRounds) {
        val obs = Observation()
        val nextCk = step(labels).observe(obs, changed).localCheckpoint()
        val ch = obs.get("changed") // null on an empty label frame = done
        converged = ch == null || ch.asInstanceOf[Long] == 0L
        // the superseded round has no readers left — free its checkpoint
        // blocks (Dataset.unpersist never covers checkpoint RDDs; r10
        // accumulated them across the whole bench)
        Graph.freeCheckpoint(labelsCk)
        labelsCk = nextCk
        labels = nextCk.select(col("id"), col("label"))
        round += 1
      }
      // labels-only-decrease makes the equal-sum round a complete
      // convergence proof; returning unconverged labels would silently
      // hand dedup a wrong cluster assignment, so fail loudly instead
      Graph.freeCheckpoint(symAll); Graph.freeCheckpoint(v)
      require(converged,
              s"connectedComponents did not converge in $maxRounds rounds " +
                "— raise maxRounds")
      labels
    }
  }

  /** Gate query: cluster assignment over the Jaccard-VERIFIED MinHash-LSH
    * pair graph — (doc_id, cluster_rep, cluster_size) for EVERY document
    * (singletons are their own representative, size 1). Downstream
    * "keep one per cluster" is `WHERE doc_id = cluster_rep`. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.lshPairs(spark, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val nodes = Tables.documents(spark, dir).select(col("doc_id").as("id"))
    val lbl = connectedComponents(nodes, edges)
    val sizes = lbl.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    lbl.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_rep"),
              col("cluster_size"))
      .presentSorted(col("doc_id"))
  }

  /** Representative SELECTION over the closed clusters — the decision
    * rule a curation run applies after [[dedupClusters]]: keep ONE
    * member per cluster and drop the rest. The keep rule here is
    * LONGEST-document-wins (n_chars, ties to the smaller doc_id) — the
    * RefinedWeb/Dolma convention; swapping in any other orderable
    * quality signal (e.g. [[Scoring.qualityScore]]'s column) changes
    * only the struct inside the max. Output is the post-dedup corpus
    * MANIFEST: one row per surviving document, with its cluster's
    * membership accounting (singletons keep themselves, n_dropped 0).
    *
    * Scale shape: the keeper is a MAX-AGGREGATE of a (len, -doc_id)
    * struct per cluster — partial aggregation collapses every cluster
    * map-side, so the exchange carries O(clusters) rows; the window
    * form (`row_number() OVER (PARTITION BY cluster)`) would funnel a
    * mega-cluster (boilerplate at crawl scale) through one task. The
    * cluster assignment itself is [[connectedComponents]], unchanged. */
  def clusterKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.lshPairs(spark, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val docs = Tables.documents(spark, dir)
    val lbl = connectedComponents(
      docs.select(col("doc_id").as("id")), edges)
    lbl.join(docs.select(col("doc_id").as("id"), col("n_chars")), "id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"),
           max(struct(col("n_chars").as("len"),
                      (-col("id")).as("neg_id"))).as("best"))
      .select(col("label").as("cluster_rep"),
        (-col("best.neg_id")).as("keeper_doc_id"),
        col("best.len").as("keeper_chars"),
        col("n_members"),
        (col("n_members") - 1).as("n_dropped"))
      .presentSorted(col("cluster_rep"))
  }

  /** LEAKAGE-SAFE train/validation/test split — [[Corpus.trainTestSplit]]'s
    * hash-bucket rule applied to the near-dup CLUSTER, not the document:
    * every member of a duplicate cluster hashes the same `cluster_rep`,
    * so a cluster lands in ONE split atomically. The doc-level split
    * can't give this: Lee et al. 2022 (§6.2) measure that duplicated
    * documents straddle train/test in deduplicated-looking corpora, and
    * a near-dup of a training doc sitting in eval IS contamination —
    * the eval metric silently becomes a memorization probe. Hashing the
    * rep keeps every trainTestSplit property (reproducible, rand()-free,
    * stable under corpus growth for unchanged clusters) while closing
    * the near-dup leak; singletons (rep = own id) degrade to exactly
    * the document rule.
    *
    * Known bias, shared with [[Corpus.trainTestSplit]] deliberately:
    * the bucket is a 16-bit hash mod 100, and 65536 % 100 ≠ 0, so
    * buckets 0–35 carry ⌈65536/100⌉ = 656 hash values vs 655 — the
    * train fraction at trainPct=80 is ~80.01%, not 80.00%. Kept
    * because (a) the split must agree CELL-FOR-CELL with the document
    * rule (a singleton cluster and the doc split must bucket
    * identically), and (b) determinism + oracle parity matter more
    * than 1e-4 of fraction accuracy here. A deployment that needs
    * exact fractions should widen the hash (8 hex chars mod 100,
    * bias 1/43M) in BOTH rules at once.
    *
    * Scale shape: the cluster assignment is [[connectedComponents]]
    * unchanged (O(E+V) per round, log rounds); the bucket/split is a
    * pure per-row expression on its output — no additional shuffle. */
  def splitByCluster(spark: SparkSession, dir: String,
                     trainPct: Int = 80, validationPct: Int = 10): DataFrame = {
    require(trainPct >= 0 && validationPct >= 0 && trainPct + validationPct < 100,
      s"percentages must be non-negative and leave room for test, " +
      s"got train=$trainPct validation=$validationPct")
    val edges = Dedup.lshPairs(spark, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val lbl = connectedComponents(
      Tables.documents(spark, dir).select(col("doc_id").as("id")), edges)
    val bucket = conv(substring(md5(col("cluster_rep").cast("string")), 1, 4),
        16, 10).cast("int") % 100
    lbl.select(col("id").as("doc_id"), col("label").as("cluster_rep"))
      .withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train"))
          .otherwise(when(col("bucket") < trainPct + validationPct,
            lit("validation"))
          .otherwise(lit("test"))))
      .presentSorted(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_clusters" -> dedupClusters _,
    "cluster_keep_best" -> clusterKeepBest _,
    "split_by_cluster" -> ((s, d) => splitByCluster(s, d)))

  /** Shared oracle prefix: rebuild the verified pair graph with the SAME
    * SQL as the `dedup_minhash_lsh` oracle, close it with a recursive
    * CTE (transitive reachability → min reachable id), and assign every
    * document its cluster rep. Exact closure is oracle-only economics:
    * fine on gate-scale graphs, quadratic in cluster size at corpus
    * scale — the Spark side's log-round propagation is the form that
    * survives 100 TB. */
  private[ext] val ClosureCtes: String =
      s"""WITH RECURSIVE sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(string_split(text, ' ')) >= 3
         |         THEN ${Dedup.shingleSql} ELSE [] END AS ss
         |  FROM documents),
         |bands AS (${Dedup.bandsSql}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |pairs AS (
         |  SELECT doc_a, doc_b
         |  FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
         |  WHERE CAST(len(list_intersect(x.ss, y.ss)) AS DOUBLE)
         |      / len(list_distinct(x.ss || y.ss)) >= 0.5),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
         |  WHERE e.dst <> r.a),
         |lbl AS (SELECT a AS doc_id, min(b) AS mn FROM reach GROUP BY a),
         |asg AS (
         |  SELECT d.doc_id,
         |    CAST(coalesce(least(l.mn, d.doc_id), d.doc_id) AS BIGINT)
         |      AS cluster_rep
         |  FROM documents d LEFT JOIN lbl l ON l.doc_id = d.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_clusters" ->
      s"""$ClosureCtes
         |SELECT doc_id, cluster_rep,
         |  CAST(count(*) OVER (PARTITION BY cluster_rep) AS BIGINT)
         |    AS cluster_size
         |FROM asg ORDER BY doc_id""".stripMargin,
    "split_by_cluster" ->
      s"""$ClosureCtes,
         |b AS (
         |  SELECT doc_id, cluster_rep,
         |    ('0x' || substr(md5(CAST(cluster_rep AS VARCHAR)), 1, 4))::INTEGER
         |      % 100 AS bucket
         |  FROM asg)
         |SELECT doc_id, cluster_rep, bucket,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'validation'
         |       ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,
    "cluster_keep_best" ->
      s"""$ClosureCtes,
         |r AS (
         |  SELECT a.cluster_rep, a.doc_id, d.n_chars,
         |    row_number() OVER (PARTITION BY a.cluster_rep
         |                       ORDER BY d.n_chars DESC, a.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY a.cluster_rep) AS nm
         |  FROM asg a JOIN documents d ON d.doc_id = a.doc_id)
         |SELECT cluster_rep, doc_id AS keeper_doc_id,
         |  n_chars AS keeper_chars,
         |  CAST(nm AS BIGINT) AS n_members,
         |  CAST(nm - 1 AS BIGINT) AS n_dropped
         |FROM r WHERE rn = 1 ORDER BY cluster_rep""".stripMargin)
}
