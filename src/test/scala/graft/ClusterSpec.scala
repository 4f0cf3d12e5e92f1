package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Cluster

/** [[graft.ext.Cluster.connectedComponents]] contract: labels match a
  * brute-force union-find witness on arbitrary graphs, and the pointer-
  * jumping rounds stay LOGARITHMIC on the worst-case chain topology. */
class ClusterSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Brute-force witness: path-compressed union-find over the edge list. */
  private def witness(n: Seq[Long], e: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(n.map(x => x -> x): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    e.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    n.map(x => x -> find(x)).toMap
  }

  private def run(n: Seq[Long], e: Seq[(Long, Long)],
                  maxRounds: Int = 25): Map[Long, Long] =
    Cluster.connectedComponents(
        n.toDF("id"), e.toDF("src", "dst"), maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Run with the one-task local solve disabled — covers the distributed
    * pointer-jumping loop (the ≥1M-row scale path) on test-sized graphs;
    * the round-budget contract only exists on this path. */
  private def runDistributed(n: Seq[Long], e: Seq[(Long, Long)],
                             maxRounds: Int = 25): Map[Long, Long] =
    graft.ext.Iterate.distributedOnly(run(n, e, maxRounds))

  test("labels equal the union-find witness on a mixed graph") {
    // two cliques, a bridge, a chain, isolated nodes, a self-loop, dup +
    // reversed edges — every structural case at once
    val nodes = (0L to 20L)
    val edges = Seq[(Long, Long)](
      (1, 2), (2, 3), (1, 3),          // clique
      (5, 4), (4, 6),                  // reversed-direction fan
      (3, 5),                          // bridge: {1..6} is one component
      (10, 11), (11, 12), (12, 13),    // chain
      (7, 7),                          // self-loop = isolated
      (15, 16), (16, 15), (15, 16))    // dup + reversed
    assert(run(nodes, edges) === witness(nodes, edges))
  }

  test("deterministic pseudo-random graph matches the witness") {
    // LCG-derived edges (no Math.random: repeatable), ~1.2 edges/node —
    // the regime where component shapes are most varied
    val nodes = (0L until 300L)
    var s = 12345L
    def nxt(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); math.abs(s) }
    val edges = Seq.fill(360)((nxt() % 300, nxt() % 300))
    assert(run(nodes, edges) === witness(nodes, edges))
  }

  test("distributed loop: a 64-node chain converges within the log budget") {
    // pure min-propagation needs 63 rounds on a 64-chain; pointer jumping
    // must close it in <= 8 (log2 64 = 6, +2 slack for the final
    // no-change detection round). Forced distributed — the default
    // small-graph path is the exact one-task union-find, which has no
    // rounds to budget.
    val nodes = (0L until 64L)
    val edges = (0L until 63L).map(i => (i, i + 1))
    val got = runDistributed(nodes, edges, maxRounds = 8)
    assert(got === nodes.map(_ -> 0L).toMap)
  }

  test("an exhausted round budget fails loudly, never returns wrong labels") {
    val nodes = (0L until 64L)
    val edges = (0L until 63L).map(i => (i, i + 1))
    val e = intercept[IllegalArgumentException] {
      runDistributed(nodes, edges, maxRounds = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("distributed loop matches the witness; foreign endpoints ignored") {
    // closure semi-joins: a foreign endpoint must neither relabel a real
    // node nor LEAK a label row for an id the caller never supplied (the
    // round-1 groupBy union would otherwise emit one) — and both regimes
    // must agree exactly
    val nodes = (0L to 8L)
    val clean = Seq[(Long, Long)]((1, 2), (2, 3), (5, 6))
    val dirty = clean ++ Seq[(Long, Long)]((1, 99), (99, 2), (98, 97))
    val want = witness(nodes, clean)
    val (local, dist) = TestSpark.bothRegimes(run(nodes, dirty))
    assert(dist === want)
    assert(local === want)
  }

  test("string ids: local min-label agrees with Spark's UTF-8 byte order") {
    // U+10000 is F0 90 80 80 in UTF-8 but a 0xD800 surrogate in UTF-16;
    // U+E000 is EE 80 80 / code unit 0xE000 — the two orders DISAGREE on
    // this pair (UTF-16: astral < U+E000; UTF-8: astral > U+E000). Both
    // regimes must pick Spark's min (UTF-8 byte order ⇒ U+E000), so a
    // java.lang.String.compareTo in the local solver is a labeling bug.
    val astral = new String(Character.toChars(0x10000))
    val bmp = ""
    assert(astral.compareTo(bmp) < 0,       // precondition: orders differ
           "JVM UTF-16 order no longer disagrees — test needs new chars")
    val nodes = Seq(bmp, astral).toDF("id")
    val edges = Seq((astral, bmp)).toDF("src", "dst")
    def labels(): Map[String, String] =
      Cluster.connectedComponents(nodes, edges)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (local, dist) = TestSpark.bothRegimes(labels())
    assert(local === dist)
    assert(local.values.toSet === Set(bmp)) // the UTF-8 minimum, not UTF-16's
  }

  test("dedup_clusters: keepers partition the corpus and sizes add up") {
    // structural invariants on the real gate query (values are pinned by
    // the DuckDB oracle; this guards the Spark-side plumbing)
    val df = Cluster.dedupClusters(spark, TestSpark.sfDir)
    val rows = df.collect()
    val nDocs = Tables.documents(spark, TestSpark.sfDir).count()
    assert(rows.length == nDocs)            // every doc assigned
    assert(rows.forall(r => r.getLong(1) <= r.getLong(0))) // rep = min id
    val bySize = rows.groupBy(_.getLong(1)).view.mapValues(_.length)
    assert(rows.forall(r => bySize(r.getLong(1)) == r.getLong(2))) // sizes
    val keepers = rows.count(r => r.getLong(0) == r.getLong(1))
    assert(keepers == bySize.size)          // exactly one keeper/cluster
  }

  test("cluster_keep_best: keeper IS the longest member, accounting closes") {
    // cross-check against dedup_clusters + documents directly: for every
    // cluster the keeper must be the max-(n_chars, -doc_id) member, and
    // members across all manifest rows must sum to the corpus
    val assign = Cluster.dedupClusters(spark, TestSpark.sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap // doc -> rep
    val chars = Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val manifest = Cluster.clusterKeepBest(spark, TestSpark.sfDir).collect()
    assert(manifest.map(_.getLong(3)).sum == assign.size) // members close
    assert(manifest.forall(r => r.getLong(4) == r.getLong(3) - 1))
    manifest.foreach { r =>
      val (rep, keeper) = (r.getLong(0), r.getLong(1))
      val members = assign.collect { case (d, `rep`) => d }
      val best = members.maxBy(d => (chars(d), -d))
      assert(keeper == best && r.getLong(2) == chars(best),
        s"cluster $rep kept $keeper, expected $best")
    }
  }

  test("split_by_cluster: no verified near-dup pair straddles a split; singletons keep the doc rule") {
    val sfDir = TestSpark.sfDir
    val out = Cluster.splitByCluster(spark, sfDir)
      .select(col("doc_id"), col("cluster_rep"), col("bucket"), col("split"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getString(3))))
      .toMap
    // THE leakage property, to the pair: both endpoints of every
    // verified near-dup pair land in the same split — the contamination
    // channel Lee et al. 2022 §6.2 measure is closed by construction
    val pairs = ext.Dedup.lshPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b")).collect()
    assert(pairs.nonEmpty, "fixture lost its near-dup pairs")
    pairs.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(out(a)._3 == out(b)._3,
        s"pair ($a, $b) straddles splits ${out(a)._3}/${out(b)._3}")
    }
    // singleton degradation: rep = own id ⇒ bucket is exactly the
    // document-level trainTestSplit hash of the id
    val docRule = (id: Long) => {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(hex.take(4), 16) % 100
    }
    out.collect { case (id, (rep, bucket, _)) if rep == id =>
      assert(bucket == docRule(id), s"singleton $id bucket drifted")
    }
    // and the op is not vacuous: some clustered doc's split DIFFERS from
    // what its own id would hash to (the docs the atomic rule rescues)
    val rescued = out.exists { case (id, (rep, bucket, _)) =>
      rep != id && bucket != docRule(id)
    }
    assert(rescued, "no doc's split changed — fixture can't witness atomicity")
    // every member of a cluster shares the rep's split
    out.groupBy(_._2._1).foreach { case (_, ms) =>
      assert(ms.values.map(_._3).toSet.size == 1)
    }
  }

  test("CC small-graph path stays near the job floor (no amplification)") {
    // mirror of GraphSpec's pageRank pin: the default path is the
    // one-task local union-find — 3 eager localCheckpoints (v, sym,
    // result) ≈ 3 jobs each + setup stage jobs + the collect. r11's
    // per-round shape measured 29 on this chain; a return of per-round
    // jobs in the small-graph path lands back there.
    val nodes = (1L to 64L)
    val edges = (1L until 64L).map(i => (i, i + 1))
    val (_, n) = TestSpark.countJobs(
      Cluster.connectedComponents(nodes.toDF("id"), edges.toDF("src", "dst"))
        .collect())
    assert(n <= 25, s"connectedComponents scheduled $n jobs on a 64-chain" +
      " — the small-graph path is amplifying jobs again")
  }
}
