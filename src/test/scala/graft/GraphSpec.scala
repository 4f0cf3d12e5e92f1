package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Graph

/** [[graft.ext.Graph.pageRank]] contract: ranks match a hand-iterated
  * dense witness (same formulation: teleport + damped in-mass + uniform
  * dangling redistribution), total mass is conserved, and edge hygiene
  * (self-loops, duplicates) doesn't change the result. */
class GraphSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Dense reference power iteration over adjacency maps. */
  private def witness(nodes: Seq[Long], edges: Seq[(Long, Long)],
                      iters: Int, d: Double = 0.85): Map[Long, Double] = {
    val e = edges.filter { case (a, b) => a != b }.distinct
    val out = e.groupBy(_._1).map { case (k, v) => k -> v.size }
    val in = e.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    val n = nodes.size
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(out.contains).map(r).sum
      r = nodes.map { v =>
        val mass = in.getOrElse(v, Nil).map(u => r(u) / out(u)).sum
        v -> ((1.0 - d) / n + d * (mass + dangling / n))
      }.toMap
    }
    r
  }

  private def run(nodes: Seq[Long], edges: Seq[(Long, Long)],
                  iters: Int): Map[Long, Double] =
    Graph.pageRank(nodes.toDF("id"), edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def assertClose(a: Map[Long, Double], b: Map[Long, Double]): Unit = {
    assert(a.keySet == b.keySet)
    for (k <- a.keySet)
      assert(math.abs(a(k) - b(k)) < 1e-9, s"node $k: ${a(k)} vs ${b(k)}")
  }

  test("ranks equal the dense witness on a graph with a sink and a hub") {
    // 1,2,3 -> 4 (hub); 4 -> 5; 5 is a sink (dangling); 6 isolated
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L)
    val edges = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 5L))
    val got = run(nodes, edges, iters = 10)
    assertClose(got, witness(nodes, edges, iters = 10))
    // hub's feeder mass lands one hop later on the sink
    assert(got(5L) > got(4L) && got(4L) > got(1L))
  }

  test("total rank mass is conserved at exactly 1 (within fp)") {
    val nodes = (1L to 20L)
    val edges = nodes.flatMap(i => Seq((i, i % 20 + 1), (i, (i * 7) % 20 + 1)))
    val got = run(nodes, edges.distinct, iters = 5)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("edges with endpoints outside nodes are ignored (mass conserved)") {
    // a foreign src would dilute node 1's out-degree, a foreign dst would
    // swallow in-mass, and a fully-foreign edge is irrelevant — the
    // closure semi-joins must make all three invisible
    val nodes = Seq(1L, 2L, 3L)
    val clean = Seq((1L, 2L), (2L, 3L))
    val dirty = clean ++ Seq((1L, 99L), (99L, 2L), (98L, 97L))
    val got = run(nodes, dirty, iters = 6)
    assertClose(got, witness(nodes, clean, iters = 6))
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("distributed loop (local solve forced off) matches the dense witness") {
    // the default small-graph path is the one-task local solve; this
    // pins the DISTRIBUTED rounds — the shape that actually runs at
    // ≥1M graph rows — to the same recurrence, sink/hub/isolated
    // topology included
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L)
    val edges = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 5L))
    val (local, got) = TestSpark.bothRegimes(run(nodes, edges, iters = 10))
    assertClose(got, witness(nodes, edges, iters = 10))
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // and both regimes agree with each other bit-for-bit at ppm grain
    for (k <- local.keySet)
      assert(math.abs(local(k) - got(k)) < 1e-9)
  }

  test("small-graph regime runs ~one job per round, not r10's amplification") {
    // r10 shipped 12 s isolated from ~5 jobs × 10 rounds × bench reps;
    // the single-partition regime must hold the line at one
    // checkpoint job per round plus a handful of setup jobs.
    val nodes = (1L to 30L)
    val edges = nodes.flatMap(i => Seq((i, i % 30 + 1), (i, (i * 7) % 30 + 1)))
    val (_, n) = TestSpark.countJobs(run(nodes, edges.distinct, iters = 10))
    // The small-graph path is now the one-task LOCAL solve: 3 eager
    // localCheckpoints (v, e, result — ~3 jobs each incl. the
    // materialization) plus AQE stage jobs for the setup's
    // distinct/semi-join exchanges and the collect ≈ 15 measured.
    // History: r11's exchange-free single-partition rounds ran ~50
    // (one checkpoint job per round); before that 92; r10's
    // per-round crossJoin/anti-join shape was worse still. A return
    // above this bound means per-round jobs are back in the
    // small-graph path.
    assert(n <= 25, s"pageRank(iters=10) scheduled $n jobs — " +
      "the small-graph path is amplifying jobs again (r10 regression)")
  }

  test("syndication gate projection: dense positions, ppm mass conserved") {
    // the gate emits integers only (r10's float ranks could only ride a
    // rows-only check): positions must be dense 1..n under the pinned
    // order and the ppm-quantized ranks must sum to ~1e6 (rounding slack
    // of half a ppm per row)
    val out = Graph.syndicationPagerank(spark, TestSpark.sfDir).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getLong(1)).toSeq == (1L to out.length).toSeq)
    val ppm = out.map(_.getLong(2)).sum
    assert(math.abs(ppm - 1000000L) <= out.length,
           s"rank_ppm sums to $ppm, expected ~1e6")
  }

  test("self-loops and duplicate edges are ignored") {
    val nodes = Seq(1L, 2L, 3L)
    val clean = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val dirty = clean ++ Seq((1L, 1L), (1L, 2L), (1L, 2L), (2L, 2L))
    assertClose(run(nodes, dirty, iters = 6), run(nodes, clean, iters = 6))
    // a 3-cycle is symmetric: all ranks equal 1/3
    val got = run(nodes, clean, iters = 6)
    for (v <- got.values) assert(math.abs(v - 1.0 / 3) < 1e-9)
  }
}
