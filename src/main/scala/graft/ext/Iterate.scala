package graft.ext

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** The local-vs-distributed regime decision for every iterative operator,
  * and the one-task LOCAL solvers for the graph operators' small-graph
  * regime ([[Graph.pageRank]], [[Cluster.connectedComponents]]).
  *
  * Why local solvers exist: below ~1M graph rows the distributed loops'
  * cost is not computation but JOB COUNT — every round is at least one
  * eager localCheckpoint job, measured 0.10–0.13 s of scheduling overhead
  * per round on a 20-node graph (r12's `syndication_pagerank` spent
  * ~1.3 s of its 4.9 s there). When the whole graph provably fits one
  * partition, the fastest correct plan is one task that materializes the
  * partition and iterates in memory — genuine per-partition imperative
  * logic, which is exactly the case where `mapPartitions` is the
  * idiomatic Spark tool rather than a workaround.
  *
  * The decision: every fork (the two graph operators here, the five
  * [[LocalTrain]] trainers) calls [[solveLocally]] with a size it COUNTED
  * and one of three code-owned bounds — [[MaxGraphRows]],
  * [[MaxVecRows]], [[MaxDictRows]]. No deployment setting moves them; the
  * distributed loops stay the scale path above the bounds, and specs
  * cover them on test-sized inputs through [[distributedOnly]].
  *
  * Input convention: both solvers take the operator's already-hygienic
  * CHECKPOINTED frames (dedup'd edges, closure-semi-joined to the node
  * set), tag node rows and edge rows into one narrow union, and coalesce
  * it to a single partition — one narrow read of the checkpoint blocks,
  * no shuffle, no driver-side collect (the graph lives in an executor
  * task, bounded by [[MaxGraphRows]]).
  */
private[graft] object Iterate {

  /** Row ceiling for the graph and feature-frame local regimes
    * ([[pageRankLocal]], [[ccLocal]], [[LocalTrain.gdLocal]]), stricter
    * than the ~1M-rows-per-task partition heuristic the distributed loops
    * size themselves by. The solvers hold the whole input as boxed values
    * in one task's heap — ids + edge endpoints + two HashMaps ≈ 120–180
    * bytes/row — so 1M rows would be ~150 MB of single-task heap, an
    * avoidable OOM risk on small executors. At 200k the local graph is
    * ≤ ~35 MB and the job-count saving the regime exists for is already
    * fully captured: gate graphs are O(100–10k) rows, and a graph above
    * 200k rows amortizes round-job overhead fine distributed. */
  val MaxGraphRows = 200000L

  /** Row ceiling for the VECTOR local regime ([[LocalTrain.lloydLocal]]):
    * each row carries a dense double array, not two scalars — at 65,536
    * rows of the gate fixtures' 64-dim vectors the one-task state is
    * ≤ ~34 MB of primitive doubles, the same order as the graph regime's
    * budget. Above it the distributed Lloyd loop amortizes its round
    * jobs fine. */
  val MaxVecRows = 65536L

  /** Row ceiling for the DICTIONARY local regimes ([[LocalTrain.bpeLocal]],
    * [[LocalTrain.unigramLocal]]): distinct (word, count) rows — a
    * gate-scale vocabulary fits one task; a web-scale one keeps the
    * distributed width. */
  val MaxDictRows = 1000000L

  /** Set only inside [[distributedOnly]], on the calling thread. Not
    * inheritable: a pool thread first started inside the scope must not
    * keep the forced answer after it. */
  private val forceDistributed =
    ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** The one regime predicate: solve in one task when the counted `rows`
    * fit `bound`. `rows` is by-name so a forced-distributed run does not
    * pay the count job. Every caller decides on the driver thread while
    * it builds the plan (the counts are eager), which is what lets
    * [[distributedOnly]] reach it. */
  def solveLocally(rows: => Long, bound: Long): Boolean =
    !forceDistributed.get && rows <= bound

  /** Run `body` with every [[solveLocally]] decision it makes on this
    * thread answering false — how specs cover the distributed loops on
    * test-sized inputs. Not reachable from any deployment setting. */
  private[graft] def distributedOnly[T](body: => T): T = {
    val prev = forceDistributed.get
    forceDistributed.set(true)
    try body finally forceDistributed.set(prev)
  }

  /** External-row values of orderable Spark SQL types (numerics, Decimal,
    * Date, Timestamp) implement Comparable with the natural order Spark's
    * `min` uses — EXCEPT String: `java.lang.String.compareTo` orders by
    * UTF-16 code unit, while Spark's `min` on StringType orders by UTF-8
    * byte (= code point). The two disagree exactly when one side holds an
    * astral-plane char (surrogate pair, code units 0xD800–0xDFFF) and the
    * other a BMP char in [U+E000, U+FFFF] — "" < "𐀀" in UTF-16 but
    * > in UTF-8. The local [[ccLocal]] min-label must agree with the
    * distributed loop's `min(col("label"))` exactly, so Strings compare
    * through UTF8String (ClusterSpec pins the astral case). */
  private def cmp(a: Any, b: Any): Int = a match {
    case s: String =>
      org.apache.spark.unsafe.types.UTF8String.fromString(s)
        .compareTo(org.apache.spark.unsafe.types.UTF8String
          .fromString(b.asInstanceOf[String]))
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** (tag=0, id, null) node rows ++ (tag=1, src, dst) edge rows, merged
    * narrowly onto one partition. */
  private def tagged(v: DataFrame, e: DataFrame): DataFrame = {
    val idType = v.schema("id").dataType
    v.select(lit(0).as("t"), col("id").as("a"),
             lit(null).cast(idType).as("b"))
      .unionByName(e.select(lit(1).as("t"),
                            col("src").as("a"), col("dst").as("b")))
      .coalesce(1)
  }

  /** Damped PageRank solved in one task. Mirrors the distributed loop's
    * recurrence exactly (teleport + damped in-mass + uniform dangling
    * redistribution, `(1−d)/n + d·(mass + dangling/n)` associated the
    * same way), so both regimes match GraphSpec's dense witness within
    * fp tolerance.
    *
    * @param v checkpointed distinct node frame, one column `id`
    * @param e checkpointed hygienic edge frame (`src`, `dst`): dedup'd,
    *          self-loop-free, closed over `v`
    */
  def pageRankLocal(v: DataFrame, e: DataFrame, n: Long,
                    iters: Int, damping: Double): DataFrame = {
    val outSchema = StructType(Seq(
      v.schema("id"), StructField("rank", DoubleType, nullable = false)))
    tagged(v, e).mapPartitions { it =>
      val ids = ArrayBuffer.empty[Any]
      val srcs = ArrayBuffer.empty[Any]
      val dsts = ArrayBuffer.empty[Any]
      it.foreach { r =>
        if (r.getInt(0) == 0) ids += r.get(1)
        else { srcs += r.get(1); dsts += r.get(2) }
      }
      val deg = new java.util.HashMap[Any, Long]
      srcs.foreach(s => deg.merge(s, 1L, (x, y) => x + y))
      var rank = new java.util.HashMap[Any, Double]
      ids.foreach(id => rank.put(id, 1.0 / n))
      for (_ <- 1 to iters) {
        var dangling = 0.0
        ids.foreach(id => if (!deg.containsKey(id)) dangling += rank.get(id))
        val mass = new java.util.HashMap[Any, Double]
        var i = 0
        while (i < srcs.length) {
          val share = rank.get(srcs(i)) / deg.get(srcs(i))
          mass.merge(dsts(i), share, (x, y) => x + y)
          i += 1
        }
        val next = new java.util.HashMap[Any, Double]
        ids.foreach { id =>
          next.put(id, (1.0 - damping) / n
            + damping * (mass.getOrDefault(id, 0.0) + dangling / n))
        }
        rank = next
      }
      val r = rank
      ids.iterator.map(id => Row(id, r.get(id)))
    }(Encoders.row(outSchema))
  }

  /** Connected components solved in one task: path-compressed union-find
    * with union-by-MIN root — the same labels (min reachable id) the
    * distributed pointer-jumping loop converges to, exactly.
    *
    * @param v   checkpointed distinct node frame, one column `id`
    * @param sym checkpointed symmetric dedup'd edge frame closed over `v`
    */
  def ccLocal(v: DataFrame, sym: DataFrame): DataFrame = {
    val idField = v.schema("id")
    val outSchema = StructType(Seq(idField, idField.copy(name = "label")))
    tagged(v, sym).mapPartitions { it =>
      val ids = ArrayBuffer.empty[Any]
      val parent = new java.util.HashMap[Any, Any]
      val srcs = ArrayBuffer.empty[Any]
      val dsts = ArrayBuffer.empty[Any]
      it.foreach { r =>
        if (r.getInt(0) == 0) { ids += r.get(1); parent.put(r.get(1), r.get(1)) }
        else { srcs += r.get(1); dsts += r.get(2) }
      }
      def find(x: Any): Any = {
        var root = x
        while (parent.get(root) != root) root = parent.get(root)
        var c = x
        while (parent.get(c) != root) {
          val nxt = parent.get(c); parent.put(c, root); c = nxt
        }
        root
      }
      var i = 0
      while (i < srcs.length) {
        val (ra, rb) = (find(srcs(i)), find(dsts(i)))
        if (ra != rb) {
          if (cmp(ra, rb) < 0) parent.put(rb, ra) else parent.put(ra, rb)
        }
        i += 1
      }
      ids.iterator.map(id => Row(id, find(id)))
    }(Encoders.row(outSchema))
  }
}
