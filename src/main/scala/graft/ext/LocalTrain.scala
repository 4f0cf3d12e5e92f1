package graft.ext

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-task LOCAL solvers for the iterative TRAINER operators —
  * [[Iterate]]'s job-count argument applied beyond graphs.
  *
  * Why they exist (r21 measurement): at gate scale the trainer loops'
  * cost is not computation but JOB COUNT. Every round of a distributed
  * trainer loop runs 1–2 eager localCheckpoint jobs over a
  * dictionary/vocabulary/codebook of a few hundred rows — 0.05–0.13 s of
  * scheduling overhead per job on this harness, which at gate scale was
  * >80% of each trainer's wall-clock (bpe_merges: ~1.8 s of 2.0 s). The
  * fastest correct plan is one task that materializes the state and
  * iterates in memory.
  *
  * Two kinds of solver live here:
  *
  *   - the DICTIONARY trainers [[bpeLocal]] and [[unigramLocal]] are the
  *     only trainers of their families ([[Bpe.trainBpeFrame]],
  *     [[Unigram.trainFrame]]). They train on the word-count dictionary,
  *     whose size is the vocabulary, not the corpus — the single-process
  *     design of Sennrich et al.'s BPE and of SentencePiece. Each checks
  *     [[MaxDictRows]] as it reads rows, inside its task, and fails the
  *     query loudly above it;
  *   - the FORKED solvers [[gdLocal]] ([[Classifier]]'s GD) and
  *     [[lloydLocal]] ([[KMeans]]/[[Pq]]'s Lloyd loop) take data-sized
  *     inputs. Their callers pick them through [[Iterate.solveLocally]]
  *     from a COUNTED size against [[Iterate.MaxGraphRows]] or
  *     [[Iterate.MaxVecRows]]; the distributed loops stay the at-scale
  *     path and keep spec coverage via [[Iterate.distributedOnly]].
  *
  * Parity is the design constraint for the forked pair: each replays the
  * distributed loop's EXACT arithmetic — strict left-to-right IEEE dots
  * ([[graft.functions.ArrayDot]]'s order), integer fixed-point sums
  * (order-free), and Spark's own orderings (doubles with NaN-largest /
  * −0.0 = 0.0) — so both regimes produce bit-identical frames
  * (LocalTrainSpec pins each pair). The dictionary trainers share their
  * kernels with the encoders ([[graft.functions.UnigramEncode.compute]],
  * [[graft.functions.ILog2Fp.compute]], [[graft.functions.BpeEncode]]'s
  * merge pass) and order strings as Spark does (UTF-8 bytes via
  * UTF8String); the DuckDB oracles are their independent reference.
  *
  * Input convention ([[Iterate]]'s): each solver coalesces its input to
  * ONE partition and runs the whole multi-round loop inside
  * `mapPartitions` — one narrow read, no driver-side collect.
  */
private[graft] object LocalTrain {

  /** Row ceiling for the dictionary trainers ([[bpeLocal]],
    * [[unigramLocal]]): distinct (word, count) rows. The solvers hold the
    * whole dictionary in one task's heap, and the bound keeps that heap
    * small; the gate corpus has 31 distinct words. Past the bound the
    * query fails with the bound in its message. */
  val MaxDictRows = 1000000L

  /** The (word, n) dictionary rows of one task, failing it when more
    * than [[MaxDictRows]] arrive. The message names the bound and the
    * dictionary's full size: the rows past the bound are counted, not
    * kept. */
  private def readDict(it: Iterator[Row]): (ArrayBuffer[String], ArrayBuffer[Long]) = {
    val words = ArrayBuffer.empty[String]
    val freqs = ArrayBuffer.empty[Long]
    while (it.hasNext) {
      val r = it.next()
      if (words.length >= MaxDictRows)
        throw new IllegalArgumentException(
          s"word dictionary has ${words.length + 1L + it.size} distinct " +
          s"words, more than the $MaxDictRows a one-task trainer holds " +
          "(LocalTrain.MaxDictRows)")
      words += r.getString(0); freqs += r.getLong(1)
    }
    (words, freqs)
  }

  /** Spark's UTF-8-byte string order ([[Iterate]]'s cmp rationale:
    * java.lang.String orders by UTF-16 code unit, which disagrees for
    * astral-plane vs [U+E000, U+FFFF] comparisons). */
  private def utf8Cmp(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Spark SQL's DoubleType ordering: NaN greatest (equal to itself),
    * −0.0 = 0.0 — the order `min(struct(score, cell))` uses. */
  private def sparkDoubleCmp(a: Double, b: Double): Int = {
    val an = java.lang.Double.isNaN(a); val bn = java.lang.Double.isNaN(b)
    if (an && bn) 0
    else if (an) 1
    else if (bn) -1
    else if (a < b) -1
    else if (a > b) 1
    else 0
  }

  /** Strict left-to-right double dot — [[graft.functions.ArrayDot]]'s
    * accumulation order, so scores round identically. */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Code-point symbols of `w` — [[graft.functions.BpeEncode]]'s initial
    * segmentation (and the SQL `substr(i, 1)` spelling's, both count
    * code points). */
  private def codePoints(w: String): Array[String] = {
    val out = ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cc = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + cc)
      i += cc
    }
    out.toArray
  }

  // ---------------------------------------------------------------- BPE

  /** [[Bpe.trainBpeFrame]]'s K-round merge loop in one task over the
    * (word, n) dictionary; emits the (rank, a, b) winner rows: per round,
    * pair counts weighted by word frequency, winner = max count with ties
    * broken by (a, b) UTF-8 byte order, then one left-to-right
    * non-overlapping merge pass per word ([[graft.functions.BpeEncode]]'s
    * per-rank pass, and the oracle's boundary-exact `replace`). An
    * exhausted pair space emits no row for that rank. */
  def bpeLocal(wd: DataFrame, numMerges: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("rank", LongType, nullable = false),
      StructField("a", StringType, nullable = true),
      StructField("b", StringType, nullable = true)))
    wd.select(col("word"), col("n")).coalesce(1).mapPartitions { it =>
      val (dict, freqs) = readDict(it)
      val words = dict.map(codePoints)
      val out = ArrayBuffer.empty[Row]
      var k = 1
      while (k <= numMerges) {
        val cnt = new java.util.HashMap[(String, String), java.lang.Long]
        var wi = 0
        while (wi < words.length) {
          val s = words(wi); val n = freqs(wi)
          var i = 0
          while (i + 1 < s.length) {
            cnt.merge((s(i), s(i + 1)), n,
              (x, y) => java.lang.Long.valueOf(x.longValue() + y.longValue()))
            i += 1
          }
          wi += 1
        }
        if (!cnt.isEmpty) {
          var ba: String = null; var bb: String = null
          var bc = Long.MinValue
          cnt.forEach { (p, c) =>
            val cv = c.longValue()
            val better = cv > bc || (cv == bc && {
              val ca = utf8Cmp(p._1, ba)
              ca < 0 || (ca == 0 && utf8Cmp(p._2, bb) < 0)
            })
            if (better) { ba = p._1; bb = p._2; bc = cv }
          }
          out += Row(k.toLong, ba, bb)
          wi = 0
          while (wi < words.length) {
            val s = words(wi)
            // left-to-right non-overlapping merge — the fold's pass
            val next = ArrayBuffer.empty[String]
            var j = 0
            while (j < s.length) {
              if (j + 1 < s.length && s(j) == ba && s(j + 1) == bb) {
                next += (ba + bb); j += 2
              } else { next += s(j); j += 1 }
            }
            words(wi) = next.toArray
            wi += 1
          }
        }
        k += 1
      }
      out.iterator
    }(Encoders.row(outSchema))
  }

  // ----------------------------------------------------------- Unigram

  /** [[Unigram.trainFrame]]'s seed + EM + prune chain in one task over
    * the (word, n) dictionary; emits the final costed table
    * (piece, n, cost). The Viterbi E-step calls [[graft.functions
    * .UnigramEncode.compute]] itself (one shared kernel with the encoder)
    * and costs come from [[graft.functions.ILog2Fp.compute]] — both pure
    * integer, so no rounding question even arises. */
  def unigramLocal(wd: DataFrame, maxPieceLen: Int, seedMulti: Int,
                   pruneSchedule: Seq[Int]): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("piece", StringType, nullable = true),
      StructField("n", LongType, nullable = true),
      StructField("cost", LongType, nullable = true)))
    wd.select(col("word"), col("n")).coalesce(1).mapPartitions { it =>
      val (words, freqs) = readDict(it)

      def cpLen(s: String): Int = s.codePointCount(0, s.length)

      // prune rule shared by seed and EM rounds: every single-char piece
      // survives (the fallback alphabet), multi-char keep top-K by
      // (count desc, piece asc by UTF-8 bytes)
      def prune(counts: Iterable[(String, Long)], keep: Int): ArrayBuffer[(String, Long)] = {
        val singles = ArrayBuffer.empty[(String, Long)]
        val multis = ArrayBuffer.empty[(String, Long)]
        counts.foreach { pn => if (cpLen(pn._1) == 1) singles += pn else multis += pn }
        val top = multis.sortWith { (x, y) =>
          if (x._2 != y._2) x._2 > y._2 else utf8Cmp(x._1, y._1) < 0
        }.take(keep)
        singles ++ top
      }

      // seed: every substring occurrence of code-point length 1..maxPieceLen
      val seedCnt = new java.util.HashMap[String, java.lang.Long]
      var wi = 0
      while (wi < words.length) {
        val w = words(wi); val n = freqs(wi)
        val cps = codePoints(w)
        var i = 0
        while (i < cps.length) {
          val sb = new java.lang.StringBuilder
          var j = i
          while (j < math.min(cps.length, i + maxPieceLen)) {
            sb.append(cps(j))
            seedCnt.merge(sb.toString, n,
              (x, y) => java.lang.Long.valueOf(x.longValue() + y.longValue()))
            j += 1
          }
          i += 1
        }
        wi += 1
      }
      import scala.jdk.CollectionConverters._
      var vocab = prune(
        seedCnt.asScala.map { case (p, c) => (p, c.longValue()) }, seedMulti)

      def costed(v: ArrayBuffer[(String, Long)]): Array[Long] = {
        var tot = 0L
        v.foreach { pn => tot += pn._2 + 1 }
        val ct = graft.functions.ILog2Fp.compute(tot)
        v.map(pn => ct - graft.functions.ILog2Fp.compute(pn._2 + 1)).toArray
      }

      for (k <- pruneSchedule) {
        val costs = costed(vocab)
        // the shared Viterbi kernel — identical table, identical DP
        val piecesAd = new org.apache.spark.sql.catalyst.util.GenericArrayData(
          vocab.map(pn => UTF8String.fromString(pn._1): Any).toArray)
        val costsAd = new org.apache.spark.sql.catalyst.util.GenericArrayData(
          costs.map(c => c: Any))
        val recount = new java.util.HashMap[String, java.lang.Long]
        wi = 0
        while (wi < words.length) {
          val toks = graft.functions.UnigramEncode.compute(
            UTF8String.fromString(words(wi)), piecesAd, costsAd)
          val n = freqs(wi)
          var t = 0
          while (t < toks.numElements()) {
            recount.merge(toks.getUTF8String(t).toString, n,
              (x, y) => java.lang.Long.valueOf(x.longValue() + y.longValue()))
            t += 1
          }
          wi += 1
        }
        vocab = prune(
          vocab.map { case (p, _) =>
            val c = recount.get(p)
            (p, if (c == null) 0L else c.longValue())
          }, k)
      }

      val finalCosts = costed(vocab)
      vocab.iterator.zip(finalCosts.iterator).map { case ((p, n), c) =>
        Row(p, n, c)
      }
    }(Encoders.row(outSchema))
  }

  // ----------------------------------------------------- Classifier GD

  /** [[Classifier]]'s R-round full-batch GD in one task over the (y, x)
    * feature rows; returns (1-row weight frame, final gradient table) as
    * views over one checkpointed tagged frame — the same pair the
    * distributed loop hands back. Arithmetic parity: z via the strict
    * left-to-right dot, the algebraic sigmoid's IEEE ops in the same
    * association, per-row contributions floored to exact BIGINTs (so the
    * sum order the distributed aggregate varies over never mattered),
    * and the update's `w − lr·(qsum/10⁶/n)` association preserved. */
  def gdLocal(feats: DataFrame, rounds: Int, numDims: Int,
              lr: Double): (DataFrame, DataFrame) = {
    val schema = StructType(Seq(
      StructField("t", IntegerType, nullable = false),
      StructField("dim", LongType, nullable = true),
      StructField("qsum", LongType, nullable = true),
      StructField("n", LongType, nullable = true),
      StructField("w", ArrayType(DoubleType), nullable = true)))
    val combined = feats.select(col("y"), col("x")).coalesce(1)
      .mapPartitions { it =>
        val ys = ArrayBuffer.empty[Long]
        val xs = ArrayBuffer.empty[Array[Double]]
        it.foreach { r => ys += r.getLong(0); xs += r.getSeq[Double](1).toArray }
        val nRows = ys.length.toLong
        var w = Array.fill(numDims)(0.0)
        var qsum = new Array[Long](numDims)
        for (_ <- 1 to rounds) {
          qsum = new Array[Long](numDims)
          var i = 0
          while (i < xs.length) {
            val x = xs(i)
            val z = dot(x, w)
            val p = 0.5 + z / (2.0 * (1.0 + math.abs(z)))
            var d = 0
            while (d < numDims) {
              qsum(d) += math.floor((p - ys(i).toDouble) * x(d) * 1000000.0).toLong
              d += 1
            }
            i += 1
          }
          if (nRows > 0) {
            val next = new Array[Double](numDims)
            var d = 0
            while (d < numDims) {
              next(d) = w(d) - lr * (qsum(d).toDouble / 1e6 / nRows.toDouble)
              d += 1
            }
            w = next
          } else w = Array.empty[Double] // the empty-input aggregate's shape
        }
        val rows = ArrayBuffer.empty[Row]
        rows += Row(0, null, null, null, w.toSeq)
        if (nRows > 0)
          for (d <- 0 until numDims) rows += Row(1, d.toLong, qsum(d), nRows, null)
        rows.iterator
      }(Encoders.row(schema))
      .localCheckpoint() // ONE job runs the whole loop; both views below share it
    (combined.filter(col("t") === 0).select(col("w")),
     combined.filter(col("t") === 1).select(col("dim"), col("qsum"), col("n")))
  }

  // ------------------------------------------------------ Lloyd (PQ/KM)

  /** The grouped Lloyd loop ([[Pq.loop]]; [[KMeans]] is the one-group
    * instance) in one task; returns (codebook (sub, cell, cv), final
    * update table (sub, cell, dim, qsum, n)) as views over one
    * checkpointed tagged frame. Parity: score = |c|² − 2·v·c with
    * left-to-right dots, argmin by (score, cell) under Spark's double
    * order, fixed-point update sums (exact, order-free), centroid
    * rebuild `qsum/10⁶/n` in the same association, emptied cells keep
    * their previous codeword. */
  def lloydLocal(subVecs: DataFrame, codebook0: DataFrame,
                 rounds: Int): (DataFrame, DataFrame) = {
    val schema = StructType(Seq(
      StructField("t", IntegerType, nullable = false),
      StructField("sub", LongType, nullable = true),
      StructField("cell", LongType, nullable = true),
      StructField("cv", ArrayType(DoubleType), nullable = true),
      StructField("dim", IntegerType, nullable = true),
      StructField("qsum", LongType, nullable = true),
      StructField("n", LongType, nullable = true)))
    val tagged = subVecs
      .select(lit(0).as("t"), col("sub"),
        lit(null).cast(LongType).as("cell"), col("sv").as("arr"))
      .unionByName(codebook0.select(lit(1).as("t"), col("sub"),
        col("cell"), col("cv").as("arr")))
      .coalesce(1)
    val combined = tagged.mapPartitions { it =>
      val vSub = ArrayBuffer.empty[Long]
      val vArr = ArrayBuffer.empty[Array[Double]]
      // codebook: per sub, sorted cell list not required — keep insertion
      val cbSub = ArrayBuffer.empty[Long]
      val cbCell = ArrayBuffer.empty[Long]
      val cbArr = ArrayBuffer.empty[Array[Double]]
      it.foreach { r =>
        if (r.getInt(0) == 0) { vSub += r.getLong(1); vArr += r.getSeq[Double](3).toArray }
        else { cbSub += r.getLong(1); cbCell += r.getLong(2); cbArr += r.getSeq[Double](3).toArray }
      }
      val nCb = cbSub.length
      // last round's per-(sub, cell) sums
      var lastQ: java.util.HashMap[(Long, Long), (Array[Long], Long)] = null
      for (_ <- 1 to rounds) {
        val q = new java.util.HashMap[(Long, Long), (Array[Long], Long)]
        var i = 0
        while (i < vSub.length) {
          val sv = vArr(i); val sub = vSub(i)
          var bestScore = 0.0; var bestCell = 0L; var found = false
          var c = 0
          while (c < nCb) {
            if (cbSub(c) == sub) {
              val cv = cbArr(c)
              val score = dot(cv, cv) - 2.0 * dot(sv, cv)
              val better = !found || {
                val sc = sparkDoubleCmp(score, bestScore)
                sc < 0 || (sc == 0 && cbCell(c) < bestCell)
              }
              if (better) { bestScore = score; bestCell = cbCell(c); found = true }
            }
            c += 1
          }
          if (found) {
            val key = (sub, bestCell)
            val cur = q.get(key)
            val (sums, n) =
              if (cur == null) (new Array[Long](sv.length), 0L) else cur
            var d = 0
            while (d < sv.length) {
              sums(d) += math.floor(sv(d) * 1e6).toLong
              d += 1
            }
            q.put(key, (sums, n + 1))
          }
          i += 1
        }
        // rebuild: updated cells get qsum/1e6/n per dim; others keep cv
        var c = 0
        while (c < nCb) {
          val upd = q.get((cbSub(c), cbCell(c)))
          if (upd != null) {
            val (sums, n) = upd
            val cv = new Array[Double](sums.length)
            var d = 0
            while (d < sums.length) {
              cv(d) = sums(d).toDouble / 1e6 / n.toDouble
              d += 1
            }
            cbArr(c) = cv
          }
          c += 1
        }
        lastQ = q
      }
      val rows = ArrayBuffer.empty[Row]
      var c = 0
      while (c < nCb) {
        rows += Row(0, cbSub(c), cbCell(c), cbArr(c).toSeq, null, null, null)
        c += 1
      }
      if (lastQ != null) lastQ.forEach { (key, v) =>
        val (sums, n) = v
        var d = 0
        while (d < sums.length) {
          rows += Row(1, key._1, key._2, null, d, sums(d), n)
          d += 1
        }
      }
      rows.iterator
    }(Encoders.row(schema))
      .localCheckpoint() // ONE job runs all rounds; both views share it
    (combined.filter(col("t") === 0).select(col("sub"), col("cell"), col("cv")),
     combined.filter(col("t") === 1)
       .select(col("sub"), col("cell"), col("dim"), col("qsum"), col("n")))
  }
}
