package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[ext.Unigram]]'s training semantics on hand-computed corpora
  * and [[functions.UnigramEncode]]'s Viterbi contract — the
  * definitional properties (integer-cost DP, tie order, OOV fallback,
  * fixed-point log parity) behind the DuckDB gates. */
class UnigramSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def enc(text: String, table: (String, Long)*): Seq[String] =
    Seq(text).toDF("text")
      .select(functions.UnigramEncode(col("text"),
        array(table.map(p => lit(p._1)): _*).cast("array<string>"),
        array(table.map(p => lit(p._2)): _*).cast("array<bigint>")).as("t"))
      .head.getSeq[String](0)

  /** Plain-Scala witness of the fixed-point log2 — the same loop the
    * expression and the oracle's list_reduce must both land on. */
  private def refIlog(c: Long): Long = {
    val e = 63 - java.lang.Long.numberOfLeadingZeros(c)
    var m = if (e > 30) c >> (e - 30) else c << (30 - e)
    var y = e.toLong
    for (_ <- 0 until 16) {
      val m2 = (m * m) >> 30
      if (m2 >= (1L << 31)) { m = m2 >> 1; y = y * 2 + 1 } else { m = m2; y = y * 2 }
    }
    y
  }

  test("ilog2_fp matches the reference loop and brackets log2 within 2^-16 * 2") {
    val cs = Seq(1L, 2L, 3L, 7L, 37L, 1000L, 65536L, 1000000007L,
      1L << 40, (1L << 62) - 1)
    val got = cs.toDF("c")
      .select(functions.ILog2Fp(col("c")).as("y"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == cs.map(refIlog))
    // accuracy: the fixed-point value is log2(c)*2^16 up to truncation
    for ((c, y) <- cs.zip(got)) {
      val exact = math.log(c.toDouble) / math.log(2.0) * 65536.0
      assert(math.abs(y - exact) <= 2.0 + 1e-6,
        s"ilog2_fp($c)=$y vs exact $exact")
    }
    // non-positive input is null, not garbage
    assert(Seq(0L).toDF("c").select(functions.ILog2Fp(col("c"))).head.isNullAt(0))
  }

  test("Viterbi picks the min-cost segmentation over exact integer sums") {
    // [ab]=15 beats [a,b]=20
    assert(enc("ab", "a" -> 10L, "b" -> 10L, "ab" -> 15L) == Seq("ab"))
    // and the reverse when the pair is cheap
    assert(enc("ab", "a" -> 5L, "b" -> 5L, "ab" -> 15L) == Seq("a", "b"))
  }

  test("cost tie breaks on fewer pieces, then lexicographically smallest sequence") {
    // equal cost 20: [ab] (1 piece) beats [a,b] (2 pieces)
    assert(enc("ab", "a" -> 10L, "b" -> 10L, "ab" -> 20L) == Seq("ab"))
    // equal cost, equal count: ["a","ab"] < ["aa","b"] — shortest first
    // piece wins (the enumeration oracle's ORDER BY ps)
    assert(enc("aab", "a" -> 10L, "b" -> 10L, "aa" -> 10L, "ab" -> 10L)
      == Seq("a", "ab"))
  }

  test("out-of-vocabulary text degrades to code points, never fails") {
    // unseen single char segments at OovCost
    assert(enc("axb", "a" -> 10L, "b" -> 10L) == Seq("a", "x", "b"))
    // an OOV multi-char piece is never emitted even when chars are costly
    assert(enc("xy") == Seq("x", "y"))
    // OovCost dominates any trained path: "ab" in vocab must win over
    // per-char OOV even though vocab is tiny
    assert(enc("ab", "ab" -> 1000000L) == Seq("ab"))
    // spacing / empty words
    assert(enc("  a  b ", "a" -> 1L, "b" -> 1L) == Seq("a", "b"))
    assert(enc("", "a" -> 1L).isEmpty)
    // multi-byte code points stay whole
    assert(enc("éä") == Seq("é", "ä"))
    assert(enc("éä", "éä" -> 1L) == Seq("éä"))
  }

  test("training keeps the char alphabet, prunes multis, and encodes consistently") {
    val docs = Seq("low low low lower lowest west west").toDF("text")
    val fin = ext.Unigram.trainFrame(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val (singles, multis) = fin.partition(_._1.length == 1)
    // fallback alphabet: every corpus character survives training
    assert(singles.map(_._1).sorted.toSeq ==
      Seq("e", "l", "o", "r", "s", "t", "w"))
    // multis bounded by the final prune size
    assert(multis.nonEmpty && multis.length <= 20)
    // the dominant whole words are worth keeping as pieces
    assert(multis.map(_._1).contains("low"))
    // costs are the add-one-smoothed fixed-point logs: recompute from
    // the table's own counts
    val tot = fin.map(_._2 + 1).sum
    for ((p, n, c) <- fin)
      assert(c == refIlog(tot) - refIlog(n + 1), s"cost($p)")
    // counts partition the corpus: Viterbi used each piece n times, so
    // total chars covered == corpus chars (every char covered once)
    val corpusChars = "low low low lower lowest west west".count(_ != ' ')
    assert(fin.map { case (p, n, _) => p.length * n }.sum == corpusChars)
  }

  test("frozen apply: unseen words segment under trained pieces + fallback") {
    val hist = Seq("low low low lower lowest").toDF("text")
    val art = ext.Unigram.artifact(ext.Unigram.trainFrame(hist))
    val toks = Seq("lowz").toDF("text").crossJoin(broadcast(art))
      .select(functions.UnigramEncode(col("text"), col("pieces"),
        col("costs")).as("t"))
      .head.getSeq[String](0)
    // "low" is a trained piece; "z" was never seen — code-point fallback
    assert(toks.head == "low" && toks.last == "z")
  }

  test("incremental fertility partitions unigram_apply's per-doc encode to the row") {
    import TestSpark.sfDir
    // the drift monitor's per-lang sums must equal the frozen apply
    // gate's per-doc token counts aggregated by language — one shared
    // artifact, one shared encode, two reading scopes
    val perDoc = ext.Unigram.unigramApply(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select("doc_id", "lang"), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_unigram_tokens")).as("n_tokens"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val inc = ext.Unigram.unigramFertilityIncremental(spark, sfDir).collect()
    assert(inc.nonEmpty)
    inc.foreach { r =>
      val (docs, toks) = perDoc(r.getString(0))
      assert(r.getLong(1) == docs, s"lang ${r.getString(0)} n_docs drifted")
      assert(r.getLong(3) == toks, s"lang ${r.getString(0)} n_tokens drifted")
    }
  }

  test("building the trainer starts no Spark job") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val (_, jobs) = TestSpark.countJobs(ext.Unigram.trainFrame(docs))
    assert(jobs == 0, s"building the Unigram trainer started $jobs jobs")
  }

  test("a dictionary above the bound fails the query with the bound in its message") {
    val msg = TestSpark.dictionaryOverBound(ext.Unigram.trainFrame(_))
    assert(msg.contains(s"${ext.LocalTrain.MaxDictRows + 1} distinct words") &&
           msg.contains(ext.LocalTrain.MaxDictRows.toString), msg)
  }
}
