package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[ext.Bpe]]'s training semantics on a hand-computed corpus and
  * [[functions.BpeEncode]]'s encoding contract — the definitional
  * properties behind the DuckDB gate (which pins the full corpus run). */
class BpeSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def enc(text: String, merges: Seq[String]): Seq[String] =
    Seq(text).toDF("text")
      .select(functions.BpeEncode(col("text"),
        array(merges.map(lit): _*).cast("array<string>")).as("t"))
      .head.getSeq[String](0)

  test("training follows the hand-computed merge order and stops when dry") {
    // dict: "aa"×2 (pairs (a,a)×2), "ab"×1 ((a,b)×1)
    // round 1 must pick (a,a); round 2 picks (a,b); round 3 finds no
    // pair — the merge table simply ends (no junk rows, no empty dict)
    val docs = Seq("aa aa ab").toDF("text")
    val merges = ext.Bpe.trainBpeFrame(docs, numMerges = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(merges.toSeq == Seq((1L, "a", "a"), (2L, "a", "b")))
  }

  test("frequency weighting: the corpus-frequent pair wins over the dictionary-frequent one") {
    // (x,y) appears in ONE word repeated 5 times; (p,q) in two distinct
    // words once each — weighting by word frequency must pick (x,y)
    val docs = Seq("xy xy xy xy xy pq", "pqr").toDF("text")
    val first = ext.Bpe.trainBpeFrame(docs, numMerges = 1).collect()
    assert((first(0).getString(1), first(0).getString(2)) == ("x", "y"))
  }

  test("encoder applies merges in rank order with non-overlapping passes") {
    // rank 1 (a,b) consumes the middle b before rank 2 (b,c) can see it
    assert(enc("abc", Seq("a b", "b c")) == Seq("ab", "c"))
    // reversed ranks: (b,c) first leaves the a alone
    assert(enc("abc", Seq("b c", "a b")) == Seq("a", "bc"))
    // non-overlapping left-to-right: bbb with (b,b) → [bb, b]
    assert(enc("bbb", Seq("b b")) == Seq("bb", "b"))
    // chained ranks rebuild the whole word
    assert(enc("abab", Seq("a b", "ab ab")) == Seq("abab"))
  }

  test("encoder corners: empty text, spacing, unseen symbols, unicode") {
    assert(enc("", Seq("a b")).isEmpty)
    assert(enc("  a  b ", Seq("a b")) == Seq("a", "b")) // empties skipped
    assert(enc("zzz", Seq("a b")) == Seq("z", "z", "z")) // untouched
    // multi-byte code points stay whole symbols
    assert(enc("éä", Seq.empty) == Seq("é", "ä"))
    assert(enc("éä", Seq("é ä")) == Seq("éä"))
  }

  test("encoding a training word reproduces the training segmentation") {
    val docs = Seq("low low low lower lowest west west").toDF("text")
    val merges = ext.Bpe.trainBpeFrame(docs, numMerges = 6).collect()
      .map(r => s"${r.getString(1)} ${r.getString(2)}").toSeq
    // every corpus word re-encoded under the learned list must
    // CONCATENATE back to itself (segmentation, never mutation)
    Seq("low", "lower", "lowest", "west").foreach { w =>
      val toks = enc(w, merges)
      assert(toks.mkString == w, s"$w -> $toks")
    }
    // and the most frequent word must compress the furthest
    assert(enc("low", merges).length <= enc("lowest", merges).length)
  }

  test("fertility report partitions the per-doc token accounting to the row") {
    val sfDir = TestSpark.sfDir
    val perDoc = ext.Bpe.bpeTokens(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("n_bpe_tokens"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fert = ext.Bpe.bpeFertility(spark, sfDir).collect()
    // lang rows partition the corpus: doc and token sums close exactly
    assert(fert.map(_.getLong(1)).sum == perDoc.size)
    assert(fert.map(_.getLong(3)).sum == perDoc.values.sum,
      "per-lang token sums drifted from the per-doc encode")
    fert.foreach { r =>
      val (nw, ntok, nch) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(r.getDouble(5) == ntok.toDouble / nw, "fertility ratio drifted")
      assert(r.getDouble(6) == nch.toDouble / ntok)
      // sane tokenizer: merges only ever SHORTEN the code-point stream
      assert(ntok <= nch, s"lang ${r.getString(0)}: more tokens than chars")
      assert(ntok >= nw, s"lang ${r.getString(0)}: fewer tokens than words")
    }
  }

  test("incremental fertility partitions the frozen-apply accounting; increment docs only") {
    val sfDir = TestSpark.sfDir
    val perDoc = ext.Bpe.bpeApply(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("n_bpe_tokens"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc.keys.forall(_ % 5 == 0), "apply leaked history docs")
    val fert = ext.Bpe.bpeFertilityIncremental(spark, sfDir).collect()
    // lang rows partition the INCREMENT: doc and token sums close
    // exactly against the frozen-apply per-doc encode
    assert(fert.map(_.getLong(1)).sum == perDoc.size)
    assert(fert.map(_.getLong(3)).sum == perDoc.values.sum,
      "per-lang token sums drifted from the frozen-apply encode")
  }

  test("frozen-artifact apply: OOV words segment under the trained merges") {
    // the bpe_apply contract: merges trained on a REFERENCE corpus
    // encode UNSEEN words — learned subword units fire inside words the
    // dictionary never saw, code-point fallback covers the rest
    val ref = Seq("low low low low lowest").toDF("text")
    val merges = ext.Bpe.trainBpeFrame(ref, numMerges = 3).collect()
      .map(r => s"${r.getString(1)} ${r.getString(2)}").toSeq
    // "lowly" is OOV; its "low" prefix must still merge into the
    // learned unit, the unseen tail staying code points
    val toks = enc("lowly", merges)
    assert(toks.mkString == "lowly", s"mutated: $toks")
    assert(toks.head == "low" || toks.take(2) == Seq("lo", "w"),
           s"learned units did not fire inside the OOV word: $toks")
    assert(toks.length < "lowly".length, s"no compression at all: $toks")
    // a fully-alien word falls back to pure code points
    assert(enc("zqx", merges) == Seq("z", "q", "x"))
  }

  test("building the trainer starts no Spark job") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val (_, jobs) = TestSpark.countJobs(ext.Bpe.trainBpeFrame(docs))
    assert(jobs == 0, s"building the BPE trainer started $jobs jobs")
  }

  test("a dictionary above the bound fails the query with the bound in its message") {
    val msg = TestSpark.dictionaryOverBound(ext.Bpe.trainBpeFrame(_))
    assert(msg.contains(s"${ext.LocalTrain.MaxDictRows + 1} distinct words") &&
           msg.contains(ext.LocalTrain.MaxDictRows.toString), msg)
  }
}
