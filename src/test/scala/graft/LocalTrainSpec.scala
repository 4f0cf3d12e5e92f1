package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The r21 local-trainer regimes ([[graft.ext.LocalTrain]]) must be
  * BIT-IDENTICAL to the distributed loops they replace — same rows,
  * same values, for every trainer family. Each test runs the same gate
  * query under both regimes ([[TestSpark.bothRegimes]]) and
  * compares collected rows exactly: these are the frames the DuckDB
  * oracles hash, so "close" is not good enough. */
class LocalTrainSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case s: Seq[_] => s.toList
      case x => x
    })

  private def assertSame(name: String, q: => DataFrame): Unit = {
    val (local, dist) = TestSpark.bothRegimes(rows(q))
    assert(local.nonEmpty, s"$name: empty result")
    assert(local == dist, s"$name: local regime diverges from distributed")
  }

  test("bpe_merges: local trainer ≡ distributed loop") {
    assertSame("bpe_merges", graft.ext.Bpe.bpeMerges(spark, dir))
  }

  test("bpe_apply: frozen-split local trainer ≡ distributed loop") {
    assertSame("bpe_apply", graft.ext.Bpe.bpeApply(spark, dir))
  }

  test("unigram_pieces: local trainer ≡ distributed loop") {
    assertSame("unigram_pieces", graft.ext.Unigram.unigramPieces(spark, dir))
  }

  test("unigram_apply: frozen-split local trainer ≡ distributed loop") {
    assertSame("unigram_apply", graft.ext.Unigram.unigramApply(spark, dir))
  }

  test("quality_clf_train: local GD ≡ distributed loop") {
    assertSame("quality_clf_train",
      graft.ext.Classifier.qualityClfTrain(spark, dir))
  }

  test("quality_clf_frozen: split-trained local GD ≡ distributed loop") {
    assertSame("quality_clf_frozen",
      graft.ext.Classifier.qualityClfFrozen(spark, dir))
  }

  test("kmeans_train: local Lloyd ≡ distributed loop") {
    assertSame("kmeans_train", graft.ext.KMeans.kmeansTrain(spark, dir))
  }

  test("ivf_assign: assignment under local-trained codebook ≡ distributed") {
    assertSame("ivf_assign", graft.ext.KMeans.ivfAssign(spark, dir))
  }

  test("pq_train: local grouped Lloyd ≡ distributed loop") {
    assertSame("pq_train", graft.ext.Pq.pqTrain(spark, dir))
  }

  test("knn_pq: ADC ranks under local-trained codebooks ≡ distributed") {
    assertSame("knn_pq", graft.ext.Pq.knnPq(spark, dir))
  }
}
