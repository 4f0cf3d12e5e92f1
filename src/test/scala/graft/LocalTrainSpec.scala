package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The forked local-trainer regimes ([[graft.ext.LocalTrain.gdLocal]],
  * [[graft.ext.LocalTrain.lloydLocal]]) must be BIT-IDENTICAL to the
  * distributed loops they stand beside — same rows, same values, for
  * every forked trainer family. Each test runs the same gate query under
  * both regimes ([[TestSpark.bothRegimes]]) and compares collected rows
  * exactly: these are the frames the DuckDB oracles hash, so "close" is
  * not good enough. BPE and Unigram have no pair here: they only ever
  * train in one task, and the DuckDB oracles at two scale factors are
  * their independent reference. */
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
