package graft

import java.sql.Timestamp

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import org.apache.spark.sql.functions._

/** Adversarial soundness check for [[graft.plans.RewriteRangeJoin]]: for
  * RANDOM event-time geometries and interval widths, the rewritten plan
  * must return exactly the naive plan's rows — including the cases the
  * bucket-cover argument leans on hardest: timestamps ON bucket
  * boundaries (x = y, x = y + w − ε), widths that don't divide the time
  * axis evenly, and pairs straddling a boundary. Generators bias toward
  * boundary collisions by snapping half the timestamps to multiples of
  * the width. */
object RangeJoinProps extends Properties("graft.RewriteRangeJoin") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark

  private val T0 = 1705309200000L // 2024-01-15 09:00:00 UTC

  private val caseGen: Gen[(Long, List[Long], List[Long])] = for {
    widthSec <- Gen.oneOf(7L, 60L, 601L, 3600L) // incl. non-round widths
    n        <- Gen.choose(5, 60)
    m        <- Gen.choose(5, 60)
    // offsets in seconds over ~4 width spans; half snapped to the
    // bucket-boundary grid where off-by-one-bucket bugs live
    offGen    = Gen.frequency(
                  (1, Gen.choose(0L, widthSec * 4).map(_ * 1000L)),
                  (1, Gen.choose(0L, 4L).map(_ * widthSec * 1000L)))
    ls       <- Gen.listOfN(n, offGen)
    rs       <- Gen.listOfN(m, offGen)
  } yield (widthSec, ls, rs)

  property("rewritten plan ≡ naive plan for any geometry") =
    forAll(caseGen) { case (widthSec, ls, rs) =>
      import spark.implicits._
      val anchors = ls.zipWithIndex
        .map { case (off, i) => (i.toLong, new Timestamp(T0 + off)) }
        .toDF("err_id", "err_ts")
        .select(col("err_id"), col("err_ts").cast("timestamp_ntz").as("err_ts"))
      val probes = rs.zipWithIndex
        .map { case (off, i) => (i.toLong, new Timestamp(T0 + off)) }
        .toDF("click_id", "click_ts")
        .select(col("click_id"), col("click_ts").cast("timestamp_ntz").as("click_ts"))
      def run(): Set[(Long, Long)] = anchors.join(probes,
          col("click_ts") >= col("err_ts") &&
            col("click_ts") < col("err_ts") + expr(s"INTERVAL $widthSec SECONDS"))
        .select(col("err_id"), col("click_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val on = run()
      spark.conf.set("spark.sql.optimizer.excludedRules",
                     "graft.plans.RewriteRangeJoin")
      val off = try run()
        finally spark.conf.unset("spark.sql.optimizer.excludedRules")
      // also cross-check one engine-independent witness: brute force
      val brute = (for {
        (lo, li) <- ls.zipWithIndex; (ro, ri) <- rs.zipWithIndex
        if ro >= lo && ro < lo + widthSec * 1000L
      } yield (li.toLong, ri.toLong)).toSet
      on == off && on == brute
    }
}
