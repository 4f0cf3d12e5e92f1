package graft

import org.apache.spark.sql.{Column, DataFrame}

/** Deterministic presentation sort for gate-sized results.
  *
  * A terminal `orderBy` plans a range exchange, and RangePartitioner picks
  * its bounds by SAMPLING the child — which re-executes the entire
  * upstream plan once before the real pass. For a query whose cost is the
  * upstream compute (most of this suite: the result is small but derived
  * from a full corpus scan), that doubles the query: measured at sf0.1,
  * `dedup_minhash_sig` ran 0.86 s unsorted and 1.58 s with a terminal
  * `orderBy`, and 0.85 s in this form.
  *
  * [[sorted]] shuffles all rows to ONE partition and sorts locally:
  * upstream stays fully parallel (the exchange map side), nothing is
  * executed twice, and the global order is identical to `orderBy`'s.
  *
  * Contract: presentation sorts over results KNOWN to be small — gate
  * outputs here are 1–45 k rows, per-document outputs included (≤60 k
  * docs at gate scale). It is deliberately not a general sort, and it
  * has no distributed mode: a caller whose result is corpus-scale calls
  * `orderBy` itself, so the sort distributes and the sampling pass is
  * the correct price (e.g. [[ops.Layout]]'s sorted parquet). Rule of
  * thumb: if the result wouldn't fit one executor, use `orderBy`.
  * PlanSpec pins the single-partition plan shape.
  */
object Present {

  def sorted(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** `df.presentSorted(cols…)` — chainable spelling of [[sorted]], so a
    * terminal `.orderBy(…)` migrates without restructuring the chain. */
  implicit class PresentOps(private val df: DataFrame) extends AnyVal {
    def presentSorted(cols: Column*): DataFrame = Present.sorted(df, cols: _*)
  }
}
