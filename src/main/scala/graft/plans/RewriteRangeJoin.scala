package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: rewrite a naive time-range join into the bucketed
  * equi-join [[graft.ops.TimeJoins]] hand-writes.
  *
  * The problem this kills: an inner join whose only condition is
  * `x >= y AND x < y + INTERVAL w` has no equi-key, so Spark's join
  * strategies fall through to BroadcastNestedLoopJoin — an all-pairs
  * O(|L|·|R|) scan that is a cluster-killer the moment neither side is
  * tiny. Users write exactly this shape constantly ("clicks within 10
  * minutes of each error"); telling them to hand-bucket is engine
  * failure. This rule restores the equi-key mechanically:
  *
  *   anchor side (y):  explode k ∈ {0, 1} → bucket = ⌊y/w⌋ + k
  *   bounded side (x): bucket = ⌊x/w⌋
  *   join on bucket equality AND the ORIGINAL predicates.
  *
  * Soundness: any pair with x ∈ [y, y+w] has ⌊x/w⌋ ∈ {⌊y/w⌋, ⌊y/w⌋+1}
  * (x spans at most one bucket boundary past y), so the two exploded
  * buckets COVER every qualifying pair; each pair matches in exactly the
  * one bucket ⌊x/w⌋, so no duplicates are introduced; and the original
  * condition is kept verbatim as the residual filter, so false bucket
  * collisions are filtered — the rewrite can only ever equal the naive
  * result. The anchor side doubles (2 rows per input), the bounded side
  * is untouched — O(2·|L| + |R|) shuffled rows instead of |L|·|R| pairs.
  *
  * Fires only when ALL of:
  *  - inner join with a conjunctive condition and NO cross-side equality
  *    conjunct (an equi-join never needs this, and the guard also makes
  *    the rule idempotent — the rewritten join has a bucket equality);
  *  - a lower conjunct `x >= y + lo` and an upper conjunct
  *    `x <= y + hi` (strict variants and mirrored operand orders too) on
  *    the SAME timestamp attribute pair of opposite sides, where lo/hi
  *    are SIGNED constant offsets — a bare `y` is offset 0, so this
  *    covers the leading form `y <= x < y + w` (lo=0, hi=w), the
  *    trailing form `y - w <= x <= y` (lo=-w, hi=0) users write for
  *    "events within w BEFORE each anchor", and centered windows;
  *  - hi - lo > 0 and both offsets have FIXED width: ANSI day-time
  *    interval literals, folded calendar intervals with months == 0
  *    (a months-bearing interval has no fixed width — no bucketing),
  *    or `timestampadd(unit, n, y)` with a sub-day unit.
  *
  * Generalized cover proof: W = hi - lo; x ∈ [y+lo, y+hi] implies
  * x - (y+lo) ∈ [0, W], so ⌊x/W⌋ ∈ {⌊(y+lo)/W⌋, ⌊(y+lo)/W⌋ + 1} — the
  * anchor explodes those two buckets, the bounded side keeps its home
  * bucket, and the original condition stays as the residual filter
  * (strict bounds are a subset of the closed cover, so they only ever
  * filter more).
  *
  * Always-on when it matches: even when one side is small enough that
  * BNLJ would survive, the rewritten join is still eligible for
  * broadcast-hash on the bucketed key, so the rewrite trades at worst a
  * constant factor for removing the quadratic cliff.
  *
  * This is the (c)-tier extension mechanism end-to-end: a
  * `Rule[LogicalPlan]` injected via `SparkSessionExtensions`
  * (`injectOptimizerRule`, [[graft.functions.GraftExtensions]]) — no
  * private Spark API. The injection lands in the operator-optimization
  * batch, so Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.RewriteRangeJoin`
  * switches it off (the specs' naive reference plan).
  */
class RewriteRangeJoin extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case j: Join if j.joinType == Inner && j.condition.isDefined =>
        rewrite(j).getOrElse(j)
    }

  private def split(e: Expression): Seq[Expression] = e match {
    case And(a, b) => split(a) ++ split(b)
    case x         => Seq(x)
  }

  private def isTs(t: DataType): Boolean =
    t == TimestampType || t == TimestampNTZType

  /** SIGNED constant width in microseconds of an interval literal with
    * fixed length (day-time, or calendar with months == 0). */
  private def constWidth(lit: Literal): Option[Long] = lit.dataType match {
    case _: DayTimeIntervalType => Some(lit.value.asInstanceOf[Long])
    case CalendarIntervalType =>
      val i = lit.value.asInstanceOf[org.apache.spark.unsafe.types.CalendarInterval]
      if (i.months == 0) Some(i.days * 86400000000L + i.microseconds) else None
    case _ => None
  }

  /** Fixed µs per `timestampadd` unit. DAY and coarser are excluded:
    * they add via the session-zone calendar, so their width varies
    * across DST transitions — no fixed bucket. */
  private val unitMicros = Map(
    "MICROSECOND" -> 1L, "MILLISECOND" -> 1000L, "SECOND" -> 1000000L,
    "MINUTE" -> 60000000L, "HOUR" -> 3600000000L)

  /** `y + <signed constant offset>` in every analyzed form: a bare
    * attribute (offset 0), `y ± INTERVAL` (TimestampAddInterval — ANSI
    * intervals directly; calendar intervals once ConstantFolding, which
    * shares the fixed-point batch, collapses them to a literal), or
    * `timestampadd(unit, n, y)` with a fixed-width unit. */
  private object TsPlusConst {
    def unapply(e: Expression): Option[(AttributeReference, Long)] = e match {
      case y: AttributeReference => Some((y, 0L))
      case TimestampAddInterval(y: AttributeReference, l: Literal, _) =>
        constWidth(l).map((y, _))
      case TimestampAdd(unit, Literal(n, ByteType | ShortType | IntegerType | LongType),
                        y: AttributeReference, _) =>
        val q = n.asInstanceOf[Number].longValue()
        unitMicros.get(unit.toUpperCase(java.util.Locale.ROOT)).flatMap { u =>
          try Some((y, Math.multiplyExact(q, u)))
          catch { case _: ArithmeticException => None } // no fixed width that fits
        }
      case _ => None
    }
  }

  private def rewrite(j: Join): Option[LogicalPlan] = {
    val conjuncts = split(j.condition.get)
    val crossEquality = conjuncts.exists {
      case e @ (_: EqualTo | _: EqualNullSafe) =>
        val Seq(a, b) = e.children
        a.references.nonEmpty && b.references.nonEmpty &&
          !(a.references ++ b.references).subsetOf(j.left.outputSet) &&
          !(a.references ++ b.references).subsetOf(j.right.outputSet)
      case _ => false
    }
    if (crossEquality) return None

    // normalize: (bounded x, anchor y, signed offset) candidates.
    // lowers: `x >= y + lo` (or strict, or mirrored) — a bare `y` is
    // TsPlusConst offset 0, so the classic `x >= y` lands here too.
    val lowers = conjuncts.collect {
      case GreaterThanOrEqual(x: AttributeReference, TsPlusConst(y, lo)) => (x, y, lo)
      case GreaterThan(x: AttributeReference, TsPlusConst(y, lo))        => (x, y, lo)
      case LessThanOrEqual(TsPlusConst(y, lo), x: AttributeReference)    => (x, y, lo)
      case LessThan(TsPlusConst(y, lo), x: AttributeReference)           => (x, y, lo)
    }.filter { case (x, y, _) =>
      isTs(x.dataType) && x.dataType == y.dataType &&
        ((j.left.outputSet.contains(x) && j.right.outputSet.contains(y)) ||
         (j.right.outputSet.contains(x) && j.left.outputSet.contains(y)))
    }
    // uppers: `x <= y + hi` (or strict, or mirrored); side/type checks
    // ride along from the paired lower via semanticEquals below.
    val uppers = conjuncts.collect {
      case LessThan(x: AttributeReference, TsPlusConst(y, hi))           => (x, y, hi)
      case LessThanOrEqual(x: AttributeReference, TsPlusConst(y, hi))    => (x, y, hi)
      case GreaterThan(TsPlusConst(y, hi), x: AttributeReference)        => (x, y, hi)
      case GreaterThanOrEqual(TsPlusConst(y, hi), x: AttributeReference) => (x, y, hi)
    }

    val matched = for {
      (x, y, lo)   <- lowers
      (x2, y2, hi) <- uppers
      if x2.semanticEquals(x) && y2.semanticEquals(y) && hi > lo
    } yield (x, y, lo, hi - lo)

    matched.headOption.map { case (x, y, lo, w) =>
      val tz = Option(conf.sessionLocalTimeZone)
      // INTEGER floor-division (pmod-floored numerator), never
      // floor(us / w) in doubles: double division drifts near 2^53 µs
      // and the two-bucket cover argument needs bucket math exact for
      // every representable timestamp
      def bucket(ts: Expression, shift: Long): Expression = {
        val t = UnixMicros(Cast(ts, TimestampType, tz))
        val us = if (shift == 0L) t else Add(t, Literal(shift))
        IntegralDivide(Subtract(us, Pmod(us, Literal(w))), Literal(w))
      }

      val anchorIsLeft = j.left.outputSet.contains(y)
      val (anchorPlan, boundedPlan) =
        if (anchorIsLeft) (j.left, j.right) else (j.right, j.left)

      // anchor: explode bucket(y + lo) + {0, 1} — the interval's lower
      // edge is the cover's base bucket
      val kAttr = AttributeReference("__graft_bucket_k", LongType, nullable = true)()
      val base = bucket(y, lo)
      val gen = Generate(
        Explode(CreateArray(Seq(base, Add(base, Literal(1L))))),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(kAttr), child = anchorPlan)

      // bounded: home bucket
      val hAlias = Alias(bucket(x, 0L), "__graft_bucket_h")()
      val proj = Project(boundedPlan.output :+ hAlias, boundedPlan)

      val bucketEq = EqualTo(kAttr, hAlias.toAttribute)
      val (newLeft, newRight) = if (anchorIsLeft) (gen, proj) else (proj, gen)
      val newJoin = Join(newLeft, newRight, Inner,
                         Some(And(bucketEq, j.condition.get)), j.hint)
      Project(j.output, newJoin)
    }
  }
}
