package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.RewriteRangeJoin]] contract: the NAIVE time-range join
  * formulation — the one every user writes first — must (a) stop
  * planning as BroadcastNestedLoopJoin, (b) produce exactly the naive
  * plan's rows, and (c) leave non-matching join shapes untouched. */
class RangeJoinRuleSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}

  /** Spark's stock switch for an optimizer rule: the naive reference
    * plan is the query with the rule excluded. */
  private val Off =
    "spark.sql.optimizer.excludedRules" -> "graft.plans.RewriteRangeJoin"
  private val Bcast = "spark.sql.autoBroadcastJoinThreshold"

  /** The naive formulation: inequality-only condition, no buckets. */
  private def naive(): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val e = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("ts").as("err_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("click_ts"))
    e.join(c,
      col("click_ts") >= col("err_ts") &&
        col("click_ts") < col("err_ts") + expr("INTERVAL 10 MINUTES"))
  }

  private def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("naive range join is rewritten to a bucketed equi-join (flag on), " +
       "BNLJ with the flag off") {
    withConf(Bcast -> "-1") { // at 100 TB neither side broadcasts
      val rewritten = naive().queryExecution.executedPlan.toString
      assert(!rewritten.contains("BroadcastNestedLoopJoin") &&
               !rewritten.contains("CartesianProduct"),
             s"rule did not fire:\n$rewritten")
      assert(rewritten.contains("SortMergeJoin") ||
               rewritten.contains("ShuffledHashJoin"), rewritten)
      assert(rewritten.contains("Generate explode"), rewritten) // anchor ×2

      withConf(Off) { // negative control: the quadratic plan
        val off = naive().queryExecution.executedPlan.toString
        assert(off.contains("BroadcastNestedLoopJoin") ||
                 off.contains("CartesianProduct"), off)
      }
    }
  }

  test("rewritten join returns exactly the naive join's rows") {
    val on = naive().orderBy(col("err_id"), col("click_id")).collect()
    val off = withConfCollect()
    assert(on.length === off.length, s"on=${on.length} off=${off.length}")
    assert(on.sameElements(off))
    assert(on.nonEmpty) // the comparison must actually exercise matches
  }

  private def withConfCollect() =
    withConf2(Off)(naive().orderBy(col("err_id"), col("click_id")).collect())

  test("calendar-interval width (make_interval) fires the rewrite too") {
    // `make_interval(...)` analyzes to TimestampAddInterval over a
    // MakeInterval call; ConstantFolding (same fixed-point batch as the
    // injected rule) collapses it to a CalendarIntervalType literal,
    // which constWidth accepts when months == 0 — so SQL-text users of
    // calendar intervals get the same rewrite as ANSI day-time ones.
    withConf(Bcast -> "-1") {
      val ev = Tables.events(spark, sfDir)
      val e = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("ts").as("err_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"))
      val j = e.join(c,
        col("click_ts") >= col("err_ts") &&
          col("click_ts") < col("err_ts") +
            make_interval(lit(0), lit(0), lit(0), lit(0), lit(0), lit(10)))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
               !plan.contains("CartesianProduct"), s"rule did not fire:\n$plan")
      assert(plan.contains("Generate explode"), plan)
      // and a months-bearing interval must NOT fire (no fixed width)
      val ym = e.join(c,
        col("click_ts") >= col("err_ts") &&
          col("click_ts") < col("err_ts") +
            make_interval(lit(0), lit(1), lit(0), lit(0), lit(0), lit(0)))
      assert(!ym.queryExecution.optimizedPlan.toString.contains("__graft_bucket"),
             ym.queryExecution.optimizedPlan.toString)
    }
  }

  test("trailing-window form (BETWEEN y - w AND y) fires and matches naive") {
    // "clicks within 10 minutes BEFORE each error" — lower bound carries
    // the offset (lo = -w), upper bound is the bare anchor (hi = 0).
    def trailing(): DataFrame = {
      val ev = Tables.events(spark, sfDir)
      val e = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("ts").as("err_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"))
      e.join(c,
        col("click_ts") >= col("err_ts") - expr("INTERVAL 10 MINUTES") &&
          col("click_ts") <= col("err_ts"))
    }
    withConf(Bcast -> "-1") {
      val plan = trailing().queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
               !plan.contains("CartesianProduct"), s"rule did not fire:\n$plan")
      assert(plan.contains("Generate explode"), plan)
    }
    val on = trailing().orderBy(col("err_id"), col("click_id")).collect()
    val off = withConf2(Off) {
      trailing().orderBy(col("err_id"), col("click_id")).collect()
    }
    assert(on.length === off.length, s"on=${on.length} off=${off.length}")
    assert(on.sameElements(off))
    assert(on.nonEmpty)
  }

  test("timestampadd(MINUTE, n, ts) upper bound fires the rewrite") {
    withConf(Bcast -> "-1") {
      val ev = Tables.events(spark, sfDir)
      val e = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("ts").as("err_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"))
      val j = e.join(c,
        col("click_ts") >= col("err_ts") &&
          col("click_ts") < expr("timestampadd(MINUTE, 10, err_ts)"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
               !plan.contains("CartesianProduct"), s"rule did not fire:\n$plan")
      assert(plan.contains("Generate explode"), plan)
      // DAY and coarser units are DST-variable → must NOT fire
      val day = e.join(c,
        col("click_ts") >= col("err_ts") &&
          col("click_ts") < expr("timestampadd(DAY, 1, err_ts)"))
      assert(!day.queryExecution.optimizedPlan.toString.contains("__graft_bucket"),
             day.queryExecution.optimizedPlan.toString)
    }
  }

  private def withConf2[A](kvs: (String, String)*)(body: => A): A = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("equi-joins and non-constant ranges are left untouched") {
    val ev = Tables.events(spark, sfDir)
    val a = ev.select(col("event_id").as("aid"), col("user_id").as("au"),
                      col("ts").as("ats"))
    val b = ev.select(col("event_id").as("bid"), col("user_id").as("bu"),
                      col("ts").as("bts"))
    // an equality conjunct present → rule must not fire (no Generate)
    val equi = a.join(b,
      col("au") === col("bu") && col("bts") >= col("ats") &&
        col("bts") < col("ats") + expr("INTERVAL 10 MINUTES"))
    assert(!equi.queryExecution.optimizedPlan.toString.contains("__graft_bucket"),
           equi.queryExecution.optimizedPlan.toString)
    // non-inner join types keep their semantics — rule must not fire
    val louter = a.join(b,
      col("bts") >= col("ats") &&
        col("bts") < col("ats") + expr("INTERVAL 10 MINUTES"), "left")
    assert(!louter.queryExecution.optimizedPlan.toString.contains("__graft_bucket"),
           louter.queryExecution.optimizedPlan.toString)
  }
}
