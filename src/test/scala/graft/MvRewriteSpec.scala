package graft

import org.apache.spark.sql.execution.datasources.LogicalRelation

/** The MV rewrite's three-way contract: the optimized plan actually reads
  * the rollup leaf (not the fact scan), the unregistered path returns the
  * identical result from the fact table, and unrelated fact aggregations
  * are left untouched while a rollup is registered.
  */
class MvRewriteSpec extends SparkTestBase {

  private def scansFact(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr
    }.nonEmpty

  test("registered rollup serves the fact aggregation from the leaf") {
    Memo.clearForTest()
    val df = SparkEntry.queries("q_mv_rewrite")(spark, sf0001)
    // The optimized plan must contain NO relation scan at all — the
    // aggregate reads the checkpointed rollup (a LogicalRDD leaf).
    assert(!scansFact(df), df.queryExecution.optimizedPlan.toString.take(2000))
    assert(df.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
    val served = df.collect().toSeq

    // Same logical query with the registry cleared: scans the fact table,
    // returns the identical rows — the rewrite is semantics-preserving.
    graft.plans.MvAggregateRewrite.clearForTest()
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val raw = Catalog.load(spark, sf0001, "lineitem")
      .groupBy($"l_returnflag", month($"l_shipdate").cast("long").as("mon"))
      .agg(count(lit(1)).as("n_rows"),
        sum($"l_quantity".cast("long")).as("sum_qty"))
      .orderBy($"l_returnflag".asc_nulls_first, $"mon".asc_nulls_first)
    assert(scansFact(raw))
    assert(raw.collect().toSeq == served)
    // Re-register for any later test in this JVM (memo was cleared).
    Memo.clearForTest()
  }

  test("unrelated fact aggregations are not rewritten while registered") {
    val mv = SparkEntry.queries("q_mv_rewrite")(spark, sf0001)
    mv.count() // ensures the rollup is registered in this session
    // The flagship pricing summary aggregates lineitem with a filter and
    // different keys — the conservative matcher must leave it on the scan.
    val flagship = SparkEntry.queries("q_agg_pricing_summary")(spark, sf0001)
    assert(scansFact(flagship))
  }

  test("month-DERIVED grouping keys are not served the plain month column") {
    // Round-12 advisory case: expressions that merely CONTAIN month(...)
    // and reference only l_shipdate — (year*12+month)::long, (month%2)::long
    // — must NOT match the rollup's mon key; a containment check would
    // silently serve them wrong groups. The structural matcher requires
    // exactly cast(month(l_shipdate) as long).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    SparkEntry.queries("q_mv_rewrite")(spark, sf0001).count() // register
    val fact = Catalog.load(spark, sf0001, "lineitem")
    for (key <- Seq(
        (year($"l_shipdate") * 12 + month($"l_shipdate")).cast("long"),
        (month($"l_shipdate") % 2).cast("long"))) {
      val df = fact
        .groupBy($"l_returnflag", key.as("mon"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy($"l_returnflag".asc_nulls_first, $"mon".asc_nulls_first)
      assert(scansFact(df),
        "derived-month key was rewritten off the fact scan:\n" +
          df.queryExecution.optimizedPlan.toString.take(1500))
      // Values must equal the same aggregation with the registry cleared.
      val served = df.collect().toSeq
      graft.plans.MvAggregateRewrite.clearForTest()
      val raw = fact.groupBy($"l_returnflag", key.as("mon"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy($"l_returnflag".asc_nulls_first, $"mon".asc_nulls_first)
        .collect().toSeq
      assert(served == raw)
      Memo.clearForTest() // re-register for next loop
      SparkEntry.queries("q_mv_rewrite")(spark, sf0001).count()
    }
    Memo.clearForTest()
  }
}
