package graft

/** Bucketing is the 100 TB co-location lever: two tables bucketed and
  * sorted on the join key join WITHOUT a shuffle exchange — at scale that
  * turns every repeated fact-fact join into a map-side merge. The flat
  * fixtures can't demonstrate it, so this suite creates bucketed catalog
  * tables (in the per-JVM temp warehouse, see Sessions) and asserts both the
  * result and the shuffle-free plan.
  */
class BucketingSpec extends SparkTestBase {
  import spark.implicits._

  test("bucketed fact-fact join runs without a shuffle exchange") {
    val li = Catalog.load(spark, sf0001, "lineitem")
      .select($"l_orderkey", $"l_quantity")
    val o = Catalog.load(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_orderpriority")
    li.write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    o.write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("o_bucketed")

    // hint("merge"): at sf0.001 Spark would otherwise broadcast the small
    // side and skip the bucketed path entirely; at real scale the sort-merge
    // join is what the planner picks on its own.
    val joined = spark.table("li_bucketed").hint("merge")
      .join(spark.table("o_bucketed"),
        $"l_orderkey" === $"o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString

    // Co-located: the sort-merge join reads both bucketed tables directly —
    // no Exchange (shuffle) anywhere in the plan.
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    assert(!plan.contains("Exchange"), s"expected no shuffle exchange:\n$plan")

    // And the same row count as the plain (shuffled) join.
    val expected = li.join(o, $"l_orderkey" === $"o_orderkey").count()
    assert(joined.count() == expected)
  }
}
