package graft

import org.apache.spark.sql.functions._

/** Round-13 batch-17 invariants: the fused squared-L2 expression against
  * the composed fold, and the multi-table PIT join's no-leakage contract.
  */
class Round13QSpec extends SparkTestBase {
  import spark.implicits._

  test("graft_sqdist_long equals the composed zip_with/aggregate fold") {
    val q = Catalog.load(spark, sf0001, "embeddings")
      .select($"vec_id",
        transform($"embedding",
          v => floor(v.cast("double") * lit(1000000d)).cast("long")).as("e"))
    val pair = q.as("a").join(q.as("b"), $"a.vec_id" < $"b.vec_id")
      .limit(500)
      .select(
        expr("graft_sqdist_long(a.e, b.e)").as("fused"),
        aggregate(zip_with($"a.e", $"b.e", (x, y) => (x - y) * (x - y)),
          lit(0L), _ + _).as("composed"))
    assert(pair.filter($"fused" =!= $"composed").count() == 0)
    assert(pair.count() == 500)
    // Null element propagates null, like the composed fold.
    val r = spark.sql(
      "SELECT graft_sqdist_long(array(1L, NULL), array(1L, 2L))").head()
    assert(r.isNullAt(0))
  }

  test("q_join_pit_multi: no feature from the future; outer arm is real") {
    // sf0.01: unlike sf0.001, some event users have no orders there, so
    // the outer arm's NULL features are actually exercised.
    val sf = "/root/testdata/sf0.01"
    val out = SparkEntry.queries("q_join_pit_multi")(spark, sf).collect()
    val evTs = Catalog.load(spark, sf, "events")
      .select($"event_id", $"ts").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    out.foreach { r =>
      val probe = r.getTimestamp(1)
      // The event feature never comes from after the cut.
      if (!r.isNullAt(2)) assert(!evTs(r.getLong(2)).after(probe))
    }
    // Entities with no history on a side keep NULL features there, and
    // both populated and null rows exist on each arm.
    val evUsers = Catalog.load(spark, sf, "events")
      .select($"user_id").distinct().collect().map(_.getLong(0)).toSet
    val orderCust = Catalog.load(spark, sf, "orders")
      .select($"o_custkey").distinct().collect().map(_.getLong(0)).toSet
    out.foreach { r =>
      assert(r.isNullAt(2) == !evUsers.contains(r.getLong(0)))
      assert(r.isNullAt(4) == !orderCust.contains(r.getLong(0)))
    }
    // The events arm has both populated and NULL rows (only ~10% of
    // customers are event-active); the orders arm is fixture-full (every
    // customer has orders), covered by the per-row consistency above.
    assert(out.exists(_.isNullAt(2)) && out.exists(!_.isNullAt(2)))
    assert(out.exists(!_.isNullAt(4)))
  }
}
