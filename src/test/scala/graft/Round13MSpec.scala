package graft

import org.apache.spark.sql.functions._

/** Round-13 batch-13 invariants: the compaction no-op contract, report
  * conservation laws, and the AQE skew-join split as a live plan property.
  */
class Round13MSpec extends SparkTestBase {

  test("q_lake_compact: data identical across the compaction commit") {
    val out = SparkEntry.queries("q_lake_compact")(spark, sf0001)
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet == Set(3L, 4L))
    // File count drops 2 -> 1; rows and key sum are untouched.
    assert(out(3L)._1 == 2L && out(4L)._1 == 1L)
    assert(out(3L)._2 == out(4L)._2)
    assert(out(3L)._3 == out(4L)._3)
  }

  test("q_ml_class_report conserves probes across true/pred margins") {
    val rep = SparkEntry.queries("q_ml_class_report")(spark, sf0001)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val preds = SparkEntry.queries("q_ml_knn_classify")(spark, sf0001)
      .collect()
    assert(rep.map(_._1).sum == preds.length)
    assert(rep.map(_._2).sum == preds.length)
    assert(rep.map(_._3).sum == preds.map(_.getLong(4)).sum)
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // Engine property, not a graded query: a 98%-single-key build side
    // through a shuffled inner join must come out of AQE with the skewed
    // partition SPLIT (skew=true in the final plan), not one straggler
    // task — the runtime re-plan 100-TB joins depend on.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    import s2.implicits._
    val big = s2.range(200000).select(
      when($"id" % 100 < 98, 0L).otherwise($"id" % 8).as("k"),
      $"id".as("pay"))
    val dim = s2.range(8).select($"id".as("k"), ($"id" * 7).as("dval"))
    val j = big.join(dim, "k")
    // collect() is the one action that drives THIS DataFrame's own
    // QueryExecution (count()/write() plan their own), so the adaptive
    // plan inspected below is the final one.
    assert(j.collect().length == 200000) // every big-side key is a dim key
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      "AQE did not mark a skewed partition:\n" + plan.take(3000))
  }
}
