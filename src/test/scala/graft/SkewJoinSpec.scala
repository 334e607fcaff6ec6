package graft

/** AQE skew-join splitting is the runtime half of the skew story
  * (q_agg_salted_skew is the static half): a hot key lands in one shuffle
  * partition, and AQE splits that partition into parallel sub-joins at
  * runtime. Thresholds are lowered so the mechanism triggers at test scale.
  */
class SkewJoinSpec extends SparkTestBase {
  import spark.implicits._

  test("AQE splits a skewed sort-merge join at runtime") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

      // Key 0 carries 50k rows; 100 other keys carry 20 each.
      val left = ((1 to 50000).map(i => (0L, i.toLong)) ++
        (1 to 100).flatMap(k => (1 to 20).map(i => (k.toLong, i.toLong))))
        .toDF("k", "v")
      val right = (0 to 100).map(k => (k.toLong, s"dim_$k")).toDF("k", "name")
      val joined = left.hint("merge").join(right.hint("merge"), Seq("k"))
      // Execute THIS query execution (count() would build a new one and the
      // inspected adaptive plan would never finalize).
      val n = joined.queryExecution.executedPlan.execute().count()
      assert(n == 50000 + 100 * 20)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected AQE to mark the skewed join (skew=true):\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
