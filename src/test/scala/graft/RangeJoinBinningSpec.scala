package graft

import graft.plans.RangeJoinBinning

/** The automatic range-join binning rule: fires on pure point-in-interval
  * joins, leaves equi joins alone, and is result-identical to the
  * nested-loop plan it replaces — including strict bounds, NULLs, and
  * degenerate intervals.
  */
class RangeJoinBinningSpec extends SparkTestBase {
  import spark.implicits._

  private def withBinSize[A](w: Long)(f: => A): A = {
    val old = spark.conf.getOption(RangeJoinBinning.ConfKey)
    spark.conf.set(RangeJoinBinning.ConfKey, w.toString)
    try f finally old match {
      case Some(v) => spark.conf.set(RangeJoinBinning.ConfKey, v)
      case None => spark.conf.unset(RangeJoinBinning.ConfKey)
    }
  }

  private val points = Seq(0L, 5L, 15L, 16L, 31L, 32L, 100L, -7L)
  private val intervals: Seq[(Long, java.lang.Long, java.lang.Long)] = Seq(
    (1L, 0L, 10L), (2L, 10L, 40L), (3L, 30L, 30L),
    (4L, 50L, 20L),                  // degenerate: hi < lo, matches nothing
    (5L, null, 10L), (6L, 90L, null), // NULL bounds match nothing
    (7L, -10L, -1L))                  // negative range exercises floorDiv

  private def run(cond: org.apache.spark.sql.Column) = {
    val p = points.toDF("p")
    val iv = intervals.toDF("id", "lo", "hi")
    p.join(iv, cond).select($"p", $"id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("binned result identical to the nested-loop result, all edge cases") {
    for (cond <- Seq(
        $"p" >= $"lo" && $"p" <= $"hi",
        $"p" > $"lo" && $"p" < $"hi",
        $"lo" <= $"p" && $"hi" >= $"p")) {
      // binSize=0 disables the rule even if a prior query in the shared
      // session enabled it (q_join_range_auto sets 16 persistently).
      val plain = withBinSize(0L)(run(cond))
      for (w <- Seq(1L, 7L, 16L, 1000L)) {
        assert(withBinSize(w)(run(cond)) == plain, s"w=$w cond=$cond")
      }
      assert(plain.nonEmpty)
    }
  }

  test("timestamp points bin on epoch micros under their own width key") {
    def ts(minute: Int) =
      new java.sql.Timestamp(1700000000000L + minute * 60000L)
    val p = (0 until 40).map(i => (i.toLong, ts(i * 3))).toDF("pid", "t")
    val iv = Seq((1L, ts(0), ts(30)), (2L, ts(25), ts(90)),
      (3L, ts(100), ts(95))).toDF("id", "lo", "hi")
    def run() = p.join(iv, $"t" >= $"lo" && $"t" <= $"hi")
      .select($"pid", $"id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val key = RangeJoinBinning.MicrosConfKey
    val plain = run() // micros key unset -> timestamps not binned
    try {
      spark.conf.set(key, (10 * 60 * 1000000L).toString) // 10-minute bins
      assert(run() == plain && plain.nonEmpty)
      val plan = p.join(iv, $"t" >= $"lo" && $"t" <= $"hi")
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("__graft_bin"))
      // the LONG width key being set must not affect timestamp joins
      spark.conf.unset(key)
      withBinSize(16L) { assert(run() == plain) }
    } finally spark.conf.unset(key)
  }

  test("rule fires: bin key in the plan, nested loop gone") {
    withBinSize(16L) {
      val df = SparkEntry.queries("q_join_range_auto")(spark, sf0001)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("__graft_bin"))
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"))
    }
  }

  test("joins with a cross-side equi key are left untouched") {
    withBinSize(16L) {
      val plan = SparkEntry.queries("q_join_theta_range")(spark, sf0001)
        .queryExecution.optimizedPlan.toString
      assert(!plan.contains("__graft_bin"))
    }
  }

  test("manual pre-binned interval join unchanged (its bin IS an equi key)") {
    withBinSize(16L) {
      val plan = SparkEntry.queries("q_join_interval_banded")(spark, sf0001)
        .queryExecution.optimizedPlan.toString
      assert(!plan.contains("__graft_bin"))
    }
  }

  // ---- two-sided interval×interval overlap arm (round 11) ----

  private val ivA: Seq[(Long, java.lang.Long, java.lang.Long)] = Seq(
    (1L, 0L, 10L), (2L, 8L, 40L), (3L, 30L, 30L),
    (4L, 50L, 20L),                   // ill-formed lo > hi — can still match
    (5L, null, 10L), (6L, 90L, null), // NULL bounds match nothing
    (7L, -20L, -1L))
  private val ivB: Seq[(Long, java.lang.Long, java.lang.Long)] = Seq(
    (11L, 5L, 9L), (12L, 35L, 60L), (13L, -5L, 0L),
    (14L, 45L, 25L),                  // ill-formed on the right side too
    (15L, null, 99L), (16L, 100L, 200L))

  private def runOverlap(cond: org.apache.spark.sql.Column) = {
    val a = ivA.toDF("aid", "alo", "ahi")
    val b = ivB.toDF("bid", "blo", "bhi")
    a.join(b, cond).select($"aid", $"bid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("overlap arm result identical to nested loop, incl ill-formed/NULLs") {
    for (cond <- Seq(
        $"alo" <= $"bhi" && $"blo" <= $"ahi",
        $"alo" < $"bhi" && $"blo" < $"ahi",
        $"bhi" >= $"alo" && $"ahi" >= $"blo")) {
      val plain = withBinSize(0L)(runOverlap(cond))
      for (w <- Seq(1L, 7L, 16L, 1000L)) {
        assert(withBinSize(w)(runOverlap(cond)) == plain, s"w=$w cond=$cond")
      }
      assert(plain.nonEmpty)
    }
  }

  test("overlap arm: ill-formed intervals on BOTH sides still match exactly") {
    // (4, lo=50, hi=20) × (12, lo=35, hi=60): 50<=60 && 35<=20 false;
    // (4) × (14, lo=45, hi=25): 50<=25 false — but (2, 8,40) × (14,45,25):
    // 8<=25 && 45<=40 false. Construct one TRUE ill-formed match:
    // (4, 50, 20) × (16, 100, 200): 50<=200 && 100<=20 false. Use a probe
    // where the naive condition holds with a.lo>a.hi: a=(50,20), b=(0,70):
    // 50<=70 && 0<=20 — MATCH.
    val a = Seq((1L, 50L, 20L)).toDF("aid", "alo", "ahi")
    val b = Seq((2L, 0L, 70L)).toDF("bid", "blo", "bhi")
    def res(w: Long) = withBinSize(w)(
      a.join(b, $"alo" <= $"bhi" && $"blo" <= $"ahi")
        .select($"aid", $"bid").collect().length)
    assert(res(0L) == 1)
    for (w <- Seq(1L, 16L, 64L)) assert(res(w) == 1, s"w=$w")
  }

  test("graded overlap query: generators on both sides, nested loop gone") {
    for (q <- Seq("q_join_interval_overlap", "q_join_interval_overlap_ts")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("__graft_bin_l") && plan.contains("__graft_bin_r"), q)
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), q)
    }
  }

  test("fan-out cap raises a NAMED error instead of an array blow-up") {
    val capKey = RangeJoinBinning.MaxBinsConfKey
    try {
      spark.conf.set(capKey, "10")
      val e = intercept[Exception] {
        withBinSize(1L)(run($"p" >= $"lo" && $"p" <= $"hi"))
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains(capKey)), msgs(e).mkString(" | "))
    } finally spark.conf.unset(capKey)
  }

  test("fan-out cap boundary is exact: maxBins bins pass, maxBins+1 raise") {
    val capKey = RangeJoinBinning.MaxBinsConfKey
    // width=1 => an interval [0, hi] generates hi+1 bins.
    def go(hi: Long): Int = {
      val p = Seq(0L).toDF("p")
      val iv = Seq((1L, 0L, hi)).toDF("id", "lo", "hi")
      p.join(iv, $"p" >= $"lo" && $"p" <= $"hi").collect().length
    }
    try {
      spark.conf.set(capKey, "5")
      withBinSize(1L) {
        assert(go(4L) == 1)                     // exactly 5 bins: allowed
        intercept[Exception](go(5L))            // 6 bins: raises
      }
    } finally spark.conf.unset(capKey)
  }

  test("malformed width conf fails naming the conf key") {
    try {
      spark.conf.set(RangeJoinBinning.ConfKey, "sixteen")
      val e = intercept[Exception] {
        points.toDF("p").join(intervals.toDF("id", "lo", "hi"),
          $"p" >= $"lo" && $"p" <= $"hi").collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains(RangeJoinBinning.ConfKey)))
    } finally spark.conf.unset(RangeJoinBinning.ConfKey)
  }
}
