package graft

import graft.operators.GraphOps

/** Round-20 OPTIMIZATION specs: the rewrites must be result-invariant, and
  * the hub-salting slice finally runs on REAL (fixture-shaped) data — the
  * r19 VERDICT's "What's wrong #2": no shipped fixture graph has a node
  * above the hot threshold, so until now only a synthetic multiset pin
  * covered the salted path.
  */
class Round20PerfSpec extends SparkTestBase {
  import spark.implicits._

  test("per-community local CC equals two-star labels on a multi-community graph") {
    // Three "communities": a chain (deep — the case that made linear
    // propagation pay ~20 rounds), a pair of disjoint components inside
    // ONE community (the split refinement exists to expose), and a
    // triangle with a pendant. Intra edges never cross a community — the
    // invariant the grouped union-find relies on.
    val intra = (
      (0L until 15L).map(i => (100L, i, i + 1)) ++            // chain 0..15
      Seq((200L, 30L, 31L), (200L, 31L, 32L),                 // comp A
          (200L, 40L, 41L)) ++                                // comp B (same community)
      Seq((300L, 50L, 51L), (300L, 51L, 52L), (300L, 50L, 52L),
          (300L, 52L, 53L))                                   // triangle + pendant
    ).toDF("cu", "u", "v")
    val viaLocal = GraphOps.communityCcLabels(spark, intra)
      .orderBy($"node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val und = intra.select($"u", $"v")
      .unionByName(intra.select($"v".as("u"), $"u".as("v")))
    val viaTwoStar = GraphOps.twoStarLabels(spark, und)._1
      .orderBy($"node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaLocal == viaTwoStar,
      "grouped union-find labels must equal the two-star labels")
    assert(viaLocal.nonEmpty)
  }

  test("common-neighbors on a hub-bearing fixture: salted slice executes, result exact") {
    // A real orders.parquet whose co-purchase graph has a genuine hub:
    // customer 1 is URGENT on 30 distinct days, each shared with exactly
    // one satellite customer (100+i) — deg(1) = 30 over 61 nodes with
    // total degree 124, avg 2, hot threshold 8·2 = 16 < 30. Cold
    // structure rides along: a day-shared triangle (200-202) and a
    // 2-path (300-301-302) whose endpoints are the only cold non-edge
    // pair. Expected top-20: satellite pairs all score jaccard 1e6
    // (common=1, deg 1+1-1), ordered (a ASC, b ASC).
    val day0 = java.time.LocalDate.of(1995, 1, 1)
    def ts(d: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(day0.plusDays(d.toLong).atStartOfDay())
    val rows = scala.collection.mutable.ArrayBuffer.empty[
      (Long, Long, String, Double, java.sql.Timestamp, String)]
    var ok = 1L
    def add(cust: Long, d: Int, prio: String = "1-URGENT"): Unit = {
      rows += ((ok, cust, "O", 100.0, ts(d), prio)); ok += 1
    }
    (0 until 30).foreach { i => add(1L, i); add(100L + i, i) }
    Seq(200L, 201L, 202L).foreach(c => add(c, 50))
    add(300L, 60); add(301L, 60); add(301L, 61); add(302L, 61)
    add(999L, 70, "3-MEDIUM") // non-urgent noise, must not create edges
    val dir = java.nio.file.Files.createTempDirectory("graft_hubfx_").toString
    rows.toSeq.toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // The hot set must be non-empty on this data — the salted slice runs.
    val hot = GraphOps.saltHotDeg(spark, dir, 8)
      .collect().map(_.getLong(0)).toSet
    assert(hot == Set(1L), s"customer 1 must be the single hub, got $hot")
    val got = SparkEntry.queries("q_graph_common_neighbors")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // Brute-force expectation: satellites pairwise share only the hub;
    // (300, 302) shares only 301. All jaccard = 1e6; top-20 by
    // (jaccard DESC, a ASC, b ASC) = the 20 smallest satellite pairs.
    val sats = (0 until 30).map(100L + _)
    val expected = (for {
      i <- sats; j <- sats if i < j
    } yield (i, j, 1L, 1L, 1L, 1000000L)).sortBy(p => (p._1, p._2)).take(20)
    assert(got == expected,
      s"hub-fixture common-neighbors diverged:\n got=$got\n exp=$expected")
  }
}
