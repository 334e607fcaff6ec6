package graft

/** Round-13 batch-8 invariants: correlation-matrix moment replay and
  * commit-log snapshot semantics.
  */
class Round13HSpec extends SparkTestBase {
  import spark.implicits._

  test("q_stat_corr_matrix: six pairs, bounded, diagonal-consistent") {
    val out = SparkEntry.queries("q_stat_corr_matrix")(spark, sf0001)
      .collect()
    assert(out.map(_.getString(0)).sorted.toSeq ==
      Seq("d_t", "p_d", "p_t", "q_d", "q_p", "q_t"))
    out.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(3) >= 0.0)
      val corr = r.getDouble(4)
      assert(corr.isNaN || math.abs(corr) <= 1.0)
      if (!corr.isNaN)
        assert(corr == r.getDouble(1) /
          math.sqrt(r.getDouble(2) * r.getDouble(3)))
    }
    // cross-check q_p against an independently computed Pearson over
    // the same integer domains (cents/units) at sf0.001.
    val base = Catalog.load(spark, sf0001, "lineitem").select(
      $"l_quantity".cast("decimal(12,2)").cast("long"),
      ($"l_extendedprice".cast("decimal(14,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0).toDouble, r.getLong(1).toDouble))
    val n = base.length.toDouble
    val (sx, sy) = (base.map(_._1).sum, base.map(_._2).sum)
    val sxy = base.map(p => p._1 * p._2).sum
    val sxx = base.map(p => p._1 * p._1).sum
    val syy = base.map(p => p._2 * p._2).sum
    val expected = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    val qp = out.find(_.getString(0) == "q_p").get.getDouble(4)
    assert(math.abs(qp - expected) < 1e-9)
  }

  test("q_lake_time_travel: snapshot counts follow the commit semantics") {
    val out = SparkEntry.queries("q_lake_time_travel")(spark, sf0001)
      .collect().map(r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    val orders = Catalog.load(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_orderstatus",
        ($"o_totalprice".cast("decimal(14,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def agg(p: ((Long, String, Long)) => Boolean) = {
      val s = orders.filter(p)
      (s.length.toLong, s.map(_._1).sum, s.map(_._3).sum)
    }
    assert(out(1L) == agg(r => r._1 % 10 < 3))
    assert(out(2L) == agg(r => r._1 % 10 < 6))
    assert(out(3L) == agg(r =>
      (r._1 % 10 >= 3 && r._1 % 10 < 6) || (r._1 % 10 < 3 && r._2 == "F")))
    // v2 strictly grows v1 (append); v3 shrinks v2's A-partition
    // contribution (rewrite keeps only F rows of A).
    assert(out(2L)._1 > out(1L)._1)
    assert(out(3L)._1 < out(2L)._1 + out(1L)._1)
  }
}
