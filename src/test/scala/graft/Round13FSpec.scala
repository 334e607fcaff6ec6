package graft

/** Round-13 batch-6 invariants: checksum order-independence + driver
  * replay, Spearman brute-force midrank replay, HHI share accounting,
  * and hapax/TTR consistency.
  */
class Round13FSpec extends SparkTestBase {

  test("q_audit_checksum is order-independent and replays on the driver") {
    val out = SparkEntry.queries("q_audit_checksum")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    // Driver replay: same rendering, java MD5, same 48-bit fold, any order.
    val rows = Catalog.load(spark, sf0001, "orders")
      .selectExpr("o_orderpriority",
        "concat_ws('|', cast(o_orderkey as string), cast(o_custkey as string)," +
          " cast(cast(o_totalprice as decimal(14,2)) as string)," +
          " cast(cast(o_orderdate as date) as string), o_orderstatus)")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def h48(s: String): BigInt = {
      val hex = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      BigInt(hex, 16)
    }
    val expect = rows.groupBy(_._1).map { case (k, g) =>
      k -> (g.length.toLong,
        (g.map(r => h48(r._2)).sum mod BigInt(2305843009213693951L)).toLong)
    }
    out.foreach { case (k, n, c) => assert(expect(k) == ((n, c))) }
    // Permutation invariance: a reversed-order replay sums identically.
    val rev = rows.reverse.groupBy(_._1).map { case (k, g) =>
      k -> (g.map(r => h48(r._2)).sum mod BigInt(2305843009213693951L)).toLong
    }
    out.foreach { case (k, _, c) => assert(rev(k) == c) }
  }

  test("q_stat_spearman replays against brute-force midranks") {
    val r = SparkEntry.queries("q_stat_spearman")(spark, sf0001)
      .collect().head
    val xs = Catalog.load(spark, sf0001, "lineitem")
      .selectExpr("cast(cast(l_quantity as decimal(12,2)) as long)",
        "cast(cast(l_discount as decimal(12,2)) * 100 as long)")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val n = xs.length
    def ranks2(vs: Seq[Long]): Map[Long, Long] = {
      val sorted = vs.groupBy(identity).view.mapValues(_.size).toSeq.sortBy(_._1)
      var below = 0L
      sorted.map { case (v, c) =>
        val r = 2L * below + c + 1L; below += c; v -> r
      }.toMap
    }
    val rx = ranks2(xs.map(_._1).toIndexedSeq)
    val ry = ranks2(xs.map(_._2).toIndexedSeq)
    val sx = xs.map(p => BigInt(rx(p._1))).sum
    val sy = xs.map(p => BigInt(ry(p._2))).sum
    val sxy = xs.map(p => BigInt(rx(p._1)) * ry(p._2)).sum
    val sxx = xs.map(p => BigInt(rx(p._1)) * rx(p._1)).sum
    val syy = xs.map(p => BigInt(ry(p._2)) * ry(p._2)).sum
    assert(r.getLong(0) == n.toLong)
    assert(r.getDouble(1) == (BigInt(n) * sxy - sx * sy).toDouble)
    assert(r.getDouble(2) == (BigInt(n) * sxx - sx * sx).toDouble)
    assert(r.getDouble(3) == (BigInt(n) * syy - sy * sy).toDouble)
    assert(math.abs(r.getDouble(4)) <= 1.0)
  }

  test("q_stat_hhi: share accounting and dominance bounds") {
    val out = SparkEntry.queries("q_stat_hhi")(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (ns, hhi, top) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(top <= 1000000L && hhi <= 1000000L)
      // HHI at least the top share's square, at least the even-split floor.
      assert(hhi >= top * top / 1000000L)
      assert(hhi >= 1000000L / ns - 1L)
    }
  }

  test("q_text_hapax: counts nest and ratios are exact") {
    val out = SparkEntry.queries("q_text_hapax")(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (toks, types, hapax) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(hapax <= types && types <= toks)
      assert(r.getLong(4) == types * 1000000L / toks)
      assert(r.getLong(5) == hapax * 1000000L / types)
    }
  }
}
