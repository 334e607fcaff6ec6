package graft

/** Round-13 batch-14 invariants: copy-on-write MERGE file pruning and
  * both merge arms verified row-by-row.
  */
class Round13NSpec extends SparkTestBase {
  import spark.implicits._

  test("q_lake_merge: pruning keeps B byte-identical; both arms apply") {
    // Run the graded query first so the scratch table exists.
    val out = SparkEntry.queries("q_lake_merge")(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val v1 = graft.operators.LakeOps.mergeLiveFiles(spark, sf0001, 1)
    val v2 = graft.operators.LakeOps.mergeLiveFiles(spark, sf0001, 2)
    // File pruning: B (no key can be ≡ 2 mod 10) survives as the SAME
    // path; C was rewritten; an insert file landed.
    val b1 = v1.find(_.endsWith("fileB")).get
    assert(v2.contains(b1), s"fileB was rewritten: $v2")
    assert(!v2.exists(_.endsWith("fileC")) && v2.exists(_.endsWith("fileC_m")))
    assert(v2.exists(_.endsWith("fileE")))
    // Row-level semantics: replay MERGE over the raw orders directly.
    val orders = Catalog.load(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_orderstatus",
        ($"o_totalprice".cast("decimal(14,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val tbl = orders.filter(r =>
      (r._1 % 10 >= 3 && r._1 % 10 < 6) || (r._1 % 10 < 3 && r._2 == "F"))
    val src = orders.filter(_._1 % 100 == 42)
      .map(r => (r._1, r._2, r._3 / 2)).toSeq
    val srcByKey = src.map(r => r._1 -> r._3).toMap
    val tblKeys = tbl.map(_._1).toSet
    val merged = tbl.map(r =>
      (r._2, srcByKey.getOrElse(r._1, r._3))) ++
      src.filter(r => !tblKeys.contains(r._1)).map(r => (r._2, r._3))
    val want = merged.groupBy(_._1).view
      .mapValues(g => (g.size.toLong, g.map(_._2).sum)).toMap
    assert(out == want)
    // Both arms actually fired at this SF: at least one update and the
    // insert file is non-empty iff some source key was unmatched.
    assert(src.exists(r => tblKeys.contains(r._1)),
      "no matched source key - update arm untested")
    assert(src.exists(r => !tblKeys.contains(r._1)),
      "no unmatched source key - insert arm untested")
  }
}
