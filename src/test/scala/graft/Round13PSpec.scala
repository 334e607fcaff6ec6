package graft

/** Round-13 batch-16 invariants: the native Jaro-Winkler expression
  * against the DuckDB-probed reference values, null/empty contracts,
  * and symmetry.
  */
class Round13PSpec extends SparkTestBase {

  private def jw(a: String, b: String): Double =
    spark.sql(s"SELECT graft_jaro_winkler('$a', '$b')").head().getDouble(0)

  test("graft_jaro_winkler matches the DuckDB-probed reference values") {
    val ref = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("JELLYFISH", "SMELLYFISH", 0.8962962962962964),
      ("CRATE", "TRACE", 0.7333333333333334),
      ("ABCD", "ABDC", 0.9333333333333333),
      ("ABCDEFG", "ABCDXYZ", 0.8285714285714286),
      ("red gear", "large gear", 0.8107142857142856), // floored half-t
      ("small pump", "tiny pump", 0.6851851851851851), // no boost < 0.7
      ("AB", "BA", 0.0))
    ref.foreach { case (a, b, want) =>
      assert(math.abs(jw(a, b) - want) < 1e-12, s"$a | $b")
      assert(jw(a, b) == jw(b, a), s"not symmetric: $a | $b")
    }
  }

  test("graft_jaro_winkler null and empty contracts") {
    assert(jw("", "ABC") == 0.0)
    assert(jw("", "") == 0.0)
    val r = spark.sql("SELECT graft_jaro_winkler(CAST(NULL AS STRING), 'x')")
      .head()
    assert(r.isNullAt(0))
    assert(jw("same", "same") == 1.0)
  }

  test("the scorer stays inside whole-stage codegen") {
    val df = Catalog.load(spark, sf0001, "part")
      .select(org.apache.spark.sql.functions
        .expr("graft_jaro_winkler(p_name, p_type)").as("s"))
    // The starred stage marker `*(n)` is the executedPlan.toString form
    // of a WholeStageCodegen span containing the projection.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_jaro_winkler"), plan.take(1000))
    assert(df.count() > 0)
  }
}
