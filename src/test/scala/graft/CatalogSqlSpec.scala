package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** `Catalog.sql`: bare fixture names in SQL text bind through
  * `Catalog.load`, wherever in the statement they appear.
  */
class CatalogSqlSpec extends SparkTestBase {
  import spark.implicits._

  /** The fixture files the analyzed plan scans, subqueries included. */
  private def scanned(df: DataFrame): Set[String] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
        h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
    }.flatten.toSet

  test("sql binds fixture names in the main query, CTE bodies, a recursive CTE and EXISTS/IN/scalar subqueries") {
    val df = Catalog.sql(spark, sf0001, """
      WITH RECURSIVE walk(k) AS (
        SELECT min(r_regionkey) FROM region
        UNION ALL
        SELECT k + 1 FROM walk WHERE k < 4),
      buyers AS (SELECT o_custkey FROM orders)
      SELECT n_nationkey
      FROM nation n JOIN walk ON n.n_regionkey = walk.k
      WHERE EXISTS (
          SELECT 1 FROM customer c
          WHERE c.c_nationkey = n.n_nationkey
            AND c.c_custkey IN (SELECT o_custkey FROM buyers))
        AND n_nationkey IN (SELECT s_nationkey FROM supplier)
        AND n_nationkey < (SELECT count(*) FROM part)
      ORDER BY n_nationkey""")
    assert(scanned(df) ==
      Set("region", "orders", "nation", "customer", "supplier", "part"))
    def t(name: String) = Catalog.load(spark, sf0001, name)
    val buyers = t("customer")
      .join(t("orders"), $"c_custkey" === $"o_custkey", "left_semi")
    val want = t("nation").filter($"n_regionkey".between(0, 4))
      .join(buyers, $"n_nationkey" === $"c_nationkey", "left_semi")
      .join(t("supplier"), $"n_nationkey" === $"s_nationkey", "left_semi")
      .filter($"n_nationkey" < t("part").count())
      .select($"n_nationkey").orderBy($"n_nationkey")
    val got = df.collect().toSeq
    assert(got.nonEmpty)
    assert(got == want.collect().toSeq)
  }

  test("sql reads a bound table with Catalog.load's normalized types") {
    val bound = Catalog.sql(spark, sf0001, "SELECT o_orderdate FROM orders")
    val loaded = Catalog.load(spark, sf0001, "orders")
    assert(bound.schema("o_orderdate").dataType ==
      loaded.schema("o_orderdate").dataType)
  }

  test("sql leaves a CTE whose name is not a table to Spark's own CTE resolution") {
    val n = Catalog.sql(spark, sf0001,
      "WITH totals AS (SELECT count(*) AS n FROM nation) SELECT n FROM totals")
      .collect().map(_.getLong(0)).toSeq
    assert(n == Seq(Catalog.load(spark, sf0001, "nation").count()))
  }

  test("sql binds each scale factor's own tables in one session") {
    def count(sfDir: String) = Catalog.sql(spark, sfDir,
      "SELECT count(*) FROM orders").collect().head.getLong(0)
    assert(count(sf0001) == Catalog.load(spark, sf0001, "orders").count())
    assert(count(sf01) == Catalog.load(spark, sf01, "orders").count())
    assert(count(sf0001) < count(sf01))
  }

  test("sql raises the analyzer's TABLE_OR_VIEW_NOT_FOUND for an unknown table") {
    val e = intercept[AnalysisException] {
      Catalog.sql(spark, sf0001, "SELECT * FROM no_such_table")
    }
    assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND")
  }
}
