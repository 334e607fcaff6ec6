package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Catalog, Oracle, Q, QueryPack}
import graft.Dsl._

/** SURVEY.md §2.D (SQL-flavor family, round-10 extension): the remaining
  * canonical TPC-H plan shapes not yet covered by the Q1/Q3/Q5/Q10/Q17/Q20
  * flavors — minimum-cost-supplier (Q2), EXISTS priority checking (Q4),
  * pushdown microbenchmark (Q6), market share (Q8), conditional two-way
  * counts (Q12), promo revenue share (Q14), disjunctive predicates (Q19),
  * and the scalar-subquery + NOT-EXISTS customer screen (Q22). Flavors, not
  * ports: the fixture schema has no partsupp/commitdate/shipmode/phone (and
  * synthetic NATION_k names), so each query keeps the original's PLAN SHAPE
  * (the thing worth grading) on the columns that exist.
  *
  * Scale notes (100 TB posture):
  *  - Q2 flavor: the min-per-group + tie-break is ONE window pass over the
  *    suppkey-pruned fact (one partkey shuffle), never a groupBy-min +
  *    re-join second shuffle; supplier/nation/region and part all broadcast.
  *  - Q4 flavor: Catalyst decorrelates EXISTS into a left-semi join on
  *    orderkey — one shuffle pair, no per-row subquery probes; the quarter
  *    filter reaches the orders scan BEFORE the join.
  *  - Q12 flavor: conditional counts ride the single fact-fact orderkey
  *    shuffle; the shipdate year filter prunes lineitem at the scan.
  *  - Q14 flavor: part broadcasts; both sums come from one map-side-combined
  *    pass; the month filter makes the scanned slice tiny at any SF.
  *  - Q22 flavor: the average-balance scalar subquery is one 1-row
  *    broadcast; NOT EXISTS decorrelates to left-anti on the FILTERED
  *    orders side (rule SURVEY §2.0.9 — raw-key anti joins are trivially
  *    empty on these fixtures).
  */
object SqlFlavors extends QueryPack {

  /** TPC-H Q2 flavor: cheapest observed European supplier per small part.
    * partsupp does not exist, so "offer" = an observed lineitem price from
    * a supplier seated in EUROPE; minimum per part with a deterministic
    * tie-break (price asc, suppkey asc) picked by ONE row_number window
    * over the partkey partition — the same shuffle the aggregation would
    * pay, without the second join back. Ordered like Q2 (acctbal desc)
    * with the unique partkey breaking ties, top 100.
    */
  private def sqlTpchQ2Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, sfDir) _
    val eu = t("supplier")
      .join(t("nation"), $"s_nationkey" === $"n_nationkey")
      .join(t("region").filter($"r_name" === "EUROPE"),
        $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey", $"s_name", $"s_acctbal")
    val w = Window.partitionBy($"l_partkey")
      .orderBy($"l_extendedprice".asc, $"s_suppkey".asc)
    t("lineitem").select($"l_partkey", $"l_suppkey", $"l_extendedprice")
      .join(broadcast(eu), $"l_suppkey" === $"s_suppkey")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .join(broadcast(t("part").filter($"p_size" <= 15)
        .select($"p_partkey", $"p_brand", $"p_type")),
        $"l_partkey" === $"p_partkey")
      .select($"p_partkey", $"p_brand", $"p_type",
        $"l_extendedprice".as("best_price"),
        $"s_suppkey", $"s_name", $"s_acctbal")
      .orderBy($"s_acctbal".desc, $"p_partkey".asc_nulls_first)
      .limit(100)
  }

  private val sqlTpchQ2FlavorOracle = """
    WITH eu AS (
      SELECT s_suppkey, s_name, s_acctbal
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    cand AS (
      SELECT l_partkey, l_extendedprice, s_suppkey, s_name, s_acctbal,
        row_number() OVER (PARTITION BY l_partkey
          ORDER BY l_extendedprice ASC, s_suppkey ASC) AS rk
      FROM lineitem JOIN eu ON l_suppkey = s_suppkey)
    SELECT p_partkey, p_brand, p_type, l_extendedprice AS best_price,
      s_suppkey, s_name, s_acctbal
    FROM cand JOIN part ON p_partkey = l_partkey
    WHERE rk = 1 AND p_size <= 15
    ORDER BY s_acctbal DESC, p_partkey ASC NULLS FIRST
    LIMIT 100"""

  /** TPC-H Q4 flavor: order priority checking. commitdate/receiptdate do
    * not exist, so "late" = some line shipped more than 90 days after the
    * order date. The graded shape is EXISTS decorrelation: Catalyst
    * rewrites the correlated EXISTS into a left-semi join on orderkey, so
    * the quarter's orders meet lineitem in ONE shuffle pair — never
    * O(|orders|) subquery executions.
    */
  private def sqlTpchQ4Flavor(spark: SparkSession, sfDir: String): DataFrame =
    Catalog.sql(spark, sfDir, sqlTpchQ4FlavorSql)

  private val sqlTpchQ4FlavorSql = """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority ASC NULLS FIRST"""

  /** TPC-H Q12 flavor: shipping-priority split. shipmode does not exist, so
    * the grouping dimension is l_returnflag; the measure keeps Q12's exact
    * form — per group, how many lines belong to high-priority orders
    * (1-URGENT / 2-HIGH) vs low. Conditional integer counts ride the one
    * fact-fact orderkey shuffle; the 1996 shipdate filter prunes at the
    * lineitem scan.
    */
  private def sqlTpchQ12Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, sfDir) _
    val hi = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
    t("lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
              $"l_shipdate" <  lit("1997-01-01").cast("timestamp"))
      .select($"l_orderkey", $"l_returnflag")
      .join(t("orders").select($"o_orderkey", $"o_orderpriority"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_prio_lines"),
           sum(when(hi, 0L).otherwise(1L)).as("low_prio_lines"))
      .orderBy($"l_returnflag".asc_nulls_first)
  }

  private val sqlTpchQ12FlavorOracle = """
    SELECT l_returnflag,
      CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        THEN 1 ELSE 0 END) AS BIGINT) AS high_prio_lines,
      CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        THEN 0 ELSE 1 END) AS BIGINT) AS low_prio_lines
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag ASC NULLS FIRST"""

  /** TPC-H Q14 flavor: promo revenue share for one month. p_type's fixture
    * domain is exact categories, so the promo predicate is `p_type =
    * 'PROMO'` (no LIKE prefix needed). Both revenue sums come from one
    * map-side-combined pass with decimal-exact accumulation; the share is
    * the same two-double division on both engines, so it is emitted raw.
    */
  private def sqlTpchQ14Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, sfDir) _
    val rev = $"l_extendedprice" * (lit(1.0) - $"l_discount")
    t("lineitem")
      .filter($"l_shipdate" >= lit("1996-03-01").cast("timestamp") &&
              $"l_shipdate" <  lit("1996-04-01").cast("timestamp"))
      .select($"l_partkey", $"l_extendedprice", $"l_discount")
      .join(broadcast(t("part").select($"p_partkey", $"p_type")),
        $"l_partkey" === $"p_partkey")
      .agg(dsum(when($"p_type" === "PROMO", rev)).as("promo_revenue"),
           dsum(rev).as("total_revenue"))
      .select($"promo_revenue", $"total_revenue",
        (lit(100.0) * $"promo_revenue" / $"total_revenue").as("promo_pct"))
  }

  private val sqlTpchQ14FlavorOracle = s"""
    WITH m AS (
      SELECT
        ${Oracle.dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) END")} AS promo_revenue,
        ${Oracle.dsum("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        AND l_shipdate < TIMESTAMP '1996-04-01')
    SELECT promo_revenue, total_revenue,
      100.0 * promo_revenue / total_revenue AS promo_pct
    FROM m"""

  /** TPC-H Q22 flavor: wealthy inactive customers. No phone column, so the
    * grouping is c_mktsegment, and "inactive" = no order since 2000-01-01
    * (raw no-orders-at-all is trivially empty on these fixtures, SURVEY
    * §2.0.9). Two decorrelations in one query: the positive-balance average
    * is an uncorrelated scalar subquery (a 1-row broadcast gating the
    * customer scan), and NOT EXISTS becomes a left-anti join against the
    * date-filtered orders slice. The threshold double is an exact decimal
    * sum over count on both engines, so the comparison cannot drift.
    */
  private def sqlTpchQ22Flavor(spark: SparkSession, sfDir: String): DataFrame =
    Catalog.sql(spark, sfDir, sqlTpchQ22FlavorSql)

  private val sqlTpchQ22FlavorSql = """
    SELECT c_mktsegment, count(*) AS n_cust,
      CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
    FROM customer
    WHERE c_acctbal > (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(*)
        FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment ASC NULLS FIRST"""

  /** TPC-H Q6 flavor: the canonical predicate-pushdown microbenchmark —
    * forecast revenue change as one filtered scan + one 1-row aggregate.
    * All three predicates (year, discount band, quantity cap) reach the
    * parquet reader as PushedFilters; the decimal-exact sum rides a single
    * map-side-combined pass. Discount literals are 2-decimal doubles, so
    * the band comparison is the same IEEE test both engines.
    */
  private def sqlTpchQ6Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir)("lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
              $"l_shipdate" <  lit("1997-01-01").cast("timestamp") &&
              $"l_discount".between(0.05, 0.07) &&
              $"l_quantity" < 24.0)
      .agg(count(lit(1)).as("n_lines"),
           dsum($"l_extendedprice" * $"l_discount").as("revenue_delta"))
  }

  private val sqlTpchQ6FlavorOracle = s"""
    SELECT count(*) AS n_lines,
      ${Oracle.dsum("l_extendedprice * l_discount")} AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24.0"""

  /** TPC-H Q8 flavor: market share — the share of a region's yearly revenue
    * delivered by suppliers of one nation (no partsupp/type filter, so the
    * scope is ASIA-customer revenue and one focal nation's (NATION_3) supplier share). The
    * graded shape is the conditional-share two-level rollup: revenue tagged
    * per row by supplier nation, both the total and the tagged slice summed
    * in ONE pass per year, share = the same two-double division both
    * engines.
    */
  private def sqlTpchQ8Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, sfDir) _
    val asiaCust = t("customer")
      .join(broadcast(t("nation")
        .join(t("region").filter($"r_name" === "ASIA"),
          $"n_regionkey" === $"r_regionkey")
        .select($"n_nationkey")), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey")
    val focalSupp = t("supplier")
      .join(broadcast(t("nation").filter($"n_name" === "NATION_3")
        .select($"n_nationkey".as("sn_key"))), $"s_nationkey" === $"sn_key")
      .select($"s_suppkey").withColumn("is_focal", lit(1L))
    val rev = $"l_extendedprice" * (lit(1.0) - $"l_discount")
    t("lineitem")
      .join(t("orders").select($"o_orderkey", $"o_custkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(asiaCust), $"o_custkey" === $"c_custkey")
      .join(broadcast(focalSupp), $"l_suppkey" === $"s_suppkey", "left")
      .groupBy(year($"o_orderdate").cast("long").as("o_year"))
      .agg(
        dsum(when($"is_focal" === 1L, rev)).as("focal_revenue"),
        dsum(rev).as("total_revenue"))
      .select($"o_year", $"focal_revenue", $"total_revenue",
        ($"focal_revenue" / $"total_revenue").as("mkt_share"))
      .orderBy($"o_year".asc_nulls_first)
  }

  private val sqlTpchQ8FlavorOracle = s"""
    WITH asia_cust AS (
      SELECT c_custkey FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'),
    focal_supp AS (
      SELECT s_suppkey FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3')
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      ${Oracle.dsum("CASE WHEN s_suppkey IS NOT NULL THEN l_extendedprice * (1.0 - l_discount) END")} AS focal_revenue,
      ${Oracle.dsum("l_extendedprice * (1.0 - l_discount)")} AS total_revenue,
      ${Oracle.dsum("CASE WHEN s_suppkey IS NOT NULL THEN l_extendedprice * (1.0 - l_discount) END")} /
        ${Oracle.dsum("l_extendedprice * (1.0 - l_discount)")} AS mkt_share
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN asia_cust ON o_custkey = c_custkey
    LEFT JOIN focal_supp ON l_suppkey = s_suppkey
    GROUP BY year(o_orderdate)
    ORDER BY o_year ASC NULLS FIRST"""

  /** TPC-H Q19 flavor: disjunctive multi-predicate revenue — three OR-ed
    * (brand × size × quantity-band) arms over the lineitem⋈part join. The
    * graded behavior is disjunction handling: Catalyst extracts the common
    * `p_partkey` equi-key so the OR never degrades the join to a nested
    * loop, pushes the arm-level column bounds into both scans, and
    * evaluates the residual disjunction post-join in one codegen stage.
    */
  private def sqlTpchQ19Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, sfDir) _
    val arm1 = $"p_brand" === "Brand#1" && $"p_size".between(1, 10) &&
      $"l_quantity".between(1.0, 11.0)
    val arm2 = $"p_brand" === "Brand#2" && $"p_size".between(1, 15) &&
      $"l_quantity".between(10.0, 20.0)
    val arm3 = $"p_brand" === "Brand#3" && $"p_size".between(1, 25) &&
      $"l_quantity".between(20.0, 30.0)
    t("lineitem")
      .select($"l_partkey", $"l_quantity", $"l_extendedprice", $"l_discount")
      .join(broadcast(t("part").select($"p_partkey", $"p_brand", $"p_size")),
        $"l_partkey" === $"p_partkey")
      .filter(arm1 || arm2 || arm3)
      .agg(count(lit(1)).as("n_lines"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
  }

  private val sqlTpchQ19FlavorOracle = s"""
    SELECT count(*) AS n_lines,
      ${Oracle.dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
            AND l_quantity BETWEEN 1.0 AND 11.0)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 10.0 AND 20.0)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25
            AND l_quantity BETWEEN 20.0 AND 30.0)"""

  override val queries: Vector[Q] = Vector(
    Q("q_sql_tpch_q6_flavor", sqlTpchQ6Flavor, Some(sqlTpchQ6FlavorOracle)),
    Q("q_sql_tpch_q8_flavor", sqlTpchQ8Flavor, Some(sqlTpchQ8FlavorOracle)),
    Q("q_sql_tpch_q19_flavor", sqlTpchQ19Flavor, Some(sqlTpchQ19FlavorOracle)),
    Q("q_sql_tpch_q2_flavor", sqlTpchQ2Flavor, Some(sqlTpchQ2FlavorOracle)),
    Q("q_sql_tpch_q4_flavor", sqlTpchQ4Flavor, Some(sqlTpchQ4FlavorSql)),
    Q("q_sql_tpch_q12_flavor", sqlTpchQ12Flavor, Some(sqlTpchQ12FlavorOracle)),
    Q("q_sql_tpch_q14_flavor", sqlTpchQ14Flavor, Some(sqlTpchQ14FlavorOracle)),
    Q("q_sql_tpch_q22_flavor", sqlTpchQ22Flavor, Some(sqlTpchQ22FlavorSql)),
  )
}
