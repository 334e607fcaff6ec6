package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Catalog, Oracle, Q, QueryPack}
import graft.Dsl._

/** SURVEY.md §2.D (SQL-flavor family, round-10 batch 3): the final eight
  * canonical TPC-H plan shapes, completing the set (Q1-Q22 all covered as
  * flavors). As with the batch-2 pack, these are flavors, not ports — the
  * fixture schema has no partsupp/commitdate/shipmode/phone, so each query
  * keeps the original's PLAN SHAPE (the graded artifact) on the columns
  * that exist.
  *
  * Scale notes (100 TB posture):
  *  - Q7: the nation-pair filter collapses supplier and customer to two
  *    broadcast dims; the only big shuffle is the one fact-fact orderkey
  *    join. The pair disjunction is a post-broadcast residual filter, never
  *    a join-degrading predicate.
  *  - Q9: every dim broadcasts; profit = one per-row expression riding the
  *    fact-fact shuffle into a (nation × year)-keyed map-side-combined agg.
  *  - Q11: the "important parts" threshold is an uncorrelated scalar
  *    subquery — one 1-row broadcast gating the grouped output, with the
  *    group-by value reused (Catalyst dedups the pv subtree into a
  *    ReusedExchange, so the fact is shuffled once, not twice).
  *  - Q13: LEFT join with the filter ON THE JOIN CONDITION (not WHERE — the
  *    outer semantics depend on it), then two cascaded tiny aggregations.
  *  - Q15: the revenue CTE feeds both the max scalar subquery and the
  *    equality filter from ONE supplier-keyed aggregation (ReusedExchange);
  *    revenue is decimal-exact so cross-engine equality cannot drift.
  *  - Q16: count(DISTINCT l_suppkey) per part attribute + a NOT-IN anti
  *    join against the (tiny, broadcast) negative-balance supplier list.
  *  - Q18: groupBy-HAVING on the fact, then the qualifying orderkeys drive
  *    two broadcast-ready joins; top-100 via TakeOrderedAndProject.
  *  - Q21: the double correlation (EXISTS another-supplier line, NOT EXISTS
  *    another-supplier LATE line) decorrelates to one left-semi plus one
  *    left-anti on the same orderkey-keyed lateness slice — three passes
  *    over one shuffled intermediate, never per-row subquery probes.
  */
object SqlFlavorsB extends QueryPack {

  /** TPC-H Q7 flavor: volume shipping between two trading nations.
    * Revenue flowing supplier-nation → customer-nation for the unordered
    * pair (NATION_18, NATION_19) — chosen because it trades at every
    * fixture SF including sf0.001 — split by direction and ship year. The
    * nation filter makes both dim sides tiny: supplier and customer each
    * collapse to a broadcast keyed list tagged with its nation name, and
    * the disjunctive pair predicate evaluates post-broadcast.
    */
  private def sqlTpchQ7Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, sfDir) _
    val pair = Seq("NATION_18", "NATION_19")
    val supp = t("supplier")
      .join(t("nation").filter($"n_name".isin(pair: _*)),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val cust = t("customer")
      .join(t("nation").filter($"n_name".isin(pair: _*)),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name".as("cust_nation"))
    t("lineitem")
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate",
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("volume"))
      .join(t("orders").select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .filter(($"supp_nation" === "NATION_18" && $"cust_nation" === "NATION_19") ||
              ($"supp_nation" === "NATION_19" && $"cust_nation" === "NATION_18"))
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").cast("long").as("l_year"))
      .agg(dsum($"volume").as("revenue"))
      .orderBy($"supp_nation".asc_nulls_first, $"cust_nation".asc_nulls_first,
        $"l_year".asc_nulls_first)
  }

  private val sqlTpchQ7FlavorOracle = s"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      CAST(year(l_shipdate) AS BIGINT) AS l_year,
      ${Oracle.dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE (sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
       OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18')
    GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
    ORDER BY supp_nation ASC NULLS FIRST, cust_nation ASC NULLS FIRST,
      l_year ASC NULLS FIRST"""

  /** TPC-H Q9 flavor: product-type profit by supplier nation and year.
    * No partsupp, so supply cost is flavored as a fixed quarter of retail
    * (`0.25 * p_retailprice * l_quantity` — 0.25 is binary-exact, keeping
    * the per-row amount a ≤4-decimal rational that the DECIMAL(18,6) sum
    * recovers exactly on both engines). The part-type filter (ECONOMY,
    * standing in for Q9's `p_name LIKE '%green%'`) prunes the broadcast
    * part dim before the fact join.
    */
  private def sqlTpchQ9Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, sfDir) _
    val suppNation = t("supplier")
      .join(t("nation"), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("nation"))
    val amount = $"l_extendedprice" * (lit(1.0) - $"l_discount") -
      lit(0.25) * $"p_retailprice" * $"l_quantity"
    t("lineitem")
      .join(broadcast(t("part").filter($"p_type" === "ECONOMY")
        .select($"p_partkey", $"p_retailprice")),
        $"l_partkey" === $"p_partkey")
      .join(t("orders").select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(suppNation), $"l_suppkey" === $"s_suppkey")
      .groupBy($"nation", year($"o_orderdate").cast("long").as("o_year"))
      .agg(dsum(amount).as("sum_profit"))
      .orderBy($"nation".asc_nulls_first, $"o_year".desc)
  }

  private val sqlTpchQ9FlavorOracle = s"""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      ${Oracle.dsum("l_extendedprice * (1.0 - l_discount) - 0.25 * p_retailprice * l_quantity")} AS sum_profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_type = 'ECONOMY'
    GROUP BY n_name, year(o_orderdate)
    ORDER BY nation ASC NULLS FIRST, o_year DESC"""

  /** TPC-H Q11 flavor: important stock identification. No partsupp, so a
    * part's "stock value" = the observed traded value
    * (`l_extendedprice * l_quantity`, a 2-decimal rational — decimal-sum
    * exact) shipped by NATION_19's suppliers. Q11's `> 0.0001/SF · total`
    * threshold is scale-DEPENDENT (a fixed fraction empties as parts
    * multiply), so the flavor keeps the shape but scales it structurally:
    * parts worth more than 2.5× the national AVERAGE part value qualify —
    * selective but non-empty at every SF. The graded shape: the threshold
    * is an uncorrelated scalar subquery over the SAME grouped CTE — one
    * 1-row broadcast, with the grouped exchange reused across both
    * consumers. The average is exact (decimal sum over count), so the
    * comparison cannot drift cross-engine.
    */
  private def sqlTpchQ11Flavor(spark: SparkSession, sfDir: String): DataFrame =
    Catalog.sql(spark, sfDir, sqlTpchQ11FlavorSql)

  private val sqlTpchQ11FlavorSql = """
    WITH pv AS (
      SELECT l_partkey,
        CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,6)))
          AS DOUBLE) AS part_value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_19'
      GROUP BY l_partkey)
    SELECT l_partkey, part_value
    FROM pv
    WHERE part_value > 2.5 * (
      SELECT CAST(sum(CAST(part_value AS DECIMAL(18,6))) AS DOUBLE)
        / count(*) FROM pv)
    ORDER BY part_value DESC, l_partkey ASC"""

  /** TPC-H Q13 flavor: customer order-count distribution. The graded
    * subtlety is the filtered OUTER join: the priority predicate (standing
    * in for Q13's `o_comment NOT LIKE`) must live in the join CONDITION so
    * customers whose every order is 5-LOW still appear with count 0 —
    * moving it to WHERE would silently turn the join inner. Two cascaded
    * tiny aggregations follow (per-customer count, then the histogram).
    */
  private def sqlTpchQ13Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, sfDir) _
    t("customer").select($"c_custkey")
      .join(t("orders").filter($"o_orderpriority" =!= "5-LOW")
        .select($"o_orderkey", $"o_custkey"),
        $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  private val sqlTpchQ13FlavorOracle = """
    WITH co AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
        AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey)
    SELECT c_count, count(*) AS custdist
    FROM co
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC"""

  /** TPC-H Q15 flavor: top supplier by quarterly revenue. The revenue CTE
    * feeds both the max scalar subquery and the equality filter; Catalyst
    * reuses the suppkey-keyed aggregation exchange so the fact shuffles
    * once. Reuse requires the two branches to CANONICALIZE identically —
    * the supplier join pushes `isnotnull(l_suppkey)` into the main
    * branch's scan, so the CTE states it explicitly to keep both scans
    * equal (verified: executed plan shows ReusedExchange; without the
    * predicate it re-scans). Revenue is decimal-exact, so
    * `revenue = max(revenue)` is the same bit-for-bit comparison on both
    * engines (the reason Q15's view equality is safe to grade at all).
    */
  private def sqlTpchQ15Flavor(spark: SparkSession, sfDir: String): DataFrame =
    Catalog.sql(spark, sfDir, sqlTpchQ15FlavorSql)

  private val sqlTpchQ15FlavorSql = """
    WITH rev AS (
      SELECT l_suppkey,
        CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
          AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
        AND l_suppkey IS NOT NULL
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier
    JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY s_suppkey ASC"""

  /** TPC-H Q16 flavor: supplier diversity per part attribute. No partsupp,
    * so the supplier↔part relation is the observed lineitem pairing.
    * "Complaint" suppliers (Q16's LIKE on comments) are flavored as
    * negative account balance — a tiny list excluded via NOT IN, which
    * Catalyst turns into a broadcast null-aware anti join (s_suppkey is
    * non-null, so it degenerates to a plain anti). count(DISTINCT) rides
    * the part-attribute shuffle with partial de-dup on the map side.
    */
  private def sqlTpchQ16Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, sfDir) _
    val complainers = t("supplier").filter($"s_acctbal" < 0.0)
      .select($"s_suppkey".as("bad_suppkey"))
    t("lineitem").select($"l_partkey", $"l_suppkey")
      .join(broadcast(complainers), $"l_suppkey" === $"bad_suppkey",
        "left_anti")
      .join(broadcast(t("part")
        .filter($"p_brand" =!= "Brand#1" && $"p_type" =!= "PROMO" &&
          $"p_size".isin(1, 4, 9, 14, 19, 23, 36, 45))
        .select($"p_partkey", $"p_brand", $"p_type", $"p_size")),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand".asc_nulls_first,
        $"p_type".asc_nulls_first, $"p_size".asc_nulls_first)
  }

  private val sqlTpchQ16FlavorOracle = """
    SELECT p_brand, p_type, p_size,
      count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand ASC NULLS FIRST,
      p_type ASC NULLS FIRST, p_size ASC NULLS FIRST"""

  /** TPC-H Q18 flavor: large-volume customers — orders whose total line
    * quantity exceeds 300 (fixture p99 ≈ 262, max ≈ 458, so the HAVING is
    * selective but non-empty at every SF). The grouped fact drives two
    * joins against orders and customer; quantity is integer-valued, so the
    * decimal sum and the >300 comparison are exact on both engines.
    * Top-100 by total price via TakeOrderedAndProject with the unique
    * orderkey breaking ties.
    */
  private def sqlTpchQ18Flavor(spark: SparkSession, sfDir: String): DataFrame =
    Catalog.sql(spark, sfDir, sqlTpchQ18FlavorSql)

  private val sqlTpchQ18FlavorSql = """
    WITH big AS (
      SELECT l_orderkey,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 300)
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      total_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100"""

  /** TPC-H Q21 flavor: suppliers who kept orders waiting. No
    * commit/receipt dates, so "late" = shipped more than 60 days after the
    * order date, over finalized ('F') orders. For NATION_1's suppliers,
    * count the orders where THIS supplier shipped late, at least one OTHER
    * supplier participated (EXISTS → left-semi), and NO other supplier was
    * also late (NOT EXISTS → left-anti). All three passes consume the same
    * orderkey-keyed lateness slice, so the correlation never executes
    * per-row — the classic Q21 double-decorrelation shape. One late order
    * counts once per supplier (DISTINCT orderkey×suppkey before counting).
    */
  private def sqlTpchQ21Flavor(spark: SparkSession, sfDir: String): DataFrame =
    Catalog.sql(spark, sfDir, sqlTpchQ21FlavorSql)

  private val sqlTpchQ21FlavorSql = """
    WITH l AS (
      SELECT l_orderkey, l_suppkey,
        l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'),
    l1 AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM l WHERE is_late)
    SELECT s_name, count(*) AS numwait
    FROM l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_1'
      AND EXISTS (
        SELECT 1 FROM l l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM l l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey AND l3.is_late)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 100"""

  /** TPC-H Q20 plan shape re-flavored (added round 11 — closes the
    * Q1-Q22 set; the fixture has no partsupp, so lineitem plays the
    * supply relation): suppliers whose two-year shipped quantity of
    * 'red%' parts exceeds the per-supplier AVERAGE — a doubly-nested IN
    * (supplier ← qualifying shipments ← name-filtered parts) with the
    * threshold as an uncorrelated scalar aggregate over the same grouped
    * CTE. The comparison is INTEGER-EXACT: `qty · ns > t` multiplies
    * through the average instead of dividing into a double, so the
    * qualification set cannot drift cross-engine. Catalyst rewrites the
    * IN chains to semi joins; the 1-row total broadcasts.
    */
  private def sqlTpchQ20Flavor(spark: SparkSession, sfDir: String): DataFrame =
    Catalog.sql(spark, sfDir, sqlTpchQ20FlavorSql)

  private val sqlTpchQ20FlavorSql = """
    WITH rq AS (
      SELECT l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem
      WHERE l_partkey IN (
          SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        AND l_shipdate >= DATE '1995-01-01'
        AND l_shipdate < DATE '1997-01-01'
      GROUP BY l_suppkey),
    tot AS (SELECT CAST(sum(qty) AS BIGINT) AS t, count(*) AS ns FROM rq)
    SELECT s_suppkey, s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (SELECT l_suppkey FROM rq, tot WHERE qty * ns > t)
    ORDER BY s_suppkey ASC NULLS FIRST"""

  /** TPC-DS Q67 flavor (added round 14; r13 VERDICT task 7) — the
    * grouping-set-heavy shape TPC-H lacks: sales cents rolled up through a
    * FIVE-level hierarchy (type → brand → year → quarter → month) in ONE
    * ROLLUP pass, then ranked WITHIN the top level (top-10 rollup rows per
    * p_type across all hierarchy depths — grand-total, brand and month
    * rows compete in one ranking, gid recording each row's level). Money
    * stays integer cents (decimal(12,2)·100 · integral quantity) so the
    * rank ordering cannot float-drift; the rank tiebreak chain
    * (cents desc, gid, brand, yr, qtr, mon) is total.
    *
    * Scale: ONE fact pass — rollup is a single shuffle with map-side
    * partial aggregation (Expand feeds 6 grouping sets into one exchange);
    * the rank window partitions by p_type (bounded groups), never global.
    */
  private def sqlTpcdsQ67Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, sfDir) _
    val sales = t("lineitem")
      .join(broadcast(t("part").select($"p_partkey", $"p_type", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .select($"p_type", $"p_brand",
        year($"l_shipdate").cast("long").as("yr"),
        quarter($"l_shipdate").cast("long").as("qtr"),
        month($"l_shipdate").cast("long").as("mon"),
        (($"l_extendedprice".cast("decimal(12,2)") * 100).cast("long")
          * $"l_quantity".cast("long")).as("cents"))
    val rolled = sales.rollup($"p_type", $"p_brand", $"yr", $"qtr", $"mon")
      .agg(grouping_id().cast("long").as("gid"),
        sum($"cents").as("sumsales_cents"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"p_type")
      .orderBy($"sumsales_cents".desc, $"gid".asc, $"p_brand".asc_nulls_first,
        $"yr".asc_nulls_first, $"qtr".asc_nulls_first, $"mon".asc_nulls_first)
    rolled.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 10)
      .select($"p_type", $"p_brand", $"yr", $"qtr", $"mon", $"gid",
        $"sumsales_cents", $"rk")
      .orderBy($"p_type".asc_nulls_first, $"rk".asc)
  }

  private val sqlTpcdsQ67FlavorOracle = """
    WITH sales AS (
      SELECT p_type, p_brand,
        CAST(year(l_shipdate) AS BIGINT) AS yr,
        CAST(quarter(l_shipdate) AS BIGINT) AS qtr,
        CAST(month(l_shipdate) AS BIGINT) AS mon,
        CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
          * CAST(l_quantity AS BIGINT) AS cents
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    rolled AS (
      SELECT p_type, p_brand, yr, qtr, mon,
        CAST(grouping(p_type, p_brand, yr, qtr, mon) AS BIGINT) AS gid,
        CAST(sum(cents) AS BIGINT) AS sumsales_cents
      FROM sales GROUP BY ROLLUP(p_type, p_brand, yr, qtr, mon)),
    ranked AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY p_type
        ORDER BY sumsales_cents DESC, gid ASC, p_brand ASC NULLS FIRST,
          yr ASC NULLS FIRST, qtr ASC NULLS FIRST, mon ASC NULLS FIRST)
        AS BIGINT) AS rk
      FROM rolled)
    SELECT p_type, p_brand, yr, qtr, mon, gid, sumsales_cents, rk
    FROM ranked WHERE rk <= 10
    ORDER BY p_type ASC NULLS FIRST, rk ASC"""

  /** TPC-DS Q51 flavor (added round 14; r13 VERDICT task 7) — the
    * window-over-union shape: two channels' monthly revenue (URGENT vs
    * HIGH order priorities standing in for web vs store), each with its
    * OWN cumulative window, FULL OUTER joined on month, then a second
    * carry-forward window (running max of a monotone cumulative = last
    * known value) fills the months where one channel is silent; the
    * output keeps the months where the web channel's running total leads
    * the store channel's. Integer cents end-to-end; a leading NULL run
    * (channel not started) compares UNKNOWN and drops — identical
    * three-valued logic both engines.
    *
    * Scale: two channel aggregates (one fact pass each, map-side
    * combined), and the windows ride a months-bounded frame (output
    * cardinality = calendar months, never fact rows) — the global window
    * is O(months) regardless of fact size.
    */
  private def sqlTpcdsQ51Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, sfDir) _
    def chan(prio: String): DataFrame =
      t("orders").filter($"o_orderpriority" === prio)
        .groupBy(date_trunc("month", $"o_orderdate").as("mon"))
        .agg(sum(($"o_totalprice".cast("decimal(14,2)") * 100).cast("long"))
          .as("cents"))
    val cumw = org.apache.spark.sql.expressions.Window
      .orderBy($"mon".asc_nulls_first)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val web = chan("1-URGENT")
      .select($"mon", sum($"cents").over(cumw).cast("long").as("cum_web"))
    val store = chan("2-HIGH")
      .select($"mon".as("mon_s"),
        sum($"cents").over(cumw).cast("long").as("cum_store"))
    web.join(store, $"mon" === $"mon_s", "full_outer")
      .select(coalesce($"mon", $"mon_s").as("mon"), $"cum_web", $"cum_store")
      .select($"mon",
        max($"cum_web").over(cumw).cast("long").as("web_run"),
        max($"cum_store").over(cumw).cast("long").as("store_run"))
      .filter($"web_run" > $"store_run")
      .orderBy($"mon".asc_nulls_first)
  }

  private val sqlTpcdsQ51FlavorOracle = """
    WITH web AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
        CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
          AS BIGINT) AS cents
      FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
    store AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
        CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
          AS BIGINT) AS cents
      FROM orders WHERE o_orderpriority = '2-HIGH' GROUP BY 1),
    webc AS (
      SELECT mon, CAST(sum(cents) OVER (ORDER BY mon ASC NULLS FIRST
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS cum_web FROM web),
    storec AS (
      SELECT mon, CAST(sum(cents) OVER (ORDER BY mon ASC NULLS FIRST
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS cum_store FROM store),
    j AS (
      SELECT coalesce(w.mon, s.mon) AS mon, cum_web, cum_store
      FROM webc w FULL OUTER JOIN storec s ON w.mon = s.mon),
    runs AS (
      SELECT mon,
        CAST(max(cum_web) OVER (ORDER BY mon ASC NULLS FIRST
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS web_run,
        CAST(max(cum_store) OVER (ORDER BY mon ASC NULLS FIRST
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS store_run
      FROM j)
    SELECT mon, web_run, store_run FROM runs
    WHERE web_run > store_run
    ORDER BY mon ASC NULLS FIRST"""

  /** TPC-DS Q88 flavor (added round 14) — the scan-sharing shape: the
    * original runs EIGHT separate scans (one per half-hour band) that any
    * sane engine should fuse; the flavor states the fused form directly —
    * ONE lineitem pass with eight conditional counts (quantity band ×
    * discount gate), a single global aggregate row. At 100 TB this is the
    * difference between 8 fact scans and 1; the conditional counts ride
    * map-side partial aggregation to a 1-row result.
    */
  private def sqlTpcdsQ88Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    val t = table(spark, sfDir) _
    val bands = (0 until 8).map { i =>
      val lo = 1 + i * 6
      val hi = lo + 6
      expr(s"count_if(l_quantity >= $lo AND l_quantity < $hi " +
        s"AND l_discount >= 0.05)").as(s"h${lo}_$hi")
    }
    t("lineitem").agg(bands.head, bands.tail: _*)
      .orderBy(col("h1_7").asc)
  }

  private val sqlTpcdsQ88FlavorOracle = {
    val cols = (0 until 8).map { i =>
      val lo = 1 + i * 6
      val hi = lo + 6
      s"""CAST(count(*) FILTER (WHERE l_quantity >= $lo AND l_quantity < $hi
        AND l_discount >= 0.05) AS BIGINT) AS h${lo}_$hi"""
    }.mkString(",\n      ")
    s"""
    SELECT $cols
    FROM lineitem
    ORDER BY h1_7 ASC"""
  }

  /** TPC-DS Q97 flavor (added round 14) — the channel-overlap audit: the
    * distinct customer sets of two order channels (URGENT vs HIGH
    * priorities as web vs store) FULL OUTER joined on customer, counted
    * into web-only / store-only / both. One row, three counts — the shape
    * every cross-channel retention dashboard runs. Scale: two distinct
    * aggregations (map-side partial dedup) and one key-equi full outer
    * join — O(customers) shuffle, never O(orders).
    */
  private def sqlTpcdsQ97Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, sfDir) _
    def chan(prio: String, name: String): DataFrame =
      t("orders").filter($"o_orderpriority" === prio)
        .select($"o_custkey".as(name)).distinct()
    chan("1-URGENT", "web_k").join(chan("2-HIGH", "store_k"),
        $"web_k" === $"store_k", "full_outer")
      .agg(
        expr("count_if(web_k IS NOT NULL AND store_k IS NULL)").as("web_only"),
        expr("count_if(web_k IS NULL AND store_k IS NOT NULL)").as("store_only"),
        expr("count_if(web_k IS NOT NULL AND store_k IS NOT NULL)").as("both_ch"))
      .orderBy($"web_only".asc)
  }

  private val sqlTpcdsQ97FlavorOracle = """
    WITH web AS (
      SELECT DISTINCT o_custkey AS k FROM orders
      WHERE o_orderpriority = '1-URGENT'),
    store AS (
      SELECT DISTINCT o_custkey AS k FROM orders
      WHERE o_orderpriority = '2-HIGH'),
    j AS (
      SELECT web.k AS web_k, store.k AS store_k
      FROM web FULL OUTER JOIN store ON web.k = store.k)
    SELECT
      CAST(count(*) FILTER (WHERE web_k IS NOT NULL AND store_k IS NULL)
        AS BIGINT) AS web_only,
      CAST(count(*) FILTER (WHERE web_k IS NULL AND store_k IS NOT NULL)
        AS BIGINT) AS store_only,
      CAST(count(*) FILTER (WHERE web_k IS NOT NULL AND store_k IS NOT NULL)
        AS BIGINT) AS both_ch
    FROM j
    ORDER BY web_only ASC"""

  /** TPC-DS Q36 flavor (added round 14) — rank WITHIN THE ROLLUP PARENT,
    * the shape q67 does not cover (q67 ranks ACROSS depths): profit cents
    * rolled up through (type, brand), each row ranked only among its
    * SIBLINGS — leaf rows against the other brands of their type,
    * type-total rows against the other types, the grand total alone —
    * via a window partitioned by (lochierarchy, parent key). Grades
    * grouping() used as a window PARTITION key, the q36 signature. All
    * integer cents; sibling rank tiebreak chain is total.
    *
    * Scale: one fact pass through the rollup Expand; the sibling windows
    * partition by (depth, parent) — bounded groups, never global.
    */
  private def sqlTpcdsQ36Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, sfDir) _
    val sales = t("lineitem")
      .join(broadcast(t("part").select($"p_partkey", $"p_type", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .select($"p_type", $"p_brand",
        (($"l_extendedprice".cast("decimal(12,2)") * 100).cast("long")
          * $"l_quantity".cast("long")).as("cents"))
    val rolled = sales.rollup($"p_type", $"p_brand")
      .agg(sum($"cents").as("cents"),
        (grouping($"p_type") + grouping($"p_brand")).cast("long")
          .as("lochierarchy"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lochierarchy",
        when($"lochierarchy" === 0, $"p_type"))
      .orderBy($"cents".desc, $"p_type".asc_nulls_first,
        $"p_brand".asc_nulls_first)
    rolled
      .withColumn("rank_within_parent", rank().over(w).cast("long"))
      .select($"p_type", $"p_brand", $"lochierarchy", $"cents",
        $"rank_within_parent")
      .orderBy($"lochierarchy".desc, $"p_type".asc_nulls_first,
        $"p_brand".asc_nulls_first)
  }

  private val sqlTpcdsQ36FlavorOracle = """
    WITH sales AS (
      SELECT p_type, p_brand,
        CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
          * CAST(l_quantity AS BIGINT) AS cents
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    rolled AS (
      SELECT p_type, p_brand, CAST(sum(cents) AS BIGINT) AS cents,
        CAST(grouping(p_type) + grouping(p_brand) AS BIGINT) AS lochierarchy
      FROM sales GROUP BY ROLLUP(p_type, p_brand))
    SELECT p_type, p_brand, lochierarchy, cents,
      CAST(rank() OVER (
        PARTITION BY lochierarchy,
          CASE WHEN lochierarchy = 0 THEN p_type END
        ORDER BY cents DESC, p_type ASC NULLS FIRST,
          p_brand ASC NULLS FIRST) AS BIGINT) AS rank_within_parent
    FROM rolled
    ORDER BY lochierarchy DESC, p_type ASC NULLS FIRST,
      p_brand ASC NULLS FIRST"""

  /** TPC-DS Q14 flavor (added round 15; r14 VERDICT task 4) — the
    * CROSS-CHANNEL INTERSECT: the original computes the items sold in ALL
    * THREE channels as a 3-way INTERSECT of per-channel item scans, then
    * aggregates sales restricted to those "cross items". The flavor keeps
    * the semantics but states the plan a sane engine should reach: the
    * INTERSECT (which Spark would plan as two chained left-semi joins,
    * each re-scanning the fact) is FUSED into ONE fact pass — per part,
    * three channel-presence flags as map-side conditional max()es plus
    * the channel-1 sales that the final aggregate needs, so candidate
    * generation and the sales aggregate ride the same shuffle. Channels =
    * the three top order priorities; graded output = per brand the
    * cross-part count and their exact URGENT-channel cents.
    *
    * Scale: one lineitem⋈orders fact shuffle (key-equi, unavoidable), one
    * part-keyed agg, one broadcast dim join — vs the textbook plan's
    * three fact scans + two semi-join shuffles. A spec pins the single
    * fact pass (exactly one lineitem scan in the physical plan).
    */
  private def sqlTpcdsQ14Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, sfDir) _
    val li = t("lineitem").select($"l_orderkey", $"l_partkey",
        ($"l_extendedprice".cast("decimal(12,2)") * 100).cast("long")
          .as("cents"))
      .join(t("orders").select($"o_orderkey", $"o_orderpriority"),
        $"l_orderkey" === $"o_orderkey")
    val flags = li.groupBy($"l_partkey").agg(
      max(when($"o_orderpriority" === "1-URGENT", 1).otherwise(0)).as("c1"),
      max(when($"o_orderpriority" === "2-HIGH", 1).otherwise(0)).as("c2"),
      max(when($"o_orderpriority" === "3-MEDIUM", 1).otherwise(0)).as("c3"),
      sum(when($"o_orderpriority" === "1-URGENT", $"cents")
        .otherwise(0L)).as("urgent_cents"))
    flags.filter($"c1" === 1 && $"c2" === 1 && $"c3" === 1)
      .join(broadcast(t("part").select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_cross_parts"),
        sum($"urgent_cents").cast("long").as("urgent_cents"))
      .orderBy($"p_brand".asc_nulls_first)
  }

  private val sqlTpcdsQ14FlavorOracle = """
    WITH li AS (
      SELECT l_partkey AS k, o_orderpriority AS p,
        CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
          AS cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    flags AS (
      SELECT k,
        max(CASE WHEN p = '1-URGENT' THEN 1 ELSE 0 END) AS c1,
        max(CASE WHEN p = '2-HIGH' THEN 1 ELSE 0 END) AS c2,
        max(CASE WHEN p = '3-MEDIUM' THEN 1 ELSE 0 END) AS c3,
        sum(CASE WHEN p = '1-URGENT' THEN cents ELSE 0 END) AS urgent_cents
      FROM li GROUP BY k)
    SELECT p_brand, count(*) AS n_cross_parts,
      CAST(sum(urgent_cents) AS BIGINT) AS urgent_cents
    FROM flags JOIN part ON k = p_partkey
    WHERE c1 = 1 AND c2 = 1 AND c3 = 1
    GROUP BY p_brand
    ORDER BY p_brand ASC NULLS FIRST"""

  /** TPC-DS Q86 flavor (added round 15; r14 VERDICT task 4) — ROLLUP
    * SHARE-OF-PARENT: the original rolls web sales up a 2-level hierarchy
    * and reports each row against its PARENT total. The flavor rolls
    * orders cents through (priority, status) in ONE Expand pass, then
    * computes each row's share of its parent in exact basis points
    * (cents·10⁴ div parent_cents — integer-exact both engines; bp not ppm
    * so the multiply stays far inside int64 headroom at any graded SF)
    * plus the q86 sibling rank. Parents resolve WITHOUT re-deriving the
    * rollup (a naive self-join re-ran the fact pass per parent level —
    * three Expands; the spec pins exactly one): a rollup-of-sums row's
    * parent total is the SUM OF ITS SIBLINGS, so two window sums over the
    * |groups|-sized rolled frame compute every parent in place — leaf
    * rows sum their priority partition, subtotal rows sum the subtotal
    * level, the grand total is its own parent (share 10000).
    */
  private def sqlTpcdsQ86Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, sfDir) _
    val rolled = t("orders")
      .select($"o_orderpriority", $"o_orderstatus",
        ($"o_totalprice".cast("decimal(14,2)") * 100).cast("long")
          .as("cents"))
      .rollup($"o_orderpriority", $"o_orderstatus")
      .agg(sum($"cents").as("cents"),
        (grouping($"o_orderpriority") + grouping($"o_orderstatus"))
          .cast("long").as("lochierarchy"))
    val wSib = org.apache.spark.sql.expressions.Window
      .partitionBy($"lochierarchy",
        when($"lochierarchy" === 0, $"o_orderpriority"))
    val wLevel = org.apache.spark.sql.expressions.Window
      .partitionBy($"lochierarchy")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lochierarchy",
        when($"lochierarchy" === 0, $"o_orderpriority"))
      .orderBy($"cents".desc, $"o_orderpriority".asc_nulls_first,
        $"o_orderstatus".asc_nulls_first)
    rolled
      .withColumn("parent",
        when($"lochierarchy" === 0, sum($"cents").over(wSib))
          .when($"lochierarchy" === 1, sum($"cents").over(wLevel))
          .otherwise($"cents"))
      .withColumn("share_bp", expr("cents * 10000L div parent"))
      .withColumn("rank_within_parent", rank().over(w).cast("long"))
      .select($"o_orderpriority", $"o_orderstatus", $"lochierarchy",
        $"cents", $"share_bp", $"rank_within_parent")
      .orderBy($"lochierarchy".desc, $"o_orderpriority".asc_nulls_first,
        $"o_orderstatus".asc_nulls_first)
  }

  private val sqlTpcdsQ86FlavorOracle = """
    WITH rolled AS (
      SELECT o_orderpriority, o_orderstatus,
        CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
          AS BIGINT) AS cents,
        CAST(grouping(o_orderpriority) + grouping(o_orderstatus) AS BIGINT)
          AS lochierarchy
      FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)),
    withp AS (
      SELECT o_orderpriority, o_orderstatus, lochierarchy, cents,
        CASE
          WHEN lochierarchy = 0 THEN sum(cents) OVER (
            PARTITION BY lochierarchy, o_orderpriority)
          WHEN lochierarchy = 1 THEN sum(cents) OVER (
            PARTITION BY lochierarchy)
          ELSE cents END AS parent
      FROM rolled)
    SELECT o_orderpriority, o_orderstatus, lochierarchy, cents,
      CAST(cents * 10000 // parent AS BIGINT) AS share_bp,
      CAST(rank() OVER (
        PARTITION BY lochierarchy,
          CASE WHEN lochierarchy = 0 THEN o_orderpriority END
        ORDER BY cents DESC, o_orderpriority ASC NULLS FIRST,
          o_orderstatus ASC NULLS FIRST) AS BIGINT)
        AS rank_within_parent
    FROM withp
    ORDER BY lochierarchy DESC, o_orderpriority ASC NULLS FIRST,
      o_orderstatus ASC NULLS FIRST"""

  /** TPC-DS Q89 flavor (added round 15; r14 VERDICT task 4) — the
    * CATEGORY MOVING WINDOW: the original compares each (category, brand,
    * store) month's sales against a window average and keeps the months
    * that deviate. The flavor builds the per-(priority, yyyymm) cents
    * series (one fact pass to |priorities × months| rows), runs a BOUNDED
    * centered 3-month moving sum (ROWS BETWEEN 1 PRECEDING AND 1
    * FOLLOWING — the frame is rows-bounded, so window state never grows
    * with history) and keeps months deviating from the moving average by
    * more than 10%, stated in exact integer arithmetic
    * (10·|3·cents − mov| > mov ⟺ |cents − mov/3| > 0.1·mov/3) so the
    * cross-engine filter cannot drift on a division boundary.
    *
    * Scale: the window partitions by priority over months — a bounded,
    * monthly-resolution frame; the fact pass reduces to the monthly grid
    * before any window state exists.
    */
  private def sqlTpcdsQ89Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, sfDir) _
    val monthly = t("orders")
      .groupBy($"o_orderpriority",
        (year($"o_orderdate") * 100 + month($"o_orderdate")).cast("long")
          .as("ym"))
      .agg(sum(($"o_totalprice".cast("decimal(14,2)") * 100).cast("long"))
        .as("cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_orderpriority").orderBy($"ym".asc)
      .rowsBetween(-1, 1)
    monthly
      .withColumn("mov_cents", sum($"cents").over(w))
      .filter(abs($"cents" * 3 - $"mov_cents") * 10 > $"mov_cents")
      .select($"o_orderpriority", $"ym", $"cents".cast("long").as("cents"),
        $"mov_cents".cast("long").as("mov_cents"))
      .orderBy($"o_orderpriority".asc_nulls_first, $"ym".asc_nulls_first)
  }

  private val sqlTpcdsQ89FlavorOracle = """
    WITH monthly AS (
      SELECT o_orderpriority,
        CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
        CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
          AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2),
    mov AS (
      SELECT o_orderpriority, ym, cents,
        CAST(sum(cents) OVER (PARTITION BY o_orderpriority
          ORDER BY ym ASC ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
          AS BIGINT) AS mov_cents
      FROM monthly)
    SELECT o_orderpriority, ym, cents, mov_cents
    FROM mov
    WHERE abs(cents * 3 - mov_cents) * 10 > mov_cents
    ORDER BY o_orderpriority ASC NULLS FIRST, ym ASC NULLS FIRST"""

  /** TPC-DS Q23 flavor (added round 15) — the benchmark's heaviest shape:
    * FREQUENT ITEMS ∩ BEST CUSTOMERS gating a cross-channel aggregate.
    * Channels map to order status: 'F' is the store history, 'O' the
    * online channel being measured. Frequent parts = ≥ 10 store-channel
    * lineitems; best customers = customers whose store-channel cents
    * exceed the GLOBAL per-customer average, stated WITHOUT division as
    * the integer cross-multiply cust_cents · n_custs > total_cents (a
    * div/floor asymmetry cannot exist where there is no division). The
    * graded aggregate sums the online-channel lineitems of best customers
    * buying frequent parts, per order priority.
    *
    * Scale: two store-channel passes reduce to a part list and a customer
    * list (each map-side-combined); both gate the online pass as
    * COUNT-GATED broadcast semi-joins ([[Dsl.gatedBroadcast]], round 16:
    * their sizes are data-dependent fractions of part/customer — nothing
    * bounds "frequent parts" or "above-average customers" at 100 TB, so
    * each side broadcasts only if a cheap count clears the ceiling and
    * otherwise hints a sort-merge shuffle semi). The global threshold is
    * a 1-row broadcast riding the customer aggregate — no fact-fact
    * shuffle beyond the lineitem⋈orders key join each pass needs anyway.
    */
  private def sqlTpcdsQ23Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, sfDir) _
    val li = t("lineitem").select($"l_orderkey", $"l_partkey",
      ($"l_extendedprice".cast("decimal(12,2)") * 100).cast("long")
        .as("cents"))
    val ord = t("orders").select($"o_orderkey", $"o_custkey",
      $"o_orderstatus", $"o_orderpriority")
    // The store-channel join feeds BOTH gate aggregates (frequent parts
    // and best customers) — cached narrow (3 columns) so the fact⋈orders
    // join runs once per query instead of once per gate (optimization
    // round 19, guide §2.4: two consumers share one computed exchange;
    // the executed plan previously embedded the join under each gated
    // InMemoryRelation separately). MEMORY_AND_DISK via cache(): the
    // in-plan shared-subtree policy Sessions.scala documents; at scale
    // the cached slice is the F-channel fraction of lineitem projected to
    // three columns, spilling — the recompute alternative is a second
    // full fact-fact join.
    val store = li.join(ord.filter($"o_orderstatus" === "F"),
      $"l_orderkey" === $"o_orderkey")
      .select($"l_partkey", $"o_custkey", $"cents")
      .cache()
    val freqParts = store.groupBy($"l_partkey")
      .agg(count(lit(1)).as("n")).filter($"n" >= 10)
      .select($"l_partkey".as("fp"))
    val custCents = store.groupBy($"o_custkey")
      .agg(sum($"cents").as("cust_cents"))
    val pool = custCents.agg(count(lit(1)).as("n_custs"),
      sum($"cust_cents").as("total_cents"))
    val best = custCents.crossJoin(broadcast(pool))
      .filter($"cust_cents" * $"n_custs" > $"total_cents")
      .select($"o_custkey".as("bc"))
    li.join(ord.filter($"o_orderstatus" === "O"),
        $"l_orderkey" === $"o_orderkey")
      .join(gatedBroadcast(freqParts), $"l_partkey" === $"fp", "left_semi")
      .join(gatedBroadcast(best), $"o_custkey" === $"bc", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        sum($"cents").cast("long").as("cents"))
      .orderBy($"o_orderpriority".asc_nulls_first)
  }

  private val sqlTpcdsQ23FlavorOracle = """
    WITH li AS (
      SELECT l_orderkey, l_partkey,
        CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
          AS cents
      FROM lineitem),
    store AS (
      SELECT li.*, o_custkey FROM li
      JOIN orders ON l_orderkey = o_orderkey WHERE o_orderstatus = 'F'),
    fp AS (
      SELECT l_partkey FROM store GROUP BY l_partkey
      HAVING count(*) >= 10),
    cc AS (
      SELECT o_custkey, sum(cents) AS cust_cents FROM store GROUP BY 1),
    pool AS (
      SELECT count(*) AS n_custs, sum(cust_cents) AS total_cents FROM cc),
    best AS (
      SELECT o_custkey FROM cc, pool
      WHERE cust_cents * n_custs > total_cents)
    SELECT o_orderpriority, count(*) AS n_rows,
      CAST(sum(cents) AS BIGINT) AS cents
    FROM li
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'O'
      AND l_partkey IN (SELECT l_partkey FROM fp)
      AND o_custkey IN (SELECT o_custkey FROM best)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority ASC NULLS FIRST"""

  /** TPC-DS Q74 flavor (added round 15) — YEAR-OVER-YEAR CUSTOMER GROWTH:
    * the original compares each customer's sales ratio across two years
    * and channels. The flavor fuses both years into ONE fact pass (two
    * conditional sums per customer — the q88/q14 scan-sharing move, vs
    * the textbook per-year scans + self-join), keeps customers active in
    * BOTH years whose 1996 cents strictly exceed 1995, and rolls the
    * growers up per nation (broadcast dims) with their exact summed
    * growth. Integer cents end to end; no division anywhere.
    */
  private def sqlTpcdsQ74Flavor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = table(spark, sfDir) _
    val byCust = t("orders")
      .filter(year($"o_orderdate").isin(1995, 1996))
      .groupBy($"o_custkey")
      .agg(
        sum(when(year($"o_orderdate") === 1995,
          ($"o_totalprice".cast("decimal(14,2)") * 100).cast("long"))
          .otherwise(0L)).as("c95"),
        sum(when(year($"o_orderdate") === 1996,
          ($"o_totalprice".cast("decimal(14,2)") * 100).cast("long"))
          .otherwise(0L)).as("c96"))
      .filter($"c95" > 0 && $"c96" > $"c95")
    byCust
      .join(broadcast(t("customer")
        .select($"c_custkey", $"c_nationkey")),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(t("nation").select($"n_nationkey", $"n_name")),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_growers"),
        sum($"c96" - $"c95").cast("long").as("growth_cents"))
      .orderBy($"n_name".asc_nulls_first)
  }

  private val sqlTpcdsQ74FlavorOracle = """
    WITH byc AS (
      SELECT o_custkey,
        sum(CASE WHEN year(o_orderdate) = 1995 THEN
          CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
          ELSE 0 END) AS c95,
        sum(CASE WHEN year(o_orderdate) = 1996 THEN
          CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
          ELSE 0 END) AS c96
      FROM orders WHERE year(o_orderdate) IN (1995, 1996)
      GROUP BY o_custkey)
    SELECT n_name, count(*) AS n_growers,
      CAST(sum(c96 - c95) AS BIGINT) AS growth_cents
    FROM byc
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c95 > 0 AND c96 > c95
    GROUP BY n_name
    ORDER BY n_name ASC NULLS FIRST"""

  override val queries: Vector[Q] = Vector(
    Q("q_sql_tpcds_q23_flavor", sqlTpcdsQ23Flavor, Some(sqlTpcdsQ23FlavorOracle)),
    Q("q_sql_tpcds_q74_flavor", sqlTpcdsQ74Flavor, Some(sqlTpcdsQ74FlavorOracle)),
    Q("q_sql_tpcds_q14_flavor", sqlTpcdsQ14Flavor, Some(sqlTpcdsQ14FlavorOracle)),
    Q("q_sql_tpcds_q86_flavor", sqlTpcdsQ86Flavor, Some(sqlTpcdsQ86FlavorOracle)),
    Q("q_sql_tpcds_q89_flavor", sqlTpcdsQ89Flavor, Some(sqlTpcdsQ89FlavorOracle)),
    Q("q_sql_tpcds_q36_flavor", sqlTpcdsQ36Flavor, Some(sqlTpcdsQ36FlavorOracle)),
    Q("q_sql_tpcds_q88_flavor", sqlTpcdsQ88Flavor, Some(sqlTpcdsQ88FlavorOracle)),
    Q("q_sql_tpcds_q97_flavor", sqlTpcdsQ97Flavor, Some(sqlTpcdsQ97FlavorOracle)),
    Q("q_sql_tpcds_q67_flavor", sqlTpcdsQ67Flavor, Some(sqlTpcdsQ67FlavorOracle)),
    Q("q_sql_tpcds_q51_flavor", sqlTpcdsQ51Flavor, Some(sqlTpcdsQ51FlavorOracle)),
    Q("q_sql_tpch_q20_flavor", sqlTpchQ20Flavor, Some(sqlTpchQ20FlavorSql)),
    Q("q_sql_tpch_q7_flavor", sqlTpchQ7Flavor, Some(sqlTpchQ7FlavorOracle)),
    Q("q_sql_tpch_q9_flavor", sqlTpchQ9Flavor, Some(sqlTpchQ9FlavorOracle)),
    Q("q_sql_tpch_q11_flavor", sqlTpchQ11Flavor, Some(sqlTpchQ11FlavorSql)),
    Q("q_sql_tpch_q13_flavor", sqlTpchQ13Flavor, Some(sqlTpchQ13FlavorOracle)),
    Q("q_sql_tpch_q15_flavor", sqlTpchQ15Flavor, Some(sqlTpchQ15FlavorSql)),
    Q("q_sql_tpch_q16_flavor", sqlTpchQ16Flavor, Some(sqlTpchQ16FlavorOracle)),
    Q("q_sql_tpch_q18_flavor", sqlTpchQ18Flavor, Some(sqlTpchQ18FlavorSql)),
    Q("q_sql_tpch_q21_flavor", sqlTpchQ21Flavor, Some(sqlTpchQ21FlavorSql)),
  )
}
