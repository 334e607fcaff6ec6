package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Catalog, Memo, Q, QueryPack, Rounds}
import graft.plans.MvAggregateRewrite

/** SURVEY.md §2.M — materialized-view aggregate rewrite (added round 12
  * batch 4). The query here is written against the RAW lineitem table; the
  * [[MvAggregateRewrite]] optimizer rule reroutes it onto a registered
  * monthly rollup (built and registered once, a [[graft.Memo]] entry).
  * Correctness is self-verifying three ways: the DuckDB oracle aggregates
  * the raw table, the MvRewriteSpec runs the same plan with and without the
  * registration and diffs, and the spec asserts
  * the optimized plan reads the rollup leaf, not the fact scan.
  */
object MvOps extends QueryPack {

  /** Build the monthly rollup of lineitem once (a [[graft.Memo]] entry)
    * and register it with the rewrite rule, keyed to the fact relation's
    * root paths (derived through the SAME walk the matcher uses, so the
    * key can never drift from what the rule sees).
    */
  private def ensureMv(spark: SparkSession, sfDir: String): Unit =
    Memo(spark, sfDir, "mvRollup") {
      import spark.implicits._
      val appId = spark.sparkContext.applicationId
      val li = Catalog.load(spark, sfDir, "lineitem")
      val pathKey = MvAggregateRewrite.factPathKey(li.queryExecution.analyzed)
        .getOrElse(throw new IllegalStateException(
          "graft q_mv_rewrite: fact relation did not resolve to root paths"))
      val mv = li
        .groupBy($"l_returnflag", $"l_linestatus",
          month($"l_shipdate").cast("long").as("mon"))
        .agg(count(lit(1)).as("cnt"),
          sum($"l_quantity".cast("long")).as("sqty"))
        .transform(Rounds.cut)
      val out = mv.queryExecution.analyzed.output
      MvAggregateRewrite.register(appId, pathKey,
        MvAggregateRewrite.Entry(mv.queryExecution.analyzed,
          out(0), out(1), out(2), out(3), out(4)))
    }

  /** The graded query — written against the fact table, served from the
    * rollup: per (returnflag, ship month) row count and total quantity.
    * Its grouping keys are a strict SUBSET of the rollup's (flag, status,
    * mon), so the rewrite must RE-aggregate partial states — rollup
    * navigation, not a 1:1 view swap. The oracle aggregates the raw table;
    * identical results are the rewrite's correctness proof at the gate.
    */
  private def mvRewrite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    ensureMv(spark, sfDir)
    Catalog.load(spark, sfDir, "lineitem")
      .groupBy($"l_returnflag", month($"l_shipdate").cast("long").as("mon"))
      .agg(count(lit(1)).as("n_rows"),
        sum($"l_quantity".cast("long")).as("sum_qty"))
      .orderBy($"l_returnflag".asc_nulls_first, $"mon".asc_nulls_first)
  }

  private val mvRewriteOracle = """
    SELECT l_returnflag, CAST(month(l_shipdate) AS BIGINT) AS mon,
      count(*) AS n_rows,
      CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY 1, 2
    ORDER BY l_returnflag ASC NULLS FIRST, mon ASC NULLS FIRST"""

  /** Day the "nightly" delta starts: everything shipped on/after this date
    * is new since the rollup was last refreshed. Fixture shipdates run
    * through 1998-12-01, so the delta is ~3 months of a 7-year fact table.
    */
  private val IncCutoff = "1998-09-01"

  /** The STALE rollup: monthly partials over only the rows shipped BEFORE
    * [[IncCutoff]], a [[graft.Memo]] leaf.
    * At 100 TB this is the table a refresh job maintains on disk; the leaf
    * stands in for it.
    */
  private def staleRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Memo.leaf(spark, sfDir, "mvStaleRollup")(
      Catalog.load(spark, sfDir, "lineitem")
        .filter($"l_shipdate" < lit(IncCutoff).cast("date"))
        .groupBy($"l_returnflag", $"l_linestatus",
          month($"l_shipdate").cast("long").as("mon"))
        .agg(count(lit(1)).as("cnt"),
          sum($"l_quantity".cast("long")).as("sqty")))
  }

  /** INCREMENTAL MV MAINTENANCE (added round 12 batch 6) — the refresh
    * path every 100-TB rollup needs: instead of recomputing the monthly
    * rollup from the full fact table, aggregate ONLY the delta (rows
    * shipped on/after [[IncCutoff]], a pushed-down scan filter) into the
    * same partial-state shape and re-aggregate it together with the stale
    * rollup leaf. count and sum partials are self-maintainable under
    * inserts — merge = sum of partials, the exact algebra
    * [[MvAggregateRewrite]] serves from — so refresh cost is
    * O(delta + |groups|), never O(fact). The oracle recomputes the served
    * query from the raw table: identical results prove the incremental
    * merge equals the full recompute. The batch-6 spec additionally
    * asserts the delta scan's PushedFilters carries the shipdate bound and
    * that the plan contains exactly ONE lineitem relation scan (the stale
    * side arrives as a checkpoint leaf).
    */
  private def mvIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val stale = staleRollup(spark, sfDir)
    val delta = Catalog.load(spark, sfDir, "lineitem")
      .filter($"l_shipdate" >= lit(IncCutoff).cast("date"))
      .groupBy($"l_returnflag", $"l_linestatus",
        month($"l_shipdate").cast("long").as("mon"))
      .agg(count(lit(1)).as("cnt"),
        sum($"l_quantity".cast("long")).as("sqty"))
    stale.unionByName(delta)
      .groupBy($"l_returnflag", $"mon")
      .agg(sum($"cnt").as("n_rows"), sum($"sqty").as("sum_qty"))
      .orderBy($"l_returnflag".asc_nulls_first, $"mon".asc_nulls_first)
  }

  /** INCREMENTAL JOIN-VIEW MAINTENANCE (round 13 batch 9) — the delta
    * rule for a JOIN view under inserts on BOTH sides, the step up from
    * [[mvIncremental]]'s single-table rollup: for view
    * J = orders ⋈ customer (per-nation count + cents total),
    * with ΔO = orders dated on/after [[IncCutoff]] and ΔC = customers
    * whose custkey ≡ 0 (mod 10),
    *
    *   J_new = J_old ⊎ (ΔO ⋈ C_old) ⊎ (O_old ⋈ ΔC) ⊎ (ΔO ⋈ ΔC)
    *
    * where ⊎ is partial-state merge (sum of counts/sums per nation) —
    * every cross term appears exactly once, the textbook bag-algebra
    * delta. J_old is a checkpoint leaf (the stale view a refresh job
    * maintains on disk); the three delta terms are the ONLY work:
    * ΔO⋈C_old shuffles the order-delta against the dimension, the two
    * ΔC terms broadcast the customer-delta (delta-sized by construction),
    * and nothing recomputes O_old ⋈ C_old — refresh cost is
    * O(Δ + |groups|) joins plus one O_old scan, never the old join. The
    * oracle recomputes the view from the raw tables: identical results
    * prove the four-term merge equals the full recompute.
    */
  private def mvJoinIncremental(spark: SparkSession,
                                sfDir: String): DataFrame = {
    import spark.implicits._
    val cents = ($"o_totalprice".cast("decimal(14,2)") * 100).cast("long")
    def part(df: DataFrame): DataFrame = df
      .groupBy($"c_nationkey".cast("long").as("nation"))
      .agg(count(lit(1)).as("cnt"), sum(cents).as("cts"))
    val orders = Catalog.load(spark, sfDir, "orders")
    val customer = Catalog.load(spark, sfDir, "customer")
      .select($"c_custkey", $"c_nationkey")
    val isNewC = pmod($"c_custkey", lit(10)) === 0
    val oldO = orders.filter($"o_orderdate" < lit(IncCutoff).cast("date"))
    val dO = orders.filter($"o_orderdate" >= lit(IncCutoff).cast("date"))
    val oldC = customer.filter(!isNewC)
    val dC = customer.filter(isNewC)
    val jOld = Memo.leaf(spark, sfDir, "mvStaleJoinView")(
      part(oldO.join(oldC, $"o_custkey" === $"c_custkey")))
    val deltas = Seq(
      part(dO.join(oldC, $"o_custkey" === $"c_custkey")),
      part(oldO.join(broadcast(dC), $"o_custkey" === $"c_custkey")),
      part(dO.join(broadcast(dC), $"o_custkey" === $"c_custkey")))
    (jOld +: deltas).reduce(_.unionByName(_))
      .groupBy($"nation")
      .agg(sum($"cnt").as("n_rows"), sum($"cts").cast("long").as("cents"))
      .orderBy($"nation".asc_nulls_first)
  }

  private val mvJoinIncrementalOracle = """
    SELECT CAST(c_nationkey AS BIGINT) AS nation,
      count(*) AS n_rows,
      CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
        AS BIGINT) AS cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    ORDER BY nation ASC NULLS FIRST"""

  override val queries: Vector[Q] = Vector(
    Q("q_mv_rewrite", mvRewrite, Some(mvRewriteOracle), warm = true),
    Q("q_mv_incremental", mvIncremental, Some(mvRewriteOracle), warm = true),
    Q("q_mv_join_incremental", mvJoinIncremental, Some(mvJoinIncrementalOracle), warm = true),
  )
}
