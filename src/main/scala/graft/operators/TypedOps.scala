package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Catalog, Q, QueryPack}

/** Order row as a typed view — the typed API surface of SURVEY §1.3. */
case class OrderRow(
    o_orderkey: Long,
    o_custkey: Long,
    o_orderstatus: String,
    o_totalprice: Double,
    o_orderpriority: String)

/** SURVEY §1.3 typed-API surface: `Dataset[T]` transformations with
  * case-class encoders where type safety helps, landing back in a DataFrame
  * for the graded output.
  *
  * Scale notes: typed `filter`/`map` lambdas deserialize rows into objects
  * (slower than Catalyst expressions, which is why the rest of the library
  * prefers columns), but `groupByKey(...).agg(typed columns)` keeps the
  * aggregation itself in the expression domain — this query exists to prove
  * the surface, and its scaladoc records the cost model.
  */
object TypedOps extends QueryPack {

  private def typedDataset(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = Catalog.load(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice",
        $"o_orderpriority")
      .as[OrderRow]
    val urgent = orders
      .filter((o: OrderRow) => o.o_orderpriority == "1-URGENT" && o.o_totalprice > 100000.0)
      .map((o: OrderRow) => (o.o_custkey, o.o_orderkey,
        math.round(o.o_totalprice * 0.1 * 100.0) / 100.0))
    urgent.toDF("custkey", "orderkey", "commission")
      .orderBy($"orderkey".asc_nulls_first)
  }

  /** Typed grouped-map surface (`KeyValueGroupedDataset.flatMapGroups`):
    * per-customer order cadence — order count, first/last order, and the
    * longest day-gap between consecutive orders — computed imperatively
    * inside the group, the shape Catalyst can't express when the per-group
    * logic is genuinely sequential.
    *
    * Scale: ONE hash shuffle on the high-cardinality custkey; each group is
    * bounded by orders-per-customer (tens), so the in-group sort/buffer is
    * O(group), never O(partition). Gaps depend only on the sorted DATE
    * sequence, so equal-date tie order cannot change the result (oracle
    * parity is deterministic).
    */
  private def typedGroupmap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val utc = java.time.ZoneOffset.UTC
    Catalog.load(spark, sfDir, "orders")
      .select($"o_custkey", $"o_orderdate")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroups { (custkey: Long, it: Iterator[(Long, java.sql.Timestamp)]) =>
        val ts = it.map(_._2).toArray.sortBy(_.getTime)
        val days = ts.map(_.toInstant.atZone(utc).toLocalDate.toEpochDay)
        val maxGap =
          if (days.length < 2) None
          else Some(days.iterator.zip(days.iterator.drop(1)).map { case (p, c) => c - p }.max)
        Iterator((custkey, ts.length.toLong, ts.head, ts.last, maxGap))
      }
      .toDF("custkey", "n_orders", "first_order", "last_order", "max_gap_days")
      .orderBy($"custkey".asc_nulls_first)
  }

  /** Typed COGROUP surface (`KeyValueGroupedDataset.cogroup`, added round
    * 12 batch 8) — the two-sided grouped-map Catalyst can't express when
    * per-key logic needs BOTH groups at once: orders and events cogrouped
    * on customer id, emitting one reconciliation row per key present on
    * EITHER side (order count, event count, and order-independent extremes
    * — max order price, max event value; no float SUM inside the lambda,
    * where iterator order would make the result run-dependent).
    *
    * Scale: cogroup co-partitions both inputs with ONE hash shuffle each
    * onto the same key layout, then zips the per-key iterators — the same
    * cost as a shuffle join, but with imperative access to both bounded
    * groups (the merge-reconcile shape CDC pipelines hand-roll).
    */
  private def typedCogroup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = Catalog.load(spark, sfDir, "orders")
      .select($"o_custkey", $"o_totalprice").as[(Long, Double)]
      .groupByKey(_._1)
    val events = Catalog.load(spark, sfDir, "events")
      .select($"user_id", $"value").as[(Long, Double)]
      .groupByKey(_._1)
    orders.cogroup(events) {
      (key: Long, os: Iterator[(Long, Double)], es: Iterator[(Long, Double)]) =>
        var nO = 0L; var maxP = Double.NegativeInfinity
        os.foreach { o => nO += 1; if (o._2 > maxP) maxP = o._2 }
        var nE = 0L; var maxV = Double.NegativeInfinity
        es.foreach { e => nE += 1; if (e._2 > maxV) maxV = e._2 }
        Iterator((key, nO, nE,
          if (nO == 0) None else Some(maxP),
          if (nE == 0) None else Some(maxV)))
    }
      .toDF("custkey", "n_orders", "n_events", "max_price", "max_value")
      .orderBy($"custkey".asc_nulls_first)
  }

  private val typedCogroupSql = """
    WITH o AS (
      SELECT o_custkey AS custkey, count(*) AS n_orders,
        max(o_totalprice) AS max_price
      FROM orders GROUP BY 1),
    e AS (
      SELECT user_id AS custkey, count(*) AS n_events,
        max(value) AS max_value
      FROM events GROUP BY 1)
    SELECT coalesce(o.custkey, e.custkey) AS custkey,
      coalesce(o.n_orders, 0) AS n_orders,
      coalesce(e.n_events, 0) AS n_events,
      o.max_price, e.max_value
    FROM o FULL OUTER JOIN e ON o.custkey = e.custkey
    ORDER BY custkey ASC NULLS FIRST"""

  override val queries: Vector[Q] = Vector(
    Q("q_typed_cogroup", typedCogroup, Some(typedCogroupSql)),
    Q("q_typed_groupmap", typedGroupmap, Some("""
      WITH g AS (
        SELECT o_custkey, o_orderdate,
          datediff('day',
            CAST(lag(o_orderdate) OVER
              (PARTITION BY o_custkey ORDER BY o_orderdate) AS DATE),
            CAST(o_orderdate AS DATE)) AS gap
        FROM orders)
      SELECT o_custkey AS custkey, count(*) AS n_orders,
        min(o_orderdate) AS first_order, max(o_orderdate) AS last_order,
        CAST(max(gap) AS BIGINT) AS max_gap_days
      FROM g GROUP BY o_custkey
      ORDER BY custkey ASC NULLS FIRST""")),
    Q("q_typed_dataset", typedDataset, Some("""
      SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        round(o_totalprice * 0.1, 2) AS commission
      FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 100000.0
      ORDER BY orderkey ASC NULLS FIRST""")),
  )
}
