package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Catalog, Oracle, Q, QueryPack}
import graft.Dsl._

/** SURVEY.md §2.C — joins.
  *
  * Scale notes (100 TB posture):
  *  - Dimension joins use explicit `broadcast()` — a hash-join with no
  *    shuffle of the fact side. Fact-fact joins use `hint("merge")` so the
  *    plan is a sort-merge join partitioned on the join key.
  *  - The theta/as-of joins keep an equi component (`user_id`) so the
  *    engine shuffles both sides by user and the range predicate is
  *    evaluated within a partition — never a broadcast-nested-loop over
  *    the full fact table. As-of = range join + per-key window top-1.
  *  - Skew: the fixtures are uniform; at scale, AQE's skew-join splitting
  *    covers moderate skew, and the per-user patterns here bound fan-out
  *    by construction (time-bounded self-join window).
  */
object Joins extends QueryPack {

  private def joinBroadcastInner(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Catalog.load(spark, sfDir, "lineitem")
    val part = Catalog.load(spark, sfDir, "part")
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"), "inner")
      .groupBy($"p_brand")
      .agg(
        count(lit(1)).as("n_items"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"p_brand".asc_nulls_first)
  }

  private def joinSortMergeInner(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Catalog.load(spark, sfDir, "lineitem")
    val o = Catalog.load(spark, sfDir, "orders")
    li.hint("merge")
      .join(o, li("l_orderkey") === o("o_orderkey"), "inner")
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        dsum($"l_extendedprice").as("sum_price"))
      .orderBy($"o_orderpriority".asc_nulls_first)
  }

  /** TPC-H Q5 flavor: revenue per (region, nation) where the customer and
    * the supplier sit in the same nation. Dimensions are broadcast; only
    * lineitem⋈orders is a shuffled join.
    */
  private def joinStar5Way(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = Catalog.load(spark, sfDir, "customer")
    val o = Catalog.load(spark, sfDir, "orders")
    val li = Catalog.load(spark, sfDir, "lineitem")
    val s = Catalog.load(spark, sfDir, "supplier")
    val n = Catalog.load(spark, sfDir, "nation")
    val r = Catalog.load(spark, sfDir, "region")
    // customer scales with the fact tables — broadcasting it would OOM
    // executors at 100 TB; it joins shuffled (AQE may still convert when
    // genuinely small). Only the true dims (supplier/nation/region) are
    // broadcast.
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(s), li("l_suppkey") === s("s_suppkey") &&
                          c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy($"r_name", $"n_name")
      .agg(
        count(lit(1)).as("n_items"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  private def joinLeftOuter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = Catalog.load(spark, sfDir, "customer")
    val o98 = Catalog.load(spark, sfDir, "orders")
      .filter($"o_orderdate" >= lit("1998-01-01").cast("timestamp") &&
              $"o_orderdate" < lit("1999-01-01").cast("timestamp"))
    c.join(o98, c("c_custkey") === o98("o_custkey"), "left")
      .groupBy($"c_custkey")
      .agg(
        count($"o_orderkey").as("n_orders_1998"),
        dsum($"o_totalprice").as("spend_1998"))
      .orderBy($"c_custkey".asc_nulls_first)
  }

  private def joinFullOuter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Catalog.load(spark, sfDir, "orders")
    def active(year: Int) = o
      .filter($"o_orderdate" >= lit(s"$year-01-01").cast("timestamp") &&
              $"o_orderdate" < lit(s"${year + 1}-01-01").cast("timestamp"))
      .groupBy($"o_custkey").agg(count(lit(1)).as(s"n_$year"))
      .withColumnRenamed("o_custkey", s"k_$year")
    val a = active(1997)
    val b = active(1998)
    a.join(b, a("k_1997") === b("k_1998"), "full")
      .select(
        coalesce($"k_1997", $"k_1998").as("custkey"),
        $"n_1997", $"n_1998")
      .orderBy($"custkey".asc_nulls_first)
  }

  private def urgentOrders(spark: SparkSession, sfDir: String): DataFrame =
    Catalog.load(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")

  private def joinLeftSemi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = Catalog.load(spark, sfDir, "customer")
    val u = urgentOrders(spark, sfDir)
    c.join(u, c("c_custkey") === u("o_custkey"), "left_semi")
      .orderBy($"c_custkey".asc_nulls_first)
  }

  private def joinLeftAnti(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = Catalog.load(spark, sfDir, "customer")
    val u = urgentOrders(spark, sfDir)
    c.join(u, c("c_custkey") === u("o_custkey"), "left_anti")
      .orderBy($"c_custkey".asc_nulls_first)
  }

  private def joinCross(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val r = Catalog.load(spark, sfDir, "region")
    val n = Catalog.load(spark, sfDir, "nation").select($"n_nationkey", $"n_name")
    r.crossJoin(n)
      .orderBy($"r_regionkey".asc_nulls_first, $"n_nationkey".asc_nulls_first)
  }

  /** Event pairs per user within one hour, bounded to one day of data.
    * The equi key (user_id) keeps this a shuffled hash/merge join; the
    * range predicate filters within the key group.
    */
  private def joinThetaRange(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val day = Catalog.load(spark, sfDir, "events")
      .filter($"ts" >= lit("2024-01-05").cast("timestamp") &&
              $"ts" < lit("2024-01-06").cast("timestamp"))
    val a = day.select($"user_id", $"event_id".as("e1"), $"ts".as("ts1"))
    val b = day.select($"user_id".as("uid_b"), $"event_id".as("e2"), $"ts".as("ts2"))
    a.join(b, a("user_id") === b("uid_b") &&
              a("ts1") < b("ts2") &&
              b("ts2") <= a("ts1") + expr("INTERVAL 1 HOUR"))
      .select($"user_id", $"e1", $"e2", $"ts1", $"ts2")
      .orderBy($"e1".asc_nulls_first, $"e2".asc_nulls_first)
  }

  /** As-of join: latest event per user at-or-before each probe timestamp.
    * Expressed as range join + per-(user, probe) window top-1 — the
    * standard distributed as-of formulation (no single-node sort).
    */
  private def joinAsof(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Catalog.load(spark, sfDir, "events")
    val probes = e.select($"user_id").distinct()
      .withColumn("probe_ts", probeCuts)
    val j = probes.alias("p")
      .join(e.alias("ev"), col("p.user_id") === col("ev.user_id") &&
                           col("ev.ts") <= col("p.probe_ts"))
      .select(col("p.user_id"), col("p.probe_ts"), col("ev.event_id"), col("ev.ts"))
    val w = Window.partitionBy($"user_id", $"probe_ts")
      .orderBy($"ts".desc, $"event_id".desc)
    j.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .drop("rn")
      .orderBy($"user_id".asc_nulls_first, $"probe_ts".asc_nulls_first)
  }

  /** Sessionization precursor: gap to the previous event per user — the
    * self-join is avoided entirely via lag() over (user, time). */
  private def joinSelfInterval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    Catalog.load(spark, sfDir, "events")
      .select($"event_id", $"user_id", $"ts")
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("gap_us", unix_micros($"ts") - unix_micros($"prev_ts"))
      .orderBy($"event_id".asc_nulls_first)
  }

  /** Null-safe equality join (`<=>` / `IS NOT DISTINCT FROM`): the fixture
    * is null-free, so nullable business keys are derived with `nullif`
    * (status 'P' → NULL on BOTH sides) — the point is that NULL keys MATCH
    * NULL keys, where a plain equi-join would drop every P-row. Spark
    * executes `<=>` as an ordinary hash join (null-safe keys hash like
    * values), so the plan is the same broadcast/shuffle join as `=`.
    */
  private def joinNullSafe(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Catalog.load(spark, sfDir, "orders")
      .select(nullif($"o_orderstatus", lit("P")).as("k"), $"o_totalprice")
    val dim = o.select($"k".as("dim_k")).distinct()
    o.join(dim, $"k" <=> $"dim_k")
      .groupBy($"dim_k")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("revenue"))
      .orderBy($"dim_k".asc_nulls_first)
  }

  /** Static salted join — the third leg of the skew story (q_agg_salted_skew
    * covers aggregation, SkewJoinSpec demonstrates AQE's runtime split): the
    * fact side salts its join key S ways, the dimension side replicates each
    * row S times, and the equi-join runs on (key, salt) — a hot key's rows
    * now spread over S shuffle partitions instead of one straggler task.
    * `hint("shuffle_hash")` pins the shuffled form (Catalyst would broadcast
    * this small dim, where salting is moot; the technique targets dims too
    * big to broadcast under keys too skewed for even partitions). Results
    * are EXACTLY the plain join's — the oracle is the unsalted SQL.
    */
  private def joinSkewSalted(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val S = 8
    val li = Catalog.load(spark, sfDir, "lineitem")
      .select($"l_suppkey", $"l_extendedprice",
        // Salt from row identity, NOT rand(): deterministic under task retry.
        pmod(xxhash64($"l_orderkey", $"l_linenumber"), lit(S.toLong)).as("salt"))
    val supp = Catalog.load(spark, sfDir, "supplier")
      .select($"s_suppkey".as("l_suppkey"), $"s_nationkey")
      .withColumn("salt", explode(array((0 until S).map(i => lit(i.toLong)): _*)))
    li.hint("shuffle_hash").join(supp, Seq("l_suppkey", "salt"))
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_items"), dsum($"l_extendedprice").as("revenue"))
      .orderBy($"s_nationkey".asc_nulls_first)
  }

  /** The three as-of probe cut dates, exploded: one row per cut. */
  private def probeCuts: Column = explode(array(
    lit("2024-01-08").cast("timestamp"),
    lit("2024-01-15").cast("timestamp"),
    lit("2024-01-22").cast("timestamp")))

  /** The as-of inputs of the merge-exec twins of q_join_asof (merge,
    * forward, tolerance, nearest): events as (user_id, event_id, ts) and
    * the probe spine, every event-active user at each cut date, as
    * (user_id, probe_ts).
    */
  private def asofSpine(spark: SparkSession,
                        sfDir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val e = Catalog.load(spark, sfDir, "events")
      .select($"user_id", $"event_id", $"ts")
    (e, e.select($"user_id").distinct().withColumn("probe_ts", probeCuts))
  }

  /** The DuckDB `probes` CTE of the as-of oracles: the same spine as
    * [[asofSpine]].
    */
  private val asofProbes = """WITH probes AS (
        SELECT DISTINCT user_id, p.probe_ts
        FROM events, (VALUES (TIMESTAMP '2024-01-08'), (TIMESTAMP '2024-01-15'),
                             (TIMESTAMP '2024-01-22')) p(probe_ts)),"""

  /** The custom-operator as-of join (added round 9 close): the SAME query
    * as q_join_asof, executed by [[graft.plans.AsOfMergeJoinExec]] — the
    * injected whole-operator merge join — instead of the composed
    * theta-join + window. The composed form materializes every (probe,
    * earlier-event) candidate pair before the window keeps one; the merge
    * exec streams co-partitioned co-sorted children once and remembers a
    * single row, so the intermediate disappears. Sharing q_join_asof's
    * oracle makes the driver hash-verify the custom operator against
    * DuckDB — and the spec additionally pins it row-for-row against the
    * composed form at two scale factors.
    */
  /** Shared by q_join_asof (composed form) and q_join_asof_merge (custom
    * operator): one oracle, two execution strategies.
    */
  private val asofOracle = s"""
      $asofProbes
      j AS (
        SELECT pr.user_id, pr.probe_ts, e.event_id, e.ts,
          row_number() OVER (PARTITION BY pr.user_id, pr.probe_ts
                             ORDER BY e.ts DESC, e.event_id DESC) AS rn
        FROM probes pr JOIN events e
          ON e.user_id = pr.user_id AND e.ts <= pr.probe_ts)
      SELECT user_id, probe_ts, event_id, ts FROM j WHERE rn = 1
      ORDER BY user_id ASC NULLS FIRST, probe_ts ASC NULLS FIRST"""

  private def joinAsofMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (e, probes) = asofSpine(spark, sfDir)
    graft.plans.AsOfJoin.asof(probes, e,
        leftKey = "user_id", leftTime = "probe_ts",
        rightKey = "user_id", rightTime = "ts", rightTie = "event_id")
      // Output = left ++ right with user_id twice; positional rename.
      .toDF("user_id", "probe_ts", "r_user_id", "event_id", "ts")
      .select($"user_id", $"probe_ts", $"event_id", $"ts")
      .orderBy($"user_id".asc_nulls_first, $"probe_ts".asc_nulls_first)
  }

  /** FEATURE-STORE MULTI-TABLE POINT-IN-TIME JOIN (round 13 batch 17) —
    * the enrichment shape a training pipeline runs at scale: ONE probe
    * spine (user × 3 training cut dates) picks, per feature table, the
    * latest value known AT the cut — no feature from the future (leakage),
    * no stale join key. Two CHAINED [[graft.plans.AsOfJoin]] merge execs,
    * BOTH outer: backward as-of against the events stream, then backward
    * as-of against orders (o_orderdate as the validity time) — entities
    * with no history on a side keep NULL features, the feature-store
    * contract (the spine is the full customer population, never just the
    * event-active slice). Each as-of is the custom co-sorted streaming
    * merge: candidates are never materialized, state is one row per
    * (key, probe).
    *
    * Scale: k feature tables cost k merge passes over co-partitioned
    * sorts — never a k-way candidate blow-up; the spine rides through
    * unchanged, which is exactly how a feature store serves thousands of
    * features without re-keying the world.
    */
  private def joinPitMulti(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Catalog.load(spark, sfDir, "events")
      .select($"user_id", $"event_id", $"ts", $"value")
    // The spine is the full CUSTOMER population (not just event-active
    // users) — the feature-store contract: every entity gets a row per
    // cut, features NULL where nothing is known yet. Both arms outer.
    val probes = Catalog.load(spark, sfDir, "customer")
      .select($"c_custkey".as("user_id"))
      .withColumn("probe_ts", probeCuts)
    val step1 = graft.plans.AsOfJoin.asof(probes, e,
        leftKey = "user_id", leftTime = "probe_ts",
        rightKey = "user_id", rightTime = "ts", rightTie = "event_id",
        outer = true)
      .toDF("user_id", "probe_ts", "r_user", "last_event_id", "e_ts",
        "last_value")
      .select($"user_id", $"probe_ts", $"last_event_id", $"last_value")
    val o = Catalog.load(spark, sfDir, "orders")
      .select($"o_custkey", $"o_orderkey",
        $"o_orderdate".cast("timestamp").as("o_ts"),
        ($"o_totalprice".cast("decimal(14,2)") * 100).cast("long")
          .as("cents"))
    graft.plans.AsOfJoin.asof(step1, o,
        leftKey = "user_id", leftTime = "probe_ts",
        rightKey = "o_custkey", rightTime = "o_ts", rightTie = "o_orderkey",
        outer = true)
      .toDF("user_id", "probe_ts", "last_event_id", "last_value",
        "o_custkey", "last_order_key", "o_ts", "last_order_cents")
      .select($"user_id", $"probe_ts", $"last_event_id", $"last_value",
        $"last_order_key", $"last_order_cents")
      .orderBy($"user_id".asc_nulls_first, $"probe_ts".asc_nulls_first)
  }

  private val joinPitMultiOracle = """
    WITH probes AS (
      SELECT c_custkey AS user_id, p.probe_ts
      FROM customer, (VALUES (TIMESTAMP '2024-01-08'),
                             (TIMESTAMP '2024-01-15'),
                             (TIMESTAMP '2024-01-22')) p(probe_ts)),
    e1 AS (
      SELECT pr.user_id, pr.probe_ts, e.event_id, e.value,
        row_number() OVER (PARTITION BY pr.user_id, pr.probe_ts
                           ORDER BY e.ts DESC, e.event_id DESC) AS rn
      FROM probes pr JOIN events e
        ON e.user_id = pr.user_id AND e.ts <= pr.probe_ts),
    o1 AS (
      SELECT pr.user_id, pr.probe_ts, o.o_orderkey,
        CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents,
        row_number() OVER (PARTITION BY pr.user_id, pr.probe_ts
          ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM probes pr JOIN orders o
        ON o.o_custkey = pr.user_id
       AND CAST(o.o_orderdate AS TIMESTAMP) <= pr.probe_ts)
    SELECT p.user_id, p.probe_ts,
      e.event_id AS last_event_id, e.value AS last_value,
      o.o_orderkey AS last_order_key, o.cents AS last_order_cents
    FROM probes p
    LEFT JOIN (SELECT * FROM e1 WHERE rn = 1) e
      ON e.user_id = p.user_id AND e.probe_ts = p.probe_ts
    LEFT JOIN (SELECT * FROM o1 WHERE rn = 1) o
      ON o.user_id = p.user_id AND o.probe_ts = p.probe_ts
    ORDER BY p.user_id ASC NULLS FIRST, p.probe_ts ASC NULLS FIRST"""

  /** JOIN CARDINALITY WITHOUT THE JOIN (round 13 batch 18) — the
    * estimator every cost-based planner runs before committing to a join
    * order: |A ⋈_k B| = Σ_k cnt_A(k)·cnt_B(k), computed from the two
    * per-key count aggregates JOINED ON THE KEY — two map-side-combined
    * group-bys plus a count-frame join, never the data join itself. The
    * graded output carries BOTH the prediction and the actually-executed
    * join's count for two shapes (the lineitem partkey SELF-join — the
    * Σc² skew diagnostic — and orders ⋈ lineitem on orderkey); the hash
    * grade pins prediction = actual, the identity that makes per-key
    * histograms sufficient statistics for equi-join sizing. At 100 TB
    * the count frames are |distinct keys| rows where the join is |output|
    * rows — this is why planners carry histograms, demonstrated rather
    * than asserted.
    */
  private def joinCardinality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Catalog.load(spark, sfDir, "lineitem")
    val o = Catalog.load(spark, sfDir, "orders")
    val cntPart = li.groupBy($"l_partkey").agg(count(lit(1)).as("c"))
    val selfPred = cntPart
      .agg(sum($"c" * $"c").cast("long").as("predicted"))
    val selfActual = li.select($"l_partkey".as("k")).as("a")
      .join(li.select($"l_partkey".as("k")).as("b"), Seq("k"))
      .agg(count(lit(1)).as("actual"))
    val cntLo = li.groupBy($"l_orderkey").agg(count(lit(1)).as("cl"))
    val cntOo = o.groupBy($"o_orderkey").agg(count(lit(1)).as("co"))
    val olPred = cntLo
      .join(cntOo, $"l_orderkey" === $"o_orderkey")
      .agg(sum($"cl" * $"co").cast("long").as("predicted"))
    val olActual = li.join(o, $"l_orderkey" === $"o_orderkey")
      .agg(count(lit(1)).as("actual"))
    selfPred.crossJoin(selfActual)
      .select(lit("lineitem_self_partkey").as("join_shape"),
        $"predicted", $"actual")
      .unionByName(olPred.crossJoin(olActual)
        .select(lit("orders_lineitem_orderkey").as("join_shape"),
          $"predicted", $"actual"))
      .orderBy($"join_shape".asc_nulls_first)
  }

  private val joinCardinalityOracle = """
    SELECT 'lineitem_self_partkey' AS join_shape,
      (SELECT CAST(sum(c * c) AS BIGINT)
       FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_partkey))
        AS predicted,
      (SELECT count(*) FROM lineitem a JOIN lineitem b
        ON a.l_partkey = b.l_partkey) AS actual
    UNION ALL
    SELECT 'orders_lineitem_orderkey',
      (SELECT CAST(sum(cl * co) AS BIGINT)
       FROM (SELECT l_orderkey AS k, count(*) AS cl FROM lineitem
             GROUP BY 1) l
       JOIN (SELECT o_orderkey AS k, count(*) AS co FROM orders
             GROUP BY 1) o ON l.k = o.k),
      (SELECT count(*) FROM lineitem JOIN orders
        ON l_orderkey = o_orderkey)
    ORDER BY join_shape ASC NULLS FIRST"""

  /** FORWARD as-of join (added round 11 — completes the direction set:
    * backward / forward / nearest / outer): each probe picks the EARLIEST
    * event AT OR AFTER it (ties → lowest event_id) — the "next reading
    * after the checkpoint" lookup. No new exec: forward is backward under
    * time NEGATION, so the query runs through the existing
    * [[graft.plans.AsOfMergeJoinExec]] in Backward mode over negated
    * epoch-micros longs (and a negated tie, flipping the exec's
    * highest-tie rule to conventional lowest-id) — operator COMPOSITION
    * over the 64-bit contract instead of a fourth merge variant. The
    * oracle is the composed window form (`ts >= probe`, `row_number()
    * OVER (ORDER BY ts ASC, event_id ASC) = 1`), so the negation trick's
    * tie-breaks are hash-checked against DuckDB.
    */
  private def joinAsofForward(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (events, spine) = asofSpine(spark, sfDir)
    val e = events.withColumn("neg_ts", -unix_micros($"ts"))
      .withColumn("neg_eid", -$"event_id")
    val probes = spine.withColumn("neg_probe", -unix_micros($"probe_ts"))
    graft.plans.AsOfJoin.asof(probes, e,
        leftKey = "user_id", leftTime = "neg_probe",
        rightKey = "user_id", rightTime = "neg_ts", rightTie = "neg_eid")
      .toDF("user_id", "probe_ts", "neg_probe",
        "r_user_id", "event_id", "ts", "neg_ts", "neg_eid")
      .select($"user_id", $"probe_ts", $"event_id", $"ts")
      .orderBy($"user_id".asc_nulls_first, $"probe_ts".asc_nulls_first)
  }

  /** Backward as-of with a STALENESS TOLERANCE (added round 11 — the
    * pandas merge_asof `tolerance` semantic, the freshness guard every
    * feature-store lookup wants): the latest event at-or-before each
    * probe qualifies only if it is at most 6 hours old; staler matches
    * drop the probe (the cut is real at every SF: ~60% of probes drop at
    * sf0.01). Pure composition over the custom merge exec: the
    * backward argmax within a lower-bounded window IS the overall argmax
    * filtered by the bound (if the latest match is outside the window,
    * nothing in the window can beat it), so the operator is
    * asof-backward → one residual filter — no new exec, no second scan.
    */
  private def joinAsofTolerance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (e, probes) = asofSpine(spark, sfDir)
    graft.plans.AsOfJoin.asof(probes, e,
        leftKey = "user_id", leftTime = "probe_ts",
        rightKey = "user_id", rightTime = "ts", rightTie = "event_id")
      .toDF("user_id", "probe_ts", "r_user_id", "event_id", "ts")
      .filter(unix_micros($"probe_ts") - unix_micros($"ts")
        <= 6L * 3600L * 1000000L)
      .select($"user_id", $"probe_ts", $"event_id", $"ts")
      .orderBy($"user_id".asc_nulls_first, $"probe_ts".asc_nulls_first)
  }

  private val joinAsofToleranceOracle = s"""
      $asofProbes
      j AS (
        SELECT pr.user_id, pr.probe_ts, e.event_id, e.ts,
          row_number() OVER (PARTITION BY pr.user_id, pr.probe_ts
                             ORDER BY e.ts DESC, e.event_id DESC) AS rn
        FROM probes pr JOIN events e
          ON e.user_id = pr.user_id AND e.ts <= pr.probe_ts
          AND e.ts >= pr.probe_ts - INTERVAL 6 HOURS)
      SELECT user_id, probe_ts, event_id, ts FROM j WHERE rn = 1
      ORDER BY user_id ASC NULLS FIRST, probe_ts ASC NULLS FIRST"""

  private val joinAsofForwardOracle = s"""
      $asofProbes
      j AS (
        SELECT pr.user_id, pr.probe_ts, e.event_id, e.ts,
          row_number() OVER (PARTITION BY pr.user_id, pr.probe_ts
                             ORDER BY e.ts ASC, e.event_id ASC) AS rn
        FROM probes pr JOIN events e
          ON e.user_id = pr.user_id AND e.ts >= pr.probe_ts)
      SELECT user_id, probe_ts, event_id, ts FROM j WHERE rn = 1
      ORDER BY user_id ASC NULLS FIRST, probe_ts ASC NULLS FIRST"""

  /** Nearest-event as-of join (added round 9 close; custom-operator since
    * round 10): q_join_asof picks the latest event AT OR BEFORE each
    * probe; this picks the event CLOSEST in time on either side — the
    * sensor-alignment variant (join each probe to the reading nearest it,
    * past or future). Executed by [[graft.plans.AsOfMergeJoinExec]] in
    * [[graft.plans.AsOfMode.Nearest]] mode: instead of materializing
    * every (probe, same-user event) pair and windowing over
    * (|Δt| asc, ts asc, event_id asc) — Σ|events per user| intermediate
    * rows per probe — the merge exec streams co-partitioned co-sorted
    * children once, remembering the best at-or-before row and peeking the
    * one first-after row; equidistant resolves to the past row and
    * equal-time to the lowest event_id, exactly the window order. The
    * oracle is the unchanged composed-form SQL, so the driver hash-checks
    * the custom operator's tie-breaks against DuckDB.
    */
  private def joinAsofNearest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (e, probes) = asofSpine(spark, sfDir)
    graft.plans.AsOfJoin.asof(probes, e,
        leftKey = "user_id", leftTime = "probe_ts",
        rightKey = "user_id", rightTime = "ts", rightTie = "event_id",
        mode = graft.plans.AsOfMode.Nearest)
      // Output = left ++ right with user_id twice; positional rename.
      .toDF("user_id", "probe_ts", "r_user_id", "event_id", "ts")
      .select($"user_id", $"probe_ts", $"event_id", $"ts",
        abs(unix_micros($"ts") - unix_micros($"probe_ts")).as("dt_us"))
      .orderBy($"user_id".asc_nulls_first, $"probe_ts".asc_nulls_first)
  }

  /** LEFT OUTER as-of join through the custom merge exec (added round 10
    * close — the last as-of variant): same backward semantics as
    * q_join_asof_merge, but probes with NO event at or before them are
    * KEPT with NULL right columns instead of dropped — "no version yet"
    * becomes a feature, not a lost row. The first probe sits at noon of
    * day 1, so a real slice of users has no prior event and the
    * null-emission path is exercised, while the day-15 probe matches
    * everyone. Executed by [[graft.plans.AsOfMergeJoinExec]] with
    * `outer = true` (right attributes re-advertised nullable, unmatched
    * probes emit a null right row — zero extra cost over the inner merge);
    * the oracle is the composed LEFT-join + window form.
    */
  private def joinAsofOuter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Catalog.load(spark, sfDir, "events")
      .select($"user_id", $"event_id", $"ts")
    val probes = e.select($"user_id").distinct()
      .withColumn("probe_ts", explode(array(
        lit("2024-01-01 12:00:00").cast("timestamp"),
        lit("2024-01-15").cast("timestamp"))))
    graft.plans.AsOfJoin.asof(probes, e,
        leftKey = "user_id", leftTime = "probe_ts",
        rightKey = "user_id", rightTime = "ts", rightTie = "event_id",
        outer = true)
      // Output = left ++ right with user_id twice; positional rename.
      .toDF("user_id", "probe_ts", "r_user_id", "event_id", "ts")
      .select($"user_id", $"probe_ts", $"event_id", $"ts",
        $"event_id".isNotNull.as("matched"))
      .orderBy($"user_id".asc_nulls_first, $"probe_ts".asc_nulls_first)
  }

  private val joinAsofOuterOracle = """
      WITH probes AS (
        SELECT DISTINCT user_id, p.probe_ts
        FROM events, (VALUES (TIMESTAMP '2024-01-01 12:00:00'),
                             (TIMESTAMP '2024-01-15')) p(probe_ts)),
      j AS (
        SELECT pr.user_id, pr.probe_ts, e.event_id, e.ts,
          row_number() OVER (PARTITION BY pr.user_id, pr.probe_ts
                             ORDER BY e.ts DESC, e.event_id DESC) AS rn
        FROM probes pr LEFT JOIN events e
          ON e.user_id = pr.user_id AND e.ts <= pr.probe_ts)
      SELECT user_id, probe_ts, event_id, ts,
        event_id IS NOT NULL AS matched
      FROM j WHERE rn = 1
      ORDER BY user_id ASC NULLS FIRST, probe_ts ASC NULLS FIRST"""

  /** Point-in-time-correct dimension lookup (added round 10): every event
    * enriched with the user's SCD2 attribute version VALID AT the event's
    * own timestamp — the feature-store join that keeps training data
    * leakage-free (reading the CURRENT version would leak the future into
    * past examples). The dimension is q_scd2_history's daily purchase
    * rollup (versioned valid_from per user, mirrored CTE); the lookup is
    * a backward as-of on (user_id, ts ≥ valid_from), executed by
    * [[graft.plans.AsOfMergeJoinExec]] — here with the FACT TABLE as the
    * probe side (the posture that matters at 100 TB: the composed form
    * would materialize every event × all its user's prior versions before
    * keeping one; the merge exec streams both sides once per user and
    * remembers one row). Events before the user's first version are
    * dropped (inner as-of), exactly the rows a leakage-free pipeline must
    * NOT fabricate features for.
    */
  private def joinPointInTime(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Catalog.load(spark, sfDir, "events")
    val daily = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id", date_trunc("day", $"ts").as("valid_from"))
      .agg(dsum($"value").as("day_value"))
    val wv = Window.partitionBy($"user_id").orderBy($"valid_from".asc)
    val dim = daily
      .withColumn("version", row_number().over(wv).cast("long"))
      .select($"user_id", $"valid_from", $"version", $"day_value")
    graft.plans.AsOfJoin.asof(
        ev.select($"event_id", $"user_id", $"ts"), dim,
        leftKey = "user_id", leftTime = "ts",
        rightKey = "user_id", rightTime = "valid_from", rightTie = "version")
      .toDF("event_id", "user_id", "ts",
        "r_user_id", "valid_from", "version", "day_value")
      .select($"event_id", $"user_id", $"ts",
        $"version", $"valid_from", $"day_value")
      .orderBy($"event_id".asc_nulls_first)
  }

  private val joinPointInTimeOracle = s"""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS valid_from,
        ${graft.Oracle.dsum("value")} AS day_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, 2),
    dim AS (
      SELECT user_id,
        CAST(row_number() OVER (PARTITION BY user_id ORDER BY valid_from ASC)
          AS BIGINT) AS version,
        valid_from, day_value
      FROM daily),
    j AS (
      SELECT e.event_id, e.user_id, e.ts, d.version, d.valid_from, d.day_value,
        row_number() OVER (PARTITION BY e.event_id
          ORDER BY d.valid_from DESC, d.version DESC) AS rn
      FROM events e JOIN dim d
        ON d.user_id = e.user_id AND d.valid_from <= e.ts)
    SELECT event_id, user_id, ts, version, valid_from, day_value
    FROM j WHERE rn = 1
    ORDER BY event_id ASC NULLS FIRST"""

  /** Bloom-prefiltered dimension join (added round 9 close): the
    * build-a-bloom-on-the-dim / prefilter-the-fact-scan pattern written as
    * one declarative query, using Spark's own BloomFilterAggregate /
    * BloomFilterMightContain (injected as `graft_bloom_agg` /
    * `graft_might_contain` — see [[graft.plans.GraftExtensions]]). The
    * bloom is built by an uncorrelated scalar subquery over the filtered
    * dim (the shape MightContain's type check requires), so the fact scan
    * drops ~non-matching rows BEFORE the join shuffle — at 100 TB that is
    * the difference between shuffling the whole fact table and shuffling
    * the selectivity-matched slice, the same effect Spark's runtime
    * row-level filtering injects automatically when statistics justify it.
    * Bloom false positives are eliminated by the exact join that follows,
    * so the result is IDENTICAL to the plain join — which is exactly what
    * the oracle checks (the q_join_skew_salted invariant pattern).
    */
  private def joinBloomPrefilter(spark: SparkSession, sfDir: String): DataFrame =
    Catalog.sql(spark, sfDir, s"""
      WITH dim AS (
        SELECT o_orderkey FROM orders
        WHERE o_orderpriority = '1-URGENT'),
      fact AS (
        SELECT l_orderkey, l_returnflag, l_quantity
        FROM lineitem
        WHERE graft_might_contain(
          (SELECT graft_bloom_agg(xxhash64(o_orderkey)) FROM dim),
          xxhash64(l_orderkey)))
      SELECT l_returnflag, count(*) AS n_items,
        ${Oracle.dsum("l_quantity")} AS sum_qty
      FROM fact JOIN dim ON l_orderkey = o_orderkey
      GROUP BY l_returnflag
      ORDER BY l_returnflag ASC NULLS FIRST""")

  /** UN-keyed interval join, banded: purchases paired with any OTHER
    * user's click within the following 5 minutes (one fixture day). With no
    * equi key, a naive plan is a nested-loop over the day's cross product —
    * instead each purchase explodes into its 5-minute bucket and the next
    * (a click ≤5 min after falls in one of the two), the join runs on the
    * bucket as an ordinary equi-join, and the exact predicate filters
    * in-bucket. Bucket population is bounded by ARRIVAL RATE (events per 5
    * minutes), not data volume, so the join stays hash-partitioned and
    * linear at any scale. A (purchase, click) pair matches exactly one of
    * the two exploded buckets, so no dedup is needed. The ORACLE is the
    * naive theta join — the two formulations verify each other (the
    * q_skyline_pareto pattern). Added round 7.
    */
  private def joinIntervalBanded(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val day = Catalog.load(spark, sfDir, "events")
      .filter($"ts" >= lit("2024-01-05").cast("timestamp") &&
              $"ts" < lit("2024-01-06").cast("timestamp"))
    val p = day.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id".as("p_user"), $"ts".as("p_ts"))
    val k = day.filter($"event_type" === "click")
      .select($"event_id".as("k_id"), $"user_id".as("k_user"), $"ts".as("k_ts"))
    val pb = p.withColumn("bkt", explode(array(
      expr("unix_micros(p_ts) div 300000000"),
      expr("unix_micros(p_ts) div 300000000 + 1"))))
    val kb = k.withColumn("bkt", expr("unix_micros(k_ts) div 300000000"))
    pb.join(kb, Seq("bkt"))
      .filter($"k_user" =!= $"p_user" &&
        $"k_ts" > $"p_ts" && $"k_ts" <= $"p_ts" + expr("INTERVAL 5 MINUTE"))
      .select($"p_id", $"k_id", $"p_user", $"k_user", $"p_ts", $"k_ts")
      .orderBy($"p_id".asc_nulls_first, $"k_id".asc_nulls_first)
  }

  private val joinIntervalBandedOracle = """
    WITH day AS (
      SELECT * FROM events
      WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-06')
    SELECT p.event_id AS p_id, k.event_id AS k_id,
           p.user_id AS p_user, k.user_id AS k_user,
           p.ts AS p_ts, k.ts AS k_ts
    FROM day p JOIN day k
      ON p.event_type = 'purchase' AND k.event_type = 'click'
     AND k.user_id <> p.user_id
     AND k.ts > p.ts AND k.ts <= p.ts + INTERVAL 5 MINUTE
    ORDER BY p_id ASC NULLS FIRST, k_id ASC NULLS FIRST"""

  /** Pure point-in-interval join written NAIVELY — and rescued by the
    * optimizer (added round 10 batch 5). Overlapping 30-day promo windows
    * start every 10 days across the order span; each order joins every
    * window containing its order day via the plain theta condition
    * `d >= win_start && d <= win_end` with NO equi key. Without help the
    * planner can only nested-loop that (O(orders × windows)); the
    * injected [[graft.plans.RangeJoinBinning]] rule rewrites the logical
    * join into the banded equi form q_join_interval_banded builds by hand
    * — point side gains floorDiv(d, W), interval side explodes its
    * covered bins, the range predicate stays as the residual. The spec
    * asserts the executed plan contains the bin key and NO nested loop.
    * The overlap is the point: non-overlapping windows would be a
    * date_trunc aggregation; overlapping ones genuinely need an interval
    * join.
    *
    * Scale: this is the declarative form every caller wants to write; the
    * rewrite makes it shuffle on bin keys like any equi join, with W
    * (here 16 days ≈ window span/2) trading generator fan-out (2-3 bins
    * per window) against per-bucket residual work.
    */
  private def joinRangeAuto(sparkIn: SparkSession, sfDir: String): DataFrame = {
    // Conf scoping: the width must be visible at OPTIMIZATION time (the
    // action fires after this builder returns), so a set+restore here
    // would disarm the rule before it ever ran. A cloned session carries
    // its own SQLConf to the returned frame's lazy optimization while the
    // caller's session keeps the rule off — no later point-in-interval
    // join in the shared session is silently rewritten by a width this
    // query leaked (builder-time .config() options and injected
    // extensions are inherited by newSession(); runtime-set conf is not).
    val spark = sparkIn.newSession()
    import spark.implicits._
    spark.conf.set(graft.plans.RangeJoinBinning.ConfKey, "16")
    val o = Catalog.load(spark, sfDir, "orders").select(
      $"o_orderkey", $"o_totalprice",
      datediff($"o_orderdate".cast("date"),
        lit("1992-01-01").cast("date")).cast("long").as("d"))
    val windows = o.agg(min($"d").as("lo"), max($"d").as("hi"))
      .select(explode(sequence($"lo" - ($"lo" % 10), $"hi", lit(10L)))
        .as("win_start"))
      .select($"win_start", ($"win_start" + 29L).as("win_end"))
    o.join(windows, $"d" >= $"win_start" && $"d" <= $"win_end")
      .groupBy($"win_start", $"win_end")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
      .orderBy($"win_start".asc_nulls_first)
  }

  private val joinRangeAutoOracle = s"""
    WITH o AS (
      SELECT o_orderkey, o_totalprice,
        CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
          AS BIGINT) AS d
      FROM orders),
    span AS (SELECT min(d) AS lo, max(d) AS hi FROM o),
    -- DuckDB's range() rejects lateral column bounds; a constant range
    -- crossed with the 1-row span and filtered reproduces Spark's
    -- sequence(lo0, hi, 10) exactly (1000 steps cover the fixture span).
    w AS (
      SELECT lo - (lo % 10) + 10 * r.range AS win_start,
        lo - (lo % 10) + 10 * r.range + 29 AS win_end
      FROM span, range(0, 1000) r
      WHERE lo - (lo % 10) + 10 * r.range <= hi)
    SELECT win_start, win_end, count(*) AS n_orders,
      ${Oracle.dsum("o_totalprice")} AS revenue
    FROM o JOIN w ON d >= win_start AND d <= win_end
    GROUP BY win_start, win_end
    ORDER BY win_start ASC NULLS FIRST"""

  /** The TIMESTAMP arm of the automatic range-join binning rule, graded
    * end-to-end (added round 10 batch 5; the long arm is
    * q_join_range_auto): events joined to OVERLAPPING 2-hour monitoring
    * windows starting every 30 minutes across the stream's span — the
    * naive theta spelling again, rescued by the µs-keyed rewrite
    * (`spark.graft.rangeJoin.binSizeMicros`, here 1-hour bins: each
    * window covers 3-4 bins, each event owns one). Overlap is again the
    * point — non-overlapping windows would be date_trunc.
    */
  private def joinRangeAutoTs(sparkIn: SparkSession, sfDir: String): DataFrame = {
    // Cloned-session conf scoping — see joinRangeAuto.
    val spark = sparkIn.newSession()
    import spark.implicits._
    spark.conf.set(graft.plans.RangeJoinBinning.MicrosConfKey,
      (3600L * 1000000L).toString)
    val e = Catalog.load(spark, sfDir, "events")
      .select($"event_id", $"ts", $"value")
    val windows = e
      .agg(min(date_trunc("hour", $"ts")).as("lo"), max($"ts").as("hi"))
      .select(explode(expr(
        "sequence(lo, hi, INTERVAL 30 MINUTES)")).as("win_start"))
      .select($"win_start",
        ($"win_start" + expr("INTERVAL 2 HOURS")).as("win_end"))
    e.join(windows, $"ts" >= $"win_start" && $"ts" < $"win_end")
      .groupBy($"win_start", $"win_end")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .orderBy($"win_start".asc_nulls_first)
  }

  private val joinRangeAutoTsOracle = s"""
    WITH e AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
    span AS (
      SELECT CAST(min(date_trunc('hour', ts)) AS TIMESTAMP) AS lo,
             max(ts) AS hi
      FROM e),
    w AS (
      SELECT lo + to_microseconds(1800000000 * r.range) AS win_start,
        lo + to_microseconds(1800000000 * r.range)
          + INTERVAL 2 HOUR AS win_end
      FROM span, range(0, 10000) r
      WHERE lo + to_microseconds(1800000000 * r.range) <= hi)
    SELECT win_start, win_end, count(*) AS n_events,
      ${Oracle.dsum("value")} AS sum_value
    FROM e JOIN w ON ts >= win_start AND ts < win_end
    GROUP BY win_start, win_end
    ORDER BY win_start ASC NULLS FIRST"""

  /** INTERVAL×INTERVAL overlap join written NAIVELY — the second
    * range-join shape (added round 11; the point-in-interval arms are
    * q_join_range_auto/_ts). Each order carries a fulfillment interval
    * [d, d + orderkey%20]; overlapping 30-day promo windows start every
    * 10 days across the span; the join condition is the plain two-sided
    * overlap `o_lo <= win_end && win_start <= o_hi` with NO equi key —
    * nested-loop territory without help. The extended
    * [[graft.plans.RangeJoinBinning]] overlap arm rewrites it: BOTH
    * sides explode covered bins, the join runs equi on the bin, and the
    * ownership residual (bin == bin(greatest(o_lo, win_start))) keeps
    * each matching pair exactly once. The spec asserts the nested loop
    * is gone and both generators are present.
    *
    * Scale: overlap joins (temporal validity × promo calendar, genomic
    * intervals) shuffle on bin keys like any equi join; fan-out is
    * (len/W + 1) per row ≈ 2-4 here — the generated-rows blow-up is
    * bounded by interval length over width, not by table size.
    */
  private def joinIntervalOverlap(sparkIn: SparkSession, sfDir: String): DataFrame = {
    // Cloned-session conf scoping — see joinRangeAuto.
    val spark = sparkIn.newSession()
    import spark.implicits._
    spark.conf.set(graft.plans.RangeJoinBinning.ConfKey, "16")
    val o = Catalog.load(spark, sfDir, "orders").select(
        $"o_orderkey", $"o_totalprice",
        datediff($"o_orderdate".cast("date"),
          lit("1992-01-01").cast("date")).cast("long").as("o_lo"))
      .withColumn("o_hi", $"o_lo" + ($"o_orderkey" % 20).cast("long"))
    val windows = o.agg(min($"o_lo").as("mn"), max($"o_lo").as("mx"))
      .select(explode(sequence($"mn" - ($"mn" % 10), $"mx", lit(10L)))
        .as("win_start"))
      .select($"win_start", ($"win_start" + 29L).as("win_end"))
    o.join(windows, $"o_lo" <= $"win_end" && $"win_start" <= $"o_hi")
      .groupBy($"win_start", $"win_end")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
      .orderBy($"win_start".asc_nulls_first)
  }

  private val joinIntervalOverlapOracle = s"""
    WITH o AS (
      SELECT o_orderkey, o_totalprice,
        CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
          AS BIGINT) AS o_lo,
        CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
          AS BIGINT) + o_orderkey % 20 AS o_hi
      FROM orders),
    span AS (SELECT min(o_lo) AS mn, max(o_lo) AS mx FROM o),
    w AS (
      SELECT mn - (mn % 10) + 10 * r.range AS win_start,
        mn - (mn % 10) + 10 * r.range + 29 AS win_end
      FROM span, range(0, 1000) r
      WHERE mn - (mn % 10) + 10 * r.range <= mx)
    SELECT win_start, win_end, count(*) AS n_orders,
      ${Oracle.dsum("o_totalprice")} AS revenue
    FROM o JOIN w ON o_lo <= win_end AND win_start <= o_hi
    GROUP BY win_start, win_end
    ORDER BY win_start ASC NULLS FIRST"""

  /** The TIMESTAMP arm of the overlap rewrite graded end-to-end (added
    * round 11; completes the 2x2 with q_join_range_auto/_ts and
    * q_join_interval_overlap): each event carries a processing interval
    * [ts, ts + (event_id%10) minutes]; overlapping 2-hour monitoring
    * windows start every 30 minutes; the naive two-sided condition
    * (strict on one bound, inclusive on the other — strictness rides the
    * residual) is rescued by the µs-keyed overlap arm with 1-hour bins.
    */
  private def joinIntervalOverlapTs(sparkIn: SparkSession, sfDir: String): DataFrame = {
    // Cloned-session conf scoping — see joinRangeAuto.
    val spark = sparkIn.newSession()
    import spark.implicits._
    spark.conf.set(graft.plans.RangeJoinBinning.MicrosConfKey,
      (3600L * 1000000L).toString)
    val e = Catalog.load(spark, sfDir, "events")
      .select($"event_id", $"value", $"ts".as("e_lo"),
        timestamp_micros(unix_micros($"ts") +
          ($"event_id" % 10) * 60000000L).as("e_hi"))
    val windows = e
      .agg(min(date_trunc("hour", $"e_lo")).as("lo"), max($"e_lo").as("hi"))
      .select(explode(expr(
        "sequence(lo, hi, INTERVAL 30 MINUTES)")).as("win_start"))
      .select($"win_start",
        ($"win_start" + expr("INTERVAL 2 HOURS")).as("win_end"))
    e.join(windows, $"e_lo" < $"win_end" && $"win_start" <= $"e_hi")
      .groupBy($"win_start", $"win_end")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .orderBy($"win_start".asc_nulls_first)
  }

  private val joinIntervalOverlapTsOracle = s"""
    WITH e AS (
      SELECT event_id, value, CAST(ts AS TIMESTAMP) AS e_lo,
        CAST(ts AS TIMESTAMP)
          + to_microseconds((event_id % 10) * 60000000) AS e_hi
      FROM events),
    span AS (
      SELECT CAST(min(date_trunc('hour', e_lo)) AS TIMESTAMP) AS lo,
             max(e_lo) AS hi
      FROM e),
    w AS (
      SELECT lo + to_microseconds(1800000000 * r.range) AS win_start,
        lo + to_microseconds(1800000000 * r.range)
          + INTERVAL 2 HOUR AS win_end
      FROM span, range(0, 10000) r
      WHERE lo + to_microseconds(1800000000 * r.range) <= hi)
    SELECT win_start, win_end, count(*) AS n_events,
      ${Oracle.dsum("value")} AS sum_value
    FROM e JOIN w ON e_lo < win_end AND win_start <= e_hi
    GROUP BY win_start, win_end
    ORDER BY win_start ASC NULLS FIRST"""

  override val queries: Vector[Q] = Vector(
    Q("q_join_range_auto", joinRangeAuto, Some(joinRangeAutoOracle)),
    Q("q_join_range_auto_ts", joinRangeAutoTs, Some(joinRangeAutoTsOracle)),
    Q("q_join_interval_overlap", joinIntervalOverlap,
      Some(joinIntervalOverlapOracle)),
    Q("q_join_interval_overlap_ts", joinIntervalOverlapTs,
      Some(joinIntervalOverlapTsOracle)),
    Q("q_join_interval_banded", joinIntervalBanded, Some(joinIntervalBandedOracle)),
    Q("q_join_skew_salted", joinSkewSalted, Some(s"""
      SELECT s_nationkey, count(*) AS n_items,
        ${Oracle.dsum("l_extendedprice")} AS revenue
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey ORDER BY s_nationkey ASC NULLS FIRST""")),
    Q("q_join_bloom_prefilter", joinBloomPrefilter, Some(s"""
      WITH dim AS (
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      SELECT l_returnflag, count(*) AS n_items,
        ${Oracle.dsum("l_quantity")} AS sum_qty
      FROM lineitem JOIN dim ON l_orderkey = o_orderkey
      GROUP BY l_returnflag
      ORDER BY l_returnflag ASC NULLS FIRST""")),
    Q("q_join_broadcast_inner", joinBroadcastInner, Some(s"""
      SELECT p_brand, count(*) AS n_items,
        ${Oracle.dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand ASC NULLS FIRST""")),
    Q("q_join_sortmerge_inner", joinSortMergeInner, Some(s"""
      SELECT o_orderpriority, count(*) AS n_items,
        ${Oracle.dsum("l_extendedprice")} AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority ASC NULLS FIRST""")),
    Q("q_join_star_5way", joinStar5Way, Some(s"""
      SELECT r_name, n_name, count(*) AS n_items,
        ${Oracle.dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST"""), warm = true),
    Q("q_join_left_outer", joinLeftOuter, Some(s"""
      SELECT c_custkey, count(o_orderkey) AS n_orders_1998,
        ${Oracle.dsum("o_totalprice")} AS spend_1998
      FROM customer LEFT JOIN (
        SELECT * FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01'
          AND o_orderdate < TIMESTAMP '1999-01-01') o
        ON c_custkey = o_custkey
      GROUP BY c_custkey ORDER BY c_custkey ASC NULLS FIRST""")),
    Q("q_join_full_outer", joinFullOuter, Some("""
      WITH a AS (
        SELECT o_custkey AS k_1997, count(*) AS n_1997 FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY o_custkey),
      b AS (
        SELECT o_custkey AS k_1998, count(*) AS n_1998 FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
        GROUP BY o_custkey)
      SELECT coalesce(k_1997, k_1998) AS custkey, n_1997, n_1998
      FROM a FULL OUTER JOIN b ON k_1997 = k_1998
      ORDER BY custkey ASC NULLS FIRST""")),
    Q("q_join_left_semi", joinLeftSemi, Some("""
      SELECT * FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      ORDER BY c_custkey ASC NULLS FIRST""")),
    Q("q_join_left_anti", joinLeftAnti, Some("""
      SELECT * FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      ORDER BY c_custkey ASC NULLS FIRST""")),
    Q("q_join_cross", joinCross, Some("""
      SELECT r.*, n.n_nationkey, n.n_name
      FROM region r CROSS JOIN (SELECT n_nationkey, n_name FROM nation) n
      ORDER BY r_regionkey ASC NULLS FIRST, n_nationkey ASC NULLS FIRST""")),
    Q("q_join_theta_range", joinThetaRange, Some("""
      WITH day AS (
        SELECT * FROM events
        WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-06')
      SELECT a.user_id, a.event_id AS e1, b.event_id AS e2,
             a.ts AS ts1, b.ts AS ts2
      FROM day a JOIN day b
        ON a.user_id = b.user_id
       AND a.ts < b.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
      ORDER BY e1 ASC NULLS FIRST, e2 ASC NULLS FIRST""")),
    Q("q_join_asof_nearest", joinAsofNearest, Some(s"""
      $asofProbes
      j AS (
        SELECT pr.user_id, pr.probe_ts, e.event_id, e.ts,
          abs(epoch_us(e.ts) - epoch_us(pr.probe_ts)) AS dt_us,
          row_number() OVER (PARTITION BY pr.user_id, pr.probe_ts
            ORDER BY abs(epoch_us(e.ts) - epoch_us(pr.probe_ts)) ASC,
                     e.ts ASC, e.event_id ASC) AS rn
        FROM probes pr JOIN events e ON e.user_id = pr.user_id)
      SELECT user_id, probe_ts, event_id, ts, dt_us FROM j WHERE rn = 1
      ORDER BY user_id ASC NULLS FIRST, probe_ts ASC NULLS FIRST""")),
    Q("q_join_asof", joinAsof, Some(asofOracle)),
    Q("q_join_asof_merge", joinAsofMerge, Some(asofOracle)),
    Q("q_join_pit_multi", joinPitMulti, Some(joinPitMultiOracle)),
    Q("q_join_cardinality", joinCardinality, Some(joinCardinalityOracle)),
    Q("q_join_asof_forward", joinAsofForward, Some(joinAsofForwardOracle)),
    Q("q_join_asof_tolerance", joinAsofTolerance,
      Some(joinAsofToleranceOracle)),
    Q("q_join_asof_outer", joinAsofOuter, Some(joinAsofOuterOracle)),
    Q("q_join_point_in_time", joinPointInTime, Some(joinPointInTimeOracle)),
    Q("q_join_self_interval", joinSelfInterval, Some("""
      SELECT event_id, user_id, ts,
        lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts,
        epoch_us(ts) - epoch_us(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) AS gap_us
      FROM events ORDER BY event_id ASC NULLS FIRST""")),
    Q("q_join_null_safe", joinNullSafe, Some(s"""
      WITH o AS (
        SELECT nullif(o_orderstatus, 'P') AS k, o_totalprice FROM orders),
      dim AS (SELECT DISTINCT k AS dim_k FROM o)
      SELECT dim_k, count(*) AS n, ${Oracle.dsum("o_totalprice")} AS revenue
      FROM o JOIN dim ON o.k IS NOT DISTINCT FROM dim.dim_k
      GROUP BY dim_k
      ORDER BY dim_k ASC NULLS FIRST""")),
  )
}
