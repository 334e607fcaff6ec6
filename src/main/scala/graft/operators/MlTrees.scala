package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryPack, Rounds}
import graft.Dsl._

/** SURVEY.md §2.J3 — HISTOGRAM-BASED SPLIT FINDING (round 13): the
  * distributed-GBDT training core (XGBoost approx / LightGBM): finding a
  * decision-tree split never sorts or re-scans the corpus per candidate —
  * ONE pass builds per-feature (bin, label) HISTOGRAMS (bounded by the
  * bin vocabulary, not the data), and every candidate split's quality is
  * window arithmetic over those histograms. `q_ml_tree_stump` grades the
  * full depth-1 loop: 3 features (order month 1–12, customer nation,
  * account-balance bucket 0–14) × all "f ≤ t" thresholds, scored by the
  * weighted-Gini cost in EXACT integer ppm —
  * cost = (nl²−pl²−ql²)·10⁶ div nl + (nr²−pr²−qr²)·10⁶ div nr —
  * non-negative dividends so Spark `div` ↔ DuckDB `//` agree, identical
  * integers both engines, so the top-10 split ranking is hash-exact (a
  * float Gini would be argmax-fragile at near-ties). n²·10⁶ fits int64
  * to n = 2M rows; the guard fails loudly beyond (the q_stat_gini
  * pattern) — a larger corpus scales the ppm factor down.
  *
  * Scale: the fact⋈dim join is the only wide work; the explode emits 3
  * rows per order into ONE map-side-combined (feature, bin) agg (≤ 52
  * groups); cumulatives are per-feature windows over ≤ 25 rows; deeper
  * trees repeat the same pass per node with rows routed by the parent
  * split — cost is passes × corpus, never corpus × candidates.
  */
object MlTrees extends QueryPack {

  /** Shared labeled feature frame: 3 small-domain integer features +
    * binary label over orders⋈customer. */
  private def featureBase(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir)("orders")
      .join(table(spark, sfDir)("customer"),
        $"o_custkey" === $"c_custkey")
      .select(
        month($"o_orderdate").cast("long").as("f_month"),
        $"c_nationkey".cast("long").as("f_nation"),
        expr("(cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint) + 100000) div 75000")
          .as("f_balbin"),
        when($"o_totalprice" > 150000, 1L).otherwise(0L).as("pos"))
  }

  private val featureBaseSql = """
      SELECT CAST(month(o_orderdate) AS BIGINT) AS f_month,
        CAST(c_nationkey AS BIGINT) AS f_nation,
        (CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) + 100000) // 75000 AS f_balbin,
        CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS pos
      FROM orders JOIN customer ON o_custkey = c_custkey"""

  private def treeStump(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = featureBase(spark, sfDir)
    val hist = base
      .select(explode(array(
        struct(lit("month").as("feature"), $"f_month".as("bin")),
        struct(lit("nation").as("feature"), $"f_nation".as("bin")),
        struct(lit("balbin").as("feature"), $"f_balbin".as("bin")))).as("x"),
        $"pos")
      .groupBy($"x.feature".as("feature"), $"x.bin".as("bin"))
      .agg(count(lit(1)).as("n"), sum($"pos").as("p"))
    val wf = Window.partitionBy($"feature")
    val wc = wf.orderBy($"bin".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("nl", sum($"n").over(wc))
      .withColumn("pl", sum($"p").over(wc))
      .withColumn("tn", sum($"n").over(wf))
      .withColumn("tp", sum($"p").over(wf))
      .filter($"nl" < $"tn")
      .select($"feature", $"bin".as("thr"), $"nl", $"pl",
        ($"tn" - $"nl").as("nr"), ($"tp" - $"pl").as("pr"), $"tn")
      .select($"feature", $"thr", $"nl", $"pl", $"nr", $"pr",
        when($"tn" > 2000000L, raise_error(lit(
          "graft q_ml_tree_stump: n^2*1e6 exceeds int64 beyond 2M rows; " +
            "rescale the ppm factor")))
          .otherwise(
            expr("""(nl * nl - pl * pl - (nl - pl) * (nl - pl)) * 1000000L
                      div nl
                    + (nr * nr - pr * pr - (nr - pr) * (nr - pr)) * 1000000L
                      div nr"""))
          .as("cost_ppm"))
      .orderBy($"cost_ppm".asc, $"feature".asc, $"thr".asc)
      .limit(10)
  }

  private val treeStumpOracle = s"""
    WITH base AS ($featureBaseSql),
    hist AS (
      SELECT feature, bin, count(*) AS n, CAST(sum(pos) AS BIGINT) AS p
      FROM (
        SELECT 'month' AS feature, f_month AS bin, pos FROM base
        UNION ALL SELECT 'nation', f_nation, pos FROM base
        UNION ALL SELECT 'balbin', f_balbin, pos FROM base)
      GROUP BY 1, 2),
    cum AS (
      SELECT feature, bin,
        CAST(sum(n) OVER (PARTITION BY feature ORDER BY bin
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nl,
        CAST(sum(p) OVER (PARTITION BY feature ORDER BY bin
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pl,
        CAST(sum(n) OVER (PARTITION BY feature) AS BIGINT) AS tn,
        CAST(sum(p) OVER (PARTITION BY feature) AS BIGINT) AS tp
      FROM hist)
    SELECT feature, bin AS thr, nl, pl, tn - nl AS nr, tp - pl AS pr,
      CAST(CASE WHEN tn > 2000000
        THEN error('graft q_ml_tree_stump: overflow')
        ELSE (nl*nl - pl*pl - (nl-pl)*(nl-pl)) * 1000000 // nl
           + ((tn-nl)*(tn-nl) - (tp-pl)*(tp-pl)
              - ((tn-nl)-(tp-pl))*((tn-nl)-(tp-pl))) * 1000000 // (tn-nl)
        END AS BIGINT) AS cost_ppm
    FROM cum WHERE nl < tn
    ORDER BY cost_ppm ASC, feature ASC, thr ASC
    LIMIT 10"""

  /** Candidate-split frame for [[treeDepth2]]: the stump's histogram →
    * cumulative-window → integer-ppm-Gini chain, keyed additionally by
    * the routing `node` column so ONE corpus pass scores every node of
    * the current tree level at once (LightGBM's level-wise growth). */
  private def nodeCandidates(routed: DataFrame): DataFrame = {
    import routed.sparkSession.implicits._
    val hist = routed
      .select($"node", explode(array(
        struct(lit("month").as("feature"), $"f_month".as("bin")),
        struct(lit("nation").as("feature"), $"f_nation".as("bin")),
        struct(lit("balbin").as("feature"), $"f_balbin".as("bin")))).as("x"),
        $"pos")
      .groupBy($"node", $"x.feature".as("feature"), $"x.bin".as("bin"))
      .agg(count(lit(1)).as("n"), sum($"pos").as("p"))
    val wf = Window.partitionBy($"node", $"feature")
    val wc = wf.orderBy($"bin".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("nl", sum($"n").over(wc))
      .withColumn("pl", sum($"p").over(wc))
      .withColumn("tn", sum($"n").over(wf))
      .withColumn("tp", sum($"p").over(wf))
      .filter($"nl" < $"tn")
      .select($"node", $"feature", $"bin".as("thr"), $"nl", $"pl",
        ($"tn" - $"nl").as("nr"), ($"tp" - $"pl").as("pr"),
        when($"tn" > 2000000L, raise_error(lit(
          "graft q_ml_tree_depth2: n^2*1e6 exceeds int64 beyond 2M rows; " +
            "rescale the ppm factor")))
          .otherwise(
            expr("""(nl * nl - pl * pl - (nl - pl) * (nl - pl)) * 1000000L
                      div nl
                    + (nr * nr - pr * pr - (nr - pr) * (nr - pr)) * 1000000L
                      div nr"""))
          .as("cost_ppm"))
  }

  /** Best split per node: deterministic argmin by (cost, feature, thr). */
  private def bestPerNode(cand: DataFrame): DataFrame = {
    import cand.sparkSession.implicits._
    cand
      .withColumn("rn", row_number().over(Window.partitionBy($"node")
        .orderBy($"cost_ppm".asc, $"feature".asc, $"thr".asc)))
      .filter($"rn" === 1).drop("rn")
  }

  /** Depth-2 tree growth (round 13) — the recursive half of the GBDT
    * story [[treeStump]] opens: pick the root split (argmin over the
    * stump candidates), ROUTE every row left/right by it (a broadcast
    * join against the 1-row best-split frame — the split is data-
    * dependent, so it enters the plan as data, never as a collected
    * literal), and re-run the identical histogram pass keyed by the
    * node column to pick each child's best split. Output = the 3 chosen
    * splits (root, L, R) with their full cumulative-count evidence.
    *
    * Scale: tree depth d costs d corpus passes (every node of a level
    * shares one pass via the node-keyed histogram agg) — never
    * nodes × corpus and never corpus × candidates; the routing join is
    * a broadcast of one row.
    */
  private def treeDepth2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = featureBase(spark, sfDir).transform(Rounds.cut)
    val root = bestPerNode(nodeCandidates(base.withColumn("node", lit("root"))))
    val routed = base.crossJoin(broadcast(
        root.select($"feature".as("bf"), $"thr".as("bt"))))
      .withColumn("node",
        when(when($"bf" === "month", $"f_month")
          .when($"bf" === "nation", $"f_nation")
          .otherwise($"f_balbin") <= $"bt", "L").otherwise("R"))
    val children = bestPerNode(nodeCandidates(routed))
    root.unionByName(children)
      .select($"node", $"feature", $"thr", $"nl", $"pl", $"nr", $"pr",
        $"cost_ppm")
      .orderBy($"node".asc_nulls_first)
  }

  /** Oracle twin of [[nodeCandidates]] over the CTE named `src`. */
  private def candSql(src: String): String = s"""
      SELECT node, feature, bin AS thr, nl, pl, tn - nl AS nr, tp - pl AS pr,
        CAST(CASE WHEN tn > 2000000
          THEN error('graft q_ml_tree_depth2: overflow')
          ELSE (nl*nl - pl*pl - (nl-pl)*(nl-pl)) * 1000000 // nl
             + ((tn-nl)*(tn-nl) - (tp-pl)*(tp-pl)
                - ((tn-nl)-(tp-pl))*((tn-nl)-(tp-pl))) * 1000000 // (tn-nl)
          END AS BIGINT) AS cost_ppm
      FROM (
        SELECT node, feature, bin,
          CAST(sum(n) OVER (PARTITION BY node, feature ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS nl,
          CAST(sum(p) OVER (PARTITION BY node, feature ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS pl,
          CAST(sum(n) OVER (PARTITION BY node, feature) AS BIGINT) AS tn,
          CAST(sum(p) OVER (PARTITION BY node, feature) AS BIGINT) AS tp
        FROM (
          SELECT node, feature, bin, count(*) AS n,
            CAST(sum(pos) AS BIGINT) AS p
          FROM (
            SELECT node, 'month' AS feature, f_month AS bin, pos FROM $src
            UNION ALL SELECT node, 'nation', f_nation, pos FROM $src
            UNION ALL SELECT node, 'balbin', f_balbin, pos FROM $src)
          GROUP BY 1, 2, 3))
      WHERE nl < tn"""

  private val treeDepth2Oracle = s"""
    WITH base AS ($featureBaseSql),
    rootsrc AS (SELECT *, 'root' AS node FROM base),
    rootc AS (${candSql("rootsrc")}),
    rootbest AS (
      SELECT * FROM rootc ORDER BY cost_ppm ASC, feature ASC, thr ASC
      LIMIT 1),
    routed AS (
      SELECT b.*, CASE WHEN (CASE rb.feature
          WHEN 'month' THEN b.f_month
          WHEN 'nation' THEN b.f_nation
          ELSE b.f_balbin END) <= rb.thr THEN 'L' ELSE 'R' END AS node
      FROM base b CROSS JOIN rootbest rb),
    childc AS (${candSql("routed")}),
    childbest AS (
      SELECT node, feature, thr, nl, pl, nr, pr, cost_ppm FROM (
        SELECT *, row_number() OVER (PARTITION BY node
          ORDER BY cost_ppm ASC, feature ASC, thr ASC) AS rn
        FROM childc) WHERE rn = 1)
    SELECT node, feature, thr, nl, pl, nr, pr, cost_ppm FROM rootbest
    UNION ALL
    SELECT node, feature, thr, nl, pl, nr, pr, cost_ppm FROM childbest
    ORDER BY node ASC NULLS FIRST"""

  /** Batch perceptron training (round 13) — distributed linear-model
    * training as it actually runs on a cluster: each epoch is ONE
    * map-side-combined aggregation (the batch gradient), and the model
    * is a 1-row frame broadcast back into the next epoch's margin
    * computation — model state never leaves the plan, the corpus is
    * never collected. All-integer arithmetic (features are small-domain
    * ints, rate 1, y ∈ {−1,+1}) makes 3 unrolled epochs bit-equal to
    * the CTE-unrolled oracle: w ← w + Σ_{y·(w·x) ≤ 0} y·x from
    * w₀ = 0 (epoch 1's update is therefore Σ y·x over ALL rows).
    * Output = per-epoch weight vector + the misclassified count the
    * update consumed. |w| grows ≤ epochs·n·max|x| ≈ 10⁸ at sf1 and
    * margins ≤ |w|·max|x|·4 ≈ 10¹⁰ — int64-safe with 8 orders of
    * headroom, no guard needed.
    */
  private def perceptron(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = featureBase(spark, sfDir)
      .select(($"pos" * 2 - 1).as("y"),
        $"f_month".as("x1"), $"f_nation".as("x2"), $"f_balbin".as("x3"))
      .transform(Rounds.cut)
    // One epoch: margin under the incoming weights, batch update from
    // the misclassified set (margin <= 0), weights advance by the sums.
    // Conditional sums (not a filter) so a fully-separated epoch still
    // yields a well-defined row: zero update, n_mis = 0.
    def epoch(w: DataFrame): DataFrame =
      base.crossJoin(broadcast(w))
        .withColumn("mis", ($"y" * ($"w0" + $"w1" * $"x1" + $"w2" * $"x2" +
          $"w3" * $"x3")) <= 0)
        .agg(
          (first($"w0") + sum(when($"mis", $"y").otherwise(0L))).as("w0"),
          (first($"w1") + sum(when($"mis", $"y" * $"x1").otherwise(0L)))
            .as("w1"),
          (first($"w2") + sum(when($"mis", $"y" * $"x2").otherwise(0L)))
            .as("w2"),
          (first($"w3") + sum(when($"mis", $"y" * $"x3").otherwise(0L)))
            .as("w3"),
          sum(when($"mis", 1L).otherwise(0L)).as("n_mis"))
    val w0 = Seq((0L, 0L, 0L, 0L)).toDF("w0", "w1", "w2", "w3")
    val e1 = epoch(w0).transform(Rounds.cut)
    val e2 = epoch(e1.drop("n_mis")).transform(Rounds.cut)
    val e3 = epoch(e2.drop("n_mis")).transform(Rounds.cut)
    e1.withColumn("epoch", lit(1L))
      .unionByName(e2.withColumn("epoch", lit(2L)))
      .unionByName(e3.withColumn("epoch", lit(3L)))
      .select($"epoch", $"w0", $"w1", $"w2", $"w3", $"n_mis")
      .orderBy($"epoch".asc_nulls_first)
  }

  private val perceptronOracle = s"""
    WITH base AS (
      SELECT 2 * pos - 1 AS y, f_month AS x1, f_nation AS x2,
        f_balbin AS x3
      FROM ($featureBaseSql) fb),
    e1 AS (
      SELECT CAST(sum(y) AS BIGINT) AS w0,
        CAST(sum(y * x1) AS BIGINT) AS w1,
        CAST(sum(y * x2) AS BIGINT) AS w2,
        CAST(sum(y * x3) AS BIGINT) AS w3,
        count(*) AS n_mis
      FROM base),
    e2 AS (
      SELECT
        CAST(min(w.w0) + sum(CASE WHEN mis THEN y ELSE 0 END) AS BIGINT)
          AS w0,
        CAST(min(w.w1) + sum(CASE WHEN mis THEN y * x1 ELSE 0 END)
          AS BIGINT) AS w1,
        CAST(min(w.w2) + sum(CASE WHEN mis THEN y * x2 ELSE 0 END)
          AS BIGINT) AS w2,
        CAST(min(w.w3) + sum(CASE WHEN mis THEN y * x3 ELSE 0 END)
          AS BIGINT) AS w3,
        CAST(sum(CASE WHEN mis THEN 1 ELSE 0 END) AS BIGINT) AS n_mis
      FROM (SELECT b.*,
              b.y * (w.w0 + w.w1*b.x1 + w.w2*b.x2 + w.w3*b.x3) <= 0 AS mis
            FROM base b CROSS JOIN e1 w) m CROSS JOIN e1 w),
    e3 AS (
      SELECT
        CAST(min(w.w0) + sum(CASE WHEN mis THEN y ELSE 0 END) AS BIGINT)
          AS w0,
        CAST(min(w.w1) + sum(CASE WHEN mis THEN y * x1 ELSE 0 END)
          AS BIGINT) AS w1,
        CAST(min(w.w2) + sum(CASE WHEN mis THEN y * x2 ELSE 0 END)
          AS BIGINT) AS w2,
        CAST(min(w.w3) + sum(CASE WHEN mis THEN y * x3 ELSE 0 END)
          AS BIGINT) AS w3,
        CAST(sum(CASE WHEN mis THEN 1 ELSE 0 END) AS BIGINT) AS n_mis
      FROM (SELECT b.*,
              b.y * (w.w0 + w.w1*b.x1 + w.w2*b.x2 + w.w3*b.x3) <= 0 AS mis
            FROM base b CROSS JOIN e2 w) m CROSS JOIN e2 w)
    SELECT CAST(1 AS BIGINT) AS epoch, w0, w1, w2, w3, n_mis FROM e1
    UNION ALL SELECT 2, w0, w1, w2, w3, n_mis FROM e2
    UNION ALL SELECT 3, w0, w1, w2, w3, n_mis FROM e3
    ORDER BY epoch ASC NULLS FIRST"""

  /** GINI-GAIN FEATURE RANKING — the filter-style feature-selection pass
    * a training pipeline runs before any model: for each categorical
    * feature, the impurity REDUCTION of the multi-way split on it
    * (parent Gini cost minus the sum of per-bin child costs, in the
    * stump's exact integer-ppm cost units) — CART's split criterion
    * used as a feature score. Complements [[treeStump]]: the stump
    * scans binary "f ≤ t" thresholds, this scores the full multi-way
    * partition per feature (the form used to RANK features, not to cut
    * one). All integer: per-bin cost = (n²−p²−q²)·10⁶ div n summed
    * inside the agg, parent from the same totals; gain = parent − sum
    * (can land a unit negative after truncation — identical both
    * engines, so still hash-exact).
    *
    * Scale: the same ONE histogram pass as the stump (3 rows per
    * input row into a ≤52-group map-side-combined agg); ranking is
    * arithmetic over the 3-row feature aggregate. The tn ≤ 2M ppm
    * guard fires before any row is emitted (n²·10⁶ bound, stump
    * contract).
    */
  private def featGiniGain(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hist = featureBase(spark, sfDir)
      .select(explode(array(
        struct(lit("month").as("feature"), $"f_month".as("bin")),
        struct(lit("nation").as("feature"), $"f_nation".as("bin")),
        struct(lit("balbin").as("feature"), $"f_balbin".as("bin")))).as("x"),
        $"pos")
      .groupBy($"x.feature".as("feature"), $"x.bin".as("bin"))
      .agg(count(lit(1)).as("n"), sum($"pos").as("p"))
    hist.groupBy($"feature")
      .agg(count(lit(1)).as("n_bins"),
        sum(expr("(n * n - p * p - (n - p) * (n - p)) * 1000000L div n"))
          .as("child_cost"),
        sum($"n").as("tn"), sum($"p").as("tp"))
      .select($"feature", $"n_bins",
        when($"tn" > 2000000L, raise_error(lit(
          "graft q_feat_gini_gain: n^2*1e6 exceeds int64 beyond 2M rows; " +
            "rescale the ppm factor")))
          .otherwise(expr(
            "(tn * tn - tp * tp - (tn - tp) * (tn - tp)) * 1000000L div tn"))
          .as("parent_cost"),
        $"child_cost".cast("long").as("child_cost"))
      .withColumn("gain", $"parent_cost" - $"child_cost")
      .orderBy($"gain".desc, $"feature".asc)
  }

  private val featGiniGainOracle = s"""
    WITH base AS ($featureBaseSql),
    hist AS (
      SELECT feature, bin, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(pos) AS BIGINT) AS p
      FROM (
        SELECT 'month' AS feature, f_month AS bin, pos FROM base
        UNION ALL SELECT 'nation', f_nation, pos FROM base
        UNION ALL SELECT 'balbin', f_balbin, pos FROM base)
      GROUP BY 1, 2),
    agg AS (
      SELECT feature, CAST(count(*) AS BIGINT) AS n_bins,
        CAST(sum((n*n - p*p - (n-p)*(n-p)) * 1000000 // n) AS BIGINT)
          AS child_cost,
        CAST(sum(n) AS BIGINT) AS tn, CAST(sum(p) AS BIGINT) AS tp
      FROM hist GROUP BY 1)
    SELECT feature, n_bins,
      CAST(CASE WHEN tn > 2000000
        THEN error('graft q_feat_gini_gain: overflow')
        ELSE (tn*tn - tp*tp - (tn-tp)*(tn-tp)) * 1000000 // tn
        END AS BIGINT) AS parent_cost,
      child_cost,
      CAST((tn*tn - tp*tp - (tn-tp)*(tn-tp)) * 1000000 // tn - child_cost
        AS BIGINT) AS gain
    FROM agg
    ORDER BY gain DESC, feature ASC"""

  /** GRADIENT-BOOSTING ROUND (round 13 batch 12) — the sequential half of
    * the GBDT story [[treeStump]] (split search) and [[treeDepth2]]
    * (routing) open: TWO boosting rounds of regression stumps on squared
    * loss, all-integer. Target y = order total in $1000 bins (domain
    * ≤ ~550); f₀ = Σy div n; each round fits the stump maximizing the
    * variance-reduction surrogate S_L² div n_L + S_R² div n_R over the
    * residuals (squares through decimal(38,0) — S² ≈ 10²¹ at sf0.1
    * overflows int64 — then ONE integral division back to int64, bounded
    * by max|r|²·n), assigns each leaf the TRUNCATED mean
    * sign(S)·(|S| div n) — symmetric truncation, because Spark `div`
    * truncates toward zero while DuckDB `//` floors, and they agree only
    * on non-negative dividends (the [[treeStump]] contract) — and updates
    * residuals. Output = both rounds' chosen split, leaf values, and the
    * post-round SSE (the training curve: SSE must fall).
    *
    * Scale: each round is the stump's ONE histogram pass (map-side
    * combined, ≤52 groups) plus a 1-row broadcast routing join — cost is
    * rounds × corpus, the GBDT contract; nothing driver-side.
    */
  private def mlBoostStump(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base0 = featureBase2(spark, sfDir).transform(Rounds.cut)
    val f0 = base0.agg(expr("sum(y) div count(1)").as("f0"))
    var resid = base0.crossJoin(broadcast(f0))
      .select($"f_month", $"f_nation", $"f_balbin", ($"y" - $"f0").as("r"))
      .transform(Rounds.cut)
    val rounds = (1 to 2).map { k =>
      val hist = resid
        .select(explode(array(
          struct(lit("month").as("feature"), $"f_month".as("bin")),
          struct(lit("nation").as("feature"), $"f_nation".as("bin")),
          struct(lit("balbin").as("feature"), $"f_balbin".as("bin")))).as("x"),
          $"r")
        .groupBy($"x.feature".as("feature"), $"x.bin".as("bin"))
        .agg(count(lit(1)).as("n"), sum($"r").as("s"))
      val wf = Window.partitionBy($"feature")
      val wc = wf.orderBy($"bin".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val best = hist
        .withColumn("nl", sum($"n").over(wc))
        .withColumn("sl", sum($"s").over(wc))
        .withColumn("tn", sum($"n").over(wf))
        .withColumn("ts", sum($"s").over(wf))
        .filter($"nl" < $"tn")
        .select($"feature", $"bin".as("thr"), $"nl", $"sl",
          ($"tn" - $"nl").as("nr"), ($"ts" - $"sl").as("sr"))
        .withColumn("score",
          expr("""CAST(sl AS DECIMAL(38,0)) * sl div nl
                  + CAST(sr AS DECIMAL(38,0)) * sr div nr"""))
        .withColumn("rn", row_number().over(Window.partitionBy()
          .orderBy($"score".desc, $"feature".asc, $"thr".asc)))
        .filter($"rn" === 1)
        .select($"feature", $"thr", $"nl", $"sl", $"nr", $"sr", $"score",
          expr("""case when sl >= 0 then sl div nl
                  else -((-sl) div nl) end""").as("vl"),
          expr("""case when sr >= 0 then sr div nr
                  else -((-sr) div nr) end""").as("vr"))
        .transform(Rounds.cut)
      resid = resid.crossJoin(broadcast(
          best.select($"feature".as("bf"), $"thr".as("bt"),
            $"vl".as("bvl"), $"vr".as("bvr"))))
        .select($"f_month", $"f_nation", $"f_balbin",
          ($"r" - when(when($"bf" === "month", $"f_month")
            .when($"bf" === "nation", $"f_nation")
            .otherwise($"f_balbin") <= $"bt", $"bvl").otherwise($"bvr"))
            .as("r"))
        .transform(Rounds.cut)
      val sse = resid.agg(
        expr("CAST(sum(CAST(r AS DECIMAL(38,0)) * r) AS BIGINT)")
          .as("sse_after"))
      best.crossJoin(broadcast(sse))
        .select(lit(k.toLong).as("round"), $"feature", $"thr",
          $"nl", $"sl", $"nr", $"sr", $"vl", $"vr", $"sse_after")
    }
    rounds.reduce(_.unionByName(_)).orderBy($"round".asc_nulls_first)
  }

  private val mlBoostStumpOracle = {
    // One boosting round over the residual CTE `src`: histogram →
    // cumulative split candidates → argmax → leaf values.
    def roundSql(src: String, tag: String): String = s"""
    hist$tag AS (
      SELECT feature, bin, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(r) AS BIGINT) AS s
      FROM (
        SELECT 'month' AS feature, f_month AS bin, r FROM $src
        UNION ALL SELECT 'nation', f_nation, r FROM $src
        UNION ALL SELECT 'balbin', f_balbin, r FROM $src)
      GROUP BY 1, 2),
    cand$tag AS (
      SELECT feature, bin AS thr, nl, sl, tn - nl AS nr, ts - sl AS sr,
        CAST(CAST(sl AS HUGEINT) * sl // nl
          + CAST(ts - sl AS HUGEINT) * (ts - sl) // (tn - nl) AS BIGINT)
          AS score
      FROM (
        SELECT feature, bin,
          CAST(sum(n) OVER (PARTITION BY feature ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS nl,
          CAST(sum(s) OVER (PARTITION BY feature ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS sl,
          CAST(sum(n) OVER (PARTITION BY feature) AS BIGINT) AS tn,
          CAST(sum(s) OVER (PARTITION BY feature) AS BIGINT) AS ts
        FROM hist$tag)
      WHERE nl < tn),
    best$tag AS (
      SELECT feature, thr, nl, sl, nr, sr, score,
        CASE WHEN sl >= 0 THEN sl // nl ELSE -((-sl) // nl) END AS vl,
        CASE WHEN sr >= 0 THEN sr // nr ELSE -((-sr) // nr) END AS vr
      FROM cand$tag
      ORDER BY score DESC, feature ASC, thr ASC LIMIT 1)"""
    s"""
    WITH base0 AS (
      SELECT f_month, f_nation, f_balbin,
        CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
          // 100000 AS y
      FROM (${featureBase2Sql}) fb),
    r1src AS (
      SELECT f_month, f_nation, f_balbin,
        y - (SELECT CAST(sum(y) AS BIGINT) // count(*) FROM base0) AS r
      FROM base0),
    ${roundSql("r1src", "1")},
    r2src AS (
      SELECT f_month, f_nation, f_balbin,
        r - (CASE WHEN (CASE b.feature WHEN 'month' THEN f_month
                        WHEN 'nation' THEN f_nation
                        ELSE f_balbin END) <= b.thr
             THEN b.vl ELSE b.vr END) AS r
      FROM r1src CROSS JOIN best1 b),
    ${roundSql("r2src", "2")},
    r3src AS (
      SELECT r - (CASE WHEN (CASE b.feature WHEN 'month' THEN f_month
                             WHEN 'nation' THEN f_nation
                             ELSE f_balbin END) <= b.thr
                  THEN b.vl ELSE b.vr END) AS r
      FROM r2src CROSS JOIN best2 b)
    SELECT CAST(1 AS BIGINT) AS round, feature, thr, nl, sl, nr, sr, vl, vr,
      (SELECT CAST(sum(CAST(r AS HUGEINT) * r) AS BIGINT) FROM r2src)
        AS sse_after
    FROM best1
    UNION ALL
    SELECT 2, feature, thr, nl, sl, nr, sr, vl, vr,
      (SELECT CAST(sum(CAST(r AS HUGEINT) * r) AS BIGINT) FROM r3src)
    FROM best2
    ORDER BY round ASC NULLS FIRST"""
  }

  /** [[featureBase]] plus the regression target: order total in $1000
    * bins (y = cents div 100000, domain ≤ ~550 — keeps every residual
    * moment int64-expressible after one decimal square). */
  private def featureBase2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir)("orders")
      .join(table(spark, sfDir)("customer"),
        $"o_custkey" === $"c_custkey")
      .select(
        month($"o_orderdate").cast("long").as("f_month"),
        $"c_nationkey".cast("long").as("f_nation"),
        expr("(cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint) + 100000) div 75000")
          .as("f_balbin"),
        expr("""cast(cast(o_totalprice as decimal(14,2)) * 100 as long)
                div 100000""").as("y"))
  }

  private def featureBase2Sql = """
      SELECT CAST(month(o_orderdate) AS BIGINT) AS f_month,
        CAST(c_nationkey AS BIGINT) AS f_nation,
        (CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) + 100000) // 75000 AS f_balbin,
        o_totalprice
      FROM orders JOIN customer ON o_custkey = c_custkey"""

  override val queries: Vector[Q] = Vector(
    Q("q_ml_boost_stump", mlBoostStump, Some(mlBoostStumpOracle)),
    Q("q_ml_tree_stump", treeStump, Some(treeStumpOracle)),
    Q("q_ml_tree_depth2", treeDepth2, Some(treeDepth2Oracle)),
    Q("q_ml_perceptron", perceptron, Some(perceptronOracle)),
    Q("q_feat_gini_gain", featGiniGain, Some(featGiniGainOracle)),
  )
}
