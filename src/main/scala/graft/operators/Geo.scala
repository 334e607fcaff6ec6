package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryPack, Rounds}
import graft.Dsl._

/** SURVEY.md §2.T — Geospatial operators (added round 10 batch 4): the
  * grid-cell spatial-join family. Spark has no native spatial join; the
  * Spark-first answer is the same CANDIDATE-GENERATION-BY-EQUI-JOIN pattern
  * the dedup/ANN stack uses (shingle → band → bucket), applied to space:
  * snap points to R×R grid cells, equi-join the probe side's 3×3 cell
  * neighborhood against the build side's cell, then rerank exactly. The
  * cell key plays the LSH-bucket role — candidate pairs meet under a
  * shuffle on the cell id, NEVER a cross join, so the join scales with
  * occupied-cell density, not |A|×|B|.
  *
  * Coordinates are synthesized DETERMINISTICALLY from fixture keys
  * (integer multiply-mod spread over a ±80° lat / ±180° lon grid with
  * .25/.75-degree offsets — exact in both engines' int64 and exact as
  * doubles, so the squared-degree metric is bit-exact rational arithmetic
  * and the oracle can brute-force the same predicate). Correctness of the
  * 3×3 neighborhood: dist ≤ R ⇒ |Δlat| ≤ R and |Δlon| ≤ R ⇒ the two cell
  * indices differ by at most 1 per axis (floor(a)−floor(b) ≤ 1 when
  * a−b ≤ 1), so every qualifying pair meets in exactly one of the 9
  * expanded keys — the explode is the completeness proof, not a heuristic.
  * Longitude wrap-around is out of scope for the fixture grid (declared
  * planar degrees); a production caller duplicates the ±180 boundary strip
  * the same way the salt explode works.
  *
  * 100-TB posture: the probe-side explode is a constant 9× on the SMALLER
  * representation (key + 2 doubles), the join is a plain shuffle-hash on
  * (cx, cy), and skewed cells (urban hubs) take the q_join_skew_salted
  * treatment. The exact rerank touches only in-cell candidates.
  */
object GeoOps extends QueryPack {

  /** Search radius in degrees; cell size = R so 3×3 neighborhoods cover it. */
  private val R = 5.0

  /** Deterministic point synthesis — integer multiply-mod lattice, exact in
    * int64 on both engines; the +off fraction (.25 customers / .75
    * suppliers) keeps points off cell boundaries AND makes every coordinate
    * difference end in .5, so squared distances are exact quarter-integers.
    */
  private def custPoints(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir)("customer").select(
      $"c_custkey", $"c_nationkey",
      (($"c_custkey" * 37 % 160) - 80).cast("double") + lit(0.25) as "clat",
      (($"c_custkey" * 101 % 360) - 180).cast("double") + lit(0.25) as "clon")
  }

  private def suppPoints(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir)("supplier").select(
      $"s_suppkey",
      (($"s_suppkey" * 53 % 160) - 80).cast("double") + lit(0.75) as "slat",
      (($"s_suppkey" * 89 % 360) - 180).cast("double") + lit(0.75) as "slon")
  }

  private val custPointsSql = """
    SELECT c_custkey, c_nationkey,
      CAST(((c_custkey * 37) % 160) - 80 AS DOUBLE) + 0.25 AS clat,
      CAST(((c_custkey * 101) % 360) - 180 AS DOUBLE) + 0.25 AS clon
    FROM customer"""

  private val suppPointsSql = """
    SELECT s_suppkey,
      CAST(((s_suppkey * 53) % 160) - 80 AS DOUBLE) + 0.75 AS slat,
      CAST(((s_suppkey * 89) % 360) - 180 AS DOUBLE) + 0.75 AS slon
    FROM supplier"""

  private def dist2: Column =
    (col("clat") - col("slat")) * (col("clat") - col("slat")) +
      (col("clon") - col("slon")) * (col("clon") - col("slon"))

  /** All (customer, supplier) candidate pairs within the 3×3 cell
    * neighborhood, exact squared-degree distance attached — the shared
    * candidate leaf of the radius join and the kNN.
    */
  private def cellCandidates(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val supp = suppPoints(spark, sfDir)
      .withColumn("cx", floor($"slat" / R))
      .withColumn("cy", floor($"slon" / R))
    val probe = custPoints(spark, sfDir)
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select($"c_custkey", $"clat", $"clon",
        (floor($"clat" / R) + $"dx") as "cx",
        (floor($"clon" / R) + $"dy") as "cy")
    probe.join(supp, Seq("cx", "cy"))
  }

  /** Radius join: every (customer, supplier) pair within R degrees, top-100
    * by exact squared distance. The graded shape: cell equi-join candidate
    * generation + exact rerank — zero cross-join anywhere in the plan.
    */
  private def geoCellJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    cellCandidates(spark, sfDir)
      .withColumn("dist2", dist2)
      .filter($"dist2" <= R * R)
      .select($"c_custkey", $"s_suppkey", $"dist2")
      .orderBy($"dist2".asc, $"c_custkey".asc, $"s_suppkey".asc)
      .limit(100)
  }

  private val geoCellJoinOracle = s"""
    WITH c AS ($custPointsSql), s AS ($suppPointsSql)
    SELECT c_custkey, s_suppkey,
      (clat-slat)*(clat-slat) + (clon-slon)*(clon-slon) AS dist2
    FROM c, s
    WHERE (clat-slat)*(clat-slat) + (clon-slon)*(clon-slon) <= 25.0
    ORDER BY dist2 ASC, c_custkey ASC, s_suppkey ASC
    LIMIT 100"""

  /** Bounded-radius nearest neighbor: each customer's closest supplier
    * within R degrees (ties broken by suppkey). The 3×3 neighborhood is
    * EXACT for this semantics — any supplier within R is within one cell
    * per axis — so the per-customer window ranks only in-neighborhood
    * candidates (bounded by cell occupancy), never the full build side.
    */
  private def geoKnn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_custkey")
      .orderBy($"dist2".asc, $"s_suppkey".asc)
    cellCandidates(spark, sfDir)
      .withColumn("dist2", dist2)
      .filter($"dist2" <= R * R)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"c_custkey", $"s_suppkey" as "nn_suppkey", $"dist2")
      .orderBy($"c_custkey".asc)
  }

  private val geoKnnOracle = s"""
    WITH c AS ($custPointsSql), s AS ($suppPointsSql),
    p AS (
      SELECT c_custkey, s_suppkey,
        (clat-slat)*(clat-slat) + (clon-slon)*(clon-slon) AS dist2
      FROM c, s
      WHERE (clat-slat)*(clat-slat) + (clon-slon)*(clon-slon) <= 25.0)
    SELECT c_custkey, s_suppkey AS nn_suppkey, dist2
    FROM (SELECT p.*, row_number() OVER
            (PARTITION BY c_custkey ORDER BY dist2 ASC, s_suppkey ASC) AS rn
          FROM p) q
    WHERE rn = 1
    ORDER BY c_custkey ASC"""

  /** Great-circle distance-to-hub feature: per-nation stats of each
    * customer's haversine distance (km) to their nation's anchor point.
    * The transcendental chain (sin/cos/asin/sqrt) differs between Math and
    * libm by ulps, so the per-row km is rounded to 4dp FIRST (the
    * q_math_funcs ln/log10 precedent — a 1e-11 cross-engine wobble cannot
    * cross a 1e-4 grid except on measure-zero boundaries); the rounded
    * values are exact 4-decimal rationals, so min/max/decimal-sum
    * aggregate identically on both engines (no avg division — dsum+count
    * instead, §2.0 determinism rules).
    *
    * Scale: anchor table is |nations| rows → broadcast; the distance is
    * one codegen'd per-row projection riding the scan; the agg is
    * map-side-combined down to |nations| rows.
    */
  private def geoHaversine(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val anchors = table(spark, sfDir)("nation").select(
      $"n_nationkey",
      (($"n_nationkey" * 13 % 160) - 80).cast("double") + lit(0.5) as "alat",
      (($"n_nationkey" * 29 % 360) - 180).cast("double") + lit(0.5) as "alon")
    val halfDlat = radians($"clat" - $"alat") / 2
    val halfDlon = radians($"clon" - $"alon") / 2
    val h = sin(halfDlat) * sin(halfDlat) +
      cos(radians($"alat")) * cos(radians($"clat")) * sin(halfDlon) * sin(halfDlon)
    custPoints(spark, sfDir)
      .join(broadcast(anchors), $"c_nationkey" === $"n_nationkey")
      .withColumn("hub_km", round(lit(12742.0) * asin(sqrt(h)), 4))
      .groupBy($"c_nationkey")
      .agg(count(lit(1)) as "n_customers",
        min($"hub_km") as "min_km",
        max($"hub_km") as "max_km",
        dsum($"hub_km") as "sum_km")
      .orderBy($"c_nationkey".asc)
  }

  private val geoHaversineOracle = s"""
    WITH c AS ($custPointsSql),
    a AS (
      SELECT n_nationkey,
        CAST(((n_nationkey * 13) % 160) - 80 AS DOUBLE) + 0.5 AS alat,
        CAST(((n_nationkey * 29) % 360) - 180 AS DOUBLE) + 0.5 AS alon
      FROM nation),
    d AS (
      SELECT c_nationkey,
        round(12742.0 * asin(sqrt(
          sin(radians(clat - alat) / 2) * sin(radians(clat - alat) / 2) +
          cos(radians(alat)) * cos(radians(clat)) *
            sin(radians(clon - alon) / 2) * sin(radians(clon - alon) / 2))),
          4) AS hub_km
      FROM c JOIN a ON c_nationkey = n_nationkey)
    SELECT c_nationkey, count(*) AS n_customers,
      min(hub_km) AS min_km, max(hub_km) AS max_km,
      ${graft.Oracle.dsum("hub_km")} AS sum_km
    FROM d GROUP BY c_nationkey
    ORDER BY c_nationkey ASC"""

  private val DbEps2 = 50.0   // eps = sqrt(50) ~ 7.07
  private val DbCell = 8.0    // cell >= eps, so 3x3 neighborhoods cover eps
  private val DbMinPts = 3L   // neighborhood count INCLUDING the point

  /** Deterministic clustered point set for DBSCAN: 16 dense centers on a
    * 4x4 grid spaced 40 apart (jitter ±3 via the masked Knuth hash) plus
    * 20% uniform scatter over the ±160 square — hash-derived so no
    * modular orbit piles points onto duplicate sites at any SF (the
    * custkey lattice degenerates: 0 cores at sf0.01, all-core at sf0.1).
    * All integer arithmetic then +0.25, so coordinates and squared
    * distances are exact in both engines.
    */
  private def dbPoints(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir)("orders")
      .filter($"o_orderkey" % 23 === 0)
      .select($"o_orderkey".as("id"),
        pmod(($"o_orderkey".bitwiseAND(2147483647L)) * 2654435761L,
          lit(2147483648L)).as("h"))
      .select($"id",
        (when($"id" % 5 === 0, $"h" % 320 - 160)
          .otherwise(($"id" % 16 % 4) * 40 - 60 + $"h" % 7 - 3))
          .cast("double").+(lit(0.25)).as("x"),
        (when($"id" % 5 === 0, expr("h div 320") % 320 - 160)
          .otherwise(expr("(id % 16) div 4") * 40 - 60 +
            expr("h div 7") % 7 - 3))
          .cast("double").+(lit(0.25)).as("y"))
  }

  private val dbPointsSql = """
      SELECT o_orderkey AS id,
        CASE WHEN o_orderkey % 5 = 0
          THEN CAST(h % 320 - 160 AS DOUBLE) + 0.25
          ELSE CAST((o_orderkey % 16 % 4) * 40 - 60 + h % 7 - 3 AS DOUBLE)
            + 0.25 END AS x,
        CASE WHEN o_orderkey % 5 = 0
          THEN CAST((h // 320) % 320 - 160 AS DOUBLE) + 0.25
          ELSE CAST((o_orderkey % 16 // 4) * 40 - 60 + (h // 7) % 7 - 3
            AS DOUBLE) + 0.25 END AS y
      FROM (SELECT o_orderkey,
              ((o_orderkey & 2147483647) * 2654435761) % 2147483648 AS h
            FROM orders WHERE o_orderkey % 23 = 0)"""

  /** GRID DBSCAN (round 13) — density clustering, the family Spark/SQL
    * lack natively: core points (≥ [[DbMinPts]] neighbors within eps,
    * self included), clusters = connected components of the core-core
    * eps-graph labeled by component-minimum id, border points adopt the
    * MINIMUM cluster label among their core neighbors (the classic
    * nondeterminism of DBSCAN border assignment pinned to a
    * deterministic rule), the rest is noise. Output = one row per
    * cluster (core/border/total counts) + the noise row (cluster −1).
    *
    * Scale: the eps-neighbor graph comes from the SAME 3×3 cell
    * equi-join as [[geoCellJoin]] (never all-pairs — the oracle is the
    * brute-force quadratic form, so the cell completeness proof is
    * hash-graded again here); components run large-star/small-star
    * ([[GraphOps.twoStarLabels]], O(log n) rounds regardless of cluster
    * diameter — a worm-shaped cluster cannot stall the loop); core
    * flags, border adoption, and the count rollup are all keyed
    * aggregations over the candidate-pair frame.
    */
  private def geoDbscan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pts = dbPoints(spark, sfDir)
    // COINCIDENT-POINT CONTRACTION (round 13 perf rewrite, exact by
    // construction): the jittered generator lands many points on shared
    // (x, y) sites — 49 jitter sites per dense center — and coincident
    // points have IDENTICAL eps-neighborhoods, hence identical core
    // status, cluster, and border fate. Contracting to distinct sites
    // carrying (multiplicity m, min point id sid) shrinks the neighbor
    // graph and the component loop by the duplication factor (~10× at
    // sf0.1: the site-pair frame replaces a 1.7M-row point-pair frame)
    // while every count below re-weights by m — the same answer, graded
    // by the unchanged brute-force oracle. Cluster labels stay the
    // component-minimum POINT id because sid is each site's minimum and
    // labels propagate min-over-sites.
    val sites = pts.groupBy($"x", $"y")
      .agg(count(lit(1)).as("m"), min($"id").as("sid"))
      .transform(Rounds.cut)
    val build = sites
      .select($"sid".as("sb"), $"x".as("bx"), $"y".as("by"), $"m".as("mb"),
        floor($"x" / DbCell).as("cx"), floor($"y" / DbCell).as("cy"))
    val probe = sites
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select($"sid".as("sa"), $"x".as("ax"), $"y".as("ay"),
        (floor($"x" / DbCell) + $"dx").as("cx"),
        (floor($"y" / DbCell) + $"dy").as("cy"))
    val nbr = probe.join(build, Seq("cx", "cy"))
      .filter(($"ax" - $"bx") * ($"ax" - $"bx") +
        ($"ay" - $"by") * ($"ay" - $"by") <= DbEps2)
      .select($"sa", $"sb", $"mb")
      .transform(Rounds.cut)
    val siteM = sites.select($"sid".as("sa"), $"m")
    // Per-point neighborhood size (self included) = sum of neighbor-site
    // multiplicities (the self site-pair carries the point's own site).
    val cnt = nbr.groupBy($"sa").agg(sum($"mb").as("n"))
    val core = cnt.filter($"n" >= DbMinPts).select($"sa".as("node"))
    val coreEdges = nbr.filter($"sa" =!= $"sb")
      .join(core.select($"node".as("sa")), Seq("sa"))
      .join(core.select($"node".as("sb")), Seq("sb"))
      .select($"sa".as("u"), $"sb".as("v"))
    val (lbl, _) = GraphOps.twoStarLabels(spark, coreEdges)
    val coreLbl = core
      .join(lbl, Seq("node"), "left")
      .select($"node", coalesce($"lbl", $"node").as("cluster"))
    val borderLbl = cnt.filter($"n" < DbMinPts).select($"sa")
      .join(nbr.filter($"sa" =!= $"sb"), Seq("sa"))
      .join(coreLbl.select($"node".as("sb"), $"cluster"), Seq("sb"))
      .groupBy($"sa").agg(min($"cluster").as("cluster"))
    val nNoise = cnt.filter($"n" < DbMinPts)
      .join(borderLbl.select($"sa"), Seq("sa"), "left_anti")
      .join(siteM, Seq("sa"))
      .agg(coalesce(sum($"m"), lit(0L))).head().getLong(0)
    val coreAgg = coreLbl
      .join(siteM.select($"sa".as("node"), $"m"), Seq("node"))
      .groupBy($"cluster").agg(sum($"m").as("n_core"))
    val borderAgg = borderLbl
      .join(siteM, Seq("sa"))
      .groupBy($"cluster").agg(sum($"m").as("n_border"))
    val clusters = coreAgg.join(borderAgg, Seq("cluster"), "left")
      .select($"cluster", $"n_core",
        coalesce($"n_border", lit(0L)).as("n_border"))
      .withColumn("n_points", $"n_core" + $"n_border")
    clusters
      .unionByName(Seq((-1L, 0L, 0L, nNoise))
        .toDF("cluster", "n_core", "n_border", "n_points"))
      .orderBy($"cluster".asc_nulls_first)
  }

  /** Brute-force quadratic oracle — no cells anywhere, so the grid
    * candidate generation's completeness is what the hash grade pins. */
  private val geoDbscanOracle = s"""
    WITH RECURSIVE p AS ($dbPointsSql),
    nbr AS (
      SELECT a.id AS a, b.id AS b FROM p a JOIN p b
        ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= $DbEps2),
    cnt AS (SELECT a, count(*) AS n FROM nbr GROUP BY 1),
    core AS (SELECT a AS node FROM cnt WHERE n >= $DbMinPts),
    ce AS (
      SELECT n1.a AS u, n1.b AS v FROM nbr n1
      JOIN core ca ON n1.a = ca.node
      JOIN core cb ON n1.b = cb.node
      WHERE n1.a <> n1.b),
    reach(node, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM ce)
      UNION
      SELECT e.u, reach.r FROM ce e JOIN reach ON e.v = reach.node),
    comp0 AS (SELECT node, min(r) AS component_id FROM reach GROUP BY node),
    corelbl AS (
      SELECT c.node, coalesce(k.component_id, c.node) AS cluster
      FROM core c LEFT JOIN comp0 k ON k.node = c.node),
    borderlbl AS (
      SELECT n.a, min(cl.cluster) AS cluster
      FROM cnt x JOIN nbr n ON n.a = x.a AND n.a <> n.b
      JOIN corelbl cl ON cl.node = n.b
      WHERE x.n < $DbMinPts
      GROUP BY n.a),
    clus AS (
      SELECT cl.cluster,
        CAST(count(*) AS BIGINT) AS n_core,
        CAST(coalesce(max(b.nb), 0) AS BIGINT) AS n_border
      FROM corelbl cl
      LEFT JOIN (SELECT cluster, count(*) AS nb FROM borderlbl GROUP BY 1) b
        ON b.cluster = cl.cluster
      GROUP BY cl.cluster),
    noise AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM cnt c
      WHERE c.n < $DbMinPts
        AND NOT EXISTS (SELECT 1 FROM borderlbl bl WHERE bl.a = c.a))
    SELECT cluster, n_core, n_border, n_core + n_border AS n_points
    FROM clus
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), n
    FROM noise
    ORDER BY cluster ASC NULLS FIRST"""

  /** Point-in-polygon fence (round 16): vertices of a simple pentagon over
    * the fixture plane, (x=lon, y=lat), consecutive-edge order. Chosen so
    * no edge is horizontal (all vertex y differ per edge) — and point
    * latitudes end in .25 while vertex coordinates are integers, so a ray
    * through a point can never pass through a vertex or run along an edge:
    * the classic ray-cast degeneracies are impossible by construction, not
    * handled by epsilon.
    */
  private val PipVerts: Seq[(Double, Double)] = Seq(
    (-150.0, 0.0), (-30.0, 60.0), (120.0, 30.0), (90.0, -50.0),
    (-60.0, -70.0))

  private def pipEdges: Seq[(Double, Double, Double, Double)] =
    PipVerts.zip(PipVerts.tail :+ PipVerts.head).map {
      case ((x1, y1), (x2, y2)) => (x1, y1, x2, y2)
    }

  /** Ray-cast crossing test for one polygon edge struct against the outer
    * row's (clon, clat) point, DIVISION-FREE: the +x ray crosses the edge
    * iff the edge straddles the point's latitude AND the intersection lies
    * right of the point — `ix > px` rearranged as a sign-safe cross
    * product so the arithmetic stays on the exact quarter-integer grid
    * (vertices integral, coordinates integer+.25 ⇒ every product is an
    * exact 1/16-grid rational, bit-identical across engines; the division
    * form would put an engine-dependent rounding step inside a
    * comparison).
    */
  private def pipCrossing(e: Column): Column = {
    val (x1, y1) = (e.getField("x1"), e.getField("y1"))
    val (x2, y2) = (e.getField("x2"), e.getField("y2"))
    val straddle = (y1 > col("clat")) =!= (y2 > col("clat"))
    val lhs = (x2 - x1) * (col("clat") - y1)
    val rhs = (col("clon") - x1) * (y2 - y1)
    straddle && when(y2 > y1, lhs > rhs).otherwise(lhs < rhs)
  }

  /** GEOFENCE CONTAINMENT (round 16) — per-nation counts of customers
    * inside a polygon fence, the even-odd ray-casting rule. The polygon is
    * a BOUNDED literal (every real fence is), so the whole test is one
    * codegen'd projection: `size(filter(<edge-struct array>, crossing))`
    * folds the 5 edges per row with ZERO joins and zero extra shuffles —
    * the only exchange in the plan is the final |nations|-row aggregate.
    * That is the 100-TB shape: fence evaluation rides the scan, cost
    * O(rows × edges), embarrassingly parallel, and a 10⁶-vertex polygon
    * would swap the literal array for a broadcast edge table with the
    * same crossing predicate (the oracle's join form below IS that
    * variant, graded against this one).
    */
  /** Spec hook: appends boolean `inside` to any frame carrying
    * (clat, clon) — the projection-only fence test. */
  private[graft] def pipInside(df: DataFrame): DataFrame = {
    val edgeArr = array(pipEdges.map { case (x1, y1, x2, y2) =>
      struct(lit(x1).as("x1"), lit(y1).as("y1"),
        lit(x2).as("x2"), lit(y2).as("y2"))
    }: _*)
    df.withColumn("inside",
      pmod(size(filter(edgeArr, pipCrossing _)).cast("long"), lit(2L)) === 1)
  }

  private def geoPointInPolygon(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    pipInside(custPoints(spark, sfDir))
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_points"),
        sum($"inside".cast("long")).as("n_inside"))
      .orderBy($"c_nationkey".asc)
  }

  /** Oracle = the explicit edge-JOIN formulation of the same even-odd
    * rule (points × 5 edges, crossings summed per point) — a structurally
    * different plan computing the same containment, so a wrong crossing
    * convention on either side breaks the hash.
    */
  private val geoPointInPolygonOracle = s"""
    WITH c AS ($custPointsSql),
    e AS (
      SELECT CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1,
             CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2
      FROM (VALUES ${pipEdges.map { case (x1, y1, x2, y2) =>
        s"(${x1.toInt}, ${y1.toInt}, ${x2.toInt}, ${y2.toInt})"
      }.mkString(", ")}) t(x1, y1, x2, y2)),
    x AS (
      SELECT c_custkey, c_nationkey,
        sum(CASE WHEN ((y1 > clat) <> (y2 > clat)) AND
          (CASE WHEN y2 > y1 THEN (x2-x1)*(clat-y1) > (clon-x1)*(y2-y1)
                ELSE (x2-x1)*(clat-y1) < (clon-x1)*(y2-y1) END)
          THEN 1 ELSE 0 END) AS nx
      FROM c CROSS JOIN e GROUP BY 1, 2)
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_points,
      CAST(sum(CASE WHEN nx % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_inside
    FROM x GROUP BY 1 ORDER BY 1"""

  // ---- region-overlap join + geohash covering (round 17; the r16
  // VERDICT 'what's missing' #5) ------------------------------------

  /** Region grid-cell size in quarter-degree units (64 = 16°). */
  private val RgCell = 64L
  /** Covering grid for the geohash query (32 = 8°). */
  private val GhCell = 32L

  /** Deterministic nation regions: axis-aligned integer rectangles in
    * quarter-degree units over a [0,1440]×[0,640] shifted world (all
    * coordinates NON-NEGATIVE by construction, so integral division is
    * floor division in BOTH engines — Spark `div` truncates toward zero
    * where DuckDB `//` floors, and they only agree on non-negatives). */
  private def nationRegions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir)("nation").select(
      $"n_nationkey",
      ($"n_nationkey" * 193 % 1200).as("alox"),
      ($"n_nationkey" * 97 % 520).as("aloy"),
      ($"n_nationkey" * 193 % 1200 + 40 + $"n_nationkey" * 29 % 80)
        .as("ahix"),
      ($"n_nationkey" * 97 % 520 + 32 + $"n_nationkey" * 17 % 64)
        .as("ahiy"))
  }

  /** Deterministic supplier territories: smaller integer rectangles. */
  private def suppRegions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir)("supplier").select(
      $"s_suppkey",
      ($"s_suppkey" * 211 % 1280).as("blox"),
      ($"s_suppkey" * 89 % 560).as("bloy"),
      ($"s_suppkey" * 211 % 1280 + 16 + $"s_suppkey" * 13 % 48).as("bhix"),
      ($"s_suppkey" * 89 % 560 + 12 + $"s_suppkey" * 7 % 36).as("bhiy"))
  }

  private val nationRegionsSql = """
      SELECT n_nationkey,
        n_nationkey * 193 % 1200 AS alox,
        n_nationkey * 97 % 520 AS aloy,
        n_nationkey * 193 % 1200 + 40 + n_nationkey * 29 % 80 AS ahix,
        n_nationkey * 97 % 520 + 32 + n_nationkey * 17 % 64 AS ahiy
      FROM nation"""

  private val suppRegionsSql = """
      SELECT s_suppkey,
        s_suppkey * 211 % 1280 AS blox,
        s_suppkey * 89 % 560 AS bloy,
        s_suppkey * 211 % 1280 + 16 + s_suppkey * 13 % 48 AS bhix,
        s_suppkey * 89 % 560 + 12 + s_suppkey * 7 % 36 AS bhiy
      FROM supplier"""

  /** POLYGON/REGION-OVERLAP JOIN (round 17; the r16 VERDICT names
    * region-overlap joins the next geospatial ask) — the filter-refine
    * spatial join over EXTENDED geometries, where the point-cell trick of
    * [[geoCellJoin]] no longer applies because a region spans many cells:
    * (1) FILTER — each region explodes to the grid cells COVERING its
    * rectangle (a bounded explode: ⌈w/C⌉·⌈h/C⌉ cells), candidates meet by
    * cell EQUI-join, never |A|×|B|; (2) REFINE — exact integer interval
    * overlap on both axes (strict inequalities; touching edges do not
    * overlap — deterministic on the integer lattice); (3) DEDUP by the
    * REFERENCE-POINT rule, the standard distributed spatial-join trick:
    * an overlapping pair is counted ONLY in the cell containing the
    * intersection's low corner (max of the two low corners — inside both
    * rectangles whenever the overlap is non-empty), so no pair is
    * double-counted across shared cells and no shuffle-wide DISTINCT is
    * needed. Per nation region: overlapping-territory count and the EXACT
    * integer overlap area.
    *
    * Scale: the explode is bounded by region-size/cell-size (pick C near
    * the median region side); the join shuffles on cell id with
    * urban-hub skew taking the q_join_skew_salted treatment; the
    * reference-point dedup replaces a global DISTINCT with a per-row
    * filter — the canonical PBSM/GridJoin shape. */
  private def geoRegionJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val a = nationRegions(spark, sfDir)
      .withColumn("cx", explode(sequence(expr(s"alox div $RgCell"),
        expr(s"(ahix - 1) div $RgCell"))))
      .withColumn("cy", explode(sequence(expr(s"aloy div $RgCell"),
        expr(s"(ahiy - 1) div $RgCell"))))
    val b = suppRegions(spark, sfDir)
      .withColumn("cx", explode(sequence(expr(s"blox div $RgCell"),
        expr(s"(bhix - 1) div $RgCell"))))
      .withColumn("cy", explode(sequence(expr(s"bloy div $RgCell"),
        expr(s"(bhiy - 1) div $RgCell"))))
    val pairs = a.join(b, Seq("cx", "cy"))
      .filter($"alox" < $"bhix" && $"blox" < $"ahix" &&
        $"aloy" < $"bhiy" && $"bloy" < $"ahiy")
      // Reference-point dedup: count the pair only in the cell holding
      // the intersection's low corner.
      .filter($"cx" === expr(s"greatest(alox, blox) div $RgCell") &&
        $"cy" === expr(s"greatest(aloy, bloy) div $RgCell"))
      .select($"n_nationkey", $"s_suppkey",
        ((least($"ahix", $"bhix") - greatest($"alox", $"blox")) *
          (least($"ahiy", $"bhiy") - greatest($"aloy", $"bloy")))
          .as("area"))
    nationRegions(spark, sfDir).select($"n_nationkey")
      .join(pairs, Seq("n_nationkey"), "left_outer")
      .groupBy($"n_nationkey")
      .agg(count($"s_suppkey").as("n_overlaps"),
        coalesce(sum($"area"), lit(0L)).cast("long").as("overlap_area"))
      .orderBy($"n_nationkey".asc_nulls_first)
  }

  private val geoRegionJoinOracle = s"""
    WITH a AS ($nationRegionsSql),
    b AS ($suppRegionsSql),
    pairs AS (
      SELECT a.n_nationkey AS nk, b.s_suppkey,
        (least(ahix, bhix) - greatest(alox, blox))
          * (least(ahiy, bhiy) - greatest(aloy, bloy)) AS area
      FROM a JOIN b
        ON alox < bhix AND blox < ahix AND aloy < bhiy AND bloy < ahiy)
    SELECT a.n_nationkey, CAST(count(p.s_suppkey) AS BIGINT) AS n_overlaps,
      CAST(coalesce(sum(p.area), 0) AS BIGINT) AS overlap_area
    FROM a LEFT JOIN pairs p ON p.nk = a.n_nationkey
    GROUP BY a.n_nationkey
    ORDER BY a.n_nationkey ASC NULLS FIRST"""

  /** Bit-interleaved z-code of a covering cell — generated as pure
    * div/mod arithmetic (no bitwise ops) so both engines state it
    * identically: 6 x-bits and 5 y-bits over the [0,1440]×[0,640] grid
    * at [[GhCell]] units. */
  private def zExpr(cx: String, cy: String): String =
    ((0 until 6).map(i =>
      s"(($cx div ${1L << i}) % 2) * ${1L << (2 * i + 1)}") ++
      (0 until 5).map(i =>
        s"(($cy div ${1L << i}) % 2) * ${1L << (2 * i)}")).mkString(" + ")

  private def zSqlExpr(cx: String, cy: String): String =
    ((0 until 6).map(i =>
      s"(($cx // ${1L << i}) % 2) * ${1L << (2 * i + 1)}") ++
      (0 until 5).map(i =>
        s"(($cy // ${1L << i}) % 2) * ${1L << (2 * i)}")).mkString(" + ")

  /** GEOHASH COVERING (round 17) — the index-side half of the region
    * join: each region materializes the set of interleaved-bit cell codes
    * (geohash/S2-style, here a 6+5-bit z-code over the shifted integer
    * grid) covering its rectangle — the covering a spatial index stores
    * so region queries become RANGES of cell codes. Graded per nation:
    * covering-cell count, min/max z-code and the exact z-code sum (any
    * interleaving or covering bug shifts the sum). The z-code is pure
    * div/mod arithmetic, exact in both engines on the non-negative grid.
    *
    * Scale: the covering explode is bounded by region/cell ratio; codes
    * inherit z-order locality, so a covering compacts into O(perimeter)
    * code ranges — the standard geohash/S2 trade the layout pack's
    * q_layout_zorder already exploits point-side. */
  private def geoGeohashCover(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    nationRegions(spark, sfDir)
      .withColumn("cx", explode(sequence(expr(s"alox div $GhCell"),
        expr(s"(ahix - 1) div $GhCell"))))
      .withColumn("cy", explode(sequence(expr(s"aloy div $GhCell"),
        expr(s"(ahiy - 1) div $GhCell"))))
      .select($"n_nationkey", expr(zExpr("cx", "cy")).as("z"))
      .groupBy($"n_nationkey")
      .agg(count(lit(1)).as("n_cells"), min($"z").as("z_min"),
        max($"z").as("z_max"), sum($"z").cast("long").as("z_sum"))
      .orderBy($"n_nationkey".asc_nulls_first)
  }

  private val geoGeohashCoverOracle = s"""
    WITH a AS ($nationRegionsSql),
    cov AS (
      SELECT n_nationkey, ${zSqlExpr("gx.cx", "gy.cy")} AS z
      FROM a,
        LATERAL (SELECT unnest(range(alox // $GhCell,
          (ahix - 1) // $GhCell + 1)) AS cx) gx,
        LATERAL (SELECT unnest(range(aloy // $GhCell,
          (ahiy - 1) // $GhCell + 1)) AS cy) gy)
    SELECT n_nationkey, CAST(count(*) AS BIGINT) AS n_cells,
      CAST(min(z) AS BIGINT) AS z_min, CAST(max(z) AS BIGINT) AS z_max,
      CAST(sum(z) AS BIGINT) AS z_sum
    FROM cov GROUP BY n_nationkey
    ORDER BY n_nationkey ASC NULLS FIRST"""

  override val queries: Vector[Q] = Vector(
    Q("q_geo_region_join", geoRegionJoin, Some(geoRegionJoinOracle)),
    Q("q_geo_geohash_cover", geoGeohashCover, Some(geoGeohashCoverOracle)),
    Q("q_geo_cell_join", geoCellJoin, Some(geoCellJoinOracle)),
    Q("q_geo_knn", geoKnn, Some(geoKnnOracle)),
    Q("q_geo_haversine", geoHaversine, Some(geoHaversineOracle)),
    Q("q_geo_dbscan", geoDbscan, Some(geoDbscanOracle)),
    Q("q_geo_point_in_polygon", geoPointInPolygon,
      Some(geoPointInPolygonOracle)),
  )
}
