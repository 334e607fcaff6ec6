package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Catalog, Memo, Q, QueryPack, Rounds}

/** SURVEY.md §2.O — graph operators (added round 5): connected components
  * over the near-duplicate pair graph (the clustering stage every dedup
  * pipeline needs AFTER candidate-pair generation — pairs alone don't tell
  * you which doc to keep when duplicates chain a→b→c), and triangle
  * counting over a co-purchase graph.
  *
  * Scale notes (100 TB posture):
  *  - Components run min-label propagation: per round one equi-join of the
  *    label table with the edge list and one min-aggregation — all hash
  *    shuffles on node id, map-side combined. Rounds = graph diameter;
  *    near-dup clusters are shallow (duplicates of a common source), so a
  *    handful of rounds. For adversarial deep graphs the same loop shape
  *    takes the large-star/small-star form (O(log n) rounds, same per-round
  *    cost) — the driver only ever sees one Long per round (the label-sum
  *    convergence check), never the data.
  *  - Convergence detection via a monotone invariant: labels only ever
  *    decrease, so the label SUM is strictly decreasing until fixpoint —
  *    one cheap aggregate action per round instead of a change-count join.
  *  - Triangles run the DEGREE ORIENTATION (round 10): each canonical edge
  *    is directed low-degree→high-degree endpoint (ties by id — a total
  *    order, so the oriented graph is acyclic and every triangle has
  *    exactly ONE node with two out-edges), and wedges are enumerated only
  *    from out-edge pairs. Out-degree under this orientation is ≤ O(√|E|)
  *    for ANY graph, so a hub of degree d generates O(|E|) wedge pairs
  *    total instead of d² — the standard skew bound that survives 100×.
  */
object GraphOps extends QueryPack {

  private val MaxRounds = 20

  // Derived edge tables are graft.Memo leaves: the graph queries that read
  // one edge set share it, so its upstream stage is paid once per session.

  /** HOT-NEIGHBOR set for the salted wedge joins (optimization round 19):
    * co-purchase nodes whose degree exceeds `S`× the average degree
    * (floored at 1 — the commonNeighborsCapped scale-relative-threshold
    * discipline, all integer arithmetic). Only wedges through these keys
    * need salting; everything else's per-key fan-out is bounded by the
    * threshold. Memoized tiny leaf (≤ 2|E|/(S·avg) rows by Markov), shared
    * by q_graph_common_neighbors and q_graph_link_ra.
    */
  private[graft] def saltHotDeg(spark: SparkSession, sfDir: String,
                                s: Int): DataFrame = {
    import spark.implicits._
    Memo.leaf(spark, sfDir, s"saltHotV$s") {
      val und = coPurchaseUnd(spark, sfDir)
      val deg = und.groupBy($"u".as("node")).agg(count(lit(1)).as("deg"))
      val avg = deg.agg((sum($"deg") cast "long").as("sd"),
        count(lit(1)).as("nv"))
        .select(greatest(expr("sd div nv"), lit(1L)).as("ad"))
      deg.crossJoin(broadcast(avg))
        .filter($"deg" > lit(s.toLong) * $"ad")
        .select($"node".as("v"))
    }
  }

  /** Hot-split wedge enumeration (optimization round 19): all (u, u2)
    * pairs sharing a neighbor v, as the plain equi self-join for non-hub
    * v and the (v, salt)-keyed salted join for v in `hotB` — each wedge
    * meets under exactly one slice (its v is hot or not) and hub pairs
    * under exactly one salt, so the union is the unsalted self-join's
    * multiset. `hotB` must be the (gated-broadcast) hot-neighbor frame
    * with a single `v` column. Exposed private[graft] for the
    * Round19PerfSpec hub-graph equivalence test — the fixture graphs have
    * no hubs at any SF, so only a synthetic hub exercises the salted
    * slice.
    */
  private[graft] def hotSplitWedges(und: DataFrame, hotB: DataFrame,
                                    s: Int): DataFrame = {
    import und.sparkSession.implicits._
    // Passthrough contract (optimization round 19, second pass): every
    // non-key input column rides along — the probe side keeps its name,
    // the build side gets a "2" suffix — so callers can CARRY per-endpoint
    // payload (e.g. the endpoint degree) through the wedge shuffle instead
    // of re-joining it onto the (much larger) pair table afterwards
    // (guide §2.3 "shuffle keys and metadata instead of payloads",
    // inverted: attach the few-bytes metadata where the shuffle is small).
    // With a plain (u, v) input the output is (u, u2), exactly the old
    // contract (Round19PerfSpec pins the multiset equivalence).
    val keep = und.columns.filterNot(_ == "v")
    val out = (keep ++ keep.map(_ + "2")).toIndexedSeq.map(col(_))
    def ren(df: DataFrame): DataFrame =
      keep.foldLeft(df)((d, c) => d.withColumnRenamed(c, c + "2"))
    val undCold = und.join(hotB, Seq("v"), "left_anti")
    val undHot = und.join(hotB, Seq("v"), "left_semi")
    val wedgeCold = undCold.hint("shuffle_hash")
      .join(ren(undCold), Seq("v"))
      .select(out: _*)
    val probe = undHot.withColumn("salt",
      pmod(xxhash64($"u"), lit(s.toLong)))
    val build = ren(undHot).withColumn("salt",
      explode(array((0 until s).map(i => lit(i.toLong)): _*)))
    val wedgeHot = probe.hint("shuffle_hash").join(build, Seq("v", "salt"))
      .select(out: _*)
    wedgeCold.unionByName(wedgeHot)
  }

  /** Min-label propagation over an undirected edge list `(u, v)` (both
    * directions present). Returns `(node, lbl)` with `lbl` = component
    * minimum. REQUIRES convergence within [[MaxRounds]] — a too-deep graph
    * fails loudly instead of returning silently-wrong labels. Rounds =
    * component diameter (minus the seeded step); swap in large-star/
    * small-star for O(log n) rounds if adversarial depth ever matters.
    */
  private[graft] def propagateMinLabels(
      spark: SparkSession,
      und: DataFrame): DataFrame = {
    import spark.implicits._
    // Seed labels one propagation step ahead: lbl(n) = min(n, neighbors) —
    // shallow (star-shaped) components then converge on the first check.
    val lbl0 = Rounds.cut(und.groupBy($"u").agg(min($"v").as("mn"))
      .select($"u".as("node"), least($"u", $"mn").as("lbl")))
    val seed = (lbl0, lbl0.agg(sum($"lbl")).as[Long].first())
    Rounds.fixpoint("connected components", seed, MaxRounds) {
      case (lbl, sum0) =>
        // shuffle_hash hints (optimization round 19): both join inputs are
        // statistics-free checkpoint-RDD leaves, so unhinted planning fell
        // to sort-merge joins that re-sorted the edge leaf every round; the
        // |V|-row label side builds a per-partition hash instead (the
        // commonNeighbors round-12 rationale, applied to the round kernel).
        val nbrMin = und
          .join(lbl.select($"node".as("v"), $"lbl".as("vlbl"))
            .hint("shuffle_hash"), Seq("v"))
          .groupBy($"u").agg(min($"vlbl").as("nbr_lbl"))
        val next = Rounds.cut(lbl
          .join(nbrMin.select($"u".as("node"), $"nbr_lbl")
            .hint("shuffle_hash"), Seq("node"), "left")
          .select($"node",
            least($"lbl", coalesce($"nbr_lbl", $"lbl")).as("lbl")))
        val sum1 = next.agg(sum($"lbl")).as[Long].first()
        ((next, sum1), sum1 != sum0)
    }._1._1
  }

  /** LARGE-STAR/SMALL-STAR connected components (added round 12) — the
    * Kiveris et al. "Connected Components in MapReduce and Beyond"
    * formulation: the edge set itself is rewritten each round
    * (large-star hangs every node's larger neighbors onto its minimum,
    * small-star then hangs the node and its smaller neighbors onto their
    * minimum) until the graph is a union of STARS, each centered at its
    * component minimum. Rounds are O(log n) REGARDLESS of diameter —
    * the property [[propagateMinLabels]] lacks (min-label needs
    * O(diameter) rounds, fine for shallow near-dup clusters, unbounded
    * for adversarial chains; GraphMemoSpec pins a 64-node chain
    * converging in ≤ 8 two-star rounds where min-label would need 63).
    *
    * Edge state is canonical (c, p) with p < c. Convergence = the exact
    * star fixpoint, two predicates folded into ONE driver action per
    * round (optimization round 20): (a) no parent is itself a child,
    * and (b) every child has exactly ONE parent (count ==
    * distinct-child count) — (a) alone is NOT a fixpoint (a two-parent
    * child still merges its parents on the next small-star), which is
    * why (b) exists; both read off one stacked-role rollup (see
    * isStar). Each round's edge set is a [[graft.Rounds]] cut; per
    * round: one explode, two hash aggs, two equi-joins — all keyed
    * shuffles, nothing driver-side but the two convergence Longs of one
    * action.
    *
    * Returns ((node, lbl) labels, rounds). Labels cover every node with
    * an edge; singletons resolve downstream via the same coalesce join
    * as min-label components.
    */
  private[graft] def twoStarLabels(
      spark: SparkSession,
      edges0: DataFrame): (DataFrame, Int) = {
    import spark.implicits._
    val e0 = Rounds.cut(edges0
      .select(greatest($"u", $"v").as("c"), least($"u", $"v").as("p"))
      .filter($"c" =!= $"p").distinct())
    def isStar(df: DataFrame): Boolean = {
      // Folded convergence check (optimization round 20, guide §2.4): the
      // old form spent TWO driver actions per round — a semi-join probe
      // for "some parent is itself a child" plus a count/count_distinct
      // aggregate for "some child has two parents". Both predicates read
      // off ONE node-keyed rollup of the stacked endpoint roles (x
      // appears as child ic / parent ip), map-side combined, one action:
      //   parentIsChild  ⟺  ∃x: nc > 0 ∧ hp > 0
      //   duplicate child ⟺ ∃x: nc > 1   (count == count_distinct(c))
      val r = df
        .select(explode(array(
          struct($"c".as("x"), lit(1L).as("ic"), lit(0L).as("ip")),
          struct($"p".as("x"), lit(0L).as("ic"), lit(1L).as("ip")))).as("s"))
        .select($"s.x".as("x"), $"s.ic".as("ic"), $"s.ip".as("ip"))
        .groupBy($"x").agg(sum($"ic").as("nc"), max($"ip").as("hp"))
        .agg(
          coalesce(max(when($"nc" > 0L && $"hp" > 0L, 1L).otherwise(0L)),
            lit(0L)).as("pic"),
          coalesce(max(when($"nc" > 1L, 1L).otherwise(0L)),
            lit(0L)).as("dup"))
        .head()
      r.getLong(0) == 0L && r.getLong(1) == 0L
    }
    def round(e: DataFrame): DataFrame = {
      // Large-star: for every node u, hang each LARGER neighbor v onto
      // m(u) = min(N(u) ∪ {u}).
      val und = e.select(explode(array(
          struct($"c".as("u"), $"p".as("v")),
          struct($"p".as("u"), $"c".as("v")))).as("x"))
        .select($"x.u".as("u"), $"x.v".as("v"))
      // shuffle_hash hints (optimization round 19): the per-round m/sm
      // frames are node-sized aggregates over statistics-free RDD leaves;
      // unhinted planning sort-merged them (re-sorting the exploded edge
      // frame every round) — hash builds are sort-free and the aggregate
      // output arrives already partitioned on the join key.
      val m = und.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"u", $"mn").as("m"))
      val ls = und.join(m.hint("shuffle_hash"), Seq("u")).filter($"v" > $"u")
        .select($"v".as("c"), $"m".as("p"))
        .filter($"c" =!= $"p").distinct()
      // Small-star: group each node's SMALLER neighbors (ls is already
      // child→parents), hang them and the node onto their minimum.
      val sm = ls.groupBy($"c").agg(min($"p").as("m"))
      ls.join(sm.hint("shuffle_hash"), Seq("c"))
        .select(explode(array($"p", $"c")).as("n"), $"m")
        .select(greatest($"n", $"m").as("c"), least($"n", $"m").as("p"))
        .filter($"c" =!= $"p").distinct()
    }
    val (e, rounds) =
      if (isStar(e0)) (e0, 0)
      else Rounds.fixpoint("two-star components", e0, MaxRounds) { e =>
        val next = Rounds.cut(round(e))
        (next, !isStar(next))
      }
    val lbl = e.select($"c".as("node"), $"p".as("lbl"))
      .union(e.select($"p".as("node"), $"p".as("lbl")))
      .distinct()
    (lbl, rounds)
  }

  /** Memoized two-star labels over the near-dup graph (the sibling of
    * [[nearDupLabels]] — same graph, the other formulation).
    */
  private def nearDupLabelsTwoStar(spark: SparkSession, sfDir: String): DataFrame = {
    val und = nearDupUnd(spark, sfDir)
    Memo.leaf(spark, sfDir, "nearDupLabelsTwoStar")(
      twoStarLabels(spark, und)._1)
  }

  /** q_graph_components_twostar: identical output contract (and the SAME
    * recursive-CTE oracle) as q_graph_components, computed by the
    * two-star formulation — the two algorithms verify each other through
    * one shared oracle, the house dual-formulation pattern
    * (q_skyline_pareto precedent).
    */
  private def componentsTwoStar(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val lbl = nearDupLabelsTwoStar(spark, sfDir)
    val docs = Catalog.load(spark, sfDir, "documents").select($"doc_id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"component_id")
    docs
      .join(lbl.select($"node".as("doc_id"), $"lbl"), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"lbl", $"doc_id").as("component_id"))
      .withColumn("comp_size", count(lit(1)).over(w))
      .select($"doc_id", $"component_id", $"comp_size")
      .orderBy($"doc_id".asc_nulls_first)
  }

  /** Undirected near-dup edge leaf (memoized). Both edge directions come
    * from ONE explode over the pair pipeline — a union of two selects would
    * embed the shingle→join→jaccard subtree twice in the plan and execute
    * it twice (measured ~1.5 s extra at sf0.1).
    */
  private def nearDupUnd(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Memo.leaf(spark, sfDir, "nearDupUnd")(
      LlmPipeline.dedupNear(spark, sfDir)
        .select(explode(array(
          struct($"doc_a".as("u"), $"doc_b".as("v")),
          struct($"doc_b".as("u"), $"doc_a".as("v")))).as("e"))
        .select($"e.u".as("u"), $"e.v".as("v")))
  }

  /** Memoized near-dup component labels: q_graph_components and
    * q_dedup_clusters are two decision tables over the SAME propagation
    * fixpoint, so only the first to run pays the iterative rounds (each
    * round is a fresh plan = a fresh whole-stage-codegen compile). The
    * propagation result is already a cut leaf (every round ends in
    * [[graft.Rounds.cut]]), so it is memoized as a value, not cut again.
    */
  private def nearDupLabels(spark: SparkSession, sfDir: String): DataFrame = {
    val und = nearDupUnd(spark, sfDir)
    Memo(spark, sfDir, "nearDupLabels")(propagateMinLabels(spark, und))
  }

  private def components(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Every driver action below is load-bearing: one per round plus the
    // initial materialization, nothing else (each round's plan is new, so
    // extra actions pay fresh whole-stage-codegen compiles, which dominated
    // the first cut of this operator).
    val lbl = nearDupLabels(spark, sfDir)
    val docs = Catalog.load(spark, sfDir, "documents").select($"doc_id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"component_id")
    docs
      .join(lbl.select($"node".as("doc_id"), $"lbl"), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"lbl", $"doc_id").as("component_id"))
      // Window, not a groupBy+self-join: one shuffle on component_id and the
      // comp subtree stays single in the plan.
      .withColumn("comp_size", count(lit(1)).over(w))
      .select($"doc_id", $"component_id", $"comp_size")
      .orderBy($"doc_id".asc_nulls_first)
  }

  private val componentsOracle = s"""
    WITH RECURSIVE ${LlmPipeline.nearPairsCtes},
    edges AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.8),
    und AS (SELECT doc_a AS u, doc_b AS v FROM edges
            UNION ALL SELECT doc_b, doc_a FROM edges),
    reach(node, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM und)
      UNION
      SELECT e.u, reach.r FROM und e JOIN reach ON e.v = reach.node),
    comp0 AS (SELECT node, min(r) AS component_id FROM reach GROUP BY node),
    comp AS (
      SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS component_id
      FROM documents d LEFT JOIN comp0 c ON d.doc_id = c.node),
    csizes AS (SELECT component_id, count(*) AS comp_size FROM comp GROUP BY 1)
    SELECT comp.doc_id, comp.component_id, csizes.comp_size
    FROM comp JOIN csizes ON comp.component_id = csizes.component_id
    ORDER BY comp.doc_id ASC NULLS FIRST"""

  /** Canonical (a<b, distinct) co-purchase edges: customers adjacent iff
    * both placed an URGENT order on the same day. Shared by triangles and
    * PageRank (code + oracle CTE, so the graphs cannot drift).
    */
  private def coPurchaseEdges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val urgent = Catalog.load(spark, sfDir, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey".as("c"), date_trunc("day", $"o_orderdate").as("day"))
      .distinct()
    urgent.as("x").join(urgent.as("y"), Seq("day"))
      .filter($"x.c" < $"y.c")
      .select($"x.c".as("a"), $"y.c".as("b"))
      .distinct()
  }

  /** Undirected co-purchase edge leaf (memoized; see [[graft.Memo]]).
    * The canonical a<b form is recovered exactly by `filter(u < v)` — both
    * directions of every canonical pair are present, nothing else.
    */
  private[graft] def coPurchaseUnd(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Memo.leaf(spark, sfDir, "coPurchaseUnd")(
      coPurchaseEdges(spark, sfDir)
        .select(explode(array(
          struct($"a".as("u"), $"b".as("v")),
          struct($"b".as("u"), $"a".as("v")))).as("e"))
        .select($"e.u".as("u"), $"e.v".as("v")))
  }

  /** Per-node degree of the co-purchase graph (memoized): `(node, deg)`. */
  private def degrees(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Memo.leaf(spark, sfDir, "pprDeg")(coPurchaseUnd(spark, sfDir)
      .groupBy($"u".as("node")).agg(count(lit(1)).as("deg")))
  }

  /** Co-purchase adjacency ranked per node, `(u, v, rn)` with `rn` the
    * 1-based rank of `v` ascending (memoized; the walks' neighbor pick).
    */
  private def walkAdj(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Memo.leaf(spark, sfDir, "walkAdj")(coPurchaseUnd(spark, sfDir)
      .select($"u", $"v",
        row_number().over(Window.partitionBy($"u").orderBy($"v".asc)).as("rn")))
  }

  /** The `k` smallest node ids of an undirected edge list, as `node`: the
    * fixed-k deterministic seed sample of closeness, betweenness and walks.
    */
  private def smallestNodes(und: DataFrame, k: Int): DataFrame =
    und.select(col("u").as("node")).distinct().orderBy(col("node").asc).limit(k)

  private val coPurchaseEdgesCtes = """urgent AS (
      SELECT DISTINCT o_custkey AS c, date_trunc('day', o_orderdate) AS day
      FROM orders WHERE o_orderpriority = '1-URGENT'),
    edges AS (
      SELECT DISTINCT x.c AS a, y.c AS b
      FROM urgent x JOIN urgent y ON x.day = y.day AND x.c < y.c)"""

  /** Per-customer triangle count over the co-purchase graph: degree-
    * oriented enumeration (see the header scale notes); output covers
    * every node of the edge set (zero counts included). Pure integer
    * counting — no float parity risk.
    *
    * Each canonical a<b edge is directed from its (deg, id)-smaller
    * endpoint; (deg, id) is a total order, so the orientation is a DAG and
    * every triangle has exactly one "pivot" node owning two out-edges —
    * each triangle is emitted once, by its pivot. The wedge self-join fans
    * out per node by OUT-degree, which degree orientation bounds by
    * O(√|E|) on any graph (a hub's edges point INTO it), so the join
    * input is O(|E|^1.5) worst-case instead of Σdeg² — the difference
    * between a bounded task and a straggler at 100 TB. Degree lookups
    * broadcast (|V| rows); the closure probe joins back to the canonical
    * edge set on the (lesser, greater) node pair.
    */
  private def buildTriPerNode(spark: SparkSession, und: DataFrame): DataFrame = {
    import spark.implicits._
    // Filter over the memoized undirected leaf: every join reference below
    // embeds only leaf+filter, no edge-build lineage.
    val edges = und.filter($"u" < $"v").select($"u".as("a"), $"v".as("b"))
    val deg = und.groupBy($"u".as("node")).agg(count(lit(1)).as("deg"))
    val oriented = edges
      // the degree table is |V|-sized — count-gated broadcast (falls
      // back to a shuffle join on the edge key when the gate trips).
      .join(graft.Dsl.gatedBroadcast(deg.select($"node".as("a"), $"deg".as("deg_a"))), Seq("a"))
      .join(graft.Dsl.gatedBroadcast(deg.select($"node".as("b"), $"deg".as("deg_b"))), Seq("b"))
      .select(
        when($"deg_a" <= $"deg_b", $"a").otherwise($"b").as("src"),
        when($"deg_a" <= $"deg_b", $"b").otherwise($"a").as("dst"))
    val tri = oriented.as("o1")
      .join(oriented.as("o2"),
        $"o1.src" === $"o2.src" && $"o1.dst" < $"o2.dst")
      .select($"o1.src".as("n1"), $"o1.dst".as("n2"), $"o2.dst".as("n3"))
      // n2 < n3 by the wedge ordering, so the closure edge, if present, is
      // exactly the canonical (n2, n3) row.
      .join(edges.as("e3"), $"n2" === $"e3.a" && $"n3" === $"e3.b")
      .select($"n1", $"n2", $"n3")
    // explode, not a 3-way union of projections: a union re-embeds the
    // whole wedge-join subtree once per column (the executed plan showed
    // the oriented join built three times); the explode emits the same
    // three node rows from ONE pass over the triangle table.
    tri.select(explode(array($"n1", $"n2", $"n3")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node triangle counts, memoized (round 11 — shared by
    * q_graph_triangles and q_graph_clustering_coeff; formerly inlined in
    * triangles): the salted-wedge join runs once per (app, sfDir).
    */
  private def triPerNode(spark: SparkSession, sfDir: String): DataFrame = {
    val und = coPurchaseUnd(spark, sfDir)
    Memo.leaf(spark, sfDir, "triPerNode")(buildTriPerNode(spark, und))
  }

  private def triangles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und = coPurchaseUnd(spark, sfDir)
    val edges = und.filter($"u" < $"v").select($"u".as("a"), $"v".as("b"))
    val perNode = triPerNode(spark, sfDir)
    val nodes = edges.select($"a".as("node")).union(edges.select($"b")).distinct()
    nodes.join(perNode, Seq("node"), "left")
      .select($"node".as("custkey"),
        coalesce($"n_triangles", lit(0L)).as("n_triangles"))
      .orderBy($"custkey".asc_nulls_first)
  }

  private val trianglesOracle = s"""
    WITH $coPurchaseEdgesCtes,
    tri AS (
      SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
      FROM edges e1
      JOIN edges e2 ON e1.b = e2.a
      JOIN edges e3 ON e1.a = e3.a AND e2.b = e3.b),
    per_node AS (
      SELECT node, count(*) AS n_triangles FROM (
        SELECT n1 AS node FROM tri
        UNION ALL SELECT n2 FROM tri
        UNION ALL SELECT n3 FROM tri)
      GROUP BY node),
    nodes AS (SELECT DISTINCT node FROM
      (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges))
    SELECT nodes.node AS custkey, coalesce(p.n_triangles, 0) AS n_triangles
    FROM nodes LEFT JOIN per_node p ON nodes.node = p.node
    ORDER BY custkey ASC NULLS FIRST"""

  /** The dedup ENDGAME: per near-dup cluster, the canonical survivor
    * (min doc_id) and what deduplication drops — members, dropped count,
    * kept/dropped characters. This is the decision table a corpus dedup
    * actually ships: q_dedup_near finds pairs, q_graph_components closes
    * them transitively, this picks winners. Single-member components are
    * included (nothing dropped) so the output partitions the corpus.
    */
  private def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val lbl = nearDupLabels(spark, sfDir)
    Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", $"n_chars")
      .join(lbl.select($"node".as("doc_id"), $"lbl"), Seq("doc_id"), "left")
      .select($"doc_id", $"n_chars", coalesce($"lbl", $"doc_id").as("component_id"))
      .groupBy($"component_id")
      .agg(
        count(lit(1)).as("n_members"),
        (count(lit(1)) - 1).as("n_dropped"),
        min(when($"doc_id" === $"component_id", $"n_chars")).as("chars_kept"),
        coalesce(sum(when($"doc_id" =!= $"component_id", $"n_chars")), lit(0L))
          .as("chars_dropped"))
      .orderBy($"component_id".asc_nulls_first)
  }

  private val dedupClustersOracle = s"""
    WITH RECURSIVE ${LlmPipeline.nearPairsCtes},
    edges AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.8),
    und AS (SELECT doc_a AS u, doc_b AS v FROM edges
            UNION ALL SELECT doc_b, doc_a FROM edges),
    reach(node, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM und)
      UNION
      SELECT e.u, reach.r FROM und e JOIN reach ON e.v = reach.node),
    comp0 AS (SELECT node, min(r) AS component_id FROM reach GROUP BY node),
    comp AS (
      SELECT d.doc_id, d.n_chars,
             coalesce(c.component_id, d.doc_id) AS component_id
      FROM documents d LEFT JOIN comp0 c ON d.doc_id = c.node)
    SELECT component_id,
      count(*) AS n_members,
      count(*) - 1 AS n_dropped,
      min(CASE WHEN doc_id = component_id THEN n_chars END) AS chars_kept,
      coalesce(CAST(sum(CASE WHEN doc_id <> component_id THEN n_chars END)
        AS BIGINT), 0) AS chars_dropped
    FROM comp
    GROUP BY component_id
    ORDER BY component_id ASC NULLS FIRST"""

  /** QUALITY-RANKED DEDUP SURVIVORSHIP (round 17) — [[dedupClusters]]
    * upgraded to the rule production corpus dedup actually ships: the
    * survivor of a near-dup cluster is its HIGHEST-QUALITY member (the
    * shared [[LlmExtras.qualityScore]] — one definition with
    * q_text_quality / q_corpus_quality_bins so the gate, the binning and
    * the survivorship can never drift), not the arbitrary min-id copy;
    * ties break on doc_id. Ranking is over 4dp-ROUNDED scores (exact
    * 4-decimal rationals both engines — the mips round-first contract)
    * and the dropped-quality mass sums through DECIMAL(18,6) (§2.0 rule
    * 3), so the whole decision table is engine-exact. Singletons are
    * their own survivor — the output partitions the corpus.
    *
    * Scale: one scan-side quality projection, the memoized label leaf,
    * and a per-cluster window — one hash shuffle on component_id.
    */
  private def dedupSurvivor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val lbl = nearDupLabels(spark, sfDir)
    val docs = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", LlmExtras.qualityScore($"text").as("q"))
      .join(lbl.select($"node".as("doc_id"), $"lbl"), Seq("doc_id"), "left")
      .select($"doc_id", $"q", coalesce($"lbl", $"doc_id").as("component_id"))
    val w = Window.partitionBy($"component_id")
      .orderBy($"q".desc, $"doc_id".asc)
    docs.withColumn("rn", row_number().over(w))
      .groupBy($"component_id")
      .agg(
        min(when($"rn" === 1, $"doc_id")).as("survivor_id"),
        min(when($"rn" === 1, $"q")).as("survivor_quality"),
        count(lit(1)).as("n_members"),
        coalesce(graft.Dsl.dsum(when($"rn" > 1, $"q")), lit(0.0))
          .as("quality_dropped"))
      .orderBy($"component_id".asc_nulls_first)
  }

  private val dedupSurvivorOracle = s"""
    WITH RECURSIVE ${LlmPipeline.nearPairsCtes},
    edges AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.8),
    und AS (SELECT doc_a AS u, doc_b AS v FROM edges
            UNION ALL SELECT doc_b, doc_a FROM edges),
    reach(node, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM und)
      UNION
      SELECT e.u, reach.r FROM und e JOIN reach ON e.v = reach.node),
    comp0 AS (SELECT node, min(r) AS component_id FROM reach GROUP BY node),
    dq AS (SELECT doc_id, ${LlmExtras.qualityScoreSql} AS q FROM documents),
    comp AS (
      SELECT dq.doc_id, dq.q, coalesce(c.component_id, dq.doc_id)
        AS component_id
      FROM dq LEFT JOIN comp0 c ON dq.doc_id = c.node),
    r AS (
      SELECT comp.*, row_number() OVER (
        PARTITION BY component_id ORDER BY q DESC, doc_id ASC) AS rn
      FROM comp)
    SELECT component_id,
      min(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id,
      min(CASE WHEN rn = 1 THEN q END) AS survivor_quality,
      count(*) AS n_members,
      coalesce(CAST(sum(CASE WHEN rn > 1
        THEN CAST(q AS DECIMAL(18,6)) END) AS DOUBLE), 0) AS quality_dropped
    FROM r
    GROUP BY component_id
    ORDER BY component_id ASC NULLS FIRST"""

  /** Degree distribution of the co-purchase graph — the first profiling
    * table a graph pipeline produces (skew in it decides whether the
    * triangle/propagation joins need the low-degree→high-degree orientation
    * documented above). Two hash aggregations over the memoized edge leaf;
    * all integers.
    */
  private def degreeHist(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    coPurchaseUnd(spark, sfDir)
      .groupBy($"u").agg(count(lit(1)).as("degree"))
      .groupBy($"degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy($"degree".asc_nulls_first)
  }

  private val degreeHistOracle = s"""
    WITH $coPurchaseEdgesCtes,
    und AS (SELECT a AS u, b AS v FROM edges
            UNION ALL SELECT b, a FROM edges),
    deg AS (SELECT u, count(*) AS degree FROM und GROUP BY u)
    SELECT degree, count(*) AS n_nodes FROM deg
    GROUP BY degree ORDER BY degree ASC NULLS FIRST"""

  /** Common-neighbor link prediction (added round 9): for every
    * NON-adjacent node pair sharing at least one neighbor, the common
    * count and the neighbor-set Jaccard in parts-per-million SCALED
    * INTEGER (`div` ↔ DuckDB `//` — engine-exact where float division
    * would be last-ulp fragile); top-20 candidate links.
    *
    * Scale shape: the wedge join (two hops through a shared neighbor)
    * costs Σ deg(n)² over neighbors n — the quantity q_graph_degree_hist
    * profiles — and every wedge of a hub neighbor n lands in ONE shuffle
    * partition when the join key is n alone. The self-join is therefore
    * SALTED — but only for HUB neighbors (optimization round 19, guide
    * §2.5 "salt the hot keys, not the table"): the round-10 form
    * replicated the ENTIRE build side S× to spread hub fan-out, paying an
    * S×|E| shuffle even on graphs with no hubs at all. Skew is a property
    * of a few keys, so the salt is now applied only to wedges through
    * neighbors whose degree exceeds S× the average ([[saltHotDeg]] — the
    * scale-relative threshold discipline of commonNeighborsCapped's cap):
    * the hub slice keys on (v, hash(u) mod S) with the build half
    * replicated to all S salts, the non-hub slice is a plain equi-join on
    * v whose per-key fan-out is bounded by the threshold itself. Each
    * (e1, e2) wedge meets under exactly one slice (its shared v is hot or
    * it is not) and hub pairs under precisely one salt, so the union is
    * exactly the unsalted join's multiset — which is what the oracle
    * hash-checks. Salt from xxhash64 of the row's own key, never rand():
    * deterministic under task retry. At sf0.1 the co-purchase graph has
    * max_deg 127 < 8×avg(28): the hot slice is empty and the 8×|E|
    * replication disappears outright; at 100 TB replication cost is
    * proportional to true hub mass (≤ 2|E|/threshold keys) instead of
    * |E|. The hot-key set is a count-gated broadcast (|hubs| rows), so
    * the semi/anti splits are map-side. The pair aggregate and the degree
    * join shuffle on node-pair/node keys; top-20 is
    * TakeOrderedAndProject (no global sort materialization).
    */
  private def commonNeighbors(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val S = 8
    val und = coPurchaseUnd(spark, sfDir)
    val deg = und.groupBy($"u".as("node")).agg(count(lit(1)).as("deg"))
    val edges = und.filter($"u" < $"v")
      .select($"u".as("a"), $"v".as("b"))
    val hotB = graft.Dsl.gatedBroadcast(saltHotDeg(spark, sfDir, S))
    // Carry each endpoint's degree THROUGH the wedge shuffle (optimization
    // round 19, second pass, guide §2.3/§2.4): the old shape re-joined the
    // |V|-row degree table onto the pair table AFTER the aggregate — two
    // extra exchanges of the multi-million-row candidate frame (once on a,
    // once on b) to attach 8 bytes each. Attaching deg on the |E|-row edge
    // frame first costs one small exchange (reusing the degree aggregate's
    // own partitioning on u) and widens the wedge rows by 16 bytes; the
    // degrees then fall out of the pair aggregate as min() (deg is
    // functionally dependent on the node id, so min = the value).
    val undD = und
      .join(deg.select($"node".as("u"), $"deg".as("du"))
        .hint("shuffle_hash"), Seq("u"))
      .select($"u", $"v", $"du")
    val wedges = hotSplitWedges(undD, hotB, S)
      .filter($"u" < $"u2")
      .select($"u".as("a"), $"u2".as("b"), $"du".as("da"), $"du2".as("db"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("common"),
        min($"da").as("deg_a"), min($"db").as("deg_b"))
    // shuffle_hash hint on the |E|-sized anti-join build side, NOT
    // broadcast (round 12 — the round-11 verdict's one structural weak):
    // the leaf is a checkpoint RDD scan with no size statistics, so the
    // planner's unhinted fallback is a sort-merge join that re-sorts the
    // multi-million-row candidate table (measured: the SMJ form was the
    // suite's slowest query at sf0.1), while a forced broadcast of the
    // FULL edge list is exactly what cannot happen at 100× — a 100-TB
    // graph's edge set does not fit one executor. The shuffled hash join
    // is the scale-true middle: the anti-join reuses the wedge
    // aggregation's (a, b) hash partitioning (zero extra exchange on the
    // big side) and ships |E| rows through a hash exchange instead of to
    // every executor.
    wedges
      .join(edges.hint("shuffle_hash"), Seq("a", "b"), "left_anti")
      .select($"a", $"b", $"common", $"deg_a", $"deg_b",
        expr("(common * 1000000) div (deg_a + deg_b - common)")
          .as("jaccard_ppm"))
      .orderBy($"jaccard_ppm".desc, $"a".asc_nulls_first, $"b".asc_nulls_first)
      .limit(20)
  }

  private val commonNeighborsOracle = s"""
    WITH $coPurchaseEdgesCtes,
    und AS (SELECT a AS u, b AS v FROM edges
            UNION ALL SELECT b, a FROM edges),
    deg AS (SELECT u AS node, count(*) AS deg FROM und GROUP BY u),
    wedges AS (
      SELECT e1.u AS a, e2.u AS b, count(*) AS common
      FROM und e1 JOIN und e2 ON e1.v = e2.v AND e1.u < e2.u
      GROUP BY 1, 2),
    cand AS (
      SELECT w.* FROM wedges w
      WHERE NOT EXISTS (
        SELECT 1 FROM edges e WHERE e.a = w.a AND e.b = w.b))
    SELECT c.a, c.b, c.common, da.deg AS deg_a, db.deg AS deg_b,
      (c.common * 1000000) // (da.deg + db.deg - c.common) AS jaccard_ppm
    FROM cand c
    JOIN deg da ON da.node = c.a
    JOIN deg db ON db.node = c.b
    ORDER BY jaccard_ppm DESC, c.a ASC NULLS FIRST, c.b ASC NULLS FIRST
    LIMIT 20"""

  /** DEGREE-CAPPED common-neighbor link prediction (added round 12) — the
    * standard 100-TB mitigation for the exact form's Σ deg(v)² wedge
    * fan-out: shared neighbors with degree above a cap are excluded as
    * "too common to be discriminative" (the same reasoning as the shingle
    * df-cap in q_dedup_near — a node everyone touches predicts nothing),
    * which bounds the per-neighbor wedge fan-out at cap² BY CONSTRUCTION,
    * so no salting is needed and no hub can straggle a task. The cap is
    * SCALE-RELATIVE — max(2, 2·|E| div |V|), i.e. the average degree
    * with a floor that keeps the sparsest fixture graph non-empty, all
    * integer arithmetic — so the same query text grades at every SF
    * (a fixed constant either never fires at small SF or empties the
    * graph at large SF; verified: cap=2/3/28 at sf0.001/0.01/0.1, all
    * non-empty, and at sf0.1 the wedge-input Σdeg² drops 5.7×). Reported
    * degrees (and the Jaccard denominator) stay the FULL degrees — the
    * cap approximates the numerator's wedge enumeration only, which is
    * the standard formulation (capped counts lower-bound true counts).
    *
    * Scale: the 1-row cap frame broadcasts onto the |V|-row degree table;
    * the wedge self-join is an equi shuffle on the shared neighbor with
    * bounded fan-out; anti-join/degree joins are shuffled hash joins as in
    * [[commonNeighbors]] (no |E|-broadcast).
    */
  private def commonNeighborsCapped(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und = coPurchaseUnd(spark, sfDir)
    val deg = und.groupBy($"u".as("node")).agg(count(lit(1)).as("deg"))
    val edges = und.filter($"u" < $"v")
      .select($"u".as("a"), $"v".as("b"))
    val cap = edges.agg(count(lit(1)).as("ne"))
      .crossJoin(deg.agg(count(lit(1)).as("nv")))
      .select(expr("greatest(CAST(2 AS BIGINT), (2 * ne) div nv)").as("k"))
    val keepV = deg.crossJoin(broadcast(cap))
      .filter($"deg" <= $"k").select($"node".as("v"))
    val undCap = und.join(keepV.hint("shuffle_hash"), Seq("v"), "left_semi")
    // Carry the (FULL) endpoint degree through the wedge shuffle instead
    // of re-joining it onto the pair table after the aggregate — the
    // [[commonNeighbors]] second-pass shape: one small |E|-row attach
    // join replaces two candidate-table exchanges. Reported degrees stay
    // the full degrees (deg is built from the uncapped leaf).
    val undCapD = undCap
      .join(deg.select($"node".as("u"), $"deg".as("du"))
        .hint("shuffle_hash"), Seq("u"))
    val wedges = undCapD.select($"u", $"v", $"du").as("e1")
      .join(undCapD.select($"u".as("u2"), $"v", $"du".as("du2")).as("e2"),
        Seq("v"))
      .filter($"u" < $"u2")
      .select($"u".as("a"), $"u2".as("b"), $"du".as("da"), $"du2".as("db"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("common"),
        min($"da").as("deg_a"), min($"db").as("deg_b"))
    wedges
      .join(edges.hint("shuffle_hash"), Seq("a", "b"), "left_anti")
      .select($"a", $"b", $"common", $"deg_a", $"deg_b",
        expr("(common * 1000000) div (deg_a + deg_b - common)")
          .as("jaccard_ppm"))
      .orderBy($"jaccard_ppm".desc, $"a".asc_nulls_first, $"b".asc_nulls_first)
      .limit(20)
  }

  private val commonNeighborsCappedOracle = s"""
    WITH $coPurchaseEdgesCtes,
    und AS (SELECT a AS u, b AS v FROM edges
            UNION ALL SELECT b, a FROM edges),
    deg AS (SELECT u AS node, count(*) AS deg FROM und GROUP BY u),
    cap AS (SELECT greatest(2, (2 * (SELECT count(*) FROM edges))
                   // (SELECT count(*) FROM deg)) AS k),
    undc AS (SELECT und.u, und.v FROM und JOIN deg ON deg.node = und.v
             WHERE deg.deg <= (SELECT k FROM cap)),
    wedges AS (
      SELECT e1.u AS a, e2.u AS b, count(*) AS common
      FROM undc e1 JOIN undc e2 ON e1.v = e2.v AND e1.u < e2.u
      GROUP BY 1, 2),
    cand AS (
      SELECT w.* FROM wedges w
      WHERE NOT EXISTS (
        SELECT 1 FROM edges e WHERE e.a = w.a AND e.b = w.b))
    SELECT c.a, c.b, c.common, da.deg AS deg_a, db.deg AS deg_b,
      (c.common * 1000000) // (da.deg + db.deg - c.common) AS jaccard_ppm
    FROM cand c
    JOIN deg da ON da.node = c.a
    JOIN deg db ON db.node = c.b
    ORDER BY jaccard_ppm DESC, c.a ASC NULLS FIRST, c.b ASC NULLS FIRST
    LIMIT 20"""

  private val BfsHops = 6

  /** Bounded-horizon BFS distances (added round 9): minimum hop count from
    * the graph's minimum node id to every node reachable within
    * [[BfsHops]] hops — the neighborhood-expansion primitive under
    * friend-of-friend features and graph sampling. Pure integers; the
    * horizon bound makes the oracle's recursive CTE finite.
    *
    * DELTA-FRONTIER rounds over the memoized edge leaf: only nodes FIRST
    * reached in round k expand in round k+1 (any shorter path through an
    * older node was already counted), so the join input per round is the
    * new frontier, not the accumulated distance table — the standard BFS
    * optimization (the accumulate-and-re-min formulation re-joined every
    * reached node every round and sort-merge-sorted the full edge list per
    * hop; measured 4.6-6.8 s steady at sf0.1 vs ~1.5 s for this shape).
    * The frontier side is explicitly broadcast — it is the small side BY
    * CONSTRUCTION for bounded-horizon BFS (a k-hop neighborhood), so each
    * round is one BroadcastHashJoin SCAN of the edge leaf: the edges are
    * never shuffled or sorted. If frontiers outgrow broadcast (graph-scale
    * sources, no horizon), drop the hint and the same plan degrades to the
    * shuffled equi-join. Each round's frontier is a [[graft.Rounds]] cut:
    * later rounds reference every prior frontier through the anti-join, so
    * without per-round leaves the plan would re-embed the whole prefix
    * each hop. The oracle recurses with UNION (not ALL) — distinct
    * (node, d) pairs — so the path-count explosion of a dense small-world
    * graph (~deg^6 paths) never materializes on either side.
    */
  private def graphBfs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und = coPurchaseUnd(spark, sfDir)
    val start = Rounds.cut(und.agg(min($"u").as("node"))
      .select($"node", lit(0L).as("d")))
    val levels = (1 to BfsHops).foldLeft(Vector(start)) { (levels, k) =>
      val seen = levels.map(_.select($"node")).reduce(_ union _)
      levels :+ Rounds.cut(broadcast(levels.last.as("x"))
        .join(und.as("e"), $"x.node" === $"e.u")
        .select($"e.v".as("node")).distinct()
        .join(broadcast(seen), Seq("node"), "left_anti")
        .select($"node", lit(k.toLong).as("d")))
    }
    levels.reduce(_ union _).select($"node", $"d".as("dist"))
      .orderBy($"node".asc_nulls_first)
  }

  private val graphBfsOracle = s"""
    WITH RECURSIVE $coPurchaseEdgesCtes,
    und AS (SELECT a AS u, b AS v FROM edges
            UNION ALL SELECT b, a FROM edges),
    r(node, d) AS (
      SELECT (SELECT min(u) FROM und), 0
      UNION
      SELECT e.v, r.d + 1 FROM und e JOIN r ON e.u = r.node
      WHERE r.d < $BfsHops)
    SELECT node, CAST(min(d) AS BIGINT) AS dist FROM r
    GROUP BY node ORDER BY node ASC NULLS FIRST"""

  private val CloseHops = 3
  private val CloseScale = 1000000L

  /** K-SOURCE BOUNDED-RADIUS CLOSENESS CENTRALITY (round 17) — the
    * centrality the pack's BFS/SSSP machinery was missing: for each of the
    * 10 smallest node ids (a fixed-k deterministic seed sample — k is
    * what bounds the cost, independent of scale), the size of its
    * [[CloseHops]]-ball, the sum
    * of hop distances inside it, and closeness = n_reached / Σd in ppm
    * SCALED INTEGER (`div` ↔ `//`) — the H-bounded form large-graph
    * practice actually computes (exact closeness needs a full BFS per
    * node; the bounded ball is the production estimator, and within the
    * ball every reported distance is exact). All sources advance in ONE
    * shared frontier frame (source, node), so k sources cost one
    * synchronized BFS, not k traversals — the multi-source discipline of
    * [[graphBfs]] with the seen-set anti-join per round.
    *
    * Scale: each round shuffles the frontier×edges equi-join on node id;
    * frontier rows are bounded by |sources|·|ball|; rounds are bounded by
    * the radius. The oracle is one recursive CTE capped at d < H with a
    * min-dist collapse — over-unrolling is harmless on both sides. */
  private def graphCloseness(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und = coPurchaseUnd(spark, sfDir)
    val start = Rounds.cut(smallestNodes(und, 10)
      .select($"node".as("source"), $"node", lit(0L).as("d")))
    val levels = (1 to CloseHops).foldLeft(Vector(start)) { (levels, k) =>
      val seen = levels.map(_.select($"source", $"node")).reduce(_ union _)
      // Explicit broadcasts (optimization round 19): frontier and seen
      // are |sources|·|ball| rows BY CONSTRUCTION — without the hints the
      // statistics-free leaves planned as sort-merge joins that shuffled
      // and re-sorted the edge leaf every round (the graphBfs rationale,
      // applied here). Unbounded-radius callers drop the hints and the
      // same plan degrades to shuffled equi-joins.
      levels :+ Rounds.cut(
        broadcast(levels.last.select($"source", $"node".as("u")))
          .join(und, Seq("u"))
          .select($"source", $"v".as("node")).distinct()
          .join(broadcast(seen), Seq("source", "node"), "left_anti")
          .select($"source", $"node", lit(k.toLong).as("d")))
    }
    levels.reduce(_ union _)
      .filter($"d" > 0)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_reached"), sum($"d").as("dist_sum"))
      .select($"source".as("custkey"), $"n_reached", $"dist_sum",
        expr(s"n_reached * $CloseScale div dist_sum").as("closeness_ppm"))
      .orderBy($"custkey".asc_nulls_first)
  }

  private val graphClosenessOracle = s"""
    WITH RECURSIVE $coPurchaseEdgesCtes,
    und AS (SELECT a AS u, b AS v FROM edges
            UNION ALL SELECT b, a FROM edges),
    seeds AS (
      SELECT node FROM (SELECT DISTINCT u AS node FROM und)
      ORDER BY node ASC LIMIT 10),
    r(source, node, d) AS (
      SELECT node, node, 0 FROM seeds
      UNION
      SELECT r.source, e.v, r.d + 1
      FROM und e JOIN r ON e.u = r.node
      WHERE r.d < $CloseHops),
    md AS (
      SELECT source, node, min(d) AS d FROM r GROUP BY source, node)
    SELECT source AS custkey,
      CAST(count(*) AS BIGINT) AS n_reached,
      CAST(sum(d) AS BIGINT) AS dist_sum,
      CAST(count(*) * $CloseScale // sum(d) AS BIGINT) AS closeness_ppm
    FROM md WHERE d > 0
    GROUP BY source
    ORDER BY custkey ASC NULLS FIRST"""

  private val BetHops = 3
  private val BetScale = 1000000L // dependency 1.0 == 10^6 (ppm)

  /** K-SOURCE APPROXIMATE BETWEENNESS CENTRALITY (round 18; r17 VERDICT
    * task 2) — Brandes' partial-dependency accumulation from the same
    * fixed-k deterministic seed contract as [[graphCloseness]] (the 10
    * smallest node ids; fixed k bounds the cost independent of scale),
    * radius-bounded at [[BetHops]] — the k-source H-bounded estimator
    * large-graph practice runs, since exact betweenness is Θ(|V|·|E|).
    * Forward: one SHARED (source, node) BFS frontier carrying σ = the
    * number of shortest paths (σ_k(v) = Σ_{u ∈ layer k−1, u−v} σ(u),
    * aggregated BEFORE the seen-set anti-join so every parent
    * contributes), per-round [[graft.Rounds]] cuts — k sources cost one
    * synchronized BFS, not k traversals. Backward: the dependency
    * recurrence δ(v) = Σ_{w ∈ succ(v)} σ(v)/σ(w) · (1 + δ(w)) unrolled
    * layer by layer in the pack's SCALED-INTEGER contract — the per-edge
    * term is `(σ_v · (10⁶ + δ_w)) div σ_w` (Spark `div` ↔ DuckDB `//`,
    * every division integral), so the result is engine-exact where float
    * Brandes would diverge in summation order. BFS layers are exactly
    * the shortest-path DAG (an edge v→w with d(w) = d(v)+1 is a DAG
    * edge, and every DAG edge within the ball has that form), so the
    * successor join needs no extra structure. Output: every node within
    * distance 1..H−1 of any seed with its accumulated dependency in ppm
    * (layer-H nodes have δ = 0 by the radius bound and seeds accumulate
    * only as non-sources, the Brandes v ≠ s convention).
    *
    * Int64-safe BY STRUCTURE: σ_v ≤ σ_w on any DAG edge (σ_w sums over
    * all its parents, v included), so each term ≤ 10⁶ + δ_w and
    * δ_k(v) ≤ deg_v · (10⁶ + max δ_{k+1}) — at H = 3 the worst product
    * σ·(10⁶+δ) is bounded by deg²·10⁶·(1+deg), under 10¹⁶ for degrees
    * to 10⁴ (co-purchase degrees are hundreds).
    *
    * Scale: the forward pass is [[graphCloseness]]'s frontier economics
    * (|sources|·|ball| rows, never |V|²); the backward pass is one
    * equi-join per layer between adjacent BFS levels over the memoized
    * edge leaf — all shuffles keyed (source, node). */
  private def graphBetweenness(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und = coPurchaseUnd(spark, sfDir)
    val start = Rounds.cut(smallestNodes(und, 10)
      .select($"node".as("source"), $"node", lit(1L).as("sigma")))
    val levels = (1 to BetHops).foldLeft(Vector(start)) { (levels, _) =>
      val seen = levels.map(_.select($"source", $"node")).reduce(_ union _)
      // Explicit broadcasts (optimization round 19): the frontier and the
      // seen set are |sources|·|ball|-bounded — the graphCloseness
      // rationale; the edge leaf is never shuffled by the forward pass.
      levels :+ Rounds.cut(
        broadcast(levels.last.select($"source", $"node".as("u"), $"sigma"))
          .join(und, Seq("u"))
          .groupBy($"source", $"v".as("node"))
          .agg(sum($"sigma").as("sigma"))
          .join(broadcast(seen), Seq("source", "node"), "left_anti"))
    }
    // Backward accumulation, layer H-1 down to 1; δ at layer H is 0.
    val deltaH = levels(BetHops)
      .select($"source", $"node", lit(0L).as("delta"))
    val deltas = ((BetHops - 1) to 1 by -1).foldLeft(Vector(deltaH)) { (deltas, k) =>
      val cur = levels(k)
      // Backward pass broadcasts (optimization round 19): every frame
      // here is a |sources|·|ball|-bounded BFS layer — the edge leaf is
      // probed in place, never shuffled or sorted.
      val succ = levels(k + 1)
        .select($"source", $"node".as("w"), $"sigma".as("sigma_w"))
        .join(broadcast(deltas.last.select($"source", $"node".as("w"),
          $"delta".as("delta_w"))), Seq("source", "w"))
      val contrib = broadcast(cur)
        .join(und.select($"u".as("node"), $"v".as("w")), Seq("node"))
        .join(broadcast(succ), Seq("source", "w"))
        .groupBy($"source", $"node")
        .agg(sum(expr(s"(sigma * ($BetScale + delta_w)) div sigma_w"))
          .as("delta"))
      deltas :+ Rounds.cut(cur.select($"source", $"node")
        .join(broadcast(contrib), Seq("source", "node"), "left")
        .select($"source", $"node", coalesce($"delta", lit(0L)).as("delta")))
    }
    deltas.tail.reduce(_ unionByName _)
      .groupBy($"node")
      .agg(sum($"delta").as("bet_ppm"))
      .select($"node".as("custkey"), $"bet_ppm")
      .orderBy($"custkey".asc_nulls_first)
  }

  private val graphBetweennessOracle: String = {
    // Unrolled forward layers l1..lH with seen-set NOT EXISTS per layer,
    // then the backward layers as contribution/left-join CTE pairs —
    // stated in exactly the Spark evaluation order so every integral
    // division grades bit-equal.
    val fwd = (1 to BetHops).map { k =>
      val seen = (0 until k).map(j =>
        s"""NOT EXISTS (SELECT 1 FROM l$j p
           WHERE p.source = c.source AND p.node = c.node)""").mkString(" AND ")
      s"""l$k AS (
      SELECT source, node, CAST(sum(sigma) AS BIGINT) AS sigma FROM (
        SELECT l.source, e.v AS node, l.sigma
        FROM und e JOIN l${k - 1} l ON e.u = l.node) c
      WHERE $seen
      GROUP BY source, node)"""
    }.mkString(",\n    ")
    val dH = s"""d$BetHops AS (
      SELECT source, node, CAST(0 AS BIGINT) AS delta FROM l$BetHops)"""
    val bwd = ((BetHops - 1) to 1 by -1).map { k =>
      s"""c$k AS (
      SELECT l.source, l.node,
        CAST(sum((l.sigma * ($BetScale + d.delta)) // w.sigma) AS BIGINT)
          AS delta
      FROM l$k l
      JOIN und e ON e.u = l.node
      JOIN l${k + 1} w ON w.source = l.source AND w.node = e.v
      JOIN d${k + 1} d ON d.source = w.source AND d.node = w.node
      GROUP BY 1, 2),
    d$k AS (
      SELECT l.source, l.node,
        CAST(coalesce(c.delta, 0) AS BIGINT) AS delta
      FROM l$k l LEFT JOIN c$k c
        ON c.source = l.source AND c.node = l.node)"""
    }.mkString(",\n    ")
    val layers = (1 until BetHops)
      .map(k => s"SELECT * FROM d$k").mkString(" UNION ALL ")
    s"""
    WITH $coPurchaseEdgesCtes,
    und AS (SELECT a AS u, b AS v FROM edges
            UNION ALL SELECT b, a FROM edges),
    seeds AS (
      SELECT node FROM (SELECT DISTINCT u AS node FROM und)
      ORDER BY node ASC LIMIT 10),
    l0 AS (SELECT node AS source, node, CAST(1 AS BIGINT) AS sigma
           FROM seeds),
    $fwd,
    $dH,
    $bwd
    SELECT node AS custkey, CAST(sum(delta) AS BIGINT) AS bet_ppm
    FROM ($layers) d
    GROUP BY node
    ORDER BY custkey ASC NULLS FIRST"""
  }

  private val SsspCap = 12L

  /** BOUNDED-RADIUS WEIGHTED SHORTEST PATHS (round 13 batch 10) — the
    * weighted companion of [[graphBfs]]: minimum total edge weight from
    * the graph's minimum node id to every node whose distance is at most
    * [[SsspCap]] (the "Dijkstra ball" under cost features and weighted
    * neighborhood sampling). Weights are deterministic positive integers
    * derived from the endpoints, w = 1 + (u+v) mod 7, symmetric by
    * construction, so the same text grades on both engines; the cost cap
    * (not a hop cap) both bounds the oracle's recursion states to
    * |V|·(cap+1) pairs and makes the semantics exact: within the ball the
    * reported distance IS the true shortest distance (any path leaving
    * the cap exceeds it — weights are ≥ 1).
    *
    * DELTA-FRONTIER Bellman-Ford over the memoized edge leaf: each round
    * relaxes ONLY the nodes whose distance improved last round (the
    * [[graphBfs]] frontier discipline — re-relaxing settled nodes cannot
    * produce new minima), caps candidates at the radius, keeps the
    * per-node min, and merges improvements into the distance table via
    * one full-outer coalesce; convergence is ONE Long action per round
    * (the [[propagateMinLabels]] contract) and is guaranteed in at most
    * `cap` rounds since weights are ≥ 1 (the [[graft.Rounds]] bound of
    * `cap + 1` rounds, the last one empty, can never trip). Frontier and
    * distance tables are cut per round — later rounds otherwise re-embed
    * the whole prefix plan. The frontier broadcast is small BY CONSTRUCTION
    * (a bounded ball); dropping the hint degrades gracefully to a
    * shuffled equi-join at unbounded scale.
    */
  private def graphSssp(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val undW = coPurchaseUnd(spark, sfDir)
      .select($"u", $"v", (lit(1L) + pmod($"u" + $"v", lit(7L))).as("w"))
    val start = Rounds.cut(undW.agg(min($"u").as("node"))
      .select($"node", lit(0L).as("d")))
    val ((ball, _), _) = Rounds.fixpoint("sssp", (start, start),
        SsspCap.toInt + 1) { case (dist, frontier) =>
      val improved = Rounds.cut(broadcast(frontier.as("f"))
        .join(undW.as("e"), $"f.node" === $"e.u")
        .select($"e.v".as("node"), ($"f.d" + $"e.w").as("d"))
        .filter($"d" <= SsspCap)
        .groupBy($"node").agg(min($"d").as("d"))
        // shuffle_hash hints (optimization round 19): dist/improved are
        // |reached|-row statistics-free checkpoint leaves — unhinted
        // planning sort-merged these per-round joins.
        .join(dist.withColumnRenamed("d", "d_old").hint("shuffle_hash"),
          Seq("node"), "left_outer")
        .filter($"d_old".isNull || $"d" < $"d_old")
        .select($"node", $"d"))
      if (improved.count() == 0L) ((dist, frontier), false)
      else {
        // Merge as union + min, not full-outer + coalesce (optimization
        // round 19, guide §2.4): `improved` rows are STRICTLY better than
        // any existing entry (the filter above guarantees d < d_old or the
        // node is new), so min over the union IS the coalesce semantics —
        // one hash aggregate instead of a two-sided join (one exchange
        // fewer per round, and map-side partial min combines first).
        val merged = Rounds.cut(dist.unionByName(improved)
          .groupBy($"node").agg(min($"d").as("d")))
        ((merged, improved), true)
      }
    }
    ball.select($"node", $"d".as("dist")).orderBy($"node".asc_nulls_first)
  }

  private val graphSsspOracle = s"""
    WITH RECURSIVE $coPurchaseEdgesCtes,
    und AS (SELECT a AS u, b AS v FROM edges
            UNION ALL SELECT b, a FROM edges),
    undw AS (SELECT u, v, 1 + (u + v) % 7 AS w FROM und),
    r(node, d) AS (
      SELECT (SELECT min(u) FROM und), CAST(0 AS BIGINT)
      UNION
      SELECT e.v, r.d + e.w FROM undw e JOIN r ON e.u = r.node
      WHERE r.d + e.w <= $SsspCap)
    SELECT node, CAST(min(d) AS BIGINT) AS dist FROM r
    GROUP BY node ORDER BY node ASC NULLS FIRST"""

  /** MINIMUM SPANNING FOREST via Borůvka (round 13 batch 22) — the
    * clustering/backbone primitive SQL engines lack: every component
    * repeatedly adopts its minimum-weight OUTGOING edge, components merge
    * through the two-star labeler, and with DISTINCT edge weights the
    * result is the unique MSF in O(log n) rounds. Weights are made
    * total-ordered by construction: wkey = baseW·2⁴² + min(u,v)·2²¹ +
    * max(u,v) with baseW = 1 + (u+v) mod 7 — node ids are guarded < 2²¹
    * with a raise_error branch (the q_stat_gini pattern), so the
    * composite can never collide and the forest is deterministic.
    * Capability-only by declaration (an MSF has no tractable relational
    * oracle); the spec verifies EXACT equality against an in-memory
    * Kruskal at two SFs plus the forest invariant edges = nodes −
    * components.
    *
    * Scale: contraction rounds keep the edge list at COMPONENT
    * granularity — each round is ONE map-side-combined min(struct)
    * aggregation per component (wkey is unique, so the struct order is
    * total; never a window sort over skewed component partitions), a
    * broadcast relabel that DROPS now-intra edges, and merge bookkeeping
    * that is a bounded collect + union-find once components fit the
    * driver bound (identical min-root labels to the two-star labeler,
    * which handles the above-bound rounds at true scale). The tail —
    * ≤ TailComps components — reduces to the min edge per component PAIR
    * (only pair minima can enter the MSF), a constant-bounded collect
    * finished by Kruskal. Fixture retimes: 19 s (window + per-round
    * two-star) → 9 s (min-struct) → ~4 s steady (driver merge maps).
    */
  private def graphMst(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val edgesW = Rounds.cut(coPurchaseUnd(spark, sfDir)
      .select($"u", $"v",
        when(greatest($"u", $"v") >= (1L << 21), raise_error(lit(
          "graft q_graph_mst: node id >= 2^21 breaks the composite " +
            "weight key; widen the shifts with the id domain")))
          .otherwise((lit(1L) + pmod($"u" + $"v", lit(7L))) * (1L << 42) +
            least($"u", $"v") * (1L << 21) + greatest($"u", $"v"))
          .as("wkey")))
    // GRAPH CONTRACTION (perf form): the working edge list lives at
    // COMPONENT granularity and SHRINKS every round — after a merge, all
    // now-intra edges drop, so a dense graph collapses in 2-3 heavy
    // rounds instead of log(n) full-|E| passes (the first formulation
    // re-joined all |E| edges against node labels and re-ran two-star
    // over the whole forest every round: 19 s steady at sf0.1; this
    // shape retimes ~5x faster for the identical forest). Two-star runs
    // on the CHOSEN comp-level edges only; the comp mapping is
    // component-count-sized and broadcast.
    // Hybrid finish: once contraction has shrunk the comp-level edge list
    // under a CONSTANT bound, the remaining merges complete driver-side
    // with a union-find Kruskal — geometric contraction guarantees O(1)
    // distributed rounds reach the bound at ANY scale, so the collect is
    // constant-bounded by construction (the approxQuantile/20-row-fixture
    // precedent, not a data-sized pull). Distinct weights make the hybrid
    // produce the identical unique MSF.
    val TailComps = 256L
    var nodeLbl = Rounds.cut(edgesW.select($"u".as("node")).distinct()
      .select($"node", $"node".as("comp")))
    var e = Rounds.cut(
      edgesW.select($"u".as("cu"), $"v".as("cv"), $"u", $"v", $"wkey"))
    var mst = Seq.empty[(Long, Long, Long)].toDF("u", "v", "wkey")
    // Min outgoing edge per component as ONE map-side-combined min(struct)
    // aggregation — wkey is unique, so the struct order is total; no window
    // sort over the (heavily skewed) comp partitions.
    def minOut(edges: DataFrame): DataFrame = Rounds.cut(edges.groupBy($"cu")
      .agg(min(struct($"wkey", $"u", $"v", $"cv")).as("m"))
      .select($"cu", $"m.wkey".as("wkey"), $"m.u".as("u"),
        $"m.v".as("v"), $"m.cv".as("cv")))
    // Component counting (optimization round 19, guide §2.4): `chosen` has
    // EXACTLY one row per component with an outgoing edge, and it is already
    // an eagerly materialized checkpoint leaf — its count() IS
    // countDistinct(cu) for free (a scan of cached blocks, no shuffle),
    // where the old loop paid a full distinct-aggregate shuffle + action
    // over the edge list every round on top of the min-struct aggregate.
    // Cost: one minOut aggregate computed at the exit round that the tail
    // does not consume — strictly cheaper than one distinct-agg per round.
    var chosen = minOut(e)
    var comps = chosen.count()
    // Deferred node relabeling (optimization round 20, guide §2.4; the
    // r19 VERDICT's ranked task 7): nodeLbl is only CONSUMED after the
    // loop, and on the driver path every round's comp mapping is already
    // a collected driver map — so the per-round mappings COMPOSE in one
    // persistent union-find and nodeLbl is relabeled ONCE at the end
    // (one broadcast join + checkpoint total, instead of one |V|-row
    // join + checkpoint per round). A two-star fallback round cannot be
    // composed driver-side: it flushes the pending composition first,
    // then relabels distributedly exactly as before.
    val merged = new MinRootUnionFind
    def flushNodeRelabel(): Unit = {
      val m = merged.nodes.toArray.map(c => (c, merged.find(c)))
        .filter(kv => kv._1 != kv._2).toSeq
      if (m.nonEmpty)
        nodeLbl = Rounds.cut(nodeLbl
          .join(broadcast(m.toDF("comp", "newc")), Seq("comp"), "left")
          .select($"node", coalesce($"newc", $"comp").as("comp")))
      merged.clear()
    }
    while (comps > TailComps) {
      // No per-round checkpoint on the accumulator (optimization round
      // 19): `chosen` is already a checkpoint leaf, so the union's
      // lineage is flat by construction — the old per-round
      // localCheckpoint re-materialized the whole accumulated forest
      // every round for nothing.
      mst = mst.unionByName(
        chosen.select(least($"u", $"v").as("u"),
          greatest($"u", $"v").as("v"), $"wkey").distinct())
      // Merge bookkeeping: the chosen graph has ONE row per component, so
      // once comps fit the driver bound the round mapping is a bounded
      // collect + union-find (min-root labels — identical to two-star's
      // min-label contract); above the bound the distributed two-star
      // labeler does the same job. At fixture scale every round takes the
      // driver path (the two-star-per-round form cost 9-19 s steady).
      val MergeBound = 65536L
      val mapping = (if (comps <= MergeBound) {
        // Driver path: merge this round's chosen pairs into the
        // PERSISTENT union-find (min-root labels, identical to
        // two-star's contract); the edge relabel below uses the current
        // roots, nodeLbl waits for the composed flush.
        val pairs = chosen.select($"cu", $"cv").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        pairs.foreach { case (a, b) => merged.union(a, b) }
        // A LocalRelation needs no checkpoint — both broadcast probes
        // below embed the literal rows directly.
        pairs.flatMap(p => Seq(p._1, p._2)).distinct.toSeq
          .map(c => (c, merged.find(c))).filter(kv => kv._1 != kv._2)
          .toDF("comp", "newc")
      } else {
        flushNodeRelabel()
        val (cl, _) = twoStarLabels(spark,
          chosen.select($"cu".as("u"), $"cv".as("v")))
        val m = Rounds.cut(cl.select($"node".as("comp"), $"lbl".as("newc")))
        nodeLbl = Rounds.cut(nodeLbl.join(broadcast(m), Seq("comp"), "left")
          .select($"node", coalesce($"newc", $"comp").as("comp")))
        m
      })
      e = Rounds.cut(e
        .join(broadcast(mapping.select($"comp".as("cu"),
          $"newc".as("ncu"))), Seq("cu"), "left")
        .join(broadcast(mapping.select($"comp".as("cv"),
          $"newc".as("ncv"))), Seq("cv"), "left")
        .select(coalesce($"ncu", $"cu").as("cu"),
          coalesce($"ncv", $"cv").as("cv"), $"u", $"v", $"wkey")
        .filter($"cu" =!= $"cv"))
      chosen = minOut(e)
      comps = chosen.count()
    }
    if (comps > 0L) {
      // Tail: at most TailComps components remain, so the min-edge-per-
      // comp-PAIR reduction is bounded by TailComps^2 rows (only the min
      // edge of a pair can enter the MSF) — a constant-bounded collect
      // (the approxQuantile precedent), finished with union-find Kruskal.
      val tail = e.groupBy($"cu", $"cv")
        .agg(min(struct($"wkey", $"u", $"v")).as("m"))
        .select($"cu", $"cv", $"m.u".as("u"), $"m.v".as("v"),
          $"m.wkey".as("wkey"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .sortBy(_._5)
      // Kruskal over the persistent union-find: tail cu/cv are CURRENT
      // comp ids (e is relabeled every round), i.e. roots of — or fresh
      // to — the union-find, so seeding the tail with the pending loop
      // merges changes nothing and lets ONE flush relabel nodeLbl for
      // loop + tail together.
      val picked = tail.collect {
        case (cu, cv, u, v, w) if merged.union(cu, cv) =>
          (math.min(u, v), math.max(u, v), w)
      }
      if (picked.nonEmpty)
        mst = Rounds.cut(mst.unionByName(picked.toSeq.toDF("u", "v", "wkey")))
    }
    flushNodeRelabel()
    val lbl = nodeLbl
    val nodes = lbl.groupBy($"comp").agg(count(lit(1)).as("n_nodes"))
    val eAgg = mst
      .join(lbl.select($"node".as("u"), $"comp"), Seq("u"))
      .groupBy($"comp")
      .agg(count(lit(1)).as("n_edges"),
        sum(expr(s"wkey div ${1L << 42}")).as("tot_w"))
    nodes.join(eAgg, Seq("comp"), "left")
      .select($"comp", $"n_nodes",
        coalesce($"n_edges", lit(0L)).as("n_edges"),
        coalesce($"tot_w", lit(0L)).cast("long").as("tot_w"))
      .orderBy($"comp".asc_nulls_first)
  }

  private val PrIters = 5
  private val PrScale = 1000000000L // rank 1.0 == 10^9

  /** Fixed-iteration PageRank (damping 0.85, 5 iterations) over the
    * co-purchase graph in SCALED INTEGER arithmetic: ranks live as
    * rank×10^9 BIGINTs and every division is integral (`div` ↔ DuckDB `//`),
    * so the result is engine-exact — float PageRank would diverge across
    * engines in summation order. The whole computation is ONE declarative
    * plan (no driver actions): 5 unrolled join+aggregate rounds over the
    * cached edge/degree tables, each a hash shuffle on node id.
    */
  private def pagerank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Memoized checkpoint leaf: all 5 unrolled iterations reference this
    // table, and with plain caching each reference would re-embed the whole
    // edge-build lineage in the (already deep) plan — a leaf keeps plan size
    // and codegen linear in the iteration count (the components-lineage
    // lesson applied statically).
    val und = coPurchaseUnd(spark, sfDir)
    // A memo leaf, not per-invocation .cache(): the degree table is a
    // persistent graph leaf shared across invocations (PPR builds the
    // identical frame), where a bare cache leaked blocks for the
    // application lifetime.
    val deg = degrees(spark, sfDir)
    var pr = deg.select($"node", lit(PrScale).as("pr"))
    // Stays ONE declarative 5-iteration plan deliberately: a mid-loop
    // localCheckpoint leaf was measured (r7) at 6.2 s cold / 1.7-2.2 steady
    // vs 3.5 / 1.2 for the unrolled chain — the blocking materialization
    // costs more than the codegen depth it saves at this graph size.
    for (_ <- 1 to PrIters) {
      // shuffle_hash hints (optimization round 19): the |V|-row rank
      // frame is a statistics-free subtree — unhinted planning
      // sort-merged it against the edge leaf every unrolled iteration.
      val contrib = pr.hint("shuffle_hash").join(deg, Seq("node"))
        .select($"node".as("u"), expr("pr div deg").as("c"))
      pr = und.join(contrib.hint("shuffle_hash"), Seq("u"))
        .groupBy($"v".as("node"))
        .agg(sum($"c").as("sumc"))
        .select($"node",
          (lit(PrScale * 15 / 100) + expr("(85 * sumc) div 100")).as("pr"))
    }
    pr.select($"node".as("custkey"), $"pr")
      .orderBy($"custkey".asc_nulls_first)
  }

  private val PprIters = 4
  private val PprScale = 1000000000L // mass 1.0 == 10^9
  private val PprSeedMod = 20L // seeds: custkey % 20 == 1 (~5% of nodes)

  /** PERSONALIZED PAGERANK / random-walk-with-restart (round 17; r16
    * VERDICT task 6) — the seeded variant of [[pagerank]] and the
    * recommendation primitive the marketing pack consumes (co-purchase
    * neighborhoods around a seed segment): restart mass returns to the
    * SEED SET each iteration instead of spreading uniformly, so rank
    * concentrates in the seeds' neighborhoods and nodes outside the
    * 4-hop horizon simply have no row. ppr_i(v) = [v ∈ seeds]·0.15 +
    * 0.85·Σ_{u→v} ppr_{i-1}(u)/deg(u), [[PprIters]] iterations in the
    * pack's SCALED-INTEGER contract (mass×10⁹ BIGINTs, every division
    * integral `div` ↔ DuckDB `//`), so the result is engine-exact.
    * The per-iteration restart+inflow combine is a UNION-then-sum (one
    * hash agg on node) rather than an outer join — both engines state it
    * identically.
    *
    * Scale: same shape as pagerank — unrolled join+aggregate rounds over
    * the memoized degree/edge leaves, each a hash shuffle on node id;
    * the frontier starts at |seeds| and grows only into the reachable
    * neighborhood, so early rounds shuffle a small fraction of the
    * graph (the whole point of seeded walks at 100 TB). */
  private def graphPpr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und = coPurchaseUnd(spark, sfDir)
    val deg = degrees(spark, sfDir)
    val seeds = Memo.leaf(spark, sfDir, "pprSeeds")(
      deg.filter(pmod($"node", lit(PprSeedMod)) === 1L).select($"node"))
    val base = seeds.select($"node", lit(PprScale * 15 / 100).as("t"))
    var pr = seeds.select($"node", lit(PprScale).as("pr"))
    // One declarative unrolled plan, the pagerank precedent: pr_{i-1} is
    // referenced exactly once per round, so plan growth stays linear.
    for (_ <- 1 to PprIters) {
      // shuffle_hash hints (optimization round 19): the |seeds|-reach
      // score frame is a statistics-free subtree — unhinted planning
      // sort-merged it against the edge leaf every round.
      val contrib = pr.hint("shuffle_hash").join(deg, Seq("node"))
        .select($"node".as("u"), expr("pr div deg").as("c"))
      val inflow = und.join(contrib.hint("shuffle_hash"), Seq("u"))
        .groupBy($"v".as("node"))
        .agg(sum($"c").as("sumc"))
        .select($"node", expr("(85 * sumc) div 100").as("t"))
      pr = base.unionByName(inflow)
        .groupBy($"node").agg(sum($"t").as("pr"))
    }
    pr.select($"node".as("custkey"), $"pr")
      .orderBy($"custkey".asc_nulls_first)
  }

  private val graphPprOracle: String = {
    val restart = PprScale * 15 / 100
    val iters = (1 to PprIters).map { k =>
      s"""it$k AS (
      SELECT node, CAST(sum(t) AS BIGINT) AS pr FROM (
        SELECT node, CAST($restart AS BIGINT) AS t FROM seeds
        UNION ALL
        SELECT e.v AS node,
               (85 * CAST(sum(p.pr // d.deg) AS BIGINT)) // 100 AS t
        FROM und e
        JOIN it${k - 1} p ON e.u = p.node
        JOIN deg d ON d.node = p.node
        GROUP BY e.v) u$k
      GROUP BY node)"""
    }.mkString(",\n    ")
    s"""
    WITH $coPurchaseEdgesCtes,
    und AS (SELECT a AS u, b AS v FROM edges
            UNION ALL SELECT b, a FROM edges),
    deg AS (SELECT u AS node, count(*) AS deg FROM und GROUP BY u),
    seeds AS (SELECT node FROM deg WHERE node % $PprSeedMod = 1),
    it0 AS (SELECT node, CAST($PprScale AS BIGINT) AS pr FROM seeds),
    $iters
    SELECT node AS custkey, pr FROM it$PprIters
    ORDER BY custkey ASC NULLS FIRST"""
  }

  private val HitsIters = 3
  private val HitsScale = 1000000000L // score 1.0 == 10^9

  /** HITS HUBS & AUTHORITIES (round 16) — the directed-endorsement
    * counterpart to [[pagerank]]: auth(v) = Σ_{u→v} hub(u), hub(u) =
    * Σ_{u→v} auth(v), over the canonically ORIENTED co-purchase graph
    * (each a<b edge directed low→high key — a deterministic DAG
    * orientation, so hubs and authorities genuinely separate instead of
    * mirroring each other as they would on a symmetric graph). Fixed
    * [[HitsIters]] iterations in SCALED INTEGER arithmetic with an
    * integral MAX-normalization after every half-round: k = max(s) div
    * [[HitsScale]] + 1, s ← s div k — all `div` ↔ `//` mirrored, so the
    * result is engine-exact (float HITS diverges across engines in
    * summation order, and UN-normalized integer HITS overflows int64 at
    * degree^(2·iters)). Int64-safe for degree ≤ ~10⁹ by construction:
    * each half-round sums ≤ deg values each ≤ [[HitsScale]].
    *
    * Scale: the same shape as pagerank — unrolled join+aggregate rounds
    * over the cached oriented edge table, each a hash shuffle on node
    * id; the normalization is a 1-row broadcast aggregate per
    * half-round (the scalar-subquery pattern).
    */
  private def graphHits(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Memo leaves, not per-invocation .cache(): the oriented edge/node
    // projections are persistent graph leaves like coPurchaseUnd itself,
    // where a bare cache would leak blocks for the application lifetime.
    val edges = Memo.leaf(spark, sfDir, "hitsEdges")(
      coPurchaseUnd(spark, sfDir)
        .filter($"u" < $"v").select($"u".as("src"), $"v".as("dst")))
    val nodes = Memo.leaf(spark, sfDir, "hitsNodes")(
      edges.select($"src".as("node")).union(edges.select($"dst")).distinct())
    def normalize(df: DataFrame): DataFrame = {
      // MATERIALIZE the half-round before the normalizer aggregate (the
      // HNSW-beam lesson): the k-branch and the next round's join would
      // otherwise each re-execute the whole chain above this point —
      // with 6 half-rounds that lazy re-execution is exponential
      // (measured 62 s vs sub-second materialized at sf0.1). Each
      // checkpoint is a bounded |nodes|-row job.
      val cp = Rounds.cut(df)
      // Integral `div`, never a double division + cast: a float quotient
      // landing one ulp above an integer boundary would truncate to a
      // different k than the oracle's `//`.
      val k = cp.agg(max($"s").as("mx"))
        .select((expr(s"mx div $HitsScale") + 1L).as("k"))
      cp.crossJoin(broadcast(k)).select($"node", expr("s div k").as("s"))
    }
    var hub = nodes.select($"node", lit(HitsScale).as("s"))
    var auth = hub
    // shuffle_hash hints (optimization round 19): the |V|-row score
    // frames are statistics-free checkpoint leaves — unhinted planning
    // sort-merged each half-round, re-sorting the edge leaf six times.
    for (_ <- 1 to HitsIters) {
      auth = normalize(edges
        .join(hub.select($"node".as("src"), $"s".as("hs"))
          .hint("shuffle_hash"), Seq("src"))
        .groupBy($"dst".as("node")).agg(sum($"hs").as("s")))
      hub = normalize(edges
        .join(auth.select($"node".as("dst"), $"s".as("as"))
          .hint("shuffle_hash"), Seq("dst"))
        .groupBy($"src".as("node")).agg(sum($"as").as("s")))
    }
    nodes
      .join(hub.select($"node", $"s".as("hub")), Seq("node"), "left")
      .join(auth.select($"node", $"s".as("auth")), Seq("node"), "left")
      .select($"node".as("custkey"),
        coalesce($"hub", lit(0L)).as("hub"),
        coalesce($"auth", lit(0L)).as("auth"))
      .orderBy($"custkey".asc_nulls_first)
  }

  private val graphHitsOracle: String = {
    val halfRounds = (1 to HitsIters).flatMap { i =>
      Seq(
        s"""a${i}r AS (
      SELECT e.dst AS node, CAST(sum(h.s) AS BIGINT) AS s
      FROM e JOIN h${i - 1} h ON e.src = h.node GROUP BY e.dst),
    a${i}k AS (SELECT (max(s) // $HitsScale) + 1 AS k FROM a${i}r),
    a$i AS (SELECT node, CAST(s // k AS BIGINT) AS s FROM a${i}r, a${i}k)""",
        s"""h${i}r AS (
      SELECT e.src AS node, CAST(sum(a.s) AS BIGINT) AS s
      FROM e JOIN a$i a ON e.dst = a.node GROUP BY e.src),
    h${i}k AS (SELECT (max(s) // $HitsScale) + 1 AS k FROM h${i}r),
    h$i AS (SELECT node, CAST(s // k AS BIGINT) AS s FROM h${i}r, h${i}k)""")
    }.mkString(",\n    ")
    s"""
    WITH $coPurchaseEdgesCtes,
    e AS (SELECT a AS src, b AS dst FROM edges),
    nodes AS (SELECT DISTINCT src AS node FROM e
              UNION SELECT DISTINCT dst FROM e),
    h0 AS (SELECT node, CAST($HitsScale AS BIGINT) AS s FROM nodes),
    $halfRounds
    SELECT n.node AS custkey,
      CAST(coalesce(h.s, 0) AS BIGINT) AS hub,
      CAST(coalesce(a.s, 0) AS BIGINT) AS auth
    FROM nodes n
    LEFT JOIN h$HitsIters h ON h.node = n.node
    LEFT JOIN a$HitsIters a ON a.node = n.node
    ORDER BY custkey ASC NULLS FIRST"""
  }

  private val pagerankOracle: String = {
    val base = PrScale * 15 / 100
    val iters = (1 to PrIters).map { k =>
      s"""it$k AS (
      SELECT e.v AS node,
             $base + (85 * CAST(sum(p.pr // d.deg) AS BIGINT)) // 100 AS pr
      FROM und e
      JOIN it${k - 1} p ON e.u = p.node
      JOIN deg d ON d.node = p.node
      GROUP BY e.v)"""
    }.mkString(",\n    ")
    s"""
    WITH $coPurchaseEdgesCtes,
    und AS (SELECT a AS u, b AS v FROM edges
            UNION ALL SELECT b, a FROM edges),
    deg AS (SELECT u AS node, count(*) AS deg FROM und GROUP BY u),
    it0 AS (SELECT node, CAST($PrScale AS BIGINT) AS pr FROM deg),
    $iters
    SELECT node AS custkey, pr FROM it$PrIters
    ORDER BY custkey ASC NULLS FIRST"""
  }

  /** K-core decomposition at k=3 (added round 10; ORACLE-CHECKED since
    * round 14, r13 VERDICT task 5) — iterative peeling: repeatedly remove
    * nodes of degree < k until fixpoint; what remains is the 3-core, the
    * dense backbone community detection and spam-graph pruning start
    * from. The k-core is UNIQUE regardless of peel order, so the result
    * is deterministic. Iterative deletion is non-monotone (a plain
    * recursive CTE cannot express it), but the SYNCHRONIZED peel is a
    * bounded iteration: the oracle unrolls [[KcoreUnroll]] rounds as
    * chained CTEs (extra rounds past convergence are identity — the peel
    * converges in ≤ 8 rounds at every graded SF, probed round 14), and
    * the Spark loop raises loudly if a graph ever needs more rounds than
    * the oracle models, instead of silently diverging. The in-memory peel
    * spec (Round10BSpec) still pins the semantics independently.
    *
    * Loop shape mirrors [[propagateMinLabels]]: per round ONE degree
    * aggregation and one broadcast anti-join of the edge list against the
    * (small by construction — it only holds the nodes peeled THIS round)
    * victim set, a [[graft.Rounds]] cut per round, and the driver only
    * ever sees whether the victim set is empty.
    */
  private val KcoreUnroll = 12

  private def graphKcore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val K = 3L
    // KcoreUnroll peels plus the empty round that sees the fixpoint; a
    // graph that needs more must widen KcoreUnroll and the oracle together.
    val (core, _) = Rounds.fixpoint("k-core peel", coPurchaseUnd(spark, sfDir),
        KcoreUnroll + 1) { g =>
      val victims = g.groupBy($"u").agg(count(lit(1)).as("deg"))
        .filter($"deg" < K).select($"u")
      if (victims.isEmpty) (g, false)
      else (Rounds.cut(g.join(broadcast(victims), Seq("u"), "left_anti")
        .join(broadcast(victims.select($"u".as("v"))), Seq("v"), "left_anti")
        .select($"u", $"v")), true)
    }
    core.groupBy($"u".as("custkey")).agg(count(lit(1)).as("core_degree"))
      .orderBy($"custkey".asc_nulls_first)
  }

  /** Synchronized-peel oracle: KcoreUnroll chained rounds, each removing
    * every node of current degree < 3 from both edge endpoints — identity
    * once converged, so any unroll ≥ the true peel depth is exact. */
  private val kcoreOracle: String = {
    // AS MATERIALIZED: each round references the previous three times
    // (scan + two NOT IN probes) — inlined, the chain would re-expand the
    // base scan 3^rounds times and exhaust file handles.
    val rounds = (1 to KcoreUnroll).map { i =>
      s"""vic$i AS MATERIALIZED (
      SELECT u FROM und${i - 1} GROUP BY u HAVING count(*) < 3),
    und$i AS MATERIALIZED (
      SELECT u, v FROM und${i - 1}
      WHERE u NOT IN (SELECT u FROM vic$i)
        AND v NOT IN (SELECT u FROM vic$i))"""
    }.mkString(",\n    ")
    s"""
    WITH $coPurchaseEdgesCtes,
    und0 AS MATERIALIZED (
      SELECT a AS u, b AS v FROM edges
      UNION ALL SELECT b, a FROM edges),
    $rounds
    SELECT u AS custkey, count(*) AS core_degree
    FROM und$KcoreUnroll GROUP BY u
    ORDER BY custkey ASC NULLS FIRST"""
  }

  /** Golden-record survivorship over the near-dup clusters (added round 10
    * batch 5) — the MDM step after entity resolution: q_dedup_clusters
    * says WHICH documents co-refer; this picks, per multi-member cluster,
    * the canonical record AND merges fields by per-field survivorship
    * rules that may choose DIFFERENT members (text holder = longest text,
    * doc_id tiebreak; source/lang = lexicographic min as the deterministic
    * "most authoritative" stand-in). Every rule is an exact comparison —
    * no scores, no floats — so the golden record is bit-deterministic.
    *
    * Scale: reuses the memoized label-propagation frame (one extra
    * consumer, zero extra graph work); the survivorship window partitions
    * by cluster (bounded by cluster size), and the field merges are plain
    * min/max aggregates on the same clustered shuffle.
    */
  private def erGolden(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val lbl = nearDupLabels(spark, sfDir)
    val w = Window.partitionBy($"component_id")
      .orderBy($"n_chars".desc, $"doc_id".asc)
    Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", $"n_chars", $"lang", $"source")
      .join(lbl.select($"node".as("doc_id"), $"lbl"), Seq("doc_id"), "left")
      .select($"doc_id", $"n_chars", $"lang", $"source",
        coalesce($"lbl", $"doc_id").as("component_id"))
      .withColumn("rn", row_number().over(w))
      .groupBy($"component_id")
      .agg(
        count(lit(1)).as("n_members"),
        max(when($"rn" === 1, $"doc_id")).as("golden_doc_id"),
        max(when($"rn" === 1, $"n_chars")).as("golden_chars"),
        min($"source").as("merged_source"),
        min($"lang").as("merged_lang"))
      .filter($"n_members" >= 2)
      .orderBy($"component_id".asc_nulls_first)
  }

  private val erGoldenOracle = s"""
    WITH RECURSIVE ${LlmPipeline.nearPairsCtes},
    edges AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.8),
    und AS (SELECT doc_a AS u, doc_b AS v FROM edges
            UNION ALL SELECT doc_b, doc_a FROM edges),
    reach(node, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM und)
      UNION
      SELECT e.u, reach.r FROM und e JOIN reach ON e.v = reach.node),
    comp0 AS (SELECT node, min(r) AS component_id FROM reach GROUP BY node),
    comp AS (
      SELECT d.doc_id, d.n_chars, d.lang, d.source,
             coalesce(c.component_id, d.doc_id) AS component_id
      FROM documents d LEFT JOIN comp0 c ON d.doc_id = c.node),
    ranked AS (
      SELECT comp.*, row_number() OVER (PARTITION BY component_id
        ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM comp)
    SELECT component_id, count(*) AS n_members,
      max(CASE WHEN rn = 1 THEN doc_id END) AS golden_doc_id,
      max(CASE WHEN rn = 1 THEN n_chars END) AS golden_chars,
      min(source) AS merged_source,
      min(lang) AS merged_lang
    FROM ranked
    GROUP BY component_id
    HAVING count(*) >= 2
    ORDER BY component_id ASC NULLS FIRST"""

  /** The composed DEDUP ENDGAME in one graded entry (added round 11): the
    * four stage handoffs a real corpus run chains —
    *
    *   1. CANDIDATES: banded-minhash pairs over the shared signature leaf
    *      ([[LlmPipeline.mhCandidates]] ← mhDocs leaf ← shingle leaf);
    *   2. VERIFY: exact Jaccard >= 0.8 on candidates only
    *      ([[LlmPipeline.mhVerifiedPairs]]);
    *   3. COMPONENTS: min-label propagation over the verified edges,
    *      memoized as its own leaf (pipelineLabels);
    *   4. SURVIVORSHIP: keep the min-id doc per component; per-survivor
    *      member/char bookkeeping + the strongest in-component similarity.
    *
    * The oracle is the COMPOSED recursive-CTE form over the EXACT pair
    * set (the q_dedup_near CTEs + recursive reachability + survivor
    * stats) — so the hash match grades the banded candidates' recall
    * end-to-end: a single missed >= 0.8 pair would change the components
    * and fail the gate (16 one-row bands: miss probability per true pair
    * <= 0.2^16 ≈ 7e-12, and deterministic per fixture).
    *
    * Scale: every stage is the declared 100 TB shape — bounded (band,
    * sig) buckets, candidate-only exact verify, checkpointed label
    * propagation, one survivor aggregation; no all-pairs work anywhere.
    */
  private def dedupPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = LlmPipeline.mhVerifiedPairs(spark, sfDir)
    val und = pairs
      .select(explode(array(
        struct($"doc_a".as("u"), $"doc_b".as("v")),
        struct($"doc_b".as("u"), $"doc_a".as("v")))).as("e"))
      .select($"e.u".as("u"), $"e.v".as("v"))
    val lbl = Memo.leaf(spark, sfDir, "pipelineLabels")(
      propagateMinLabels(spark, und))
    val members = lbl.select($"node".as("doc_id"), $"lbl".as("survivor_id"))
      .join(Catalog.load(spark, sfDir, "documents")
        .select($"doc_id", $"n_chars"), Seq("doc_id"))
    val stats = members.groupBy($"survivor_id")
      .agg(
        count(lit(1)).as("n_members"),
        (count(lit(1)) - 1).as("n_dropped"),
        min(when($"doc_id" === $"survivor_id", $"n_chars")).as("chars_kept"),
        coalesce(sum(when($"doc_id" =!= $"survivor_id", $"n_chars")),
          lit(0L)).as("chars_dropped"))
    val strongest = pairs
      .join(lbl.select($"node".as("doc_a"), $"lbl".as("survivor_id")),
        Seq("doc_a"))
      .groupBy($"survivor_id")
      .agg(round(max($"jaccard"), 4).as("max_jaccard"))
    stats.join(strongest, Seq("survivor_id"))
      .orderBy($"survivor_id".asc_nulls_first)
  }

  private val dedupPipelineOracle = s"""
    WITH RECURSIVE ${LlmPipeline.nearPairsCtes},
    edges AS (SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.8),
    und AS (SELECT doc_a AS u, doc_b AS v FROM edges
            UNION ALL SELECT doc_b, doc_a FROM edges),
    reach(node, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM und)
      UNION
      SELECT e.u, reach.r FROM und e JOIN reach ON e.v = reach.node),
    comp AS (SELECT node, min(r) AS survivor_id FROM reach GROUP BY node),
    m AS (
      SELECT c.node AS doc_id, c.survivor_id, d.n_chars
      FROM comp c JOIN documents d ON d.doc_id = c.node),
    stats AS (
      SELECT survivor_id, count(*) AS n_members, count(*) - 1 AS n_dropped,
        min(CASE WHEN doc_id = survivor_id THEN n_chars END) AS chars_kept,
        coalesce(CAST(sum(CASE WHEN doc_id <> survivor_id THEN n_chars END)
          AS BIGINT), 0) AS chars_dropped
      FROM m GROUP BY survivor_id),
    strongest AS (
      SELECT c.survivor_id, round(max(e.jaccard), 4) AS max_jaccard
      FROM edges e JOIN comp c ON c.node = e.doc_a
      GROUP BY c.survivor_id)
    SELECT survivor_id, n_members, n_dropped, chars_kept, chars_dropped,
      max_jaccard
    FROM stats JOIN strongest USING (survivor_id)
    ORDER BY survivor_id ASC NULLS FIRST"""

  /** Local clustering-coefficient DISTRIBUTION over the co-purchase graph
    * (added round 11): cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) for every
    * node of degree ≥ 2, bucketed into ten bins — the standard
    * small-world / community-structure profile, and a second consumer of
    * the memoized per-node triangle leaf (the salted wedge join runs
    * once, shared with q_graph_triangles). Integer numerators and
    * denominators make every cc the same IEEE division cross-engine; the
    * bin edge at cc = 1.0 clamps into the top bin.
    */
  private def graphClusteringCoeff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und = coPurchaseUnd(spark, sfDir)
    val deg = und.groupBy($"u".as("node")).agg(count(lit(1)).as("deg"))
    val cc = deg.filter($"deg" >= 2)
      .join(triPerNode(spark, sfDir), Seq("node"), "left")
      .select($"node", $"deg",
        coalesce($"n_triangles", lit(0L)).as("t"))
      .withColumn("cc",
        (lit(2.0) * $"t") / ($"deg" * ($"deg" - 1L)))
    cc.groupBy(least(floor($"cc" * 10), lit(9.0)).cast("long").as("cc_bin"))
      .agg(count(lit(1)).as("n_nodes"), sum($"t").as("sum_triangles"))
      .orderBy($"cc_bin".asc_nulls_first)
  }

  private val graphClusteringCoeffOracle = s"""
    WITH $coPurchaseEdgesCtes,
    tri AS (
      SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
      FROM edges e1
      JOIN edges e2 ON e1.b = e2.a
      JOIN edges e3 ON e1.a = e3.a AND e2.b = e3.b),
    per_node AS (
      SELECT node, count(*) AS n_triangles FROM (
        SELECT n1 AS node FROM tri
        UNION ALL SELECT n2 FROM tri
        UNION ALL SELECT n3 FROM tri)
      GROUP BY node),
    deg AS (
      SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
      GROUP BY node),
    cc AS (
      SELECT d.node, d.deg, coalesce(p.n_triangles, 0) AS t,
        (2.0 * coalesce(p.n_triangles, 0)) / (d.deg * (d.deg - 1)) AS cc
      FROM deg d LEFT JOIN per_node p ON d.node = p.node
      WHERE d.deg >= 2)
    SELECT CAST(least(floor(cc * 10), 9.0) AS BIGINT) AS cc_bin,
      count(*) AS n_nodes, CAST(sum(t) AS BIGINT) AS sum_triangles
    FROM cc
    GROUP BY 1
    ORDER BY cc_bin ASC NULLS FIRST"""

  private val LpaRounds = 3

  /** LABEL-PROPAGATION COMMUNITIES over the co-purchase graph (added
    * round 12 batch 5) — the near-linear community detector every graph
    * stack ships next to components/pagerank: [[LpaRounds]] SYNCHRONOUS
    * rounds, each node adopting the most frequent label among its
    * neighbors with a fully deterministic tie (count DESC, label ASC —
    * async/random-order LPA is not oracle-able, the synchronous
    * fixed-round form is, the pagerank precedent). Labels start as node
    * ids; output = per-community size + min member.
    *
    * Scale: each round is ONE equi-join of the undirected edge leaf with
    * the |V|-row label frame (shuffled hash — the label side is |V| rows
    * with no leaf statistics, so unhinted planning fell to a sort-merge
    * that re-sorted the edge list every round) + one (node, label)-keyed
    * count + a per-node `max_by` argmax (optimization round 19: the
    * row_number window this replaces sorted every (node, label, c) row
    * per round; the aggregate form is sort-free, map-side combinable,
    * and picks the identical label — max over the total order
    * (c, −label) = count DESC then label ASC, unique per node because
    * labels are distinct within a node's group). Label frames are a
    * [[graft.Rounds]] cut per round. Pure integer counting — no float
    * parity risk.
    */
  private def labelPropagation(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und = coPurchaseUnd(spark, sfDir)
    val start = Rounds.cut(und.select($"u".as("node")).distinct()
      .select($"node", $"node".as("lbl")))
    val labels = (1 to LpaRounds).foldLeft(start) { (labels, _) =>
      Rounds.cut(und
        .join(labels.select($"node".as("nbr"), $"lbl").hint("shuffle_hash"),
          $"v" === $"nbr")
        .select($"u".as("node"), $"lbl")
        .groupBy($"node", $"lbl").agg(count(lit(1)).as("c"))
        .groupBy($"node")
        .agg(max_by($"lbl", struct($"c", -$"lbl")).as("lbl"))
        .select($"node", $"lbl"))
    }
    labels.groupBy($"lbl".as("community"))
      .agg(count(lit(1)).as("n_members"), min($"node").as("min_node"))
      .orderBy($"community".asc_nulls_first)
  }

  private val labelPropagationOracle = {
    def round(r: Int) = s"""
    cnt$r AS (
      SELECT u.u AS node, l.lbl, count(*) AS c
      FROM und u JOIN l${r - 1} l ON u.v = l.node
      GROUP BY 1, 2),
    l$r AS (
      SELECT node, lbl FROM (
        SELECT node, lbl, row_number() OVER
          (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
        FROM cnt$r) WHERE rn = 1)"""
    val rounds = (1 to LpaRounds).map(round).mkString(",")
    s"""
    WITH $coPurchaseEdgesCtes,
    und AS (
      SELECT a AS u, b AS v FROM edges
      UNION ALL
      SELECT b AS u, a AS v FROM edges),
    l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM und),
    $rounds
    SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
      min(node) AS min_node
    FROM l$LpaRounds
    GROUP BY lbl
    ORDER BY community ASC NULLS FIRST"""
  }

  private val WalkSteps = 8
  private val WalkSeeds = 20
  private val WalkA = 1103515245L // the suite LCG (see VectorServe planes)
  private val WalkC = 12345L
  private val WalkM = 2147483648L // 2^31

  /** DETERMINISTIC RANDOM-WALK CORPUS for graph embeddings (round 18;
    * r17 VERDICT task 4) — the DeepWalk/node2vec bridge between the
    * graph pack and the vector/similarity pack: the (walk_id, step,
    * node) sequences a skip-gram embedder would consume, emitted as a
    * graded frame. One walk per seed (the [[WalkSeeds]] smallest node
    * ids — the fixed-k closeness/betweenness seed contract),
    * [[WalkSteps]] steps, RESTART discipline from [[graphPpr]]: a step
    * returns to its seed with probability 1/5 (random-walk-with-restart,
    * the PPR-sampling link), otherwise moves to a uniformly-chosen
    * neighbor. All randomness is the suite's LCG — state s ← (A·s + C)
    * mod 2³¹ seeded from the node id, restart test s mod 5 = 0, neighbor
    * pick = rank (s mod deg)+1 in the (v ASC) row_number order of the
    * adjacency leaf — pure integer recurrences, so DuckDB replays the
    * walks EXACTLY via the same unrolled arithmetic (async/sampled walks
    * are not oracle-able; LCG walks are, the pack's exactness
    * discipline). Int64-safe: A·s < 2³¹·2³¹ · ~0.51 ≈ 2.4·10¹⁸.
    *
    * Scale: the walk frame is |seeds| rows — INDEPENDENT of graph size —
    * and each step is one equi-join of that tiny frame against the
    * memoized ranked-adjacency leaf on (u, rn) (broadcast probe side at
    * any scale); the ranked leaf itself is the one per-node window sort,
    * built once. At 100 TB: walks × steps is the product you choose,
    * never a function of |E|. */
  private def graphWalks(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und = coPurchaseUnd(spark, sfDir)
    val adj = walkAdj(spark, sfDir)
    val deg = degrees(spark, sfDir)
    val start = Rounds.cut(smallestNodes(und, WalkSeeds)
      .select($"node".as("walk_id"), lit(0L).as("step"), $"node",
        expr(s"($WalkA * node + $WalkC) % $WalkM").as("state")))
    val all = (1 to WalkSteps).foldLeft(Vector(start)) { (all, k) =>
      // Explicit broadcast of the |walks|-row frame (optimization round
      // 19): without it the no-statistics RDD leaves planned as
      // sort-merge, which AQE only repaired AFTER materializing a full
      // shuffle write of the adjacency leaf EVERY STEP (the executed
      // plan showed Exchange hashpartitioning(u, rn) per step). The walk
      // frame is |seeds| rows BY CONSTRUCTION — broadcast at any scale;
      // with graph-scale walk counts drop the hint and the same plan
      // degrades to the shuffled equi-join.
      val p = broadcast(all.last.select($"walk_id", $"node",
          expr(s"($WalkA * state + $WalkC) % $WalkM").as("ns")))
        .join(deg, Seq("node"))
      // Inner join on the ranked neighbor is total (rn ∈ [1, deg] by
      // construction); the restart CASE just ignores the picked v.
      all :+ Rounds.cut(broadcast(p)
        .join(adj, p("node") === adj("u") &&
          adj("rn") === (pmod($"ns", $"deg") + 1))
        .select($"walk_id", lit(k.toLong).as("step"),
          when(pmod($"ns", lit(5L)) === 0L, $"walk_id").otherwise($"v")
            .as("node"),
          $"ns".as("state")))
    }
    all.map(_.select($"walk_id", $"step", $"node"))
      .reduce(_ unionByName _)
      .orderBy($"walk_id".asc_nulls_first, $"step".asc_nulls_first)
  }

  private val graphWalksOracle: String = {
    val steps = (1 to WalkSteps).map { k =>
      s"""w$k AS (
      SELECT p.walk_id, CAST($k AS BIGINT) AS step,
        CASE WHEN p.ns % 5 = 0 THEN p.walk_id ELSE a.v END AS node,
        p.ns AS state
      FROM (SELECT walk_id, node,
              ($WalkA * state + $WalkC) % $WalkM AS ns FROM w${k - 1}) p
      JOIN degt d ON d.node = p.node
      JOIN adj a ON a.u = p.node AND a.rn = (p.ns % d.deg) + 1)"""
    }.mkString(",\n    ")
    val union = (0 to WalkSteps)
      .map(k => s"SELECT walk_id, step, node FROM w$k")
      .mkString(" UNION ALL ")
    s"""
    WITH $coPurchaseEdgesCtes,
    und AS (SELECT a AS u, b AS v FROM edges
            UNION ALL SELECT b, a FROM edges),
    adj AS (SELECT u, v,
              row_number() OVER (PARTITION BY u ORDER BY v ASC) AS rn
            FROM und),
    degt AS (SELECT u AS node, count(*) AS deg FROM und GROUP BY u),
    seeds AS (
      SELECT node FROM (SELECT DISTINCT u AS node FROM und)
      ORDER BY node ASC LIMIT $WalkSeeds),
    w0 AS (SELECT node AS walk_id, CAST(0 AS BIGINT) AS step, node,
             ($WalkA * node + $WalkC) % $WalkM AS state FROM seeds),
    $steps
    SELECT walk_id, step, node FROM ($union) w
    ORDER BY walk_id ASC NULLS FIRST, step ASC NULLS FIRST"""
  }

  // node2vec bias weights: return (v = prev) deterred at 1, a common
  // neighbor of prev at 4, a distance-2 explore at 16 — i.e. p = 4,
  // q = 1/4, the DFS-leaning operating point; all-integer so the
  // weighted choice is exact.
  private val N2vReturn = 1L
  private val N2vCommon = 4L
  private val N2vFar = 16L

  /** SECOND-ORDER BIASED WALKS — node2vec (round 18) — the (p,q)-biased
    * sibling of [[graphWalks]], which completes the DeepWalk/node2vec
    * pair: from step 2 on, the next hop is drawn from the current
    * node's neighbors with weights keyed by their relation to the
    * PREVIOUS node (return / common-neighbor / distance-2, the
    * [[N2vReturn]]/[[N2vCommon]]/[[N2vFar]] integer grid), sampled by
    * inverse-CDF over the per-walk cumulative weights in (v ASC) order
    * with the suite LCG (idx = state mod Σw, pick the first candidate
    * whose running sum exceeds idx) — every ingredient integer, so the
    * oracle replays the biased choices EXACTLY via unrolled CTEs with
    * the same window cumsum. Step 1 has no previous node and draws
    * uniformly (the [[graphWalks]] ranked pick). No restart — the bias
    * replaces it.
    *
    * Scale: the per-step fan-out is |walks|·deg(cur) rows through one
    * equi-join on the edge leaf plus a per-walk window (never global);
    * the common-neighbor flag is one more edge-leaf equi-join keyed
    * (prev, v). Walk count is chosen, not data-sized. */
  private def graphWalksBiased(spark: SparkSession,
                               sfDir: String): DataFrame = {
    import spark.implicits._
    val und = coPurchaseUnd(spark, sfDir)
    val adj = walkAdj(spark, sfDir)
    val deg = degrees(spark, sfDir)
    val w0 = Rounds.cut(smallestNodes(und, WalkSeeds)
      .select($"node".as("walk_id"), lit(0L).as("step"), $"node",
        expr(s"($WalkA * node + $WalkC) % $WalkM").as("state")))
    // Step 1: uniform ranked pick (no previous node yet). Broadcasts as
    // in [[graphWalks]] (optimization round 19): the walk frame is
    // |seeds| rows by construction.
    val p1 = broadcast(w0.select($"walk_id", $"node",
        expr(s"($WalkA * state + $WalkC) % $WalkM").as("ns")))
      .join(deg, Seq("node"))
    val step1 = Rounds.cut(broadcast(p1)
      .join(adj, p1("node") === adj("u") &&
        adj("rn") === (pmod($"ns", $"deg") + 1))
      .select($"walk_id", lit(1L).as("step"), p1("node").as("prev"),
        $"v".as("node"), $"ns".as("state")))
    val steps = (2 to WalkSteps).foldLeft(Vector(step1)) { (steps, k) =>
      val p = steps.last.select($"walk_id", $"prev", $"node",
        expr(s"($WalkA * state + $WalkC) % $WalkM").as("ns"))
      // Per-step joins restructured to tiny-side broadcasts (optimization
      // round 19): the original (prev, v) LEFT join against the edge leaf
      // planned as a SortMergeJoin that SHUFFLED AND SORTED the full leaf
      // every step (executed plan: Exchange hashpartitioning(prev, v) +
      // Sort per step — two leaf shuffles per step with the candidate
      // join's). The common-neighbor flag is instead computed by fanning
      // the |walks|-row frame out to prev's neighbors (one broadcast
      // probe of the leaf, |walks|·deg(prev) rows) and broadcast-joining
      // THAT against the candidates on (walk_id, v) — per walk there is
      // ONE prev, and prev's neighbor list is distinct, so (walk_id, v)
      // matches exactly when (prev, v) is an edge: identical weights,
      // zero edge-leaf shuffles. Both broadcast frames are
      // |walks|·deg-sized by construction (walk count is chosen, not
      // data-sized).
      val cand = broadcast(p)
        .join(und.select($"u".as("node"), $"v"), Seq("node"))
      val pn = broadcast(p.select($"walk_id", $"prev"))
        .join(und.select($"u".as("prev"), $"v"), Seq("prev"))
        .select($"walk_id", $"v", lit(1L).as("pe"))
      val weighted = cand
        .join(broadcast(pn), Seq("walk_id", "v"), "left")
        .select($"walk_id", $"prev", $"node", $"v", $"ns",
          when($"v" === $"prev", N2vReturn)
            .when($"pe".isNotNull, N2vCommon)
            .otherwise(N2vFar).as("wt"))
      val ord = Window.partitionBy($"walk_id").orderBy($"v".asc)
      val tot = Window.partitionBy($"walk_id")
      steps :+ Rounds.cut(weighted
        .withColumn("cum", sum($"wt").over(ord))
        .withColumn("idx", pmod($"ns", sum($"wt").over(tot)))
        .filter($"idx" >= $"cum" - $"wt" && $"idx" < $"cum")
        .select($"walk_id", lit(k.toLong).as("step"),
          $"node".as("prev"), $"v".as("node"), $"ns".as("state")))
    }
    (w0 +: steps).map(_.select($"walk_id", $"step", $"node"))
      .reduce(_ unionByName _)
      .orderBy($"walk_id".asc_nulls_first, $"step".asc_nulls_first)
  }

  private val graphWalksBiasedOracle: String = {
    val steps = (2 to WalkSteps).map { k =>
      s"""c$k AS (
      SELECT p.walk_id, p.node AS cprev, a.v, p.ns,
        CASE WHEN a.v = p.prev THEN $N2vReturn
             WHEN e.u IS NOT NULL THEN $N2vCommon
             ELSE $N2vFar END AS wt
      FROM (SELECT walk_id, prev, node,
              ($WalkA * state + $WalkC) % $WalkM AS ns FROM w${k - 1}) p
      JOIN und a ON a.u = p.node
      LEFT JOIN und e ON e.u = p.prev AND e.v = a.v),
    s$k AS (
      SELECT walk_id, cprev, v, ns, wt,
        sum(wt) OVER (PARTITION BY walk_id ORDER BY v ASC) AS cum,
        sum(wt) OVER (PARTITION BY walk_id) AS tot
      FROM c$k),
    w$k AS (
      SELECT walk_id, CAST($k AS BIGINT) AS step, cprev AS prev,
        v AS node, ns AS state
      FROM s$k
      WHERE ns % tot >= cum - wt AND ns % tot < cum)"""
    }.mkString(",\n    ")
    val union = (0 to WalkSteps)
      .map(k => s"SELECT walk_id, step, node FROM w$k")
      .mkString(" UNION ALL ")
    s"""
    WITH $coPurchaseEdgesCtes,
    und AS MATERIALIZED (SELECT a AS u, b AS v FROM edges
            UNION ALL SELECT b, a FROM edges),
    adj AS (SELECT u, v,
              row_number() OVER (PARTITION BY u ORDER BY v ASC) AS rn
            FROM und),
    degt AS (SELECT u AS node, count(*) AS deg FROM und GROUP BY u),
    seeds AS (
      SELECT node FROM (SELECT DISTINCT u AS node FROM und)
      ORDER BY node ASC LIMIT $WalkSeeds),
    w0 AS (SELECT node AS walk_id, CAST(0 AS BIGINT) AS step,
             CAST(NULL AS BIGINT) AS prev, node,
             ($WalkA * node + $WalkC) % $WalkM AS state FROM seeds),
    w1 AS (
      SELECT p.walk_id, CAST(1 AS BIGINT) AS step, p.node AS prev,
        a.v AS node, p.ns AS state
      FROM (SELECT walk_id, node,
              ($WalkA * state + $WalkC) % $WalkM AS ns FROM w0) p
      JOIN degt d ON d.node = p.node
      JOIN adj a ON a.u = p.node AND a.rn = (p.ns % d.deg) + 1),
    $steps
    SELECT walk_id, step, node FROM ($union) w
    ORDER BY walk_id ASC NULLS FIRST, step ASC NULLS FIRST"""
  }

  private val LouvainRounds = 2

  /** Shared Louvain local-move phase (see [[graphLouvain]]); exposed for
    * the Round18Spec modularity-monotonicity and ≥-LPA assertions —
    * `rounds` lets the spec score each intermediate rung of the ascent.
    * The default-rounds result is a MEMO LEAF (round 19): three graded
    * queries (louvain / coarse / multi) build on the identical fine
    * partition, so the 2-round ascent runs once per (app, sfDir) — the
    * label-leaf policy q_graph_components already follows (the ascent's
    * last round is already cut, so the memo stores it as a value).
    * Explicit `rounds` calls (the spec's intermediate rungs) stay
    * un-memoized. */
  private[graft] def louvainLabels(spark: SparkSession, sfDir: String,
                                   rounds: Int = LouvainRounds): DataFrame =
    if (rounds == LouvainRounds)
      Memo(spark, sfDir, "louvainFine")(louvainLabelsPlan(spark, sfDir, rounds))
    else louvainLabelsPlan(spark, sfDir, rounds)

  private def louvainLabelsPlan(spark: SparkSession, sfDir: String,
                                rounds: Int): DataFrame = {
    import spark.implicits._
    val und = coPurchaseUnd(spark, sfDir)
    val deg = degrees(spark, sfDir)
    val vdim = und.agg(count(lit(1)).as("vol")) // = 2m, one broadcast row
    val start = Rounds.cut(und.select($"u".as("node")).distinct()
      .select($"node", $"node".as("lbl")))
    (1 to rounds).foldLeft(start) { (labels, _) =>
      val dtot = labels.join(deg, Seq("node"))
        .groupBy($"lbl".as("c")).agg(sum($"deg").as("dtot"))
      // Candidate communities = every neighbor's community plus the
      // node's own (k = 0 when no neighbor shares it); max(k) collapses
      // the duplicate own-row, since counts are >= 0.
      val nbr = und
        .join(labels.select($"node".as("v"), $"lbl".as("c")), Seq("v"))
        .groupBy($"u".as("node"), $"c").agg(count(lit(1)).as("k"))
      val cand = nbr
        .unionByName(labels.select($"node", $"lbl".as("c"),
          lit(0L).as("k")))
        .groupBy($"node", $"c").agg(max($"k").as("k"))
      val scored = cand
        .join(labels, Seq("node"))
        .join(deg, Seq("node"))
        .join(dtot, Seq("c"))
        .crossJoin(broadcast(vdim))
        // DOWNWARD-ONLY moves (c <= current label): the deterministic
        // symmetry-breaker synchronous local moves need — without it two
        // adjacent singletons SWAP labels every round (u adopts {v}, v
        // adopts {u}: a relabeled isomorphic partition, Q unchanged
        // forever — measured on the sf0.001 fixture: all 22 nodes moved,
        // Q frozen at the singleton value). Gating moves toward smaller
        // community ids means an edge's endpoints can never trade places
        // (only the larger-labeled side may move), merges are anchored at
        // min-ids (the propagateMinLabels discipline), and "stay" (c =
        // lbl) is always a candidate.
        .filter($"c" <= $"lbl")
        .select($"node", $"c",
          ($"vol" * $"k" - $"deg" *
            ($"dtot" - when($"c" === $"lbl", $"deg").otherwise(lit(0L))))
            .as("score"))
      val w = Window.partitionBy($"node").orderBy($"score".desc, $"c".asc)
      Rounds.cut(scored.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"node", $"c".as("lbl")))
    }
  }

  /** LOUVAIN-STYLE COMMUNITY DETECTION by modularity ascent (round 18;
    * r17 VERDICT task 3) — the community PRODUCER beside
    * [[labelPropagation]] (until now the only one; [[graphModularity]]
    * only SCORES a given partition): [[LouvainRounds]] SYNCHRONOUS
    * local-move rounds over the co-purchase graph, each node moving to
    * the candidate community (its neighbors' plus its own, gated
    * DOWNWARD-ONLY — c ≤ current label — the symmetry-breaker that kills
    * the synchronous label-swap oscillation; see [[louvainLabels]]) that
    * maximizes the modularity gain. The gain comparison runs in EXACT
    * integer arithmetic: with vol = 2m, moving u into community c scores
    * score(u,c) = vol·k_{u,c} − deg_u·(Σtot(c) − [c = lbl_u]·deg_u)
    * — the standard ΔQ numerator with u's own degree excluded from its
    * current community's mass (comparing "stay" and "move" on equal
    * footing), constant terms dropped since only the argmax matters.
    * Ties break (score DESC, c ASC), so the ascent is fully
    * deterministic — asynchronous sweep-order Louvain is not oracle-able;
    * the synchronous fixed-round form is (the [[labelPropagation]]
    * precedent). Labels start as node ids (every node its own
    * community). Output: per-community size, min member, intra-edge
    * count e_in and degree mass d_tot — the exact integer inputs of the
    * Newman Q this partition is optimizing, so the spec can assert
    * ascent monotonicity and Q(louvain) ≥ Q(label-prop) from the graded
    * frame's own columns. Int64-safe: vol·k ≤ 2m·deg and deg·Σtot ≤
    * deg·2m — both ≤ 2·10¹³ even at 10⁶ edges × 10⁴ degree.
    *
    * Scale: per round ONE |V|-row degree/label join (dtot), one
    * edge-leaf equi-join + (node, c) count (the LPA shuffle), and a
    * per-node argmax window (never global); the volume scalar rides a
    * 1-row broadcast. Everything keys on node or community id. */
  private def graphLouvain(spark: SparkSession, sfDir: String): DataFrame =
    communityRollup(spark, sfDir, louvainLabels(spark, sfDir))

  /** The Louvain output grain over node labels `(node, lbl)`: per
    * community its size, min member, intra-edge count e_in and degree mass
    * d_tot — the exact integer inputs of Newman Q. Shared by the fine,
    * coarse and multi-level rollups.
    */
  private def communityRollup(spark: SparkSession, sfDir: String,
                              labels: DataFrame): DataFrame = {
    import spark.implicits._
    val ein = coPurchaseUnd(spark, sfDir).filter($"u" < $"v")
      .join(labels.select($"node".as("u"), $"lbl".as("cu")), Seq("u"))
      .join(labels.select($"node".as("v"), $"lbl".as("cv")), Seq("v"))
      .filter($"cu" === $"cv")
      .groupBy($"cu".as("community")).agg(count(lit(1)).as("e_in"))
    labels.join(degrees(spark, sfDir), Seq("node"))
      .groupBy($"lbl".as("community"))
      .agg(count(lit(1)).as("n_members"), min($"node").as("min_node"),
        sum($"deg").as("d_tot"))
      .join(ein, Seq("community"), "left")
      .select($"community", $"n_members", $"min_node",
        coalesce($"e_in", lit(0L)).as("e_in"), $"d_tot")
      .orderBy($"community".asc_nulls_first)
  }

  /** The fine-level Louvain CTE chain (edges → und/deg/vol → l0 →
    * unrolled ascent rounds), shared by the fine and coarse oracles. */
  private val louvainFineCtes: String = {
    val rounds = (1 to LouvainRounds).map { r =>
      s"""dt$r AS (
      SELECT l.lbl AS c, CAST(sum(d.deg) AS BIGINT) AS dtot
      FROM l${r - 1} l JOIN deg d ON d.node = l.node GROUP BY 1),
    cand$r AS (
      SELECT node, c, CAST(max(k) AS BIGINT) AS k FROM (
        SELECT e.u AS node, l.lbl AS c, CAST(count(*) AS BIGINT) AS k
        FROM und e JOIN l${r - 1} l ON l.node = e.v GROUP BY 1, 2
        UNION ALL
        SELECT node, lbl AS c, CAST(0 AS BIGINT) FROM l${r - 1}) x
      GROUP BY node, c),
    sc$r AS (
      SELECT cd.node, cd.c,
        v.vol * cd.k - d.deg *
          (t.dtot - CASE WHEN cd.c = l.lbl THEN d.deg ELSE 0 END) AS score
      FROM cand$r cd
      JOIN l${r - 1} l ON l.node = cd.node
      JOIN deg d ON d.node = cd.node
      JOIN dt$r t ON t.c = cd.c
      CROSS JOIN vol v
      WHERE cd.c <= l.lbl),
    l$r AS MATERIALIZED (
      SELECT node, c AS lbl FROM (
        SELECT node, c, row_number() OVER
          (PARTITION BY node ORDER BY score DESC, c ASC) AS rn
        FROM sc$r) z WHERE rn = 1)"""
    }.mkString(",\n    ")
    // Label CTEs are MATERIALIZED (DuckDB keyword): each round references
    // its predecessor 4x and the coarse oracle references the final
    // labels 4x more — inlined, the chain re-evaluates multiplicatively
    // (measured 163 s at sf0.01 for the coarse oracle; sub-second
    // materialized).
    s"""$coPurchaseEdgesCtes,
    und AS MATERIALIZED (SELECT a AS u, b AS v FROM edges
            UNION ALL SELECT b, a FROM edges),
    deg AS (SELECT u AS node, count(*) AS deg FROM und GROUP BY u),
    vol AS (SELECT count(*) AS vol FROM und),
    l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM und),
    $rounds"""
  }

  private val graphLouvainOracle: String = s"""
    WITH $louvainFineCtes,
    ein AS (
      SELECT lu.lbl AS community, count(*) AS e_in
      FROM edges e
      JOIN l$LouvainRounds lu ON lu.node = e.a
      JOIN l$LouvainRounds lv ON lv.node = e.b
      WHERE lu.lbl = lv.lbl GROUP BY 1),
    base AS (
      SELECT l.lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
        min(l.node) AS min_node, CAST(sum(d.deg) AS BIGINT) AS d_tot
      FROM l$LouvainRounds l JOIN deg d ON d.node = l.node GROUP BY 1)
    SELECT b.community, b.n_members, b.min_node,
      CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in, b.d_tot
    FROM base b LEFT JOIN ein e ON e.community = b.community
    ORDER BY b.community ASC NULLS FIRST"""

  /** LOUVAIN PHASE 2 — GRAPH COARSENING + WEIGHTED ASCENT (round 18) —
    * the contraction step that makes Louvain LOUVAIN rather than one
    * local-move sweep: the fine partition's communities become
    * supernodes of a WEIGHTED community graph (inter-community edge
    * multiplicities as weights, weighted degree = the community's fine
    * degree mass — intra edges ride inside it), and one more
    * gain-maximizing move round runs at that level, where a single move
    * relocates a whole fine community at once. Same exact-integer gain,
    * deterministic ties and downward-only gating as [[louvainLabels]];
    * int64-safe since every product is ≤ (2m)². The final labels map
    * back through the fine partition, and the output is the same
    * rollup grain as [[graphLouvain]] so the two partitions compare
    * directly (spec: Q(coarse) ≥ Q(fine) as exact rationals).
    *
    * Scale: the coarse graph is |communities| nodes — orders of
    * magnitude smaller than |V| after phase 1 (the whole point of
    * contraction at 100 TB); building it is one label-decorated
    * edge-leaf pass, and the ascent round runs on community-sized
    * frames. */
  private def graphLouvainCoarse(spark: SparkSession,
                                 sfDir: String): DataFrame =
    communityRollup(spark, sfDir,
      Rounds.cut(louvainCoarseLabels(spark, sfDir)))

  /** One Louvain CONTRACTION + WEIGHTED-ASCENT level: contract the given
    * node-level partition into its weighted community graph (wdeg = the
    * community's fine degree mass, inter-community edge multiplicities as
    * weights) and run one gain-maximizing synchronous move round at the
    * supernode grain — same exact-integer gain, deterministic ties and
    * downward-only gating as [[louvainLabels]]. Returns the SUPERNODE
    * move frame (lbl → newlbl): community-sized, so callers can both map
    * labels back through it and count moved supernodes cheaply. */
  private def louvainAscentMoves(und: DataFrame, deg: DataFrame,
                                 labels: DataFrame): DataFrame = {
    import und.sparkSession.implicits._
    val vdim = und.agg(count(lit(1)).as("vol"))
    val wdeg = labels.join(deg, Seq("node"))
      .groupBy($"lbl".as("c")).agg(sum($"deg").as("wdeg"))
    val ce = und
      .join(labels.select($"node".as("u"), $"lbl".as("cu")), Seq("u"))
      .join(labels.select($"node".as("v"), $"lbl".as("cv")), Seq("v"))
      .filter($"cu" =!= $"cv")
      .groupBy($"cu".as("sn"), $"cv".as("c2")).agg(count(lit(1)).as("k"))
    val cand = ce
      .unionByName(wdeg.select($"c".as("sn"), $"c".as("c2"),
        lit(0L).as("k")))
      .groupBy($"sn", $"c2").agg(max($"k").as("k"))
    val scored = cand
      .join(wdeg.select($"c".as("sn"), $"wdeg"), Seq("sn"))
      .join(wdeg.select($"c".as("c2"), $"wdeg".as("dtot")), Seq("c2"))
      .crossJoin(broadcast(vdim))
      .filter($"c2" <= $"sn")
      .select($"sn", $"c2",
        ($"vol" * $"k" - $"wdeg" *
          ($"dtot" - when($"c2" === $"sn", $"wdeg").otherwise(lit(0L))))
          .as("score"))
    val w = Window.partitionBy($"sn").orderBy($"score".desc, $"c2".asc)
    scored.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"sn".as("lbl"), $"c2".as("newlbl"))
  }

  /** The coarse-refined node-level labels: contract the fine partition
    * into the weighted community graph, run one weighted ascent round,
    * map the moves back through the fine labels. Shared by the graded
    * rollup and the Round18Spec Q(coarse) ≥ Q(fine) assertion. */
  private[graft] def louvainCoarseLabels(spark: SparkSession,
                                         sfDir: String): DataFrame = {
    import spark.implicits._
    val und = coPurchaseUnd(spark, sfDir)
    val fine = louvainLabels(spark, sfDir)
    val deg = degrees(spark, sfDir)
    val mv = louvainAscentMoves(und, deg, fine)
    fine.join(mv, Seq("lbl")).select($"node", $"newlbl".as("lbl"))
  }

  private val graphLouvainCoarseOracle: String = s"""
    WITH $louvainFineCtes,
    wdeg AS (
      SELECT l.lbl AS c, CAST(sum(d.deg) AS BIGINT) AS wdeg
      FROM l$LouvainRounds l JOIN deg d ON d.node = l.node GROUP BY 1),
    ce AS (
      SELECT lu.lbl AS sn, lv.lbl AS c2, CAST(count(*) AS BIGINT) AS k
      FROM und e
      JOIN l$LouvainRounds lu ON lu.node = e.u
      JOIN l$LouvainRounds lv ON lv.node = e.v
      WHERE lu.lbl <> lv.lbl GROUP BY 1, 2),
    candc AS (
      SELECT sn, c2, CAST(max(k) AS BIGINT) AS k FROM (
        SELECT sn, c2, k FROM ce
        UNION ALL SELECT c, c, CAST(0 AS BIGINT) FROM wdeg) x
      GROUP BY 1, 2),
    scc AS (
      SELECT cd.sn, cd.c2,
        v.vol * cd.k - wu.wdeg *
          (wd.wdeg - CASE WHEN cd.c2 = cd.sn THEN wu.wdeg ELSE 0 END)
          AS score
      FROM candc cd
      JOIN wdeg wu ON wu.c = cd.sn
      JOIN wdeg wd ON wd.c = cd.c2
      CROSS JOIN vol v
      WHERE cd.c2 <= cd.sn),
    mv AS (
      SELECT sn AS lbl, c2 AS newlbl FROM (
        SELECT sn, c2, row_number() OVER
          (PARTITION BY sn ORDER BY score DESC, c2 ASC) AS rn
        FROM scc) z WHERE rn = 1),
    l3 AS MATERIALIZED (
      SELECT l.node, m.newlbl AS lbl
      FROM l$LouvainRounds l JOIN mv m ON m.lbl = l.lbl),
    einc AS (
      SELECT lu.lbl AS community, count(*) AS e_in
      FROM edges e
      JOIN l3 lu ON lu.node = e.a
      JOIN l3 lv ON lv.node = e.b
      WHERE lu.lbl = lv.lbl GROUP BY 1),
    basec AS (
      SELECT l.lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
        min(l.node) AS min_node, CAST(sum(d.deg) AS BIGINT) AS d_tot
      FROM l3 l JOIN deg d ON d.node = l.node GROUP BY 1)
    SELECT b.community, b.n_members, b.min_node,
      CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in, b.d_tot
    FROM basec b LEFT JOIN einc e ON e.community = b.community
    ORDER BY b.community ASC NULLS FIRST"""

  private val LouvainLevels = 3

  /** The multi-level node labels: the fine partition, then up to
    * [[LouvainLevels]] contraction + weighted-ascent levels
    * ([[louvainAscentMoves]]) with an EARLY EXIT when a level moves zero
    * supernodes. The exit is exact, not heuristic: downward-only gating
    * makes every node's label monotone non-increasing across levels, and
    * a zero-move level is a FIXED POINT (the next level sees identical
    * labels, hence identical wdeg/ce/scores, hence zero moves again) —
    * so exiting early yields bit-identical labels to running the full
    * cap, which is what lets the DuckDB oracle simply unroll all
    * [[LouvainLevels]] levels. The moved-count check is the documented
    * bounded-metadata pattern: one scalar count over the
    * community-sized move frame per level, never over nodes or edges.
    * Shared by the graded rollup and the Round19Spec per-level
    * monotonicity / fixed-point assertions. */
  private[graft] def louvainMultiLabels(spark: SparkSession, sfDir: String,
      levels: Int = LouvainLevels): DataFrame =
    // The converged default-cap labels are a memo leaf shared by the
    // multi rollup and the Leiden refinement (the louvainFine policy:
    // the last level is already cut, so the memo stores it as a value);
    // explicit `levels` calls (the spec's rungs) stay un-memoized.
    if (levels == LouvainLevels)
      Memo(spark, sfDir, "louvainMultiL")(
        louvainMultiLabelsPlan(spark, sfDir, levels))
    else louvainMultiLabelsPlan(spark, sfDir, levels)

  private def louvainMultiLabelsPlan(spark: SparkSession, sfDir: String,
                                     levels: Int): DataFrame = {
    import spark.implicits._
    val und = coPurchaseUnd(spark, sfDir)
    val deg = degrees(spark, sfDir)
    // The cap is a legitimate stop: the oracle unrolls exactly `levels`.
    Rounds.upTo(louvainLabels(spark, sfDir), levels) { labels =>
      val mv = Rounds.cut(louvainAscentMoves(und, deg, labels))
      val moved = !mv.filter($"newlbl" =!= $"lbl").isEmpty
      (Rounds.cut(labels.join(mv, Seq("lbl"))
        .select($"node", $"newlbl".as("lbl"))), moved)
    }._1
  }

  /** MULTI-LEVEL LOUVAIN TO CONVERGENCE (round 19; r18 VERDICT task 4) —
    * the full Louvain loop: after the fine synchronous ascent
    * ([[louvainLabels]]) the contraction + weighted-ascent level of
    * [[graphLouvainCoarse]] ITERATES — each level re-contracts the
    * current partition into its weighted community graph and runs one
    * more gain-maximizing move round at the supernode grain — until a
    * level moves nothing (ΔQ = 0 exactly, and permanently: labels are
    * monotone non-increasing under the downward-only gate, so a
    * zero-move level is a fixed point) or the [[LouvainLevels]] cap is
    * hit. Same exact-integer gain arithmetic, deterministic (score DESC,
    * c ASC) ties and downward-only gating at every level, so the whole
    * descent-to-convergence is bit-deterministic and the oracle unrolls
    * the levels as MATERIALIZED CTE chains (fixed-point levels replay as
    * no-ops, which is why the unroll and the early exit agree). Output:
    * the same rollup grain as [[graphLouvain]]/[[graphLouvainCoarse]]
    * (per-community size, min member, intra-edge count, degree mass —
    * the exact integer inputs of Newman Q), so the three partitions
    * compare directly; Round19Spec pins per-level Q monotonicity,
    * Q(multi) ≥ Q(coarse), and the fixed point (one more level at the
    * converged labels changes nothing).
    *
    * Scale: each level's frames are COMMUNITY-sized (the whole point of
    * contraction at 100 TB — level 1 already shrinks sf0.01 from 412 to
    * 228 supernodes) except the one label-decorated edge-leaf pass per
    * level; the early exit caps wasted levels at one. */
  private def graphLouvainMulti(spark: SparkSession,
                                sfDir: String): DataFrame =
    communityRollup(spark, sfDir, louvainMultiLabels(spark, sfDir))

  /** One unrolled contraction + weighted-ascent level of the multi
    * oracle: reads node labels from CTE `$prev`, emits `lv$lvl`. Mirrors
    * [[louvainAscentMoves]] CTE-for-frame; the label CTE is MATERIALIZED
    * (each level references its predecessor 4x — the louvainFineCtes
    * multiplicative-replay lesson). */
  private def louvainLevelCtes(lvl: Int, prev: String): String = s"""
    wd$lvl AS (
      SELECT l.lbl AS c, CAST(sum(d.deg) AS BIGINT) AS wdeg
      FROM $prev l JOIN deg d ON d.node = l.node GROUP BY 1),
    ce$lvl AS (
      SELECT lu.lbl AS sn, lv.lbl AS c2, CAST(count(*) AS BIGINT) AS k
      FROM und e
      JOIN $prev lu ON lu.node = e.u
      JOIN $prev lv ON lv.node = e.v
      WHERE lu.lbl <> lv.lbl GROUP BY 1, 2),
    cm$lvl AS (
      SELECT sn, c2, CAST(max(k) AS BIGINT) AS k FROM (
        SELECT sn, c2, k FROM ce$lvl
        UNION ALL SELECT c, c, CAST(0 AS BIGINT) FROM wd$lvl) x
      GROUP BY 1, 2),
    sm$lvl AS (
      SELECT cd.sn, cd.c2,
        v.vol * cd.k - wu.wdeg *
          (wd.wdeg - CASE WHEN cd.c2 = cd.sn THEN wu.wdeg ELSE 0 END)
          AS score
      FROM cm$lvl cd
      JOIN wd$lvl wu ON wu.c = cd.sn
      JOIN wd$lvl wd ON wd.c = cd.c2
      CROSS JOIN vol v
      WHERE cd.c2 <= cd.sn),
    mvm$lvl AS (
      SELECT sn AS lbl, c2 AS newlbl FROM (
        SELECT sn, c2, row_number() OVER
          (PARTITION BY sn ORDER BY score DESC, c2 ASC) AS rn
        FROM sm$lvl) z WHERE rn = 1),
    lv$lvl AS MATERIALIZED (
      SELECT l.node, m.newlbl AS lbl
      FROM $prev l JOIN mvm$lvl m ON m.lbl = l.lbl)"""

  /** Fine chain + all unrolled contraction levels → lv$LouvainLevels
    * node labels; shared by the multi and refine oracles. */
  private val louvainMultiCtes: String = {
    val levels = (1 to LouvainLevels).map { lvl =>
      louvainLevelCtes(lvl, if (lvl == 1) s"l$LouvainRounds" else s"lv${lvl - 1}")
    }.mkString(",")
    s"$louvainFineCtes,$levels"
  }

  private val graphLouvainMultiOracle: String = s"""
    WITH $louvainMultiCtes,
    einm AS (
      SELECT lu.lbl AS community, count(*) AS e_in
      FROM edges e
      JOIN lv$LouvainLevels lu ON lu.node = e.a
      JOIN lv$LouvainLevels lv ON lv.node = e.b
      WHERE lu.lbl = lv.lbl GROUP BY 1),
    basem AS (
      SELECT l.lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
        min(l.node) AS min_node, CAST(sum(d.deg) AS BIGINT) AS d_tot
      FROM lv$LouvainLevels l JOIN deg d ON d.node = l.node GROUP BY 1)
    SELECT b.community, b.n_members, b.min_node,
      CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in, b.d_tot
    FROM basem b LEFT JOIN einm e ON e.community = b.community
    ORDER BY b.community ASC NULLS FIRST"""

  /** LEIDEN-STYLE CONNECTIVITY REFINEMENT (round 19) — the guarantee
    * Louvain famously lacks and Leiden's refinement phase restores
    * (Traag et al., 2019): a gain-maximizing local move can strand a
    * community INTERNALLY DISCONNECTED (at sf0.01 the converged multi
    * partition holds 25 disconnected communities hiding 61 extra
    * components), and every downstream consumer of "community" assumes
    * connectivity. The refinement: keep only INTRA-community edges,
    * label their connected components (per-community local CC — intra
    * edges never cross a community, so each community's components
    * resolve independently), and each community splits into its
    * true connected components (nodes with no intra edge become their
    * own singleton). Refined community id = min member node id.
    * Output: the shared louvain rollup grain over the refined labels,
    * so the split is visible against q_graph_louvain_multi row-for-row
    * (110 → 171 communities at sf0.01). Round19Spec pins the Leiden
    * invariant (every refined community is connected, brute-force BFS
    * check) and no-op correctness (a partition with no disconnected
    * community refines to itself as a set-of-sets, sf0.001).
    *
    * Scale: the intra-edge filter is one label-decorated edge-leaf
    * pass; component labeling is ONE community-keyed shuffle + a local
    * union-find per community (components are community-bounded by
    * construction — see the in-body scale note). */
  private def graphLouvainRefine(spark: SparkSession,
                                 sfDir: String): DataFrame = {
    import spark.implicits._
    val und = coPurchaseUnd(spark, sfDir)
    val deg = degrees(spark, sfDir)
    val lm = louvainMultiLabels(spark, sfDir)
    // shuffle_hash hints (optimization round 19, second pass): lm/refined/
    // deg are |V|-row statistics-free checkpoint leaves and ein is a
    // community-level aggregate — unhinted planning sort-merged all four
    // joins below (plans/r19/q_graph_louvain_refine_after.txt showed 4 SMJs
    // re-sorting the edge frame); hash builds are sort-free.
    val intra = und
      .join(lm.select($"node".as("u"), $"lbl".as("cu")).hint("shuffle_hash"),
        Seq("u"))
      .join(lm.select($"node".as("v"), $"lbl".as("cv")).hint("shuffle_hash"),
        Seq("v"))
      .filter($"cu" === $"cv" && $"u" < $"v")
      .select($"cu", $"u", $"v")
    // PER-COMMUNITY LOCAL CC (optimization round 20, guide §2.4; the r19
    // VERDICT's ranked task 1): the distributed two-star loop paid a
    // per-round constant — explode + 2 aggregates + 2 joins + distinct +
    // a convergence action — for O(log diameter) rounds over a frame
    // that communities already bound. Intra edges never cross a
    // community, so grouping them BY community puts every component's
    // edges in one task, where a union-find with min-root attachment
    // labels each node with its component minimum in ONE pass: one
    // keyed shuffle + zero driver actions replaces the whole loop
    // (steady 3.35-3.77 → see OPTIMIZATION_r20.md). Per-group memory is
    // one map entry per COMMUNITY MEMBER — bounded by the largest
    // community, the same bound the refinement contract itself states
    // (this is a local move over an already-clustered partition, not
    // the whole graph; a deployment with adversarially giant
    // communities would swap back to [[twoStarLabels]], whose
    // O(log n)-round kernel remains in place for the components/MST
    // family). Labels are order-independent (min of the component), so
    // the output is bit-identical to the two-star form — Round20PerfSpec
    // pins the equality on a multi-community graph and the DuckDB
    // oracle re-verified at 3 SFs.
    val prop = communityCcLabels(spark, intra)
    val refined = Rounds.cut(lm.select($"node")
      .join(prop.hint("shuffle_hash"), Seq("node"), "left")
      .select($"node", coalesce($"rl", $"node").as("lbl")))
    // The communityRollup grain, written out here because every join
    // below carries the shuffle_hash hints above.
    val edges = und.filter($"u" < $"v")
    val ein = edges
      .join(refined.select($"node".as("u"), $"lbl".as("cu"))
        .hint("shuffle_hash"), Seq("u"))
      .join(refined.select($"node".as("v"), $"lbl".as("cv"))
        .hint("shuffle_hash"), Seq("v"))
      .filter($"cu" === $"cv")
      .groupBy($"cu".as("community")).agg(count(lit(1)).as("e_in"))
    refined.join(deg.hint("shuffle_hash"), Seq("node"))
      .groupBy($"lbl".as("community"))
      .agg(count(lit(1)).as("n_members"), min($"node").as("min_node"),
        sum($"deg").as("d_tot"))
      .join(ein.hint("shuffle_hash"), Seq("community"), "left")
      .select($"community", $"n_members", $"min_node",
        coalesce($"e_in", lit(0L)).as("e_in"), $"d_tot")
      .orderBy($"community".asc_nulls_first)
  }

  /** Per-community local connected components (optimization round 20):
    * input (cu, u, v) intra-community edges (one direction suffices),
    * output (node, rl) with rl = min node id of the node's component.
    * One community-keyed shuffle; a min-root union-find labels each
    * group in memory (bounded by the largest community). Exposed
    * private[graft] for Round20PerfSpec's two-star equivalence pin.
    */
  private[graft] def communityCcLabels(spark: SparkSession,
                                       intra: DataFrame): DataFrame = {
    import spark.implicits._
    intra
      .select(intra("cu"), intra("u"), intra("v")).as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val uf = new MinRootUnionFind
        it.foreach { case (_, u, v) => uf.union(u, v) }
        uf.nodes.toArray.iterator.map(n => (n, uf.find(n)))
      }
      .toDF("node", "rl")
  }

  /** Union-find over node ids whose root is always its set's minimum id —
    * the min-label contract of every component labeler here (MST's driver
    * merges and Kruskal tail, [[communityCcLabels]]' per-community pass).
    */
  private final class MinRootUnionFind {
    private val parent = scala.collection.mutable.Map.empty[Long, Long]

    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }

    /** Attaches the larger root under the smaller one; false when `a` and
      * `b` were already in one set.
      */
    def union(a: Long, b: Long): Boolean = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      ra != rb
    }

    /** Every id seen by `find` or `union` since the last `clear`. */
    def nodes: Iterable[Long] = parent.keys

    def clear(): Unit = parent.clear()
  }

  /** Min-label propagation replays relationally as one recursive CTE
    * over the MATERIALIZED intra-edge set: seeds (node, node), a step
    * carries a label across an intra edge when it improves (lbl < v),
    * and the final label is the min per node — pair space is bounded by
    * Σ|community-component|², community-confined by construction. */
  private val graphLouvainRefineOracle: String = s"""
    WITH RECURSIVE $louvainMultiCtes,
    intra AS MATERIALIZED (
      SELECT lu.node AS u, lv.node AS v
      FROM und e
      JOIN lv$LouvainLevels lu ON lu.node = e.u
      JOIN lv$LouvainLevels lv ON lv.node = e.v
      WHERE lu.lbl = lv.lbl),
    rp(node, lbl) AS (
      SELECT node, node FROM lv$LouvainLevels
      UNION
      SELECT i.v, rp.lbl FROM intra i JOIN rp ON rp.node = i.u
      WHERE rp.lbl < i.v),
    ref AS MATERIALIZED (
      SELECT node, min(lbl) AS lbl FROM rp GROUP BY 1),
    einr AS (
      SELECT lu.lbl AS community, count(*) AS e_in
      FROM edges e
      JOIN ref lu ON lu.node = e.a
      JOIN ref lv ON lv.node = e.b
      WHERE lu.lbl = lv.lbl GROUP BY 1),
    baser AS (
      SELECT l.lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
        min(l.node) AS min_node, CAST(sum(d.deg) AS BIGINT) AS d_tot
      FROM ref l JOIN deg d ON d.node = l.node GROUP BY 1)
    SELECT b.community, b.n_members, b.min_node,
      CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in, b.d_tot
    FROM baser b LEFT JOIN einr e ON e.community = b.community
    ORDER BY b.community ASC NULLS FIRST"""

  /** RESOURCE-ALLOCATION link prediction (added round 12 batch 6) — the
    * Zhou–Lü–Zhang RA index next to the common-neighbor/Jaccard scores:
    * score(a,b) = Σ over shared neighbors z of 1/deg(z), down-weighting
    * hub-mediated wedges (a shared neighbor everyone touches predicts
    * nothing — the same reasoning as the degree cap, applied as a smooth
    * weight instead of a cutoff). Adamic–Adar's 1/ln(deg) weight would put
    * a transcendental in the score path; RA's 1/deg is the
    * integer-exact sibling — each neighbor's weight is 10^6 div deg(z)
    * in BIGINT (Spark `div` ↔ DuckDB `//`), so sums are engine-exact
    * ppm with no float parity risk, the pagerank precedent.
    *
    * Scale: the per-neighbor weight joins ONCE onto the undirected leaf
    * (|V|-row degree table, shuffled hash join), the wedge self-join is
    * the HOT-ONLY salted shuffle of [[commonNeighbors]] (optimization
    * round 19, guide §2.5: hub fan-out spread over 8 salt buckets for
    * neighbors above [[saltHotDeg]]'s threshold only — the blanket 8×|E|
    * build replication is gone; the non-hub slice is a plain equi-join
    * with fan-out bounded by the threshold), the non-edge filter is the
    * anti-join reusing the wedge (a,b) partitioning, and top-20 is a
    * TakeOrderedAndProject. No |E|-broadcast anywhere.
    */
  private def linkRa(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val S = 8
    val und = coPurchaseUnd(spark, sfDir)
    val deg = und.groupBy($"u".as("node")).agg(count(lit(1)).as("deg"))
    val edges = und.filter($"u" < $"v").select($"u".as("a"), $"v".as("b"))
    val hotB = graft.Dsl.gatedBroadcast(saltHotDeg(spark, sfDir, S))
    val weighted = und
      .join(deg.select($"node".as("v"), expr("1000000 div deg").as("w"))
        .hint("shuffle_hash"), Seq("v"))
    val wCold = weighted.join(hotB, Seq("v"), "left_anti")
    val wHot = weighted.join(hotB, Seq("v"), "left_semi")
    val undHot = und.join(hotB, Seq("v"), "left_semi")
    val undCold = und.join(hotB, Seq("v"), "left_anti")
    val pairCold = wCold.hint("shuffle_hash")
      .join(undCold.select($"u".as("u2"), $"v"), Seq("v"))
      .select($"u", $"u2", $"w")
    val probe = wHot.select($"u", $"v", $"w",
      pmod(xxhash64($"u"), lit(S.toLong)).as("salt"))
    val build = undHot.select($"u".as("u2"), $"v",
      explode(array((0 until S).map(i => lit(i.toLong)): _*)).as("salt"))
    val pairHot = probe.hint("shuffle_hash").join(build, Seq("v", "salt"))
      .select($"u", $"u2", $"w")
    val pairs = pairCold.unionByName(pairHot)
      .filter($"u" < $"u2")
      .select($"u".as("a"), $"u2".as("b"), $"w")
      .groupBy($"a", $"b")
      .agg(sum($"w").as("ra_ppm"), count(lit(1)).as("common"))
    pairs
      .join(edges.hint("shuffle_hash"), Seq("a", "b"), "left_anti")
      .orderBy($"ra_ppm".desc, $"a".asc_nulls_first, $"b".asc_nulls_first)
      .limit(20)
  }

  private val linkRaOracle = s"""
    WITH $coPurchaseEdgesCtes,
    und AS (SELECT a AS u, b AS v FROM edges
            UNION ALL SELECT b, a FROM edges),
    deg AS (SELECT u AS node, count(*) AS deg FROM und GROUP BY u),
    wund AS (
      SELECT und.u, und.v, 1000000 // deg.deg AS w
      FROM und JOIN deg ON deg.node = und.v),
    pairs AS (
      SELECT e1.u AS a, e2.u AS b,
        CAST(sum(e1.w) AS BIGINT) AS ra_ppm, count(*) AS common
      FROM wund e1 JOIN und e2 ON e1.v = e2.v AND e1.u < e2.u
      GROUP BY 1, 2),
    cand AS (
      SELECT p.* FROM pairs p
      WHERE NOT EXISTS (
        SELECT 1 FROM edges e WHERE e.a = p.a AND e.b = p.b))
    SELECT a, b, ra_ppm, common
    FROM cand
    ORDER BY ra_ppm DESC, a ASC NULLS FIRST, b ASC NULLS FIRST
    LIMIT 20"""

  /** GROUP-AWARE train/val/test split (added round 12 batch 6) — the
    * leakage-safe sibling of `q_split_train_test`: hashing DOCUMENTS into
    * splits puts near-duplicates of a training document into the test
    * set, silently inflating eval scores — the classic contamination
    * failure. This split hashes each document's near-dup CLUSTER
    * (component id from the same label leaf as q_dedup_clusters;
    * singletons are their own cluster), so every cluster lands wholly in
    * one split BY CONSTRUCTION — no near-dup pair can cross the
    * train/test boundary. Same Knuth multiplicative hash and 80/10/10
    * cuts as the doc-level split, applied to the cluster id.
    *
    * Scale: one left join of documents against the memoized |V|-row label
    * frame + one map-side-combined agg; the split decision is per-row
    * integer arithmetic in the scan. The cluster structure is the dedup
    * pipeline's — computed once, reused here.
    */
  private def splitGroupAware(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val lbl = nearDupLabels(spark, sfDir)
    val h = ($"component_id".bitwiseAND(lit(2147483647L)) * lit(2654435761L)) %
      lit(4294967296L)
    val agg = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", $"n_chars")
      .join(lbl.select($"node".as("doc_id"), $"lbl"), Seq("doc_id"), "left")
      .select($"doc_id", $"n_chars",
        coalesce($"lbl", $"doc_id").as("component_id"))
      .select($"n_chars", $"component_id",
        when(h < 3435973836L, "train")
          .when(h < 3865470566L, "val")
          .otherwise("test").as("split"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"component_id").as("n_clusters"),
        sum($"n_chars").as("sum_chars"))
    agg.orderBy($"split".asc_nulls_first)
  }

  private val splitGroupAwareOracle = s"""
    WITH RECURSIVE ${LlmPipeline.nearPairsCtes},
    gedges AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.8),
    gund AS (SELECT doc_a AS u, doc_b AS v FROM gedges
             UNION ALL SELECT doc_b, doc_a FROM gedges),
    reach(node, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM gund)
      UNION
      SELECT e.u, reach.r FROM gund e JOIN reach ON e.v = reach.node),
    comp0 AS (SELECT node, min(r) AS component_id FROM reach GROUP BY node),
    comp AS (
      SELECT d.doc_id, d.n_chars,
        coalesce(c.component_id, d.doc_id) AS component_id
      FROM documents d LEFT JOIN comp0 c ON d.doc_id = c.node),
    s AS (
      SELECT n_chars, component_id,
        CASE WHEN ((component_id & 2147483647) * 2654435761) % 4294967296
                  < 3435973836 THEN 'train'
             WHEN ((component_id & 2147483647) * 2654435761) % 4294967296
                  < 3865470566 THEN 'val'
             ELSE 'test' END AS split
      FROM comp)
    SELECT split, count(*) AS n_docs,
      count(DISTINCT component_id) AS n_clusters,
      CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM s GROUP BY split
    ORDER BY split ASC NULLS FIRST"""

  /** PARTITION MODULARITY over the near-dup graph (round 13): Newman
    * modularity of the grouping "community = document source" — does
    * near-duplication concentrate WITHIN sources (template/boilerplate
    * reuse inside a crawl slice) or cut across them (syndication)? Per
    * source s: n_nodes (edge-bearing docs), e_in (intra-source edges),
    * d_tot (Σ degree), and the exact modularity term
    * (4m·e_in − d_tot²) / (4m²) — summing q_term over sources IS
    * Newman's Q for the partition. Components can't play the community
    * role here (a component never splits, making every edge intra by
    * construction); an ATTRIBUTE partition makes the metric informative
    * and keeps it exact.
    *
    * Determinism: numerator and denominator are exact int64 counts; the
    * ONE double division per row is correctly rounded from identical
    * exact operands in both engines — no float accumulation anywhere.
    *
    * Scale: reuses the memoized und-edge leaf; degree and intra-edge
    * tables are map-side-combined aggs keyed by node/source; the
    * source map joins are plain shuffle equi-joins (no |E| broadcast —
    * the commonNeighbors lesson); m rides as a 1-row broadcast dim.
    */
  private def graphModularity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val edges = LlmPipeline.dedupNear(spark, sfDir).select($"doc_a", $"doc_b")
    val src = Catalog.load(spark, sfDir, "documents").select($"doc_id", $"source")
    val und = nearDupUnd(spark, sfDir)
    val deg = und.groupBy($"u").agg(count(lit(1)).as("deg"))
    val mdim = edges.agg(count(lit(1)).as("m"))
    val ds = deg.join(src, $"u" === $"doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_nodes"), sum($"deg").as("d_tot"))
    val ei = edges
      .join(src.select($"doc_id".as("doc_a"), $"source".as("sa")), Seq("doc_a"))
      .join(src.select($"doc_id".as("doc_b"), $"source".as("sb")), Seq("doc_b"))
      .filter($"sa" === $"sb")
      .groupBy($"sa".as("source")).agg(count(lit(1)).as("e_in"))
    ds.join(ei, Seq("source"), "left")
      .withColumn("e_in", coalesce($"e_in", lit(0L)))
      .crossJoin(broadcast(mdim))
      .select($"source", $"n_nodes", $"e_in", $"d_tot",
        ((lit(4L) * $"m" * $"e_in" - $"d_tot" * $"d_tot").cast("double") /
          (lit(4L) * $"m" * $"m").cast("double")).as("q_term"))
      .orderBy($"source".asc_nulls_first)
  }

  private val graphModularityOracle = s"""
    WITH ${LlmPipeline.nearPairsCtes},
    edges AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.8),
    und AS (SELECT doc_a AS u, doc_b AS v FROM edges
            UNION ALL SELECT doc_b, doc_a FROM edges),
    deg AS (SELECT u, count(*) AS deg FROM und GROUP BY u),
    m AS (SELECT count(*) AS m FROM edges),
    ds AS (
      SELECT d.source, count(*) AS n_nodes, sum(deg.deg) AS d_tot
      FROM deg JOIN documents d ON deg.u = d.doc_id
      GROUP BY d.source),
    ei AS (
      SELECT da.source, count(*) AS e_in
      FROM edges e
        JOIN documents da ON e.doc_a = da.doc_id
        JOIN documents db ON e.doc_b = db.doc_id
      WHERE da.source = db.source
      GROUP BY da.source)
    SELECT ds.source, CAST(ds.n_nodes AS BIGINT) AS n_nodes,
      CAST(coalesce(ei.e_in, 0) AS BIGINT) AS e_in,
      CAST(ds.d_tot AS BIGINT) AS d_tot,
      CAST(4 * m.m * coalesce(ei.e_in, 0) - ds.d_tot * ds.d_tot AS DOUBLE)
        / CAST(4 * m.m * m.m AS DOUBLE) AS q_term
    FROM ds LEFT JOIN ei ON ds.source = ei.source CROSS JOIN m
    ORDER BY ds.source ASC NULLS FIRST"""

  /** EIGENVECTOR CENTRALITY via unnormalized power iteration (round 13)
    * — the influence measure complementing [[pagerank]] (no damping, no
    * out-degree normalization: a node is central in proportion to how
    * central its neighbors are, the A^k·1 limit): s₀ = 1, s_{k+1}(u) =
    * Σ_{v∈N(u)} s_k(v), three iterations over the co-purchase graph.
    * s₁ IS the degree; all-integer, so the unrolled oracle is bit-equal
    * — where normalized float iteration would drift per engine. Output =
    * top-20 by (s₃ desc, node asc) with the full s₁/s₂/s₃ trajectory.
    * Bounds: s₃ ≤ d_max³ — int64-safe to d_max ≈ 2·10⁶, far above any
    * co-purchase degree.
    *
    * Scale: each iteration is ONE sparse matvec — the undirected edge
    * leaf joined to the |V|-row score frame on its key and re-aggregated
    * by the other endpoint (shuffle keyed by node both times, the
    * standard distributed power iteration; the leaf is memoized once).
    */
  private def eigencentrality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und = coPurchaseUnd(spark, sfDir)
    val s1 = und.groupBy($"u").agg(count(lit(1)).as("s1"))
    // shuffle_hash hints (optimization round 19): the |V|-row score
    // frames are statistics-free subtrees — unhinted planning
    // sort-merged each matvec against the edge leaf.
    def matvec(s: DataFrame, in: String, out: String): DataFrame =
      und.join(s.select($"u".as("v"), col(in)).hint("shuffle_hash"),
          Seq("v"))
        .groupBy($"u").agg(sum(col(in)).as(out))
    val s2 = matvec(s1, "s1", "s2")
    val s3 = matvec(s2, "s2", "s3")
    s1.join(s2.hint("shuffle_hash"), Seq("u"))
      .join(s3.hint("shuffle_hash"), Seq("u"))
      .select($"u".as("node"), $"s1", $"s2", $"s3")
      .orderBy($"s3".desc, $"node".asc)
      .limit(20)
  }

  private val eigencentralityOracle = s"""
    WITH $coPurchaseEdgesCtes,
    und AS (
      SELECT a AS u, b AS v FROM edges
      UNION ALL SELECT b, a FROM edges),
    s1 AS (SELECT u, count(*) AS s1 FROM und GROUP BY u),
    s2 AS (
      SELECT und.u, CAST(sum(s1.s1) AS BIGINT) AS s2
      FROM und JOIN s1 ON s1.u = und.v GROUP BY und.u),
    s3 AS (
      SELECT und.u, CAST(sum(s2.s2) AS BIGINT) AS s3
      FROM und JOIN s2 ON s2.u = und.v GROUP BY und.u)
    SELECT s1.u AS node, CAST(s1.s1 AS BIGINT) AS s1, s2.s2, s3.s3
    FROM s1 JOIN s2 ON s2.u = s1.u JOIN s3 ON s3.u = s1.u
    ORDER BY s3.s3 DESC, node ASC
    LIMIT 20"""

  /** DEGREE ASSORTATIVITY (round 13) — the graph-science summary "do
    * hubs attach to hubs?" (Newman's r): the Pearson correlation of
    * endpoint degrees over the symmetric directed edge set. Symmetry
    * makes the two marginals identical, so
    * r = (M·Σdᵤdᵥ − (Σd)²) / (M·Σd² − (Σd)²) is a ratio of two EXACT
    * integers — emitted as num/den longs (bit-equal cross-engine) plus
    * the one identical double division. The big products run in
    * decimal(38,0) and cast back under a loud overflow guard (the
    * covariance pattern — M·Σd² ≈ 4·10¹⁸ already flirts with int64 at
    * single-digit-million edges).
    *
    * Scale: two broadcast-or-shuffle joins decorate each edge with its
    * endpoint degrees (the degree frame is |V|-sized), then ONE
    * map-side-combined global agg — no quadratic structure anywhere.
    */
  private def assortativity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und = coPurchaseUnd(spark, sfDir)
    val deg = und.groupBy($"u").agg(count(lit(1)).as("d"))
    val m = und
      .join(deg.select($"u", $"d".as("du")), Seq("u"))
      .join(deg.select($"u".as("v"), $"d".as("dv")), Seq("v"))
      .agg(count(lit(1)).as("m"), sum($"du").as("sd"),
        sum($"du" * $"dv").as("sdd"), sum($"du" * $"du").as("sd2"))
    val md = m.select($"m", $"sd", $"sdd", $"sd2",
      ($"m".cast("decimal(38,0)") * $"sdd" -
        $"sd".cast("decimal(38,0)") * $"sd").as("numd"),
      ($"m".cast("decimal(38,0)") * $"sd2" -
        $"sd".cast("decimal(38,0)") * $"sd").as("dend"))
    val cap = lit(Long.MaxValue).cast("decimal(38,0)")
    md.select($"m", $"sd", $"sdd", $"sd2",
        when(abs($"numd") > cap || abs($"dend") > cap, raise_error(lit(
          "graft q_graph_assortativity: moment products overflow int64; " +
            "report the decimal moments")))
          .otherwise($"numd".cast("long")).as("assort_num"),
        $"dend".cast("long").as("assort_den"))
      .select($"m", $"sd", $"sdd", $"sd2", $"assort_num", $"assort_den",
        when($"assort_den" === 0L, lit(null).cast("double"))
          .otherwise($"assort_num".cast("double") /
            $"assort_den".cast("double")).as("assort_r"))
  }

  private val assortativityOracle = s"""
    WITH $coPurchaseEdgesCtes,
    und AS (
      SELECT a AS u, b AS v FROM edges
      UNION ALL SELECT b, a FROM edges),
    deg AS (SELECT u, count(*) AS d FROM und GROUP BY u),
    mom AS (
      SELECT count(*) AS m,
        CAST(sum(x.d) AS BIGINT) AS sd,
        CAST(sum(x.d * y.d) AS BIGINT) AS sdd,
        CAST(sum(x.d * x.d) AS BIGINT) AS sd2
      FROM und e JOIN deg x ON x.u = e.u JOIN deg y ON y.u = e.v),
    md AS (
      SELECT m, sd, sdd, sd2,
        CAST(m AS HUGEINT) * sdd - CAST(sd AS HUGEINT) * sd AS numd,
        CAST(m AS HUGEINT) * sd2 - CAST(sd AS HUGEINT) * sd AS dend
      FROM mom)
    SELECT m, sd, sdd, sd2,
      CAST(CASE WHEN abs(numd) > 9223372036854775807
          OR abs(dend) > 9223372036854775807
        THEN error('graft q_graph_assortativity: overflow')
        ELSE numd END AS BIGINT) AS assort_num,
      CAST(dend AS BIGINT) AS assort_den,
      CASE WHEN dend = 0 THEN NULL
        ELSE CAST(numd AS DOUBLE) / CAST(dend AS DOUBLE) END AS assort_r
    FROM md"""

  override val queries: Vector[Q] = Vector(
    Q("q_graph_assortativity", assortativity, Some(assortativityOracle)),
    Q("q_graph_eigencentrality", eigencentrality,
      Some(eigencentralityOracle)),
    Q("q_graph_label_propagation", labelPropagation,
      Some(labelPropagationOracle)),
    Q("q_graph_louvain", graphLouvain, Some(graphLouvainOracle), warm = true),
    Q("q_graph_louvain_coarse", graphLouvainCoarse,
      Some(graphLouvainCoarseOracle)),
    Q("q_graph_louvain_multi", graphLouvainMulti,
      Some(graphLouvainMultiOracle), warm = true),
    Q("q_graph_louvain_refine", graphLouvainRefine,
      Some(graphLouvainRefineOracle)),
    Q("q_graph_walks", graphWalks, Some(graphWalksOracle)),
    Q("q_graph_walks_biased", graphWalksBiased,
      Some(graphWalksBiasedOracle), warm = true),
    Q("q_graph_link_ra", linkRa, Some(linkRaOracle)),
    Q("q_graph_modularity", graphModularity, Some(graphModularityOracle)),
    Q("q_split_group_aware", splitGroupAware, Some(splitGroupAwareOracle)),
    Q("q_dedup_pipeline", dedupPipeline, Some(dedupPipelineOracle), warm = true),
    Q("q_graph_clustering_coeff", graphClusteringCoeff,
      Some(graphClusteringCoeffOracle)),
    Q("q_er_golden", erGolden, Some(erGoldenOracle)),
    Q("q_graph_kcore", graphKcore, Some(kcoreOracle)),
    Q("q_graph_mst", graphMst, None),
    Q("q_graph_components", components, Some(componentsOracle), warm = true),
    Q("q_graph_components_twostar", componentsTwoStar, Some(componentsOracle), warm = true),
    Q("q_graph_triangles", triangles, Some(trianglesOracle), warm = true),
    Q("q_graph_degree_hist", degreeHist, Some(degreeHistOracle)),
    Q("q_graph_common_neighbors", commonNeighbors, Some(commonNeighborsOracle)),
    Q("q_graph_common_neighbors_capped", commonNeighborsCapped,
      Some(commonNeighborsCappedOracle)),
    Q("q_graph_bfs", graphBfs, Some(graphBfsOracle)),
    Q("q_graph_sssp", graphSssp, Some(graphSsspOracle)),
    Q("q_graph_pagerank", pagerank, Some(pagerankOracle)),
    Q("q_graph_ppr", graphPpr, Some(graphPprOracle)),
    Q("q_graph_closeness", graphCloseness, Some(graphClosenessOracle)),
    Q("q_graph_betweenness", graphBetweenness, Some(graphBetweennessOracle), warm = true),
    Q("q_graph_hits", graphHits, Some(graphHitsOracle), warm = true),
    Q("q_dedup_clusters", dedupClusters, Some(dedupClustersOracle)),
    Q("q_dedup_survivor", dedupSurvivor, Some(dedupSurvivorOracle)),
  )
}
