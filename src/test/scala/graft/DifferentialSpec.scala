package graft

/** PLAN-INVARIANCE DIFFERENTIAL GATE (round 15): a declared query's
  * RESULT may never depend on how the planner happened to execute it.
  * Each sampled query runs twice — once on the default session (AQE on,
  * 4 shuffle partitions in tests) and once on an isolated `newSession`
  * clone with AQE OFF and a deliberately ODD shuffle-partition count —
  * and the row multisets must match exactly.
  *
  * This pins the bug class the round-2 audit hit (a nondeterministic
  * distributed-ntile bucketing that passed at one partition count and
  * diverged at another) as a standing gate, on the queries with the most
  * distributed-coordination surface: custom ranking/cumsum, salted
  * skew aggregation, iterative graph peeling, window ntile, dedup
  * candidate generation, sort-merge joins, and the rollup/Expand +
  * window flavors.
  *
  * The sample is deliberately small and runs at sf0.001 — the point is
  * the partitioning-sensitivity axis, not volume (the oracle sweep
  * already grades values at three SFs).
  */
class DifferentialSpec extends SparkTestBase {

  private val sampled = Seq(
    "q_agg_trimmed_mean",      // DistributedRank guarded-key cumsum
    "q_agg_salted_skew",       // two-phase salted aggregation
    "q_agg_percentile_exact",  // exact rank selection
    "q_win_ranking",           // rank/dense_rank/ntile windows
    "q_join_sortmerge_inner",  // SMJ partitioning
    "q_dedup_near",            // shingle join fan-out + candidate verify
    "q_graph_kcore",           // iterative peel rounds
    "q_sql_tpcds_q67_flavor",  // Expand + WindowGroupLimit pushdown
    "q_sql_tpcds_q86_flavor",  // rollup + sibling-window parents (r15)
    "q_lake_checkpoint",       // checkpoint-resolved multi-file reads (r15)
    "q_pii_tokenize",          // bucketed global rank over the vault (r16)
    "q_stat_kmv_distinct",     // TakeOrdered bottom-k merge (r16)
    "q_sim_matryoshka",        // two-stage windowed funnel (r16)
    "q_sim_maxsim",            // token-level funnel + distinct union (r17)
    "q_ts_dtw_banded",         // PAA bucketing + per-pair HOF fold (r17)
    "q_graph_ppr",             // seeded union-then-sum iteration (r17)
    "q_geo_region_join",       // covering explode + reference-point dedup (r17)
    "q_lake_merge_mor",        // delta-layer keyed anti-join resolution (r17)
    "q_graph_closeness",       // multi-source frontier distinct/anti-join (r17)
    "q_graph_betweenness",     // layered sigma aggregation + backward joins (r18)
    "q_graph_louvain",         // synchronous gain argmax windows per round (r18)
    "q_graph_walks",           // ranked-adjacency row_number + step joins (r18)
    "q_lake_mor_probe",        // bloom-planned base + layer anti-join fold (r18)
    "q_ts_backtest",           // global-series windows + struct-explode (r18)
    "q_dedup_suffix_spans",    // band-keyed suffix sort + lag/lead LCP (r19)
    "q_dedup_suffix_cross",    // nearest-eval IGNORE-NULLS band windows (r19)
    "q_graph_louvain_multi",   // iterated contraction + zero-move exit (r19)
    "q_sim_nn_descent",        // bucket-seeded descent + per-src trim (r19)
    "q_mv_incremental_mor",    // layer fold over broadcast key lookup (r19)
  )

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect()
      .map(_.toSeq.map(v => if (v == null) "\u0000" else v.toString)
        .mkString("\u0001"))
      .sorted.toIndexedSeq
  }

  for (id <- sampled) {
    test(s"$id: result invariant under AQE-off + odd partition count") {
      val base = canon(SparkEntry.queries(id)(spark, sf0001))
      // Drop every memoized leaf so the alternate-plan run RE-EXECUTES
      // the partition-sensitive builds (e.g. the trimmed-mean cumsum
      // leaf) under the alternate conf instead of reading the
      // checkpointed RDD the base run materialized — without this the
      // gate is vacuous for exactly the leaf-backed queries it targets.
      Memo.clearForTest()
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.adaptive.enabled", "false")
      s2.conf.set("spark.sql.shuffle.partitions", "7")
      val alt = canon(SparkEntry.queries(id)(s2, sf0001))
      // Rebuild later suites' leaves under the default conf, not this
      // test's 7-partition AQE-off clone.
      Memo.clearForTest()
      assert(base.size === alt.size,
        s"row count diverged under the alternate plan: ${base.size} vs ${alt.size}")
      assert(base === alt, "row content diverged under the alternate plan")
    }
  }
}
