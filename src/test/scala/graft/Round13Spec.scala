package graft

import org.apache.spark.sql.functions._

/** Round-13 batch-1 invariants: robust-mean algebra, PCA projection serve
  * (no retraining in the serve plan), partition-skew mass conservation,
  * boilerplate-span self-consistency, temperature-quota monotonicity, and
  * modularity's sum/bound identities.
  */
class Round13Spec extends SparkTestBase {
  import spark.implicits._

  test("trimmed mean algebra: bounds, ordering, and the k=0 degenerate case") {
    val out = SparkEntry.queries("q_agg_trimmed_mean")(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, k) = (r.getLong(1), r.getLong(2))
      val (tm, lo, hi, wm) =
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(k == n / 10)
      // Both means sit inside the winsorization bounds; lo <= hi by rank.
      assert(lo <= hi)
      assert(tm >= lo && tm <= hi, s"trimmed mean $tm outside [$lo, $hi]")
      assert(wm >= lo && wm <= hi, s"winsor mean $wm outside [$lo, $hi]")
    }
    // Cross-check one group against a driver-side exact computation.
    val prio = out.head.getString(0)
    val vs = Catalog.load(spark, sf0001, "orders")
      .filter($"o_orderpriority" === prio)
      .select(($"o_totalprice".cast("decimal(14,2)") * 100).cast("long"),
        $"o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity)
    val n = vs.length.toLong
    val k = (n / 10).toInt
    val kept = vs.slice(k, vs.length - k).map(_._1)
    val tmExp = kept.sum / (n - 2 * k)
    val wmExp = (kept.sum + k * vs(k)._1 + k * vs(vs.length - k - 1)._1) / n
    assert(out.head.getLong(3) == tmExp)
    assert(out.head.getLong(6) == wmExp)
  }

  test("pca projection serve: no per-dimension agg in the plan, exact dot") {
    val df = SparkEntry.queries("q_vec_project")(spark, sf0001)
    // Serve reuses the TRAINED direction as a literal array: the optimized
    // plan must not re-run the training loop's per-dimension aggregation
    // (posexplode feeding a pos-keyed agg).
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("posexplode"),
      "serve plan re-derives the direction (posexplode found)")
    val rows = df.collect()
    assert(rows.length == 20)
    // Descending |proj| with vec_id tiebreak.
    val key = rows.map(r => (-math.abs(r.getLong(2)), r.getLong(0))).toSeq
    assert(key == key.sorted)
    // Exact dot recompute for the top row.
    val dir = graft.operators.KMeansOps.pcaDirection(spark, sf0001)
    val top = rows.head
    val e = Catalog.load(spark, sf0001, "embeddings")
      .filter($"vec_id" === top.getLong(0))
      .select(expr("transform(embedding, v -> cast(floor(cast(v as double) * 1000000) as long))"))
      .head().getSeq[Long](0)
    val dot = e.zip(dir).map { case (a, b) => a * b }.sum
    assert(top.getLong(2) == dot)
  }

  test("partition skew buckets conserve rows and keys") {
    val out = SparkEntry.queries("q_profile_partition_skew")(spark, sf0001)
      .collect()
    assert(out.length <= 32 && out.nonEmpty)
    val total = Catalog.load(spark, sf0001, "lineitem").count()
    assert(out.map(_.getLong(1)).sum == total)
    val nKeys = Catalog.load(spark, sf0001, "lineitem")
      .select($"l_suppkey").distinct().count()
    // The multiplicative hash is a function of the key: buckets partition
    // the key space, so per-bucket distinct counts sum to the global one.
    assert(out.map(_.getLong(2)).sum == nKeys)
    // load_ppm conserves mass over the 32-bucket space (empty buckets are
    // simply absent rows): Σ load_ppm = 32 · 1e6 up to one floored ppm per
    // occupied bucket.
    val sumPpm = out.map(_.getLong(3)).sum
    assert(sumPpm > 32000000L - out.length - 32 && sumPpm <= 32000000L,
      s"sum load_ppm $sumPpm")
  }

  test("dup ngram spans: df bounded by occurrences, spans are 5 tokens") {
    val out = SparkEntry.queries("q_text_dup_ngrams")(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getString(0).split(" ").length == 5)
      assert(r.getLong(1) >= 2L && r.getLong(1) <= r.getLong(2))
    }
    // Ranking is (df_docs desc, n_occur desc, span asc).
    val key = out.map(r => (-r.getLong(1), -r.getLong(2), r.getString(0))).toSeq
    assert(key == key.sorted)
  }

  test("temperature quotas: shares sum to ~1e6 and compress toward even") {
    val out = SparkEntry.queries("q_corpus_temperature")(spark, sf0001)
      .collect()
    assert(out.nonEmpty)
    val raw = out.map(_.getLong(3))
    val temp = out.map(_.getLong(4))
    // ppm shares sum to 1e6 up to floor losses (< 1 per source).
    assert(math.abs(raw.sum - 1000000L) <= out.length)
    assert(math.abs(temp.sum - 1000000L) <= out.length)
    // T=2 compresses the mixture: the tempered share spread is no wider
    // than the raw spread (sqrt is concave).
    assert(temp.max - temp.min <= raw.max - raw.min)
    // And weak monotonicity holds pairwise: a strictly larger token mass
    // never yields a strictly smaller tempered share (floor∘sqrt is
    // non-decreasing).
    val toks = out.map(r => (r.getLong(1), r.getLong(4)))
    for ((ta, wa) <- toks; (tb, wb) <- toks if ta < tb)
      assert(wa <= wb, s"tempered share not monotone: $ta->$wa vs $tb->$wb")
  }

  test("modularity terms: edges and degrees reconcile; Q in [-1, 1)") {
    val out = SparkEntry.queries("q_graph_modularity")(spark, sf0001).collect()
    if (out.nonEmpty) {
      val eIn = out.map(_.getLong(2)).sum
      val dTot = out.map(_.getLong(3)).sum
      // Handshake: sum of degrees = 2m; intra edges can never exceed m.
      assert(dTot % 2 == 0)
      val m = dTot / 2
      assert(eIn <= m)
      val q = out.map(_.getDouble(4)).sum
      assert(q >= -1.0 && q < 1.0, s"modularity $q out of range")
    }
  }
}
