package graft

import org.apache.spark.sql.functions._

/** Round-13 batch-2 invariants: hashed-cross mass/collision conservation,
  * prefix-dup pair verification against the raw texts, and Markov
  * removal-effect algebra (monotonicity + share normalization).
  */
class Round13BSpec extends SparkTestBase {
  import spark.implicits._

  test("hashed crosses conserve rows and partition the cross domain") {
    val out = SparkEntry.queries("q_feat_crossed")(spark, sf0001).collect()
    assert(out.nonEmpty && out.length <= 64)
    out.foreach { r =>
      assert(r.getLong(0) >= 0L && r.getLong(0) < 64L)
      assert(r.getLong(2) >= 1L && r.getLong(2) <= r.getLong(1))
    }
    val cust = Catalog.load(spark, sf0001, "customer")
    assert(out.map(_.getLong(1)).sum == cust.count())
    // The bucket is a function of the cross, so buckets PARTITION the
    // cross domain: per-bucket distinct-cross counts sum to the global.
    val nat = Catalog.load(spark, sf0001, "nation")
    val crosses = cust.join(nat, $"c_nationkey" === $"n_nationkey")
      .select($"c_mktsegment", $"n_name").distinct().count()
    assert(out.map(_.getLong(2)).sum == crosses)
  }

  test("prefix dups verify against raw texts; one superseder per victim") {
    val out = SparkEntry.queries("q_dedup_prefix")(spark, sf0001).collect()
    assert(out.nonEmpty)
    // One row per truncated doc.
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    out.foreach(r => assert(r.getLong(2) < r.getLong(3)))
    // Re-verify every reported pair against the normalized texts.
    val ids = out.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
    // Same normalization as LlmPipeline.normText (private[operators]).
    val norm: Map[Long, String] = Catalog.load(spark, sf0001, "documents")
      .filter($"doc_id".isin(ids.toIndexedSeq: _*))
      .select($"doc_id", trim(regexp_replace(
        regexp_replace(lower($"text"), "[^a-z0-9 ]", " "), " +", " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { r =>
      val (a, b) = (norm(r.getLong(0)), norm(r.getLong(1)))
      assert(b.startsWith(a + " "),
        s"doc ${r.getLong(1)} does not extend doc ${r.getLong(0)}")
      assert(a.split(" ").length.toLong == r.getLong(2))
      assert(b.split(" ").length.toLong == r.getLong(3))
    }
  }

  test("ivfpq candidates come only from the probe's routed cells") {
    val out = SparkEntry.queries("q_sim_ann_ivfpq")(spark, sf0001).collect()
    assert(out.nonEmpty)
    // Dense ranks per probe.
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to rows.length))
    }
    // Every served candidate's trained cell is one of its probe's
    // nprobe=2 routed cells — routing recomputed here from the centroid
    // leaf with the same integer arithmetic.
    val assign = graft.operators.KMeansOps.kmAssign(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cents = graft.operators.KMeansOps.kmCentroids(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val quant = Catalog.load(spark, sf0001, "embeddings")
      .filter($"vec_id" < 10L)
      .select($"vec_id",
        expr("transform(embedding, v -> cast(floor(cast(v as double) * 1000000) as long))"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def routed(p: Long): Set[Long] = {
      val e = quant(p)
      cents.toSeq.map { case (cell, c) =>
        (cell, e.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
      }.sortBy { case (cell, d2) => (d2, cell) }.take(2).map(_._1).toSet
    }
    out.foreach { r =>
      val (p, c) = (r.getLong(0), r.getLong(1))
      assert(routed(p).contains(assign(c)),
        s"cand $c of probe $p served from unrouted cell ${assign(c)}")
    }
  }

  test("mmr greedy recomputes from relevance and pairwise sims") {
    val out = SparkEntry.queries("q_retrieval_mmr")(spark, sf0001).collect()
    assert(out.length == 20)
    // Independent greedy recompute for every probe from raw vectors.
    val quant = Catalog.load(spark, sf0001, "embeddings")
      .select($"vec_id",
        expr("transform(embedding, v -> cast(floor(cast(v as double) * 1000000) as long))"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    out.groupBy(_.getLong(0)).foreach { case (p, rows) =>
      val pe = quant(p)
      val cands = quant.keys.filter(_ != p).toSeq
        .map(c => (c, dot(quant(c), pe)))
        .sortBy { case (c, r) => (-r, c) }.take(12)
      var selected = Vector.empty[Long]
      val expect = (1 to 5).map { _ =>
        val pick = cands.filterNot(c => selected.contains(c._1))
          .map { case (c, r) =>
            val ms = if (selected.isEmpty) 0L
              else selected.map(s => dot(quant(c), quant(s))).max
            (c, r, 7L * r - 3L * ms)
          }.minBy { case (c, _, s) => (-s, c) }
        selected :+= pick._1
        pick
      }
      val got = rows.sortBy(_.getLong(1))
        .map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      assert(got == expect, s"probe $p greedy mismatch")
    }
  }

  test("prefix-filtered join equals the exhaustive near-dup pair set") {
    val pf = SparkEntry.queries("q_dedup_prefix_filter")(spark, sf0001)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val near = SparkEntry.queries("q_dedup_near")(spark, sf0001)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(pf.nonEmpty)
    assert(pf == near, "prefix filtering lost or invented pairs")
  }

  test("pack bins recompute from an independent greedy walk") {
    val out = SparkEntry.queries("q_pack_bins")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(out.nonEmpty)
    // Fill never exceeds capacity; ppm consistent; bins dense per bucket.
    out.foreach { case (_, _, nd, nt, ppm) =>
      assert(nd >= 1L && nt <= 256L && ppm == nt * 1000000L / 256L)
    }
    out.groupBy(_._1).foreach { case (_, bins) =>
      assert(bins.map(_._2).sorted == (1L to bins.length))
    }
    // Independent next-fit replay over the raw documents.
    val docs = Catalog.load(spark, sf0001, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long"))
      .collect().map(r => (r.getLong(0), math.min(r.getLong(1), 256L)))
    val expect = docs
      .groupBy { case (id, _) => ((id & 2147483647L) * 2654435761L
        % 2147483648L + 2147483648L) % 2147483648L % 8L }
      .toSeq.flatMap { case (bucket, ds) =>
        val ordered = ds.sortBy { case (id, c) => (-c, id) }
        var bin = 0L; var fill = 0L; var nd = 0L
        val acc = Vector.newBuilder[(Long, Long, Long, Long, Long)]
        def flush(): Unit = if (bin > 0)
          acc += ((bucket, bin, nd, fill, fill * 1000000L / 256L))
        ordered.foreach { case (_, c) =>
          if (bin == 0L || fill + c > 256L) { flush(); bin += 1; fill = c; nd = 1 }
          else { fill += c; nd += 1 }
        }
        flush(); acc.result()
      }.sortBy(x => (x._1, x._2))
    assert(out.sortBy(x => (x._1, x._2)) == expect)
  }

  test("dbscan conserves points and replays brute-force at sf0.001") {
    val out = SparkEntry.queries("q_geo_dbscan")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.exists(_._1 == -1L))
    out.foreach { case (c, nc, nb, np) =>
      if (c >= 0L) { assert(np == nc + nb); assert(nc >= 1L) }
      else assert(nc == 0L && nb == 0L)
    }
    // Brute-force replay over the synthesized points.
    val pts = Catalog.load(spark, sf0001, "orders")
      .filter($"o_orderkey" % 23 === 0).select($"o_orderkey")
      .collect().map(_.getLong(0)).map { id =>
        val h = (id & 2147483647L) * 2654435761L % 2147483648L
        val x = (if (id % 5 == 0) h % 320 - 160
                 else (id % 16 % 4) * 40 - 60 + h % 7 - 3) + 0.25
        val y = (if (id % 5 == 0) h / 320 % 320 - 160
                 else (id % 16 / 4) * 40 - 60 + h / 7 % 7 - 3) + 0.25
        (id, x, y)
      }
    assert(out.map(_._4).sum == pts.length)
    def near(a: (Long, Double, Double), b: (Long, Double, Double)) = {
      val (dx, dy) = (a._2 - b._2, a._3 - b._3); dx * dx + dy * dy <= 50.0
    }
    val core = pts.filter(p => pts.count(q => near(p, q)) >= 3).map(_._1).toSet
    // Components over core-core edges (union-find replay).
    val parent = scala.collection.mutable.Map(core.toSeq.map(c => c -> c): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for (a <- pts if core(a._1); b <- pts if core(b._1) && near(a, b)) {
      val (ra, rb) = (find(a._1), find(b._1))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val lbl = core.map(c => c -> find(c)).toMap
    // Canonical label = min member id per component.
    val canon = lbl.groupBy(_._2).flatMap { case (_, m) =>
      val mn = m.keys.min; m.keys.map(_ -> mn)
    }
    val coreByCluster = canon.groupBy(_._2).map { case (k, v) => k -> v.size }
    val border = pts.filter(p => !core(p._1))
      .flatMap { p =>
        val cl = pts.filter(q => core(q._1) && q._1 != p._1 && near(p, q))
          .map(q => canon(q._1))
        if (cl.isEmpty) None else Some(p._1 -> cl.min)
      }
    val borderByCluster = border.groupBy(_._2).map { case (k, v) => k -> v.size }
    val nNoise = pts.length - core.size - border.length
    val expect = (coreByCluster.keySet ++ borderByCluster.keySet).toSeq
      .map(c => (c, coreByCluster.getOrElse(c, 0).toLong,
        borderByCluster.getOrElse(c, 0).toLong))
      .map { case (c, nc, nb) => (c, nc, nb, nc + nb) }
      .:+((-1L, 0L, 0L, nNoise.toLong)).sortBy(_._1)
    assert(out.sortBy(_._1).toSeq == expect)
  }

  test("tree stump: top split recomputes from a driver-side histogram") {
    val out = SparkEntry.queries("q_ml_tree_stump")(spark, sf0001).collect()
    assert(out.length == 10)
    val costs = out.map(_.getLong(6))
    assert(costs.toSeq == costs.sorted.toSeq)
    out.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2) && r.getLong(5) <= r.getLong(4))
      assert(r.getLong(2) >= 1L && r.getLong(4) >= 1L)
    }
    // Independent recompute of every candidate split's cost.
    val rows = Catalog.load(spark, sf0001, "orders")
      .join(Catalog.load(spark, sf0001, "customer"),
        $"o_custkey" === $"c_custkey")
      .select(month($"o_orderdate").cast("long"),
        $"c_nationkey".cast("long"),
        expr("(cast(c_acctbal * 100 as long) + 100000) div 75000"),
        when($"o_totalprice" > 150000, 1L).otherwise(0L))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val feats = Seq(
      ("month", rows.map(r => (r._1, r._4))),
      ("nation", rows.map(r => (r._2, r._4))),
      ("balbin", rows.map(r => (r._3, r._4))))
    val cands = feats.flatMap { case (f, vs) =>
      val tn = vs.length.toLong; val tp = vs.map(_._2).sum
      vs.map(_._1).distinct.sorted.dropRight(1).map { thr =>
        val nl = vs.count(_._1 <= thr).toLong
        val pl = vs.filter(_._1 <= thr).map(_._2).sum
        val (nr, pr) = (tn - nl, tp - pl)
        val cost = (nl * nl - pl * pl - (nl - pl) * (nl - pl)) * 1000000L / nl +
          (nr * nr - pr * pr - (nr - pr) * (nr - pr)) * 1000000L / nr
        (f, thr, nl, pl, nr, pr, cost)
      }
    }.sortBy(c => (c._7, c._1, c._2)).take(10)
    val got = out.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == cands)
  }

  test("markov removal effects: monotone, normalized, base-consistent") {
    val out = SparkEntry.queries("q_attribution_markov")(spark, sf0001)
      .collect()
    assert(out.length == 4)
    val base = out.head.getLong(1)
    assert(base > 0L && base <= 1000000L)
    out.foreach { r =>
      // Same base conversion on every row; removal can only hurt.
      assert(r.getLong(1) == base)
      assert(r.getLong(2) >= 0L && r.getLong(2) <= base)
      // removal_ppm recomputes from the two conversion columns.
      assert(r.getLong(3) == (base - r.getLong(2)) * 1000000L / base)
    }
    // Attribution shares sum to 1e6 up to one floored ppm per channel.
    val shares = out.map(_.getLong(4))
    assert(shares.forall(s => s >= 0L && s <= 1000000L))
    assert(math.abs(shares.sum - 1000000L) <= out.length,
      s"attribution shares sum ${shares.sum}")
  }
}
