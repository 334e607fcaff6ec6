package graft

import org.apache.spark.sql.functions._

/** Round-18 gates: the k-source Brandes betweenness against an in-memory
  * exact Brandes at the same seeds/radius; Louvain ascent monotonicity and
  * the ≥-label-propagation modularity bar; random-walk structural
  * invariants (every step is a true neighbor or a restart, LCG-replayed
  * exactly in memory); the tightened DTW band-degeneracy boundary; and
  * the empty-snapshot schema fallback now deriving from on-disk adds.
  */
class Round18Spec extends SparkTestBase {
  import spark.implicits._

  // ---- q_graph_betweenness (VERDICT r17 task 2) ----

  /** In-memory exact Brandes from the same 10 seeds at radius 3 with the
    * same integer-scaled dependency arithmetic — an INDEPENDENT
    * evaluation order (per-source sequential maps vs the engine's
    * layer-synchronized joins) that must agree bit-for-bit. */
  test("betweenness: engine equals in-memory Brandes at the same seeds/radius") {
    val und = operators.GraphOps.coPurchaseUnd(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = und.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }
    val seeds = nbrs.keys.toSeq.sorted.take(10)
    val scale = 1000000L
    val acc = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (s <- seeds) {
      // Forward BFS with path counts, 3 hops.
      var layers = Vector(Map(s -> 1L))
      var seen = Set(s)
      for (_ <- 1 to 3) {
        val next = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        for ((u, sig) <- layers.last; v <- nbrs(u) if !seen.contains(v))
          next(v) += sig
        seen ++= next.keys
        layers :+= next.toMap
      }
      // Backward dependency accumulation, layers 2 then 1.
      var deltaNext = layers(3).map { case (n, _) => n -> 0L }
      for (k <- 2 to 1 by -1) {
        val deltaK = layers(k).map { case (v, sigV) =>
          val d = nbrs(v).toSeq.filter(layers(k + 1).contains).sorted.map { w =>
            sigV * (scale + deltaNext(w)) / layers(k + 1)(w)
          }.sum
          v -> d
        }
        deltaK.foreach { case (v, d) => acc(v) += d }
        deltaNext = deltaK
      }
    }
    val expect = acc.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("q_graph_betweenness")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect)
  }

  // ---- q_graph_louvain (VERDICT r17 task 3) ----

  /** Newman Q of a (node → lbl) partition over the co-purchase graph, as
    * an exact rational (num, den): Q = Σ_c [e_in/m − (d_tot/2m)²]
    * = Σ_c [4m·e_in − d_tot²] / 4m². */
  private def modularityOf(labels: Map[Long, Long]): (BigInt, BigInt) = {
    val und = operators.GraphOps.coPurchaseUnd(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = und.filter { case (u, v) => u < v }
    val m = BigInt(edges.length)
    val deg = und.groupBy(_._1).map { case (u, es) => u -> BigInt(es.length) }
    val eInByC = edges.filter { case (u, v) => labels(u) == labels(v) }
      .groupBy { case (u, _) => labels(u) }.map { case (c, es) => c -> BigInt(es.length) }
    val dTot = deg.groupBy { case (n, _) => labels(n) }
      .map { case (c, ds) => c -> ds.values.sum }
    // .toSeq before map: keys is a Set, and mapping a Set DEDUPLICATES
    // equal per-community terms (every deg-1 singleton contributes -1).
    val num = dTot.keys.toSeq.map { c =>
      4 * m * eInByC.getOrElse(c, BigInt(0)) - dTot(c) * dTot(c)
    }.sum
    (num, 4 * m * m)
  }

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("louvain: each ascent round is monotone in Q and beats label propagation") {
    Memo.clearForTest()
    val nodes = operators.GraphOps.coPurchaseUnd(spark, sf0001)
      .select($"u").distinct().collect().map(_.getLong(0))
    val singletons = nodes.map(n => n -> n).toMap
    val r1 = labelMap(operators.GraphOps.louvainLabels(spark, sf0001, 1))
    val r2 = labelMap(operators.GraphOps.louvainLabels(spark, sf0001))
    // Ascent monotonicity across every rung: singletons -> round 1 ->
    // round 2, compared as exact rationals (cross-multiplied BigInts).
    val (q0n, q0d) = modularityOf(singletons)
    val (q1n, q1d) = modularityOf(r1)
    val (q2n, q2d) = modularityOf(r2)
    assert(q1n * q0d > q0n * q1d,
      s"louvain round 1 did not ascend from singletons: $q1n/$q1d vs $q0n/$q0d")
    assert(q2n * q1d >= q1n * q2d,
      s"louvain round 2 descended: $q2n/$q2d vs $q1n/$q1d")
    // The ≥-LPA bar (the r17 VERDICT's acceptance line): score both final
    // partitions with the same exact-rational Q.
    val lpaOut = SparkEntry.queries("q_graph_label_propagation")(spark, sf0001)
    // LPA's graded output is the community rollup; rebuild node labels by
    // rerunning its declared 3 synchronous rounds in memory.
    val und = operators.GraphOps.coPurchaseUnd(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = und.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    var lpa = nodes.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      lpa = nodes.map { n =>
        val counts = nbrs(n).map(lpa).groupBy(identity)
          .map { case (l, g) => (l, g.length) }
        val best = counts.toSeq.minBy { case (l, c) => (-c, l) }._1
        n -> best
      }.toMap
    }
    // Cross-check the in-memory LPA against the graded rollup (sizes per
    // community) before using it as the comparison partition.
    val lpaSizes = lpa.groupBy(_._2).map { case (c, g) => (c, g.size.toLong) }
    val gradedSizes = lpaOut.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lpaSizes == gradedSizes, "in-memory LPA diverged from the graded rollup")
    val (qLn, qLd) = modularityOf(lpa)
    assert(q2n * qLd >= qLn * q2d,
      s"louvain Q $q2n/$q2d fell below label propagation's $qLn/$qLd")
    // Phase 2 (coarsening + weighted ascent) must not descend either —
    // and at the graded SFs it genuinely contracts (sf0.01: 412 -> 228).
    val coarse = labelMap(operators.GraphOps.louvainCoarseLabels(spark, sf0001))
    val (qCn, qCd) = modularityOf(coarse)
    assert(qCn * q2d >= q2n * qCd,
      s"louvain coarse Q $qCn/$qCd fell below the fine partition's $q2n/$q2d")
  }

  // ---- q_graph_walks (VERDICT r17 task 4) ----

  test("walks: LCG replay — every row matches the in-memory recurrence") {
    val und = operators.GraphOps.coPurchaseUnd(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = und.groupBy(_._1).map { case (u, es) =>
      u -> es.map(_._2).sorted // rank r = sorted index + 1
    }
    val seeds = adj.keys.toSeq.sorted.take(20)
    val M = 2147483648L
    val expect = seeds.flatMap { s =>
      var state = (1103515245L * s + 12345L) % M
      var node = s
      (s, 0L, s) +: (1 to 8).map { k =>
        state = (1103515245L * state + 12345L) % M
        node =
          if (state % 5 == 0) s
          else adj(node)((state % adj(node).length).toInt)
        (s, k.toLong, node)
      }
    }.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("q_graph_walks")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
  }

  test("biased walks: in-memory second-order replay matches, bias is real") {
    val und = operators.GraphOps.coPurchaseUnd(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = und.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).sorted }
    val edge = und.toSet
    val seeds = adj.keys.toSeq.sorted.take(20)
    val M = 2147483648L
    def step(s: Long) = (1103515245L * s + 12345L) % M
    val expect = seeds.flatMap { sd =>
      var state = step(sd)
      var prev = sd
      // step 1: uniform ranked pick
      state = step(state)
      var node = adj(sd)((state % adj(sd).length).toInt)
      val rows = scala.collection.mutable.ArrayBuffer(
        (sd, 0L, sd), (sd, 1L, node))
      for (k <- 2 to 8) {
        state = step(state)
        val cands = adj(node)
        val wts = cands.map { v =>
          if (v == prev) 1L
          else if (edge.contains((prev, v))) 4L
          else 16L
        }
        val idx = state % wts.sum
        var cum = 0L
        var pick = -1
        var i = 0
        while (pick < 0 && i < cands.length) {
          cum += wts(i); if (idx < cum) pick = i; i += 1
        }
        prev = node
        node = cands(pick)
        rows += ((sd, k.toLong, node))
      }
      rows
    }.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("q_graph_walks_biased")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
    // The bias must actually change trajectories vs the unbiased walk.
    val plain = SparkEntry.queries("q_graph_walks")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got != plain, "biased and unbiased walks coincided everywhere")
  }

  // ---- q_lake_bloom_skip (VERDICT r17 task 1) ----

  test("bloom skip: pruned read ≡ unpruned read (row identity)") {
    val (planned, nLive, probes) =
      operators.LakeOps.bloomPlannedFiles(spark, sf0001)
    assert(nLive == 8 && probes.size == 3)
    val unpruned = operators.LakeOps.bloomUnpruned(spark, sf0001)
      .select($"o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(unpruned == probes.sorted, "the probe read must hit every probe key")
    val graded = SparkEntry.queries("q_lake_bloom_skip")(spark, sf0001)
      .collect().head
    assert(graded.getLong(2) == probes.size.toLong &&
      graded.getLong(3) == probes.sum,
      "pruning dropped probe rows — a false NEGATIVE, which blooms forbid")
  }

  test("bloom skip: planner equals the independent membership predicate; zones cannot prune") {
    val (planned, _, probes) =
      operators.LakeOps.bloomPlannedFiles(spark, sf0001)
    // Independent membership: re-derive each file's occupied positions
    // from the RAW key sets (never the hex bitmaps the planner parses) —
    // a bitmap encode/decode bug on either side breaks the equality.
    val slice = Catalog.load(spark, sf0001, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey").collect().map(_.getLong(0))
    val P = 2147483647L
    val hashes = Seq((1103515245L, 12345L), (69069L, 362437L))
    // Split-block layout: per-hash positions live in disjoint 16384-bit
    // blocks, so membership is per-hash exact (see LakeOps scaladoc).
    def pos(x: Long, h: (Long, Long)) = (((x % P) * h._1 + h._2) % P) % 16384L
    val byFile = slice.groupBy(_ % 8)
    val expectPlanned = (0 until 8).filter { f =>
      val keys = byFile.getOrElse(f.toLong, Array.empty[Long])
      val occupied = hashes.map(h => keys.map(pos(_, h)).toSet)
      probes.exists(p => hashes.zip(occupied)
        .forall { case (h, occ) => occ.contains(pos(p, h)) })
    }.map(f => s"file_$f")
    assert(planned.sorted == expectPlanned.sorted,
      s"planner ${planned.sorted} != membership ${expectPlanned.sorted}")
    // The layout defeats range pruning by construction: every residue
    // file's zone contains every probe, so a zonemap planner keeps all 8.
    val zones = operators.LakeOps.bloomZones(spark, sf0001)
    assert(zones.size == 8)
    probes.foreach(p => zones.values.foreach { case (mn, mx) =>
      assert(mn <= p || p <= mx) })
    val zonePlanned = zones.count { case (_, (mn, mx)) =>
      probes.exists(p => mn <= p && p <= mx) }
    assert(zonePlanned > planned.size,
      "the bloom must out-prune the zonemap on this layout")
  }

  // ---- q_lake_mor_probe ----

  test("mor probe: skipped probe read ≡ unskipped full-MoR read; layers genuinely skip") {
    val (plannedBase, applied, nLive, nLayers, probes) =
      operators.LakeOps.morProbePlan(spark, sf0001)
    assert(nLive == 8 && nLayers == 3 && probes.size == 3)
    // Semantic identity: the full MoR snapshot (every file, every layer)
    // filtered to the probes must equal the graded skipped read's rows.
    val unskipped = operators.LakeOps.morProbeUnskipped(spark, sf0001)
      .select($"o_orderkey", $"cents").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val graded = SparkEntry.queries("q_lake_mor_probe")(spark, sf0001)
      .collect().head
    assert(graded.getLong(4) == unskipped.size.toLong)
    assert(unskipped.map(_._2).sum == graded.getLong(5))
    // The deleted-class probe contributes no row; updated + untouched do.
    assert(unskipped.size == 2)
    // Applied layers: delta1 (probed update class) and edel1 (probed
    // delete class) MUST apply — their probes are true members; delta2's
    // class is never probed, so it applies only on a (split-block,
    // per-hash-exact) false positive — assert against the independent
    // membership predicate rather than a brittle count.
    val appliedPaths = applied.map(_._2)
    assert(appliedPaths.contains("delta1") && appliedPaths.contains("edel1"))
    val P = 2147483647L
    val hashes = Seq((1103515245L, 12345L), (69069L, 362437L))
    def pos(x: Long, h: (Long, Long)) = (((x % P) * h._1 + h._2) % P) % 16384L
    val slice = Catalog.load(spark, sf0001, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey").collect().map(_.getLong(0))
    def memberAny(keys: Array[Long]): Boolean = {
      val occ = hashes.map(h => keys.map(pos(_, h)).toSet)
      probes.exists(p => hashes.zip(occ)
        .forall { case (h, o) => o.contains(pos(p, h)) })
    }
    val d2keys = slice.filter(_ % 20 == 7)
    assert(appliedPaths.contains("delta2") == memberAny(d2keys),
      "delta2's applied flag must equal its independent bloom membership")
    val expectBase = (0 until 8)
      .filter(f => memberAny(slice.filter(_ % 8 == f)))
      .map(f => s"file_$f")
    assert(plannedBase.sorted == expectBase.sorted)
  }

  test("bloom grammar: length-checked, add-exclusive, checkpoint-grade strict") {
    val hex = "ab" * (512 * 8) // 8192 chars = 512 words x 16
    val a = operators.LakeOps.parseAction(
      s"""{"v":3,"op":"add","path":"f1","min":0,"max":9,"rows":4,"bloom":"$hex"}""")
    assert(a.bloom.contains(hex))
    val short = intercept[IllegalArgumentException] {
      operators.LakeOps.parseAction(
        """{"v":3,"op":"add","path":"f1","bloom":"abcd"}""")
    }
    assert(short.getMessage.contains("hex chars"))
    // Layer commits carry blooms too (the mor-probe read path) ...
    val onDelta = operators.LakeOps.parseAction(
      s"""{"v":3,"op":"delta","path":"d1","bloom":"$hex"}""")
    assert(onDelta.bloom.contains(hex))
    // ... but remove/vacuum/conflict never do.
    val onRemove = intercept[IllegalArgumentException] {
      operators.LakeOps.parseAction(
        s"""{"v":3,"op":"remove","path":"f1","bloom":"$hex"}""")
    }
    assert(onRemove.getMessage.contains("only legal on add/delta/edelete"))
  }

  // ---- q_gdpr_dp_rollup (VERDICT r17 task 5) ----

  test("dp rollup: noise is the seeded discrete Laplace draw, bounded, and additive") {
    val rows = SparkEntry.queries("q_gdpr_dp_rollup")(spark, sf0001).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (prio, nTrue, noise, nNoisy) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(noise >= -16 && noise <= 16, s"$prio noise $noise out of ±16")
      assert(nNoisy == nTrue + noise)
      val seed = prio.substring(0, 1).toLong
      assert(noise == operators.Governance.dpNoiseOf(seed),
        s"$prio noise $noise != in-memory inverse-CDF draw")
    }
    // ε-accounting pin: total inverse-CDF mass for α = 1/2, B = 16 —
    // 2^16 + 2·(2^16 − 1); a drifted weight table changes every draw.
    assert((-16 to 16).map(k => 1L << (16 - math.abs(k))).sum == 196606L)
  }

  // ---- q_ts_backtest (VERDICT r17 task 6) ----

  test("backtest: engine equals the in-memory rolling-origin scorer") {
    val daily = Catalog.load(spark, sf0001, "orders")
      .groupBy(date_trunc("day", $"o_orderdate").as("day"))
      .agg(sum(($"o_totalprice".cast("decimal(14,2)") * 100).cast("long"))
        .as("cents"))
      .orderBy($"day".asc)
      .collect().map(_.getLong(1))
    val expect = (for {
      h <- Seq(1, 3)
      (m, f) <- Seq[(String, Int => Long)](
        ("naive", t => daily(t - h)),
        ("snaive", t => daily(t - 7)),
        ("drift", t => daily(t - h) + Math.floorDiv(
          h * (daily(t - h) - daily(0)), t - h) /* idx-h-1 = (t+1)-h-1;
          floorDiv matches the engine's non-negative-shift FLOOR drift
          (round-19 ADVICE fix) */))
    } yield {
      val ts = (7 + h) until daily.length // idx > 7+h, idx = t+1
      val errs = ts.map(t => math.abs(daily(t) - f(t)))
      val apes = ts.zip(errs).map { case (t, e) => e * 1000000L / daily(t) }
      (m, h.toLong, ts.size.toLong, errs.sum / ts.size, apes.sum / ts.size)
    }).sortBy(r => (r._1, r._2))
    val got = SparkEntry.queries("q_ts_backtest")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expect)
    // Same origin set for every model within a horizon.
    got.groupBy(_._2).foreach { case (_, g) =>
      assert(g.map(_._3).distinct.size == 1) }
  }

  // ---- q_stream_lake_bloom ----

  test("stream bloom sink: graded row equals the independent membership replay") {
    val rows = Catalog.load(spark, sf0001, "orders")
      .select($"o_orderkey",
        ($"o_totalprice".cast("decimal(14,2)") * 100).cast("long")
          .as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val maxk = rows.map(_._1).max
    val probes = Seq(13L, 57L, 21L).map(c =>
      rows.map(_._1).filter(k => k >= maxk / 2 && k % 100 == c).min)
    val feed = rows.filter(r => r._1 % 100 == 13 || r._1 % 100 == 57)
      .map { case (k, c) => (k, c / 3) }
    val P = 2147483647L
    val hashes = Seq((1103515245L, 12345L), (69069L, 362437L))
    def pos(x: Long, h: (Long, Long)) = (((x % P) * h._1 + h._2) % P) % 16384L
    def memberAny(keys: Seq[Long]): Boolean = {
      val occ = hashes.map(h => keys.map(pos(_, h)).toSet)
      probes.exists(p => hashes.zip(occ)
        .forall { case (h, o) => o.contains(pos(p, h)) })
    }
    val expApplied = (0 until 4)
      .count(f => memberAny(feed.filter(_._1 % 4 == f).map(_._1).toIndexedSeq))
    val feedKeys = feed.map(_._1).toSet
    val expCents =
      rows.filter(r => r._1 % 10 < 5 && probes.contains(r._1) &&
        !feedKeys.contains(r._1)).map(_._2).sum +
      feed.filter(r => probes.contains(r._1)).map(_._2).sum
    val g = SparkEntry.queries("q_stream_lake_bloom")(spark, sf0001)
      .collect().head
    assert(g.getLong(1) == 4L) // n_deltas
    assert(g.getLong(2) == expApplied.toLong,
      s"applied deltas ${g.getLong(2)} != independent membership $expApplied")
    assert(g.getLong(3) == 3L && g.getLong(4) == expCents)
    // The probe economics are real only if some delta was skipped —
    // membership-derived, so a false positive can't flake this (both
    // sides see it).
    assert(expApplied < 4, "every delta applied: the skip path never ran")
  }

  test("checkpoint roundtrip preserves file AND layer blooms (strict grammar)") {
    val hexA = "a1" * (512 * 8)
    val hexD = "b2" * (512 * 8)
    val hexE = "c3" * (512 * 8)
    val d = java.nio.file.Files.createTempDirectory("graft_ckpt_bloom_")
    java.nio.file.Files.write(d.resolve("_log.json"), Seq(
      s"""{"v":1,"op":"add","path":"base","min":0,"max":99,"bloom":"$hexA"}""",
      s"""{"v":2,"op":"delta","path":"d1","bloom":"$hexD"}""",
      s"""{"v":3,"op":"edelete","path":"e1","bloom":"$hexE"}"""
    ).mkString("\n").getBytes("UTF-8"))
    operators.LakeOps.writeCheckpointFor(d.toString, 3)
    // Resolve THROUGH the checkpoint (cv = 3, zero tail actions): every
    // bloom and the zone must survive the serialize/parse roundtrip, or a
    // checkpoint-resolved probe read would silently stop skipping.
    val (st, cv, tail) = operators.LakeOps.ckptStateFor(d.toString, 3)
    assert(cv == 3 && tail == 0)
    assert(st.blooms == Map("base" -> hexA, "d1" -> hexD, "e1" -> hexE))
    assert(st.zones == Map("base" -> ((0L, 99L))))
    assert(st.deltas == Seq(("delta", "d1"), ("edelete", "e1")))
  }

  // ---- q_lake_time_travel_ts ----

  test("as-of resolution: boundary, refusals (pre-creation, skew, unstamped)") {
    def dirWith(lines: Seq[String]): String = {
      val d = java.nio.file.Files.createTempDirectory("graft_asof_spec_")
      java.nio.file.Files.write(d.resolve("_log_ts.json"),
        lines.mkString("\n").getBytes("UTF-8"))
      d.toString
    }
    val ok = dirWith(Seq(
      """{"v":1,"op":"add","path":"a","ts":100}""",
      """{"v":2,"op":"add","path":"b","ts":200}"""))
    assert(operators.LakeOps.versionAsOf(ok, 100) == 1) // exact boundary: <=
    assert(operators.LakeOps.versionAsOf(ok, 199) == 1)
    assert(operators.LakeOps.versionAsOf(ok, 5000) == 2)
    val early = intercept[IllegalArgumentException] {
      operators.LakeOps.versionAsOf(ok, 99)
    }
    assert(early.getMessage.contains("predates the first commit"))
    val skew = dirWith(Seq(
      """{"v":1,"op":"add","path":"a","ts":300}""",
      """{"v":2,"op":"add","path":"b","ts":200}"""))
    assert(intercept[IllegalArgumentException] {
      operators.LakeOps.versionAsOf(skew, 400)
    }.getMessage.contains("non-monotone"))
    val split = dirWith(Seq(
      """{"v":1,"op":"add","path":"a","ts":100}""",
      """{"v":1,"op":"add","path":"b","ts":101}"""))
    assert(intercept[IllegalArgumentException] {
      operators.LakeOps.versionAsOf(split, 400)
    }.getMessage.contains("exactly one timestamp"))
    val unstamped = dirWith(Seq(
      """{"v":1,"op":"add","path":"a","ts":100}""",
      """{"v":2,"op":"add","path":"b"}"""))
    assert(intercept[IllegalArgumentException] {
      operators.LakeOps.versionAsOf(unstamped, 400)
    }.getMessage.contains("exactly one timestamp"))
  }

  // ---- q_lake_tag_read / q_gdpr_dp_sum ----

  test("tags: retag-by-append wins; unknown tag refuses with the known set") {
    SparkEntry.queries("q_lake_tag_read")(spark, sf0001).count()
    val base = operators.LakeOps.timeTravelLiveFiles(spark, sf0001, 1).head
      .split("/").dropRight(1).mkString("/")
    assert(operators.LakeOps.versionOfTag(base, "rc") == 7,
      "the later rc tag line must win")
    assert(operators.LakeOps.versionOfTag(base, "ingest_done") == 2)
    val unknown = intercept[IllegalArgumentException] {
      operators.LakeOps.versionOfTag(base, "nope")
    }
    assert(unknown.getMessage.contains("unknown tag") &&
      unknown.getMessage.contains("rc"))
  }

  test("dp sum: C-scaled draw from the second LCG, clipped sum additive") {
    val rows = SparkEntry.queries("q_gdpr_dp_sum")(spark, sf0001).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (prio, clipped, over, noise, noisy) = (r.getString(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(noise % 1000000L == 0L && math.abs(noise) <= 16000000L)
      assert(noisy == clipped + noise)
      assert(over >= 0L)
      val seed = prio.substring(0, 1).toLong
      assert(noise == operators.Governance.dpSumNoiseOf(seed))
      // Decorrelated from the count draw for at least one group.
    }
    val cn = rows.map(r => operators.Governance.dpNoiseOf(
      r.getString(0).substring(0, 1).toLong))
    val sn = rows.map(_.getLong(3) / 1000000L)
    assert(cn.toSeq != sn.toSeq,
      "count and sum draws must not be identical across every group")
  }

  // ---- q_lake_constraints ----

  test("constraints: refusal is transactional — conflict audited, no file landed") {
    SparkEntry.queries("q_lake_constraints")(spark, sf0001).count()
    val base = operators.LakeOps.constraintsBase(spark, sf0001)
    val log = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(base, "_log.json")), "UTF-8")
    assert(log.contains(""""op":"conflict","path":"fileB2""""),
      "the violating batch must leave a conflict audit")
    assert(!log.contains(""""op":"add","path":"fileB2""""))
    val onDisk = new java.io.File(base).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(onDisk == Seq("fileB1", "fileB3", "fileBase"),
      s"the refused batch must land NO data file: $onDisk")
    // Enforcement holds on the live table: zero violating rows.
    val g = SparkEntry.queries("q_lake_constraints")(spark, sf0001)
      .collect().head
    assert(g.getLong(0) == 3L && g.getLong(1) == 1L && g.getLong(4) == 0L)
  }

  // ---- dtw band guard (r17 ADVICE fix) ----

  test("dtw: band = max(n,m)-1 (the silent full-DTW case) now refuses") {
    val over = intercept[IllegalArgumentException] {
      operators.TimeSeries.dtwBandCheck(10, 10, 9)
    }
    assert(over.getMessage.contains("degenerates to full DTW"))
    // The widest genuinely banded setting still passes.
    operators.TimeSeries.dtwBandCheck(10, 10, 8)
    operators.TimeSeries.dtwBandCheck(10, 6, 8)
    val over2 = intercept[IllegalArgumentException] {
      operators.TimeSeries.dtwBandCheck(10, 6, 9)
    }
    assert(over2.getMessage.contains("degenerates to full DTW"))
  }
}
