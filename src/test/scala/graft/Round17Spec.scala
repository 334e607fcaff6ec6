package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Round-17 gates: the merge-on-read upsert dialect (r16 VERDICT task 1 —
  * delta-only commit shape, byte-identical base files, MoR ≡ COW
  * equivalence, compaction invariance) and its equality-delete sibling's
  * layer ordering; the MaxSim funnel's recall floor and the banded-LSH
  * variant's recall/pruning operating point; the banded-DTW in-memory-DP
  * equality and band refusals; PPR restart-mass pins; the region-join
  * plan shape; and the lake robustness pins the r16 VERDICT asked for
  * (zoneOf empty-bucket refusal, delta grammar exclusivity).
  */
class Round17Spec extends SparkTestBase {
  import spark.implicits._

  // ---- q_lake_merge_mor (VERDICT r16 task 1) ----

  test("mor merge: the upsert commit writes ONLY a delta file") {
    val base = operators.LakeOps.morDir(spark, sf0001)
    val log = new String(Files.readAllBytes(Paths.get(base, "_log.json")))
      .split("\n").toSeq
    val v2 = log.filter(_.contains("\"v\":2"))
    assert(v2 == Seq("""{"v":2,"op":"delta","path":"delta1"}"""),
      s"the MoR merge commit must be exactly one delta action, got $v2")
    // Base files survive the commit under their original paths AND the
    // on-disk parquet bytes are untouched (no rewrite, not even an
    // equal-content one — MoR's whole point is zero rewrite).
    for (f <- Seq("fileB", "fileC")) {
      val dir = new java.io.File(s"$base/$f")
      assert(dir.isDirectory, s"$f must survive the merge commit")
      val parts = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.nonEmpty)
      val delta = Files.getLastModifiedTime(
        Paths.get(base, "delta1")).toMillis
      parts.foreach { p =>
        assert(p.lastModified() <= delta,
          s"$f was written after the delta — a rewrite happened")
      }
    }
  }

  test("mor merge: v2 read equals the COW merge result (MoR == COW)") {
    val base = operators.LakeOps.morDir(spark, sf0001)
    val mor = operators.LakeOps.morSnapshot(spark, base, 2)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum($"cents").cast("long").as("cents_sum"))
    val cow = SparkEntry.queries("q_lake_merge")(spark, sf0001)
    val l = mor.orderBy($"o_orderstatus").collect().toSeq
    val r = cow.collect().toSeq
    assert(l == r, "same source batch, same base slices — the two write " +
      "dialects must read back identical tables")
  }

  test("mor merge: compaction folds the delta without changing the table") {
    val base = operators.LakeOps.morDir(spark, sf0001)
    val v2 = operators.LakeOps.morSnapshot(spark, base, 2)
      .orderBy($"o_orderkey").collect().toSeq
    val v3 = operators.LakeOps.morSnapshot(spark, base, 3)
      .orderBy($"o_orderkey").collect().toSeq
    assert(v2 == v3, "compaction is a layout move, never a data change")
    // Post-compaction state: one live file, zero outstanding deltas —
    // the read-amplification layer is gone.
    val head = log3(base).filter(_.contains("\"v\":3"))
    assert(head.count(_.contains("\"op\":\"remove\"")) == 3)
    assert(head.count(_.contains("\"op\":\"add\"")) == 1)
  }

  private def log3(base: String): Seq[String] =
    new String(Files.readAllBytes(Paths.get(base, "_log.json")))
      .split("\n").toSeq

  test("mor merge: updated rows keep the base status and take source cents") {
    val base = operators.LakeOps.morDir(spark, sf0001)
    // Matched keys (k % 100 == 42 inside the base predicate) exist only in
    // fileC (k % 10 == 2 < 3 requires status F): every matched row must
    // keep status F while its cents halve vs the base copy.
    val baseRows = spark.read.parquet(s"$base/fileB", s"$base/fileC")
      .filter(pmod($"o_orderkey", lit(100)) === 42)
      .select($"o_orderkey", $"o_orderstatus".as("s0"), $"cents".as("c0"))
    assert(baseRows.count() > 0, "fixture must produce matched keys")
    val merged = operators.LakeOps.morSnapshot(spark, base, 2)
      .join(baseRows, Seq("o_orderkey"))
    assert(merged.filter($"o_orderstatus" =!= $"s0").count() == 0,
      "updates must keep the base status (the COW merge contract)")
    assert(merged.filter($"cents" =!= expr("c0 div 2")).count() == 0,
      "updates must take the source cents")
  }

  // ---- q_sim_maxsim (VERDICT r16 task 2) ----

  test("maxsim: funnel keeps >=80% of the unfiltered late-interaction top-5") {
    import org.apache.spark.sql.expressions.Window
    // Test-only exact oracle: MaxSim over ALL candidates (no pooled-dot
    // stage-1 filter) at sf0.001 — the funnel's recall ground truth.
    val e = Catalog.load(spark, sf0001, "embeddings")
      .select($"vec_id",
        transform($"embedding",
          v => floor(v.cast("double") * lit(1000000d)).cast("long")).as("e"))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), _ + _)
    def tok(c: org.apache.spark.sql.Column, t: Int) = slice(c, t * 16 + 1, 16)
    val probes = e.filter($"vec_id" < 8)
      .select($"vec_id".as("probe_id"), $"e".as("pe"))
    val ts = 0 until 4
    val ms = ts.map { tq =>
      greatest(ts.map(td => dot(tok($"pe", tq), tok($"ce", td))): _*)
    }.reduce(_ + _)
    val w = Window.partitionBy($"probe_id")
      .orderBy($"maxsim".desc, $"cand_id".asc)
    val exact = e.select($"vec_id".as("cand_id"), $"e".as("ce"))
      .join(broadcast(probes), $"cand_id" =!= $"probe_id")
      .select($"probe_id", $"cand_id", ms.as("maxsim"))
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 5)
      .select($"probe_id", $"cand_id")
    val got = SparkEntry.queries("q_sim_maxsim")(spark, sf0001)
      .select($"probe_id", $"cand_id")
    val hit = got.join(exact, Seq("probe_id", "cand_id"), "left_semi").count()
    val total = exact.count()
    assert(total == 40L)
    assert(hit.toDouble / total >= 0.8,
      s"funnel recall ${hit.toDouble / total} < 0.8 — the pooled-dot " +
        "stage-1 filter is discarding true late-interaction winners")
  }

  // ---- q_ts_dtw_banded (VERDICT r16 task 3) ----

  test("dtw: wavefront result equals the classic in-memory DP") {
    import org.apache.spark.sql.expressions.Window
    // Rebuild the bounded PAA segments (10 per priority) and run the
    // textbook banded DP driver-side — the q_graph_mst in-memory-Kruskal
    // equality precedent.
    val daily = Catalog.load(spark, sf0001, "orders")
      .groupBy($"o_orderpriority".as("p"),
        date_trunc("day", $"o_orderdate").as("day"))
      .agg(sum(($"o_totalprice".cast("decimal(14,2)") * 100).cast("long"))
        .as("cents"))
    val w = Window.partitionBy($"p").orderBy($"day".asc)
    val seg = daily.select($"p", $"cents",
        (row_number().over(w) - 1).cast("long").as("idx"),
        count(lit(1)).over(Window.partitionBy($"p")).as("n"))
      .groupBy($"p", expr("idx * 10 div n").as("s"))
      .agg(expr("sum(cents) div count(1)").as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val series = seg.groupBy(_._1).map { case (p, rows) =>
      p -> rows.sortBy(_._2).map(_._3)
    }
    val band = 2
    def dtw(x: Array[Long], y: Array[Long]): Long = {
      val n = x.length
      val inf = Long.MaxValue / 4
      val d = Array.fill(n + 1, n + 1)(inf)
      for (i <- 1 to n; j <- 1 to n if math.abs(i - j) <= band) {
        val c = math.abs(x(i - 1) - y(j - 1))
        val best =
          if (i == 1 && j == 1) 0L
          else math.min(d(i - 1)(j), math.min(d(i)(j - 1), d(i - 1)(j - 1)))
        if (best < inf) d(i)(j) = c + best
      }
      d(n)(n)
    }
    val expect = (for {
      (pa, xa) <- series; (pb, xb) <- series if pa < pb
    } yield (pa, pb, dtw(xa, xb))).toSeq.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("q_ts_dtw_banded")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(got == expect)
  }

  test("dtw: under- and over-band refuse loudly") {
    val under = intercept[IllegalArgumentException] {
      operators.TimeSeries.dtwBandCheck(10, 6, 2)
    }
    assert(under.getMessage.contains("no monotone warping path"))
    val over = intercept[IllegalArgumentException] {
      operators.TimeSeries.dtwPlan(spark, sf0001, 10)
    }
    assert(over.getMessage.contains("degenerates to full DTW"))
  }

  // ---- q_graph_ppr (VERDICT r16 task 6) ----

  test("ppr: restart mass pins every seed; mass stays in the neighborhood") {
    val out = SparkEntry.queries("q_graph_ppr")(spark, sf0001)
    val rows = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seeds = rows.keys.filter(_ % 20 == 1).toSeq
    assert(seeds.nonEmpty)
    // Every seed carries at least the restart term (0.15 x 10^9): the
    // union-then-sum combine can only ADD inflow on top of it.
    seeds.foreach(s => assert(rows(s) >= 150000000L,
      s"seed $s lost its restart mass"))
    // Emitted mass is strictly positive, and the row set is a strict
    // subset of the graph's nodes (rank concentrated, not global).
    assert(rows.values.forall(_ > 0L))
    val nNodes = operators.GraphOps.coPurchaseUnd(spark, sf0001)
      .select($"u").distinct().count()
    assert(rows.size < nNodes,
      "a seeded walk must not reach every node in 4 hops on this graph")
  }

  // ---- q_sim_maxsim_lsh: recall + pruning ----

  test("maxsim lsh: banded buckets keep >=0.6 of the exact funnel top-5 " +
    "while pruning the candidate set") {
    val exact = SparkEntry.queries("q_sim_maxsim")(spark, sf0001)
      .select($"probe_id", $"cand_id")
    val lsh = SparkEntry.queries("q_sim_maxsim_lsh")(spark, sf0001)
      .select($"probe_id", $"cand_id")
    val total = exact.count()
    val hit = lsh.join(exact, Seq("probe_id", "cand_id"), "left_semi").count()
    assert(total == 40L)
    assert(hit.toDouble / total >= 0.6,
      s"banded token-LSH recall ${hit.toDouble / total} < 0.6 " +
        "(measured 0.75 at sf0.01 on the isotropic fixtures)")
    // The pruning claim: no probe's candidate set approaches the corpus.
    val counts = operators.VectorServe.maxsimLshCandCount(spark, sf0001)
      .collect().map(_.getLong(1))
    val corpus = Catalog.load(spark, sf0001, "embeddings").count()
    assert(counts.forall(_ < (corpus * 3) / 4),
      s"candidate sets ${counts.toSeq} do not prune vs corpus $corpus")
  }

  // ---- q_lake_delete_mor layer ordering ----

  test("edelete: a deleted-then-upserted key is present with upsert values") {
    val base = operators.LakeOps.edelDir(spark, sf0001)
    val v2 = operators.LakeOps.morSnapshot(spark, base, 2)
    assert(v2.filter(pmod($"o_orderkey", lit(7)) === 3).count() == 0,
      "the v2 equality-delete layer must mask every key = 3 mod 7")
    val v3 = operators.LakeOps.morSnapshot(spark, base, 3)
    val reinserted = v3.filter(pmod($"o_orderkey", lit(14)) === 3)
    assert(reinserted.count() > 0,
      "v3 must reinsert the upserted subset of the deleted keys")
    // Upserted values, not the originals: cents = base cents div 4.
    val orig = Catalog.load(spark, sf0001, "orders")
      .filter(pmod($"o_orderkey", lit(14)) === 3)
      .select($"o_orderkey",
        expr("cast(cast(o_totalprice as decimal(14,2)) * 100 as long) div 4")
          .as("c4"))
    assert(reinserted.join(orig, Seq("o_orderkey"))
      .filter($"cents" =!= $"c4").count() == 0)
    // Keys deleted and NOT upserted stay gone at v3.
    assert(v3.filter(pmod($"o_orderkey", lit(7)) === 3 &&
      pmod($"o_orderkey", lit(14)) =!= 3).count() == 0)
  }

  // ---- q_geo_region_join plan shape ----

  test("region join: executed plan is equi-join only, no cartesian") {
    val df = SparkEntry.queries("q_geo_region_join")(spark, sf0001)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "region-overlap candidates must meet by covering-cell equi-join, " +
        "never |A| x |B|")
  }

  // ---- lake robustness pins (VERDICT r16 'what's wrong') ----

  test("zoneOf: an empty bucket refuses with a descriptive error") {
    val e = intercept[IllegalArgumentException] {
      operators.LakeOps.zoneOf(Map.empty[Long, (Long, Long)], 3L, "key-range")
    }
    assert(e.getMessage.contains("empty key-range zone bucket 3"))
  }

  test("action grammar: delta parses; stats or dv on a delta refuse") {
    val a = operators.LakeOps.parseAction(
      """{"v":2,"op":"delta","path":"delta1"}""")
    assert(a.op == "delta" && a.path == "delta1")
    intercept[IllegalArgumentException] {
      operators.LakeOps.parseAction(
        """{"v":2,"op":"delta","path":"d","min":1,"max":2}""")
    }
    intercept[IllegalArgumentException] {
      operators.LakeOps.parseAction(
        """{"v":2,"op":"delta","path":"d","dv":"x"}""")
    }
  }
}
