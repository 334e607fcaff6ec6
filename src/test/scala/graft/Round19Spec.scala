package graft

import org.apache.spark.sql.functions._

/** Round-19 gates: checkpoint persistence of the everAdded schema-fallback
  * set (the r18 ADVICE item); plus the round's new operators as they land
  * (suffix-span dedup, multi-level Louvain, snapshot expiry, MoR-aware MV
  * refresh, graded HNSW).
  */
class Round19Spec extends SparkTestBase {
  import spark.implicits._

  // ---- checkpoint everAdded persistence (r18 ADVICE fix) ----

  /** A file added-then-removed BEFORE the checkpoint is still on disk and
    * still the empty-snapshot schema fallback's source; the checkpoint
    * must persist it (as a `schema` action) so a checkpoint-resolved
    * state's everAdded equals the full-replay everAdded. */
  test("checkpoint persists pre-checkpoint added-then-removed schema sources") {
    val d = java.nio.file.Files.createTempDirectory("graft_ckpt_schema_")
    java.nio.file.Files.write(d.resolve("_log.json"), Seq(
      s"""{"v":1,"op":"add","path":"f1","min":0,"max":9}""",
      s"""{"v":2,"op":"remove","path":"f1"}""",
      s"""{"v":3,"op":"add","path":"f2","min":10,"max":19}"""
    ).mkString("\n").getBytes("UTF-8"))
    operators.LakeOps.writeCheckpoint(d.toString, 3)
    val (st, cv, tail) = operators.LakeOps.ckptState(d.toString, 3)
    assert(cv == 3 && tail == 0)
    assert(st.live == Seq("f2"))
    // f1 must survive resolution THROUGH the checkpoint (it was never
    // vacuumed, so it remains a valid schema source on disk).
    assert(st.everAdded.toSet == Set("f1", "f2"),
      s"everAdded lost a pre-checkpoint schema source: ${st.everAdded}")
    // And a vacuumed file must NOT reappear via the schema record.
    val d2 = java.nio.file.Files.createTempDirectory("graft_ckpt_schema2_")
    java.nio.file.Files.write(d2.resolve("_log.json"), Seq(
      s"""{"v":1,"op":"add","path":"f1","min":0,"max":9}""",
      s"""{"v":2,"op":"remove","path":"f1"}""",
      s"""{"v":3,"op":"vacuum","path":"f1"}""",
      s"""{"v":4,"op":"add","path":"f2","min":10,"max":19}"""
    ).mkString("\n").getBytes("UTF-8"))
    operators.LakeOps.writeCheckpoint(d2.toString, 4)
    val (st2, _, _) = operators.LakeOps.ckptState(d2.toString, 4)
    assert(st2.everAdded.toSet == Set("f2"))
  }

  // ---- q_dedup_suffix_spans (VERDICT r18 task 1) ----

  /** Independent in-memory evaluation of the SEMANTICS (not the
    * algorithm): a position's duplicate extent is the max j ∈ [L, K] such
    * that its j-token prefix occurs ≥ 2 times in the corpus — computed
    * here by brute-force j-gram counting, with NO suffix sorting and NO
    * neighbor LCP. Equality proves the sorted-suffix neighbor-LCP
    * identity (max common prefix with any other suffix is achieved by a
    * sorted neighbor, restricted per band) computes exactly that. */
  test("suffix spans: engine equals brute-force j-gram duplicate extents") {
    val L = 8; val K = 24
    val docs = Catalog.load(spark, sf0001, "documents")
      .select($"doc_id",
        split(operators.LlmPipeline.normText($"text"), " ").as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector)
      .sortBy(_._1)
    val counts = scala.collection.mutable.Map.empty[String, Int]
    for ((_, toks) <- docs; i <- 0 to toks.length - L;
         j <- L to math.min(K, toks.length - i))
      counts.updateWith(toks.slice(i, i + j).mkString(" ")) {
        c => Some(c.getOrElse(0) + 1) }
    val expect = docs.flatMap { case (d, toks) =>
      val ivals = (0 to toks.length - L).flatMap { i =>
        val ext = (L to math.min(K, toks.length - i)).reverseIterator
          .find(j => counts(toks.slice(i, i + j).mkString(" ")) >= 2)
          .getOrElse(0)
        if (ext >= L) Some((i.toLong, i + ext - 1L)) else None
      }
      if (ivals.isEmpty) None
      else {
        val islands = ivals.tail.foldLeft(Vector(ivals.head)) {
          case (acc, (i, e)) =>
            val (s0, e0) = acc.last
            if (i > e0 + 1) acc :+ ((i, e))
            else acc.init :+ ((s0, math.max(e0, e)))
        }
        val removed = islands.map { case (s, e) => e - s + 1 }.sum
        Some((d, islands.size.toLong, removed,
          islands.map { case (s, e) => e - s + 1 }.max,
          toks.length.toLong,
          (toks.length - removed) * 1000000L / toks.length))
      }
    }
    val got = SparkEntry.queries("q_dedup_suffix_spans")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toVector
    assert(got == expect.toVector)
    assert(got.nonEmpty, "fixture must contain duplicated >= 8-token spans")
  }

  test("suffix spans: plan has no cartesian and no global-sort window") {
    val df = SparkEntry.queries("q_dedup_suffix_spans")(spark, sf0001)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "suffix neighbors must meet by band-keyed shuffle, never |P| x |P|")
    // The neighbor-scan window is partitioned by the 8-gram band: its
    // exchange must hash-partition, never collapse to a single partition
    // (a global suffix sort would be the 100-TB scale-killer).
    assert(!plan.contains("SinglePartition"),
      "the suffix sort must decompose into per-band sorts")
  }

  // ---- q_graph_louvain_multi (VERDICT r18 task 4) ----

  /** Newman Q of a (node → lbl) partition over the co-purchase graph, as
    * an exact rational (num, den) — the Round18Spec scorer. */
  private def modularityOf(labels: Map[Long, Long]): (BigInt, BigInt) = {
    val und = operators.GraphOps.coPurchaseUnd(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = und.filter { case (u, v) => u < v }
    val m = BigInt(edges.length)
    val deg = und.groupBy(_._1).map { case (u, es) => u -> BigInt(es.length) }
    val eInByC = edges.filter { case (u, v) => labels(u) == labels(v) }
      .groupBy { case (u, _) => labels(u) }
      .map { case (c, es) => c -> BigInt(es.length) }
    val dTot = deg.groupBy { case (n, _) => labels(n) }
      .map { case (c, ds) => c -> ds.values.sum }
    val num = dTot.keys.toSeq.map { c =>
      4 * m * eInByC.getOrElse(c, BigInt(0)) - dTot(c) * dTot(c)
    }.sum
    (num, 4 * m * m)
  }

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("louvain multi: per-level monotone Q, >= coarse, and a true fixed point") {
    Memo.clearForTest()
    // Level 1 of the multi loop IS the coarse step — exact label equality.
    val coarse = labelMap(operators.GraphOps.louvainCoarseLabels(spark, sf0001))
    val l1 = labelMap(operators.GraphOps.louvainMultiLabels(spark, sf0001, 1))
    assert(l1 == coarse, "multi level 1 must equal the coarse labels")
    // Per-level ascent: Q never descends from level to level.
    val l2 = labelMap(operators.GraphOps.louvainMultiLabels(spark, sf0001, 2))
    val l3 = labelMap(operators.GraphOps.louvainMultiLabels(spark, sf0001, 3))
    val qs = Seq(l1, l2, l3).map(modularityOf)
    qs.sliding(2).foreach { case Seq((an, ad), (bn, bd)) =>
      assert(bn * ad >= an * bd, s"Q descended across a level: $bn/$bd < $an/$ad")
    }
    // Fixed point: the capped run has converged at fixture scale — one
    // more permitted level changes nothing (which is also the exact
    // argument for why the oracle's full unroll equals the early exit).
    val l4 = labelMap(operators.GraphOps.louvainMultiLabels(spark, sf0001, 4))
    assert(l4 == l3, "multi labels must be a fixed point within the level cap")
    // The graded rollup agrees with the converged labels' community sizes.
    val sizes = l3.groupBy(_._2).map { case (c, g) => (c, g.size.toLong) }
    val graded = SparkEntry.queries("q_graph_louvain_multi")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sizes == graded, "graded rollup diverged from the converged labels")
  }

  // ---- q_lake_expire (VERDICT r18 task 5) ----

  test("snapshot expiry: tag/head refusals are transactional, sweep idempotent, safety invariant holds") {
    import java.nio.file.{Files, Paths}
    val base = operators.LakeOps.expireDir(spark, sf0001)
    def logBytes = new String(
      Files.readAllBytes(Paths.get(base, "_log.json")), "UTF-8")
    def diskFiles = new java.io.File(base).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    val (log0, disk0) = (logBytes, diskFiles)
    // v3 is tag-protected: a direct expire REFUSES naming the tag, and
    // transactionally — no log append, no file deletion.
    val e1 = intercept[IllegalArgumentException] {
      operators.LakeOps.expireVersion(base, 3)
    }
    assert(e1.getMessage.contains("protected by tag") &&
      e1.getMessage.contains("audit"))
    // The head snapshot is never expirable.
    val e2 = intercept[IllegalArgumentException] {
      operators.LakeOps.expireVersion(base, 5)
    }
    assert(e2.getMessage.contains("head"))
    assert(logBytes == log0 && diskFiles == disk0,
      "a refused expiry must leave log and disk untouched")
    // A second policy sweep finds nothing: the sweep is idempotent.
    val (exp2, prot2, dead2) = operators.LakeOps.expireSnapshots(
      base, 2, 800000000L + 4 * 86400L)
    assert(exp2.isEmpty && dead2.isEmpty && prot2 == Seq(3))
    assert(logBytes == log0 && diskFiles == disk0)
    // Vacuum safety: fileA (referenced only by expired v1/v2) is gone;
    // fileB/fileC survive because the PROTECTED v3 references them.
    assert(!diskFiles.contains("fileA") &&
      diskFiles.contains("fileB") && diskFiles.contains("fileC"))
    // Time travel to an expired snapshot refuses AT RESOLUTION (before
    // any file is touched), naming the expiring commit.
    val e3 = intercept[IllegalStateException] {
      SparkEntry.queries("q_lake_expire")(spark, sf0001) // scratch built
      operators.LakeOps.readSnapshotForTest(spark, base, 1).count()
    }
    assert(e3.getMessage.contains("expired"))
  }

  // ---- q_mv_incremental_mor (VERDICT r18 task 6) ----

  test("mor-aware mv refresh: equals the full recompute and reads only layer files") {
    val df = SparkEntry.queries("q_mv_incremental_mor")(spark, sf0001)
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // Differential: the retract-and-apply delta rule must equal a full
    // per-status rollup of the v3 MoR snapshot through the shared kernel.
    val base = operators.LakeOps.edelDir(spark, sf0001)
    val full = operators.LakeOps.morSnapshot(spark, base, 3)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum($"cents").cast("long").as("cents_sum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == full, s"refresh diverged from full recompute: $got vs $full")
    // Plan: the graded refresh must touch NO base file — the stale rollup
    // and the affected-key old-image lookup arrive as checkpoint leaves;
    // only the MoR layer files (ed1, up1) are scanned.
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("fileP") && !plan.contains("fileQ"),
      "refresh plan must not rescan base files")
    assert(plan.contains("ed1") && plan.contains("up1"),
      "refresh plan must read the post-watermark MoR layers")
  }

  // ---- q_sim_nn_descent (round 19) ----

  test("nn descent: graded directed edges symmetrize to the HNSW serve graph") {
    val knn = SparkEntry.queries("q_sim_nn_descent")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val sym = operators.VectorServe.hnswGraphLeaf(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(knn.map { case (s, d) => Set((s, d), (d, s)) }
      .foldLeft(Set.empty[(Long, Long)])(_ ++ _) == sym,
      "symmetrized graded edges must equal the HNSW graph leaf")
    // Every src carries at most M=8 ranked neighbors, self excluded.
    val bySrc = knn.groupBy(_._1)
    assert(bySrc.values.forall(_.size <= 8) &&
      knn.forall { case (s, d) => s != d })
  }

  // ---- q_dedup_suffix_cross (round 19) ----

  /** Brute-force cross-corpus semantics: a TRAIN position's extent is the
    * max j ∈ [L, K] whose j-token prefix occurs ANYWHERE in the EVAL
    * corpus — computed by eval-only j-gram counting, no suffix sorting,
    * no windows. Equality proves the in-band nearest-eval-neighbor LCP
    * identity computes exactly that. */
  test("suffix cross: engine equals brute-force eval-side j-gram extents") {
    val L = 8; val K = 24
    val all = Catalog.load(spark, sf0001, "documents")
      .select($"doc_id", $"source",
        split(operators.LlmPipeline.normText($"text"), " ").as("toks"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getSeq[String](2).toVector))
      .sortBy(_._1)
    val evalGrams = scala.collection.mutable.Set.empty[String]
    for ((_, src, toks) <- all if src == "src0";
         i <- 0 to toks.length - L;
         j <- L to math.min(K, toks.length - i))
      evalGrams += toks.slice(i, i + j).mkString(" ")
    val expect = all.filter(_._2 != "src0").flatMap { case (d, _, toks) =>
      val ivals = (0 to toks.length - L).flatMap { i =>
        val ext = (L to math.min(K, toks.length - i)).reverseIterator
          .find(j => evalGrams(toks.slice(i, i + j).mkString(" ")))
          .getOrElse(0)
        if (ext >= L) Some((i.toLong, i + ext - 1L)) else None
      }
      if (ivals.isEmpty) None
      else {
        val islands = ivals.tail.foldLeft(Vector(ivals.head)) {
          case (acc, (i, e)) =>
            val (s0, e0) = acc.last
            if (i > e0 + 1) acc :+ ((i, e))
            else acc.init :+ ((s0, math.max(e0, e)))
        }
        val removed = islands.map { case (s, e) => e - s + 1 }.sum
        Some((d, islands.size.toLong, removed,
          islands.map { case (s, e) => e - s + 1 }.max,
          toks.length.toLong,
          (toks.length - removed) * 1000000L / toks.length))
      }
    }
    val got = SparkEntry.queries("q_dedup_suffix_cross")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toVector
    assert(got == expect.toVector)
    assert(got.nonEmpty, "fixture must contain train spans leaked from eval")
  }

  // ---- q_graph_louvain_refine (round 19) ----

  test("louvain refine: every refined community is connected; no-op on a connected partition") {
    Memo.clearForTest()
    val multi = labelMap(operators.GraphOps.louvainMultiLabels(spark, sf0001))
    val refined = SparkEntry.queries("q_graph_louvain_refine")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val und = operators.GraphOps.coPurchaseUnd(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = und.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }
    // Rebuild node-level refined labels in memory (intra-edge components,
    // min-member ids) and check them against the graded rollup sizes.
    def components(labels: Map[Long, Long]): Map[Long, Long] = {
      val byC = labels.groupBy(_._2).view.mapValues(_.keySet).toMap
      byC.values.flatMap { nodes =>
        var rest = nodes.toSet
        val out = scala.collection.mutable.Map.empty[Long, Long]
        while (rest.nonEmpty) {
          var seen = Set(rest.head); var frontier = Set(rest.head)
          while (frontier.nonEmpty) {
            val next = frontier.flatMap(n =>
              adj.getOrElse(n, Set.empty).intersect(rest)) -- seen
            seen ++= next; frontier = next
          }
          val lbl = seen.min
          seen.foreach(n => out(n) = lbl)
          rest --= seen
        }
        out
      }.toMap
    }
    val expected = components(multi)
    val sizes = expected.groupBy(_._2).map { case (c, g) => (c, g.size.toLong) }
    assert(sizes == refined,
      "graded refine rollup diverged from in-memory intra-edge components")
    // LEIDEN INVARIANT: every refined community is connected — refining
    // the refined labels is a fixed point.
    assert(components(expected) == expected,
      "a refined community is still disconnected")
    // No-op correctness: sf0.001's multi partition has no disconnected
    // community, so refinement preserves the partition AS A SET OF SETS.
    val multiSets = multi.groupBy(_._2).values.map(_.keySet).toSet
    val refinedSets = expected.groupBy(_._2).values.map(_.keySet).toSet
    assert(refinedSets == multiSets,
      "refinement must not split a connected community")
  }

  // ---- q_lake_wap (round 19) ----

  test("wap: staged commits are invisible on main until publish; refusal is transactional on both refs") {
    import java.nio.file.{Files, Paths}
    import java.nio.charset.StandardCharsets.UTF_8
    import scala.jdk.CollectionConverters._
    val base = Files.createTempDirectory("graft_wap_spec_").toString
    Files.write(Paths.get(base, "_constraint"),
      "o_orderkey % 10 < 8".getBytes(UTF_8))
    val orders = Catalog.load(spark, sf0001, "documents") // any keyed rows
      .select($"doc_id".as("o_orderkey"))
    orders.filter(pmod($"o_orderkey", lit(10)) < 3)
      .write.parquet(s"$base/fileA")
    orders.filter(pmod($"o_orderkey", lit(10)) === 6)
      .write.parquet(s"$base/fileX")
    orders.filter(pmod($"o_orderkey", lit(10)) === 8)
      .write.parquet(s"$base/fileY")
    Files.write(Paths.get(base, "_log.json"),
      """{"v":1,"op":"add","path":"fileA"}""".getBytes(UTF_8))
    def mainLog = new String(
      Files.readAllBytes(Paths.get(base, "_log.json")), "UTF-8")
    operators.LakeOps.branchCreate(base, "wip")
    operators.LakeOps.stageOnBranch(base, "wip", "fileX")
    // ISOLATION: main's log is untouched while the commit sits staged.
    assert(!mainLog.contains("fileX"),
      "a staged commit must be invisible on main before publish")
    val (pub, ref) = operators.LakeOps.publishBranch(spark, base, "wip")
    assert(pub == 1 && ref == 0 && mainLog.contains("fileX"))
    // REFUSAL: a violating staged batch never reaches main, the branch
    // rolls back (no fileY add on either ref), and a conflict line lands.
    operators.LakeOps.stageOnBranch(base, "wip", "fileY")
    val (pub2, ref2) = operators.LakeOps.publishBranch(spark, base, "wip")
    val branchLog = new String(Files.readAllBytes(
      Paths.get(base, "_log_wip.json")), "UTF-8")
    assert(pub2 == 0 && ref2 == 1)
    assert(!mainLog.contains(""""op":"add","path":"fileY""""))
    assert(!branchLog.contains("fileY"),
      "a refused staged commit must be discarded from the branch")
    assert(mainLog.contains(""""op":"conflict""""))
    // The rollback renames its rewritten log into place: no temp sibling
    // is left next to the two logs.
    val logs = Files.list(Paths.get(base))
    try assert(logs.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("_log")).toSet == Set("_log.json", "_log_wip.json"))
    finally logs.close()
    // Re-publishing with nothing staged refuses loudly.
    val e = intercept[IllegalArgumentException] {
      operators.LakeOps.publishBranch(spark, base, "wip")
    }
    assert(e.getMessage.contains("nothing staged"))
    // A commit staged AFTER the refusal takes the table-wide next version,
    // past main's conflict line, so it publishes.
    orders.filter(pmod($"o_orderkey", lit(10)) === 7)
      .write.parquet(s"$base/fileZ")
    operators.LakeOps.stageOnBranch(base, "wip", "fileZ")
    assert(operators.LakeOps.publishBranch(spark, base, "wip") == ((1, 0)))
    assert(mainLog.contains(""""op":"add","path":"fileZ""""))
  }

  // ---- q_lake_column_map (round 19) ----

  test("column map: zero-rewrite renames compose per file generation, epoch-correct") {
    SparkEntry.queries("q_lake_column_map")(spark, sf0001).count()
    val base = operators.LakeOps.colmapDir(spark, sf0001)
    // ZERO REWRITE: the pre-rename file's PHYSICAL schema still carries
    // the original column name — renames never touch data bytes.
    assert(spark.read.parquet(s"$base/fileA").columns
      .contains("o_orderstatus"))
    assert(spark.read.parquet(s"$base/fileC").columns.contains("status"))
    // EPOCH-CORRECT TIME TRAVEL: a read at v3 surfaces the logical name
    // current THEN (`status`), composing only v2's rename onto fileA;
    // the head read surfaces `order_state` and neither physical name.
    val v3 = operators.LakeOps.colmapRead(spark, base, 3)
    assert(v3.columns.contains("status") &&
      !v3.columns.contains("order_state") &&
      !v3.columns.contains("o_orderstatus"))
    val head = operators.LakeOps.colmapRead(spark, base, 4)
    assert(head.columns.contains("order_state") &&
      !head.columns.contains("status") &&
      !head.columns.contains("o_orderstatus"))
    // Both generations answer under the one logical column: the v3 read
    // equals the head read up to the rename.
    val a = v3.groupBy($"status").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val b = head.groupBy($"order_state").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("suffix cross: plan has no cartesian and no global-sort window") {
    val df = SparkEntry.queries("q_dedup_suffix_cross")(spark, sf0001)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("SinglePartition"),
      "the cross suffix sort must decompose into per-band sorts")
  }
}
