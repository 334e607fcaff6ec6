package graft

import org.apache.spark.sql.functions._

/** Round-15 lake invariants: the strict commit-log grammar raises on
  * malformed actions instead of silently dropping them, checkpoint-replay
  * is identical to full-replay at EVERY version of the checkpoint table,
  * and zone-map file skipping plans strictly fewer files while returning
  * exactly the unpruned filtered rows.
  */
class Round15Spec extends SparkTestBase {
  import spark.implicits._

  // ---- strict log parsing (VERDICT r14 task 7) ----

  test("well-formed actions parse with every optional field") {
    val a = operators.LakeOps.parseAction(
      """{"v":7,"op":"add","path":"file_3","min":-4,"max":99}""")
    assert(a.v === 7 && a.op === "add" && a.path === "file_3")
    assert(a.minKey === Some(-4L) && a.maxKey === Some(99L))
    val d = operators.LakeOps.parseAction(
      """{"v":5,"op":"dv","path":"fileD","dv":"dv1"}""")
    assert(d.dv === Some("dv1") && d.minKey.isEmpty)
    assert(operators.LakeOps.parseAction(
      """{"v":3,"op":"conflict","path":"fileB"}""").op === "conflict")
  }

  test("malformed commit-log actions raise, never silently drop") {
    val bad = Seq(
      """{"v":1,"op":"frobnicate","path":"fileA"}""", // unknown op
      """{"v":1,"op":"add"}""", // missing path
      """{"op":"add","path":"fileA"}""", // missing version
      """{"v":1,"op":"add","path":"fileA"} trailing""", // trailing junk
      """{"v":1,"op":"dv","path":"fileD"}""", // dv action without dv file
      """{"v":1,"op":"remove","path":"fileA","dv":"dv1"}""", // dv on non-dv
      """{"v":1,"op":"remove","path":"fileA","min":0,"max":9}""", // zone on non-add
      """not json at all""")
    bad.foreach { l =>
      val e = intercept[IllegalArgumentException] {
        operators.LakeOps.parseAction(l)
      }
      assert(e.getMessage.contains("graft lake"), s"wrong error for: $l")
    }
  }

  // ---- commit-log checkpointing (VERDICT r14 task 2) ----

  test("checkpoint files exist at the declared cadence") {
    SparkEntry.queries("q_lake_checkpoint")(spark, sf0001).count()
    val base = operators.LakeOps.ckptDir(spark, sf0001)
    Seq(5, 10).foreach { v =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(base, s"_ckpt.v$v.json")),
        s"checkpoint _ckpt.v$v.json must exist")
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(base, s"_ckpt.v$v.off")),
        s"tail-seek cursor _ckpt.v$v.off must exist")
    }
    // The cursors point strictly inside the log and advance with the
    // checkpoint version — the O(tail) I/O contract.
    def off(v: Int) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(base, s"_ckpt.v$v.off")), "UTF-8").toLong
    val logSize = java.nio.file.Files.size(
      java.nio.file.Paths.get(base, "_log.json"))
    assert(off(5) > 0L && off(5) < off(10) && off(10) < logSize)
  }

  test("checkpoint-replay equals full-replay at every version") {
    SparkEntry.queries("q_lake_checkpoint")(spark, sf0001).count()
    (1 to 12).foreach { v =>
      val (cLive, cDvs, cv, tailN) =
        operators.LakeOps.checkpointStateAt(spark, sf0001, v)
      val (fLive, fDvs) = operators.LakeOps.fullStateAt(spark, sf0001, v)
      assert(cLive.toSet === fLive.toSet, s"live-set mismatch at v$v")
      assert(cDvs === fDvs, s"dv-map mismatch at v$v")
      // The structural point: the replayed tail is bounded by the
      // checkpoint cadence (in COMMITS; a commit may carry a few actions —
      // the v9 compaction is remove+remove+add), never by the table's
      // total commit count.
      assert(tailN <= 3 * 5, s"tail at v$v must be cadence-bounded, got $tailN")
      if (v >= 5) assert(cv >= 5, s"v$v must resolve through a checkpoint")
    }
  }

  test("head resolution replays O(tail), not O(log)") {
    SparkEntry.queries("q_lake_checkpoint")(spark, sf0001).count()
    val (_, _, cv, tailN) =
      operators.LakeOps.checkpointStateAt(spark, sf0001, 12)
    assert(cv === 10 && tailN === 2,
      s"head must use ckpt v10 + 2 tail actions, got ckpt v$cv + $tailN")
  }

  // ---- TPC-DS batch-3 plan shapes (VERDICT r14 task 4) ----

  test("q14 flavor: the 3-channel intersect is one fused fact pass") {
    val plan = SparkEntry.queries("q_sql_tpcds_q14_flavor")(spark, sf0001)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("l_partkey"))
    assert(scans === 1,
      s"the textbook 3-scan INTERSECT must fuse to ONE lineitem scan, got $scans")
  }

  test("q86 flavor: the rollup runs through a single Expand") {
    val plan = SparkEntry.queries("q_sql_tpcds_q86_flavor")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert("Expand".r.findAllIn(plan).size === 1,
      "exactly one Expand node (one fact pass through the rollup)")
  }

  test("q89 flavor: the moving window runs a rows-bounded frame") {
    val plan = SparkEntry.queries("q_sql_tpcds_q89_flavor")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("specifiedwindowframe(RowFrame, -1, 1)"),
      "the centered 3-month frame must be rows-bounded, not unbounded")
  }

  // ---- zone-map file skipping (VERDICT r14 task 6) ----

  test("zone pruning plans fewer files and returns identical rows") {
    val graded = SparkEntry.queries("q_lake_zonemap")(spark, sf0001)
      .collect().head
    assert(graded.getLong(1) < graded.getLong(0),
      "pruned plan must touch strictly fewer files than the live set")
    assert(graded.getLong(0) === 7L && graded.getLong(1) === 2L)
    // The pruned read's aggregates equal the UNPRUNED read under the same
    // predicate — zone skipping may never change results.
    val un = operators.LakeOps.zonemapUnpruned(spark, sf0001)
      .agg(count(lit(1)), sum($"o_orderkey").cast("long")).collect().head
    assert(graded.getLong(2) === un.getLong(0), "row count drifted")
    assert(graded.getLong(3) === un.getLong(1), "key sum drifted")
  }

  // ---- streaming CDF source (VERDICT r14 task 3) ----

  test("cdf stage: one mtime-ordered change file per commit") {
    val stage = operators.LakeOps.cdfStageDir(spark, sf0001)
    val files = (1 to 7).map(v =>
      new java.io.File(stage, s"cdf_v$v.parquet"))
    files.foreach(f => assert(f.exists(), s"${f.getName} must exist"))
    val mtimes = files.map(_.lastModified())
    assert(mtimes === mtimes.sorted && mtimes.distinct.size === 7,
      "commit order must be encoded in strictly increasing mtimes")
    // The compaction commit nets to ZERO changes — its file is empty.
    assert(spark.read.parquet(s"$stage/cdf_v4.parquet").count() === 0L)
  }

  test("folding the complete change feed reconstructs the head snapshot") {
    val stage = operators.LakeOps.cdfStageDir(spark, sf0001)
    val folded = spark.read.parquet(stage)
      .agg(sum($"delta"), sum($"delta" * $"o_orderkey")).collect().head
    val head = operators.LakeOps.snapshotAt(spark, sf0001, 7)
      .agg(count(lit(1)), sum($"o_orderkey")).collect().head
    assert(folded.getLong(0) === head.getLong(0),
      "net row count must equal the head snapshot's row count")
    assert(folded.getLong(1) === head.getLong(1),
      "net key sum must equal the head snapshot's key sum")
  }

  // ---- HNSW-flavor ANN recall gate (VERDICT r14 task 5) ----

  test("hnsw beam search: recall@3 >= 0.9 against brute force, two SFs") {
    // The q_sim_ann_recall_eval acceptance-gate pattern for the cap-only
    // graph index: both sides rank the same exact-integer d2 grid with
    // the same tie contract, so recall is bit-deterministic per fixture.
    Seq(sf0001, sf01).foreach { sf =>
      val ann = SparkEntry.queries("q_sim_ann_hnsw")(spark, sf)
        .select($"probe_id", $"cand_id")
      val gt = operators.VectorServe.hnswGroundTruth(spark, sf)
      val hit = gt.join(ann, Seq("probe_id", "cand_id")).count()
      val tot = gt.count()
      assert(tot === 30L, s"$sf: 10 probes x top-3 ground truth")
      assert(hit * 10 >= tot * 9,
        s"$sf: recall@3 = $hit/$tot must be >= 0.9")
    }
  }

  test("hnsw serve shape: top-3 per probe, ranked, self excluded") {
    val rows = SparkEntry.queries("q_sim_ann_hnsw")(spark, sf0001).collect()
    assert(rows.length === 30)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1L && r.getLong(1) <= 3L)
      assert(r.getLong(0) !== r.getLong(2), "a probe must not match itself")
    }
  }

  // ---- CDC apply materialization (round-15 extension) ----

  test("cdc apply: every intermediate state equals its snapshot") {
    SparkEntry.queries("q_stream_cdc_apply")(spark, sf0001).count()
    val mat = streaming.Streams.lastCdcApplyMatDir.get
    // Batch k applied commit k+1 (batches are 0-indexed, commits 1-based);
    // the materialized state after it must equal the time-traveled
    // snapshot — key set and row count both.
    (0 to 6).foreach { k =>
      val state = spark.read.parquet(s"$mat/state_$k")
      val snap = operators.LakeOps.snapshotAt(spark, sf0001, k + 1)
      assert(state.count() === snap.count(), s"row count drift at batch $k")
      val diff = state.select($"o_orderkey")
        .exceptAll(snap.select($"o_orderkey")).count()
      assert(diff === 0L, s"key-set drift at batch $k")
    }
  }

  // ---- clustering commit (round-15 extension) ----

  test("clustering turns overlapping zones into disjoint ones") {
    SparkEntry.queries("q_lake_cluster")(spark, sf0001).count()
    val pre = operators.LakeOps.clusterZonesAt(spark, sf0001, 4).values.toSeq
    val post = operators.LakeOps.clusterZonesAt(spark, sf0001, 5).values.toSeq
    assert(pre.size === 4 && post.size === 4)
    // Pre-cluster (hash slices): every pair of zones overlaps.
    for (a <- pre; b <- pre)
      assert(a._1 <= b._2 && b._1 <= a._2, "hash-slice zones must overlap")
    // Post-cluster (range files): zones are pairwise disjoint.
    val sorted = post.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 < b._1,
        s"clustered zones must be disjoint: $a vs $b")
      case _ => ()
    }
  }

  test("clustering preserves data: unpruned reads match across versions") {
    val rows = SparkEntry.queries("q_lake_cluster")(spark, sf0001).collect()
    val (v4, v5) = (rows(0), rows(1))
    assert(v4.getLong(2) === 4L && v5.getLong(2) === 1L,
      "pre-cluster must plan 4 files, post-cluster 1")
    assert(v4.getLong(3) === v5.getLong(3) &&
      v4.getLong(4) === v5.getLong(4),
      "the selective read's aggregates must be identical across the commit")
  }

  test("zone maps survive the compaction and re-add commits") {
    SparkEntry.queries("q_lake_checkpoint")(spark, sf0001).count()
    val base = operators.LakeOps.ckptDir(spark, sf0001)
    // file_9's zone must cover both compacted inputs: its min is the
    // table minimum (bucket 0's min).
    val mins = spark.read.parquet(s"$base/file_9")
      .agg(min($"o_orderkey"), max($"o_orderkey")).collect().head
    val (live, _, _, _) =
      operators.LakeOps.checkpointStateAt(spark, sf0001, 12)
    assert(live.contains("file_9") && live.contains("file_10"))
    // file_9 compacted buckets 0+1, so its zone min IS the table minimum.
    val tableMin = Catalog.load(spark, sf0001, "orders")
      .agg(min($"o_orderkey")).collect().head.getLong(0)
    assert(mins.getLong(0) === tableMin)
  }
}
