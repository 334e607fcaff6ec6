package graft

import org.apache.spark.sql.functions._

/** Round-14 lake invariants: deletion vectors never touch the target
  * file's bytes, schema evolution never leaks a later column into an
  * older snapshot, and vacuum physically removes exactly the dead files
  * while retained snapshots stay readable and pre-horizon travel refuses.
  */
class Round14BSpec extends SparkTestBase {
  import spark.implicits._

  test("DV commit is merge-on-read: fileD bytes untouched, no rewrite file") {
    // Build the scratch by running the graded query once.
    SparkEntry.queries("q_lake_dv")(spark, sf0001).count()
    val d4 = operators.LakeOps.timeTravelLiveFiles(spark, sf0001, 4)
    val d5 = operators.LakeOps.timeTravelLiveFiles(spark, sf0001, 5)
    assert(d4 === d5, "the DV commit must not add/remove any DATA file")
    assert(d5.exists(_.endsWith("fileD")))
    val base = d5.head.stripSuffix("/fileD")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/dv1")),
      "the deletion vector file must exist beside the data files")
    assert(!new java.io.File(base).listFiles().exists(_.getName == "fileD_m"),
      "merge-on-read must not produce a rewritten copy of fileD")
  }

  test("v4 read after the DV landed still sees the unmasked rows") {
    val n4 = operators.LakeOps.snapshotAt(spark, sf0001, 4).count()
    val n5 = operators.LakeOps.snapshotAt(spark, sf0001, 5).count()
    val masked = spark.read.parquet(
      operators.LakeOps.timeTravelLiveFiles(spark, sf0001, 4).head
        .stripSuffix("/fileD") + "/dv1").count()
    assert(masked > 0, "the fixture must actually delete some rows")
    assert(n4 === n5 + masked)
  }

  test("every DV-masked data file holds at most one row per key") {
    // The key-equi anti-join mask equals positional-DV semantics ONLY
    // under per-file key uniqueness (readSnapshot's stated contract,
    // round-15 ADVICE); pin it on the actual masked file.
    SparkEntry.queries("q_lake_dv")(spark, sf0001).count()
    val d5 = operators.LakeOps.timeTravelLiveFiles(spark, sf0001, 5)
    val masked = d5.filter(_.endsWith("fileD"))
    assert(masked.nonEmpty, "the fixture must mask fileD at v5")
    masked.foreach { f =>
      val dup = spark.read.parquet(f).groupBy($"o_orderkey")
        .count().filter($"count" > 1).count()
      assert(dup === 0L, s"masked file $f must have unique keys")
    }
  }

  test("older snapshots never see the evolved column; head reconciles") {
    val s5 = operators.LakeOps.snapshotAt(spark, sf0001, 5)
    val s6 = operators.LakeOps.snapshotAt(spark, sf0001, 6)
    assert(!s5.columns.contains("o_channel"))
    assert(s6.columns.contains("o_channel"))
    // Pre-evolution rows null-fill the new column; fileF rows carry it.
    val byNull = s6.groupBy($"o_channel".isNull.as("is_null")).count()
      .collect().map(r => (r.getBoolean(0), r.getLong(1))).toMap
    assert(byNull.getOrElse(true, 0L) === s5.count())
    assert(byNull.getOrElse(false, 0L) > 0L)
  }

  test("occ: the conflict is audited and both writers' files are live once") {
    SparkEntry.queries("q_lake_occ")(spark, sf0001).count()
    val base = operators.LakeOps.occDir(spark, sf0001)
    val log = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(base, "_log.json")), "UTF-8")
    assert(log.contains(""""op":"conflict""""), "rejected attempt must be audited")
    val adds = """"op":"add","path":"(\w+)"""".r
      .findAllMatchIn(log).map(_.group(1)).toSeq
    assert(adds.sorted == Seq("fileA", "fileB", "fileBase"),
      s"each file must land exactly once, got $adds")
    // A writer that read v1 commits against a head now at v3: refused,
    // naming both versions, and the log is left byte-identical.
    val stale = intercept[IllegalStateException] {
      operators.LakeOps.commit(operators.LakeOps.logPath(base), 1,
        Seq(operators.LakeOps.LakeAction(2, "add", "fileZ")))
    }
    assert(stale.getMessage.contains("v1") && stale.getMessage.contains("v3"))
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(base, "_log.json")), "UTF-8") == log)
  }

  test("join hints are honored: each strategy plans its own operator") {
    def planOf(h: String): String =
      operators.RelationalExtras.hintedJoin(spark, sf0001, h)
        .queryExecution.executedPlan.toString
    assert(planOf("broadcast").contains("BroadcastHashJoin"))
    assert(planOf("merge").contains("SortMergeJoin"))
    assert(planOf("shuffle_hash").contains("ShuffledHashJoin"))
  }

  test("partition evolution: each slice keeps its own hive layout on disk") {
    SparkEntry.queries("q_lake_partition_evolution")(spark, sf0001).count()
    val base = operators.LakeOps.partDir(spark, sf0001)
    def dirs(p: String): Seq[String] =
      new java.io.File(s"$base/$p").listFiles()
        .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs("fileP1").forall(_.startsWith("o_orderstatus=")))
    assert(dirs("fileP1").nonEmpty)
    assert(dirs("fileP2").forall(_.startsWith("o_year=")))
    assert(dirs("fileP2").nonEmpty)
    // Pruning on the evolved axis: a year filter plans only that year's
    // directory of the new-spec slice.
    val one = spark.read.parquet(s"$base/fileP2")
      .filter(col("o_year") === 1995)
      .select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(one.nonEmpty && one.forall(_.contains("o_year=1995")))
  }

  test("codec matrix: three genuinely distinct codecs, identical rows") {
    SparkEntry.queries("q_source_parquet_codecs")(spark, sf0001).count()
    val dir = sources.Scans.codecScratch(spark, sf0001)
    def bytes(c: String): Long =
      new java.io.File(s"$dir/$c").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val sizes = Seq("snappy", "zstd", "gzip").map(c => c -> bytes(c))
    assert(sizes.map(_._2).distinct.size == 3,
      s"codec outputs must differ in size, got $sizes")
    // zstd and gzip both out-compress snappy on this slice.
    val m = sizes.toMap
    assert(m("zstd") < m("snappy") && m("gzip") < m("snappy"), s"$sizes")
  }

  test("shallow clone is zero-copy: the clone dir holds only metadata") {
    SparkEntry.queries("q_lake_clone")(spark, sf0001).count()
    val base = operators.LakeOps.cloneDir(spark, sf0001)
    val entries = new java.io.File(base).listFiles().map(_.getName).sorted.toSeq
    assert(entries === Seq("_log.json", "_source"),
      s"clone dir must hold only the log and the source pointer: $entries")
  }

  test("restore is append-only: v4-v6 reads are unchanged after v7") {
    // The restore commit must not rewrite history — the pre-restore
    // versions keep answering exactly as before it landed.
    val n4 = operators.LakeOps.snapshotAt(spark, sf0001, 4).count()
    val n6 = operators.LakeOps.snapshotAt(spark, sf0001, 6).count()
    val n7 = operators.LakeOps.snapshotAt(spark, sf0001, 7).count()
    val n3 = spark.read.parquet(
      operators.LakeOps.timeTravelLiveFiles(spark, sf0001, 3): _*).count()
    assert(n7 === n3, "restore must reproduce the target version's rows")
    assert(n4 === n3, "v4 compaction preserved rows")
    assert(n6 !== n4, "v6 (DV mask + fileF) must diverge from the clone point")
  }

  test("vacuum removes exactly the dead file and pre-horizon travel refuses") {
    SparkEntry.queries("q_lake_vacuum")(spark, sf0001).count()
    val base = operators.LakeOps.vacuumDir(spark, sf0001)
    val names = new java.io.File(base).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(names === Seq("fileB", "fileC"), s"on-disk after vacuum: $names")
    val log = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(base, "_log.json")), "UTF-8")
    assert(log.contains(""""op":"vacuum","path":"fileA""""))
    // Retained snapshot still reads; pre-horizon versions reference the
    // deleted file and must fail, not silently return partial data.
    assert(spark.read.parquet(s"$base/fileB", s"$base/fileC").count() > 0)
    intercept[Exception] {
      spark.read.parquet(s"$base/fileA").count()
    }
  }
}
