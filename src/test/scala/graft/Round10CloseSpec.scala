package graft

import org.apache.spark.sql.functions._

/** Round-10 close additions: the transformWithState real streaming run, the
  * layout-compaction operator, the Q10 flavor, and CUSUM changepoints.
  */
class Round10CloseSpec extends SparkTestBase {
  import spark.implicits._

  test("q_stream_transform_state equals batch per-user counts through RocksDB state") {
    val got = SparkEntry.queries("q_stream_transform_state")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = Catalog.load(spark, sf0001, "events")
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
      .orderBy($"user_id".asc_nulls_first)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty)
    assert(got.toSeq == want.toSeq)
  }

  test("transformWithState restores the state-store provider conf after the run") {
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(conf)
    SparkEntry.queries("q_stream_transform_state")(spark, sf0001).collect()
    assert(spark.conf.getOption(conf) == before)
  }

  test("Layout.compact writes size-targeted files and preserves every row") {
    val dir = operators.Layout.compactedLineitem(spark, sf0001)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    // 256 KB target with parquet/snappy variance: no file should exceed 4x.
    assert(files.forall(_.length < (1L << 20)),
      s"oversized compacted file: ${files.map(_.length).max}")
    val n = spark.read.parquet(dir).count()
    val want = Catalog.load(spark, sf0001, "lineitem").count()
    assert(n == want)
  }

  test("Layout.compactedLineitem sizes a directory fixture by its part files") {
    // The same lineitem as one file and as a Spark-written directory of
    // part files (the 10x scale-stress shape): both compact to one count.
    val asDir = java.nio.file.Files.createTempDirectory("graft_layout_spec_")
    try {
      Catalog.load(spark, sf01, "lineitem").repartition(4)
        .write.parquet(Catalog.file(asDir.toString, "lineitem"))
      def files(sfDir: String) =
        new java.io.File(operators.Layout.compactedLineitem(spark, sfDir))
          .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files(sf01) > 1)
      assert(files(asDir.toString) == files(sf01))
    } finally Memo.rmTree(asDir)
  }

  test("q_sql_tpch_q10_flavor broadcasts dims and keeps one fact shuffle") {
    val df = SparkEntry.queries("q_sql_tpch_q10_flavor")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(df.count() == 20)
  }

  test("q_stream_session_window_exec merges gaps like the batch sessionization") {
    val got = SparkEntry.queries("q_stream_session_window_exec")(spark, sf0001)
      .collect()
    assert(got.nonEmpty)
    // Every emitted session spans [min ts, max ts + 30 min) and counts >= 1;
    // starts within a user are strictly increasing and >= 30 min apart
    // (adjacent sessions cannot both exist with a smaller gap — they'd merge).
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val spans = rows.sortBy(_.getTimestamp(1).getTime)
        .map(r => (r.getTimestamp(1).getTime, r.getTimestamp(2).getTime, r.getLong(3)))
      spans.foreach { case (s, e, n) => assert(n >= 1 && e - s >= 30 * 60 * 1000) }
      spans.sliding(2).foreach {
        case Array((_, e1, _), (s2, _, _)) => assert(s2 >= e1)
        case _ =>
      }
    }
  }

  test("chunkDocs: overlap and tail arithmetic on a synthetic 300-token doc") {
    val text = (0 until 300).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val chunks = operators.LlmExtras.chunkDocs(docs, 128L, 112L)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(chunks.map(c => (c._1, c._2, c._3)).toSeq ==
      Seq((0L, 0L, 128L), (1L, 112L, 128L), (2L, 224L, 76L)))
    // Overlap: the last 16 tokens of chunk 0 are the first 16 of chunk 1.
    val c0 = chunks(0)._4.split(" ")
    val c1 = chunks(1)._4.split(" ")
    assert(c0.takeRight(16).toSeq == c1.take(16).toSeq)
    assert(c0.head == "t0" && c1.head == "t112" && chunks(2)._4.endsWith("t299"))
  }

  test("q_ts_changepoint: closed form equals the sequential CUSUM recursion") {
    val rows = SparkEntry.queries("q_ts_changepoint")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    // Recompute x_t from rev_cents and replay S_t = max(0, S_{t-1} + x_t)
    // sequentially; the window closed form must match exactly.
    val revs = rows.map(_._1)
    val n = revs.length.toLong
    val total = revs.sum
    var sPos = 0L
    var sNeg = 0L
    rows.foreach { case (rev, cusumPos, cusumNeg, _) =>
      val x = rev * n - total
      sPos = math.max(0L, sPos + x)
      sNeg = math.max(0L, sNeg - x)
      assert(sPos == cusumPos, s"cusum_pos mismatch: $sPos vs $cusumPos")
      assert(sNeg == cusumNeg, s"cusum_neg mismatch: $sNeg vs $cusumNeg")
    }
    // Exactly the argmax rows carry the peak flag.
    val maxPos = rows.map(_._2).max
    assert(rows.forall(r => r._4 == (r._2 == maxPos)))
  }

  test("windowed-HLL rolling distinct: every day within 10% of the exact twin") {
    val est = SparkEntry.queries("q_win_rolling_distinct_sketch")(spark, sf0001)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    val exact = SparkEntry.queries("q_win_rolling_distinct")(spark, sf0001)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    // The exact twin also emits trailing days past the last active day
    // (expansion); the sketch emits exactly the observed days — compare on
    // the intersection, which must cover every observed day.
    val shared = est.keySet.intersect(exact.keySet)
    assert(shared == est.keySet)
    assert(shared.nonEmpty)
    shared.foreach { d =>
      val (e, x) = (est(d).toDouble, exact(d).toDouble)
      assert(math.abs(e - x) <= 0.10 * x,
        s"day $d: sketch $e vs exact $x drifts > 10%")
    }
  }
}
