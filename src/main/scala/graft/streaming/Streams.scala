package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, TimeMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.{Catalog, Memo, Q, QueryPack}
import graft.Dsl._
import graft.operators.LakeOps

/** SURVEY.md §2.I — the events stream.
  *
  * Five queries (`q_stream_tumbling`, `_sliding`, `_session`, `_dedup`,
  * `_join`) are deterministic BATCH formulations over the events table;
  * their Structured Streaming twins (`readStream` with watermarks) are
  * asserted equal to them in StreamingSpec, WatermarkSpec and
  * StreamJoinSpec. The other 23 are real Structured Streaming runs,
  * hash-graded against DuckDB like every other query: each replays a
  * fixture table, a staged split of it or the lake change feed through
  * the file source with `Trigger.AvailableNow`, and grades a value that is
  * a pure function of the data (an emitted SET restored to order by the
  * final sort, a watermark cutoff the oracle restates, or a merge that is
  * invariant under any micro-batch split). All 23 share one lifecycle,
  * [[withRun]]: scratch dirs deleted in a `finally`, an isolated session
  * for stateful runs ([[stateSession]]), one normalized file [[source]],
  * one start-and-wait site, and shared sinks ([[Run.land]],
  * [[Run.memory]], [[commitLake]]).
  *
  * Scale notes: tumbling/sliding/dedup group by (time bucket, key) — ordinary
  * hash aggregations with map-side partials. Sliding windows multiply rows by
  * window/slide (4x here) before the aggregation, which is the same cost
  * Structured Streaming pays. Sessionization is a per-user window function —
  * one shuffle on user_id.
  */
object Streams extends QueryPack {

  private def tumbling(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Catalog.load(spark, sfDir, "events")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .select($"window.start".as("hour_start"), $"event_type", $"n", $"sum_value")
      .orderBy($"hour_start".asc_nulls_first, $"event_type".asc_nulls_first)
  }

  private def sliding(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // 1-hour window sliding every 15 minutes: each event lands in 4 windows.
    Catalog.load(spark, sfDir, "events")
      .groupBy(window($"ts", "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .select($"window.start".as("win_start"), $"n", $"sum_value")
      .orderBy($"win_start".asc_nulls_first)
  }

  /** Shared sessionization: session id per event, 30-minute gap rule.
    * `gap >= 1800s` starts a new session — the same boundary semantics as
    * Spark's `session_window(ts, "30 minutes")` (sessions merge only while
    * the next event starts strictly inside the previous 30-minute horizon),
    * so the streaming twin is comparable event-for-event.
    */
  private[streaming] def sessionized(events: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gap = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wOrd))
    events
      .withColumn("is_new",
        when(gap.isNull || gap >= lit(1800000000L), lit(1L)).otherwise(lit(0L)))
      .withColumn("session_id", sum(col("is_new")).over(wRun))
  }

  private def sessionAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    sessionized(Catalog.load(spark, sfDir, "events"))
      .groupBy($"user_id", $"session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min($"ts").as("session_start"),
        max($"ts").as("session_end"),
        ((unix_micros(max($"ts")) - unix_micros(min($"ts"))) / lit(1000000L))
          .as("duration_s"))
      .orderBy($"user_id".asc_nulls_first, $"session_id".asc_nulls_first)
  }

  private def dedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Deterministic keep-min dedup (dropDuplicates keeps an arbitrary row —
    // unacceptable in a hash-matched output). Streaming twin:
    // dropDuplicatesWithinWatermark on the same key.
    val w = Window.partitionBy($"user_id", $"event_type",
        date_trunc("day", $"ts"))
      .orderBy($"event_id".asc)
    Catalog.load(spark, sfDir, "events")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"event_id", $"user_id", $"event_type", $"ts", $"value")
      .orderBy($"event_id".asc_nulls_first)
  }

  /** Stream-stream interval join, graded via its deterministic batch
    * formulation: per view event, clicks by the same user inside
    * (view_ts, view_ts + 30 min]. The streaming twin (both sides
    * watermarked, interval-bounded state — see StreamJoinSpec) computes the
    * same pairs; zero-click views are kept (left join) so the output covers
    * the full view stream. One shuffle on user_id; per-user fan-out is
    * bounded by the 30-minute horizon, which is exactly the state bound the
    * streaming form's watermark enforces.
    */
  private def streamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Catalog.load(spark, sfDir, "events")
    val views = ev.filter($"event_type" === "view")
      .select($"event_id".as("view_id"), $"user_id", $"ts".as("view_ts"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("c_id"))
    views.join(clicks,
        $"user_id" === $"c_user" &&
          $"c_ts" > $"view_ts" &&
          $"c_ts" <= $"view_ts" + expr("INTERVAL 30 MINUTES"), "left")
      .groupBy($"view_id", $"user_id", $"view_ts")
      .agg(count($"c_id").as("n_clicks_30m"))
      .orderBy($"view_id".asc_nulls_first)
  }

  private val streamRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One streaming run's lifecycle, shared by every graded run below.
    * Scratch dirs come from [[graft.Memo]] and are all deleted when the
    * run ends, failed or not; [[Run.await]] is the one place a query
    * starts and waits. A run pins its result (`localCheckpoint(true)`)
    * before it returns: Dataset construction analyzes eagerly, so the
    * returned plan reads the pinned rows, not the deleted sink files, and
    * repeated bench rounds in one JVM accumulate no sink tables or temp
    * trees.
    */
  private final class Run(tag: String) {
    val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]

    def dir(kind: String): Path = {
      val d = Memo.tempDir(s"${tag}_$kind")
      dirs += d
      d
    }

    lazy val src: Path = dir("src")
    lazy val ck: Path = dir("ck")
    lazy val out: Path = dir("out")

    /** Runs `w` with `Trigger.AvailableNow` on this run's checkpoint until
      * the source is drained. A second call resumes the same checkpoint
      * (the restart runs' "kill" and recovery).
      */
    def await(w: DataStreamWriter[Row]): Unit =
      w.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck.toString)
        .start()
        .awaitTermination()

    /** foreachBatch landing: appends each batch to [[out]] stamped with its
      * `batch_id` (the latest-version merges read it; the others ignore it).
      */
    val land: (Dataset[Row], Long) => Unit = (batch, id) =>
      batch.withColumn("batch_id", lit(id))
        .write.mode("append").parquet(out.toString)

    /** Fixture `table` linked into [[src]] and streamed on `s`. */
    def fixture(s: SparkSession, sfDir: String, table: String,
                maxFilesPerTrigger: Option[Int] = None): DataFrame = {
      linkFixture(sfDir, table, src)
      source(s, src.toString,
        s.read.parquet(Catalog.file(sfDir, table)).schema, maxFilesPerTrigger)
    }

    /** Drains `df` into a uniquely named append-mode memory sink and returns
      * `finish` over its rows, pinned; the sink view is dropped either way.
      */
    def memory(s: SparkSession, df: DataFrame)(
        finish: DataFrame => DataFrame): DataFrame = {
      val sink = s"graft_${tag}_${streamRuns.incrementAndGet()}"
      try {
        await(df.writeStream.format("memory").queryName(sink)
          .outputMode("append"))
        finish(s.table(sink)).localCheckpoint(true)
      } finally s.catalog.dropTempView(sink)
    }
  }

  private def withRun[T](tag: String)(body: Run => T): T = {
    val run = new Run(tag)
    try body(run) finally run.dirs.foreach(Memo.rmTree)
  }

  /** The isolated session a stateful run executes on. The state-store
    * count equals the shuffle partition count, and every micro-batch
    * commits every store to the checkpoint: for these few-thousand-key
    * states, 32 stores were pure commit overhead (the q_stream_restart r14
    * measurement, ~2x the whole query), so a run uses 4. The
    * stream-stream join uses 8: it keeps four stores per partition
    * (keyToNumValues + keyWithIndexToValue per side), and 32 partitions
    * measured 6.5 s steady against ~2 s for the single-store runs. The
    * count is baked into each run's fresh checkpoint at its first batch,
    * so it is a deployment sizing decision, not an AQE one; a real
    * unbounded deployment sizes it to state volume. `rocksDb` selects the
    * RocksDB provider, which `transformWithState` requires. The confs sit
    * on a `newSession` clone (it shares the SparkContext; only SQL conf
    * and temp views are isolated), so a query running concurrently on the
    * shared session never plans under this run's values and no restore
    * can clobber another run's setting (round-15 ADVICE fix).
    */
  private def stateSession(spark: SparkSession, shufflePartitions: Int = 4,
                           rocksDb: Boolean = false): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    if (rocksDb) s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }

  /** File stream over `dir` with the given schema (the streaming source
    * needs one up front), its time columns normalized to session-tz
    * TIMESTAMP exactly as `Catalog.load` serves batch queries: fixture
    * generations have shipped `ts` as raw nanos longs, as TIMESTAMP_NTZ
    * micros and as adjusted micros.
    */
  private def source(s: SparkSession, dir: String, schema: StructType,
                     maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = s.readStream.schema(schema)
    Catalog.normalize(maxFilesPerTrigger
      .fold(r)(n => r.option("maxFilesPerTrigger", n.toLong)).parquet(dir))
  }

  /** Symlinks fixture `table` into a scratch source dir the file stream
    * can glob (the file source wants a DIRECTORY; a real deployment
    * streams the landing directory itself). Layout-robust: the fixture is
    * a single parquet FILE as generated but a DIRECTORY of part
    * files after any Spark rewrite (e.g. the 10x scale-stress corpus) —
    * file sources don't recurse, so a directory's data files are linked
    * individually.
    */
  private def linkFixture(sfDir: String, table: String, dir: Path): Unit = {
    val fixture = Path.of(Catalog.file(sfDir, table))
    if (Files.isDirectory(fixture)) {
      val ls = Files.list(fixture)
      try ls.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(f => Files.createSymbolicLink(dir.resolve(f.getFileName), f))
      finally ls.close()
    } else Files.createSymbolicLink(dir.resolve(fixture.getFileName), fixture)
  }

  /** The events fixture streamed on an isolated session as (event_id,
    * user_id, event_type, value, ts) through `pipe` into a memory sink,
    * graded as `finish` over the sink's rows.
    */
  private[graft] def eventsRun(spark: SparkSession, sfDir: String, tag: String,
      shufflePartitions: Int = 4, rocksDb: Boolean = false)(
      pipe: DataFrame => DataFrame)(finish: DataFrame => DataFrame): DataFrame =
    withRun(tag) { run =>
      val s = stateSession(spark, shufflePartitions, rocksDb)
      val src = run.fixture(s, sfDir, "events")
        .select("event_id", "user_id", "event_type", "value", "ts")
      run.memory(s, pipe(src))(finish)
    }

  /** A stateful aggregation drained in `mode` on an isolated session, each
    * batch landed with [[Run.land]]; graded as `merge` over the landed rows.
    */
  private def landingRun(spark: SparkSession, tag: String, mode: String,
      rocksDb: Boolean = false)(pipe: (SparkSession, Run) => DataFrame)(
      merge: DataFrame => DataFrame): DataFrame =
    withRun(tag) { run =>
      val s = stateSession(spark, rocksDb = rocksDb)
      run.await(pipe(s, run).writeStream.outputMode(mode).foreachBatch(run.land))
      merge(spark.read.parquet(run.out.toString)).localCheckpoint(true)
    }

  /** Each key's row from the latest landed batch: per-key cumulative
    * aggregates are monotone in batch id, so argmax(batch_id) per key IS
    * the final state under any micro-batch split.
    */
  private def latest(landed: DataFrame, keys: String*): DataFrame =
    landed.withColumn("rk", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col("batch_id").desc)))
      .filter(col("rk") === 1)

  /** Idempotent lake commit of one micro-batch through
    * [[graft.operators.LakeOps.commit]]: write the batch to `lake/rel`,
    * then commit ONE `op` action for it at version `v` on top of `v - 1`
    * (with the batch's split-block bloom over `bloomKey`, if given), so a
    * gap in the versions raises instead of logging out of order. Readers
    * replaying the log never see a half-landed batch, and under
    * foreachBatch's at-least-once retry contract a batch whose path is
    * already logged is skipped, while a half-written data dir is
    * overwritten — a replay can neither duplicate rows nor double-log.
    */
  private[graft] def commitLake(lake: Path, rel: String, op: String, v: Long,
      batch: DataFrame, bloomKey: Option[String] = None): Unit = {
    val log = LakeOps.logPath(lake.toString)
    if (!(Files.exists(log) && LakeOps.readActions(log).exists(_.path == rel))) {
      val b = if (bloomKey.isDefined) batch.localCheckpoint(true) else batch
      b.write.mode("overwrite").parquet(lake.resolve(rel).toString)
      val bloom = bloomKey.map(k => LakeOps.bloomHexes(b, lit(0L), k)
        .getOrElse(0L, LakeOps.emptyBloomHex))
      val ver = Math.toIntExact(v)
      LakeOps.commit(log, ver - 1,
        Seq(LakeOps.LakeAction(ver, op, rel, bloom = bloom)))
    }
  }

  /** The first graded real-streaming run (round 9 close): the
    * custom-state sessionizer ([[StatefulSessionizer]],
    * flatMapGroupsWithState + EventTimeTimeout) over the events table
    * replayed through the file source with `Trigger.AvailableNow`.
    * Deterministic despite micro-batching because the graded value is the
    * emitted session SET (order restored by the final sort), and the
    * watermark cutoff is a pure function of the data: a user's non-final
    * sessions are closed by their successor event (emitted regardless of
    * watermark); the FINAL session of each user is emitted iff the
    * end-of-stream watermark (max event time, ms-floored, minus the 1 s
    * delay) strictly exceeds its horizon (end + 30 min). The oracle
    * reproduces exactly that rule — including the millisecond truncation
    * the state machine's `Timestamp.getTime` arithmetic implies — so the
    * hash check pins real streaming semantics, watermark trimming
    * included, against DuckDB.
    */
  private def customSession(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    eventsRun(spark, sfDir, "cs") { src =>
      StatefulSessionizer.sessions(
        src.withWatermark("ts", "1 second").as[SessEvent]).toDF()
    } { sinkDf =>
      sinkDf
        .select($"user_id", $"start".as("session_start"),
          $"end".as("session_end"), $"n".as("n_events"))
        .orderBy($"user_id".asc_nulls_first, $"session_start".asc_nulls_first)
    }
  }

  /** The SEVENTH graded real-streaming run (added round 10 batch 2): the
    * `foreachBatch` MERGE-SINK pattern — the dominant production landing
    * shape (each micro-batch's updated aggregates upserted into a table;
    * here merge-on-read: partials appended with their batch id, the read
    * side keeps each key's LATEST version). The streaming side is a real
    * update-mode stateful aggregation through the state store; the graded
    * output is the merged final table, which equals the batch aggregate
    * under ANY micro-batch split because per-key cumulative aggregates are
    * monotone in batch id — argmax(batch_id) per key IS the final state.
    *
    * Scale: the state store carries one row per user; each batch lands
    * only CHANGED keys; the merge-on-read is one window over the landed
    * partials, compacted by any later rewrite — exactly how incremental
    * pipelines land 100 TB/day without rewriting the world.
    */
  private def foreachBatchSink(spark: SparkSession, sfDir: String): DataFrame =
    landingRun(spark, "fb", "update") { (s, run) =>
      run.fixture(s, sfDir, "events")
        .select(col("user_id"), col("value"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
    } { landed =>
      latest(landed, "user_id")
        .select(col("user_id"), col("n_events"), col("total_value"))
        .orderBy(col("user_id").asc_nulls_first)
    }

  private val foreachBatchSinkSql = s"""
    SELECT user_id, count(*) AS n_events,
      ${graft.Oracle.dsum("value")} AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id ASC NULLS FIRST"""

  /** The SECOND graded real-streaming query (added round 10): a
    * watermarked append-mode tumbling aggregation actually executed
    * through `readStream` → `withWatermark` → window groupBy →
    * `Trigger.AvailableNow` → memory sink. Deterministic because append
    * mode emits exactly the windows FINALIZED by the end-of-stream
    * watermark, and with AvailableNow the final no-data batch leaves the
    * watermark at a pure function of the data: ms-floored max event time
    * minus the 1 s delay. The emission predicate is `window.end <=
    * watermark` (probed empirically: a window whose end equals the
    * watermark exactly IS emitted), so the oracle recomputes the same
    * hourly aggregate in DuckDB and keeps precisely the windows with
    * end_ms <= max_ts_ms - 1000 — the hash check pins real micro-batch
    * watermark finalization, boundary included, against DuckDB. State is
    * O(open windows × event types); every emitted row has left the state
    * store — the bounded-state posture an unbounded stream needs.
    */
  private def windowedAppend(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    eventsRun(spark, sfDir, "wa") { src =>
      src.withWatermark("ts", "1 second")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
        .select($"window.start".as("hour_start"), $"event_type",
          $"n", $"sum_value")
    } { sinkDf =>
      sinkDf.orderBy($"hour_start".asc_nulls_first,
        $"event_type".asc_nulls_first)
    }
  }

  /** Midpoint-split staging of the events table (early/, late/, buffer/
    * phase dirs), written once through [[graft.Memo]] and shared by the
    * restart and late-drop runs — the split is pure harness setup. Each
    * graded run still pays its full source/checkpoint/sink lifecycles.
    */
  private def midpointStage(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "split") { stage =>
      import spark.implicits._
      val ev = Catalog.load(spark, sfDir, "events")
        .select($"event_id", $"user_id", $"event_type", $"value", $"ts")
      val b = ev.agg(unix_micros(min($"ts")).as("mn"),
        unix_micros(max($"ts")).as("mx")).head()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      // Two filtered writes (measured FASTER than one dynamic-partitioned
      // write at fixture scale — partitionBy pays a per-task partition
      // sort and committer fan-out that dwarfs the second 4 MB-split
      // scan), plus a ZERO-ROW buffer file (its own micro-batch commits a
      // prior batch's watermark into late-filtering effect — see
      // streamLateDrop).
      ev.filter(unix_micros($"ts") <= mid)
        .coalesce(1).write.parquet(s"$stage/early")
      ev.filter(unix_micros($"ts") > mid)
        .coalesce(1).write.parquet(s"$stage/late")
      ev.filter(lit(false)).coalesce(1).write.parquet(s"$stage/buffer")
    }

  /** The midpoint-split files carry Catalog-normalized columns (ts is a
    * proper timestamp), not the raw fixture layout — readers of staged
    * dirs must use this schema, not the fixture's physical one. */
  private def stagedSchema(spark: SparkSession, sfDir: String): StructType =
    Catalog.load(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type", "value", "ts").schema

  /** Copy one staged phase dir's parquet files into `srcDir` under a
    * `prefix`, stamping the COPIES' mtime (the file source batches
    * oldest-mtime-first, so the stamp controls batch order). Per-run
    * copies, not symlinks: a symlink's mtime stamp lands on the SHARED
    * memoized stage file, so two queries with conflicting stamp needs
    * (restart wants all-zero, late-drop needs late<buffer<early) could
    * race under concurrent execution. The staged files are a few MB, so
    * the copy is noise next to the streaming lifecycles being graded.
    */
  private def landStaged(stage: String, tag: String, srcDir: Path,
                         prefix: String, mtimeMs: Long): Unit = {
    val ls = Files.list(Path.of(s"$stage/$tag"))
    try ls.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach { f =>
        val dst = srcDir.resolve(s"${prefix}_${f.getFileName}")
        Files.copy(f, dst)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(mtimeMs))
      }
    finally ls.close()
  }

  /** Bench warm hook: materializes the shared midpoint split. */
  private[graft] def warmStageSplit(spark: SparkSession, sfDir: String): Unit = {
    midpointStage(spark, sfDir)
    ()
  }

  /** The NINTH graded real-streaming run (round 11): CHECKPOINT RECOVERY —
    * the operational half of streaming the other eight runs don't grade.
    * The SAME watermarked append-mode hourly aggregation as
    * q_stream_windowed_append, but the replay is split into TWO
    * `Trigger.AvailableNow` runs sharing ONE checkpoint: the events are
    * partitioned at the midpoint of their time range, run 1 sees only the
    * early file and terminates (the "kill"), then the late file lands and
    * run 2 starts FROM THE CHECKPOINT — recovering the state store
    * (partially-filled windows straddling the split), the watermark, and
    * the file-source/sink progress logs. The sink is a durable parquet
    * FILE sink (a memory sink would lose run 1's emissions at restart);
    * its `_spark_metadata` commit log gives exactly-once across the
    * restart, and the graded output is the union the batch read of the
    * sink returns.
    *
    * Correctness IS the recovery proof: the oracle is the single-run
    * twin's SQL (all events, final-watermark cutoff). A window straddling
    * the split is emitted with its FULL count only if run 2 restored run
    * 1's partial state; run 1's own emissions can never be duplicated or
    * re-opened because every emitted window ends before watermark(run 1)
    * < midpoint < every run-2 event time. Both runs are asserted
    * productive (run 1 emits > 0 windows, run 2 adds more), so the
    * restart path is genuinely exercised, not vacuously green.
    *
    * Scale: this is the posture of every production streaming job —
    * checkpointed progress + durable sink survive process death; the
    * fixture replay just compresses deploy-restart-backfill into one
    * graded query.
    */
  private def streamRestart(spark: SparkSession, sfDir: String): DataFrame =
    withRun("rs") { run =>
      import spark.implicits._
      val stage = midpointStage(spark, sfDir)
      val s = stateSession(spark)
      val schema = stagedSchema(spark, sfDir)
      def runOnce(): Unit = run.await(source(s, run.src.toString, schema)
        .withWatermark("ts", "1 second")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
        .select($"window.start".as("hour_start"), $"event_type",
          $"n", $"sum_value")
        .writeStream.format("parquet")
        .option("path", run.out.toString)
        .outputMode("append"))
      landStaged(stage, "early", run.src, "early", 0L)
      runOnce() // run 1: early half only; terminates = the "kill"
      val n1 = spark.read.parquet(run.out.toString).count()
      landStaged(stage, "late", run.src, "late", 0L)
      runOnce() // run 2: resumes from the shared checkpoint
      // Pin the merged sink rows before the run deletes its scratch. The
      // memoized stage dir is NOT deleted — other queries share it.
      val merged = spark.read.parquet(run.out.toString).localCheckpoint(true)
      val n2 = merged.count()
      require(n1 > 0 && n2 > n1,
        s"restart run not productive in both phases: run1=$n1 total=$n2")
      merged.orderBy($"hour_start".asc_nulls_first,
        $"event_type".asc_nulls_first)
    }

  /** The TENTH graded real-streaming run (round 11): LATE-DATA DROP — the
    * one watermark behavior the other nine runs never exercise (their
    * replays land in one batch or in time order, so nothing is ever
    * late). The split is ADVERSARIAL: the LATE half of the events
    * (ts > midpoint) gets a strictly OLDER mtime so the file source
    * batches it FIRST under `maxFilesPerTrigger = 1`; batch 1 advances
    * the watermark to ms-floor(max ts) − 1 s and batch 2's entire EARLY
    * half arrives below it. Two behaviors PROBED this round shape the
    * design: (1) a streaming AGGREGATION does not drop late rows whose
    * window state was never emitted — it re-creates state and emits at
    * the final flush (so an agg here would quietly produce the full
    * result); the enforced input drop lives in `dropDuplicates` WITH the
    * event-time column among the keys. (2) The late filter runs against
    * the watermark with a ONE-BATCH LAG (the previous batch's committed
    * value), so an EMPTY buffer file sits between the halves — batch 1
    * carries no data but commits the batch-0 watermark into effect.
    * Graded output = the emitted key set = exactly the late half's
    * distinct (user, type, ts) keys; a single surviving early-half key
    * fails the hash.
    *
    * This is the semantics HALF of the late-data story; the operational
    * answer to "don't lose backfills" is q_stream_restart's
    * checkpoint+resume or a batch merge (q_merge_upsert), not a wider
    * watermark.
    */
  private def streamLateDrop(spark: SparkSession, sfDir: String): DataFrame =
    withRun("ld") { run =>
      import spark.implicits._
      val stage = midpointStage(spark, sfDir)
      // A strictly OLDER mtime stamp pins the late half into batch 1.
      landStaged(stage, "late", run.src, "a_late", 0L)
      landStaged(stage, "buffer", run.src, "b_buffer", 3600000L)
      landStaged(stage, "early", run.src, "c_early", 7200000L)
      val s = stateSession(spark)
      run.memory(s, source(s, run.src.toString, stagedSchema(spark, sfDir), Some(1))
        .withWatermark("ts", "1 second")
        .dropDuplicates("user_id", "event_type", "ts")
        .select($"user_id", $"event_type", $"ts")) {
        _.orderBy($"user_id".asc_nulls_first,
          $"event_type".asc_nulls_first, $"ts".asc_nulls_first)
      }
    }

  /** Distinct keys of the late half ONLY (ts strictly above the
    * time-range midpoint): the early half lands entirely below the
    * batch-1 watermark and is dropped row-by-row by the dedup exec.
    */
  private val streamLateDropSql = """
    WITH span AS (
      SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events)
    SELECT DISTINCT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
    FROM events, span WHERE epoch_us(ts) > mid
    ORDER BY user_id ASC NULLS FIRST, event_type ASC NULLS FIRST,
      ts ASC NULLS FIRST"""

  /** The THIRD graded real-streaming run (added round 10): streaming exact
    * dedup actually executed — `dropDuplicatesWithinWatermark` over the
    * replayed events with a 1 s watermark, AvailableNow, append sink. The
    * operator emits each key's FIRST arrival and holds per-key state only
    * until the watermark passes it — the bounded-state dedup a 100 TB/day
    * ingest needs (plain dropDuplicates would keep every key forever).
    * Which PHYSICAL row arrives first per key is partition-order
    * nondeterministic, so the graded projection is the KEY COLUMNS only:
    * the emitted key SET is exactly the distinct-key set, which is what
    * the oracle checks.
    */
  private def dedupExec(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    eventsRun(spark, sfDir, "dd") { src =>
      src.withWatermark("ts", "1 second")
        .withColumn("day", date_trunc("day", $"ts"))
        .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
        .select($"user_id", $"event_type", $"day")
    } { sinkDf =>
      sinkDf.orderBy($"user_id".asc_nulls_first,
        $"event_type".asc_nulls_first, $"day".asc_nulls_first)
    }
  }

  /** The FOURTH graded real-streaming run (added round 10): a genuine
    * STREAM-STREAM interval join executed through the state store — the
    * views and clicks branches of the replayed event stream, each with its
    * own 1 s watermark, inner-joined on user with the click constrained to
    * (view_ts, view_ts + 30 min]. The time-interval condition plus both
    * watermarks is what BOUNDS the join state: each side retains only rows
    * inside the 30-minute horizon behind the watermark, the posture an
    * unbounded 100 TB/day dual-ingest needs (an unconstrained stream-stream
    * join's state grows without limit). Deterministic because the graded
    * value is the matched-pair SET (order restored by the final sort) and
    * an inner join emits every pair whose partners both arrive before
    * state eviction — with the fixture replayed as one file, all data
    * lands in a single micro-batch and the watermark only advances after
    * it, so no pair can lose its partner. The oracle is the equivalent
    * batch interval join, so the hash check pins real state-store join
    * execution against DuckDB. q_stream_join remains the batch/left twin.
    */
  private def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Four state stores per partition: 8 partitions (see stateSession).
    eventsRun(spark, sfDir, "ssj", shufflePartitions = 8) { src =>
      val views = src.filter($"event_type" === "view")
        .select($"event_id".as("view_id"), $"user_id", $"ts".as("view_ts"))
        .withWatermark("view_ts", "1 second")
      val clicks = src.filter($"event_type" === "click")
        .select($"event_id".as("click_id"), $"user_id".as("c_user"),
          $"ts".as("click_ts"))
        .withWatermark("click_ts", "1 second")
      views.join(clicks,
        $"user_id" === $"c_user" &&
          $"click_ts" > $"view_ts" &&
          $"click_ts" <= $"view_ts" + expr("INTERVAL 30 MINUTES"))
        .select($"view_id", $"user_id", $"view_ts", $"click_id", $"click_ts")
    } { sinkDf =>
      sinkDf.orderBy($"view_id".asc_nulls_first, $"click_id".asc_nulls_first)
    }
  }

  /** The FIFTH graded real-streaming run (added round 10): per-user event
    * counting through the Spark 4 `transformWithState` API — the
    * arbitrary-state v2 surface ([[StatefulUserCounter]]) that the engine
    * exposes for custom state machines beyond `flatMapGroupsWithState`
    * (which `q_stream_custom_session` grades). The API requires the RocksDB
    * state-store provider, so the run also exercises the store the engine
    * would use for 100 TB-scale state (changelog checkpointing, off-heap
    * working set), scoped to the run's isolated session with 4 stores
    * (see [[stateSession]]). Each emitted (user, cumulative-count)
    * sequence is strictly increasing, so max() per user equals the total —
    * batching-invariant, hence oracle-exact.
    */
  private def transformState(spark: SparkSession, sfDir: String): DataFrame =
    eventsRun(spark, sfDir, "tws", rocksDb = true) { src =>
      import spark.implicits._
      src.select($"user_id".as[Long], $"event_id".as[Long])
        .groupByKey(_._1)
        .transformWithState(new StatefulUserCounter,
          TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n_events")
    } { sinkDf =>
      import spark.implicits._
      sinkDf.groupBy($"user_id")
        .agg(max($"n_events").as("n_events"))
        .orderBy($"user_id".asc_nulls_first)
    }

  private val transformStateSql = """
    SELECT user_id, count(*) AS n_events
    FROM events GROUP BY user_id
    ORDER BY user_id ASC NULLS FIRST"""

  /** The SIXTH graded real-streaming run (added round 10 close): Spark's
    * NATIVE `session_window` aggregation through the state store — the
    * merging-window machinery `q_stream_custom_session` hand-builds with
    * flatMapGroupsWithState, here exercised as the engine ships it
    * (UpdatingSessionsExec + session-merging state format). Sessions merge
    * on gaps < 30 min; append mode emits exactly the sessions finalized by
    * the end-of-stream watermark: session_end = last event + gap, emitted
    * iff end_ms <= wm_ms with wm = ms-floored max event time − 1 s (same
    * boundary `q_stream_windowed_append` probed empirically; the gap is a
    * whole number of ms, so flooring commutes with the +gap and the oracle
    * can reconstruct the predicate exactly). Output bounds are raw
    * event-time micros (min ts, max ts + gap) — no ms flooring on values,
    * only in the eligibility predicate.
    */
  private def sessionWindowExec(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    eventsRun(spark, sfDir, "sw") { src =>
      src.withWatermark("ts", "1 second")
        .groupBy($"user_id", session_window($"ts", "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id",
          $"session_window.start".as("session_start"),
          $"session_window.end".as("session_end"),
          $"n_events")
    } { sinkDf =>
      sinkDf.orderBy($"user_id".asc_nulls_first, $"session_start".asc_nulls_first)
    }
  }

  private val sessionWindowExecSql = """
    WITH g AS (
      SELECT user_id, event_id, ts,
        epoch_us(ts) - epoch_us(lag(ts, 1) OVER
          (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) AS gap_us
      FROM events),
    s AS (
      SELECT user_id, ts,
        CAST(sum(CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1
                      ELSE 0 END) OVER
          (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS session_id
      FROM g),
    sess AS (
      SELECT user_id,
        min(ts) AS session_start,
        max(ts) + INTERVAL 30 MINUTE AS session_end,
        count(*) AS n_events
      FROM s GROUP BY user_id, session_id)
    SELECT user_id, session_start, session_end, n_events
    FROM sess
    WHERE epoch_us(session_end) // 1000
          <= (SELECT max(epoch_us(ts)) // 1000 FROM events) - 1000
    ORDER BY user_id ASC NULLS FIRST, session_start ASC NULLS FIRST"""

  private val streamStreamJoinSql = """
    SELECT v.event_id AS view_id, v.user_id, v.ts AS view_ts,
      c.event_id AS click_id, c.ts AS click_ts
    FROM events v JOIN events c
      ON c.user_id = v.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    ORDER BY view_id ASC NULLS FIRST, click_id ASC NULLS FIRST"""

  /** The EIGHTH graded real-streaming run (added round 10 batch 5): LEFT
    * OUTER stream-stream join — the state-eviction path none of the other
    * runs exercise. Inner matches emit as they meet (same as
    * q_stream_stream_join); an UNMATCHED view emits with NULL click
    * columns only when the global watermark proves no future click can
    * match it: its join horizon (view_ts + 30 min) has fallen below the
    * watermark. With `Trigger.AvailableNow` the engine runs a final
    * no-new-data batch after the watermark advances to end-of-stream, so
    * the emitted set is a pure function of the data and the oracle can
    * reproduce it exactly: wm_ms = min(side maxima, each µs-floored to
    * ms) − 1000 (two watermark nodes, global = MIN — the documented
    * multi-watermark policy), and a view is finalized-unmatched iff
    * horizon_ms < wm_ms. Views inside the final 30-minute tail stay
    * pending in state forever — exactly what a real deployment observes,
    * and exactly what the oracle's cutoff reproduces.
    */
  private def streamOuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    eventsRun(spark, sfDir, "soj") { src =>
      val views = src.filter($"event_type" === "view")
        .select($"event_id".as("view_id"), $"user_id", $"ts".as("view_ts"))
        .withWatermark("view_ts", "1 second")
      val clicks = src.filter($"event_type" === "click")
        .select($"event_id".as("click_id"), $"user_id".as("c_user"),
          $"ts".as("click_ts"))
        .withWatermark("click_ts", "1 second")
      views.join(clicks,
        $"user_id" === $"c_user" &&
          $"click_ts" > $"view_ts" &&
          $"click_ts" <= $"view_ts" + expr("INTERVAL 30 MINUTES"),
        "leftOuter")
        .select($"view_id", $"user_id", $"view_ts", $"click_id", $"click_ts")
    } { sinkDf =>
      sinkDf.orderBy($"view_id".asc_nulls_first, $"click_id".asc_nulls_first)
    }
  }

  private val streamOuterJoinSql = """
    WITH v AS (
      SELECT event_id AS view_id, user_id, CAST(ts AS TIMESTAMP) AS view_ts
      FROM events WHERE event_type = 'view'),
    c AS (
      SELECT event_id AS click_id, user_id AS c_user,
        CAST(ts AS TIMESTAMP) AS click_ts
      FROM events WHERE event_type = 'click'),
    wm AS (
      SELECT least(
        (SELECT max(epoch_us(view_ts) // 1000) FROM v),
        (SELECT max(epoch_us(click_ts) // 1000) FROM c)) - 1000 AS wm_ms),
    matched AS (
      SELECT v.view_id, v.user_id, v.view_ts, c.click_id, c.click_ts
      FROM v JOIN c ON v.user_id = c.c_user
        AND c.click_ts > v.view_ts
        AND c.click_ts <= v.view_ts + INTERVAL 30 MINUTE),
    unmatched AS (
      SELECT v.view_id, v.user_id, v.view_ts,
        CAST(NULL AS BIGINT) AS click_id,
        CAST(NULL AS TIMESTAMP) AS click_ts
      FROM v, wm
      WHERE NOT EXISTS (
          SELECT 1 FROM c WHERE v.user_id = c.c_user
            AND c.click_ts > v.view_ts
            AND c.click_ts <= v.view_ts + INTERVAL 30 MINUTE)
        AND epoch_us(v.view_ts) // 1000 + 1800000 < wm_ms)
    SELECT * FROM matched
    UNION ALL SELECT * FROM unmatched
    ORDER BY view_id ASC NULLS FIRST, click_id ASC NULLS FIRST"""

  private val dedupExecSql = """
    SELECT DISTINCT user_id, event_type,
      CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
    FROM events
    ORDER BY user_id ASC NULLS FIRST, event_type ASC NULLS FIRST,
      day ASC NULLS FIRST"""

  /** Watermark arithmetic in the oracle: Spark tracks event-time stats in
    * MILLIS (µs-floored per event), so wm_ms = floor(max_us/1000) - 1000,
    * and append finalizes windows with end_ms <= wm_ms.
    */
  private val windowedAppendSql = s"""
    WITH agg AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        event_type, count(*) AS n, ${graft.Oracle.dsum("value")} AS sum_value
      FROM events GROUP BY 1, 2)
    SELECT hour_start, event_type, n, sum_value FROM agg
    WHERE epoch_us(hour_start) // 1000 + 3600000
          <= (SELECT max(epoch_us(ts)) // 1000 FROM events) - 1000
    ORDER BY hour_start ASC NULLS FIRST, event_type ASC NULLS FIRST"""

  /** The state machine works in Timestamp.getTime MILLIS: session bounds,
    * gaps and the timeout horizon are all ms-floored, and the watermark is
    * ms(max ts) - 1000. The oracle mirrors every truncation.
    */
  private val customSessionSql = """
    WITH e AS (
      SELECT user_id, event_id,
        make_timestamp((epoch_us(ts) // 1000) * 1000) AS ts
      FROM events),
    g AS (
      SELECT user_id, event_id, ts,
        epoch_us(ts) - epoch_us(lag(ts, 1) OVER
          (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) AS gap_us
      FROM e),
    s AS (
      SELECT user_id, ts,
        CAST(sum(CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1
                      ELSE 0 END) OVER
          (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS session_id
      FROM g),
    sess AS (
      SELECT user_id, session_id,
        min(ts) AS session_start, max(ts) AS session_end,
        count(*) AS n_events
      FROM s GROUP BY user_id, session_id),
    flagged AS (
      SELECT *,
        session_id = max(session_id) OVER (PARTITION BY user_id) AS is_last
      FROM sess)
    SELECT user_id, session_start, session_end, n_events
    FROM flagged
    WHERE NOT is_last
       OR (SELECT max(epoch_us(ts) // 1000) FROM e) - 1000
          > epoch_us(session_end) // 1000 + 1800000
    ORDER BY user_id ASC NULLS FIRST, session_start ASC NULLS FIRST"""

  /** The ELEVENTH graded real-streaming run (added round 12 batch 7):
    * STREAM-STATIC ENRICHMENT — the dimension-join shape every landing
    * pipeline runs (events keyed by user enriched with the user's nation
    * from the customer/nation dimension tables before landing). The
    * static side is a batch DataFrame joined into the stream; Spark
    * re-plans it per micro-batch with the stream side as the probe —
    * state-free, so the join is deterministic under ANY micro-batch
    * split (unlike stream-stream joins there is no watermark/state
    * interaction to pin), which is what makes an exact oracle possible.
    * The per-event enriched rows are the append-mode output; the graded
    * shape re-aggregates them per nation in `finish` (batch post-sink,
    * the foreachBatchSink precedent).
    *
    * Scale: the dimension side is |customers| rows — broadcast onto the
    * stream so each micro-batch pays a map-side hash join, no shuffle of
    * the event stream at all; at 100 TB/day of events this is the only
    * join shape that keeps enrichment off the shuffle path.
    */
  private def streamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dim = Catalog.load(spark, sfDir, "customer")
      .select($"c_custkey", $"c_nationkey")
      .join(Catalog.load(spark, sfDir, "nation")
        .select($"n_nationkey".as("c_nationkey"), $"n_name"), Seq("c_nationkey"))
      .select($"c_custkey".as("user_id"), $"n_name")
    eventsRun(spark, sfDir, "ss") { src =>
      src.join(broadcast(dim), Seq("user_id"))
        .select($"event_id", $"user_id", $"n_name", $"value")
    } { sinkDf =>
      sinkDf.groupBy($"n_name")
        .agg(count(lit(1)).as("n_events"),
          countDistinct($"user_id").as("n_users"),
          dsum($"value").as("sum_value"))
        .orderBy($"n_name".asc_nulls_first)
    }
  }

  private val streamStaticJoinSql = s"""
    SELECT n.n_name, count(*) AS n_events,
      count(DISTINCT e.user_id) AS n_users,
      ${graft.Oracle.dsum("e.value")} AS sum_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name ASC NULLS FIRST"""

  /** The TWELFTH graded real-streaming run (round 13 batch 11):
    * STREAMING INGESTION INTO A LAKE TABLE — each micro-batch lands as an
    * ATOMIC, IDEMPOTENT `add` commit through [[commitLake]] (the
    * exactly-once recipe on an at-least-once sink hook). The graded
    * output replays the log to the
    * final snapshot and aggregates per event type; insert-only commits
    * commute with aggregation, so the snapshot equals the batch answer
    * under ANY micro-batch split — the oracle aggregates the raw events
    * table directly.
    *
    * Scale: each commit writes only its batch's rows (100 TB/day lands as
    * a sequence of bounded commits, never a table rewrite); the log is
    * O(commits) metadata; the snapshot read plans exactly the live files.
    */
  private def streamLakeSink(spark: SparkSession, sfDir: String): DataFrame =
    withRun("lsink") { run =>
      import spark.implicits._
      val lake = run.dir("lake")
      run.await(run.fixture(spark, sfDir, "events")
        .select($"event_type", $"user_id", $"value")
        .writeStream.outputMode("append")
        .foreachBatch((batch: Dataset[Row], id: Long) =>
          commitLake(lake, s"batch_$id", "add", id + 1, batch)))
      val live = LakeOps.tableLog(lake.toString)
        .map(a => lake.resolve(a.path).toString)
      spark.read.parquet(live: _*)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"), dsum($"value").as("total_value"),
          countDistinct($"user_id").as("n_users"))
        .orderBy($"event_type".asc_nulls_first)
        .localCheckpoint(true)
    }

  private val streamLakeSinkSql = s"""
    SELECT event_type, count(*) AS n_events,
      ${graft.Oracle.dsum("value")} AS total_value,
      count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type ASC NULLS FIRST"""

  /** STREAMING MERGE-ON-READ UPSERT SINK (round 17) — the workload the
    * MoR dialect exists FOR (the r16 VERDICT's own motivation: "why
    * streaming upserts into 100 TB tables are affordable"): a CDC-style
    * full-row upsert feed (each key at most once, so the merged table is
    * independent of the micro-batch split) streams over a base table,
    * and every micro-batch lands ONLY a delta file plus one `delta`
    * commit-log action — the SAME strict grammar and read kernel as
    * `q_lake_merge_mor`, so the batch MoR snapshot read resolves the
    * streamed layers with zero sink-specific code. The base file is
    * never rewritten by any batch (the zero-rewrite-amplification
    * contract); the foreachBatch commit is idempotent on batch replay
    * ([[commitLake]]'s path-logged check).
    * Feed staged as 4 files + maxFilesPerTrigger=1 → a genuine
    * multi-batch lifecycle.
    *
    * Scale: per micro-batch cost is |batch| write + one log line —
    * independent of table size; the read amplification (one keyed
    * anti-join per outstanding delta) is the compactor's bill to
    * amortize, exactly as q_lake_merge_mor's v3 demonstrates. */
  private def streamLakeMor(spark: SparkSession, sfDir: String): DataFrame =
    withRun("lmor") { run =>
      import spark.implicits._
      val lake = run.dir("lake")
      val rows = LakeOps.ordersCents(Catalog.load(spark, sfDir, "orders"))
      rows.filter(pmod($"o_orderkey", lit(10)) < 5)
        .write.parquet(lake.resolve("base").toString)
      val logPath = LakeOps.logPath(lake.toString)
      LakeOps.commit(logPath, 0, Seq(LakeOps.LakeAction(1, "add", "base")))
      // CDC-style full-row upsert feed: keys ≡ 13 mod 100 hit the base
      // (updates), keys ≡ 57 mod 100 do not (inserts); each key appears
      // exactly once, so the merged table is batch-split-invariant.
      rows.filter(pmod($"o_orderkey", lit(100)).isin(13L, 57L))
        .select($"o_orderkey", $"o_orderstatus",
          expr("cents div 3").as("cents"))
        .repartition(4)
        .write.mode("overwrite").parquet(run.src.toString)
      // The graded oracle states n_deltas = 4, which holds iff the staged
      // feed is exactly 4 non-empty part files (Spark omits output files
      // for empty partitions) and maxFilesPerTrigger=1 yields one batch per
      // file. Guard the precondition loudly (round-18 ADVICE fix): a
      // too-small fixture or a file-source batching change must fail with
      // a diagnosis, not a confusing downstream hash mismatch.
      val staged = Option(run.src.toFile.listFiles()).getOrElse(Array.empty)
        .count(f => f.getName.startsWith("part-") && f.length() > 0)
      require(staged == 4,
        s"graft q_stream_lake_mor: staged feed produced $staged part files, " +
          "but the declared lifecycle (and its oracle's n_deltas) needs " +
          "exactly 4 — the fixture's upsert feed is too small or the " +
          "repartition(4) write dropped empty partitions")
      val feed = source(spark, run.src.toString,
        spark.read.parquet(run.src.toString).schema, Some(1))
      run.await(feed.writeStream.outputMode("append")
        .foreachBatch((batch: Dataset[Row], id: Long) =>
          commitLake(lake, s"delta_$id", "delta", id + 2, batch)))
      val nDeltas = LakeOps.readActions(logPath).count(_.op == "delta")
      LakeOps.morSnapshot(spark, lake.toString, Int.MaxValue)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum($"cents").cast("long").as("cents_sum"))
        .select($"o_orderstatus", $"n_rows", $"cents_sum",
          lit(nDeltas.toLong).as("n_deltas"))
        .orderBy($"o_orderstatus".asc_nulls_first)
        .localCheckpoint(true)
    }

  private val streamLakeMorSql = """
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS s,
        CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
      FROM orders WHERE o_orderkey % 10 < 5),
    feed AS (
      SELECT o_orderkey AS k, o_orderstatus AS s,
        CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) // 3 AS c
      FROM orders WHERE o_orderkey % 100 IN (13, 57)),
    merged AS (
      SELECT k, s, c FROM base WHERE k NOT IN (SELECT k FROM feed)
      UNION ALL
      SELECT k, s, c FROM feed)
    SELECT s AS o_orderstatus, count(*) AS n_rows,
      CAST(sum(c) AS BIGINT) AS cents_sum, CAST(4 AS BIGINT) AS n_deltas
    FROM merged GROUP BY 1
    ORDER BY o_orderstatus ASC NULLS FIRST"""

  /** STREAMING BLOOM-CARRYING UPSERT SINK + PROBE READ (round 18) — the
    * end-to-end story the round's two bloom operators build toward:
    * [[streamLakeMor]] showed streaming upserts landing delta-only
    * commits; this sink additionally computes each micro-batch's
    * SPLIT-BLOCK BLOOM (LakeOps.bloomHexes — one word-level aggregation
    * over the batch) and writes it INTO the delta commit line, the way
    * an Iceberg writer attaches delete-file stats at commit time. The
    * graded read is then a bloom-skipped POINT LOOKUP over the streamed
    * table (LakeOps.bloomProbeRead): three mid-domain probes — an
    * updated key (feed class 13), an inserted key (class 57, absent
    * from the base), and an untouched base key (class 21) — plan the
    * base by its bloom and fold ONLY the delta layers whose bloom
    * answers "maybe". The feed is staged as 4 DETERMINISTIC class files
    * (key mod 4), one micro-batch each, so every delta's content — and
    * hence its bloom and its applied-flag — is a relational statement
    * the oracle restates exactly (a round-robin split would make the
    * per-delta blooms unstatable). Commit idempotency on replay is
    * [[commitLake]]'s path-logged check.
    *
    * Scale: the per-batch bloom costs one bounded aggregation over the
    * batch (512 words); the probe read pays |might-contain layers|, not
    * |layers since compaction| — the streaming-upsert read-amplification
    * fix, now attached at the only place it can be (write time). */
  private def streamLakeBloom(spark: SparkSession, sfDir: String): DataFrame =
    withRun("lbloom") { run =>
      import spark.implicits._
      val lake = run.dir("lake")
      val rows = LakeOps.ordersCents(Catalog.load(spark, sfDir, "orders"))
      val baseDf = rows.filter(pmod($"o_orderkey", lit(10)) < 5)
      baseDf.write.parquet(lake.resolve("base").toString)
      val baseHex = LakeOps.bloomHexes(baseDf, lit(0L), "o_orderkey")(0L)
      val logPath = LakeOps.logPath(lake.toString)
      LakeOps.commit(logPath, 0,
        Seq(LakeOps.LakeAction(1, "add", "base", bloom = Some(baseHex))))
      val feed = rows.filter(pmod($"o_orderkey", lit(100)).isin(13L, 57L))
        .select($"o_orderkey", $"o_orderstatus",
          expr("cents div 3").as("cents"))
        .localCheckpoint(true)
      // Deterministic class staging: one file per key-residue class so each
      // micro-batch (maxFilesPerTrigger=1) is a relationally-statable set.
      (0 until 4).foreach { i =>
        val sub = feed.filter(pmod($"o_orderkey", lit(4)) === i.toLong)
        val tmp = run.dir("tmp")
        sub.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
          .find(f => f.getName.startsWith("part-") && f.length() > 0)
          .getOrElse(throw new IllegalStateException(
            s"graft q_stream_lake_bloom: feed class $i staged no rows — " +
              "the fixture's upsert feed is too small for 4 deterministic " +
              "micro-batches"))
        Files.move(part.toPath, run.src.resolve(s"feed_$i.parquet"))
      }
      val feedSrc = source(spark, run.src.toString,
        spark.read.parquet(run.src.toString).schema, Some(1))
      run.await(feedSrc.writeStream.outputMode("append")
        .foreachBatch((batch: Dataset[Row], id: Long) =>
          commitLake(lake, s"delta_$id", "delta", id + 2, batch,
            bloomKey = Some("o_orderkey"))))
      val nDeltas = LakeOps.readActions(logPath).count(_.op == "delta")
      require(nDeltas == 4,
        s"graft q_stream_lake_bloom: $nDeltas delta commits landed, but " +
          "the declared lifecycle (and its oracle) needs exactly 4")
      // Mid-domain probes: updated (13), inserted (57), untouched base (21).
      val maxk = rows.agg(max($"o_orderkey")).first().getLong(0)
      val probes = Seq(13L, 57L, 21L).map { c =>
        val r = rows.filter($"o_orderkey" >= maxk / 2 &&
          pmod($"o_orderkey", lit(100L)) === c).agg(min($"o_orderkey")).first()
        require(!r.isNullAt(0), s"graft q_stream_lake_bloom: no mid-domain " +
          s"key in class $c mod 100 — fixture too small for the probes")
        r.getLong(0)
      }
      val (merged, _, nPlanned, nLayers, nApplied) =
        LakeOps.bloomProbeRead(spark, lake.toString, probes)
      merged
        .agg(count(lit(1)).as("n_rows"),
          sum($"cents").cast("long").as("cents_sum"))
        .select(lit(nPlanned.toLong).as("n_files_planned"),
          lit(nLayers.toLong).as("n_deltas"),
          lit(nApplied.toLong).as("n_deltas_applied"),
          $"n_rows", $"cents_sum")
        .orderBy($"n_deltas".asc_nulls_first)
        .localCheckpoint(true)
    }

  private val streamLakeBloomSql: String = {
    val deltaFlags = (0 until 4).map { i =>
      s"""a$i AS (SELECT CASE WHEN EXISTS (
        SELECT 1 FROM probes pr
        WHERE ${LakeOps.bloomMightSqlExists(
          s"SELECT k FROM feed WHERE k % 4 = $i")})
        THEN 1 ELSE 0 END AS f)"""
    }.mkString(",\n    ")
    s"""
    WITH rows0 AS (
      SELECT o_orderkey AS k, o_orderstatus AS s,
        CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
      FROM orders),
    base AS (SELECT k, s, c FROM rows0 WHERE k % 10 < 5),
    feed AS (SELECT k, s, c // 3 AS c FROM rows0 WHERE k % 100 IN (13, 57)),
    mx AS (SELECT max(k) AS m FROM rows0),
    probes AS (
      SELECT min(k) AS p FROM rows0, mx
        WHERE k >= m // 2 AND k % 100 = 13
      UNION ALL SELECT min(k) FROM rows0, mx
        WHERE k >= m // 2 AND k % 100 = 57
      UNION ALL SELECT min(k) FROM rows0, mx
        WHERE k >= m // 2 AND k % 100 = 21),
    bp AS (SELECT CASE WHEN EXISTS (
      SELECT 1 FROM probes pr
      WHERE ${LakeOps.bloomMightSqlExists(
        "SELECT k FROM base")})
      THEN 1 ELSE 0 END AS f),
    $deltaFlags,
    merged AS (
      SELECT k, c FROM base
      WHERE k IN (SELECT p FROM probes)
        AND k NOT IN (SELECT k FROM feed)
      UNION ALL
      SELECT k, c FROM feed WHERE k IN (SELECT p FROM probes))
    SELECT (SELECT CAST(f AS BIGINT) FROM bp) AS n_files_planned,
      CAST(4 AS BIGINT) AS n_deltas,
      (SELECT CAST(a0.f + a1.f + a2.f + a3.f AS BIGINT)
       FROM a0, a1, a2, a3) AS n_deltas_applied,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(c) AS BIGINT) AS cents_sum
    FROM merged
    ORDER BY n_deltas ASC NULLS FIRST"""
  }

  /** The THIRTEENTH graded real-streaming run (round 13 batch 15): the
    * Spark-4 `transformWithState` ARBITRARY-STATE API (the successor of
    * flatMapGroupsWithState graded by `q_stream_transform_state`) on the
    * RocksDB state-store provider it requires — a typed
    * [[TwsCountProcessor]] keeps one ValueState[(count, max ts micros)]
    * per user and emits the running pair every batch. Both components are
    * MONOTONE in batch order, so the merge-on-read (max per user over the
    * foreachBatch-landed emissions) equals the batch aggregate under ANY
    * micro-batch split — the [[foreachBatchSink]] argmax contract carried
    * to the new API. The provider conf is scoped to a `newSession` clone,
    * never the shared session.
    */
  private def streamTws(spark: SparkSession, sfDir: String): DataFrame =
    landingRun(spark, "tws", "update", rocksDb = true) { (s, run) =>
      twsCount(s, run.fixture(s, sfDir, "events"))
    }(twsCountMerge)

  /** The [[TwsCountProcessor]] pipeline shared by q_stream_tws and its
    * restart twin: one (count, max ts micros) state per user. */
  private def twsCount(s: SparkSession, src: DataFrame): DataFrame = {
    import s.implicits._
    src.select(col("user_id").cast("long").as("_1"),
        unix_micros(col("ts")).as("_2"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new TwsCountProcessor, TimeMode.None(),
        OutputMode.Update())
      .toDF("user_id", "n_events", "max_ts_us")
  }

  /** Max per user over the landed emissions: both components are monotone
    * in batch order, so this is the final state under any split. */
  private def twsCountMerge(landed: DataFrame): DataFrame =
    landed.groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("max_ts_us")).as("max_ts_us"))
      .orderBy(col("user_id").asc_nulls_first)

  private val streamTwsSql = """
    SELECT user_id, count(*) AS n_events,
      CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
    FROM events
    GROUP BY user_id
    ORDER BY user_id ASC NULLS FIRST"""

  /** The FOURTEENTH graded real-streaming run (round 13 batch 19):
    * EVENT-TIME TIMERS on the transformWithState API — the inactivity
    * horizon every session/abandonment pipeline needs: each user's
    * processor re-registers a timer at (ms-floored max event time +
    * 30 min) as batches arrive, and when the WATERMARK passes the horizon
    * the expired-timer callback emits the user's final count exactly once.
    * With AvailableNow the run ends on a no-data micro-batch that fires
    * the remaining expired timers against the end-of-stream watermark
    * (max event time, ms-floored, minus the 1 s delay) — so the fired set
    * is a pure function of the data: users whose horizon the final
    * watermark passed (Spark fires timers with expiry <= watermark —
    * NON-strict, pinned by a spec with a crafted equality case). The oracle
    * reproduces the rule declaratively; users still inside their horizon
    * at end-of-stream are NOT emitted, exactly like the custom
    * sessionizer's final-session trimming.
    */
  private def streamTwsTimer(spark: SparkSession, sfDir: String): DataFrame =
    twsTimerRun(spark, countMarkers = false)((s, run) =>
      run.fixture(s, sfDir, "events"))

  /** Spec hook (round 16, r15 VERDICT task 4): the SAME timer pipeline
    * over the shared midpoint split staged as two mtime-ordered files
    * (one micro-batch each). `eventTimeOrder = true` lands early-then-late
    * — a split that respects event time, which the ordering contract says
    * must be output-identical to the single-batch graded run.
    * `eventTimeOrder = false` lands LATE-THEN-EARLY: batch 1 commits a
    * watermark of (max event time − 1 s), so every early-half row arrives
    * BELOW it in batch 2 — and still reaches the processor (arbitrary
    * stateful ops do not auto-drop late rows), so this too must equal the
    * single-batch run. [[lastTwsTimerBatches]] records the lifecycle's
    * micro-batch count so the spec can prove the split really ran as
    * separate ordered batches rather than collapsing into one. */
  private[graft] def twsTimerStagedRun(spark: SparkSession, sfDir: String,
      eventTimeOrder: Boolean): DataFrame = {
    val stage = midpointStage(spark, sfDir)
    val schema = stagedSchema(spark, sfDir)
    twsTimerRun(spark, countMarkers = true) { (s, run) =>
      val (first, second) =
        if (eventTimeOrder) ("early", "late") else ("late", "early")
      landStaged(stage, first, run.src, "a", 1000L)
      landStaged(stage, second, run.src, "b", 2000L)
      source(s, run.src.toString, schema, Some(1))
    }
  }

  /** Spec hook: the timer pipeline single-batched over one half of the
    * midpoint split — the declarative ground truth the out-of-order run
    * is asserted against. */
  private[graft] def twsTimerHalfRun(spark: SparkSession, sfDir: String,
      half: String): DataFrame = {
    val stage = midpointStage(spark, sfDir)
    val schema = stagedSchema(spark, sfDir)
    twsTimerRun(spark, countMarkers = false) { (s, run) =>
      landStaged(stage, half, run.src, "a", 1000L)
      source(s, run.src.toString, schema)
    }
  }

  /** Micro-batch count of the most recent [[twsTimerRun]] lifecycle —
    * spec evidence that a staged run really split into ordered batches. */
  @volatile private[graft] var lastTwsTimerBatches: Long = 0L

  /** Landed horizon-marker rows (n_events = -1) of the most recent STAGED
    * [[twsTimerRun]] (only counted for the mtime-staged split — the
    * graded single-batch run skips the extra per-batch action). A genuine
    * two-batch split lands MORE markers than there are active users
    * (users with rows in both halves mark twice); a degenerate collapse
    * into one batch lands exactly one marker per user — so the ordering
    * specs can prove the split they claim to exercise actually ran. */
  @volatile private[graft] var lastTwsTimerMarkers: Long = 0L

  /** The timer pipeline over the stream `src` builds from the run's
    * scratch on its isolated RocksDB session. */
  private def twsTimerRun(spark: SparkSession, countMarkers: Boolean)(
      src: (SparkSession, Run) => DataFrame): DataFrame = withRun("twt") { run =>
    lastTwsTimerBatches = 0L
    lastTwsTimerMarkers = 0L
    val s = stateSession(spark, rocksDb = true)
    import s.implicits._
    run.await(src(s, run)
      .select(col("user_id").cast("long").as("user_id"), col("ts"))
      .withWatermark("ts", "1 second")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new TwsTimerProcessor, TimeMode.EventTime(),
        OutputMode.Append())
      .toDF("user_id", "n_events", "expiry_ms")
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        lastTwsTimerBatches += 1
        if (countMarkers)
          lastTwsTimerMarkers += batch.filter(col("n_events") === -1L).count()
        run.land(batch, id)
      })
    // Split-invariant landed-row merge: per user, the final horizon is the
    // max expiry over ALL landed rows (markers n_events = -1 and fires);
    // the user is in the output iff a FIRE landed at exactly that horizon
    // (i.e. the final watermark passed the final inactivity horizon), and
    // its count is that fire's count — the full accumulated count, because
    // state is never cleared. Stale mid-stream fires (expiry < final
    // horizon) drop out; at-least-once foreachBatch replays dedup via the
    // per-(user, expiry) max.
    //
    // ORDERING (round 16 — the r15 prose assumption MEASURED and
    // corrected): the r15 comment claimed withWatermark would drop
    // below-watermark rows before the processor sees them, making an
    // out-of-time-order split undercount. That is the contract for
    // watermarked AGGREGATIONS (q_stream_late_drop pins those drops
    // exactly); ARBITRARY stateful ops are the documented exception —
    // transformWithState delivers every input row to the processor
    // regardless of the watermark, which only drives timer firing and
    // state eviction. So late rows still increment the count, leave the
    // horizon unchanged (their event time is below the max), and the
    // already-registered timer fires once with the FULL count — the merge
    // is split-invariant under ANY file order, not just event-time-
    // respecting ones. SPEC-PINNED by Round16Spec via twsTimerStagedRun:
    // both the in-order and the late-then-early midpoint splits must
    // equal the single-batch run exactly, with a micro-batch counter
    // proving the staged runs really executed as separate batches — a
    // silent semantics change in either direction goes red.
    val landed = spark.read.parquet(run.out.toString)
    val horizon = landed.groupBy(col("user_id"))
      .agg(max(col("expiry_ms")).as("h"))
    landed
      .join(horizon, "user_id")
      .filter(col("expiry_ms") === col("h") && col("n_events") >= 1L)
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("expiry_ms")).as("expiry_ms"))
      .orderBy(col("user_id").asc_nulls_first)
      .localCheckpoint(true)
  }

  private val streamTwsTimerSql = """
    WITH u AS (
      SELECT user_id, count(*) AS n_events,
        epoch_ms(max(ts)) + 1800000 AS expiry_ms
      FROM events GROUP BY user_id),
    wm AS (SELECT epoch_ms(max(ts)) - 1000 AS w FROM events)
    SELECT user_id, n_events, expiry_ms
    FROM u, wm WHERE expiry_ms <= w
    ORDER BY user_id ASC NULLS FIRST"""

  /** The Update-mode transformWithState runs: the events stream as
    * (user_id, ts, event_type, event_id), one file per micro-batch (free
    * on the single-file fixtures, but a multi-file source dir then
    * exercises REAL cross-batch state folding instead of one big batch),
    * on a RocksDB session, landed and merged by [[landingRun]]. */
  private def runTwsLanding(spark: SparkSession, sfDir: String, tag: String)(
      pipe: (SparkSession, DataFrame) => DataFrame)(
      merge: DataFrame => DataFrame): DataFrame =
    landingRun(spark, tag, "update", rocksDb = true) { (s, run) =>
      pipe(s, run.fixture(s, sfDir, "events", Some(1))
        .select(col("user_id").cast("long").as("user_id"), col("ts"),
          col("event_type"), col("event_id").cast("long").as("event_id")))
    }(merge)

  /** The FIFTEENTH graded real-streaming run (round 13 batch 20):
    * LISTSTATE on transformWithState — a bounded top-k kept IN list state
    * (the "recent items per user" shape): each batch folds new events
    * into the stored top-3 by (ts, event_id) descending and re-puts the
    * trimmed list — state is O(k) per user forever, never the history.
    * Emissions carry the running event count (monotone in batch order),
    * so merge-on-read keeps each user's latest emission; under any
    * micro-batch split the final list equals the batch top-3 because
    * top-k folding is associative.
    */
  private def streamTwsList(spark: SparkSession, sfDir: String): DataFrame = {
    runTwsLanding(spark, sfDir, "twl") { (s, src) =>
      import s.implicits._
      src.select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id")
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new TwsTopNProcessor, TimeMode.None(),
          OutputMode.Update())
        .toDF("user_id", "n_events", "top_ids")
    } { landed =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("n_events").desc)
      landed.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        // Flat string serialization (the multimodalJoin vec_str rule):
        // nested-typed output columns are banned by RegistrySpec because
        // the driver differ cannot hash them.
        .select(col("user_id"), col("n_events"),
          concat_ws(",", transform(col("top_ids"), _.cast("string")))
            .as("top_ids"))
        .orderBy(col("user_id").asc_nulls_first)
    }
  }

  private val streamTwsListSql = """
    SELECT user_id, count(*) AS n_events,
      array_to_string((list(event_id ORDER BY ts DESC, event_id DESC))[1:3],
        ',') AS top_ids
    FROM events
    GROUP BY user_id
    ORDER BY user_id ASC NULLS FIRST"""

  /** The SIXTEENTH graded real-streaming run (round 13 batch 20):
    * MAPSTATE on transformWithState — per-user per-event-type counters
    * kept in map state (the profile-counter shape: one state row per
    * user, one map entry per type — never a (user × type) key explosion
    * in the store's key space). Each batch increments touched entries and
    * emits the user's full map; per-(user, type) counts are monotone, so
    * merge-on-read keeps the max — the batch aggregate under any split.
    */
  private def streamTwsMap(spark: SparkSession, sfDir: String): DataFrame = {
    runTwsLanding(spark, sfDir, "twm") { (s, src) =>
      import s.implicits._
      src.select($"user_id", $"event_type")
        .as[(Long, String)]
        .groupByKey(_._1)
        .transformWithState(new TwsTypeCountProcessor, TimeMode.None(),
          OutputMode.Update())
        .toDF("user_id", "event_type", "n_events")
    } { landed =>
      landed.groupBy(col("user_id"), col("event_type"))
        .agg(max(col("n_events")).as("n_events"))
        .orderBy(col("user_id").asc_nulls_first,
          col("event_type").asc_nulls_first)
    }
  }

  private val streamTwsMapSql = """
    SELECT user_id, event_type, count(*) AS n_events
    FROM events
    GROUP BY user_id, event_type
    ORDER BY user_id ASC NULLS FIRST, event_type ASC NULLS FIRST"""

  /** The SEVENTEENTH graded real-streaming run (round 13 batch 21):
    * CHECKPOINT RECOVERY of transformWithState's RocksDB state — the
    * operational guarantee the new API must honor before anyone trusts
    * it: the events stream is split at the time midpoint, run 1 processes
    * only the EARLY half and terminates (the "kill"), run 2 lands the
    * LATE half and resumes from the same checkpoint. A user active in
    * BOTH halves can only come out with the TOTAL count if run 2
    * recovered run 1's ValueState from the RocksDB snapshot — without
    * recovery the merge-on-read max would surface max(early, late), not
    * early + late, and the hash against the batch oracle fails. Same
    * oracle as q_stream_tws: identical final result IS the recovery
    * proof (the q_stream_restart contract on the new store).
    */
  private def streamTwsRestart(spark: SparkSession, sfDir: String): DataFrame =
    withRun("twr") { run =>
      val s = stateSession(spark, rocksDb = true)
      val stage = midpointStage(spark, sfDir)
      val schema = stagedSchema(spark, sfDir)
      def runOnce(): Unit = run.await(
        twsCount(s, source(s, run.src.toString, schema))
          .writeStream.outputMode("update").foreachBatch(run.land))
      landStaged(stage, "early", run.src, "early", 0L)
      runOnce() // run 1: early half only; terminates = the "kill"
      val n1 = spark.read.parquet(run.out.toString).count()
      landStaged(stage, "late", run.src, "late", 0L)
      runOnce() // run 2: resumes the RocksDB state from the checkpoint
      val merged = twsCountMerge(spark.read.parquet(run.out.toString))
        .localCheckpoint(true)
      require(n1 > 0 && spark.read.parquet(run.out.toString).count() > n1,
        s"tws restart not productive in both phases (run1=$n1)")
      merged
    }

  /** The EIGHTEENTH graded real-streaming run (round 13 batch 24):
    * STREAMING MATERIALIZED-VIEW REFRESH — the pipeline that keeps the
    * monthly rollup [[graft.operators.MvOps]] serves CONTINUOUSLY fresh:
    * the fact table arrives as a stream (the first non-events streaming
    * source on the board), an update-mode stateful aggregation maintains
    * the (returnflag, linestatus, month) partial states, and every
    * micro-batch lands its UPDATED partials with the batch id — the
    * foreachBatch merge-sink shape. The read side keeps each key's
    * latest version (cumulative partials are monotone in batch id) and
    * re-aggregates to the served rollup; equality with the full-recompute
    * oracle (shared with q_mv_rewrite) proves the streamed refresh equals
    * the batch build under ANY micro-batch split. At 100 TB this is the
    * continuous-refresh alternative to q_mv_incremental's nightly delta:
    * state is |groups| rows, each batch lands only changed keys.
    */
  private def streamMvRefresh(spark: SparkSession, sfDir: String): DataFrame =
    landingRun(spark, "mvr", "update") { (s, run) =>
      run.fixture(s, sfDir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          month(col("l_shipdate")).cast("long").as("mon"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy(col("l_returnflag"), col("l_linestatus"), col("mon"))
        .agg(count(lit(1)).as("cnt"), sum(col("qty")).as("sqty"))
    } { landed =>
      latest(landed, "l_returnflag", "l_linestatus", "mon")
        .groupBy(col("l_returnflag"), col("mon"))
        .agg(sum(col("cnt")).as("n_rows"), sum(col("sqty")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("mon").asc_nulls_first)
    }

  private val streamMvRefreshSql = """
    SELECT l_returnflag, CAST(month(l_shipdate) AS BIGINT) AS mon,
      count(*) AS n_rows,
      CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY 1, 2
    ORDER BY l_returnflag ASC NULLS FIRST, mon ASC NULLS FIRST"""

  /** The TWENTY-FOURTH graded real-streaming run (round 15; VERDICT r14
    * task 3): an INCREMENTAL CHANGE-DATA-FEED READ of the lake commit log
    * — the consumer half of the lake story (q_stream_lake_sink streams
    * INTO a commit log; q_lake_cdc diffs it in batch; this run SUBSCRIBES
    * to it): [[graft.operators.LakeOps.cdfStageDir]] surfaces each
    * commit's net row changes as one mtime-ordered file, and a
    * maxFilesPerTrigger=1 readStream replays the feed ONE COMMIT PER
    * MICRO-BATCH through a stateful running aggregation — per order
    * priority the net row count and net key sum (inserts add, deletes
    * subtract), total change-row count, and the last version touching the
    * priority. Folding the complete feed from v1 reconstructs EXACTLY the
    * head snapshot's state (the CDF consumer contract: a downstream
    * materialization that applies every change equals the table), and
    * every graded aggregate is batching-invariant (sums/counts/max over
    * signed rows), so the oracle can state the per-version change sets
    * declaratively over orders and remain exact under any file split.
    * Update-mode foreachBatch lands each batch's updated groups keyed by
    * batch id; the merge takes each priority's latest landed row — the
    * foreachBatchSink idempotent-merge pattern.
    *
    * Scale: the consumer reads O(changes-per-commit) rows per batch and
    * keeps |priorities| state rows — a 100 TB table's CDF subscriber
    * costs the change volume, never the table. */
  private def streamLakeCdf(spark: SparkSession, sfDir: String): DataFrame = {
    val stage = LakeOps.cdfStageDir(spark, sfDir)
    val schema = spark.read.parquet(stage).schema
    landingRun(spark, "lcdf", "update") { (s, _) =>
      cdfFold(source(s, stage, schema, Some(1)))
    }(cdfMerge)
  }

  /** The change-feed consumer's running fold per order priority. Its
    * landing writes each batch as is, NO coalesce(1) (optimization round
    * 20, negative result): the batch frame is the STATEFUL aggregate's
    * output, and a shuffle-free coalesce fuses upward into the
    * state-store stage — one task then runs all four state-store commits
    * serially (A/B measured 3.5-4.0 → 5.1-5.5 s). The ≤|priorities|-row,
    * ≤|stores|-file landing is not worth serializing state commits. */
  private def cdfFold(feed: DataFrame): DataFrame =
    feed.groupBy(col("o_orderpriority"))
      .agg(sum(col("delta")).as("n_rows_net"),
        sum(col("delta") * col("o_orderkey")).as("key_sum_net"),
        count(lit(1)).as("n_changes"),
        max(col("ver")).as("last_version"))

  private def cdfMerge(landed: DataFrame): DataFrame =
    latest(landed, "o_orderpriority")
      .select(col("o_orderpriority"),
        col("n_rows_net").cast("long").as("n_rows_net"),
        col("key_sum_net").cast("long").as("key_sum_net"),
        col("n_changes"), col("last_version"))
      .orderBy(col("o_orderpriority").asc_nulls_first)

  /** The per-version change sets stated declaratively over orders (v1 add
    * A, v2 add B, v3 rewrite A→C, v4 compaction = zero net changes, v5 DV
    * delete, v6 add F, v7 restore = re-insert the DV'd keys + delete F),
    * folded exactly like the consumer folds the feed. */
  private val streamLakeCdfSql = """
    WITH base AS (
      SELECT o_orderkey AS k, o_orderpriority AS p, o_orderstatus AS s,
        o_orderkey % 10 AS r
      FROM orders),
    chg AS (
      SELECT k, p, 1 AS delta, 1 AS ver FROM base WHERE r < 3
      UNION ALL SELECT k, p, 1, 2 FROM base WHERE r >= 3 AND r < 6
      UNION ALL SELECT k, p, -1, 3 FROM base WHERE r < 3 AND s <> 'F'
      UNION ALL SELECT k, p, -1, 5 FROM base WHERE r = 4
      UNION ALL SELECT k, p, 1, 6 FROM base WHERE r >= 6 AND r < 8
      UNION ALL SELECT k, p, 1, 7 FROM base WHERE r = 4
      UNION ALL SELECT k, p, -1, 7 FROM base WHERE r >= 6 AND r < 8)
    SELECT p AS o_orderpriority,
      CAST(sum(delta) AS BIGINT) AS n_rows_net,
      CAST(sum(delta * k) AS BIGINT) AS key_sum_net,
      CAST(count(*) AS BIGINT) AS n_changes,
      CAST(max(ver) AS BIGINT) AS last_version
    FROM chg GROUP BY p
    ORDER BY o_orderpriority ASC NULLS FIRST"""

  /** The TWENTY-FIFTH graded real-streaming run (round 15): CDC APPLY —
    * the downstream MATERIALIZATION that closes the change-feed loop
    * (q_stream_lake_sink produces a log, q_stream_lake_cdf subscribes to
    * it, THIS run applies the subscription into a keyed downstream
    * table): each micro-batch (one commit of the
    * [[graft.operators.LakeOps.cdfStageDir]] feed) upserts the
    * materialized state COPY-ON-WRITE — state' = (state anti-join the
    * batch's keys) ∪ the batch's inserts — with batch-id-keyed state dirs
    * and a skip-if-present head pointer, so a foreachBatch RETRY can
    * neither double-apply nor half-apply a commit (the q_stream_lake_sink
    * exactly-once recipe). The apply contract: after the full feed the
    * materialized table IS the head snapshot — graded per priority (count
    * + key sum) against the oracle's head-state predicate, and a spec
    * pins PER-VERSION parity (the state dir after batch k equals the
    * time-traveled snapshot at commit k+1, every k).
    *
    * Scale: each apply touches O(state ∪ batch) rows — the downstream
    * table's size, never the source table's history; at real scale the
    * same shape lands as a MERGE INTO keyed on the feed's keys, and the
    * COW rewrite amortizes exactly like q_lake_merge's file pruning. */
  private def streamCdcApply(spark: SparkSession, sfDir: String): DataFrame =
    withRun("cdca") { run =>
      import spark.implicits._
      val stage = LakeOps.cdfStageDir(spark, sfDir)
      // The materialized states outlive the run for the per-version
      // parity spec (scratch-root lifecycle, like the lake scratches).
      val matDir = Memo.tempDir("cdca_mat")
      val headPtr = matDir.resolve("_head")
      val schema = spark.read.parquet(stage).schema
      val s = stateSession(spark)
      run.await(source(s, stage, schema, Some(1))
        .writeStream
        .outputMode("append")
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          val sp = batch.sparkSession
          val target = matDir.resolve(s"state_$id")
          // Idempotence keys on the COMMIT POINT (the head pointer), never
          // on the data dir: a retry after a half-written state dir must
          // REWRITE it (overwrite mode), and only the pointer update marks
          // the batch applied — the [[commitLake]] recipe. Skipping on
          // Files.exists(target) would count a half-written batch as done
          // and silently drop its commit (round-15 self-review catch).
          val lastApplied =
            if (Files.exists(headPtr))
              new String(Files.readAllBytes(headPtr), UTF_8)
                .stripPrefix("state_").toLong
            else -1L
          if (id > lastApplied) {
            // Per-commit I/O cuts (optimization round 20, guide §6/§2.4):
            // (a) the anti-join needs no distinct on its build side —
            // duplicate keys anti-join identically, so the per-batch
            // dedup shuffle is pure waste; (b) the state lands as ONE
            // file per version instead of one per shuffle partition, so
            // each batch's read-modify-write reads one file and commits
            // one — the landed ROWS (and the per-version parity spec's
            // view of them) are unchanged.
            val keys = batch.select(col("o_orderkey"))
            val inserts = batch.filter(col("delta") === 1L)
              .select(col("o_orderkey"), col("o_orderpriority"))
            val cur =
              if (lastApplied >= 0L)
                sp.read.parquet(matDir.resolve(s"state_$lastApplied").toString)
              else
                inserts.filter(lit(false))
            cur.join(keys, Seq("o_orderkey"), "left_anti")
              .unionByName(inserts).coalesce(1)
              .write.mode("overwrite").parquet(target.toString)
            Files.write(headPtr, s"state_$id".getBytes(UTF_8))
          }
          ()
        })
      val head = new String(Files.readAllBytes(headPtr), UTF_8)
      val out = spark.read.parquet(matDir.resolve(head).toString)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum($"o_orderkey").cast("long").as("key_sum"))
        .orderBy($"o_orderpriority".asc_nulls_first)
        .localCheckpoint(true)
      cdcApplyMat.set(matDir.toString)
      out
    }

  /** The TWENTY-SIXTH graded real-streaming run (round 15): CDF CONSUMER
    * RESTART — the operational guarantee a change-feed subscriber needs
    * on top of q_stream_lake_cdf's semantics: the SAME stateful fold is
    * killed after consuming commits 1..4 (run 1 terminates on
    * AvailableNow — the "kill") and a second run resumes from the SHARED
    * checkpoint after commits 5..7 land. Source-offset recovery must not
    * re-consume the first four commits and state recovery must carry the
    * running sums across the restart, so the merged final state equals
    * the single-run twin's exactly — the two queries SHARE ONE ORACLE
    * (the q_stream_tws_restart convention: identical declared output, one
    * lifecycle vs kill-and-resume). Batch ids continue across the restart
    * (checkpointed offsets), so the latest-row merge is unchanged.
    *
    * Scale: restart cost is checkpoint-read + the NEW commits only —
    * the property that lets a 100 TB/day CDC subscriber be redeployed
    * without replaying history. */
  private def streamCdfRestart(spark: SparkSession, sfDir: String): DataFrame =
    withRun("cdfr") { run =>
      val stage = LakeOps.cdfStageDir(spark, sfDir)
      val schema = spark.read.parquet(stage).schema
      val s = stateSession(spark)
      def land(vs: Range): Unit = vs.foreach { v =>
        val dst = run.src.resolve(s"cdf_v$v.parquet")
        Files.copy(Path.of(stage, s"cdf_v$v.parquet"), dst)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(v * 60000L))
      }
      def runOnce(): Unit = run.await(
        cdfFold(source(s, run.src.toString, schema, Some(1)))
          .writeStream.outputMode("update").foreachBatch(run.land))
      land(1 to 4)
      runOnce() // run 1: first four commits; terminates = the "kill"
      land(5 to 7)
      runOnce() // run 2: resumes from the shared checkpoint
      cdfMerge(spark.read.parquet(run.out.toString)).localCheckpoint(true)
    }

  /** Head-snapshot state per priority: the v7 restore leaves exactly
    * v3's live set (B ∪ C). */
  private val streamCdcApplySql = """
    SELECT o_orderpriority, count(*) AS n_rows,
      CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    WHERE (o_orderkey % 10 >= 3 AND o_orderkey % 10 < 6)
       OR (o_orderkey % 10 < 3 AND o_orderstatus = 'F')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority ASC NULLS FIRST"""

  /** Spec hook: the materialized-state dir of the LAST cdc-apply run in
    * this JVM (per-version parity assertions read state_<k>). */
  private[graft] def lastCdcApplyMatDir: Option[String] =
    Option(cdcApplyMat.get())
  private val cdcApplyMat = new java.util.concurrent.atomic.AtomicReference[String]()

  override val queries: Vector[Q] = Vector(
    Q("q_stream_mv_refresh", streamMvRefresh, Some(streamMvRefreshSql)),
    Q("q_stream_tws", streamTws, Some(streamTwsSql)),
    Q("q_stream_tws_timer", streamTwsTimer, Some(streamTwsTimerSql)),
    Q("q_stream_tws_list", streamTwsList, Some(streamTwsListSql)),
    Q("q_stream_tws_map", streamTwsMap, Some(streamTwsMapSql)),
    Q("q_stream_tws_restart", streamTwsRestart, Some(streamTwsSql)),
    Q("q_stream_lake_sink", streamLakeSink, Some(streamLakeSinkSql)),
    Q("q_stream_lake_mor", streamLakeMor, Some(streamLakeMorSql)),
    Q("q_stream_lake_bloom", streamLakeBloom, Some(streamLakeBloomSql)),
    Q("q_stream_lake_cdf", streamLakeCdf, Some(streamLakeCdfSql)),
    Q("q_stream_cdc_apply", streamCdcApply, Some(streamCdcApplySql)),
    // Kill-and-resume twin of q_stream_lake_cdf: identical declared
    // output, so the two lifecycles share one oracle (the tws_restart
    // convention).
    Q("q_stream_cdf_restart", streamCdfRestart, Some(streamLakeCdfSql)),
    Q("q_stream_static_join", streamStaticJoin, Some(streamStaticJoinSql)),
    Q("q_stream_custom_session", customSession, Some(customSessionSql)),
    Q("q_stream_foreach_sink", foreachBatchSink, Some(foreachBatchSinkSql)),
    Q("q_stream_windowed_append", windowedAppend, Some(windowedAppendSql)),
    // Checkpoint recovery shares the single-run twin's oracle: identical
    // final result IS the state/watermark/sink-log recovery proof.
    Q("q_stream_restart", streamRestart, Some(windowedAppendSql)),
    Q("q_stream_late_drop", streamLateDrop, Some(streamLateDropSql)),
    Q("q_stream_dedup_exec", dedupExec, Some(dedupExecSql)),
    Q("q_stream_stream_join", streamStreamJoin, Some(streamStreamJoinSql)),
    Q("q_stream_outer_join", streamOuterJoin, Some(streamOuterJoinSql)),
    Q("q_stream_transform_state", transformState, Some(transformStateSql)),
    Q("q_stream_session_window_exec", sessionWindowExec, Some(sessionWindowExecSql)),
    Q("q_stream_tumbling", tumbling, Some(s"""
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
        count(*) AS n, ${graft.Oracle.dsum("value")} AS sum_value
      FROM events GROUP BY 1, 2
      ORDER BY hour_start ASC NULLS FIRST, event_type ASC NULLS FIRST""")),
    Q("q_stream_sliding", sliding, Some(s"""
      WITH expanded AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts) - i * INTERVAL '15 minutes' AS win_start,
               value
        FROM events CROSS JOIN range(4) t(i))
      SELECT win_start, count(*) AS n, ${graft.Oracle.dsum("value")} AS sum_value
      FROM expanded GROUP BY win_start
      ORDER BY win_start ASC NULLS FIRST""")),
    Q("q_stream_session", sessionAgg, Some("""
      WITH g AS (
        SELECT user_id, event_id, ts,
          epoch_us(ts) - epoch_us(lag(ts, 1) OVER
            (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) AS gap_us
        FROM events),
      f AS (
        SELECT *, CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END AS is_new
        FROM g),
      s AS (
        SELECT user_id, event_id, ts,
          CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM f)
      SELECT user_id, session_id, count(*) AS n_events,
        min(ts) AS session_start, max(ts) AS session_end,
        (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000 AS duration_s
      FROM s GROUP BY user_id, session_id
      ORDER BY user_id ASC NULLS FIRST, session_id ASC NULLS FIRST""")),
    Q("q_stream_dedup", dedup, Some("""
      WITH r AS (
        SELECT event_id, user_id, event_type, ts, value,
          row_number() OVER (PARTITION BY user_id, event_type, date_trunc('day', ts)
                             ORDER BY event_id ASC) AS rn
        FROM events)
      SELECT event_id, user_id, event_type, ts, value FROM r WHERE rn = 1
      ORDER BY event_id ASC NULLS FIRST""")),
    Q("q_stream_join", streamJoin, Some("""
      WITH views AS (
        SELECT event_id AS view_id, user_id, ts AS view_ts
        FROM events WHERE event_type = 'view'),
      clicks AS (
        SELECT user_id AS c_user, ts AS c_ts, event_id AS c_id
        FROM events WHERE event_type = 'click')
      SELECT v.view_id, v.user_id, v.view_ts, count(c.c_id) AS n_clicks_30m
      FROM views v LEFT JOIN clicks c
        ON c.c_user = v.user_id
       AND c.c_ts > v.view_ts
       AND c.c_ts <= v.view_ts + INTERVAL 30 MINUTE
      GROUP BY v.view_id, v.user_id, v.view_ts
      ORDER BY v.view_id ASC NULLS FIRST""")),
  )
}

/** Typed processor for [[Streams]]' `q_stream_tws`: one
  * (count, max ts micros) ValueState per user on the new Spark-4
  * `transformWithState` API; emits the running pair every batch. Both
  * components are monotone in batch order, so max-per-user over the
  * landed emissions equals the final state under any micro-batch split.
  */
private[streaming] class TwsCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long)] {
  @transient private var st:
    org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long)]("agg",
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong),
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: Long, rows: Iterator[(Long, Long)],
      tv: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long, Long)] = {
    val (c0, m0) = if (st.exists()) st.get() else (0L, Long.MinValue)
    var c = c0
    var m = m0
    rows.foreach { r => c += 1; if (r._2 > m) m = r._2 }
    st.update((c, m))
    Iterator.single((key, c, m))
  }
}

/** Timer processor for [[Streams]]' `q_stream_tws_timer`: per user, one
  * (count, max ts ms, registered expiry) state; every batch re-registers
  * the inactivity timer at max-event-time + 30 min AND emits a horizon
  * MARKER row (n_events = -1, new expiry), and the expired-timer callback
  * emits the accumulated count tagged with the fired expiry. State is
  * never cleared, so a user who fires mid-stream and then receives more
  * events fires again later with the FULL count; the caller's merge keeps
  * only the fire at the user's max landed horizon, making the graded
  * output split-invariant (round-14 ADVICE fix — previously exactly-once
  * held only when the fixture landed in a single micro-batch).
  * Timestamps go through `Timestamp.getTime` (ms floor), the
  * custom-sessionizer precedent, so the horizon arithmetic is the same
  * integers in the oracle.
  */
private[streaming] class TwsTimerProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp), (Long, Long, Long)] {
  @transient private var st:
    org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long, Long)]("s",
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong),
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: Long, rows: Iterator[(Long, java.sql.Timestamp)],
      tv: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long, Long)] = {
    val (c0, m0, e0) =
      if (st.exists()) st.get() else (0L, Long.MinValue, Long.MinValue)
    var c = c0
    var m = m0
    rows.foreach { r => c += 1; val t = r._2.getTime; if (t > m) m = t }
    val expiry = m + 1800000L
    if (e0 != expiry) {
      if (e0 != Long.MinValue) getHandle.deleteTimer(e0)
      getHandle.registerTimer(expiry)
    }
    st.update((c, m, expiry))
    // Horizon MARKER (n_events = -1): records that this user's inactivity
    // horizon moved to `expiry`. The merge keeps only FIRED rows whose
    // expiry equals the user's max landed horizon — so a mid-stream fire
    // that later events supersede is discarded, and a user whose final
    // horizon the end-of-stream watermark never passed is excluded even
    // though an earlier partial fire landed. That makes the run
    // split-invariant: the output is a pure function of the data, not of
    // how AvailableNow happened to slice the files into micro-batches.
    Iterator.single((key, -1L, expiry))
  }

  override def handleExpiredTimer(
      key: Long, tv: org.apache.spark.sql.streaming.TimerValues,
      info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[(Long, Long, Long)] = {
    val (c, _, _) = st.get()
    Iterator.single((key, c, info.getExpiryTimeInMs()))
  }
}

/** ListState processor for `q_stream_tws_list`: bounded top-3 of
  * (ts micros, event_id) per user folded batch-by-batch — O(k) state,
  * associative fold, emissions tagged with the monotone running count.
  */
private[streaming] class TwsTopNProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long), (Long, Long, Array[Long])] {
  @transient private var top:
    org.apache.spark.sql.streaming.ListState[(Long, Long)] = _
  @transient private var n:
    org.apache.spark.sql.streaming.ValueState[Long] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    top = getHandle.getListState[(Long, Long)]("top",
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong),
      org.apache.spark.sql.streaming.TTLConfig.NONE)
    n = getHandle.getValueState[Long]("n",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  }

  override def handleInputRows(
      key: Long, rows: Iterator[(Long, Long, Long)],
      tv: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long, Array[Long])] = {
    val incoming = rows.map(r => (r._2, r._3)).toArray
    val merged = (top.get().toArray ++ incoming)
      .sortBy(t => (-t._1, -t._2)).take(3)
    top.put(merged)
    val total = (if (n.exists()) n.get() else 0L) + incoming.length
    n.update(total)
    Iterator.single((key, total, merged.map(_._2)))
  }
}

/** MapState processor for `q_stream_tws_map`: per-user per-event-type
  * counters in one map-typed state row; each batch increments touched
  * entries and emits the full (monotone) map.
  */
private[streaming] class TwsTypeCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String), (Long, String, Long)] {
  @transient private var m:
    org.apache.spark.sql.streaming.MapState[String, Long] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    m = getHandle.getMapState[String, Long]("m",
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: Long, rows: Iterator[(Long, String)],
      tv: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, String, Long)] = {
    rows.foreach { r =>
      val prev = if (m.containsKey(r._2)) m.getValue(r._2) else 0L
      m.updateValue(r._2, prev + 1L)
    }
    m.iterator().map(kv => (key, kv._1, kv._2)).toArray.iterator
  }
}
