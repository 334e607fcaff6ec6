package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming twins of the graded batch queries (SURVEY §2.I and
  * §5.5): the same logic through `readStream` + watermark must agree with the
  * batch answer once the stream is fully consumed.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  // Replay source: events re-written as micros-timestamp parquet (the raw
  // fixture is TIMESTAMP(NANOS), which the streaming reader would refuse).
  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("graft_stream_events_").toString
    Catalog.load(spark, sf0001, "events")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def batchEvents: DataFrame = spark.read.parquet(eventsDir)

  private def streamEvents: DataFrame =
    spark.readStream.schema(batchEvents.schema).parquet(eventsDir)

  /** Run a streaming aggregation to completion, return the sink contents. */
  private def runToMemory(df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream
      .format("memory").queryName(name)
      .outputMode(mode)
      .option("checkpointLocation",
        Files.createTempDirectory(s"graft_ckpt_$name").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    spark.table(name)
  }

  test("q_stream_windowed_append equals the batch rule: finalized windows only") {
    // The graded query executes a REAL streaming run; the batch twin here
    // recomputes the same hourly aggregate and applies the emission rule
    // (window end_ms <= ms-floored max ts - 1000) in Spark — the same rule
    // the DuckDB oracle encodes.
    val got = SparkEntry.queries("q_stream_windowed_append")(spark, sf0001)
      .select($"hour_start", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSeq
    val ev = Catalog.load(spark, sf0001, "events")
    val wmMs = ev.agg(max(unix_micros($"ts"))).as[Long].head() / 1000L - 1000L
    val expected = ev
      .groupBy(date_trunc("hour", $"ts").as("hour_start"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .filter(unix_micros($"hour_start") / 1000L + 3600000L <= wmMs)
      .orderBy($"hour_start".asc_nulls_first, $"event_type".asc_nulls_first)
      .as[(java.sql.Timestamp, String, Long)].collect().toSeq
    assert(got.nonEmpty && got == expected)
    // The unfinished tail exists: some window was held back by the watermark.
    val allWindows = ev.select(date_trunc("hour", $"ts")).distinct().count()
    assert(got.map(_._1).distinct.size < allWindows,
      "expected the watermark to hold back the unfinished tail window")
  }

  test("checkpoint restart: two-run recovery equals the single-run twin") {
    // q_stream_restart splits the replay at the time midpoint into two
    // AvailableNow runs sharing one checkpoint + durable parquet sink; the
    // merged sink must equal the single-run q_stream_windowed_append
    // result exactly — windows straddling the split prove the state store
    // was recovered, identical totals prove the sink log deduplicated
    // nothing and lost nothing. (The query itself requires both runs to
    // be productive, so this can't pass vacuously.)
    val twin = SparkEntry.queries("q_stream_windowed_append")(spark, sf0001)
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSeq
    val restarted = SparkEntry.queries("q_stream_restart")(spark, sf0001)
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSeq
    assert(restarted.nonEmpty && restarted == twin)
  }

  test("tumbling window: streaming with watermark equals batch") {
    val agg = (df: DataFrame) => df
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("hour_start"), $"event_type", $"n")
    val streamed = runToMemory(agg(streamEvents), "tumbling_sink", "complete")
    val batch = batchEvents
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("hour_start"), $"event_type", $"n")
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("streaming dedup agrees with batch distinct count") {
    val keyed = (df: DataFrame) =>
      df.select($"user_id", $"event_type", date_trunc("day", $"ts").as("day"), $"ts")
    val streamed = runToMemory(
      keyed(streamEvents)
        .withWatermark("ts", "1 hour")
        .dropDuplicates("user_id", "event_type", "day"),
      "dedup_sink", "append")
    val batchDistinct = keyed(batchEvents)
      .select($"user_id", $"event_type", $"day").distinct().count()
    assert(streamed.count() == batchDistinct)
  }

  test("session_window session count equals batch sessionization") {
    val streamed = runToMemory(
      streamEvents
        .withWatermark("ts", "1 hour")
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events")),
      "session_sink", "complete")
    // Batch twin: gap >= 30 min starts a new session (same boundary rule as
    // session_window — see graft.streaming.Streams.sessionized).
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gap = unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w))
    val batchSessions = batchEvents
      .withColumn("is_new", when(gap.isNull || gap >= lit(1800000000L), 1L).otherwise(0L))
      .withColumn("sid", sum($"is_new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"user_id", $"sid").distinct().count()
    assert(streamed.count() == batchSessions)
    // And identical per-session event counts, not just the count of sessions.
    val streamedSizes = streamed.groupBy($"n_events").count()
    val batchSizes = batchEvents
      .withColumn("is_new", when(gap.isNull || gap >= lit(1800000000L), 1L).otherwise(0L))
      .withColumn("sid", sum($"is_new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sid").agg(count(lit(1)).as("n_events"))
      .groupBy($"n_events").count()
    assert(streamedSizes.except(batchSizes).isEmpty &&
      batchSizes.except(streamedSizes).isEmpty)
  }

  test("foreachBatch merge-sink equals batch totals under a forced 4-batch split") {
    // The graded q_stream_foreach_sink replays one file (typically one
    // micro-batch); this forces FOUR batches with maxFilesPerTrigger=1 and
    // proves the merge-on-read (argmax batch_id per key) still lands on
    // the exact batch aggregate — the monotone-cumulative-state argument.
    val srcDir = java.nio.file.Files.createTempDirectory("graft_fbspec_src_")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_fbspec_ck_")
    val outDir = java.nio.file.Files.createTempDirectory("graft_fbspec_out_")
    val events = Catalog.load(spark, sf0001, "events")
      .select($"event_id", $"user_id", $"value")
    events.repartition(4).write.mode("overwrite").parquet(srcDir.toString)
    val physical = spark.read.parquet(srcDir.toString).schema
    val q = spark.readStream.schema(physical)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        Dsl.dsum($"value").as("total_value"))
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        b.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(outDir.toString)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckDir.toString)
      .start()
    q.awaitTermination()
    val landed = spark.read.parquet(outDir.toString)
    assert(landed.select($"batch_id").distinct().count() >= 4)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"batch_id".desc)
    val got = landed.withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"user_id", $"n_events", $"total_value")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    val want = events.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), Dsl.dsum($"value").as("tv"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(got == want)
  }

  test("lake commit: replaying one batch id leaves one log line and one data dir") {
    // foreachBatch is at-least-once: a batch re-delivered after a crash
    // between the data write and the checkpoint commit must not land twice.
    val lake = Memo.tempDir("commit_replay")
    val batch = Catalog.load(spark, sf0001, "events").select($"event_id").limit(5)
    (1 to 2).foreach(_ =>
      streaming.Streams.commitLake(lake, "batch_0", "add", 1L, batch))
    val log = new String(Files.readAllBytes(lake.resolve("_log.json")), "UTF-8")
      .split("\n").toSeq
    assert(log == Seq("""{"v":1,"op":"add","path":"batch_0"}"""))
    val entries = Files.list(lake)
    val dataDirs = try entries.iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq finally entries.close()
    assert(dataDirs == Seq("batch_0"))
    assert(spark.read.parquet(lake.resolve("batch_0").toString).count() == 5)
  }

  test("a failing stream run re-raises its error and leaves no scratch dirs") {
    val root = Memo.tempDir("probe").getParent
    def leftovers: Seq[String] = {
      val ls = Files.list(root)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("failrun")).toSeq
      finally ls.close()
    }
    // Thrown while the pipe is built: the original exception, unwrapped.
    val built = intercept[IllegalStateException] {
      streaming.Streams.eventsRun(spark, sf0001, "failrun_build") { _ =>
        throw new IllegalStateException("pipe build failed")
      }(identity)
    }
    assert(built.getMessage == "pipe build failed")
    // Thrown inside a micro-batch: the query fails mid-run, after its
    // source, checkpoint and sink exist; the original message survives in
    // the cause chain.
    val boom = udf { (id: Long) =>
      if (id >= 0L) throw new IllegalStateException("micro-batch failed")
      id
    }
    val ran = intercept[Exception] {
      streaming.Streams.eventsRun(spark, sf0001, "failrun_batch") { src =>
        src.select(boom($"event_id").as("event_id"))
      }(identity)
    }
    val messages = Iterator.iterate[Throwable](ran)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq
    assert(messages.exists(_.contains("micro-batch failed")), messages)
    assert(leftovers.isEmpty, s"scratch dirs left behind: $leftovers")
  }
}
