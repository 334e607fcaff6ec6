package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}

case class Ev(event_id: Long, user_id: Long, ts: Timestamp, value: Double)
case class UserCount(user_id: Long, n: Long)

/** SURVEY §2.I `st_watermark_late`: watermarks must drop rows arriving after
  * the watermark has passed their event time, and custom state via
  * mapGroupsWithState must fold groups across micro-batches.
  */
class WatermarkSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("append-mode tumbling aggregation drops late rows behind the watermark") {
    // Two files replayed one per micro-batch: batch 1 carries 12:00-13:00
    // data (advancing the watermark to 12:59 - 10min), batch 2 replays one
    // punctual row and one row from 10:00 — far behind the watermark.
    val dir = Files.createTempDirectory("graft_wm_").toString
    val batch1 = Seq(
      Ev(1, 7, ts("2024-01-01 12:01:00"), 1.0),
      Ev(2, 7, ts("2024-01-01 12:30:00"), 1.0),
      Ev(3, 7, ts("2024-01-01 12:59:00"), 1.0))
    val batch2 = Seq(
      Ev(4, 7, ts("2024-01-01 12:58:00"), 1.0), // within watermark: kept
      Ev(5, 7, ts("2024-01-01 10:00:00"), 1.0)) // 3h late: dropped
    // Batch 3 pushes the watermark past 13:00 so the 12:00 window closes and
    // append mode finally emits it.
    val batch3 = Seq(Ev(6, 7, ts("2024-01-01 14:30:00"), 1.0))
    batch1.toDF().coalesce(1).write.parquet(s"$dir/f1")
    spark.read.parquet(s"$dir/f1").coalesce(1)
      .write.mode("append").parquet(s"$dir/all")
    batch2.toDF().coalesce(1).write.parquet(s"$dir/f2")

    val src = spark.readStream.schema(batch1.toDF().schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/all")
    val agg = src.withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("h"), $"n")
    val q = agg.writeStream.format("memory").queryName("wm_sink")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft_wm_ck").toString)
      .start()
    // Let batch 1 process, then reveal file 2 as the next micro-batch.
    q.processAllAvailable()
    spark.read.parquet(s"$dir/f2").coalesce(1)
      .write.mode("append").parquet(s"$dir/all")
    q.processAllAvailable()
    batch3.toDF().coalesce(1).write.mode("append").parquet(s"$dir/all")
    q.processAllAvailable()
    q.stop()

    // Append mode emits a window only once it is below the watermark; the
    // 12:00 window is closed by then and must count ONLY the punctual rows
    // (3 from batch 1 + 1 within-watermark from batch 2; the 10:00 row
    // arrived behind the watermark and is gone).
    val out = spark.table("wm_sink").select($"h", $"n").as[(Timestamp, Long)]
      .collect().toMap
    assert(out.get(ts("2024-01-01 12:00:00")).contains(4L),
      s"expected the 12:00 window to hold 4 punctual rows, got $out")
    assert(!out.contains(ts("2024-01-01 10:00:00")),
      s"late 10:00 row must be dropped, got $out")
  }

  test("mapGroupsWithState folds per-user counts across micro-batches") {
    val dir = Files.createTempDirectory("graft_gs_").toString
    Seq(Ev(1, 1, ts("2024-01-01 09:00:00"), 1.0),
        Ev(2, 1, ts("2024-01-01 09:01:00"), 1.0),
        Ev(3, 2, ts("2024-01-01 09:02:00"), 1.0))
      .toDF().coalesce(1).write.parquet(s"$dir/all/f1")
    Seq(Ev(4, 1, ts("2024-01-01 09:03:00"), 1.0))
      .toDF().coalesce(1).write.mode("append").parquet(s"$dir/all/f2")

    val src = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/all/*")
      .as[Ev]
    val counted = src.groupByKey(_.user_id)
      .mapGroupsWithState[Long, UserCount](GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + evs.size
          state.update(n)
          UserCount(uid, n)
      }
    val q = counted.writeStream.format("memory").queryName("gs_sink")
      .outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("graft_gs_ck").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    // Update mode emits the latest state per key; take the max seen per user.
    val finalCounts = spark.table("gs_sink").as[UserCount]
      .groupByKey(_.user_id).mapGroups((u, it) => (u, it.map(_.n).max))
      .collect().toMap
    assert(finalCounts == Map(1L -> 3L, 2L -> 1L))
  }

  test("flatMapGroupsWithState emits variable-arity output per group") {
    val dir = Files.createTempDirectory("graft_fgs_").toString
    Seq(Ev(1, 1, ts("2024-01-01 09:00:00"), 2.0),
        Ev(2, 1, ts("2024-01-01 09:01:00"), 3.0),
        Ev(3, 2, ts("2024-01-01 09:02:00"), 5.0))
      .toDF().coalesce(1).write.parquet(s"$dir/all/f1")

    val src = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
      .parquet(s"$dir/all/*")
      .as[Ev]
    // Emit one row per EVENT above a threshold, carrying the running count —
    // the 0..n-rows-per-group shape mapGroupsWithState can't express.
    val flagged = src.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, UserCount](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[Long]) =>
          val big = evs.filter(_.value > 2.5).toSeq
          val n = state.getOption.getOrElse(0L) + big.size
          state.update(n)
          big.map(_ => UserCount(uid, n)).iterator
      }
    val q = flagged.writeStream.format("memory").queryName("fgs_sink")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft_fgs_ck").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val out = spark.table("fgs_sink").as[UserCount].collect()
    // user 1 has one event > 2.5 (value 3.0), user 2 has one (5.0).
    assert(out.map(_.user_id).sorted.toSeq == Seq(1L, 2L))
  }
}
