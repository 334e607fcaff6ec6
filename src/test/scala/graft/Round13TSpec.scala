package graft

import org.apache.spark.sql.functions._

/** Round-13 batch-20 invariant: ListState/MapState folding is correct
  * across REAL micro-batch boundaries — a three-file synthetic feed (one
  * file per batch via maxFilesPerTrigger=1) splits each user's events
  * across batches, and the merged outputs must equal the batch answers.
  */
class Round13TSpec extends SparkTestBase {
  import spark.implicits._

  test("tws list/map state folds correctly across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_twsmb_")
    try {
      val base = 1704067200000L
      // Events interleaved so each user's top-3 spans all three batches.
      val batches = Seq(
        Seq((10L, base + 50000L, 1L, "view"), (11L, base + 10000L, 1L, "click"),
          (12L, base + 90000L, 2L, "view")),
        Seq((20L, base + 70000L, 1L, "view"), (21L, base + 20000L, 2L, "click"),
          (22L, base + 95000L, 2L, "view")),
        Seq((30L, base + 60000L, 1L, "click"), (31L, base + 99000L, 2L, "view"),
          (32L, base + 5000L, 1L, "view")))
      batches.zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("event_id", "ts_ms", "user_id", "event_type")
          .select($"event_id", timestamp_millis($"ts_ms").as("ts"),
            $"user_id", $"event_type", lit(1.0).as("value"),
            lit("{}").as("props"))
          .coalesce(1)
          .write.parquet(s"$dir/events.parquet/b$i")
      }
      // The events "table" is a directory of three parquet dirs; flatten
      // part files into one dir so the stream source can glob them.
      val evDir = java.nio.file.Path.of(s"$dir/events.parquet")
      val ls = java.nio.file.Files.walk(evDir)
      val parts = try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .toList
      } finally ls.close()
      parts.zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.move(p, evDir.resolve(s"part$i.parquet"))
      }
      assert(parts.size == 3)

      val all = batches.flatten
      val gotList = SparkEntry.queries("q_stream_tws_list")(spark, dir.toString)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getString(2)))).toMap
      val wantList = all.groupBy(_._3).map { case (u, es) =>
        u -> ((es.size.toLong,
          es.sortBy(e => (-e._2, -e._1)).take(3).map(_._1).mkString(",")))
      }
      assert(gotList == wantList)
      val gotMap = SparkEntry.queries("q_stream_tws_map")(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val wantMap = all.groupBy(e => (e._3, e._4)).view
        .mapValues(_.size.toLong).toMap
      assert(gotMap == wantMap)
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }
}
