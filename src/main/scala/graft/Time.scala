package graft

import org.apache.spark.sql.SparkSession

/** Local iteration tool: time named queries (SPARK_GRAFT_REPS reps each,
  * default 3) against SPARK_GRAFT_SF_DIR, after Bench's warm-up and with
  * Bench's timing loop. Not a driver entry point.
  * Usage: runMain graft.Time q_agg_rfm q_dedup_near [...]
  */
object Time {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.build(Bench.cpus)
    warmAndTime(spark, sfDir, "TIME", args.toSeq)
    spark.stop()
  }

  /** Bench's warm-up, then one `label` line of rep times per named query. */
  def warmAndTime(spark: SparkSession, sfDir: String, label: String,
                  names: Seq[String]): Unit = {
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    Bench.warmUp(spark, sfDir)
    names.foreach { name =>
      val q = SparkEntry.all.find(_.id == name).getOrElse(
        throw new NoSuchElementException(s"unknown query $name"))
      val times = (1 to reps).map(_ => Bench.timed(spark, sfDir, q)._1)
      println(f"$label $name%-28s ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
  }
}
