package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Local iteration tool: dump the executed plan of named queries (the
  * PLANS.md evidence source). Usage: runMain graft.Plans q_dedup_minhash ...
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    each(spark, sfDir, args.toSeq) { (name, df) =>
      println(s"=== $name")
      println(df.queryExecution.executedPlan.toString.linesIterator
        .map(_.take(155)).mkString("\n"))
    }
    spark.stop()
  }

  /** The loop Plans and PlansFmt share: build each named query and run it
    * first, so memo leaves resolve and AQE finalizes the plan, then `dump`
    * it and drop cached intermediates.
    */
  def each(spark: SparkSession, sfDir: String, names: Seq[String])(
      dump: (String, DataFrame) => Unit): Unit =
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.count()
      dump(name, df)
      spark.sharedState.cacheManager.clearCache()
    }
}
