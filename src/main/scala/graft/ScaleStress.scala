package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** 10x scale-stress harness (dev tool, round 10 batch 2; not a driver entry
  * point): replicates the sf0.1 FACT tables tenfold with shifted surrogate
  * keys into /tmp/sfstress — orders/lineitem on a shared orderkey offset so
  * referential integrity survives, events on event_id; customers/users keep
  * their ids (each becomes 10x busier — the organic-growth shape) and every
  * dimension ships unchanged — then times named queries there exactly like
  * [[Time]]. This is the "does the plan survive a scale-up" check the
  * 100 TB scaladoc claims make: a healthy plan grows ~linearly in the fact
  * volume on 32 cores; a broken one (missed broadcast, single-task window,
  * driver collect) goes superlinear or OOMs. Bench's warm-up runs first.
  *
  * Usage: `sbt "runMain graft.ScaleStress q_agg_pricing_summary ..."`;
  * generation runs once (marker-gated), ~6M lineitem rows.
  */
object ScaleStress {
  private val Out = "/tmp/sfstress"

  def main(args: Array[String]): Unit = {
    val src = "/root/testdata/sf0.1"
    val spark = Sessions.build(Bench.cpus)
    val marker = new java.io.File(s"$Out/_READY")
    if (!marker.exists()) {
      // > max sf0.1 o_orderkey (149,999) and event_id (99,999); replicas
      // stay disjoint and keys stay small enough for every packed-integer
      // trick in the suite.
      val off = 1000000L
      def rep(table: String, keyCols: Seq[String]): Unit = {
        val base = Catalog.load(spark, src, table)
        (0 until 10).map { i =>
          keyCols.foldLeft(base)((df, c) =>
            df.withColumn(c, col(c) + lit(i * off)))
        }.reduce(_ unionAll _)
          .write.mode(SaveMode.Overwrite).parquet(Catalog.file(Out, table))
      }
      rep("orders", Seq("o_orderkey"))
      rep("lineitem", Seq("l_orderkey"))
      rep("events", Seq("event_id"))
      Seq("region", "nation", "customer", "supplier", "part",
        "documents", "embeddings").foreach { t =>
        Catalog.load(spark, src, t)
          .write.mode(SaveMode.Overwrite).parquet(Catalog.file(Out, t))
      }
      marker.createNewFile()
      println(s"SCALE generated $Out")
    }
    Time.warmAndTime(spark, Out, "SCALE", args.toSeq)
    spark.stop()
  }
}
