package graft

import org.apache.spark.sql.functions._

/** K-means training + trained-IVF invariants beyond the oracle hash:
  * partitioning of the corpus, rebuild determinism, and the serve-shape
  * plan property (probing must not re-train).
  */
class KMeansSpec extends SparkTestBase {
  import spark.implicits._

  test("kmeans partitions the corpus: sizes sum to n, cells within k") {
    val out = SparkEntry.queries("q_ml_kmeans_train")(spark, sf0001)
    val n = Catalog.load(spark, sf0001, "embeddings").count()
    val cells = out.select($"cell", $"n_members").distinct()
    assert(cells.agg(sum($"n_members")).head().getLong(0) == n)
    val ids = cells.select($"cell").collect().map(_.getLong(0))
    assert(ids.forall(c => c >= 0 && c < 10) && ids.nonEmpty)
    // every surviving cell reports all 64 dimensions
    val dims = out.groupBy($"cell").agg(count(lit(1)).as("d"))
      .select($"d").distinct().collect().map(_.getLong(0))
    assert(dims.toSeq == Seq(64L))
  }

  test("kmeans training is deterministic across leaf rebuilds") {
    val a = SparkEntry.queries("q_ml_kmeans_train")(spark, sf0001)
      .collect().toSeq
    Memo.clearForTest()
    val b = SparkEntry.queries("q_ml_kmeans_train")(spark, sf0001)
      .collect().toSeq
    assert(a == b)
  }

  test("trained-IVF probe touches only the index leaves (no re-training)") {
    // Resolve the leaves once (the build — q_ml_kmeans_train pays it).
    SparkEntry.queries("q_ml_kmeans_train")(spark, sf0001).count()
    val serve = SparkEntry.queries("q_sim_ann_ivf_trained")(spark, sf0001)
    val plan = serve.queryExecution.optimizedPlan.toString
    // No centroid recompute: the per-dimension integer-mean aggregation
    // must be absent — centroids arrive as checkpointed LogicalRDD leaves.
    assert(!plan.contains("element_at(e"), plan.take(2000))
    assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"))
    // Probe results only ever pair a probe with candidates of ONE cell.
    val cellsPerProbe = serve.groupBy($"probe_id")
      .agg(countDistinct($"cell").as("nc"))
      .select($"nc").distinct().collect().map(_.getLong(0))
    assert(cellsPerProbe.toSeq == Seq(1L))
  }
}
