package graft

/** Round-12 batch-7 invariants: the stream-static enrichment join covers
  * the full event stream (dimension completeness), and hard-negative
  * mining never leaks a same-class candidate into the negative set.
  */
class Round12FSpec extends SparkTestBase {
  import spark.implicits._

  test("stream-static join: enrichment covers every event exactly once") {
    val out = SparkEntry.queries("q_stream_static_join")(spark, sf0001)
      .collect()
    val total = out.map(_.getLong(1)).sum
    val nEvents = Catalog.load(spark, sf0001, "events").count()
    // user_id ⊂ c_custkey on the fixtures, so the inner enrich keeps all
    // events; a dropped or duplicated micro-batch would break this sum.
    assert(total == nEvents, s"enriched $total of $nEvents events")
    val users = out.map(_.getLong(2)).sum
    assert(users > 0 && users <= 150 * out.length)
  }

  test("hard negatives: 5 per probe, cross-class only, scores descending") {
    val rows = SparkEntry.queries("q_sim_hard_negatives")(spark, sf0001)
      .collect()
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.size == 10 && byProbe.values.forall(_.length == 5))
    val lbl = Catalog.load(spark, sf0001, "embeddings")
      .select($"vec_id".cast("long"), $"label".cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val candLabel =
        r.getAs[Number](r.fieldIndex("cand_label")).longValue()
      assert(lbl(r.getLong(r.fieldIndex("cand_id"))) == candLabel)
      assert(lbl(r.getLong(0)) != candLabel,
        s"same-class candidate leaked for probe ${r.getLong(0)}")
    }
    byProbe.values.foreach { g =>
      val ordered = g.sortBy(_.getLong(g.head.fieldIndex("rank")))
      val scores = ordered.map(_.getDouble(g.head.fieldIndex("dot_score")))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }
}
