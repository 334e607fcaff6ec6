package graft

/** The banded-MinHash dedup (q_dedup_minhash) is capability-only in the
  * oracle gate, so its guarantees are pinned here instead:
  *  - recall: every exact near-dup pair (q_dedup_near, Jaccard >= 0.8) must
  *    appear in the minhash candidates (theoretical miss prob at s >= 0.8 is
  *    (1-s)^16 <= 6.6e-12 per pair; the fixture must show zero misses);
  *  - precision of the rerank: reported jaccard_dist is EXACT (verified
  *    against the shingle-set formulation), so no candidate with distance
  *    > 0.4 survives;
  *  - determinism: two runs produce identical rows.
  */
class MinhashDedupSpec extends SparkTestBase {

  private def rows(name: String) =
    SparkEntry.queries(name)(spark, sf0001).collect().toSeq

  test("minhash candidates cover all exact near-dup pairs, exactly reranked") {
    val near = rows("q_dedup_near")
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    val mh = rows("q_dedup_minhash")
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    // Recall vs the exact twin: near-dup pairs have jaccard >= 0.8, i.e.
    // dist <= 0.2 <= the 0.4 candidate cut — all must be present.
    val mhPairs = mh.map { case (a, b, _) => (a, b) }.toSet
    val missed = near.filter { case (a, b, _) => !mhPairs.contains((a, b)) }
    assert(missed.isEmpty, s"near-dup pairs missed by minhash: $missed")

    // The rerank is exact: for the shared pairs, 1 - jaccard_dist must
    // equal the exact twin's jaccard (both rounded to 4dp).
    val nearJ = near.map { case (a, b, j) => (a, b) -> j }.toMap
    mh.filter { case (a, b, _) => nearJ.contains((a, b)) }
      .foreach { case (a, b, dist) =>
        val expect = math.rint((1.0 - nearJ((a, b))) * 10000) / 10000
        assert(math.abs(dist - expect) < 1e-9,
          s"pair ($a,$b): minhash dist $dist != 1 - exact jaccard ${nearJ((a, b))}")
      }

    // Distance threshold respected and output deterministic.
    assert(mh.forall(_._3 <= 0.4))
    assert(rows("q_dedup_minhash").map(_.toString) ===
      rows("q_dedup_minhash").map(_.toString))
  }

  test("pipeline verify stage equals the exact pair set (full banded recall)") {
    // q_dedup_pipeline's correctness rests on candidates ⊇ exact pairs;
    // make the claim explicit: verified(candidates) == q_dedup_near.
    val near = rows("q_dedup_near")
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    val verified = graft.operators.LlmPipeline
      .mhVerifiedPairs(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(verified == near, s"diff: ${verified.diff(near)} / ${near.diff(verified)}")
  }

  test("pipeline survivorship reconciles with q_dedup_clusters' multi-member rows") {
    // Same components, viewed two ways: the pipeline's survivor table must
    // match the cluster report restricted to components of >= 2 members.
    val pipe = rows("q_dedup_pipeline")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val clusters = rows("q_dedup_clusters")
      .filter(_.getLong(1) >= 2)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(pipe.nonEmpty && pipe == clusters)
  }
}
