package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.operators.GraphOps

/** The [[Memo]] contract. Regression cases for round 7's verify crash: the
  * graph memo ran builds inside `ConcurrentHashMap.computeIfAbsent`, and the
  * labels leaf's build resolved the und-edges leaf through the SAME map — a
  * nested update the JDK forbids, throwing IllegalStateException("Recursive
  * update") whenever both keys landed in one hash bin. Bin placement
  * depended on the applicationId string, so the crash struck per-JVM at
  * random (~1 in 6 runs), silently dropping q_graph_components and
  * q_dedup_clusters from the round-7 correctness report.
  */
class GraphMemoSpec extends SparkTestBase {

  test("nested memo builds survive guaranteed same-bin key collisions") {
    // "Aa" and "BB" have identical String.hashCode; the memo key is
    // appId#sfDir#tag, and equal-length suffixes with equal hashes make the
    // FULL keys hash-equal whatever the appId prefix is (polynomial string
    // hash: same prefix, same suffix length, same suffix hash → same hash).
    // So these two tags land in the same ConcurrentHashMap bin in EVERY
    // JVM — under a build-inside-computeIfAbsent shape this test always
    // threw.
    val df = Memo.leaf(spark, sf0001, "collide_Aa") {
      val inner = Memo.leaf(spark, sf0001, "collide_BB") {
        spark.range(3).select(col("id").as("u"), col("id").as("v"))
      }
      inner.select(col("u"), col("v"))
    }
    assert(df.count() == 3)
    // Both leaves memoized: a second resolve returns the SAME frame, no
    // rebuild (reference equality is the memo contract for leaves).
    val again = Memo.leaf(spark, sf0001, "collide_BB") {
      fail("memoized leaf must not rebuild"); ???
    }
    assert(again.count() == 3)
  }

  test("8 threads resolving one key run its build exactly once") {
    val builds = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(8)
    try {
      val start = new CountDownLatch(1)
      val results = (1 to 8).map { _ =>
        pool.submit(() => {
          start.await()
          Memo(spark, sf0001, "once_under_contention") {
            builds.incrementAndGet()
            Thread.sleep(200)
            Seq(1L, 2L, 3L)
          }
        })
      }
      start.countDown()
      assert(results.map(_.get(60, TimeUnit.SECONDS)).distinct == Seq(Seq(1L, 2L, 3L)))
    } finally pool.shutdownNow()
    assert(builds.get == 1)
  }

  test("a build that throws is not cached and runs again on the next call") {
    val builds = new AtomicInteger()
    def resolve(): Long = Memo(spark, sf0001, "fails_first") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      42L
    }
    assert(intercept[IllegalStateException](resolve()).getMessage == "first build fails")
    assert(resolve() == 42L)
    assert(resolve() == 42L)
    assert(builds.get == 2)
  }

  test("components then dedupClusters rebuild cleanly across 10 fresh memo states") {
    // The driver's verify runs each query once per fresh JVM; appId decides
    // bin placement there. Locally we force the rebuild path (the only path
    // that ever crashed) by clearing the memo each iteration — ten
    // consecutive label-propagation builds, each nesting the und-edges
    // resolve inside the labels resolve, must all succeed.
    val comp = SparkEntry.queries("q_graph_components")
    val clus = SparkEntry.queries("q_dedup_clusters")
    (1 to 10).foreach { i =>
      Memo.clearForTest()
      assert(comp(spark, sf0001).count() > 0, s"components, iteration $i")
      assert(clus(spark, sf0001).count() > 0, s"dedup_clusters, iteration $i")
    }
  }

  /** A path 0-1-2-...-63, both directions: the adversarial case for
    * min-label propagation (diameter 63 > MaxRounds 20).
    */
  private def chain64() = {
    import spark.implicits._
    (0L until 63L).map(i => (i, i + 1)).toDF("u", "v")
      .select(explode(array(
        struct($"u", $"v"), struct($"v".as("u"), $"u".as("v")))).as("e"))
      .select($"e.u".as("u"), $"e.v".as("v"))
  }

  test("two-star components: O(log n) rounds on a 64-node chain, labels exact") {
    // Two-star must collapse the chain to one star centered at 0 in
    // ~log2(64) rounds.
    val (lbl, rounds) = GraphOps.twoStarLabels(spark, chain64())
    assert(rounds <= 8, s"expected ~log2(64) rounds, got $rounds")
    val got = lbl.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 64 && got.values.forall(_ == 0L), got.toString)
  }

  test("min-label propagation on the 64-node chain raises, naming the kernel and the cap") {
    // Diameter 63 needs far more than the 20-round cap: the round driver
    // must fail loudly instead of returning partial labels.
    val e = intercept[IllegalArgumentException](
      GraphOps.propagateMinLabels(spark, chain64()))
    assert(e.getMessage.contains("connected components did not converge within 20 rounds"),
      e.getMessage)
  }

  test("two-star labels equal min-label labels on the near-dup graph") {
    val a = SparkEntry.queries("q_graph_components")(spark, sf0001)
    val b = SparkEntry.queries("q_graph_components_twostar")(spark, sf0001)
    assert(a.except(b).isEmpty && b.except(a).isEmpty && a.count() > 0)
  }
}
