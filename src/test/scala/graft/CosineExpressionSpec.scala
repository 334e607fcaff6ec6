package graft

import org.apache.spark.sql.functions._

/** The native array folds (`graft_cosine`, `graft_dot`, `graft_dot_long`,
  * `graft_sqdist_long`) must be drop-in replacements for the composed
  * zip_with/aggregate formulation: bit-identical doubles (same index-order
  * accumulation), null-safe, and codegen-compatible.
  */
class CosineExpressionSpec extends SparkTestBase {
  import spark.implicits._

  private def hofCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  test("bit-identical to the composed higher-order formulation") {
    val rng = new scala.util.Random(11)
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.fill(64)(rng.nextFloat() - 0.5f))
    }.toDF("id", "v")
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .filter($"a.id" < $"b.id").limit(500)
      .select(
        expr("graft_cosine(a.v, b.v)").as("native"),
        hofCosine($"a.v", $"b.v").as("composed"))
    // Exact equality, not tolerance: both accumulate in index order.
    assert(pairs.filter($"native" =!= $"composed").isEmpty)
  }

  test("null inputs yield null") {
    val df = Seq((Some(Array(1.0f, 2.0f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
    assert(df.select(expr("graft_cosine(a, b)")).head().isNullAt(0))
  }

  test("null ELEMENTS propagate null, matching the composed fold") {
    // The composed zip_with/aggregate yields NULL when any zipped element
    // is null; the native expressions must agree (ADVICE round 9).
    val df = Seq(
      (1L, Array[java.lang.Float](1.0f, null, 3.0f), Array[java.lang.Float](1.0f, 2.0f, 3.0f)),
      (2L, Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Float](4.0f, 5.0f)))
      .toDF("id", "a", "b")
    val r = df.select($"id",
      expr("graft_cosine(a, b)").as("nat_cos"),
      hofCosine($"a", $"b").as("hof_cos"),
      expr("graft_dot(a, b)").as("nat_dot"),
      aggregate(zip_with($"a", $"b", (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("hof_dot"))
      .orderBy($"id").collect()
    assert(r(0).isNullAt(1) && r(0).isNullAt(2) && r(0).isNullAt(3) && r(0).isNullAt(4))
    assert(!r(1).isNullAt(1) && r(1).getDouble(3) == 14.0)

    val dfl = Seq(
      (1L, Array[java.lang.Long](1L, null, 3L), Array[java.lang.Long](1L, 2L, 3L)),
      (2L, Array[java.lang.Long](2L, 3L), Array[java.lang.Long](4L, 5L)))
      .toDF("id", "a", "b")
    val rl = dfl.select($"id", expr("graft_dot_long(a, b)").as("nat"),
        aggregate(zip_with($"a", $"b", (p, q) => p * q),
          lit(0L), (acc, v) => acc + v).as("hof"))
      .orderBy($"id").collect()
    assert(rl(0).isNullAt(1) && rl(0).isNullAt(2))
    assert(rl(1).getLong(1) == 23L && rl(1).getLong(2) == 23L)
  }

  test("ragged arrays yield NULL in every fold, like the composed zip_with fold") {
    // zip_with pads the shorter array with NULLs, so the composed fold is
    // NULL. A local relation is folded at planning (interpreted eval); the
    // RDD scan runs the codegen path.
    val local = Seq(
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f), Array(1L, 2L), Array(1L, 2L, 3L)),
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f), Array(4L, 5L, 6L), Array(4L)))
      .toDF("a", "b", "la", "lb")
    val scan = spark.createDataFrame(local.rdd, local.schema)
    Seq(local, scan).foreach { df =>
      val r = df.select(
        expr("graft_cosine(a, b)"), expr("graft_dot(a, b)"),
        expr("graft_dot_long(la, lb)"), expr("graft_sqdist_long(la, lb)"),
        hofCosine($"a", $"b"),
        aggregate(zip_with($"la", $"lb", (p, q) => p * q), lit(0L), (acc, v) => acc + v))
        .collect()
      assert(r.length == 2 && r.forall(row => (0 until 6).forall(row.isNullAt)),
        r.mkString("; "))
    }
  }

  test("identical vectors give cosine 1.0") {
    val df = Seq(Array(0.3f, -0.7f, 0.2f)).toDF("v")
    val c = df.select(expr("graft_cosine(v, v)")).as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("usable from SQL via the session extension") {
    val c = spark.sql("SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
      "array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT)))").as[Double].head()
    assert(c == 0.0)
  }

  test("graft_dot_long equals the composed integer fold, null-safe") {
    val rng = new scala.util.Random(7)
    val vecs = (0 until 100).map { i =>
      (i.toLong, Array.fill(64)((rng.nextInt(256)).toLong))
    }.toDF("id", "v")
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .filter($"a.id" < $"b.id").limit(300)
      .select(
        expr("graft_dot_long(a.v, b.v)").as("native"),
        aggregate(zip_with($"a.v", $"b.v", (p, q) => p * q),
          lit(0L), (acc, v) => acc + v).as("composed"))
    assert(pairs.filter($"native" =!= $"composed").isEmpty)
    val nulls = Seq((Some(Array(1L, 2L)), Option.empty[Array[Long]]))
      .toDF("a", "b")
    assert(nulls.select(expr("graft_dot_long(a, b)")).head().isNullAt(0))
  }
}
