package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Relational-algebra invariants on generated data (SURVEY §5.4), run by
  * ScalaCheck's own sbt framework (no scalatest bridge in the offline
  * cache). Few cases per property — each case is a full Spark job.
  */
object PropertySpec extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5).withMaxSize(30)

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val rows = Gen.listOf(Gen.zip(Gen.chooseNum(0L, 10L), Gen.chooseNum(0, 5)))

  property("dedup idempotent") = forAll(rows) { xs =>
    val once = xs.toDF("k", "v").dropDuplicates("k")
    once.count() == once.dropDuplicates("k").count() &&
      once.count() == xs.map(_._1).distinct.size
  }

  property("semi + anti partition the left side") = forAll(rows, rows) { (ls, rs) =>
    val l = ls.toDF("k", "v")
    val r = rs.toDF("k", "v")
    l.join(r, Seq("k"), "left_semi").count() +
      l.join(r, Seq("k"), "left_anti").count() == l.count()
  }

  property("unionAll count-additive; intersect contained in both") =
    forAll(rows, rows) { (ls, rs) =>
      val l = ls.toDF("k", "v")
      val r = rs.toDF("k", "v")
      val both = l.intersect(r)
      l.unionAll(r).count() == l.count() + r.count() &&
        both.except(l).isEmpty && both.except(r).isEmpty
    }

  property("running sum final value equals group sum") = forAll(rows) { xs =>
    xs.isEmpty || {
      val df = xs.zipWithIndex
        .map { case ((k, v), i) => (k, i.toLong, v.toLong) }
        .toDF("k", "seq", "v")
      val w = Window.partitionBy($"k").orderBy($"seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val last = df.withColumn("run", sum($"v").over(w))
        .groupBy($"k").agg(max(struct($"seq", $"run")).getField("run").as("fin"))
      val grouped = df.groupBy($"k").agg(sum($"v").as("total"))
      last.join(grouped, "k").filter($"fin" =!= $"total").isEmpty
    }
  }

  property("bitmap distinct equals countDistinct under any grouping") =
    forAll(Gen.listOf(Gen.zip(Gen.chooseNum(0, 3), Gen.chooseNum(0L, 200L)))) { xs =>
      xs.isEmpty || {
        val df = xs.toDF("g", "k")
        // direct == rollup-through-merged-group-bitmaps == exact
        val direct = df.agg(expr("graft_bitmap_card(graft_bitmap_agg(k))"))
          .head().getLong(0)
        val rollup = df.groupBy($"g")
          .agg(expr("graft_bitmap_agg(k)").as("bm"))
          .agg(expr("graft_bitmap_card(graft_bitmap_merge_agg(bm))"))
          .head().getLong(0)
        val exact = xs.map(_._2).distinct.size.toLong
        direct == exact && rollup == exact
      }
    }

  private val intervalGen = Gen.listOf(Gen.zip(
    Gen.chooseNum(-50L, 50L), Gen.chooseNum(-20L, 40L)))

  property("range-join binning result-identical to the nested loop") =
    forAll(Gen.listOf(Gen.chooseNum(-60L, 60L)), intervalGen,
           Gen.oneOf(1L, 3L, 16L)) { (ps, ivs, w) =>
      ps.isEmpty || ivs.isEmpty || {
        val p = ps.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("pid", "p")
        val iv = ivs.zipWithIndex.map { case ((lo, len), i) =>
          (i.toLong, lo, lo + len) }.toDF("id", "lo", "hi")
        def run() = p.join(iv, $"p" >= $"lo" && $"p" <= $"hi")
          .select($"pid", $"id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val key = graft.plans.RangeJoinBinning.ConfKey
        val saved = spark.conf.getOption(key)
        spark.conf.set(key, "0")
        val plain = try run() finally ()
        spark.conf.set(key, w.toString)
        val binned = try run() finally saved match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
        plain == binned
      }
    }

  property("overlap-join binning result-identical to the nested loop") =
    forAll(intervalGen, intervalGen, Gen.oneOf(1L, 3L, 16L)) { (as, bs, w) =>
      as.isEmpty || bs.isEmpty || {
        // Ill-formed intervals (hi < lo via negative len) are generated on
        // purpose: the original condition can still match them and the
        // rewrite must agree (least/greatest coverage in the rule).
        val a = as.zipWithIndex.map { case ((lo, len), i) =>
          (i.toLong, lo, lo + len) }.toDF("aid", "alo", "ahi")
        val bdf = bs.zipWithIndex.map { case ((lo, len), i) =>
          (i.toLong, lo, lo + len) }.toDF("bid", "blo", "bhi")
        def run() = a.join(bdf, $"alo" <= $"bhi" && $"blo" <= $"ahi")
          .select($"aid", $"bid")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val key = graft.plans.RangeJoinBinning.ConfKey
        val saved = spark.conf.getOption(key)
        spark.conf.set(key, "0")
        val plain = try run() finally ()
        spark.conf.set(key, w.toString)
        val binned = try run() finally saved match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
        plain == binned
      }
    }

  // Strict lake-log grammar (round 15): serialize→parse round-trips every
  // field exactly, and any single-character corruption of the structural
  // skeleton raises rather than silently dropping the action.
  private val pathGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  // Every op, each optional field its grammar allows present or absent at
  // random: the serializer is the exact inverse of the parser.
  private val lakeOps = Seq("add", "remove", "dv", "vacuum", "conflict",
    "delta", "edelete", "schema", "tag", "expire")
  private val zoneGen = Gen.zip(Gen.chooseNum(-100000L, 100000L),
    Gen.chooseNum(0L, 100000L)).map { case (mn, span) => (mn, mn + span) }
  private def actionGen(op: String): Gen[graft.operators.LakeOps.LakeAction] = {
    def on[T](ops: String*)(g: Gen[T], none: T): Gen[T] =
      if (ops.contains(op)) g else Gen.const(none)
    for {
      v <- Gen.chooseNum(1, 9999)
      p <- pathGen
      ts <- Gen.option(Gen.chooseNum(0L, 4000000000L))
      dv <- on("dv")(pathGen.map(Option(_)), None)
      key <- on("add")(Gen.option(zoneGen), None)
      zones <- on("add")(Gen.mapOf(Gen.zip(pathGen, zoneGen)),
        Map.empty[String, (Long, Long)])
      rows <- on("add")(Gen.option(Gen.chooseNum(0L, 10000000L)), None)
      bloom <- on("add", "delta", "edelete")(Gen.option(
        Gen.chooseNum(Long.MinValue, Long.MaxValue).map(w => f"$w%016x" * 512)),
        None)
    } yield graft.operators.LakeOps.LakeAction(v, op, p, dv, key.map(_._1),
      key.map(_._2), zones, rows, bloom, ts)
  }

  property("lake action grammar round-trips") =
    forAll(Gen.sequence[List[graft.operators.LakeOps.LakeAction],
        graft.operators.LakeOps.LakeAction](lakeOps.map(actionGen))) { acts =>
      acts.map(_.op) == lakeOps && acts.forall(a =>
        graft.operators.LakeOps.parseAction(
          graft.operators.LakeOps.actionLine(a)) == a)
    }

  // Round 16: add actions may carry a row count (the stats-only field);
  // it round-trips with the zone fields and stays add-exclusive.
  property("add actions with row counts round-trip") =
    forAll(Gen.chooseNum(1, 9999), pathGen,
      Gen.chooseNum(-100000L, 100000L), Gen.chooseNum(0L, 100000L),
      Gen.chooseNum(0L, 10000000L)) { (v, p, mn, span, rows) =>
      val line = s"""{"v":$v,"op":"add","path":"$p","min":$mn,""" +
        s""""max":${mn + span},"rows":$rows}"""
      val a = graft.operators.LakeOps.parseAction(line)
      a.rows.contains(rows) && a.minKey.contains(mn) &&
        scala.util.Try(graft.operators.LakeOps.parseAction(
          s"""{"v":$v,"op":"remove","path":"$p","rows":$rows}""")).isFailure
    }

  property("corrupted lake actions raise") =
    forAll(Gen.chooseNum(1, 999), pathGen, Gen.oneOf(
      (l: String) => l.drop(1),               // lost opening brace
      (l: String) => l.stripSuffix("}"),      // lost closing brace
      (l: String) => l + "x",                 // trailing junk
      (l: String) => l.replace("add", "frob") // unknown op
    )) { (v, p, corrupt) =>
      val line = corrupt(s"""{"v":$v,"op":"add","path":"$p"}""")
      scala.util.Try(graft.operators.LakeOps.parseAction(line)).isFailure
    }

  property("session count never exceeds event count") = forAll(rows) { xs =>
    val events = xs.zipWithIndex.map { case ((u, m), i) =>
      (i.toLong, u, new java.sql.Timestamp(1700000000000L + m * 60000L))
    }.toDF("event_id", "user_id", "ts")
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gap = unix_micros($"ts") - unix_micros(lag($"ts", 1).over(wOrd))
    val sessions = events
      .withColumn("is_new", when(gap.isNull || gap >= lit(1800000000L), 1L).otherwise(0L))
      .withColumn("sid", sum($"is_new").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"user_id", $"sid").distinct().count()
    sessions <= events.count()
  }
}
