package graft

import org.apache.spark.sql.functions._

/** Round-10 additions: type-widening schema evolution and the quantile
  * sketch pipeline.
  */
class Round10OpsSpec extends SparkTestBase {
  import spark.implicits._

  test("q_source_schema_widening upcasts INT32 to BIGINT and null-fills v1") {
    val df = SparkEntry.queries("q_source_schema_widening")(spark, sf0001)
    assert(df.schema("s_suppkey").dataType ==
      org.apache.spark.sql.types.LongType)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // Even keys came from the INT32 generation without s_acctbal.
    assert(rows.filter(_.getLong(0) % 2 == 0).forall(_.isNullAt(2)))
    assert(rows.filter(_.getLong(0) % 2 == 1).forall(!_.isNullAt(2)))
  }

  test("q_agg_sketch_kll estimates sit inside the KLL rank-error bound") {
    // KLL with k=200 guarantees ±1.65% rank error (99% confidence); the
    // bound checked here is the looser ±3%: every estimate must lie
    // between the EXACT quantiles at q-0.03 and q+0.03, per group and for
    // the merged ALL row (merging must not break the guarantee).
    val got = SparkEntry.queries("q_agg_sketch_kll")(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(got.nonEmpty && got.exists(_._1 == "ALL"))
    val ev = Catalog.load(spark, "/root/testdata/sf0.01", "events")
      .select($"event_type", $"value")
    val all = ev.withColumn("event_type", org.apache.spark.sql.functions.lit("ALL"))
    val exact = ev.union(all)
      .groupBy($"event_type")
      .agg(
        expr("percentile(value, array(0.47d, 0.53d, 0.92d, 0.98d))").as("qs"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    got.foreach { case (et, p50, p95) =>
      val qs = exact(et)
      assert(p50 >= qs(0) && p50 <= qs(1),
        s"$et p50=$p50 outside exact [${qs(0)}, ${qs(1)}]")
      assert(p95 >= qs(2) && p95 <= qs(3),
        s"$et p95=$p95 outside exact [${qs(2)}, ${qs(3)}]")
    }
  }

  test("q_agg_sketch_freq estimates sit inside the Misra-Gries error bound") {
    val sf = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("q_agg_sketch_freq")(spark, sf)
      .filter($"scope" === "ALL")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got.size == 5)
    val li = Catalog.load(spark, sf, "lineitem")
    val n = li.count()
    val exact = li.groupBy($"l_suppkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // |est - true| <= 3.5*n/maxMapSize per merged input sketch (3 flags).
    val bound = 3 * 3.5 * n / 256.0
    got.foreach { case (k, est) =>
      assert(math.abs(est - exact(k)) <= bound,
        s"suppkey $k est=$est exact=${exact(k)} bound=$bound")
    }
  }

  test("q_stream_dedup_exec emits exactly the distinct key set via a real run") {
    val got = SparkEntry.queries("q_stream_dedup_exec")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2))).toSet
    val expected = Catalog.load(spark, sf0001, "events")
      .select($"user_id", $"event_type", date_trunc("day", $"ts").as("day"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2))).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("q_join_point_in_time equals the composed window form and never leaks the future") {
    val df = SparkEntry.queries("q_join_point_in_time")(spark, sf0001)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // PIT contract: the joined version's valid_from is never after the event.
    assert(rows.forall(r => !r.getTimestamp(4).after(r.getTimestamp(2))))
    // And it is the LATEST such version: recompute via the composed form.
    val composed = {
      val ev = Catalog.load(spark, sf0001, "events")
      val daily = ev.filter($"event_type" === "purchase")
        .groupBy($"user_id", date_trunc("day", $"ts").as("valid_from"))
        .agg(graft.Dsl.dsum($"value").as("day_value"))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"valid_from".asc)
      val dim = daily.withColumn("version", row_number().over(wv).cast("long"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_id")
        .orderBy($"valid_from".desc, $"version".desc)
      ev.select($"event_id", $"user_id", $"ts")
        .join(dim.withColumnRenamed("user_id", "d_user"),
          $"user_id" === $"d_user" && $"valid_from" <= $"ts")
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"event_id", $"version")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(rows.map(r => r.getLong(0) -> r.getLong(3)).toMap == composed)
  }

  test("q_agg_sketch_theta overlap estimates match exact set intersections") {
    val sf = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("q_agg_sketch_theta")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.nonEmpty)
    val ev = Catalog.load(spark, sf, "events")
      .select($"event_type", $"user_id").distinct()
      .collect().groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getLong(1)).toSet }
    got.foreach { case ((ta, tb), (ea, eb, eo)) =>
      val (xa, xb) = (ev(ta), ev(tb))
      val exactO = (xa intersect xb).size.toLong
      // Distinct users per type sit below the sketch's k=4096, so theta
      // estimates are EXACT here; allow 2% slack for the general contract.
      assert(math.abs(ea - xa.size) <= math.max(1, xa.size / 50), s"$ta $ea vs ${xa.size}")
      assert(math.abs(eb - xb.size) <= math.max(1, xb.size / 50), s"$tb $eb vs ${xb.size}")
      assert(math.abs(eo - exactO) <= math.max(1, exactO / 50), s"$ta∩$tb $eo vs $exactO")
    }
  }

  test("q_graph_kcore equals an exact in-memory peeling of the same edges") {
    val sf = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("q_graph_kcore")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Rebuild the co-purchase edge set (same definition as the query) and
    // peel exactly: remove nodes of degree < 3 until fixpoint.
    val edges = Catalog.load(spark, sf, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey".as("c"), date_trunc("day", $"o_orderdate").as("day"))
      .distinct()
      .as("x").join(Catalog.load(spark, sf, "orders")
        .filter($"o_orderpriority" === "1-URGENT")
        .select($"o_custkey".as("c2"), date_trunc("day", $"o_orderdate").as("day"))
        .distinct().as("y"), Seq("day"))
      .filter($"c" < $"c2")
      .select($"c", $"c2").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    var adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    edges.foreach { case (a, b) =>
      adj(a) = adj(a) + b; adj(b) = adj(b) + a
    }
    var changed = true
    while (changed) {
      val victims = adj.filter(_._2.size < 3).keys.toSet
      changed = victims.nonEmpty
      victims.foreach(adj.remove)
      adj = adj.map { case (n, ns) => n -> (ns -- victims) }
        .to(scala.collection.mutable.Map).withDefaultValue(Set.empty)
    }
    val expected = adj.map { case (n, ns) => n -> ns.size.toLong }.toMap
    assert(got == expected && got.nonEmpty)
  }

  test("q_join_null_aware_anti drops the NULL-key group and matches a composed anti join") {
    val df = SparkEntry.queries("q_join_null_aware_anti")(spark, sf0001)
    val rows = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // NULL NOT IN (non-empty set) is UNKNOWN → the whole '5-LOW' group is gone.
    assert(rows.nonEmpty && !rows.contains("5-LOW"))
    val orders = Catalog.load(spark, sf0001, "orders")
    val excl = Catalog.load(spark, sf0001, "customer")
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val expected = orders.filter($"o_orderpriority" =!= "5-LOW")
      .join(excl, $"o_custkey" === $"c_custkey", "left_anti")
      .groupBy($"o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == expected)
  }

  test("q_stat_regression matches a direct double-precision fit per group") {
    val df = SparkEntry.queries("q_stat_regression")(spark, sf0001)
    val got = df.collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.size == 3)
    val raw = Catalog.load(spark, sf0001, "lineitem")
      .select($"l_returnflag", $"l_quantity", $"l_extendedprice")
      .collect().groupBy(_.getString(0))
    raw.foreach { case (flag, rs) =>
      val xs = rs.map(_.getDouble(1)); val ys = rs.map(_.getDouble(2))
      val n = xs.length.toDouble
      val (mx, my) = (xs.sum / n, ys.sum / n)
      val sxy = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val sxx = xs.map(x => (x - mx) * (x - mx)).sum
      val syy = ys.map(y => (y - my) * (y - my)).sum
      val (slope, intercept, r2) =
        (sxy / sxx, my - sxy / sxx * mx, sxy * sxy / (sxx * syy))
      val (gs, gi, gr) = got(flag)
      assert(math.abs(gs - slope) < 1e-3, s"$flag slope $gs vs $slope")
      assert(math.abs(gi - intercept) < 1e-2, s"$flag intercept $gi vs $intercept")
      assert(math.abs(gr - r2) < 1e-4, s"$flag r2 $gr vs $r2")
    }
  }

  test("q_quality_expectations: firing checks fire, structural checks hold") {
    val rows = SparkEntry.queries("q_quality_expectations")(spark, sf0001)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(rows.size == 6)
    // Structural invariants of the fixtures hold at zero violations.
    Seq("orders.o_orderkey not_null", "orders.o_orderkey unique",
      "orders.o_orderpriority domain", "orders.o_custkey referential customer")
      .foreach { c => assert(rows(c)._2 == 0L && rows(c)._3, c) }
    // The range and date thresholds sit inside the observed value range, so
    // the violation-counting path is exercised.
    Seq("orders.o_totalprice range[0,400000]",
      "orders.o_orderdate range[1995-01-01,2001-06-30]")
      .foreach { c => assert(rows(c)._2 > 0L && !rows(c)._3, c) }
    rows.values.foreach { case (checked, viol, _) =>
      assert(checked > 0L && viol <= checked)
    }
  }

  test("q_attribution credit models are internally consistent") {
    val rows = SparkEntry.queries("q_attribution")(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(rows.keySet == Set("view", "click"))
    // Every conversion has exactly one first and one last touch, so the
    // totals across channels agree; and that total is the conversion count.
    val nConv = rows.values.map(_._2).sum
    assert(nConv == rows.values.map(_._3).sum && nConv > 0)
    // Linear credit sums to ~1e6 per conversion (minus div truncation).
    val linear = rows.values.map(_._4).sum
    assert(linear <= nConv * 1000000L && linear > nConv * 990000L,
      s"linear=$linear conversions=$nConv")
  }

  test("q_snapshot_diff classes partition the key union and match the filters") {
    val rows = SparkEntry.queries("q_snapshot_diff")(spark, sf0001).collect()
    assert(rows.map(_.getString(1)).toSet ==
      Set("added", "removed", "changed", "unchanged"))
    rows.foreach { r =>
      val (k, status) = (r.getLong(0), r.getString(1))
      val (inV1, inV2) = (k % 11 != 0, k % 13 != 0)
      status match {
        case "added"   => assert(!inV1 && inV2 && r.isNullAt(2))
        case "removed" => assert(inV1 && !inV2 && r.isNullAt(3))
        case other =>
          assert(inV1 && inV2)
          assert((other == "changed") == (k % 5 == 0))
      }
    }
  }

  test("q_scd2_compact islands cover the full history without overlap") {
    val compact = SparkEntry.queries("q_scd2_compact")(spark, sf0001).collect()
    val history = SparkEntry.queries("q_scd2_history")(spark, sf0001).collect()
    // Version counts re-aggregate: merged counts sum to the raw version count.
    assert(compact.map(_.getLong(5)).sum == history.length)
    assert(compact.length < history.length) // some merging actually happened
    // Per user: consecutive compact versions chain valid_from/valid_to with
    // exactly one open (NULL valid_to) current row.
    compact.groupBy(_.getLong(0)).foreach { case (_, vs) =>
      val sorted = vs.sortBy(_.getLong(1))
      assert(sorted.init.forall(!_.isNullAt(3)) && sorted.last.isNullAt(3))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getTimestamp(3).compareTo(b.getTimestamp(2)) <= 0)
        case _ =>
      }
    }
  }

  test("q_stream_stream_join pairs equal the batch interval join via a real run") {
    val got = SparkEntry.queries("q_stream_stream_join")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    val ev = Catalog.load(spark, sf0001, "events")
    val views = ev.filter($"event_type" === "view")
      .select($"event_id".as("view_id"), $"user_id", $"ts".as("view_ts"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("c_user"), $"ts".as("click_ts"))
    val expected = views.join(clicks,
        $"user_id" === $"c_user" && $"click_ts" > $"view_ts" &&
          $"click_ts" <= $"view_ts" + expr("INTERVAL 30 MINUTES"))
      .select($"view_id", $"click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("q_sql_dominant_supplier: dominance is unique per part and exceeds half") {
    val sf = sf0001
    val rows = SparkEntry.queries("q_sql_dominant_supplier")(spark, sf).collect()
    assert(rows.nonEmpty)
    // Recompute (part, supplier) volumes; per part at most ONE supplier can
    // clear 2*qty > total, and every reported dominant count must re-derive.
    val pps = Catalog.load(spark, sf, "lineitem")
      .filter(year($"l_shipdate") === 1996)
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(sum($"l_quantity".cast("long")).as("qty"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val totals = pps.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val dominant = pps.filter { case (p, _, q) => 2 * q > totals(p) }
    assert(dominant.groupBy(_._1).forall(_._2.size == 1))
    val expected = dominant.groupBy(_._2).view
      .mapValues(v => (v.size.toLong, v.map(_._3).sum)).toMap
    assert(rows.map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
      == expected)
  }

  test("q_ts_forecast_snaive: forecasts re-derive from the shifted series") {
    val rows = SparkEntry.queries("q_ts_forecast_snaive")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, fs, fn) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(r.getDouble(4) == math.abs(a - fs))
      assert(r.getDouble(5) == math.abs(a - fn))
      assert(r.getBoolean(6) == (math.abs(a - fs) <= math.abs(a - fn)))
    }
    // Both models must win somewhere, else the comparison is vacuous.
    assert(rows.exists(_.getBoolean(6)) && rows.exists(!_.getBoolean(6)))
  }

  test("q_win_interval_union coverage equals an exact in-memory sweep") {
    val got = SparkEntry.queries("q_win_interval_union")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val byUser = Catalog.load(spark, sf0001, "events")
      .select($"user_id", unix_micros($"ts")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val expected = byUser.map { case (u, rows) =>
      val ivs = rows.map(_._2).sorted.map(s => (s, s + 900000000L))
      val merged = ivs.tail.foldLeft(List(ivs.head)) {
        case (acc @ ((bs, be) :: rest), (s, e)) =>
          if (s >= be) (s, e) :: acc
          else (bs, math.max(be, e)) :: rest
        case (acc, _) => acc
      }
      u -> (rows.size.toLong, merged.size.toLong,
        merged.map { case (s, e) => e - s }.sum)
    }
    assert(got == expected && got.nonEmpty)
    // Coverage never exceeds the naive sum and the blocks never overlap.
    got.foreach { case (_, (n, blocks, covered)) =>
      assert(covered <= n * 900000000L && blocks <= n)
    }
  }

  test("q_audit_reconciliation bands partition orders and fire on the fixtures") {
    val rows = SparkEntry.queries("q_audit_reconciliation")(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nOrders = Catalog.load(spark, sf0001, "orders").count()
    assert(rows.values.map(_._1).sum == nOrders)
    // The synthetic headers genuinely fail to reconcile, and some orders
    // have no lines — both facts the audit must surface.
    assert(rows.contains("no_lines") && rows("no_lines")._2 == 0L)
    assert(rows.keys.exists(b => b == "over_100k" || b == "within_100k"))
    assert(!rows.contains("exact"))
  }

  test("mergeSchema cannot reconcile conflicting primitive types (why the explicit schema)") {
    val d = java.nio.file.Files.createTempDirectory("graft_widen_").toString
    Seq((1, "a")).toDF("k", "v").write.parquet(s"$d/v1")
    Seq((2L, "b")).toDF("k", "v").write.parquet(s"$d/v2")
    val e = intercept[Exception] {
      spark.read.option("mergeSchema", "true").parquet(s"$d/v1", s"$d/v2").collect()
    }
    assert(e.getMessage.contains("CANNOT_MERGE_SCHEMAS") ||
      e.toString.contains("CANNOT_MERGE_SCHEMAS"), e.toString.take(300))
    // The explicit-schema path reads the same two generations fine.
    val widened = spark.read.schema("k BIGINT, v STRING")
      .parquet(s"$d/v1", s"$d/v2").orderBy("k")
      .as[(Long, String)].collect().toSeq
    assert(widened == Seq((1L, "a"), (2L, "b")))
  }
}
