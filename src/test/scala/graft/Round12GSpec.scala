package graft

/** Round-12 batch-8 invariants: zone-map pruning really skips files and
  * skips only files that cannot match; the PQ code table is a complete
  * M-codes-per-vector encoding; cogroup covers the key union.
  */
class Round12GSpec extends SparkTestBase {
  import spark.implicits._

  test("zone-map skip: strict subset of files, skipped files cannot match") {
    // The manifest is a distributed table (r14: only pruned survivors are
    // ever collected); the spec reads it whole only because it is 16 rows.
    val all = graft.operators.Layout.zonemapManifest(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getTimestamp(1),
        r.getTimestamp(2))).toSeq
    val picked = graft.operators.Layout
      .zonemapFilesFor(spark, sf0001, "1995-06-01", "1995-08-31").toSet
    assert(all.size == 16, s"expected 16 clustered files, got ${all.size}")
    assert(picked.nonEmpty && picked.size < all.size,
      s"pruning must drop files: ${picked.size}/${all.size}")
    // Manifest completeness: a skipped file's [min, max] lies entirely
    // outside the queried range, so it cannot hold a matching row.
    def utc(d: String) = java.sql.Timestamp.from(
      java.time.LocalDate.parse(d).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant)
    val (lo, hi) = (utc("1995-06-01"), utc("1995-08-31"))
    all.filterNot(s => picked(s._1)).foreach { s =>
      assert(s._3.before(lo) || s._2.after(hi),
        s"skipped file overlaps the range: $s")
    }
  }

  test("pq codes: one code per (vector, subspace), within the codebook") {
    val codes = graft.operators.PqOps.pqCodes(spark, sf0001)
    val n = Catalog.load(spark, sf0001, "embeddings").count()
    assert(codes.count() == n * 8, "one code per vector per subspace")
    assert(codes.filter($"code" < 0L || $"code" >= 16L).count() == 0)
    assert(codes.groupBy($"vec_id", $"sub").count()
      .filter($"count" > 1).count() == 0, "duplicate (vec, sub) code")
    // The codebooks really compress: at most M*Kpq distinct centroids.
    val books = graft.operators.PqOps.pqCodebooks(spark, sf0001).count()
    assert(books <= 8L * 16L && books > 0L)
  }

  test("pq adc: 5 ranked candidates per probe, never the probe itself") {
    val rows = SparkEntry.queries("q_sim_pq_adc")(spark, sf0001).collect()
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.size == 10 && byProbe.values.forall(_.length == 5))
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("typed cogroup: covers the key union with zero-filled absences") {
    val out = SparkEntry.queries("q_typed_cogroup")(spark, sf0001)
    val custs = Catalog.load(spark, sf0001, "orders")
      .select($"o_custkey".as("k")).distinct()
    val users = Catalog.load(spark, sf0001, "events")
      .select($"user_id".as("k")).distinct()
    val unionKeys = custs.union(users).distinct().count()
    assert(out.count() == unionKeys)
    // A key with no events reports n_events = 0 and a NULL max_value.
    assert(out.filter($"n_events" === 0L && $"max_value".isNotNull)
      .count() == 0)
    assert(out.filter($"n_orders" === 0L && $"max_price".isNotNull)
      .count() == 0)
  }
}
