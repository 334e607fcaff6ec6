package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global ranking primitives that never funnel the data through a
  * single partition — the scale-safe replacement for `Window.orderBy(...)`
  * with no `partitionBy` (which Spark executes as one task holding the whole
  * input).
  *
  * Shape: bucket each row by LITERAL range boundaries (one `approxQuantile`
  * pass, boundaries embedded in the plan), rank within each bucket, then add
  * per-bucket offsets computed from the tiny (|buckets|-row) count table
  * joined back via broadcast. Global rank = offset + local rank, exact for
  * any total order — boundary placement only affects balance, never
  * correctness, because rows equal on the bucket key always land in the
  * same bucket and buckets respect the sort order.
  *
  * The boundaries MUST be literals: an earlier version bucketed with
  * `repartitionByRange` + `spark_partition_id()`, and the two plan branches
  * (ranks, offsets) re-sampled different boundaries — consistent at small
  * row counts by luck, wrong by a few ranks at sf0.1.
  */
object DistributedRank {

  /** Appends `out` = exact ntile(k) over (`value` asc/desc, `tie` asc).
    * Matches SQL `ntile(k) OVER (ORDER BY value [DESC], tie)` bit-for-bit:
    * first n%k tiles get ceil(n/k) rows. Requires a unique `tie`. NULL values
    * of `value` sort first under asc and last under desc (Spark's default
    * null ordering for each direction), and are bucketed consistently with
    * that order. n < k degrades like SQL ntile (tile = rank, tiles n+1..k
    * empty) instead of dividing by zero.
    *
    * Oracle-parity caveat: DuckDB defaults to NULLS LAST for BOTH directions,
    * so an oracle-checked tile over a NULLABLE ascending column diverges
    * unless the oracle SQL says NULLS FIRST explicitly. Every current call
    * site (RFM recency/frequency/monetary) is non-null by construction.
    */
  def ntileExact(df: DataFrame, k: Int, valueCol: String, ascending: Boolean,
                 tieCol: String, out: String, buckets: Int = 32): DataFrame = {
    // The input plan is evaluated once for the quantile action and once per
    // plan branch (ranks + the broadcast offsets table) — cache it so those
    // passes share one materialization. Callers hand in pre-aggregated
    // inputs orders of magnitude smaller than the raw table.
    val cached = df.cache()
    // One bounded driver-side action: ~(buckets-1) doubles, embedded as
    // literals so every branch of the plan sees identical bucketing.
    val bounds = cached.stat.approxQuantile(valueCol, quantileProbs(buckets), 0.001)
    withNtile(cached, k, valueCol, ascending, tieCol, out, bounds)
  }

  /** Multi-column form: ntile(k) for EVERY (out, value, ascending) spec with
    * ONE `approxQuantile(Array(cols), probs)` pass — one driver action total,
    * where chaining ntileExact costs one per column (r2 bench: 3 sequential
    * quantile jobs in the RFM plan).
    *
    * REQUIRES `tieCol` unique AND non-null: the slim tile branches rejoin on
    * it with inner USING joins, so a null tie key would silently drop the row
    * (the stacked-fold form this replaced preserved such rows). Column order:
    * the input's columns first, then the tile columns in spec order.
    */
  def ntileExactMulti(df: DataFrame, k: Int,
                      specs: Seq[(String, String, Boolean)], tieCol: String,
                      buckets: Int = 32): DataFrame = {
    // localCheckpoint (eager), not cache: every layer's plan then starts from
    // a LEAF. With cache, layer N's logical plan still embeds layers 1..N-1
    // (window + join + 15-arm bucket expr each) and the final plan compiles
    // one giant codegen unit — first-run planning/compile dominated the r5
    // driver bench (12.6 s cold vs 1.7 s steady). Leaf-rooted layers keep
    // each round's codegen small and constant; the checkpoint itself is one
    // bounded job over the pre-aggregated input (|customers| rows, not raw).
    // The non-null half of the tie contract is ENFORCED, not just documented:
    // a null tie key would be silently dropped by the inner rejoin, so it
    // raises here instead — evaluated during the eager checkpoint, one null
    // check per (pre-aggregated) row.
    val base = df.withColumn(tieCol,
        when(col(tieCol).isNull, raise_error(lit(
          s"ntileExactMulti: tie column '$tieCol' must be non-null — " +
            "a null tie key would be silently dropped by the tile rejoin")))
          .otherwise(col(tieCol)))
      .localCheckpoint(true)
    val allBounds = base.stat.approxQuantile(
      specs.map(_._2).toArray, quantileProbs(buckets), 0.001)
    // Each tile column is computed on an independent SLIM branch off the
    // leaf (tie, value) — not stacked on the previous layer's output. Stacked
    // layers needed a checkpoint barrier each (3 sequential jobs) so layer
    // N's offsets branch would not re-execute layers 1..N-1; independent
    // branches share the one leaf and run in a single final job. The join
    // back on the unique tie key hash-partitions everything by tie once —
    // joins 2..3 reuse the first join's partitioning (no extra exchange).
    val slim = specs.zip(allBounds).map { case ((out, value, asc), bounds) =>
      withNtile(base.select(col(tieCol), col(value)), k, value, asc, tieCol,
        out, bounds).select(col(tieCol), col(out))
    }
    // USING-join moves tieCol to the front; restore input-then-tiles order so
    // the public schema is append-only like the single-column form.
    val joined = slim.foldLeft(base)((acc, s) => acc.join(s, Seq(tieCol)))
    joined.select((df.columns.toSeq ++ specs.map(_._1)).map(col): _*)
  }

  /** Appends `out` = exact running sum of `valueCol` over the global
    * ascending order of `orderCol` — SQL
    * `SUM(value) OVER (ORDER BY order ROWS UNBOUNDED PRECEDING)` — without
    * the single-partition window that form executes as.
    *
    * Same bucketed shape as [[ntileExact]]: literal range boundaries from
    * one `approxQuantile` action, per-bucket running sums in a partitioned
    * window, then per-bucket totals (a |buckets|-row table) turned into
    * additive offsets and broadcast back. Exactness does not depend on
    * boundary placement: every row lands in exactly one bucket, buckets
    * respect the sort order, and addition is associative over the split.
    *
    * Contract: `orderCol` numeric, UNIQUE and non-null (it is a total
    * order — ties across a bucket boundary would make the split order-
    * dependent); `valueCol` a non-null integral type (the running sum stays
    * in LONG arithmetic; ANSI mode faults overflow loudly).
    */
  def cumsumExact(df: DataFrame, valueCol: String, orderCol: String,
                  out: String, buckets: Int = 32): DataFrame = {
    val keep = df.columns.toSeq
    val cached = df.cache()
    // buckets=1 degrades to the naive single-partition form (approxQuantile
    // NPEs on an empty probability array, so don't call it).
    val bounds = if (buckets <= 1) Array.empty[Double]
      else cached.stat.approxQuantile(orderCol, quantileProbs(buckets), 0.001)
        .distinct
    val o = col(orderCol).cast("double")
    // Strict comparison as in withNtile: rows equal to a boundary all fall
    // on one side; with a unique order key each bucket is a clean range.
    val bucket = if (bounds.isEmpty) lit(0)
      else size(filter(array(bounds.toIndexedSeq.map(lit(_)): _*), b => o > b))
    val wLoc = Window.partitionBy(col("__bkt")).orderBy(col(orderCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = cached.withColumn("__bkt", bucket)
      .withColumn("__run", sum(col(valueCol)).over(wLoc))
    // |buckets| rows: the ordered-only window is over <= `buckets` rows.
    val wB = Window.orderBy(col("__bkt"))
    val offsets = local.groupBy(col("__bkt"))
      .agg(sum(col(valueCol)).as("__tot"))
      .withColumn("__off", coalesce(
        sum(col("__tot")).over(wB.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("__bkt"), col("__off"))
    local.join(broadcast(offsets), "__bkt")
      .withColumn(out, col("__off") + col("__run"))
      .select((keep :+ out).map(col): _*)
  }

  private def quantileProbs(buckets: Int): Array[Double] =
    (1 until buckets).map(_.toDouble / buckets).toArray

  private def withNtile(df: DataFrame, k: Int, valueCol: String,
                        ascending: Boolean, tieCol: String, out: String,
                        rawBounds: Array[Double]): DataFrame = {
    val keep = df.columns.toSeq
    val bounds = rawBounds.distinct
    val v = col(valueCol).cast("double")
    // Strict comparison: rows equal to a boundary all fall on one side, so
    // equal keys always share a bucket and bucket order follows sort order.
    // NULL comparisons are null-safe false, which would silently drop every
    // null into bucket 0 — wrong under desc where Spark sorts nulls LAST, so
    // nulls are routed explicitly to match each direction's null order.
    // size(filter(literal bounds array)) instead of a |bounds|-arm when
    // chain: same count-of-boundaries-passed semantics, but the generated
    // code stays O(1) in bucket count (one ArrayFilter loop) where the when
    // chain's unrolled branches grew each layer's codegen unit linearly.
    val boundsArr = array(bounds.toIndexedSeq.map(lit(_)): _*)
    val nonNullBucket = size(filter(boundsArr,
      b => if (ascending) v > b else v < b))
    val bucket = when(v.isNull,
        if (ascending) lit(0) else lit(bounds.length))
      .otherwise(nonNullBucket)
    val order = Seq(
      if (ascending) col(valueCol).asc else col(valueCol).desc,
      col(tieCol).asc)
    val ranked = df.withColumn("__bkt", bucket)
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col("__bkt")).orderBy(order: _*))
          .cast("long"))
    // |buckets| rows: the one ordered-only window here is over <= 32 rows.
    val wB = Window.orderBy(col("__bkt"))
    val offsets = ranked.groupBy(col("__bkt"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(
        sum(col("__cnt")).over(wB.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("__n", sum(col("__cnt")).over(
        wB.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("__bkt"), col("__off"), col("__n"))
    ranked.join(broadcast(offsets), "__bkt")
      .withColumn("__r", col("__off") + col("__rn"))
      // ntile(k) of global rank r in n rows: the first n%k tiles have
      // (n div k)+1 rows, the rest n div k. n <= k → tile = rank (guards the
      // n div k = 0 division as well).
      .withColumn(out, expr(s"""CAST(CASE
          WHEN __n <= $k THEN __r
          WHEN __r <= (__n % $k) * ((__n div $k) + 1)
          THEN (__r - 1) div ((__n div $k) + 1) + 1
          ELSE (__n % $k) + (__r - (__n % $k) * ((__n div $k) + 1) - 1) div (__n div $k) + 1
        END AS BIGINT)"""))
      .select((keep :+ out).map(col): _*)
  }
}
