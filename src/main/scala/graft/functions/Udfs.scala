package graft.functions

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.{Catalog, Q, QueryPack}

/** SURVEY.md §2.K — the user-extension surface: scalar UDF, typed UDAF
  * (`Aggregator`), and the generator (UDTF-shaped) path.
  *
  * Determinism: the scalar UDF's arithmetic is mirrored exactly in the oracle
  * SQL (integer ops only — no float divergence possible). The UDAF's
  * geometric mean folds logs whose summation-order noise is ~1e-12, absorbed
  * by the 4-decimal rounding on both sides.
  *
  * Scale notes: a Scala UDF breaks whole-stage codegen for its one projection
  * (values are boxed per row) but stays fully distributed; the declared
  * queries keep UDFs out of joins/filters so no pushdown is lost. The typed
  * Aggregator compiles to an ObjectHashAggregate with map-side partials —
  * same shuffle shape as a built-in aggregate.
  */
object Udfs extends QueryPack {

  /** Deterministic content hash: (31*len + sum of char codes) mod 100.
    * Pure integer arithmetic, mirrored verbatim in the oracle.
    */
  private def featureHash(s: String): Long =
    if (s == null) -1L else (31L * s.length + s.map(_.toLong).sum) % 100L

  private def udfScalar(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val fh = udf(featureHash _)
    Catalog.load(spark, sfDir, "customer")
      .select($"c_custkey", $"c_name", fh($"c_name").as("feature_bucket"))
      .orderBy($"c_custkey".asc_nulls_first)
  }

  /** Typed UDAF: geometric mean via (sum of logs, count) buffer. */
  private object GeoMean extends Aggregator[Double, (Double, Long), Double] {
    override def zero: (Double, Long) = (0.0, 0L)
    override def reduce(b: (Double, Long), x: Double): (Double, Long) =
      (b._1 + math.log(x), b._2 + 1L)
    override def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      (a._1 + b._1, a._2 + b._2)
    override def finish(b: (Double, Long)): Double =
      if (b._2 == 0L) Double.NaN else math.exp(b._1 / b._2)
    override def bufferEncoder: Encoder[(Double, Long)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  private def udafTyped(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val geoMean = udaf(GeoMean)
    Catalog.load(spark, sfDir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        round(geoMean($"l_quantity"), 4).as("geo_qty"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag".asc_nulls_first)
  }

  private def udtfGenerator(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "token")))
      .select($"doc_id", $"pos".cast("long").as("pos"), $"token")
      .orderBy($"doc_id".asc_nulls_first, $"pos".asc_nulls_first)
  }

  override val queries: Vector[Q] = Vector(
    Q("q_udf_scalar", udfScalar, Some("""
      SELECT c_custkey, c_name,
        CAST((31 * length(c_name) +
         list_aggregate(list_transform(string_split(c_name, ''), c -> ascii(c)), 'sum'))
        % 100 AS BIGINT) AS feature_bucket
      FROM customer ORDER BY c_custkey ASC NULLS FIRST""")),
    Q("q_udaf_typed", udafTyped, Some("""
      SELECT l_returnflag,
        round(exp(avg(ln(l_quantity))), 4) AS geo_qty,
        count(*) AS n
      FROM lineitem GROUP BY l_returnflag
      ORDER BY l_returnflag ASC NULLS FIRST""")),
    Q("q_udtf_generator", udtfGenerator, Some("""
      WITH flat AS (
        SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
               unnest(string_split(text, ' ')) AS token
        FROM documents)
      SELECT doc_id, CAST(pos AS BIGINT) AS pos, token
      FROM flat
      ORDER BY doc_id ASC NULLS FIRST, pos ASC NULLS FIRST""")),
  )
}
