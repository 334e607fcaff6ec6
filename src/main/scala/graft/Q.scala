package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: the id registered in `SparkEntry.queries`, the Spark
  * implementation, and (for oracle-checkable queries, SURVEY.md §2) the
  * equivalent DuckDB SQL over the same parquet tables. Capability-only
  * queries (sketches, LSH, …) carry `oracle = None`. `warm` queries run
  * once untimed in [[Bench.warmUp]]: they own a [[Memo]] entry or pay a
  * first-use codegen cost, so the timed pass measures their steady state.
  */
final case class Q(
    id: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    warm: Boolean = false)

/** A category of declared queries (one object per SURVEY.md §2 letter). */
trait QueryPack {
  def queries: Vector[Q]
}
