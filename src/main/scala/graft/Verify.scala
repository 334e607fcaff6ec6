package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional trailing args: restrict to the named queries (local iteration;
    // the driver always passes exactly two args → full run).
    val only = args.drop(2).toSet
    // Declaration order (SparkEntry.all), NOT the HashMap view: map-order
    // shifts whenever a key is added, which made round 7's state-dependent
    // graph crash non-reproducible across builds and re-attributed shared
    // cold-path cost each round. Order here is stable per SURVEY category.
    val selected =
      if (only.isEmpty) SparkEntry.all
      else SparkEntry.all.filter(q => only.contains(q.id))
    val spark = Sessions.build(Bench.cpus)
    new java.io.File(outDir).mkdirs()
    var crashed = List.empty[String]
    selected.foreach { q =>
      val (name, fn) = (q.id, q.fn)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        crashed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Same hygiene as Bench: per-query caches must not accumulate.
      spark.sharedState.cacheManager.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Completeness manifest: every REGISTERED id, so an absent output dir is
    // a red signal, not a silent hole in the correctness report (round 7's
    // two crash victims read as "all green" until diffed vs the registry).
    // preverify.py cross-checks this against the dirs actually present.
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      selected.map(x => q(x.id)).mkString("[", ",", "]"))
    // Machine-visible crash record (ALWAYS written, empty on a clean run):
    // a consumer reading outDir directly — not just preverify.py diffing
    // manifest vs dirs — sees incompleteness without parsing stderr.
    // manifest.json keeps its original list shape (consumers may already
    // depend on it), and the exit code stays 0 because the driver's
    // contract treats a nonzero Verify as a whole-run failure, which would
    // turn one crashed query into zero correctness rows for the round.
    Files.writeString(Paths.get(s"$outDir/crashed.json"),
      crashed.sorted.map(q).mkString("[", ",", "]"))
    if (crashed.nonEmpty) {
      System.err.println(
        s"[verify] INCOMPLETE: ${crashed.size}/${selected.size} queries " +
        s"produced NO output: ${crashed.sorted.mkString(", ")}")
    } else {
      System.err.println(s"[verify] complete: ${selected.size}/${selected.size} outputs written")
    }
    spark.stop()
  }
}
