package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Benchmark harness for the declared queries behind `graft.SparkEntry`.
  *
  * One JVM per run: build the session with `graft.Sessions.build`, touch
  * every table through `graft.Catalog.load`, run the sample once cold and
  * `warm` more times untimed, then run timed passes over the sample until
  * `seconds` have elapsed. Queries run one at a time on the calling thread
  * (a closed loop with one client), each as a builder call
  * (`SparkEntry.queries(id)(spark, sfDir)`) followed by one action:
  *
  *  - `fingerprint`: one aggregate computing the row count and an
  *    order-insensitive hash of every output column, so every column is
  *    computed (a bare `count()` lets Catalyst prune unused columns) and the
  *    output is checked without a second pass;
  *  - `write`: `coalesce(1).write.mode("overwrite").parquet`, exactly as
  *    `graft.Verify` writes a result. The written files, set-up passes'
  *    included, are read back and fingerprinted after the timed window,
  *    untimed.
  *
  * `record` mode runs each id once per action kind and writes the
  * fingerprints used as expected values; `list` mode writes the declared
  * ids (see perfbench/README.md).
  *
  * Arguments are `key=value` pairs; results go to the JSON file named by
  * `out`. The wrapper (perfbench/run.py) turns them into metrics.
  */
object Harness {
  private val SpanKey = "perfbench.span"
  private val MinPasses = 5

  final case class Exec(pass: Int, traced: Boolean, id: String, buildS: Double,
      actionS: Double, startMs: Long, buildEndMs: Long, endMs: Long,
      fingerprint: String, rows: Long, error: String, path: String)

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val mode = conf("mode")
    val sfDir = conf.getOrElse("sf", "")
    val ids = conf.getOrElse("ids", "").split(",").toVector.filter(_.nonEmpty)
    val out = Paths.get(conf("out"))
    val cpus = conf.getOrElse("cpus", "1")
    if (mode == "list") { list(out); return }
    if (mode == "record") { record(sfDir, ids, cpus, Paths.get(conf("writeDir")), out); return }
    val seconds = conf("seconds").toDouble
    val warm = conf("warm").toInt
    val trace = conf("trace") == "1"
    val writeDir = conf.get("writeDir").map(Paths.get(_))

    val cg0 = Tracer.codegenSnapshot()
    val t0 = System.nanoTime()
    val spark = graft.Sessions.build(cpus)
    val sessionsBuildS = (System.nanoTime() - t0) / 1e9
    val tracer = if (trace) Some(Tracer.install(spark)) else None
    val marks = ArrayBuffer("session" -> System.currentTimeMillis())
    val fns = ids.map(id => id -> graft.SparkEntry.queries(id)).toMap
    marks += "registry" -> System.currentTimeMillis()

    def runOne(pass: Int, traced: Boolean, id: String): Exec = {
      val path = writeDir.map(d => d.resolve(s"p$pass").resolve(id).toString).getOrElse("")
      val sc = spark.sparkContext
      def span(kind: String): Unit =
        sc.setLocalProperty(SpanKey, if (traced) s"$pass|$id|$kind" else null)
      val start = System.currentTimeMillis()
      val s0 = System.nanoTime()
      var s1 = s0
      var fp = ""
      var rows = -1L
      var err = ""
      try {
        span("build")
        val r0 = if (traced) Tracer.ruleNs() else 0L
        val df = fns(id)(spark, sfDir)
        s1 = System.nanoTime()
        if (traced) tracer.foreach(_.onBuilt(df.queryExecution, Tracer.ruleNs() - r0))
        span("action")
        if (writeDir.isDefined) df.coalesce(1).write.mode("overwrite").parquet(path)
        else { val (r, f) = fingerprint(df); rows = r; fp = f }
      } catch {
        case e: Throwable =>
          if (s1 == s0) s1 = System.nanoTime()
          err = s"${e.getClass.getName}: ${e.getMessage}".take(2000)
      } finally span(null)
      val s2 = System.nanoTime()
      val buildEnd = start + (s1 - s0) / 1000000L
      // Same hygiene as Bench/Verify: per-query caches never accumulate.
      spark.sharedState.cacheManager.clearCache()
      Exec(pass, traced, id, (s1 - s0) / 1e9, (s2 - s1) / 1e9, start, buildEnd,
        System.currentTimeMillis(), fp, rows, err, path)
    }

    // Set-up: every table through Catalog.load (schema resolution and the
    // one-time layout re-split land here), one cold pass, then `warm`
    // untimed passes.
    graft.Catalog.tableNames.foreach(t => graft.Catalog.load(spark, sfDir, t))
    marks += "catalog" -> System.currentTimeMillis()
    // Set-up passes are numbered -1 (cold), -2, ... and kept with the timed
    // ones, so their outputs are checked and their times show the warm-up.
    val execs = ArrayBuffer.empty[Exec]
    val passes = ArrayBuffer.empty[(Int, Boolean, Double)]
    def runPass(p: Int, traced: Boolean): Unit = {
      val p0 = System.nanoTime()
      ids.foreach(id => execs += runOne(p, traced, id))
      passes += ((p, traced, (System.nanoTime() - p0) / 1e9))
    }
    (0 to warm).foreach(p => runPass(-1 - p, false))
    val setupDoneMs = System.currentTimeMillis()
    val cgSetup = Tracer.codegenSnapshot()

    // Per-layer probe of Catalog alone: a direct, timed load per table
    // (schema resolution included; no job runs).
    val catalogLoadMs = if (!trace) Vector.empty[Double] else
      (1 to 3).flatMap(_ => graft.Catalog.tableNames.map { t =>
        val c0 = System.nanoTime(); graft.Catalog.load(spark, sfDir, t)
        (System.nanoTime() - c0) / 1e6
      }).toVector

    // Timed window: at least `seconds` and at least MinPasses passes, so
    // the median pass rests on five. Traced runs interleave untraced and
    // traced passes as U T T U U T T U ..., in whole groups of four, so the
    // tracing overhead is measured on the same JVM and sample, and a
    // warm-up trend across passes cancels out.
    val w0 = System.nanoTime()
    var pass = 0
    val cgW0 = Tracer.codegenSnapshot()
    while (pass < (if (trace) 4 else MinPasses) || (trace && pass % 4 != 0) ||
        (System.nanoTime() - w0) / 1e9 < seconds) {
      val traced = trace && (pass % 4 == 1 || pass % 4 == 2)
      tracer.foreach { t => t.drain(spark); t.enabled = traced }
      runPass(pass, traced)
      pass += 1
    }
    tracer.foreach { t => t.drain(spark); t.enabled = false }
    val cgW1 = Tracer.codegenSnapshot()

    // Written outputs are fingerprinted after the window, untimed.
    val checked = if (writeDir.isEmpty) execs.toVector else execs.toVector.map { e =>
      if (e.error.nonEmpty) e else try {
        val (r, f) = fingerprint(spark.read.parquet(e.path)); e.copy(rows = r, fingerprint = f)
      } catch { case x: Throwable => e.copy(error = s"read-back: ${x.getMessage}".take(2000)) }
    }
    // The last timed pass is laid out as Verify lays out its output
    // directory, so scripts/preverify.py can check it unmodified.
    writeDir.foreach(d => verifyLayout(d.resolve(s"p${pass - 1}"), ids,
      checked.filter(e => e.pass == pass - 1 && e.error.nonEmpty).map(_.id)))

    val j = new Json
    j.num("sessions_build_s", sessionsBuildS)
    j.num("setup_done_ms", setupDoneMs.toDouble)
    j.num("jvm_start_ms", java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    j.raw("marks", marks.map { case (k, t) => s"[${Json.str(k)},$t]" }.mkString("[", ",", "]"))
    j.num("vm_hwm_kb", Tracer.procStatusKb("VmHWM"))
    j.num("cores", spark.sparkContext.defaultParallelism.toDouble)
    j.raw("passes", passes.map { case (p, t, s) => s"[$p,${t},${Json.d(s)}]" }.mkString("[", ",", "]"))
    j.raw("execs", checked.map { e =>
      s"[${e.pass},${e.traced},${Json.str(e.id)},${Json.d(e.buildS)},${Json.d(e.actionS)}," +
        s"${e.rows},${Json.str(e.fingerprint)},${Json.str(e.error)}]"
    }.mkString("[", ",", "]"))
    tracer.foreach(_.report(j, checked.filter(_.traced), catalogLoadMs, cgSetup - cg0, cgW1 - cgW0,
      writeDir.map(_ => checked.filter(_.traced).map(e => Paths.get(e.path))).getOrElse(Vector.empty)))
    Files.writeString(out, j.result)
    spark.stop()
  }

  /** Row count plus an order-insensitive multiset hash of every column,
    * computed by one aggregate: the sum of the low and of the high 32 bits
    * of each row's xxhash64 (no overflow below 2^31 rows) and their xor.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h")).agg(count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)),
      coalesce(bit_xor(col("h")), lit(0L))).head()
    val n = r.getLong(0)
    (n, f"$n%d:${r.getLong(1)}%x:${r.getLong(2)}%x:${r.getLong(3)}%x")
  }

  /** xxhash64 rejects maps and variants; hash their JSON text instead. */
  private def hashable(c: Column, t: DataType): Column =
    if (unhashable(t)) to_json(struct(c)) else c

  private def unhashable(t: DataType): Boolean = t match {
    case _: MapType | VariantType => true
    case a: ArrayType => unhashable(a.elementType)
    case s: StructType => s.fields.exists(f => unhashable(f.dataType))
    case _ => false
  }

  /** Every declared id with whether it has an oracle, and the members of
    * the packs the `iterative` pool is drawn from.
    */
  private def list(out: Path): Unit = {
    val packs = Seq("GraphOps" -> graft.operators.GraphOps, "KMeansOps" -> graft.operators.KMeansOps,
      "MlTrees" -> graft.operators.MlTrees, "Streams" -> graft.streaming.Streams)
    val j = new Json
    j.raw("all", graft.SparkEntry.all.map(q => s"[${Json.str(q.id)},${q.oracle.isDefined}]").mkString("[", ",", "]"))
    packs.foreach { case (n, p) => j.raw(n, p.queries.map(q => Json.str(q.id)).mkString("[", ",", "]")) }
    Files.writeString(out, j.result)
  }

  /** Expected-value recording: per id, fingerprint the live result and the
    * result written the `graft.Verify` way and read back. Writes Verify's
    * output layout under `writeDir` for scripts/preverify.py.
    */
  private def record(sfDir: String, ids: Vector[String], cpus: String, writeDir: Path, out: Path): Unit = {
    val spark = graft.Sessions.build(cpus)
    Files.createDirectories(writeDir)
    val rows = ids.map { id =>
      val fn = graft.SparkEntry.queries(id)
      val (live, written, err) = try {
        val (n, f) = fingerprint(fn(spark, sfDir))
        spark.sharedState.cacheManager.clearCache()
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(writeDir.resolve(id).toString)
        spark.sharedState.cacheManager.clearCache()
        (f, fingerprint(spark.read.parquet(writeDir.resolve(id).toString))._2, "")
      } catch { case e: Throwable => ("", "", s"${e.getClass.getName}: ${e.getMessage}".take(2000)) }
      spark.sharedState.cacheManager.clearCache()
      s"[${Json.str(id)},${Json.str(live)},${Json.str(written)},${Json.str(err)}]"
    }
    verifyLayout(writeDir, ids, Seq.empty)
    Files.writeString(out, rows.mkString("[", ",\n", "]"))
    spark.stop()
  }

  /** The side files `graft.Verify` writes beside its outputs. */
  private def verifyLayout(dir: Path, ids: Seq[String], crashed: Seq[String]): Unit = {
    def list(xs: Seq[String]) = xs.map(Json.str).mkString("[", ",", "]")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("oracle_sql.json"), graft.SparkEntry.oracleSql
      .filter { case (k, _) => ids.contains(k) }
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}"))
    Files.writeString(dir.resolve("manifest.json"), list(ids))
    Files.writeString(dir.resolve("crashed.json"), list(crashed))
  }
}

/** Minimal JSON object writer (the harness must not depend on a JSON library
  * beyond what the Spark distribution already ships, and needs very little).
  */
final class Json {
  private val parts = ArrayBuffer.empty[String]
  def num(k: String, v: Double): Unit = parts += s"${Json.str(k)}:${Json.d(v)}"
  def raw(k: String, v: String): Unit = parts += s"${Json.str(k)}:$v"
  def result: String = parts.mkString("{", ",\n", "}")
}

object Json {
  def d(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = if (s == null) "null" else "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
