package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Catalog, Memo, Q, QueryPack, Rounds}

/** SURVEY.md §2.A — LAKEHOUSE COMMIT LOG / TIME TRAVEL (round 13
  * batch 8): the table-format read path under every modern lake table
  * (Delta/Iceberg-shaped, re-expressed minimally): a table IS an ordered
  * log of file-level add/remove actions; snapshot N is the live file set
  * after replaying actions ≤ N, and time travel is replaying to an older
  * N. The scratch table holds three deterministic orders slices across
  * three commits — v1 adds file A, v2 appends file B, v3 REWRITES A into
  * the smaller C (the delete/compact move) — and the graded query reads
  * ALL THREE snapshots, reporting per version the row count, exact key
  * sum and cents total. The oracle recomputes each snapshot's predicate
  * directly over `orders`, so log replay + multi-file read is
  * value-graded end-to-end (a wrong live-set reconstruction cannot
  * hash-match).
  *
  * Scale posture: actions are METADATA — the log is O(commits) JSON
  * lines read driver-side (exactly where every lakehouse keeps catalog
  * state), never a data scan; a snapshot read plans only the live
  * files' scans (here a union of parquet dirs — at 100 TB the same
  * replay prunes thousands of dead files before planning). Data files
  * are written once, as [[graft.Memo]] directories; the timed pass
  * measures the snapshot READS.
  */
object LakeOps extends QueryPack {

  /** o_orderkey mod 10: the slot the lake demo tables slice orders by. */
  private val orderSlot = pmod(col("o_orderkey"), lit(10))

  /** Writes the data files the lake, vacuum and expiry tables start from
    * under `base` — fileA (slots 0-2), fileB (slots 3-5) and fileC
    * (fileA's 'F' rows) — and returns the orders table they slice.
    */
  private def writeOrderSlices(spark: SparkSession, sfDir: String,
                               base: String): DataFrame = {
    val orders = Catalog.load(spark, sfDir, "orders")
    orders.filter(orderSlot < 3).write.parquet(s"$base/fileA")
    orders.filter(orderSlot >= 3 && orderSlot < 6).write.parquet(s"$base/fileB")
    orders.filter(orderSlot < 3 && col("o_orderstatus") === "F")
      .write.parquet(s"$base/fileC")
    orders
  }

  /** Build the three-commit scratch table once per (app, sfDir). */
  private def lakeDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake") { base =>
      import spark.implicits._
      val orders = writeOrderSlices(spark, sfDir, base)
      // v4 COMPACTS B and C into D. The compactor reads ONLY the live
      // data files (never the source table) — the file-level rewrite a
      // real table service runs; row content is untouched by contract.
      spark.read.parquet(s"$base/fileB", s"$base/fileC")
        .write.parquet(s"$base/fileD")
      // v5 is a MERGE-ON-READ DELETE: a deletion vector (the deleted-key
      // file dv1) lands AGAINST fileD without rewriting it — the DV is
      // built by scanning only the target file for the delete predicate
      // (k%10 = 4), exactly the Delta DV / Iceberg positional-delete
      // write path. fileD's bytes are untouched (spec-asserted).
      spark.read.parquet(s"$base/fileD")
        .filter(pmod($"o_orderkey", lit(10)) === 4)
        .select($"o_orderkey").write.parquet(s"$base/dv1")
      // v6 is a SCHEMA-EVOLUTION commit: fileF adds the o_channel column
      // (a deterministic function of the key) on a fresh slice; older
      // files keep the base 6-column schema and reconcile by name at read.
      orders.filter(orderSlot >= 6 && orderSlot < 8)
        .withColumn("o_channel", pmod(expr("o_orderkey div 10"), lit(2)))
        .write.parquet(s"$base/fileF")
      def a(v: Int, op: String, path: String) = LakeAction(v, op, path)
      val acts = Seq(
        a(1, "add", "fileA"),
        a(2, "add", "fileB"),
        a(3, "remove", "fileA"), a(3, "add", "fileC"),
        a(4, "remove", "fileB"), a(4, "remove", "fileC"), a(4, "add", "fileD"),
        LakeAction(5, "dv", "fileD", dv = Some("dv1")),
        a(6, "add", "fileF"),
        // v7 RESTOREs the table to v3: one metadata commit that removes
        // the current live files and re-adds v3's live set (both still
        // on disk — no vacuum ran here). Removing D drops its DV with
        // it, so the restored state is v3's, unmasked — the Delta
        // RESTORE contract: an append-only log, never history rewrite.
        a(7, "remove", "fileD"), a(7, "remove", "fileF"),
        a(7, "add", "fileB"), a(7, "add", "fileC"),
        // NAMED TAGS (round 18, q_lake_tag_read): a tag action names
        // the snapshot at its own `v` — append-only audit metadata
        // (replay ignores it), the Iceberg named-ref surface. `rc`
        // is deliberately tagged TWICE: the later line wins, the
        // git-style retag.
        a(2, "tag", "ingest_done"), a(3, "tag", "rc"),
        a(5, "tag", "dv_applied"), a(7, "tag", "rc"))
      commit(logPath(base), 0, acts)
      // Timestamped sibling log (round 18, q_lake_time_travel_ts):
      // IDENTICAL actions, each carrying its commit's in-commit `ts` —
      // identity with the canonical log holds by construction, so AS OF
      // resolution and data replay can never disagree on table content.
      commit(Paths.get(base, "_log_ts.json"), 0,
        acts.map(x => x.copy(ts = Some(lakeTs(x.v)))))
    }

  /** Deterministic commit timestamps for the scratch's ts log. */
  private[graft] def lakeTs(v: Int): Long = 800000000L + v * 86400L

  /** NAMED-TAG resolution (round 18): a `tag` action names the snapshot
    * at its own version — append-only metadata the state replay ignores
    * (tags fall into the audit-only arm), exactly Iceberg's named refs.
    * The LAST tag line for a name wins (retagging is an append, never a
    * history rewrite); an unknown name refuses loudly with the known
    * names in the message. */
  private[graft] def versionOfTag(base: String, name: String): Int = {
    val tags = tableLog(base).filter(_.op == "tag")
    val hit = tags.filter(_.path == name)
    require(hit.nonEmpty, s"graft lake: unknown tag '$name' — known tags: " +
      tags.map(_.path).distinct.sorted.mkString(", "))
    hit.last.v
  }

  /** AS OF TIMESTAMP resolution (round 18) over a ts-carrying log: the
    * answer is the LATEST commit whose timestamp is ≤ the query point —
    * the Delta/Iceberg contract — after validating what that contract
    * silently assumes: every commit carries a timestamp, all actions of
    * one commit agree on it, and timestamps are STRICTLY increasing in
    * version (a clock-skewed log would make AS OF ambiguous — refuse
    * loudly rather than resolve arbitrarily). A query point before the
    * first commit refuses too (no table existed to read). */
  private[graft] def versionAsOf(base: String, q: Long): Int = {
    val acts = readActions(Paths.get(base, "_log_ts.json"))
    val byV = acts.groupBy(_.v).toSeq.sortBy(_._1)
    val commits = byV.map { case (v, as) =>
      val tss = as.flatMap(_.ts).distinct
      require(tss.size == 1 && as.forall(_.ts.isDefined),
        s"graft lake: commit $v must carry exactly one timestamp on " +
          s"every action (found ${tss.mkString(",")})")
      (v, tss.head)
    }
    commits.sliding(2).foreach {
      case Seq((v1, t1), (v2, t2)) =>
        require(t1 < t2, s"graft lake: non-monotone commit timestamps " +
          s"(v$v1 at $t1, v$v2 at $t2) — AS OF is ambiguous on a " +
          "clock-skewed log")
      case _ => ()
    }
    val hit = commits.filter(_._2 <= q)
    require(hit.nonEmpty, s"graft lake: AS OF $q predates the first " +
      s"commit (${commits.head._2}) — no table state existed")
    hit.last._1
  }

  /** One parsed commit-log action. `minKey`/`maxKey` are the optional
    * per-file ZONE-MAP stats an `add` action may carry (round 15; VERDICT
    * r14 task 6) — the file-skipping statistics every lakehouse keeps in
    * its manifest so selective reads prune files before planning.
    * `colZones` (round 16; r15 VERDICT task 6) is the MULTI-COLUMN
    * generalization: an optional `"zones":{"col":[min,max],...}` field
    * carrying per-COLUMN stats, so conjunctive predicates can prune on
    * any statted column, not just the table key. */
  private[graft] final case class LakeAction(v: Int, op: String,
      path: String, dv: Option[String] = None,
      minKey: Option[Long] = None, maxKey: Option[Long] = None,
      colZones: Map[String, (Long, Long)] = Map.empty,
      rows: Option[Long] = None,
      bloom: Option[String] = None,
      ts: Option[Long] = None)

  /** STRICT action grammar (round 15; VERDICT r14 task 7): every log line
    * must fully match one known action shape — a malformed or unknown
    * action RAISES instead of silently dropping out of the replay (a
    * dropped `remove` would resurrect a dead file; a dropped `dv` would
    * undelete rows — corrupt catalog state must never read as a clean
    * table). Grammar: `{"v":N,"op":OP,"path":P[,"dv":D][,"min":M,"max":X]}`
    * with OP ∈ {add, remove, dv, vacuum, conflict, delta, edelete,
    * schema, tag}; `dv` is required on
    * and exclusive to `dv` actions; zone stats (single-key `min`/`max`,
    * the multi-column `zones` map, the `rows` count, and the round-18
    * `bloom` hex bitmap — a per-file split-block Bloom filter over the
    * key column, [[BloomBits]] bits as [[BloomWords]] zero-padded
    * 16-hex-digit little-endian words) are exclusive to `add`; the
    * round-18 `ts` field (epoch-seconds commit timestamp, the Delta
    * in-commit-timestamp that AS OF resolution needs) is legal on any
    * action and validated commit-consistent + monotone at resolution.
    * Fields appear in the order `v, op, path, ts, dv, min, max, zones,
    * rows, bloom`. [[commit]] is the one writer of log lines. */
  private val actionRe =
    ("""^\{"v":(\d+),"op":"(add|remove|dv|vacuum|conflict|delta|edelete|schema|tag|expire)","path":"(\w+)"""" +
      """(?:,"ts":(\d+))?(?:,"dv":"(\w+)")?(?:,"min":(-?\d+),"max":(-?\d+))?""" +
      """(?:,"zones":\{([^{}]*)\})?(?:,"rows":(\d+))?""" +
      """(?:,"bloom":"([0-9a-f]+)")?\}$""").r
  private val zoneEntryRe = """"(\w+)":\[(-?\d+),(-?\d+)\]""".r
  private val zonesInnerRe =
    """"\w+":\[-?\d+,-?\d+\](?:,"\w+":\[-?\d+,-?\d+\])*""".r

  private[graft] def parseAction(line: String): LakeAction = line match {
    case actionRe(v, op, path, tsv, dv, mn, mx, zs, rw, bl) =>
      val cz = Option(zs).map { inner =>
        if (!zonesInnerRe.pattern.matcher(inner).matches())
          throw new IllegalArgumentException(
            s"graft lake: malformed zones map in commit-log action: $line")
        zoneEntryRe.findAllMatchIn(inner).map(m =>
          m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
      }.getOrElse(Map.empty[String, (Long, Long)])
      val a = LakeAction(v.toInt, op, path, Option(dv),
        Option(mn).map(_.toLong), Option(mx).map(_.toLong), cz,
        Option(rw).map(_.toLong), Option(bl), Option(tsv).map(_.toLong))
      if ((a.op == "dv") != a.dv.isDefined)
        throw new IllegalArgumentException(
          s"graft lake: 'dv' field is required on and exclusive to dv actions: $line")
      if ((a.minKey.isDefined || a.colZones.nonEmpty || a.rows.isDefined)
          && a.op != "add")
        throw new IllegalArgumentException(
          s"graft lake: zone stats are only legal on add actions: $line")
      // Blooms also ride MoR layer commits (round 18, q_lake_mor_probe):
      // delete-file/delta-file membership stats are exactly what Iceberg
      // manifests keep for delete files, and the probe read skips layers
      // by them. Everything else stays add-exclusive.
      if (a.bloom.isDefined && a.op != "add" && a.op != "delta"
          && a.op != "edelete")
        throw new IllegalArgumentException(
          s"graft lake: bloom stats are only legal on add/delta/edelete actions: $line")
      // A truncated bitmap would silently widen every word-index lookup
      // to bit 0 — length-check at parse, the strict-grammar discipline.
      a.bloom.foreach(b => if (b.length != BloomWords * 16)
        throw new IllegalArgumentException(
          s"graft lake: bloom bitmap must be ${BloomWords * 16} hex chars " +
            s"(${b.length} found): $line"))
      a
    case _ =>
      throw new IllegalArgumentException(
        s"graft lake: malformed commit-log action: $line")
  }

  private[graft] def readActions(path: Path): Seq[LakeAction] =
    new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
      .split("\n").toSeq.map(parseAction)

  /** The commit log of the table at `base`. */
  private[graft] def logPath(base: String): Path = Paths.get(base, "_log.json")

  /** Every action of the table at `base`, in log order. */
  private[graft] def tableLog(base: String): Seq[LakeAction] =
    readActions(logPath(base))

  /** The newest version in `acts`; 0 for an empty log. */
  private[graft] def headOf(acts: Seq[LakeAction]): Int =
    acts.map(_.v).maxOption.getOrElse(0)

  /** The inverse of [[parseAction]]: the canonical log line of `a`, its
    * fields in grammar order and its zones sorted by column (so the bytes
    * are deterministic). */
  private[graft] def actionLine(a: LakeAction): String = {
    val zones = a.colZones.toSeq.sortBy(_._1)
      .map { case (c, (mn, mx)) => s""""$c":[$mn,$mx]""" }
    Seq(Some(s""""v":${a.v},"op":"${a.op}","path":"${a.path}""""),
      a.ts.map(t => s""""ts":$t"""),
      a.dv.map(d => s""""dv":"$d""""),
      for (mn <- a.minKey; mx <- a.maxKey) yield s""""min":$mn,"max":$mx""",
      Option.when(zones.nonEmpty)(zones.mkString(""""zones":{""", ",", "}")),
      a.rows.map(r => s""""rows":$r"""),
      a.bloom.map(b => s""""bloom":"$b""""))
      .flatten.mkString("{", ",", "}")
  }

  /** Commit `actions` to the log at `log` — the one writer of every commit
    * log and checkpoint file. The commit names the head version it read
    * (`expected`; a missing log has head 0) and is refused, with the log
    * untouched, when the head has moved since: the Delta optimistic
    * concurrency protocol. Otherwise the actions are appended through
    * [[actionLine]], each checked against the strict grammar first, so a
    * log never holds a line its readers refuse. Logs are newline-separated,
    * with no trailing newline. */
  private[graft] def commit(log: Path, expected: Int,
                            actions: Seq[LakeAction]): Unit = synchronized {
    require(actions.nonEmpty, s"graft lake: empty commit to $log")
    val exists = Files.exists(log)
    val head = if (exists) headOf(readActions(log)) else 0
    if (head != expected)
      throw new IllegalStateException(s"graft lake: stale commit to $log — " +
        s"it read v$expected, but the head is now v$head; re-read and retry")
    require(actions.forall(_.v > expected),
      s"graft lake: a commit on top of v$expected must write newer versions")
    val lines = actions.map { a => val l = actionLine(a); parseAction(l); l }
    if (exists) Files.write(log, ("\n" + lines.mkString("\n"))
      .getBytes(StandardCharsets.UTF_8), StandardOpenOption.APPEND)
    else Files.write(log, lines.mkString("\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    ()
  }

  /** Replayed table state: live files in commit order, deletion vectors
    * per file, zone-map stats per file where the add carried them.
    * `everAdded` (round 18; r17 ADVICE fix) is every data file added up
    * to the replayed version MINUS vacuumed paths — i.e. the files still
    * ON DISK — the non-empty schema source the empty-snapshot fallback
    * needs (the live set is empty exactly when every added file was
    * removed, so `schemaFiles = st.live` was a no-op at those sites). */
  private[graft] final case class LakeState(live: Seq[String],
      dvs: Map[String, Seq[String]], zones: Map[String, (Long, Long)],
      colZones: Map[String, Map[String, (Long, Long)]] = Map.empty,
      rowCounts: Map[String, Long] = Map.empty,
      deltas: Seq[(String, String)] = Nil,
      everAdded: Seq[String] = Nil,
      blooms: Map[String, String] = Map.empty)

  private val emptyState = LakeState(Nil, Map.empty, Map.empty)

  /** Replay `acts` on top of `start`. Removing a data file drops its DVs
    * and zone stats with it (a rewrite materializes the mask, so the new
    * file starts clean); `vacuum`/`conflict` are audit records with no
    * live-state effect. */
  private def replayActions(start: LakeState,
                            acts: Seq[LakeAction]): LakeState = {
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    live ++= start.live
    val dvs = scala.collection.mutable.LinkedHashMap
      .empty[String, Vector[String]]
    start.dvs.foreach { case (k, v) => dvs(k) = v.toVector }
    val zones = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Long)]
    zones ++= start.zones
    val colZones = scala.collection.mutable.LinkedHashMap
      .empty[String, Map[String, (Long, Long)]]
    colZones ++= start.colZones
    val rowCounts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    rowCounts ++= start.rowCounts
    // Merge-on-read LAYERS (round 17) are ORDERED table-wide (kind, path)
    // entries — `delta` upsert layers and `edelete` equality-delete
    // layers (the Iceberg-v2 sequence-number ordering: a later layer
    // supersedes an earlier one, whatever its kind) — and compaction
    // retires a layer with a plain `remove` on its path.
    val deltas = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    deltas ++= start.deltas
    val ever = scala.collection.mutable.LinkedHashSet.empty[String]
    ever ++= start.everAdded
    val blooms = scala.collection.mutable.LinkedHashMap.empty[String, String]
    blooms ++= start.blooms
    acts.foreach { a =>
      a.op match {
        case "add" =>
          live += a.path; ever += a.path
          for (mn <- a.minKey; mx <- a.maxKey) zones(a.path) = (mn, mx)
          if (a.colZones.nonEmpty) colZones(a.path) = a.colZones
          for (r <- a.rows) rowCounts(a.path) = r
          for (b <- a.bloom) blooms(a.path) = b
        case "remove" =>
          // The file stays ON DISK (restore depends on that), so it stays
          // a valid schema source in `everAdded` until a vacuum deletes it.
          live -= a.path; dvs -= a.path; zones -= a.path; colZones -= a.path
          rowCounts -= a.path; blooms -= a.path
          deltas --= deltas.filter(_._2 == a.path)
        case "dv" =>
          dvs(a.path) = dvs.getOrElse(a.path, Vector.empty) :+ a.dv.get
        case "delta" | "edelete" =>
          deltas += ((a.op, a.path))
          for (b <- a.bloom) blooms(a.path) = b
        case "vacuum" =>
          ever -= a.path // physically deleted: no longer readable for schema
        case "schema" =>
          // Checkpoint-only record (round-19 ADVICE fix): a file that was
          // added-then-removed BEFORE the checkpoint is still on disk and
          // still a valid schema source, but it appears in no live add
          // line — the checkpoint persists it as a schema action so a
          // checkpoint-resolved empty snapshot keeps its schema fallback.
          ever += a.path
        case _ => () // conflict/expire: audit-only (expiry gates READERS
                     // at resolution — see readSnapshot — not the replay)
      }
    }
    LakeState(live.toSeq, dvs.toMap, zones.toMap, colZones.toMap,
      rowCounts.toMap, deltas.toSeq, ever.toSeq, blooms.toMap)
  }

  /** Replay the commit log to version `v` → live data files plus the
    * deletion vectors registered against each (merge-on-read state). The
    * log is catalog-state-sized and read driver-side by design. */
  private def liveState(base: String, v: Int)
      : (Seq[String], Map[String, Seq[String]]) = {
    val st = fullState(base, v)
    (st.live, st.dvs)
  }

  private def fullState(base: String, v: Int): LakeState =
    replayActions(emptyState, tableLog(base).filter(_.v <= v))

  /** Replay the commit log to version `v` → live file paths. */
  private def liveFiles(base: String, v: Int): Seq[String] =
    liveState(base, v)._1.map(p => s"$base/$p")

  /** SNAPSHOT READ with merge-on-read DV masking and by-name schema
    * reconciliation: each live file is scanned, anti-joined against its
    * own deletion vectors (per-file, key-equi — the mask shuffles
    * O(file ∪ dv), and with AQE a small DV broadcasts), and the per-file
    * frames union BY NAME so files written under an older schema
    * null-fill columns later commits added. The snapshot's schema is
    * exactly the union of its live files' schemas — an old version read
    * never sees a column added after it.
    *
    * DV DIALECTS (round 16 upgraded; r15 VERDICT task 7): a DV file
    * carrying a `_pos` column is a POSITIONAL deletion vector — it masks
    * by the row ordinal MATERIALIZED INTO the data file at write time
    * (the Delta/Iceberg semantics; a recomputed ordinal like
    * monotonically_increasing_id is not stable across reads, so the
    * position must live in the file), and works with DUPLICATE keys in
    * the data file (q_lake_dv_positional grades exactly that). A DV file
    * without `_pos` keeps the round-14 KEY-equi contract: it deletes
    * every row sharing a masked key, which equals positional semantics
    * iff each masked file holds at most one row per o_orderkey — true
    * for the orders-slice scratches and pinned by the per-masked-file
    * uniqueness assertion in Round14BSpec. */
  /** Reading a snapshot an `expire` record names must REFUSE loudly
    * (round 19, q_lake_expire): its files may be vacuumed, so resolving
    * it would either fail confusingly downstream or — worse — silently
    * answer from a partial file set. Logs without expire records (every
    * other scratch) are untouched by this gate. */
  private def checkNotExpired(base: String, v: Int): Unit = {
    val ex = tableLog(base).filter(_.op == "expire")
    ex.find(_.path == s"s$v").foreach { a =>
      throw new IllegalStateException(s"graft lake: snapshot v$v was " +
        s"expired by expire_snapshots at commit ${a.v} — time travel to " +
        "it is no longer available")
    }
  }

  private[graft] def readSnapshotForTest(spark: SparkSession, base: String,
      v: Int): DataFrame = readSnapshot(spark, base, v)

  private def readSnapshot(spark: SparkSession, base: String, v: Int)
      : DataFrame = {
    checkNotExpired(base, v)
    val st = fullState(base, v)
    // everAdded, not st.live (round-18 ADVICE fix): the fallback only
    // fires when the live set is EMPTY, so passing the live set for both
    // was a no-op — the on-disk added-file set is non-empty whenever any
    // data was ever committed, so an empty snapshot still reads with the
    // table's column set instead of degrading to the single-key frame.
    readState(spark, base, st.live, st.dvs, schemaFiles = st.everAdded)
  }

  /** Scan + DV-mask + by-name-union a resolved live-file set — the shared
    * read kernel behind full-replay, checkpoint-replay and zone-pruned
    * snapshot reads. Positional DV files (those carrying `_pos`) mask by
    * row ordinal; key DV files mask by o_orderkey (see the dialect note
    * on readSnapshot); the materialized `_pos` column never escapes the
    * kernel. An EMPTY file set (a predicate that prunes every zone, or an
    * empty snapshot) reads as an empty frame CARRYING THE SNAPSHOT SCHEMA
    * derived from `schemaFiles` (round-16 ADVICE fix: pruning callers
    * pass the full live set, so a caller selecting any snapshot column
    * on an all-pruned read gets zero rows, never an unresolved-column
    * error); only with no schema source at all does it degrade to the
    * single-key frame. Total by contract either way. */
  private def readState(spark: SparkSession, base: String,
                        files: Seq[String],
                        dvs: Map[String, Seq[String]],
                        schemaFiles: Seq[String] = Nil): DataFrame =
    files.map { f =>
      val df = spark.read.parquet(s"$base/$f")
      dvs.getOrElse(f, Nil).foldLeft(df) { (d, dv) =>
        val dvDf = spark.read.parquet(s"$base/$dv")
        if (dvDf.columns.contains("_pos"))
          d.join(dvDf.select("_pos"), Seq("_pos"), "left_anti")
        else d.join(dvDf, Seq("o_orderkey"), "left_anti")
      }.drop("_pos")
    }.reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
      .getOrElse {
        if (schemaFiles.nonEmpty)
          schemaFiles.map(f => spark.read.parquet(s"$base/$f").limit(0))
            .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
            .drop("_pos")
        else {
          import spark.implicits._
          spark.range(0).select($"id".as("o_orderkey"))
        }
      }

  private def lakeTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = lakeDir(spark, sfDir)
    (1 to 3).map { v =>
      spark.read.parquet(liveFiles(base, v): _*)
        .agg(
          count(lit(1)).as("n_rows"),
          sum($"o_orderkey").cast("long").as("key_sum"),
          sum(($"o_totalprice".cast("decimal(14,2)") * 100).cast("long"))
            .as("total_cents"))
        .select(lit(v.toLong).as("version"), $"n_rows", $"key_sum",
          $"total_cents")
    }.reduce(_.unionByName(_)).orderBy($"version".asc_nulls_first)
  }

  private val lakeTimeTravelOracle = """
    SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
        AS BIGINT) AS total_cents
    FROM orders WHERE o_orderkey % 10 < 3
    UNION ALL
    SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT),
      CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
        AS BIGINT)
    FROM orders WHERE o_orderkey % 10 < 6
    UNION ALL
    SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT),
      CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
        AS BIGINT)
    FROM orders
    WHERE (o_orderkey % 10 >= 3 AND o_orderkey % 10 < 6)
       OR (o_orderkey % 10 < 3 AND o_orderstatus = 'F')
    ORDER BY version ASC NULLS FIRST"""

  /** TIME TRAVEL AS OF TIMESTAMP (round 18) — the other half of the
    * time-travel surface next to [[lakeTimeTravel]]'s version reads:
    * every commit in the sibling ts log carries an in-commit epoch
    * timestamp, [[versionAsOf]] resolves a query point to the latest
    * commit at-or-before it (validating per-commit consistency and
    * strict monotonicity — see its scaladoc), and the resolved version
    * reads through the SAME snapshot kernel (DV masking, by-name schema
    * union) as every other read. The three graded points exercise the
    * resolution cases: mid-interval (between commits 3 and 4 → v3), an
    * exact commit boundary (ts(5) → v5, the ≤ contract), and a point
    * past an observed commit (→ v6). Scale: resolution is O(log)
    * catalog arithmetic; the read is the resolved snapshot's. */
  private def lakeTimeTravelTs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = lakeDir(spark, sfDir)
    Seq(lakeTs(3) + 1000L, lakeTs(5), lakeTs(6) + 42L).map { q =>
      val v = versionAsOf(base, q)
      readSnapshot(spark, base, v)
        .agg(count(lit(1)).as("n_rows"),
          sum($"o_orderkey").cast("long").as("key_sum"),
          sum(($"o_totalprice".cast("decimal(14,2)") * 100).cast("long"))
            .as("total_cents"))
        .select(lit(q).as("asof_ts"), lit(v.toLong).as("version"),
          $"n_rows", $"key_sum", $"total_cents")
    }.reduce(_.unionByName(_)).orderBy($"version".asc_nulls_first)
  }

  private val lakeTimeTravelTsOracle = s"""
    WITH c AS (
      SELECT o_orderkey AS k, o_orderstatus AS s,
        CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cts
      FROM orders)
    SELECT CAST(${lakeTs(3) + 1000L} AS BIGINT) AS asof_ts,
      CAST(3 AS BIGINT) AS version,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(k) AS BIGINT) AS key_sum,
      CAST(sum(cts) AS BIGINT) AS total_cents
    FROM c WHERE (k % 10 >= 3 AND k % 10 < 6)
       OR (k % 10 < 3 AND s = 'F')
    UNION ALL
    SELECT CAST(${lakeTs(5)} AS BIGINT), CAST(5 AS BIGINT),
      CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT),
      CAST(sum(cts) AS BIGINT)
    FROM c WHERE k % 10 IN (3, 5) OR (k % 10 < 3 AND s = 'F')
    UNION ALL
    SELECT CAST(${lakeTs(6) + 42L} AS BIGINT), CAST(6 AS BIGINT),
      CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT),
      CAST(sum(cts) AS BIGINT)
    FROM c WHERE k % 10 IN (3, 5, 6, 7) OR (k % 10 < 3 AND s = 'F')
    ORDER BY version ASC NULLS FIRST"""

  /** TAGGED SNAPSHOT READS (round 18) — the human-name layer over time
    * travel: [[versionOfTag]] resolves a name to its tagged version,
    * and the read goes through the same snapshot kernel as every other.
    * Graded names: `ingest_done` (v2), `dv_applied` (v5 — the masked
    * read), and `rc` (tagged twice, v3 then v7 — the LAST tag wins, so
    * the graded row reads v7 = the restored v3 content; retag-by-append
    * spec-pinned). Scale: resolution is O(log) driver arithmetic. */
  private def lakeTagRead(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = lakeDir(spark, sfDir)
    Seq("dv_applied", "ingest_done", "rc").map { name =>
      val v = versionOfTag(base, name)
      readSnapshot(spark, base, v)
        .agg(count(lit(1)).as("n_rows"),
          sum($"o_orderkey").cast("long").as("key_sum"))
        .select(lit(name).as("tag"), lit(v.toLong).as("version"),
          $"n_rows", $"key_sum")
    }.reduce(_.unionByName(_)).orderBy($"tag".asc_nulls_first)
  }

  private val lakeTagReadOracle = """
    WITH c AS (SELECT o_orderkey AS k, o_orderstatus AS s FROM orders)
    SELECT 'dv_applied' AS tag, CAST(5 AS BIGINT) AS version,
      CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(k) AS BIGINT) AS key_sum
    FROM c WHERE k % 10 IN (3, 5) OR (k % 10 < 3 AND s = 'F')
    UNION ALL
    SELECT 'ingest_done', CAST(2 AS BIGINT),
      CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT)
    FROM c WHERE k % 10 < 6
    UNION ALL
    SELECT 'rc', CAST(7 AS BIGINT),
      CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT)
    FROM c WHERE (k % 10 >= 3 AND k % 10 < 6) OR (k % 10 < 3 AND s = 'F')
    ORDER BY tag ASC NULLS FIRST"""

  /** CHANGE DATA FEED between consecutive snapshots (round 13 batch 9) —
    * the incremental-read path downstream consumers run instead of
    * re-scanning the table: for each commit v-1 → v, the log yields the
    * files REMOVED and ADDED by that commit, and the NET row changes are
    *   inserts = rows of added files whose key is absent from the removed
    *             files (a rewrite that carries a row over is NOT a change),
    *   deletes = rows of removed files whose key is absent from the added
    *             files.
    * On this log: v2 appends fileB (pure inserts), v3 rewrites A→C where C
    * keeps only A's 'F' rows — so v3's CDF is zero inserts and exactly the
    * non-F rows of A as deletes. The oracle recomputes both transitions
    * from the base predicates, so the file-diff + key-anti-join netting is
    * value-graded end-to-end (counting rewritten-but-unchanged rows as
    * changes cannot hash-match).
    *
    * Scale posture: a CDF read scans ONLY the files the commit touched —
    * never the table — and the netting is two anti-joins keyed on the
    * table's key over those files alone (exactly how a format without
    * row-level tracking must reconstruct row changes from a rewrite).
    * Each side is commit-sized, so the join shuffles O(commit), not
    * O(table); with AQE both sides of a small commit broadcast.
    */
  private def lakeCdc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = lakeDir(spark, sfDir)
    def read(paths: Seq[String]): Option[DataFrame] =
      if (paths.isEmpty) None else Some(spark.read.parquet(paths: _*))
    (2 to 3).map { v =>
      val prev = liveFiles(base, v - 1).toSet
      val cur = liveFiles(base, v).toSet
      val added = read((cur -- prev).toSeq.sorted)
      val removed = read((prev -- cur).toSeq.sorted)
      def net(a: Option[DataFrame], b: Option[DataFrame]): Option[DataFrame] =
        a.map(df => b.fold(df)(o =>
          df.join(o.select($"o_orderkey"), Seq("o_orderkey"), "left_anti")))
      def sums(df: Option[DataFrame], n: String, s: String): DataFrame =
        df.fold(spark.range(1).select(lit(0L).as(n), lit(0L).as(s)))(
          _.agg(coalesce(count(lit(1)), lit(0L)).as(n),
            coalesce(sum($"o_orderkey"), lit(0L)).cast("long").as(s)))
      sums(net(added, removed), "n_inserted", "ins_key_sum")
        .crossJoin(sums(net(removed, added), "n_deleted", "del_key_sum"))
        .select(lit(v.toLong).as("version"), $"n_inserted", $"ins_key_sum",
          $"n_deleted", $"del_key_sum")
    }.reduce(_.unionByName(_)).orderBy($"version".asc_nulls_first)
  }

  private val lakeCdcOracle = """
    SELECT CAST(2 AS BIGINT) AS version,
      CAST(count(*) AS BIGINT) AS n_inserted,
      CAST(sum(o_orderkey) AS BIGINT) AS ins_key_sum,
      CAST(0 AS BIGINT) AS n_deleted, CAST(0 AS BIGINT) AS del_key_sum
    FROM orders WHERE o_orderkey % 10 >= 3 AND o_orderkey % 10 < 6
    UNION ALL
    SELECT 3, 0, 0, CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderkey % 10 < 3 AND o_orderstatus <> 'F'
    ORDER BY version ASC NULLS FIRST"""

  /** COMPACTION COMMIT (round 13 batch 13) — the table-service move every
    * lakehouse runs nightly: commit v4 rewrites the two live small files
    * (B, C) into one (D) as a pure METADATA swap (remove, remove, add in
    * ONE commit) whose invariant is that the DATA is untouched — readers
    * at v3 and v4 must see byte-identical rows while the file count
    * drops 2 → 1. The graded query reads BOTH snapshots (file count from
    * the log replay, row count + exact key sum from the data) and the
    * oracle states the invariant directly: the same predicate rows twice,
    * with only n_files differing. The compactor itself read ONLY the live
    * data files, never the source table — at 100 TB compaction cost
    * scales with the small-file set it collapses, not the table.
    */
  private def lakeCompact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = lakeDir(spark, sfDir)
    (3 to 4).map { v =>
      val files = liveFiles(base, v)
      spark.read.parquet(files: _*)
        .agg(count(lit(1)).as("n_rows"),
          sum($"o_orderkey").cast("long").as("key_sum"))
        .select(lit(v.toLong).as("version"),
          lit(files.size.toLong).as("n_files"), $"n_rows", $"key_sum")
    }.reduce(_.unionByName(_)).orderBy($"version".asc_nulls_first)
  }

  private val lakeCompactOracle = """
    SELECT CAST(3 AS BIGINT) AS version, CAST(2 AS BIGINT) AS n_files,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    WHERE (o_orderkey % 10 >= 3 AND o_orderkey % 10 < 6)
       OR (o_orderkey % 10 < 3 AND o_orderstatus = 'F')
    UNION ALL
    SELECT 4, 1, CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
    FROM orders
    WHERE (o_orderkey % 10 >= 3 AND o_orderkey % 10 < 6)
       OR (o_orderkey % 10 < 3 AND o_orderstatus = 'F')
    ORDER BY version ASC NULLS FIRST"""

  /** COPY-ON-WRITE MERGE scratch: its own two-commit table (separate from
    * [[lakeDir]] so the shared log stays linear). v1 lands fileB
    * (3 ≤ k%10 < 6) and fileC (k%10 < 3 ∧ status F) with exact cents;
    * v2 is the MERGE commit produced by the real copy-on-write algorithm:
    *
    *  1. FILE PRUNING — only live files CONTAINING matched keys are
    *     rewritten. The source batch keys are ≡ 42 (mod 100) ⇒ ≡ 2
    *     (mod 10), which can appear in C but never in B — so B's file
    *     must survive the commit byte-identical (spec-asserted by path).
    *  2. REWRITE — C′ = C with matched rows' cents replaced by the
    *     source's halved cents (a left join against the broadcast batch).
    *  3. INSERT — E = source rows whose key matches NO live row (anti-join
    *     against the live key set), landed as a new file.
    *  4. COMMIT — remove C, add C′, add E in ONE log entry set: readers
    *     replaying to v1 still see the pre-merge table.
    *
    * The graded query replays to v2 and aggregates per status; the oracle
    * applies the same MERGE semantics declaratively over orders. At
    * 100 TB the rewrite cost is |touched files| + |batch| — pruning is
    * what makes MERGE affordable, and it is exactly what the untouched-B
    * proof pins.
    */

  /** The lake scratches' orders seed: (o_orderkey, o_orderstatus, cents),
    * with the total price as exact integer cents. */
  private[graft] def ordersCents(orders: DataFrame): DataFrame =
    orders.select(col("o_orderkey"), col("o_orderstatus"),
      (col("o_totalprice").cast("decimal(14,2)") * 100).cast("long")
        .as("cents"))

  /** The seed both MERGE scratches share, so MoR ≡ COW is graded on equal
    * inputs: writes v1's fileB (3 ≤ k%10 < 6) and fileC (k%10 < 3 ∧
    * status F) under `base`, and returns the cut source batch (keys ≡ 42
    * mod 100, cents halved). */
  private def mergeSeed(spark: SparkSession, sfDir: String,
                        base: String): DataFrame = {
    import spark.implicits._
    val rows = ordersCents(Catalog.load(spark, sfDir, "orders"))
    rows.filter(orderSlot >= 3 && orderSlot < 6).write.parquet(s"$base/fileB")
    rows.filter(orderSlot < 3 && $"o_orderstatus" === "F")
      .write.parquet(s"$base/fileC")
    rows.filter(pmod($"o_orderkey", lit(100)) === 42)
      .select($"o_orderkey", $"o_orderstatus",
        expr("cents div 2").as("cents"))
      .transform(Rounds.cut)
  }

  private def mergeDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_merge") { base =>
      import spark.implicits._
      val src = mergeSeed(spark, sfDir, base)
      val v1 = Seq("fileB", "fileC")
      // 1. Prune: rewrite only live files holding matched keys.
      val touched = v1.filter { f =>
        spark.read.parquet(s"$base/$f")
          .join(src.select($"o_orderkey"), Seq("o_orderkey"), "left_semi")
          .limit(1).count() > 0
      }
      // 2. Rewrite touched files with the update arm applied.
      touched.foreach { f =>
        spark.read.parquet(s"$base/$f")
          .join(broadcast(src.select($"o_orderkey",
            $"cents".as("new_cents"))), Seq("o_orderkey"), "left_outer")
          .select($"o_orderkey", $"o_orderstatus",
            coalesce($"new_cents", $"cents").as("cents"))
          .write.parquet(s"$base/${f}_m")
      }
      // 3. Insert arm: source keys matching no live row.
      val liveKeys = v1.map(f => spark.read.parquet(s"$base/$f")
        .select($"o_orderkey")).reduce(_ union _)
      src.join(liveKeys, Seq("o_orderkey"), "left_anti")
        .write.parquet(s"$base/fileE")
      // 4. One commit: removes + adds.
      commit(logPath(base), 0, v1.map(LakeAction(1, "add", _)) ++
        touched.map(LakeAction(2, "remove", _)) ++
        touched.map(f => LakeAction(2, "add", s"${f}_m")) :+
        LakeAction(2, "add", "fileE"))
    }

  private def lakeMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = mergeDir(spark, sfDir)
    spark.read.parquet(liveFiles(base, 2): _*)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum($"cents").cast("long").as("cents_sum"))
      .orderBy($"o_orderstatus".asc_nulls_first)
  }

  private val lakeMergeOracle = """
    WITH tbl AS (
      SELECT o_orderkey AS k, o_orderstatus AS s,
        CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
      FROM orders
      WHERE (o_orderkey % 10 >= 3 AND o_orderkey % 10 < 6)
         OR (o_orderkey % 10 < 3 AND o_orderstatus = 'F')),
    src AS (
      SELECT o_orderkey AS k, o_orderstatus AS s,
        CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) // 2 AS c
      FROM orders WHERE o_orderkey % 100 = 42),
    merged AS (
      SELECT t.k, t.s, CASE WHEN src.k IS NOT NULL THEN src.c ELSE t.c END
        AS c
      FROM tbl t LEFT JOIN src ON t.k = src.k
      UNION ALL
      SELECT k, s, c FROM src
      WHERE k NOT IN (SELECT k FROM tbl))
    SELECT s AS o_orderstatus, count(*) AS n_rows,
      CAST(sum(c) AS BIGINT) AS cents_sum
    FROM merged GROUP BY 1
    ORDER BY o_orderstatus ASC NULLS FIRST"""

  /** MERGE-ON-READ UPSERT scratch (round 17; r16 VERDICT task 1) — the
    * other half of the write-dialect matrix next to [[mergeDir]]'s
    * copy-on-write MERGE: the Hudi-MOR / Iceberg-v2 dialect where an
    * upsert commit writes ONLY a small DELTA file of full row images and
    * readers resolve base ∪ delta BY KEY at scan time, deferring the
    * base-file rewrite to compaction. Same base slices and source batch
    * as the COW scratch (keys ≡ 42 mod 100, cents halved), so
    * MoR ≡ COW equivalence is graded directly.
    *
    * Commits: v1 adds fileB/fileC; v2 is the MoR MERGE — the writer
    * computes row images (matched keys keep the BASE status, take the
    * source cents; unmatched source rows insert as-is) by READING the
    * base but WRITING only `delta1` (base files never rewritten —
    * spec-asserted by path survival and unchanged bytes); v3 is the
    * COMPACTION that folds the delta in: it reads the table through the
    * same MoR kernel readers use and lands one compacted file, retiring
    * base + delta in a single metadata commit (readers at v2 are
    * untouched — the [[lakeCompact]] invariant).
    *
    * Scale posture: this is why streaming upserts into 100 TB tables are
    * affordable — the merge commit costs |touched-file scan| + |batch
    * write| with NO rewrite amplification; every read pays one keyed
    * anti-join per outstanding delta (O(base ∪ delta) shuffle, a small
    * delta broadcasts under AQE) until the nightly compactor amortizes
    * the layer away. */
  private[graft] def morDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_mor") { base =>
      import spark.implicits._
      val src = mergeSeed(spark, sfDir, base)
      // MoR MERGE WRITER: reads the base (to combine matched rows'
      // untouched columns into full row images — the Hudi payload-
      // combine step), writes ONLY the delta. Base files untouched.
      val baseDf = spark.read.parquet(s"$base/fileB", s"$base/fileC")
      val matched = baseDf
        .join(broadcast(src.select($"o_orderkey",
          $"cents".as("new_cents"))), Seq("o_orderkey"))
        .select($"o_orderkey", $"o_orderstatus", $"new_cents".as("cents"))
      val inserts = src.join(baseDf.select($"o_orderkey"),
        Seq("o_orderkey"), "left_anti")
      matched.unionByName(inserts).write.parquet(s"$base/delta1")
      commit(logPath(base), 0, Seq(LakeAction(1, "add", "fileB"),
        LakeAction(1, "add", "fileC"), LakeAction(2, "delta", "delta1")))
      // v3 COMPACTION: reads the v2 snapshot through the same MoR
      // kernel readers use (never the source table), lands ONE
      // compacted file, retires base + delta in one metadata commit.
      morSnapshot(spark, base, 2).write.parquet(s"$base/fileBC")
      commit(logPath(base), 2,
        Seq("fileB", "fileC", "delta1").map(LakeAction(3, "remove", _)) :+
          LakeAction(3, "add", "fileBC"))
    }

  /** MoR snapshot read: the DV-masked base read, then each outstanding
    * delta resolved BY KEY in commit order — base rows whose key appears
    * in a delta are superseded (keyed left-anti), the delta's row images
    * union in, and a LATER delta supersedes an earlier one (fold order).
    * At 100 TB each layer is one O(base ∪ delta) keyed shuffle with the
    * small delta broadcasting under AQE — the read-amplification price
    * MoR pays until compaction, exactly like DV masking. */
  private[graft] def morSnapshot(spark: SparkSession, base: String,
                                 v: Int): DataFrame = {
    val st = fullState(base, v)
    // everAdded, not st.live (round-18 ADVICE fix — see readSnapshot).
    val b = readState(spark, base, st.live, st.dvs,
      schemaFiles = st.everAdded)
    st.deltas.foldLeft(b) { case (acc, (kind, d)) =>
      val layer = spark.read.parquet(s"$base/$d")
      val masked = acc.join(layer.select(col("o_orderkey")),
        Seq("o_orderkey"), "left_anti")
      kind match {
        // Upsert layer: masked base + the layer's row images.
        case "delta" => masked.unionByName(layer, allowMissingColumns = true)
        // Equality-delete layer: the mask alone — rows with a listed key
        // are gone, whatever earlier layer produced them (and a LATER
        // upsert can re-insert a deleted key: fold order IS the
        // sequence-number ordering).
        case _ => masked
      }
    }
  }

  /** EQUALITY-DELETE + ORDERED-LAYER scratch (round 17) — the remaining
    * cell of the MoR dialect matrix: per-file key DVs (q_lake_dv),
    * per-file positional DVs (q_lake_dv_positional) and table-wide
    * upsert deltas (q_lake_merge_mor) exist; this adds the TABLE-WIDE
    * equality-delete file (Iceberg-v2 eq-deletes) and — the part that
    * actually gets graded — the SEQUENCE-NUMBER ORDERING between layers:
    * v2 equality-deletes every key ≡ 3 (mod 7); v3 UPSERTS keys ≡ 3
    * (mod 14), every one of which the v2 layer had deleted — those keys
    * must be PRESENT at v3 with the upserted values, so applying layers
    * in any order but the commit order breaks the hash. v4 compacts all
    * layers through the shared MoR kernel into one file (v4 ≡ v3). */
  private[graft] def edelDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_edel") { base =>
      import spark.implicits._
      val rows = ordersCents(Catalog.load(spark, sfDir, "orders"))
      rows.filter(orderSlot < 3).write.parquet(s"$base/fileP")
      rows.filter(orderSlot >= 3 && orderSlot < 5).write.parquet(s"$base/fileQ")
      // v2: table-wide equality-delete file — keys only (a delete file
      // may list keys absent from the table; the mask is key-driven).
      rows.filter(pmod($"o_orderkey", lit(7)) === 3)
        .select($"o_orderkey").write.parquet(s"$base/ed1")
      // v3: upsert layer whose keys are all INSIDE the v2 delete set —
      // the reinsert that grades layer ordering.
      rows.filter(pmod($"o_orderkey", lit(14)) === 3)
        .select($"o_orderkey", $"o_orderstatus",
          expr("cents div 4").as("cents"))
        .write.parquet(s"$base/up1")
      commit(logPath(base), 0, Seq(LakeAction(1, "add", "fileP"),
        LakeAction(1, "add", "fileQ"), LakeAction(2, "edelete", "ed1"),
        LakeAction(3, "delta", "up1")))
      // v4: compaction folds every layer through the shared kernel.
      morSnapshot(spark, base, 3).write.parquet(s"$base/fileR")
      commit(logPath(base), 3,
        Seq("fileP", "fileQ", "ed1", "up1").map(LakeAction(4, "remove", _)) :+
          LakeAction(4, "add", "fileR"))
    }

  private def lakeDeleteMor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = edelDir(spark, sfDir)
    (1 to 4).map { v =>
      morSnapshot(spark, base, v)
        .agg(count(lit(1)).as("n_rows"),
          sum($"o_orderkey").cast("long").as("key_sum"),
          sum($"cents").cast("long").as("cents_sum"))
        .select(lit(v.toLong).as("version"), $"n_rows", $"key_sum",
          $"cents_sum")
    }.reduce(_.unionByName(_)).orderBy($"version".asc_nulls_first)
  }

  private val lakeDeleteMorOracle = """
    WITH tbl AS (
      SELECT o_orderkey AS k, o_orderstatus AS s,
        CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
      FROM orders WHERE o_orderkey % 10 < 5),
    v2 AS (SELECT k, s, c FROM tbl WHERE k % 7 <> 3),
    feed AS (
      SELECT o_orderkey AS k, o_orderstatus AS s,
        CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) // 4 AS c
      FROM orders WHERE o_orderkey % 14 = 3),
    v3 AS (SELECT * FROM v2 UNION ALL SELECT * FROM feed),
    pv AS (
      SELECT 1 AS version, count(*) AS n_rows, sum(k) AS key_sum,
        sum(c) AS cents_sum FROM tbl
      UNION ALL SELECT 2, count(*), sum(k), sum(c) FROM v2
      UNION ALL SELECT 3, count(*), sum(k), sum(c) FROM v3
      UNION ALL SELECT 4, count(*), sum(k), sum(c) FROM v3)
    SELECT CAST(version AS BIGINT) AS version,
      CAST(n_rows AS BIGINT) AS n_rows, CAST(key_sum AS BIGINT) AS key_sum,
      CAST(cents_sum AS BIGINT) AS cents_sum
    FROM pv ORDER BY version ASC NULLS FIRST"""

  private def lakeMergeMor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = morDir(spark, sfDir)
    (1 to 3).map { v =>
      morSnapshot(spark, base, v)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum($"cents").cast("long").as("cents_sum"))
        .select(lit(v.toLong).as("version"), $"o_orderstatus", $"n_rows",
          $"cents_sum")
    }.reduce(_.unionByName(_))
      .orderBy($"version".asc_nulls_first, $"o_orderstatus".asc_nulls_first)
  }

  private val lakeMergeMorOracle = """
    WITH tbl AS (
      SELECT o_orderkey AS k, o_orderstatus AS s,
        CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
      FROM orders
      WHERE (o_orderkey % 10 >= 3 AND o_orderkey % 10 < 6)
         OR (o_orderkey % 10 < 3 AND o_orderstatus = 'F')),
    src AS (
      SELECT o_orderkey AS k, o_orderstatus AS s,
        CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) // 2 AS c
      FROM orders WHERE o_orderkey % 100 = 42),
    merged AS (
      SELECT t.k, t.s, CASE WHEN src.k IS NOT NULL THEN src.c ELSE t.c END
        AS c
      FROM tbl t LEFT JOIN src ON t.k = src.k
      UNION ALL
      SELECT k, s, c FROM src
      WHERE k NOT IN (SELECT k FROM tbl)),
    pv AS (
      SELECT 1 AS version, s, count(*) AS n_rows, sum(c) AS cents_sum
      FROM tbl GROUP BY 2
      UNION ALL
      SELECT 2, s, count(*), sum(c) FROM merged GROUP BY 2
      UNION ALL
      SELECT 3, s, count(*), sum(c) FROM merged GROUP BY 2)
    SELECT CAST(version AS BIGINT) AS version, s AS o_orderstatus,
      CAST(n_rows AS BIGINT) AS n_rows, CAST(cents_sum AS BIGINT) AS cents_sum
    FROM pv
    ORDER BY version ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST"""

  /** MoR-AWARE INCREMENTAL MV REFRESH (round 19; r18 VERDICT task 6) —
    * closes the loop between the MV family and the MoR log:
    * q_mv_incremental's delta rule assumes INSERT-only appends, but a
    * merge-on-read table advances by UPSERT (`delta`) and EQUALITY-DELETE
    * (`edelete`) layers, where a changed key must also RETRACT its old
    * contribution from the rollup. The refresh, over the equality-delete
    * scratch (stale per-status rollup built at v1, table now at v3 via
    * ed1 then up1):
    *
    *  1. LAYERS — read the log's delta/edelete actions in (v_old, v_new]
    *    (commit order; the refresh watermark every real MV records).
    *  2. AFFECTED KEYS — the union of the layers' key sets, distinct:
    *    layer-sized by construction, so it BROADCASTS.
    *  3. OLD IMAGES — the v_old snapshot restricted to affected keys via
    *    the broadcast join: ONE keyed lookup against the base files,
    *    never a view recompute (at 100 TB this lookup rides the bloom /
    *    zone skipping the MoR probe already grades); checkpointed so the
    *    graded refresh plan touches NO base file.
    *  4. NEW IMAGES — fold the layers over the old images in commit
    *    order (the [[morSnapshot]] kernel semantics: left-anti mask,
    *    upserts union their row images back in, a later layer supersedes
    *    an earlier one) — pure-insert keys enter here, deleted keys
    *    leave here.
    *  5. MERGE — V_new = V_old ⊎ γ(new) ⊖ γ(old): signed count/sum
    *    partials, one |groups|-sized final aggregate; groups whose count
    *    reaches zero drop out.
    *
    * The oracle recomputes the per-status rollup of the v3 table from
    * orders — identical results prove the retract-and-apply delta rule
    * equals the full recompute through BOTH layer kinds and the reinsert
    * ordering (up1's keys are all inside ed1's delete set). Refresh cost:
    * O(layers + affected-key lookup + |groups|), never O(table). */
  private def mvIncrementalMor(spark: SparkSession,
                               sfDir: String): DataFrame = {
    import spark.implicits._
    val base = edelDir(spark, sfDir)
    val vOld = 1
    val vNew = 3
    val stale = Memo.leaf(spark, sfDir, "mvStaleMorRollup")(
      morSnapshot(spark, base, vOld)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum($"cents").cast("long").as("cts")))
    val layers = tableLog(base)
      .filter(a => (a.op == "delta" || a.op == "edelete") &&
        a.v > vOld && a.v <= vNew)
      .sortBy(_.v).map(a => (a.op, a.path))
    val affected = layers
      .map { case (_, p) =>
        spark.read.parquet(s"$base/$p").select($"o_orderkey") }
      .reduce(_.unionByName(_)).distinct()
    val oldImages = morSnapshot(spark, base, vOld)
      .join(broadcast(affected), Seq("o_orderkey"))
      .transform(Rounds.cut)
    val newImages = layers.foldLeft(oldImages: DataFrame) {
      case (acc, (kind, d)) =>
        val layer = spark.read.parquet(s"$base/$d")
        val masked = acc.join(layer.select($"o_orderkey"),
          Seq("o_orderkey"), "left_anti")
        kind match {
          case "delta" => masked.unionByName(layer,
            allowMissingColumns = true)
          case _ => masked
        }
    }
    def part(df: DataFrame, sign: Int): DataFrame = df
      .groupBy($"o_orderstatus")
      .agg((count(lit(1)) * sign).as("cnt"),
        (sum($"cents") * sign).cast("long").as("cts"))
    Seq(stale, part(newImages, 1), part(oldImages, -1))
      .reduce(_.unionByName(_))
      .groupBy($"o_orderstatus")
      .agg(sum($"cnt").as("n_rows"), sum($"cts").cast("long").as("cents_sum"))
      .filter($"n_rows" > 0)
      .orderBy($"o_orderstatus".asc_nulls_first)
  }

  /** The refreshed view must equal the full per-status rollup of the v3
    * table (the lakeDeleteMor v3 CTE chain, rolled up by status). */
  private val mvIncrementalMorOracle = """
    WITH tbl AS (
      SELECT o_orderkey AS k, o_orderstatus AS s,
        CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
      FROM orders WHERE o_orderkey % 10 < 5),
    v2 AS (SELECT k, s, c FROM tbl WHERE k % 7 <> 3),
    feed AS (
      SELECT o_orderkey AS k, o_orderstatus AS s,
        CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) // 4 AS c
      FROM orders WHERE o_orderkey % 14 = 3),
    v3 AS (SELECT * FROM v2 UNION ALL SELECT * FROM feed)
    SELECT s AS o_orderstatus, count(*) AS n_rows,
      CAST(sum(c) AS BIGINT) AS cents_sum
    FROM v3 GROUP BY 1
    ORDER BY o_orderstatus ASC NULLS FIRST"""

  /** MERGE-ON-READ DELETION VECTORS (round 14; VERDICT r13 task 3) — the
    * read-side delete every Delta/Iceberg deployment uses when rewriting
    * a large file for a few deleted rows is too expensive: commit v5
    * registers dv1 (the deleted-key file, k%10 = 4) AGAINST fileD without
    * touching D's bytes; a snapshot read at v5 scans D and anti-joins its
    * DV. The graded query reads v4 (pre-delete) and v5 (masked) and the
    * oracle recomputes both predicates over orders — so the per-file mask
    * application is value-graded (masking the wrong file, or not masking,
    * cannot hash-match). Reading v4 AFTER the DV landed must still see
    * the unmasked rows: DVs are versioned metadata, not data mutation.
    *
    * Scale posture: the DV write scanned only the target file; the masked
    * read shuffles O(file ∪ dv) per masked file and a small DV broadcasts
    * under AQE — at 100 TB this is why row-level deletes cost |dv|, not a
    * |file| rewrite, until compaction folds the mask in.
    */
  private def lakeDv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = lakeDir(spark, sfDir)
    (4 to 5).map { v =>
      readSnapshot(spark, base, v)
        .agg(count(lit(1)).as("n_rows"),
          sum($"o_orderkey").cast("long").as("key_sum"),
          sum(($"o_totalprice".cast("decimal(14,2)") * 100).cast("long"))
            .as("total_cents"))
        .select(lit(v.toLong).as("version"), $"n_rows", $"key_sum",
          $"total_cents")
    }.reduce(_.unionByName(_)).orderBy($"version".asc_nulls_first)
  }

  private val lakeDvOracle = """
    SELECT CAST(4 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
        AS BIGINT) AS total_cents
    FROM orders
    WHERE (o_orderkey % 10 >= 3 AND o_orderkey % 10 < 6)
       OR (o_orderkey % 10 < 3 AND o_orderstatus = 'F')
    UNION ALL
    SELECT 5, CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT),
      CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
        AS BIGINT)
    FROM orders
    WHERE o_orderkey % 10 IN (3, 5)
       OR (o_orderkey % 10 < 3 AND o_orderstatus = 'F')
    ORDER BY version ASC NULLS FIRST"""

  /** SCHEMA EVOLUTION THROUGH THE COMMIT LOG (round 14; VERDICT r13 task
    * 4) — commit v6 adds fileF carrying a NEW column (o_channel, a
    * deterministic function of the key) the earlier files lack. Reads
    * reconcile BY NAME per snapshot: the snapshot's schema is the union
    * of its live files' schemas, so v4/v5 reads keep the base 6-column shape
    * (n_cols grades that an old snapshot never sees a later column) and
    * the v6 head read null-fills o_channel for pre-evolution files while
    * still applying v5's deletion vector. The oracle recomputes all three
    * snapshots (rows, keys, column count, channel sum) from orders.
    */
  private def lakeSchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = lakeDir(spark, sfDir)
    (4 to 6).map { v =>
      val snap = readSnapshot(spark, base, v)
      val channelSum =
        if (snap.columns.contains("o_channel"))
          coalesce(sum($"o_channel"), lit(0L)).cast("long")
        else lit(0L)
      snap.agg(
          count(lit(1)).as("n_rows"),
          sum($"o_orderkey").cast("long").as("key_sum"),
          channelSum.as("channel_sum"))
        .select(lit(v.toLong).as("version"),
          lit(snap.schema.size.toLong).as("n_cols"),
          $"n_rows", $"key_sum", $"channel_sum")
    }.reduce(_.unionByName(_)).orderBy($"version".asc_nulls_first)
  }

  private val lakeSchemaEvolutionOracle = """
    WITH d AS (
      SELECT o_orderkey FROM orders
      WHERE (o_orderkey % 10 >= 3 AND o_orderkey % 10 < 6)
         OR (o_orderkey % 10 < 3 AND o_orderstatus = 'F')),
    masked AS (
      SELECT o_orderkey FROM orders
      WHERE o_orderkey % 10 IN (3, 5)
         OR (o_orderkey % 10 < 3 AND o_orderstatus = 'F')),
    f AS (
      SELECT o_orderkey, (o_orderkey // 10) % 2 AS o_channel
      FROM orders WHERE o_orderkey % 10 >= 6 AND o_orderkey % 10 < 8)
    SELECT CAST(4 AS BIGINT) AS version, CAST(6 AS BIGINT) AS n_cols,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      CAST(0 AS BIGINT) AS channel_sum
    FROM d
    UNION ALL
    SELECT 5, 6, CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT), 0
    FROM masked
    UNION ALL
    SELECT 6, 7,
      (SELECT count(*) FROM masked) + (SELECT count(*) FROM f),
      (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM masked)
        + (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM f),
      (SELECT CAST(sum(o_channel) AS BIGINT) FROM f)
    ORDER BY version ASC NULLS FIRST"""

  /** VACUUM WITH A RETENTION HORIZON (round 14; VERDICT r13 task 3) — the
    * nightly dead-file removal: on its OWN three-commit table (so the
    * shared time-travel log keeps every version readable), vacuum at
    * horizon v3 computes on-disk data files minus the union of live sets
    * over retained versions (≥ 3) and PHYSICALLY deletes the rest (fileA,
    * dead since the v3 rewrite), recording each deletion as a `vacuum`
    * log action. Post-vacuum the graded query proves both halves of the
    * contract: the retained snapshot's rows are byte-identical (the v3
    * read re-aggregates against the orders predicate) and pre-horizon
    * travel REFUSES (versions whose live set references a vacuumed file —
    * the summary row counts them plus the deletions from the log).
    *
    * Scale posture: vacuum is pure catalog arithmetic (log replay over
    * O(commits) entries + an O(files) listing — the standard manifest
    * pattern) and the deletes are file-system metadata ops; no data scan.
    */

  private[graft] def vacuumDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_vac") { base =>
      writeOrderSlices(spark, sfDir, base)
      commit(logPath(base), 0, Seq(LakeAction(1, "add", "fileA"),
        LakeAction(2, "add", "fileB"), LakeAction(3, "remove", "fileA"),
        LakeAction(3, "add", "fileC")))
      // VACUUM at horizon 3: delete on-disk data files no retained
      // version (v >= 3) references, then log the physical deletions.
      val retained = (3 to 3).flatMap(v => liveState(base, v)._1).toSet
      val onDisk = new java.io.File(base).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("file"))
        .map(_.getName).toSeq.sorted
      val dead = onDisk.filterNot(retained)
      dead.foreach(d => Memo.rmTree(Paths.get(base, d)))
      commit(logPath(base), 3, dead.map(LakeAction(4, "vacuum", _)))
    }

  private def lakeVacuum(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = vacuumDir(spark, sfDir)
    val nVacuumed = tableLog(base).count(_.op == "vacuum")
    val refused = (1 to 3).count(v =>
      liveFiles(base, v).exists(p => !Files.exists(Paths.get(p))))
    val v3files = liveFiles(base, 3)
    spark.read.parquet(v3files: _*)
      .agg(count(lit(1)).as("n_rows"),
        sum($"o_orderkey").cast("long").as("key_sum"))
      .select(lit(3L).as("version"), lit(v3files.size.toLong).as("n_files"),
        $"n_rows", $"key_sum")
      .unionByName(spark.range(1).select(
        lit(0L).as("version"), lit(nVacuumed.toLong).as("n_files"),
        lit(refused.toLong).as("n_rows"), lit(0L).as("key_sum")))
      .orderBy($"version".asc_nulls_first)
  }

  private val lakeVacuumOracle = """
    SELECT CAST(0 AS BIGINT) AS version, CAST(1 AS BIGINT) AS n_files,
      CAST(2 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS key_sum
    UNION ALL
    SELECT 3, 2, CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
    FROM orders
    WHERE (o_orderkey % 10 >= 3 AND o_orderkey % 10 < 6)
       OR (o_orderkey % 10 < 3 AND o_orderstatus = 'F')
    ORDER BY version ASC NULLS FIRST"""

  // ---- SNAPSHOT EXPIRY (round 19; r18 VERDICT task 5) ----

  /** Expiry policy constants, shared by the scratch builder, the graded
    * query's status recomputation and the Round19Spec assertions: retain
    * the newest [[ExpireRetainLast]] snapshots unconditionally, expire
    * older ones committed before [[ExpireOlderThan]] — unless a named
    * tag protects them (the Iceberg retention contract: refs pin
    * snapshots against `expire_snapshots`). */
  private val ExpireRetainLast = 2
  private def expireOlderThan: Long = lakeTs(4)

  /** Snapshot versions of a log = versions carrying any table-state
    * action (tags/expire/vacuum/conflict are audit grain, not
    * snapshots). */
  private def dataVersions(acts: Seq[LakeAction]): Seq[Int] =
    acts.filter(a => Set("add", "remove", "dv", "delta", "edelete",
      "schema").contains(a.op)).map(_.v).distinct.sorted

  /** Expire the given snapshot versions under the VACUUM-SAFETY
    * invariant: a data file is physically deleted ONLY if every snapshot
    * referencing it is being (or was already) expired — files any
    * retained snapshot still references stay on disk, whatever else
    * happens. Appends one audit commit: an `expire` record per version
    * (path `s<v>` — what gates readers, see [[checkNotExpired]]) plus a
    * `vacuum` record per deleted file (what keeps `everAdded` honest).
    * Returns the deleted file names. Pure catalog arithmetic — O(commits)
    * log replay + O(files) listing, zero data scan, the vacuumDir
    * posture. */
  private def doExpire(base: String, toExpire: Seq[Int]): Seq[String] = {
    if (toExpire.isEmpty) return Nil
    val acts = tableLog(base)
    val already = acts.filter(_.op == "expire")
      .map(_.path.stripPrefix("s").toInt).toSet
    val gone = already ++ toExpire
    val retained = dataVersions(acts).filterNot(gone)
    val needed = retained.flatMap(v => liveState(base, v)._1).toSet
    val dead = toExpire.flatMap(v => liveState(base, v)._1).toSet -- needed
    dead.toSeq.sorted.foreach(d => Memo.rmTree(Paths.get(base, d)))
    val head = headOf(acts)
    val ts = Some(lakeTs(head + 1))
    commit(logPath(base), head,
      toExpire.sorted.map(v => LakeAction(head + 1, "expire", s"s$v", ts = ts)) ++
        dead.toSeq.sorted.map(LakeAction(head + 1, "vacuum", _, ts = ts)))
    dead.toSeq.sorted
  }

  /** `expire_snapshots(retain_last, older_than)`: the policy sweep.
    * Candidates = snapshots older than the horizon and outside the
    * retain-last window, not already expired; TAGGED candidates are
    * PROTECTED (skipped, reported), the rest expire via [[doExpire]].
    * Returns (expired, protected, deleted files). Idempotent: a second
    * sweep under the same policy finds no candidates. */
  private[graft] def expireSnapshots(base: String, retainLast: Int,
      olderThan: Long): (Seq[Int], Seq[Int], Seq[String]) = {
    val acts = tableLog(base)
    val versions = dataVersions(acts)
    val already = acts.filter(_.op == "expire")
      .map(_.path.stripPrefix("s").toInt).toSet
    val ts = acts.groupBy(_.v).map { case (v, as) =>
      val tss = as.flatMap(_.ts).distinct
      require(tss.size == 1,
        s"graft lake: commit $v must carry exactly one timestamp for " +
          s"retention arithmetic (found ${tss.mkString(",")})")
      v -> tss.head
    }
    val head = versions.takeRight(retainLast).toSet
    val tagged = acts.filter(_.op == "tag").map(_.v).toSet
    val candidates = versions.filter(v =>
      !already(v) && !head(v) && ts(v) < olderThan)
    val (prot, expired) = candidates.partition(tagged)
    val dead = doExpire(base, expired)
    (expired, prot, dead)
  }

  /** Direct single-snapshot expiry — the REFUSAL surface (the
    * q_lake_constraints transactional-refusal pattern): a tag-protected
    * or head snapshot refuses loudly BEFORE any state change (no log
    * append, no file deletion — the spec pins both), anything else
    * delegates to [[doExpire]]. */
  private[graft] def expireVersion(base: String, v: Int): Seq[String] = {
    val acts = tableLog(base)
    val tags = acts.filter(a => a.op == "tag" && a.v == v).map(_.path)
    require(tags.isEmpty, s"graft lake: snapshot v$v is protected by " +
      s"tag(s) ${tags.sorted.mkString(", ")} — expire_snapshots refuses; " +
      "drop the tag first")
    require(v != dataVersions(acts).last, s"graft lake: snapshot v$v is " +
      "the current table version — the head is never expirable")
    doExpire(base, Seq(v))
  }

  /** The expiry scratch: five snapshots over orders slices (A → A,B →
    * B,C → compact to D → D,E), commit timestamps on every action, a
    * named tag `audit` pinning v3 — then ONE policy sweep
    * (retain_last=2, older_than=ts(v4)) runs at build time: candidates
    * {v1,v2,v3}, v3 held by its tag, v1/v2 expired; fileA (referenced
    * only by expired snapshots) is physically deleted, fileB/fileC
    * survive because the PROTECTED v3 still references them — the
    * vacuum-safety invariant doing real work. */

  private[graft] def expireDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_exp") { base =>
      val orders = writeOrderSlices(spark, sfDir, base)
      spark.read.parquet(s"$base/fileB", s"$base/fileC")
        .write.parquet(s"$base/fileD")
      orders.filter(orderSlot >= 6 && orderSlot < 8).write.parquet(s"$base/fileE")
      def a(v: Int, op: String, path: String) =
        LakeAction(v, op, path, ts = Some(lakeTs(v)))
      commit(logPath(base), 0, Seq(
        a(1, "add", "fileA"),
        a(2, "add", "fileB"),
        a(3, "remove", "fileA"), a(3, "add", "fileC"), a(3, "tag", "audit"),
        a(4, "remove", "fileB"), a(4, "remove", "fileC"), a(4, "add", "fileD"),
        a(5, "add", "fileE")))
      val (expired, prot, dead) =
        expireSnapshots(base, ExpireRetainLast, expireOlderThan)
      require(expired == Seq(1, 2) && prot == Seq(3) &&
        dead == Seq("fileA"),
        s"graft lake: expiry scratch invariant broke ($expired/$prot/$dead)")
    }

  /** TAG-PROTECTED SNAPSHOT EXPIRY (round 19; r18 VERDICT task 5) — the
    * remaining table-maintenance verb beside vacuum/restore/clone:
    * `expire_snapshots(retain_last=2, older_than=ts(v4))` over a 5-commit
    * log with a named tag pinning v3. Graded, one row per snapshot plus
    * an audit row: the policy VERDICT per version (expired / protected /
    * retained — recomputed in the query from the same constants, so a
    * drifting sweep breaks the hash), whether the version still RESOLVES
    * post-expiry (expired reads refuse at resolution — [[checkNotExpired]]
    * — before any file is touched; 0 in the readable column), and the
    * exact aggregates of every still-readable snapshot (fileD = B∪C by
    * the compaction contract, so v4 must answer exactly v3's numbers —
    * the cross-snapshot consistency only a correct safety invariant can
    * produce: v3's files survive ONLY because its tag held them). Audit
    * row: files vacuumed, snapshots expired, snapshots protected, safety
    * violations (a retained snapshot with a missing file — must be 0).
    *
    * Scale: expiry is pure catalog arithmetic (O(commits) replay +
    * O(files) metadata deletes, zero data scan); the graded reads scan
    * only live files of the retained snapshots. */
  private def lakeExpire(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = expireDir(spark, sfDir)
    val acts = tableLog(base)
    val versions = dataVersions(acts)
    val expired = acts.filter(_.op == "expire")
      .map(_.path.stripPrefix("s").toInt).toSet
    val tagged = acts.filter(_.op == "tag").map(_.v).toSet
    val head = versions.takeRight(ExpireRetainLast).toSet
    val perVersion = versions.map { v =>
      val status =
        if (expired(v)) "expired"
        else if (tagged(v) && !head(v) && lakeTs(v) < expireOlderThan)
          "protected"
        else "retained"
      val nFiles = liveState(base, v)._1.size.toLong
      val snap =
        try Some(readSnapshot(spark, base, v))
        catch { case _: IllegalStateException => None }
      snap match {
        case Some(df) => df
          .agg(count(lit(1)).as("n_rows"),
            sum($"o_orderkey").cast("long").as("key_sum"))
          .select(lit(v.toLong).as("version"), lit(status).as("status"),
            lit(nFiles).as("n_files"), lit(1L).as("readable"),
            $"n_rows", $"key_sum")
        case None => spark.range(1)
          .select(lit(v.toLong).as("version"), lit(status).as("status"),
            lit(nFiles).as("n_files"), lit(0L).as("readable"),
            lit(0L).as("n_rows"), lit(0L).as("key_sum"))
      }
    }
    val nVac = acts.count(_.op == "vacuum").toLong
    val nProt = versions.count(v => tagged(v) && !head(v) && !expired(v) &&
      lakeTs(v) < expireOlderThan).toLong
    val violations = versions.filterNot(expired).count(v =>
      liveFiles(base, v).exists(p => !Files.exists(Paths.get(p)))).toLong
    val audit = spark.range(1).select(lit(0L).as("version"),
      lit("audit").as("status"), lit(nVac).as("n_files"),
      lit(expired.size.toLong).as("readable"), lit(nProt).as("n_rows"),
      lit(violations).as("key_sum"))
    (audit +: perVersion).reduce(_.unionByName(_))
      .orderBy($"version".asc_nulls_first)
  }

  /** The audit row overloads the snapshot columns (the lakeVacuum
    * precedent): n_files = files vacuumed, readable = snapshots expired,
    * n_rows = snapshots protected, key_sum = safety violations. */
  private val lakeExpireOracle = """
    WITH v3agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      FROM orders
      WHERE (o_orderkey % 10 >= 3 AND o_orderkey % 10 < 6)
         OR (o_orderkey % 10 < 3 AND o_orderstatus = 'F')),
    v5agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      FROM orders
      WHERE (o_orderkey % 10 >= 3 AND o_orderkey % 10 < 6)
         OR (o_orderkey % 10 < 3 AND o_orderstatus = 'F')
         OR (o_orderkey % 10 >= 6 AND o_orderkey % 10 < 8))
    SELECT CAST(0 AS BIGINT) AS version, 'audit' AS status,
      CAST(1 AS BIGINT) AS n_files, CAST(2 AS BIGINT) AS readable,
      CAST(1 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS key_sum
    UNION ALL SELECT 1, 'expired', 1, 0, 0, 0
    UNION ALL SELECT 2, 'expired', 2, 0, 0, 0
    UNION ALL SELECT 3, 'protected', 2, 1,
      (SELECT n_rows FROM v3agg), (SELECT key_sum FROM v3agg)
    UNION ALL SELECT 4, 'retained', 1, 1,
      (SELECT n_rows FROM v3agg), (SELECT key_sum FROM v3agg)
    UNION ALL SELECT 5, 'retained', 2, 1,
      (SELECT n_rows FROM v5agg), (SELECT key_sum FROM v5agg)
    ORDER BY version ASC NULLS FIRST"""

  /** TABLE RESTORE (round 14) — point-in-time rollback as ONE metadata
    * commit: v7 removes the current live files and re-adds v3's live set
    * (all still on disk), never rewriting history — reads at v4..v6 keep
    * answering exactly as before (the graded v6 row pins it, DV mask
    * included). The graded query reads v3, v6 and v7: the restore is
    * correct iff v7's aggregates EQUAL v3's while v6's differ — the
    * oracle states precisely that (same predicate for v3/v7).
    * Scale: restore is O(live files) log arithmetic, zero data movement —
    * the Delta RESTORE / Iceberg rollback-to-snapshot contract.
    */
  private def lakeRestore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = lakeDir(spark, sfDir)
    Seq(3, 6, 7).map { v =>
      val files = liveState(base, v)._1
      readSnapshot(spark, base, v)
        .agg(count(lit(1)).as("n_rows"),
          sum($"o_orderkey").cast("long").as("key_sum"))
        .select(lit(v.toLong).as("version"),
          lit(files.size.toLong).as("n_files"), $"n_rows", $"key_sum")
    }.reduce(_.unionByName(_)).orderBy($"version".asc_nulls_first)
  }

  private val lakeRestoreOracle = """
    WITH v3 AS (
      SELECT count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      FROM orders
      WHERE (o_orderkey % 10 >= 3 AND o_orderkey % 10 < 6)
         OR (o_orderkey % 10 < 3 AND o_orderstatus = 'F')),
    v6 AS (
      SELECT count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      FROM orders
      WHERE o_orderkey % 10 IN (3, 5)
         OR (o_orderkey % 10 < 3 AND o_orderstatus = 'F')
         OR (o_orderkey % 10 >= 6 AND o_orderkey % 10 < 8))
    SELECT CAST(3 AS BIGINT) AS version, CAST(2 AS BIGINT) AS n_files,
      n_rows, key_sum FROM v3
    UNION ALL
    SELECT 6, 2, n_rows, key_sum FROM v6
    UNION ALL
    SELECT 7, 2, n_rows, key_sum FROM v3
    ORDER BY version ASC NULLS FIRST"""

  /** SHALLOW CLONE (round 14) — the zero-copy table fork every lakehouse
    * offers (Delta SHALLOW CLONE): the clone is a NEW table whose log is
    * the source's log truncated at the clone version plus a `_source`
    * pointer; NO data file is copied (spec-asserted: the clone dir holds
    * only metadata). The clone is then INDEPENDENT: the source advancing
    * to v5/v6/v7 never changes the clone's reads. Graded three ways: the
    * clone's head equals the source AT THE CLONE POINT (v4), the source
    * at v6 (DV mask + schema commit) answers DIFFERENTLY, and the source
    * head (v7, post-restore) matches the clone again — the full
    * fork-diverge-rollback story in one hash.
    */

  private[graft] def cloneDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_clone") { base =>
      val src = lakeDir(spark, sfDir)
      commit(logPath(base), 0, tableLog(src).filter(_.v <= 4))
      Files.write(Paths.get(base, "_source"),
        src.getBytes(StandardCharsets.UTF_8))
    }

  /** Snapshot read of a shallow clone: log replay against the clone's
    * log, data files resolved through the `_source` pointer. */
  private def readCloneHead(spark: SparkSession, base: String): DataFrame = {
    val src = new String(Files.readAllBytes(Paths.get(base, "_source")),
      StandardCharsets.UTF_8)
    val st = fullState(base, Int.MaxValue)
    // everAdded, not the live set (round-18 ADVICE fix — see readSnapshot).
    readState(spark, src, st.live, st.dvs, schemaFiles = st.everAdded)
  }

  private def lakeClone(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val srcBase = lakeDir(spark, sfDir)
    val clone = cloneDir(spark, sfDir)
    def agg(df: DataFrame, tag: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          sum($"o_orderkey").cast("long").as("key_sum"))
        .select(lit(tag).as("table_ref"), $"n_rows", $"key_sum")
    agg(readCloneHead(spark, clone), "clone_head")
      .unionByName(agg(readSnapshot(spark, srcBase, 6), "source_v6"))
      .unionByName(agg(readSnapshot(spark, srcBase, 7), "source_head"))
      .orderBy($"table_ref".asc_nulls_first)
  }

  private val lakeCloneOracle = """
    WITH base AS (
      SELECT count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      FROM orders
      WHERE (o_orderkey % 10 >= 3 AND o_orderkey % 10 < 6)
         OR (o_orderkey % 10 < 3 AND o_orderstatus = 'F')),
    diverged AS (
      SELECT count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      FROM orders
      WHERE o_orderkey % 10 IN (3, 5)
         OR (o_orderkey % 10 < 3 AND o_orderstatus = 'F')
         OR (o_orderkey % 10 >= 6 AND o_orderkey % 10 < 8))
    SELECT 'clone_head' AS table_ref, n_rows, key_sum FROM base
    UNION ALL
    SELECT 'source_head', n_rows, key_sum FROM base
    UNION ALL
    SELECT 'source_v6', n_rows, key_sum FROM diverged
    ORDER BY table_ref ASC NULLS FIRST"""

  /** PARTITION-SPEC EVOLUTION (round 14) — the Iceberg capability of
    * changing a table's partitioning WITHOUT rewriting old data: commit
    * v1 lands a slice hive-partitioned by o_orderstatus (the original
    * spec), commit v2 lands the rest partitioned by o_year (the evolved
    * spec); a head read reconciles both layouts by name (old-spec rows
    * null-fill the new spec's partition column) and answers over the
    * whole table. The graded per-status aggregates count the rows living
    * under the NEW spec separately, so mixing up either layout's rows
    * breaks the hash. Scale: each slice keeps ITS OWN pruning axis —
    * status-filtered queries prune v1 dirs, year-filtered queries prune
    * v2 dirs — and evolution is metadata-only, the reason Iceberg tables
    * never rewrite history to repartition.
    */

  private[graft] def partDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_pe") { base =>
      import spark.implicits._
      val orders = Catalog.load(spark, sfDir, "orders")
      orders.filter(orderSlot < 5)
        .write.partitionBy("o_orderstatus").parquet(s"$base/fileP1")
      orders.filter(orderSlot >= 5)
        .withColumn("o_year", year($"o_orderdate"))
        .write.partitionBy("o_year").parquet(s"$base/fileP2")
      commit(logPath(base), 0,
        Seq(LakeAction(1, "add", "fileP1"), LakeAction(2, "add", "fileP2")))
    }

  private def lakePartitionEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = partDir(spark, sfDir)
    readSnapshot(spark, base, 2)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        count($"o_year").as("n_newspec"),
        sum($"o_orderkey").cast("long").as("key_sum"))
      .orderBy($"o_orderstatus".asc_nulls_first)
  }

  private val lakePartitionEvolutionOracle = """
    SELECT o_orderstatus, count(*) AS n_rows,
      CAST(count(CASE WHEN o_orderkey % 10 >= 5 THEN 1 END) AS BIGINT)
        AS n_newspec,
      CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders GROUP BY o_orderstatus
    ORDER BY o_orderstatus ASC NULLS FIRST"""

  /** OPTIMISTIC CONCURRENCY COMMITS (round 14) — the writer protocol
    * every multi-writer lakehouse runs: a commit names the version it
    * EXPECTS to succeed; if another writer landed first the attempt is
    * REJECTED, and the writer re-reads the head, validates its change
    * still applies (append-only commits are disjoint by construction) and
    * retries at the new version. The scratch replays the classic race:
    * writers A and B both read head v1; A commits v2 cleanly; B's v2
    * attempt is rejected (audited as a `conflict` log line), B rebases
    * and lands v3. Graded: the head read contains all three slices
    * exactly once plus the protocol counters (head version, committed
    * attempts, rejected attempts) — a lost update or a double-append
    * breaks the hash. Scale: the check is one compare on catalog state
    * (how Delta's mutual-exclusion on log files behaves), never a data
    * scan; retry cost is re-validation, not re-write. The protocol is
    * [[commit]]'s own: B's stale attempt is exactly its refusal.
    */
  private[graft] def occDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_occ") { base =>
      val orders = Catalog.load(spark, sfDir, "orders")
      orders.filter(orderSlot < 2).write.parquet(s"$base/fileBase")
      val log = logPath(base)
      commit(log, 0, Seq(LakeAction(1, "add", "fileBase")))
      // Both writers read the SAME head (v1) and stage their files.
      orders.filter(orderSlot >= 2 && orderSlot < 4).write.parquet(s"$base/fileA")
      orders.filter(orderSlot >= 4 && orderSlot < 6).write.parquet(s"$base/fileB")
      val read = 1
      // Writer A lands first.
      commit(log, read, Seq(LakeAction(read + 1, "add", "fileA")))
      // Writer B's attempt against its STALE snapshot must be refused.
      val refused =
        try {
          commit(log, read, Seq(LakeAction(read + 1, "add", "fileB"))); false
        } catch { case _: IllegalStateException => true }
      require(refused, "writer B's stale commit must be refused")
      // B re-reads the head, validates (append-only ⇒ disjoint) and
      // retries; the conflict is audited in the log.
      val head = headOf(readActions(log))
      commit(log, head, Seq(LakeAction(head + 1, "conflict", "fileB"),
        LakeAction(head + 1, "add", "fileB")))
    }

  private def lakeOcc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = occDir(spark, sfDir)
    val log = tableLog(base)
    val head = headOf(log)
    val rejected = log.count(_.op == "conflict")
    spark.read.parquet(liveFiles(base, head): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum($"o_orderkey").cast("long").as("key_sum"))
      .select(lit(head.toLong).as("head_version"),
        lit(rejected.toLong).as("n_rejected"), $"n_rows", $"key_sum")
      .orderBy($"head_version".asc_nulls_first)
  }

  private val lakeOccOracle = """
    SELECT CAST(3 AS BIGINT) AS head_version, CAST(1 AS BIGINT) AS n_rejected,
      count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 10 < 6
    ORDER BY head_version ASC NULLS FIRST"""

  /** COMMIT-LOG CHECKPOINTING (round 15; VERDICT r14 task 2) — the
    * O(commits) → O(tail) move every production lakehouse relies on
    * (Delta's `_last_checkpoint` parquet, Iceberg's snapshot manifests): a
    * long-lived table accumulates thousands of commits, and replaying the
    * whole log per read would grow catalog latency with table AGE rather
    * than table size. Every CKPT_EVERY commits the writer materializes the
    * replayed live-file set (adds with their zone stats + registered DVs)
    * as `_ckpt.v<N>.json`; a snapshot read at v loads the newest
    * checkpoint ≤ v and replays only the tail actions in (ckpt, v].
    *
    * The checkpoint is itself a sequence of strict-grammar actions, so one
    * parser serves both files and checkpoint-replay ≡ full-replay is a
    * structural identity (spec-proven at EVERY version of the table).
    * The 12-commit scratch: v1..v8 add eight KEY-RANGE slices of orders
    * (bucket b = key·8 div (max+1), so zone maps are genuinely disjoint),
    * v9 compacts files 1+2 → file_9, v10 lands a DV against file_9
    * (keys ≡ 0 mod 5), v11 drops file_3, v12 re-adds its 'F' rows as
    * file_10 — checkpoints land at v5 and v10. The graded query reads v5
    * (exactly at a checkpoint — zero tail), v8 (ckpt 5 + 3 tail adds) and
    * the head v12 (ckpt 10 + 2 tail actions), reporting per version the
    * checkpoint used, the tail length and the exact aggregates; the
    * oracle recomputes each snapshot's predicate over orders, so a
    * checkpoint that snapshots the wrong state cannot hash-match.
    *
    * Scale posture: resolution cost per read is O(tail) END TO END —
    * each checkpoint stores the byte offset of the first post-checkpoint
    * log line, so the reader SEEKS past the prefix and reads+parses only
    * the tail bytes (not merely replays the tail after a full-log parse);
    * plus one bounded checkpoint read. Independent of the table's commit
    * count in I/O, parse and replay. The checkpoint write is O(live
    * files) metadata. Build-time driver actions are constant-bounded
    * (1-row max-key agg, an 8-row zone agg, two ≤64-row slice aggs).
    */
  private val CKPT_EVERY = 5

  /** Zone lookup for the scratch builders' bucket→(min,max) maps — fails
    * LOUDLY on an empty bucket instead of a bare NoSuchElementException
    * deep in log authoring (r15 ADVICE #2; spec-fed with an empty map in
    * Round17Spec). The builders assume every bucket is populated; a sparse
    * fixture must surface as a descriptive error, never a silent KeyError. */
  private[graft] def zoneOf(zones: Map[Long, (Long, Long)], b: Long,
                            what: String): (Long, Long) =
    zones.getOrElse(b,
      throw new IllegalArgumentException(
        s"graft lake: empty $what zone bucket $b — the scratch builder " +
          "assumes every bucket is populated"))

  /** An `add` of `p` at `v` carrying the key zone `z`. */
  private def zonedAdd(v: Int, p: String, z: (Long, Long)): LakeAction =
    LakeAction(v, "add", p, minKey = Some(z._1), maxKey = Some(z._2))

  /** Materialize the replayed state at `v` as a checkpoint file of
    * strict-grammar actions (zone-carrying adds + DV registrations +
    * outstanding MoR layers + `schema` records for the non-live everAdded
    * set), plus a sibling `.off` file holding the BYTE OFFSET of the first log
    * line after commit `v` — the tail-seek cursor that makes snapshot
    * resolution O(tail) in I/O and parse, not just in replay (the log is
    * version-ordered append-only, so the offset stays valid as commits
    * land after it). */
  private[graft] def writeCheckpoint(base: String, v: Int): Unit = {
    val st = fullState(base, v)
    val acts = st.live.map { p =>
      LakeAction(v, "add", p, minKey = st.zones.get(p).map(_._1),
        maxKey = st.zones.get(p).map(_._2),
        colZones = st.colZones.getOrElse(p, Map.empty),
        rows = st.rowCounts.get(p), bloom = st.blooms.get(p))
    } ++ st.live.flatMap(p => st.dvs.getOrElse(p, Nil).map(d =>
      LakeAction(v, "dv", p, dv = Some(d)))) ++
      // Outstanding merge-on-read deltas are part of the replayed state:
      // a checkpoint materialized mid-MoR must carry them in order, or a
      // checkpoint-resolved read would silently lose the upsert layer —
      // and their blooms ride along (a checkpoint-resolved probe read
      // must keep skipping layers).
      st.deltas.map { case (k, d) =>
        LakeAction(v, k, d, bloom = st.blooms.get(d)) } ++
      // everAdded files that are no longer live (added-then-removed, not
      // vacuumed) are still on disk and still the empty-snapshot schema
      // fallback's source — persist them as `schema` actions so resolving
      // THROUGH this checkpoint loses no schema source (round-19 ADVICE
      // fix; live files re-enter everAdded through their add lines).
      st.everAdded.filterNot(st.live.toSet).map(LakeAction(v, "schema", _))
    commit(Paths.get(base, s"_ckpt.v$v.json"), 0, acts)
    val logLines = new String(Files.readAllBytes(logPath(base)),
      StandardCharsets.UTF_8).split("\n")
    val prefix = logLines.takeWhile(l => parseAction(l).v <= v)
    val off = prefix.map(_.getBytes(StandardCharsets.UTF_8).length.toLong)
      .sum + prefix.length // + one separator newline per prefix line
    Files.write(Paths.get(base, s"_ckpt.v$v.off"),
      off.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Read and parse ONLY the log bytes after checkpoint `cv`'s offset
    * cursor (O(tail)); falls back to a full parse when no cursor exists
    * (cv = 0, or a checkpoint written before cursors existed). */
  private def logTail(base: String, cv: Int): Seq[LakeAction] = {
    val offPath = Paths.get(base, s"_ckpt.v$cv.off")
    val log = logPath(base)
    if (cv > 0 && Files.exists(offPath)) {
      val off = new String(Files.readAllBytes(offPath),
        StandardCharsets.UTF_8).toLong
      val ch = java.nio.channels.FileChannel.open(log)
      try {
        val size = ch.size()
        if (off >= size) Nil
        else {
          // A tail past 2 GiB would overflow the Int buffer size below —
          // fail loudly rather than throwing a bare negative-allocation
          // error (a tail that long means the checkpoint cadence is
          // broken anyway; the fix is more checkpoints, not a bigger
          // buffer).
          require(size - off <= Int.MaxValue.toLong,
            s"graft lake: log tail of ${size - off} bytes exceeds the " +
              "single-buffer bound — checkpoint cadence must keep tails " +
              "bounded")
          val buf = java.nio.ByteBuffer.allocate((size - off).toInt)
          ch.position(off)
          var n = 0
          while (n >= 0 && buf.hasRemaining) n = ch.read(buf)
          new String(buf.array(), 0, buf.position(),
            StandardCharsets.UTF_8)
            .split("\n").toSeq.filter(_.nonEmpty).map(parseAction)
        }
      } finally ch.close()
    } else readActions(log).filter(_.v > cv)
  }

  private val ckptNameRe = """_ckpt\.v(\d+)\.json""".r

  /** Checkpointed state resolution: newest checkpoint ≤ v + tail replay.
    * Returns (state, checkpoint version used — 0 if none, tail action
    * count actually replayed). */
  private[graft] def ckptState(base: String, v: Int): (LakeState, Int, Int) = {
    val cands = Option(new java.io.File(base).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .collect { case ckptNameRe(n) => n.toInt }.filter(_ <= v)
    val cv = if (cands.isEmpty) 0 else cands.max
    val init =
      if (cv == 0) emptyState
      else replayActions(emptyState,
        readActions(Paths.get(base, s"_ckpt.v$cv.json")))
    val tail = logTail(base, cv).filter(a => a.v > cv && a.v <= v)
    (replayActions(init, tail), cv, tail.size)
  }

  private[graft] def ckptDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_ckpt") { base =>
      import spark.implicits._
      val orders = Catalog.load(spark, sfDir, "orders")
      val maxk = orders.agg(max($"o_orderkey")).first().getLong(0)
      val m = maxk + 1
      Files.write(Paths.get(base, "_meta_maxkey"),
        maxk.toString.getBytes(StandardCharsets.UTF_8))
      val bkt = expr(s"o_orderkey * 8 div $m")
      // ONE aggregate job → 8 bounded (bucket, min, max) zone rows.
      val zones0 = orders.groupBy(bkt.as("b"))
        .agg(min($"o_orderkey").as("mn"), max($"o_orderkey").as("mx"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .toMap
      def zones(b: Long): (Long, Long) = zoneOf(zones0, b, "key-range")
      (1 to 8).foreach(i =>
        orders.filter(bkt === (i - 1)).write.parquet(s"$base/file_$i"))
      // v9 COMPACTS files 1+2 → file_9 reading only the live files.
      spark.read.parquet(s"$base/file_1", s"$base/file_2")
        .write.parquet(s"$base/file_9")
      // v10's DV against file_9 (built from the target file only).
      spark.read.parquet(s"$base/file_9")
        .filter(pmod($"o_orderkey", lit(5)) === 0)
        .select($"o_orderkey").write.parquet(s"$base/dv_9")
      // v12 re-adds file_3's 'F' rows under their own (tighter) zone.
      val slice10 = orders.filter(bkt === 2 && $"o_orderstatus" === "F")
      slice10.write.parquet(s"$base/file_10")
      val z10 = slice10.agg(min($"o_orderkey"), max($"o_orderkey"))
        .first()
      commit(logPath(base), 0,
        (1 to 8).map(i => zonedAdd(i, s"file_$i", zones(i - 1L))) ++ Seq(
          LakeAction(9, "remove", "file_1"),
          LakeAction(9, "remove", "file_2"),
          zonedAdd(9, "file_9", (math.min(zones(0L)._1, zones(1L)._1),
            math.max(zones(0L)._2, zones(1L)._2))),
          LakeAction(10, "dv", "file_9", dv = Some("dv_9")),
          LakeAction(11, "remove", "file_3"),
          zonedAdd(12, "file_10", (z10.getLong(0), z10.getLong(1)))))
      // Checkpoint cadence: one checkpoint per CKPT_EVERY commits.
      (CKPT_EVERY to 12 by CKPT_EVERY).foreach(writeCheckpoint(base, _))
    }

  private def lakeCheckpoint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = ckptDir(spark, sfDir)
    Seq(5, 8, 12).map { v =>
      val (st, cv, tailN) = ckptState(base, v)
      // schemaFiles (round-18 hygiene): the checkpoint-table sites now
      // carry the same empty-snapshot schema fallback as the other nine —
      // including files added-then-removed BEFORE the checkpoint, which
      // writeCheckpoint persists as `schema` actions (round-19 ADVICE fix).
      readState(spark, base, st.live, st.dvs, schemaFiles = st.everAdded)
        .agg(count(lit(1)).as("n_rows"),
          sum($"o_orderkey").cast("long").as("key_sum"))
        .select(lit(v.toLong).as("version"),
          lit(cv.toLong).as("ckpt_version"),
          lit(tailN.toLong).as("n_tail_actions"), $"n_rows", $"key_sum")
    }.reduce(_.unionByName(_)).orderBy($"version".asc_nulls_first)
  }

  private val lakeCheckpointOracle = """
    WITH mk AS (SELECT max(o_orderkey) + 1 AS m FROM orders),
    b AS (SELECT o_orderkey, o_orderstatus, o_orderkey * 8 // m AS bkt
          FROM orders, mk)
    SELECT CAST(5 AS BIGINT) AS version, CAST(5 AS BIGINT) AS ckpt_version,
      CAST(0 AS BIGINT) AS n_tail_actions,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM b WHERE bkt < 5
    UNION ALL
    SELECT 8, 5, 3, CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
    FROM b
    UNION ALL
    SELECT 12, 10, 2, CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
    FROM b
    WHERE bkt >= 3 OR (bkt < 2 AND o_orderkey % 5 <> 0)
       OR (bkt = 2 AND o_orderstatus = 'F')
    ORDER BY version ASC NULLS FIRST"""

  /** ZONE-MAP FILE SKIPPING THROUGH THE COMMIT LOG (round 15; VERDICT r14
    * task 6) — marrying the §H layout zone maps with the lake replay: add
    * actions carry per-file min/max key stats, and a selective snapshot
    * read prunes files whose zone cannot intersect the predicate BEFORE
    * planning any scan — the manifest-level file skipping Delta/Iceberg
    * do with add-file stats. The graded predicate (key ≤ the bucket-2/3
    * boundary) keeps only the compacted file_9 (buckets 0-1, DV-masked)
    * and file_10 (bucket 2, 'F' rows): 2 of 7 live files planned, and the
    * spec proves the pruned read ≡ the unpruned filtered read while
    * planning strictly fewer files. The oracle recomputes rows + both
    * file counts from orders, so over-pruning (lost rows) or
    * under-pruning (wrong planned count) both break the hash.
    * Scale: pruning is O(live files) catalog arithmetic on stats already
    * in the log — at 100 TB it is the difference between scanning 7/8 of
    * the table and opening two files. */
  private def lakeZonemap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = ckptDir(spark, sfDir)
    val maxk = new String(
      Files.readAllBytes(Paths.get(base, "_meta_maxkey")),
      StandardCharsets.UTF_8).toLong
    val hi = (3 * (maxk + 1) - 1) / 8
    val (st, _, _) = ckptState(base, 12)
    // A file lacking zone stats can never be pruned (plan it); with stats,
    // skip iff its whole key range sits above the upper bound.
    val planned = st.live.filter(p => st.zones.get(p).forall(_._1 <= hi))
    readState(spark, base, planned, st.dvs, schemaFiles = st.live)
      .filter($"o_orderkey" <= hi)
      .agg(count(lit(1)).as("n_rows"),
        sum($"o_orderkey").cast("long").as("key_sum"))
      .select(lit(st.live.size.toLong).as("n_files_live"),
        lit(planned.size.toLong).as("n_files_planned"),
        $"n_rows", $"key_sum")
      .orderBy($"n_files_live".asc_nulls_first)
  }

  private val lakeZonemapOracle = """
    WITH mk AS (SELECT max(o_orderkey) + 1 AS m FROM orders)
    SELECT CAST(7 AS BIGINT) AS n_files_live,
      CAST(2 AS BIGINT) AS n_files_planned,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders, mk
    WHERE o_orderkey <= (3 * m - 1) // 8
      AND ((o_orderkey * 8 // m < 2 AND o_orderkey % 5 <> 0)
        OR (o_orderkey * 8 // m = 2 AND o_orderstatus = 'F'))
    ORDER BY n_files_live ASC NULLS FIRST"""

  /** MULTI-COLUMN ZONE MAPS (round 16; r15 VERDICT task 6) — add actions
    * carry a `zones` column→(min,max) map beside the single-key min/max,
    * and a CONJUNCTIVE predicate prunes a file when ANY statted column's
    * zone cannot intersect its conjunct — per-column stats are how real
    * manifests (Delta add-file stats, Iceberg manifest column bounds)
    * skip files for predicates off the clustering key. The scratch grid:
    * 8 files = 4 key-range buckets × 2 custkey halves, every add carrying
    * both columns' exact bounds; the graded predicate (key in buckets
    * 0-1 AND custkey in the upper half) plans 2 of 8 files. The oracle
    * recomputes rows + both file counts from orders via the same
    * closed-form bucket boundaries (truncating div on non-negative
    * operands, engine-identical), so over- and under-pruning both break
    * the hash; the pruned ≡ unpruned spec covers row identity.
    * Scale: identical to single-key zone maps — O(live files × statted
    * columns) catalog arithmetic, no scan. */

  private def multiZoneDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_mz") { base =>
      import spark.implicits._
      val orders = Catalog.load(spark, sfDir, "orders")
      val mm = orders.agg(max($"o_orderkey"), max($"o_custkey")).first()
      val m = mm.getLong(0) + 1
      val mc = mm.getLong(1) + 1
      Files.write(Paths.get(base, "_meta_max"),
        s"${mm.getLong(0)},${mm.getLong(1)}"
          .getBytes(StandardCharsets.UTF_8))
      val bk = expr(s"o_orderkey * 4 div $m")
      val ck = expr(s"o_custkey * 2 div $mc")
      // ONE aggregate job → 8 bounded per-cell rows with BOTH bounds
      // (+ the per-file row count the stats-only/hybrid reads consume).
      val cells = orders.groupBy(bk.as("b"), ck.as("c"))
        .agg(min($"o_orderkey").as("kmn"), max($"o_orderkey").as("kmx"),
          min($"o_custkey").as("cmn"), max($"o_custkey").as("cmx"),
          count(lit(1)).as("n"))
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6))))
        .toMap
      def cell(b: Long, c: Long): (Long, Long, Long, Long, Long) =
        cells.getOrElse((b, c), throw new IllegalArgumentException(
          s"graft lake: empty multi-zone grid cell ($b,$c) — the " +
            "scratch builder assumes every cell is populated"))
      commit(logPath(base), 0, for { b <- 0 to 3; c <- 0 to 1 } yield {
        orders.filter(bk === b && ck === c)
          .write.parquet(s"$base/file_${b}_$c")
        val (kmn, kmx, cmn, cmx, n) = cell(b.toLong, c.toLong)
        zonedAdd(b * 2 + c + 1, s"file_${b}_$c", (kmn, kmx)).copy(
          colZones = Map("o_custkey" -> ((cmn, cmx)),
            "o_orderkey" -> ((kmn, kmx))),
          rows = Some(n))
      })
    }

  /** Conjunctive zone pruning: keep a file unless some statted conjunct
    * column proves its range disjoint from the predicate interval. */
  private def multiZonePlan(st: LakeState,
      preds: Map[String, (Long, Long)]): Seq[String] =
    st.live.filter { p =>
      preds.forall { case (col0, (lo, hi)) =>
        st.colZones.get(p).flatMap(_.get(col0)).forall {
          case (mn, mx) => mx >= lo && mn <= hi
        }
      }
    }

  private def multiZoneBounds(base: String): (Long, Long) = {
    val Array(maxk, maxc) = new String(
      Files.readAllBytes(Paths.get(base, "_meta_max")),
      StandardCharsets.UTF_8).split(",").map(_.toLong)
    // key buckets 0-1: 4k <= 2(maxk+1)-1; cust bucket 1: 2c >= maxc+1.
    ((2 * (maxk + 1) - 1) / 4, (maxc + 1 + 1) / 2)
  }

  private def lakeZonemapMulti(spark: SparkSession,
                               sfDir: String): DataFrame = {
    import spark.implicits._
    val base = multiZoneDir(spark, sfDir)
    val (hi, clo) = multiZoneBounds(base)
    val st = fullState(base, 8)
    val planned = multiZonePlan(st,
      Map("o_orderkey" -> (Long.MinValue, hi),
        "o_custkey" -> (clo, Long.MaxValue)))
    readState(spark, base, planned, st.dvs, schemaFiles = st.live)
      .filter($"o_orderkey" <= hi && $"o_custkey" >= clo)
      .agg(count(lit(1)).as("n_rows"),
        sum($"o_orderkey").cast("long").as("key_sum"))
      .select(lit(st.live.size.toLong).as("n_files_live"),
        lit(planned.size.toLong).as("n_files_planned"),
        $"n_rows", $"key_sum")
      .orderBy($"n_files_live".asc_nulls_first)
  }

  private val lakeZonemapMultiOracle = """
    WITH mk AS (SELECT max(o_orderkey) + 1 AS m, max(o_custkey) + 1 AS mc
                FROM orders)
    SELECT CAST(8 AS BIGINT) AS n_files_live,
      CAST(2 AS BIGINT) AS n_files_planned,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders, mk
    WHERE o_orderkey <= (2 * m - 1) // 4 AND o_custkey >= (mc + 1) // 2
    ORDER BY n_files_live ASC NULLS FIRST"""

  /** Spec hooks for the multi-zone table: the unpruned filtered read, and
    * the planned set under the graded conjunctive predicate. */
  private[graft] def multiZoneUnpruned(spark: SparkSession,
                                       sfDir: String): DataFrame = {
    import spark.implicits._
    val base = multiZoneDir(spark, sfDir)
    val (hi, clo) = multiZoneBounds(base)
    val st = fullState(base, 8)
    readState(spark, base, st.live, st.dvs, schemaFiles = st.everAdded)
      .filter($"o_orderkey" <= hi && $"o_custkey" >= clo)
  }

  private[graft] def multiZonePlannedFiles(spark: SparkSession,
                                           sfDir: String): (Seq[String], Int) = {
    val base = multiZoneDir(spark, sfDir)
    val (hi, clo) = multiZoneBounds(base)
    val st = fullState(base, 8)
    (multiZonePlan(st, Map("o_orderkey" -> (Long.MinValue, hi),
      "o_custkey" -> (clo, Long.MaxValue))), st.live.size)
  }

  /** BLOOM-FILTER FILE SKIPPING (round 18; r17 VERDICT task 1) — the
    * missing quadrant of the data-skipping matrix: zonemaps (single and
    * multi-column), stats-only reads and clustering all prune by RANGE,
    * so a point lookup on a key the table is NOT clustered by reads
    * every live file — exactly the MERGE/upsert probe workload the MoR
    * tables serve. Each add action now may carry a per-file split-block
    * BLOOM bitmap over the key column ([[BloomBits]] bits, k =
    * [[BloomHashes]].size affine hashes over the prime [[BloomP]] — the
    * q_feat_hash_bucket integer-LCG discipline, engine-identical
    * arithmetic), hex-encoded in the same strict grammar; the read path
    * drops a file when EVERY probe key has at least one unset bit
    * (negative membership is definitive; positives may be false — the
    * planner tests the PARSED BITMAP, so false positives surface
    * naturally and the oracle reproduces them exactly via the
    * all-k-positions-occupied EXISTS formulation, never by parsing hex).
    * The scratch: 8 RESIDUE slices of the urgent orders (key mod 8), so
    * every file's key RANGE spans the whole table — the adds carry their
    * true min/max to PROVE zone pruning is useless for this layout
    * (spec-asserted) — and the graded read probes 3 MID-DOMAIN urgent
    * keys (the smallest at or above half the slice max, inside every
    * file's zone), planning only files whose blooms answer "maybe".
    *
    * Scale: the bitmap is built by ONE word-level bit_or aggregation
    * (≤ files × [[BloomWords]] bounded result rows — never a per-key
    * collect), costs [[BloomWords]]·8 bytes per file in the log
    * (4 KiB — the split-block budget real formats spend per row group),
    * and planning is O(live files × k × probes) catalog arithmetic with
    * no scan. */
  private val BloomBits = 32768L
  private val BloomWords = 512 // BloomBits / 64

  /** The all-zero bitmap an EMPTY batch/file commits (every probe answers
    * "definitely absent"). Exposed so sink-side writers (the streaming
    * bloom sink) share the one length-checked literal instead of
    * duplicating `BloomWords * 16` — a bitmap-size change then stays a
    * one-constant edit (round-19 ADVICE fix). */
  private[graft] def emptyBloomHex: String = "0" * (BloomWords * 16)
  private val BloomP = 2147483647L // 2^31 - 1, prime
  private val BloomHashes = Seq((1103515245L, 12345L), (69069L, 362437L))
  private val BloomBlock = BloomBits / BloomHashes.size // bits per hash
  private val BloomFiles = 8
  private val BloomProbesN = 3

  /** SPLIT-BLOCK layout — each hash owns a DISJOINT block of the bitmap
    * (hash j sets bit j·[[BloomBlock]] + (affine mod block)). This is
    * not just the Parquet-bloom shape: it makes "bit h_j(p) is set" mean
    * EXACTLY "some stored key collides with p under hash j", so the
    * oracle's per-hash EXISTS formulation IS the bitmap semantics. A
    * single shared array (the textbook layout) breaks that equivalence —
    * a bit set by hash 1 can satisfy a hash-0 probe, a cross-hash false
    * positive no per-hash relational statement reproduces (measured:
    * sf0.1 planned a 4th base file the oracle refused). */
  private def bloomHashSql(col: String, a: Long, c: Long): String =
    s"((($col % $BloomP) * $a + $c) % $BloomP) % $BloomBlock"

  private def bloomHash(x: Long, a: Long, c: Long): Long =
    (((x % BloomP) * a + c) % BloomP) % BloomBlock

  /** Membership against the hex bitmap (the planner's read path): true
    * iff every hash's block-offset position bit is set. */
  private[graft] def bloomMightContain(hex: String, key: Long): Boolean =
    BloomHashes.zipWithIndex.forall { case ((a, c), j) =>
      val pos = j * BloomBlock + bloomHash(key, a, c)
      val w = (pos / 64L).toInt
      val word =
        java.lang.Long.parseUnsignedLong(hex.substring(w * 16, w * 16 + 16), 16)
      ((word >>> (pos % 64L).toInt) & 1L) == 1L
    }

  /** Build hex bitmaps for every group of `df` keyed by `fileCol` — ONE
    * word-level bit_or aggregation, ≤ groups × [[BloomWords]] bounded
    * result rows on the driver (never keys). */
  private[graft] def bloomHexes(df: DataFrame,
                                fileCol: org.apache.spark.sql.Column,
                                keyCol: String): Map[Long, String] = {
    val hcols = BloomHashes.zipWithIndex.map { case ((a, c), j) =>
      expr(s"${j * BloomBlock} + ${bloomHashSql(keyCol, a, c)}") }
    val words = df
      .select(fileCol.as("f"), explode(array(hcols: _*)).as("pos"))
      .select(col("f"), expr("pos div 64").as("w"),
        expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))").as("b"))
      .groupBy(col("f"), col("w")).agg(expr("bit_or(b)").as("bits"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    words.keys.map(_._1).toSeq.distinct.map { f =>
      f -> (0 until BloomWords).map(w =>
        f"${words.getOrElse((f, w.toLong), 0L)}%016x").mkString
    }.toMap
  }

  private def bloomTableDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_bloom") { base =>
      import spark.implicits._
      val slice = Catalog.load(spark, sfDir, "orders")
        .filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
          $"o_totalprice", $"o_orderdate", $"o_orderpriority")
      val fcol = pmod($"o_orderkey", lit(BloomFiles.toLong))
      val hexes = bloomHexes(slice, fcol, "o_orderkey")
      val zonesB = slice.groupBy(fcol.as("f"))
        .agg(min($"o_orderkey").as("mn"), max($"o_orderkey").as("mx"),
          count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap
      // Probes sit MID-DOMAIN (the 3 smallest urgent keys at or above
      // half the slice max): every residue file's [min, max] zone
      // contains them — probes at the domain edge would let range
      // pruning win by accident and void the operator's whole point
      // (measured: the 3 global-smallest keys zone-pruned 5 of 8).
      val maxk = slice.agg(max($"o_orderkey")).first().getLong(0)
      val probes = slice.filter($"o_orderkey" >= maxk / 2)
        .orderBy($"o_orderkey".asc).limit(BloomProbesN)
        .select($"o_orderkey").collect().map(_.getLong(0))
      commit(logPath(base), 0, (0 until BloomFiles).map { i =>
        slice.filter(fcol === i.toLong).write.parquet(s"$base/file_$i")
        val (mn, mx, n) = zonesB.getOrElse(i.toLong,
          throw new IllegalArgumentException(
            s"graft lake: empty bloom residue slice $i — the scratch " +
              "builder assumes every residue class is populated"))
        zonedAdd(i + 1, s"file_$i", (mn, mx))
          .copy(rows = Some(n), bloom = Some(hexes(i.toLong)))
      })
      Files.write(Paths.get(base, "_meta_probes"),
        probes.mkString(",").getBytes(StandardCharsets.UTF_8))
    }

  private def bloomProbes(base: String): Seq[Long] =
    new String(Files.readAllBytes(Paths.get(base, "_meta_probes")),
      StandardCharsets.UTF_8).split(",").toSeq.map(_.toLong)

  /** Spec hooks: the planned set under the probe lookup (a file lacking
    * a bloom can never be pruned — plan it, the zonemap convention),
    * plus the live count and the probe keys. */
  private[graft] def bloomPlannedFiles(spark: SparkSession,
      sfDir: String): (Seq[String], Int, Seq[Long]) = {
    val base = bloomTableDir(spark, sfDir)
    val st = fullState(base, BloomFiles)
    val probes = bloomProbes(base)
    val planned = st.live.filter { p =>
      st.blooms.get(p).forall(hex =>
        probes.exists(k => bloomMightContain(hex, k)))
    }
    (planned, st.live.size, probes)
  }

  /** Spec hook: the UNPRUNED probe read (all live files, same filter). */
  private[graft] def bloomUnpruned(spark: SparkSession,
                                   sfDir: String): DataFrame = {
    import spark.implicits._
    val base = bloomTableDir(spark, sfDir)
    val st = fullState(base, BloomFiles)
    readState(spark, base, st.live, st.dvs, schemaFiles = st.everAdded)
      .filter($"o_orderkey".isin(bloomProbes(base): _*))
  }

  /** Spec hook: the per-file single-key zones of the bloom table — every
    * residue file's range spans ~the whole key domain, so range pruning
    * cannot drop a file for any in-domain point lookup. */
  private[graft] def bloomZones(spark: SparkSession,
      sfDir: String): Map[String, (Long, Long)] =
    fullState(bloomTableDir(spark, sfDir), BloomFiles).zones

  private def lakeBloomSkip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = bloomTableDir(spark, sfDir)
    val st = fullState(base, BloomFiles)
    val (planned, nLive, probes) = bloomPlannedFiles(spark, sfDir)
    readState(spark, base, planned, st.dvs, schemaFiles = st.everAdded)
      .filter($"o_orderkey".isin(probes: _*))
      .agg(count(lit(1)).as("n_rows"),
        sum($"o_orderkey").cast("long").as("key_sum"))
      .select(lit(nLive.toLong).as("n_files_live"),
        lit(planned.size.toLong).as("n_files_planned"),
        $"n_rows", $"key_sum")
      .orderBy($"n_files_live".asc_nulls_first)
  }

  /** The oracle restates bloom membership EXACTLY: file f is planned iff
    * some probe has, for EVERY hash j, a slice row in f occupying the
    * probe's position j — which is precisely "all k bits set", false
    * positives included (a row pair covering the probe's two positions
    * plans the file even when the probe key is absent). */
  private val lakeBloomSkipOracle: String = {
    val handP = BloomHashes.map { case (a, c) =>
      (bloomHashSql("s.o_orderkey", a, c), bloomHashSql("pr.p", a, c))
    }
    val exists = handP.map { case (hs, hp) =>
      s"""EXISTS (SELECT 1 FROM slice s
           WHERE s.o_orderkey % $BloomFiles = f.f AND $hs = $hp)"""
    }.mkString("\n        AND ")
    s"""
    WITH slice AS (
      SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'),
    probes AS (
      SELECT o_orderkey AS p FROM slice
      WHERE o_orderkey >= (SELECT max(o_orderkey) FROM slice) // 2
      ORDER BY o_orderkey LIMIT $BloomProbesN),
    files AS (SELECT CAST(range AS BIGINT) AS f FROM range($BloomFiles)),
    planned AS (
      SELECT f.f FROM files f WHERE EXISTS (
        SELECT 1 FROM probes pr
        WHERE $exists))
    SELECT CAST($BloomFiles AS BIGINT) AS n_files_live,
      (SELECT CAST(count(*) AS BIGINT) FROM planned) AS n_files_planned,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM slice
    WHERE o_orderkey % $BloomFiles IN (SELECT f FROM planned)
      AND o_orderkey IN (SELECT p FROM probes)
    ORDER BY n_files_live ASC NULLS FIRST"""
  }

  /** BLOOM-SKIPPED MERGE-ON-READ POINT LOOKUP (round 18) — the exact
    * workload the r17 VERDICT motivated bloom skipping with: "point
    * lookups on non-clustered keys against the MoR tables currently read
    * every live file" — AND every outstanding layer. Here blooms ride
    * BOTH sides of the MoR read: every base add carries one, and every
    * `delta`/`edelete` layer commit carries one too (delete-file
    * membership stats, exactly what Iceberg manifests keep), so a probe
    * read (a) plans only base files whose bloom answers "maybe" and
    * (b) FOLDS ONLY THE LAYERS whose bloom might contain a probe — sound
    * because a layer containing none of the probed keys cannot affect
    * them (it supersedes/deletes only its own keys), so skipping it is
    * semantics-preserving; spec-pinned probe ≡ unskipped-full-MoR-read.
    * The scratch: the urgent slice as 8 key-residue base files, then an
    * upsert layer (keys ≡ 17 mod 20, cents÷3), an equality-delete layer
    * (keys ≡ 14 mod 20) and a second upsert layer (keys ≡ 7 mod 20,
    * cents÷5); the 3 mid-domain probes hit an updated key, a deleted key
    * and an untouched key — layer 3's class is never probed, so the
    * graded n_layers_applied shows real layer skipping (false positives
    * replay exactly through the oracle's EXISTS formulation, as in
    * q_lake_bloom_skip). This is the read-amplification fix for
    * streaming-upsert tables between compactions: probe cost scales with
    * the layers that MIGHT hold the key, not with every layer landed
    * since the last compaction. */

  private def probeClasses = Seq(17L, 14L, 3L) // probed residues mod 20
  private val ProbeMod = 20L

  private def probeTableDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_probe") { base =>
      import spark.implicits._
      val slice = ordersCents(Catalog.load(spark, sfDir, "orders")
        .filter($"o_orderpriority" === "1-URGENT"))
        .transform(Rounds.cut)
      val fcol = pmod($"o_orderkey", lit(BloomFiles.toLong))
      val hexes = bloomHexes(slice, fcol, "o_orderkey")
      val baseAdds = (0 until BloomFiles).map { i =>
        slice.filter(fcol === i.toLong).write.parquet(s"$base/file_$i")
        LakeAction(i + 1, "add", s"file_$i", bloom = Some(hexes(i.toLong)))
      }
      def layer(v: Int, op: String, name: String, df: DataFrame) = {
        df.write.parquet(s"$base/$name")
        LakeAction(v, op, name,
          bloom = Some(bloomHexes(df, lit(0L), "o_orderkey")(0L)))
      }
      val k = $"o_orderkey"
      commit(logPath(base), 0, baseAdds ++ Seq(
        layer(9, "delta", "delta1", slice.filter(pmod(k, lit(ProbeMod)) === 17L)
          .select(k, $"o_orderstatus", expr("cents div 3").as("cents"))),
        layer(10, "edelete", "edel1", slice.filter(pmod(k, lit(ProbeMod)) === 14L)
          .select(k)),
        layer(11, "delta", "delta2", slice.filter(pmod(k, lit(ProbeMod)) === 7L)
          .select(k, $"o_orderstatus", expr("cents div 5").as("cents")))))
      val maxk = slice.agg(max(k)).first().getLong(0)
      val probes = probeClasses.map { c =>
        val r = slice.filter(k >= maxk / 2 && pmod(k, lit(ProbeMod)) === c)
          .agg(min(k)).first()
        require(!r.isNullAt(0), s"graft lake: no mid-domain urgent key " +
          s"in residue class $c mod $ProbeMod — fixture too small for " +
          "the probe contract")
        r.getLong(0)
      }
      Files.write(Paths.get(base, "_meta_probes"),
        probes.mkString(",").getBytes(StandardCharsets.UTF_8))
    }

  /** Spec hooks: planned base files, applied layers (in commit order),
    * live/layer counts, and the probe keys. */
  private[graft] def morProbePlan(spark: SparkSession, sfDir: String)
      : (Seq[String], Seq[(String, String)], Int, Int, Seq[Long]) = {
    val base = probeTableDir(spark, sfDir)
    val st = fullState(base, Int.MaxValue)
    val probes = bloomProbes(base)
    def mightAny(path: String): Boolean =
      st.blooms.get(path).forall(hex =>
        probes.exists(kk => bloomMightContain(hex, kk)))
    (st.live.filter(mightAny), st.deltas.filter(d => mightAny(d._2)),
      st.live.size, st.deltas.size, probes)
  }

  /** Spec hook: the UNSKIPPED probe — the full MoR snapshot read (every
    * base file, every layer) filtered to the probe keys. */
  private[graft] def morProbeUnskipped(spark: SparkSession,
                                       sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = probeTableDir(spark, sfDir)
    morSnapshot(spark, base, Int.MaxValue)
      .filter(col("o_orderkey").isin(bloomProbes(base): _*))
  }

  /** The shared bloom-skipped probe-read kernel: plan might-contain base
    * files, fold might-contain layers (each probe-filtered), return the
    * merged probe frame plus (live, planned, layers, applied) counts.
    * Used by [[lakeMorProbe]] and the streaming bloom sink's graded
    * read (streaming/Streams q_stream_lake_bloom). */
  private[graft] def bloomProbeRead(spark: SparkSession, base: String,
      probes: Seq[Long]): (DataFrame, Int, Int, Int, Int) = {
    import spark.implicits._
    val st = fullState(base, Int.MaxValue)
    def mightAny(path: String): Boolean =
      st.blooms.get(path).forall(hex =>
        probes.exists(kk => bloomMightContain(hex, kk)))
    val plannedBase = st.live.filter(mightAny)
    val applied = st.deltas.filter(d => mightAny(d._2))
    val b = readState(spark, base, plannedBase, st.dvs,
      schemaFiles = st.everAdded)
      .filter($"o_orderkey".isin(probes: _*))
    val merged = applied.foldLeft(b) { case (acc, (kind, d)) =>
      // Layers fold probe-filtered: the mask/union only needs the layer's
      // probed keys (the rest cannot affect the probe result).
      val layer = spark.read.parquet(s"$base/$d")
        .filter($"o_orderkey".isin(probes: _*))
      val masked = acc.join(layer.select($"o_orderkey"),
        Seq("o_orderkey"), "left_anti")
      kind match {
        case "delta" => masked.unionByName(layer, allowMissingColumns = true)
        case _ => masked
      }
    }
    (merged, st.live.size, plannedBase.size, st.deltas.size, applied.size)
  }

  private def lakeMorProbe(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = probeTableDir(spark, sfDir)
    val probes = bloomProbes(base)
    val (merged, nLive, nPlanned, nLayers, nApplied) =
      bloomProbeRead(spark, base, probes)
    merged
      .agg(count(lit(1)).as("n_rows"),
        sum($"cents").cast("long").as("cents_sum"))
      .select(lit(nLive.toLong).as("n_files_live"),
        lit(nPlanned.toLong).as("n_files_planned"),
        lit(nLayers.toLong).as("n_layers"),
        lit(nApplied.toLong).as("n_layers_applied"),
        $"n_rows", $"cents_sum")
      .orderBy($"n_files_live".asc_nulls_first)
  }

  /** Oracle-text helper: the per-hash EXISTS conjunction stating "the
    * bloom over `rowsSql`'s k column might contain probe pr.p" — exactly
    * the split-block bitmap semantics (see the layout note above).
    * Shared by the mor-probe oracle and the streaming bloom sink's. */
  private[graft] def bloomMightSqlExists(rowsSql: String): String =
    BloomHashes.map { case (a, c) =>
      val hs = bloomHashSql("s.k", a, c)
      val hp = bloomHashSql("pr.p", a, c)
      s"""EXISTS (SELECT 1 FROM ($rowsSql) s WHERE $hs = $hp)"""
    }.mkString(" AND ")

  private val lakeMorProbeOracle: String = {
    def might(rowsSql: String): String = bloomMightSqlExists(rowsSql)
    val basePlanned =
      might(s"SELECT k FROM slice WHERE k % $BloomFiles = f.f")
    val layerFlags = Seq(
      ("a1", s"SELECT k FROM slice WHERE k % $ProbeMod = 17"),
      ("a2", s"SELECT k FROM slice WHERE k % $ProbeMod = 14"),
      ("a3", s"SELECT k FROM slice WHERE k % $ProbeMod = 7")
    ).map { case (nm, sql) =>
      s"""$nm AS (SELECT CASE WHEN EXISTS (
        SELECT 1 FROM probes pr WHERE ${might(sql)})
        THEN 1 ELSE 0 END AS f)"""
    }.mkString(",\n    ")
    s"""
    WITH slice AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
        CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
      FROM orders WHERE o_orderpriority = '1-URGENT'),
    mx AS (SELECT max(k) AS m FROM slice),
    probes AS (
      SELECT min(k) AS p FROM slice, mx
        WHERE k >= m // 2 AND k % $ProbeMod = 17
      UNION ALL SELECT min(k) FROM slice, mx
        WHERE k >= m // 2 AND k % $ProbeMod = 14
      UNION ALL SELECT min(k) FROM slice, mx
        WHERE k >= m // 2 AND k % $ProbeMod = 3),
    files AS (SELECT CAST(range AS BIGINT) AS f FROM range($BloomFiles)),
    planned AS (
      SELECT f.f FROM files f WHERE EXISTS (
        SELECT 1 FROM probes pr WHERE $basePlanned)),
    $layerFlags,
    l1 AS (SELECT k, st, c // 3 AS c FROM slice WHERE k % $ProbeMod = 17),
    le AS (SELECT k FROM slice WHERE k % $ProbeMod = 14),
    l2 AS (SELECT k, st, c // 5 AS c FROM slice WHERE k % $ProbeMod = 7),
    pb AS (SELECT k, st, c FROM slice WHERE k IN (SELECT p FROM probes)),
    m1 AS (
      SELECT k, st, c FROM pb WHERE k NOT IN (SELECT k FROM l1)
      UNION ALL
      SELECT k, st, c FROM l1 WHERE k IN (SELECT p FROM probes)),
    m2 AS (SELECT k, st, c FROM m1 WHERE k NOT IN (SELECT k FROM le)),
    m3 AS (
      SELECT k, st, c FROM m2 WHERE k NOT IN (SELECT k FROM l2)
      UNION ALL
      SELECT k, st, c FROM l2 WHERE k IN (SELECT p FROM probes))
    SELECT CAST($BloomFiles AS BIGINT) AS n_files_live,
      (SELECT CAST(count(*) AS BIGINT) FROM planned) AS n_files_planned,
      CAST(3 AS BIGINT) AS n_layers,
      (SELECT CAST(a1.f + a2.f + a3.f AS BIGINT) FROM a1, a2, a3)
        AS n_layers_applied,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(c) AS BIGINT) AS cents_sum
    FROM m3
    ORDER BY n_files_live ASC NULLS FIRST"""
  }

  /** COMMIT-TIME CHECK CONSTRAINTS (round 18) — the Delta `ALTER TABLE
    * ADD CONSTRAINT` surface: the table declares a CHECK predicate in
    * `_constraint` metadata at creation, and every subsequent commit
    * validates its batch BEFORE writing — a batch with ANY violating row
    * is refused WHOLE (constraints are transactional: partial acceptance
    * would silently drop rows) with a `conflict` audit line (the OCC
    * refusal precedent) and NO data file landed. The scratch: base =
    * keys ≡ 0..4 (mod 10); accepted appends ≡ {5,6} and ≡ 7; a refused
    * append ≡ {7,8} (every key ≡ 8 violates `o_orderkey % 10 < 8`). The
    * graded row carries the accept/refuse/violation accounting plus the
    * final table aggregate — which equals exactly the constraint-
    * satisfying key set, so an enforcement bug (partial acceptance,
    * missed violation, lost valid batch) breaks the hash.
    *
    * Scale: validation is ONE map-side-combined count over the batch
    * with the NEGATED predicate pushed into the scan; refusal is O(1)
    * metadata. The constraint ships to executors as an expression —
    * never a driver-side row loop. */
  private val ConstraintSql = "o_orderkey % 10 < 8"

  private[graft] def constrDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_constr") { base =>
      import spark.implicits._
      Files.write(Paths.get(base, "_constraint"),
        ConstraintSql.getBytes(StandardCharsets.UTF_8))
      val orders = Catalog.load(spark, sfDir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      // The WRITER: validate-then-commit; refusal audits and skips.
      def validated(v: Int, name: String, batch: DataFrame): Unit = {
        val pred = new String(Files.readAllBytes(
          Paths.get(base, "_constraint")), StandardCharsets.UTF_8)
        val bad = batch.filter(expr(s"NOT ($pred)")).count()
        if (bad == 0L) batch.write.parquet(s"$base/$name")
        commit(logPath(base), v - 1,
          Seq(LakeAction(v, if (bad > 0L) "conflict" else "add", name)))
      }
      validated(1, "fileBase", orders.filter(orderSlot < 5))
      validated(2, "fileB1", orders.filter(orderSlot === 5 || orderSlot === 6))
      validated(3, "fileB2", orders.filter(orderSlot === 7 || orderSlot === 8)) // refused
      validated(4, "fileB3", orders.filter(orderSlot === 7))
    }

  private def lakeConstraints(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = constrDir(spark, sfDir)
    val st = fullState(base, Int.MaxValue)
    val acts = tableLog(base)
    val nOk = acts.count(_.op == "add")
    val nRefused = acts.count(_.op == "conflict")
    // Violation accounting for the graded row: the refused batch's
    // violating rows, recounted through the same predicate.
    val pred = new String(Files.readAllBytes(
      Paths.get(base, "_constraint")), StandardCharsets.UTF_8)
    readState(spark, base, st.live, st.dvs, schemaFiles = st.everAdded)
      .agg(count(lit(1)).as("n_rows"),
        sum($"o_orderkey").cast("long").as("key_sum"),
        sum(when(expr(s"NOT ($pred)"), 1L).otherwise(0L))
          .as("n_violations_live"))
      .select(lit(nOk.toLong).as("n_commits_ok"),
        lit(nRefused.toLong).as("n_commits_refused"),
        $"n_rows", $"key_sum", $"n_violations_live")
      .orderBy($"n_commits_ok".asc_nulls_first)
  }

  private val lakeConstraintsOracle = """
    SELECT CAST(3 AS BIGINT) AS n_commits_ok,
      CAST(1 AS BIGINT) AS n_commits_refused,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      CAST(0 AS BIGINT) AS n_violations_live
    FROM orders WHERE o_orderkey % 10 < 8
    ORDER BY n_commits_ok ASC NULLS FIRST"""

  // ---- WRITE-AUDIT-PUBLISH via branch refs (round 19) ----

  private def branchLog(base: String, branch: String) =
    Paths.get(base, s"_log_$branch.json")

  /** Create branch `branch` at the current main head: the branch log
    * starts as a copy of main's (refs share their history prefix — the
    * clone-log pattern applied to a MOVABLE ref; tags stay the immutable
    * kind). */
  private[graft] def branchCreate(base: String, branch: String): Unit = {
    require(!Files.exists(branchLog(base, branch)),
      s"graft lake: branch '$branch' already exists")
    commit(branchLog(base, branch), 0, tableLog(base))
  }

  /** Stage an already-written data file as a commit ON THE BRANCH: main's
    * log is untouched — that isolation is the whole point of WAP (readers
    * of main never see unaudited data). The version is table-wide (the
    * Iceberg sequence number): one past the newer of the two heads, so a
    * commit staged after a refused publish (whose `conflict` line took
    * main's next version) still lands past main's head. */
  private[graft] def stageOnBranch(base: String, branch: String,
                                   path: String): Int = {
    val branchHead = headOf(readActions(branchLog(base, branch)))
    val v = 1 + math.max(headOf(tableLog(base)), branchHead)
    commit(branchLog(base, branch), branchHead, Seq(LakeAction(v, "add", path)))
    v
  }

  /** PUBLISH = audit-then-fast-forward: validate every staged add
    * (branch commits past the main head) against the table's
    * `_constraint` CHECK — scanning ONLY the staged files, the
    * lakeConstraints economics — then either fast-forward main by
    * appending the staged lines (publish) or DISCARD the staged
    * snapshot from the branch and record a `conflict` audit line on
    * main (the WAP refusal: a failed audit never reaches main, and the
    * branch rolls back to its last published state — transactional on
    * both refs). Returns (published staged commits, refused). */
  private[graft] def publishBranch(spark: SparkSession, base: String,
                                   branch: String): (Int, Int) = {
    val mainHead = headOf(tableLog(base))
    val branchActs = readActions(branchLog(base, branch))
    val staged = branchActs.filter(_.v > mainHead)
    require(staged.nonEmpty,
      s"graft lake: branch '$branch' has nothing staged past main v$mainHead")
    val pred = new String(Files.readAllBytes(
      Paths.get(base, "_constraint")), StandardCharsets.UTF_8)
    val bad = staged.filter(_.op == "add").map(a =>
      spark.read.parquet(s"$base/${a.path}")
        .filter(expr(s"NOT ($pred)")).count()).sum
    if (bad > 0L) {
      // Roll the branch back: commit the kept prefix to a sibling log and
      // rename it over the branch log, so a crash at any point leaves one
      // whole branch log, the old or the rolled-back one.
      val log = branchLog(base, branch)
      val kept = log.resolveSibling(s"${log.getFileName}.rollback")
      Files.deleteIfExists(kept)
      commit(kept, 0, branchActs.filter(_.v <= mainHead))
      Files.move(kept, log, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      commit(logPath(base), mainHead,
        Seq(LakeAction(mainHead + 1, "conflict", staged.head.path)))
      (0, 1)
    } else {
      commit(logPath(base), mainHead, staged)
      (staged.map(_.v).distinct.size, 0)
    }
  }

  // ---- COLUMN MAPPING: rename-without-rewrite (round 19) ----

  /** One committed rename: at version `v`, logical column `from` became
    * `to`. Kept in `_renames.json` sidecar metadata (the Delta
    * column-mapping / Iceberg field-id table metadata) — NEVER in the
    * data files, which is the whole point. */
  private final case class Rename(v: Int, from: String, to: String)
  private val renameRe =
    """^\{"v":(\d+),"from":"(\w+)","to":"(\w+)"\}$""".r

  private def readRenames(base: String): Seq[Rename] = {
    val p = Paths.get(base, "_renames.json")
    if (!Files.exists(p)) Nil
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split("\n").toSeq.map {
        case renameRe(v, f, t) => Rename(v.toInt, f, t)
        case l => throw new IllegalArgumentException(
          s"graft lake: malformed rename record: $l")
      }
  }

  /** Column-mapped snapshot read: each live file scans under the
    * PHYSICAL names it was written with, then the renames committed
    * AFTER its add version compose onto it (in commit order), so every
    * file generation surfaces the logical schema current at `v` and the
    * per-file frames union by (logical) name. Zero data rewrite — the
    * rename history is pure metadata, exactly the Delta column-mapping
    * read path. */
  private[graft] def colmapRead(spark: SparkSession, base: String,
                                v: Int): DataFrame = {
    val acts = tableLog(base)
    val st = replayActions(emptyState, acts.filter(_.v <= v))
    val renames = readRenames(base).filter(_.v <= v).sortBy(_.v)
    st.live.map { f =>
      val addV = acts.filter(a => a.op == "add" && a.path == f)
        .map(_.v).min
      renames.filter(_.v > addV)
        .foldLeft(spark.read.parquet(s"$base/$f")) { (d, r) =>
          d.withColumnRenamed(r.from, r.to)
        }
    }.reduce((a, b) => a.unionByName(b))
  }

  private[graft] def colmapDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_cmap") { base =>
      import spark.implicits._
      val orders = ordersCents(Catalog.load(spark, sfDir, "orders"))
      // v1: written under the ORIGINAL logical name.
      orders.filter(orderSlot < 4).write.parquet(s"$base/fileA")
      // v3: written under the post-rename name — a second physical
      // generation of the same logical column.
      orders.filter(orderSlot >= 4 && orderSlot < 8)
        .select($"o_orderkey", $"o_orderstatus".as("status"), $"cents")
        .write.parquet(s"$base/fileC")
      commit(logPath(base), 0,
        Seq(LakeAction(1, "add", "fileA"), LakeAction(3, "add", "fileC")))
      // v2 and v4: two chained metadata-only renames — fileA composes
      // both, fileC only the second.
      Files.write(Paths.get(base, "_renames.json"), Seq(
        """{"v":2,"from":"o_orderstatus","to":"status"}""",
        """{"v":4,"from":"status","to":"order_state"}""")
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
    }

  /** COLUMN MAPPING — RENAME WITHOUT REWRITE (round 19) — the Delta
    * column-mapping / Iceberg field-id surface: a column rename is ONE
    * metadata commit; files written before it keep their physical
    * column names forever and reads reconcile every file generation to
    * the current logical schema by composing the renames committed
    * after each file's add version. Scratch: fileA (written as
    * `o_orderstatus`), rename → `status`, fileC (written as `status`),
    * rename → `order_state` — so the head read composes TWO renames on
    * fileA and one on fileC, and a single logical `order_state` column
    * spans both physical generations. Graded per order_state: row count
    * + cents sum over the reconciled head (≡ orders k<8 by
    * construction); the spec pins the zero-rewrite claim (fileA's
    * physical schema still says `o_orderstatus`), epoch-correct
    * time-travel (a v3 read surfaces `status`, not `order_state`), and
    * refusal-free by-name union across generations.
    *
    * Scale: renames are O(1) metadata; the read adds zero work (a
    * rename is an analyzer-level aliasing, the scan is unchanged — no
    * shuffle, no rewrite of historical bytes, the reason every
    * lakehouse ships this instead of ALTER TABLE … REWRITE). */
  private def lakeColumnMap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = colmapDir(spark, sfDir)
    colmapRead(spark, base, 4)
      .groupBy($"order_state")
      .agg(count(lit(1)).as("n_rows"),
        sum($"cents").cast("long").as("cents_sum"))
      .orderBy($"order_state".asc_nulls_first)
  }

  private val lakeColumnMapOracle = """
    SELECT o_orderstatus AS order_state, count(*) AS n_rows,
      CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
        AS BIGINT) AS cents_sum
    FROM orders WHERE o_orderkey % 10 < 8
    GROUP BY 1
    ORDER BY order_state ASC NULLS FIRST"""

  private def wapDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_wap") { base =>
      import spark.implicits._
      Files.write(Paths.get(base, "_constraint"),
        ConstraintSql.getBytes(StandardCharsets.UTF_8))
      val orders = Catalog.load(spark, sfDir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      orders.filter(orderSlot < 3).write.parquet(s"$base/fileA")
      orders.filter(orderSlot >= 3 && orderSlot < 6).write.parquet(s"$base/fileB")
      orders.filter(orderSlot === 6 || orderSlot === 7).write.parquet(s"$base/fileG")
      orders.filter(orderSlot === 8 || orderSlot === 9).write.parquet(s"$base/fileH")
      commit(logPath(base), 0,
        Seq(LakeAction(1, "add", "fileA"), LakeAction(2, "add", "fileB")))
      branchCreate(base, "audit")
      stageOnBranch(base, "audit", "fileG")
      val r1 = publishBranch(spark, base, "audit")
      stageOnBranch(base, "audit", "fileH")
      val r2 = publishBranch(spark, base, "audit")
      require(r1 == ((1, 0)) && r2 == ((0, 1)),
        s"graft lake: WAP scratch invariant broke ($r1/$r2)")
    }

  /** WRITE-AUDIT-PUBLISH via BRANCH REFS (round 19) — the movable-ref
    * surface beside the immutable tags (q_lake_tag_read) and the Iceberg
    * WAP workflow built on it: writers stage commits on an `audit`
    * branch (main's readers NEVER see them — ref isolation), an audit
    * validates the staged files against the table's `_constraint` CHECK
    * (scanning only the staged files), and a passing batch PUBLISHES by
    * fast-forwarding main (pure log append — zero data movement), while
    * a failing batch is DISCARDED from the branch and leaves a
    * `conflict` audit line on main (transactional on both refs: no
    * partial publish, no staged residue). Scratch: fileG (keys ≡ {6,7})
    * stages and publishes; fileH (≡ {8,9}, every row violating
    * `o_orderkey % 10 < 8`) stages and is refused. Graded: main at its
    * pre-publish v2 and post-publish head, the branch head (≡ main head
    * after the rollback), and the audit-trail row (published/refused
    * counts + stray-fileH references across BOTH logs, pinned 0) — a
    * leaked staged file, a lost publish, or a partial rollback all
    * break the hash.
    *
    * Scale: branching is O(log) metadata (refs share their history
    * prefix); the audit scans only staged bytes with the negated CHECK
    * pushed to the scan; publish is a log append. */
  private def lakeWap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = wapDir(spark, sfDir)
    val mainActs = tableLog(base)
    val brActs = readActions(branchLog(base, "audit"))
    def liveOf(acts: Seq[LakeAction], v: Int): Seq[String] =
      replayActions(emptyState, acts.filter(_.v <= v)).live
    def refRow(ref: String, v: Int, acts: Seq[LakeAction]): DataFrame = {
      val files = liveOf(acts, v)
      spark.read.parquet(files.map(f => s"$base/$f"): _*)
        .agg(count(lit(1)).as("n_rows"),
          sum($"o_orderkey").cast("long").as("key_sum"))
        .select(lit(ref).as("ref"), lit(v.toLong).as("version"),
          lit(files.size.toLong).as("n_files"), $"n_rows", $"key_sum")
    }
    val stray = (mainActs ++ brActs)
      .count(a => a.op == "add" && a.path == "fileH").toLong
    val published = mainActs.count(a => a.op == "add" && a.v > 2).toLong
    val refused = mainActs.count(_.op == "conflict").toLong
    val audit = spark.range(1).select(lit("audit_trail").as("ref"),
      lit(0L).as("version"), lit(stray).as("n_files"),
      lit(published).as("n_rows"), lit(refused).as("key_sum"))
    Seq(refRow("main", 2, mainActs),
      refRow("main", headOf(mainActs), mainActs),
      refRow("audit", headOf(brActs), brActs), audit)
      .reduce(_.unionByName(_))
      .orderBy($"ref".asc_nulls_first, $"version".asc_nulls_first)
  }

  private val lakeWapOracle = """
    WITH v2 AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      FROM orders WHERE o_orderkey % 10 < 6),
    v3 AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      FROM orders WHERE o_orderkey % 10 < 8)
    SELECT 'audit' AS ref, CAST(3 AS BIGINT) AS version,
      CAST(3 AS BIGINT) AS n_files, n_rows, key_sum FROM v3
    UNION ALL
    SELECT 'audit_trail', 0, 0, 1, 1
    UNION ALL
    SELECT 'main', 2, 2, n_rows, key_sum FROM v2
    UNION ALL
    SELECT 'main', 4, 3, n_rows, key_sum FROM v3
    ORDER BY ref ASC NULLS FIRST, version ASC NULLS FIRST"""

  /** POSITIONAL DELETION VECTORS (round 16; r15 VERDICT task 7) — the DV
    * dialect that works with DUPLICATE KEYS in a data file, which the
    * round-14 key-equi contract forbids: positions are STABLE because
    * they are MATERIALIZED INTO the data file at write time as `_pos`
    * (a recomputed monotonically_increasing_id would renumber with
    * partitioning; the written column cannot), and the DV file lists
    * `_pos` values, masked by an anti-join on position. The scratch
    * writes an orders slice DUPLICATED (every key exactly twice, `_pos`
    * = 2·key + copy), then one positional DV deleting the even-position
    * copy of keys ≡ 0 (mod 3). The graded read at v1 (unmasked) and v2
    * (masked) emits rows, DISTINCT keys and the key sum per version —
    * n_keys is the dialect proof: positional masking keeps every key
    * present (one copy survives), where a key-equi mask would have
    * deleted both copies and changed the distinct count. The oracle
    * recomputes all six numbers from orders.
    * Scale: same merge-on-read economics as key DVs — O(file ∪ dv) per
    * masked file, |dv| cost per delete until compaction folds it in. */

  private[graft] def posDvDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_pdv") { base =>
      import spark.implicits._
      val slice = Catalog.load(spark, sfDir, "orders")
        .filter($"o_orderkey" % 100 < 7)
        .select($"o_orderkey", $"o_orderstatus")
      val posed = slice.withColumn("_pos", $"o_orderkey" * 2)
        .unionAll(slice.withColumn("_pos", $"o_orderkey" * 2 + 1))
      posed.write.parquet(s"$base/file_dup")
      // The DV is built from the written file (the target-file-only
      // contract q_lake_dv pinned), not from the source table.
      spark.read.parquet(s"$base/file_dup")
        .filter($"o_orderkey" % 3 === 0 && $"_pos" % 2 === 0)
        .select($"_pos").write.parquet(s"$base/dv_pos")
      commit(logPath(base), 0, Seq(LakeAction(1, "add", "file_dup"),
        LakeAction(2, "dv", "file_dup", dv = Some("dv_pos"))))
    }

  private def lakeDvPositional(spark: SparkSession,
                               sfDir: String): DataFrame = {
    import spark.implicits._
    val base = posDvDir(spark, sfDir)
    Seq(1, 2).map { v =>
      readSnapshot(spark, base, v)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"o_orderkey").as("n_keys"),
          sum($"o_orderkey").cast("long").as("key_sum"))
        .select(lit(v.toLong).as("version"), $"n_rows", $"n_keys",
          $"key_sum")
    }.reduce(_.unionByName(_)).orderBy($"version".asc_nulls_first)
  }

  private val lakeDvPositionalOracle = """
    WITH s AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 100 < 7)
    SELECT CAST(1 AS BIGINT) AS version,
      CAST(2 * count(*) AS BIGINT) AS n_rows,
      CAST(count(*) AS BIGINT) AS n_keys,
      CAST(2 * sum(o_orderkey) AS BIGINT) AS key_sum
    FROM s
    UNION ALL
    SELECT 2,
      CAST(2 * count(*)
        - count(CASE WHEN o_orderkey % 3 = 0 THEN 1 END) AS BIGINT),
      CAST(count(*) AS BIGINT),
      CAST(2 * sum(o_orderkey)
        - COALESCE(sum(CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey END), 0)
        AS BIGINT)
    FROM s
    ORDER BY version ASC NULLS FIRST"""

  /** Spec hook: an ALL-PRUNED read of the multi-zone table (impossible
    * predicate interval) — must return zero rows under the full snapshot
    * schema, the round-16 ADVICE totality fix. */
  private[graft] def emptyPrunedRead(spark: SparkSession,
                                     sfDir: String): DataFrame = {
    val base = multiZoneDir(spark, sfDir)
    val st = fullState(base, 8)
    val planned = multiZonePlan(st, Map("o_custkey" -> (-2L, -1L)))
    readState(spark, base, planned, st.dvs, schemaFiles = st.live)
  }

  /** Spec hook: snapshot read of the positional-DV table. */
  private[graft] def posDvSnapshot(spark: SparkSession, sfDir: String,
                                   v: Int): DataFrame =
    readSnapshot(spark, posDvDir(spark, sfDir), v)

  /** STREAMING CHANGE-DATA-FEED STAGING (round 15; VERDICT r14 task 3) —
    * the per-commit change files an incremental CDF *stream* reads: for
    * every commit v of the shared time-travel table, the NET row changes
    * (the q_lake_cdc netting generalized to DV-delta deletes and
    * restore commits) land as ONE parquet file `cdf_v<k>.parquet` whose
    * mtime is the commit order — the file source batches
    * oldest-mtime-first, so a maxFilesPerTrigger=1 readStream replays the
    * change feed ONE COMMIT PER MICRO-BATCH ([[graft.streaming.Streams]]'
    * q_stream_lake_cdf consumes this). Change rows are
    * (o_orderkey, o_orderpriority, delta ±1, ver): inserts are added-file
    * rows whose key is absent from the removed files, deletes are
    * removed-file rows (masked by the PREVIOUS version's DVs) absent from
    * the added files, plus rows newly masked by a DV registered this
    * commit — so a compaction nets to zero changes and the v7 RESTORE
    * nets to exactly the un-deleted keys re-appearing and fileF's rows
    * leaving. Built once per (app, sfDir); each commit's netting scans
    * only that commit's touched files (O(commit), never O(table)). */

  private[graft] def cdfStageDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_cdf") { d =>
      import spark.implicits._
      val base = lakeDir(spark, sfDir)
      val stage = Paths.get(d)
      val head = headOf(tableLog(base))
      (1 to head).foreach { v =>
        val prev = if (v == 1) emptyState else fullState(base, v - 1)
        val cur = fullState(base, v)
        def rows(files: Seq[String],
                 dvs: Map[String, Seq[String]]): Option[DataFrame] =
          if (files.isEmpty) None
          else Some(readState(spark, base, files, dvs)
            .select($"o_orderkey", $"o_orderpriority"))
        val removedF = prev.live.filterNot(cur.live.toSet)
        val addedF = cur.live.filterNot(prev.live.toSet)
        val removed = rows(removedF, prev.dvs)
        val added = rows(addedF, cur.dvs)
        // Rows newly masked by DVs registered THIS commit on files that
        // stay live — the merge-on-read delete surfaced as CDF deletes.
        // The new DVs semi-join the rows SURVIVING the previous
        // version's masks (readState with prev.dvs), not the raw file:
        // a key present in both an old and a new DV was already deleted
        // by the old commit's feed and must not emit a second -1
        // (round-15 self-review catch; one-DV fixtures cannot see it).
        val dvDeletes = cur.live.intersect(prev.live).flatMap { f =>
          val newDvs = cur.dvs.getOrElse(f, Nil)
            .diff(prev.dvs.getOrElse(f, Nil))
          if (newDvs.isEmpty) None
          else Some(readState(spark, base, Seq(f), prev.dvs)
            .join(newDvs.map(d => spark.read.parquet(s"$base/$d"))
              .reduce(_ unionByName _), Seq("o_orderkey"), "left_semi")
            .select($"o_orderkey", $"o_orderpriority"))
        }.reduceOption(_ unionByName _)
        def anti(a: Option[DataFrame], b: Option[DataFrame]) =
          a.map(df => b.fold(df)(o => df.join(o.select($"o_orderkey"),
            Seq("o_orderkey"), "left_anti")))
        val inserts = anti(added, removed)
          .map(_.withColumn("delta", lit(1L)))
        val deletes = (anti(removed, added).toSeq ++ dvDeletes.toSeq)
          .reduceOption(_ unionByName _)
          .map(_.withColumn("delta", lit(-1L)))
        val empty = spark.range(0).select(
          $"id".as("o_orderkey"), lit("").as("o_orderpriority"),
          lit(0L).as("delta"))
        val change = (inserts.toSeq ++ deletes.toSeq)
          .reduceOption(_ unionByName _).getOrElse(empty)
          .withColumn("ver", lit(v.toLong))
        val tmp = Memo.tempDir("cdf_tmp")
        change.coalesce(1).write.mode("overwrite")
          .parquet(tmp.resolve("out").toString)
        val ls = Files.list(tmp.resolve("out"))
        val landed = try {
          val part = ls.iterator()
          var ok = false
          while (part.hasNext) {
            val f = part.next()
            if (f.getFileName.toString.endsWith(".parquet")) {
              val dst = stage.resolve(s"cdf_v$v.parquet")
              Files.copy(f, dst)
              Files.setLastModifiedTime(dst,
                java.nio.file.attribute.FileTime.fromMillis(v * 60000L))
              ok = true
            }
          }
          ok
        } finally ls.close()
        require(landed, s"cdf commit $v produced no parquet part file")
        Memo.rmTree(tmp)
      }
    }

  /** CLUSTERING COMMIT (round 15 extension) — the OPTIMIZE / CLUSTER BY
    * table service every lakehouse runs to make its zone maps BITE: a
    * table ingested in arrival order (here: four HASH slices of orders,
    * v1..v4 — every file's key range spans the whole table, so zone maps
    * overlap completely and a selective read must plan ALL files) is
    * rewritten by ONE metadata commit (v5) into four KEY-RANGE files
    * whose zones are disjoint. The graded query runs the SAME zone-pruned
    * selective read against v4 (pre-cluster: 4 of 4 files planned) and v5
    * (post-cluster: 1 of 4), reporting per version both file counts and
    * the exact aggregates — which must be IDENTICAL across versions
    * (clustering is a layout move, never a data change; differing
    * aggregates or wrong planned counts break the hash).
    *
    * Scale posture: this is the reason zone maps alone are not enough at
    * 100 TB — stats on arrival-ordered files prune nothing; the nightly
    * cluster pass converts ingest layout into skippable layout, and its
    * cost is the rewrite of the files it touches (here: the live set),
    * amortized across every selective read after it. The commit itself is
    * metadata (4 removes + 4 zone-carrying adds).
    */

  private def clusterDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_cl") { base =>
      import spark.implicits._
      val orders = Catalog.load(spark, sfDir, "orders")
      val maxk = orders.agg(max($"o_orderkey")).first().getLong(0)
      val m = maxk + 1
      Files.write(Paths.get(base, "_meta_maxkey"),
        maxk.toString.getBytes(StandardCharsets.UTF_8))
      val hashSlice = pmod($"o_orderkey", lit(4))
      val range = expr(s"o_orderkey * 4 div $m")
      // Arrival-order ingest: hash slices — zones span the whole table.
      val hz0 = orders.groupBy(hashSlice.as("b"))
        .agg(min($"o_orderkey").as("mn"), max($"o_orderkey").as("mx"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .toMap
      def hz(b: Long): (Long, Long) = zoneOf(hz0, b, "hash")
      (0 to 3).foreach(i =>
        orders.filter(hashSlice === i).write.parquet(s"$base/ingest_$i"))
      // The cluster rewrite reads ONLY the live files, never the source.
      val live = spark.read.parquet((0 to 3).map(i => s"$base/ingest_$i"): _*)
      val rz0 = live.groupBy(range.as("b"))
        .agg(min($"o_orderkey").as("mn"), max($"o_orderkey").as("mx"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .toMap
      def rz(b: Long): (Long, Long) = zoneOf(rz0, b, "key-range")
      (0 to 3).foreach(i =>
        live.filter(range === i).write.parquet(s"$base/clustered_$i"))
      commit(logPath(base), 0,
        (0 to 3).map(i => zonedAdd(i + 1, s"ingest_$i", hz(i.toLong))) ++
          (0 to 3).map(i => LakeAction(5, "remove", s"ingest_$i")) ++
          (0 to 3).map(i => zonedAdd(5, s"clustered_$i", rz(i.toLong))))
    }

  /** Zone-pruned selective read of the cluster table at version `v`:
    * plan only the files whose [min, max] can contain keys ≤ hi. */
  private def clusterPrunedRead(spark: SparkSession, base: String, v: Int,
                                hi: Long): (DataFrame, Int, Int) = {
    import spark.implicits._
    val st = fullState(base, v)
    val planned = st.live.filter(p => st.zones.get(p).forall(_._1 <= hi))
    (readState(spark, base, planned, st.dvs, schemaFiles = st.live)
      .filter($"o_orderkey" <= hi),
      st.live.size, planned.size)
  }

  private def lakeCluster(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = clusterDir(spark, sfDir)
    val maxk = new String(
      Files.readAllBytes(Paths.get(base, "_meta_maxkey")),
      StandardCharsets.UTF_8).toLong
    val hi = (maxk + 1 - 1) / 4 // bucket-0 upper bound: k*4 < m  ⟺  k <= hi
    Seq(4, 5).map { v =>
      val (df, nLive, nPlanned) = clusterPrunedRead(spark, base, v, hi)
      df.agg(count(lit(1)).as("n_rows"),
          sum($"o_orderkey").cast("long").as("key_sum"))
        .select(lit(v.toLong).as("version"),
          lit(nLive.toLong).as("n_files_live"),
          lit(nPlanned.toLong).as("n_files_planned"), $"n_rows", $"key_sum")
    }.reduce(_.unionByName(_)).orderBy($"version".asc_nulls_first)
  }

  private val lakeClusterOracle = """
    WITH mk AS (SELECT max(o_orderkey) + 1 AS m FROM orders),
    sel AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      FROM orders, mk WHERE o_orderkey <= (m - 1) // 4)
    SELECT CAST(4 AS BIGINT) AS version, CAST(4 AS BIGINT) AS n_files_live,
      CAST(4 AS BIGINT) AS n_files_planned, n_rows, key_sum FROM sel
    UNION ALL
    SELECT 5, 4, 1, n_rows, key_sum FROM sel
    ORDER BY version ASC NULLS FIRST"""

  /** Spec hook: zones of the cluster table's live files at `v`. */
  private[graft] def clusterZonesAt(spark: SparkSession, sfDir: String,
      v: Int): Map[String, (Long, Long)] =
    fullState(clusterDir(spark, sfDir), v).zones

  /** Spec hook: checkpointed resolution at v → (live files, dv map,
    * checkpoint version used, tail actions replayed). */
  private[graft] def checkpointStateAt(spark: SparkSession, sfDir: String,
      v: Int): (Seq[String], Map[String, Seq[String]], Int, Int) = {
    val (st, cv, n) = ckptState(ckptDir(spark, sfDir), v)
    (st.live, st.dvs, cv, n)
  }

  /** Spec hook: FULL-replay resolution at v on the checkpoint table. */
  private[graft] def fullStateAt(spark: SparkSession, sfDir: String,
      v: Int): (Seq[String], Map[String, Seq[String]]) = {
    val st = fullState(ckptDir(spark, sfDir), v)
    (st.live, st.dvs)
  }

  /** Spec hook: the UNPRUNED head read of the checkpoint table filtered
    * to the zonemap predicate — must equal the pruned graded read. */
  private[graft] def zonemapUnpruned(spark: SparkSession,
                                     sfDir: String): DataFrame = {
    import spark.implicits._
    val base = ckptDir(spark, sfDir)
    val maxk = new String(
      Files.readAllBytes(Paths.get(base, "_meta_maxkey")),
      StandardCharsets.UTF_8).toLong
    val hi = (3 * (maxk + 1) - 1) / 8
    val (st, _, _) = ckptState(base, 12)
    readState(spark, base, st.live, st.dvs, schemaFiles = st.everAdded)
      .filter($"o_orderkey" <= hi)
  }

  /** Spec hook: snapshot read of the time-travel table (DV + schema
    * reconciliation applied). */
  private[graft] def snapshotAt(spark: SparkSession, sfDir: String,
                                v: Int): DataFrame =
    readSnapshot(spark, lakeDir(spark, sfDir), v)

  /** Spec hook: live file paths at a version of the time-travel table —
    * the vacuum view (on-disk minus live = deletable orphans) is asserted
    * in Round13RSpec. */
  private[graft] def timeTravelLiveFiles(spark: SparkSession, sfDir: String,
                                         v: Int): Seq[String] =
    liveFiles(lakeDir(spark, sfDir), v)

  /** Spec hook: the live file paths at a version of the MERGE table. */
  private[graft] def mergeLiveFiles(spark: SparkSession, sfDir: String,
                                    v: Int): Seq[String] =
    liveFiles(mergeDir(spark, sfDir), v)

  /** Stats-table scratch: orders partitioned into 4 residue slices
    * (o_orderkey % 4), each add carrying min/max/rows; v5 removes the
    * residue-3 file — so versions 4 and 5 have different catalog answers
    * and the remove path of the stats replay is graded, not just adds.
    * One bounded aggregate job computes all four files' stats. */
  private def statsOnlyDir(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "lake_stats") { base =>
      import spark.implicits._
      val orders = Catalog.load(spark, sfDir, "orders")
      val stats = orders.groupBy(($"o_orderkey" % 4).as("r"))
        .agg(count(lit(1)).as("n"), min($"o_orderkey").as("mn"),
          max($"o_orderkey").as("mx"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3))).toMap
      commit(logPath(base), 0, (0 to 3).map { r =>
        orders.filter($"o_orderkey" % 4 === r)
          .write.parquet(s"$base/file_$r")
        val (n, mn, mx) = stats.getOrElse(r.toLong,
          throw new IllegalArgumentException(
            s"graft lake: empty stats residue slice $r"))
        zonedAdd(r + 1, s"file_$r", (mn, mx)).copy(rows = Some(n))
      } :+ LakeAction(5, "remove", "file_3"))
    }

  /** STATS-ONLY aggregation kernel: answer (n_files, count, min, max)
    * purely from the replayed catalog state — ZERO data files opened.
    * Total-by-contract only when the stats are complete and unmasked:
    * raises loudly when any live file carries a deletion vector (masked
    * rows would make the catalog counts over-report) or lacks rows/zone
    * stats (a stats-free add cannot contribute). */
  private[graft] def statsOnly(base: String, v: Int): (Long, Long, Long, Long) = {
    val st = fullState(base, v)
    st.live.foreach { p =>
      if (st.dvs.getOrElse(p, Nil).nonEmpty)
        throw new IllegalArgumentException(
          s"graft lake: stats-only read is not answerable — live file $p " +
            "carries deletion vectors; a masked file's catalog row count " +
            "over-reports (scan it, or compact the DV away first)")
      if (!st.rowCounts.contains(p) || !st.zones.contains(p))
        throw new IllegalArgumentException(
          s"graft lake: stats-only read is not answerable — live file $p " +
            "was added without rows/zone stats")
    }
    require(st.live.nonEmpty, "graft lake: stats-only over an empty table")
    (st.live.size.toLong,
      st.live.map(st.rowCounts).sum,
      st.live.map(p => st.zones(p)._1).min,
      st.live.map(p => st.zones(p)._2).max)
  }

  /** METADATA-ONLY AGGREGATION (round 16) — `SELECT count(*), min(key),
    * max(key)` answered from the commit log alone, the optimization every
    * production lake ships (Delta/Iceberg answer these from add-file
    * stats): the plan contains NO data-file scan — both graded versions
    * resolve to driver-side catalog arithmetic over O(live files)
    * parsed actions and emit a LocalTableScan (spec-pinned). Graded at
    * v4 (all four slices) and v5 (after a remove), so both replay
    * directions feed the answer; the oracle recomputes both from the
    * raw table.
    *
    * Scale: the answer costs O(live files) catalog arithmetic — at 100 TB
    * that is thousands of log lines, zero bytes of table IO; the refusal
    * contract (DVs present / stats missing → loud raise, spec-pinned)
    * keeps the shortcut safe to wire into a planner rule.
    */
  private def lakeStatsOnly(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = statsOnlyDir(spark, sfDir)
    Seq(4, 5).map { v =>
      val (nf, n, mn, mx) = statsOnly(base, v)
      (v.toLong, nf, n, mn, mx)
    }.toDF("version", "n_files", "n_rows", "min_key", "max_key")
      .orderBy($"version".asc_nulls_first)
  }

  private val lakeStatsOnlyOracle = """
    SELECT CAST(4 AS BIGINT) AS version, CAST(4 AS BIGINT) AS n_files,
      CAST(count(*) AS BIGINT) AS n_rows,
      min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM orders
    UNION ALL
    SELECT CAST(5 AS BIGINT), CAST(3 AS BIGINT),
      CAST(count(*) AS BIGINT), min(o_orderkey), max(o_orderkey)
    FROM orders WHERE o_orderkey % 4 <> 3
    ORDER BY version ASC NULLS FIRST"""

  /** Hybrid classification of live files against a key predicate
    * [lo, hi]: (contained — catalog rows suffice; straddling — must be
    * scanned with the residual predicate; disjoint — skipped). Spec hook.
    */
  private[graft] def statsPrunedSplit(st: LakeState, lo: Long, hi: Long)
      : (Seq[String], Seq[String], Seq[String]) = {
    val classified = st.live.map { p =>
      val (mn, mx) = st.zones.getOrElse(p,
        throw new IllegalArgumentException(
          s"graft lake: hybrid stats read needs zone stats on $p"))
      val cls =
        if (mn >= lo && mx <= hi && st.rowCounts.contains(p)
          && st.dvs.getOrElse(p, Nil).isEmpty) "meta"
        else if (mx >= lo && mn <= hi) "scan"
        else "skip"
      (p, cls)
    }
    (classified.collect { case (p, "meta") => p },
      classified.collect { case (p, "scan") => p },
      classified.collect { case (p, "skip") => p })
  }

  /** HYBRID METADATA+SCAN COUNT (round 16) — `count(*) WHERE key <= X`
    * answered the way a production lake planner does: files whose zone is
    * FULLY INSIDE the predicate contribute their catalog row count (zero
    * IO), files STRADDLING the boundary are scanned with the residual
    * predicate, disjoint files are skipped outright. On the 8-file grid
    * with X in bucket 1's range that is 2 meta + 2 scan + 4 skip —
    * catalog arithmetic everywhere except the two boundary files, which
    * is the whole point: at 100 TB the scan cost is O(boundary files),
    * not O(table), and degrades gracefully to [[statsOnly]] (all meta)
    * or a pruned scan (all scan) as predicates move. DV-masked or
    * stats-free files are NEVER counted from catalog — the classifier
    * demotes them to the scan set, so the hybrid stays exact where
    * [[statsOnly]] must refuse.
    */
  private def lakeStatsPruned(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = multiZoneDir(spark, sfDir)
    val (hi, _) = statsPrunedX(base)
    val st = fullState(base, 8)
    val (meta, scan, skip) = statsPrunedSplit(st, Long.MinValue, hi)
    val metaRows = meta.map(st.rowCounts).sum
    val scanned = readState(spark, base, scan, st.dvs,
        schemaFiles = st.live)
      .filter($"o_orderkey" <= hi)
      .agg(coalesce(count(lit(1)), lit(0L)).as("n"))
    scanned.select(
      lit(meta.size.toLong).as("n_files_meta"),
      lit(scan.size.toLong).as("n_files_scan"),
      lit(skip.size.toLong).as("n_files_skip"),
      (lit(metaRows) + $"n").as("n_rows"))
      .orderBy($"n_files_meta".asc_nulls_first)
  }

  /** Predicate cut 3m/8 — strictly inside key bucket 1's [m/4, m/2)
    * range for any m ≥ 8, so bucket 0 is contained, bucket 1 straddles,
    * buckets 2-3 are disjoint. */
  private def statsPrunedX(base: String): (Long, Long) = {
    val (maxk, _) = {
      val Array(a, b) = new String(
        Files.readAllBytes(Paths.get(base, "_meta_max")),
        StandardCharsets.UTF_8).split(",").map(_.toLong)
      (a, b)
    }
    ((3 * (maxk + 1)) / 8, maxk)
  }

  private val lakeStatsPrunedOracle = """
    WITH mk AS (SELECT max(o_orderkey) + 1 AS m FROM orders)
    SELECT CAST(2 AS BIGINT) AS n_files_meta,
      CAST(2 AS BIGINT) AS n_files_scan,
      CAST(4 AS BIGINT) AS n_files_skip,
      CAST(count(*) AS BIGINT) AS n_rows
    FROM orders, mk WHERE o_orderkey <= (3 * m) // 8
    ORDER BY n_files_meta ASC NULLS FIRST"""

  override val queries: Vector[Q] = Vector(
    Q("q_lake_stats_only", lakeStatsOnly, Some(lakeStatsOnlyOracle), warm = true),
    Q("q_lake_stats_pruned", lakeStatsPruned, Some(lakeStatsPrunedOracle), warm = true),
    Q("q_lake_time_travel", lakeTimeTravel, Some(lakeTimeTravelOracle), warm = true),
    Q("q_lake_cdc", lakeCdc, Some(lakeCdcOracle), warm = true),
    Q("q_lake_compact", lakeCompact, Some(lakeCompactOracle), warm = true),
    Q("q_lake_merge", lakeMerge, Some(lakeMergeOracle), warm = true),
    Q("q_lake_merge_mor", lakeMergeMor, Some(lakeMergeMorOracle), warm = true),
    Q("q_lake_delete_mor", lakeDeleteMor, Some(lakeDeleteMorOracle), warm = true),
    Q("q_lake_dv", lakeDv, Some(lakeDvOracle)),
    Q("q_lake_schema_evolution", lakeSchemaEvolution,
      Some(lakeSchemaEvolutionOracle)),
    Q("q_lake_vacuum", lakeVacuum, Some(lakeVacuumOracle), warm = true),
    Q("q_lake_restore", lakeRestore, Some(lakeRestoreOracle)),
    Q("q_lake_clone", lakeClone, Some(lakeCloneOracle), warm = true),
    Q("q_lake_partition_evolution", lakePartitionEvolution,
      Some(lakePartitionEvolutionOracle), warm = true),
    Q("q_lake_occ", lakeOcc, Some(lakeOccOracle), warm = true),
    Q("q_lake_checkpoint", lakeCheckpoint, Some(lakeCheckpointOracle), warm = true),
    Q("q_lake_zonemap", lakeZonemap, Some(lakeZonemapOracle)),
    Q("q_lake_zonemap_multi", lakeZonemapMulti, Some(lakeZonemapMultiOracle), warm = true),
    Q("q_lake_bloom_skip", lakeBloomSkip, Some(lakeBloomSkipOracle), warm = true),
    Q("q_lake_mor_probe", lakeMorProbe, Some(lakeMorProbeOracle), warm = true),
    Q("q_lake_time_travel_ts", lakeTimeTravelTs, Some(lakeTimeTravelTsOracle)),
    Q("q_lake_tag_read", lakeTagRead, Some(lakeTagReadOracle)),
    Q("q_lake_constraints", lakeConstraints, Some(lakeConstraintsOracle), warm = true),
    Q("q_lake_expire", lakeExpire, Some(lakeExpireOracle), warm = true),
    Q("q_mv_incremental_mor", mvIncrementalMor, Some(mvIncrementalMorOracle), warm = true),
    Q("q_lake_wap", lakeWap, Some(lakeWapOracle), warm = true),
    Q("q_lake_column_map", lakeColumnMap, Some(lakeColumnMapOracle), warm = true),
    Q("q_lake_dv_positional", lakeDvPositional, Some(lakeDvPositionalOracle), warm = true),
    Q("q_lake_cluster", lakeCluster, Some(lakeClusterOracle), warm = true),
  )
}
