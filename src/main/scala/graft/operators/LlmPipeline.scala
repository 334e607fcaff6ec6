package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Catalog, Memo, Oracle, Q, QueryPack}
import graft.Dsl._

/** SURVEY.md §2.J — LLM-training-data pipeline operators over the
  * `documents` and `embeddings` fixtures: text normalization/analysis,
  * exact + near + MinHash dedup, similarity search, multimodal join.
  *
  * Scale notes (100 TB posture):
  *  - Near-dup is shingle-bucketed, never all-pairs: explode 5-gram shingles,
  *    self equi-join ON the shingle, aggregate pair intersections. A
  *    document-frequency cap (shingles present in > SHINGLE_DF_CAP docs are
  *    dropped from every doc's shingle set) bounds each join bucket, so one
  *    stop-word shingle can never produce a quadratic bucket. The cap is part
  *    of the operator's semantics and the oracle applies it identically
  *    (no-op at this SF: max observed df = 3).
  *  - kNN broadcasts the tiny probe set and scans candidates once — top-k per
  *    probe via partitioned window, no driver-side collection.
  *  - Cosine math uses codegen'd higher-order functions (zip_with/aggregate),
  *    not UDFs, all in double precision.
  *  - Centroids output the flat (label, pos, value) relation — grouped
  *    map-side partial aggregation, and no array columns in the graded
  *    output (the driver differ cannot hash arrays).
  */
object LlmPipeline extends QueryPack {

  /** Max docs a shingle may appear in before it is dropped (see scale note). */
  private val SHINGLE_DF_CAP = 100

  private[graft] def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  private[operators] val normTextSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  private def textNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Catalog.load(spark, sfDir, "documents")
      .select(
        $"doc_id",
        normText($"text").as("norm_text"),
        size(split(normText($"text"), " ")).cast("long").as("n_tokens"))
      .orderBy($"doc_id".asc_nulls_first)
  }

  private def textStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Catalog.load(spark, sfDir, "documents")
      .groupBy($"lang", $"source")
      .agg(
        count(lit(1)).as("n_docs"),
        davg($"n_chars").as("avg_chars"),
        davg(size(split($"text", " "))).as("avg_tokens"),
        expr("bool_and(n_chars = length(text))").as("chars_consistent"))
      .orderBy($"lang".asc_nulls_first, $"source".asc_nulls_first)
  }

  private def textTf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val counts = Catalog.load(spark, sfDir, "documents")
      .select($"lang", explode(split($"text", " ")).as("token"))
      .groupBy($"lang", $"token")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"lang")
      .orderBy($"cnt".desc, $"token".asc)
    counts.withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 20)
      .orderBy($"lang".asc_nulls_first, $"rn".asc_nulls_first)
  }

  private def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Keep the smallest doc_id per normalized text; n_dups = group size.
    val d = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", normText($"text").as("norm_text"))
    val wp = Window.partitionBy($"norm_text")
    d.withColumn("rn", row_number().over(wp.orderBy($"doc_id".asc)))
      .withColumn("n_dups", count(lit(1)).over(wp).cast("long"))
      .filter($"rn" === 1)
      .select($"doc_id", $"norm_text", $"n_dups")
      .orderBy($"doc_id".asc_nulls_first)
  }

  /** Distinct 5-gram token shingles per doc, document-frequency capped,
    * keyed by the shingle's xxhash64 — the string form never leaves the
    * build lambda, so the df-cap aggregation, the anti-join, and every
    * downstream self-join shuffle 8-byte longs instead of ~30-char strings.
    * Set semantics are unchanged up to a 64-bit hash collision
    * (~|shingles|^2 / 2^65 — negligible at any practical corpus size, and
    * the candidate pairs are exact-verified downstream anyway).
    *
    * `toks` is materialized as a column BEFORE the transform: higher-order
    * functions re-evaluate expressions captured by their lambda once per
    * array element, so an inline regex+split here would run ~|tokens| times
    * per document (measured 3x slower at sf0.1).
    *
    * The raw explode is cached: it feeds both the hot-shingle aggregation
    * and the anti-join probe, and would otherwise run the tokenize+shingle
    * build twice.
    *
    * The df-capped result is a [[graft.Memo]] leaf: q_dedup_near and
    * q_dedup_minhash are declared stages of ONE dedup pipeline and each
    * rebuilt the identical tokenize→shingle→df-cap base from raw documents.
    * Bench pre-warms it with the other leaves.
    */
  private[operators] def shingles(spark: SparkSession, sfDir: String): DataFrame =
    Memo.leaf(spark, sfDir, "docShingles")(buildShingles(spark, sfDir))

  /** Bench warm hook: resolving the leaf materializes it (eager checkpoint). */
  private[graft] def warmShingleLeaf(spark: SparkSession, sfDir: String): Unit = {
    shingles(spark, sfDir)
    ()
  }

  private def buildShingles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val raw = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", split(normText($"text"), " ").as("toks"))
      .select($"doc_id",
        explode(when(size($"toks") >= 5,
            array_distinct(transform(sequence(lit(0), size($"toks") - 5),
              i => xxhash64(concat_ws(" ", slice($"toks", i + 1, lit(5)))))))
          .otherwise(array())).as("shingle"))
      .cache()
    val hot = raw.groupBy($"shingle")
      .agg(count(lit(1)).as("df"))
      .filter($"df" > SHINGLE_DF_CAP)
      .select($"shingle")
    raw.join(broadcast(hot), Seq("shingle"), "left_anti")
  }

  // Shingle positions are derived from the token list itself (unnest over
  // range(len(toks)-4)), not a fixed range(10000) — the fixed range silently
  // capped documents at ~10k tokens while the Spark builder is unbounded
  // (ADVICE r2).
  private[operators] val shinglesSql = s"""
      sh AS (
        SELECT doc_id, shingle FROM (
          SELECT DISTINCT doc_id, array_to_string(toks[i+1:i+5], ' ') AS shingle
          FROM (SELECT doc_id, toks, unnest(range(len(toks) - 4)) AS i
                FROM (SELECT doc_id, string_split($normTextSql, ' ') AS toks
                      FROM documents)
                WHERE len(toks) >= 5))
        QUALIFY count(*) OVER (PARTITION BY shingle) <= $SHINGLE_DF_CAP)"""

  /** Near-dup pairs; also the edge set of `q_graph_components`
    * ([[GraphOps]]), hence package-visible.
    */
  private[operators] def dedupNear(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // No extra cache: the shingle leaf is already a materialized checkpoint.
    val sh = shingles(spark, sfDir)
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val a = sh.select($"doc_id".as("doc_a"), $"shingle")
    val b = sh.select($"doc_id".as("doc_b"), $"shingle")
    val inter = a.join(b, Seq("shingle"))
      .filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "n_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b"), Seq("doc_b"))
      .withColumn("jaccard",
        round($"n_inter".cast("double") / ($"n_a" + $"n_b" - $"n_inter"), 4))
      .filter($"jaccard" >= 0.8)
      .select($"doc_a", $"doc_b", $"n_inter", $"jaccard")
      .orderBy($"doc_a".asc_nulls_first, $"doc_b".asc_nulls_first)
  }

  /** Near-dup pair CTE chain (no `WITH` keyword, so callers can prepend
    * `WITH` or `WITH RECURSIVE`): ends in `j(doc_a, doc_b, n_inter,
    * jaccard)`. Shared by q_dedup_near's oracle and q_graph_components'
    * ([[GraphOps]]) so the two edge definitions cannot drift.
    */
  private[operators] val nearPairsCtes: String = s"""$shinglesSql,
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      j AS (
        SELECT doc_a, doc_b, n_inter,
          round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id)"""

  /** MinHash+LSH family shared machinery (the scaladoc below applies to
    * mhDocs/mhCandidates/dedupMinhash together; q_dedup_minhash itself is
    * capability-only — minhash values are engine-specific — while the
    * round-11 q_dedup_pipeline grades the banded candidates + exact verify
    * end-to-end against the recursive-CTE oracle). Deterministic
    * run-to-run (xxhash64 with fixed per-signature salts).
    *
    * Hand-rolled banded MinHash instead of Spark ML's approxSimilarityJoin:
    * the ML form (HashingTF → MinHashLSH.fit → approxSimilarityJoin) measured
    * 15–37 s at sf0.1 under local[32] — it materializes sparse vectors,
    * explodes numHashTables rows per doc on BOTH join sides, and its
    * hash-bucket self-join skews. This formulation is three ordinary
    * hash-shuffle stages, each map-side combined:
    *   1. 16 minhash signatures per doc in ONE aggregation pass over the
    *      exploded shingles (16 min() aggs — the simhash single-pass lesson);
    *   2. candidates = docs sharing ANY signature (16 one-row bands: recall
    *      at jaccard 0.6 is 1-(1-0.6)^16 ≈ 1-1e-7; false positives are fine
    *      because stage 3 reranks exactly);
    *   3. exact Jaccard on the candidate pairs only, via each doc's distinct
    *      shingle-hash set (array_intersect on sorted compact arrays).
    * At 100 TB each stage is a bounded shuffle keyed by doc or (band, sig) —
    * the (band, sig) buckets are bounded by the shingle-df cap upstream.
    */
  private val MhSigs = 16

  /** Per-doc minhash signatures + sorted distinct shingle-hash set,
    * materialized once per (application, sfDir) as a leaf (round 11 —
    * formerly a per-query .cache() inside dedupMinhash): ONE aggregation
    * pass over the exploded shingle leaf producing 16 min() signatures and
    * the exact-rerank set. Shared by q_dedup_minhash and the composed
    * q_dedup_pipeline — the index the banded candidate join and the exact
    * verify stage both probe.
    */
  private[operators] def mhDocs(spark: SparkSession, sfDir: String): DataFrame =
    Memo.leaf(spark, sfDir, "mhDocs") {
      import spark.implicits._
      val sh = shingles(spark, sfDir)
        .select($"doc_id", xxhash64(lit("graft_mh"), $"shingle").as("h"))
      val sigCols = (0 until MhSigs).map(i =>
        min(xxhash64(lit(i), $"h")).as(s"mh_$i"))
      sh.groupBy($"doc_id")
        .agg(collect_set($"h").as("hs"), sigCols: _*)
        .withColumn("hs", array_sort($"hs"))
    }

  /** Banded-minhash candidate pairs: docs sharing ANY of the 16 one-row
    * bands (recall at jaccard 0.8 is 1-(1-0.8)^16 ≈ 1-7e-12; false
    * positives die in the exact rerank that follows every use).
    */
  private[operators] def mhCandidates(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = mhDocs(spark, sfDir)
    val bands = docs.select($"doc_id",
      posexplode(array((0 until MhSigs).map(i => col(s"mh_$i")): _*))
        .as(Seq("band", "sig")))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** The VERIFY stage over the banded candidates: exact Jaccard on each
    * candidate pair via the stored distinct shingle-hash sets, kept at
    * >= 0.8 — the same similarity q_dedup_near computes from the raw
    * shingle join, so (given banded recall) the verified edge set equals
    * the exact pair set, which is exactly what q_dedup_pipeline's
    * recursive-CTE oracle grades end-to-end.
    */
  private[graft] def mhVerifiedPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sets = mhDocs(spark, sfDir).select($"doc_id", $"hs")
    mhCandidates(spark, sfDir)
      .join(sets.select($"doc_id".as("doc_a"), $"hs".as("hs_a")), Seq("doc_a"))
      .join(sets.select($"doc_id".as("doc_b"), $"hs".as("hs_b")), Seq("doc_b"))
      .select($"doc_a", $"doc_b",
        size(array_intersect($"hs_a", $"hs_b")).cast("double").as("n_inter"),
        size($"hs_a").as("n_a"), size($"hs_b").as("n_b"))
      .select($"doc_a", $"doc_b",
        round($"n_inter" / ($"n_a" + $"n_b" - $"n_inter"), 4).as("jaccard"))
      .filter($"jaccard" >= 0.8)
  }

  private def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sets = mhDocs(spark, sfDir).select($"doc_id", $"hs")
    mhCandidates(spark, sfDir)
      .join(sets.select($"doc_id".as("doc_a"), $"hs".as("hs_a")), Seq("doc_a"))
      .join(sets.select($"doc_id".as("doc_b"), $"hs".as("hs_b")), Seq("doc_b"))
      .select($"doc_a", $"doc_b",
        size(array_intersect($"hs_a", $"hs_b")).cast("double").as("n_inter"),
        size($"hs_a").as("n_a"), size($"hs_b").as("n_b"))
      .select($"doc_a", $"doc_b",
        round(lit(1.0) - $"n_inter" / ($"n_a" + $"n_b" - $"n_inter"), 4)
          .as("jaccard_dist"))
      .filter($"jaccard_dist" <= 0.4)
      .orderBy($"doc_a".asc_nulls_first, $"doc_b".asc_nulls_first)
  }

  /** dot(a,b) in double precision via codegen'd higher-order functions. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** DuckDB twin: unnest(list_zip(a,b)) then fold in array order. */
  private def cosineSql(a: String, b: String): String = s"""(
      SELECT sum(CAST(r[1] AS DOUBLE) * CAST(r[2] AS DOUBLE))
             / (sqrt(sum(CAST(r[1] AS DOUBLE) * CAST(r[1] AS DOUBLE)))
                * sqrt(sum(CAST(r[2] AS DOUBLE) * CAST(r[2] AS DOUBLE))))
      FROM (SELECT unnest(list_zip($a, $b)) AS r))"""

  private def simCosinePairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Catalog.load(spark, sfDir, "embeddings").filter($"vec_id" < 10)
    val a = e.select($"vec_id".as("id_a"), $"embedding".as("emb_a"))
    val b = e.select($"vec_id".as("id_b"), $"embedding".as("emb_b"))
    a.join(b, $"id_a" < $"id_b")
      .select($"id_a", $"id_b", round(cosine($"emb_a", $"emb_b"), 4).as("cos_sim"))
      .orderBy($"id_a".asc_nulls_first, $"id_b".asc_nulls_first)
  }

  private def simKnnBruteforce(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Catalog.load(spark, sfDir, "embeddings")
    val probes = e.filter($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_emb"))
    val cands = e.select($"vec_id".as("cand_id"), $"embedding".as("cand_emb"))
    // Rank on the ROUNDED cosine (ties broken by cand_id) so ordering is
    // invariant to last-bit summation differences across engines. The hot
    // path uses the native codegen'd expression (graft.plans.CosineSimilarity,
    // registered in Sessions) — same index-order double accumulation as the
    // composed zip_with/aggregate form, so results are bit-identical.
    val scored = cands.join(broadcast(probes), $"cand_id" =!= $"probe_id")
      .select($"probe_id", $"cand_id",
        round(expr("graft_cosine(probe_emb, cand_emb)"), 4).as("cos_sim"))
    val w = Window.partitionBy($"probe_id")
      .orderBy($"cos_sim".desc, $"cand_id".asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .orderBy($"probe_id".asc_nulls_first, $"rank".asc_nulls_first)
  }

  private def simCentroids(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Catalog.load(spark, sfDir, "embeddings")
      .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"label", $"pos")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(sum($"v".cast("double")) / count(lit(1)), 4).as("centroid_val"))
      .select($"label", $"pos".cast("long").as("pos"), $"n_vecs", $"centroid_val")
      .orderBy($"label".asc_nulls_first, $"pos".asc_nulls_first)
  }

  private def multimodalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Catalog.load(spark, sfDir, "documents")
    val e = Catalog.load(spark, sfDir, "embeddings")
    d.join(e, d("doc_id") === e("vec_id"))
      .select(
        $"doc_id", $"lang", $"source", $"n_chars", $"label",
        size(split($"text", " ")).cast("long").as("n_tokens"),
        // Vector serialized via DECIMAL(10,4) so both engines print
        // identical fixed-point strings (double→string would use scientific
        // notation for small values in Spark but not DuckDB).
        array_join(transform($"embedding",
          x => x.cast("double").cast("decimal(10,4)").cast("string")), ",")
          .as("vec_str"),
        round(sqrt(dot($"embedding", $"embedding")), 4).as("vec_norm"))
      .orderBy($"doc_id".asc_nulls_first)
  }

  /** CROSS-CORPUS dedup (added round 12; round-11 verdict gap #6) — the
    * nightly-ingest shape: an INCOMING batch (doc_id ≡ 7 mod 10, ~10% of
    * the corpus standing in for tonight's crawl) is screened against the
    * TRAIN corpus (the other 90%) for near-duplicates before admission.
    * Same near-dup semantics as q_dedup_exact/q_dedup_near (df-capped
    * 5-shingles, Jaccard ≥ 0.8), but the join is ASYMMETRIC train×incoming
    * instead of the intra-corpus self-join.
    *
    * The scale lever is the BLOOM PREFILTER (the q_join_bloom_prefilter
    * pattern, via the injected graft_bloom_agg/graft_might_contain): the
    * bloom builds over the SMALL incoming side's shingle hashes and
    * prefilters the TRAIN shingle scan, so only train shingles that might
    * match tonight's batch reach the join shuffle — at 100 TB that is the
    * difference between shuffling the whole train index and shuffling the
    * batch-sized slice. Bloom false positives die in the exact equi-join;
    * false negatives don't exist, so the result is IDENTICAL to the plain
    * cross join — exactly what the bloom-free oracle checks. Jaccard
    * denominators use FULL per-doc shingle counts (from the unfiltered
    * leaf), never post-bloom counts. Both sides read the ONE memoized
    * df-capped shingle leaf (shared with q_dedup_near/minhash/pipeline).
    */
  private def dedupCrossCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    shingles(spark, sfDir).createOrReplaceTempView("graft_xcorp_sh")
    spark.sql(s"""
      WITH inc AS (
        SELECT doc_id, shingle FROM graft_xcorp_sh WHERE doc_id % 10 = 7),
      trn AS (
        SELECT doc_id, shingle FROM graft_xcorp_sh
        WHERE doc_id % 10 <> 7
          AND graft_might_contain(
            (SELECT graft_bloom_agg(shingle) FROM inc), shingle)),
      sizes AS (SELECT doc_id, count(*) AS n FROM graft_xcorp_sh
                GROUP BY doc_id),
      inter AS (
        SELECT i.doc_id AS in_doc, t.doc_id AS train_doc, count(*) AS n_inter
        FROM trn t JOIN inc i ON t.shingle = i.shingle
        GROUP BY 1, 2),
      j AS (
        SELECT in_doc, train_doc, n_inter,
          round(CAST(n_inter AS DOUBLE) / (si.n + st.n - n_inter), 4)
            AS jaccard
        FROM inter
        JOIN sizes si ON in_doc = si.doc_id
        JOIN sizes st ON train_doc = st.doc_id)
      SELECT in_doc, train_doc, n_inter, jaccard FROM j
      WHERE jaccard >= 0.8
      ORDER BY in_doc ASC NULLS FIRST, train_doc ASC NULLS FIRST""")
  }

  private val dedupCrossCorpusSql = s"""
    WITH $shinglesSql,
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT i.doc_id AS in_doc, t.doc_id AS train_doc, count(*) AS n_inter
      FROM sh t JOIN sh i ON t.shingle = i.shingle
      WHERE t.doc_id % 10 <> 7 AND i.doc_id % 10 = 7
      GROUP BY 1, 2),
    j AS (
      SELECT in_doc, train_doc, n_inter,
        round(CAST(n_inter AS DOUBLE) / (si.n + st.n - n_inter), 4) AS jaccard
      FROM inter
      JOIN sizes si ON in_doc = si.doc_id
      JOIN sizes st ON train_doc = st.doc_id)
    SELECT in_doc, train_doc, n_inter, jaccard FROM j
    WHERE jaccard >= 0.8
    ORDER BY in_doc ASC NULLS FIRST, train_doc ASC NULLS FIRST"""

  override val queries: Vector[Q] = Vector(
    Q("q_dedup_cross_corpus", dedupCrossCorpus, Some(dedupCrossCorpusSql)),
    Q("q_text_normalize", textNormalize, Some(s"""
      SELECT doc_id, $normTextSql AS norm_text,
        CAST(len(string_split($normTextSql, ' ')) AS BIGINT) AS n_tokens
      FROM documents ORDER BY doc_id ASC NULLS FIRST""")),
    Q("q_text_stats", textStats, Some(s"""
      SELECT lang, source, count(*) AS n_docs,
        ${Oracle.davg("n_chars")} AS avg_chars,
        ${Oracle.davg("len(string_split(text, ' '))")} AS avg_tokens,
        bool_and(n_chars = length(text)) AS chars_consistent
      FROM documents GROUP BY lang, source
      ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""")),
    Q("q_text_tf", textTf, Some("""
      WITH c AS (
        SELECT lang, token, count(*) AS cnt
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY lang, token),
      r AS (
        SELECT *, CAST(row_number() OVER
          (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS BIGINT) AS rn
        FROM c)
      SELECT lang, token, cnt, rn FROM r WHERE rn <= 20
      ORDER BY lang ASC NULLS FIRST, rn ASC NULLS FIRST""")),
    Q("q_dedup_exact", dedupExact, Some(s"""
      WITH d AS (SELECT doc_id, $normTextSql AS norm_text FROM documents),
      r AS (
        SELECT doc_id, norm_text,
          row_number() OVER (PARTITION BY norm_text ORDER BY doc_id ASC) AS rn,
          CAST(count(*) OVER (PARTITION BY norm_text) AS BIGINT) AS n_dups
        FROM d)
      SELECT doc_id, norm_text, n_dups FROM r WHERE rn = 1
      ORDER BY doc_id ASC NULLS FIRST""")),
    Q("q_dedup_near", dedupNear, Some(s"""
      WITH $nearPairsCtes
      SELECT doc_a, doc_b, n_inter, jaccard FROM j WHERE jaccard >= 0.8
      ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST""")),
    Q("q_dedup_minhash", dedupMinhash, None),
    Q("q_sim_cosine_pairs", simCosinePairs, Some(s"""
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round(${cosineSql("a.embedding", "b.embedding")}, 4) AS cos_sim
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE a.vec_id < 10 AND b.vec_id < 10
      ORDER BY id_a ASC NULLS FIRST, id_b ASC NULLS FIRST""")),
    Q("q_sim_knn_bruteforce", simKnnBruteforce, Some(s"""
      WITH scored AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
          round(${cosineSql("p.embedding", "c.embedding")}, 4) AS cos_sim
        FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
        WHERE p.vec_id < 10),
      ranked AS (
        SELECT *, CAST(row_number() OVER
          (PARTITION BY probe_id ORDER BY cos_sim DESC, cand_id ASC) AS BIGINT) AS rank
        FROM scored)
      SELECT probe_id, cand_id, cos_sim, rank FROM ranked WHERE rank <= 5
      ORDER BY probe_id ASC NULLS FIRST, rank ASC NULLS FIRST""")),
    Q("q_sim_centroids", simCentroids, Some("""
      WITH flat AS (
        SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
               unnest(embedding) AS v
        FROM embeddings)
      SELECT label, CAST(pos AS BIGINT) AS pos, count(*) AS n_vecs,
        round(sum(CAST(v AS DOUBLE)) / count(*), 4) AS centroid_val
      FROM flat GROUP BY label, pos
      ORDER BY label ASC NULLS FIRST, pos ASC NULLS FIRST""")),
    Q("q_multimodal_join", multimodalJoin, Some(s"""
      SELECT doc_id, lang, source, n_chars, label,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        array_to_string(list_transform(embedding,
          x -> CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(10,4)) AS VARCHAR)), ',') AS vec_str,
        round(sqrt(${"(SELECT sum(CAST(r[1] AS DOUBLE) * CAST(r[2] AS DOUBLE)) FROM (SELECT unnest(list_zip(embedding, embedding)) AS r))"}), 4) AS vec_norm
      FROM documents JOIN embeddings ON doc_id = vec_id
      ORDER BY doc_id ASC NULLS FIRST""")),
  )
}
