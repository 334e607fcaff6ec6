package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Catalog, Oracle, Q, QueryPack}
import graft.Dsl._

/** SURVEY.md §2.R — retrieval, layout & windowed-stats depth (added round
  * 7): the index-side half of a training-data pipeline (inverted index,
  * BM25-style ranked retrieval, TF-IDF keyword extraction), quantized
  * vector search, a Z-order layout demonstration, and a moving median.
  *
  * Scale notes (100 TB posture):
  *  - The inverted index IS the scale path for text retrieval: one explode +
  *    one hash aggregation keyed by token — map-side combined, no windows
  *    over raw rows. Posting-list stats stay one row per token.
  *  - BM25 and TF-IDF join per-(doc, term) stats against per-term document
  *    frequencies (a broadcast — |vocab| rows) and a 1-row corpus-stats
  *    dimension; the raw table is touched exactly once.
  *  - All ranking arithmetic is SCALED-INTEGER (×10^6 BIGINT, integral
  *    division `div` ↔ DuckDB `//`): log-free rational idf makes scores
  *    engine-exact, where float BM25 would diverge in last-ulp libm/
  *    summation differences (the q_text_collocations lesson).
  *  - Quantization (int8 0..255 per element) is the shuffle-bytes lever for
  *    vector search at scale: 4× smaller than float32 before any network
  *    hop, and the quantized dot product is an exact BIGINT — the float
  *    cosine rerank (q_sim_knn_bruteforce) runs only on survivors.
  *  - Z-order interleaving is the data-SKIPPING lever: sorting by the
  *    interleaved key bounds BOTH dimensions within every file/bin (the
  *    output proves it: per-bin spans ≪ global spans), where a linear sort
  *    bounds only its leading key. Bit math is pure integer arithmetic in
  *    the scan — no shuffle beyond the final |bins|-row aggregate.
  */
object Retrieval extends QueryPack {

  private val S = 1000000L // fixed-point scale for rank arithmetic

  /** (doc_id, token) exploded over normalized text — the shared first stage
    * of every text-retrieval query here.
    */
  private def docTokens(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Catalog.load(spark, sfDir, "documents")
      .select($"doc_id",
        explode(split(LlmPipeline.normText($"text"), " ")).as("token"))
  }

  private val docTokensSql = s"""toks AS (
        SELECT doc_id, unnest(string_split(${LlmPipeline.normTextSql}, ' ')) AS token
        FROM documents)"""

  /** Top-25 posting lists by document frequency: df (docs containing the
    * token), cf (total occurrences), first posting doc. The core statistics
    * a sharded inverted index maintains per term.
    */
  private def invertedIndex(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val stats = docTokens(spark, sfDir)
      .groupBy($"token")
      .agg(
        countDistinct($"doc_id").as("df"),
        count(lit(1)).as("cf"),
        min($"doc_id").as("first_doc"))
    val w = Window.orderBy($"df".desc, $"token".asc)
    // The ordered-only window runs over |vocab| rows (post-aggregation),
    // not the corpus — bounded at any scale (same justification as
    // q_win_moving_avg's daily series).
    stats.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 25)
      .orderBy($"rank".asc_nulls_first)
  }

  private val invertedIndexOracle = s"""
    WITH $docTokensSql,
    stats AS (
      SELECT token, count(DISTINCT doc_id) AS df, count(*) AS cf,
             min(doc_id) AS first_doc
      FROM toks GROUP BY token),
    ranked AS (
      SELECT *, CAST(row_number() OVER (ORDER BY df DESC, token ASC) AS BIGINT) AS rank
      FROM stats)
    SELECT token, df, cf, first_doc, rank FROM ranked WHERE rank <= 25
    ORDER BY rank ASC NULLS FIRST"""

  /** BM25-style ranked retrieval for a fixed conjunctive term set, in
    * scaled-integer arithmetic (k1 = 1.2, b = 0.75, both ×100; scores ×10^6).
    * The idf is the log-free rational variant (N - df) / (df + 1) — same
    * monotonicity as Robertson idf, but exact in BIGINT where ln() would
    * hang cross-engine parity on libm last-ulp agreement. Every division is
    * integral and mirrored (`div` ↔ `//`), so scores are engine-exact.
    * One of the terms ('dup') is rare (df 25/500 at sf0.01) so the idf term
    * is exercised, not constant.
    */
  private def bm25(spark: SparkSession, sfDir: String): DataFrame =
    bm25Ranked(spark, sfDir, 10)

  /** BM25 top-k list, shared by q_text_bm25 (k=10) and the RRF fusion's
    * lexical arm (k=[[ArmTopK]]).
    */
  private def bm25Ranked(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    import spark.implicits._
    val terms = Seq("dup", "join", "hash")
    // Cached: the tokenized base feeds BOTH the 1-row corpus-stats branch
    // and the tf branch — uncached, the regex+split tokenization ran twice
    // (measured ~0.5 s extra at sf0.1).
    val docs = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", split(LlmPipeline.normText($"text"), " ").as("toks"))
      .select($"doc_id", $"toks", size($"toks").cast("long").as("dl"))
      .cache()
    // 1-row corpus-stats dimension; joined via broadcast cross join.
    val corpus = docs.agg(
      count(lit(1)).as("n_docs"), sum($"dl").as("t_tokens"))
    val tf = docs
      .select($"doc_id", $"dl", explode($"toks").as("token"))
      .filter($"token".isin(terms: _*))
      .groupBy($"doc_id", $"dl", $"token")
      .agg(count(lit(1)).as("tf"))
    // One row per (doc containing term, term) → count per token = df.
    val df_ = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df_), Seq("token"))
      .crossJoin(broadcast(corpus))
      .withColumn("dl_ratio_s", expr(s"(dl * $S * n_docs) div t_tokens"))
      .withColumn("norm_s", expr(s"(25 * $S + 75 * dl_ratio_s) div 100"))
      .withColumn("w_s",
        expr(s"(tf * 220 * $S * $S) div (tf * 100 * $S + 120 * norm_s)"))
      .withColumn("idf_s", expr(s"((n_docs - df) * $S) div (df + 1)"))
      .withColumn("contrib", expr(s"(idf_s * w_s) div $S"))
    val perDoc = scored.groupBy($"doc_id")
      .agg(sum($"contrib").as("bm25_s"), count(lit(1)).as("n_terms_hit"))
    val w = Window.orderBy($"bm25_s".desc, $"doc_id".asc)
    // |docs containing a query term| rows reach the top-k window at this
    // vocab; the scale path bounds it the standard way (per-shard top-k
    // before a global merge) — here row_number over the scored set.
    perDoc.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .orderBy($"rank".asc_nulls_first)
  }

  private val bm25Ctes = s"""docs AS (
      SELECT doc_id, string_split(${LlmPipeline.normTextSql}, ' ') AS toks
      FROM documents),
    d2 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM docs),
    corpus AS (SELECT count(*) AS n_docs, sum(dl) AS t_tokens FROM d2),
    tf AS (
      SELECT doc_id, dl, token, count(*) AS tf
      FROM (SELECT doc_id, dl, unnest(toks) AS token FROM d2)
      WHERE token IN ('dup', 'join', 'hash')
      GROUP BY doc_id, dl, token),
    dfs AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    scored AS (
      SELECT tf.doc_id,
        ((((corpus.n_docs - dfs.df) * $S) // (dfs.df + 1))
         * ((tf.tf * 220 * $S * $S)
            // (tf.tf * 100 * $S
               + 120 * ((25 * $S + 75 * ((tf.dl * $S * corpus.n_docs) // corpus.t_tokens)) // 100))))
        // $S AS contrib
      FROM tf JOIN dfs ON tf.token = dfs.token CROSS JOIN corpus),
    per_doc AS (
      SELECT doc_id, sum(contrib) AS bm25_s, count(*) AS n_terms_hit
      FROM scored GROUP BY doc_id),
    ranked AS (
      SELECT doc_id, CAST(bm25_s AS BIGINT) AS bm25_s, n_terms_hit,
        CAST(row_number() OVER (ORDER BY bm25_s DESC, doc_id ASC) AS BIGINT) AS rank
      FROM per_doc)"""

  private val bm25Oracle = s"""
    WITH $bm25Ctes
    SELECT doc_id, bm25_s, n_terms_hit, rank FROM ranked WHERE rank <= 10
    ORDER BY rank ASC NULLS FIRST"""

  private val ArmTopK = 20

  /** HYBRID RETRIEVAL via reciprocal-rank fusion (added round 12 batch 3)
    * — the serving pattern every modern retrieval stack runs: a LEXICAL
    * arm (the shared BM25 ranking, top-[[ArmTopK]]) and a SEMANTIC arm
    * (cosine to a query embedding — doc 0's vector stands in for the
    * encoded query; doc_id ≡ vec_id per the multimodal join contract),
    * fused by RRF: score = Σ_arms 10^6 div (60 + rank). Integer division
    * keeps fusion exact; 60 is the canonical RRF constant. Documents
    * surfaced by only one arm keep that arm's contribution (full outer
    * join over the two top-k lists — the standard formulation).
    *
    * Scale: each arm ends in a bounded top-k (the semantic arm through
    * `orderBy.limit` = TakeOrderedAndProject, distributed partial top-k
    * then a k-row merge — its row_number window ranks the 20-row result,
    * never the corpus); fusion then touches ≤ 2k rows. The corpus-sized
    * work is one scan per arm, both reusing shared leaves/stages.
    */
  private def retrievalHybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val lex = bm25Ranked(spark, sfDir, ArmTopK)
      .select($"doc_id", $"rank".as("rank_lex"))
    val qv = Catalog.load(spark, sfDir, "embeddings")
      .filter($"vec_id" === 0L).select($"embedding".as("q_emb"))
    val semTop = Catalog.load(spark, sfDir, "embeddings")
      .filter($"vec_id" =!= 0L)
      .crossJoin(broadcast(qv))
      .select($"vec_id".as("doc_id"),
        round(expr("graft_cosine(embedding, q_emb)"), 4).as("cs"))
      .orderBy($"cs".desc, $"doc_id".asc).limit(ArmTopK)
    val sem = semTop
      .withColumn("rank_sem", row_number().over(
        Window.orderBy($"cs".desc, $"doc_id".asc)).cast("long"))
      .select($"doc_id", $"rank_sem")
    val fused = lex.join(sem, Seq("doc_id"), "full")
      .withColumn("rrf_s",
        coalesce(expr(s"$S div (60 + rank_lex)"), lit(0L)) +
          coalesce(expr(s"$S div (60 + rank_sem)"), lit(0L)))
    fused
      .withColumn("rank", row_number().over(
        Window.orderBy($"rrf_s".desc, $"doc_id".asc)).cast("long"))
      .filter($"rank" <= 10)
      .select($"doc_id", $"rank_lex", $"rank_sem", $"rrf_s", $"rank")
      .orderBy($"rank".asc_nulls_first)
  }

  private val retrievalHybridRrfOracle = {
    def zipdot(a: String, b: String) = s"""(
      SELECT sum(CAST(r[1] AS DOUBLE) * CAST(r[2] AS DOUBLE))
      FROM (SELECT unnest(list_zip($a, $b)) AS r))"""
    s"""
    WITH $bm25Ctes,
    lex AS (
      SELECT doc_id, rank AS rank_lex FROM ranked WHERE rank <= $ArmTopK),
    qv AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
    sem0 AS (
      SELECT e.vec_id AS doc_id,
        round(${zipdot("e.embedding", "qv.q_emb")}
              / (sqrt(${zipdot("e.embedding", "e.embedding")})
                 * sqrt(${zipdot("qv.q_emb", "qv.q_emb")})), 4) AS cs
      FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0),
    sem AS (
      SELECT doc_id, rank_sem FROM (
        SELECT doc_id, CAST(row_number() OVER
          (ORDER BY cs DESC, doc_id ASC) AS BIGINT) AS rank_sem
        FROM sem0) WHERE rank_sem <= $ArmTopK),
    fused AS (
      SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
        l.rank_lex, s.rank_sem,
        coalesce($S // (60 + l.rank_lex), 0)
          + coalesce($S // (60 + s.rank_sem), 0) AS rrf_s
      FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id)
    SELECT doc_id, rank_lex, rank_sem, CAST(rrf_s AS BIGINT) AS rrf_s, rank
    FROM (
      SELECT *, CAST(row_number() OVER
        (ORDER BY rrf_s DESC, doc_id ASC) AS BIGINT) AS rank
      FROM fused)
    WHERE rank <= 10
    ORDER BY rank ASC NULLS FIRST"""
  }

  /** Per-document top-3 keywords by scaled-integer TF-IDF (demo slice:
    * doc_id < 50; df is computed over the FULL corpus first — the slice
    * bounds output size, not statistics). tfidf_s = tf × ((N × 10^6) // df).
    */
  private def keywordTfidf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = docTokens(spark, sfDir)
    val tf = toks.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    val corpus = Catalog.load(spark, sfDir, "documents")
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy($"doc_id")
      .orderBy($"tfidf_s".desc, $"token".asc)
    tf.filter($"doc_id" < 50)
      // df_ is vocabulary-sized (grows with the corpus) — count-gated.
      .join(gatedBroadcast(df_), Seq("token"))
      .crossJoin(broadcast(corpus))
      .withColumn("tfidf_s", expr(s"tf * ((n_docs * $S) div df)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"doc_id", $"token", $"tf", $"tfidf_s", $"rank")
      .orderBy($"doc_id".asc_nulls_first, $"rank".asc_nulls_first)
  }

  private val keywordTfidfOracle = s"""
    WITH $docTokensSql,
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
    dfs AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    corpus AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf,
        tf.tf * ((corpus.n_docs * $S) // dfs.df) AS tfidf_s
      FROM tf JOIN dfs ON tf.token = dfs.token CROSS JOIN corpus
      WHERE tf.doc_id < 50),
    ranked AS (
      SELECT *, CAST(row_number() OVER
        (PARTITION BY doc_id ORDER BY tfidf_s DESC, token ASC) AS BIGINT) AS rank
      FROM scored)
    SELECT doc_id, token, tf, tfidf_s, rank FROM ranked WHERE rank <= 3
    ORDER BY doc_id ASC NULLS FIRST, rank ASC NULLS FIRST"""

  /** Int8 scalar quantization + quantized top-k: each embedding is
    * quantized per-vector to 0..255 (floor((x-mn)·255/(mx-mn)), an exact
    * BIGINT), then the 10 probe vectors rank candidates by quantized dot
    * product — an exact integer, so no float-parity risk anywhere. The
    * float-cosine rerank of survivors is q_sim_knn_bruteforce's job.
    * The per-element double arithmetic (sub/mul/div then floor) is written
    * with identical association on both engines, so the pre-floor doubles
    * are bit-identical.
    */
  private def simQuantized(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val q = Catalog.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding",
        array_min($"embedding").cast("double").as("mn"),
        array_max($"embedding").cast("double").as("mx"))
      .select($"vec_id",
        when($"mx" === $"mn", transform($"embedding", _ => lit(0L)))
          .otherwise(transform($"embedding", x =>
            least(lit(255L),
              floor(((x.cast("double") - $"mn") * lit(255.0)) / ($"mx" - $"mn"))
                .cast("long"))))
          .as("qvec"))
    val probes = q.filter($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"qvec".as("probe_q"))
    val cands = q.select($"vec_id".as("cand_id"), $"qvec".as("cand_q"))
    // graft_dot_long (plans.ArrayFold): one fused codegen'd loop —
    // the composed zip_with/aggregate form is CodegenFallback and allocates
    // the product array per pair. Integer sum ⇒ identical results.
    val scored = cands.join(broadcast(probes), $"cand_id" =!= $"probe_id")
      .select($"probe_id", $"cand_id",
        expr("graft_dot_long(probe_q, cand_q)").as("qdot"))
    val w = Window.partitionBy($"probe_id")
      .orderBy($"qdot".desc, $"cand_id".asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .orderBy($"probe_id".asc_nulls_first, $"rank".asc_nulls_first)
  }

  private val simQuantizedOracle = s"""
    WITH base AS (
      SELECT vec_id, embedding,
        CAST(list_min(embedding) AS DOUBLE) AS mn,
        CAST(list_max(embedding) AS DOUBLE) AS mx
      FROM embeddings),
    q AS (
      SELECT vec_id,
        CASE WHEN mx = mn THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        ELSE list_transform(embedding, x ->
          least(CAST(255 AS BIGINT),
            CAST(floor(((CAST(x AS DOUBLE) - mn) * 255.0) / (mx - mn)) AS BIGINT)))
        END AS qvec
      FROM base),
    scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        (SELECT CAST(sum(r[1] * r[2]) AS BIGINT)
         FROM (SELECT unnest(list_zip(p.qvec, c.qvec)) AS r)) AS qdot
      FROM q p JOIN q c ON c.vec_id <> p.vec_id
      WHERE p.vec_id < 10),
    ranked AS (
      SELECT *, CAST(row_number() OVER
        (PARTITION BY probe_id ORDER BY qdot DESC, cand_id ASC) AS BIGINT) AS rank
      FROM scored)
    SELECT probe_id, cand_id, qdot, rank FROM ranked WHERE rank <= 3
    ORDER BY probe_id ASC NULLS FIRST, rank ASC NULLS FIRST"""

  /** Z-value expression — moved to [[Layout.zExpr]] (round 11) so the
    * write path shares the exact interleave arithmetic with this audit.
    */
  private def zExpr(x: String, y: String): String = Layout.zExpr(x, y)

  /** Z-order layout audit: orders keyed by (custkey mod 256, order-day mod
    * 256) are binned by their interleaved Z-value (16 bins); per bin the
    * spans of BOTH keys stay ≪ the 0..255 global span — the property that
    * makes Z-sorted files skippable on either predicate. A linear sort
    * bounds only its leading key; this output is the proof table.
    */
  private def layoutZorder(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val keyed = Catalog.load(spark, sfDir, "orders")
      .select(
        expr("CAST(o_custkey % 256 AS BIGINT)").as("x"),
        expr("CAST(datediff(o_orderdate, DATE'1992-01-01') % 256 AS BIGINT)")
          .as("y"))
      .withColumn("z", expr(zExpr("x", "y")))
    keyed
      .groupBy(expr("z div 4096").as("zbin"))
      .agg(
        count(lit(1)).as("n_rows"),
        min($"x").as("x_min"), max($"x").as("x_max"),
        min($"y").as("y_min"), max($"y").as("y_max"))
      .withColumn("x_span", $"x_max" - $"x_min")
      .withColumn("y_span", $"y_max" - $"y_min")
      .orderBy($"zbin".asc_nulls_first)
  }

  private val layoutZorderOracle: String = {
    val z = zExpr("x", "y").replace(" div ", " // ")
    s"""
    WITH keyed AS (
      SELECT CAST(o_custkey % 256 AS BIGINT) AS x,
             CAST(datediff('day', DATE '1992-01-01', o_orderdate) % 256 AS BIGINT) AS y
      FROM orders),
    zv AS (SELECT x, y, ($z) AS z FROM keyed)
    SELECT z // 4096 AS zbin, count(*) AS n_rows,
      min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max,
      max(x) - min(x) AS x_span, max(y) - min(y) AS y_span
    FROM zv GROUP BY 1
    ORDER BY zbin ASC NULLS FIRST"""
  }

  /** HILBERT-CURVE LAYOUT audit (added round 12 batch 3) — the locality
    * twin of q_layout_zorder on the SAME (custkey mod 256, order-day mod
    * 256) grid: per contiguous 4096-cell curve segment, row count and
    * per-axis min/max/span. Hilbert's recursive reflect-and-swap walk
    * never takes the long diagonal jumps Z-order's bit interleave does,
    * so segment spans bound BOTH axes at least as tightly — the property
    * that makes Hilbert the stronger clustering key for 2-D range
    * skipping (the spec checks full-grid bijection + unit-step
    * continuity, and that total Hilbert span ≤ total Z span on the
    * fixture). Index arithmetic is the classic xy→d loop unrolled to 8
    * bits as pure `div`/`%`/CASE integer expressions ([[Layout
    * .hilbertStep]]) — identical text both engines, the zExpr precedent
    * extended to a STATEFUL unroll (each bit's rotation feeds the next).
    *
    * Scale: the whole index is scan-side per-row arithmetic (8 chained
    * projections, whole-stage codegen'd, no shuffle); the only shuffle is
    * the |segments|-row audit agg — same posture as the z-order audit.
    */
  private def layoutHilbert(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val keyed = Catalog.load(spark, sfDir, "orders")
      .select(
        expr("CAST(o_custkey % 256 AS BIGINT)").as("x"),
        expr("CAST(datediff(o_orderdate, DATE'1992-01-01') % 256 AS BIGINT)")
          .as("y"))
    Layout.withHilbertD(keyed)
      .groupBy(expr("hd div 4096").as("hbin"))
      .agg(
        count(lit(1)).as("n_rows"),
        min($"x").as("x_min"), max($"x").as("x_max"),
        min($"y").as("y_min"), max($"y").as("y_max"))
      .withColumn("x_span", $"x_max" - $"x_min")
      .withColumn("y_span", $"y_max" - $"y_min")
      .orderBy($"hbin".asc_nulls_first)
  }

  private val layoutHilbertOracle: String = s"""
    WITH keyed AS (
      SELECT CAST(o_custkey % 256 AS BIGINT) AS x,
             CAST(datediff('day', DATE '1992-01-01', o_orderdate) % 256 AS BIGINT) AS y
      FROM orders),
    ${Layout.hilbertSqlCtes}
    SELECT hd // 4096 AS hbin, count(*) AS n_rows,
      min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max,
      max(x) - min(x) AS x_span, max(y) - min(y) AS y_span
    FROM g8 GROUP BY 1
    ORDER BY hbin ASC NULLS FIRST"""

  /** HILBERT WRITE + RANGE QUERY (added round 12 batch 5) — the serve
    * half of the Hilbert layout: orders materialized once (a [[graft.Memo]]
    * dir) partitioned by 4096-cell curve segment and hd-sorted within
    * files ([[Layout.hilbertOrders]]), then a 2-D box query answered
    * through RANGE DECOMPOSITION: the box's cells are indexed through the
    * same walk to find the segments it intersects
    * ([[Layout.hilbertSegmentsFor]]), the segment IN-list prunes
    * partitions, and the exact x/y bounds run as residual (pushed to the
    * parquet scan, where the hd-sort keeps row-group min/max tight). The
    * box is an ALIGNED 32×32 square, which on a Hilbert curve is ONE
    * contiguous 1024-cell run — exactly one segment partition is read
    * (spec-asserted), where the Z layout's same-size box straddles tiles.
    * Scale: decomposition is |box|-bounded driver work (the standard
    * Hilbert query-planning step); everything else is a pruned scan + one
    * small agg.
    */
  private def layoutHilbertWrite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dest = Layout.hilbertOrders(spark, sfDir)
    val segs = Layout.hilbertSegmentsFor(spark, 96, 127, 160, 191)
    spark.read.parquet(dest)
      .filter($"seg".isin(segs: _*) &&
        $"x".between(96, 127) && $"y".between(160, 191))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
      .orderBy($"o_orderpriority".asc_nulls_first)
  }

  private val layoutHilbertWriteOracle: String = s"""
    WITH keyed AS (
      SELECT o_orderpriority, o_totalprice,
        CAST(o_custkey % 256 AS BIGINT) AS x,
        CAST(datediff('day', DATE '1992-01-01', o_orderdate) % 256 AS BIGINT) AS y
      FROM orders)
    SELECT o_orderpriority, count(*) AS n_orders,
      ${Oracle.dsum("o_totalprice")} AS revenue
    FROM keyed
    WHERE x BETWEEN 96 AND 127 AND y BETWEEN 160 AND 191
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority ASC NULLS FIRST"""

  /** ZONE-MAP DATA SKIPPING (added round 12 batch 8) — the file-level
    * min/max pruning every lakehouse serves range predicates with (Delta
    * per-file stats, Iceberg manifests), distinct from both partition
    * pruning (q_source_partitioned_roundtrip — directory values) and
    * Z/Hilbert clustering (multi-dim tiles): lineitem is range-clustered
    * by shipdate once per JVM with a file-level min/max manifest built at
    * write time ([[Layout.zonemapLineitem]]); a 3-month range query plans
    * against the MANIFEST (pure driver arithmetic over |files| rows — no
    * data file opens), reads only the overlapping files, and applies the
    * exact bounds as a pushed residual. The spec asserts the pruned set
    * is a strict subset of the files and that skipped files cannot hold
    * matches (manifest completeness); the oracle reads the ORIGINAL
    * table — layout independence is the correctness contract.
    */
  private def layoutZonemapSkip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val lo = "1995-06-01"
    val hi = "1995-08-31"
    val files = Layout.zonemapFilesFor(spark, sfDir, lo, hi)
    spark.read.parquet(files: _*)
      .filter($"l_shipdate" >= lit(lo).cast("timestamp") &&
        $"l_shipdate" <= lit(hi).cast("timestamp"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"), dsum($"l_extendedprice").as("revenue"))
      .orderBy($"l_returnflag".asc_nulls_first)
  }

  private val layoutZonemapSkipOracle: String = s"""
    SELECT l_returnflag, count(*) AS n_rows,
      ${Oracle.dsum("l_extendedprice")} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
      AND l_shipdate <= TIMESTAMP '1995-08-31 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag ASC NULLS FIRST"""

  /** Trailing 7-day MEDIAN of global daily revenue — the robust twin of
    * q_win_moving_avg. Output starts at the 7th day so every frame holds
    * exactly 7 values: an odd count means the median is a data element
    * (no interpolation), so cross-engine parity needs no rounding — Spark's
    * `percentile` and DuckDB's `median` would interpolate even counts with
    * differently-associated expressions. The ordered-only window runs over
    * the |days| (~2.4k) pre-aggregated series, bounded at any scale.
    */
  private def winMovingMedian(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Catalog.load(spark, sfDir, "orders")
      .groupBy(date_trunc("day", $"o_orderdate").as("day"))
      .agg(dsum($"o_totalprice").as("rev"))
    val wOrd = Window.orderBy($"day".asc)
    daily
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("med7",
        expr("percentile(rev, 0.5)").over(wOrd.rowsBetween(-6, 0)))
      .filter($"rn" >= 7)
      .select($"day", $"rev", $"med7")
      .orderBy($"day".asc_nulls_first)
  }

  private val winMovingMedianOracle = s"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             ${Oracle.dsum("o_totalprice")} AS rev
      FROM orders GROUP BY 1),
    win AS (
      SELECT day, rev,
        row_number() OVER (ORDER BY day ASC) AS rn,
        median(rev) OVER (ORDER BY day ASC ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
      FROM daily)
    SELECT day, rev, med7 FROM win WHERE rn >= 7
    ORDER BY day ASC NULLS FIRST"""

  /** Layout compaction graded end-to-end ([[Layout.compact]]): rewrite
    * lineitem into ~256 KB size-targeted files (a real shuffle + parquet
    * write, memoized per JVM like the roundtrip scratch), then answer a
    * grouped exact-sum audit FROM THE COMPACTED COPY while the oracle reads
    * the original file — layout-independence IS the correctness contract of
    * a compaction operator, so the hash check proves the rewrite preserved
    * every row. Sums are exact (BIGINT / DECIMAL(18,6)), counts distinct
    * included so dropped-or-duplicated rows cannot cancel.
    */
  private def layoutCompact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = Layout.compactedLineitem(spark, sfDir)
    spark.read.parquet(dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct($"l_orderkey").as("n_orders"),
        sum($"l_quantity".cast("bigint")).as("sum_qty"),
        dsum($"l_extendedprice").as("sum_price"),
        sum(($"l_discount" * 10000).cast("bigint")).as("sum_disc_bp"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  private val layoutCompactOracle = s"""
    SELECT l_returnflag, l_linestatus,
      count(*) AS n_rows,
      count(DISTINCT l_orderkey) AS n_orders,
      CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      ${Oracle.dsum("l_extendedprice")} AS sum_price,
      CAST(sum(CAST(l_discount * 10000 AS BIGINT)) AS BIGINT) AS sum_disc_bp
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""

  /** The WRITE half of the z-order story (added round 11; the interleave
    * arithmetic audit is q_layout_zorder): answer a 2-D range query —
    * order stats over a 16×16 (zx, zy) grid window — from the Z-ORDERED
    * copy [[Layout.zorderedOrders]] writes once per JVM, while the ORACLE
    * reads the original un-clustered table. Layout-independence IS the
    * correctness contract (the q_layout_compact treatment applied to
    * clustering); the skipping proof — every aligned 64×64 tile bounds
    * BOTH axes 4× tighter than the global span, and the zx/zy range
    * predicates reach the parquet scan as PushedFilters — is asserted in
    * RetrievalSpec against the written files themselves.
    */
  private def layoutZorderWrite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dest = Layout.zorderedOrders(spark, sfDir)
    spark.read.parquet(dest)
      .filter($"zx".between(32, 47) && $"zy".between(64, 79))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
      .orderBy($"o_orderpriority".asc_nulls_first)
  }

  private val layoutZorderWriteOracle: String = s"""
    WITH keyed AS (
      SELECT o_orderpriority, o_totalprice,
        CAST(o_custkey % 256 AS BIGINT) AS zx,
        CAST(datediff('day', DATE '1992-01-01', o_orderdate) % 256 AS BIGINT) AS zy
      FROM orders)
    SELECT o_orderpriority, count(*) AS n_orders,
      ${Oracle.dsum("o_totalprice")} AS revenue
    FROM keyed
    WHERE zx BETWEEN 32 AND 47 AND zy BETWEEN 64 AND 79
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority ASC NULLS FIRST"""

  override val queries: Vector[Q] = Vector(
    Q("q_layout_compact", layoutCompact, Some(layoutCompactOracle)),
    Q("q_layout_zorder_write", layoutZorderWrite,
      Some(layoutZorderWriteOracle)),
    Q("q_text_inverted_index", invertedIndex, Some(invertedIndexOracle)),
    Q("q_text_bm25", bm25, Some(bm25Oracle)),
    Q("q_retrieval_hybrid_rrf", retrievalHybridRrf,
      Some(retrievalHybridRrfOracle)),
    Q("q_text_keyword_tfidf", keywordTfidf, Some(keywordTfidfOracle)),
    Q("q_sim_quantized", simQuantized, Some(simQuantizedOracle)),
    Q("q_layout_zorder", layoutZorder, Some(layoutZorderOracle)),
    Q("q_layout_hilbert", layoutHilbert, Some(layoutHilbertOracle)),
    Q("q_layout_hilbert_write", layoutHilbertWrite,
      Some(layoutHilbertWriteOracle), warm = true),
    Q("q_layout_zonemap_skip", layoutZonemapSkip,
      Some(layoutZonemapSkipOracle), warm = true),
    Q("q_win_moving_median", winMovingMedian, Some(winMovingMedianOracle)),
  )
}
