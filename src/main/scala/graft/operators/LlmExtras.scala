package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Catalog, Memo, Q, QueryPack}
import graft.Dsl._

/** Training-data-pipeline operators beyond SURVEY §2.J's core set (declared
  * as §2.J2): language ID, quality scoring, document fingerprinting, SimHash
  * near-dup, LSH-bucketed ANN, and a multimodal binary family whose decode
  * parses REAL PNG/JPEG/WebP header bytes with builtin expressions. All
  * heuristics use pure integer/string arithmetic mirrored verbatim in the
  * oracle SQL.
  *
  * Scale notes (100 TB posture):
  *  - Everything per-document is a narrow projection or an explode feeding a
  *    map-side-combined aggregation keyed by doc_id — no global stage.
  *  - SimHash candidate pairing joins on 16-bit bands (union of two
  *    equi-joins), never all-pairs; Hamming distance filters the candidates.
  *  - The ANN query joins probes to candidates on an 8-bit hyperplane-LSH
  *    bucket — the "scan only the bucket" scale path vs q_sim_knn_bruteforce's
  *    full scan — then reranks the bucket exactly.
  */
object LlmExtras extends QueryPack {

  private def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  private val normTextSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Exact occurrence count of literal `w` in `s` via length arithmetic —
    * identical semantics in both engines (replace is literal on both).
    */
  private def occ(s: Column, w: String): Column =
    ((length(s) - length(regexp_replace(s, java.util.regex.Pattern.quote(w), "")))
      / w.length).cast("long")

  private def occSql(s: String, w: String): String =
    s"CAST((length($s) - length(replace($s, '$w', ''))) / ${w.length} AS BIGINT)"

  // occ uses literal replace on the Spark side too (regexp with quoted
  // pattern == literal), so the two sides agree even for regex metachars.

  private def langid(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val padded = concat(lit(" "), normText($"text"), lit(" "))
    val scores = Seq(
      "en" -> Seq(" the ", " a ", " of "),
      "de" -> Seq(" der ", " und ", " die "),
      "es" -> Seq(" el ", " y ", " los "),
      "fr" -> Seq(" le ", " et ", " les "))
    val df = Catalog.load(spark, sfDir, "documents")
      .select(($"doc_id" +: $"lang".as("labeled_lang") +:
        scores.map { case (l, ws) =>
          ws.map(occ(padded, _)).reduce(_ + _).as(s"s_$l")
        }): _*)
    // argmax with fixed tie order en > de > es > fr (first wins ties).
    df.withColumn("predicted",
        when($"s_en" >= $"s_de" && $"s_en" >= $"s_es" && $"s_en" >= $"s_fr", "en")
          .when($"s_de" >= $"s_es" && $"s_de" >= $"s_fr", "de")
          .when($"s_es" >= $"s_fr", "es")
          .otherwise("fr"))
      .orderBy($"doc_id".asc_nulls_first)
  }

  private val langidSql = {
    val p = s"concat(' ', $normTextSql, ' ')"
    def sc(ws: Seq[String]) = ws.map(occSql(p, _)).mkString("(", " + ", ")")
    s"""
      WITH s AS (
        SELECT doc_id, lang AS labeled_lang,
          ${sc(Seq(" the ", " a ", " of "))} AS s_en,
          ${sc(Seq(" der ", " und ", " die "))} AS s_de,
          ${sc(Seq(" el ", " y ", " los "))} AS s_es,
          ${sc(Seq(" le ", " et ", " les "))} AS s_fr
        FROM documents)
      SELECT *,
        CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
             WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_es >= s_fr THEN 'es'
             ELSE 'fr' END AS predicted
      FROM s ORDER BY doc_id ASC NULLS FIRST"""
  }

  /** LANGUAGE-ID CONFUSION MATRIX (round 13 batch 18) — the eval frame
    * for [[langid]]'s stopword-score classifier against the corpus's
    * labeled `lang` column: per (labeled, predicted) cell the document
    * count plus each cell's share of its labeled class in exact ppm —
    * the per-class recall diagonal a curation pipeline watches before
    * trusting the classifier to route documents. Reuses the classifier
    * frame verbatim (one definition, the qualityScore sharing rule), so
    * the eval can never drift from what q_text_langid grades.
    *
    * Scale: the classifier is scan-side arithmetic; the matrix is one
    * map-side-combined agg bounded by |langs|² cells.
    */
  private def langidEval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = langid(spark, sfDir)
      .groupBy($"labeled_lang", $"predicted")
      .agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy($"labeled_lang")
      .agg(sum($"n_docs").as("n_labeled"))
    cells.join(broadcast(totals), Seq("labeled_lang"))
      .select($"labeled_lang", $"predicted", $"n_docs", $"n_labeled",
        expr("n_docs * 1000000 div n_labeled").as("share_ppm"))
      .orderBy($"labeled_lang".asc_nulls_first, $"predicted".asc_nulls_first)
  }

  private val langidEvalSql = s"""
    WITH pred AS ($langidSql),
    cells AS (
      SELECT labeled_lang, predicted, count(*) AS n_docs
      FROM pred GROUP BY 1, 2),
    totals AS (
      SELECT labeled_lang, CAST(sum(n_docs) AS BIGINT) AS n_labeled
      FROM cells GROUP BY 1)
    SELECT c.labeled_lang, c.predicted, c.n_docs, t.n_labeled,
      CAST(c.n_docs * 1000000 // t.n_labeled AS BIGINT) AS share_ppm
    FROM cells c JOIN totals t ON c.labeled_lang = t.labeled_lang
    ORDER BY c.labeled_lang ASC NULLS FIRST, predicted ASC NULLS FIRST"""

  /** The composite quality score of q_text_quality, shared with the
    * corpus-curation pack (q_corpus_quality_bins sorts the corpus by it) —
    * one definition so the gate and the binning can never drift.
    */
  private[operators] def qualityScore(text: Column): Column = {
    val nToks = size(split(normText(text), " ")).cast("long")
    round(least(lit(1.0), nToks.cast("double") / 50)
      * (lit(1.0) - length(regexp_replace(text, "[a-z0-9 ]", ""))
          .cast("double") / length(text)), 4)
  }

  private[operators] val qualityScoreSql: String = {
    val nToks = s"CAST(len(string_split($normTextSql, ' ')) AS BIGINT)"
    val punct =
      "CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text)"
    s"round(least(1.0, CAST($nToks AS DOUBLE) / 50) * (1.0 - $punct), 4)"
  }

  private def quality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val norm = normText($"text")
    val nToks = size(split(norm, " ")).cast("long")
    val padded = concat(lit(" "), norm, lit(" "))
    val stops = Seq(" the ", " a ", " of ", " and ", " to ")
    val nStop = stops.map(occ(padded, _)).reduce(_ + _)
    Catalog.load(spark, sfDir, "documents")
      .select(
        $"doc_id",
        length($"text").cast("long").as("len"),
        nToks.as("n_tokens"),
        round(length(regexp_replace($"text", "[a-z0-9 ]", "")).cast("double")
          / length($"text"), 4).as("punct_ratio"),
        round(length(regexp_replace(norm, " ", "")).cast("double") / nToks, 4)
          .as("avg_tok_len"),
        round(nStop.cast("double") / nToks, 4).as("stop_ratio"),
        qualityScore($"text").as("quality"))
      .orderBy($"doc_id".asc_nulls_first)
  }

  private val qualitySql = {
    val norm = normTextSql
    val p = s"concat(' ', $norm, ' ')"
    val nToks = s"CAST(len(string_split($norm, ' ')) AS BIGINT)"
    val nStop = Seq(" the ", " a ", " of ", " and ", " to ")
      .map(occSql(p, _)).mkString("(", " + ", ")")
    val punct = s"CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text)"
    s"""
      SELECT doc_id,
        CAST(length(text) AS BIGINT) AS len,
        $nToks AS n_tokens,
        round($punct, 4) AS punct_ratio,
        round(CAST(length(replace($norm, ' ', '')) AS DOUBLE) / $nToks, 4) AS avg_tok_len,
        round(CAST($nStop AS DOUBLE) / $nToks, 4) AS stop_ratio,
        $qualityScoreSql AS quality
      FROM documents ORDER BY doc_id ASC NULLS FIRST"""
  }

  /** Sum of character codes of a token — lambda over an attribute, so the
    * capture is cheap (see LlmPipeline.shingles on lambda re-evaluation).
    */
  private def sumAscii(tok: Column): Column =
    aggregate(transform(split(tok, ""), c => ascii(c).cast("long")),
      lit(0L), (acc, x) => acc + x)

  private val sumAsciiSql =
    "list_aggregate(list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT)), 'sum')"

  /** Sliding-window document chunking (added round 10 close) — the
    * context-length splitter every pretraining/RAG corpus pass needs:
    * 128-token chunks with 16-token overlap (stride 112), each row one
    * chunk with its reconstructed text. The fan-out is bounded by
    * ceil(n_tokens/stride) per document and happens INSIDE the scan stage
    * (tokenize once into an array column, explode the ~n/112-element
    * start-offset sequence, slice the cached array) — no shuffle anywhere
    * except the output sort, so at 100 TB the chunker is a pure map over
    * the corpus. A trailing chunk shorter than the overlap still emits
    * (standard behavior; a tail-merge variant would change only the
    * sequence bound). Integer arithmetic end-to-end: chunk ids, offsets
    * and lengths cannot drift cross-engine.
    */
  /** Core chunker over (doc_id, text): shared by the graded query and the
    * overlap-boundary spec (fixture docs are mostly single-chunk, so the
    * multi-chunk arithmetic is pinned on synthetic long docs in
    * Round10CloseSpec).
    */
  private[graft] def chunkDocs(docs: DataFrame, chunkLen: Long,
                               stride: Long): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", split(normText($"text"), " ").as("toks"))
      .withColumn("n", size($"toks").cast("long"))
      .select($"doc_id", $"toks", $"n",
        explode(sequence(lit(0L), $"n" - 1L, lit(stride))).as("tok_start"))
      .select(
        $"doc_id",
        ($"tok_start" / stride).cast("long").as("chunk_id"),
        $"tok_start",
        least(lit(chunkLen), $"n" - $"tok_start").as("n_toks"),
        array_join(
          slice($"toks", ($"tok_start" + 1L).cast("int"),
            least(lit(chunkLen), $"n" - $"tok_start").cast("int")), " ")
          .as("chunk_text"))
      .orderBy($"doc_id".asc_nulls_first, $"chunk_id".asc_nulls_first)
  }

  private def textChunk(spark: SparkSession, sfDir: String): DataFrame =
    chunkDocs(Catalog.load(spark, sfDir, "documents"), 128L, 112L)

  private val textChunkSql = s"""
    WITH t AS (
      SELECT doc_id, string_split($normTextSql, ' ') AS toks,
        CAST(len(string_split($normTextSql, ' ')) AS BIGINT) AS n
      FROM documents),
    c AS (
      SELECT doc_id, toks, n, unnest(range(0, n, 112)) AS tok_start
      FROM t)
    SELECT doc_id,
      tok_start // 112 AS chunk_id,
      tok_start,
      least(128, n - tok_start) AS n_toks,
      array_to_string(toks[tok_start + 1 : tok_start + least(128, n - tok_start)], ' ')
        AS chunk_text
    FROM c
    ORDER BY doc_id ASC NULLS FIRST, chunk_id ASC NULLS FIRST"""

  /** Positional token-hash document fingerprint (order-sensitive, unlike a
    * bag-of-tokens hash): fp = sum((pos+1) * tokenhash) mod p.
    *
    * Since round 10 close this runs through the native codegen'd
    * `graft_fingerprint` expression ([[graft.plans.Fingerprint]]) — one
    * allocation-free pass per document inside whole-stage codegen, replacing
    * the posexplode (~200× row fan-out) + interpreted higher-order sumAscii
    * + regroup-by-doc SHUFFLE of the composed form. Bit-identical by
    * construction (the spec proves it against the retained composed
    * formulation), so the oracle is unchanged.
    */
  private def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Catalog.load(spark, sfDir, "documents")
      .select($"doc_id",
        call_function("graft_fingerprint", normText($"text")).as("f"))
      .select($"doc_id", $"f".getItem(0).as("n_tokens"),
        $"f".getItem(1).as("fingerprint"))
      .orderBy($"doc_id".asc_nulls_first)
  }

  /** The pre-round-10 composed formulation, kept as the parity witness for
    * [[graft.plans.Fingerprint]] (FingerprintExprSpec asserts bit-identical
    * output on the fixture corpus plus adversarial edge cases).
    */
  private[graft] def fingerprintComposed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", posexplode(split(normText($"text"), " ")).as(Seq("pos", "tok")))
    val th = (lit(31L) * length($"tok") + sumAscii($"tok")) * lit(2654435761L) % 1000000007L
    // Each contribution is reduced mod p BEFORE the sum so partial sums stay
    // ~n_tokens * 1e9 << Long.Max even for billion-token documents — the
    // unreduced form overflows int64 at ~1e5 tokens (ADVICE r2).
    toks
      .select($"doc_id", ((($"pos" + 1) * th) % 1000000007L).as("contrib"))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        (sum($"contrib") % 1000000007L).as("fingerprint"))
      .orderBy($"doc_id".asc_nulls_first)
  }

  private val fingerprintSql = s"""
      WITH toks AS (
        SELECT doc_id,
          generate_subscripts(string_split($normTextSql, ' '), 1) - 1 AS pos,
          unnest(string_split($normTextSql, ' ')) AS tok
        FROM documents)
      SELECT doc_id, count(*) AS n_tokens,
        CAST(sum(((pos + 1) * ((31 * length(tok) + $sumAsciiSql) * 2654435761 % 1000000007))
          % 1000000007) % 1000000007 AS BIGINT) AS fingerprint
      FROM toks GROUP BY doc_id ORDER BY doc_id ASC NULLS FIRST"""

  /** SimHash near-dup: 32-bit simhash over distinct token hashes, candidate
    * pairs via 16-bit band equi-joins, Hamming <= 6 confirms.
    */
  private def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", explode(split(normText($"text"), " ")).as("tok"))
      .distinct()
    // Second multiplier is kept small (1000003): (2^32 - 1) * 1000003 stays
    // far below Long.Max — a 2^31-scale multiplier would overflow int64,
    // which Spark 4's ANSI mode turns into a runtime error.
    val h0 = (lit(31L) * length($"tok") + sumAscii($"tok")) * lit(2654435761L) % lit(4294967296L)
    val h1 = h0.bitwiseXOR(shiftright(h0, 13))
    val h = (h1 * lit(1000003L) % lit(4294967296L))
    val hashed = toks.select($"doc_id",
      h.bitwiseXOR(shiftright(h, 16)).as("h"))
    // All 32 bit-sums in ONE aggregation pass (map-side combined) instead of
    // exploding tokens x 32 bit rows — the explode formulation shuffled 8M
    // rows at sf0.1 (measured 5 s); this shuffles one 33-column row per doc.
    // Sign rule: sum of +-1 over tokens > 0  <=>  2*popcount_j > n.
    val bitAggs = (0 until 32).map(j =>
      sum(expr(s"shiftright(h, $j) & 1")).as(s"b$j"))
    val sh = hashed.groupBy($"doc_id")
      .agg(count(lit(1)).as("n"), bitAggs: _*)
      .select($"doc_id",
        (0 until 32).map(j =>
          when(col(s"b$j") * 2 > $"n", lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
    // Dedup proper: docs sharing a simhash form one duplicate class; keep
    // the smallest doc_id as canonical. Linear in |docs| (one shuffle on the
    // simhash) — listing near-miss PAIRS instead would be quadratic in class
    // size, which this corpus's tiny shared vocabulary makes explosive
    // (measured 1.19M pairs at sf0.1).
    val w = Window.partitionBy($"simhash")
    sh.withColumn("canonical_id", min($"doc_id").over(w))
      .withColumn("class_size", count(lit(1)).over(w).cast("long"))
      .withColumn("is_dup", $"doc_id" =!= $"canonical_id")
      .select($"doc_id", $"simhash", $"canonical_id", $"class_size", $"is_dup")
      .orderBy($"doc_id".asc_nulls_first)
  }

  private val dedupSimhashSql = s"""
      WITH toks AS (
        SELECT DISTINCT doc_id, tok FROM (
          SELECT doc_id, unnest(string_split($normTextSql, ' ')) AS tok
          FROM documents)),
      h0 AS (
        SELECT doc_id,
          (31 * length(tok) + $sumAsciiSql) * 2654435761 % 4294967296 AS v
        FROM toks),
      h1 AS (SELECT doc_id, xor(v, v >> 13) AS v FROM h0),
      h2 AS (SELECT doc_id, v * 1000003 % 4294967296 AS v FROM h1),
      hashed AS (SELECT doc_id, xor(v, v >> 16) AS h FROM h2),
      bits AS (
        SELECT doc_id, j,
          sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM hashed CROSS JOIN range(32) t(j) GROUP BY doc_id, j),
      sh AS (
        SELECT doc_id,
          CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
            AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id)
      SELECT doc_id, simhash,
        min(doc_id) OVER (PARTITION BY simhash) AS canonical_id,
        CAST(count(*) OVER (PARTITION BY simhash) AS BIGINT) AS class_size,
        doc_id <> min(doc_id) OVER (PARTITION BY simhash) AS is_dup
      FROM sh
      ORDER BY doc_id ASC NULLS FIRST"""

  /** SIMHASH DEDUP EVALUATION (round 13) — the curation decision metric
    * behind "is the cheap fingerprint good enough?": a per-document
    * confusion matrix of [[dedupSimhash]]'s is_dup flag against the
    * exact normalized-text duplicate flag (q_dedup_exact's contract —
    * doc is a dup iff a smaller doc_id shares its norm_text). One row:
    * counts + precision/recall in exact ppm (−1 when the denominator is
    * empty, deterministically on both engines). Flag-level, not
    * pair-level, evaluation on purpose: simhash classes go quadratic in
    * class size when enumerated as pairs (measured 1.19M pairs at
    * sf0.1), while flags stay linear in |docs|.
    *
    * Scale: both flag frames are one groupBy/window over the corpus;
    * the comparison is a |docs|-row equi-join + ONE global agg.
    */
  private def dedupSimhashEval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sim = dedupSimhash(spark, sfDir).select($"doc_id", $"is_dup")
    val exact = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", normText($"text").as("nt"))
      .withColumn("exact_dup",
        $"doc_id" =!= min($"doc_id").over(Window.partitionBy($"nt")))
      .select($"doc_id", $"exact_dup")
    val conf = sim.join(exact, Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"is_dup" && $"exact_dup", 1L).otherwise(0L)).as("tp"),
        sum(when($"is_dup" && !$"exact_dup", 1L).otherwise(0L)).as("fp"),
        sum(when(!$"is_dup" && $"exact_dup", 1L).otherwise(0L)).as("fn"),
        sum(when(!$"is_dup" && !$"exact_dup", 1L).otherwise(0L)).as("tn"))
    conf.select($"n_docs", $"tp", $"fp", $"fn", $"tn",
      when($"tp" + $"fp" === 0L, lit(-1L))
        .otherwise(expr("tp * 1000000 div (tp + fp)")).as("precision_ppm"),
      when($"tp" + $"fn" === 0L, lit(-1L))
        .otherwise(expr("tp * 1000000 div (tp + fn)")).as("recall_ppm"))
  }

  private val dedupSimhashEvalSql = s"""
    WITH sim AS (
      SELECT doc_id, is_dup FROM ($dedupSimhashSql) s),
    exact AS (
      SELECT doc_id,
        doc_id <> min(doc_id) OVER (PARTITION BY nt) AS exact_dup
      FROM (SELECT doc_id, $normTextSql AS nt FROM documents) d),
    conf AS (
      SELECT count(*) AS n_docs,
        CAST(sum(CASE WHEN is_dup AND exact_dup THEN 1 ELSE 0 END)
          AS BIGINT) AS tp,
        CAST(sum(CASE WHEN is_dup AND NOT exact_dup THEN 1 ELSE 0 END)
          AS BIGINT) AS fp,
        CAST(sum(CASE WHEN NOT is_dup AND exact_dup THEN 1 ELSE 0 END)
          AS BIGINT) AS fn,
        CAST(sum(CASE WHEN NOT is_dup AND NOT exact_dup THEN 1 ELSE 0 END)
          AS BIGINT) AS tn
      FROM sim JOIN exact USING (doc_id))
    SELECT n_docs, tp, fp, fn, tn,
      CASE WHEN tp + fp = 0 THEN -1
        ELSE (tp * 1000000) // (tp + fp) END AS precision_ppm,
      CASE WHEN tp + fn = 0 THEN -1
        ELSE (tp * 1000000) // (tp + fn) END AS recall_ppm
    FROM conf"""

  /** Hyperplane-LSH ANN: 8 deterministic pseudo-random hyperplanes -> 8-bit
    * bucket; probes join candidates in the SAME bucket only, then exact
    * cosine rerank. The bucketed-scan scale path vs brute force.
    */
  private def simAnnLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Catalog.load(spark, sfDir, "embeddings")
    // Plane-b dot product as the NATIVE codegen'd `graft_dot` against a
    // LITERAL weight array. Two prior shapes both proved wrong: r8
    // posexploded 64 positions × 8 planes = 512 rows per vector through two
    // hash aggregations; the first r9 form folded with zip_with/aggregate —
    // higher-order functions never enter whole-stage codegen, and their
    // interpreted eval was stack-sampled at 95 s in the single scan task
    // when the JIT hadn't warmed it ([[graft.plans.ArrayFold]]).
    // The plane weights are row-INVARIANT (LCG on b*64+pos, dim fixed at
    // 64 for this op family), so they belong in a literal, not a per-row
    // `transform(sequence(...))` rebuild. Same index-order double
    // accumulation → identical dots, identical buckets.
    def planeDot(b: Int): Column = {
      val weights = (0 until 64).map(pos =>
        ((1103515245L * (b.toLong * 64 + pos) + 12345L) % 2001L - 1000L).toDouble)
      expr(s"graft_dot(embedding, array(${weights.mkString("D, ")}D))")
    }
    // The sign test runs on the dot ROUNDED to 6dp on both engines: the dot
    // is a double sum whose summation order differs between Spark and
    // DuckDB, so a dot within ~1 ULP of zero could otherwise bucket
    // differently (ADVICE r2). Rounding collapses both to the same value.
    val bucketCol = (0 until 8).map(b =>
      when(round(planeDot(b), 6) > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
    val withEmb = e.select($"vec_id", $"embedding", bucketCol.as("bucket"))
    val probes = withEmb.filter($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"bucket", $"embedding".as("p_emb"))
    val cands = withEmb
      .select($"vec_id".as("cand_id"), $"bucket", $"embedding".as("c_emb"))
    // Rerank with the native codegen'd cosine (see graft.plans).
    val scored = probes.join(cands, Seq("bucket"))
      .filter($"cand_id" =!= $"probe_id")
      .select($"probe_id", $"cand_id", $"bucket",
        round(expr("graft_cosine(p_emb, c_emb)"), 4).as("cos_sim"))
    val w = Window.partitionBy($"probe_id").orderBy($"cos_sim".desc, $"cand_id".asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .orderBy($"probe_id".asc_nulls_first, $"rank".asc_nulls_first)
  }

  private val simAnnLshSql = {
    val cos = s"""(
      SELECT sum(CAST(r[1] AS DOUBLE) * CAST(r[2] AS DOUBLE))
             / (sqrt(sum(CAST(r[1] AS DOUBLE) * CAST(r[1] AS DOUBLE)))
                * sqrt(sum(CAST(r[2] AS DOUBLE) * CAST(r[2] AS DOUBLE))))
      FROM (SELECT unnest(list_zip(p.embedding, c.embedding)) AS r))"""
    s"""
      WITH flat AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
               unnest(embedding) AS v
        FROM embeddings),
      dots AS (
        SELECT vec_id, b,
          sum(CAST(v AS DOUBLE) *
              CAST((1103515245 * (b * 64 + pos) + 12345) % 2001 - 1000 AS DOUBLE)) AS dot
        FROM flat CROSS JOIN range(8) t(b) GROUP BY vec_id, b),
      buckets AS (
        SELECT vec_id,
          CAST(sum(CASE WHEN round(dot, 6) > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
            AS BIGINT) AS bucket
        FROM dots GROUP BY vec_id),
      scored AS (
        SELECT pb.vec_id AS probe_id, cb.vec_id AS cand_id, pb.bucket,
          round($cos, 4) AS cos_sim
        FROM buckets pb
        JOIN buckets cb ON pb.bucket = cb.bucket AND cb.vec_id <> pb.vec_id
        JOIN embeddings p ON p.vec_id = pb.vec_id
        JOIN embeddings c ON c.vec_id = cb.vec_id
        WHERE pb.vec_id < 10),
      ranked AS (
        SELECT *, CAST(row_number() OVER
          (PARTITION BY probe_id ORDER BY cos_sim DESC, cand_id ASC) AS BIGINT) AS rank
        FROM scored)
      SELECT probe_id, cand_id, bucket, cos_sim, rank FROM ranked WHERE rank <= 3
      ORDER BY probe_id ASC NULLS FIRST, rank ASC NULLS FIRST"""
  }

  /** IVF index BUILD, materialized once per (application, sfDir) as two
    * memoized leaves (round 11 — the build/serve split the production
    * retrieval shape needs; the leaf machinery is [[graft.Memo]],
    * same pattern as the graph edge/label leaves):
    *
    *  - centroids leaf: cell → mean vector (tiny, |cells| rows) — 64 avg
    *    aggs assembled back into an array in ONE hash aggregation (the r8
    *    shape posexploded every vector into 64 rows and needed two aggs);
    *  - postings leaf: the cell-CLUSTERED copy of the corpus
    *    (cell, cand_id, c_emb), repartitioned by cell before the
    *    checkpoint so a probe's in-cell rerank reads co-located rows —
    *    this IS the inverted file; at 100 TB it is a cell-partitioned
    *    table written once and served many times.
    *
    * The label column serves as the inverted-file cell (at scale these are
    * k-means cells). Every probe batch after the first touches ONLY these
    * leaves — no centroid recompute, no full-corpus scan (spec-asserted on
    * the serve query's plan).
    */
  private[graft] def ivfCentroids(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Memo.leaf(spark, sfDir, "ivfCentroids") {
      Catalog.load(spark, sfDir, "embeddings").groupBy($"label")
        .agg(array((0 until 64).map(i =>
          avg(element_at($"embedding", i + 1).cast("double"))): _*)
          .as("centroid"))
    }
  }

  private[graft] def ivfPostings(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Memo.leaf(spark, sfDir, "ivfPostings") {
      Catalog.load(spark, sfDir, "embeddings")
        .select($"label".as("cell"), $"vec_id".as("cand_id"),
          $"embedding".as("c_emb"))
        .repartition($"cell")
    }
  }

  /** IVF probe over the index leaves: assign each probe in
    * `[loId, hiId)` to its nearest centroid by cosine, then rerank ONLY
    * that cell's postings via an equi-join on the cell id — the classic
    * scan-one-cell scale path, complementing the hyperplane-LSH bucketing
    * of q_sim_ann_lsh. Probe → centroid cosine uses the native codegen'd
    * graft_dot (float probe x double centroid, index-order double
    * accumulation mirrored in the oracle — same interpreted-HOF reason as
    * q_sim_ann_lsh's plane dots).
    */
  private def ivfProbe(spark: SparkSession, sfDir: String,
                       loId: Long, hiId: Long): DataFrame = {
    import spark.implicits._
    def dotFD(a: Column, b: Column): Column = call_function("graft_dot", a, b)
    val probes = Catalog.load(spark, sfDir, "embeddings")
      .filter($"vec_id" >= loId && $"vec_id" < hiId)
      .select($"vec_id".as("probe_id"), $"embedding".as("p_emb"))
    val assigned = probes.join(broadcast(ivfCentroids(spark, sfDir)))
      .select($"probe_id", $"p_emb", $"label",
        round(dotFD($"p_emb", $"centroid")
          / (sqrt(dotFD($"p_emb", $"p_emb"))
             * sqrt(dotFD($"centroid", $"centroid"))), 4).as("cc"))
    val wAssign = Window.partitionBy($"probe_id")
      .orderBy($"cc".desc, $"label".asc)
    val probeCell = assigned
      .withColumn("rn", row_number().over(wAssign)).filter($"rn" === 1)
      .select($"probe_id", $"p_emb", $"label".as("cell"))
    // Rerank inside the cell only (equi-join on the cell id against the
    // cell-clustered postings leaf).
    val scored = probeCell.join(ivfPostings(spark, sfDir), Seq("cell"))
      .filter($"cand_id" =!= $"probe_id")
      .select($"probe_id", $"cell", $"cand_id",
        round(expr("graft_cosine(p_emb, c_emb)"), 4).as("cos_sim"))
    val w = Window.partitionBy($"probe_id").orderBy($"cos_sim".desc, $"cand_id".asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .orderBy($"probe_id".asc_nulls_first, $"rank".asc_nulls_first)
  }

  private def simIvfAnn(spark: SparkSession, sfDir: String): DataFrame =
    ivfProbe(spark, sfDir, 0L, 10L)

  /** ANN RECALL@K EVALUATION (round 13) — the acceptance gate every
    * approximate index must pass before it replaces exact search: for
    * the probe batch, compare the IVF single-cell serve's top-3
    * ([[ivfProbe]], the approximate path) against the exact brute-force
    * top-3 over the FULL corpus (same rounded-cosine + cand-id tie
    * contract as q_sim_knn_bruteforce, so both sides are individually
    * hash-graded queries already), and report per-probe overlap and
    * recall in exact ppm. Both retrievals are deterministic rankings of
    * identical integers/4dp-grids, so the EVALUATION itself is
    * hash-exact — where a float recall harness could flap on ties.
    *
    * Scale: ground truth is the only corpus-wide pass (broadcast probe
    * batch × corpus, map-side `graft_cosine`, top-k window keyed by
    * probe); the ANN side touches one cell per probe by construction;
    * the set intersection joins two k·|probes|-row frames. Recall evals
    * always run on a probe SAMPLE — the corpus-sized brute force is paid
    * once per eval batch, never per query.
    */
  private def simAnnRecallEval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Catalog.load(spark, sfDir, "embeddings")
    val probes = e.filter($"vec_id" < 10L)
      .select($"vec_id".as("probe_id"), $"embedding".as("p_emb"))
    val scored = e.select($"vec_id".as("cand_id"), $"embedding".as("c_emb"))
      .join(broadcast(probes), $"cand_id" =!= $"probe_id")
      .select($"probe_id", $"cand_id",
        round(expr("graft_cosine(p_emb, c_emb)"), 4).as("cos_sim"))
    val wk = Window.partitionBy($"probe_id")
      .orderBy($"cos_sim".desc, $"cand_id".asc)
    val gt = scored.withColumn("rank", row_number().over(wk))
      .filter($"rank" <= 3).select($"probe_id", $"cand_id")
    val ann = ivfProbe(spark, sfDir, 0L, 10L)
      .select($"probe_id", $"cand_id")
    val hits = gt.join(ann, Seq("probe_id", "cand_id"))
      .groupBy($"probe_id").agg(count(lit(1)).as("n_hit"))
    gt.groupBy($"probe_id").agg(count(lit(1)).as("n_gt"))
      .join(hits, Seq("probe_id"), "left")
      .select($"probe_id", $"n_gt",
        coalesce($"n_hit", lit(0L)).as("n_hit"),
        expr("coalesce(n_hit, 0L) * 1000000 div n_gt").as("recall_ppm"))
      .orderBy($"probe_id".asc_nulls_first)
  }

  private val simAnnRecallEvalSql = {
    def zipdot(a: String, b: String) = s"""(
      SELECT sum(CAST(r[1] AS DOUBLE) * CAST(r[2] AS DOUBLE))
      FROM (SELECT unnest(list_zip($a, $b)) AS r))"""
    s"""
    WITH gt AS (
      SELECT probe_id, cand_id FROM (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
          row_number() OVER (PARTITION BY p.vec_id ORDER BY
            round(${zipdot("p.embedding", "c.embedding")}
              / (sqrt(${zipdot("p.embedding", "p.embedding")})
                 * sqrt(${zipdot("c.embedding", "c.embedding")})), 4) DESC,
            c.vec_id ASC) AS rank
        FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
        WHERE p.vec_id < 10) r WHERE rank <= 3),
    ann AS (
      SELECT probe_id, cand_id FROM (${simIvfSql(0L, 10L)}) a),
    hits AS (
      SELECT g.probe_id, count(*) AS n_hit
      FROM gt g JOIN ann a
        ON a.probe_id = g.probe_id AND a.cand_id = g.cand_id
      GROUP BY 1)
    SELECT g.probe_id, count(*) AS n_gt,
      CAST(coalesce(min(h.n_hit), 0) AS BIGINT) AS n_hit,
      (CAST(coalesce(min(h.n_hit), 0) AS BIGINT) * 1000000) // count(*)
        AS recall_ppm
    FROM gt g LEFT JOIN hits h ON h.probe_id = g.probe_id
    GROUP BY g.probe_id
    ORDER BY g.probe_id ASC NULLS FIRST"""
  }

  /** The SERVE half of the IVF split: a second probe batch answered
    * entirely from the persisted index leaves — the plan contains no
    * centroid aggregation and no full-corpus candidate scan, just the two
    * checkpointed leaves plus the 10-row probe slice (spec-asserted).
    */
  private def simIvfAnnServe(spark: SparkSession, sfDir: String): DataFrame =
    ivfProbe(spark, sfDir, 10L, 20L)

  private def simIvfSql(loId: Long, hiId: Long) = {
    def zipdot(a: String, b: String) = s"""(
      SELECT sum(CAST(r[1] AS DOUBLE) * CAST(r[2] AS DOUBLE))
      FROM (SELECT unnest(list_zip($a, $b)) AS r))"""
    s"""
      WITH flat AS (
        SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
               unnest(embedding) AS v
        FROM embeddings),
      cent AS (
        SELECT label,
          list_transform(list_sort(list({'pos': pos, 'c': c})), s -> s.c) AS centroid
        FROM (SELECT label, pos, sum(CAST(v AS DOUBLE)) / count(*) AS c
              FROM flat GROUP BY label, pos)
        GROUP BY label),
      assigned AS (
        SELECT p.vec_id AS probe_id, ct.label,
          round(${zipdot("p.embedding", "ct.centroid")}
                / (sqrt(${zipdot("p.embedding", "p.embedding")})
                   * sqrt(${zipdot("ct.centroid", "ct.centroid")})), 4) AS cc
        FROM embeddings p CROSS JOIN cent ct
        WHERE p.vec_id >= $loId AND p.vec_id < $hiId),
      probe_cell AS (
        SELECT probe_id, label AS cell FROM (
          SELECT *, row_number() OVER
            (PARTITION BY probe_id ORDER BY cc DESC, label ASC) AS rn
          FROM assigned) WHERE rn = 1),
      scored AS (
        SELECT pc.probe_id, pc.cell, c.vec_id AS cand_id,
          round(${zipdot("p.embedding", "c.embedding")}
                / (sqrt(${zipdot("p.embedding", "p.embedding")})
                   * sqrt(${zipdot("c.embedding", "c.embedding")})), 4) AS cos_sim
        FROM probe_cell pc
        JOIN embeddings p ON p.vec_id = pc.probe_id
        JOIN embeddings c ON c.label = pc.cell AND c.vec_id <> pc.probe_id),
      ranked AS (
        SELECT *, CAST(row_number() OVER
          (PARTITION BY probe_id ORDER BY cos_sim DESC, cand_id ASC) AS BIGINT) AS rank
        FROM scored)
      SELECT probe_id, cell, cand_id, cos_sim, rank FROM ranked WHERE rank <= 3
      ORDER BY probe_id ASC NULLS FIRST, rank ASC NULLS FIRST"""
  }

  /** Embedding-cosine near-duplicate pairs: the exact-verification stage of
    * vector dedup. Threshold 0.45 is fixture-calibrated — the synthetic
    * embeddings' most-similar pair is cos 0.51 and labels are uncorrelated
    * with cosine, so a production 0.95 cut would be vacuously empty here.
    * At 100 TB this exact all-pairs form runs AFTER candidate generation
    * (q_sim_ann_lsh / q_sim_ann_ivf); it is the verify stage, kept exact and
    * oracle-checkable.
    */
  private def dedupEmbeddingCosine(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Catalog.load(spark, sfDir, "embeddings")
    // The fixture is one parquet row-group → ONE scan partition, and the
    // non-equi join plans as BroadcastNestedLoopJoin over the STREAMED side's
    // partitions — unrepartitioned, all |a|x|b| cosines ran in a single task
    // (measured 3.4 s single-threaded at sf0.1). Spreading the streamed side
    // across the cluster parallelizes the quadratic verify stage; the
    // broadcast side is the candidate set and stays whole per task.
    val a = e.select($"vec_id".as("vec_a"), $"embedding".as("emb_a"))
      .repartition(spark.sparkContext.defaultParallelism)
    val b = e.select($"vec_id".as("vec_b"), $"embedding".as("emb_b"))
    // The threshold lives IN the join condition, AFTER the id conjunct:
    // written as a post-join filter, Catalyst pushes it into the NLJ
    // condition ahead of `vec_a < vec_b`, and the generated predicate then
    // evaluates the cosine for every ORDERED pair — 2x the necessary work
    // (conjuncts short-circuit in order). Survivors re-evaluate the cosine
    // once in the projection; at >= 0.45 they are a handful of rows.
    a.join(broadcast(b), $"vec_a" < $"vec_b" &&
        round(expr("graft_cosine(emb_a, emb_b)"), 4) >= 0.45)
      .select($"vec_a", $"vec_b",
        round(expr("graft_cosine(emb_a, emb_b)"), 4).as("cos_sim"))
      .orderBy($"vec_a".asc_nulls_first, $"vec_b".asc_nulls_first)
  }

  private val dedupEmbeddingCosineSql = s"""
      WITH pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          round(${cosinePairSql("a.embedding", "b.embedding")}, 4) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.45
      ORDER BY vec_a ASC NULLS FIRST, vec_b ASC NULLS FIRST"""

  private def cosinePairSql(a: String, b: String): String = s"""(
      SELECT sum(CAST(r[1] AS DOUBLE) * CAST(r[2] AS DOUBLE))
             / (sqrt(sum(CAST(r[1] AS DOUBLE) * CAST(r[1] AS DOUBLE)))
                * sqrt(sum(CAST(r[2] AS DOUBLE) * CAST(r[2] AS DOUBLE))))
      FROM (SELECT unnest(list_zip($a, $b)) AS r))"""

  /** The end-to-end corpus-cleaning pipeline in one query — the composition
    * story for the individual operators: normalize → quality-gate →
    * exact-dedup (keep min doc_id per normalized text) → per-(lang, source)
    * stats of the surviving corpus. Every stage is a narrow projection or a
    * doc-keyed aggregation; the only shuffles are the dedup window and the
    * final rollup.
    */
  private def corpusClean(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val norm = normText($"text")
    val nToks = size(split(norm, " ")).cast("long")
    val punct = length(regexp_replace($"text", "[a-z0-9 ]", "")).cast("double") /
      length($"text")
    val scored = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", $"lang", $"source", norm.as("norm_text"),
        nToks.as("n_tokens"), punct.as("punct_ratio"))
      .filter($"n_tokens" >= 20 && $"punct_ratio" < 0.1)
    val deduped = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy($"norm_text").orderBy($"doc_id".asc)))
      .filter($"rn" === 1)
    deduped.groupBy($"lang", $"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        round(sum($"punct_ratio".cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 4).as("avg_punct"))
      .orderBy($"lang".asc_nulls_first, $"source".asc_nulls_first)
  }

  private val corpusCleanSql = {
    val norm = normTextSql
    s"""
      WITH scored AS (
        SELECT doc_id, lang, source, $norm AS norm_text,
          CAST(len(string_split($norm, ' ')) AS BIGINT) AS n_tokens,
          CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
            / length(text) AS punct_ratio
        FROM documents),
      gated AS (
        SELECT * FROM scored WHERE n_tokens >= 20 AND punct_ratio < 0.1),
      deduped AS (
        SELECT * FROM (
          SELECT *, row_number() OVER
            (PARTITION BY norm_text ORDER BY doc_id ASC) AS rn
          FROM gated) WHERE rn = 1)
      SELECT lang, source, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        round(CAST(sum(CAST(punct_ratio AS DECIMAL(18,6))) AS DOUBLE)
          / count(*), 4) AS avg_punct
      FROM deduped GROUP BY lang, source
      ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST"""
  }

  // ---- Multimodal: REAL image header bytes, expression-level decode ----
  //
  // The scratch writes one image file per doc (doc_id < 64, the binsrc
  // bounded-collect precedent) whose first bytes are a REAL format header —
  // PNG signature + IHDR chunk with a genuine CRC32, JPEG SOI + JFIF APP0 +
  // SOF0, or WebP RIFF/VP8X with the canvas fields — with dimensions a
  // closed-form function of doc_id, followed by the doc's UTF-8 bytes as
  // the body. The graded decode then parses format/width/height FROM THE
  // BYTES with builtin expressions only (hex/substring/conv — whole-stage
  // codegen, no UDF): PNG reads the IHDR big-endian fields after checking
  // the 8-byte signature and chunk type, JPEG reads the APP0 length to
  // LOCATE SOF0 like a real segment scanner and checks the FFC0 marker,
  // WebP reassembles the little-endian 24-bit canvas fields and validates
  // the RIFF size against the file length. The oracle never sees the files:
  // it predicts every field from the same doc_id arithmetic the writer
  // used, so a single wrong byte offset or endianness flip hash-fails.
  //
  // Scale: binaryFile is a plain FileScan (files partition across tasks);
  // the decode touches only the first 40 bytes per file before the body
  // digest — at 100 TB this is the standard "sniff headers, defer pixels"
  // manifest pass, and the pixel-level work would ride the same rows as
  // mapInPandas/mapPartitions batches keyed by the manifest.

  private def pngHeader(w: Long, h: Long): Array[Byte] = {
    val td = java.nio.ByteBuffer.allocate(17)
    td.put("IHDR".getBytes("US-ASCII"))
    td.putInt(w.toInt).putInt(h.toInt)
    td.put(8.toByte).put(6.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    val crc = new java.util.zip.CRC32(); crc.update(td.array())
    val bb = java.nio.ByteBuffer.allocate(33)
    bb.put(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    bb.putInt(13).put(td.array()).putInt(crc.getValue.toInt)
    bb.array()
  }

  private def jpegHeader(w: Long, h: Long): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(39)
    bb.put(Array(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x10).map(_.toByte))
    bb.put("JFIF".getBytes("US-ASCII")).put(0.toByte)
    // version 1.1, aspect-ratio units, 1:1 density, no thumbnail
    bb.put(Array(0x01, 0x01, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00).map(_.toByte))
    bb.put(Array(0xFF, 0xC0, 0x00, 0x11, 0x08).map(_.toByte))
    bb.putShort(h.toShort).putShort(w.toShort)
    bb.put(3.toByte)
    bb.put(Array(0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01).map(_.toByte))
    bb.array()
  }

  private def webpHeader(w: Long, h: Long, bodyLen: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(30)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(22 + bodyLen)
    bb.put("WEBP".getBytes("US-ASCII"))
    bb.put("VP8X".getBytes("US-ASCII")).putInt(10)
    bb.put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    val wm = (w - 1).toInt; val hm = (h - 1).toInt
    bb.put((wm & 0xFF).toByte).put(((wm >> 8) & 0xFF).toByte)
      .put(((wm >> 16) & 0xFF).toByte)
    bb.put((hm & 0xFF).toByte).put(((hm >> 8) & 0xFF).toByte)
      .put(((hm >> 16) & 0xFF).toByte)
    bb.array()
  }

  /** Writes the image scratch once (a [[graft.Memo]] dir): doc_id < 64, format
    * doc_id mod 3 (png/jpg/webp), width 64+(id·7 mod 512), height
    * 64+(id·11 mod 512) — the SAME closed form the oracle predicts. */
  private def imgScratch(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "imgsrc") { d =>
      val docs = Catalog.load(spark, sfDir, "documents")
        .filter(col("doc_id") < 64).select(col("doc_id"), col("text")).collect()
      val p = java.nio.file.Paths.get(d)
      java.nio.file.Files.createDirectories(p)
      docs.foreach { r =>
        val id = r.getLong(0)
        val body = r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val w = 64L + (id * 7) % 512
        val h = 64L + (id * 11) % 512
        val hdr = (id % 3) match {
          case 0 => pngHeader(w, h)
          case 1 => jpegHeader(w, h)
          case _ => webpHeader(w, h, body.length)
        }
        java.nio.file.Files.write(p.resolve(s"doc_$id.img"), hdr ++ body)
      }
    }

  /** Shared decoded-metadata table: binaryFile scan of the image scratch,
    * header fields parsed from the real bytes with builtin expressions
    * (raise_error on any malformed header — a silent null would grade as a
    * missing row instead of failing loudly), body digest over the bytes
    * after the header. */
  private def binaryMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = imgScratch(spark, sfDir)
    decodeImageMeta(spark.read.format("binaryFile").load(dir)
      .select(
        regexp_extract($"path", "doc_(\\d+)\\.img$", 1).cast("long").as("doc_id"),
        octet_length($"content").cast("long").as("byte_len"),
        $"content"))
  }

  /** Spec hook: the image scratch directory (real header bytes). */
  private[graft] def imageScratchDir(spark: SparkSession, sfDir: String): String =
    imgScratch(spark, sfDir)

  /** Bounded JPEG segment walk (round 16, r15 VERDICT task 3): segments
    * the walk may SKIP via their big-endian length field — APP0-APP15
    * (JFIF/EXIF/ICC/Adobe), DQT, DHT, COM, DRI. Dimension-bearing stops
    * are SOF0/SOF1/SOF2 (baseline, extended sequential, progressive — all
    * share the (len, precision, height, width) payload layout). Anything
    * else — including entropy data where a marker should be — raises. */
  private val JpegSkippable: Seq[String] =
    (0x0 to 0xF).map(i => f"FFE$i%X") ++ Seq("FFDB", "FFC4", "FFFE", "FFDD")
  private val JpegSofMarkers = Seq("FFC0", "FFC1", "FFC2")
  private val JpegWalkCap = 8
  private val JpegSniffBytes = 4096

  /** The expression-only header decode over (doc_id, byte_len, content) —
    * package-visible so specs can drive it with crafted byte payloads
    * (including malformed ones, which must raise, not null out).
    *
    * JPEG layout support (round 16 — the r15 VERDICT #3 widening): a
    * GENERAL bounded segment walk replaces the single-APP0 fast path. The
    * walk starts at the marker after SOI and, for up to [[JpegWalkCap]]
    * segments, either stops at a dimension-bearing SOFn marker or skips a
    * [[JpegSkippable]] segment by its length field — so spec-valid files
    * with EXIF APP1, thumbnails, quant/Huffman tables or comments BEFORE
    * the frame header now decode correctly. It still fails loudly, never
    * misreads: an unexpected marker (or entropy bytes where a marker
    * should be), a walk past the [[JpegSniffBytes]] sniff window, or no
    * SOF within the cap all raise_error. The walk is [[JpegWalkCap]]
    * unrolled constant-cost expression steps over one hex() of the
    * bounded sniff prefix — still builtin-only, still codegen'd, no UDF. */
  private[graft] def decodeImageMeta(raw: DataFrame): DataFrame = {
    val sniffed = raw
      .withColumn("hx", expr("hex(substring(content, 1, 40))"))
      .withColumn("format", expr("""CASE
        WHEN substring(hx, 1, 16) = '89504E470D0A1A0A'
          AND substring(hx, 17, 8) = '0000000D'
          AND substring(hx, 25, 8) = '49484452' THEN 'png'
        WHEN substring(hx, 1, 4) = 'FFD8' THEN 'jpg'
        WHEN substring(hx, 1, 8) = '52494646'
          AND substring(hx, 17, 8) = '57454250' THEN 'webp'
        ELSE raise_error('graft multimodal: unrecognized magic bytes') END"""))
      // JPEG walk state: jhx = the bounded hex window (jpg rows only),
      // jp = 1-based byte index of the marker under inspection (first
      // marker after SOI = byte 3), jsof = the SOFn position once found.
      .withColumn("jhx", expr(
        s"CASE WHEN format = 'jpg' THEN hex(substring(content, 1, $JpegSniffBytes)) END"))
      .withColumn("jp", expr("CASE WHEN format = 'jpg' THEN cast(3 as bigint) END"))
      .withColumn("jsof", expr("cast(null as bigint)"))
    val sofIn = JpegSofMarkers.map("'" + _ + "'").mkString(", ")
    val skipIn = JpegSkippable.map("'" + _ + "'").mkString(", ")
    val walked = (1 to JpegWalkCap).foldLeft(sniffed) { (d, _) =>
      d.withColumn("jm", expr(
          "CASE WHEN format = 'jpg' AND jsof IS NULL THEN substring(jhx, cast(jp * 2 - 1 as int), 4) END"))
        .withColumn("jsof", expr(
          s"CASE WHEN jsof IS NOT NULL THEN jsof WHEN jm IN ($sofIn) THEN jp END"))
        .withColumn("jp", expr(s"""CASE
          WHEN format <> 'jpg' OR jsof IS NOT NULL THEN jp
          WHEN jm IN ($skipIn)
            THEN jp + 2 + cast(conv(substring(jhx, cast(jp * 2 + 3 as int), 4), 16, 10) as bigint)
          ELSE raise_error(concat(
            'graft multimodal: JPEG segment walk found neither SOF0 nor a ',
            'skippable segment at byte ', cast(jp as string),
            ' (marker "', coalesce(jm, ''), '")')) END"""))
    }
    walked
      .withColumn("sof", expr(s"""CASE WHEN format = 'jpg' THEN
        CASE WHEN jsof IS NULL
          THEN raise_error('graft multimodal: no SOF0 within $JpegWalkCap JPEG segments')
          ELSE jsof END END"""))
      // SOFn payload: len at sof+2 (covers bytes sof+2 .. sof+1+len),
      // precision sof+4, height sof+5..6, width sof+7..8.
      .withColumn("soflen", expr(
        "CASE WHEN format = 'jpg' THEN cast(conv(substring(jhx, cast(sof * 2 + 3 as int), 4), 16, 10) as bigint) END"))
      .withColumn("width", expr("""CASE format
        WHEN 'png' THEN cast(conv(substring(hx, 33, 8), 16, 10) as bigint)
        WHEN 'jpg' THEN cast(conv(substring(jhx, cast(sof * 2 + 13 as int), 4), 16, 10) as bigint)
        ELSE cast(conv(substring(hx, 53, 2) || substring(hx, 51, 2)
          || substring(hx, 49, 2), 16, 10) as bigint) + 1 END"""))
      .withColumn("height", expr("""CASE format
        WHEN 'png' THEN cast(conv(substring(hx, 41, 8), 16, 10) as bigint)
        WHEN 'jpg' THEN cast(conv(substring(jhx, cast(sof * 2 + 9 as int), 4), 16, 10) as bigint)
        ELSE cast(conv(substring(hx, 59, 2) || substring(hx, 57, 2)
          || substring(hx, 55, 2), 16, 10) as bigint) + 1 END"""))
      // WebP RIFF size field must equal file length - 8 (LE32 at bytes 5-8).
      .withColumn("height", expr("""CASE
        WHEN format = 'webp' AND cast(conv(substring(hx, 15, 2) || substring(hx, 13, 2)
            || substring(hx, 11, 2) || substring(hx, 9, 2), 16, 10) as bigint) + 8 <> byte_len
        THEN raise_error('graft multimodal: RIFF size mismatch')
        ELSE height END"""))
      // The header ends with the SOF segment: marker (2) + its len bytes.
      .withColumn("hdr_len", expr(
        "CASE format WHEN 'png' THEN 33 WHEN 'jpg' THEN cast(sof + 1 + soflen as int) ELSE 30 END"))
      .withColumn("body_md5", expr(
        "md5(hex(substring(content, hdr_len + 1, cast(byte_len as int))))"))
      .withColumn("n_frames", expr("byte_len div 100 + 1"))
      .select(col("doc_id"), col("byte_len"), col("format"), col("width"),
        col("height"), col("body_md5"), col("n_frames"))
  }

  private def multimodalBinary(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    binaryMeta(spark, sfDir).orderBy($"doc_id".asc_nulls_first)
  }

  /** Canonical 44-byte PCM WAV header (RIFF/WAVE + 'fmt ' + 'data'):
    * real little-endian fields a header-sniffing audio pipeline reads. */
  private def wavHeader(channels: Int, rate: Int, dataLen: Int): Array[Byte] = {
    val blockAlign = channels * 2
    val bb = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(1.toShort).putShort(channels.toShort)
    bb.putInt(rate).putInt(rate * blockAlign)
    bb.putShort(blockAlign.toShort).putShort(16.toShort)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    bb.array()
  }

  /** WAV scratch: doc_id < 48, channels 1 + id%2, sample rate
    * 8000·(1 + id%5), 16-bit PCM, the doc's UTF-8 bytes as the data
    * chunk — the same closed form the oracle predicts. */
  private def wavScratch(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "wavsrc") { d =>
      val docs = Catalog.load(spark, sfDir, "documents")
        .filter(col("doc_id") < 48).select(col("doc_id"), col("text")).collect()
      val p = java.nio.file.Paths.get(d)
      java.nio.file.Files.createDirectories(p)
      docs.foreach { r =>
        val id = r.getLong(0)
        val body = r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val hdr = wavHeader(1 + (id % 2).toInt, 8000 * (1 + (id % 5).toInt),
          body.length)
        java.nio.file.Files.write(p.resolve(s"doc_$id.wav"), hdr ++ body)
      }
    }

  /** MULTIMODAL AUDIO (round 14) — the WAV twin of the image decode: a
    * binaryFile scan of real RIFF/WAVE headers, every field parsed from
    * the little-endian bytes with builtin expressions (channels, sample
    * rate, bits, data-chunk size), then the derived audio facts a
    * training pipeline keys on: sample count (data div blockAlign) and
    * integer duration in ms. RIFF size and chunk magics are validated
    * with raise_error — a malformed header fails loudly. The oracle
    * predicts every field from the writer's closed form over doc_id, so
    * the byte offsets and endianness are what the hash grades.
    */
  private def multimodalWav(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = wavScratch(spark, sfDir)
    decodeWavMeta(spark.read.format("binaryFile").load(dir)
      .select(
        regexp_extract($"path", "doc_(\\d+)\\.wav$", 1).cast("long").as("doc_id"),
        octet_length($"content").cast("long").as("byte_len"),
        $"content"))
      .orderBy($"doc_id".asc_nulls_first)
  }

  /** The expression-only WAV decode over (doc_id, byte_len, content).
    * The guards are FOLDED INTO LIVE COLUMNS (the image decode's WebP
    * pattern): channels carries the magic check, data_bytes carries the
    * RIFF-size check — a guard in a column no select references would be
    * pruned by Catalyst and could never fire (round-14 review finding).
    * Package-visible so specs can drive it with malformed payloads. */
  private[graft] def decodeWavMeta(raw: DataFrame): DataFrame = {
    raw
      .withColumn("hx", expr("hex(substring(content, 1, 44))"))
      .withColumn("channels", expr("""CASE
        WHEN substring(hx, 1, 8) = '52494646'
         AND substring(hx, 17, 8) = '57415645'
         AND substring(hx, 25, 8) = '666D7420'
         AND substring(hx, 73, 8) = '64617461'
        THEN cast(conv(substring(hx, 47, 2) || substring(hx, 45, 2), 16, 10)
          as bigint)
        ELSE raise_error('graft wav: RIFF/WAVE/fmt/data magic mismatch') END"""))
      .withColumn("riff_size", expr(
        """cast(conv(substring(hx, 15, 2) || substring(hx, 13, 2)
          || substring(hx, 11, 2) || substring(hx, 9, 2), 16, 10) as bigint)"""))
      .withColumn("sample_rate", expr(
        """cast(conv(substring(hx, 55, 2) || substring(hx, 53, 2)
          || substring(hx, 51, 2) || substring(hx, 49, 2), 16, 10) as bigint)"""))
      .withColumn("bits", expr(
        "cast(conv(substring(hx, 71, 2) || substring(hx, 69, 2), 16, 10) as bigint)"))
      .withColumn("data_bytes", expr("""CASE
        WHEN riff_size + 8 <> byte_len
        THEN raise_error('graft wav: RIFF size disagrees with file length')
        ELSE cast(conv(substring(hx, 87, 2) || substring(hx, 85, 2)
          || substring(hx, 83, 2) || substring(hx, 81, 2), 16, 10) as bigint)
        END"""))
      .withColumn("block_align", col("channels") * 2)
      .select(col("doc_id"), col("channels"), col("sample_rate"), col("bits"),
        col("data_bytes"),
        expr("data_bytes div block_align").as("n_samples"),
        expr("(data_bytes * 1000) div (sample_rate * block_align)")
          .as("duration_ms"))
  }

  private val multimodalWavSql = """
    WITH w AS (
      SELECT doc_id,
        CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        CAST(8000 * (1 + doc_id % 5) AS BIGINT) AS sample_rate,
        CAST(16 AS BIGINT) AS bits,
        CAST(octet_length(encode(text)) AS BIGINT) AS data_bytes
      FROM documents WHERE doc_id < 48)
    SELECT doc_id, channels, sample_rate, bits, data_bytes,
      data_bytes // (channels * 2) AS n_samples,
      (data_bytes * 1000) // (sample_rate * channels * 2) AS duration_ms
    FROM w ORDER BY doc_id ASC NULLS FIRST"""

  /** Uniform frame sampling + thumbnail resize over the decoded image
    * metadata: up to ~8 evenly-spaced frame indices per doc via an
    * integer stride, one row per sampled frame with a deterministic
    * per-frame digest (keyed by the body digest parsed out of the real
    * bytes) and halved thumbnail dimensions. The generator
    * (`explode(sequence(...))`) is the batch shape real frame extraction
    * uses: per-frame rows fan out inside the task, no shuffle until the
    * output sort; stride keeps the fan-out bounded regardless of clip
    * length.
    */
  private def multimodalFrames(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    binaryMeta(spark, sfDir)
      .select($"doc_id", $"body_md5", $"width", $"height",
        explode(sequence(lit(0L), $"n_frames" - 1,
          greatest(lit(1L), expr("n_frames div 8")))).as("frame_idx"))
      .select($"doc_id", $"frame_idx",
        md5(concat($"body_md5", lit(":"), $"frame_idx".cast("string")))
          .as("frame_md5"),
        expr("width div 2").as("thumb_w"),
        expr("height div 2").as("thumb_h"))
      .orderBy($"doc_id".asc_nulls_first, $"frame_idx".asc_nulls_first)
  }

  // Both oracles predict every field from the writer's closed form over
  // doc_id — they never see the files, so the Spark-side BYTE parse
  // (offsets, endianness, segment walk) is what the hash grades.
  private val multimodalMetaSql = """
      p AS (
        SELECT doc_id,
          CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpg'
            ELSE 'webp' END AS format,
          CAST(64 + (doc_id * 7) % 512 AS BIGINT) AS width,
          CAST(64 + (doc_id * 11) % 512 AS BIGINT) AS height,
          CAST(octet_length(encode(text)) +
            CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 39 ELSE 30 END
            AS BIGINT) AS byte_len,
          md5(hex(encode(text))) AS body_md5
        FROM documents WHERE doc_id < 64),
      meta AS (
        SELECT doc_id, byte_len, format, width, height, body_md5,
          CAST(byte_len // 100 + 1 AS BIGINT) AS n_frames
        FROM p)"""

  private val multimodalFramesSql = s"""
      WITH $multimodalMetaSql
      SELECT doc_id,
        unnest(generate_series(0, n_frames - 1, greatest(1, n_frames // 8))) AS frame_idx,
        md5(body_md5 || ':' ||
          CAST(unnest(generate_series(0, n_frames - 1, greatest(1, n_frames // 8))) AS VARCHAR))
          AS frame_md5,
        width // 2 AS thumb_w,
        height // 2 AS thumb_h
      FROM meta
      ORDER BY doc_id ASC NULLS FIRST, frame_idx ASC NULLS FIRST"""

  private val multimodalBinarySql = s"""
      WITH $multimodalMetaSql
      SELECT doc_id, byte_len, format, width, height, body_md5, n_frames
      FROM meta ORDER BY doc_id ASC NULLS FIRST"""

  /** Top bigram collocations by LIFT, in exact integer arithmetic:
    * lift = P(ab) / (P(a)·P(b)) = n_ab·N / (n_a·n_b), emitted scaled ×10^6
    * with integral division so the score is engine-exact (a log-PMI would
    * hang correctness on libm last-ulp agreement). Overflow bound:
    * n_ab·N·10^6 needs n_ab·N < 9.2e12 — fine up to ~3M bigrams; beyond
    * that, drop the scale factor or pre-divide (documented, not needed at
    * fixture scales).
    *
    * Scale: one explode over token positions (narrow projection), two
    * hash-agg count tables, two equi-joins of a bigram table against the
    * (broadcast-able) unigram table, one top-k window over the filtered
    * candidate set.
    */
  private def collocations(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", split($"text", " ").as("t"))
    val bi = toks
      .select(explode(when(size($"t") >= 2,
          transform(sequence(lit(0), size($"t") - 2),
            i => struct(element_at($"t", i + 1).as("w1"),
              element_at($"t", i + 2).as("w2"))))
        .otherwise(array())).as("b"))
      .select($"b.w1", $"b.w2")
      .cache()
    val nBi = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("n_ab"))
    val uni = bi.groupBy($"w1".as("w")).agg(count(lit(1)).as("n_w"))
    val total = bi.agg(count(lit(1)).as("n_total"))
    val scored = nBi
      .join(uni.select($"w".as("w1"), $"n_w".as("n_a")), Seq("w1"))
      .join(uni.select($"w".as("w2"), $"n_w".as("n_b")), Seq("w2"))
      .crossJoin(broadcast(total))
      .filter($"n_ab" >= 5)
      .select($"w1", $"w2", $"n_ab",
        expr("(n_ab * n_total * 1000000) div (n_a * n_b)").as("lift_ppm"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"lift_ppm".desc, $"w1".asc_nulls_first, $"w2".asc_nulls_first)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 20)
      .select($"rk", $"w1", $"w2", $"n_ab", $"lift_ppm")
      .orderBy($"rk".asc_nulls_first)
  }

  private val collocationsSql = """
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      bi AS (
        SELECT t[i+1] AS w1, t[i+2] AS w2
        FROM (SELECT t, unnest(range(len(t) - 1)) AS i FROM toks WHERE len(t) >= 2)),
      nbi AS (SELECT w1, w2, count(*) AS n_ab FROM bi GROUP BY w1, w2),
      uni AS (SELECT w1 AS w, count(*) AS n_w FROM bi GROUP BY w1),
      tot AS (SELECT count(*) AS n_total FROM bi),
      scored AS (
        SELECT nbi.w1, nbi.w2, n_ab,
          (n_ab * n_total * 1000000) // (ua.n_w * ub.n_w) AS lift_ppm
        FROM nbi
        JOIN uni ua ON ua.w = nbi.w1
        JOIN uni ub ON ub.w = nbi.w2
        CROSS JOIN tot
        WHERE n_ab >= 5),
      ranked AS (
        SELECT *, row_number() OVER (ORDER BY lift_ppm DESC,
          w1 ASC NULLS FIRST, w2 ASC NULLS FIRST) AS rk
        FROM scored)
      SELECT rk, w1, w2, n_ab, lift_ppm FROM ranked WHERE rk <= 20
      ORDER BY rk ASC NULLS FIRST"""

  /** Bigram language-model estimation (added round 9): for the corpus's 10
    * most frequent prefix words, the top-3 continuations by conditional
    * probability P(w2|w1) = count(w1 w2) / count(w1 ·) in exact ppm — the
    * n-gram LM table (per-PREFIX normalization) where q_text_collocations
    * ranks by corpus-wide lift. All integer arithmetic; `div` ↔ `//`.
    *
    * Scale: one bigram explode (shared shape with collocations) feeding two
    * hash aggregates; the 10-row prefix dim broadcasts back onto the bigram
    * counts, so the per-prefix top-3 window runs over the ~10-prefix slice,
    * never the full vocabulary.
    */
  private def ngramLm(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bi = Catalog.load(spark, sfDir, "documents")
      .select(split($"text", " ").as("t"))
      .select(explode(when(size($"t") >= 2,
          transform(sequence(lit(0), size($"t") - 2),
            i => struct(element_at($"t", i + 1).as("w1"),
              element_at($"t", i + 2).as("w2"))))
        .otherwise(array())).as("b"))
      .select($"b.w1", $"b.w2")
      .cache()
    val uni = bi.groupBy($"w1").agg(count(lit(1)).as("n_w1"))
    val topPrefix = uni
      .orderBy($"n_w1".desc, $"w1".asc_nulls_first).limit(10)
    val w = Window.partitionBy($"w1")
      .orderBy($"n_ab".desc, $"w2".asc_nulls_first)
    bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("n_ab"))
      .join(broadcast(topPrefix), Seq("w1"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .select($"w1", $"n_w1", $"rk", $"w2", $"n_ab",
        expr("(n_ab * 1000000) div n_w1").as("p_ppm"))
      .orderBy($"w1".asc_nulls_first, $"rk".asc_nulls_first)
  }

  private val ngramLmSql = """
      WITH toks AS (
        SELECT string_split(text, ' ') AS t FROM documents),
      bi AS (
        SELECT t[i+1] AS w1, t[i+2] AS w2
        FROM (SELECT t, unnest(range(len(t) - 1)) AS i FROM toks
              WHERE len(t) >= 2)),
      uni AS (SELECT w1, count(*) AS n_w1 FROM bi GROUP BY w1),
      top_prefix AS (
        SELECT w1, n_w1 FROM uni
        ORDER BY n_w1 DESC, w1 ASC NULLS FIRST LIMIT 10),
      nbi AS (SELECT w1, w2, count(*) AS n_ab FROM bi GROUP BY w1, w2),
      ranked AS (
        SELECT nbi.w1, n_w1, nbi.w2, n_ab,
          CAST(row_number() OVER (PARTITION BY nbi.w1
            ORDER BY n_ab DESC, w2 ASC NULLS FIRST) AS BIGINT) AS rk
        FROM nbi JOIN top_prefix USING (w1))
      SELECT w1, n_w1, rk, w2, n_ab,
        (n_ab * 1000000) // n_w1 AS p_ppm
      FROM ranked WHERE rk <= 3
      ORDER BY w1 ASC NULLS FIRST, rk ASC NULLS FIRST"""

  /** BPE-style pre-tokenization count (the GPT-2 pre-tokenizer shape,
    * lookaheads removed — RE2/Java-portable): a token is an optional leading
    * space plus a run of letters, digits, or other non-space chars. The
    * BPE-token : whitespace-word ratio is the standard "how many tokens will
    * this doc cost" estimator a training pipeline budgets with.
    *
    * Scale: one narrow projection, regex arrays materialized ONCE in a
    * sub-select so the size/filter consumers don't re-run the regex (HOF
    * lambda re-evaluation), no shuffle except the output sort.
    */
  private val bpePattern = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+"

  private def tokenBpe(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Catalog.load(spark, sfDir, "documents")
      .select(
        $"doc_id",
        regexp_extract_all($"text", lit(bpePattern), lit(0)).as("bpe"),
        regexp_extract_all($"text", lit("\\S+"), lit(0)).as("words"))
      .select(
        $"doc_id",
        size($"bpe").cast("long").as("n_bpe"),
        size(filter($"bpe", t => t.rlike("^ ?[a-zA-Z]+$"))).cast("long")
          .as("n_alpha"),
        size(filter($"bpe", t => t.rlike("^ ?[0-9]+$"))).cast("long")
          .as("n_num"),
        size($"words").cast("long").as("n_words"),
        when(size($"words") > 0,
          round(size($"bpe").cast("double") / size($"words"), 4))
          .as("bpe_per_word"))
      .orderBy($"doc_id".asc_nulls_first)
  }

  private val tokenBpeSql = """
    WITH t AS (
      SELECT doc_id,
        regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+') AS bpe,
        regexp_extract_all(text, '\S+') AS words
      FROM documents)
    SELECT doc_id,
      CAST(len(bpe) AS BIGINT) AS n_bpe,
      CAST(len(list_filter(bpe, x -> regexp_matches(x, '^ ?[a-zA-Z]+$'))) AS BIGINT) AS n_alpha,
      CAST(len(list_filter(bpe, x -> regexp_matches(x, '^ ?[0-9]+$'))) AS BIGINT) AS n_num,
      CAST(len(words) AS BIGINT) AS n_words,
      CASE WHEN len(words) > 0
        THEN round(CAST(len(bpe) AS DOUBLE) / len(words), 4) END AS bpe_per_word
    FROM t ORDER BY doc_id ASC NULLS FIRST"""

  /** Per-dimension embedding statistics (added round 9 close): the
    * feature-normalization profile of the vector table — for every embedding
    * dimension, population, mean (exact decimal sum over the float values,
    * the shared davg convention), variance, and raw float min/max. The
    * table a whitening / standardization step or an index-build sanity
    * check reads.
    *
    * Scale: posexplode fans each vector into |dim| rows feeding ONE
    * map-side-combined hash aggregate keyed by position — |dim| output
    * rows, shuffle bounded by partials × dims, never by vectors. (The ANN
    * queries' round-9 lesson — posexplode per PAIR is expensive — does not
    * bite here: the fan-out feeds an aggregate, not a join.)
    */
  private def vecStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Catalog.load(spark, sfDir, "embeddings")
      .select(posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"pos".cast("long").as("pos"))
      .agg(
        count(lit(1)).as("n"),
        davg($"x").as("mean_x"),
        r4(var_samp($"x")).as("var_x"),
        min($"x").as("min_x"),
        max($"x").as("max_x"))
      .orderBy($"pos".asc_nulls_first)
  }

  private val vecStatsSql = """
    WITH u AS (
      SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
        unnest(embedding) AS x
      FROM embeddings)
    SELECT pos, count(*) AS n,
      round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(x), 4) AS mean_x,
      round(var_samp(x), 4) AS var_x,
      min(x) AS min_x, max(x) AS max_x
    FROM u GROUP BY pos ORDER BY pos ASC NULLS FIRST"""

  /** Exact passage-level dedup (added round 10): the chunk-granular
    * exact-substring dedup of the "Deduplicating Training Data" family —
    * split each document into NON-overlapping 16-token passages and find
    * passages repeated anywhere in the corpus (first occurrence by
    * (doc_id, position) wins, everything later is a dup). Complements
    * q_dedup_exact (whole-doc) and q_dedup_near (overlapping-shingle
    * jaccard): this is the operator that catches boilerplate paragraphs
    * pasted across otherwise-distinct documents. Output is the per-source
    * dup audit in exact ppm.
    *
    * Scale shape: passages are built from the token ARRAY per row (no
    * explode until the chunk list exists — one transform over a sequence,
    * no per-token shuffle), and the only shuffle keys on the passage text
    * for the first-occurrence window. At 100 TB the passage key would be
    * a 128-bit hash instead of the string; the fixture keeps the string so
    * the DuckDB oracle joins on identical values.
    */
  private def dedupPassage(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val chunks = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", $"source", split($"text", " ").as("toks"))
      .select($"doc_id", $"source", posexplode(
        expr("transform(sequence(0, (size(toks) - 1) div 16)," +
          " i -> array_join(slice(toks, i * 16 + 1, 16), ' '))")))
      .toDF("doc_id", "source", "cid", "chunk")
    val w = Window.partitionBy($"chunk")
      .orderBy($"doc_id".asc, $"cid".asc)
    chunks
      .withColumn("rn", row_number().over(w))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when($"rn" > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ppm", expr("n_dup * 1000000 div n_chunks"))
      .orderBy($"source".asc_nulls_first)
  }

  private val dedupPassageSql = """
    WITH toks AS (
      SELECT doc_id, source,
        unnest(string_split(text, ' ')) AS tok,
        generate_subscripts(string_split(text, ' '), 1) AS ord
      FROM documents),
    chunks AS (
      SELECT doc_id, source, (ord - 1) // 16 AS cid,
        string_agg(tok, ' ' ORDER BY ord) AS chunk
      FROM toks GROUP BY 1, 2, 3),
    r AS (
      SELECT source,
        row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cid) AS rn
      FROM chunks)
    SELECT source, count(*) AS n_chunks,
      CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      (CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        // count(*) AS dup_ppm
    FROM r GROUP BY source
    ORDER BY source ASC NULLS FIRST"""

  /** Asymmetric shingle CONTAINMENT (added round 10): |S(a)∩S(b)| / |S(a)|
    * per directed pair — the quote/subset detector jaccard misses (a short
    * doc fully quoted inside a long one has low jaccard but containment
    * ≈ 1). Reuses the memoized shingle leaf and the same candidate-pair
    * intersection as q_dedup_near; each undirected intersection yields two
    * directed rows normalized by their own source size, in exact ppm
    * `div`. Top-25 by containment — TakeOrderedAndProject, no global sort.
    */
  private def dedupContainment(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sh = LlmPipeline.shingles(spark, sfDir)
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.select($"doc_id".as("doc_a"), $"shingle")
      .join(sh.select($"doc_id".as("doc_b"), $"shingle"), Seq("shingle"))
      .filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_inter"))
    val directed = inter.select($"doc_a".as("src"), $"doc_b".as("dst"), $"n_inter")
      .union(inter.select($"doc_b", $"doc_a", $"n_inter"))
    directed
      // per-doc sizes are corpus-sized — count-gated, not assumed small.
      .join(gatedBroadcast(sizes.select($"doc_id".as("src"), $"n")), Seq("src"))
      .select($"src", $"dst", $"n_inter",
        expr("n_inter * 1000000 div n").as("containment_ppm"))
      .filter($"containment_ppm" >= 500000L)
      .orderBy($"containment_ppm".desc, $"src".asc_nulls_first,
        $"dst".asc_nulls_first)
      .limit(25)
  }

  private val dedupContainmentSql = s"""
    WITH ${LlmPipeline.nearPairsCtes},
    directed AS (
      SELECT doc_a AS src, doc_b AS dst, n_inter FROM inter
      UNION ALL
      SELECT doc_b, doc_a, n_inter FROM inter),
    c AS (
      SELECT src, dst, n_inter, (n_inter * 1000000) // s.n AS containment_ppm
      FROM directed JOIN sizes s ON s.doc_id = src)
    SELECT src, dst, n_inter, containment_ppm FROM c
    WHERE containment_ppm >= 500000
    ORDER BY containment_ppm DESC, src ASC NULLS FIRST, dst ASC NULLS FIRST
    LIMIT 25"""

  /** Maximum-inner-product top-k (added round 10): retrieval scoring by
    * RAW dot product — the metric dual-encoder models are actually trained
    * on; it ranks differently from cosine whenever vector norms vary
    * (q_sim_knn_bruteforce normalizes, this must not). Hot path is the
    * native codegen'd `graft_dot` over a broadcast probe set; ranking on
    * the ROUNDED dot with a cand_id tie-break keeps the order invariant to
    * last-bit summation differences, mirroring the knn query's contract.
    * Scale path: MIPS admits norm-based pruning (candidates with
    * ‖c‖ < best_k / ‖probe‖ cannot win) and the IVF bucketing of
    * q_sim_ann_ivf; the brute-force form here is the exactness baseline
    * those approximations are graded against.
    */
  private def simMipsTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Catalog.load(spark, sfDir, "embeddings")
    val probes = e.filter($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_emb"))
    val cands = e.select($"vec_id".as("cand_id"), $"embedding".as("cand_emb"))
    val scored = cands.join(broadcast(probes), $"cand_id" =!= $"probe_id")
      .select($"probe_id", $"cand_id",
        round(expr("graft_dot(probe_emb, cand_emb)"), 4).as("dot_score"))
    val w = Window.partitionBy($"probe_id")
      .orderBy($"dot_score".desc, $"cand_id".asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .orderBy($"probe_id".asc_nulls_first, $"rank".asc_nulls_first)
  }

  private val simMipsTopkSql = """
    WITH scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        round((SELECT sum(CAST(r[1] AS DOUBLE) * CAST(r[2] AS DOUBLE))
               FROM (SELECT unnest(list_zip(p.embedding, c.embedding)) AS r)),
          4) AS dot_score
      FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
      WHERE p.vec_id < 10),
    ranked AS (
      SELECT *, CAST(row_number() OVER
        (PARTITION BY probe_id ORDER BY dot_score DESC, cand_id ASC) AS BIGINT) AS rank
      FROM scored)
    SELECT probe_id, cand_id, dot_score, rank FROM ranked WHERE rank <= 5
    ORDER BY probe_id ASC NULLS FIRST, rank ASC NULLS FIRST"""

  /** HARD-NEGATIVE MINING (added round 12 batch 7) — the contrastive-
    * training data step downstream of retrieval: for each anchor, the
    * negatives that matter are the ones the model finds HARDEST — highest
    * similarity among items of a DIFFERENT class (same-class items are
    * potential positives and must not leak into the negative set). Per
    * probe (the first 10 vectors, the shared probe-set convention), the
    * top-5 candidates by dot product among vectors with a different
    * `label`, ranked with deterministic (score, cand_id) ties; scores are
    * rounded to 4dp BEFORE ranking (the [[simMipsTopk]] round-first
    * precedent — ulp wobble cannot cross a 1e-4 grid, so rank order is
    * engine-exact). Vectors are unit-norm, so dot IS cosine.
    *
    * Scale: the probe set broadcasts (small by construction); each
    * corpus vector scores against all probes map-side via the codegen
    * `graft_dot` — one pass, no shuffle of the corpus; ranking shuffles
    * only (probe, cand, score) triples keyed by probe. With an ANN index
    * the candidate pass narrows to the probes' neighboring cells
    * (q_sim_ann_ivf's serve path) — this exact form is the graded
    * baseline the index variant verifies against.
    */
  private def simHardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Catalog.load(spark, sfDir, "embeddings")
    val probes = e.filter($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"label".as("probe_label"),
        $"embedding".as("probe_emb"))
    val cands = e.select($"vec_id".as("cand_id"), $"label".as("cand_label"),
      $"embedding".as("cand_emb"))
    val scored = cands.join(broadcast(probes), $"cand_label" =!= $"probe_label")
      .select($"probe_id", $"cand_id", $"cand_label",
        round(expr("graft_dot(probe_emb, cand_emb)"), 4).as("dot_score"))
    val w = Window.partitionBy($"probe_id")
      .orderBy($"dot_score".desc, $"cand_id".asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .orderBy($"probe_id".asc_nulls_first, $"rank".asc_nulls_first)
  }

  private val simHardNegativesSql = """
    WITH scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        c.label AS cand_label,
        round((SELECT sum(CAST(r[1] AS DOUBLE) * CAST(r[2] AS DOUBLE))
               FROM (SELECT unnest(list_zip(p.embedding, c.embedding)) AS r)),
          4) AS dot_score
      FROM embeddings p JOIN embeddings c ON c.label <> p.label
      WHERE p.vec_id < 10),
    ranked AS (
      SELECT *, CAST(row_number() OVER
        (PARTITION BY probe_id ORDER BY dot_score DESC, cand_id ASC) AS BIGINT) AS rank
      FROM scored)
    SELECT probe_id, cand_id, cand_label, dot_score, rank
    FROM ranked WHERE rank <= 5
    ORDER BY probe_id ASC NULLS FIRST, rank ASC NULLS FIRST"""

  /** TRUNCATION-DUPLICATE DETECTION (round 13): documents whose
    * normalized text is a strict TOKEN-BOUNDARY PREFIX of a longer
    * document — the crawl pathology Jaccard-family dedup systematically
    * misses (the same article cut at different lengths shares few
    * shingles proportionally once the long version dominates, and the
    * containment query flags overlap, not prefix structure). Per
    * truncated doc: its longest superseding doc (ties by smaller id),
    * with both token lengths — the survivorship rule "keep the longest
    * cut" made explicit.
    *
    * Semantics: candidates meet on an 8-token prefix key (equi-join —
    * never all-pairs); a pair qualifies iff len(a) < len(b) and b's norm
    * starts with a's norm + ' ' (the appended space pins the match to a
    * token boundary, so "the cat sat" never claims "the cat satellite").
    * Equal-text duplicates are q_dedup_exact's job and are excluded here
    * by the strict length test.
    *
    * Scale: the prefix key plays the LSH-bucket role — candidate pairs
    * meet under a shuffle on the 8-token key, with the same Zipf-bounded
    * bucket-size argument as the shingle df-cap (a production corpus
    * df-caps the prefix key identically); the startswith verify touches
    * candidate pairs only. One window per truncated doc picks the
    * longest superseder.
    */
  private def dedupPrefix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // In-plan shared-subtree cache (optimization round 20, the q23-flavor
    // precedent): both sides of the self-join are THIS frame, so without
    // the cache the scan→normText→split subtree runs twice per query; the
    // cache also gives the join leaves real statistics (the stat-less-leaf
    // SMJ disease fixed across the graph kernels in r19). Bench clears the
    // cache manager between queries, so nothing persists across runs.
    val d = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", LlmPipeline.normText($"text").as("n"))
      .withColumn("toks", split($"n", " "))
      .filter(size($"toks") >= 8)
      .select($"doc_id", $"n", size($"toks").cast("long").as("n_toks"),
        concat_ws(" ", slice($"toks", 1, 8)).as("key"))
      .cache()
    val a = d.select($"key", $"doc_id".as("doc_trunc"), $"n".as("na"),
      $"n_toks".as("len_trunc"))
    val b = d.select($"key", $"doc_id".as("doc_full"), $"n".as("nb"),
      $"n_toks".as("len_full"))
    val pairs = a.join(b, Seq("key"))
      .filter(length($"na") < length($"nb") &&
        $"nb".startsWith(concat($"na", lit(" "))))
    val w = Window.partitionBy($"doc_trunc")
      .orderBy($"len_full".desc, $"doc_full".asc)
    pairs.withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .select($"doc_trunc", $"doc_full", $"len_trunc", $"len_full")
      .orderBy($"doc_trunc".asc_nulls_first)
  }

  private val dedupPrefixSql = s"""
    WITH d AS (
      SELECT doc_id, n, CAST(len(string_split(n, ' ')) AS BIGINT) AS n_toks,
        array_to_string((string_split(n, ' '))[1:8], ' ') AS key
      FROM (SELECT doc_id, ${LlmPipeline.normTextSql} AS n FROM documents)
      WHERE len(string_split(n, ' ')) >= 8),
    pairs AS (
      SELECT a.doc_id AS doc_trunc, b.doc_id AS doc_full,
        a.n_toks AS len_trunc, b.n_toks AS len_full
      FROM d a JOIN d b ON a.key = b.key
      WHERE len(a.n) < len(b.n) AND starts_with(b.n, a.n || ' ')),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY doc_trunc
        ORDER BY len_full DESC, doc_full ASC) AS rk
      FROM pairs)
    SELECT doc_trunc, doc_full, len_trunc, len_full
    FROM best WHERE rk = 1
    ORDER BY doc_trunc ASC NULLS FIRST"""

  override val queries: Vector[Q] = Vector(
    Q("q_dedup_prefix", dedupPrefix, Some(dedupPrefixSql)),
    Q("q_sim_hard_negatives", simHardNegatives, Some(simHardNegativesSql)),
    Q("q_sim_mips_topk", simMipsTopk, Some(simMipsTopkSql)),
    Q("q_dedup_passage_exact", dedupPassage, Some(dedupPassageSql)),
    Q("q_dedup_containment", dedupContainment, Some(dedupContainmentSql)),
    Q("q_vec_stats", vecStats, Some(vecStatsSql)),
    Q("q_text_token_bpe", tokenBpe, Some(tokenBpeSql)),
    Q("q_text_langid", langid, Some(langidSql)),
    Q("q_text_langid_eval", langidEval, Some(langidEvalSql)),
    Q("q_text_quality", quality, Some(qualitySql)),
    Q("q_text_fingerprint", fingerprint, Some(fingerprintSql)),
    Q("q_text_chunk", textChunk, Some(textChunkSql)),
    Q("q_dedup_simhash", dedupSimhash, Some(dedupSimhashSql)),
    Q("q_dedup_simhash_eval", dedupSimhashEval, Some(dedupSimhashEvalSql)),
    Q("q_sim_ann_lsh", simAnnLsh, Some(simAnnLshSql)),
    Q("q_sim_ann_ivf", simIvfAnn, Some(simIvfSql(0L, 10L)), warm = true),
    Q("q_sim_ann_ivf_serve", simIvfAnnServe, Some(simIvfSql(10L, 20L))),
    Q("q_sim_ann_recall_eval", simAnnRecallEval, Some(simAnnRecallEvalSql)),
    Q("q_multimodal_binary", multimodalBinary, Some(multimodalBinarySql), warm = true),
    Q("q_multimodal_wav", multimodalWav, Some(multimodalWavSql), warm = true),
    Q("q_multimodal_frames", multimodalFrames, Some(multimodalFramesSql)),
    Q("q_text_collocations", collocations, Some(collocationsSql)),
    Q("q_text_ngram_lm", ngramLm, Some(ngramLmSql)),
    Q("q_corpus_clean", corpusClean, Some(corpusCleanSql)),
    Q("q_dedup_embedding_cosine", dedupEmbeddingCosine, Some(dedupEmbeddingCosineSql)),
  )
}
