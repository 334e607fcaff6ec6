package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Catalog, Memo, Q, QueryPack}

/** SURVEY.md §2.J3 — corpus-curation operators (added round 9): the three
  * pipeline stages between raw dedup and the training run that the §2.J/J2
  * packs did not yet cover — benchmark decontamination, repetition-based
  * quality gating, and domain mixing to a token budget.
  *
  * Scale notes (100 TB posture):
  *  - Decontamination reuses the SAME df-capped shingle leaf as the dedup
  *    pipeline ([[LlmPipeline.shingles]]): one tokenize→shingle→cap pass
  *    feeds near-dup, MinHash AND decontamination. The eval side of the
  *    overlap join is the benchmark suite — thousands of documents, not
  *    billions — so its distinct-shingle set broadcasts, and the train-side
  *    scan joins against a hash map instead of shuffling the corpus. The
  *    df-cap doubles as the standard "drop n-grams too common to be
  *    discriminative" decontamination rule.
  *  - Repetition scoring is a pure per-document projection (n-gram arrays
  *    built with `transform` over the token array, counted with
  *    `array_distinct` — no explode, no shuffle): the narrow-map shape that
  *    saturates scan bandwidth at any corpus size.
  *  - Domain mixing is deterministic hash sampling (the q_sample_hash
  *    multiplicative-hash pattern — stable under task retry, no `rand()`),
  *    with per-domain rates derived from a |domains|-row aggregate that
  *    broadcasts back onto the scan. One shuffle for the rate table, one
  *    map-side-combined aggregate for the report; the corpus itself is
  *    never shuffled.
  */
object CorpusOps extends QueryPack {

  /** Documents whose source marks them as the held-out benchmark set.
    * A fixed slice of the fixture corpus stands in for the eval suite.
    */
  private val EvalSource = "src0"

  /** Benchmark decontamination — flag every training document sharing at
    * least one (df-capped) 5-gram shingle with the eval set, with the
    * overlap size and the contaminated fraction of the document's own
    * shingle set. The n-gram-overlap rule used to scrub pretraining
    * corpora of benchmark text; output is the removal worklist.
    */
  private def textDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sh = LlmPipeline.shingles(spark, sfDir)
    val evalIds = Catalog.load(spark, sfDir, "documents")
      .filter($"source" === EvalSource)
      .select($"doc_id")
    // Eval-side shingles: distinct over the (small) benchmark suite —
    // broadcast to the train-side probe join.
    val evalSh = sh.join(broadcast(evalIds), Seq("doc_id"))
      .select($"shingle").distinct()
    val train = sh.join(broadcast(evalIds), Seq("doc_id"), "left_anti")
    val sizes = train.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
    train.join(broadcast(evalSh), Seq("shingle"))
      // (doc_id, shingle) is distinct in the leaf, so count(*) = distinct
      // overlapping shingles.
      .groupBy($"doc_id").agg(count(lit(1)).as("n_overlap"))
      .join(sizes, Seq("doc_id"))
      .select($"doc_id", $"n_shingles", $"n_overlap",
        round($"n_overlap".cast("double") / $"n_shingles", 4)
          .as("contaminated_frac"))
      .orderBy($"doc_id".asc_nulls_first)
  }

  private val textDecontaminateSql = s"""
    WITH ${LlmPipeline.shinglesSql},
    eval_ids AS (SELECT doc_id FROM documents WHERE source = '$EvalSource'),
    eval_sh AS (
      SELECT DISTINCT shingle FROM sh
      WHERE doc_id IN (SELECT doc_id FROM eval_ids)),
    train AS (
      SELECT * FROM sh
      WHERE doc_id NOT IN (SELECT doc_id FROM eval_ids)),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id),
    hits AS (
      SELECT doc_id, count(*) AS n_overlap
      FROM train WHERE shingle IN (SELECT shingle FROM eval_sh)
      GROUP BY doc_id)
    SELECT h.doc_id, s.n_shingles, h.n_overlap,
      round(CAST(h.n_overlap AS DOUBLE) / s.n_shingles, 4) AS contaminated_frac
    FROM hits h JOIN sizes s ON h.doc_id = s.doc_id
    ORDER BY h.doc_id ASC NULLS FIRST"""

  /** Duplicate-n-gram repetition scoring (the Gopher-style quality rule):
    * per document, the fraction of 2-gram and 3-gram occurrences that are
    * repeats of an earlier occurrence, and the gate verdict. All n-gram
    * machinery is per-row array arithmetic — `transform` over the token
    * array, `array_distinct` for the unique count — so the operator is a
    * narrow map over the scan.
    *
    * `toks` is materialized as a column before the `transform` lambdas for
    * the same reason as [[LlmPipeline.shingles]]: higher-order functions
    * re-evaluate captured expressions once per element.
    */
  private def textRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def grams(n: Int): Column =
      transform(sequence(lit(0), size($"toks") - n),
        i => concat_ws(" ", slice($"toks", i + 1, lit(n))))
    def dupFrac(g: Column): Column =
      round((size(g) - size(array_distinct(g))).cast("double") / size(g), 4)
    Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", split(LlmPipeline.normText($"text"), " ").as("toks"))
      .select($"doc_id",
        size($"toks").cast("long").as("n_tokens"),
        when(size($"toks") >= 2, dupFrac(grams(2))).as("dup2_frac"),
        when(size($"toks") >= 3, dupFrac(grams(3))).as("dup3_frac"))
      .withColumn("flagged_repetitive",
        coalesce($"dup2_frac" > 0.5 || $"dup3_frac" > 0.3, lit(false)))
      .orderBy($"doc_id".asc_nulls_first)
  }

  private val textRepetitionSql = s"""
    WITH t AS (
      SELECT doc_id, string_split(${LlmPipeline.normTextSql}, ' ') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, len(toks) AS n_tokens,
        [array_to_string(toks[i+1:i+2], ' ') for i in range(len(toks) - 1)] AS g2,
        [array_to_string(toks[i+1:i+3], ' ') for i in range(len(toks) - 2)] AS g3
      FROM t),
    f AS (
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        CASE WHEN n_tokens >= 2 THEN
          round(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2), 4)
        END AS dup2_frac,
        CASE WHEN n_tokens >= 3 THEN
          round(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3), 4)
        END AS dup3_frac
      FROM g)
    SELECT doc_id, n_tokens, dup2_frac, dup3_frac,
      coalesce(dup2_frac > 0.5 OR dup3_frac > 0.3, false) AS flagged_repetitive
    FROM f ORDER BY doc_id ASC NULLS FIRST"""

  /** Domain mixing to a token budget: every source domain is downsampled to
    * (approximately) the token count of the smallest domain, so the mixed
    * corpus is balanced across domains. The keep/drop decision is the
    * deterministic multiplicative hash of the document id against the
    * domain's rate — reproducible across retries and engines, no `rand()`.
    * Output is the mixing report a curation run logs: per domain, documents
    * and tokens before/after and the applied rate.
    */
  private def corpusMix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", $"source",
        size(split(LlmPipeline.normText($"text"), " ")).cast("long").as("n_toks"))
    val totals = docs.groupBy($"source").agg(sum($"n_toks").as("tok_total"))
    val target = totals.agg(min($"tok_total").as("tok_target"))
    // |domains|-row rate table: crossJoin against the 1-row target is a
    // broadcast nested loop over 20 rows; the rate table itself broadcasts
    // back onto the document scan.
    val rates = totals.crossJoin(broadcast(target))
      .select($"source", $"tok_total",
        least(lit(1.0), $"tok_target".cast("double") / $"tok_total")
          .as("rate"))
    docs.join(broadcast(rates), Seq("source"))
      // 31-bit mask before the multiply: keeps the product within int64
      // for any bigint doc_id (Spark wraps, DuckDB raises — the mask makes
      // both engines compute the same exact value; Governance.scala has the
      // full overflow note).
      .withColumn("kept",
        ($"doc_id".bitwiseAND(lit(2147483647L)) * lit(2654435761L)) %
          lit(4294967296L) < $"rate" * lit(4294967296.0))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        max($"tok_total").as("tok_total"),
        round(max($"rate"), 4).as("rate"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        coalesce(sum(when($"kept", $"n_toks")), lit(0L)).as("tok_kept"))
      .orderBy($"source".asc_nulls_first)
  }

  private val corpusMixSql = s"""
    WITH docs AS (
      SELECT doc_id, source,
        CAST(len(string_split(${LlmPipeline.normTextSql}, ' ')) AS BIGINT) AS n_toks
      FROM documents),
    totals AS (SELECT source, sum(n_toks) AS tok_total FROM docs GROUP BY source),
    rates AS (
      SELECT source, CAST(tok_total AS BIGINT) AS tok_total,
        least(CAST(1.0 AS DOUBLE), CAST((SELECT min(tok_total) FROM totals) AS DOUBLE) / tok_total)
          AS rate
      FROM totals),
    d AS (
      SELECT docs.*, rates.tok_total, rates.rate,
        (((doc_id & 2147483647) * 2654435761) % 4294967296) < rate * 4294967296.0 AS kept
      FROM docs JOIN rates USING (source))
    SELECT source, count(*) AS n_docs, max(tok_total) AS tok_total,
      round(max(rate), 4) AS rate,
      CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      coalesce(CAST(sum(CASE WHEN kept THEN n_toks END) AS BIGINT), 0) AS tok_kept
    FROM d GROUP BY source
    ORDER BY source ASC NULLS FIRST"""

  /** Curriculum quality binning (added round 9): the corpus sorted into 10
    * exact equal-depth bins by the SHARED q_text_quality score
    * ([[LlmExtras.qualityScore]] — one definition, gate and binning can
    * never drift), with per-bin population, score range, and character
    * mass — the table a curriculum or quality-threshold decision reads.
    *
    * Scale: the score is a narrow scan-side projection; the exact global
    * decile assignment is [[graft.operators.DistributedRank.ntileExact]]
    * (literal range boundaries + per-bucket rank + broadcast offsets — no
    * single-partition window over the corpus); the ORACLE is the
    * single-partition `ntile(10) OVER (ORDER BY …)` form, so the two
    * formulations verify each other exactly like q_profile_histogram_eqdepth.
    */
  private def corpusQualityBins(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", $"n_chars",
        LlmExtras.qualityScore($"text").as("quality"))
    DistributedRank
      .ntileExact(base, 10, "quality", ascending = true,
        tieCol = "doc_id", out = "bin")
      .groupBy($"bin")
      .agg(
        count(lit(1)).as("n_docs"),
        min($"quality").as("q_lo"),
        max($"quality").as("q_hi"),
        sum($"n_chars").as("sum_chars"))
      .orderBy($"bin".asc_nulls_first)
  }

  private val corpusQualityBinsSql = s"""
    WITH t AS (
      SELECT doc_id, n_chars, ${LlmExtras.qualityScoreSql} AS quality
      FROM documents),
    b AS (
      SELECT n_chars, quality,
        CAST(ntile(10) OVER (ORDER BY quality ASC, doc_id ASC) AS BIGINT)
          AS bin
      FROM t)
    SELECT bin, count(*) AS n_docs, min(quality) AS q_lo,
      max(quality) AS q_hi, CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM b GROUP BY bin
    ORDER BY bin ASC NULLS FIRST"""

  /** Training-sequence packing (added round 9 close): the concat-and-chunk
    * layout used to build pretraining batches — documents are concatenated
    * in a deterministic global order (doc_id) and the token stream is cut
    * into fixed `CtxLen`-token sequences; a document may straddle a cut.
    * Output is the per-document placement map a loader consumes: stream
    * offset, first/last sequence index, sequences spanned, and the offset
    * within the first sequence.
    *
    * Scale: the only global-order step is the running token sum, computed
    * with [[DistributedRank.cumsumExact]] (range buckets + per-bucket
    * window + broadcast offsets) — the plan contains NO single-partition
    * window; everything after the cumsum is per-row long arithmetic. The
    * ORACLE is the single-partition `SUM ... OVER (ORDER BY doc_id ROWS
    * UNBOUNDED PRECEDING)` form, so the distributed and naive formulations
    * verify each other exactly (the q_corpus_quality_bins pattern).
    */
  private val CtxLen = 2048

  private def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_toks"))
    DistributedRank.cumsumExact(base, "n_toks", "doc_id", "cum_toks")
      .select($"doc_id", $"n_toks",
        ($"cum_toks" - $"n_toks").as("start_off"),
        expr(s"(cum_toks - n_toks) div $CtxLen").as("seq_first"),
        expr(s"(cum_toks - 1) div $CtxLen").as("seq_last"),
        expr(s"(cum_toks - 1) div $CtxLen - (cum_toks - n_toks) div $CtxLen + 1")
          .as("n_seqs"),
        expr(s"(cum_toks - n_toks) % $CtxLen").as("seq_offset"))
      .orderBy($"doc_id".asc_nulls_first)
  }

  private val packSequencesSql = s"""
    WITH t AS (
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      FROM documents),
    c AS (
      SELECT doc_id, n_toks,
        CAST(SUM(n_toks) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_toks
      FROM t)
    SELECT doc_id, n_toks, cum_toks - n_toks AS start_off,
      (cum_toks - n_toks) // $CtxLen AS seq_first,
      (cum_toks - 1) // $CtxLen AS seq_last,
      (cum_toks - 1) // $CtxLen - (cum_toks - n_toks) // $CtxLen + 1 AS n_seqs,
      (cum_toks - n_toks) % $CtxLen AS seq_offset
    FROM c ORDER BY doc_id ASC NULLS FIRST"""

  /** LM-likelihood quality gate (added round 9 close): the perplexity-style
    * filter over the corpus's OWN bigram statistics — per document, the
    * occurrence-weighted mean and minimum of P(w2|w1) in exact integer ppm
    * (the q_text_ngram_lm probability representation), and the gate verdict
    * for improbable-token-stream documents. The integer-ppm arithmetic
    * keeps the score exact for the oracle where true log-perplexity would
    * hit cross-engine float drift.
    *
    * Scale: ONE explode pass builds per-(doc, bigram) occurrence counts
    * (cached — a real run persists this leaf to disk); corpus bigram and
    * prefix tables are ROLLUPS of that leaf (sum of n_occ), never a second
    * pass over the text; the probability join is equi-keyed on (w1, w2) /
    * (w1), shuffle-bounded with map-side-combined aggregates either side.
    */
  private val LmLowLikPpm = 33000L

  private def textLmScore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val perDoc = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= 2)
      .select($"doc_id", explode(transform(sequence(lit(0), size($"t") - 2),
        i => struct(element_at($"t", i + 1).as("w1"),
          element_at($"t", i + 2).as("w2")))).as("b"))
      .groupBy($"doc_id", $"b.w1", $"b.w2")
      .agg(count(lit(1)).as("n_occ"))
      .cache()
    val nbi = perDoc.groupBy($"w1", $"w2").agg(sum($"n_occ").as("n_ab"))
    val uni = nbi.groupBy($"w1").agg(sum($"n_ab").as("n_w1"))
    // NOT gated-broadcast (optimization round 20, negative result — the
    // r19 VERDICT's ranked task 5 asked "check it qualifies for the
    // count-gated broadcast"): it already rides one. The executed plan
    // (plans/r20/q_text_lm_score_before.txt) shows the probs side under a
    // BroadcastExchange feeding a BroadcastHashJoin BuildRight — the
    // planner's own size estimate suffices here because probs descends
    // from the CACHED perDoc leaf (InMemoryRelation carries real sizes).
    // Wrapping it in Dsl.gatedBroadcast was measured SLOWER back-to-back
    // (steady ~1.4 → ~2.0 s at sf0.1): the gate's persist + count pass
    // bought a broadcast that was already happening. The r19 dbscan
    // policy applies — one-shot tails over well-sized aggregates are
    // AQE's home turf; leave them alone.
    val probs = nbi.join(uni, "w1")
      .withColumn("p_ppm", expr("n_ab * 1000000 div n_w1"))
    perDoc.join(probs, Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(
        sum($"n_occ").as("n_bigrams"),
        expr("sum(n_occ * p_ppm) div sum(n_occ)").as("avg_p_ppm"),
        min($"p_ppm").as("min_p_ppm"))
      .withColumn("flagged_lowlik", $"avg_p_ppm" < LmLowLikPpm)
      .orderBy($"doc_id".asc_nulls_first)
  }

  private val textLmScoreSql = s"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bi AS (
      SELECT doc_id, t[i+1] AS w1, t[i+2] AS w2
      FROM (SELECT doc_id, t, unnest(range(len(t) - 1)) AS i FROM toks
            WHERE len(t) >= 2)),
    per_doc AS (
      SELECT doc_id, w1, w2, count(*) AS n_occ FROM bi GROUP BY doc_id, w1, w2),
    nbi AS (
      SELECT w1, w2, CAST(sum(n_occ) AS BIGINT) AS n_ab
      FROM per_doc GROUP BY w1, w2),
    uni AS (SELECT w1, CAST(sum(n_ab) AS BIGINT) AS n_w1 FROM nbi GROUP BY w1),
    probs AS (
      SELECT w1, w2, (n_ab * 1000000) // n_w1 AS p_ppm
      FROM nbi JOIN uni USING (w1)),
    scored AS (
      SELECT doc_id, CAST(sum(n_occ) AS BIGINT) AS n_bigrams,
        CAST(CAST(sum(n_occ * p_ppm) AS BIGINT)
          // CAST(sum(n_occ) AS BIGINT) AS BIGINT) AS avg_p_ppm,
        min(p_ppm) AS min_p_ppm
      FROM per_doc JOIN probs USING (w1, w2)
      GROUP BY doc_id)
    SELECT doc_id, n_bigrams, avg_p_ppm, min_p_ppm,
      avg_p_ppm < $LmLowLikPpm AS flagged_lowlik
    FROM scored ORDER BY doc_id ASC NULLS FIRST"""

  private val BpeMerges = 8

  /** BPE MERGE-PAIR LEARNING (added round 12; round-11 verdict gap #4) —
    * the half of the tokenizer story q_text_token_bpe (which only COUNTS
    * pre-tokens) left open: learn the merge table itself. [[BpeMerges]]
    * fixed rounds of the classic loop — count adjacent symbol pairs over
    * the corpus vocabulary (weighted by word frequency), pick the argmax
    * with a deterministic (count DESC, left ASC, right ASC) tie-break,
    * merge that pair everywhere, repeat. Output = the learned merge table
    * (round, pair, count) plus the post-merge corpus token count (the
    * compression metric a tokenizer is judged on).
    *
    * Determinism/oracle contract: a word's segmentation is carried as a
    * DOUBLE-SPACE-delimited string (" h  e  l  l  o ") so one literal
    * `replace(s, " l  r ", " lr ")` performs the greedy LEFT-TO-RIGHT
    * NON-OVERLAPPING merge — exactly BPE's semantics, and exactly what
    * both engines' `replace` implements (single-space delimiters would
    * make adjacent occurrences share a space and silently skip every
    * second merge; probed both engines on " a  a  a " → " aa  a "). Pair
    * counts are pure integers; the 8 argmax rows are the ONLY driver
    * actions (one bounded 1-row collect per round — the convergence-Long
    * pattern), and the oracle unrolls the same 8 rounds as CTEs with
    * scalar subqueries for each round's best pair.
    *
    * Scale: the loop state is the DISTINCT-WORD table (vocabulary-sized,
    * orders of magnitude smaller than the corpus — the standard BPE
    * trainer shape), eagerly checkpointed per round; pair counting is one
    * explode + map-side-combined agg per round; the corpus itself is
    * touched once to build word frequencies.
    */
  /** Learned model: the 8 merge rows plus the post-merge vocabulary
    * (word, cnt, s) — `s` is the word's final double-space-delimited
    * segmentation. Built once through [[graft.Memo]] and shared by the
    * learner and the apply query (train once, encode many — the kmAssign/
    * ivf leaf precedent). The vocab DataFrame is the loop's final eager
    * localCheckpoint, i.e. already a leaf.
    */
  private case class BpeModel(
      merges: Seq[(Long, String, String, Long)], vocab: DataFrame)

  private def bpeModel(spark: SparkSession, sfDir: String): BpeModel =
    Memo(spark, sfDir, "bpeModel")(buildBpeModel(spark, sfDir))

  private def buildBpeModel(spark: SparkSession, sfDir: String): BpeModel = {
    import spark.implicits._
    val words = Catalog.load(spark, sfDir, "documents")
      .select(explode(expr("regexp_extract_all(text, '([a-z]+)', 1)"))
        .as("word"))
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
    var seg = words.select($"word", $"cnt",
        concat(lit(" "),
          rtrim(regexp_replace($"word", "(.)", "$1  ")), lit(" ")).as("s"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (r <- 1 to BpeMerges) {
      val pairs = seg
        .select($"cnt", split(trim($"s"), "  ").as("syms"))
        .select($"cnt", explode(zip_with(
          slice($"syms", lit(1), size($"syms") - 1),
          slice($"syms", lit(2), size($"syms") - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy($"p.l".as("l"), $"p.r".as("r"))
        .agg(sum($"cnt").as("c"))
      val top = pairs
        .orderBy($"c".desc, $"l".asc, $"r".asc).limit(1).collect()
      // Loud failure, not a silent short table: a corpus too small for the
      // declared merge count would otherwise diverge from the unrolled
      // oracle (whose later rounds go NULL rather than absent).
      require(top.nonEmpty,
        s"graft q_text_bpe_learn: corpus exhausted after ${r - 1} merges, " +
          s"$BpeMerges declared")
      val best = top(0)
      val (l, rr, c) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((r.toLong, l, rr, c))
      seg = seg.withColumn("s",
          call_function("replace", $"s",
            lit(s" $l  $rr "), lit(s" $l$rr ")))
        .localCheckpoint(true)
    }
    BpeModel(merges.toSeq, seg)
  }

  private def textBpeLearn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val model = bpeModel(spark, sfDir)
    val tokensAfter = model.vocab
      .select(sum(size(split(trim($"s"), "  ")) * $"cnt").as("t"))
      .head().getLong(0)
    model.merges
      .toDF("merge_round", "left_sym", "right_sym", "pair_count")
      .withColumn("corpus_tokens_after", lit(tokensAfter))
      .orderBy($"merge_round".asc_nulls_first)
  }

  /** BPE APPLY — encode the corpus with the learned merge table (the serve
    * half q_text_bpe_learn's training half implies): per document, the
    * word count and the post-merge token count, plus the tokens-per-word
    * ratio in exact ppm integer arithmetic (the compression metric that
    * decides whether a tokenizer ships). The corpus is encoded through ONE
    * dictionary equi-join — each word's final segmentation was already
    * computed by the training loop, so apply never replays the merges over
    * the corpus (the classic trainer/encoder split: vocabulary-sized
    * state, corpus-sized throughput).
    *
    * Scale: the dictionary is the distinct-word table — Zipf-bounded,
    * orders of magnitude smaller than a 100-TB corpus — so it broadcasts
    * (declared; at open-vocabulary scale fall back to a shuffle join on
    * `word`). The per-doc aggregation is map-side combined; documents with
    * no `[a-z]+` word survive via the left join with zero counts and a
    * NULL ratio.
    */
  private def textBpeApply(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dict = bpeModel(spark, sfDir).vocab
      .select($"word",
        size(split(trim($"s"), "  ")).cast("long").as("ntok"))
    val counts = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id",
        explode(expr("regexp_extract_all(text, '([a-z]+)', 1)")).as("word"))
      .join(broadcast(dict), Seq("word"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("w"), sum($"ntok").as("t"))
    Catalog.load(spark, sfDir, "documents").select($"doc_id")
      .join(counts, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"w", lit(0L)).as("n_words"),
        coalesce($"t", lit(0L)).as("n_tokens"))
      .withColumn("tok_per_word_ppm",
        when($"n_words" === 0L, lit(null).cast("long"))
          .otherwise(expr("(n_tokens * 1000000) div n_words")))
      .orderBy($"doc_id".asc_nulls_first)
  }

  private val textBpeCtesAndUnion = {
    // Every round CTE is MATERIALIZED: w_r references w_{r-1} four times
    // (directly + three scalar subqueries on b_r), so DuckDB's default
    // inlining re-evaluates the chain 4^8 times — enough re-opened scans
    // to exhaust the fd limit before any wrong answer could even appear.
    def round(r: Int) = s"""
    p$r AS MATERIALIZED (
      SELECT pr[1] AS l, pr[2] AS r2, CAST(sum(cnt) AS BIGINT) AS c FROM (
        SELECT cnt, unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)]))
          AS pr
        FROM (SELECT cnt, string_split(trim(s, ' '), '  ') AS syms
              FROM w${r - 1}))
      GROUP BY 1, 2),
    b$r AS MATERIALIZED (
      SELECT l, r2, c FROM p$r ORDER BY c DESC, l ASC, r2 ASC LIMIT 1),
    w$r AS MATERIALIZED (
      SELECT word, cnt,
        replace(s,
          ' ' || (SELECT l FROM b$r) || '  ' || (SELECT r2 FROM b$r) || ' ',
          ' ' || (SELECT l FROM b$r) || (SELECT r2 FROM b$r) || ' ') AS s
      FROM w${r - 1}),
    m$r AS (SELECT CAST($r AS BIGINT) AS merge_round, l AS left_sym,
              r2 AS right_sym, c AS pair_count FROM b$r)"""
    val rounds = (1 to BpeMerges).map(round).mkString(",")
    val unioned = (1 to BpeMerges).map(r => s"SELECT * FROM m$r")
      .mkString(" UNION ALL ")
    val ctes = s"""words AS (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS word
        FROM documents)
      GROUP BY word),
    w0 AS MATERIALIZED (
      SELECT word, cnt,
        ' ' || rtrim(regexp_replace(word, '(.)', '\\1  ', 'g')) || ' ' AS s
      FROM words),
    $rounds"""
    (ctes, unioned)
  }

  private val textBpeLearnSql = {
    val (ctes, unioned) = textBpeCtesAndUnion
    s"""
    WITH $ctes,
    toks AS (
      SELECT CAST(sum(cnt * len(string_split(trim(s, ' '), '  '))) AS BIGINT)
        AS corpus_tokens_after
      FROM w$BpeMerges)
    SELECT m.merge_round, m.left_sym, m.right_sym, m.pair_count,
      t.corpus_tokens_after
    FROM ($unioned) m CROSS JOIN toks t
    ORDER BY merge_round ASC NULLS FIRST"""
  }

  private val textBpeApplySql = {
    val (ctes, _) = textBpeCtesAndUnion
    s"""
    WITH $ctes,
    per_word AS (
      SELECT word,
        CAST(len(string_split(trim(s, ' '), '  ')) AS BIGINT) AS ntok
      FROM w$BpeMerges),
    docw AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]+')) AS word
      FROM documents),
    cnts AS (
      SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(p.ntok) AS BIGINT) AS n_tokens
      FROM docw d JOIN per_word p USING (word)
      GROUP BY d.doc_id)
    SELECT doc.doc_id,
      coalesce(c.n_words, 0) AS n_words,
      coalesce(c.n_tokens, 0) AS n_tokens,
      CASE WHEN coalesce(c.n_words, 0) = 0 THEN NULL
           ELSE (c.n_tokens * 1000000) // c.n_words END AS tok_per_word_ppm
    FROM documents doc LEFT JOIN cnts c USING (doc_id)
    ORDER BY doc_id ASC NULLS FIRST"""
  }

  private val DupNgramTopK = 40

  /** CROSS-DOCUMENT BOILERPLATE SPANS (round 13): the [[DupNgramTopK]]
    * 5-gram spans repeated across the most DISTINCT documents — the
    * corpus-level twin of [[textRepetition]] (which scores repetition
    * WITHIN a document). This is the "repeated boilerplate" report a
    * curation run reads before dedup thresholds are chosen: navigation
    * chrome, license headers, and template text show up here with their
    * document reach (df_docs) and raw occurrence mass (n_occur), telling
    * the operator whether passage-level dedup or a df-cap is the right
    * knife. Reported by span TEXT (not hash) because the output is a
    * human decision table.
    *
    * Scale: one tokenize pass, spans built per-row with `transform` over
    * the token array (no per-token shuffle), ONE explode feeding a
    * map-side-combined span-keyed agg — count(*) and count(DISTINCT
    * doc_id) in the same agg (Spark plans the distinct via expand, still
    * one shuffle family keyed by span). The top-k then ranks the
    * |distinct spans| aggregate, never the corpus. Span df distribution
    * is Zipf-bounded the same way the shingle leaf's df-cap argument
    * runs; a production corpus would hash spans for the agg key and join
    * text back for the top-k only.
    */
  private def textDupNgrams(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", split(LlmPipeline.normText($"text"), " ").as("toks"))
      .select($"doc_id", explode(when(size($"toks") >= 5,
          transform(sequence(lit(0), size($"toks") - 5),
            i => concat_ws(" ", slice($"toks", i + 1, lit(5)))))
        .otherwise(array())).as("span"))
      .groupBy($"span")
      .agg(countDistinct($"doc_id").as("df_docs"),
        count(lit(1)).as("n_occur"))
      .filter($"df_docs" >= 2L)
      .orderBy($"df_docs".desc, $"n_occur".desc, $"span".asc)
      .limit(DupNgramTopK)
  }

  private val textDupNgramsSql = s"""
    WITH spans AS (
      SELECT doc_id, array_to_string(toks[i+1:i+5], ' ') AS span
      FROM (SELECT doc_id, toks, unnest(range(len(toks) - 4)) AS i
            FROM (SELECT doc_id, string_split(${LlmPipeline.normTextSql}, ' ') AS toks
                  FROM documents)
            WHERE len(toks) >= 5))
    SELECT span, count(DISTINCT doc_id) AS df_docs, count(*) AS n_occur
    FROM spans
    GROUP BY span
    HAVING count(DISTINCT doc_id) >= 2
    ORDER BY df_docs DESC, n_occur DESC, span ASC
    LIMIT $DupNgramTopK"""

  /** TEMPERATURE-SCALED MIXTURE QUOTAS (round 13; the reweighting half of
    * [[corpusMix]]'s capping half): per-source sampling quotas under
    * T = 2 temperature scaling — weight w_s = ⌊√(token mass)⌋, quota share
    * = w_s / Σw — the standard move that UP-weights small high-value
    * sources and DOWN-weights the dominant crawl slice without the hard
    * min-clamp [[corpusMix]] applies. Reports, per source, the raw token
    * share and the tempered share (both exact ppm integers) and the boost
    * ratio between them — the table a mixture designer reads to set epoch
    * sampling rates.
    *
    * Determinism: token mass is an exact integer; √ via IEEE-754 double
    * sqrt is CORRECTLY ROUNDED in both engines (and tok ≪ 2^52 so the
    * int→double cast is exact), so ⌊√tok⌋ is bit-identical cross-engine;
    * every share is integer ppm arithmetic (x·10^6 div total, positive
    * dividends so Spark `div` ↔ DuckDB `//` agree); the boost ratio is ppm
    * of ppm — still integer. No float comparison anywhere.
    *
    * Scale: ONE map-side-combined aggregate over the corpus produces the
    * |sources|-row weight table; everything after is arithmetic on that
    * dimension table (broadcast-scale). The corpus is never shuffled.
    */
  private def corpusTemperature(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val totals = Catalog.load(spark, sfDir, "documents")
      .select($"source",
        size(split(LlmPipeline.normText($"text"), " ")).cast("long").as("n_toks"))
      .groupBy($"source").agg(sum($"n_toks").as("tok_total"))
      .withColumn("w", floor(sqrt($"tok_total".cast("double"))).cast("long"))
    val sums = totals.agg(sum($"tok_total").as("tok_all"), sum($"w").as("w_all"))
    totals.crossJoin(broadcast(sums))
      // Domain guard (gini pattern): tok_total·10^6 must fit int64 — fires
      // at ≈9.2e12 tokens in ONE source; widen to decimal(38,0) then.
      .withColumn("tok_total",
        when($"tok_total" > (Long.MaxValue - 999999L) / 1000000L,
          raise_error(lit("graft q_corpus_temperature: per-source token " +
            "mass * 1e6 overflows int64; widen the ppm arithmetic")))
          .otherwise($"tok_total"))
      .select($"source", $"tok_total", $"w",
        expr("tok_total * 1000000 div tok_all").as("raw_ppm"),
        expr("w * 1000000 div w_all").as("tempered_ppm"))
      // nullif: a sub-ppm source has raw share 0 — boost undefined, NULL
      // (identically in both engines), never a divide-by-zero.
      .withColumn("boost_ppm",
        expr("tempered_ppm * 1000000 div nullif(raw_ppm, 0)"))
      .orderBy($"source".asc_nulls_first)
  }

  private val corpusTemperatureSql = s"""
    WITH totals AS (
      SELECT source, sum(n_toks) AS tok_total,
        CAST(floor(sqrt(CAST(sum(n_toks) AS DOUBLE))) AS BIGINT) AS w
      FROM (SELECT source,
              CAST(len(string_split(${LlmPipeline.normTextSql}, ' ')) AS BIGINT) AS n_toks
            FROM documents)
      GROUP BY source),
    sums AS (SELECT CAST(sum(tok_total) AS BIGINT) AS tok_all,
               CAST(sum(w) AS BIGINT) AS w_all FROM totals)
    SELECT source, CAST(tok_total AS BIGINT) AS tok_total, w,
      CAST(tok_total * 1000000 // tok_all AS BIGINT) AS raw_ppm,
      CAST(w * 1000000 // w_all AS BIGINT) AS tempered_ppm,
      CAST((w * 1000000 // w_all) * 1000000
        // nullif(tok_total * 1000000 // tok_all, 0) AS BIGINT) AS boost_ppm
    FROM totals CROSS JOIN sums
    ORDER BY source ASC NULLS FIRST"""

  private val BinCap = 256L
  private val PackBuckets = 8L

  /** NO-STRADDLE BIN PACKING (round 13) — the padding-aware sibling of
    * [[packSequences]]: concat-and-chunk cuts documents across sequence
    * boundaries; instruction-tuning / long-context curricula instead
    * pack each document WHOLE into a [[BinCap]]-token bin and pad the
    * remainder, so the packing quality (fill ratio) is the batch-
    * efficiency metric. Greedy next-fit over documents ordered
    * (capped_len desc, doc_id asc) — the FFD-flavored order that keeps
    * big docs from stranding half-empty bins; docs longer than the cap
    * are clamped to one full bin (the loader truncates). Output = one
    * row per bin: doc count, token sum, exact fill ppm.
    *
    * Determinism: the greedy state is (current bin, current fill) —
    * pure integer; the oracle replays the identical walk as a
    * recursive CTE stepping rn → rn+1 within each bucket (all buckets
    * advance in parallel per recursion round).
    *
    * Scale: packing is inherently sequential WITHIN a stream, so the
    * corpus is sharded into [[PackBuckets]] hash buckets (the masked
    * Knuth hash) and each bucket packs independently — bucket count is
    * the parallelism lever and scales with the corpus (at 100 TB you
    * run ~10⁵ buckets ≈ one per loader shard; per-group state is the
    * bucket's doc list, bounded by corpus/buckets). One scan builds
    * (doc, len, bucket); the greedy runs as typed flatMapGroups per
    * bucket (the q_ts_holt/q_retrieval_mmr typed-fold escape) — no
    * driver loop, no global order, no corpus-wide window.
    */
  private def packBins(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Catalog.load(spark, sfDir, "documents")
      .select(
        pmod(($"doc_id".bitwiseAND(2147483647L)) * 2654435761L,
          lit(2147483648L)).%(PackBuckets).as("bucket"),
        $"doc_id",
        least(size(split($"text", " ")).cast("long"), lit(BinCap)).as("c"))
      .as[(Long, Long, Long)]
    base.groupByKey(_._1)
      .flatMapGroups { (bucket, it) =>
        val docs = it.map { case (_, id, c) => (id, c) }.toArray
          .sortBy { case (id, c) => (-c, id) }
        val bins = Vector.newBuilder[(Long, Long, Long, Long, Long)]
        var bin = 0L; var fill = 0L; var nDocs = 0L
        def flush(): Unit = if (bin > 0L)
          bins += ((bucket, bin, nDocs, fill, fill * 1000000L / BinCap))
        docs.foreach { case (_, c) =>
          if (bin == 0L || fill + c > BinCap) {
            flush(); bin += 1L; fill = c; nDocs = 1L
          } else { fill += c; nDocs += 1L }
        }
        flush()
        bins.result()
      }
      .toDF("bucket", "bin", "n_docs", "n_toks", "fill_ppm")
      .orderBy($"bucket".asc_nulls_first, $"bin".asc_nulls_first)
  }

  private val packBinsSql = s"""
    WITH RECURSIVE t AS (
      SELECT doc_id,
        least(CAST(len(string_split(text, ' ')) AS BIGINT), $BinCap) AS c,
        ((doc_id & 2147483647) * 2654435761) % 2147483648 % $PackBuckets
          AS bucket
      FROM documents),
    d AS (
      SELECT bucket, c, row_number() OVER (PARTITION BY bucket
        ORDER BY c DESC, doc_id ASC) AS rn
      FROM t),
    walk AS (
      SELECT bucket, rn, c, CAST(1 AS BIGINT) AS bin, c AS fill
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.bucket, d.rn, d.c,
        CASE WHEN w.fill + d.c > $BinCap THEN w.bin + 1 ELSE w.bin END,
        CASE WHEN w.fill + d.c > $BinCap THEN d.c ELSE w.fill + d.c END
      FROM walk w JOIN d ON d.bucket = w.bucket AND d.rn = w.rn + 1)
    SELECT bucket, bin, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(c) AS BIGINT) AS n_toks,
      CAST(sum(c) * 1000000 // $BinCap AS BIGINT) AS fill_ppm
    FROM walk GROUP BY bucket, bin
    ORDER BY bucket ASC NULLS FIRST, bin ASC NULLS FIRST"""

  /** DUPLICATED-SPAN REMOVAL (the apply half of [[textDupNgrams]]'s
    * report half — the Lee-et-al exact-substring dedup shape): find
    * every 5-gram position whose span text recurs in ≥2 distinct
    * documents, MERGE overlapping/adjacent positions into maximal
    * per-document spans (the islands pattern over [i, i+4] intervals:
    * a new island starts when i jumps past prev_end + 1), and report
    * per affected document the span count, tokens removed, and the
    * exact kept-ppm ratio — the "how much of this doc is boilerplate"
    * cut sheet a curation run executes. Differs from passage dedup
    * ([[LlmExtras]] `q_dedup_passage_exact` keeps first occurrences of
    * fixed chunks): this removes EVERY occurrence of cross-doc repeated
    * text and merges to maximal extent, the substring-dedup semantics.
    *
    * Scale: ONE tokenize+shingle pass (optimization round 20 — the old
    * aggregate-then-join-back shape computed the scan→normText→explode→
    * slice subtree TWICE, once under the df aggregate and once under the
    * join probe): the cross-doc document frequency is read off the same
    * span-partitioned sort the hits already need —
    * max(dense_rank over (span, doc_id)) ≡ countDistinct(doc_id) per
    * span, the standard window identity — so one exchange+sort of the
    * span frame replaces the distinct aggregate, the join back, and the
    * second pass over the corpus. Per-span task concentration is the
    * same as the old shape's span-keyed shuffle (Zipf-bounded like the
    * shingle leaf; a production run hashes the span key); the island
    * merge is a per-document window over that doc's HIT positions only —
    * bounded by doc length, never corpus-wide.
    */
  private def dedupSpanRemoval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", split(LlmPipeline.normText($"text"), " ").as("toks"))
    val spans = docs
      .select($"doc_id", $"toks",
        explode(when(size($"toks") >= 5,
          sequence(lit(0), size($"toks") - 5)).otherwise(array())).as("i"))
      .select($"doc_id", $"i".cast("long").as("i"),
        concat_ws(" ", slice($"toks", $"i" + 1, lit(5))).as("span"))
    val wSpanDoc = Window.partitionBy($"span").orderBy($"doc_id".asc)
    val hits = spans
      .withColumn("dr", dense_rank().over(wSpanDoc))
      .withColumn("dfd", max($"dr").over(Window.partitionBy($"span")))
      .filter($"dfd" >= 2L)
      .select($"doc_id", $"i")
    val wp = Window.partitionBy($"doc_id").orderBy($"i".asc)
    val islands = hits
      .withColumn("prev_end",
        max($"i" + 4L).over(wp.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("fresh",
        when($"prev_end".isNull || $"i" > $"prev_end" + 1L, 1L).otherwise(0L))
      .withColumn("g", sum($"fresh")
        .over(wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"g")
      .agg(min($"i").as("s"), max($"i" + 4L).as("e"))
    islands.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum($"e" - $"s" + 1L).as("removed_tokens"))
      .join(docs.select($"doc_id", size($"toks").cast("long").as("n_tokens")),
        Seq("doc_id"))
      .select($"doc_id", $"n_spans", $"removed_tokens", $"n_tokens",
        expr("(n_tokens - removed_tokens) * 1000000 div n_tokens")
          .as("kept_ppm"))
      .orderBy($"doc_id".asc_nulls_first)
  }

  private val dedupSpanRemovalSql = s"""
    WITH docs AS (
      SELECT doc_id, string_split(${LlmPipeline.normTextSql}, ' ') AS toks
      FROM documents),
    spans AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i,
        array_to_string(toks[i+1:i+5], ' ') AS span
      FROM (SELECT doc_id, toks, unnest(range(len(toks) - 4)) AS i
            FROM docs WHERE len(toks) >= 5)),
    dup AS (
      SELECT span FROM spans GROUP BY span
      HAVING count(DISTINCT doc_id) >= 2),
    hits AS (SELECT doc_id, i FROM spans JOIN dup USING (span)),
    marked AS (
      SELECT doc_id, i,
        max(i + 4) OVER (PARTITION BY doc_id ORDER BY i ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM hits),
    grouped AS (
      SELECT doc_id, i,
        sum(CASE WHEN prev_end IS NULL OR i > prev_end + 1 THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY i ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM marked),
    islands AS (
      SELECT doc_id, g, min(i) AS s, max(i + 4) AS e
      FROM grouped GROUP BY 1, 2),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        CAST(sum(e - s + 1) AS BIGINT) AS removed_tokens
      FROM islands GROUP BY 1)
    SELECT p.doc_id, p.n_spans, p.removed_tokens,
      CAST(len(d.toks) AS BIGINT) AS n_tokens,
      CAST((len(d.toks) - p.removed_tokens) * 1000000 // len(d.toks)
        AS BIGINT) AS kept_ppm
    FROM per_doc p JOIN docs d USING (doc_id)
    ORDER BY p.doc_id ASC NULLS FIRST"""

  private val ZipfK = 100

  /** ZIPF-FIT CORPUS PROFILE (round 16) — the log-log OLS over the
    * top-[[ZipfK]] token frequencies: natural text follows freq ∝
    * rank^(−s) with s ≈ 1, so the fitted slope is the corpus-health
    * scalar next to q_text_hapax's richness ratios (template-generated
    * text flattens the head, s → 0; boilerplate repetition steepens it).
    * Determinism: ranks use the (freq desc, token asc) total order; the
    * per-row ln(rank)/ln(freq) are ROUNDED TO 4dp first (the
    * q_math_funcs precedent — Math.log and libm disagree by ulps, which
    * a 1e-4 grid absorbs), making x/y exact 4-decimal rationals whose
    * OLS moments accumulate exactly through DECIMAL(18,8); the final
    * slope/intercept are fixed IEEE expressions over identical inputs.
    *
    * Scale: the token count is one map-side-combined agg
    * (vocabulary-bounded); the top-K head is TakeOrdered (per-partition
    * top-K + K·P merge, no global sort); ranking and the OLS fold run
    * over the K-row head only.
    */
  private def textZipf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val counts = Catalog.load(spark, sfDir, "documents")
      .select(explode(split($"text", " ")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"token".asc)
      .limit(ZipfK)
    val w = Window.orderBy($"cnt".desc, $"token".asc)
    val xy = counts
      .withColumn("r", row_number().over(w).cast("long"))
      .select(
        round(log($"r".cast("double")), 4).cast("decimal(18,8)").as("x"),
        round(log($"cnt".cast("double")), 4).cast("decimal(18,8)").as("y"))
    val m = xy.agg(count(lit(1)).as("n"),
      sum($"x").cast("double").as("sx"),
      sum($"y").cast("double").as("sy"),
      sum(($"x" * $"y").cast("decimal(28,16)")).cast("double").as("sxy"),
      sum(($"x" * $"x").cast("decimal(28,16)")).cast("double").as("sxx"))
    val n = $"n".cast("double")
    val slope = (n * $"sxy" - $"sx" * $"sy") / (n * $"sxx" - $"sx" * $"sx")
    m.select($"n".as("n_fit"), slope.as("zipf_slope"),
      (($"sy" - slope * $"sx") / n).as("intercept"))
  }

  private val textZipfSql = s"""
    WITH counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
      GROUP BY token
      ORDER BY cnt DESC, token ASC
      LIMIT $ZipfK),
    xy AS (
      SELECT
        CAST(round(ln(CAST(row_number() OVER
          (ORDER BY cnt DESC, token ASC) AS DOUBLE)), 4)
          AS DECIMAL(18,8)) AS x,
        CAST(round(ln(CAST(cnt AS DOUBLE)), 4) AS DECIMAL(18,8)) AS y
      FROM counts),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(CAST(sum(x) AS VARCHAR) AS DOUBLE) AS sx,
        CAST(CAST(sum(y) AS VARCHAR) AS DOUBLE) AS sy,
        CAST(CAST(sum(CAST(CAST(x AS DECIMAL(28,8)) * y AS DECIMAL(38,16)))
             AS VARCHAR) AS DOUBLE) AS sxy,
        CAST(CAST(sum(CAST(CAST(x AS DECIMAL(28,8)) * x AS DECIMAL(38,16)))
             AS VARCHAR) AS DOUBLE) AS sxx
      FROM xy)
    SELECT n AS n_fit,
      (n * sxy - sx * sy) / (n * sxx - sx * sx) AS zipf_slope,
      (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
        AS intercept
    FROM m"""

  /** URL CANONICALIZATION DEDUP (round 16) — the CommonCrawl-stage
    * URL-identity rule: lowercase scheme/host, strip default ports and
    * the trailing path slash, drop `utm_*` tracking params, SORT the
    * surviving query params — then exact-dup on the canonical form. The
    * fixture corpus carries no URLs, so each document synthesizes 1-3
    * deterministically MESSY variants (uppercase scheme, `:443`,
    * trailing slash, shuffled/utm-polluted query strings) that all
    * canonicalize to one URL per document — the graded per-source
    * rollup pins raw-vs-canonical counts and the collapse ratio, and
    * n_canonical ≡ n_docs is the correctness signature (over-collapse
    * merges documents, under-collapse leaves tracking dupes).
    *
    * Scale: canonicalization is pure per-row regex/array projection
    * riding the scan (codegen'd builtins, no UDF); the dedup itself is
    * the standard exact-dup hash agg on the canonical string — at
    * 100 TB the canonical form is what you key the crawl-frontier and
    * the dedup shuffle on, which is why it must be a deterministic
    * per-row function and not a lookup.
    */
  private def dedupUrlCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", $"source", $"lang")
    val v0 = concat(lit("https://"), upper($"source"),
      lit(".Example.COM:443/docs/"), $"doc_id",
      lit("/?utm_source=feed&lang="), $"lang")
    val v1 = concat(lit("HTTPS://"), $"source", lit(".example.com/docs/"),
      $"doc_id", lit("?lang="), $"lang")
    val v2 = concat(lit("https://"), $"source", lit(".example.com/docs/"),
      $"doc_id", lit("/?lang="), $"lang", lit("&utm_campaign=x"))
    val urls = base.select($"doc_id", $"source",
        explode(filter(array(v0,
          when($"doc_id" % 2 === 0, v1),
          when($"doc_id" % 3 === 0, v2)), _.isNotNull)).as("url"))
    val scheme = lower(regexp_extract($"url", "^([a-zA-Z]+)://", 1))
    // Default-port stripping is SCHEME-CONDITIONED (round-17 ADVICE fix):
    // :80 is only http's default and :443 only https's — an unconditional
    // strip would wrongly collapse http://host:443/x with http://host/x.
    val hostRaw = lower(regexp_extract($"url", "^[a-zA-Z]+://([^/]+)", 1))
    val host = when(scheme === "http", regexp_replace(hostRaw, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostRaw, ":443$", ""))
      .otherwise(hostRaw)
    val path = regexp_replace(
      regexp_extract($"url", "^[a-zA-Z]+://[^/]+([^?]*)", 1), "/$", "")
    val params = array_sort(filter(split(
        regexp_extract($"url", "\\?(.*)$", 1), "&"),
      p => !p.startsWith("utm_") && p =!= ""))
    val canon = concat(scheme, lit("://"), host, path,
      when(size(params) > 0, concat(lit("?"), array_join(params, "&")))
        .otherwise(lit("")))
    urls.withColumn("canon", canon)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_raw"),
        countDistinct($"canon").as("n_canonical"),
        countDistinct($"doc_id").as("n_docs"))
      .select($"source", $"n_raw", $"n_canonical", $"n_docs",
        expr("(n_raw - n_canonical) * 1000000 div n_raw").as("collapse_ppm"))
      .orderBy($"source".asc_nulls_first)
  }

  private val dedupUrlCanonicalSql = """
    WITH base AS (SELECT doc_id, source, lang FROM documents),
    raw AS (
      SELECT doc_id, source,
        'https://' || upper(source) || '.Example.COM:443/docs/'
          || CAST(doc_id AS VARCHAR) || '/?utm_source=feed&lang=' || lang
          AS url
      FROM base
      UNION ALL
      SELECT doc_id, source,
        'HTTPS://' || source || '.example.com/docs/'
          || CAST(doc_id AS VARCHAR) || '?lang=' || lang
      FROM base WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, source,
        'https://' || source || '.example.com/docs/'
          || CAST(doc_id AS VARCHAR) || '/?lang=' || lang || '&utm_campaign=x'
      FROM base WHERE doc_id % 3 = 0),
    c AS (
      SELECT doc_id, source,
        lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) || '://'
        || CASE lower(regexp_extract(url, '^([a-zA-Z]+)://', 1))
           WHEN 'http' THEN regexp_replace(lower(
             regexp_extract(url, '^[a-zA-Z]+://([^/]+)', 1)), ':80$', '')
           WHEN 'https' THEN regexp_replace(lower(
             regexp_extract(url, '^[a-zA-Z]+://([^/]+)', 1)), ':443$', '')
           ELSE lower(regexp_extract(url, '^[a-zA-Z]+://([^/]+)', 1)) END
        || regexp_replace(
             regexp_extract(url, '^[a-zA-Z]+://[^/]+([^?]*)', 1), '/$', '')
        || CASE WHEN len(list_filter(string_split(
                  regexp_extract(url, '\?(.*)$', 1), '&'),
                  p -> p NOT LIKE 'utm_%' AND p <> '')) > 0
           THEN '?' || array_to_string(list_sort(list_filter(string_split(
                  regexp_extract(url, '\?(.*)$', 1), '&'),
                  p -> p NOT LIKE 'utm_%' AND p <> '')), '&')
           ELSE '' END AS canon
      FROM raw)
    SELECT source, CAST(count(*) AS BIGINT) AS n_raw,
      CAST(count(DISTINCT canon) AS BIGINT) AS n_canonical,
      CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      CAST((count(*) - count(DISTINCT canon)) * 1000000 // count(*)
        AS BIGINT) AS collapse_ppm
    FROM c GROUP BY source
    ORDER BY source ASC NULLS FIRST"""

  /** Minimum duplicate length in tokens — the Lee-et-al. threshold knob. */
  private[operators] val SuffixMinLen = 8
  /** Suffix-key truncation in tokens: duplicate extents are measured
    * exactly up to this length per position; longer regions are covered
    * by CHAINED positions and reassembled by the island merge. */
  private[operators] val SuffixKeyLen = 24

  /** GLOBAL EXACT SUBSTRING DEDUP — SORTED-SUFFIX PASS (round 19; r18
    * VERDICT task 1): cross-document duplicate spans at ARBITRARY offsets
    * and lengths ≥ [[SuffixMinLen]], the true Lee-et-al. suffix-array
    * semantics that [[dedupSpanRemoval]] / [[textDupNgrams]] only
    * approximate at fixed 5-gram granularity. Per token position, the
    * suffix (truncated to [[SuffixKeyLen]] tokens) is keyed by its first
    * [[SuffixMinLen]] tokens (the BAND: any two suffixes sharing ≥ L
    * tokens share the band, so the global suffix-sort decomposes into
    * per-band sorts); within a band, suffixes sort lexicographically and
    * each position's maximal duplicate extent is the classic suffix-array
    * identity max(LCP(prev), LCP(next)) — the max common prefix with ANY
    * other corpus position is achieved by a sorted NEIGHBOR. Positions
    * with extent ≥ L mark intervals [i, i+extent−1]; a per-document
    * running-max-end island merge reassembles maximal duplicated regions
    * (regions longer than K chain through overlapping flagged positions,
    * so merged extents are EXACT at any length). Output: per affected
    * document the region count, removed tokens, longest region and exact
    * kept-ppm — the substring-dedup cut sheet. Counts ≥ 2 occurrences
    * ANYWHERE (same-doc repeats included), the corpus-level definition.
    *
    * Scale: one tokenize pass → positional explode (corpus-token-sized,
    * the same mass every tokenizing op pays) → ONE shuffle keyed by the
    * 8-gram band; band populations are n-gram frequencies (Zipf-bounded,
    * the shingle-leaf argument — a production run hashes the band key and
    * caps df like SHINGLE_DF_CAP); the per-band sort + lag/lead neighbor
    * scan is windowed WITHIN bands — never a global sort, never all-pairs
    * (no-cartesian plan is spec-pinned); the island merge windows over
    * each doc's flagged positions only, bounded by doc length. LCP is
    * an O(K) codegen'd array expression, not a join.
    */
  // Token LCP with a neighbor: position of the first mismatching token
  // (array_position returns 0 when the shorter suffix is a full prefix
  // of the longer — both engines, probed). The missing-neighbor case is
  // guarded EXPLICITLY: Spark's least() SKIPS nulls (DuckDB's
  // propagates them), so relying on null propagation here silently
  // turns every band-edge row into lcp = |sfx| on the Spark side.
  // Shared by the within-corpus and cross-corpus suffix passes.
  private def sfxLcp(nb: String): Column = {
    val m = s"least(size(sfx), size($nb))"
    val mp = s"array_position(transform(sequence(1, $m), " +
      s"j -> element_at(sfx, j) != element_at($nb, j)), true)"
    expr(s"CASE WHEN $nb IS NULL THEN 0L WHEN $mp = 0 THEN $m " +
      s"ELSE $mp - 1 END")
  }

  /** The per-position (doc_id, i, band, sfx[, extra cols]) explode both
    * suffix passes start from. */
  private def sfxPositions(docs: DataFrame, extra: Column*): DataFrame = {
    import docs.sparkSession.implicits._
    // The band key ships as xxhash64 of the L-gram text, not the text
    // itself (optimization round 19, guide §2.3 — shuffle keys, not
    // payloads: the ~50-byte string was ~20% of every shuffled position
    // row, and the window comparator walked it per row). EXACT by the
    // suffix-order contiguity argument: the sort key (the joined sfx
    // text) has the band text as its PREFIX, and `concat_ws(" ")` over
    // space-free tokens is injective (split round-trips it), so within a
    // hash partition every band's rows stay CONTIGUOUS in the window
    // order; a hash collision only makes two bands share a partition,
    // where the boundary rows' foreign neighbors agree on < L tokens by
    // band-inequality and can never cross the `ext >= L` threshold —
    // the flagged set is bit-identical to the per-band-text windows the
    // DuckDB oracle runs (hash-verified at three SFs).
    docs
      .select(($"doc_id" +: $"toks" +: extra) :+
        explode(when(size($"toks") >= SuffixMinLen,
          sequence(lit(0), size($"toks") - SuffixMinLen))
          .otherwise(array())).as("i"): _*)
      .select(($"doc_id" +: $"i".cast("long").as("i") +:
        xxhash64(concat_ws(" ", slice($"toks", $"i" + 1, lit(SuffixMinLen))))
          .as("band") +:
        slice($"toks", $"i" + 1, lit(SuffixKeyLen)).as("sfx") +:
        extra): _*)
  }

  /** Island-merge + per-doc cut sheet over flagged (doc_id, i, e)
    * duplicate intervals — the shared back half of both suffix passes. */
  private def suffixCutSheet(flagged: DataFrame,
                             docs: DataFrame): DataFrame = {
    import flagged.sparkSession.implicits._
    val wp = Window.partitionBy($"doc_id").orderBy($"i".asc)
    val islands = flagged
      .withColumn("prev_end",
        max($"e").over(wp.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("fresh",
        when($"prev_end".isNull || $"i" > $"prev_end" + 1L, 1L).otherwise(0L))
      .withColumn("g", sum($"fresh")
        .over(wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"g")
      .agg(min($"i").as("s"), max($"e").as("ee"))
    islands.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_regions"),
        sum($"ee" - $"s" + 1L).as("removed_tokens"),
        max($"ee" - $"s" + 1L).as("max_region_len"))
      .join(docs.select($"doc_id", size($"toks").cast("long").as("n_tokens")),
        Seq("doc_id"))
      .select($"doc_id", $"n_regions", $"removed_tokens", $"max_region_len",
        $"n_tokens",
        expr("(n_tokens - removed_tokens) * 1000000 div n_tokens")
          .as("kept_ppm"))
      .orderBy($"doc_id".asc_nulls_first)
  }

  private def dedupSuffixSpans(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val L = SuffixMinLen
    val docs = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", split(LlmPipeline.normText($"text"), " ").as("toks"))
    val pos = sfxPositions(docs)
    val wb = Window.partitionBy($"band")
      .orderBy(concat_ws(" ", $"sfx").asc, $"doc_id".asc, $"i".asc)
    val flagged = pos
      .withColumn("psfx", lag($"sfx", 1).over(wb))
      .withColumn("nsfx", lead($"sfx", 1).over(wb))
      .select($"doc_id", $"i",
        greatest(sfxLcp("psfx"), sfxLcp("nsfx")).as("ext"))
      .filter($"ext" >= L.toLong)
      .select($"doc_id", $"i", ($"i" + $"ext" - 1L).as("e"))
    suffixCutSheet(flagged, docs)
  }

  /** CROSS-CORPUS EXACT SUBSTRING DECONTAMINATION (round 19) — the
    * sorted-suffix pass pointed at the decontamination question: which
    * TRAIN documents contain verbatim spans (≥ [[SuffixMinLen]] tokens,
    * arbitrary offsets) of the EVAL corpus (`source = src0`, the
    * q_text_decontaminate split)? The n-gram rule q_text_decontaminate
    * applies flags shingle OVERLAP; this measures the exact maximal
    * leaked REGIONS — the Lee-et-al. substring decontamination cut
    * sheet. Mechanics: both corpora's suffixes explode into the same
    * band-keyed frame with an is_eval flag; within a band's sorted
    * order, a train position's extent against the eval corpus is
    * max(LCP(nearest PRECEDING eval suffix), LCP(nearest FOLLOWING eval
    * suffix)) — nearest-in-sorted-order maximizes LCP by the suffix-array
    * min-chain identity, and the band is CONTIGUOUS in global order
    * (any suffix sandwiched between two band members shares their
    * L-prefix), so the in-band nearest eval IS the global best once
    * ext ≥ L. The nearest-eval lookup is last/first IGNORE NULLS over
    * the band window (an eval-only lag would misalign train rows);
    * train-train matches contribute NOTHING — only eval neighbors are
    * candidates, the cross-corpus contract. Flagged train intervals
    * island-merge into maximal leaked regions per train doc (same cut
    * sheet as q_dedup_suffix_spans). Eval docs emit no rows.
    *
    * Scale: identical mass to q_dedup_suffix_spans (one band-keyed
    * shuffle, windowed in-band neighbor scan, never all-pairs); the
    * eval corpus rides the SAME explode — no separate broadcast needed
    * because the band sort interleaves the two sides for free. */
  private def dedupSuffixCross(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val L = SuffixMinLen
    val docs = Catalog.load(spark, sfDir, "documents")
      .select($"doc_id", ($"source" === EvalSource).as("is_eval"),
        split(LlmPipeline.normText($"text"), " ").as("toks"))
    val pos = sfxPositions(docs, $"is_eval")
    val wb = Window.partitionBy($"band")
      .orderBy(concat_ws(" ", $"sfx").asc, $"doc_id".asc, $"i".asc)
    val evalSfx = when($"is_eval", $"sfx")
    val flagged = pos
      .withColumn("psfx", last(evalSfx, ignoreNulls = true)
        .over(wb.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("nsfx", first(evalSfx, ignoreNulls = true)
        .over(wb.rowsBetween(1, Window.unboundedFollowing)))
      .filter(!$"is_eval")
      .select($"doc_id", $"i",
        greatest(sfxLcp("psfx"), sfxLcp("nsfx")).as("ext"))
      .filter($"ext" >= L.toLong)
      .select($"doc_id", $"i", ($"i" + $"ext" - 1L).as("e"))
    suffixCutSheet(flagged, docs.filter(!$"is_eval"))
  }

  private val dedupSuffixSpansSql: String = {
    val L = SuffixMinLen
    val K = SuffixKeyLen
    def lcpSql(nb: String): String = {
      val m = s"least(len(sfx), len($nb))"
      val mp = s"list_position(list_transform(range(1, $m + 1), " +
        s"j -> sfx[j] IS DISTINCT FROM $nb[j]), true)"
      s"CASE WHEN $nb IS NULL THEN 0 WHEN $mp = 0 THEN $m ELSE $mp - 1 END"
    }
    s"""
    WITH docs AS (
      SELECT doc_id, string_split(${LlmPipeline.normTextSql}, ' ') AS toks
      FROM documents),
    pos AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i,
        array_to_string(toks[i+1:i+$L], ' ') AS band,
        toks[i+1:i+$K] AS sfx
      FROM (SELECT doc_id, toks, unnest(range(len(toks) - ${L - 1})) AS i
            FROM docs WHERE len(toks) >= $L)),
    nbr AS (
      SELECT doc_id, i, sfx,
        lag(sfx) OVER w AS psfx, lead(sfx) OVER w AS nsfx
      FROM pos
      WINDOW w AS (PARTITION BY band
        ORDER BY array_to_string(sfx, ' ') ASC, doc_id ASC, i ASC)),
    flagged AS (
      SELECT doc_id, i,
        i + greatest(${lcpSql("psfx")}, ${lcpSql("nsfx")}) - 1 AS e
      FROM nbr
      WHERE greatest(${lcpSql("psfx")}, ${lcpSql("nsfx")}) >= $L),
    marked AS (
      SELECT doc_id, i, e,
        max(e) OVER (PARTITION BY doc_id ORDER BY i ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM flagged),
    grouped AS (
      SELECT doc_id, i, e,
        sum(CASE WHEN prev_end IS NULL OR i > prev_end + 1 THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY i ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM marked),
    islands AS (
      SELECT doc_id, g, min(i) AS s, max(e) AS ee
      FROM grouped GROUP BY 1, 2),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_regions,
        CAST(sum(ee - s + 1) AS BIGINT) AS removed_tokens,
        CAST(max(ee - s + 1) AS BIGINT) AS max_region_len
      FROM islands GROUP BY 1)
    SELECT p.doc_id, p.n_regions, p.removed_tokens, p.max_region_len,
      CAST(len(d.toks) AS BIGINT) AS n_tokens,
      CAST((len(d.toks) - p.removed_tokens) * 1000000 // len(d.toks)
        AS BIGINT) AS kept_ppm
    FROM per_doc p JOIN docs d USING (doc_id)
    ORDER BY p.doc_id ASC NULLS FIRST"""
  }

  private val dedupSuffixCrossSql: String = {
    val L = SuffixMinLen
    val K = SuffixKeyLen
    def lcpSql(nb: String): String = {
      val m = s"least(len(sfx), len($nb))"
      val mp = s"list_position(list_transform(range(1, $m + 1), " +
        s"j -> sfx[j] IS DISTINCT FROM $nb[j]), true)"
      s"CASE WHEN $nb IS NULL THEN 0 WHEN $mp = 0 THEN $m ELSE $mp - 1 END"
    }
    s"""
    WITH docs AS (
      SELECT doc_id, source = '$EvalSource' AS is_eval,
        string_split(${LlmPipeline.normTextSql}, ' ') AS toks
      FROM documents),
    pos AS (
      SELECT doc_id, is_eval, CAST(i AS BIGINT) AS i,
        array_to_string(toks[i+1:i+$L], ' ') AS band,
        toks[i+1:i+$K] AS sfx
      FROM (SELECT doc_id, is_eval, toks,
              unnest(range(len(toks) - ${L - 1})) AS i
            FROM docs WHERE len(toks) >= $L)),
    nbr AS (
      SELECT doc_id, is_eval, i, sfx,
        last_value(CASE WHEN is_eval THEN sfx END IGNORE NULLS) OVER wp
          AS psfx,
        first_value(CASE WHEN is_eval THEN sfx END IGNORE NULLS) OVER wn
          AS nsfx
      FROM pos
      WINDOW
        wp AS (PARTITION BY band
          ORDER BY array_to_string(sfx, ' ') ASC, doc_id ASC, i ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        wn AS (PARTITION BY band
          ORDER BY array_to_string(sfx, ' ') ASC, doc_id ASC, i ASC
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
    flagged AS (
      SELECT doc_id, i,
        i + greatest(${lcpSql("psfx")}, ${lcpSql("nsfx")}) - 1 AS e
      FROM nbr
      WHERE NOT is_eval
        AND greatest(${lcpSql("psfx")}, ${lcpSql("nsfx")}) >= $L),
    marked AS (
      SELECT doc_id, i, e,
        max(e) OVER (PARTITION BY doc_id ORDER BY i ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM flagged),
    grouped AS (
      SELECT doc_id, i, e,
        sum(CASE WHEN prev_end IS NULL OR i > prev_end + 1 THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY i ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM marked),
    islands AS (
      SELECT doc_id, g, min(i) AS s, max(e) AS ee
      FROM grouped GROUP BY 1, 2),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_regions,
        CAST(sum(ee - s + 1) AS BIGINT) AS removed_tokens,
        CAST(max(ee - s + 1) AS BIGINT) AS max_region_len
      FROM islands GROUP BY 1)
    SELECT p.doc_id, p.n_regions, p.removed_tokens, p.max_region_len,
      CAST(len(d.toks) AS BIGINT) AS n_tokens,
      CAST((len(d.toks) - p.removed_tokens) * 1000000 // len(d.toks)
        AS BIGINT) AS kept_ppm
    FROM per_doc p JOIN docs d USING (doc_id)
    ORDER BY p.doc_id ASC NULLS FIRST"""
  }

  override val queries: Vector[Q] = Vector(
    Q("q_text_zipf", textZipf, Some(textZipfSql)),
    Q("q_dedup_url_canonical", dedupUrlCanonical,
      Some(dedupUrlCanonicalSql)),
    Q("q_dedup_span_removal", dedupSpanRemoval, Some(dedupSpanRemovalSql)),
    Q("q_dedup_suffix_spans", dedupSuffixSpans, Some(dedupSuffixSpansSql)),
    Q("q_dedup_suffix_cross", dedupSuffixCross, Some(dedupSuffixCrossSql)),
    Q("q_pack_bins", packBins, Some(packBinsSql)),
    Q("q_text_dup_ngrams", textDupNgrams, Some(textDupNgramsSql)),
    Q("q_corpus_temperature", corpusTemperature, Some(corpusTemperatureSql)),
    Q("q_text_bpe_learn", textBpeLearn, Some(textBpeLearnSql), warm = true),
    Q("q_text_bpe_apply", textBpeApply, Some(textBpeApplySql)),
    Q("q_text_decontaminate", textDecontaminate, Some(textDecontaminateSql)),
    Q("q_text_repetition", textRepetition, Some(textRepetitionSql)),
    Q("q_corpus_mix", corpusMix, Some(corpusMixSql)),
    Q("q_corpus_quality_bins", corpusQualityBins, Some(corpusQualityBinsSql)),
    Q("q_pack_sequences", packSequences, Some(packSequencesSql)),
    Q("q_text_lm_score", textLmScore, Some(textLmScoreSql)),
  )
}
