package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Catalog, Memo, Q, QueryPack, Rounds}

/** SURVEY.md §2.J2 — PRODUCT QUANTIZATION (added round 12 batch 8): the
  * compressed-index ANN stage every billion-vector store runs (FAISS's
  * IVF-PQ core): the 64-dim space splits into [[M]] 8-dim subspaces, each
  * with its own [[Kpq]]-entry codebook trained by Lloyd's; a vector is
  * stored as [[M]] one-byte codes (64 floats → 8 bytes, the 32× memory
  * cut), and retrieval scores candidates WITHOUT decompression via ADC
  * (asymmetric distance computation): per probe, a lookup table of
  * probe-subvector · centroid products, summed over each candidate's
  * codes. Two graded queries:
  *
  *  - `q_sim_pq_train` — all [[M]] codebooks trained TOGETHER: the
  *    subvector explode keys every Lloyd stage by (sub, code), so one
  *    corpus pass per iteration trains all eight codebooks (at 100 TB:
  *    8× fewer passes than per-subspace jobs). Output = every codebook
  *    centroid dimension + member count.
  *  - `q_sim_pq_adc` — the serve path: corpus encoded once (codes leaf),
  *    probe builds its 128-row LUT, ADC score = Σ_sub LUT[sub, code],
  *    top-5 per probe.
  *
  * Determinism contract (the [[KMeansOps]] scaled-integer precedent,
  * applied per subspace): vectors quantize once to e[i] = floor(v·10^6)
  * BIGINT; distances are exact integer squared-L2 over 8 dims; centroid
  * update is offset integer division ((Σ(e+Off)) div n − Off, positive
  * dividend so `div` ↔ `//` agree); seeding picks the [[Kpq]] vec_ids
  * minimizing the Knuth hash ((vec_id & (2^31−1)) · 2654435761 mod 2^31 —
  * masked BEFORE the multiply so the product fits int64 for any id
  * domain; unmasked ids ≥ ~3.47e9 wrap in Spark but error in DuckDB) —
  * the SAME seed rows feed all subspaces
  * (their subvectors differ per subspace, so codebooks still diverge).
  * ADC scores are integer dot products of quantized values — no float
  * anywhere, so training, codes, LUT, and ranking are all bit-equal
  * cross-engine and the whole pipeline is oracle-checked end-to-end,
  * where float PQ could at best be recall-bounded.
  *
  * Scale: training shuffles (vec_id, sub)-keyed subvector rows (the
  * argmin window partitions by (vec_id, sub) — never global); the codes
  * leaf is the memoized encode-once artifact ([[graft.Memo]]);
  * ADC joins the N·M-row code table against a BROADCAST LUT (probes ×
  * M × Kpq rows — small by construction) and sums map-side-combined per
  * (probe, cand). Candidate scoring never touches the raw vectors — the
  * point of PQ.
  */
object PqOps extends QueryPack {

  private val M = 8        // subspaces
  private val SubDim = 8   // dims per subspace (M * SubDim = 64)
  private val Kpq = 16     // codes per codebook
  private val Iters = 2
  private val Off = 2000000L

  /** Subvector frame: (vec_id, sub, se: array<long>[SubDim]) — one row
    * per (vector, subspace), quantized like [[KMeansOps]] (floor·10^6).
    */
  private[operators] def subQuant(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Memo.leaf(spark, sfDir, "pqSubQuant") {
      Catalog.load(spark, sfDir, "embeddings")
        .select($"vec_id",
          transform($"embedding",
            v => floor(v.cast("double") * lit(1000000d)).cast("long"))
            .as("e"))
        .select($"vec_id", explode(array((0 until M).map(s =>
          struct(lit(s.toLong).as("sub"),
            slice($"e", s * SubDim + 1, SubDim).as("se"))): _*)).as("x"))
        .select($"vec_id", $"x.sub".as("sub"), $"x.se".as("se"))
    }
  }

  private def sqDist(e: Column, c: Column): Column =
    aggregate(zip_with(e, c, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)

  private[operators] def dotInt(e: Column, c: Column): Column =
    aggregate(zip_with(e, c, (x, y) => x * y), lit(0L), _ + _)

  /** One assignment pass over ALL subspaces: nearest code per (vec_id,
    * sub) by integer squared-L2, ties by code. `cent` is (sub, code, c).
    */
  private def assignPass(sq: DataFrame, cent: DataFrame): DataFrame = {
    val d = sq.join(broadcast(cent), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("se"), col("code"),
        sqDist(col("se"), col("c")).as("d2"))
    val w = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("d2").asc, col("code").asc)
    d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("code"), col("se"))
  }

  /** Integer codebook update: all M codebooks in one hash agg keyed
    * (sub, code). */
  private def centroidsOf(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("sub"), col("code")).agg(
      array((0 until SubDim).map(i =>
        expr(s"(sum(element_at(se, ${i + 1}) + $Off) div count(1)) - $Off")): _*)
        .as("c"))

  /** Final code assignment leaf: (vec_id, sub, code). */
  private[graft] def pqCodes(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Memo.leaf(spark, sfDir, "pqCodes") {
      val sq = subQuant(spark, sfDir)
      val seedW = Window.orderBy($"h".asc, $"vec_id".asc)
      val seeds = sq.select($"vec_id").distinct()
        .select($"vec_id",
          pmod(($"vec_id".bitwiseAND(2147483647L)) * 2654435761L,
            lit(2147483648L)).as("h"))
        .orderBy($"h".asc, $"vec_id".asc).limit(Kpq)
        .withColumn("code", (row_number().over(seedW) - 1).cast("long"))
        .select($"vec_id", $"code")
      val cent0 = Rounds.cut(sq.join(seeds, Seq("vec_id"))
        .select($"sub", $"code", $"se".as("c")))
      // Rounds 1..Iters-1 assign and re-center; the last assignment is
      // the leaf itself, so no unread centroids are computed or cut.
      val cent = (1 until Iters).foldLeft(cent0) { (c, _) =>
        Rounds.cut(centroidsOf(Rounds.cut(assignPass(sq, c))))
      }
      assignPass(sq, cent).select($"vec_id", $"sub", $"code")
    }
  }

  /** Final codebook leaf: (sub, code, c) — recomputed from the code leaf
    * with the same integer arithmetic (the kmCentroids consistency
    * pattern). */
  private[graft] def pqCodebooks(spark: SparkSession, sfDir: String): DataFrame = {
    Memo.leaf(spark, sfDir, "pqCodebooks") {
      centroidsOf(pqCodes(spark, sfDir)
        .join(subQuant(spark, sfDir), Seq("vec_id", "sub")))
    }
  }

  private def pqTrain(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sizes = pqCodes(spark, sfDir)
      .groupBy($"sub", $"code").agg(count(lit(1)).as("n_members"))
    pqCodebooks(spark, sfDir)
      .select($"sub", $"code", posexplode($"c").as(Seq("pos0", "c")))
      .select($"sub", $"code", ($"pos0" + 1).cast("long").as("pos"), $"c")
      .join(sizes, Seq("sub", "code"))
      .orderBy($"sub".asc_nulls_first, $"code".asc_nulls_first,
        $"pos".asc_nulls_first)
  }

  /** ADC retrieval: per probe (vec_id < 10), the top-5 candidates by
    * Σ_sub LUT[sub, code(cand, sub)] where LUT = probe-subvector ·
    * codebook-centroid integer dots; candidates scored from CODES ONLY.
    */
  private def pqAdc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val lut = subQuant(spark, sfDir).filter($"vec_id" < 10L)
      .select($"vec_id".as("probe_id"), $"sub", $"se")
      .join(pqCodebooks(spark, sfDir), Seq("sub"))
      .select($"probe_id", $"sub", $"code", dotInt($"se", $"c").as("p"))
    val scored = pqCodes(spark, sfDir)
      .join(broadcast(lut), Seq("sub", "code"))
      .filter($"vec_id" =!= $"probe_id")
      .groupBy($"probe_id", $"vec_id".as("cand_id"))
      .agg(sum($"p").as("adc_score"))
    val w = Window.partitionBy($"probe_id")
      .orderBy($"adc_score".desc, $"cand_id".asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .orderBy($"probe_id".asc_nulls_first, $"rank".asc_nulls_first)
  }

  /** The PQ pipeline unrolled as CTEs (the [[KMeansOps.kmeansCtes]]
    * pattern, keyed by subspace): subvector quantization, shared seeds,
    * [[Iters]] assign/update rounds. */
  private[operators] val pqCtes = {
    def distAssign(i: Int, prev: String) = s"""
    pdist$i AS (
      SELECT q.vec_id, q.sub, c.code, sum((q.e - c.c) * (q.e - c.c)) AS d2
      FROM squant q JOIN $prev c ON c.sub = q.sub AND c.spos = q.spos
      GROUP BY 1, 2, 3),
    passign$i AS (
      SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code, row_number() OVER
          (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn
        FROM pdist$i) WHERE rn = 1),
    pcent$i AS (
      SELECT a.sub, a.code, q.spos,
        CAST((sum(q.e + $Off) // count(*)) - $Off AS BIGINT) AS c
      FROM passign$i a JOIN squant q ON q.vec_id = a.vec_id AND q.sub = a.sub
      GROUP BY 1, 2, 3)"""
    val rounds = (1 to Iters)
      .map(i => distAssign(i, s"pcent${i - 1}")).mkString(",")
    s"""squant AS (
      SELECT vec_id,
        CAST((pos - 1) // $SubDim AS BIGINT) AS sub,
        CAST((pos - 1) % $SubDim + 1 AS BIGINT) AS spos,
        CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS e
      FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
              unnest(embedding) AS v
            FROM embeddings)),
    pseeds AS (
      SELECT vec_id,
        CAST(row_number() OVER
          (ORDER BY ((vec_id & 2147483647) * 2654435761) % 2147483648 ASC, vec_id ASC)
          AS BIGINT) - 1 AS code
      FROM embeddings
      QUALIFY row_number() OVER
        (ORDER BY ((vec_id & 2147483647) * 2654435761) % 2147483648 ASC, vec_id ASC) <= $Kpq),
    pcent0 AS (
      SELECT q.sub, s.code, q.spos, q.e AS c
      FROM pseeds s JOIN squant q ON q.vec_id = s.vec_id),
    $rounds"""
  }

  private val pqTrainOracle = s"""
    WITH $pqCtes,
    psizes AS (SELECT sub, code, count(*) AS n_members
               FROM passign$Iters GROUP BY 1, 2)
    SELECT c.sub, c.code, c.spos AS pos, c.c, s.n_members
    FROM pcent$Iters c JOIN psizes s ON s.sub = c.sub AND s.code = c.code
    ORDER BY c.sub ASC NULLS FIRST, c.code ASC NULLS FIRST,
      pos ASC NULLS FIRST"""

  private val pqAdcOracle = s"""
    WITH $pqCtes,
    lut AS (
      SELECT q.vec_id AS probe_id, q.sub, c.code, sum(q.e * c.c) AS p
      FROM squant q JOIN pcent$Iters c ON c.sub = q.sub AND c.spos = q.spos
      WHERE q.vec_id < 10
      GROUP BY 1, 2, 3),
    adc AS (
      SELECT l.probe_id, a.vec_id AS cand_id,
        CAST(sum(l.p) AS BIGINT) AS adc_score
      FROM passign$Iters a
      JOIN lut l ON l.sub = a.sub AND l.code = a.code
      WHERE a.vec_id <> l.probe_id
      GROUP BY 1, 2),
    ranked AS (
      SELECT *, CAST(row_number() OVER
        (PARTITION BY probe_id ORDER BY adc_score DESC, cand_id ASC)
        AS BIGINT) AS rank
      FROM adc)
    SELECT probe_id, cand_id, adc_score, rank FROM ranked WHERE rank <= 5
    ORDER BY probe_id ASC NULLS FIRST, rank ASC NULLS FIRST"""

  override val queries: Vector[Q] = Vector(
    Q("q_sim_pq_train", pqTrain, Some(pqTrainOracle), warm = true),
    Q("q_sim_pq_adc", pqAdc, Some(pqAdcOracle)),
  )
}
