package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Catalog, Memo, Q, QueryPack}

/** SURVEY.md §2.A — scans, sources, sinks.
  *
  * Scale notes: projection/filter queries are written so Catalyst pushes both
  * into the parquet scan (`ReadSchema` only carries selected columns,
  * `PushedFilters` carries the predicate) — at 100 TB that's the difference
  * between reading 2 columns of the row groups that can match vs the whole
  * table. The CSV/JSON roundtrips prove non-parquet ingestion with explicit
  * schemas (never schema inference, which would double-scan the source).
  */
object Scans extends QueryPack {

  private def scanParquet(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Catalog.load(spark, sfDir, "region").orderBy($"r_regionkey".asc_nulls_first)
  }

  private def scanProjection(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Catalog.load(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_linenumber")
      .orderBy($"l_orderkey".asc_nulls_first, $"l_linenumber".asc_nulls_first)
  }

  private def scanFilterPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Catalog.load(spark, sfDir, "lineitem")
      .filter($"l_shipdate" >= lit("1998-06-01").cast("timestamp"))
      .select($"l_orderkey", $"l_linenumber", $"l_shipdate")
      // l_shipdate joins the sort: (l_orderkey, l_linenumber) is not unique
      // in the fixture, so tie order must be pinned by every output column.
      .orderBy($"l_orderkey".asc_nulls_first, $"l_linenumber".asc_nulls_first,
        $"l_shipdate".asc_nulls_first)
  }

  /** Whole-file binary ingest via Spark's `binaryFile` source (added round
    * 10 batch 2) — the front door of every multimodal pipeline (images,
    * audio, PDFs land as FILES before anything has rows; §2.J's multimodal
    * operators assume this step happened). The scratch feed is 20 documents
    * materialized as standalone UTF-8 `.bin` files; the graded read scans
    * them as (path, length, content) and emits a portable manifest —
    * basename, byte count, and `md5(hex(content))` (both engines hex
    * BLOBs uppercase; DuckDB has no blob-md5, so the digest goes through
    * hex on BOTH sides). The oracle never touches the scratch dir: it
    * reconstructs the expected manifest from the documents table
    * (`encode(text)` → the same UTF-8 bytes the writer produced).
    *
    * Scale: binaryFile is a standard FileScan — files partition across
    * tasks like any other source, pruning/filters on path/length apply;
    * content stays off-heap columnar until the digest projection.
    */
  /** PARQUET COMPRESSION-CODEC MATRIX (round 14) — the storage knob every
    * 100 TB deployment tunes: the same orders slice written under snappy
    * (the scan-speed default), zstd (the capacity choice) and gzip (the
    * legacy interop), then read back and aggregated per codec. The graded
    * contract is codec-transparency: identical rows from every codec
    * (three identical aggregate rows keyed by codec name — a decode bug in
    * any path breaks its row); the spec additionally asserts the on-disk
    * byte sizes genuinely DIFFER, so the writes demonstrably exercised
    * three distinct codecs rather than one default. Scratch written once
    * (a [[graft.Memo]] dir); the timed pass measures the three decode paths.
    */
  private def parquetCodecs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = codecScratch(spark, sfDir)
    Seq("gzip", "snappy", "zstd").map { c =>
      spark.read.parquet(s"$dir/$c")
        .agg(count(lit(1)).as("n_rows"),
          sum($"o_orderkey").cast("long").as("key_sum"),
          sum(($"o_totalprice".cast("decimal(14,2)") * 100).cast("long"))
            .as("total_cents"))
        .select(lit(c).as("codec"), $"n_rows", $"key_sum", $"total_cents")
    }.reduce(_.unionByName(_)).orderBy($"codec".asc_nulls_first)
  }

  /** Spec hook + scratch: the codec matrix directory. */
  private[graft] def codecScratch(spark: SparkSession, sfDir: String): String =
    Memo.dir(spark, sfDir, "codecsrc") { d =>
      import spark.implicits._
      val src = graft.Catalog.load(spark, sfDir, "orders")
        .filter(pmod($"o_orderkey", lit(10)) === 1)
      Seq("snappy", "zstd", "gzip").foreach { c =>
        src.coalesce(1).write.option("compression", c).parquet(s"$d/$c")
      }
    }

  private val parquetCodecsOracle = """
    WITH s AS (
      SELECT count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
          AS BIGINT) AS total_cents
      FROM orders WHERE o_orderkey % 10 = 1)
    SELECT 'gzip' AS codec, n_rows, key_sum, total_cents FROM s
    UNION ALL SELECT 'snappy', n_rows, key_sum, total_cents FROM s
    UNION ALL SELECT 'zstd', n_rows, key_sum, total_cents FROM s
    ORDER BY codec ASC NULLS FIRST"""

  private def binaryFileSource(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = Memo.dir(spark, sfDir, "binsrc") { d =>
      val docs = Catalog.load(spark, sfDir, "documents")
        .filter($"doc_id" < 20).select($"doc_id", $"text").collect()
      val p = java.nio.file.Paths.get(d)
      java.nio.file.Files.createDirectories(p)
      docs.foreach { r =>
        java.nio.file.Files.write(p.resolve(s"doc_${r.getLong(0)}.bin"),
          r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    spark.read.format("binaryFile").load(dir)
      .select(
        regexp_extract($"path", "([^/]+)$", 1).as("file_name"),
        $"length".as("n_bytes"),
        md5(hex($"content")).as("content_md5"))
      .orderBy($"file_name".asc_nulls_first)
  }

  private val binaryFileSourceOracle = """
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.bin' AS file_name,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      md5(hex(encode(text))) AS content_md5
    FROM documents WHERE doc_id < 20
    ORDER BY file_name ASC NULLS FIRST"""

  /** Unstructured text-log ingest (added round 10 batch 5) — the LAST
    * built-in file source missing from §A (csv/json/orc/avro/xml/binary/
    * parquet are covered): application logs land as lines, not rows, and
    * the ingest pattern is `spark.read.text` + regexp field extraction +
    * re-typing. The scratch feed is every order formatted as a log line
    * (`ORDER key=… prio=… total=… date=…`) by a DISTRIBUTED text write (no
    * collect); the graded read parses the four fields back and re-types
    * them. The money field round-trips exactly because both directions go
    * through DECIMAL(14,2) (2dp string ↔ decimal ↔ double are lossless);
    * the oracle never reads the scratch dir — it reconstructs the expected
    * parse from the orders table.
    *
    * Scale: text is a plain FileScan (lines split across tasks by range);
    * regexp_extract is codegen'd scan-side projection — the standard
    * 100-TB log-ingest shape.
    */
  private def textRegexSource(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = Memo.dir(spark, sfDir, "orders_log") { d =>
      Catalog.load(spark, sfDir, "orders")
        .select(concat(
          lit("ORDER key="), $"o_orderkey",
          lit(" prio="), $"o_orderpriority",
          lit(" total="), $"o_totalprice".cast("decimal(14,2)").cast("string"),
          lit(" date="), date_format($"o_orderdate", "yyyy-MM-dd")).as("value"))
        .write.mode("overwrite").text(d)
    }
    spark.read.text(dir)
      .select(
        regexp_extract($"value", "key=(\\d+)", 1).cast("long").as("o_key"),
        // prio values contain spaces ("4-NOT SPECIFIED") — delimit by the
        // following field marker, not by whitespace.
        regexp_extract($"value", "prio=(.*) total=", 1).as("prio"),
        regexp_extract($"value", "total=([0-9.]+)", 1)
          .cast("decimal(14,2)").cast("double").as("total"),
        regexp_extract($"value", "date=([0-9-]+)", 1).as("log_date"))
      .orderBy($"o_key".asc_nulls_first)
  }

  private val textRegexSourceOracle = """
    SELECT o_orderkey AS o_key, o_orderpriority AS prio,
      CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DOUBLE) AS total,
      strftime(o_orderdate, '%Y-%m-%d') AS log_date
    FROM orders ORDER BY o_key ASC NULLS FIRST"""

  private def csvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = Memo.dir(spark, sfDir, "nation_csv") { d =>
      Catalog.load(spark, sfDir, "nation")
        .write.mode("overwrite").option("header", "true").csv(d)
    }
    spark.read
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .option("header", "true")
      .csv(dir)
      .orderBy($"n_nationkey".asc_nulls_first)
  }

  /** Malformed-record ingest (added round 10): the PERMISSIVE-mode CSV
    * contract every landing pipeline leans on — bad rows must neither kill
    * the job (FAILFAST) nor vanish silently (DROPMALFORMED), but surface
    * in a corrupt-record column for quarantine. The scratch feed corrupts
    * every third nation row deterministically (non-numeric key field);
    * the read declares `_corrupt STRING` via `columnNameOfCorruptRecord`,
    * and the query emits the per-disposition audit (row counts + key range
    * of the rows that parsed). The oracle reconstructs the rule from the
    * original table. Scale note: PERMISSIVE parsing is a per-row map —
    * no shuffle before the audit aggregation.
    */
  private def csvMalformed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = Memo.dir(spark, sfDir, "nation_badcsv") { d =>
      Catalog.load(spark, sfDir, "nation")
        .select(
          when($"n_nationkey" % 3 === 0, concat(lit("X"), $"n_nationkey"))
            .otherwise($"n_nationkey".cast("string")).as("k"),
          $"n_name", $"n_regionkey")
        .write.mode("overwrite").csv(d)
    }
    // cache(): Spark refuses plans whose pruned scan schema degenerates to
    // the corrupt column alone (QUERY_ONLY_CORRUPT_RECORD_COLUMN); the
    // documented pattern is to cache the fully-parsed result and query
    // that — the InMemoryRelation pins the full schema, so downstream
    // pruning can never reach corrupt-only (25 rows; dropped by the
    // bench's between-queries clearCache).
    spark.read
      .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, _corrupt STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(dir)
      .cache()
      .select($"n_nationkey", ($"_corrupt".isNotNull).as("is_corrupt"))
      .groupBy($"is_corrupt")
      .agg(count(lit(1)).as("n_rows"),
        min($"n_nationkey").as("min_key"), max($"n_nationkey").as("max_key"))
      .orderBy($"is_corrupt".asc_nulls_first)
  }

  private def jsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = Memo.dir(spark, sfDir, "customer_json") { d =>
      Catalog.load(spark, sfDir, "customer").write.mode("overwrite").json(d)
    }
    spark.read
      .schema("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")
      .json(dir)
      .orderBy($"c_custkey".asc_nulls_first)
  }

  /** Columnar non-parquet format: ORC roundtrip via Spark's native reader
    * (vectorized, predicate-pushdown-capable — the same scan properties as
    * parquet).
    */
  private def orcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = Memo.dir(spark, sfDir, "part_orc") { d =>
      Catalog.load(spark, sfDir, "part").write.mode("overwrite").orc(d)
    }
    spark.read.orc(dir)
      .orderBy($"p_partkey".asc_nulls_first)
  }

  /** Avro is ON this classpath after all (round-2 comment was wrong): Spark 4
    * compiles `org.apache.spark.sql.avro.AvroFileFormat` into spark-sql
    * itself; only the SHORT name "avro" is rejected, because lookupDataSource
    * special-cases it when the external module's DataSourceRegister entry is
    * absent (probed this box: `format("avro")` → AnalysisException, the
    * fully-qualified class reads and writes fine). Row-oriented format —
    * no predicate pushdown, the natural landing format for event streams.
    */
  private val AvroFormat = "org.apache.spark.sql.avro.AvroFileFormat"

  private def avroRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = Memo.dir(spark, sfDir, "supplier_avro") { d =>
      Catalog.load(spark, sfDir, "supplier")
        .write.mode("overwrite").format(AvroFormat).save(d)
    }
    spark.read.format(AvroFormat).load(dir)
      .orderBy($"s_suppkey".asc_nulls_first)
  }

  /** Native XML (registered in Spark 4's DataSourceRegister): the remaining
    * common semi-structured ingest format after CSV/JSON. Explicit schema on
    * read, like every other roundtrip — XML inference would double-scan AND
    * widen integers.
    */
  private def xmlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = Memo.dir(spark, sfDir, "region_xml") { d =>
      Catalog.load(spark, sfDir, "region")
        .write.mode("overwrite").option("rowTag", "region").format("xml").save(d)
    }
    spark.read
      .schema("r_regionkey INT, r_name STRING")
      .option("rowTag", "region")
      .format("xml").load(dir)
      .orderBy($"r_regionkey".asc_nulls_first)
  }

  /** Schema evolution on read (added round 9 close): two parquet
    * generations of the supplier feed — v1 without `s_acctbal`, v2 with it
    * — unioned by `mergeSchema=true` into one widened scan where v1 rows
    * carry NULL for the late column. The additive-column lake migration
    * every long-lived table goes through; the oracle reconstructs the same
    * widening with a CASE over the original table. (Merge cost is
    * footer-only — one schema per FILE is reconciled, no data rewrite; a
    * production table keeps mergeSchema off and declares the evolved
    * schema, paying the merge only while generations coexist.)
    */
  private def schemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = Memo.dir(spark, sfDir, "supplier_evo") { d =>
      val s = Catalog.load(spark, sfDir, "supplier")
      s.filter($"s_suppkey" % 2 === 0).select($"s_suppkey", $"s_name")
        .write.mode("overwrite").parquet(s"$d/v1")
      s.filter($"s_suppkey" % 2 === 1).select($"s_suppkey", $"s_name", $"s_acctbal")
        .write.mode("overwrite").parquet(s"$d/v2")
    }
    spark.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
      .orderBy($"s_suppkey".asc_nulls_first)
  }

  /** Schema evolution part 2 (added round 10): TYPE WIDENING across
    * generations. v1 wrote `s_suppkey` as INT32 (and no `s_acctbal`); v2
    * writes it as INT64 with the late column. `mergeSchema` refuses
    * conflicting primitive types outright (CANNOT_MERGE_SCHEMAS — probed
    * on this Spark), so the lake-migration answer is an EXPLICIT declared
    * read schema: the parquet reader upcasts each file's narrower
    * physical INT32 into the requested BIGINT at scan time and fills the
    * column absent from v1 footers with NULL — generations coexist with
    * no data rewrite, exactly how a production table evolves int→bigint
    * when its id sequence outgrows 32 bits. The oracle reconstructs both
    * effects from the original table.
    */
  private def schemaWidening(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = Memo.dir(spark, sfDir, "supplier_widen") { d =>
      val s = Catalog.load(spark, sfDir, "supplier")
      s.filter($"s_suppkey" % 2 === 0)
        .select($"s_suppkey".cast("int").as("s_suppkey"), $"s_name")
        .write.mode("overwrite").parquet(s"$d/v1")
      s.filter($"s_suppkey" % 2 === 1)
        .select($"s_suppkey", $"s_name", $"s_acctbal")
        .write.mode("overwrite").parquet(s"$d/v2")
    }
    spark.read.schema("s_suppkey BIGINT, s_name STRING, s_acctbal DOUBLE")
      .parquet(s"$dir/v1", s"$dir/v2")
      .orderBy($"s_suppkey".asc_nulls_first)
  }

  /** Schema evolution part 3 (added round 10 batch 3): COLUMN RENAME
    * across generations. v1 wrote the balance as `s_acct_balance`; v2
    * renamed it to `s_acctbal`. Raw parquet has no column-mapping
    * metadata (that is what Iceberg/Delta name-mapping adds on top), and
    * `mergeSchema` would UNION the two names into two half-null columns —
    * silently wrong. The engine-level answer is a per-generation read
    * with an explicit rename projection, then `unionByName`: each
    * generation keeps its own pruned scan and the mapping lives in the
    * plan, zero data rewrite. A `gen` tag proves which generation served
    * each row; the oracle reconstructs both from the original table.
    */
  private def schemaRename(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = Memo.dir(spark, sfDir, "supplier_rename") { d =>
      val s = Catalog.load(spark, sfDir, "supplier")
      s.filter($"s_suppkey" % 2 === 0)
        .select($"s_suppkey", $"s_name", $"s_acctbal".as("s_acct_balance"))
        .write.mode("overwrite").parquet(s"$d/v1")
      s.filter($"s_suppkey" % 2 === 1)
        .select($"s_suppkey", $"s_name", $"s_acctbal")
        .write.mode("overwrite").parquet(s"$d/v2")
    }
    val v1 = spark.read.parquet(s"$dir/v1")
      .withColumnRenamed("s_acct_balance", "s_acctbal")
      .withColumn("gen", lit("v1"))
    val v2 = spark.read.parquet(s"$dir/v2")
      .withColumn("gen", lit("v2"))
    v1.unionByName(v2)
      .orderBy($"s_suppkey".asc_nulls_first)
  }

  /** Hive-style partitioned write + partition-pruned read: at 100 TB the
    * year filter prunes whole directories before any IO — the scan lists
    * only `o_year=1998/`. (The flat fixtures can't show pruning, so the
    * query creates the layout itself.)
    */
  private def partitionedRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = Memo.dir(spark, sfDir, "orders_by_year") { d =>
      Catalog.load(spark, sfDir, "orders")
        .withColumn("o_year", year($"o_orderdate"))
        .write.mode("overwrite").partitionBy("o_year").parquet(d)
    }
    spark.read.parquet(dir)
      .filter($"o_year" === 1998)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        $"o_year".cast("long").as("o_year"))
      .orderBy($"o_orderkey".asc_nulls_first)
  }

  /** Dynamic partition pruning: the qualifying years are derived from a
    * lineitem filter at RUNTIME (not a literal), so static pruning is
    * impossible — Spark broadcasts the year dim and injects a
    * `dynamicpruningexpression` into the fact scan's PartitionFilters,
    * reading only the matching `o_year=` directories. At 100 TB this is the
    * difference between scanning one year and scanning thirty.
    * PlanPropertiesSpec asserts the pruning subquery is present in the executed plan.
    */
  private def scanDpp(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = Memo.dir(spark, sfDir, "orders_by_year") { d =>
      Catalog.load(spark, sfDir, "orders")
        .withColumn("o_year", year($"o_orderdate"))
        .write.mode("overwrite").partitionBy("o_year").parquet(d)
    }
    val dim = Catalog.load(spark, sfDir, "lineitem")
      .filter($"l_shipdate" >= lit("1998-06-01").cast("timestamp"))
      .select(year($"l_shipdate").as("ship_year")).distinct()
    spark.read.parquet(dir)
      .join(dim, $"o_year" === $"ship_year")
      .groupBy($"o_year".cast("long").as("o_year"))
      .agg(
        count(lit(1)).as("n_orders"),
        graft.Dsl.dsum($"o_totalprice").as("revenue"))
      .orderBy($"o_year".asc_nulls_first)
  }

  /** MULTILINE CSV ingest (round 13 batch 18) — quoted fields with
    * EMBEDDED NEWLINES, the classic CSV landmine (naive line-split
    * readers shred the record): the scratch feed writes part rows whose
    * note field is "p_name\np_type" (a real record-internal newline),
    * quoted on write; the read declares `multiLine=true` and the graded
    * audit proves every record survived intact — row count, exact key
    * sum, and the total note length, which a shredded parse cannot
    * reproduce. Oracle recomputes all three from the part table directly.
    * Scale note: multiLine disables input-split parallelism per file
    * (records may cross split boundaries), which is exactly why the
    * scratch writes MANY files (one per task) — parallelism returns at
    * the file grain, the production mitigation.
    */
  private def csvMultiline(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = Memo.dir(spark, sfDir, "part_mlcsv") { d =>
      Catalog.load(spark, sfDir, "part")
        .select($"p_partkey",
          concat($"p_name", lit("\n"), $"p_type").as("note"))
        .write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true").csv(d)
    }
    spark.read
      .schema("p_partkey LONG, note STRING")
      .option("header", "true").option("multiLine", "true")
      .csv(dir)
      .agg(count(lit(1)).as("n_rows"),
        sum($"p_partkey").cast("long").as("key_sum"),
        sum(length($"note")).cast("long").as("note_len"))
  }

  private val csvMultilineOracle = """
    SELECT count(*) AS n_rows,
      CAST(sum(p_partkey) AS BIGINT) AS key_sum,
      CAST(sum(length(p_name) + 1 + length(p_type)) AS BIGINT) AS note_len
    FROM part"""

  override val queries: Vector[Q] = Vector(
    Q("q_source_csv_multiline", csvMultiline, Some(csvMultilineOracle), warm = true),
    Q("q_source_binaryfile", binaryFileSource, Some(binaryFileSourceOracle), warm = true),
    Q("q_source_parquet_codecs", parquetCodecs, Some(parquetCodecsOracle), warm = true),
    Q("q_scan_partition_pruning_dynamic", scanDpp, Some(s"""
      WITH y AS (
        SELECT DISTINCT year(l_shipdate) AS ship_year FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-06-01')
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        count(*) AS n_orders,
        ${graft.Oracle.dsum("o_totalprice")} AS revenue
      FROM orders JOIN y ON year(o_orderdate) = ship_year
      GROUP BY 1 ORDER BY o_year ASC NULLS FIRST""")),
    Q("q_scan_parquet", scanParquet, Some(
      "SELECT * FROM region ORDER BY r_regionkey ASC NULLS FIRST")),
    Q("q_scan_projection_pushdown", scanProjection, Some("""
      SELECT l_orderkey, l_linenumber FROM lineitem
      ORDER BY l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST""")),
    Q("q_scan_filter_pushdown", scanFilterPushdown, Some("""
      SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-06-01'
      ORDER BY l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST,
        l_shipdate ASC NULLS FIRST""")),
    Q("q_source_csv_roundtrip", csvRoundtrip, Some(
      "SELECT * FROM nation ORDER BY n_nationkey ASC NULLS FIRST"), warm = true),
    Q("q_source_text_regex", textRegexSource, Some(textRegexSourceOracle), warm = true),
    Q("q_source_json_roundtrip", jsonRoundtrip, Some(
      "SELECT * FROM customer ORDER BY c_custkey ASC NULLS FIRST"), warm = true),
    Q("q_source_orc_roundtrip", orcRoundtrip, Some(
      "SELECT * FROM part ORDER BY p_partkey ASC NULLS FIRST"), warm = true),
    Q("q_source_avro_roundtrip", avroRoundtrip, Some(
      "SELECT * FROM supplier ORDER BY s_suppkey ASC NULLS FIRST"), warm = true),
    Q("q_source_xml_roundtrip", xmlRoundtrip, Some(
      "SELECT * FROM region ORDER BY r_regionkey ASC NULLS FIRST"), warm = true),
    Q("q_source_schema_evolution", schemaEvolution, Some("""
      SELECT s_suppkey, s_name,
        CASE WHEN s_suppkey % 2 = 1 THEN s_acctbal END AS s_acctbal
      FROM supplier ORDER BY s_suppkey ASC NULLS FIRST"""), warm = true),
    Q("q_source_csv_malformed", csvMalformed, Some("""
      WITH r AS (
        SELECT CASE WHEN n_nationkey % 3 = 0 THEN NULL ELSE n_nationkey END AS k,
               n_nationkey % 3 = 0 AS is_corrupt
        FROM nation)
      SELECT is_corrupt, count(*) AS n_rows,
        min(k) AS min_key, max(k) AS max_key
      FROM r GROUP BY is_corrupt
      ORDER BY is_corrupt ASC NULLS FIRST"""), warm = true),
    Q("q_source_schema_widening", schemaWidening, Some("""
      SELECT s_suppkey, s_name,
        CASE WHEN s_suppkey % 2 = 1 THEN s_acctbal END AS s_acctbal
      FROM supplier ORDER BY s_suppkey ASC NULLS FIRST"""), warm = true),
    Q("q_source_partitioned_roundtrip", partitionedRoundtrip, Some("""
      SELECT o_orderkey, o_custkey, o_totalprice,
        CAST(year(o_orderdate) AS BIGINT) AS o_year
      FROM orders WHERE year(o_orderdate) = 1998
      ORDER BY o_orderkey ASC NULLS FIRST"""), warm = true),
    Q("q_source_schema_rename", schemaRename, Some("""
      SELECT s_suppkey, s_name, s_acctbal,
        CASE WHEN s_suppkey % 2 = 0 THEN 'v1' ELSE 'v2' END AS gen
      FROM supplier ORDER BY s_suppkey ASC NULLS FIRST"""), warm = true),
  )
}
