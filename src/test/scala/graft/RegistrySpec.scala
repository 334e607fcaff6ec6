package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Invariants over the whole declared query surface (SURVEY §2), executed on
  * the sf0.001 fixtures. These are the contract-level guards: every query
  * must be runnable, and graded outputs must be differ-safe.
  */
class RegistrySpec extends SparkTestBase {

  test("t1 smoke: entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared oracle id has a queries entry") {
    val qids = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qids))
  }

  test("the warm set is exactly the declared warm queries") {
    // Bench warmed these ids from a hand-kept list before `Q.warm` existed;
    // the flag must reproduce that list, no more and no less.
    val expected = Set(
      "q_source_avro_roundtrip", "q_source_binaryfile",
      "q_source_csv_malformed", "q_source_csv_multiline",
      "q_source_csv_roundtrip", "q_source_dsv2_range",
      "q_source_json_roundtrip", "q_source_orc_roundtrip",
      "q_source_parquet_codecs", "q_source_partitioned_roundtrip",
      "q_source_schema_evolution", "q_source_schema_rename",
      "q_source_schema_widening", "q_source_text_regex",
      "q_source_xml_roundtrip", "q_join_bucketed", "q_graph_components",
      "q_graph_triangles", "q_sim_ann_ivf", "q_dedup_pipeline",
      "q_ml_kmeans_train", "q_graph_components_twostar", "q_join_cbo_reorder",
      "q_text_bpe_learn", "q_mv_rewrite", "q_layout_hilbert_write",
      "q_mv_incremental", "q_sim_pq_train", "q_layout_zonemap_skip",
      "q_lake_time_travel", "q_mv_join_incremental", "q_lake_cdc",
      "q_lake_compact", "q_lake_merge", "q_lake_vacuum", "q_lake_clone",
      "q_lake_partition_evolution", "q_lake_occ", "q_multimodal_binary",
      "q_multimodal_wav", "q_lake_checkpoint", "q_lake_cluster",
      "q_json_variant", "q_agg_trimmed_mean", "q_sim_ann_hnsw",
      "q_lake_zonemap_multi", "q_lake_dv_positional", "q_lake_stats_only",
      "q_lake_stats_pruned", "q_agg_rfm", "q_join_star_5way", "q_graph_hits",
      "q_lake_merge_mor", "q_lake_delete_mor", "q_survival_km",
      "q_er_sorted_neighborhood", "q_lake_bloom_skip", "q_lake_mor_probe",
      "q_lake_constraints", "q_graph_betweenness", "q_basket_rules",
      "q_graph_walks_biased", "q_lake_expire", "q_mv_incremental_mor",
      "q_lake_wap", "q_lake_column_map", "q_graph_louvain",
      "q_graph_louvain_multi")
    assert(expected.size == 68)
    val warm = SparkEntry.all.filter(_.warm).map(_.id).toSet
    assert(warm == expected,
      s"unexpected: ${(warm -- expected).toSeq.sorted}; " +
        s"missing: ${(expected -- warm).toSeq.sorted}")
  }

  test("no duplicate query ids") {
    assert(SparkEntry.all.map(_.id).distinct.size == SparkEntry.all.size)
  }

  test("SURVEY §2 declarations equal the registry (set-diff both ways)") {
    // The round-5 and round-8 audits each caught silent declaration drift
    // (implemented-but-undeclared queries); this automates that set-diff.
    // Only the ID cell (first column) of §2 table rows counts — prose
    // references to sibling queries inside description cells do not.
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val declared = text.linesIterator
      .filter(_.startsWith("| `q_"))
      .flatMap { line =>
        val cell = line.split("\\|")(1)
        "q_[a-z0-9_]+".r.findAllIn(cell)
      }.toSet
    val registered = SparkEntry.all.map(_.id).toSet
    val missing = declared -- registered
    val undeclared = registered -- declared
    assert(missing.isEmpty && undeclared.isEmpty,
      s"missing from registry: ${missing.toSeq.sorted.mkString(",")}; " +
        s"undeclared in SURVEY: ${undeclared.toSeq.sorted.mkString(",")}")
  }

  for (q <- SparkEntry.all) {
    test(s"${q.id}: runs at sf0.001 with a differ-safe schema") {
      val df = q.fn(spark, sf0001)
      // The driver's pandas-based differ cannot hash array/map/struct cells —
      // any nested type in an oracle-checked output is a guaranteed failure.
      if (q.oracle.isDefined) {
        val nested = df.schema.fields.filter(f => f.dataType match {
          case _: ArrayType | _: MapType | _: StructType => true
          case _ => false
        })
        assert(nested.isEmpty,
          s"nested-typed output columns would crash the driver differ: " +
            nested.map(_.name).mkString(","))
      }
      assert(df.count() >= 0)
    }
  }
}
