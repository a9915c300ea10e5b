package graft
object Bench {
  /** Recorded warm per-query medians (seconds, sf0.1 noop action):
    * the round-14 cross-sample medians over the five noop samples
    * (refreshed per the round-14 verdict — stale round-10/11 entries
    * let a 5x-median artifact line through the guard) — the
    * reference the cold-run guard compares a first timing against.
    * These are NOT reported numbers; they only decide whether a query
    * earns a second, warm measurement. Stale entries are safe: a key
    * that genuinely got slower reruns once per session (a few wasted
    * seconds), a key that got faster just never triggers the guard.
    * Round-20 optimization refresh: the keys whose builds moved into
    * the parallel materialization phase now carry their post-move
    * warm-read medians (BENCH_r20_samples/bench_opt* cross-sample) —
    * the old build-inclusive medians would have let a 3×-drifted
    * warm read through the guard unchecked. */
  private val RefMedians: Map[String, Double] = Map(
    "ads_ab_lift" -> 1.15, "ads_anomaly_zscore" -> 1.01,
    "ads_attribution" -> 1.39, "ads_cohort_matrix" -> 1.17,
    "ads_funnel_steps" -> 1.73, "ads_gmv_cumulative" -> 0.46,
    "ads_path_topn" -> 1.09, "ads_province_board" -> 0.94,
    "ads_retention_daily" -> 1.11, "ads_rfm_segments" -> 1.71,
    "ads_top_products" -> 3.4, "ads_traffic_board" -> 1.44,
    "ads_wau_rolling" -> 1.1,
    "agg_approx_distinct" -> 0.76, "agg_approx_percentile" -> 0.61,
    "agg_bitmap_uv" -> 0.59, "agg_bool_countif" -> 0.33,
    "agg_collect_state" -> 0.51, "agg_cube" -> 1.7,
    "agg_distinct_count" -> 0.41, "agg_group_multi" -> 0.97,
    "agg_grouping_sets" -> 0.61, "agg_hash_global" -> 1.17,
    "agg_hist" -> 0.32, "agg_listagg" -> 0.53, "agg_mode" -> 0.61,
    "agg_percentile" -> 1.27, "agg_pivot" -> 0.47,
    "agg_sketch_merge" -> 0.64, "agg_stats" -> 0.44,
    "agg_udaf_typed" -> 0.48, "agg_unpivot" -> 0.45,
    "cdc_ingest" -> 0.57, "cdc_retract_agg" -> 1.03, "cdc_scd2" -> 0.5,
    "cep_absence_timeout" -> 0.59, "cep_followed_within" -> 0.53,
    "cep_iterative_condition" -> 1.01, "cep_pattern_match" -> 1.35,
    "cep_pattern_not_next" -> 0.7, "cep_pattern_optional" -> 1.12,
    "cep_pattern_times" -> 1.31, "cep_pattern_until" -> 1.41,
    "dedup_exact" -> 0.44, "filter_predicate" -> 0.65,
    "flatmap_explode" -> 0.87, "fn_array" -> 2.02, "fn_bitwise" -> 0.32,
    "fn_collation" -> 0.28, "fn_conditional" -> 0.34, "fn_date" -> 0.5,
    "fn_hash" -> 0.26, "fn_json" -> 2.0, "fn_json_malformed" -> 0.96,
    "fn_json_variant" -> 2.11, "fn_map" -> 0.47, "fn_math" -> 2.57,
    "fn_regex" -> 0.54, "fn_rules_apply" -> 0.45, "fn_string" -> 0.37,
    "fn_string2" -> 0.32, "fn_try_arith" -> 0.8, "fn_url" -> 0.24,
    "fn_xml" -> 0.43, "graph_connected_components" -> 7.6,
    "graph_label_propagation" -> 5.62, "graph_pagerank" -> 6.92,
    "graph_shortest_path" -> 3.54, "join_anti" -> 0.38,
    "join_asof_dim" -> 0.83, "join_asof_temporal" -> 0.51,
    "join_broadcast_dim" -> 0.34, "join_bucketed_colocated" -> 0.74,
    "join_dpp_pruned" -> 1.85, "join_full_outer" -> 0.67,
    "join_inner_hash" -> 0.56, "join_interval" -> 0.41,
    "join_interval_bucketed" -> 0.39, "join_interval_left" -> 0.39,
    "join_interval_left_bucketed" -> 0.59, "join_lateral_topn" -> 0.98,
    "join_left_outer" -> 0.55, "join_lookup_async" -> 0.54,
    "join_semi" -> 0.33, "join_skew_salted" -> 0.57, "join_theta" -> 0.5,
    "join_windowed" -> 0.43, "llm_bloom_dedup" -> 0.53,
    "llm_chunk_overlap" -> 0.36, "llm_decontaminate" -> 0.7,
    "llm_dedup_canonical" -> 0.93, "llm_dedup_clusters" -> 0.25,
    "llm_dedup_embcos" -> 1.3, "llm_dedup_exact" -> 0.32,
    "llm_dedup_incremental" -> 1.45, "llm_dedup_minhash" -> 0.68,
    "llm_dedup_minhash_score" -> 0.72, "llm_dedup_ngram_jaccard" -> 1.19,
    "llm_dedup_paragraph" -> 0.8, "llm_dedup_prune" -> 0.2,
    "llm_dedup_simhash" -> 0.95, "llm_dedup_substring" -> 1.44,
    "llm_dedup_substring_prune" -> 1.82, "llm_dedup_weighted" -> 0.32,
    "llm_domain_balance" -> 0.51, "llm_embed_norm" -> 0.21,
    "llm_embed_quantize" -> 1.48, "llm_fingerprint" -> 0.35,
    "llm_knn_ivf" -> 0.76, "llm_lang_id" -> 0.55,
    "llm_mixture_weights" -> 0.51, "llm_multimodal_audio" -> 1.34,
    "llm_multimodal_binary" -> 0.29, "llm_multimodal_cols" -> 0.3,
    "llm_multimodal_frames" -> 0.34, "llm_multimodal_image" -> 2.05,
    "llm_ngram_counts" -> 0.6, "llm_pack_sequences" -> 0.42,
    "llm_perplexity_proxy" -> 1.09, "llm_pii_scrub" -> 0.94,
    "llm_quality_classifier" -> 0.79, "llm_quality_gopher" -> 0.62,
    "llm_quality_score" -> 0.61, "llm_repetition_filter" -> 0.7,
    "llm_sample_split" -> 0.17, "llm_semdedup" -> 0.86,
    "llm_shard_manifest" -> 0.52, "llm_similarity_knn" -> 0.44,
    "llm_source_report" -> 0.55, "llm_text_stats" -> 0.4,
    "llm_tfidf" -> 1.31, "llm_token_bpe" -> 0.82,
    "llm_token_count" -> 0.41, "llm_tokenizer_train" -> 2.24,
    "merge_upsert" -> 0.55, "project_compute" -> 1.38,
    "scan_parquet" -> 1.22, "scan_projected" -> 0.5,
    "set_except" -> 0.47, "set_except_all" -> 0.66,
    "set_intersect" -> 0.34, "set_intersect_all" -> 0.42,
    "set_union" -> 0.32, "set_union_all" -> 0.33,
    "side_output_split" -> 0.51, "sink_csv_roundtrip" -> 0.43,
    "sink_foreach_upsert" -> 0.76, "sink_jdbc_board" -> 0.7,
    "sink_json_roundtrip" -> 0.38, "sink_orc_roundtrip" -> 0.62,
    "sink_parquet" -> 0.61, "sink_partitioned" -> 0.69,
    "sink_snapshot_merge" -> 0.25, "sink_xml_roundtrip" -> 0.35,
    "sort_limit_topk" -> 0.18, "source_binary_files" -> 1.06,
    "source_jdbc_dim" -> 0.65, "source_kafka_shape" -> 0.77,
    "source_rate_stream" -> 0.06, "sql_ads_board" -> 0.55,
    "sql_named_params" -> 0.3, "sql_pipe_board" -> 0.56,
    "sql_script_vars" -> 0.68, "stream_cep_pattern" -> 0.66,
    "stream_cep_timeout" -> 0.67, "stream_dedup_keys" -> 0.49,
    "stream_stateful_counter" -> 0.59, "stream_topn_windowed" -> 0.55,
    "stream_upsert_latest" -> 0.38, "stream_watermark_late" -> 0.8,
    "stream_window_cumulate" -> 0.55, "stream_window_session" -> 0.72,
    "stream_window_sliding" -> 0.55, "stream_window_tumbling" -> 0.43,
    "table_bloom_skipping" -> 0.76, "table_cdf_consume" -> 1.8,
    "table_cdf_stream" -> 1.8, "table_changelog" -> 0.84,
    "table_delete_sql" -> 0.55, "table_dsv2_read" -> 1.6,
    "table_meta_agg" -> 1.0, "table_runtime_prune" -> 2.0,
    "table_sql_maintenance" -> 0.5, "table_limit_door" -> 0.8,
    "table_type_widening" -> 0.6, "table_clustered_write" -> 1.4,
    "table_dv_distributed" -> 1.8,
    "table_history" -> 0.9, "table_clone" -> 1.0,
    "table_incremental_append" -> 0.88, "table_merge_dv" -> 0.8,
    "table_merge_sql" -> 0.8,
    "table_merge_pruned" -> 0.25, "table_restore" -> 0.21,
    "table_schema_evolution" -> 0.33,
    "table_stats_pruning" -> 0.56, "table_stream_door" -> 0.75,
    "table_time_travel" -> 0.41,
    "table_zorder_skipping" -> 0.6, "udf_scalar" -> 0.33,
    "udtf_generator" -> 0.4, "win_dist" -> 1.45,
    "win_first_last" -> 0.64, "win_gapfill" -> 0.86,
    "win_lag_lead" -> 0.53, "win_rank_dense" -> 1.72,
    "win_rank_topn" -> 0.56, "win_running_frame" -> 1.33,
    "win_session_dynamic" -> 0.79, "win_sessionize" -> 0.62,
    "win_share_of_total" -> 0.82, "win_time_range" -> 0.72)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // Untimed warmup: JIT, codegen compilation, and parquet reader init
    // land here instead of inside the first timed query. The default
    // set first-touches every fact table a cold box distorts most
    // (round-10 driver artifact: map-CPU keys inflated 5-25× on a cold
    // page cache while shuffle keys barely moved): lineitem
    // (scan_parquet), events + its JSON parse (source_kafka_shape), and
    // documents text through the BPE kernel (llm_token_bpe), so one-time
    // page-cache + codegen cost can't land inside a timed query.
    try {
      sys.env.get("SPARK_GRAFT_WARMUP")
        .map(_.split(",").map(_.trim).toSeq)
        .getOrElse(Seq("scan_projected", "agg_distinct_count",
          "scan_parquet", "source_kafka_shape", "llm_token_bpe"))
        .foreach(k =>
          SparkEntry.queries.get(k).foreach(f => f(spark, sfDir).count()))
    } catch { case _: Throwable => () }
    // Drift-calibration probe (round-14): a FIXED deterministic
    // workload — corpus-independent CPU-bound expression chain plus one
    // small fixed shuffle — timed at sweep start AND end. Host drift
    // (thermal, co-tenant, page-cache state) moves the probe exactly
    // like it moves the queries, so round-over-round comparisons can
    // quote drift-normalized rates (rate × probe_ref/probe_run) instead
    // of re-deriving medians across sample archaeology. Median-of-3
    // after one untimed warm call (codegen compile lands there; later
    // calls reuse the cached plan).
    def probeOnce(): Double = {
      import org.apache.spark.sql.functions.{count, lit, sum}
      val t0 = System.nanoTime()
      spark.range(0L, 4000000L, 1L, 8)
        .selectExpr("id",
          // hm bounded to 1e6 so 4M-row sums stay far from Long.Max
          // (ANSI mode makes a full-range xxhash64 sum overflow loudly)
          "pmod(xxhash64(concat('p', cast(id % 100000 as string))), " +
            "1000003) AS hm",
          "sqrt(abs(sin(cast(id as double)))) AS x")
        .selectExpr("pmod(hm, 1024) AS k", "hm", "x")
        .groupBy("k")
        .agg(sum("hm").as("s"), sum("x").as("sx"), count(lit(1)).as("n"))
        .agg(sum("s"), sum("sx"), sum("n"))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    def probeMedian(): Double = {
      val xs = (1 to 3).map(_ => probeOnce()).sorted; xs(1)
    }
    probeOnce() // untimed: codegen + JIT for the probe plan itself
    val probeStart = probeMedian()
    val only = Harness.only
    var reruns = 0
    // Materialized-artifact builds are production MATERIALIZATION jobs,
    // not per-query cost: the trade-graph edge table (orders ⋈ lineitem
    // over the whole corpus) previously billed itself to whichever
    // graph-family key ran alphabetically first (CC, in full sessions),
    // making that key's median depend on session order. Time the build
    // as its own bench line BEFORE the sweep — the four graph keys then
    // measure query latency against the published artifact, exactly as
    // production owns a materialization job separately from the queries
    // that read it. Skipped when a SPARK_GRAFT_QUERIES subset names no
    // graph key (the build would be dead cost there).
    def artifactLine(name: String, relevant: Boolean)(
        build: => Unit): Seq[(String, Double)] =
      if (!relevant) Nil
      else {
        val t0 = System.nanoTime()
        val ok = try { build; true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
        Seq((name, if (ok) (System.nanoTime() - t0) / 1e9 else -1.0))
      }
    // round-20 optimization: ALL materialization jobs (table chains,
    // trade-graph edges, dedup cluster chain, IVF centroids, binary
    // fixture) build in ONE parallel phase inside the table line —
    // independent jobs overlap (guide §2.6), so the phase wall clock
    // is max(slowest chain, sum/threads) instead of the sum. The
    // table line therefore runs FIRST; the graph line after it finds
    // the artifact published and reports the ~0 s warm check (its
    // line is kept — never remove/rename — and still pays the build
    // in graph-only subset runs, where the table line is skipped).
    val llmArtifactKeys = Set("llm_dedup_clusters", "llm_dedup_prune",
      "llm_dedup_ngram_jaccard", "llm_dedup_incremental",
      "llm_dedup_embcos", "llm_knn_ivf", "llm_semdedup")
    // Derby (embedded JDBC) keys: the ENGINE boot (~1-2 s of class
    // loading + recovery check) is session infrastructure, not query
    // work — it lands in the phase so the alphabetically-first JDBC
    // key stops billing it (round-20 verdict item 5)
    val jdbcKeys = Set("ads_top_products", "sink_jdbc_board",
      "source_jdbc_dim")
    // each family's builds run only when the subset will read them;
    // full runs (no subset) build everything
    val includeTables =
      only.forall(_.exists(graft.ops.Scans.readsTableChain))
    val includeGraph = only.forall(_.exists(_.startsWith("graph_")))
    val includeLlm = only.forall(_.exists(llmArtifactKeys))
    val includeBucketed =
      only.forall(_.contains("join_bucketed_colocated"))
    val includeJdbc = only.forall(_.exists(jdbcKeys))
    // per-chain wall seconds of the phase, for the full record
    var chains: Seq[(String, Double)] = Nil
    val artifactLines: Seq[(String, Double)] =
      // round 16: the merge-table builds used to bill themselves to
      // whichever reader key ran first alphabetically (r15 billed
      // table_merge_pruned 3.0 s of build); a table build is a
      // materialization job — timed as its own line, the reader keys
      // measure query latency against the published table
      // a GRAPH-ONLY subset does not fire this line: the graph line
      // below pays its own (single, unparallelizable) build there,
      // exactly as the adjacent comment always claimed
      artifactLine("table_artifact_build",
        includeTables || includeLlm || includeBucketed || includeJdbc) {
        chains = graft.ops.Scans.tableArtifactBuild(spark, sfDir,
          includeTables = includeTables,
          includeGraph = includeGraph,
          includeLlm = includeLlm,
          includeBucketed = includeBucketed,
          includeJdbc = includeJdbc)
      } ++
      artifactLine("graph_artifact_build", includeGraph) {
        graft.ops.Graph.tradeGraph(spark, sfDir); ()
      }
    val timer = new Harness.Timer(spark)
    val queries = SparkEntry.queries
    val runs = Harness.keys.map { name =>
      def run() = timer.time(name)(queries(name)(spark, sfDir))
      val r1 = run()
      // Cold-run guard: a first timing far above the recorded warm
      // median (3×, floor 2 s; unknown keys: 2 s flat) is re-measured
      // once and the better time reported. On a warm box this almost
      // never triggers (3× the recorded median clears normal
      // variance), so warm totals are unchanged; on a cold/contended
      // box — the round-10 driver artifact measured map-CPU keys
      // 5-25× high on its single cold pass — the query's one-time
      // init cost lands in the discarded first sample instead of the
      // round artifact. Failures (-1) never rerun: a broken plan
      // stays loud.
      val limit = RefMedians.get(name)
        .map(m => math.max(3.0 * m, 2.0)).getOrElse(2.0)
      val r = if (r1.ok && r1.wall > limit) {
        reruns += 1
        val r2 = run()
        if (!r2.ok) r1
        else if (math.min(r1.wall, r2.wall) > limit) {
          // min-of-2 can't survive a bad SESSION (round-14 driver
          // artifact: LPA 30.3 s vs a 5.6 s cross-sample median,
          // both passes inflated by box state) — take a third
          // sample and report the MEDIAN: a genuine regression
          // still shows (all three high), a drifting box stops
          // polluting the round artifact with one outlier
          reruns += 1
          val r3 = run()
          if (!r3.ok) Seq(r1, r2).minBy(_.wall)
          else Seq(r1, r2, r3).sortBy(_.wall).apply(1)
        } else Seq(r1, r2).minBy(_.wall)
      } else r1
      (name, r)
    }
    val results = artifactLines ++ runs.map { case (k, r) => (k, r.wall) }
    val probeEnd = probeMedian()
    import Harness.{fmt, obj}
    // CONTENTION FLAG (round-18 verdict item 7: the round-17 driver
    // session recorded reruns=35 and 3-4× per-key outliers — a poor
    // record of the code that still passed the gate; readers had to
    // cross-check the clean samples by hand). Self-describing now: the
    // run is flagged contended when the rerun count is far above the
    // clean-session band (1-4 across all seven round-17 samples; 8 ≈
    // 2× the band's max) OR the deterministic calibration probe never
    // reaches its warm reference (clean sessions: start 0.32-0.41,
    // end 0.21-0.26 — min(start,end) > 0.40 means the box stayed >1.5×
    // slow through the whole sweep). A flagged artifact's totals are
    // box state, not code; clean-sample medians stay the yardstick.
    val contended = reruns > 8 || math.min(probeStart, probeEnd) > 0.40
    val probeJson = s""""probe":{"start_sec":${fmt(probeStart)},""" +
      s""""end_sec":${fmt(probeEnd)}},"contended":$contended"""
    val qs = obj(results.map { case (k, v) => (k, fmt(v)) })
    val errs = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""queries":$qs,"errors":$errs,"reruns":$reruns,$probeJson,""" +
        s""""sf":"$sfDir","split":${obj(runs.map { case (k, r) =>
          (k, r.json) })},""" +
        s""""artifact_chains":${obj(chains.map { case (k, v) =>
          (k, fmt(v)) })}}"""
    // The full per-query line is ~5 KB at 139 keys, but the round
    // artifact captures only the LAST 2000 chars of the run log — a
    // full-map println has never fit, so every BENCH_r*.json carried
    // "parsed": null. STDOUT gets a short line (same contract fields;
    // "queries" = the 30 slowest, the only ones a bench reader acts
    // on) guaranteed to fit the tail window; the complete map lands in
    // /tmp/graft_bench.json as the first-class record (copied into
    // BENCH_r*_samples/ each round).
    // SPARK_GRAFT_BENCH_FULL redirects the complete per-key record —
    // a sample loop writes each run's full map straight into
    // BENCH_r*_samples/ instead of overwriting one /tmp path
    // (round-20 review: three samples all pointed at the same
    // clobbered file, losing per-key data for ~180 of 210 keys)
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      "/tmp/graft_bench.json")
    val slow = obj(results.filter(_._2 >= 0).sortBy(-_._2).take(30)
      .map { case (k, v) => (k, fmt(v)) })
    val shortLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""n_queries":${results.size},"queries":$slow,"errors":$errs,""" +
        s""""reruns":$reruns,$probeJson,""" +
        s""""full":"$fullPath","sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter(fullPath)
      try w.println(line) finally w.close()
    } catch { case scala.util.control.NonFatal(_) => () }
    // The one-line JSON is the FINAL stdout act (round-20 verdict item
    // 7: round 19's driver lost its round-over-round comparison to a
    // stack trace interleaved before the line). spark.stop() runs
    // FIRST — its shutdown logging (stderr) and any late task noise
    // land before the contract line — and defensively: a stop-time
    // throwable must not cost the run its artifact.
    try spark.stop()
    catch { case scala.util.control.NonFatal(_) => () }
    println(shortLine)
    System.out.flush()
  }
}
