package perfbench

/** Every name the benchmark prints: workloads, metrics (with units) and the
  * query leaves it runs. BENCHMARK.json lists the same names; CatalogSpec
  * keeps the two in step. */
object Catalog {

  val Workloads: Seq[String] = Seq("crawl_wide", "query_surface")

  /** End-to-end metrics, printed on every workload with tracing off.
    * Each has one meaning per workload; see README.md. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_wall_s" -> "s",
    "step_geomean_s" -> "s",
    "peak_rss_mb" -> "MB")

  /** Query leaves of `graft.SparkEntry.queries`, each with the module that
    * owns its work. The list is fixed so that the metric names are: a leaf
    * that disappears from SparkEntry fails, a new one is not run. The seven
    * leaves over SparkEntry's memoized mini-crawl ([[CrawlBackedLeaves]])
    * are left out: their cost is a crawl, which crawl_wide measures. */
  val Leaves: Seq[(String, String)] = Seq(
    "q_sieve_first_seen" -> "sparkentry",
    "q_politeness_rank" -> "sparkentry",
    "q_host_budget" -> "sparkentry",
    "q_filter_dsl" -> "filterdsl",
    "q_robots_check" -> "sparkentry",
    "q_dup_segments" -> "sparkentry",
    "q1_agg" -> "sparkentry",
    "q_join_topn" -> "sparkentry",
    "q_window_shipments" -> "sparkentry",
    "q_events_hourly" -> "sparkentry",
    "q_exact_dedup" -> "dedup",
    "q_token_count" -> "textstats",
    "q_quality" -> "textstats",
    "q_lang_id" -> "textstats",
    "q_media_bytes" -> "sparkentry",
    "q_burl_normalize" -> "sparkentry",
    "q_url_hash" -> "sparkentry",
    "q_span_digest" -> "sparkentry",
    "q_fingerprint" -> "textstats",
    "q_simhash_pairs" -> "dedup",
    "q_minhash_pairs" -> "dedup",
    "q_ngram_jaccard" -> "dedup",
    "q_ann_brute" -> "similarity",
    "q_ann_lsh" -> "similarity",
    "q_ann_lsh_bucketed" -> "similarity",
    "q_ann_lsh_bucketed_full" -> "similarity",
    "q_ann_ivf" -> "similarity",
    "q_ann_ivf_full" -> "similarity",
    "q_charset" -> "sparkentry",
    "q_embedding_neardup" -> "dedup",
    "q_embedding_neardup_exact" -> "dedup",
    "q_media_features" -> "multimodal",
    "q_parse_spans" -> "sparkentry",
    "q_queue_histogram_synth" -> "crawlstats",
    "q_speed_histogram_synth" -> "crawlstats",
    "q_media_edges_synth" -> "storequery",
    "q_store_archetypes_synth" -> "storequery",
    "q_graph_map_synth" -> "storequery",
    "q_status_classes_synth" -> "crawlstats",
    "q_span_kind_mix_synth" -> "crawlstats",
    "q_minhash_pairs_synth" -> "dedup",
    "q_simhash_pairs_synth" -> "dedup",
    "q_fingerprint_synth" -> "textstats",
    "q_media_features_synth" -> "multimodal")

  val CrawlBackedLeaves: Seq[String] = Seq("q_crawl_e2e", "q_graph_map", "q_speed_histogram",
    "q_store_archetypes", "q_crawl_progress", "q_queue_histogram", "q_media_edges")

  val Modules: Seq[String] = Leaves.map(_._2).distinct.sorted

  /** Per-layer metrics, printed on every workload by the traced run. A
    * metric whose layer the workload does not exercise reads 0 and is named
    * on the run's `n/a` line. */
  val PerLayer: Seq[(String, String)] = Seq(
    "crawler.init_s" -> "s",
    "crawler.rounds_s" -> "s",
    "crawler.snapshot_s" -> "s",
    "crawler.driver_self_s" -> "s",
    "crawler.jobs" -> "count",
    "crawler.occupancy" -> "ratio",
    "crawler.resume_s" -> "s",
    "crawler.urls_per_s" -> "URLs/s",
    "frontier.pending_rows" -> "count",
    "frontier.pending_per_host" -> "count",
    "frontier.hosts" -> "count",
    "frontier.state_bytes_per_url" -> "bytes/URL",
    "sieve.busy_s" -> "s",
    "sieve.novel_ratio" -> "ratio",
    "sieve.new_urls_ms" -> "ms",
    "fn.burl_parse_ns" -> "ns",
    "fn.murmur64_ns" -> "ns",
    "fn.topk_heads_ns" -> "ns",
    "fn.bloom_agg_ns" -> "ns",
    "fn.might_contain_bank_ns" -> "ns",
    "fn.respects_robots_ns" -> "ns",
    "fn.digest_of_spans_ns" -> "ns",
    "parse.html_parse_ns" -> "ns",
    "core.burl_parse_ns" -> "ns",
    "core.murmur_ns" -> "ns",
    "core.dup_segments_ns" -> "ns",
    "core.robots_parse_ns" -> "ns",
    "synth.page_html_ns" -> "ns",
    "spark.jobs" -> "count",
    "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.input_mb" -> "MB",
    "spark.output_mb" -> "MB",
    "spark.codegen_compile_ms" -> "ms",
    "trace.overhead_pct" -> "%",
    "query.total_s" -> "s",
    "query.geomean_s" -> "s") ++
    Modules.map(m => s"query.$m.module_s" -> "s") ++
    Leaves.map { case (leaf, _) => s"query.$leaf.leaf_s" -> "s" }
}
