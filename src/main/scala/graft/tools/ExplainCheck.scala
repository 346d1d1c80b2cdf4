package graft.tools
import org.apache.spark.sql.SparkSession
object ExplainCheck {
  /** The default audit set: join, iteration and kernel shapes per round. */
  val defaultGates: Seq[String] = Seq(
    "q3_join_agg", "q20_multijoin", "q2_filter", "as1_asof", "a1_ann_brute",
    "a4_ann_batch", "s6_scan_fixed", "s7_scan_daterange", "rj1_range_join",
    "q28_pivot", "q29_range_window", "e1_quantize", "d7_connected_components",
    "st4_stream_static_join",
    // r12 representatives: join/iteration shapes
    "q49_fuzzy_link", "d18_jaccard_join", "a11_mmr", "rj2_interval_join",
    "q55_trend", "t43_priority_sample", "m14_image_dedup_join",
    // r14 additions: appended graph probe, multi-scale span dedup,
    // multi-assigned probe (dedup placement), PDF + URL kernels
    "a15b_graph_ann_append", "d20b_span_dedup_multi",
    "a16_ivf_multiassign", "t50_pdf_extract", "t51_url_normalize",
    "t53_crawl_pipeline", "t54_robots", "t57_dictionary_tag",
    // r15 additions: multi-assigned graph probe (walk-union dedup
    // placement), collapse-first media band join, wildcard robots,
    // HTTP splitting inside the WARC chain, frontier window,
    // table-driven tagging (bounded collect feeds the scan)
    "a15c_graph_ann_multiassign", "m15_audio_dedup_join",
    "t54b_robots_wildcard", "t59_http_payload", "t61_outlinks",
    "t57b_dictionary_tag_table", "t62_nfc_normalize",
    // r16 additions: main-content kernel (shuffle-free), the crawl
    // back edge and the composed fetch plan (cap must show wgl=true),
    // fuzzy decontamination (eval-side band join), DSIR (ratio join
    // must be broadcast hash), interleaved assembly (pack + window)
    "t65_main_content", "t67_crawl_backedge", "t68_fetch_plan",
    "d22_decontam_fuzzy", "d23_dsir_select", "m16_interleave",
    // r17 additions: semantic decontam (the ONLY join of the corpus
    // must be the broadcast-eval nested loop + the anti-join),
    // aspect bucketing (grouped pack: one exchange on the group key)
    "d25_embed_decontam", "m17_aspect_bucket",
    // the composed four-stage run: every stage's audited join shape
    // must survive the composition
    "t75_training_run",
    // LSH decontam (bucket join must be broadcast hash) and the
    // trained quality filter (map-side scoring)
    "d25b_embed_decontam_lsh", "t78_quality_filter",
    // r17 second wave: line-frequency boilerplate (frequent-set
    // anti-join should broadcast under AQE), domain rollup (ditto,
    // eTLD+1 entirely map-side), crawl rank (0 cartesian through
    // the harvest -> distinct -> iteration -> budget chain),
    // context ordering (ONE exchange on the bucket key), mojibake
    // and UL2 (map-side kernels), calibration (one agg + one-row
    // broadcast), k-anonymity (combo-grain join)
    "d26_line_boilerplate", "t80_domain_rollup", "t83_crawl_rank",
    "t85_context_order", "t84_mojibake", "t82_ul2_plan",
    "ml4_calibration", "t86_kanon", "t79_retrieval_metrics",
    // r17 third wave: BFD packing (shard sort + stream), the
    // bucket-pruned index query, composed web cleaning, the two
    // media segmenters (map-side walks), exact AUC (bounded
    // ordered window), operating-point confusion (one aggregate)
    "t87_bestfit_pack", "t88_inverted_index", "t89_web_clean",
    "m18_shot_detect", "m19_audio_vad", "ml5_auc", "ml6_confusion",
    // r18: conditional revalidation (one groupBy(url), the outcome
    // fold's only join keyed on url), feed + anchor harvests
    // (map-side kernels + the t61 window/distinct shapes), the
    // contamination report (tagged broadcast-gram join + K-name
    // broadcast cross join), exact BPE/unigram trainers (bounded
    // rank window over the distinct-word table), PDF image decode
    // (map-side codec) and the cross-format hash join
    "t94_revalidation", "t95_feed_discovery", "t96_anchor_text",
    "d27_decontam_report", "t3c_bpe_vocab_exact", "t63b_unigram_exact",
    "m20_pdf_images", "m21_crossformat_dedup",
    // r18 second wave: cache-control floor + conditional fetch plan
    // (url-keyed join + politeness window), crawl diff (full outer),
    // incremental reprocess (semi-joins), hard negatives (anti-join
    // + bounded window), trust propagation (g1's iteration shape),
    // politeness audit (keyed window + host aggregate), the
    // one-aggregate sweep and the lastmod extraction
    "t97_cache_control", "t98_conditional_fetch_plan",
    "t99_crawl_diff", "t100_incremental_clean", "t101_hard_negatives",
    "g7_trustrank", "t102_crawl_trust", "t103_politeness_audit",
    "ml7_confusion_sweep", "t56c_sitemap_lastmod",
    // r18 third wave: host health + retry-after (combine-friendly
    // host aggregates), keep-best CC dedup (pair-sized CC + argmax)
    "t104_host_health", "t105_retry_after", "d28_neardup_keepbest",
    // r19: redirect resolution (maxHops wave-sized equi-join rounds,
    // 0 cartesian), the migration fold (url-keyed join + the t94
    // groupBy+walk), the retained walk, the budgeted wave (the only
    // new exchange is the per-host rank window; budget attach must
    // broadcast), byte-level pre-token histogram (bounded rank
    // window over the distinct-pretoken table), byte-BPE counts
    // (map-side kernel), GIF/WebP cross-format hash join
    "t107_redirects", "t107b_redirect_migration",
    "t107c_redirect_relative", "t94b_revalidation_retained",
    "t108_budgeted_wave", "t3d_bytebpe_vocab", "t40c_bytebpe_counts",
    "t40d_bytebpe_encode", "m22_webformat_dedup",
    // r19 third wave: EXIF decode + scrub (map-side kernels, the
    // pixel-intact join), epoch water-filling (source-grain level
    // walk, two one-row broadcasts)
    "m23_exif", "t109_epoch_waterfill", "m24_oriented_dedup",
    // r20: moves compaction (fixed doubling rounds, moves-sized
    // equi-joins, no cartesian), the materialized epoch draw
    // (waterfill's one-row broadcasts + zero-shuffle resample +
    // one agg), and the three codec-family gates (map-side kernels
    // + the m22-shaped exact-hash joins / one ordered projection)
    "t107d_redirect_compaction", "t110_epoch_draw",
    "m25_progressive_dedup", "m26_oriented_jpeg", "m27_webp_meta",
    // r20 second wave: container/byte-walk metadata projections
    // (map-side kernels + one ordered projection each) and the
    // WebP scrub gate (doc_id-keyed joins over the fixture)
    "m28_webp_exif", "m29_mp3_meta", "m30_gif_anim")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    // pass gate names as args to audit others
    val qs = if (args.nonEmpty) args.toSeq else defaultGates
    for (q <- qs) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      df.collect() // finalize AQE so the executed plan is the real one
      val plan = df.queryExecution.executedPlan.toString
      val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
      val smj = "SortMergeJoin".r.findAllIn(plan).length
      val pushed = plan.split("\n").filter(_.contains("PushedFilters")).take(2).mkString(" | ")
      println(s"[$q] broadcast=$broadcasts sortmerge=$smj exchanges=" +
        "Exchange".r.findAllIn(plan).length +
        " codegen_stages=" + "\\*\\(\\d+\\)".r.findAllIn(plan).toSet.size +
        " cartesian=" + plan.contains("CartesianProduct") +
        " bnlj=" + plan.contains("BroadcastNestedLoopJoin") +
        " wgl=" + plan.contains("WindowGroupLimit"))
      if (pushed.nonEmpty) println(s"   $pushed".take(300))
    }
    // codegen probe: finalize AQE then inspect the executed plan
    val a1 = graft.SparkEntry.queries("a1_ann_brute")(spark, dir)
    a1.collect()
    val fp = a1.queryExecution.executedPlan.toString
    println(s"[a1-final] codegen_stages=" + "\\*\\(\\d+\\)".r.findAllIn(fp).toSet.size +
      " cosine_expr=" + fp.toLowerCase.contains("cosinesimilarity"))
    fp.split("\n").foreach(l => println("[a1-plan] " + l.take(120)))
    spark.stop()
  }
}
