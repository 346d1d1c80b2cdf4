package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-round benchmark: headline queries on SPARK_GRAFT_SF_DIR (default
  * sf0.1), one JSON line on stdout. Fixture materialization (partitioned
  * layouts derived from the testdata) happens before the timed region —
  * it is test scaffolding, not query work.
  */
object Bench {

  /** Headline set: one representative per cost class — scan path, wide agg,
    * filter, shuffle join chain, window, top-k, minhash dedup, ANN,
    * tokenization, as-of join (count-elided pair + payload-consuming sum),
    * decontamination, sequence packing, BM25 scoring, heavy-hitters sketch
    * aggregation, iterative graph rank (PageRank), triangle counting
    * (wedge self-join), iterative GD training, n-gram LM
    * training+scoring, gap sessionization (shared-sort window+rollup),
    * keep-first chunk dedup (ownership join-back), whole-vocabulary
    * TF-IDF (full token-explode + rank prune), funnel (stacked
    * same-partition windows), sweep-line concurrency (distributed prefix
    * sum), nearest as-of (two merges + recombination), the bloom
    * semi-join reduction, hourly resample+ffill (per-key grid generator
    * + running fill window), conversation assembly (WindowGroupLimit cap
    * + ordered collect) and hashing-trick TF (token explode + partial
    * agg). d13_semdedup and e4_pca
    * stay out on the a8 policy: their oracles read corpus-DERIVED
    * fixtures that must keep the sf0.01 verify run's content — a bench
    * run at another SF would overwrite them. */
  val headline: Seq[String] = Seq(
    "s1_scan_hive", "q1_agg", "q2_filter", "q3_join_agg", "q6_window",
    "q7_topk", "q20_multijoin", "d2_dedup_minhash", "a1_ann_brute",
    "t3_tokens", "as1_asof", "as2_asof_native", "as3_asof_sum",
    "d8_decontam", "t9_pack", "t12b_bm25", "t15_heavyhitters",
    "d10_span_stats", "d12_chunk_dedup", "t18_chunk_chars", "a6_ann_join",
    "g1_pagerank", "ml2_logreg", "t20_backoff_lm", "q33_sessionize",
    "d14_keepfirst_chunks", "g2_triangles", "t28_tfidf_topk", "q38_funnel",
    "q35_concurrency", "as4_asof_nearest", "q34_bloom_join",
    "q44_resample", "t30_conversations", "t31_feature_hash",
    // round-14 join/iteration shapes: blocked fuzzy linkage, exact
    // prefix-filtered set-similarity join, greedy MMR (one grouped
    // kernel), fragment-bucketed interval-overlap join
    "q49_fuzzy_link", "d18_jaccard_join", "a11_mmr", "rj2_interval_join",
    // round-13: markup extraction (map-side state machine), per-cluster
    // NSW graph ANN (build + routed walk), incremental SemDeDup,
    // sliding-span exact dedup
    "t48_markup_extract", "a15_graph_ann", "d19_semdedup_append",
    "d20_span_dedup",
    // round-14: PDF build+extract round trip (codec throughput, map-side),
    // the composed crawl front door (WARC framing + gzip + charset
    // detect + markup state machine + URL canonicalization in one query)
    // and one-pass Aho-Corasick dictionary tagging
    "t50_pdf_extract", "t53_crawl_pipeline", "t57_dictionary_tag",
    // round-15: the multimodal band joins and deflate signal (closing the
    // r14 verdict's unmeasured-slope list), HTTP-framed WARC round trip,
    // table-driven dictionary tagging (collect + automaton), graph ANN
    // over the doubly-stored multi-assigned layout
    "m14_image_dedup_join", "m15_audio_dedup_join", "t58_compressibility",
    "t59_http_payload", "t57b_dictionary_tag_table",
    "a15c_graph_ann_multiassign",
    // round-15 back edge + tokenizer: outlink harvest + RFC 3986
    // resolution + the per-host politeness window; unigram Viterbi
    // encode behind a bounded-sample trainer; robots-declared delays
    // driving the schedule; the composed curation stage (langid +
    // quality + exact dedup — headline-only: the scaled fixture's
    // replica token suffixes defeat the langid word lists by design,
    // so its 10× behavior is its stages', each measured separately)
    "t61_outlinks", "t63_unigram_tokens", "t54d_robots_crawldelay",
    "t64_curation_pipeline",
    // round-16: main-content extraction (block densitometry, map-side)
    // and the composed crawl back edge (HTTP split → main content →
    // outlink harvest → politeness window in one query)
    "t65_main_content", "t67_crawl_backedge", "m16_interleave",
    "d23_dsir_select", "t69_pack_chop", "t70_span_corruption",
    "t71_sft_mask",
    // round-17: semantic decontamination (broadcast-eval cosine scan),
    // aspect-ratio bucketing (real header decode + grouped greedy
    // pack), and the four-stage composed training-data run (headline
    // only, not scaleSet: replica docs fail its langid gate by fixture
    // construction — the t64 caveat — and each stage's 10× slope is
    // measured separately as t64/d8b/d23/t69)
    "d25_embed_decontam", "m17_aspect_bucket", "t75_training_run",
    // curriculum rank (banded two-level global order) and the
    // per-source token-budget draw (keyed cumsum, budget-bounded output)
    "t76_curriculum", "t77_token_budget",
    // LSH-bucketed semantic decontam (the d25 scale path) and the
    // fastText-style trained quality filter (15 GD scans)
    "d25b_embed_decontam_lsh", "t78_quality_filter",
    // round-17 second wave: cross-document line-frequency boilerplate
    // removal, domain-level curation (eTLD+1 rollup + anti-join), the
    // UL2 objective planner (map-side), host-graph PageRank crawl
    // prioritization, byte-level mojibake repair (map-side kernel), and
    // greedy in-context ordering (headline only, not scaleSet: under
    // FIXED planes a 10x corpus grows each bucket 10x and the O(b^2)
    // chain measures the quadratic artifact — the operator's knob is
    // numPlanes ~ log2(corpus/targetBucket), which the slope harness
    // holds constant by design)
    "d26_line_boilerplate", "t80_domain_rollup", "t82_ul2_plan",
    "t83_crawl_rank", "t84_mojibake", "t85_context_order",
    // best-fit-decreasing packing: t9's repartition+sort+stream shape
    // with the sort key flipped to (tokens desc, id); MP4 shot-boundary
    // detection (map-side container walk + byte-diff kernel)
    "t87_bestfit_pack", "m18_shot_detect",
    // the composed web-to-corpus cleaning chain (extract -> repair ->
    // line-frequency -> domain filter in one program); PCM silence
    // segmentation (map-side sample walk)
    "t89_web_clean", "m19_audio_vad",
    // round-18: conditional-revalidation planning (groupBy(url) + HOF
    // walk + validator carry), corpus-exact unigram training (the
    // distributed histogram feeding the EM loop) + Viterbi encode,
    // the contamination audit histogram (two tagged gram universes,
    // one corpus scan), and PDF embedded-image extraction + dHash
    // (headline only, not scaleSet: the 10x fixture builds 10x PDFs
    // driver-side — the m11 fixture caveat; the decode itself is the
    // same map-side codec kernel t50 already slope-measures)
    "t94_revalidation", "t63b_unigram_exact", "d27_decontam_report",
    "m20_pdf_images",
    // round-18 second wave: anchor harvest (map kernels + the outlinks
    // distinct), cache-control floor + the composed conditional fetch
    // plan (t94-shaped joins/windows), crawl diff (full-outer on narrow
    // rows) + incremental re-processing (two semi-joins + the kernel),
    // hard negatives (inverted-index join + anti-join + bounded
    // window), sitemap lastmod (map-side), cross-format hash join,
    // and the one-aggregate threshold sweep
    "t96_anchor_text", "t97_cache_control", "t98_conditional_fetch_plan",
    "t99_crawl_diff", "t100_incremental_clean", "t101_hard_negatives",
    "t56c_sitemap_lastmod", "m21_crossformat_dedup", "ml7_confusion_sweep",
    // trust propagation: g7 is g1's iteration shape with a seed frame;
    // t102 is t83's url->host collapse story driving the tiny-graph walk
    "g7_trustrank", "t102_crawl_trust",
    // politeness audit: one keyed window + a host-grain aggregate;
    // host health: one host-grain aggregate with map-side combine;
    // the composed control loop (headline only: its pieces' slopes are
    // t94/t104/t105/t98's, each measured separately)
    "t103_politeness_audit", "t104_host_health", "t105_retry_after",
    "t106_crawl_control",
    // round-19: redirect-chain resolution (maxHops bounded-join rounds
    // over the wave-sized map), the migration fold composed with the
    // revalidation plan, the retained-suffix walk, the budgeted wave
    // (t106 + rank budget + per-host cap in one query), the byte-level
    // pre-token histogram, and cross-format dedup extended to GIF/WebP
    // (headline only, not scaleSet: the webp_gif fixture builds
    // driver-side — the m11/m21 caveat; the decode kernels are the
    // same map-side codec shape t50 slope-measures)
    "t107_redirects", "t107b_redirect_migration", "t107c_redirect_relative",
    "t94b_revalidation_retained", "t108_budgeted_wave",
    "t3d_bytebpe_vocab", "m22_webformat_dedup",
    // r19 third wave: EXIF decode+scrub over the cached fixture
    // (headline-only, the m11/m21 fixture caveat) and the source-grain
    // water-filling allocator (6-row level walk — fixed cost)
    "m23_exif", "t109_epoch_waterfill", "m24_oriented_dedup",
    // round-20: cross-wave moves compaction (pointer-doubling rounds
    // over the moves-sized map), the materialized epoch draw
    // (waterfill → bounded collect → zero-shuffle resample + one agg),
    // and progressive-JPEG dedup (headline-only: driver-side fixture
    // builder, the m11/m21 caveat; the multi-scan decode kernel is the
    // same map-side codec shape t50 slope-measures)
    "t107d_redirect_compaction", "t110_epoch_draw",
    "m25_progressive_dedup", "m26_oriented_jpeg", "m27_webp_meta",
    "m28_webp_exif", "m29_mp3_meta", "m30_gif_anim")

  /** Queries measured on the replicated corpus for the scaling slope —
    * the shuffle-heavy pipeline shapes whose 100 TB behavior a plan read
    * alone cannot quantify, now including the shuffle-join chains
    * (q3/q20), the native as-of merge (as2), the BM25 scorer (t12b) and
    * the heavy-hitters sketch (t15) — the shapes where a skew or
    * broadcast-threshold artifact would first appear at 100×. All are
    * also in [[headline]], so their 1× time is the main set's median (no
    * extra 1× passes). */
  val scaleSet: Seq[String] = Seq(
    "d2_dedup_minhash", "d10_span_stats", "t9_pack", "d8_decontam",
    "q6_window", "q3_join_agg", "q20_multijoin", "t12b_bm25",
    "as2_asof_native", "t15_heavyhitters", "d12_chunk_dedup",
    "t18_chunk_chars", "a6_ann_join", "g1_pagerank", "ml2_logreg",
    "t20_backoff_lm", "q33_sessionize", "d14_keepfirst_chunks",
    "g2_triangles", "t28_tfidf_topk", "q38_funnel", "q35_concurrency",
    "as4_asof_nearest", "q34_bloom_join",
    "q44_resample", "t30_conversations", "t31_feature_hash",
    "t48_markup_extract",
    "a11_mmr", "rj2_interval_join",
    // round-14: the heaviest join/iteration shapes now measure their own
    // slopes instead of relying on plan reads. All five are replica-safe
    // on the scaled fixture: documents carry per-replica token suffixes
    // (d18's shingles and d20's spans are replica-disjoint), part names
    // are per-replica Caesar-rotated (q49's block keys and TRUE match
    // set replicate at 1x structure, so the pair set grows linearly, not
    // quadratically), embeddings replicate verbatim under shifted ids
    // (a15's clusters and d19's touched-cluster scan grow linearly).
    "d18_jaccard_join", "q49_fuzzy_link", "a15_graph_ann",
    "d19_semdedup_append", "d20_span_dedup", "t50_pdf_extract",
    "t53_crawl_pipeline", "t57_dictionary_tag",
    // round-15: the band joins ride replica-salted signatures (identity
    // at 1× — see SparkEntry.replicaSalt) so cross-replica hash groups
    // stay disjoint and the pair set grows linearly, not quadratically;
    // t58/t59 are map-side kernels over the suffixed replica text;
    // t57b's lexicon grows ×factor (replica-suffixed first words) under
    // the bounded collect; a15c's embeddings replicate verbatim under
    // shifted ids, so per-cluster copy counts grow linearly
    "m14_image_dedup_join", "m15_audio_dedup_join", "t58_compressibility",
    "t59_http_payload", "t57b_dictionary_tag_table",
    "a15c_graph_ann_multiassign",
    // t61: links/hosts replicate per-replica (urls embed doc_id, hosts
    // embed doc_id % 9 — the window partitioning widens with data);
    // t63: the trainer reads a FIXED 256-doc sample regardless of SF,
    // the encode is one map-side Viterbi kernel per word;
    // t54d: replicas SHARE the nine hosts, so per-host windows grow
    // ×10 — the q6-style keyed-window growth shape, measured honestly
    "t61_outlinks", "t63_unigram_tokens", "t54d_robots_crawldelay",
    // round-16 (closing the r15 verdict's measure-don't-assume list):
    // t64's 10× leg exercises the langid + quality metrics at 10× but
    // the dedup TAIL at ~1× — replica docs fail the language gate by
    // fixture construction (every token is suffixed, so the word lists
    // miss and lang_pred = und); the dedup stage's own 10× behavior is
    // d1/d2/d12's, measured separately. The metrics ARE the dominant
    // cost, so the slope is still the honest number for the stage.
    // t65/t67 are map-side kernels + the t61-shaped window; replica
    // urls embed shifted doc ids, hosts stay 9 (keyed-window growth).
    // m16: chunk→union→pack→join→window composition; replica docs get
    // disjoint ids so shards/bins/media counts all grow linearly
    "t64_curation_pipeline", "t65_main_content", "t67_crawl_backedge",
    // d23: map-side gram hashing + two 1024-row distribution aggs +
    // a broadcast ratio join + per-doc sums; replica target ids stay
    // target (the 1e8 shift is a multiple of 100), distributions stay
    // bucket-bounded at any SF
    // t69: one per-shard cumsum window (8 shards at the gate's
    // setting — the shuffle is narrow (id, tokens) rows) + a bounded
    // explode; replica ids are disjoint so streams grow linearly
    // t70 is pure map-side hash arithmetic; t71 is one keyed window
    // over events — per-user turn counts grow ×10 (replicas keep
    // user_id), the q6/t54d keyed-window growth shape on narrow rows
    "m16_interleave", "d23_dsir_select", "t69_pack_chop",
    "t70_span_corruption", "t71_sft_mask",
    // d25: the eval side is pinned below the replica id shift, so the
    // broadcast stays 1×-sized while the corpus scan grows ×10 — the
    // linear map-side contract the operator documents. m17: media
    // payloads and the pack streams grow with documents; replica dims
    // differ (1e8 % 640 = 0 but 7e8 % 480 ≠ 0) yet stay valid, and the
    // grouped pack's parallelism is its 20 (bucket, shard) streams —
    // the keyed-growth shape, measured honestly.
    "d25_embed_decontam", "m17_aspect_bucket",
    // t76: per-band windows widen ×10 (bands stay bounded — the keyed
    // growth shape) and the offsets frame stays band-sized; replica
    // token suffixes shift the proxy but every row still ranks.
    // t77: per-source windows widen ×10 under constant budgets — the
    // OUTPUT stays budget-bounded while the scan grows, the frontier
    // property; the measured cost is the keyed cumsum window.
    "t76_curriculum", "t77_token_budget",
    // d25b: corpus sketches map-side and equi-joins a broadcast probe
    // table pinned to the 1× eval range — linear by construction.
    // t78: 15 full-batch GD scans (tokenize + fused counts + one agg
    // each) over the grown corpus — compute-linear, no shuffle growth;
    // replica docs' suffixed tokens zero their trusted-vocab features
    // (they train as extra low-signal positives, cost unchanged).
    "d25b_embed_decontam_lsh", "t78_quality_filter",
    // d26: replica token suffixes keep natural lines replica-disjoint
    // (per-line counts stay 1x-sized) while the gate-planted footer is
    // shared and grows x10 — the output-bounded frequent set stays tiny
    // and the anti-join side constant, which is the operator's claim.
    // t80: replica ids stay within the six fixture hosts (mod-6 over
    // shifted ids), so the domain table is constant while the scan and
    // anti-join stream grow x10. t82 is pure map-side hash arithmetic;
    // t84 a map-side byte kernel. t83: links grow x10 but collapse to
    // the SAME 27 host edges before any iteration — the slope measures
    // the harvest + distinct, exactly the operator's scale story.
    "d26_line_boilerplate", "t80_domain_rollup", "t82_ul2_plan",
    "t83_crawl_rank", "t84_mojibake",
    // t87: replica ids are disjoint so shard streams grow x10 and the
    // open-bin scan stays maxOpenBins-bounded — the t9 growth shape.
    // m18: one container walk + byte-diff pass per payload, map-side;
    // replica payloads are disjoint docs so the scan grows linearly
    "t87_bestfit_pack", "m18_shot_detect",
    // t89: extraction/repair are map-side kernels; the line table's
    // constant boilerplate paragraph is shared across replicas (grows
    // x10, stays one distinct line) while doc lines are replica-
    // suffixed and disjoint — the d26 growth shape plus t80's
    // constant-domain rollup. m19: one sample walk per payload,
    // map-side; replica payloads are disjoint docs
    "t89_web_clean", "m19_audio_vad",
    // t94: urls embed doc ids so the per-url event lists stay 1x-sized
    // while the url count grows x10 — one groupBy + HOF walk, linear.
    // t63b: the histogram's distinct-word table grows x10 (suffixed
    // replica tokens) but the rank window is vocab-bounded and the cap
    // keeps the driver pull constant; the encode is t63's map-side
    // kernel. d27: d8's broadcast-gram scan twice-tagged — replica
    // grams are suffix-disjoint so per-set matches grow linearly and
    // the histogram output stays K x buckets.
    "t94_revalidation", "t63b_unigram_exact", "d27_decontam_report",
    // t96: map-side extraction + the t61-shaped distinct; replica urls
    // embed shifted doc ids so links stay disjoint and grow linearly.
    // t99: ONE full-outer join on url over narrow (url, hash) rows —
    // replica urls are disjoint, both sides grow x10, the join stays
    // key-partitioned. t100: two semi-joins against diff key frames +
    // the map-side count kernel — the added+changed delta grows x10 but
    // stays a fraction of the corpus by construction. t101: postings
    // grow x10 under the FIXED 5-query set — per-query candidate lists
    // widen x10 and the bounded re-rank window widens with them (the
    // q6/t54d keyed-window growth shape, measured honestly).
    "t96_anchor_text", "t99_crawl_diff", "t100_incremental_clean",
    "t101_hard_negatives",
    // g7: g1's replica behavior (edges dedup to the same 200-node graph
    // — the slope measures the distinct + the fixed-size walk, like g1).
    // t102: links grow x10 but collapse to the SAME 6 host edges before
    // any iteration — t83's harvest-dominated growth shape.
    "g7_trustrank", "t102_crawl_trust",
    // t103: replica urls keep 9 hosts, per-host windows widen x10 —
    // the t54d keyed-window growth shape on narrow (host, ts) rows.
    // t104: pure map-side classify + one combine-friendly aggregate
    "t103_politeness_audit", "t104_host_health", "t105_retry_after",
    // round-19. t107: the redirect map grows x10 with replica-disjoint
    // bounded chains (1e8 ≡ 0 mod 10 keeps the d%10 chain structure;
    // planted loop/long-chain rows stay constant) — maxHops rounds of a
    // wave-sized equi-join, linear by construction. t94b: t94's
    // groupBy+walk shape with the suffix slice — per-url lists stay
    // 1x-sized. t108: replica ids keep the SAME 20 hosts (1e8 ≡ 0 mod
    // 20) so the budget table is constant while per-host rank windows
    // widen x10 — the t54d keyed-window growth shape; the budget cut
    // keeps output 60-bounded (the frontier property). t3d: distinct
    // pretokens grow x10 (suffixed replicas) under the vocab-bounded
    // rank window + cap — t63b's histogram growth shape.
    "t107_redirects", "t94b_revalidation_retained", "t108_budgeted_wave",
    "t3d_bytebpe_vocab",
    // round-20. t107d: the moves table grows x10 with replica-disjoint
    // chains (1e8 ≡ 0 mod 10 preserves d%10; 1e8 ≡ 1 mod 3 shifts the
    // chain-length residues per replica, all still ≤ 3 hops) — a FIXED
    // ceil(log2(32)) = 5 doubling rounds of a moves-sized equi-join,
    // linear by construction. t110: replica ids fold into the SAME 6
    // sources (the level walk and collect stay 6-row) while the
    // resample + aggregate stream grows x10 — map-side + one
    // combine-friendly agg, linear.
    "t107d_redirect_compaction", "t110_epoch_draw")

  /** Materialize a `factor`×-replicated copy of the FACT tables the scale
    * set reads (documents, lineitem, orders, events) plus 1× copies of
    * the dimensions the join chains consume (customer, nation, region) —
    * facts grow, dims don't, the realistic 100 TB shape. Replica rows get
    * disjoint ids, consistently shifted across orders/lineitem so the
    * orderkey join keeps its per-replica structure; documents get
    * per-replica token suffixes: a verbatim replica corpus would make
    * every doc a cross-replica near-duplicate, turning LSH buckets
    * quadratic BY CONSTRUCTION and measuring an artifact instead of
    * scale-out. With disjoint replicas each one carries the original
    * corpus's internal dup structure and the work should scale ~linearly.
    * Untimed fixture scaffolding (same policy as the layout fixtures). */
  def buildScaledDir(spark: SparkSession, sfDir: String, factor: Int): String = {
    val out = s"/tmp/graft_bench_scale_${factor}x_" +
      java.net.URLEncoder.encode(sfDir, "UTF-8")
    val reps = spark.range(factor).select(col("id").as("__r"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("__r") * 100000000L).as("doc_id"),
        when(col("__r") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1_r"), col("__r")))).as("text"),
        col("lang"), col("source"))
      // n_chars must describe the SUFFIXED text: carrying the original
      // value would ship a documents.parquet whose stats columns lie about
      // their own rows the moment an n_chars-reading query joins scaleSet
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    li.crossJoin(reps)
      .withColumn("l_suppkey", col("l_suppkey") + col("__r") * 10000000L)
      .withColumn("l_orderkey", col("l_orderkey") + col("__r") * 10000000L)
      .drop("__r")
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    // orders: o_orderkey shifted IDENTICALLY to lineitem so the fact-fact
    // join matches within each replica; o_custkey kept, so per-customer
    // order counts grow ×factor against the 1× customer dim (keyed growth,
    // like q6's windows — the shape that exposes shuffle/agg skew)
    spark.read.parquet(s"$sfDir/orders.parquet").crossJoin(reps)
      .withColumn("o_orderkey", col("o_orderkey") + col("__r") * 10000000L)
      .drop("__r")
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    // events: replicated with whatever Spark type the read surfaces (raw
    // nanos long under the shim for a NANOS fixture, TIMESTAMP_NTZ for the
    // current MICROS one — NanosTimestamp.rebuild branches on either), and
    // the replica's resolved type must equal the source's or the 1× and N×
    // legs run different rebuild plans and the slope compares apples to
    // oranges
    graft.functions.NanosTimestamp.enable(spark)
    val srcEvents = spark.read.parquet(s"$sfDir/events.parquet")
    srcEvents.crossJoin(reps)
      .withColumn("event_id", col("event_id") + col("__r") * 100000000L)
      .drop("__r")
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val replicaTs = spark.read.parquet(s"$out/events.parquet").schema("ts").dataType
    require(replicaTs == srcEvents.schema("ts").dataType,
      s"scaled events ts type $replicaTs != source ${srcEvents.schema("ts").dataType}")
    // embeddings: replica rows keep the ORIGINAL vectors under shifted ids
    // — identical vectors land in identical LSH buckets, so the ANN join's
    // candidate count grows exactly ×factor per query (linear by
    // construction, the scaling question the slope answers); queries stay
    // the fixed replica-0 id range
    spark.read.parquet(s"$sfDir/embeddings.parquet").crossJoin(reps)
      .withColumn("vec_id", col("vec_id") + col("__r") * 100000000L)
      .drop("__r")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // part: replicated with per-replica CAESAR-SHIFTED names. Verbatim
    // replica names would make every fuzzy-linkage block collide across
    // replicas (quadratic candidate growth — an artifact, not scale);
    // tagging the tokens is no better, because a trailing tag leaves the
    // 3-char-PREFIX block key shared across replicas and a leading tag
    // collapses each replica's prefixes onto ~26 hot keys. A bijective
    // per-replica character rotation keeps every block family (first
    // token, last token, 3-char prefix) replica-disjoint AT ITS 1× SIZE
    // — and, being a bijection, preserves every Levenshtein distance, so
    // the query's match structure replicates exactly.
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    // (r*2+1) is odd, so mod 26 it is never 0 — no replica ever gets the
    // identity rotation (drop/take silently cap past the string length,
    // which WOULD hand replicas >= 13 verbatim names and the collision
    // artifact back)
    def rotated(r: Int): String = {
      val s = (r * 2 + 1) % 26
      alpha.drop(s) + alpha.take(s)
    }
    val shifted = (1 until factor).foldLeft(col("p_name")) { (acc, r) =>
      when(col("__r") === r, translate(col("p_name"), alpha, rotated(r)))
        .otherwise(acc)
    }
    spark.read.parquet(s"$sfDir/part.parquet").crossJoin(reps)
      .withColumn("p_partkey", col("p_partkey") + col("__r") * 10000000L)
      .withColumn("p_name", shifted)
      .drop("__r")
      .write.mode("overwrite").parquet(s"$out/part.parquet")
    for (dim <- Seq("customer", "nation", "region"))
      spark.read.parquet(s"$sfDir/$dim.parquet")
        .write.mode("overwrite").parquet(s"$out/$dim.parquet")
    out
  }

  /** Why each failed run failed, by its label: exception class and message
    * (the last failure of a label wins); written to bench_last.json. */
  private val failures = new java.util.LinkedHashMap[String, String]

  /** `body`'s count, or -1 after recording why it failed (exception class
    * and message) and printing it to stderr. */
  private def countOrFail(label: String)(body: => Long): Long =
    try body
    catch {
      case e: Throwable =>
        val reason = s"${e.getClass.getName}: ${e.getMessage}"
        failures.put(label, reason)
        System.err.println(s"[bench] $label FAILED: $reason")
        -1L
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // optional first arg: comma-separated query filter (dev spot-timing;
    // the driver passes no args and times the full lists). The filter
    // applies to BOTH legs so a new scale entry can be validated alone.
    val filter = args.headOption.map(_.split(",").toSet)
    val headline = filter.map(Bench.headline.filter).getOrElse(Bench.headline)
    val scaleSet = filter.map(Bench.scaleSet.filter).getOrElse(Bench.scaleSet)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.LogHygiene.silenceBoundedWindowWarn()

    // fixture warmup (cached layouts) + JIT/codegen warmup on the small SF
    Fixtures.hiveLineitem(spark, sfDir)
    Fixtures.ymdOrders(spark, sfDir)
    Fixtures.valueOnlyOrders(spark, sfDir)

    // pass 0 warms JIT/codegen for every query's generated classes; then
    // THREE full interleaved passes (steady state, and a machine-load blip
    // hits one pass of every query rather than every run of one query).
    // Cache is cleared between runs so each measurement is a full fresh
    // computation (operator-internal persists must not carry over).
    for (name <- headline) {
      countOrFail(s"$name warmup")(SparkEntry.queries(name)(spark, sfDir).count())
      spark.catalog.clearCache()
    }
    val passes = 3
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to passes; name <- headline) {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val n = countOrFail(name)(fn(spark, sfDir).count())
      val secs = (System.nanoTime() - t0) / 1e9
      // a failed run must NOT contribute a (fast) time-to-exception sample —
      // that would make a broken query read as a speedup
      if (n >= 0) samples(name) = samples(name) :+ secs
      spark.catalog.clearCache()
    }
    val results = headline.map { name =>
      val ts = samples(name).sorted
      if (ts.isEmpty) (name, -1.0, 0.0) // all passes failed: visible marker
      else (name, ts(ts.size / 2), ts.last - ts.head) // (median, spread)
    }
    // failed queries emit null (not a -1.0 sentinel) so summing the map
    // always reproduces the headline total; failures stay visible in "failed"
    val qs = results.map { case (k, med, _) =>
      "\"" + k + "\":" + (if (med < 0) "null" else f"$med%.3f")
    }.mkString("{", ",", "}")
    val spread = results.map { case (k, med, sp) =>
      "\"" + k + "\":" + (if (med < 0) "null" else f"$sp%.3f")
    }.mkString("{", ",", "}")
    val failed = results.count(_._2 < 0)
    val total = results.collect { case (_, m, _) if m >= 0 => m }.sum

    // The driver-facing contract line: headline medians only. The 10×
    // scale leg and the write leg (below) are opt-in via
    // SPARK_GRAFT_SCALE_FACTOR — both r20 driver bench runs timed out
    // (rc=124, no JSON printed) because the full scale leg (replica
    // write + 88 queries × 3 passes at 10×) had outgrown the driver's
    // wall-clock budget. A driver run (which does not set the env) now
    // gets the headline numbers in well under the budget; local slope
    // measurements set SPARK_GRAFT_SCALE_FACTOR=10 explicitly and get
    // the identical legs as r01–r20 (same estimator, same interleaving).
    // Per-query spreads stay in target/bench_last.json — the stdout line
    // carries the contract keys (metric/value/unit/queries/sf + the
    // passes/failed/scale/write additions) and nothing that doubles its
    // length.
    def contractLine(scaleJson: String, writeJson: String): String =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"passes":$passes,"failed":$failed,"scale":$scaleJson,"write":$writeJson,"sf":"$sfDir"}"""
    def persist(name: String, line: String): Unit =
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(name), line + "\n")
      catch { case _: Throwable => () }

    // scaling-slope leg: the same query fns on a factor×-replicated dir,
    // one timed run each (code paths are JIT-warm from the main passes).
    // slope = tN / (t1 · factor): ~1 linear, <1 fixed costs amortizing,
    // >1 super-linear — a red flag worth a plan read.
    val scaleFactor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "0").toInt
    if (scaleFactor > 1) {
      // a scale-leg run is long: persist the headline numbers first so a
      // killed run still leaves them on disk (they are final — the legs
      // below never revise a headline median)
      persist("target/bench_headline.json", contractLine("\"pending\"", "\"pending\""))
    }
    // built once, shared by the scale leg and the write leg below
    lazy val scaledDir: String = buildScaledDir(spark, sfDir, scaleFactor)
    val scaleJson =
      if (scaleFactor <= 1) "null"
      else {
        scaledDir
        spark.catalog.clearCache()
        // 3 samples, reported as BOTH min and median: a single pass at N×
        // conflates JIT/page-cache warmup with the scaling signal
        // (observed: q6 single-pass slope 1.39 vs warm 1.08 on the same
        // data), and a co-tenant load blip can inflate even a median
        // (observed r11: d10's recorded slope 1.43 on untouched code vs
        // 0.32 quiet) — min is the load-robust estimator of the machine's
        // capability, median the honest typical run; publishing both makes
        // a contaminated artifact self-diagnosing instead of needing
        // external exculpation. Passes are INTERLEAVED across queries,
        // same policy as the main set: back-to-back runs of one query let
        // a transient blip poison ALL its samples — observed r10: a
        // concurrent test-suite JVM inflated t15's consecutive pair 14×
        // (slope 3.62 vs 0.31 on an idle box).
        val scaleSamples = scala.collection.mutable.Map
          .empty[String, Vector[Double]].withDefaultValue(Vector.empty)
        for (_ <- 1 to 3; name <- scaleSet) {
          val t0 = System.nanoTime()
          val n = countOrFail(s"scale $name")(
            SparkEntry.queries(name)(spark, scaledDir).count())
          // stop the clock BEFORE releasing caches: the 1x baseline
          // excludes clearCache time, so tN must too or every slope
          // carries the cache-release bias
          val secs = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          scaleSamples(name) = scaleSamples(name) :+ (if (n < 0) -1.0 else secs)
        }
        val entries = scaleSet.map { name =>
          val t1 = results.collectFirst { case (`name`, m, _) => m }.getOrElse(-1.0)
          val times = scaleSamples(name)
          val ok = times.nonEmpty && !times.contains(-1.0)
          if (!ok) { System.err.println(s"[bench] scale $name FAILED"); "\"" + name + "\":null" }
          else if (t1 <= 0) "\"" + name + "\":null"
          else {
            val sorted = times.sorted
            val tMin = sorted.head
            val tMed = sorted(sorted.size / 2)
            f""""$name":{"t1":$t1%.3f,"tN":$tMin%.3f,"tN_med":$tMed%.3f,""" +
              f""""slope":${tMin / (t1 * scaleFactor)}%.2f,""" +
              f""""slope_med":${tMed / (t1 * scaleFactor)}%.2f}"""
          }
        }
        s"""{"factor":$scaleFactor,"queries":${entries.mkString("{", ",", "}")}}"""
      }

    // write-leg: the crawl-history WRITE path (t66/t68/st22's shape) is
    // gated for correctness but excluded from the read bench by the
    // read-only convention — measure it here so the anti-join +
    // TaggedAppend shape carries a measured slope, not just design notes.
    // Each sample: (untimed) wipe the table and seed a half-corpus
    // history, then TIME seenDiffAndRecord of a full synthetic wave —
    // listing + url anti-join + distinct + the parquet append + the
    // returned diff's count. Same estimator policy as the scale leg:
    // 3 samples interleaved across the 1× and N× dirs, min + median,
    // slope = tN / (t1 · factor).
    def seenRecordSample(dir: String, run: Int): Double = {
      val path = s"/tmp/graft_bench_seenrec_$run"
      val fs = graft.core.Discovery.fileSystemFor(path,
        spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val urls = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://h"), (col("doc_id") % 9).cast("string"),
            lit(".example/d"), col("doc_id").cast("string")).as("url"))
      graft.core.TaggedAppend.append(
        urls.filter(col("doc_id") % 2 === 0).select("url"), path, "seed")
      val t0 = System.nanoTime()
      val n = countOrFail(s"write-leg at $dir")(graft.operators.Frontier
        .seenDiffAndRecord(urls.select("url"), "url", path, "wave").count())
      val secs = (System.nanoTime() - t0) / 1e9
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      if (n <= 0) { System.err.println(s"[bench] write-leg FAILED at $dir"); -1.0 }
      else secs
    }
    val writeJson =
      if (scaleFactor <= 1) "null"
      else {
        var s1 = Vector.empty[Double]; var sN = Vector.empty[Double]
        for (i <- 1 to 3) {
          s1 = s1 :+ seenRecordSample(sfDir, i * 2)
          sN = sN :+ seenRecordSample(scaledDir, i * 2 + 1)
        }
        if (s1.contains(-1.0) || sN.contains(-1.0))
          """{"t66_seen_record":null}"""
        else {
          val t1 = s1.sorted.apply(s1.size / 2)
          val srt = sN.sorted
          f"""{"t66_seen_record":{"t1":$t1%.3f,"tN":${srt.head}%.3f,""" +
            f""""tN_med":${srt(srt.size / 2)}%.3f,""" +
            f""""slope":${srt.head / (t1 * scaleFactor)}%.2f,""" +
            f""""slope_med":${srt(srt.size / 2) / (t1 * scaleFactor)}%.2f}}"""
        }
      }
    // full record (per-query spreads and failure reasons included) beside
    // the stdout line: a tail-capture of a long headline section must not
    // be the only copy
    val failuresJson = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(failures)
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"spread":$spread,"passes":$passes,"failed":$failed,"failures":$failuresJson,"scale":$scaleJson,"write":$writeJson,"sf":"$sfDir"}"""
    persist("target/bench_last.json", fullLine)
    // stop Spark BEFORE printing the contract line so no executor/log
    // chatter can interleave after it — it must be the last stdout line
    spark.stop()
    println(contractLine(scaleJson, writeJson))
    System.out.flush()
  }
}
