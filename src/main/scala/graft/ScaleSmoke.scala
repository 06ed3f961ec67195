package graft

import org.apache.spark.sql.functions._

/** Scale-stress smoke: replicate the sf0.1 documents corpus AND the
  * embeddings table 10x (50k docs / 50k vectors, distinct ids, shared
  * content => heavy duplicate pressure) and run the dedup, decon, and
  * similarity operator families end to end. Exercises exactly the
  * pressure points the 100 TB design claims to handle: duplicate-heavy
  * LSH buckets, hot shingles, pair-expansion volume, and — for the
  * learned quantizer — whether the k ~ sqrt(n) sizing still bounds
  * within-cell pair work when n grows 10x (the sum(c^2) audit below
  * prints the actual candidate volume vs the quadratic ceiling).
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession(32)
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("big").toString
    // id shift of 1e6 per replica: multiples of 50, so the % 50 == 0
    // benchmark split of the decon queries lands identically in every
    // replica (bench side also grows 10x — the broadcast must absorb it)
    val base = Tables.documents(spark, "/root/testdata/sf0.1")
    (0 until 10).map(k =>
        base.withColumn("doc_id", col("doc_id") + lit(k * 1000000L)))
      .reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val embBase = Tables.embeddings(spark, "/root/testdata/sf0.1")
    (0 until 10).map(k =>
        embBase.withColumn("vec_id", col("vec_id") + lit(k * 1000000L)))
      .reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // events replicate with DISTINCT users and shifted event ids: the
    // round-10 event-analytics family (grouped top-k, CDF medians,
    // sweep-line, drift) must absorb 10x rows AND 10x key cardinality
    // — replicating users unchanged would only deepen per-key history,
    // which stresses nothing the windows don't already see
    val evBase = Tables.events(spark, "/root/testdata/sf0.1")
    (0 until 10).map(k =>
        evBase.withColumn("event_id", col("event_id") + lit(k * 10000000L))
          .withColumn("user_id", col("user_id") + lit(k * 1000000L)))
      .reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    println(s"corpus: ${spark.read.parquet(s"$dir/documents.parquet").count()} docs, " +
      s"${spark.read.parquet(s"$dir/embeddings.parquet").count()} vectors, " +
      s"${spark.read.parquet(s"$dir/events.parquet").count()} events")

    for (q <- Seq("dedup_exact", "dedup_minhash", "dedup_simhash_pairs",
        "dedup_ngram_jaccard", "dedup_clusters", "dedup_gram_coverage",
        "text_fingerprint", "text_pack", "sample_stratified", "sample_mixture",
        "decon_ngram_overlap", "decon_bloom_prefilter", "decon_minhash_neardup",
        "text_pii_scrub", "corpus_hot_ngrams", "export_shard_stats",
        "text_unigram_logprob", "text_chunks", "corpus_stats", "dedup_span_exact",
        "sample_temperature",
        // similarity family on the 10x embeddings (exact duplicates =
        // the worst case for near-dup cosine: every replica pair scores
        // 1.0, so candidate sets are maximally hot)
        "sim_cosine_topk", "sim_ivf_topk", "sim_ivf_topk_trained",
        "dedup_embedding_trained", "decon_embedding",
        // round-8 additions: perceptual-hash buckets under 10x
        // duplicate pressure, quantizer training over 10x vectors,
        // canonical-key dedup over 10x url groups
        "dedup_image_phash", "dedup_audio_fingerprint", "dedup_video_phash",
        "decon_image_phash",
        "sim_sq8_topk",
        "crawl_url_canon",
        // round-9 additions: shingle buckets and the PQ scan under 10x
        // duplicate pressure, plus the widened decon ladder
        "dedup_audio_shingle", "sim_pq_topk",
        "decon_audio_fingerprint", "decon_video_phash",
        // composite IVF x PQ probe and the semantic keeper subtraction
        // — the keeper's dropped set grows WITH the duplicate pressure
        // (every replica pair is a drop), the exact stress the
        // broadcast-anti formulation must absorb
        "sim_ivfpq_topk", "dedup_embedding_keep",
        // late round-9 additions: retrieval (posting lists grow 10x,
        // the bm25 stats row stays one row), graph iteration + closure
        // on a 50k-node/150k-edge graph (pagerank shuffles 10x rows
        // per iteration; triangle join fan-out grows with density —
        // NOTE the replicated ids violate the derived graph's dense
        // 0..n-1 contract, so % n targets include phantom sink nodes:
        // fine here, where the smoke measures shuffle volume, and the
        // oracled corpora satisfy the contract),
        // residual-PQ scan over 10x codes, neighborhood-blocked fuzzy
        // join (vocab unchanged => identical output under replication
        // — a blocking-key correctness property in itself), chunking,
        // and the rank-weighted cut
        "search_bm25_topk", "search_postings", "corpus_keywords",
        "crawl_pagerank", "crawl_triangles", "sim_ivfpq_residual_topk",
        "fuzzy_term_join", "corpus_chunks", "sample_rank_weighted",
        // final-wave additions: second graph op, CMS build over 10x
        // token volume, split + leakage + cluster-split machinery on
        // 10x near-dup pressure (the leakage audit's pair input grows
        // ~1000x), bigram LM counts, multiprobe ADC over 10x codes
        "crawl_hits", "corpus_cms_counts", "export_splits",
        "export_split_leakage", "export_split_clustered",
        "text_bigram_logprob", "export_length_buckets",
        "sim_ivfpq_multiprobe_topk",
        // round-10 additions: native phrase scan + hapax sort over 10x
        // docs, sequence packing (10x docs = 10x packing units, bins
        // per unit unchanged), trained-PQ ADC + range + batched probes
        // over 10x codes/candidates
        "search_phrase", "text_hapax", "export_token_packing",
        "sim_pq_topk_trained", "sim_range_search", "sim_batch_topk",
        // round-10 event-analytics family over 10x events WITH 10x
        // user cardinality: bounded top-k partials, quantized-CDF
        // medians, the per-day sweep, PSI binning, grouping-set
        // expand, and the high-cardinality windows
        "q31_topk_per_group", "q32_ewma_daily", "q33_seasonal_anomaly",
        "q36_mad_robust", "q38_concurrency_sweep", "q39_time_weighted_avg",
        "dq_drift", "sample_reservoir", "q40_grouping_sets",
        "q41_mode_per_group",
        // round-12 additions: the shuffled-join graph loop over a 10x
        // materialized edge table whose 16 hub nodes now carry ~10x
        // the in-degree (the skew-join pressure case), and the
        // midnight-split sweep over 10x sessions
        "crawl_pagerank_edges", "q38b_concurrency_sweep_midnight",
        // round-12 second wave: Lloyd training + assignment over 10x
        // vectors (replicas collapse into the same cells — the skew
        // case for the (cluster, dim) update aggregate), the balanced
        // cut on top, the hashed-bucket importance model over 10x
        // token volume, and the four-signal ensemble join
        "cluster_kmeans", "sample_cluster_balanced", "sample_dsir",
        "quality_ensemble",
        // round-13 additions: the anti-join scrub under 10x duplicate
        // pressure (every replicated doc's EVERY span goes df>=2, so
        // the kill-set is maximal and reassembly runs on every doc),
        // and rank fusion over the 10x-served arms
        "text_span_scrub", "search_hybrid_rrf",
        // persisted-index bm25 serving: 10x postings land bucketed,
        // the probe still lists only its term buckets
        "search_bm25_indexed",
        // LPA over the 10x edge table: 4 bulk-synchronous rounds with
        // ~10x the hub in-degree (the label-count aggregate's skew case)
        "crawl_communities",
        // round-13 third wave: RAKE token windows + vocab broadcast at
        // 10x, containment over the 10x-pressure shingle buckets, the
        // fair-share schedule's top-k over 10x docs
        "corpus_keyphrases", "dedup_containment", "export_interleave",
        // filtered ANN (pushdown over 10x vectors), MMR's candidate
        // scan, the RANGE frame over 10x user-event cardinality, and
        // the tie-heavy rank family
        "sim_filtered_topk", "sim_mmr_rerank",
        "q42_trailing_range_window", "q43_rank_functions",
        // round-13 fourth wave: RM3's posting-store re-score over 10x
        // postings (the expansion broadcast stays 5 rows), the seeded
        // rank loop (10x nodes, phantom-sink caveat as crawl_pagerank),
        // soft-dedup weighting under maximal duplicate pressure (every
        // replica group has n >= 10, so weights actually bite), and
        // the integer-OLS fit over the replicated vocabulary
        "search_rm3_expand", "search_snippets", "crawl_ppr",
        "sample_soft_dedup", "corpus_zipf",
        // QL pivot over 10x postings (stats still one broadcast row),
        // the burstiness aggregate over 10x posting rows, and the
        // token-weighted curriculum CDF over the replicated key space
        "search_ql_dirichlet", "corpus_burstiness", "export_curriculum",
        // the three-arm eval (each arm serves its own 10x plan; the
        // gains join rides the 10x posting store), the reversed-edge
        // self-join on the 10x hub-skewed edge table, and the KN count
        // tables over the replicated bigram space
        "search_eval_ndcg", "crawl_reciprocity", "text_bigram_kn",
        // the (source, term) entropy aggregate over 10x token volume
        // and the full-frame value windows at 10x user cardinality
        "corpus_entropy", "q44_value_window",
        // 4 doubling self-joins over 10x pointer rows (chains replicate)
        "crawl_redirects",
        // partition-batched WAV decode + trim over 10x clips
        "multimodal_audio_trim",
        // two epoch top-k scans over 10x docs
        "sample_epoch_shuffle",
        // permuted-gather ADC over 10x codes + the host-pair coarsening
        "sim_pq_balanced_topk", "crawl_host_graph",
        // growth-curve aggregates + source-x-dictionary JSD pairs at
        // 10x (the DQ audits read the TPC-H tables, which the smoke's
        // replicated dir does not carry)
        "corpus_heaps", "corpus_source_jsd",
        // match-set facet rollup over 10x postings
        "search_facets",
        // the gate-composed confusion rollup at 10x (hist reads orders
        // — not in the smoke dir)
        "quality_langid_confusion",
        // the 16-row integrity rollup over 10x docs
        "export_manifest",
        // round-14: the trained-rung recall contract at 10x — one
        // batched exact pass + six rung probes; the bars are corpus-
        // size-aware so the 10x replica lands on the large-corpus bar
        "sim_recall_report_trained",
        // round-14: diagonal-run substring dedup under MAXIMAL
        // duplicate pressure — every doc has 9 verbatim replicas, so
        // the anchor self-join runs at its worst pair fan-out (the
        // 512 hot-gram cap and the per-doc-length run bound are the
        // claims under test)
        "dedup_substring",
        // round-14 second wave: MLT off the 10x posting store, the
        // within-cell kNN self-join at 10x vectors (sum(c^2) bound),
        // the hopping-window expand over 10x events
        "search_mlt", "sim_knn_graph", "q47_hopping_window",
        // round-14 third wave: the silhouette audit over 10x vectors
        // (duplicate-heavy clusters are the k-means worst case), BFS
        // over the 10x hub-skewed edge store, the card's two corpus
        // rollups
        "cluster_silhouette", "crawl_bfs_layers", "export_dataset_card",
        // round-14 fourth wave: bounded-sample quantiles over 10x
        // events (the 64-row cap is the claim), the QI lattice over
        // 10x docs
        "q48_sketch_quantiles", "dq_k_anonymity",
        // round-14 fifth wave: the source-centroid mix matrix and the
        // 8-step farthest-point chain over 10x vectors (replicas make
        // min-distances collapse to 0 for duplicated centers — the
        // greedy must still terminate deterministically)
        "sim_source_centroids", "sample_coreset_kcenter",
        // round-14 sixth wave: vector PRF over 10x vectors, prefix
        // novelty under full-replica pressure (every replica after the
        // first scores ~0 novel — the signal the operator exists for)
        "search_rocchio_vec", "text_ngram_novelty",
        // round-14 seventh wave: the real-decoder scene walk + lag
        // hamming over 10x clips (memoized store pays the codec once)
        "multimodal_video_scene_cuts",
        // round-15: the real link-extracted edge table at 10x pages
        // (gunzip + WARC walk + href scan + RFC 3986 resolution per
        // page — the map-side budget claim) and its consumers: host
        // rollup, frontier priority list, weighted host PageRank,
        // RFC 9309 robots gate (per-edge parse+match, rules memoized)
        "crawl_link_graph", "crawl_link_host_graph", "crawl_frontier",
        "crawl_link_pagerank", "crawl_robots_gate",
        // round-17 second wave: the EG weight loop (corpus cost = one
        // surprisal-store scan; the k-row driver loop is volume-blind),
        // its sampler, and the calibration audit off the NB score
        // store (train-once pays the 10x tokenize exactly once)
        "sample_doremi_weights", "sample_doremi_apply",
        "quality_calibration")) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, dir).count()
      println(f"$q%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s   $n%10d rows")
    }

    // Candidate-volume audit for the learned quantizer at 10x: the
    // k ~ sqrt(n) rule claims within-cell pair work stays ~linear.
    // Print the measured sum(cell^2) against n^2 — if replication
    // collapsed the corpus into a few mega-cells this number says so.
    // This deliberately RETRAINS its own index rather than sharing one
    // with the black-box query entries above: the audit must measure
    // the same defaultK/trainIvf path production calls, in isolation.
    val emb = Tables.embeddings(spark, dir)
    val n = Tables.parquetRowCount(spark, s"$dir/embeddings.parquet")
    val k = operators.Similarity.defaultK(n)
    val idx = operators.Similarity.trainIvf(spark, emb, k, iters = 3)
    val sizes = operators.Similarity
      .assignCells(emb, operators.Similarity.centroidDf(spark, idx.centroids))
      .groupBy("cell").count().as[(Int, Long)].collect()
    val pairWork = sizes.map { case (_, c) => c * c }.sum
    val quadratic = n * n
    println(f"ivf_audit n=$n k=$k cells=${sizes.length} " +
      f"sum_c2=$pairWork n2=$quadratic frac=${pairWork.toDouble / quadratic}%.5f " +
      f"max_cell=${sizes.map(_._2).max}")
    assert(pairWork < quadratic / 16,
      s"10x quantizer degenerated: sum(c^2)=$pairWork vs n^2/16=${quadratic / 16}")
    spark.stop()
  }
}
