package graft

import org.apache.spark.sql.DataFrame

/** Machine-checked plan audits: the scale claims — pruned scans,
  * broadcast where a dim is small, map-side-only pipelines, codegen on
  * the hot path — asserted against the physical plans of the named
  * queries, so a regression that silently adds a shuffle or widens a
  * scan fails CI instead of surfacing as a 100 TB incident. Assertions
  * deliberately target coarse plan features (node kinds, Exchange
  * counts, scan schemas), not exact plan strings, to stay stable across
  * Spark upgrades.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String, dir: String = sf0001): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** The sf0.001 `events` and `documents` rewritten as three files
    * each, once per suite. Every sf0.001 table is one small file, which
    * `Tables.loadPath` plans as one partition with no exchanges; the
    * audits of the scale plan's exchanges read this copy instead, which
    * the loader predicts as three splits and scans as at scale.
    */
  private lazy val multiSplit: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-audit-").toString
    Tables.events(spark, sf0001).repartition(3).write.parquet(s"$dir/events.parquet")
    Tables.documents(spark, sf0001).repartition(3).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def hashExchanges(p: String): Int =
    p.linesIterator.count(_.contains("Exchange hashpartitioning"))

  test("map-side text queries shuffle only for their output sort") {
    for (q <- Seq("dedup_simhash", "text_repetition", "text_quality",
        "text_tokens", "text_langid", "text_fingerprint")) {
      val p = plan(q)
      val n = p.linesIterator.count(_.contains("Exchange "))
      assert(n <= 1, s"$q expected at most the ORDER BY exchange, plan:\n$p")
    }
  }

  test("projections prune the parquet scan (ReadSchema excludes unused columns)") {
    // s1 drops `props`; a scan that still reads it ships a wide string
    // column through every executor for nothing
    val p = plan("s1_scan_events")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.nonEmpty, s"no ReadSchema in plan:\n$p")
    assert(!readSchema.contains("props"), s"scan reads dropped column:\n$readSchema")
    val p2 = plan("text_tokens")
    val rs2 = p2.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!rs2.contains("lang") && !rs2.contains("source"),
      s"text_tokens scan reads unused columns:\n$rs2")
  }

  test("predicates reach the parquet scan as PushedFilters") {
    val p = plan("f1_streamfilter")
    assert(p.contains("PushedFilters: ["), s"no pushed filters in plan:\n$p")
    // at least one real predicate pushed (not just the bare brackets)
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(p).isDefined,
      s"pushed filter list is empty:\n$p")
  }

  test("editcount dim join broadcasts the small side") {
    val p = plan("j1_editcount")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast join for the per-user dim:\n$p")
  }

  test("the hot paths run inside whole-stage codegen") {
    // map-side pipelines (native expressions compile via defineCodeGen);
    // collect_set/Generate stages are legitimately object-based, so the
    // bucket-agg queries are not asserted here. AQE hides codegen
    // collapse until execution, so audit with AQE off — the codegen
    // boundaries themselves are AQE-independent.
    val prior = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (q <- Seq("text_repetition", "q1_agg", "dedup_simhash")) {
        val s = SparkEntry.queries(q)(spark, sf0001)
          .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
        val found = "Found (\\d+) WholeStageCodegen".r.findFirstMatchIn(s).map(_.group(1).toInt)
        assert(found.exists(_ >= 1), s"$q fell out of whole-stage codegen:\n${s.take(2000)}")
      }
    } finally prior match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("q3_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject for LIMIT-k:\n$p")
  }

  test("decon queries broadcast the benchmark side ON THE MATCH KEY") {
    // eval sets are tiny against the corpus — every decon rung must
    // join them map-side. Assert the join keyed on the actual match
    // column broadcasts (a broadcast elsewhere in the plan — e.g. the
    // 32-centroid crossJoin — must not mask a shuffled match join).
    for ((q, key) <- Seq(
        "decon_ngram_overlap" -> "[s#",
        "decon_minhash_neardup" -> "[band_idx#",
        "decon_embedding" -> "[cell#",
        "decon_image_phash" -> "[b#",
        "decon_audio_fingerprint" -> "[b#",
        "decon_video_phash" -> "[b#")) {
      val p = plan(q)
      val joinLines = p.linesIterator.filter(_.contains("Join")).toSeq
      assert(joinLines.exists(l => l.contains("BroadcastHashJoin") && l.contains(key)),
        s"$q: no broadcast join on match key $key, joins:\n${joinLines.mkString("\n")}")
      assert(!joinLines.exists(l =>
          (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) && l.contains(key)),
        s"$q: match key $key joined via shuffle, joins:\n${joinLines.mkString("\n")}")
    }
  }

  test("pii scrub is map-side only: no exchange before the output sort") {
    val p = plan("text_pii_scrub")
    val n = p.linesIterator.count(_.contains("Exchange "))
    assert(n <= 1, s"text_pii_scrub expected at most the ORDER BY exchange, plan:\n$p")
  }

  test("token-budget curation runs one window per shard, no global sort before it") {
    val p = plan("sample_token_budget")
    // a single hash-partitioned exchange feeds the window; rk and
    // cum_tokens must share it (same partition + ordering spec)
    val windows = p.linesIterator.count(_.trim.startsWith("Window"))
    assert(windows <= 2, s"expected the shared window stage(s), plan:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange "))
    assert(exchanges <= 2,
      s"expected shard exchange + output sort only, plan:\n$p")
  }

  test("bloom decon: map-side sketch gate BEFORE the confirm join, which broadcasts") {
    val p = plan("decon_bloom_prefilter")
    assert(p.contains("bloom_might_contain"),
      s"bloom predicate missing from the physical plan:\n$p")
    val joinLines = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.exists(l => l.contains("BroadcastHashJoin") && l.contains("[s#")),
      s"confirm join on the gram key must broadcast:\n${joinLines.mkString("\n")}")
    // the gate must run in a Filter stage, not be rewritten into a join
    assert(p.linesIterator.exists(l =>
        l.contains("Filter") && l.contains("bloom_might_contain")),
      s"bloom gate not planned as a filter:\n$p")
  }

  test("hot-gram report compiles to TakeOrderedAndProject after one gram aggregate") {
    val p = plan("corpus_hot_ngrams")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k by df must be per-partition top-k, not a global sort:\n$p")
  }

  test("shard export audit is one hash aggregate over a map-side projection") {
    val p = plan("export_shard_stats")
    val n = p.linesIterator.count(_.contains("Exchange "))
    assert(n <= 2, s"expected only the agg exchange + output sort, plan:\n$p")
    assert(!p.contains("Window"), s"shard stats must not need a window:\n$p")
  }

  test("chunking is pure map-side: no exchange before the output sort") {
    val p = plan("text_chunks")
    val n = p.linesIterator.count(_.contains("Exchange "))
    assert(n <= 1, s"text_chunks expected at most the ORDER BY exchange, plan:\n$p")
    assert(p.contains("word_chunks"), s"native chunk expression missing:\n$p")
  }

  test("corpus stats is one aggregate over one projection") {
    val p = plan("corpus_stats")
    val n = p.linesIterator.count(_.contains("Exchange "))
    assert(n <= 3, s"agg (+distinct-lang expand) + sort only, plan:\n$p")
  }

  test("unigram scorer never shuffles the token stream") {
    // the corpus-side plan must be scan -> explode -> broadcast vocab
    // join -> partial agg; a SortMergeJoin on `w` would mean the full
    // token stream shuffled (the scale-killer this plan avoids).
    // The served query now reads the materialized score store, so the
    // audit targets the store's BUILD plan — the one that pays the
    // join.
    val p = graft.queries.CorpusQueries.surprisalBuildFrame(spark, sf0001)
      .queryExecution.executedPlan.toString
    val joinLines = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.exists(_.contains("BroadcastHashJoin")),
      s"vocab join should broadcast at test scale:\n${joinLines.mkString("\n")}")
    assert(!joinLines.exists(l => l.contains("SortMergeJoin") && l.contains("[w#")),
      s"token stream shuffled for the vocab join:\n${joinLines.mkString("\n")}")
  }

  test("link-graph build: pure map-side — decode, extract, resolve without any exchange") {
    // the edge-table construction (WARC decode -> extract_links ->
    // resolve_url + the posexplode Generate) must be one map pass:
    // any exchange or join here would shuffle raw page bytes — the
    // 100 TB killer for a webgraph build. The served query only adds
    // its output sort on the store read.
    // r21: the build may carry ONE round-robin fan-out exchange at tiny
    // scale (Tables.fanOutForCpu — the scan packs into one split, so the
    // WARC-parse kernel would otherwise run on one core; the helper
    // disables itself once the scan has >= parallelism tasks, so the
    // 100 TB plan stays exchange-free). KEYED exchanges stay forbidden:
    // those would shuffle raw page bytes by content, the actual killer.
    val p = graft.queries.CrawlQueries.linkEdgeBuildFrame(spark, sf0001)
      .queryExecution.executedPlan.toString
    val keyed = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning") ||
        l.contains("Exchange SinglePartition"))
    assert(keyed === 0, s"link extraction planned a keyed shuffle:\n$p")
    assert(!p.contains("Join"), s"link extraction planned a join:\n$p")
    assert(p.contains("Generate"), s"posexplode vanished (links not exploded?):\n$p")
    val served = plan("crawl_link_graph")
    assert(served.linesIterator.count(_.contains("Exchange hashpartitioning")) === 0,
      s"served edge table planned a hash exchange:\n$served")
    assert(!served.contains("Join"), s"served edge table planned a join:\n$served")
  }

  test("NB quality scorer: broadcast vocab join, token stream never shuffled") {
    // same scale contract as the unigram scorer: corpus side is scan ->
    // explode -> broadcast vocab join -> partial agg; the 1-row class
    // totals ride a broadcast nested loop. A SortMergeJoin on `w`
    // would shuffle the full token stream — the 100 TB killer.
    // The served query now reads the materialized score store (r17),
    // so the audit targets the store's BUILD plan — the one that pays
    // the join.
    val p = graft.queries.CorpusQueries.nbScoreBuildFrame(spark, sf0001)
      .queryExecution.executedPlan.toString
    val joinLines = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.exists(_.contains("BroadcastHashJoin")),
      s"vocab join should broadcast at test scale:\n${joinLines.mkString("\n")}")
    assert(!joinLines.exists(l => l.contains("SortMergeJoin") && l.contains("[w#")),
      s"token stream shuffled for the vocab join:\n${joinLines.mkString("\n")}")
  }

  test("KN bigram scorer: stream joins ONE broadcast model, never shuffled pre-agg") {
    // the corpus-side bigram stream must reach its per-doc aggregate
    // through a single BroadcastHashJoin on `bg` against the finished
    // (bg, p) model table — the vocab-sized hist/cont/btypes joins all
    // happen on the build side. A SortMergeJoin on `bg` means the
    // corpus-sized bigram stream shuffled for the model join — the
    // 100 TB killer the unigram contract forbids.
    val p = plan("text_bigram_kn")
    val joinLines = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.exists(_.contains("BroadcastHashJoin")),
      s"model join should broadcast at test scale:\n${joinLines.mkString("\n")}")
    assert(!joinLines.exists(l => l.contains("SortMergeJoin") && l.contains("[bg#")),
      s"bigram stream shuffled for the model join:\n${joinLines.mkString("\n")}")
  }

  test("kNN graph: cell-keyed equi-join, never a cartesian or nested loop") {
    // the self-join must key on the cell (within-cell pair volume =
    // the sum(c^2) bound); a CartesianProduct or BroadcastNestedLoop
    // here is the O(n^2) graph build the cell restriction exists to
    // avoid
    val p = plan("sim_knn_graph")
    assert(!p.contains("CartesianProduct"), s"cartesian pair build:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop pair build:\n$p")
    assert(p.linesIterator.exists(l => l.contains("Join") && l.contains("cell")),
      s"pair join not keyed on the cell:\n$p")
  }

  test("substring dedup: run aggregate reuses the diagonal window's partitioning") {
    // the (a, b, diag, isl) groupBy must be satisfied by the run
    // window's (a, b, diag) exchange — an extra corpus-sized shuffle
    // between the window and the aggregate doubles the heavy stage.
    // Budget: cap window (h) + self-join sides + diag window + the
    // per-doc rollup's two-phase count-distinct (expand + (a, b)
    // exchange + a exchange) + output sort — and never a cartesian
    val p = plan("dedup_substring")
    assert(!p.contains("CartesianProduct"), s"cartesian anchor join:\n$p")
    val n = p.linesIterator.count(_.contains("Exchange "))
    assert(n <= 7, s"substring dedup exchange budget blown ($n):\n$p")
  }

  test("silhouette: centroid table broadcasts; the corpus never shuffles for distances") {
    // distances must ride a broadcast of the <= k-row centroid-array
    // table over one corpus scan — a SortMergeJoin against the
    // centroid side means the corpus shuffled for a k-row dim
    val p = plan("cluster_silhouette")
    assert(p.contains("BroadcastExchange"), s"no broadcast in the distance stage:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian distance build:\n$p")
  }

  test("ngram jaccard pays ONE posting-list shuffle: df window fused into the bucket exchange") {
    // the plan must be: Exchange(s) -> Sort -> Window(df) -> Filter ->
    // collect_list agg WITH NO OWN EXCHANGE (distribution satisfied by
    // the window's), then only the small pair-count and ORDER BY
    // exchanges. A separate df aggregate + semi-join prefilter (or an
    // agg that re-shuffles) pushes the Exchange count past 3.
    val p = plan("dedup_ngram_jaccard")
    assert(p.contains("Window"), s"df window prefilter missing:\n$p")
    val n = p.linesIterator.count(_.contains("Exchange "))
    assert(n <= 3,
      s"expected posting + pair-count + sort exchanges only, got $n:\n$p")
  }

  test("span dedup is join-backed, never a pair expansion") {
    // spans explode exactly twice (df side + totality base); the
    // repeated-span join must stay hash-based row-per-match — any
    // Generate beyond the two chunk explodes or a nested-loop join
    // means someone reintroduced quadratic pair work.
    val p = plan("dedup_span_exact")
    val generates = p.linesIterator.count(_.contains("Generate explode"))
    assert(generates === 2, s"expected exactly the two chunk explodes, got $generates:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span join degenerated to a nested loop:\n$p")
  }

  test("temperature mixing decides per doc via a broadcast rates join") {
    // the per-source rates dim is one row per source — the corpus-side
    // decision must be a broadcast join + hash coin, never a shuffle
    // of the corpus on `source` (low cardinality = skew city)
    val p = plan("sample_temperature")
    val joinLines = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.exists(_.contains("BroadcastHashJoin")),
      s"rates join should broadcast:\n${joinLines.mkString("\n")}")
    assert(!joinLines.exists(l =>
        (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) && l.contains("[source#")),
      s"corpus shuffled on the low-cardinality source key:\n${joinLines.mkString("\n")}")
  }

  test("seeded cell assignment is map-side: sim_ivf_topk plans ZERO shuffle exchange") {
    // The native SeededCellArgmax replaced a crossJoin(n x 32) + max_by
    // hash aggregate (a full corpus shuffle). The whole probe query
    // must now be: scan -> assign projection -> broadcast 1-row probe
    // -> filter -> score -> TakeOrderedAndProject. Any hashpartitioning
    // exchange means the aggregate resurfaced.
    val p = plan("sim_ivf_topk")
    assert(p.contains("seeded_cell_argmax"),
      s"native assignment expression missing from the plan:\n$p")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning") ||
        l.contains("Exchange SinglePartition"))
    assert(shuffles === 0, s"expected a shuffle-free probe plan, got $shuffles:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k degenerated to a global sort:\n$p")
  }

  test("embedding dedup/decon pay no per-vector aggregate for cell assignment") {
    // the only aggregates allowed are the consumers' own (pair counts);
    // a HashAggregate keyed on vec_id is the r5 assignment shuffle.
    // r18: dedup_embedding serves the pair store — its BUILD plan is
    // audited here instead; decon_embedding still assigns inline.
    val plans = Seq(
      "embPairsBuildFrame" ->
        graft.queries.DedupQueries.embPairsBuildFrame(spark, sf0001)
          .queryExecution.executedPlan.toString,
      "decon_embedding" -> plan("decon_embedding"))
    for ((q, p) <- plans) {
      assert(p.contains("seeded_cell_argmax"),
        s"$q: native assignment expression missing:\n$p")
      assert(!p.contains("HashAggregate(keys=[vec_id"),
        s"$q: per-vector assignment aggregate resurfaced:\n$p")
    }
    // the serving plan is a pure store scan
    val ps = plan("dedup_embedding")
    assert(ps.contains("Scan parquet") && !ps.contains("seeded_cell_argmax"),
      s"dedup_embedding serving plan re-assigns cells:\n$ps")
  }

  test("perceptual dedup (image + audio): one bucket exchange, map-side pair dedupe") {
    // fingerprint-store scan -> band explode stays in the scan stage;
    // the ONLY hash exchange is the (band, value) bucket groupBy —
    // multi-band pair duplicates are cut map-side by the lowest-
    // matching-band filter, NOT a distinct — and the output sort is
    // the only other exchange. A 3rd exchange means the distinct
    // stage crept back in.
    for (q <- Seq("dedup_image_phash", "dedup_audio_fingerprint")) {
      val p = plan(q)
      val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(shuffles <= 1, s"$q: expected the bucket exchange only, got $shuffles:\n$p")
      val total = p.linesIterator.count(_.contains("Exchange "))
      assert(total <= 2, s"$q: expected <= 2 exchanges (bucket, sort), got $total:\n$p")
    }
    // the ALL-FRAMES video query additionally rolls frame pairs up to
    // doc pairs (min hamming + matching-frame count) — one more hash
    // exchange, still no distinct stage
    val p = plan("dedup_video_phash")
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 2, s"video: expected bucket + rollup exchanges, got $shuffles:\n$p")
    val total = p.linesIterator.count(_.contains("Exchange "))
    assert(total <= 3, s"video: expected <= 3 exchanges (bucket, rollup, sort), got $total:\n$p")
  }

  test("pq similarity: zero exchange — map-side subspace assignment + table lookups") {
    // banks and ADC tables ride the plan as literals/reference
    // objects (bounded driver collects, the seededCells contract), so
    // the whole query is scan -> project (8 native argmax + 8 array
    // lookups) -> TakeOrderedAndProject: NO exchange of any kind. An
    // exchange appearing here means assignment or scoring fell back
    // to a join/aggregate formulation.
    val p = plan("sim_pq_topk")
    assert(p.contains("seeded_cell_argmax"),
      s"native subspace assignment missing:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k degenerated to a global sort:\n$p")
    val n = p.linesIterator.count(_.contains("Exchange "))
    assert(n === 0, s"sim_pq_topk planned $n exchanges, expected none:\n$p")
  }

  test("ivf x pq similarity: coarse prune + ADC scoring, still zero shuffle exchange") {
    // The composite rung must not cost more plan than its parts: the
    // coarse assignment is the sim_ivf_topk map-side projection, the
    // probe is a broadcast 1-row cross join, and the fine scoring is
    // the sim_pq_topk projection — so the only acceptable plan is
    // scan -> assign -> broadcast probe -> filter -> ADC project ->
    // TakeOrderedAndProject with NO hash/range/single exchange. A
    // shuffle appearing here means one of the two assignment stages
    // fell back to a join/aggregate formulation.
    val p = plan("sim_ivfpq_topk")
    assert(p.contains("seeded_cell_argmax"),
      s"native assignment expression missing from the plan:\n$p")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning") ||
        l.contains("Exchange SinglePartition"))
    assert(shuffles === 0, s"expected a shuffle-free probe plan, got $shuffles:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k degenerated to a global sort:\n$p")
  }

  test("semantic keeper subtraction is a broadcast anti-join, never a shuffled one") {
    // The dropped set is bounded by the duplicate-pair count (tiny
    // next to the corpus), so the subtraction must plan as a
    // BroadcastHashJoin LeftAnti against the map-side assignment
    // frame. A SortMergeJoin here means the corpus shuffled just to
    // subtract a small set — the formulation that dies at 100 TB.
    val p = plan("dedup_embedding_keep")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected a broadcast left-anti subtraction:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-shuffling join in the keeper plan:\n$p")
  }

  test("audio shingle dedup: one bucket exchange, pair rollup, output sort") {
    // fingerprint store scan -> value-bucket groupBy -> capped pair
    // explode -> (a,b) rollup -> sort: the rollup and sort are the
    // only exchanges past the bucketing, same budget as the
    // perceptual family.
    val p = plan("dedup_audio_shingle")
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 2, s"expected bucket + rollup exchanges only, got $shuffles:\n$p")
    val total = p.linesIterator.count(_.contains("Exchange "))
    assert(total <= 3, s"expected <= 3 exchanges (bucket, rollup, sort), got $total:\n$p")
  }

  test("sq8 similarity: 64-row training exchange, broadcast codebook, top-k not a sort") {
    // the ONLY hash exchange is the per-dim min/max aggregate
    // (map-side partials make it 64 rows per partition); the codebook
    // and the ALREADY-QUANTIZED query vector travel in one broadcast
    // row, so the corpus is scanned exactly once (one FileScan of the
    // full table, plus the 1-row pushed-filter query scan inside the
    // broadcast build); top-k compiles to TakeOrderedAndProject. AQE
    // off for a stable tree.
    val prior = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("sim_sq8_topk")
      val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(hashEx <= 1, s"expected only the min/max training exchange, got $hashEx:\n$p")
      assert(p.contains("BroadcastExchange"), s"codebook/query not broadcast:\n$p")
      assert(p.contains("TakeOrderedAndProject"), s"top-k degenerated to a global sort:\n$p")
      assert(p.contains("partial_min") || p.contains("partial_max"),
        s"min/max training lost its map-side partial aggregation:\n$p")
      // the full-corpus scan (the one WITHOUT the vec_id=7 pushed
      // filter) must appear exactly once
      val corpusScans = p.linesIterator.count(l =>
        l.contains("FileScan parquet") && !l.contains("EqualTo(vec_id,7)"))
      assert(corpusScans <= 2, // corpus + the training explode share one scan each
        s"corpus re-scanned, got $corpusScans full scans:\n$p")
    } finally prior match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("url canonicalization is map-side: only the dedup groupBy and sort exchange") {
    val p = plan("crawl_url_canon")
    val n = p.linesIterator.count(_.contains("Exchange "))
    assert(n <= 2, s"expected canon groupBy + output sort only, got $n:\n$p")
  }

  test("crawl pipeline: map-side to the dedup exchange; ingest subtree reused, not re-run") {
    // The composed pipeline's scale contract: ingest + strip + scrub +
    // decon/quality/repetition gates are ONE map stage — the first
    // exchange above the ingest MapPartitions must be the exact-dedup
    // aggregate (keyed on the md5 content hash), with no join, window,
    // or generate in between, and no exchange below the ingest at all.
    // The span-dedup/cap stages reference the dedup output three more
    // times; exchange reuse must collapse those so the expensive
    // WARC-parse scan runs ONCE (a lost ReusedExchange = 3x ingest).
    // AQE off for a stable printed tree; reuse itself is AQE-independent.
    val prior = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val lines = plan("crawl_pipeline").linesIterator.toVector
      // structural indent = the "+- "/":- " marker position (NOT the
      // first letter: the "*(n) " codegen prefix would shift it)
      def depth(l: String): Int = {
        val i = l.indexOf("+- "); val j = l.indexOf(":- ")
        if (i < 0 && j < 0) 0 else if (i < 0) j else if (j < 0) i else math.min(i, j)
      }
      val mp = lines.indexWhere(_.contains("MapPartitions"))
      assert(mp >= 0, s"ingest MapPartitions missing:\n${lines.mkString("\n")}")
      assert(lines.count(_.contains("MapPartitions")) === 1,
        s"ingest runs more than once (exchange reuse lost):\n${lines.mkString("\n")}")
      assert(lines.exists(_.contains("ReusedExchange")),
        s"dedup subtree not reused:\n${lines.mkString("\n")}")
      // walk UP the ancestor chain from the ingest to its first exchange
      var j = mp - 1
      var lvl = depth(lines(mp))
      var exchange: Option[String] = None
      while (j >= 0 && exchange.isEmpty) {
        if (depth(lines(j)) < lvl) {
          lvl = depth(lines(j))
          if (lines(j).contains("Exchange")) exchange = Some(lines(j))
          else assert(!Seq("Join", "Window", "Generate").exists(lines(j).contains),
            s"non-map-side node between ingest and the first exchange: ${lines(j)}")
        }
        j -= 1
      }
      assert(exchange.exists(_.contains("Exchange hashpartitioning")),
        s"first exchange above the ingest is not the dedup hash exchange: $exchange")
      // below the ingest: only the deserialize + pruned scan + (at tiny
      // scale) the round-robin fan-out exchange (Tables.fanOutForCpu —
      // self-disabling once the scan has >= parallelism tasks, so the
      // 100 TB plan has nothing here); keyed exchanges stay forbidden
      var k = mp + 1
      while (k < lines.length && depth(lines(k)) > depth(lines(mp))) {
        assert(!lines(k).contains("Exchange") ||
            lines(k).contains("RoundRobinPartitioning"),
          s"keyed exchange below the ingest scan: ${lines(k)}")
        k += 1
      }
    } finally prior match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("minhash signatures shuffle only at banding, not before") {
    // native MinHashSlices means NO groupBy(doc_id) aggregation stage:
    // the plan must not contain a doc_id hash aggregate before banding.
    // r18: audits the pair store's BUILD plan (serving is a scan —
    // see the pair-stores test below).
    val p = graft.queries.DedupQueries.minhashPairsBuildFrame(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("HashAggregate(keys=[doc_id"),
      s"signature aggregation resurfaced (native expression bypassed):\n$p")
  }

  test("near-dup pair stores: serving plans scan the artifact, verify build joins the candidate store") {
    // dedup_minhash / dedup_minhash_verified serve the per-corpus pair
    // artifact; a Generate (shingle explode) or band aggregate in a
    // serving plan means the store lifecycle regressed to per-call
    // banding+verification
    for (q <- Seq("dedup_minhash", "dedup_minhash_verified")) {
      val p = plan(q)
      assert(!p.contains("Generate") && !p.contains("HashAggregate"),
        s"$q serving plan re-runs banding/verification:\n$p")
      assert(p.contains("Scan parquet"),
        s"$q serving plan does not scan the pair store:\n$p")
    }
    // the verify BUILD must consume the candidate STORE (a parquet
    // scan), not re-run the banding pipeline inline
    val pb = graft.queries.DedupQueries.verifiedPairsBuildFrame(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(pb.contains("Scan parquet"),
      s"verify build re-derives candidates instead of reading the store:\n$pb")
    assert(!pb.contains("min_hash_slices"),
      s"verify build re-computes minhash signatures:\n$pb")
  }

  test("source centroids: one hash aggregate after a row-level join — no component explode") {
    // r18 rewrite: the (vec_id -> source) join runs BEFORE component
    // expansion and the centroid is one 64-sum aggregate; a Generate
    // means the exploded component stream came back, and more than
    // ~3 exchanges means the join/agg fused shape regressed
    val p = plan("sim_source_centroids")
    assert(!p.contains("Generate"),
      s"component explode resurfaced in source centroids:\n$p")
    val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(n <= 3, s"expected join + centroid-agg exchanges only, got $n:\n$p")
  }

  test("salted agg plans BOTH phases: a (key, salt) exchange before the key exchange") {
    // the whole point is the physical shape — phase 1 must actually
    // hash-partition on (event_type, salt) before the per-key collapse;
    // if Catalyst ever fused the phases the skew protection silently
    // vanished while the (oracle-checked) result stayed identical
    val p = plan("q26_salted_agg", multiSplit)
    val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(n === 2, s"expected the salted + final exchanges, got $n:\n$p")
    // the alias is rewritten to _groupingexpression; the salt's pmod
    // derivation is the stable fingerprint
    assert(p.contains("pmod(event_id"), s"salt key missing from the plan:\n$p")
    // a one-split input is one partition: both phases run in one stage
    val tiny = plan("q26_salted_agg")
    assert(hashExchanges(tiny) === 0 && tiny.contains("pmod(event_id"),
      s"a one-split events table must plan both phases without an exchange:\n$tiny")
  }

  test("fuzzy join: variant-key blocking join, never a cross product") {
    // the candidate join must be an equi-join on the deletion-variant
    // key; a CartesianProduct or BroadcastNestedLoopJoin means the
    // blocking key vanished and the join degenerated to all-pairs —
    // the exact failure mode neighborhood blocking exists to prevent
    val p = plan("fuzzy_term_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join degenerated to all-pairs:\n$p")
  }

  test("triangles avoid nested loops; chunking is map-side to the output sort") {
    // the two-join closure must stay hash/sort-based — a
    // BroadcastNestedLoopJoin or CartesianProduct means the join keys
    // got lost and the count degenerated to all-pairs (the nn
    // corpus-count rows legitimately ride broadcast cross joins,
    // which plan as BNLJ over ONE row — so assert on CartesianProduct
    // and on the explode count instead)
    val pt = plan("crawl_triangles")
    assert(!pt.contains("CartesianProduct"),
      s"triangle closure degenerated to all-pairs:\n$pt")
    val pc = plan("corpus_chunks")
    assert(pc.linesIterator.count(_.contains("Exchange hashpartitioning")) === 0,
      s"chunking planned a shuffle before the output sort:\n$pc")
    assert(pc.linesIterator.count(_.contains("Generate explode")) === 1,
      s"chunking must be one map-side explode:\n$pc")
  }

  test("funnel + retention: the chained windows share ONE user exchange") {
    // q23's three conditional-min windows and q24's first-day window
    // all partition by user_id — they must ride a single shuffle, with
    // only the distinct-count aggregation machinery after it
    val pf = plan("q23_funnel")
    assert(pf.linesIterator.count(_.contains("Window")) >= 3,
      s"funnel lost its chained windows:\n$pf")
    assert(pf.linesIterator.count(_.contains("Exchange ")) <= 3,
      s"funnel: windows no longer share one exchange:\n$pf")
    val pr = plan("q24_retention")
    assert(pr.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2,
      s"retention: expected window + distinct-agg exchanges only:\n$pr")
  }

  test("multiprobe residual ivfpq: two unioned map-side branches, still zero exchange") {
    val p = plan("sim_ivfpq_multiprobe_topk")
    assert(p.contains("residual_argmin_l2"),
      s"native residual assignment missing from the plan:\n$p")
    assert(p.contains("Union"), s"expected the two probe branches to union:\n$p")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning") ||
        l.contains("Exchange SinglePartition"))
    assert(shuffles === 0, s"expected a shuffle-free multiprobe plan, got $shuffles:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k degenerated to a global sort:\n$p")
  }

  test("residual ivfpq: zero exchange — literal-cell filter + native residual argmins") {
    // probe cell and codebook are driver-built (bounded 257-row
    // collect), so the serving plan must be a single corpus pass:
    // scan -> native coarse assign -> literal cell filter -> 8 native
    // residual argmins + ADC lookups -> TakeOrderedAndProject
    val p = plan("sim_ivfpq_residual_topk")
    assert(p.contains("residual_argmin_l2"),
      s"native residual assignment missing from the plan:\n$p")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning") ||
        l.contains("Exchange SinglePartition"))
    assert(shuffles === 0, s"expected a shuffle-free probe plan, got $shuffles:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k degenerated to a global sort:\n$p")
  }

  test("bm25 index probe: pushed term filter, one pivot exchange, top-k not a sort") {
    // bm25 serves off the posting store: the term IN (...) predicate
    // must reach the store's parquet scan as a pushed filter (the
    // query reads matched posting lists, not the corpus), the only
    // hash exchange is the per-doc pivot over those matched rows, the
    // memoized one-row stats frame broadcasts, and nothing re-tokenizes
    // at query time (no Generate/explode anywhere in the serving plan)
    val p = plan("search_bm25_topk")
    assert("PushedFilters: \\[[^\\]]*In\\(term".r.findFirstIn(p).isDefined,
      s"term IN filter did not push to the posting-store scan:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"bm25 probe planned more than the per-doc pivot exchange:\n$p")
    // corpus stats (n, sumdl) are memoized index metadata spliced in
    // as LITERALS — the serving plan carries no stats join at all
    // (formerly a one-row broadcast; a join here means a query-time
    // stats recompute crept back in)
    assert(!p.contains("Join"), s"query-time stats join crept back in:\n$p")
    assert(!p.contains("Generate"), s"query-time tokenization crept back in:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k degenerated to a global sort:\n$p")
  }

  test("filtered vector search: label predicate pushed to the parquet scan") {
    // the metadata slice must cut BEFORE any vector arithmetic —
    // PushedFilters carries the label equality into the scan, the
    // top-k stays TakeOrderedAndProject, zero hash exchanges
    val p = plan("sim_filtered_topk")
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(label,3\\)".r.findFirstIn(p).isDefined,
      s"label filter did not push to the scan:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 0,
      s"filtered scan planned a shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k degenerated to a sort:\n$p")
  }

  test("hard negatives: lexical frame broadcasts into the embeddings join") {
    // the 20-row bm25 frame and the 1-row query vector must both ride
    // broadcasts — the embeddings side is ONE scan, never shuffled
    // for the join (a hash exchange here would shuffle the corpus'
    // embedding column to meet 20 rows)
    val p = plan("mine_hard_negatives")
    assert(p.contains("BroadcastHashJoin"), s"lexical arm did not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"embeddings side got shuffled for a 20-row probe:\n$p")
    assert(!p.contains("CartesianProduct"), s"unkeyed join:\n$p")
  }

  test("postings build: one term exchange plus the output sort") {
    val p = plan("search_postings")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"posting build must shuffle once, on the term:\n$p")
  }

  test("keywords: one job over the posting store — window exchange only") {
    // the posting store already carries the term-dictionary df, so the
    // query-time plan must be: store scan -> map-side tf-idf -> the
    // per-doc window. Any join or second hash exchange means the
    // query-time df aggregate crept back in (the round-11 shape paid
    // three serialized jobs for it).
    val p = plan("corpus_keywords")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"query-time df join crept back in:\n$p")
    val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(n === 1, s"expected only the per-doc window exchange, got $n:\n$p")
  }

  test("edge-table pagerank BUILD: real joins but never cartesian; 5 contribution exchanges") {
    // r18: the fixed point moved into the pagerankEdgesFrame store
    // build — the audit now targets the BUILD plan (the
    // nbScoreBuildFrame convention). The edge table is a materialized
    // store, so each iteration must JOIN it (broadcast at this SF; SMJ
    // at scale) — but a cartesian / nested-loop anywhere means the
    // join key got lost, and fewer than 5 hash exchanges means an
    // iteration's contribution aggregate collapsed into something else
    val p = graft.queries.CrawlQueries.pagerankEdgesBuildFrame(spark, multiSplit)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pagerank-over-edges planned an unkeyed join:\n$p")
    val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(n >= 5, s"expected >= 5 contribution aggregates, got $n:\n$p")
    // one-split documents and edge store: five keyed joins, no exchange
    val tiny = graft.queries.CrawlQueries.pagerankEdgesBuildFrame(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(hashExchanges(tiny) === 0 && !tiny.contains("CartesianProduct") &&
      !tiny.contains("BroadcastNestedLoopJoin") &&
      tiny.linesIterator.count(_.contains("BroadcastHashJoin")) === 5,
      s"a one-split input must plan five keyed joins and no exchange:\n$tiny")
  }

  test("rank stores: serving plans are store scans with no iterative-union shape") {
    // the r17 verdict weak item, closed: learned ranks are per-corpus
    // artifacts — the 5-round fixed point runs in the store BUILD, and
    // every consumer (the rank query itself, the rank-weighted
    // sampler) SCANS the store. A Union or Generate in a serving plan
    // means the store lifecycle regressed to per-call retraining (the
    // posting-store no-retokenize precedent).
    for (q <- Seq("crawl_pagerank", "crawl_ppr", "crawl_pagerank_edges",
        "sample_rank_weighted")) {
      val p = plan(q)
      assert(!p.contains("Union"),
        s"$q serving plan carries the iteration's union shape:\n$p")
      assert(!p.contains("Generate explode"),
        s"$q serving plan re-derives out-links:\n$p")
      assert(p.contains("Scan parquet"),
        s"$q serving plan does not scan the rank store:\n$p")
      val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(n === 0, s"$q expected a pure store scan, got $n hash exchanges:\n$p")
    }
  }

  test("midnight sweep: map-side segment explode, day-window exchanges only") {
    val p = plan("q38b_concurrency_sweep_midnight")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"midnight split planned a join (must be a map-side explode):\n$p")
    val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(n <= 3, s"expected day-window + agg exchanges only, got $n:\n$p")
  }

  test("ordered export audit: CDF over the bounded key domain, no corpus sort") {
    // the boundary derivation must aggregate the DISTINCT key domain
    // (one exchange) + the global cumulative window; the corpus itself
    // is never range-sorted inside the audit (the per-shard agg is a
    // hash exchange, the final ORDER BY is over <= 16 rows)
    val p = plan("export_ordered_shards")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"ordered-shard audit planned a shuffled join:\n$p")
    val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(n <= 3, s"expected CDF + shard-agg exchanges only, got $n:\n$p")
  }

  test("pagerank BUILD: one exchange per iteration, edges derived map-side, no joins") {
    // r18: audits the pagerankFrame store's BUILD plan (serving is a
    // scan — see the rank-stores test). 5 iterations = 5 contribution
    // aggregates (hash exchange on the target id); the per-iteration
    // corpus-size row rides a broadcast cross join, and the edge list
    // is a map-side Generate — a shuffled join anywhere means the
    // arithmetic edge derivation regressed to a materialized
    // edge-table join
    val p = graft.queries.CrawlQueries.pagerankBuildFrame(spark, multiSplit)
      .queryExecution.executedPlan.toString
    val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(n === 5, s"expected exactly the 5 iteration exchanges, got $n:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"pagerank planned a shuffled join:\n$p")
    assert(p.linesIterator.count(_.contains("Generate explode")) === 5,
      s"expected one map-side out-link explode per iteration:\n$p")
    // one-split documents: the five iterations run in one stage
    val tiny = graft.queries.CrawlQueries.pagerankBuildFrame(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(hashExchanges(tiny) === 0 && !tiny.contains("SortMergeJoin") &&
      tiny.linesIterator.count(_.contains("Generate explode")) === 5,
      s"a one-split input must plan five map-side explodes and no exchange:\n$tiny")
  }

  test("zscore: per-type moments broadcast back; no low-cardinality window") {
    // event_type has a handful of distinct values — a window partitioned
    // on it is one giant task per type at scale. The moments must come
    // from a partial-aggregating groupBy joined back via broadcast.
    val p = plan("q25_zscore_outliers")
    assert(!p.contains("Window"), s"q25 regressed to a window plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-type moments must broadcast-join back onto the scan:\n$p")
  }

  test("grouped top-k: bounded aggregate, no per-group window, no group-sized collect") {
    // the TopK Aggregator must plan as a (partial -> final) aggregate
    // pair — never a Window partitioned on the low-cardinality group
    // key, and never a collect_list that buffers the whole group
    for (q <- Seq("q31_topk_per_group", "sample_reservoir")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q regressed to a window plan:\n$p")
      assert(!p.contains("collect_list"), s"$q buffers whole groups:\n$p")
    }
  }

  test("phrase search: fused map-side scan, no exchange before the output sort") {
    val p = plan("search_phrase")
    val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(n === 0, s"phrase adjacency must not shuffle the corpus:\n$p")
  }

  test("seasonal anomaly: baseline broadcasts back onto the scan") {
    val p = plan("q33_seasonal_anomaly")
    assert(!p.contains("Window"), s"q33 regressed to a window plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the (type, hour) baseline must broadcast-join back:\n$p")
  }

  test("robust median/MAD: one scan, fold-only — no joins, no windows") {
    // r19 shape (verdict item 2): both CDF cuts are ordered in-row
    // folds over the per-type sorted count array, so the whole plan is
    // scan -> two bounded aggregates -> sort. Any join or window here
    // means the shape regressed to the r17/r18 multi-job CDF whose
    // scheduling floor was 13x DuckDB at the 100x decade.
    val p = plan("q36_mad_robust")
    assert(!p.contains("Join"), s"q36 regressed to a join plan:\n$p")
    assert(!p.contains("Window"), s"q36 regressed to a window plan:\n$p")
  }

  test("drift PSI: one scan, fold-only — no joins, no checkpoints") {
    // r19 shape (verdict item 3): totals and the bin-ordered PSI fold
    // collapse into one second-stage aggregate; same assert as q36.
    val p = plan("dq_drift")
    assert(!p.contains("Join"), s"dq_drift regressed to a join plan:\n$p")
    assert(!p.contains("Window"), s"dq_drift regressed to a window plan:\n$p")
  }

  test("k-core peeling: semi-join rounds, no cartesian anywhere") {
    val p = plan("crawl_kcore6")
    assert(!p.contains("CartesianProduct"),
      s"kcore planned a cartesian product:\n$p")
  }

  test("global equi-depth: windows only over the bounded quantized domain") {
    // the corpus-side path is scan -> map-side bucket expression ->
    // 10-row aggregate; the only window in the plan runs over the
    // distinct-cents CDF table (bounded by the value domain). Assert
    // the bucket assignment never joins or re-windows the corpus.
    val p = plan("q29b_equidepth_global")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"bucket assignment must be a map-side expression, not a join:\n$p")
  }

  test("kmeans final pass: native map-side assignment, sizes ride a broadcast") {
    // the Lloyd refinements collapse to a driver-bounded centroid bank,
    // so the FINAL frame must be: micro-quantize scan -> native argmax
    // projection -> tiny size aggregate joined back by broadcast. A
    // sort-merge/cartesian join or a second hash exchange means the
    // assignment regressed to the r5 crossJoin + max_by shape.
    // r18: audits the assignment store's BUILD plan (serving is a
    // scan — cluster_kmeans/silhouette/balanced read the store).
    val p = graft.queries.SimilarityQueries.kmeansClustersBuildFrame(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("seeded_cell_argmax"),
      s"assignment must be the native argmax projection:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"kmeans output planned a corpus join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"cluster sizes must join back as a broadcast:\n$p")
    val nHash = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(nHash <= 1, s"expected only the size-aggregate exchange, got $nHash:\n$p")
  }

  test("RM3 and QL: posting-store serving, bounded broadcasts, no corpus joins") {
    // both retrieval rungs re-score off the memoized posting store;
    // the feedback set (10 rows) and expansion set (5 rows) must ride
    // broadcasts, never a shuffled corpus join, and no cartesian may
    // appear anywhere
    for (q <- Seq("search_rm3_expand", "search_ql_dirichlet")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
        s"$q planned a corpus-scale join:\n$p")
    }
    assert(plan("search_rm3_expand").contains("BroadcastHashJoin"),
      "rm3's bounded fb/expansion sets must broadcast")
  }

  test("entropy and burstiness: constant exchange budget on their agg keys") {
    // burstiness: one exchange for the (term) aggregate (the posting
    // store is memoized — its build is not in this plan) + the top-k;
    // entropy: (source, term) then (source), totals broadcast back
    val pb = plan("corpus_burstiness")
    assert(pb.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"burstiness grew an extra exchange:\n$pb")
    // 4 printed exchange nodes: (source, w) counts — whose subtree
    // prints TWICE (it feeds both the totals agg and the join left
    // side; ReuseExchange dedupes the actual shuffle at runtime) —
    // plus the totals (source) agg and the final (source, ...) agg
    val pe = plan("corpus_entropy")
    assert(pe.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 4,
      s"entropy grew extra exchanges:\n$pe")
    assert(pe.contains("BroadcastHashJoin"),
      s"entropy totals must join back as a broadcast:\n$pe")
  }

  test("redirect doubling: exactly the 4 pointer self-joins, no cartesian") {
    val p = plan("crawl_redirects")
    assert(!p.contains("CartesianProduct"), s"redirects planned a cartesian:\n$p")
    // p_{k+1} references p_k on BOTH join sides, so the printed tree
    // duplicates each round's subtree: 4 doubling rounds = 2^4 - 1 =
    // 15 join NODES. The duplicated copies are identical subtrees, so
    // ReuseExchange computes each round's two shuffles (left keyed on
    // p, right on i) once no matter how many copies print — the
    // runtime cost is ~2 exchanges per round, not 2^rounds. A join
    // count above 15 means a fifth round (or a plan change) snuck in.
    val joins = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
    assert(joins == 15, s"expected the 4-round doubling tree (15 join nodes), got $joins:\n$p")
  }

  test("curriculum: phase assignment is a map-side cut count, not a corpus window") {
    // the cuts collapse to 3 driver literals; the output plan must not
    // re-sort or re-window the corpus to assign phases
    val p = plan("export_curriculum")
    assert(!p.linesIterator.exists(l => l.contains("Window") && !l.contains("WindowGroupLimit")),
      s"curriculum phase assignment planned a window over the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), s"curriculum planned a cartesian:\n$p")
  }
}
