package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Stores, Tables}
import graft.operators.{TextOps, UrlOps}
import graft.queries.ExportQueries.shardStats
import graft.queries.MultimodalQueries.fanDocs

/** Crawl and link graph: WARC ingest, URL canonicalisation, frontier
  * and politeness gates, link extraction, and the graph family
  * (PageRank, PPR, HITS, BFS layers, communities, k-core, triangles,
  * redirects). Owns the link-edge and rank stores.
  */
object CrawlQueries {

  /** The REAL link-extracted edge table behind `crawl_link_graph` /
    * `crawl_link_host_graph`: WARC bytes -> record walk -> HTTP parse
    * -> native `extract_links` -> `resolve_url` against the record's
    * WARC-Target-URI. Materialized once per corpus version (the
    * crawlEdgeTable lifecycle — a crawl extracts its graph once);
    * (doc_id, link_idx, src_url, dst_url), UNSORTED — consumers add
    * their own order.
    */
  private def linkEdgeFrame(s: SparkSession, dir: String): DataFrame =
    Stores.frame(s, "linkedges", dir, "documents") {
      linkEdgeBuildFrame(s, dir)
    }

  /** The store's construction plan, exposed so PlanAuditSpec can pin
    * the zero-exchange map-side contract on the frame that pays the
    * decode + extraction (the surprisalBuildFrame convention).
    */
  private[graft] def linkEdgeBuildFrame(s: SparkSession, dir: String): DataFrame = {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val payload = graft.operators.Warc.syntheticLinkedWarcContainer(id)
            val recs = graft.operators.Warc.decodeWarc(payload)
            // strict like warc_ingest: the synthetic container is
            // well-formed by construction, so a parse failure is an
            // ENGINE bug (the production ingest quarantines instead)
            require(recs.nonEmpty, s"doc $id: synthetic linked WARC failed to decode")
            val rec = recs.head
            val http = graft.operators.Warc.parseHttpResponse(rec.body).getOrElse(
              sys.error(s"doc $id: embedded HTTP response failed to parse"))
            (id,
              rec.targetUri.getOrElse(sys.error(s"doc $id: missing WARC-Target-URI")),
              new String(http.entity, java.nio.charset.StandardCharsets.UTF_8))
          }
        }
        .toDF("doc_id", "base_uri", "html")
        .select(col("doc_id"), col("base_uri"),
          posexplode(graft.functions.TextExpressions.extract_anchors(col("html")))
            .as(Seq("link_idx", "la")))
        .select(col("doc_id"), col("link_idx").cast("long").as("link_idx"),
          col("base_uri").as("src_url"),
          graft.operators.UrlOps.resolveUrl(col("base_uri"), col("la.href")).as("dst_url"),
          col("la.anchor").as("anchor"))
    }

  /** Deterministic hub-skewed edge table for `crawl_pagerank_edges`,
    * materialized once per corpus version ([[Stores]] — a real
    * crawl's link graph is extracted once and stored, not re-derived
    * per query). Three out-links per node: two multiplicative-hash
    * targets (uniform) and `src % 16` (one of 16 hubs — in-degree
    * ~n/16, the skewed in-degree shape real webgraphs have).
    */
  private def crawlEdgeTable(s: SparkSession, dir: String): DataFrame =
    Stores.frame(s, "edges", dir, "documents") {
      val n = Tables.parquetRowCount(s, s"$dir/documents.parquet")
      // hub count clamps to n so a degenerate corpus (< 16 docs) never
      // links to nonexistent node ids (which would make the rank loop
      // emit phantom documents the oracle's docs-anchored LEFT JOIN
      // cannot produce)
      val hubs = math.min(16L, n)
      Tables.documents(s, dir).select(col("doc_id").as("src"))
        .select(col("src"), explode(array(
          (col("src") * 31 + 7) % n,
          col("src") % hubs,
          (col("src") * 13 + 11) % n)).as("dst"))
    }

  /** PageRank fixed point over the arithmetic link graph, kept in the
    * store lifecycle: learned ranks are a per-corpus-version ARTIFACT
    * serving many consumers (rank-weighted sampling, crawl budgeting,
    * frontier priority), not something recomputed per query. The
    * 5-round loop runs ONCE per corpus version inside the
    * [[Stores]] build; `crawl_pagerank` and
    * `sample_rank_weighted` both SCAN the store — their serving plans
    * carry no iterative-union shape (PlanAuditSpec pins this), and a
    * bench rep pays a parquet scan, not a fixed-point replay. At
    * 100 TB this is a scheduled rank job feeding a rank column every
    * sampler reads. Store rows are UNSORTED (doc_id, rank_ppm);
    * consumers add their own order.
    */
  private[queries] def pagerankFrame(s: SparkSession, dir: String): DataFrame =
    Stores.frame(s, "pagerank", dir, "documents") {
      pagerankBuildFrame(s, dir)
    }

  /** The store's CONSTRUCTION plan (exposed for PlanAuditSpec):
    * [[dampedRanks]] over [[derivedOutLinks]] (out-degree exactly 3, no
    * dangling nodes); per iteration a map-side explode of the out-links
    * -> ONE hash exchange on the target id — the canonical
    * bulk-synchronous shape.
    */
  private[graft] def pagerankBuildFrame(s: SparkSession, dir: String): DataFrame = {
    val nodes = rankNodes(s, dir)
    val nFrame = nodes.agg(count(lit(1)).as("nn"))
    dampedRanks(nodes)(_.crossJoin(broadcast(nFrame))
      .select(explode(derivedOutLinks).as("i"), expr("r div 3").as("c")))
  }

  /** The node table of every derived-graph rank store: `(i = doc_id)`. */
  private def rankNodes(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id").as("i"))

  /** The derived out-link graph of the synthetic rank queries: node `i`
    * links to `(i*31+7, i*17+3, i*13+11) % nn`, over the columns `i` and
    * `nn` (the node count).
    */
  private def derivedOutLinks: Column = array(
    (col("i") * 31 + 7) % col("nn"),
    (col("i") * 17 + 3) % col("nn"),
    (col("i") * 13 + 11) % col("nn"))

  /** Per-node sum `sc` of one round's contributions `(i, c)`; a zero
    * row per node keeps nodes without in-links in the result.
    */
  private def rankSums(contribs: DataFrame, nodes: DataFrame): DataFrame =
    contribs.union(nodes.select(col("i"), lit(0L).as("c")))
      .groupBy(col("i")).agg(sum(col("c")).as("sc"))

  /** The 5-round damped rank fixed point in ppm: every node starts at
    * 1e6, each round sends `contribs(ranks)` (i, c) and sets
    * `r = 150000 + (85 * sc) div 100`. Integer floor divisions and
    * order-independent integer sums, so the result is bit-exact across
    * engines with NO rounding contract. Output (doc_id, rank_ppm).
    */
  private def dampedRanks(nodes: DataFrame)(contribs: DataFrame => DataFrame): DataFrame = {
    var ranks = nodes.select(col("i"), lit(1000000L).as("r"))
    for (_ <- 1 to 5) {
      ranks = rankSums(contribs(ranks), nodes)
        .select(col("i"), expr("CAST(150000 + (85 * sc) div 100 AS BIGINT)").as("r"))
    }
    ranks.select(col("i").as("doc_id"), col("r").as("rank_ppm"))
  }

  /** Personalized-PageRank store — the [[pagerankFrame]] lifecycle for
    * the seed-biased walk (`crawl_ppr`): topic-focused crawl scores
    * are likewise a per-corpus-drop artifact (seed-set proximity feeds
    * frontier priority and "more like this" growth), so the 4-round
    * fixed point builds once per corpus version and serving scans.
    */
  private def pprFrame(s: SparkSession, dir: String): DataFrame =
    Stores.frame(s, "ppr", dir, "documents") {
      pprBuildFrame(s, dir)
    }

  private[graft] def pprBuildFrame(s: SparkSession, dir: String): DataFrame = {
    val nodes = rankNodes(s, dir)
    val nFrame = nodes.agg(count(lit(1)).as("nn"),
      sum(when(col("i") % 50 === 0, lit(1L)).otherwise(lit(0L))).as("ns"))
    val seed = col("i") % 50 === 0
    var ranks = nodes.select(col("i"),
      when(seed, lit(1000000L)).otherwise(lit(0L)).as("r"))
    for (_ <- 1 to 4) {
      val contribs = ranks.crossJoin(broadcast(nFrame))
        .select(explode(derivedOutLinks).as("i"), expr("r div 3").as("c"))
      ranks = rankSums(contribs, nodes)
        .crossJoin(broadcast(nFrame))
        .select(col("i"),
          (when(seed, expr("(150000 * nn) div ns")).otherwise(lit(0L)) +
            expr("(85 * sc) div 100")).cast("long").as("r"))
    }
    ranks.select(col("i").as("doc_id"), col("r").as("ppr_ppm"),
      seed.cast("int").as("is_seed"))
  }

  /** Rank store over the MATERIALIZED hub-skewed edge table — the
    * [[pagerankFrame]] lifecycle for `crawl_pagerank_edges` (the
    * production twin whose per-iteration plan JOINS stored edges):
    * same 5-round fixed-point ppm recipe, built once per corpus
    * version on top of [[crawlEdgeTable]]'s own store.
    */
  private def pagerankEdgesFrame(s: SparkSession, dir: String): DataFrame =
    Stores.frame(s, "pagerank-edges", dir, "documents") {
      pagerankEdgesBuildFrame(s, dir)
    }

  private[graft] def pagerankEdgesBuildFrame(s: SparkSession, dir: String): DataFrame = {
    val edges = crawlEdgeTable(s, dir)
    dampedRanks(rankNodes(s, dir))(ranks => ranks.join(edges, ranks("i") === edges("src"))
      .select(col("dst").as("i"), expr("r div 3").as("c")))
  }

  /** [[derivedOutLinks]] as a DuckDB list body over `i` and the node count `c`. */
  private[queries] def derivedLinksSql: String = "(i*31+7)%c, (i*17+3)%c, (i*13+11)%c"

  /** DuckDB replay of [[dampedRanks]] over the out-link list `links`
    * (a DuckDB list over `i` and the node count `c`): the CTEs docs, nn,
    * e, r0 .. r5, then `sep`. The 5 iterations are unrolled in the SAME
    * fixed-point integer arithmetic as the Spark loop (floor divisions,
    * ppm scale); integer sums are order-independent, so the compare is
    * bit-exact with no rounding contract.
    */
  private[queries] def dampedRanksSql(links: String, sep: String): String = {
    def iter(prev: String, cur: String): String =
      s"$cur AS (SELECT d.i, CAST(150000 + (85 * COALESCE(SUM(x.c2), 0)) // 100 AS BIGINT) r " +
      s"FROM docs d LEFT JOIN (SELECT e.t, $prev.r // 3 c2 FROM e JOIN $prev ON e.i = $prev.i) x " +
      "ON x.t = d.i GROUP BY d.i)"
    "WITH docs AS (SELECT doc_id i FROM documents), " +
    "nn AS (SELECT COUNT(*) c FROM docs), " +
    s"e AS (SELECT i, unnest([$links]) t FROM docs, nn), " +
    "r0 AS (SELECT i, CAST(1000000 AS BIGINT) r FROM docs), " +
    (1 to 5).map(k => iter(s"r${k - 1}", s"r$k")).mkString("", ", ", sep)
  }

  /** DuckDB replay of the linked-WARC fixture's planted links: CTE `lk`
    * (doc_id, link_idx, source host shard sh, target shard t, target page
    * p), one row per planted link.
    */
  private def linkRowsSql: String =
    "lk AS (SELECT doc_id, j AS link_idx, doc_id % 97 AS sh, " +
    "(doc_id*31 + j*17 + 7) % 97 AS t, (doc_id*13 + j*11 + 3) % 50 AS p " +
    "FROM documents, LATERAL (SELECT unnest(generate_series(0, CAST(doc_id % 4 AS BIGINT))) j))"

  /** The resolved target URL of an `lk` row: the five planted href forms
    * (absolute, protocol-relative, root-relative, relative, query-string)
    * after resolution and canonicalisation.
    */
  private def linkDstUrlSql: String =
    "CASE CAST((doc_id + link_idx) % 5 AS INT) " +
    "WHEN 0 THEN 'https://w' || t || '.example.org/d' || (p % 5) || '/p' || p || '.html' " +
    "WHEN 1 THEN 'https://w' || t || '.example.org/d' || (p % 5) || '/p' || p || '.html' " +
    "WHEN 2 THEN 'https://w' || sh || '.example.org/d' || (p % 5) || '/p' || p || '.html' " +
    "WHEN 3 THEN 'https://w' || sh || '.example.org/d' || (doc_id % 5) || '/p' || p || '.html' " +
    "ELSE 'https://w' || sh || '.example.org/d' || (p % 5) || '/p' || p || '.html?s=1&t=' || link_idx " +
    "END"

  val entries: Seq[NamedQuery] = Seq(

    // Multi-source BFS layers over the materialized link graph — the
    // frontier-expansion primitive behind crawl scheduling ("how far
    // is the unseen web from our seed list"), reachability audits, and
    // graph-distance features: hop distance (0..4) from the seed set
    // (doc_id % 50 == 0, the PPR seed convention) over the SAME
    // hub-skewed edge store crawl_pagerank_edges serves. Served by
    // [[graft.operators.Clustering.bfsLayers]] — frontier-delta
    // expansion (round r joins ONLY layer r-1 against the edges,
    // anti-joins the visited set; a node can never be discovered
    // twice, so this is exact BFS) with the deep-graph lineage
    // discipline documented there (per-round RDD-backed frontier
    // leaves, eager checkpoint + emptiness probe every 8 rounds) and
    // the connectedComponents ADAPTIVE strategy: a bounded
    // limit(n+1) probe routes graphs under
    // spark.graft.cc.localEdgeLimit to driver BFS (at bench SFs the
    // probe rows ARE this synthetic edge table — 8 distributed
    // rounds would cost ~16 exchanges to rediscover what one bounded
    // collect already holds); 4 rounds bounded by the ROUND-CAP
    // CONTRACT (nodes farther than 4 hops are intentionally absent —
    // "within k hops" IS the query). Output per layer: node count +
    // id checksum, all integers.
    NamedQuery("crawl_bfs_layers", (s, dir) => {
      val edges = crawlEdgeTable(s, dir)
      val seeds = Tables.documents(s, dir).select(col("doc_id").as("v"))
        .filter(col("v") % 50 === 0)
      graft.operators.Clustering.bfsLayers(s, edges, seeds, maxRounds = 4)
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("v")).as("node_checksum"))
        .select(col("d").as("layer"), col("n_nodes"), col("node_checksum"))
        // <= 5 layer rows: in-partition sort after a shuffle-free
        // coalesce beats a range exchange (the q38 output trick)
        .coalesce(1).sortWithinPartitions(col("layer"))
    },
      // the crawlEdgeTable arithmetic replayed ((i*31+7)%n, i%hubs,
      // (i*13+11)%n), four unrolled frontier levels; min layer per
      // node resolves multi-path rediscovery identically to the
      // engine's min-distance aggregate
      "WITH bfn AS (SELECT COUNT(*) n FROM documents), " +
      "bfe AS MATERIALIZED (SELECT doc_id src, unnest([" +
      "(doc_id*31+7) % (SELECT n FROM bfn), " +
      "doc_id % least(16, (SELECT n FROM bfn)), " +
      "(doc_id*13+11) % (SELECT n FROM bfn)]) dst FROM documents), " +
      "l0 AS (SELECT doc_id v FROM documents WHERE doc_id % 50 = 0), " +
      "l1 AS MATERIALIZED (SELECT DISTINCT e.dst v FROM bfe e JOIN l0 ON e.src = l0.v), " +
      "l2 AS MATERIALIZED (SELECT DISTINCT e.dst v FROM bfe e JOIN l1 ON e.src = l1.v), " +
      "l3 AS MATERIALIZED (SELECT DISTINCT e.dst v FROM bfe e JOIN l2 ON e.src = l2.v), " +
      "l4 AS (SELECT DISTINCT e.dst v FROM bfe e JOIN l3 ON e.src = l3.v), " +
      "lv AS (SELECT v, 0 d FROM l0 UNION ALL SELECT v, 1 FROM l1 " +
      "UNION ALL SELECT v, 2 FROM l2 UNION ALL SELECT v, 3 FROM l3 " +
      "UNION ALL SELECT v, 4 FROM l4), " +
      "md AS (SELECT v, MIN(d) d FROM lv GROUP BY v) " +
      "SELECT CAST(d AS BIGINT) AS layer, COUNT(*) AS n_nodes, " +
      "CAST(SUM(v) AS BIGINT) AS node_checksum " +
      "FROM md GROUP BY d ORDER BY layer"),

    NamedQuery("warc_ingest", (s, dir) => {
      import s.implicits._
      // fanDocs spreads the gzip/WARC/HTTP/html/MD5 kernel across cores
      fanDocs(s, dir, Tables.documents(s, dir)
        .select(col("doc_id"), col("text")))
        .as[(Long, String)]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.map { case (id, text) =>
            val payload = graft.operators.Warc.syntheticWarcContainer(id, text)
            val recs = graft.operators.Warc.decodeWarc(payload)
            // DELIBERATELY stricter than the production ingest: this
            // oracled query runs over a synthetic corpus where every
            // container is well-formed by construction, so a parse
            // failure is an ENGINE bug and must fail loudly. The
            // batch/stream ingest analog (sources.WarcIngest)
            // quarantines instead — real crawls carry torn segments
            // that must never fail the job. Do not "fix" either side
            // toward the other.
            require(recs.nonEmpty, s"doc $id: synthetic WARC failed to decode")
            val https = recs.map(r =>
              graft.operators.Warc.parseHttpResponse(r.body).getOrElse(
                sys.error(s"doc $id: embedded HTTP response failed to parse")))
            val extracted = https.map(h =>
              graft.functions.TextExpressions.htmlToTextString(
                new String(h.entity, java.nio.charset.StandardCharsets.UTF_8)))
              .mkString(" ")
            val hash = md.digest(extracted.getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
              .map(b => f"$b%02x").mkString
            (id, recs.length.toLong, https.count(_.status == 200).toLong,
              https.head.status,
              https.map(_.entity.length.toLong).sum, hash)
          }
        }
        .toDF("doc_id", "n_records", "n_ok", "first_status", "entity_bytes",
          "extract_hash")
        .orderBy(col("doc_id"))
    },
      // replays syntheticWarcContainer's construction arithmetic AND
      // derives the expected html_to_text extraction from the raw text;
      // the Spark side reports what the real gunzip -> WARC -> HTTP ->
      // extraction chain read back, so equality means every layer
      // inverted its encode exactly
      "WITH d AS (SELECT doc_id, text, CAST(octet_length(encode(text)) AS BIGINT) nb FROM documents), " +
      "r AS (SELECT doc_id, text, nb, unnest(generate_series(0, CAST(nb % 3 AS INT))) j FROM d), " +
      "e AS (SELECT doc_id, j, " +
      "CASE WHEN (doc_id + j) % 7 = 3 THEN '<html><body><p>404 Not Found</p></body></html>' " +
      "ELSE '<html><head><title>Doc ' || doc_id || ' Rec ' || j || " +
      "'</title><script>var x = 1 < 2 && \"a\";</script><style>p { color: red; }</style></head><body><h1>Doc ' " +
      "|| doc_id || ' Rec ' || j || '</h1><p>' || " +
      "replace(replace(replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '\"', '&quot;'), '''', '&#39;') " +
      "|| '</p><!-- hidden --></body></html>' END AS entity, " +
      "CASE WHEN (doc_id + j) % 7 = 3 THEN 404 ELSE 200 END AS status, " +
      "CASE WHEN (doc_id + j) % 7 = 3 THEN '404 Not Found' " +
      "ELSE trim('Doc ' || doc_id || ' Rec ' || j || ' Doc ' || doc_id || ' Rec ' || j || ' ' || " +
      "trim(regexp_replace(text, '\\s+', ' ', 'g'))) END AS extract FROM r) " +
      "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_records, " +
      "CAST(SUM(CASE WHEN status = 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok, " +
      "CAST(MIN(CASE WHEN j = 0 THEN status END) AS INT) AS first_status, " +
      "CAST(SUM(octet_length(encode(entity))) AS BIGINT) AS entity_bytes, " +
      "md5(string_agg(extract, ' ' ORDER BY j)) AS extract_hash " +
      "FROM e GROUP BY doc_id ORDER BY doc_id"),

    // Per-domain crawl caps — the C4/CCNet-style domain-budget stage: a
    // crawl is never allowed to let one hot host dominate the corpus,
    // so docs are ranked within their host by a deterministic
    // engine-portable hash and only the first K survive. URLs are
    // derived from doc metadata (the arithmetic the oracle replays) and
    // the host comes back through parse_url — Spark's codegen'd URL
    // parser, exercised against the oracle's string arithmetic. One
    // hash exchange on host (the window partition); hosts are many and
    // bounded here, and the production answer for a pathological
    // mega-host is the hash-coin keep rate of sample_mixture (no rank
    // needed), so the exact window stays the right tool for the report.
    // URL canonicalization + frontier dedup — upstream of every
    // per-domain policy: the same resource arrives case-shuffled, with
    // explicit default ports, fragments, utm params, shuffled query
    // order, and trailing slashes. Each group of 4 docs (doc_id div 4)
    // gets the SAME logical resource dressed in doc-dependent mess;
    // UrlOps.canonicalizeUrl (pure codegen'd string expressions,
    // map-side) must collapse every group to one canonical key. The
    // only exchange is the groupBy on that key — the frontier-dedup
    // plan shape at 100 TB. The oracle replays the mess construction
    // AND an independent SQL formulation of the canonicalization
    // rules, so a rule bug in either engine breaks the hash.
    NamedQuery("crawl_url_canon", (s, dir) => {
      val g = expr("doc_id div 4")
      val hostBase = concat(lit("w"), (g % 97).cast("string"), lit(".example.org"))
      val url = concat(
        when(col("doc_id") % 3 === 0, lit("HTTPS")).otherwise(lit("https")),
        lit("://"),
        when(col("doc_id") % 2 === 1, upper(hostBase)).otherwise(hostBase),
        when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit("")),
        // percent-encoded UNRESERVED char in the path: %70 = 'p', so
        // these members only collapse with their group if the §6.2.2.2
        // safe-subset decode runs
        when(col("doc_id") % 11 === 0, lit("/%70/")).otherwise(lit("/p/")),
        g.cast("string"),
        when(col("doc_id") % 7 === 0, lit("/")).otherwise(lit("")),
        lit("?"),
        when(col("doc_id") % 3 === 1, lit("utm_source=feed&a=1&b=2"))
          .otherwise(when(col("doc_id") % 2 === 0, lit("b=2&a=1"))
            .otherwise(lit("a=1&b=2"))),
        // RESERVED escape (%2f = '/') in a param value: must stay
        // ENCODED (decoding a reserved char changes the URL) but the
        // hex case must normalize — members split on %2f vs %2F until
        // the uppercase-hex rule collapses them
        when(col("doc_id") % 2 === 0, lit("&c=x%2fy")).otherwise(lit("&c=x%2Fy")),
        when(col("doc_id") % 4 === 1,
          concat(lit("#s"), col("doc_id").cast("string"))).otherwise(lit("")))
      Tables.documents(s, dir)
        .select(col("doc_id"), url.as("raw_url"))
        .withColumn("canon_url", UrlOps.canonicalizeUrl(col("raw_url")))
        // n_messy is a map-side comparison, NOT count(distinct raw):
        // a distinct aggregate plans a second exchange keyed on
        // (canon, raw) — at frontier scale that doubles the shuffle
        // for a diagnostic column
        .groupBy(col("canon_url"))
        .agg(count(lit(1)).as("n_variants"),
          sum(when(col("raw_url") =!= col("canon_url"), 1L).otherwise(0L)).as("n_messy"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("canon_url"))
    },
      // mess construction replay + an independent SQL formulation of
      // the canonicalization rules (split_part/instr vs the engine's
      // substring_index, list_sort vs array_sort, instr-arithmetic hex
      // decode vs the engine's conv()); percent normalization runs
      // first, on the raw string, exactly like the engine
      "WITH u AS (SELECT doc_id, " +
      "(CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' || " +
      "(CASE WHEN doc_id % 2 = 1 THEN upper('w' || CAST((doc_id // 4) % 97 AS VARCHAR) || '.example.org') " +
      "ELSE 'w' || CAST((doc_id // 4) % 97 AS VARCHAR) || '.example.org' END) || " +
      "(CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) || " +
      "(CASE WHEN doc_id % 11 = 0 THEN '/%70/' ELSE '/p/' END) || CAST(doc_id // 4 AS VARCHAR) || " +
      "(CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END) || '?' || " +
      "(CASE WHEN doc_id % 3 = 1 THEN 'utm_source=feed&a=1&b=2' " +
      "WHEN doc_id % 2 = 0 THEN 'b=2&a=1' ELSE 'a=1&b=2' END) || " +
      "(CASE WHEN doc_id % 2 = 0 THEN '&c=x%2fy' ELSE '&c=x%2Fy' END) || " +
      "(CASE WHEN doc_id % 4 = 1 THEN '#s' || CAST(doc_id AS VARCHAR) ELSE '' END) AS raw_url " +
      "FROM documents), " +
      "pn AS (SELECT doc_id, raw_url, (string_split(raw_url, '%'))[1] || " +
      "array_to_string(list_transform(" +
      "list_transform((string_split(raw_url, '%'))[2:], p -> " +
      "{'p': p, 'ok': regexp_matches(substr(p, 1, 2), '^[0-9A-Fa-f]{2}$'), " +
      "'d': (instr('0123456789abcdef', lower(substr(p, 1, 1))) - 1) * 16 + " +
      "instr('0123456789abcdef', lower(substr(p, 2, 1))) - 1}), " +
      "s -> CASE WHEN NOT s.ok THEN '%' || s.p " +
      "WHEN s.d BETWEEN 65 AND 90 OR s.d BETWEEN 97 AND 122 " +
      "OR s.d BETWEEN 48 AND 57 OR s.d IN (45, 46, 95, 126) " +
      "THEN chr(CAST(s.d AS INTEGER)) || substr(s.p, 3) " +
      "ELSE '%' || upper(substr(s.p, 1, 2)) || substr(s.p, 3) END), '') AS n0 " +
      "FROM u), " +
      "nf AS (SELECT doc_id, raw_url, CASE WHEN instr(n0, '#') > 0 " +
      "THEN substr(n0, 1, instr(n0, '#') - 1) ELSE n0 END AS n FROM pn), " +
      "bq AS (SELECT doc_id, raw_url, " +
      "CASE WHEN instr(n, '?') > 0 THEN substr(n, 1, instr(n, '?') - 1) ELSE n END AS base, " +
      "CASE WHEN instr(n, '?') > 0 THEN substr(n, instr(n, '?') + 1) ELSE '' END AS q FROM nf), " +
      "hp AS (SELECT doc_id, raw_url, q, lower(split_part(base, '://', 1)) AS scheme, " +
      "split_part(split_part(base, '://', 2), '/', 1) AS hostport, " +
      "CASE WHEN instr(split_part(base, '://', 2), '/') > 0 " +
      "THEN substr(split_part(base, '://', 2), instr(split_part(base, '://', 2), '/')) ELSE '' END AS path0 " +
      "FROM bq), " +
      "cn AS (SELECT doc_id, raw_url, scheme || '://' || " +
      "(CASE WHEN scheme = 'http' THEN regexp_replace(lower(hostport), ':80$', '') " +
      "WHEN scheme = 'https' THEN regexp_replace(lower(hostport), ':443$', '') " +
      "ELSE lower(hostport) END) || " +
      "(CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/' " +
      "ELSE regexp_replace(path0, '/+$', '') END) || " +
      // starts_with, NOT LIKE 'utm_%': LIKE's '_' is a single-char
      // wildcard, so the LIKE form would also drop 'utmX=...' params
      // that the engine's startsWith keeps — a latent hash divergence
      "(CASE WHEN len(list_filter(string_split(q, '&'), p -> p <> '' AND NOT starts_with(p, 'utm_'))) > 0 " +
      "THEN '?' || array_to_string(list_sort(list_filter(string_split(q, '&'), " +
      "p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&') ELSE '' END) AS canon_url FROM hp) " +
      "SELECT canon_url, CAST(COUNT(*) AS BIGINT) AS n_variants, " +
      "CAST(SUM(CASE WHEN raw_url <> canon_url THEN 1 ELSE 0 END) AS BIGINT) AS n_messy, " +
      "MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc " +
      "FROM cn GROUP BY canon_url ORDER BY canon_url"),

    NamedQuery("crawl_domain_cap", (s, dir) => {
      val url = concat(lit("https://"), col("source"), lit(".example.org/"),
        col("lang"), lit("/doc-"), col("doc_id").cast("string"))
      val host = parse_url(url, lit("HOST"))
      val w = Window.partitionBy(col("host")).orderBy(col("h"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), host.as("host"),
          md5(col("doc_id").cast("string")).as("h"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rn") <= 20, 1L).otherwise(0L)).as("n_kept"),
          min(when(col("rn") <= 20, col("doc_id"))).as("first_kept"),
          max(when(col("rn") <= 20, col("doc_id"))).as("last_kept"))
        .orderBy(col("host"))
    },
      // the oracle derives the host by the same string arithmetic the
      // query feeds parse_url, so a parse_url host-extraction quirk
      // (port, userinfo, case) would surface as a hash mismatch
      "WITH u AS (SELECT doc_id, source || '.example.org' AS host, " +
      "md5(CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
      "r AS (SELECT doc_id, host, row_number() OVER (PARTITION BY host ORDER BY h, doc_id) rn FROM u) " +
      "SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
      "CAST(SUM(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
      "CAST(MIN(CASE WHEN rn <= 20 THEN doc_id END) AS BIGINT) AS first_kept, " +
      "CAST(MAX(CASE WHEN rn <= 20 THEN doc_id END) AS BIGINT) AS last_kept " +
      "FROM r GROUP BY host ORDER BY host"),

    // The WHOLE crawl-curation pipeline as ONE DataFrame chain — every
    // stage above is individually oracled; this query proves they
    // COMPOSE (gate order, column wiring, normalization parity):
    //   synthetic .warc.gz fetch -> real ingest (gunzip -> WARC walk ->
    //   HTTP split -> html_to_text) -> fetch gate (drop all-404 docs)
    //   -> boilerplate strip -> PII scrub -> verbatim 8-gram decon gate
    //   -> quality gate -> repetition gate -> exact dedup -> span dedup
    //   -> per-domain cap -> shard export stats.
    // Gate ORDER is load-bearing: the scrub must precede dedup (docs
    // differing only in PII must collapse — each doc's crawl copy gets
    // a doc-unique PII suffix that only scrubbing makes equal), and
    // decon must see scrubbed content (the gate a real pipeline runs on
    // curated text). Plan shape: everything through the gates is ONE
    // map-side stage — ingest, strip, and scrub inside the
    // mapPartitions (one pass per row; as DF columns the optimizer
    // inlined the content chain into every gate predicate), then the
    // decon/quality/repetition gates as DF predicates over the
    // materialized content column (the bench gram set rides in as a
    // broadcast-literal StringSet, streaming-gate style) — the FIRST
    // exchange is the exact-dedup aggregate, asserted in PlanAuditSpec.
    // Downstream
    // repeats of the dedup subtree (span df, join-back) collapse into
    // one execution via Spark's exchange reuse, so the expensive ingest
    // scan runs ONCE. The DuckDB oracle replays every stage: the
    // construction arithmetic for the WARC bytes and the SAME
    // regex/gram/window/hash pipeline on the replayed strings (same
    // work-asymmetry note as warc_ingest: Spark parses real bytes, the
    // oracle replays string arithmetic).
    NamedQuery("crawl_pipeline", (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      // Benchmark split = every 50th doc (the decon family's split).
      // Bench text is normalized EXPLICITLY (the crawl side's content
      // is html_to_text-normalized, so gram strings must come from the
      // same whitespace regime); eval sets are tiny by contract, so the
      // driver-side gram collect is the streaming-gate budget class.
      val benchNorm = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(trim(regexp_replace(col("text"), "\\s+", " ")).as("text"))
      val benchGrams = graft.operators.Decontamination.collectBenchGrams(benchNorm, 8)
      // Fetch + ingest: per doc, build the synthetic .warc.gz (the doc
      // text PLUS a doc-unique PII suffix — the crawl's dirty copy) and
      // run the REAL parser chain; keep the FIRST 200-status record's
      // extraction. Docs whose every record is a 404 yield n_ok = 0.
      val ingested = fanDocs(s, dir, docs
        .filter(pmod(col("doc_id"), lit(50)) =!= 0)
        .select(col("doc_id"), col("source"), col("lang"), col("text")))
        .as[(Long, String, String, String)]
        .mapPartitions { it =>
          // Boilerplate strip + PII scrub run HERE, once per row, on the
          // same java.util.regex engine and the same shared TextOps
          // patterns Spark's regexp_replace compiles to. As DF columns
          // the optimizer inlined the 4-regexp content chain into every
          // gate predicate of the (HOF-induced non-codegen) filter —
          // ~10 recomputations per row; materializing content at the
          // serialization boundary makes each gate read it once.
          val strip = java.util.regex.Pattern
            .compile("^Doc [0-9]+ Rec [0-9]+ Doc [0-9]+ Rec [0-9]+ ?")
          val email = java.util.regex.Pattern.compile(TextOps.EmailPattern)
          val ip = java.util.regex.Pattern.compile(TextOps.Ipv4Pattern)
          val phone = java.util.regex.Pattern.compile(TextOps.PhonePattern)
          it.map { case (id, source, lang, text) =>
            val raw = text + " contact user" + id + "@example.com phone +1-555-" +
              f"${id % 10000}%04d" + " host 10.0." + (id % 256) + ".7"
            val payload = graft.operators.Warc.syntheticWarcContainer(id, raw)
            val recs = graft.operators.Warc.decodeWarc(payload)
            require(recs.nonEmpty, s"doc $id: synthetic WARC failed to decode")
            val https = recs.map(r => graft.operators.Warc.parseHttpResponse(r.body)
              .getOrElse(sys.error(s"doc $id: embedded HTTP response failed to parse")))
            val extract = https.find(_.status == 200)
              .map(h => graft.functions.TextExpressions.htmlToTextString(
                new String(h.entity, java.nio.charset.StandardCharsets.UTF_8)))
              .getOrElse("")
            val content = phone.matcher(ip.matcher(email.matcher(
              strip.matcher(extract).replaceAll(""))
              .replaceAll("<EMAIL>")).replaceAll("<IP>")).replaceAll("<PHONE>")
            (id, source, lang, https.count(_.status == 200).toLong, content)
          }
        }
        .toDF("doc_id", "source", "lang", "n_ok", "content")
      val wsC = TextOps.tokens(col("content"))
      val top2 = round(graft.functions.TextExpressions.top_gram_frac(col("content"), 2), 6)
      val top3 = round(graft.functions.TextExpressions.top_gram_frac(col("content"), 3), 6)
      val dup5 = when(size(wsC) > 4,
          round(lit(1.0) - size(array_distinct(TextOps.shinglesOfText(col("content"), 5)))
            .cast("double") / (size(wsC) - lit(4)), 6))
        .otherwise(lit(0.0))
      val gated = graft.streaming.StreamingCorpusOps.deconGate(
          ingested.filter(col("n_ok") >= 1), // fetch gate
          benchGrams, 8, textCol = "content")
        .filter(size(wsC) >= 10 && size(wsC) <= 120 &&
          round(size(array_distinct(wsC)) / size(wsC), 6) >= 0.15) // quality
        .filter(top2 <= 0.2 && top3 <= 0.18 && dup5 <= 0.15) // repetition
        .select(col("doc_id"), col("source"), col("lang"), col("content"))
      // Exact dedup — the chain's FIRST exchange; min_by keeps the
      // lowest-id survivor's whole row in the same aggregate.
      val deduped = gated
        .groupBy(md5(col("content")).as("content_hash"))
        .agg(min_by(struct(gated.columns.toIndexedSeq.map(col): _*), col("doc_id")).as("r"))
        .select(col("r.*"))
      // Span dedup over the survivors (dedup_span_exact's shape: 8-byte
      // xxhash64 chunk keys, df >= 2, drop docs with dup_frac >= 0.5).
      def spans(c: Column) = graft.functions.TextExpressions.word_chunks(c, 32, 32)
      val ch = deduped.select(col("doc_id"), explode(spans(col("content"))).as("chunk"))
        .select(col("doc_id"), xxhash64(col("chunk")).as("h"))
      val cdf = ch.groupBy(col("h")).agg(count_distinct(col("doc_id")).as("df"))
      val shared = ch.join(cdf.filter(col("df") >= 2), Seq("h"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_spans"))
      val spanKept = deduped
        .withColumn("n_spans", size(spans(col("content"))).cast("long"))
        .join(shared, Seq("doc_id"), "left")
        .filter(round(coalesce(col("n_dup_spans"), lit(0L)) / col("n_spans"), 6) < 0.5)
      // Per-domain cap (crawl_domain_cap's rank) on the survivors.
      val url = concat(lit("https://"), col("source"), lit(".example.org/"),
        col("lang"), lit("/doc-"), col("doc_id").cast("string"))
      val wHost = Window.partitionBy(col("host")).orderBy(col("hh"), col("doc_id"))
      val capped = spanKept
        .withColumn("host", parse_url(url, lit("HOST")))
        .withColumn("hh", md5(col("doc_id").cast("string")))
        .withColumn("rn", row_number().over(wHost))
        .filter(col("rn") <= 20)
      // Shard export stats — the pipeline's terminal report.
      shardStats(capped, "content")
    },
      // full-pipeline replay: WARC construction arithmetic (the
      // warc_ingest regime) for fetch + extraction, then the SAME
      // strip/scrub regexes, gram join (decon), quality/repetition
      // formulas, md5 dedup window, chunk-df span dedup, domain-cap
      // rank, and shard arithmetic as the stage oracles above — so a
      // composition bug in EITHER engine breaks the hash
      "WITH bench AS (SELECT trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t " +
      "FROM documents WHERE doc_id % 50 = 0), " +
      "bg AS (SELECT DISTINCT array_to_string(ws[i : i+7], ' ') AS g " +
      "FROM (SELECT string_split(t, ' ') ws FROM bench), " +
      "LATERAL (SELECT unnest(generate_series(1, len(ws) - 7)) i)), " +
      "d AS (SELECT doc_id, source, lang, " +
      "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com phone +1-555-' || " +
      "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' host 10.0.' || " +
      "CAST(doc_id % 256 AS VARCHAR) || '.7' AS raw " +
      "FROM documents WHERE doc_id % 50 <> 0), " +
      "m AS (SELECT *, CAST(octet_length(encode(raw)) AS BIGINT) nb FROM d), " +
      "rec AS (SELECT doc_id, unnest(generate_series(0, CAST(nb % 3 AS INT))) j FROM m), " +
      "ok AS (SELECT doc_id, MIN(j) j0 FROM rec WHERE (doc_id + j) % 7 <> 3 GROUP BY doc_id), " +
      "ex AS (SELECT m.doc_id, m.source, m.lang, " +
      "trim('Doc ' || m.doc_id || ' Rec ' || j0 || ' Doc ' || m.doc_id || ' Rec ' || j0 || ' ' || " +
      "trim(regexp_replace(raw, '\\s+', ' ', 'g'))) AS extract FROM m JOIN ok USING (doc_id)), " +
      "strip AS (SELECT doc_id, source, lang, " +
      "regexp_replace(extract, '^Doc [0-9]+ Rec [0-9]+ Doc [0-9]+ Rec [0-9]+ ?', '') AS content_raw FROM ex), " +
      "scrub AS (SELECT doc_id, source, lang, " +
      "regexp_replace(regexp_replace(regexp_replace(content_raw, " +
      "'(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'), " +
      "'\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'), " +
      "'\\+1-555-[0-9]{4}', '<PHONE>', 'g') AS content FROM strip), " +
      "cg AS (SELECT doc_id, array_to_string(ws[i : i+7], ' ') g " +
      "FROM (SELECT doc_id, string_split(content, ' ') ws FROM scrub), " +
      "LATERAL (SELECT unnest(generate_series(1, len(ws) - 7)) i)), " +
      "hit AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (g)), " +
      "decon AS (SELECT * FROM scrub WHERE doc_id NOT IN (SELECT doc_id FROM hit)), " +
      "q AS (SELECT *, string_split(content, ' ') ws FROM decon), " +
      "q1 AS (SELECT * FROM q WHERE len(ws) BETWEEN 10 AND 120 " +
      "AND round(len(list_distinct(ws)) / len(ws), 6) >= 0.15), " +
      "g2 AS (SELECT doc_id, max(c)*1.0/sum(c) f FROM (SELECT doc_id, g, count(*) c FROM " +
      "(SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1])) g FROM q1) " +
      "GROUP BY doc_id, g) GROUP BY doc_id), " +
      "g3 AS (SELECT doc_id, max(c)*1.0/sum(c) f FROM (SELECT doc_id, g, count(*) c FROM " +
      "(SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) g FROM q1) " +
      "GROUP BY doc_id, g) GROUP BY doc_id), " +
      "g5 AS (SELECT doc_id, CASE WHEN len(ws) > 4 THEN 1.0 - len(list_distinct(" +
      "list_transform(generate_series(1, len(ws)-4), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])" +
      "))*1.0/(len(ws)-4) ELSE 0.0 END f FROM q1), " +
      "rep AS (SELECT q1.* FROM q1 " +
      "LEFT JOIN g2 USING (doc_id) LEFT JOIN g3 USING (doc_id) LEFT JOIN g5 USING (doc_id) " +
      "WHERE round(coalesce(g2.f, 0), 6) <= 0.2 AND round(coalesce(g3.f, 0), 6) <= 0.18 " +
      "AND round(coalesce(g5.f, 0), 6) <= 0.15), " +
      "ded AS (SELECT * FROM rep QUALIFY row_number() OVER (PARTITION BY md5(content) ORDER BY doc_id) = 1), " +
      "n AS (SELECT doc_id, ws, CASE WHEN len(ws) <= 32 THEN 1 " +
      "ELSE CAST(ceil((len(ws) - 32) / 32.0) AS BIGINT) + 1 END nch FROM ded), " +
      "c AS (SELECT doc_id, array_to_string(ws[(i-1)*32+1 : least((i-1)*32+32, len(ws))], ' ') chunk " +
      "FROM n, LATERAL (SELECT unnest(generate_series(1, nch)) i)), " +
      "cdf AS (SELECT chunk, COUNT(DISTINCT doc_id) ddf FROM c GROUP BY chunk), " +
      "sh AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) nd FROM c JOIN cdf USING (chunk) " +
      "WHERE ddf >= 2 GROUP BY doc_id), " +
      "spankept AS (SELECT ded.* FROM ded JOIN n USING (doc_id) LEFT JOIN sh USING (doc_id) " +
      "WHERE round(COALESCE(nd, 0) / nch, 6) < 0.5), " +
      "u AS (SELECT *, source || '.example.org' AS host, md5(CAST(doc_id AS VARCHAR)) hh FROM spankept), " +
      "cap AS (SELECT * FROM u QUALIFY row_number() OVER (PARTITION BY host ORDER BY hh, doc_id) <= 20), " +
      "fin AS (SELECT doc_id, " +
      "CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 16 AS INT) shard, " +
      "CAST('0x' || substr(md5('ord|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) rk, " +
      "CAST(list_sum(list_transform(string_split(content, ' '), w -> CAST(ceil(length(w)/4.0) AS BIGINT))) AS BIGINT) tokens " +
      "FROM cap) " +
      "SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS shard_tokens, " +
      "CAST(SUM(rk) AS BIGINT) AS rank_checksum, CAST(MIN(doc_id) AS BIGINT) AS min_doc, " +
      "CAST(MAX(doc_id) AS BIGINT) AS max_doc " +
      "FROM fin GROUP BY shard ORDER BY shard"),

    // PageRank over the crawl link graph — THE iterative-graph workload
    // of web-corpus curation (rank-weighted sampling, spam demotion,
    // seed scoring). Edges are derived arithmetically from doc_id
    // (three out-links per node, self-loops allowed, so out-degree is
    // exactly 3 and there are no dangling nodes to special-case);
    // 5 damped iterations in FIXED-POINT integer arithmetic (rank in
    // parts-per-million of the uniform mass, r' = 0.15e6 + 85% of the
    // summed integer contributions, all floor divisions) — integer
    // sums are order-independent, so the result is bit-exact across
    // engines and runs with NO rounding contract at all, the pinned-
    // arithmetic recipe of the sketch family applied to graph
    // iteration. Per iteration the plan is: map-side explode of the
    // derived out-links + a zero row per node (keeps rankless nodes
    // total) -> ONE hash exchange on the target id. At 100 TB the
    // loop is the same five exchanges over a persisted edge frame —
    // the canonical bulk-synchronous shape; AQE handles the skewed
    // high-in-degree hubs.
    // The fixed point runs in [[pagerankBuildFrame]], once per corpus
    // version ([[pagerankFrame]] store); serving is a store scan + sort.
    // PlanAuditSpec pins the no-iteration plan.
    NamedQuery("crawl_pagerank", (s, dir) =>
      pagerankFrame(s, dir).orderBy(col("doc_id")),
      dampedRanksSql(derivedLinksSql, " ") +
      "SELECT i AS doc_id, r AS rank_ppm FROM r5 ORDER BY doc_id"),

    // Host-graph coarsening — the first aggregation every web-graph
    // analysis runs (page-level graphs are too fine for policy:
    // crawl budgets, spam propagation and politeness all act on
    // HOSTS): collapse the page edge table to (src_host, dst_host,
    // weight) with host = doc_id div 50 (the same 50-page site
    // grouping the decon bench split uses). ONE hash aggregate on the
    // host pair — at 100 TB the canonical coarsening exchange, orders
    // of magnitude smaller than the page graph it summarizes — and a
    // top-20 TakeOrderedAndProject. Integer-only.
    NamedQuery("crawl_host_graph", (s, dir) =>
      crawlEdgeTable(s, dir)
        .select(expr("src div 50").as("src_host"), expr("dst div 50").as("dst_host"))
        .groupBy(col("src_host"), col("dst_host")).agg(count(lit(1)).as("weight"))
        .orderBy(col("weight").desc, col("src_host"), col("dst_host"))
        .limit(20),
      // the edge replay grouped on // 50 host keys
      "WITH docs AS (SELECT doc_id i FROM documents), " +
      "nn AS (SELECT COUNT(*) c FROM docs), " +
      "e AS (SELECT i, unnest([(i*31+7)%c, i%LEAST(16, c), (i*13+11)%c]) t FROM docs, nn) " +
      "SELECT i // 50 AS src_host, t // 50 AS dst_host, COUNT(*) AS weight " +
      "FROM e GROUP BY 1, 2 ORDER BY weight DESC, src_host, dst_host LIMIT 20"),

    // REAL link-graph construction — the chain every webgraph (and
    // every crawl frontier) is actually built from: WARC container
    // bytes -> gunzip + record walk -> embedded HTTP response parse ->
    // native `extract_links` over the HTML (comment/script-aware, so
    // the planted decoys — an href-looking string inside script code
    // and a commented-out anchor — must NOT become edges) -> RFC 3986
    // `resolve_url` of each href against the record's WARC-Target-URI.
    // The fixture plants `doc_id % 4 + 1` outlinks per page covering
    // every reference shape (absolute, scheme-relative, root-relative,
    // same-dir relative, dot-segment + entity-encoded query); the
    // oracle replays the CONSTRUCTION + resolution arithmetic (the
    // warc_ingest work-asymmetry regime — Spark parses real bytes, the
    // oracle replays formulas), so a scanner or resolver bug breaks
    // the hash. Plan: decode + extraction + resolution are pure
    // map-side (mapPartitions codec + codegen'd expressions); the only
    // exchange is the output sort — the 100 TB shape, where the edge
    // table feeds partitioned graph ops without ever collecting.
    NamedQuery("crawl_link_graph", (s, dir) =>
      // project the edge columns: the store also carries each link's
      // anchor text for crawl_anchor_text
      linkEdgeFrame(s, dir)
        .select(col("doc_id"), col("link_idx"), col("src_url"), col("dst_url"))
        .orderBy(col("doc_id"), col("link_idx")),
      // construction + RFC 3986 resolution replay (the warc_ingest
      // work-asymmetry regime: Spark walks real WARC/HTTP/HTML bytes,
      // the oracle replays the planted-link formulas — per reference
      // shape, the resolved URL is pure string arithmetic)
      s"WITH $linkRowsSql " +
      "SELECT doc_id, CAST(link_idx AS BIGINT) AS link_idx, " +
      "'https://w' || sh || '.example.org/d' || (doc_id % 5) || '/p' || doc_id || '.html' AS src_url, " +
      s"$linkDstUrlSql AS dst_url FROM lk ORDER BY doc_id, link_idx"),

    // Anchor-TEXT rollup per crawl target — the classic web-search
    // relevance field (anchor text describes the TARGET page, not the
    // source — Google's original ranking insight) and the curation
    // signal behind link-text quality filters: for every (resolved
    // target URL, anchor term), how many in-links carry that term and
    // from how many DISTINCT referring hosts (the same spam-resistance
    // convention as crawl_frontier). Anchor text comes from the native
    // one-pass `extract_anchors` (nested tags stripped, entities
    // decoded, whitespace collapsed — the planted anchors exercise all
    // three), already materialized in the link-edge store, so this is
    // ONE aggregate exchange on the (url, term) key plus the top-50
    // cut; the oracle replays the planted-anchor string arithmetic
    // (the crawl_link_graph work-asymmetry regime).
    NamedQuery("crawl_anchor_text", (s, dir) =>
      linkEdgeFrame(s, dir)
        .select(col("dst_url"),
          expr("parse_url(src_url, 'HOST')").as("src_host"),
          explode(TextOps.tokens(col("anchor"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("dst_url"), col("term"))
        .agg(count(lit(1)).as("n_refs"),
          count_distinct(col("src_host")).as("n_src_hosts"))
        .orderBy(col("n_refs").desc, col("dst_url"), col("term"))
        .limit(50),
      // the link replay joined with the planted ANCHOR-TEXT formula —
      // Spark strips the nested <b>, decodes &amp; and collapses the
      // planted newline; the oracle unnests the six terms that
      // normalization must produce
      s"WITH $linkRowsSql, " +
      "e AS (SELECT 'w' || sh || '.example.org' AS src_host, " +
      s"$linkDstUrlSql AS dst_url, term FROM lk, " +
      "LATERAL (SELECT unnest(['see', 'page', CAST(p AS VARCHAR), '&', 'site', 'w' || t]) term)) " +
      "SELECT dst_url, term, CAST(COUNT(*) AS BIGINT) AS n_refs, " +
      "CAST(COUNT(DISTINCT src_host) AS BIGINT) AS n_src_hosts FROM e " +
      "GROUP BY 1, 2 ORDER BY n_refs DESC, dst_url, term LIMIT 50"),

    // The extracted edges feeding the HOST-graph rollup — the
    // crawl_host_graph variant over REAL extracted-and-resolved URLs
    // instead of the synthetic id-arithmetic edge table: hosts come
    // back through parse_url (Spark's codegen'd URL parser) against
    // the oracle's string replay. One aggregate exchange on the host
    // pair; top-20 by weight.
    NamedQuery("crawl_link_host_graph", (s, dir) =>
      linkEdgeFrame(s, dir)
        .select(expr("parse_url(src_url, 'HOST')").as("src_host"),
          expr("parse_url(dst_url, 'HOST')").as("dst_host"))
        .groupBy(col("src_host"), col("dst_host")).agg(count(lit(1)).as("weight"))
        .orderBy(col("weight").desc, col("src_host"), col("dst_host"))
        .limit(20),
      // the same replay rolled up on the host pair
      s"WITH $linkRowsSql, " +
      "e AS (SELECT 'w' || sh || '.example.org' AS src_host, " +
      "CASE WHEN CAST((doc_id + link_idx) % 5 AS INT) IN (0, 1) " +
      "THEN 'w' || t || '.example.org' ELSE 'w' || sh || '.example.org' END AS dst_host FROM lk) " +
      "SELECT src_host, dst_host, CAST(COUNT(*) AS BIGINT) AS weight FROM e " +
      "GROUP BY 1, 2 ORDER BY weight DESC, src_host, dst_host LIMIT 20"),

    // The crawl FRONTIER priority list — what the scheduler actually
    // consumes: every distinct discovered URL with its in-link count
    // and the number of DISTINCT referring hosts (the spam-resistant
    // priority signal — 40 links from one host rank below 3 hosts'
    // worth). One aggregate exchange on the URL key over the edge
    // store, top-100 cut; at 100 TB this is the frontier-update
    // rollup every crawl cycle runs.
    NamedQuery("crawl_frontier", (s, dir) =>
      linkEdgeFrame(s, dir)
        .select(col("dst_url"), expr("parse_url(src_url, 'HOST')").as("sh"))
        .groupBy(col("dst_url"))
        .agg(count(lit(1)).as("n_refs"),
          count_distinct(col("sh")).as("n_src_hosts"))
        .orderBy(col("n_refs").desc, col("dst_url"))
        .limit(100),
      // the link replay grouped on the resolved URL
      s"WITH $linkRowsSql, " +
      "e AS (SELECT 'w' || sh || '.example.org' AS src_host, " +
      s"$linkDstUrlSql AS dst_url FROM lk) " +
      "SELECT dst_url, CAST(COUNT(*) AS BIGINT) AS n_refs, " +
      "CAST(COUNT(DISTINCT src_host) AS BIGINT) AS n_src_hosts " +
      "FROM e GROUP BY dst_url ORDER BY n_refs DESC, dst_url LIMIT 100"),

    // Politeness gate over the REAL frontier — RFC 9309 robots.txt
    // (operators/Robots: spec-built parser + longest-match wildcard
    // matcher) applied to every extracted-and-resolved link with the
    // DESTINATION host's synthetic robots file: per-host directory
    // disallows with a longer allow exception, a *-wildcard query
    // rule on every 7th host, a deny-all group for a DIFFERENT agent
    // the gate must ignore, comments and an empty Disallow. Spark
    // parses and matches real robots text per edge (per-host rules
    // memoized within the partition — the enrichment-cache pattern);
    // the oracle replays the DECISION formula the construction
    // implies, so a parser or precedence bug breaks the hash. Plan:
    // map-side decisions + one host-keyed aggregate — the shape of a
    // frontier filter at 100 TB.
    NamedQuery("crawl_robots_gate", (s, dir) => {
      import s.implicits._
      linkEdgeFrame(s, dir)
        .select(col("dst_url")).as[String]
        .mapPartitions { it =>
          // per-URL verdict + per-host rule memo shared verbatim with
          // the streaming frontier scheduler gate (Robots.syntheticVerdict)
          val cache = scala.collection.mutable.HashMap
            .empty[String, Seq[graft.operators.Robots.Rule]]
          it.map { url =>
            val (host, ok) = graft.operators.Robots.syntheticVerdict(url, cache)
            (host, if (ok) 1L else 0L)
          }
        }
        .toDF("host", "ok")
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_links"), sum(col("ok")).as("n_allowed"),
          (count(lit(1)) - sum(col("ok"))).as("n_blocked"))
        .orderBy(col("host"))
    },
      // decision-formula replay: the synthetic robots of dest host H
      // allow /d<D>/p<P>.html(?query) for graftbot iff NOT in the
      // disallowed directory (D = H%5) unless it is the flagship page
      // (P = H, the longer allow), and — on every 7th host — iff the
      // URL carries no ?s= query (the *-wildcard rule); the otherbot
      // deny-all group and the * group's /private/ never apply
      s"WITH $linkRowsSql, " +
      "e AS (SELECT CASE WHEN CAST((doc_id + link_idx) % 5 AS INT) IN (0, 1) THEN t ELSE sh END AS h, " +
      "CASE WHEN CAST((doc_id + link_idx) % 5 AS INT) = 3 THEN doc_id % 5 ELSE p % 5 END AS d, " +
      "p, CASE WHEN CAST((doc_id + link_idx) % 5 AS INT) = 4 THEN 1 ELSE 0 END AS q FROM lk), " +
      "v AS (SELECT h, CASE WHEN d = h % 5 AND p = h THEN 1 WHEN d = h % 5 THEN 0 " +
      "WHEN h % 7 = 0 AND q = 1 THEN 0 ELSE 1 END ok FROM e) " +
      "SELECT 'w' || h || '.example.org' AS host, CAST(COUNT(*) AS BIGINT) AS n_links, " +
      "CAST(SUM(ok) AS BIGINT) AS n_allowed, CAST(COUNT(*) - SUM(ok) AS BIGINT) AS n_blocked " +
      "FROM v GROUP BY h ORDER BY host"),

    // WEIGHTED PageRank over the REAL extracted host graph — the
    // end-to-end story the synthetic-edge crawl_pagerank can't tell:
    // raw WARC bytes -> extraction -> resolution -> host rollup ->
    // authority scores, all one engine. Weighted variant (each edge
    // carries its link count; a host's rank ships to neighbors as
    // floor(r * w / out_w) — the standard weighted-PR contribution),
    // 4 damped fixed-point iterations in ppm integers (floor
    // divisions on nonnegative values truncate identically in both
    // engines), so the compare is BIT-EXACT, no rounding contract.
    // Plan: the host edge table is a localCheckpointed ~|hosts|^2
    // bound frame; each round is one join + one agg exchange keyed on
    // the host id — the crawl_pagerank BSP shape over real edges.
    NamedQuery("crawl_link_pagerank", (s, dir) => {
      val hostEdges = linkEdgeFrame(s, dir)
        .select(expr("parse_url(src_url, 'HOST')").as("src"),
          expr("parse_url(dst_url, 'HOST')").as("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
        .localCheckpoint()
      val outW = hostEdges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
      val e = hostEdges.join(outW, Seq("src"))
      val nodes = hostEdges.select(col("src").as("h"))
        .unionByName(hostEdges.select(col("dst").as("h")))
        .distinct()
      var r = nodes.select(col("h"), lit(1000000L).as("r"))
      for (_ <- 1 to 4) {
        r = e.join(r, col("src") === col("h"))
          .select(col("dst").as("t"), expr("(r * w) div ow").as("c"))
          .groupBy(col("t")).agg(sum(col("c")).as("cs"))
          .withColumnRenamed("t", "h")
          .join(nodes, Seq("h"), "right")
          .select(col("h"),
            (lit(150000L) + expr("(85 * coalesce(cs, 0L)) div 100")).as("r"))
      }
      r.select(col("h").as("host"), col("r").as("rank_ppm"))
        .orderBy(col("host"))
    },
      {
      // the link replay rolled to the weighted host graph, then 4
      // unrolled damped iterations in the SAME ppm integer arithmetic
      // (// floors == Spark div on nonnegatives) — bit-exact
      def iter(prev: String, cur: String): String =
        s"$cur AS (SELECT n.h, CAST(150000 + (85 * COALESCE(SUM(x.c), 0)) // 100 AS BIGINT) r " +
        s"FROM nodes n LEFT JOIN (SELECT e.dst t, ($prev.r * e.w) // ow.ow c " +
        s"FROM e JOIN $prev ON e.src = $prev.h JOIN ow ON ow.src = e.src) x " +
        "ON x.t = n.h GROUP BY n.h)"
      s"WITH $linkRowsSql, " +
      "e0 AS (SELECT 'w' || sh || '.example.org' AS src, " +
      "CASE WHEN CAST((doc_id + link_idx) % 5 AS INT) IN (0, 1) " +
      "THEN 'w' || t || '.example.org' ELSE 'w' || sh || '.example.org' END AS dst FROM lk), " +
      "e AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) w FROM e0 GROUP BY 1, 2), " +
      "ow AS (SELECT src, SUM(w) ow FROM e GROUP BY src), " +
      "nodes AS (SELECT DISTINCT h FROM (SELECT src h FROM e UNION ALL SELECT dst h FROM e)), " +
      "r0 AS (SELECT h, CAST(1000000 AS BIGINT) r FROM nodes), " +
      (1 to 4).map(k => iter(s"r${k - 1}", s"r$k")).mkString("", ", ", " ") +
      "SELECT h AS host, r AS rank_ppm FROM r4 ORDER BY host"
    }),

    // Redirect-chain resolution by POINTER DOUBLING (the Wyllie/
    // path-doubling primitive): every crawl has redirect chains
    // (30x-moved pages, URL canonicalization hops) and the curation
    // pass must map each page to its FINAL target — but following
    // chains one hop per round costs O(longest chain) shuffles.
    // Doubling squares the reach instead: p <- p(p(i)) per round, so
    // 4 self-joins resolve any chain up to 16 hops — the log-round
    // trick that makes this viable at 100 TB (each round is ONE
    // shuffled self-join on the pointer key). Synthetic deterministic
    // redirects with REAL depth (a single-hop fixture would leave the
    // doubling vacuous): every doc_id % 5 == 0 page redirects; the
    // redirect set forms runs of 8 (chain position = (id div 5) % 8,
    // each hop +5 stays inside the set), the run tail exits to the
    // final page id+1 — chains up to ~9 hops with the wrap, so 4
    // doubling rounds (reach 16) are genuinely REQUIRED, 3 would not
    // converge — and every 5th run closes on its own head instead: a
    // redirect CYCLE, whose pages stay flagged UNRESOLVED (real
    // crawls quarantine redirect loops). Final pages point at
    // themselves, so fixpoints ride through the joins with no special
    // casing. Integer-only: bit-exact cross-engine, no rounding
    // contract.
    NamedQuery("crawl_redirects", (s, dir) => {
      val n = Tables.parquetRowCount(s, s"$dir/documents.parquet")
      val nodes = Tables.documents(s, dir).select(col("doc_id").as("i"))
      var p = nodes.select(col("i"),
        when(col("i") % 5 =!= 0, col("i"))
          .when(expr("(i div 5) % 8") < 7, (col("i") + 5) % n)
          .when(expr("(i div 5) div 8") % 5 === 4, col("i") - 35)
          .otherwise(col("i") + 1).as("p"))
      for (_ <- 1 to 4) {
        p = p.as("a").join(p.as("b"), col("a.p") === col("b.i"))
          .select(col("a.i").as("i"), col("b.p").as("p"))
      }
      p.select(col("i").as("doc_id"), col("p").as("final_target"),
        (col("i") % 5 === 0).cast("int").as("is_redirect"),
        (col("p") % 5 =!= 0).cast("int").as("resolved"))
        .orderBy(col("doc_id"))
    },
      {
      // 4 unrolled doubling rounds: p_{k+1}(i) = p_k(p_k(i)); final
      // pages are self-fixpoints so the joins need no special casing
      def dbl(prev: String, cur: String): String =
        s"$cur AS (SELECT a.i, b.p FROM $prev a JOIN $prev b ON a.p = b.i)"
      "WITH docs AS (SELECT doc_id i FROM documents), " +
      "nn AS (SELECT COUNT(*) c FROM docs), " +
      "p0 AS (SELECT i, CASE WHEN i % 5 <> 0 THEN i " +
      "WHEN (i // 5) % 8 < 7 THEN (i + 5) % c " +
      "WHEN ((i // 5) // 8) % 5 = 4 THEN i - 35 " +
      "ELSE i + 1 END p FROM docs, nn), " +
      (1 to 4).map(k => dbl(s"p${k - 1}", s"p$k")).mkString("", ", ", " ") +
      "SELECT i AS doc_id, p AS final_target, " +
      "CAST(CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END AS INT) AS is_redirect, " +
      "CAST(CASE WHEN p % 5 <> 0 THEN 1 ELSE 0 END AS INT) AS resolved " +
      "FROM p4 ORDER BY doc_id"
    }),

    // Edge reciprocity over the materialized crawl graph — the
    // first-order "is this a social graph or a broadcast graph"
    // diagnostic (webgraphs run ~0.2-0.4, spam link farms near 1):
    // the fraction of distinct non-loop directed edges whose reverse
    // edge also exists. One distinct exchange on the edge key and one
    // self-join keyed (u,v)=(v,u) — the reversed side reuses the same
    // shuffle width; counts are exact integers, the only double is
    // the final rounded ratio. At 100 TB this is the canonical
    // edge-keyed join (AQE splits the 16 hub keys).
    NamedQuery("crawl_reciprocity", (s, dir) => {
      // A reciprocal directed edge pair is exactly an UNORDERED pair
      // carrying both direction flags, so ONE aggregation keyed on
      // (least, greatest) computes both counts: nd = distinct directions
      // present (max-min+1 over the 0/1 flag — dup edge rows collapse
      // exactly like a distinct()), n_edges = sum(nd) (= distinct
      // directed edges), n_reciprocal = 2 per both-direction pair. One
      // exchange, where distinct() + a self-join on the swapped pair needs
      // two partitionings ((u,v) vs (v,u)) that no exchange reuse can share.
      val pairs = crawlEdgeTable(s, dir)
        .filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"),
          (col("src") < col("dst")).cast("long").as("f"))
        .groupBy(col("a"), col("b"))
        .agg((max(col("f")) - min(col("f")) + lit(1L)).as("nd"))
      pairs.agg(
          coalesce(sum(col("nd")), lit(0L)).as("n_edges"),
          coalesce(sum(when(col("nd") === 2L, 2L).otherwise(0L)), lit(0L))
            .as("n_reciprocal"))
        .select(col("n_edges"), col("n_reciprocal"),
          round(col("n_reciprocal") / col("n_edges").cast("double"), 6).as("reciprocity"))
    },
      // the materialized edge table replayed arithmetically (the
      // crawl_pagerank_edges replay), loops out, distinct, reverse
      // self-join; exact integer counts, rounded ratio at the edge
      "WITH docs AS (SELECT doc_id i FROM documents), " +
      "nn AS (SELECT COUNT(*) c FROM docs), " +
      "e0 AS (SELECT i, unnest([(i*31+7)%c, i%LEAST(16, c), (i*13+11)%c]) t FROM docs, nn), " +
      "e AS MATERIALIZED (SELECT DISTINCT i u, t v FROM e0 WHERE i <> t), " +
      "ct AS (SELECT COUNT(*) n_edges FROM e), " +
      "rc AS (SELECT COUNT(*) n_reciprocal FROM e a JOIN e b ON a.u = b.v AND a.v = b.u) " +
      "SELECT CAST(n_edges AS BIGINT) AS n_edges, " +
      "CAST(n_reciprocal AS BIGINT) AS n_reciprocal, " +
      "round(n_reciprocal / CAST(n_edges AS DOUBLE), 6) AS reciprocity " +
      "FROM ct, rc"),

    // PERSONALIZED PageRank (the seed-biased variant behind
    // topic-focused crawling, SEAL-style seed expansion and
    // "find more pages like this curated set" corpus growth): same
    // synthetic link graph and bulk-synchronous loop as
    // crawl_pagerank, but the teleport mass returns ONLY to the seed
    // set (doc_id % 50 == 0 — 2% of the corpus) instead of uniformly,
    // so scores measure proximity to the seeds rather than global
    // importance. Fixed-point integer ppm arithmetic throughout
    // (floor divisions, 4 unrolled synchronous rounds) — integer sums
    // are order-independent, so the compare is BIT-EXACT cross-engine
    // with no rounding contract (the crawl_pagerank recipe). The
    // per-round teleport constant (150000 * nn) div ns rides the same
    // 1-row broadcast as the node count; at 100 TB each round is the
    // one contribution exchange keyed on the target id.
    // The fixed point runs in [[pprBuildFrame]], once per corpus version
    // ([[pprFrame]] store); serving is a store scan.
    NamedQuery("crawl_ppr", (s, dir) =>
      pprFrame(s, dir).orderBy(col("doc_id")),
      {
      // 4 unrolled rounds in the crawl_pagerank integer recipe, but
      // the teleport mass goes only to the i % 50 = 0 seeds:
      // (150000 * n) // n_seeds per seed, 0 elsewhere. Integer floor
      // divisions throughout — bit-exact, no rounding contract. The
      // edge CTE is referenced by all four rounds -> MATERIALIZED
      // (the MMR inlining lesson).
      def iter(prev: String, cur: String): String =
        s"$cur AS (SELECT d.i, CAST(CASE WHEN d.i % 50 = 0 THEN " +
        "(150000 * (SELECT c FROM nn)) // (SELECT s FROM nn) ELSE 0 END " +
        s"+ (85 * COALESCE(SUM(x.c2), 0)) // 100 AS BIGINT) r " +
        s"FROM docs d LEFT JOIN (SELECT e.t, $prev.r // 3 c2 FROM e JOIN $prev ON e.i = $prev.i) x " +
        "ON x.t = d.i GROUP BY d.i)"
      "WITH docs AS (SELECT doc_id i FROM documents), " +
      "nn AS (SELECT COUNT(*) c, CAST(SUM(CASE WHEN i % 50 = 0 THEN 1 ELSE 0 END) AS BIGINT) s FROM docs), " +
      s"e AS MATERIALIZED (SELECT i, unnest([$derivedLinksSql]) t FROM docs, nn), " +
      "r0 AS (SELECT i, CAST(CASE WHEN i % 50 = 0 THEN 1000000 ELSE 0 END AS BIGINT) r FROM docs), " +
      (1 to 4).map(k => iter(s"r${k - 1}", s"r$k")).mkString("", ", ", " ") +
      "SELECT i AS doc_id, r AS ppr_ppm, " +
      "CAST(CASE WHEN i % 50 = 0 THEN 1 ELSE 0 END AS INT) AS is_seed " +
      "FROM r4 ORDER BY doc_id"
    }),

    // PageRank over a MATERIALIZED edge table — the production twin of
    // crawl_pagerank (whose edges derive arithmetically map-side, so
    // its per-iteration plan never joins): real link graphs arrive as
    // stored edge lists, so each iteration is rank-frame JOIN edges ON
    // src, then ONE hash exchange on dst for the contribution sum —
    // the canonical bulk-synchronous shape with a shuffled join in the
    // loop. The edge table is deterministic and HUB-SKEWED (every
    // node's second out-link targets one of 16 hub nodes, so hub
    // in-degree is ~n/16 vs ~1 elsewhere — the in-degree shape real
    // webgraphs have): at scale AQE's skew handling splits the hot
    // dst partitions (the ScaleCorpus 10x replica exercises it).
    // Same fixed-point ppm arithmetic as crawl_pagerank — bit-exact,
    // no rounding contract. Out-degree is exactly 3 (no dangling).
    // Community detection by synchronous label propagation (LPA,
    // Raghavan et al.) over the SAME materialized crawl edge table as
    // crawl_pagerank_edges — the missing rung of the graph family
    // (rank/HITS/triangles/k-core say how IMPORTANT or DENSE; LPA
    // says which pages travel together, the unit of per-site dedup
    // and topic-bucketed sampling). Determinism: synchronous rounds
    // (all labels update from the previous frame), label = the most
    // frequent neighbor label counting multiplicity plus one self
    // vote, ties to the SMALLEST label — integer-only, so the result
    // is bit-exact cross-engine with no rounding contract (the
    // crawl_pagerank recipe). Exactly 4 rounds, unrolled: per round
    // one join + one (v, lbl) count exchange + the per-node argmax
    // window — the same bulk-synchronous shape as the rank loop, and
    // at 100 TB the same persisted-edge join per iteration (AQE
    // splits the 16 hub keys).
    NamedQuery("crawl_communities", (s, dir) => {
      // The 4-round synchronous loop is Clustering.distributedLpa behind
      // the adaptive strategy ([[Clustering.lpaLabels]], as for
      // kcore6/CC/BFS): under spark.graft.cc.localEdgeLimit edges the
      // strategy probe doubles as the collect and the rounds run
      // driver-side; above it the identical loop runs unchanged (the
      // 100 TB path). ClusteringSpec pins local/distributed parity,
      // including the count-desc/smallest-label tie contract.
      val labels = graft.operators.Clustering.lpaLabels(s,
        crawlEdgeTable(s, dir),
        Tables.documents(s, dir).select(col("doc_id").as("v")), rounds = 4)
      // community sizes via a WINDOW over the final labels, not a
      // self-join: the join's build side would re-evaluate the whole
      // 4-round subtree (no exchange for ReuseExchange to share —
      // measured ~2x the query); the
      // window is one extra exchange on the label over a single
      // evaluation
      labels
        .select(col("u").as("doc_id"), col("lbl").as("community"))
        .withColumn("n_members", count(lit(1)).over(
          Window.partitionBy(col("community"))))
        .orderBy(col("doc_id"))
    },
      {
      // the edge table replayed arithmetically, undirected + self
      // votes, then 4 unrolled synchronous min-mode rounds. Every
      // round CTE is MATERIALIZED (the MMR lesson: plain CTEs inline
      // per reference and the chain would re-expand).
      def round(prev: String, cur: String): String =
        s"$cur AS MATERIALIZED (SELECT v u, lbl FROM (" +
        s"SELECT und.v, l.lbl, COUNT(*) c, " +
        "row_number() OVER (PARTITION BY und.v ORDER BY COUNT(*) DESC, l.lbl) rn " +
        s"FROM und JOIN $prev l ON und.u = l.u GROUP BY und.v, l.lbl) WHERE rn = 1)"
      "WITH docs AS (SELECT doc_id i FROM documents), " +
      "nn AS (SELECT COUNT(*) c FROM docs), " +
      "e0 AS (SELECT i, unnest([(i*31+7)%c, i%LEAST(16, c), (i*13+11)%c]) t FROM docs, nn), " +
      "und AS MATERIALIZED (SELECT i v, t u FROM e0 " +
      "UNION ALL SELECT t v, i u FROM e0 " +
      "UNION ALL SELECT i v, i u FROM docs), " +
      "l0 AS (SELECT i u, i lbl FROM docs), " +
      (1 to 4).map(k => round(s"l${k - 1}", s"l$k")).mkString("", ", ", ", ") +
      "sz AS (SELECT lbl, COUNT(*) n FROM l4 GROUP BY lbl) " +
      "SELECT l4.u AS doc_id, l4.lbl AS community, CAST(sz.n AS BIGINT) AS n_members " +
      "FROM l4 JOIN sz ON l4.lbl = sz.lbl ORDER BY doc_id"
    }),

    // The fixed point runs in [[pagerankEdgesBuildFrame]], once per
    // corpus version ([[pagerankEdgesFrame]] store).
    NamedQuery("crawl_pagerank_edges", (s, dir) =>
      pagerankEdgesFrame(s, dir).orderBy(col("doc_id")),
      // the materialized edge table replayed arithmetically (two
      // multiplicative-hash targets + the mod-16 hub link)
      dampedRanksSql("(i*31+7)%c, i%LEAST(16, c), (i*13+11)%c", " ") +
      "SELECT i AS doc_id, r AS rank_ppm FROM r5 ORDER BY doc_id"),

    // Triangle counting + global clustering coefficient — the
    // multi-way self-join graph workload (spam-farm detection: link
    // farms are triangle-dense). Links: two RING links (i+1, i+2 —
    // crawl locality: neighboring pages link each other, and every
    // consecutive id triple closes a triangle) + one hash link
    // (long-range structure), so the triangle join has real signal
    // (the pagerank graph's three affine maps are triangle-free).
    // Edges are ORIENTED low-id -> high-id and deduped first, so each
    // triangle is counted exactly once by the canonical two-join
    // (e1: a-b, e2: b-c, e3: a-c closes it) — at scale the low->high
    // orientation is also the standard skew cut (every join key's
    // fan-out is bounded by the node's higher-neighbor count, not its
    // full degree). Wedges (2-paths through b) = sum over b of
    // deg(b)-choose-2 on the UNDIRECTED degree; global coefficient =
    // 3*triangles/wedges (the one double, round(6)).
    NamedQuery("crawl_triangles", (s, dir) => {
      val nodes = Tables.documents(s, dir).select(col("doc_id").as("i"))
      val nFrame = nodes.agg(count(lit(1)).as("nn"))
      val tgt = explode(array(
        (col("i") + 1) % col("nn"),
        (col("i") + 2) % col("nn"),
        (col("i") * 31 + 7) % col("nn"))).as("t")
      val edges = nodes.crossJoin(broadcast(nFrame))
        .select(col("i"), tgt)
        .filter(col("i") =!= col("t"))
        .select(least(col("i"), col("t")).as("a"),
          greatest(col("i"), col("t")).as("b"))
        .distinct()
      val deg = edges.select(col("a").as("v")).union(edges.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
      val wedges = deg.agg(sum(expr("d * (d - 1) div 2")).as("n_wedges"),
        count(lit(1)).as("n_connected_nodes"))
      val e1 = edges
      val e2 = edges.select(col("a").as("b"), col("b").as("c"))
      val e3 = edges.select(col("a").as("a3"), col("b").as("c3"))
      val tris = e1.join(e2, Seq("b"))
        .join(e3, col("a") === col("a3") && col("c") === col("c3"))
        .agg(count(lit(1)).as("n_triangles"))
      edges.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(tris))
        .crossJoin(broadcast(wedges))
        .select(col("n_edges"), col("n_connected_nodes"), col("n_wedges"),
          col("n_triangles"),
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
            .as("clustering_coeff"))
    },
      // ring + hash edges, oriented low->high and deduped; canonical
      // two-join triangle closure; wedges from the undirected degree;
      // one double (the coefficient), round(6). Links derive via
      // UNION ALL, not unnest: this DuckDB build hits an internal
      // binder error ("Failed to bind column reference") when a WHERE
      // filters on an unnest alias from an upstream CTE
      "WITH docs AS (SELECT doc_id i FROM documents), " +
      "nn AS (SELECT COUNT(*) c FROM docs), " +
      "raw AS (SELECT i, (i+1)%c t FROM docs, nn " +
      "UNION ALL SELECT i, (i+2)%c FROM docs, nn " +
      "UNION ALL SELECT i, (i*31+7)%c FROM docs, nn), " +
      "e AS (SELECT DISTINCT least(i, t) a, greatest(i, t) b FROM raw WHERE i <> t), " +
      "deg AS (SELECT v, COUNT(*) d FROM " +
      "(SELECT a v FROM e UNION ALL SELECT b v FROM e) GROUP BY v), " +
      "w AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) n_wedges, " +
      "COUNT(*) n_connected_nodes FROM deg), " +
      "tri AS (SELECT COUNT(*) n_triangles FROM e e1 " +
      "JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) " +
      "SELECT (SELECT COUNT(*) FROM e) AS n_edges, n_connected_nodes, n_wedges, " +
      "n_triangles, round(3.0 * n_triangles / n_wedges, 6) AS clustering_coeff " +
      "FROM w, tri"),

    // Iterative k-core peeling (3 rounds, k = 6) over the derived link
    // graph — the subgraph-refinement pattern none of the other graph
    // ops exercise: each round recomputes degrees over the SURVIVING
    // subgraph and drops nodes under k, converging toward the 6-core
    // (k = 6 bites on this graph: 476 -> 396 -> 162 at sf0.01 — the
    // min degree is 3 out-links + in-links, so k <= 5 peels nothing)
    // (spam/link-farm analysis runs exactly this to find the dense
    // center of a crawl graph). Rounds are FIXED at 3 (deterministic,
    // SQL-replayable) rather than run to convergence; each round is
    // two semi-joins against the alive set + one degree aggregate, and
    // the shared undirected edge list materializes once
    // (localCheckpoint — at scale, a checkpoint per round bounds the
    // growing plan the same way).
    // The rounds run in Clustering.kcorePeelCounts with the
    // bfsLayers/connectedComponents ADAPTIVE strategy: under the
    // 64k-edge bound the strategy probe doubles as the collect and the
    // peel runs on the driver; above it the identical distributed loop
    // runs (the 100 TB path, parity-pinned in ClusteringSpec).
    NamedQuery("crawl_kcore6", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id").as("i"))
      val n = Tables.parquetRowCount(s, s"$dir/documents.parquet")
      val edges = docs.select(col("i"), explode(array(
          pmod(col("i") * 31 + 7, lit(n)), pmod(col("i") * 17 + 3, lit(n)),
          pmod(col("i") * 13 + 11, lit(n)))).as("j"))
        .filter(col("i") =!= col("j"))
        .select(least(col("i"), col("j")).as("a"),
          greatest(col("i"), col("j")).as("b"))
        .distinct()
      graft.operators.Clustering.kcorePeelCounts(s, edges, docs, k = 6, rounds = 3)
        .orderBy(col("round"))
    },
      // three unrolled peeling rounds over the same UNION-ALL-derived
      // edge list (the unnest-alias WHERE limitation workaround)
      "WITH docs AS (SELECT doc_id i FROM documents), " +
      "nn AS (SELECT COUNT(*) c FROM docs), " +
      "e0 AS (SELECT i, (i*31+7)%c j FROM docs, nn " +
      "UNION ALL SELECT i, (i*17+3)%c FROM docs, nn " +
      "UNION ALL SELECT i, (i*13+11)%c FROM docs, nn), " +
      "ed AS (SELECT DISTINCT least(i, j) a, greatest(i, j) b FROM e0 WHERE i <> j), " +
      "d1 AS (SELECT v, COUNT(*) d FROM (SELECT a v FROM ed UNION ALL SELECT b FROM ed) GROUP BY v), " +
      "a1 AS (SELECT i FROM docs JOIN d1 ON d1.v = docs.i WHERE d >= 6), " +
      "e2 AS (SELECT a, b FROM ed JOIN a1 x ON ed.a = x.i JOIN a1 y ON ed.b = y.i), " +
      "d2 AS (SELECT v, COUNT(*) d FROM (SELECT a v FROM e2 UNION ALL SELECT b FROM e2) GROUP BY v), " +
      "a2 AS (SELECT i FROM a1 JOIN d2 ON d2.v = a1.i WHERE d >= 6), " +
      "e3 AS (SELECT a, b FROM ed JOIN a2 x ON ed.a = x.i JOIN a2 y ON ed.b = y.i), " +
      "d3 AS (SELECT v, COUNT(*) d FROM (SELECT a v FROM e3 UNION ALL SELECT b FROM e3) GROUP BY v), " +
      "a3 AS (SELECT i FROM a2 JOIN d3 ON d3.v = a2.i WHERE d >= 6) " +
      "SELECT 1 AS round, (SELECT COUNT(*) FROM a1) AS n_alive " +
      "UNION ALL SELECT 2, (SELECT COUNT(*) FROM a2) " +
      "UNION ALL SELECT 3, (SELECT COUNT(*) FROM a3) ORDER BY round"),

    // HITS hubs & authorities — PageRank's companion link-analysis
    // operator (Kleinberg): authority(v) = Σ hub(u) over in-links,
    // hub(u) = Σ authority(v) over out-links, alternated. Four
    // UNNORMALIZED iterations in pure integer arithmetic (out-degree
    // 3 and in-degree ~3 bound growth at ~9x per round — h4 tops out
    // near 9^4, far inside bigint), so like crawl_pagerank the compare
    // is BIT-EXACT with no rounding contract; the usual float
    // normalization only rescales, so unnormalized integer scores
    // preserve the exact ranking. Per iteration: one map-side out-link
    // explode + target aggregate (authority), then one edge join +
    // source aggregate (hub) — the canonical BSP shuffle pair; at
    // scale both exchanges key on node ids and AQE absorbs hub skew.
    NamedQuery("crawl_hits", (s, dir) => {
      val nodes = rankNodes(s, dir)
      val nFrame = nodes.agg(count(lit(1)).as("nn"))
      val edges = nodes.crossJoin(broadcast(nFrame))
        .select(col("i"), explode(derivedOutLinks).as("t"))
      var hub = nodes.select(col("i"), lit(1L).as("h"))
      var auth = nodes.select(col("i"), lit(1L).as("a"))
      for (_ <- 1 to 4) {
        auth = edges.join(hub, Seq("i"))
          .groupBy(col("t")).agg(sum(col("h")).as("a"))
          .withColumnRenamed("t", "i")
          .join(nodes, Seq("i"), "right")
          .select(col("i"), coalesce(col("a"), lit(0L)).as("a"))
        hub = edges.join(auth.withColumnRenamed("i", "t"), Seq("t"))
          .groupBy(col("i")).agg(sum(col("a")).as("h"))
          .join(nodes, Seq("i"), "right")
          .select(col("i"), coalesce(col("h"), lit(0L)).as("h"))
      }
      hub.join(auth, Seq("i"))
        .select(col("i").as("doc_id"), col("h").as("hub"), col("a").as("authority"))
        .orderBy(col("doc_id"))
    },
      {
      // 4 unrolled authority/hub alternations in the same integer
      // arithmetic as the Spark loop — bit-exact, no rounding contract
      def authStep(prevH: String, cur: String): String =
        s"$cur AS (SELECT d.i, CAST(COALESCE(SUM(x.h), 0) AS BIGINT) a FROM docs d " +
        s"LEFT JOIN (SELECT e.t, $prevH.h FROM e JOIN $prevH ON e.i = $prevH.i) x " +
        "ON x.t = d.i GROUP BY d.i)"
      def hubStep(curA: String, cur: String): String =
        s"$cur AS (SELECT d.i, CAST(COALESCE(SUM(x.a), 0) AS BIGINT) h FROM docs d " +
        s"LEFT JOIN (SELECT e.i ii, $curA.a FROM e JOIN $curA ON e.t = $curA.i) x " +
        "ON x.ii = d.i GROUP BY d.i)"
      "WITH docs AS (SELECT doc_id i FROM documents), " +
      "nn AS (SELECT COUNT(*) c FROM docs), " +
      s"e AS (SELECT i, unnest([$derivedLinksSql]) t FROM docs, nn), " +
      "h0 AS (SELECT i, CAST(1 AS BIGINT) h FROM docs), " +
      (1 to 4).map(k => authStep(s"h${k - 1}", s"a$k") + ", " +
        hubStep(s"a$k", s"h$k")).mkString("", ", ", " ") +
      "SELECT h4.i AS doc_id, h4.h AS hub, a4.a AS authority " +
      "FROM h4 JOIN a4 ON h4.i = a4.i ORDER BY doc_id"
    })
  )
}
