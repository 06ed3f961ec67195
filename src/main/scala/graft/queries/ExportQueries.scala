package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{SparkEntry, Stores, Tables}
import graft.operators.{TextOps, VectorOps}
import graft.queries.AnalyticsQueries.topKPerType
import graft.queries.CorpusQueries.{reupContentGroups, surprisalFrame, surprisalStoreCount, textUnigramLogprobSql}
import graft.queries.CrawlQueries.{dampedRanksSql, derivedLinksSql, pagerankFrame}
import graft.queries.DedupQueries.{ccCtes, dedupMinhashVerifiedSql, minhashClusterLabels, minhashPairsCtes, verifiedPairsFrame}
import graft.queries.SimilarityQueries.{clusterKmeansSql, embMicro, kmeansClusters}

/** Export and sampling: dataset cards, manifests, shards, packing,
  * splits and leakage, curricula, and the samplers (stratified, mixture,
  * temperature, DSIR, DoReMi, coreset, reservoir, soft dedup).
  */
object ExportQueries {

  /** Per-source (source, loss-micro) table for the DoReMi loop, built
    * once per corpus version ([[Stores]]): BOTH sample_doremi_weights
    * and sample_doremi_apply consume it, and the k-row collect behind
    * it costs a surprisal-store scan + bounded join/agg.
    */
  private def doremiLosses(s: SparkSession, dir: String): Array[(String, Long)] =
    Stores.value(s, "doremi-losses", dir, "documents") {
      import s.implicits._
      val su = surprisalFrame(s, dir).select(col("doc_id"),
        round(col("avg_surprisal") * 1e6).cast("long").as("sur_micro"),
        col("n_tokens"))
      Tables.documents(s, dir).select(col("doc_id"), col("source"))
        .join(su, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(expr("sum(sur_micro * n_tokens) div sum(n_tokens)").as("lmicro"))
        .as[(String, Long)].collect().sortBy(_._1)
    }

  /** DSIR importance model, trained ONCE per corpus version
    * ([[Stores]]): per hashed bucket, the add-one-smoothed
    * log ratio between the target ('en') and raw token distributions.
    * The log ratios are computed by the SAME Spark SQL expressions the
    * scoring used when inlined (ln over exact integer counts), then
    * collected — 64 doubles, the centroid-bank collect class — so the
    * served values are bit-identical to the in-plan formulation.
    * Cross-engine parity with the DuckDB oracle's CTE replay is NOT a
    * bit-identity claim (JVM Math.log and DuckDB's libm may differ in
    * the last ulp): it rests on the round(6)/integer-ppm contract
    * downstream absorbing those ulps, per the repo's ln-ulp
    * convention. Buckets no token hashes to are never looked up;
    * their slots stay 0.
    */
  private def dsirLogRatios(s: SparkSession, dir: String): Array[Double] =
    Stores.value(s, "dsir", dir, "documents") {
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("w"))
        .withColumn("b",
          pmod(TextOps.portableHash32(concat(lit("dsir|"), col("w"))), lit(64L)))
      val counts = toks.groupBy(col("b")).agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
      val tot = counts.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
      val rows = counts.crossJoin(broadcast(tot))
        .select(col("b"),
          (log((col("ct") + 1) / (col("tt") + 64)) -
            log((col("cr") + 1) / (col("tr") + 64))).as("lam"))
        .as[(Long, Double)].collect()
      val arr = new Array[Double](64)
      rows.foreach { case (b, l) => arr(b.toInt) = l }
      arr
    }

  /** The sample_doremi_weights oracle, extracted so
    * sample_doremi_apply can compose it verbatim (it lives outside
    * baseOracleSql).
    */
  private def doremiOracleSql: String = {
    def rnd(i: Int): String =
      (s"drb$i AS (SELECT CAST(SUM(w_ppm * lmicro) // 1000000 AS BIGINT) b " +
       s"FROM drw${i - 1} JOIN drl USING (source)), " +
       s"dru$i AS MATERIALIZED (SELECT w.source, " +
       s"CAST(round(w_ppm * exp(0.2 * GREATEST(lmicro - b, 0) / 1000000.0)) AS BIGINT) u " +
       s"FROM drw${i - 1} w JOIN drl USING (source), drb$i), " +
       s"drw$i AS MATERIALIZED (SELECT source, " +
       s"CAST(u * 1000000 // (SELECT SUM(u) FROM dru$i) AS BIGINT) w_ppm FROM dru$i)")
    (s"WITH drsu AS ($textUnigramLogprobSql), " +
     "drd AS (SELECT d.source, " +
     "CAST(round(su.avg_surprisal * 1000000) AS BIGINT) sur, su.n_tokens " +
     "FROM drsu su JOIN documents d ON su.doc_id = d.doc_id), " +
     "drl AS MATERIALIZED (SELECT source, " +
     "CAST(SUM(sur * n_tokens) // SUM(n_tokens) AS BIGINT) lmicro " +
     "FROM drd GROUP BY source), " +
     "drw0 AS MATERIALIZED (SELECT source, " +
     "CAST(1000000 // (SELECT COUNT(*) FROM drl) AS BIGINT) w_ppm FROM drl), " +
     (1 to 4).map(rnd).mkString(", ") + " " +
     (0 to 4).map(i =>
       s"SELECT CAST($i AS BIGINT) AS step, source, w_ppm FROM drw$i")
       .mkString(" UNION ALL ") +
     " ORDER BY step, source")
  }

  /** Per-shard stats of `docs` dealt into 16 shuffled shards: doc
    * count, subword tokens of `textCol`, shuffle-rank checksum and doc
    * id range, ordered by shard.
    */
  private[queries] def shardStats(docs: DataFrame, textCol: String): DataFrame =
    graft.operators.Export.shuffledShards(docs, 16)
      .withColumn("tokens", TextOps.subwordCount(TextOps.tokens(col(textCol))).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("shard_tokens"),
        sum(col("shuffle_rank")).as("rank_checksum"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))

  /** Per-source sample report: each doc is kept when its ppm `coin` is
    * under its source's threshold (`rates`: source, thr), with the kept
    * count and the threshold (`thr`, one value per source) per source.
    */
  private def keptBySource(docs: DataFrame, rates: DataFrame, coin: Column, thr: Column): DataFrame =
    docs.join(broadcast(rates), Seq("source"))
      .withColumn("kept", (coin < col("thr")).cast("int"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"),
        thr.as("thr"))
      .orderBy(col("source"))

  val entries: Seq[NamedQuery] = Seq(

    // Cluster-balanced sampling off the kmeans assignment — the
    // curation use of the clustering: cap every cluster at 32 docs so
    // no dense region dominates the training mix (the cluster-balanced
    // counterpart of sample_temperature's per-SOURCE balancing). The
    // per-cluster choice is a deterministic hash-coin rank (lowest
    // coins win, ties to the lower vec_id), so the sample is stable
    // across runs/engines; one window per cluster on the assignment's
    // own key — the 100 TB parallelism unit — and nothing global.
    NamedQuery("sample_cluster_balanced", (s, dir) => {
      val coin = TextOps.portableHash32(concat(lit("cb|"), col("vec_id").cast("string")))
      val w = Window.partitionBy(col("cluster")).orderBy(coin, col("vec_id"))
      kmeansClusters(s, dir)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 32)
        .select(col("cluster"), col("rk"), col("vec_id"), col("cluster_n"))
        .orderBy(col("cluster"), col("rk"))
    },
      // the cluster_kmeans oracle verbatim as a CTE, then one window
      // per cluster: lowest md5 ppm coins win, ties to the lower
      // vec_id, cap 32
      s"WITH km AS ($clusterKmeansSql) " +
      "SELECT cluster, CAST(rk AS BIGINT) AS rk, vec_id, cluster_n FROM " +
      "(SELECT vec_id, cluster, cluster_n, row_number() OVER (PARTITION BY cluster " +
      "ORDER BY CAST('0x' || substr(md5('cb|' || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT), vec_id) rk " +
      "FROM km) WHERE rk <= 32 ORDER BY cluster, rk"),

    // Greedy k-center coreset (farthest-point traversal, the 2-approx
    // classic) — DIVERSITY sampling over the embedding corpus: pick
    // the vector farthest (min squared distance to the chosen set,
    // maximized) 8 times from seed vec_id 0 — the anti-SemDeDup
    // selection a curation run uses for eval-set seeding and coverage
    // probes. Each step is ONE corpus scan against the chosen set's
    // <= 7 broadcast-literal vectors with a bounded 1-row collect
    // (the codebook-collect class); distances are exact integer
    // arithmetic in doubles (micro components, d² = nv + nc - 2·dot,
    // bounded ~2.6e14 << 2^53), ties to the lower vec_id — fully
    // replayed by the oracle's unrolled 7-step argmax chain.
    // PROFILE (sf0.1, idle-box): ~0.80 s vs DuckDB 0.27 s (~2.9x) —
    // the greedy is INHERENTLY 8 serialized jobs (7 argmax scans + the
    // seed fetch), each paying the local job floor on a 2000-row scan;
    // per-step work is one broadcast-literal distance map, the
    // scale-correct shape.
    NamedQuery("sample_coreset_kcenter", (s, dir) => {
      import s.implicits._
      // localCheckpoint: seven argmax scans + the seed fetch all read
      // this frame — uncheckpointed, every job re-runs the parquet
      // scan + micro quantization (the q38b double-eval lesson,
      // eight-fold)
      val emb = embMicro(s, dir).localCheckpoint()
      val first = emb.filter(col("vec_id") === 0L)
        .select(col("v"), col("nv")).as[(Seq[Double], Double)].head()
      var chosen = List((0L, first._1, first._2, 0L))
      for (_ <- 2 to 8) {
        val minD = chosen.map { case (_, cv, nc, _) =>
          col("nv") + lit(nc) - lit(2.0) * VectorOps.dot(col("v"), typedlit(cv)) }
          .reduce(least(_, _))
        val pick = emb.filter(!col("vec_id").isin(chosen.map(_._1): _*))
          .select(col("vec_id"), col("v"), col("nv"), minD.as("md"))
          .orderBy(col("md").desc, col("vec_id")).limit(1)
          .as[(Long, Seq[Double], Double, Double)].head()
        chosen = chosen :+ ((pick._1, pick._2, pick._3, pick._4.toLong))
      }
      chosen.zipWithIndex
        .map { case ((id, _, _, md), k) => ((k + 1).toLong, id, md) }
        .toDF("pick_order", "vec_id", "min_dist2")
    },
      {
      // the greedy chain unrolled: each step's argmax of min squared
      // distance to the chosen set (exact BIGINT list arithmetic),
      // ties to the lower vec_id; every re-referenced CTE MATERIALIZED
      // (the MMR inliner lesson)
      def step(k: Int): String =
        s"s$k AS (SELECT e.vec_id, e.v, $k ord, " +
        "MIN(list_sum(list_transform(list_zip(e.v, c.v), p -> (p[1]-p[2])*(p[1]-p[2])))) md " +
        s"FROM kce e, ch${k - 1} c " +
        s"WHERE e.vec_id NOT IN (SELECT vec_id FROM ch${k - 1}) " +
        "GROUP BY e.vec_id, e.v ORDER BY md DESC, e.vec_id LIMIT 1), " +
        s"ch$k AS MATERIALIZED (SELECT * FROM ch${k - 1} UNION ALL " +
        s"SELECT vec_id, v, ord, md FROM s$k)"
      "WITH kce AS MATERIALIZED (SELECT vec_id, " +
      "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) v " +
      "FROM embeddings), " +
      "ch1 AS MATERIALIZED (SELECT vec_id, v, 1 ord, CAST(0 AS BIGINT) md FROM kce WHERE vec_id = 0), " +
      (2 to 8).map(step).mkString(", ") + " " +
      "SELECT CAST(ord AS BIGINT) AS pick_order, vec_id, " +
      "CAST(md AS BIGINT) AS min_dist2 FROM ch8 ORDER BY pick_order"
    }),

    // Dataset card — the one-page corpus summary every released
    // training set ships (HF dataset cards, Datasheets for Datasets):
    // size, length bounds, vocabulary mass, exact-duplication level,
    // and source/language mix as (section, metric, value) rows. Two
    // corpus passes total — one doc-level aggregate (counts, distinct
    // text hashes, length bounds, mix cardinalities) and one
    // token-level aggregate (vocabulary size, hapax count) — then a
    // map-side stack() of the two 1-row frames; every value is an
    // exact integer.
    NamedQuery("export_dataset_card", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val d = docs.select(md5(col("text")).as("h"), col("source"), col("lang"),
        size(TextOps.tokens(col("text"))).cast("long").as("nt"))
      val dAgg = d.agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        count_distinct(col("h")).as("n_texts"),
        count_distinct(col("source")).as("n_sources"),
        count_distinct(col("lang")).as("n_langs"),
        min(col("nt")).as("min_tokens"), max(col("nt")).as("max_tokens"))
      val t = docs.select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val tAgg = t.agg(count(lit(1)).as("n_terms"),
        sum((col("c") === 1L).cast("long")).as("hapax_terms"))
      dAgg.crossJoin(broadcast(tAgg))
        .select(expr("stack(10, " +
          "'dup', 'exact_dup_docs', n_docs - n_texts, " +
          "'dup', 'exact_text_groups', n_texts, " +
          "'length', 'max_tokens', max_tokens, " +
          "'length', 'min_tokens', min_tokens, " +
          "'mix', 'n_langs', n_langs, " +
          "'mix', 'n_sources', n_sources, " +
          "'size', 'n_docs', n_docs, " +
          "'size', 'n_tokens', n_tokens, " +
          "'vocab', 'hapax_terms', hapax_terms, " +
          "'vocab', 'n_terms', n_terms) AS (section, metric, value)"))
        .orderBy(col("section"), col("metric"))
    },
      "WITH dcd AS (SELECT md5(text) h, source, lang, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) nt FROM documents), " +
      "dca AS (SELECT COUNT(*) n_docs, CAST(SUM(nt) AS BIGINT) n_tokens, " +
      "CAST(COUNT(DISTINCT h) AS BIGINT) n_texts, " +
      "CAST(COUNT(DISTINCT source) AS BIGINT) n_sources, " +
      "CAST(COUNT(DISTINCT lang) AS BIGINT) n_langs, " +
      "MIN(nt) min_tokens, MAX(nt) max_tokens FROM dcd), " +
      "dct AS (SELECT w, COUNT(*) c FROM " +
      "(SELECT unnest(string_split(text, ' ')) w FROM documents) GROUP BY w), " +
      "dcv AS (SELECT CAST(COUNT(*) AS BIGINT) n_terms, " +
      "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) hapax_terms FROM dct), " +
      // `value` is a reserved bare alias in this DuckDB (the
      // rank/rule/label/lead family) — alias v inside, quote at the edge
      "card AS (" +
      "SELECT 'dup' section, 'exact_dup_docs' metric, n_docs - n_texts v FROM dca " +
      "UNION ALL SELECT 'dup', 'exact_text_groups', n_texts FROM dca " +
      "UNION ALL SELECT 'length', 'max_tokens', max_tokens FROM dca " +
      "UNION ALL SELECT 'length', 'min_tokens', min_tokens FROM dca " +
      "UNION ALL SELECT 'mix', 'n_langs', n_langs FROM dca " +
      "UNION ALL SELECT 'mix', 'n_sources', n_sources FROM dca " +
      "UNION ALL SELECT 'size', 'n_docs', n_docs FROM dca " +
      "UNION ALL SELECT 'size', 'n_tokens', n_tokens FROM dca " +
      "UNION ALL SELECT 'vocab', 'hapax_terms', hapax_terms FROM dcv " +
      "UNION ALL SELECT 'vocab', 'n_terms', n_terms FROM dcv) " +
      "SELECT section, metric, CAST(v AS BIGINT) AS \"value\" " +
      "FROM card ORDER BY section, metric"),

    // Stratified sampling: deterministic k-per-language sample ranked by
    // md5(doc_id) — a seeded shuffle both engines replay bit-identically
    // (the balanced-subset step of corpus construction). One window per
    // stratum; at scale strata hash-partition across executors.
    NamedQuery("sample_stratified", (s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 50)
        .select(col("lang"), col("rk").cast("long").as("rk"), col("doc_id"))
        .orderBy(col("lang"), col("rk"))
    },
      "SELECT lang, rk, doc_id FROM (SELECT lang, doc_id, " +
      "CAST(row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) rk " +
      "FROM documents) WHERE rk <= 50 ORDER BY lang, rk"),

    // Source-mixture sampling: per-source keep rates (the data-mixing
    // weights of a training recipe), decided per doc by a hash coin —
    // pure map-side, deterministic, no shuffle until the audit agg.
    NamedQuery("sample_mixture", (s, dir) => {
      val rate = when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 1.0)
        .when(col("source").isin("src5", "src6", "src7"), 0.25)
        .otherwise(0.5)
      val coin = pmod(TextOps.portableHash32(col("doc_id")), lit(1000L))
      Tables.documents(s, dir)
        .withColumn("kept", (coin < rate * 1000).cast("int"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"))
        .orderBy(col("source"))
    },
      "SELECT source, COUNT(*) AS n_docs, CAST(SUM(kept) AS BIGINT) AS n_kept FROM (" +
      "SELECT source, CAST(CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000 < " +
      "(CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 1.0 " +
      "WHEN source IN ('src5','src6','src7') THEN 0.25 ELSE 0.5 END) * 1000 " +
      "THEN 1 ELSE 0 END AS INT) kept FROM documents) " +
      "GROUP BY source ORDER BY source"),

    // Temperature-scaled source mixing (the XLM-R / Pile alpha-scaling
    // recipe, alpha = 1/T = 0.5): per-source sampling share
    // proportional to sqrt(n_s), so small sources are UP-weighted
    // relative to their natural frequency and no single giant source
    // dominates the mix. Keep rate r_s = share_s * budget / n_s,
    // decided per doc by the same portable hash coin as
    // sample_mixture. Scale shape: the per-source count agg is tiny
    // (one row per source), S and the budget resolve in a 1-row
    // broadcast, and the per-doc decision is a broadcast join + coin —
    // pure map-side over the corpus. Cross-engine determinism: the
    // sqrt weights are integerized (round(sqrt(n)*1000)) so the
    // normalizing SUM is an ORDER-FREE integer sum, and the final
    // threshold is an integer in [0, 1e6] compared against an integer
    // coin — no float accumulates across rows on either engine.
    NamedQuery("sample_temperature", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .withColumn("w", round(sqrt(col("n_docs")) * 1000).cast("long"))
      val tot = counts.agg(sum(col("w")).as("sw"), sum(col("n_docs")).as("n"))
      val rates = counts.crossJoin(broadcast(tot))
        .withColumn("budget", floor(col("n") / 5).cast("long"))
        .withColumn("thr", least(
          round(col("w").cast("double") / col("sw") * col("budget") / col("n_docs") * 1000000).cast("long"),
          lit(1000000L)))
        .select(col("source"), col("thr"))
      val coin = pmod(TextOps.portableHash32(col("doc_id")), lit(1000000L))
      keptBySource(docs, rates, coin, first(col("thr")))
    },
      "WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) n_docs FROM documents GROUP BY source), " +
      "w AS (SELECT source, n_docs, CAST(round(sqrt(n_docs) * 1000) AS BIGINT) w FROM c), " +
      "t AS (SELECT CAST(SUM(w) AS BIGINT) sw, CAST(SUM(n_docs) AS BIGINT) n FROM w), " +
      "r AS (SELECT source, n_docs, least(CAST(round(" +
      "CAST(w AS DOUBLE) / sw * CAST(floor(n / 5) AS BIGINT) / n_docs * 1000000" +
      ") AS BIGINT), 1000000) thr FROM w, t), " +
      "k AS (SELECT d.source, r.thr, CAST(CASE WHEN " +
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000000 < r.thr " +
      "THEN 1 ELSE 0 END AS INT) kept FROM documents d JOIN r USING (source)) " +
      "SELECT source, COUNT(*) AS n_docs, CAST(SUM(kept) AS BIGINT) AS n_kept, " +
      "CAST(MIN(thr) AS BIGINT) AS thr FROM k GROUP BY source ORDER BY source"),

    // DSIR-style importance resampling (the hashed-n-gram importance
    // weighting of "Data Selection for Language Models via Importance
    // Resampling"): score each doc by how much more likely its tokens
    // are under the TARGET domain's hashed-unigram distribution than
    // under the RAW corpus distribution, then resample with
    // probability exp(min(0, avg log ratio)). Features are HASHED
    // buckets (64 here; the paper hashes n-grams into 10k) so the
    // model is fixed-size regardless of vocabulary — the property that
    // makes the method a 100 TB pipeline stage: both distributions are
    // ONE bounded aggregate (64 rows, map-side partials), trained once
    // per corpus version ([[dsirLogRatios]] — the pqBanks lifecycle),
    // and scoring is a single corpus pass whose per-token log ratio is
    // a 64-entry literal-array lookup; nothing vocabulary-sized ever
    // ships and the only exchange is the per-doc aggregate. Target =
    // the 'en' slice (stand-in for the curated target corpus);
    // add-one smoothing keeps zero-count buckets finite. Determinism:
    // the ln-under-avg round(6) contract (text_unigram_logprob
    // regime), an integer ppm keep threshold off the ROUNDED score,
    // and the md5 ppm coin.
    NamedQuery("sample_dsir", (s, dir) => {
      val lam = dsirLogRatios(s, dir)
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        .withColumn("b",
          pmod(TextOps.portableHash32(concat(lit("dsir|"), col("w"))), lit(64L)))
      val coin = pmod(TextOps.portableHash32(
        concat(lit("dsirk|"), col("doc_id").cast("string"))), lit(1000000L))
      toks.select(col("doc_id"),
          element_at(typedLit(lam.toSeq), col("b").cast("int") + 1).as("lam"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), round(avg(col("lam")), 6).as("avg_logratio"))
        .withColumn("keep_ppm", least(lit(1000000L),
          round(exp(col("avg_logratio")) * 1e6).cast("long")))
        .withColumn("kept", (coin < col("keep_ppm")).cast("int"))
        .select(col("doc_id"), col("n_tokens"), col("avg_logratio"),
          col("keep_ppm"), col("kept"))
        .orderBy(col("doc_id"))
    },
      // hashed-bucket target/raw distributions with add-one smoothing,
      // ln-under-avg round(6), exp of the ROUNDED score as an integer
      // ppm threshold, md5 ppm coin
      "WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) w FROM documents), " +
      "tb AS (SELECT doc_id, lang, " +
      "CAST('0x' || substr(md5('dsir|' || w), 1, 8) AS BIGINT) % 64 b FROM t), " +
      "c AS (SELECT b, SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) ct, COUNT(*) cr " +
      "FROM tb GROUP BY b), " +
      "tot AS (SELECT CAST(SUM(ct) AS BIGINT) tt, CAST(SUM(cr) AS BIGINT) tr FROM c), " +
      "lam AS (SELECT b, ln((ct + 1.0) / (tt + 64)) - ln((cr + 1.0) / (tr + 64)) lam " +
      "FROM c CROSS JOIN tot), " +
      "d AS (SELECT doc_id, COUNT(*) n_tokens, round(AVG(lam), 6) avg_logratio " +
      "FROM tb JOIN lam USING (b) GROUP BY doc_id), " +
      "k AS (SELECT doc_id, n_tokens, avg_logratio, " +
      "LEAST(1000000, CAST(round(exp(avg_logratio) * 1000000) AS BIGINT)) keep_ppm FROM d) " +
      "SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, avg_logratio, keep_ppm, " +
      "CAST(CASE WHEN CAST('0x' || substr(md5('dsirk|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) " +
      "% 1000000 < keep_ppm THEN 1 ELSE 0 END AS INT) AS kept " +
      "FROM k ORDER BY doc_id"),

    // DoReMi-style domain reweighting ("DoReMi: Optimizing Data
    // Mixtures Speeds Up Language Model Pretraining", Xie et al.
    // 2023): LEARN per-source mixture weights by exponentiated-
    // gradient ascent on EXCESS loss, where sample_mixture/
    // sample_temperature take the weights as given. The loss signal
    // is each source's token-weighted mean unigram surprisal (the
    // memoized surprisal store — already hash-green per doc), the
    // baseline is the CURRENT mixture's weighted mean loss (DoReMi's
    // domain-robust objective: the baseline moves each round, so the
    // fixed point is genuinely iterative, not a closed-form softmax),
    // and 4 EG rounds (eta = 0.2) run on the k-row (source, loss)
    // table COLLECTED TO THE DRIVER — the dsirLogRatios / q29b
    // driver-constants pattern: k = |sources|, never the corpus; the
    // corpus is touched exactly once (the store scan + one bounded
    // join/agg). Determinism: loss is exact integer micro-nats
    // (floor-div of integer sums of the per-doc rounded micros);
    // weights live in integer ppm; the only float per (round, source)
    // is ONE exp() immediately rounded to an integer update factor
    // (the sample_dsir regime), and renormalization is exact integer
    // floor-division by the integer update sum. Output is the weight
    // TRAJECTORY (step 0..4 per source) so convergence is a gated
    // surface; the oracle replays the loop unrolled.
    NamedQuery("sample_doremi_weights", (s, dir) => {
      import s.implicits._
      val ls = doremiLosses(s, dir)
      val k = ls.length
      var w: Array[Long] = Array.fill(k)(1000000L / k)
      val rows = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
      ls.indices.foreach(i => rows += ((0L, ls(i)._1, w(i))))
      for (t <- 1 to 4) {
        val b = ls.indices.map(i => w(i) * ls(i)._2).sum / 1000000L
        val u = ls.indices.map { i =>
          val ex = math.max(0L, ls(i)._2 - b)
          math.round(w(i) * StrictMath.exp(0.2 * ex / 1e6))
        }
        val us = u.sum
        w = u.map(x => x * 1000000L / us).toArray
        ls.indices.foreach(i => rows += ((t.toLong, ls(i)._1, w(i))))
      }
      rows.toSeq.toDF("step", "source", "w_ppm")
        .orderBy(col("step"), col("source"))
    },
      // the unigram-surprisal oracle composed verbatim; per-source loss
      // = floor-div of exact integer sums; the 4 EG rounds UNROLLED
      // (aggregates over the recursive reference are not legal in a
      // recursive CTE) — each round is one exp() per source rounded to
      // an integer update, then exact integer renormalization
      doremiOracleSql),

    // The ACT on the learned weights — the sampler the EG loop exists
    // to feed: per-source keep threshold thr = min(1e6, w_ppm * budget
    // div n_s) (budget = the sample_temperature convention, corpus/5;
    // n from parquet footers, zero jobs), decided per doc by the
    // portable hash coin. Same serving shape as sample_temperature —
    // the difference is WHERE the rates come from (learned vs
    // closed-form), which is exactly the DoReMi contribution. The
    // k-row rate table broadcasts; the corpus side is one map pass +
    // one bounded aggregate.
    NamedQuery("sample_doremi_apply", (s, dir) => {
      val w4 = SparkEntry.queries("sample_doremi_weights")(s, dir)
        .filter(col("step") === 4).select(col("source"), col("w_ppm"))
      val docs = Tables.documents(s, dir)
      val budget = Tables.parquetRowCount(s, s"$dir/documents.parquet") / 5
      val rates = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(w4, Seq("source"))
        .withColumn("thr", least(lit(1000000L),
          expr(s"(w_ppm * $budget) div n_docs")))
        .select(col("source"), col("thr"))
      val coin = pmod(TextOps.portableHash32(
        concat(lit("dra|"), col("doc_id").cast("string"))), lit(1000000L))
      keptBySource(docs, rates, coin, min(col("thr")))
    },
      // the learned weights composed verbatim (final step only), then
      // the sample_temperature serving shape: per-source integer keep
      // threshold + md5 ppm coin
      s"WITH daw AS ($doremiOracleSql), " +
      "daw4 AS (SELECT source, w_ppm FROM daw WHERE step = 4), " +
      "dac AS (SELECT source, CAST(COUNT(*) AS BIGINT) n_docs " +
      "FROM documents GROUP BY source), " +
      "dab AS (SELECT CAST(COUNT(*) // 5 AS BIGINT) budget FROM documents), " +
      "dar AS MATERIALIZED (SELECT dac.source, " +
      "least(CAST(w_ppm * budget // n_docs AS BIGINT), 1000000) thr " +
      "FROM dac JOIN daw4 USING (source), dab), " +
      "dak AS (SELECT d.source, r.thr, CAST(CASE WHEN " +
      "CAST('0x' || substr(md5('dra|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000000 < r.thr " +
      "THEN 1 ELSE 0 END AS INT) kept FROM documents d JOIN dar r USING (source)) " +
      "SELECT source, COUNT(*) AS n_docs, CAST(SUM(kept) AS BIGINT) AS n_kept, " +
      "CAST(MIN(thr) AS BIGINT) AS thr FROM dak GROUP BY source ORDER BY source"),

    // Token-budget curation: per source shard, rank docs by quality
    // (type-token ratio desc, ties to the lower doc_id) and keep the
    // greedy prefix whose cumulative subword-token spend fits the
    // shard budget — "best docs first until the budget runs out", the
    // selection step of a token-capped training mix. One window per
    // shard (the parallelism unit at 100 TB), no global sort, no
    // driver loop; cum_tokens is monotone within a shard so the
    // budget filter is an exact prefix.
    NamedQuery("sample_token_budget", (s, dir) => {
      val w = Window.partitionBy(col("source")).orderBy(col("ttr").desc, col("doc_id"))
      // tokenize ONCE into a materialized column: HOF lambda arguments
      // don't participate in codegen subexpression elimination, so
      // inlining the split into tokens/ttr would re-split each doc 3x
      Tables.documents(s, dir)
        .withColumn("ws", TextOps.tokens(col("text")))
        .withColumn("tokens", TextOps.subwordCount(col("ws")).cast("long"))
        .withColumn("ttr", round(size(array_distinct(col("ws"))) / size(col("ws")), 6))
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("cum_tokens",
          sum(col("tokens")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("cum_tokens") <= 4096)
        .select(col("source"), col("rk"), col("doc_id"), col("tokens"), col("cum_tokens"))
        .orderBy(col("source"), col("rk"))
    },
      "WITH t AS (SELECT source, doc_id, " +
      "CAST(list_sum(list_transform(string_split(text, ' '), w -> CAST(ceil(length(w)/4.0) AS BIGINT))) AS BIGINT) tokens, " +
      "round(len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')), 6) ttr " +
      "FROM documents), " +
      "r AS (SELECT source, doc_id, tokens, " +
      "CAST(row_number() OVER (PARTITION BY source ORDER BY ttr DESC, doc_id) AS BIGINT) rk, " +
      "CAST(SUM(tokens) OVER (PARTITION BY source ORDER BY ttr DESC, doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cum_tokens FROM t) " +
      "SELECT source, rk, doc_id, tokens, cum_tokens FROM r " +
      "WHERE cum_tokens <= 4096 ORDER BY source, rk"),

    // Soft deduplication (the SoftDeDup idea — down-WEIGHT copies
    // instead of dropping them, so training keeps every document but
    // a group of n byte-identical copies contributes one document's
    // worth of gradient mass): each copy in an exact-dup group of
    // size n gets weight 1e6 div n ppm, and the per-source report
    // rolls raw vs EFFECTIVE (weighted) doc and token mass up next to
    // the hard-dedup keep rate. Same synthetic doc_id % 7 re-uploads
    // and the same (source, content-hash) groups as
    // corpus_dedup_inflation — ONE shared frame
    // ([[reupContentGroups]]) so the ROI accounting and the weighting
    // cannot drift on what a "duplicate group" is. Integer-exact
    // throughout (ppm weights, micro token mass); the only double is
    // the final rounded ratio. Two hash aggregates, both
    // map-side-combinable — the same 100 TB shape as the inflation
    // report.
    NamedQuery("sample_soft_dedup", (s, dir) =>
      reupContentGroups(s, dir)
        .withColumn("w_ppm", expr("1000000 div n"))
        .groupBy(col("source"))
        .agg(sum(col("n")).as("n_docs"),
          sum(col("n") * col("w_ppm")).as("eff_docs_micro"),
          sum(col("n") * col("t")).as("tokens_total"),
          sum(col("n") * col("w_ppm") * col("t")).as("eff_tokens_micro"))
        .withColumn("soft_keep_frac",
          round(col("eff_tokens_micro") /
            (col("tokens_total").cast("double") * 1000000.0), 6))
        .orderBy(col("source").asc_nulls_last),
      // same re-upload UNION ALL + (source, md5) groups as the
      // inflation oracle (the shared reupContentGroups definition on
      // the Spark side); ppm weights and micro token mass are exact
      // integer arithmetic, only the final ratio is rounded
      "WITH u AS (SELECT source, text FROM documents " +
      "UNION ALL SELECT source, text FROM documents WHERE doc_id % 7 = 0), " +
      "d AS (SELECT source, md5(text) h, " +
      "CAST(list_sum(list_transform(string_split(text, ' '), w -> CAST(ceil(length(w)/4.0) AS BIGINT))) AS BIGINT) t " +
      "FROM u), " +
      "g AS (SELECT source, h, COUNT(*) n, MIN(t) t FROM d GROUP BY source, h), " +
      "w AS (SELECT source, n, t, 1000000 // n w_ppm FROM g) " +
      "SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs, " +
      "CAST(SUM(n * w_ppm) AS BIGINT) AS eff_docs_micro, " +
      "CAST(SUM(n * t) AS BIGINT) AS tokens_total, " +
      "CAST(SUM(n * w_ppm * t) AS BIGINT) AS eff_tokens_micro, " +
      "round(SUM(n * w_ppm * t) / (CAST(SUM(n * t) AS DOUBLE) * 1000000.0), 6) AS soft_keep_frac " +
      "FROM w GROUP BY source ORDER BY source"),

    // Perplexity-bucketed sampling — the LM-score mixing stage of
    // modern curation (DCLM/DoReMi flavor): bucket documents into
    // unigram-surprisal QUARTILES (exact equi-depth cuts over integer
    // micro-surprisal — Export.equiDepthCuts, the deterministic
    // quantized-CDF machinery) and keep per-bucket hash-coin fractions
    // that favor the MIDDLE of the distribution — the lowest-surprisal
    // quartile is boilerplate-heavy, the highest is noise-heavy, so
    // both downsample to 25% while the middle keeps 75%. Everything
    // is integers (micro scores, ppm coins) — fully deterministic and
    // SQL-replayable; the only additions over the score derivation's
    // own plan are the bounded-domain CDF and a map-side coin.
    NamedQuery("sample_perplexity_buckets", (s, dir) => {
      // both consumers (the CDF and the bucket/coin/agg pass) read
      // the memoized surprisal STORE directly — a parquet re-read is
      // cheaper than a localCheckpoint job, and skipping the served
      // query's output orderBy drops its range exchange too
      val scored = surprisalFrame(s, dir)
        .select(col("doc_id"),
          round(col("avg_surprisal") * 1e6).cast("long").as("sc"))
      // quartile boundaries stay a 3-row FRAME broadcast back onto
      // the scored docs (no driver collect, one fewer serialized
      // job); raise_error guards the empty-cuts degenerate case the
      // collect variant require()d. bucket = #cuts strictly below sc,
      // exactly Export.bucketOf's fold.
      val cutsRow = graft.operators.Export.equiDepthCutsFrame(scored, "sc", 4,
          // target ranks become literals (no total aggregate) — sized
          // on the STORE's own footer count, which is the CDF total by
          // construction even when NULL-text docs drop out of the
          // store (see surprisalStoreCount)
          nHint = Some(surprisalStoreCount(s, dir)))
        .agg(sort_array(collect_list(col("b"))).as("cuts"))
      val rates = Seq(250000L, 750000L, 750000L, 250000L)
      scored
        .crossJoin(broadcast(cutsRow))
        .withColumn("bucket",
          when(size(col("cuts")) =!= 3,
            raise_error(lit("equiDepthCutsFrame: degenerate cut set")))
            .otherwise(size(filter(col("cuts"), c => col("sc") > c)).cast("long")))
        .drop("cuts")
        .withColumn("coin", pmod(TextOps.portableHash32(
          concat(lit("pplx|"), col("doc_id").cast("string"))), lit(1000000L)))
        .withColumn("keep",
          (col("coin") < element_at(typedLit(rates), (col("bucket") + 1).cast("int")))
            .cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_kept"),
          min(col("sc")).as("lo_micro"), max(col("sc")).as("hi_micro"))
        .orderBy(col("bucket"))
    },
      // the unigram-surprisal oracle verbatim, micro-int scores, the
      // same CDF quartile cuts, md5 ppm coin, mid-heavy keep rates
      s"WITH u AS ($textUnigramLogprobSql), " +
      "d AS (SELECT doc_id, CAST(round(avg_surprisal * 1000000) AS BIGINT) sc FROM u), " +
      "cdf AS (SELECT sc, COUNT(*) c FROM d GROUP BY sc), " +
      "cum AS (SELECT sc, SUM(c) OVER (ORDER BY sc) cum FROM cdf), " +
      "tot AS (SELECT COUNT(*) n FROM d), " +
      "tg AS (SELECT i, (i * n + 3) // 4 t FROM (SELECT unnest([1, 2, 3]) i), tot), " +
      "b AS (SELECT tg.i, MIN(cum.sc) b FROM tg JOIN cum ON cum.cum >= tg.t GROUP BY tg.i), " +
      "bk AS (SELECT d.doc_id, d.sc, COUNT(b.b) AS bucket FROM d LEFT JOIN b ON d.sc > b.b " +
      "GROUP BY d.doc_id, d.sc), " +
      "k AS (SELECT bucket, sc, " +
      "CAST(CAST('0x' || substr(md5('pplx|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000000 AS BIGINT) coin, " +
      "CASE bucket WHEN 0 THEN 250000 WHEN 1 THEN 750000 WHEN 2 THEN 750000 ELSE 250000 END rate " +
      "FROM bk) " +
      "SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs, " +
      "CAST(SUM(CASE WHEN coin < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
      "CAST(MIN(sc) AS BIGINT) AS lo_micro, CAST(MAX(sc) AS BIGINT) AS hi_micro " +
      "FROM k GROUP BY bucket ORDER BY bucket"),

    // Deterministic per-epoch reshuffle (every multi-epoch training
    // run needs a DIFFERENT, REPLAYABLE order each epoch — torn jobs
    // must resume mid-epoch on the exact same sequence): the order
    // key is md5('ep<e>|' || doc_id), so epoch e's permutation is a
    // pure function of (epoch, doc_id) — no RNG state to checkpoint,
    // any worker can compute any slot. Reports the first 20 slots of
    // epochs 0 and 1 via per-epoch TakeOrderedAndProject (top-k by
    // hash key, never a global sort); the slot window runs over the
    // already-cut 20-row frames. The invariant spec pins that the two
    // epochs genuinely differ.
    NamedQuery("sample_epoch_shuffle", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val cut = (0 to 1).map { e =>
        docs.select(lit(e.toLong).as("epoch"), col("doc_id"),
          md5(concat(lit(s"ep$e|"), col("doc_id").cast("string"))).as("k"))
          .orderBy(col("k"), col("doc_id")).limit(20)
      }.reduce(_ unionByName _)
      cut.select(col("epoch"), col("doc_id"),
          row_number().over(Window.partitionBy(col("epoch"))
            .orderBy(col("k"), col("doc_id"))).cast("long").as("slot"))
        .select(col("epoch"), col("slot"), col("doc_id"))
        .orderBy(col("epoch"), col("slot"))
    },
      // the md5 order keys replayed per epoch; DuckDB || casts the
      // int epoch to text, matching the Spark literal prefix
      "WITH e AS (SELECT ep.epoch, d.doc_id, " +
      "md5('ep' || epoch || '|' || CAST(doc_id AS VARCHAR)) k " +
      "FROM (SELECT doc_id FROM documents) d, (SELECT unnest([0, 1]) epoch) ep), " +
      "r AS (SELECT epoch, doc_id, " +
      "row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) slot FROM e) " +
      "SELECT CAST(epoch AS BIGINT) AS epoch, CAST(slot AS BIGINT) AS slot, doc_id " +
      "FROM r WHERE slot <= 20 ORDER BY epoch, slot"),

    // Curriculum phase assignment (the easy-to-hard schedule of
    // curriculum learning, Bengio et al.): order the corpus by the
    // unigram-LM surprisal gate's own score (low surprisal = fluent,
    // "easy" text first) and cut it into 4 TOKEN-BALANCED phases, so
    // each curriculum stage feeds the trainer the same token budget.
    // Reuses the quality family's score verbatim (the SparkEntry.queries
    // registry — the gate and the schedule cannot drift) and the
    // export family's equi-depth machinery in its new WEIGHTED form
    // ([[graft.operators.Export.weightedEquiDepthCuts]]): boundaries
    // come from a distinct-key-sized CDF (never a global sort of the
    // corpus), the 3 cuts collect bounded, and phase assignment is a
    // map-side cut count — the export_ordered_shards posture at
    // 100 TB. Keys are the ROUNDED score in integer micros (exact on
    // both engines — the rounding contract already guarantees the
    // score values agree), equal keys share a phase by construction.
    NamedQuery("export_curriculum", (s, dir) => {
      val su = surprisalFrame(s, dir)
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_surprisal") * 1000000.0).cast("long").as("k"))
      val cuts = graft.operators.Export.weightedEquiDepthCuts(su, "k", "n_tokens", 4)
      su.withColumn("phase", graft.operators.Export.bucketOf(col("k"), cuts))
        .groupBy(col("phase"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("phase"))
    },
      // curriculum replay: the surprisal oracle composed verbatim,
      // token-weighted CDF over the distinct micro-score keys, the same
      // (i * n + 3) // 4 targets as weightedEquiDepthCuts, phase =
      // count of cuts strictly below the key; cu_ prefixes keep the
      // outer CTEs clear of the nested arm's names
      s"WITH cusu AS ($textUnigramLogprobSql), " +
      "cud AS MATERIALIZED (SELECT doc_id, n_tokens, " +
      "CAST(round(avg_surprisal * 1000000) AS BIGINT) k FROM cusu), " +
      "cuck AS (SELECT k, CAST(SUM(n_tokens) AS BIGINT) c FROM cud GROUP BY k), " +
      "cucd AS MATERIALIZED (SELECT k, SUM(c) OVER (ORDER BY k) cum FROM cuck), " +
      "cutt AS (SELECT CAST(SUM(n_tokens) AS BIGINT) n FROM cud), " +
      "cutg AS (SELECT i, (i * n + 3) // 4 t FROM (SELECT unnest([1, 2, 3]) i), cutt), " +
      "cuts AS MATERIALIZED (SELECT i, MIN(k) b FROM cutg JOIN cucd ON cucd.cum >= cutg.t GROUP BY i), " +
      "cuph AS (SELECT d.doc_id, d.n_tokens, d.k, " +
      "(SELECT COUNT(*) FROM cuts c WHERE c.b < d.k) phase FROM cud d) " +
      "SELECT CAST(phase AS BIGINT) AS phase, COUNT(*) AS n_docs, " +
      "CAST(SUM(n_tokens) AS BIGINT) AS n_tokens, " +
      "MIN(k) AS min_k, MAX(k) AS max_k " +
      "FROM cuph GROUP BY phase ORDER BY phase"),

    // Deterministic dataloader INTERLEAVE schedule (stride scheduling,
    // Waldspurger-style, with weight = source size — i.e. proportional
    // fair-share): sample_mixture decides WHAT survives a mixture;
    // this decides the ORDER a dataloader consumes it in, so no
    // source floods the head of training. Each doc's virtual time is
    // rk * 1e6 div n_source (integer — bit-exact cross-engine): a
    // source with k docs lands ~its k/n share of every schedule
    // prefix. Per-source rank is one window (the parallelism unit);
    // the output is the FIRST 200 slots via TakeOrderedAndProject
    // (top-k by vt, never a global sort), slot = row_number over the
    // already-cut 200 rows.
    NamedQuery("export_interleave", (s, dir) => {
      val wSrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      val v = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"))
        .withColumn("rk", row_number().over(wSrc).cast("long"))
        .withColumn("ns", count(lit(1)).over(Window.partitionBy(col("source"))))
        .withColumn("vt_micro", expr("(rk * 1000000) div ns"))
        .select(col("source"), col("doc_id"), col("vt_micro"))
        .orderBy(col("vt_micro"), col("source"), col("doc_id"))
        .limit(200)
      v.withColumn("slot",
          row_number().over(Window.orderBy(col("vt_micro"), col("source"), col("doc_id")))
            .cast("long"))
        .select(col("slot"), col("source"), col("doc_id"), col("vt_micro"))
        .orderBy(col("slot"))
    },
      "WITH s AS (SELECT source, doc_id, " +
      "row_number() OVER (PARTITION BY source ORDER BY doc_id) rk FROM documents), " +
      "n AS (SELECT source, COUNT(*) ns FROM documents GROUP BY source), " +
      "v AS (SELECT s.source, doc_id, CAST(rk * 1000000 // ns AS BIGINT) vt_micro " +
      "FROM s JOIN n ON s.source = n.source), " +
      "t AS (SELECT source, doc_id, vt_micro FROM v " +
      "ORDER BY vt_micro, source, doc_id LIMIT 200) " +
      "SELECT CAST(row_number() OVER (ORDER BY vt_micro, source, doc_id) AS BIGINT) AS slot, " +
      "source, doc_id, vt_micro FROM t ORDER BY slot"),

    // Shard-export audit: the deterministic global shuffle that turns a
    // curated corpus into fixed training shards (operators.Export).
    // shard = hash(doc_id) mod 16, within-shard order = an INDEPENDENT
    // domain-prefixed hash; this query audits the assignment —
    // per-shard doc counts (balance), token totals (dataloader
    // budgeting), and a rank checksum that pins the within-shard
    // ordering cross-engine. Everything before the final agg is
    // map-side; the writer twin (Export.writeShards) adds exactly one
    // hash exchange on `shard`.
    // Audit frame of the GLOBALLY ORDERED export (Export.orderedShards
    // — deterministic quantized-CDF range boundaries, the
    // repartitionByRange twin whose cuts don't depend on run-time
    // sampling): per shard, count + key range + doc range. The global
    // order is VISIBLE in the result: shard j's hi never exceeds shard
    // j+1's lo (equal keys always share a shard), which the oracle
    // hash-checks by replaying the same CDF cuts.
    NamedQuery("export_ordered_shards", (s, dir) => {
      graft.operators.Export.orderedShards(Tables.documents(s, dir), 16)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("ord_key")).as("lo"), max(col("ord_key")).as("hi"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("shard"))
    },
      // the quantized-CDF cuts replayed: equi-depth targets
      // t_i = (i*n + 15) // 16, cut_i = least key with cum >= t_i,
      // shard = count of cuts strictly below the key (LEFT JOIN so
      // shard 0 keeps its docs), then the per-shard audit
      "WITH d AS (SELECT doc_id, " +
      "CAST(list_sum(list_transform(string_split(text, ' '), w -> CAST(ceil(length(w)/4.0) AS BIGINT))) AS BIGINT) k " +
      "FROM documents), " +
      "cdf AS (SELECT k, COUNT(*) c FROM d GROUP BY k), " +
      "cum AS (SELECT k, SUM(c) OVER (ORDER BY k) cum FROM cdf), " +
      "tot AS (SELECT COUNT(*) n FROM d), " +
      "tg AS (SELECT i, (i * n + 15) // 16 t FROM (SELECT unnest(generate_series(1, 15)) i), tot), " +
      "b AS (SELECT tg.i, MIN(cum.k) b FROM tg JOIN cum ON cum.cum >= tg.t GROUP BY tg.i), " +
      "sh AS (SELECT d.doc_id, d.k, COUNT(b.b) AS shard FROM d LEFT JOIN b ON d.k > b.b " +
      "GROUP BY d.doc_id, d.k) " +
      "SELECT CAST(shard AS INT) AS shard, COUNT(*) AS n_docs, " +
      "CAST(MIN(k) AS BIGINT) AS lo, CAST(MAX(k) AS BIGINT) AS hi, " +
      "CAST(MIN(doc_id) AS BIGINT) AS min_doc, CAST(MAX(doc_id) AS BIGINT) AS max_doc " +
      "FROM sh GROUP BY shard ORDER BY shard"),

    NamedQuery("export_shard_stats", (s, dir) => {
      shardStats(Tables.documents(s, dir), "text")
    },
      "SELECT shard, COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS shard_tokens, " +
      "CAST(SUM(rk) AS BIGINT) AS rank_checksum, CAST(MIN(doc_id) AS BIGINT) AS min_doc, " +
      "CAST(MAX(doc_id) AS BIGINT) AS max_doc FROM (" +
      "SELECT doc_id, " +
      "CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 16 AS INT) shard, " +
      "CAST('0x' || substr(md5('ord|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) rk, " +
      "CAST(list_sum(list_transform(string_split(text, ' '), w -> CAST(ceil(length(w)/4.0) AS BIGINT))) AS BIGINT) tokens " +
      "FROM documents) GROUP BY shard ORDER BY shard"),

    // Export integrity manifest — the checksum file a consumer
    // verifies BEFORE training on a copied/transferred export (shard
    // stats say how big; the manifest says the CONTENT is intact):
    // per shard, doc/byte totals plus two order-free checksums — the
    // id sum (membership) and the summed md5-prefix of each doc's
    // text (content; a single flipped byte anywhere in the shard
    // moves it). Same shuffledShards assignment as the writer and the
    // stats query (one definition), one map-side projection + one
    // 16-row aggregate; integer-exact, no rounding contract.
    NamedQuery("export_manifest", (s, dir) =>
      graft.operators.Export.shuffledShards(Tables.documents(s, dir), 16)
        .select(col("shard"), col("doc_id"),
          octet_length(col("text")).cast("long").as("nb"),
          TextOps.portableHash32(col("text")).as("ck"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nb")).as("n_bytes"),
          sum(col("doc_id")).as("id_checksum"),
          sum(col("ck")).as("content_checksum"))
        .orderBy(col("shard")),
      // same shard coin as export_shard_stats; checksums are exact
      // integer sums (order-free) of the md5-prefix ints
      "SELECT shard, COUNT(*) AS n_docs, CAST(SUM(nb) AS BIGINT) AS n_bytes, " +
      "CAST(SUM(doc_id) AS BIGINT) AS id_checksum, " +
      "CAST(SUM(ck) AS BIGINT) AS content_checksum FROM (" +
      "SELECT doc_id, " +
      "CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 16 AS INT) shard, " +
      "CAST(octet_length(encode(text)) AS BIGINT) nb, " +
      "CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) ck " +
      "FROM documents) GROUP BY shard ORDER BY shard"),

    // Rank-weighted sampling: keep each doc with probability
    // proportional to its PageRank — the quality-weighted corpus cut
    // (C4/CCNet-style pipelines weight crawl sampling by link
    // authority). Composes crawl_pagerank's fixed-point ranks with the
    // portable hash coin: keep iff coin(doc) < rank_ppm div 4 (~21%
    // average acceptance at rank scale 1e6) — all integers, fully
    // deterministic, zero extra exchanges beyond the rank loop's own
    // (the coin and threshold are map-side on the rank frame).
    // Consumes the [[pagerankFrame]] STORE (not a re-invocation of the
    // crawl_pagerank query), so the rank fixed point runs at most once
    // per corpus version.
    NamedQuery("sample_rank_weighted", (s, dir) => {
      val coin = pmod(TextOps.portableHash32(concat(lit("rw|"),
        col("doc_id").cast("string"))), lit(1000000L))
      pagerankFrame(s, dir)
        .withColumn("coin", coin)
        .filter(col("coin") < expr("rank_ppm div 4"))
        .select(col("doc_id"), col("rank_ppm"), col("coin"))
        .orderBy(col("doc_id"))
    },
      {
      // the crawl_pagerank rank CTEs, then the portable md5 coin
      // against rank_ppm div 4
      dampedRanksSql(derivedLinksSql, ", ") +
      "coined AS (SELECT i AS doc_id, r AS rank_ppm, " +
      "CAST('0x' || substr(md5('rw|' || CAST(i AS VARCHAR)), 1, 8) AS BIGINT) % 1000000 AS coin " +
      "FROM r5) " +
      "SELECT doc_id, rank_ppm, coin FROM coined WHERE coin < rank_ppm // 4 " +
      "ORDER BY doc_id"
    }),

    // Sequence packing, the SCALE-PATH twin of `text_pack` (the q29 /
    // q29b relationship): text_pack packs per SOURCE — its prefix-sum
    // window is bounded only while sources stay numerous — while this
    // packs WITHIN (source, shard-of-256-docs) units, the way real
    // distributed packers shard the sequential dependency so no
    // prefix-sum crosses workers (high-cardinality partition key,
    // bounded rows per unit). Same greedy first-fit rule: a doc that
    // crosses the boundary opens the next bin (bin = exclusive-prefix
    // div capacity); per-bin fill ratios are the padding-waste metric
    // export_length_buckets reports for the bucketed strategy.
    NamedQuery("export_token_packing", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val n = TextOps.subwordCount(TextOps.tokens(col("text"))).cast("long")
      val w = Window.partitionBy(col("source"), col("shard"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), n.as("n"))
        .withColumn("shard", expr("doc_id div 256"))
        .withColumn("cum", sum(col("n")).over(w))
        .withColumn("bin", expr("(cum - n) div 512"))
        .groupBy(col("source"), col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
          round(sum(col("n")) / 512.0, 4).as("fill"))
        .orderBy(col("source"), col("shard"), col("bin"))
    },
      // greedy first-fit replayed with the same exclusive-prefix bin
      // rule over the same (source, shard) packing units
      "WITH t AS (SELECT source, doc_id, doc_id // 256 AS shard, " +
      "CAST(list_sum(list_transform(string_split(text, ' '), " +
      "w -> CAST(ceil(length(w)/4.0) AS BIGINT))) AS BIGINT) n FROM documents), " +
      "c AS (SELECT *, SUM(n) OVER (PARTITION BY source, shard ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum FROM t), " +
      "b AS (SELECT source, shard, CAST((cum - n) // 512 AS BIGINT) bin, n FROM c) " +
      "SELECT source, shard, bin, COUNT(*) AS n_docs, " +
      "CAST(SUM(n) AS BIGINT) AS n_tokens, " +
      "round(CAST(SUM(n) AS BIGINT)/512.0, 4) AS fill " +
      "FROM b GROUP BY source, shard, bin ORDER BY source, shard, bin"),

    // Per-stratum reservoir sample — "give me k uniform events per
    // type" as ONE bounded aggregate: rank every event by a portable
    // hash coin (hash order IS a uniform permutation, so the k
    // smallest hashes are a uniform k-sample without replacement —
    // and, unlike a true reservoir, replay-deterministic), and select
    // them with the bounded [[graft.functions.SketchAgg.TopK]]
    // aggregator (score = negated hash, ties to the lower event_id).
    // Map-side partials ship <= k rows per type per partition — the
    // distributed-reservoir property — where a window row_number would
    // sort each stratum on one task.
    NamedQuery("sample_reservoir", (s, dir) => {
      import s.implicits._
      topKPerType(Tables.events(s, dir)
        .select(col("event_type"),
          TextOps.portableHash32(concat(lit("rsv|"),
            col("event_id").cast("string"))).as("h"),
          col("event_id"), col("user_id"))
        .as[(String, Long, Long, Long)]
        .groupByKey(_._1)
        .mapValues(t => graft.functions.SketchAgg.TopKRow(-t._2, t._3, t._4)), 5)
        .select(col("event_type"), (col("i0") + 1).cast("long").as("rk"),
          col("t.id").as("event_id"), col("t.payload").as("user_id"),
          (-col("t.score")).as("h"))
        .orderBy(col("event_type"), col("rk"))
    },
      // hash order is the uniform permutation; the window head replays
      // the bounded TopK selection exactly (h asc, event_id tiebreak)
      "WITH t AS (SELECT event_type, event_id, user_id, " +
      "CAST('0x' || substr(md5('rsv|' || CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) h " +
      "FROM events), " +
      "r AS (SELECT *, row_number() OVER (PARTITION BY event_type " +
      "ORDER BY h, event_id) rk FROM t) " +
      "SELECT event_type, CAST(rk AS BIGINT) AS rk, event_id, user_id, h " +
      "FROM r WHERE rk <= 5 ORDER BY event_type, rk"),

    // Deterministic train/val/test split — the canonical ML-data
    // assignment: a portable hash coin in [0, 100) maps to 90/5/5,
    // STRATIFIED by source (each source splits at the same rates, so
    // no split is accidentally dominated by one source). Pure map-side
    // + a tiny (source x split) aggregate; the id-sum checksum pins
    // the exact membership, not just the counts.
    NamedQuery("export_splits", (s, dir) => {
      val coin = pmod(TextOps.portableHash32(concat(lit("split|"),
        col("doc_id").cast("string"))), lit(100L))
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), coin.as("coin"))
        .withColumn("split",
          when(col("coin") < 90, "train")
            .when(col("coin") < 95, "val")
            .otherwise("test"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
        .orderBy(col("source"), col("split"))
    },
      "WITH t AS (SELECT source, doc_id, " +
      "CAST('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 coin " +
      "FROM documents) " +
      "SELECT source, (CASE WHEN coin < 90 THEN 'train' WHEN coin < 95 THEN 'val' " +
      "ELSE 'test' END) AS split, COUNT(*) AS n_docs, " +
      "CAST(SUM(doc_id) AS BIGINT) AS id_checksum " +
      "FROM t GROUP BY source, split ORDER BY source, split"),

    // Split-leakage audit: near-duplicate pairs that STRADDLE the
    // train/test boundary — the quiet eval-contamination channel that
    // survives naive random splits (a test doc whose near-dup twin is
    // in train is effectively memorized). Composes the MinHash
    // verified near-dup pairs with the split coin: both sides of each
    // pair get their split map-side (hash arithmetic on ids already in
    // the row — no join back to documents), then one answer-sized
    // aggregate per (split_a, split_b) with a leak flag on any pair
    // leaving train. The production fix is cluster-level splitting
    // (assign whole dedup_clusters to one split); this audit is how
    // you discover you need it.
    NamedQuery("export_split_leakage", (s, dir) => {
      def splitOf(id: Column): Column = {
        val coin = pmod(TextOps.portableHash32(concat(lit("split|"),
          id.cast("string"))), lit(100L))
        when(coin < 90, "train").when(coin < 95, "val").otherwise("test")
      }
      verifiedPairsFrame(s, dir) // r18: the store, not a re-invocation
        .select(col("a_id"), col("b_id"))
        .withColumn("split_a", splitOf(col("a_id")))
        .withColumn("split_b", splitOf(col("b_id")))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("a_id") + col("b_id")).as("pair_checksum"))
        .withColumn("leaky",
          (col("split_a") =!= col("split_b")).cast("int"))
        .orderBy(col("split_a"), col("split_b"))
    },
      // the dedup_minhash_verified oracle verbatim as the pair source,
      // then the same split-coin arithmetic per pair side
      s"WITH pairs AS ($dedupMinhashVerifiedSql), " +
      "t AS (SELECT a_id, b_id, " +
      "(CASE WHEN ha < 90 THEN 'train' WHEN ha < 95 THEN 'val' ELSE 'test' END) split_a, " +
      "(CASE WHEN hb < 90 THEN 'train' WHEN hb < 95 THEN 'val' ELSE 'test' END) split_b " +
      "FROM (SELECT a_id, b_id, " +
      "CAST('0x' || substr(md5('split|' || CAST(a_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 ha, " +
      "CAST('0x' || substr(md5('split|' || CAST(b_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 hb " +
      "FROM pairs)) " +
      "SELECT split_a, split_b, COUNT(*) AS n_pairs, " +
      "CAST(SUM(a_id + b_id) AS BIGINT) AS pair_checksum, " +
      "CAST(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS INT) AS leaky " +
      "FROM t GROUP BY split_a, split_b ORDER BY split_a, split_b"),

    // Cluster-aware split — the FIX export_split_leakage motivates:
    // hash the near-dup CLUSTER id (connected-component label;
    // singleton docs are their own cluster), not the doc id, so every
    // member of a duplicate family lands in the same split and
    // cross-split leakage is zero BY CONSTRUCTION (the invariant spec
    // re-derives the pair set and asserts it). Costs one extra
    // left join against the answer-sized label frame on top of
    // export_splits' plan.
    NamedQuery("export_split_clustered", (s, dir) =>
      minhashClusterLabels(s, dir) { labels =>
        val docs = Tables.documents(s, dir).select(col("doc_id"))
          .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("label"), col("doc_id")))
        val coin = pmod(TextOps.portableHash32(concat(lit("split|"),
          col("cluster_id").cast("string"))), lit(100L))
        docs.withColumn("split",
            when(coin < 90, "train").when(coin < 95, "val").otherwise("test"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cluster_id")).as("n_clusters"),
            sum(col("doc_id")).as("id_checksum"))
          .orderBy(col("split"))
      },
      // the CC labels CTEs + the split coin on the CLUSTER id
      s"WITH RECURSIVE $minhashPairsCtes, $ccCtes, " +
      "assigned AS (SELECT d.doc_id, COALESCE(l.label, d.doc_id) cluster_id " +
      "FROM documents d LEFT JOIN labels l ON d.doc_id = l.node), " +
      "c AS (SELECT doc_id, cluster_id, " +
      "CAST('0x' || substr(md5('split|' || CAST(cluster_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 coin " +
      "FROM assigned) " +
      "SELECT (CASE WHEN coin < 90 THEN 'train' WHEN coin < 95 THEN 'val' " +
      "ELSE 'test' END) AS split, COUNT(*) AS n_docs, " +
      "CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters, " +
      "CAST(SUM(doc_id) AS BIGINT) AS id_checksum " +
      "FROM c GROUP BY split ORDER BY split"),

    // Sequence-length bucketing + padding-waste audit — the dataloader
    // efficiency view: docs batch by pow2 length ceiling, and every
    // token of (ceiling - length) is padding the GPU burns for
    // nothing. Buckets via an exact integer CASE ladder, NOT
    // ceil(log2(n)) — float log2 at an exact power-of-two boundary is
    // a cross-engine ULP cliff; the ladder is boundary-exact in both.
    // One map-side pass + a 5-row aggregate; waste_pct is the one
    // rounded ratio.
    NamedQuery("export_length_buckets", (s, dir) => {
      val n = TextOps.subwordCount(TextOps.tokens(col("text"))).cast("long")
      Tables.documents(s, dir)
        .select(col("doc_id"), n.as("n"))
        .withColumn("bucket_ceil",
          when(col("n") <= 16, 16L).when(col("n") <= 32, 32L)
            .when(col("n") <= 64, 64L).when(col("n") <= 128, 128L)
            .otherwise(256L))
        .groupBy(col("bucket_ceil"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("n_tokens"),
          sum(col("bucket_ceil") - col("n")).as("pad_tokens"),
          round(sum(col("bucket_ceil") - col("n")).cast("double") /
            sum(col("bucket_ceil")), 4).as("waste_pct"))
        .orderBy(col("bucket_ceil"))
    },
      "WITH t AS (SELECT doc_id, " +
      "CAST(list_sum(list_transform(string_split(text, ' '), " +
      "w -> CAST(ceil(length(w)/4.0) AS BIGINT))) AS BIGINT) n FROM documents), " +
      "b AS (SELECT doc_id, n, CAST(CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 " +
      "WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128 ELSE 256 END AS BIGINT) bucket_ceil FROM t) " +
      "SELECT bucket_ceil, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens, " +
      "CAST(SUM(bucket_ceil - n) AS BIGINT) AS pad_tokens, " +
      "round(CAST(SUM(bucket_ceil - n) AS DOUBLE) / SUM(bucket_ceil), 4) AS waste_pct " +
      "FROM b GROUP BY bucket_ceil ORDER BY bucket_ceil"),

    // Z-order (Morton) clustering key — the lakehouse data-layout
    // technique behind multi-column data skipping: interleaving the
    // bits of two columns gives a single sort key under which every
    // contiguous file slice covers a BOUNDED RECTANGLE of (a, b)
    // space, so min/max footer pruning works for predicates on EITHER
    // column (a plain sort only ever skips on its leading column).
    // The query buckets events into 16 z-ranges and reports each
    // range's bounding box — pure integer bit arithmetic, replayed
    // verbatim by the oracle; ZOrderLayoutSpec MEASURES the skipping
    // win (per-partition bounding-box area under z-range partitioning
    // vs id-range partitioning) since the layout property itself is
    // invisible in any result set.
    NamedQuery("export_zorder", (s, dir) => {
      val a = pmod(col("user_id"), lit(256L))
      val b = pmod(floor(col("value")).cast("long"), lit(256L))
      val z = (0 until 8).map { i =>
        shiftleft(shiftright(col("a"), i).bitwiseAND(lit(1L)), 2 * i) +
          shiftleft(shiftright(col("b"), i).bitwiseAND(lit(1L)), 2 * i + 1)
      }.reduce(_ + _)
      Tables.events(s, dir)
        .select(col("event_id"), a.as("a"), b.as("b"))
        .withColumn("zval", z)
        .withColumn("zbucket", expr("zval div 4096"))
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("a")).as("a_lo"), max(col("a")).as("a_hi"),
          min(col("b")).as("b_lo"), max(col("b")).as("b_hi"))
        .orderBy(col("zbucket"))
    },
      {
      // identical bit interleave: sum over i of ((a>>i)&1)<<2i +
      // ((b>>i)&1)<<(2i+1) — integer-exact in both engines
      val zExpr = (0 until 8).map(i =>
        s"(((a >> $i) & 1) << ${2 * i}) + (((b >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      "WITH ab AS (SELECT event_id, user_id % 256 a, " +
      "CAST(floor(value) AS BIGINT) % 256 b FROM events), " +
      s"z AS (SELECT event_id, a, b, $zExpr zval FROM ab) " +
      "SELECT zval // 4096 AS zbucket, COUNT(*) AS n, " +
      "CAST(MIN(a) AS BIGINT) AS a_lo, CAST(MAX(a) AS BIGINT) AS a_hi, " +
      "CAST(MIN(b) AS BIGINT) AS b_lo, CAST(MAX(b) AS BIGINT) AS b_hi " +
      "FROM z GROUP BY zbucket ORDER BY zbucket"
    })
  )
}
