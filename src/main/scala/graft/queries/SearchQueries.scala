package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Stores, Tables}
import graft.operators.VectorOps
import graft.queries.SimilarityQueries.{cosineTopFrame, embComponents, embMicro, simCosineTopkSql}

/** Lexical retrieval: the posting store, BM25 (scanned and indexed),
  * query likelihood, phrase, facets, snippets, RM3 / Rocchio feedback,
  * hybrid RRF fusion and its nDCG evaluation.
  */
object SearchQueries {

  /** The (doc_id, term, tf, df, dl) posting frame shared by the
    * retrieval family (`search_postings`, `corpus_keywords`,
    * `search_bm25_topk`) — the text analog of the perceptual
    * fingerprint stores: an inverted index IS a materialized structure
    * in any real retrieval system, built once per corpus version and
    * served many times, so the store lifecycle ([[Stores]])
    * reproduces production rather than re-tokenizing the corpus inside
    * every query. One native
    * [[graft.functions.TextExpressions.TermCountStructs]] counting
    * pass per doc; the build spreads the tokenizer across cores first
    * (a small corpus arrives as ONE parquet split, which would
    * serialize the scan — at real scale the splits already exceed the
    * core count and the exchange is skipped). Beside the term
    * dictionary's df, every posting row also carries the document
    * LENGTH dl = sum of the doc's term counts (== `size(split(text,
    * ' '))` exactly — the native tokenizer reproduces `split`'s
    * empty-token semantics, see `boundaries`): the Lucene-norms
    * pattern, so length-normalized scorers (BM25) read everything
    * they need per doc from the matched posting rows alone.
    *
    * BUILD/SERVE LIFECYCLE CONTRACT: at 100 TB the build is a
    * SCHEDULED job per corpus drop (exactly like
    * [[graft.operators.Similarity.saveIndex]] vs `probeIndex`) and
    * serving is ALWAYS a store scan — no serving query may re-pay the
    * full-corpus tokenize. ScalePostureSpec ("posting-store serving
    * plans never re-tokenize") machine-checks this: the executed plans
    * of the lexical serving queries must contain a parquet scan and no
    * tokenizer expression.
    */
  private[graft] def postingFrame(s: SparkSession, dir: String): DataFrame =
    Stores.frame(s, "postings", dir, "documents") {
      val docs0 = Tables.documents(s, dir)
      val para = s.sparkContext.defaultParallelism
      val docs =
        if (docs0.rdd.getNumPartitions < para) docs0.repartition(para) else docs0
      // construction (one native counting pass, dl folded before the
      // explode, df denormalized via a vocab-sized broadcast — the
      // term DICTIONARY of a real inverted index) lives in
      // [[operators.TextIndex.postingsOf]], the one definition shared
      // with the persisted index's base build and streaming segments.
      // The store is written TERM-CLUSTERED (range partition + sort —
      // the sorted-posting-list layout of a real index): each file
      // covers a narrow term range, so a probe's pushed `term IN`
      // filter prunes whole files via footer min/max instead of
      // row-filtering the full store. One extra exchange at build,
      // paid once per corpus version.
      graft.operators.TextIndex.postingsOf(docs)
        .repartitionByRange(para, col("term"))
        .sortWithinPartitions(col("term"))
    }

  /** The pinned query terms' CORPUS FREQUENCIES (Σtf per term) as a
    * driver-memoized array aligned with [[Bm25Terms]] — index
    * metadata like [[postingSumdl]], one bounded 1-row head() per
    * corpus version.
    */
  private def termCf(s: SparkSession, dir: String): Array[Long] =
    Stores.value(s, "term-cf", dir, "documents") {
      val cfAggs = Bm25Terms.zipWithIndex.map { case (t, i) =>
        coalesce(sum(when(col("term") === t, col("tf"))), lit(0L)).as(s"cf$i") }
      val r = postingFrame(s, dir).filter(col("term").isin(Bm25Terms: _*))
        .groupBy().agg(cfAggs.head, cfAggs.tail: _*).head()
      Array(r.getLong(0), r.getLong(1), r.getLong(2))
    }

  /** The posting store's total token count as a DRIVER-MEMOIZED
    * scalar (one bounded 1-row head() at first use per corpus
    * version): lexical scorers splice it in as a literal, so serving
    * pays ZERO stats jobs — the index-metadata lookup of a real search
    * node. The bounded collect is the pq-bank precedent (1 value,
    * never corpus-scale).
    */
  private def postingSumdl(s: SparkSession, dir: String): Long =
    Stores.value(s, "sumdl", dir, "documents") {
      postingStatsFrame(s, dir).head().getLong(0)
    }

  /** One-row corpus statistics of the posting store (total token
    * count `sumdl`) — the index-metadata side of the store. BM25's
    * avgdl then costs the scorer a one-row broadcast instead of a
    * query-time aggregate over the whole store. (Corpus SIZE n comes from the parquet
    * footers — metadata-only, no job — so it is not stored here.)
    */
  private def postingStatsFrame(s: SparkSession, dir: String): DataFrame =
    Stores.frame(s, "postingstats", dir, "documents") {
      // sum over DISTINCT docs, not posting rows (dl is denormalized
      // onto every posting of a doc): fold one row per doc first.
      postingFrame(s, dir).groupBy(col("doc_id"))
        .agg(max(col("dl")).as("dl"))
        .agg(sum(col("dl")).as("sumdl"))
    }

  /** The BM25 top-20 frame behind `search_bm25_topk`, factored out so
    * `search_hybrid_rrf` fuses the SAME lexical ranking (one
    * definition — the recallRungs discipline applied to retrieval
    * fusion). See the `search_bm25_topk` entry for the plan contract.
    */
  private[queries] def bm25TopFrame(s: SparkSession, dir: String): DataFrame =
    bm25Score(s, dir,
      postingFrame(s, dir).filter(col("term").isin(Bm25Terms: _*)))

  /** The pinned three-term probe query of the retrieval family. */
  private[graft] val Bm25Terms = Seq("vector", "stream", "window")

  /** Per-corpus-version PERSISTED text index ([[operators.TextIndex]]):
    * the posting store bucketed by term hash on disk, built once per
    * corpus version ([[Stores]]) and served by
    * partition-pruned probes.
    */
  private[graft] def textIndexDir(s: SparkSession, dir: String): String =
    Stores.value(s, "text-index", dir, "documents") {
      val out = Stores.newDir("text-index")
      graft.operators.TextIndex.save(postingFrame(s, dir), out)
      out
    }

  /** BM25 scoring tail over an already-matched posting frame — shared
    * by the memoized-store path (`search_bm25_topk`) and the persisted
    * partition-pruned index path (`search_bm25_indexed`), so the two
    * serving shapes cannot drift on the scoring arithmetic.
    */
  private def bm25Score(s: SparkSession, dir: String,
      matched: DataFrame): DataFrame =
    bm25ScoreTail(s, dir, lexPivotFrame(matched))

  /** The per-doc (dl, tf0..tf2, df0..df2) pivot every LEXICAL scorer
    * runs on — the single exchange of the serving family, shared (via
    * one localCheckpoint in `search_eval_ndcg`) by BM25, Dirichlet QL,
    * the gains table and the cf row so a multi-arm consumer probes the
    * posting store exactly once.
    */
  private[graft] def lexPivotFrame(matched: DataFrame): DataFrame = {
    val aggs =
      max(col("dl")).as("dl") +:
      Bm25Terms.zipWithIndex.flatMap { case (t, i) => Seq(
        coalesce(max(when(col("term") === t, col("tf"))), lit(0L)).as(s"tf$i"),
        coalesce(max(when(col("term") === t, col("df"))), lit(0L)).as(s"df$i"))
      }
    matched.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** BM25 arithmetic + top-20 cut over an already-pivoted frame.
    * Corpus stats (n from footers, sumdl from the memoized scalar)
    * enter as LITERALS — the index-metadata lookup of a real serving
    * node, zero per-query jobs — with the cast-to-double arithmetic of
    * a one-row stats broadcast.
    */
  private def bm25ScoreTail(s: SparkSession, dir: String,
      perDoc: DataFrame): DataFrame = {
    val n = Tables.parquetRowCount(s, s"$dir/documents.parquet")
    val avgdl = lit(postingSumdl(s, dir)).cast("double") / lit(n)
    def termScore(i: Int): Column = {
      val tf = col(s"tf$i").cast("double")
      val df = col(s"df$i").cast("double")
      val idf = log(lit(1.0) + (lit(n) - df + 0.5) / (df + 0.5))
      idf * (tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    }
    perDoc
      .select(col("doc_id"), col("dl"), col("tf0"), col("tf1"), col("tf2"),
        round(termScore(0) + termScore(1) + termScore(2), 6).as("bm25"))
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  /** Dirichlet query-likelihood scoring tail over an already-matched
    * posting frame (mu = 2000) — factored out of `search_ql_dirichlet`
    * so `search_eval_ndcg` can hand it the SAME matched frame its
    * other lexical consumers read instead of re-probing the posting
    * store per arm. See the `search_ql_dirichlet` entry for the
    * scoring contract.
    */
  private def qlTopFrame(s: SparkSession, dir: String, matched: DataFrame): DataFrame =
    qlScoreTail(s, dir, lexPivotFrame(matched))

  /** Dirichlet-QL arithmetic + top-20 cut over an already-pivoted
    * frame; the query terms' corpus frequencies are the pivot's own
    * column sums (each doc contributes its tf exactly once), so the cf
    * row needs no second pass over the postings.
    */
  private def qlScoreTail(s: SparkSession, dir: String,
      perDoc: DataFrame): DataFrame = {
    val mu = 2000.0
    // sumdl and the query terms' corpus frequencies enter as literals
      // (memoized index metadata) — the scorer is a pure projection +
    // top-k over the pivot, zero per-query joins
    val cf = termCf(s, dir)
    def termScore(i: Int): Column =
      log((col(s"tf$i").cast("double") +
        lit(mu) * lit(cf(i)).cast("double") /
          lit(postingSumdl(s, dir)).cast("double")) /
        (col("dl").cast("double") + lit(mu)))
    perDoc
      .select(col("doc_id"), col("dl"), col("tf0"), col("tf1"), col("tf2"),
        round(termScore(0) + termScore(1) + termScore(2), 6).as("ql"))
      .orderBy(col("ql").desc, col("doc_id"))
      .limit(20)
  }

  /** RRF fusion tail over ALREADY-BUILT arm frames — factored out so
    * `search_eval_ndcg` can hand it a shared (localCheckpointed) BM25
    * frame instead of letting the rrf arm recompute the whole lexical
    * subtree (SCALE.md search_eval_ndcg rows). `search_hybrid_rrf`
    * passes the live serving frames, so its plan is unchanged.
    */
  private def rrfFrame(lexTop: DataFrame, vecTop: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // fusion as UNION + single-partition aggregate, not a full-outer
    // join: Spark cannot broadcast either side of a FullOuter, so the
    // join formulation sort-merge-exchanged two k-row frames (two
    // shuffle stages for <=30 rows). Each arm contributes its rank
    // with 0 for the other arm; max() recovers the outer-join row
    // (ranks are >= 1, one row per doc per arm), and rank 0 maps to a
      // zero RRF term exactly like an outer join's null. coalesce(1) lets
    // the aggregate run without an exchange — k-bounded by contract.
    val lex = lexTop
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
          .cast("long").as("lex_rank"),
        lit(0L).as("vec_rank"))
    val vec = vecTop
      .select(col("vec_id").as("doc_id"),
        lit(0L).as("lex_rank"),
        row_number().over(Window.orderBy(col("cos_sim").desc, col("vec_id")))
          .cast("long").as("vec_rank"))
    lex.unionByName(vec)
      .coalesce(1)
      .groupBy(col("doc_id"))
      .agg(max(col("lex_rank")).as("lex_rank"), max(col("vec_rank")).as("vec_rank"))
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
        round(
          when(col("lex_rank") === 0, lit(0.0))
            .otherwise(lit(1.0) / (lit(60) + col("lex_rank"))) +
          when(col("vec_rank") === 0, lit(0.0))
            .otherwise(lit(1.0) / (lit(60) + col("vec_rank"))), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  /** RRF fusion replay, factored out so the nDCG eval oracle composes
    * the SAME string the `search_hybrid_rrf` gate checks: both arms
    * compose their own oracles verbatim as CTEs (nested WITH — the
    * quality_ensemble precedent), ranks from row_number over the same
    * (rounded score, id) order, fused with the same fixed-order
    * 1/(60+rank) sum and edge round(6).
    */
  private def rrfOracleSql: String =
    s"WITH lexq AS ($searchBm25TopkSql), " +
    s"vecq AS ($simCosineTopkSql), " +
    "lexr AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) lex_rank FROM lexq), " +
    "vecr AS (SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cos_sim DESC, vec_id) vec_rank FROM vecq) " +
    "SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, " +
    "CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank, " +
    "CAST(COALESCE(v.vec_rank, 0) AS BIGINT) AS vec_rank, " +
    "round(COALESCE(1.0/(60 + l.lex_rank), 0) + COALESCE(1.0/(60 + v.vec_rank), 0), 6) AS rrf " +
    "FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id " +
    "ORDER BY rrf DESC, doc_id LIMIT 10"

  // replay: map-side tf/dl, one-row corpus stats, Lucene-idf BM25
  // with the SAME left-assoc expression shape as the Spark side
  // (k1=1.2, b=0.75 folded to the 2.2 / 0.25 / 0.75 literals);
  // round(6) absorbs engine ulps, ties at the cut break on doc_id
  private[queries] def searchBm25TopkSql: String =
    "WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
    "d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) dl, " +
    "CAST(len(list_filter(ws, w -> w = 'vector')) AS BIGINT) tf0, " +
    "CAST(len(list_filter(ws, w -> w = 'stream')) AS BIGINT) tf1, " +
    "CAST(len(list_filter(ws, w -> w = 'window')) AS BIGINT) tf2 FROM t), " +
    "st AS (SELECT COUNT(*) n, SUM(dl) sumdl, " +
    "SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) df0, " +
    "SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) df1, " +
    "SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) df2 FROM d), " +
    "sc AS (SELECT doc_id, dl, tf0, tf1, tf2, round(" +
    "ln(1.0 + (n - CAST(df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5)) * (CAST(tf0 AS DOUBLE) * 2.2) / " +
    "(CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))) + " +
    "ln(1.0 + (n - CAST(df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5)) * (CAST(tf1 AS DOUBLE) * 2.2) / " +
    "(CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))) + " +
    "ln(1.0 + (n - CAST(df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5)) * (CAST(tf2 AS DOUBLE) * 2.2) / " +
    "(CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 6) AS bm25 " +
    "FROM d, st) " +
    "SELECT doc_id, dl, tf0, tf1, tf2, bm25 FROM sc WHERE bm25 > 0 " +
    "ORDER BY bm25 DESC, doc_id LIMIT 20"

  // Dirichlet-smoothed query likelihood replayed with the SAME
  // left-assoc expression shape as the Spark scorer (mu = 2000
  // folded as the 2000.0 literal); matched docs only (tf sum >
  // 0 — the bm25 > 0 convention), round(6) absorbs libm ulps,
  // ties at the cut break on doc_id
  private def searchQlDirichletSql: String =
    "WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
    "d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) dl, " +
    "CAST(len(list_filter(ws, w -> w = 'vector')) AS BIGINT) tf0, " +
    "CAST(len(list_filter(ws, w -> w = 'stream')) AS BIGINT) tf1, " +
    "CAST(len(list_filter(ws, w -> w = 'window')) AS BIGINT) tf2 FROM t), " +
    "st AS (SELECT SUM(dl) sumdl, SUM(tf0) cf0, SUM(tf1) cf1, SUM(tf2) cf2 FROM d), " +
    "sc AS (SELECT doc_id, dl, tf0, tf1, tf2, round(" +
    "ln((CAST(tf0 AS DOUBLE) + 2000.0 * CAST(cf0 AS DOUBLE) / CAST(sumdl AS DOUBLE)) / (CAST(dl AS DOUBLE) + 2000.0)) + " +
    "ln((CAST(tf1 AS DOUBLE) + 2000.0 * CAST(cf1 AS DOUBLE) / CAST(sumdl AS DOUBLE)) / (CAST(dl AS DOUBLE) + 2000.0)) + " +
    "ln((CAST(tf2 AS DOUBLE) + 2000.0 * CAST(cf2 AS DOUBLE) / CAST(sumdl AS DOUBLE)) / (CAST(dl AS DOUBLE) + 2000.0)), 6) AS ql " +
    "FROM d, st WHERE tf0 + tf1 + tf2 > 0) " +
    "SELECT doc_id, dl, tf0, tf1, tf2, ql FROM sc " +
    "ORDER BY ql DESC, doc_id LIMIT 20"

  /** The top 10 docs by expansion score over `matched` postings joined
    * with expansion-term weights `w`: per-term w * tf * ln(n / df) as
    * integer micros, summed per doc into `score` (with the term count),
    * ties to the lower doc_id.
    */
  private def expansionTop(matched: DataFrame, n: Long, score: String): DataFrame =
    matched
      .select(col("doc_id"),
        round((col("w") * col("tf")).cast("double") *
          log(lit(n.toDouble) / col("df")) * lit(1000000.0))
          .cast("long").as("c_micro"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c_micro")).as(score),
        count(lit(1)).as("n_terms"))
      .orderBy(col(score).desc, col("doc_id"))
      .limit(10)

  val entries: Seq[NamedQuery] = Seq(

    // Hybrid retrieval via Reciprocal Rank Fusion (RRF, K=60 — the
    // Cormack/Clarke/Buettcher constant): the standard way modern
    // search and RAG data pipelines combine a LEXICAL ranking (BM25
    // off the inverted index) with a VECTOR ranking (embedding cosine)
    // without score calibration — fusion reads only the two systems'
    // RANKS, so the wildly different score scales never meet. Both
    // arms are the exact frames served by `search_bm25_topk` and
    // `sim_cosine_topk` (one definition each); ranks come from
    // row_number over each arm's own deterministic (rounded score,
    // id) order, so the integer rank domain is oracle-exact and the
    // only doubles are the two 1/(60+rank) terms, summed in a fixed
    // order and rounded at the edge. The rank windows run over
    // ALREADY-LIMITED frames (20 and 10 rows — bounded by contract,
    // not corpus-sized; the single-partition WindowExec is over k
    // rows), and the fusion join is a ≤30-row full outer. At 100 TB
    // each arm scales as its own serving plan; fusion cost stays O(k).
    NamedQuery("search_hybrid_rrf", (s, dir) =>
      rrfFrame(bm25TopFrame(s, dir), cosineTopFrame(s, dir)),
      // RRF fusion replay: both arms compose their own oracles verbatim
      // as CTEs (nested WITH — the quality_ensemble precedent), ranks
      // from row_number over the same (rounded score, id) order, fused
      // with the same fixed-order 1/(60+rank) sum and edge round(6).
      rrfOracleSql),

    // Pseudo-relevance-feedback query expansion (the RM3 recipe,
    // Lavrenko/Croft relevance models as productionized in Anserini):
    // take the lexical arm's top-10 as the FEEDBACK set, mine the 5
    // heaviest non-query terms from their postings (weight = summed
    // tf over the feedback docs — the RM1 estimate with uniform doc
    // priors), then re-score the WHOLE corpus against the expanded
    // term set with tf-idf weighting. This is the standard
    // vocabulary-mismatch fix a retrieval-driven curation pipeline
    // runs when the seed query under-recalls. Plan: the feedback set
    // is a 10-row broadcast into the posting store (matched rows
    // only), expansion terms are a 5-row broadcast back into the SAME
    // memoized store — two bounded broadcasts, one exchange each, and
    // the corpus is never re-tokenized (store lifecycle). Determinism:
    // expansion weights are exact integer tf sums (ties at the 5-cut
    // break on term), per-term contributions are rounded to INTEGER
    // MICROS before the per-doc sum (order-free — the ppm contract),
    // final ties break on doc_id.
    NamedQuery("search_rm3_expand", (s, dir) => {
      val n = Tables.parquetRowCount(s, s"$dir/documents.parquet")
      val posting = postingFrame(s, dir)
      val fb = bm25TopFrame(s, dir)
        .orderBy(col("bm25").desc, col("doc_id")).limit(10)
        .select(col("doc_id"))
      val exp = posting.join(broadcast(fb), Seq("doc_id"))
        .filter(!col("term").isin(Bm25Terms: _*))
        .groupBy(col("term")).agg(sum(col("tf")).as("w"))
        .orderBy(col("w").desc, col("term")).limit(5)
      expansionTop(posting.join(broadcast(exp), Seq("term")), n, "rm3_micro")
    },
      // RM3 replay: the lexical arm's oracle composed verbatim, the
      // posting CTE is referenced by both the expansion mine and the
      // re-score -> MATERIALIZED; per-term contributions rounded to
      // integer micros before the per-doc sum (order-free, the ppm
      // contract), ties on term at the 5-cut and doc_id at the 10-cut
      s"WITH lexq AS ($searchBm25TopkSql), " +
      "fb AS (SELECT doc_id FROM lexq ORDER BY bm25 DESC, doc_id LIMIT 10), " +
      // outer CTE names carry an rm_ prefix: the composed lexq is a
      // NESTED WITH whose own t/d CTEs would otherwise collide
      "rmt AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
      "rmp AS MATERIALIZED (SELECT doc_id, term, COUNT(*) tf FROM " +
      "(SELECT doc_id, unnest(ws) term FROM rmt) GROUP BY doc_id, term), " +
      "rmd AS MATERIALIZED (SELECT term, COUNT(*) df FROM rmp GROUP BY term), " +
      "rmn AS (SELECT COUNT(*) n FROM documents), " +
      "ex AS MATERIALIZED (SELECT p.term, CAST(SUM(tf) AS BIGINT) w FROM rmp p JOIN fb USING (doc_id) " +
      "WHERE p.term NOT IN ('vector', 'stream', 'window') " +
      "GROUP BY p.term ORDER BY w DESC, p.term LIMIT 5), " +
      "sc AS (SELECT p.doc_id, CAST(round(CAST(e.w * p.tf AS DOUBLE) * " +
      "ln(CAST((SELECT n FROM rmn) AS DOUBLE) / d.df) * 1000000.0) AS BIGINT) c " +
      "FROM rmp p JOIN ex e ON p.term = e.term JOIN rmd d ON p.term = d.term) " +
      "SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rm3_micro, " +
      "CAST(COUNT(*) AS BIGINT) AS n_terms " +
      "FROM sc GROUP BY doc_id ORDER BY rm3_micro DESC, doc_id LIMIT 10"),

    // More-like-this retrieval (the Lucene MoreLikeThis contract —
    // "find documents similar to THIS one"): the query IS a document.
    // Seed doc 42's heaviest terms (integer tf weights, df >= 2 so a
    // term no other document shares can't seed the query, ties on
    // term, top-5) re-score the corpus by tf-idf with the seed
    // excluded — the dedup-adjacent serving shape a curation pipeline
    // uses to expand a seed set ("more like these curated docs").
    // Plan: the RM3 shape with a one-document feedback set — the
    // seed's postings are a pushed doc_id probe into the memoized
    // store, the 5-term set broadcasts back into the SAME store; the
    // corpus is never re-tokenized. Determinism: integer seed
    // weights, per-term contributions rounded to INTEGER MICROS
    // before the per-doc sum, ties at both cuts on term / doc_id.
    NamedQuery("search_mlt", (s, dir) => {
      val n = Tables.parquetRowCount(s, s"$dir/documents.parquet")
      val posting = postingFrame(s, dir)
      val seedId = 42L
      val seed = posting
        .filter(col("doc_id") === seedId && col("df") >= 2)
        .select(col("term"), col("tf").as("w"))
        .orderBy(col("w").desc, col("term")).limit(5)
      expansionTop(posting.join(broadcast(seed), Seq("term"))
        .filter(col("doc_id") =!= seedId), n, "mlt_micro")
    },
      // MLT replay: full posting/df derivation, the seed doc's top-5
      // (tf DESC, term; df >= 2), tf-idf micros with the rm3 ln shape
      "WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
      "mlp AS MATERIALIZED (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) tf " +
      "FROM (SELECT doc_id, unnest(ws) term FROM t) GROUP BY doc_id, term), " +
      "mld AS MATERIALIZED (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) df " +
      "FROM mlp GROUP BY term), " +
      "mln AS (SELECT COUNT(*) n FROM documents), " +
      "mlsd AS (SELECT p.term, p.tf w FROM mlp p JOIN mld d USING (term) " +
      "WHERE p.doc_id = 42 AND d.df >= 2 ORDER BY p.tf DESC, p.term LIMIT 5), " +
      "mlsc AS (SELECT p.doc_id, CAST(round(CAST(e.w * p.tf AS DOUBLE) * " +
      "ln(CAST((SELECT n FROM mln) AS DOUBLE) / d.df) * 1000000.0) AS BIGINT) c " +
      "FROM mlp p JOIN mlsd e ON p.term = e.term JOIN mld d ON p.term = d.term " +
      "WHERE p.doc_id <> 42) " +
      "SELECT doc_id, CAST(SUM(c) AS BIGINT) AS mlt_micro, " +
      "CAST(COUNT(*) AS BIGINT) AS n_terms " +
      "FROM mlsc GROUP BY doc_id ORDER BY mlt_micro DESC, doc_id LIMIT 10"),

    // VECTOR relevance feedback (Rocchio 1971, the embedding-side
    // twin of RM3's term expansion): re-aim the query vector toward
    // the centroid of its own top-10 — q' = (7·q + 3·c) div 10 in
    // integer micros — and re-rank the corpus. The standard
    // "embedding PRF" move when the seed vector under-recalls its
    // neighborhood. Determinism: feedback set = the oracled
    // sim_cosine_topk frame (one definition), centroid = floor
    // integer-mean micros, q' = exact integer blend, final cosines
    // round(6) with doc_id ties. Plan: 10-row broadcast into the
    // component explode, <= 64-row centroid agg folded to ONE q' row,
    // one corpus scan + TakeOrderedAndProject.
    NamedQuery("search_rocchio_vec", (s, dir) => {
      val fb = cosineTopFrame(s, dir).select(col("vec_id"))
      val comp = embComponents(s, dir)
      val cent = comp.join(broadcast(fb), Seq("vec_id"))
        .groupBy(col("i"))
        .agg(floor(sum(col("xi")).cast("double") / count(lit(1)))
          .cast("long").as("ci"))
      // floor (not `div`) for the blend: micro components go negative,
      // where Spark's div truncates toward zero but floor matches the
      // oracle's arithmetic on both engines
      val qp = comp.filter(col("vec_id") === 0L)
        .join(cent, Seq("i"))
        .select(col("i"),
          floor((lit(7L) * col("xi") + lit(3L) * col("ci")).cast("double") / 10.0)
            .cast("long").as("qi"))
        .groupBy()
        .agg(expr("transform(sort_array(collect_list(struct(i, qi))), " +
          "p -> cast(p.qi as double))").as("qv"))
        .select(col("qv"), VectorOps.norm2(col("qv")).as("nq"))
      embMicro(s, dir).filter(col("vec_id") =!= 0L)
        .crossJoin(broadcast(qp))
        .select(col("vec_id"),
          round(VectorOps.dot(col("qv"), col("v")) /
            sqrt(col("nq") * col("nv")), 6).as("rocchio_cos"))
        .orderBy(col("rocchio_cos").desc, col("vec_id"))
        .limit(10)
    },
      // the sim_cosine_topk oracle composed verbatim as the feedback
      // set; floor integer-mean centroid, floor((7q + 3c)/10) blend,
      // micro-int cosine re-rank. ro_ prefixes clear the nested arm.
      s"WITH rofb AS ($simCosineTopkSql), " +
      "roc AS MATERIALIZED (SELECT e.vec_id, i, " +
      "CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) xi " +
      "FROM embeddings e, LATERAL (SELECT unnest(generate_series(1, len(embedding))) i)), " +
      "rocent AS (SELECT i, CAST(floor(SUM(xi) / COUNT(*)) AS BIGINT) ci " +
      "FROM roc JOIN rofb USING (vec_id) GROUP BY i), " +
      "roq AS (SELECT list_transform(list(" +
      "CAST(floor((7 * q.xi + 3 * c.ci) / 10.0) AS BIGINT) ORDER BY q.i), " +
      "x -> CAST(x AS DOUBLE)) qv FROM roc q JOIN rocent c ON q.i = c.i " +
      "WHERE q.vec_id = 0), " +
      "roe AS (SELECT vec_id, list_transform(embedding, " +
      "x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) * 1.0) v " +
      "FROM embeddings WHERE vec_id <> 0) " +
      "SELECT e.vec_id, round(" +
      "list_sum(list_transform(list_zip(q.qv, e.v), p -> p[1]*p[2])) / " +
      "sqrt(list_sum(list_transform(q.qv, x -> x*x)) * " +
      "list_sum(list_transform(e.v, x -> x*x))), 6) AS rocchio_cos " +
      "FROM roe e, roq q ORDER BY rocchio_cos DESC, e.vec_id LIMIT 10"),

    // Retrieval-quality evaluation (the nDCG@10 report a serving
    // pipeline runs on every index/ranker change): graded relevance
    // is derived DETERMINISTICALLY from the corpus itself (gain =
    // query-term tf capped at 10 — a graded-gain ladder wide enough that the three arms genuinely separate), and
    // all three serving arms (BM25, Dirichlet QL, hybrid RRF) are the
    // exact frames served by their own queries (the registry — an
    // eval that re-implements its arms measures nothing). DCG sums
    // integer gain x integer micro-discount (disc = round(1e6 *
    // ln2/ln(rank+1)) — position weights agree cross-engine to the
    // micro, then the sum is order-free integer arithmetic); ideal
    // DCG is the global top-10 gain cut (TakeOrderedAndProject). The
    // rank windows run over already-limited <= 20-row frames; gains
    // ride the memoized posting store.
    NamedQuery("search_eval_ndcg", (s, dir) => {
      val qts = Bm25Terms
      def disc(rn: Column): Column =
        round(lit(1000000.0) * log(lit(2.0)) / log(rn.cast("double") + lit(1.0)))
          .cast("long")
      // shared subtrees run ONCE: every lexical consumer (bm25 arm,
      // ql arm + its cf row, rrf's lexical arm, the gains table) reads
      // the SAME per-doc pivot of the matched posting frame — one
      // store probe, one exchange, one localCheckpoint (bounded by the
      // query terms' posting lists, never the corpus); ONLY the pivot
      // is checkpointed — the cheap 20-row bm25 tail over it is
      // recomputed per consumer (see lexTop below). Gains
      // are a pure PROJECTION of the pivot (Σtf per doc = tf0+tf1+tf2
        // — the store holds one row per (doc, term)); SCALE.md
        // search_eval_ndcg rows.
      val pivot = lexPivotFrame(
        postingFrame(s, dir).filter(col("term").isin(qts: _*)))
        .localCheckpoint()
      // NOT checkpointed: the 20-row tail over the checkpointed pivot
      // is a map + TakeOrdered — cheaper to recompute inside the one
      // final action than to pay another eager job
      val lexTop = bm25ScoreTail(s, dir, pivot)
      val gains = pivot.select(col("doc_id"),
        least(lit(10L), col("tf0") + col("tf1") + col("tf2")).as("g"))
      def arm(name: String, frame: DataFrame, score: String, id: String): DataFrame =
        frame.select(col(id).as("doc_id"),
            row_number().over(Window.orderBy(col(score).desc, col(id)))
              .cast("long").as("rn"))
          .filter(col("rn") <= 10)
          .select(lit(name).as("arm"), col("doc_id"), col("rn"))
      val arms =
        arm("bm25", lexTop, "bm25", "doc_id")
          .unionByName(arm("ql", qlScoreTail(s, dir, pivot), "ql", "doc_id"))
          .unionByName(arm("rrf", rrfFrame(lexTop, cosineTopFrame(s, dir)), "rrf", "doc_id"))
      val dcg = arms.join(broadcast(gains), Seq("doc_id"), "left")
        .select(col("arm"),
          (coalesce(col("g"), lit(0L)) * disc(col("rn"))).as("c"))
        .groupBy(col("arm")).agg(sum(col("c")).as("dcg_micro"))
      // top-10 cut FIRST (TakeOrderedAndProject), window over 10 rows
      val ideal = gains.orderBy(col("g").desc, col("doc_id")).limit(10)
        .select(col("g"), row_number()
          .over(Window.orderBy(col("g").desc, col("doc_id"))).cast("long").as("rn"))
        .agg(sum(col("g") * disc(col("rn"))).as("idcg_micro"))
      dcg.crossJoin(broadcast(ideal))
        .select(col("arm"), col("dcg_micro"), col("idcg_micro"),
          round(col("dcg_micro").cast("double") / col("idcg_micro").cast("double"), 6)
            .as("ndcg"))
        // 3-row ordered output: coalesce+sortWithinPartitions instead
        // of a range-exchange orderBy — one fewer AQE stage
        .coalesce(1).sortWithinPartitions(col("arm"))
    },
      // nDCG replay: all three arm oracles composed verbatim (nd_
      // prefixes on every outer CTE — the nested arms own t/d/st/sc and
      // lexq/vecq), tf-capped gains, integer micro discounts, the
      // global ideal cut, rounded only at the final ratio
      s"WITH ndlex AS ($searchBm25TopkSql), " +
      s"ndql AS ($searchQlDirichletSql), " +
      s"ndrrf AS ($rrfOracleSql), " +
      "ndt AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
      "ndp AS (SELECT doc_id, term, COUNT(*) tf FROM " +
      "(SELECT doc_id, unnest(ws) term FROM ndt) GROUP BY doc_id, term), " +
      "ndg AS MATERIALIZED (SELECT doc_id, CAST(least(10, SUM(tf)) AS BIGINT) g FROM ndp " +
      "WHERE term IN ('vector', 'stream', 'window') GROUP BY doc_id), " +
      "ndlexr AS (SELECT 'bm25' arm, doc_id, rn FROM (SELECT doc_id, " +
      "CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) rn FROM ndlex) WHERE rn <= 10), " +
      "ndqlr AS (SELECT 'ql' arm, doc_id, rn FROM (SELECT doc_id, " +
      "CAST(row_number() OVER (ORDER BY ql DESC, doc_id) AS BIGINT) rn FROM ndql) WHERE rn <= 10), " +
      "ndrrfr AS (SELECT 'rrf' arm, doc_id, rn FROM (SELECT doc_id, " +
      "CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) rn FROM ndrrf) WHERE rn <= 10), " +
      "ndarms AS (SELECT * FROM ndlexr UNION ALL SELECT * FROM ndqlr UNION ALL SELECT * FROM ndrrfr), " +
      "nddcg AS (SELECT arm, CAST(SUM(COALESCE(g, 0) * " +
      "CAST(round(1000000.0 * ln(2.0) / ln(rn + 1.0)) AS BIGINT)) AS BIGINT) dcg_micro " +
      "FROM ndarms LEFT JOIN ndg USING (doc_id) GROUP BY arm), " +
      "ndideal AS (SELECT CAST(SUM(g * " +
      "CAST(round(1000000.0 * ln(2.0) / ln(rk + 1.0)) AS BIGINT)) AS BIGINT) idcg_micro " +
      "FROM (SELECT g, row_number() OVER (ORDER BY g DESC, doc_id) rk FROM ndg " +
      "ORDER BY g DESC, doc_id LIMIT 10)) " +
      "SELECT arm, dcg_micro, idcg_micro, " +
      "round(CAST(dcg_micro AS DOUBLE) / CAST(idcg_micro AS DOUBLE), 6) AS ndcg " +
      "FROM nddcg, ndideal ORDER BY arm"),

    // Faceted match counts — the aggregation every search UI renders
    // beside its ranked list ("12 results in src3, 9 in de"): the
    // FULL match set (any query term, straight off the posting
    // store's pushed term filter — facets summarize matches, they
    // don't rank, so no score is computed), distinct doc ids, one
    // semi-join back onto the metadata scan, then per-facet value
    // counts with a top-5 cut per facet. The rank window partitions
    // by facet over dimension-cardinality rows (sources/langs — never
    // corpus-sized). At 100 TB this is the classic facet rollup: one
    // doc-keyed join plus two map-side-combinable aggregates.
    NamedQuery("search_facets", (s, dir) => {
      val matched = postingFrame(s, dir).filter(col("term").isin(Bm25Terms: _*))
        .select(col("doc_id")).distinct()
      val d = Tables.documents(s, dir).join(matched, Seq("doc_id"))
      val bySrc = d.groupBy(lit("source").as("facet"), col("source").as("value"))
        .agg(count(lit(1)).as("n_docs"))
      val byLang = d.groupBy(lit("lang").as("facet"), col("lang").as("value"))
        .agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("facet"))
        .orderBy(col("n_docs").desc, col("value"))
      bySrc.unionByName(byLang)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .orderBy(col("facet"), col("rk"))
    },
      // distinct match set replayed from the token stream, the two
      // facet rollups, top-5 per facet with a value tiebreak
      "WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
      "m AS (SELECT DISTINCT doc_id FROM (SELECT doc_id, unnest(ws) term FROM t) " +
      "WHERE term IN ('vector', 'stream', 'window')), " +
      "md AS (SELECT d.source, d.lang FROM documents d JOIN m USING (doc_id)), " +
      "f AS (SELECT 'source' facet, source AS value, COUNT(*) n_docs FROM md GROUP BY 2 " +
      "UNION ALL SELECT 'lang', lang, COUNT(*) FROM md GROUP BY 2), " +
      "r AS (SELECT facet, value, CAST(n_docs AS BIGINT) n_docs, " +
      "row_number() OVER (PARTITION BY facet ORDER BY n_docs DESC, value) rk FROM f) " +
      "SELECT facet, value, n_docs, CAST(rk AS BIGINT) AS rk " +
      "FROM r WHERE rk <= 5 ORDER BY facet, rk"),

    // Query-likelihood retrieval with Dirichlet smoothing (Ponte/Croft
    // language-model scoring as standardized in Zhai/Lafferty, mu =
    // 2000 — the OTHER classic lexical scorer next to BM25, and the
    // one whose scores are comparable across queries): score(d) =
    // sum_q ln((tf + mu * cf/|C|) / (dl + mu)). Same serving shape as
    // search_bm25_topk: matched posting rows pivot per doc (tf0..tf2
    // + dl ride the store rows), the query terms' CORPUS frequencies
    // collapse to one broadcast row beside the memoized sumdl stats
    // row, and the cut is a TakeOrderedAndProject. The three ln terms
    // sum in fixed query order (same expression shape as the oracle);
    // round(6) absorbs libm ulps — the bm25 contract.
    NamedQuery("search_ql_dirichlet", (s, dir) =>
      qlTopFrame(s, dir,
        postingFrame(s, dir).filter(col("term").isin(Bm25Terms: _*))),
      searchQlDirichletSql),

    // Best-window snippet extraction (the serving-side highlight every
    // search UI and RAG context assembler needs): for the lexical
    // arm's top-5 docs, the 10-token window with the most query-term
    // hits, earliest window on ties. The candidate frame is bounded by
    // contract (5 docs — a broadcast semi-join prunes the corpus scan
    // to exactly those rows, so the window enumeration never touches
    // the other 100 TB), the per-doc start explosion is O(doc length)
    // rows for 5 docs, and the argmax window partitions by doc_id.
    // Integer hit counts — no rounding contract needed; the snippet
    // string itself is compared byte-exact by the oracle gate.
    NamedQuery("search_snippets", (s, dir) => {
      val qt = array(Bm25Terms.map(lit): _*)
      val top5 = bm25TopFrame(s, dir)
        .orderBy(col("bm25").desc, col("doc_id")).limit(5)
        .select(col("doc_id"))
      val docs = Tables.documents(s, dir)
        .join(broadcast(top5), Seq("doc_id"))
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val starts = docs.select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), greatest(lit(1), size(col("ws")) - 9))).as("sp"))
      val hits = starts.withColumn("n_hits",
        size(filter(slice(col("ws"), col("sp"), lit(10)),
          w => array_contains(qt, w))).cast("long"))
      val byDoc = Window.partitionBy(col("doc_id"))
        .orderBy(col("n_hits").desc, col("sp"))
      hits.withColumn("rn", row_number().over(byDoc))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("sp").cast("long").as("best_start"),
          col("n_hits"),
          concat_ws(" ", slice(col("ws"), col("sp"), lit(10))).as("snippet"))
        .orderBy(col("doc_id"))
    },
      // snippet replay: top-5 from the composed lexical oracle, window
      // starts via the committed scalar-list generate_series pattern,
      // integer hit counts, argmax by (hits DESC, start) per doc
      s"WITH lexq AS ($searchBm25TopkSql), " +
      "fb AS (SELECT doc_id FROM lexq ORDER BY bm25 DESC, doc_id LIMIT 5), " +
      // sn_ prefix on outer CTEs: lexq is a nested WITH with its own
      // t CTE (the rm3 collision lesson)
      "snt AS (SELECT d.doc_id, string_split(d.text, ' ') ws FROM documents d JOIN fb USING (doc_id)), " +
      "sns AS (SELECT doc_id, ws, unnest(generate_series(1, greatest(1, len(ws) - 9))) sp FROM snt), " +
      "snh AS (SELECT doc_id, ws, sp, CAST(len(list_filter(ws[sp:sp+9], " +
      "w -> list_contains(['vector', 'stream', 'window'], w))) AS BIGINT) n_hits FROM sns), " +
      "snr AS (SELECT doc_id, sp, n_hits, array_to_string(ws[sp:sp+9], ' ') snippet, " +
      "row_number() OVER (PARTITION BY doc_id ORDER BY n_hits DESC, sp) rn FROM snh) " +
      "SELECT doc_id, CAST(sp AS BIGINT) AS best_start, n_hits, snippet " +
      "FROM snr WHERE rn = 1 ORDER BY doc_id"),

    // BM25 ranked retrieval (Okapi BM25, Lucene idf form): the standard
    // relevance score of web search and of retrieval-driven curation
    // (picking the training docs most relevant to a probe query).
    // Served OFF THE INVERTED INDEX ([[postingFrame]]), the way a real
    // retrieval system answers a bounded query: the term IN (...)
    // predicate pushes down to the store's parquet scan, so the query
    // touches ONLY the matched posting lists — at 100 TB that is the
    // difference between re-scoring the corpus and reading a few MB of
    // postings. Matched rows already carry everything BM25 needs per
    // doc: tf, the term dictionary's global df, and the doc length dl
    // (Lucene-norms pattern); docs with tf=0 for a term contribute a
    // 0.0 term score regardless of idf, so no global df lookup is
    // needed for unmatched terms. Corpus stats: n from the parquet
    // footers (metadata-only), sumdl from the memoized one-row
    // [[postingStatsFrame]]. idf is the Lucene form
    // ln(1 + (N-df+0.5)/(df+0.5)), strictly positive even for terms
    // appearing in nearly every doc, where raw Robertson idf goes
    // negative and would invert the ranking. The three per-term scores
    // sum in a FIXED left-assoc expression (no aggregation-order
    // nondeterminism); round(6) at the edge absorbs engine ulps (the
    // cosine contract). Plan: store scan w/ pushed term filter ->
    // per-doc pivot agg (exchange over matched rows only) -> broadcast
    // stats crossJoin -> score -> TakeOrderedAndProject.
    NamedQuery("search_bm25_topk", (s, dir) => bm25TopFrame(s, dir),
      searchBm25TopkSql),

    // The PERSISTED-index serving path of the same query — BM25 off
    // the on-disk term-bucketed inverted index
    // ([[operators.TextIndex]], the sim_ivf_topk_indexed analog):
    // probe-set buckets resolve driver-side at zero jobs, the file
    // listing prunes to the probed bucket directories (partition
    // filter — ScalePostureSpec counts selectedPartitions), and the
    // term IN filter pushes into the surviving scans. Result-identical
    // to search_bm25_topk by construction (same postings, same
    // [[bm25Score]] tail), so it shares that query's oracle — the
    // decon_bloom_prefilter physical-twin convention.
    NamedQuery("search_bm25_indexed", (s, dir) =>
      bm25Score(s, dir,
        graft.operators.TextIndex.probe(s, textIndexDir(s, dir), Bm25Terms)),
      // physical twin of search_bm25_topk (persisted partition-pruned
      // index, same postings + scoring tail) — shares its oracle, the
      // decon_bloom_prefilter convention
      searchBm25TopkSql),

    // Inverted-index posting stats — the INDEX-BUILD side of retrieval
    // (search_bm25_topk is the query side): one distinct-term explode,
    // tf computed map-side from the token array already in the row (no
    // (doc, term) pre-aggregation exchange), then ONE hash exchange on
    // the term — the posting-list partitioning itself, which is how an
    // inverted index shards at 100 TB (each reducer owns a term range
    // and writes its posting lists). Output: per-term df (posting list
    // length), cf (collection frequency), max tf, and the first doc —
    // all integers, fully order-independent.
    NamedQuery("search_postings", (s, dir) =>
      // reads the shared posting store ([[postingFrame]] — one native
      // TermCountStructs pass per corpus version); the per-term stats
      // are then ONE map-side-combined hash exchange on the term — the
      // posting-list partitioning itself, which is how an inverted
      // index shards at 100 TB. All aggregates are order-independent
      // (counts/sums/min/max), so the store's partitioning is free to
      // vary.
      postingFrame(s, dir)
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
          max(col("tf")).as("max_tf"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("term")),
      "WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
      "p AS (SELECT doc_id, term, COUNT(*) tf FROM " +
      "(SELECT doc_id, unnest(ws) term FROM t) GROUP BY doc_id, term) " +
      "SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf, " +
      "CAST(MAX(tf) AS BIGINT) AS max_tf, CAST(MIN(doc_id) AS BIGINT) AS first_doc " +
      "FROM p GROUP BY term ORDER BY term"),

    // Positional phrase search — the retrieval rung BM25's bag-of-words
    // scoring cannot answer: docs where "key agg" occurs as ADJACENT
    // tokens, with the occurrence count (overlapping matches counted,
    // the positional-postings semantics — a replace()-based count would
    // undercount "key key agg"-style overlaps). Pure map-side: the
    // token array is already in the row, so adjacency is one HOF filter
    // over positions — scan -> expression -> ORDER BY, no exchange
    // before the output sort. At multi-term scale the same predicate
    // runs as a positional-postings join (term-filtered posting lists
    // joined on (doc, pos+1)); for a 2-term phrase the fused scan IS
    // the cheaper plan at any corpus size — it reads each doc once and
    // never materializes the posting stream.
    NamedQuery("search_phrase", (s, dir) =>
      // native one-pass PhraseCount: the HOF lambda-filter formulation
      // ran interpreted at ~15x this cost (see the expression Scaladoc)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.TextExpressions.phrase_count(col("text"), "key", "agg")
            .as("n_matches"))
        .filter(col("n_matches") > 0)
        .orderBy(col("doc_id")),
      // positional adjacency replayed over the same token split with
      // the scalar-list HOF (this DuckDB build rejects lateral
      // generate_series args); overlapping occurrences each count —
      // postings semantics
      "WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
      "m AS (SELECT doc_id, CAST(len(list_filter(generate_series(1, len(ws) - 1), " +
      "i -> ws[i] = 'key' AND ws[i + 1] = 'agg')) AS BIGINT) n_matches " +
      "FROM t WHERE len(ws) >= 2) " +
      "SELECT doc_id, n_matches FROM m WHERE n_matches > 0 ORDER BY doc_id")
  )
}
