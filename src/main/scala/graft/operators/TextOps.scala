package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text / dedup building blocks for the training-data-pipeline
  * extensions (SURVEY.md §2.3). All of these are pure per-row
  * expressions (no UDFs, no shuffles) so they run map-side inside
  * whole-stage codegen; the only shuffles in the dedup operators are
  * the final groupBy/join on hash keys — which IS the LSH bucketing.
  *
  * Hashes are md5 (identical hex output in Spark, DuckDB, and every
  * engine) so every step stays oracle-checkable cross-engine.
  */
object TextOps {

  /** Whitespace tokenization — the corpus is single-space separated. */
  def tokens(text: Column): Column = split(text, " ")

  /** Native one-pass word shingling over the raw text column: word
    * n-gram shingles, and one truncated shingle for a doc of fewer than
    * n tokens (see [[graft.functions.WordShingles]]).
    */
  def shinglesOfText(text: Column, n: Int): Column =
    graft.functions.TextExpressions.word_shingles(text, n)

  /** Native distinct shingles — fuses `array_distinct(shingles(...))`
    * into the same one-pass scan.
    */
  def distinctShinglesOfText(text: Column, n: Int): Column =
    graft.functions.TextExpressions.distinct_shingles(text, n)

  /** Native distinct shingles as struct(s, n) with the per-doc distinct
    * count on every element — the struct-explode trick, fused.
    */
  def distinctShingleStructsOfText(text: Column, n: Int): Column =
    graft.functions.TextExpressions.distinct_shingle_structs(text, n)

  /** All ordered pairs {(ids[i], ids[j]) : i < j} from a sorted bucket
    * array, as structs (a, b). Buckets are near-dup groups — tiny by
    * construction — so the quadratic expansion is bucket-local and
    * cheap; this replaces a bucket self-join that would rescan the
    * whole upstream pipeline on both sides.
    */
  def pairCombinations(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)), y => struct(x.as("a"), y.as("b")))))

  /** Skew guard for LSH buckets: a pathological bucket (e.g. 10k
    * byte-identical boilerplate docs sharing one band hash) would expand
    * to ~50M pairs inside ONE task. Default cap 512 → ≤ ~131k pairs per
    * bucket, bounded task memory. The cut is deterministic — buckets
    * arrive `array_sort`ed, we keep the lowest `cap` members — so
    * results are stable across runs, and on healthy corpora (every
    * bucket below the cap) output is bit-identical to the uncapped
    * expansion. Truncated members of a mega-bucket still dedup via the
    * exact md5 pass (identical content ⇒ identical hash), so recall
    * loss applies only to near- (not exact-) dups in degenerate buckets.
    */
  val MaxBucket = 512

  /** Deterministically cap a sorted bucket array at `cap` members. */
  def capBucket(ids: Column, cap: Int = MaxBucket): Column =
    slice(ids, 1, cap)

  /** Pair expansion with the skew cap applied — use this, not the raw
    * pairCombinations, anywhere bucket sizes are data-dependent.
    */
  def cappedPairs(ids: Column, cap: Int = MaxBucket): Column =
    pairCombinations(capBucket(ids, cap))

  /** Bucket to capped pairs, the one LSH pairing stage: group `rows` by
    * the `keys` columns, collect each bucket's distinct `member` values
    * in sorted order (`ids`), and explode the [[cappedPairs]] of every
    * bucket with two or more members as `p` (struct `a`, `b`, a <= b in
    * member order). `carry` names key columns kept beside `p`.
    */
  def bucketPairs(rows: DataFrame, keys: Seq[String], member: Column,
      carry: Seq[String] = Nil): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(array_sort(collect_set(member)).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(carry.map(col) :+ explode(cappedPairs(col("ids"))).as("p"): _*)

  /** Side-channel overflow stats for a bucketed DataFrame (must carry an
    * `ids` array column): one row per over-cap bucket with the number of
    * members dropped by [[capBucket]]. Empty on healthy corpora; a
    * monitoring query at scale (route it to a metrics sink).
    */
  def bucketOverflow(buckets: org.apache.spark.sql.DataFrame,
      cap: Int = MaxBucket): org.apache.spark.sql.DataFrame =
    buckets.filter(size(col("ids")) > cap)
      .select(col("ids").getItem(0).as("bucket_head"),
        size(col("ids")).cast("long").as("bucket_size"),
        (size(col("ids")) - cap).cast("long").as("n_dropped"))

  /** The repeated-span TABLE behind the `dedup_span_exact` report:
    * every non-overlapping `size`-token span occurring in >= `minDf`
    * distinct documents, with its document frequency — the df >= 2
    * span STRINGS the per-doc report counts but does not emit. This is
    * the query that turns the report's signal into an actionable
    * blocklist (see `StreamingCorpusOps.spanScrub`). Shape: one native
    * WordChunks explode + one df aggregate keyed on the span — hot
    * spans cost one row each.
    */
  def repeatedSpans(docs: org.apache.spark.sql.DataFrame, size: Int = 32,
      minDf: Long = 2L): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.TextExpressions.word_chunks(col("text"), size, size))
          .as("span"))
      .groupBy(col("span"))
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)

  /** Driver-side blocklist build: the `limit` hottest repeated spans
    * (df desc, span text tie-break for determinism) as an array for
    * `spanScrub`. The limit keeps the collect bounded by policy — a
    * blocklist is the hot boilerplate tail, not every duplicate.
    */
  def collectRepeatedSpans(docs: org.apache.spark.sql.DataFrame, size: Int = 32,
      minDf: Long = 2L, limit: Int = 10000): Array[String] =
    repeatedSpans(docs, size, minDf)
      .orderBy(col("df").desc, col("span"))
      .limit(limit)
      .select(col("span")).collect().map(_.getString(0))

  /** The ONE MinHash banding projection — shared by the batch
    * `dedup_minhash` query, the streaming bucket state
    * (`StreamingCorpusOps.bandRows`), and cross-corpus decontamination
    * (`Decontamination.minhashNearDupReport`): native one-pass MinHash
    * signature (8 x 16-bit slices of one md5 per shingle), 4 bands of 2
    * slices, band key = slice concat. A single definition is the parity
    * guarantee: the three surfaces and the shared DuckDB
    * `minhashPairsCtes` oracle cannot drift apart silently.
    * Output: (doc_id, band_idx INT 0-based, band_hash STRING).
    */
  def minhashBandRows(docs: org.apache.spark.sql.DataFrame,
      shingleN: Int = 5): org.apache.spark.sql.DataFrame = {
    val sigs = docs.select(col("doc_id"),
      graft.functions.TextExpressions.minhash_slices(col("text"), shingleN).as("mh"))
    val bandCols = (0 until 4).map(b =>
      concat(element_at(col("mh"), 2 * b + 1), element_at(col("mh"), 2 * b + 2)))
    sigs.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_hash")))
  }

  /** MinHash-LSH candidate pairs (`a_id` < `b_id`, distinct) over
    * [[minhashBandRows]] — THE one pair-candidate definition shared by
    * the `dedup_minhash` query (which adds only its output ORDER BY)
    * and `CorpusDemo`'s near-dup clustering, so a cap or tie-break
    * change cannot silently diverge the two surfaces. Pairs are
    * enumerated bucket-locally (collect + capped expand), not via a
    * bands self-join: a self-join rescans the whole signature pipeline
    * on both sides (no exchange reuse once AQE broadcasts one side).
    */
  def minhashCandidatePairs(docs: DataFrame, shingleN: Int = 5): DataFrame =
    bucketPairs(minhashBandRows(docs, shingleN), Seq("band_idx", "band_hash"), col("doc_id"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id")).distinct()

  /** Portable 32-bit hash: the first 8 md5 hex chars of the value's
    * string form as an unsigned 32-bit integer — identical in any
    * engine with md5/substr (DuckDB twin:
    * `CAST('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 8) AS BIGINT)`).
    * ONE definition for every hash-coin / sketch-input site
    * (`sample_mixture`, `q12b_kmv_distinct`); a drift in the scheme
    * would silently break oracle parity for only some queries.
    */
  def portableHash32(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  /** Count of tokens appearing in a fixed stopword list. */
  def stopwordCount(ws: Column, stopwords: Seq[String]): Column =
    size(filter(ws, w => w.isin(stopwords.map(lit): _*)))

  /** Sum of per-token lengths (for avg token length, etc.). */
  def totalTokenLen(ws: Column): Column =
    aggregate(ws, lit(0), (acc, w) => acc + length(w))

  /** BPE-ish subword count: ceil(len/4) chunks per token. */
  def subwordCount(ws: Column): Column =
    aggregate(ws, lit(0L), (acc, w) => acc + ceil(length(w) / lit(4.0)))

  /** PII patterns, held to the Java-regex/RE2 dialect intersection (no
    * lookaround) so the DuckDB oracle replays them exactly. ONE
    * definition shared by the batch `text_pii_scrub` query and the
    * streaming scrub twin.
    */
  // (?i): PII must redact regardless of case — a gate that lets
  // Bob.Smith@Example.COM through is a privacy hole, and inline
  // case-insensitivity is in both dialects.
  val EmailPattern = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePattern = "\\+1-555-[0-9]{4}"
  val Ipv4Pattern = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** The redaction chain: emails first (they contain dots/digits), then
    * IPs, then phones — each later pattern sees the earlier
    * placeholders. Pure map-side codegen'd regexp_replace.
    */
  def scrubPii(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      lit(EmailPattern), lit("<EMAIL>")),
      lit(Ipv4Pattern), lit("<IP>")),
      lit(PhonePattern), lit("<PHONE>"))

  /** Visible text of an HTML column — the extraction stage of crawl
    * ingest (native codegen'd expression; see
    * [[graft.functions.HtmlToText]] for the exact contract).
    */
  def htmlToText(c: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.HtmlToText(org.apache.spark.sql.graft.bridge.expression(c)))

  /** Naive-Bayes document quality scoring — the classifier-based
    * filtering stage of CCNet / DCLM-style curation (public method:
    * train a cheap linear classifier on a trusted "seed" corpus vs the
    * raw crawl, keep documents the classifier scores seed-like). NB
    * with add-one smoothing is the closed-form member of that family:
    * "training" IS two token-count aggregates, so the whole train +
    * score pipeline stays declarative and DuckDB-replayable — no
    * gradient loop, no model file.
    *
    * `seed` is a boolean Column marking the trusted class (e.g.
    * `col("lang") === "en"` for an English-reference run, or a join
    * flag from a curated id list). Output: one row per doc with
    * `n_tokens` and `nb_logodds` = mean over tokens of
    * ln P(w|seed) - ln P(w|background), add-one smoothed; positive
    * means seed-like. The mean (not the sum) keeps the score
    * length-invariant, and round(6) after the aggregate keeps both
    * engines' double sums inside rounding tolerance (same regime as
    * `text_unigram_logprob`).
    *
    * Scale shape: two exchanges total — the vocabulary aggregate
    * (keyed on the token; vocabulary is Zipf-bounded, ~millions of
    * rows at 100 TB) and the per-doc score aggregate. The class-total
    * row rides in as a 1-row broadcast cross join; the token->llr join
    * is the same linear build-side join as `text_unigram_logprob`
    * (each token row meets exactly one vocab row; AQE splits hot-token
    * partitions). Docs with zero tokens after an empty-text split
    * cannot occur (split("") = [""], one token), so the output is
    * total over the input.
    */
  def nbQualityScore(docs: org.apache.spark.sql.DataFrame,
      seed: Column): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col("doc_id"),
      seed.cast("int").as("seed"),
      explode(tokens(col("text"))).as("w"))
    val vocab = toks.groupBy(col("w")).agg(
      sum(col("seed")).as("cnt_seed"),
      sum(lit(1) - col("seed")).as("cnt_bg"))
    val tot = vocab.agg(
      sum(col("cnt_seed")).as("tot_seed"),
      sum(col("cnt_bg")).as("tot_bg"),
      count(lit(1)).as("v"))
    toks.join(vocab, Seq("w"))
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(
          log((col("cnt_seed") + 1) / (col("tot_seed") + col("v"))) -
            log((col("cnt_bg") + 1) / (col("tot_bg") + col("v")))), 6)
          .as("nb_logodds"))
  }
}
