package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-shingling for the dedup family's hottest map stage.
  *
  * The declarative formulation — `transform(sequence(1, n_sh), i =>
  * concat_ws(" ", slice(ws, i, n)))` — is correct but every
  * higher-order function is CodegenFallback with per-element lambda
  * dispatch and a fresh n-element array allocation per shingle; at
  * sf0.1 that one expression cost more than the entire rest of the
  * n-gram Jaccard pipeline (~1.5 s of a 1.7 s query). This is the
  * task's "drop to a custom Expression" case.
  *
  * Semantics are IDENTICAL to the HOF form over `split(text, ' ')`:
  * splitting on every single space and re-joining with single spaces
  * reconstructs the original byte sequence, so shingle i is exactly the
  * byte range of `text` from the start of token i to the end of token
  * min(i+n-1, last). One scan finds the space positions; each shingle
  * is a zero-copy slice of the input's backing bytes (safe: 0x20 never
  * occurs inside a UTF-8 multi-byte sequence). Degenerate docs
  * (< n tokens) produce exactly one truncated shingle, matching the
  * `greatest(size(ws)-(n-1), 1)` guard of the HOF form and the DuckDB
  * oracle's `greatest(len(ws)-4, 1)`.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires a string input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    TextExpressions.shingleBytes(input.asInstanceOf[UTF8String], n)

  // One static call per row keeps the surrounding projection inside
  // whole-stage codegen (vs CodegenFallback, which would split the span).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextExpressions.shingleBytes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Content-defined chunk hashes in ONE byte scan: the FastCDC/rsync
  * boundary rule in token space — a boundary lands after token
  * `i+window-1` (1-based) iff the md5 of the `window`-token span
  * starting at token i opens with hex nibble 0 (p = 1/16) and the
  * boundary is interior; chunks are the token spans between
  * consecutive boundaries and the value is each chunk's md5 hex.
  *
  * Semantics are IDENTICAL to the declarative form over
  * `split(text, ' ')` (filter/transform over a sequence, slice +
  * concat_ws + md5 per window) — the repo's own documented worst
  * anti-pattern: every HOF is CodegenFallback with per-element lambda
  * dispatch, and each window allocates a fresh slice array and joined
  * string. Here, as in [[WordShingles]], re-joining single-space
  * tokens reconstructs the original bytes, so every window AND every
  * chunk is a contiguous byte range of the input — the scan feeds
  * those ranges straight into one thread-local MessageDigest, no
  * intermediate strings at all. r16 A/B at sf0.1 (same run,
  * min-of-7): full dedup_cdc_chunks 0.790 s (HOF) -> 0.414 s
  * (native); the md5 work itself is irreducible (the oracle pays it
  * too), the delta is the lambda/allocation overhead.
  */
case class CdcChunkHashes(child: Expression, window: Int) extends UnaryExpression {

  require(window >= 2, s"cdc window must be >= 2 tokens, got $window")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cdc_chunk_hashes requires a string input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "cdc_chunk_hashes"

  override def nullSafeEval(input: Any): Any =
    TextExpressions.cdcChunkHashes(input.asInstanceOf[UTF8String], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextExpressions.cdcChunkHashes($c, $window)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass positional phrase-occurrence count: adjacent token pairs
  * (w1, w2) in a space-delimited text, OVERLAPPING occurrences counted
  * (postings semantics — replace()-style counting undercounts when the
  * phrase can self-overlap). The HOF formulation (a lambda filter over
  * `sequence(1, size-1)` with two element_at probes per position) runs
  * interpreted and re-enters the lambda machinery per token — measured
  * ~15x this expression's cost at sf0.1; this walks the token stream
  * once per row inside whole-stage codegen.
  */
/** Native single-term tf: occurrences of `term` among the
  * space-separated tokens of `child` (split-with-empty-tokens
  * semantics — identical to `size(filter(split(text, ' '), w -> w =
  * term))`, the interpreted HOF it replaces on hot paths like the
  * streaming standing-query gate). Codegen'd via the shared
  * [[TextExpressions.termCount]] byte walk.
  */
case class TermCount(child: Expression, term: String)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"term_count requires a string input, got ${child.dataType.sql}")

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "term_count"

  private lazy val termBytes = UTF8String.fromString(term).getBytes

  /** Row-level entry point shared by eval and generated code. */
  def count(t: UTF8String): Long = TextExpressions.termCount(t, termBytes)

  override def nullSafeEval(input: Any): Any =
    count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("termCount", this, classOf[TermCount].getName)
    defineCodeGen(ctx, ev, c => s"$ref.count($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class PhraseCount(child: Expression, w1: String, w2: String)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"phrase_count requires a string input, got ${child.dataType.sql}")

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "phrase_count"

  /** Row-level entry point shared by eval and generated code. */
  def count(t: UTF8String): Long = TextExpressions.phraseCount(t, w1, w2)

  override def nullSafeEval(input: Any): Any =
    count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("phraseCount", this, classOf[PhraseCount].getName)
    defineCodeGen(ctx, ev, c => s"$ref.count($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct word shingles in one pass: [[WordShingles]] + dedup, so the
  * downstream `explode` consumes a ready array with no `array_distinct`
  * (a per-element hash-set pass over interpreted equality) in between.
  */
case class DistinctShingles(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"distinct_shingles requires a string input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "distinct_shingles"

  override def nullSafeEval(input: Any): Any =
    TextExpressions.distinctShingleBytes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextExpressions.distinctShingleBytes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct shingles as `array<struct<s: string, n: bigint>>` where `n`
  * is the distinct-shingle count of the document — the struct-explode
  * trick (carry the per-doc denominator ON each exploded row) fused
  * into the native scan. Replaces `explode(transform(shd, x =>
  * struct(md5(x), size(shd))))`, whose interpreted per-element lambda
  * (a md5 per element inside a CodegenFallback HOF) was the residual
  * hotspot of the n-gram Jaccard pipeline; the hash now runs AFTER the
  * explode, compiled, one row at a time.
  */
case class DistinctShingleStructs(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"distinct_shingle_structs requires a string input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("s", StringType, nullable = false),
      StructField("n", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "distinct_shingle_structs"

  override def nullSafeEval(input: Any): Any =
    TextExpressions.distinctShingleStructBytes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextExpressions.distinctShingleStructBytes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document term frequencies in one pass, as
  * `array<struct<term: string, tf: bigint>>` over the single-space
  * token stream (`TextOps.tokens` semantics) — one struct per DISTINCT
  * term, first-occurrence order, tf counting every occurrence.
  *
  * Replaces the `explode(array_distinct(ws))` +
  * `size(filter(ws, w => w === term))` formulation of the tf-idf /
  * posting-list family: that HOF filter is CodegenFallback (a lambda
  * dispatch per element) and re-scans the whole token array once per
  * DISTINCT term — O(distinct-terms × tokens) per document, the worst
  * real-work ratio on the round-10 board (corpus_keywords 17.8× the
  * oracle). This computes every (term, tf) pair in a single
  * O(tokens) counting scan; terms are zero-copy UTF8String slices
  * over the input's backing bytes (the distinct-shingle pattern).
  * Per-doc work is linear, so the win over the HOF formulation GROWS
  * with document length at scale; concrete timings live in SCALE.md
  * and the per-round BENCH artifacts, not here (in-code numbers go
  * stale and aren't reproducible).
  *
  * Memory note: because each emitted term is a zero-copy slice, every
  * (term, tf) struct pins the FULL document's byte array until the
  * consumer (explode → UnsafeRow) copies it out — transient per-row
  * amplification, the [[DistinctShingleStructs]] trade. If heap
  * pressure ever shows up here, copy terms onto fresh arrays with
  * `UTF8String.fromBytes` per term.
  */
case class TermCountStructs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"term_count_structs requires a string input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "term_count_structs"

  override def nullSafeEval(input: Any): Any =
    TextExpressions.termCountStructBytes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextExpressions.termCountStructBytes($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Maximal stopword-free token runs ("RAKE candidate phrases") in one
  * pass over the raw text, as `array<struct<phrase: string, len:
  * bigint>>` in document order — one struct per run, `phrase` = the
  * run's tokens joined by single spaces (a contiguous zero-copy byte
  * slice: the run's tokens are adjacent in the input, so the joined
  * form IS the original byte range), `len` = the run's token count.
  * Duplicate phrases within a document are retained (consumers dedup
  * at their own key).
  *
  * Replaces the posexplode → per-doc window (cumulative stopword
  * count) → filter → collect_list/sort_array formulation of
  * `corpus_keyphrases`: that shape shuffles and sorts the FULL token
  * stream (stopwords included) once for the run numbering and again
  * for the per-run aggregate, purely to recover adjacency the byte
  * scan sees for free. Stopwords arrive as a comma-separated literal
  * (the `term_count` string-literal convention) so the expression is
  * SQL-registrable; membership is a hash probe per token against
  * zero-copy slices. Empty tokens (doubled spaces) are non-stopwords,
  * exactly like the `isin(stopEn)` they replace.
  */
case class PhraseRuns(child: Expression, stopCsv: String) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"phrase_runs requires a string input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("phrase", StringType, nullable = false),
      StructField("len", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "phrase_runs"

  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    // Empty CSV entries (empty stop string, doubled/trailing commas)
    // are dropped: the documented contract is that empty tokens from
    // doubled spaces are NON-stopwords, matching the isin(stopEn)
    // semantics this expression replaces — an "" entry in the set
    // would silently invert that.
    val s = new java.util.HashSet[UTF8String]()
    stopCsv.split(",", -1).iterator.filter(_.nonEmpty)
      .foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  /** Row-level entry point shared by eval and generated code. */
  def runs(t: UTF8String): GenericArrayData =
    TextExpressions.phraseRuns(t, stopSet)

  override def nullSafeEval(input: Any): Any =
    runs(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("phraseRuns", this, classOf[PhraseRuns].getName)
    defineCodeGen(ctx, ev, c => s"$ref.runs($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SimHash-32 fingerprint in one pass over the raw text.
  *
  * Semantics are IDENTICAL to the explode-based formulation (and the
  * DuckDB oracle): bit j-1 of the fingerprint is set iff the sum over
  * ALL whitespace tokens (duplicates included) of (+1 if hex digit j of
  * md5(token) is odd else -1) is positive, j = 1..32. The declarative
  * version explodes one row per token (~100x the corpus) and shuffles
  * 32 partial-sum columns per doc; this computes the same 32 votes in
  * a tight loop per row — a pure map, no Generate, no shuffle at all
  * before the consumer's own bucketing.
  */
case class SimHash32(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash32 requires a string input, got ${child.dataType.sql}")

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash32"

  override def nullSafeEval(input: Any): Any =
    TextExpressions.simhash32(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExpressions.simhash32($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature in one pass over the raw text: the 8 per-seed
  * minima of the cheap-multi-hash scheme (md5 of each n-token shingle,
  * sliced into 8 disjoint 4-hex-char pieces; min per slice over the
  * doc's shingles). Output = `array<string>(8)` of 4-hex-char minima —
  * exactly the `sigs` frame the declarative pipeline aggregated via
  * explode + groupBy(doc_id) with 8 `min(substr)` columns; computing it
  * per row removes that explode AND its shuffle entirely. Lexicographic
  * min over fixed-width lowercase hex equals numeric min over the
  * 16-bit value, so the minima are tracked as ints and formatted once.
  * (Min over a multiset equals min over its distinct set, so no dedup
  * pass is needed.)
  */
case class MinHashSlices(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_slices requires a string input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_slices"

  override def nullSafeEval(input: Any): Any =
    TextExpressions.minhashSlices(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextExpressions.minhashSlices($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fraction of a document's word n-grams taken by its single most
  * frequent n-gram — the Gopher-style repetition signal (top-2-gram /
  * top-3-gram fraction) used to drop boilerplate-heavy training docs.
  * One pass per row: token boundaries from a byte scan, gram counts in
  * a per-row hash map, max tracked inline. The declarative HOF
  * formulation (`array_max(transform(array_distinct(g), x ->
  * size(filter(g, y -> y = x))))`) is O(distinct x total) per document
  * — quadratic in length, a scale-killer on long documents — besides
  * being CodegenFallback. 0.0 when the doc has fewer than n tokens (no
  * grams); the oracle mirrors with COALESCE over its empty group.
  */
case class TopGramFrac(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"gram width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"top_gram_frac requires a string input, got ${child.dataType.sql}")

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "top_gram_frac"

  override def nullSafeEval(input: Any): Any =
    TextExpressions.topGramFrac(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextExpressions.topGramFrac($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Strided token windows — the RAG/context-chunking primitive: chunk i
  * covers tokens [i*stride, i*stride + size); stride < size gives
  * overlapping windows, stride == size a gapless partition. The last
  * chunk may be a shorter tail; every token is covered. Degenerate
  * docs (<= size tokens) produce exactly one chunk. stride > size is
  * REJECTED at construction: gapped windows drop tokens silently (and
  * the closed-form chunk count would index past the last token) — a
  * sampling pass is a different operator, not a chunker. Same
  * zero-copy byte slicing as [[WordShingles]]; the HOF twin
  * (`transform(sequence(...), i => concat_ws(" ", slice(ws, ...)))`)
  * is kept in the property spec as the semantic pin.
  */
case class WordChunks(child: Expression, size: Int, stride: Int)
    extends UnaryExpression {

  require(size >= 1, s"chunk size must be >= 1, got $size")
  require(stride >= 1 && stride <= size,
    s"stride must be in [1, size=$size] (windows must tile or overlap), got $stride")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_chunks requires a string input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_chunks"

  override def nullSafeEval(input: Any): Any =
    TextExpressions.chunkBytes(input.asInstanceOf[UTF8String], size, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextExpressions.chunkBytes($c, $size, $stride)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** HTML → visible text, the extraction stage of WARC/crawl ingest
  * (see [[graft.operators.Warc]]): strips comments, script and style
  * blocks (including `<` characters INSIDE script code — the classic
  * regex-tag-stripper trap), replaces every other tag with a space,
  * decodes the fixed entity set (`&amp; &lt; &gt; &quot; &apos; &#39;
  * &nbsp;` + decimal/hex numeric references), then collapses
  * whitespace runs to single spaces and trims. The whitespace class is
  * exactly RE2's `\s` ([\t\n\f\r ]) so a SQL oracle can replay the
  * normalization with `regexp_replace(s, '\s+', ' ', 'g')`; `&nbsp;`
  * decodes straight to a regular space for the same reason.
  * Deterministic, single-pass, allocation = one output builder — runs
  * as a compiled static call inside whole-stage codegen.
  */
/** RFC 3986 §6.2.2 percent-encoding normalization (the safe subset —
  * see `UrlOps.normalizePercent` for the rule rationale): decode
  * escapes of UNRESERVED characters, uppercase the hex of every other
  * well-formed escape, pass a `%` not followed by two hex digits
  * through byte-for-byte. Native rather than the split/transform HOF
  * formulation because URL canonicalization embeds this subtree many
  * times (scheme/host/path/query splits all reference the normalized
  * string) and HOF-bearing projections fall out of codegen WITHOUT
  * common-subexpression elimination — the optimizer's inlining
  * re-evaluated the whole HOF chain ~10x per row (the crawl_pipeline
  * round-7 lesson, resurfacing in crawl_url_canon's bench). This is a
  * single byte-level pass, one output buffer, compiled as a static
  * call inside whole-stage codegen; the HOF formulation survives in
  * UrlOpsSpec as the cross-checked reference semantics (the
  * DotProduct-vs-fold contract).
  */
case class PercentNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"percent_normalize requires a string input, got ${child.dataType.sql}")

  override def dataType: DataType = StringType
  override def prettyName: String = "percent_normalize"

  override def nullSafeEval(input: Any): Any =
    TextExpressions.percentNormalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextExpressions.percentNormalize($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class HtmlToText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"html_to_text requires a string input, got ${child.dataType.sql}")

  override def dataType: DataType = StringType
  override def prettyName: String = "html_to_text"

  override def nullSafeEval(input: Any): Any =
    TextExpressions.htmlToText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextExpressions.htmlToText($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** HTML → outlink hrefs, the link-extraction stage of crawl-graph
  * construction: the SAME comment/script/style-aware walk as
  * [[HtmlToText]] (an href-looking string inside script code or a
  * commented-out anchor must NOT become an edge — the classic regex
  * extractor traps), finding `<a>` tags (full-token name match, the
  * WHATWG §13.2.5.6 boundary rule) and scanning their attributes with
  * quote-aware parsing (a quoted href may contain `>`). Emits each
  * tag's FIRST `href` value (duplicate attributes: first wins, per
  * WHATWG) entity-decoded ([[HtmlToText]]'s entity set — `&amp;` in a
  * query string must decode before resolution), in document order,
  * raw (resolution against the page's base URI is [[ResolveUrl]]'s
  * job). Single pass, codegen'd static call.
  */
case class ExtractLinks(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"extract_links requires a string input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "extract_links"

  override def nullSafeEval(input: Any): Any =
    TextExpressions.extractLinks(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextExpressions.extractLinks($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** HTML → (href, anchor text) pairs of the live `<a>` tags — the
  * anchor-TEXT complement of [[ExtractLinks]], sharing ONE walk
  * definition with it (`extractLinksStrings` is this walk's href
  * projection, so the two extractors cannot drift on which anchors
  * are live). Anchor text = the tag's inner text to its matching
  * `</a>`: nested non-anchor tags stripped, comments and script/style
  * blocks inside the anchor contribute nothing, a nested `<a`
  * auto-closes the current anchor (the WHATWG implied end tag);
  * entity-decoded, then RE2-`\s` whitespace-collapsed and trimmed
  * ([[HtmlToText]]'s normalization, applied after decoding). Output:
  * `array<struct<href: string, anchor: string>>` in document order.
  * Single pass, codegen'd static call.
  */
case class ExtractAnchors(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"extract_anchors requires a string input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("href", StringType, nullable = false),
      StructField("anchor", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "extract_anchors"

  override def nullSafeEval(input: Any): Any =
    TextExpressions.extractAnchors(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextExpressions.extractAnchors($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** RFC 3986 §5.2 reference resolution against a base URI — the step
  * between href extraction and frontier admission: absolute refs pass
  * through, scheme-relative refs take the base scheme, root-relative
  * and path-relative refs merge with the base path, and dot segments
  * are removed (§5.2.4). Fragments are DROPPED from the result (the
  * frontier identity rule, as in `UrlOps.canonicalizeUrl`). Pure
  * string walk, no java.net dependency, codegen'd static call; the
  * query-side oracle replays the resolution arithmetic on constructed
  * references, so a rule bug here breaks the hash gate.
  */
case class ResolveUrl(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"resolve_url requires string inputs, got " +
        s"${left.dataType.sql} / ${right.dataType.sql}")

  override def dataType: DataType = StringType
  override def prettyName: String = "resolve_url"

  override def nullSafeEval(base: Any, ref: Any): Any =
    TextExpressions.resolveUrl(
      base.asInstanceOf[UTF8String], ref.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextExpressions.resolveUrl($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object TextExpressions {

  // MessageDigest is stateful; one instance per thread serves every row
  // that thread evaluates (reset() between digests is implicit in
  // digest(bytes)).
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** One-pass SimHash-32 (see [[SimHash32]] for the bit contract). */
  def simhash32(text: UTF8String): Long = {
    val bytes = text.getBytes
    val md = md5Local.get()
    val votes = new Array[Int](32)
    var start = 0
    var i = 0
    val len = bytes.length
    // tokens are the byte ranges between 0x20 bytes, INCLUDING empty
    // ones — split(text, ' ') semantics, so counts match the oracle's
    // string_split on any input
    while (i <= len) {
      if (i == len || bytes(i) == ' '.toByte) {
        md.update(bytes, start, i - start)
        val digest = md.digest() // 16 bytes = 32 hex digits
        var j = 0
        while (j < 32) {
          // hex digit j (0-based): high nibble of byte j/2 for even j
          val nibble =
            if ((j & 1) == 0) (digest(j >> 1) >> 4) & 0xf
            else digest(j >> 1) & 0xf
          votes(j) += (if ((nibble & 1) == 1) 1 else -1)
          j += 1
        }
        start = i + 1
      }
      i += 1
    }
    var hash = 0L
    var j = 0
    while (j < 32) {
      if (votes(j) > 0) hash |= 1L << j
      j += 1
    }
    hash
  }

  /** One-pass percent normalization (see [[PercentNormalize]] for the
    * rule contract). ASCII-level: `%` and hex digits are single bytes
    * in UTF-8, decoded unreserved characters are ASCII, and every
    * other byte (including multi-byte sequences) copies through, so
    * the byte walk is exactly the piece-wise split-on-% semantics.
    */
  def percentNormalize(u: UTF8String): UTF8String = {
    val b = u.getBytes
    val n = b.length
    var i = 0
    var touched = false
    while (i < n && !touched) { if (b(i) == '%') touched = true else i += 1 }
    if (!touched) return u // the common frontier case: no escapes at all
    def hexVal(c: Byte): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else -1
    def upperHex(c: Byte): Byte =
      if (c >= 'a' && c <= 'f') (c - 32).toByte else c
    val out = new Array[Byte](n)
    var o = 0
    i = 0
    while (i < n) {
      val c = b(i)
      if (c == '%' && i + 2 < n) {
        val h1 = hexVal(b(i + 1)); val h2 = hexVal(b(i + 2))
        if (h1 >= 0 && h2 >= 0) {
          val d = h1 * 16 + h2
          val unreserved = (d >= 'A' && d <= 'Z') || (d >= 'a' && d <= 'z') ||
            (d >= '0' && d <= '9') || d == '-' || d == '.' || d == '_' || d == '~'
          if (unreserved) { out(o) = d.toByte; o += 1 }
          else {
            out(o) = '%'; out(o + 1) = upperHex(b(i + 1)); out(o + 2) = upperHex(b(i + 2))
            o += 3
          }
          i += 3
        } else { out(o) = c; o += 1; i += 1 } // malformed: byte-for-byte
      } else { out(o) = c; o += 1; i += 1 }
    }
    UTF8String.fromBytes(java.util.Arrays.copyOfRange(out, 0, o))
  }

  /** Tight-loop shingle builder shared by eval and generated code. */
  def shingleBytes(text: UTF8String, n: Int): GenericArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    // token i spans [starts(i), ends(i)); boundaries are the 0x20 bytes
    var numTokens = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' '.toByte) numTokens += 1; i += 1 }
    val starts = new Array[Int](numTokens)
    val ends = new Array[Int](numTokens)
    var tok = 0
    starts(0) = 0
    i = 0
    while (i < len) {
      if (bytes(i) == ' '.toByte) {
        ends(tok) = i
        tok += 1
        starts(tok) = i + 1
      }
      i += 1
    }
    ends(tok) = len
    val numShingles = math.max(numTokens - n + 1, 1)
    val out = new Array[Any](numShingles)
    var s = 0
    while (s < numShingles) {
      val last = math.min(s + n - 1, numTokens - 1)
      out(s) = UTF8String.fromBytes(bytes, starts(s), ends(last) - starts(s))
      s += 1
    }
    new GenericArrayData(out)
  }

  private val hexDigits = "0123456789abcdef".getBytes

  /** Lowercase hex of a 16-byte digest (DuckDB/Spark md5() spelling). */
  private def hex32(digest: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((digest(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(digest(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** One-scan CDC chunk hashes (see [[CdcChunkHashes]]). Windows are
    * evaluated over the ORIGINAL token sequence (not re-anchored after
    * a boundary — the declarative twin's semantics), so consecutive
    * boundaries may sit closer than `window` apart. 1-based window
    * start i runs 1..n-window (the i+window-1 < n interiority guard
    * folded into the bound); 0-based that is 0..n-window-1.
    */
  def cdcChunkHashes(text: UTF8String, window: Int): GenericArrayData = {
    val bytes = text.getBytes
    val (starts, ends, numTokens) = boundaries(bytes)
    val md = md5Local.get()
    val out = new java.util.ArrayList[Any]()
    var prev = 0 // tokens consumed so far = current chunk's first token
    var i0 = 0
    val lastWindowStart = numTokens - window - 1
    while (i0 <= lastWindowStart) {
      md.update(bytes, starts(i0), ends(i0 + window - 1) - starts(i0))
      // first hex digit '0' <=> high nibble of digest byte 0 is zero
      if ((md.digest()(0) & 0xf0) == 0) {
        val b = i0 + window // boundary = token count consumed
        md.update(bytes, starts(prev), ends(b - 1) - starts(prev))
        out.add(hex32(md.digest()))
        prev = b
      }
      i0 += 1
    }
    md.update(bytes, starts(prev), ends(numTokens - 1) - starts(prev))
    out.add(hex32(md.digest()))
    new GenericArrayData(out.toArray)
  }

  /** Column facade: CDC chunk md5s of `text`, `window`-token coins. */
  def cdc_chunk_hashes(text: Column, window: Int): Column =
    bridge.column(CdcChunkHashes(bridge.expression(text), window))

  /** Shingle byte-ranges of `text` as (starts, ends, count) without
    * materializing strings — shared scaffolding of the three variants.
    */
  private def boundaries(bytes: Array[Byte]): (Array[Int], Array[Int], Int) = {
    val len = bytes.length
    var numTokens = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' '.toByte) numTokens += 1; i += 1 }
    val starts = new Array[Int](numTokens)
    val ends = new Array[Int](numTokens)
    var tok = 0
    starts(0) = 0
    i = 0
    while (i < len) {
      if (bytes(i) == ' '.toByte) {
        ends(tok) = i
        tok += 1
        starts(tok) = i + 1
      }
      i += 1
    }
    ends(tok) = len
    (starts, ends, numTokens)
  }

  private def distinctList(text: UTF8String, n: Int): java.util.ArrayList[UTF8String] = {
    val bytes = text.getBytes
    val (starts, ends, numTokens) = boundaries(bytes)
    val numShingles = math.max(numTokens - n + 1, 1)
    val seen = new java.util.HashSet[UTF8String](numShingles * 2)
    val out = new java.util.ArrayList[UTF8String](numShingles)
    var s = 0
    while (s < numShingles) {
      val last = math.min(s + n - 1, numTokens - 1)
      val sh = UTF8String.fromBytes(bytes, starts(s), ends(last) - starts(s))
      if (seen.add(sh)) out.add(sh)
      s += 1
    }
    out
  }

  /** Distinct shingles, first-occurrence order (order is irrelevant to
    * every consumer — the arrays feed explode + aggregates).
    */
  def distinctShingleBytes(text: UTF8String, n: Int): GenericArrayData = {
    val list = distinctList(text, n)
    val out = new Array[Any](list.size)
    var i = 0
    while (i < out.length) { out(i) = list.get(i); i += 1 }
    new GenericArrayData(out)
  }

  /** Distinct shingles as struct(s, n) rows, n = distinct count. */
  def distinctShingleStructBytes(text: UTF8String, n: Int): GenericArrayData = {
    val list = distinctList(text, n)
    val count = list.size.toLong
    val out = new Array[Any](list.size)
    var i = 0
    while (i < out.length) {
      out(i) = new GenericInternalRow(Array[Any](list.get(i), count)): InternalRow
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column facade: `word_shingles(text, n)` over a string column. */
  def word_shingles(text: Column, n: Int): Column =
    bridge.column(WordShingles(bridge.expression(text), n))

  /** Column facade: distinct shingles of `text`. */
  def distinct_shingles(text: Column, n: Int): Column =
    bridge.column(DistinctShingles(bridge.expression(text), n))

  /** Column facade: distinct shingles + count structs of `text`. */
  def distinct_shingle_structs(text: Column, n: Int): Column =
    bridge.column(DistinctShingleStructs(bridge.expression(text), n))

  /** One-pass (term, tf) pairs over the single-space token stream,
    * first-occurrence order (see [[TermCountStructs]]). LinkedHashMap
    * keeps insertion order so the output is deterministic per input;
    * keys are zero-copy slices over the input's backing bytes.
    */
  def termCountStructBytes(text: UTF8String): GenericArrayData = {
    val bytes = text.getBytes
    val (starts, ends, numTokens) = boundaries(bytes)
    val counts = new java.util.LinkedHashMap[UTF8String, java.lang.Long](numTokens * 2)
    var i = 0
    while (i < numTokens) {
      val t = UTF8String.fromBytes(bytes, starts(i), ends(i) - starts(i))
      counts.merge(t, java.lang.Long.valueOf(1L),
        (a, b) => java.lang.Long.valueOf(a.longValue + b.longValue))
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(
        Array[Any](e.getKey, e.getValue.longValue)): InternalRow
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Column facade: one-pass (term, tf) structs of `text`. */
  def term_count_structs(text: Column): Column =
    bridge.column(TermCountStructs(bridge.expression(text)))

  /** One-pass MinHash slice minima (see [[MinHashSlices]]). */
  def minhashSlices(text: UTF8String, n: Int): GenericArrayData = {
    val bytes = text.getBytes
    val (starts, ends, numTokens) = boundaries(bytes)
    val numShingles = math.max(numTokens - n + 1, 1)
    val md = md5Local.get()
    val mins = new Array[Int](8)
    java.util.Arrays.fill(mins, Int.MaxValue)
    var s = 0
    while (s < numShingles) {
      val last = math.min(s + n - 1, numTokens - 1)
      md.update(bytes, starts(s), ends(last) - starts(s))
      val d = md.digest()
      var k = 0
      while (k < 8) {
        val v = ((d(2 * k) & 0xff) << 8) | (d(2 * k + 1) & 0xff)
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      s += 1
    }
    val out = new Array[Any](8)
    var k = 0
    while (k < 8) {
      out(k) = UTF8String.fromString(f"${mins(k)}%04x")
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Column facade: one-pass SimHash-32 of `text`. */
  def simhash32_col(text: Column): Column =
    bridge.column(SimHash32(bridge.expression(text)))

  /** Column facade: one-pass percent-encoding normalization. */
  def percent_normalize(u: Column): Column =
    bridge.column(PercentNormalize(bridge.expression(u)))

  /** Column facade: one-pass MinHash slice minima of `text`. */
  def minhash_slices(text: Column, n: Int): Column =
    bridge.column(MinHashSlices(bridge.expression(text), n))

  /** One-pass top-n-gram fraction (see [[TopGramFrac]]). Map keys are
    * zero-copy UTF8String slices over the input's backing bytes (the
    * same pattern as the distinct-shingle scan) — no per-gram UTF-8
    * decode or char[] allocation on the hot path.
    */
  def topGramFrac(text: UTF8String, n: Int): Double = {
    val bytes = text.getBytes
    val (starts, ends, numTokens) = boundaries(bytes)
    val total = numTokens - n + 1
    if (total <= 0) return 0.0
    val counts = new java.util.HashMap[UTF8String, Integer](total * 2)
    var maxC = 0
    var i = 0
    while (i < total) {
      val g = UTF8String.fromBytes(bytes, starts(i), ends(i + n - 1) - starts(i))
      val c: Int = counts.merge(g, 1, (a, b) => Integer.valueOf(a + b))
      if (c > maxC) maxC = c
      i += 1
    }
    maxC.toDouble / total
  }

  /** Column facade: one-pass top-n-gram fraction of `text`. */
  def top_gram_frac(text: Column, n: Int): Column =
    bridge.column(TopGramFrac(bridge.expression(text), n))

  /** One-pass adjacent-pair phrase count (see [[PhraseCount]]). Token
    * boundaries are SINGLE spaces — split(" ", -1) semantics, matching
    * `TextOps.tokens` (adjacent separators yield empty tokens, which
    * can never equal a query word).
    */
  /** Occurrences of `term` among the space-separated tokens of `text`
    * — zero-copy byte-range compares over the shared [[boundaries]]
    * walk (split-with-empty-tokens semantics, like every consumer of
    * the token stream), no per-row String materialization.
    */
  def termCount(text: UTF8String, term: Array[Byte]): Long = {
    val bytes = text.getBytes
    val (starts, ends, n) = boundaries(bytes)
    var c = 0L
    var i = 0
    while (i < n) {
      val len = ends(i) - starts(i)
      if (len == term.length) {
        var j = 0
        var eq = true
        while (j < len && eq) {
          if (bytes(starts(i) + j) != term(j)) eq = false
          j += 1
        }
        if (eq) c += 1
      }
      i += 1
    }
    c
  }

  /** Column facade: occurrences of the single token `term`. */
  def term_count(text: Column, term: String): Column =
    bridge.column(TermCount(bridge.expression(text), term))

  /** One-pass stopword-free phrase runs (see [[PhraseRuns]]): a run is
    * a maximal sequence of adjacent non-stopword tokens; its phrase is
    * the contiguous byte range from the first token's start to the
    * last token's end (single-space token semantics make the joined
    * form identical to the slice).
    */
  def phraseRuns(text: UTF8String,
      stop: java.util.HashSet[UTF8String]): GenericArrayData = {
    val bytes = text.getBytes
    val (starts, ends, numTokens) = boundaries(bytes)
    def isStop(i: Int): Boolean =
      stop.contains(UTF8String.fromBytes(bytes, starts(i), ends(i) - starts(i)))
    val out = new java.util.ArrayList[Any]()
    var i = 0
    while (i < numTokens) {
      if (isStop(i)) i += 1
      else {
        var j = i
        while (j + 1 < numTokens && !isStop(j + 1)) j += 1
        out.add(new GenericInternalRow(Array[Any](
          UTF8String.fromBytes(bytes, starts(i), ends(j) - starts(i)),
          (j - i + 1).toLong)): InternalRow)
        i = j + 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Column facade: stopword-free phrase runs of `text`. */
  def phrase_runs(text: Column, stop: Seq[String]): Column =
    bridge.column(PhraseRuns(bridge.expression(text), stop.mkString(",")))

  /** Column facade: hrefs of `html`'s live anchor tags, in order. */
  def extract_links(html: Column): Column =
    bridge.column(ExtractLinks(bridge.expression(html)))

  /** Column facade: (href, anchor text) structs of `html`'s live
    * anchor tags, in order.
    */
  def extract_anchors(html: Column): Column =
    bridge.column(ExtractAnchors(bridge.expression(html)))

  /** Column facade: RFC 3986 resolution of `ref` against `base`. */
  def resolve_url(base: Column, ref: Column): Column =
    bridge.column(ResolveUrl(bridge.expression(base), bridge.expression(ref)))

  def phraseCount(text: UTF8String, w1: String, w2: String): Long = {
    val toks = text.toString.split(" ", -1)
    var c = 0L
    var i = 0
    while (i + 1 < toks.length) {
      if (toks(i) == w1 && toks(i + 1) == w2) c += 1
      i += 1
    }
    c
  }

  /** Column facade: positional phrase-occurrence count of (w1, w2). */
  def phrase_count(text: Column, w1: String, w2: String): Column =
    bridge.column(PhraseCount(bridge.expression(text), w1, w2))

  /** One-pass overlapping chunk windows (see [[WordChunks]]).
    * Chunk count = ceil((numTokens - size) / stride) + 1, floored at 1
    * — the closed form both the HOF twin and the DuckDB oracle use, so
    * all three surfaces cut identical windows.
    */
  def chunkBytes(text: UTF8String, size: Int, stride: Int): GenericArrayData = {
    val bytes = text.getBytes
    val (starts, ends, numTokens) = boundaries(bytes)
    val numChunks =
      if (numTokens <= size) 1
      else (numTokens - size + stride - 1) / stride + 1
    val out = new Array[Any](numChunks)
    var c = 0
    while (c < numChunks) {
      val first = c * stride
      val last = math.min(first + size - 1, numTokens - 1)
      out(c) = UTF8String.fromBytes(bytes, starts(first), ends(last) - starts(first))
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Column facade: overlapping token chunks of `text`. */
  def word_chunks(text: Column, size: Int, stride: Int): Column =
    bridge.column(WordChunks(bridge.expression(text), size, stride))

  private def intArg(exprs: Seq[Expression], i: Int): Int = {
    if (exprs.length <= i) throw new IllegalArgumentException(
      s"missing argument ${i + 1}: expected an integer literal, got only ${exprs.length} argument(s)")
    exprs(i).eval(null) match {
      case n: Int => n
      case other => throw new IllegalArgumentException(
        s"argument ${i + 1} must be an integer literal, got $other")
    }
  }

  /** name -> builder for every SQL-surfaced native text expression —
    * the ONE list backing both session-level temp registration
    * ([[register]]) and the config-driven `SparkSessionExtensions`
    * injection ([[graft.GraftExtensions]]); the two registration paths
    * cannot drift apart.
    */
  /** Codegen entry point of [[HtmlToText]]. */
  def htmlToText(html: UTF8String): UTF8String =
    UTF8String.fromString(htmlToTextString(html.toString))

  // RE2's \s, exactly — see the HtmlToText scaladoc for why NOT
  // Character.isWhitespace (the SQL oracle must be able to replay the
  // normalization with regexp_replace '\s+').
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  /** Visible text of an HTML fragment (see [[HtmlToText]] for the
    * contract). Also the extraction stage [[graft.operators.Warc]]'s
    * ingest surface calls directly on decoded entities.
    */
  def htmlToTextString(html: String): String = {
    val n = html.length
    val sb = new java.lang.StringBuilder(n)
    def matches(at: Int, s: String): Boolean =
      html.regionMatches(true, at, s, 0, s.length)
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        // A raw-text element name must be a FULL token: '<script' is the
        // script element only when followed by '>', '/', or whitespace
        // (WHATWG HTML §13.2.5.6 tag-name termination) — '<scripty>' is
        // an ordinary unknown element. Same boundary rule on the closing
        // '</script' scan so '</scripty>' doesn't end raw-text mode.
        def nameEndsAt(at: Int): Boolean =
          at >= n || { val c = html.charAt(at); c == '>' || c == '/' || isWs(c) }
        if (matches(i, "<!--")) { // comment: skip to -->
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (matches(i, "<script") && nameEndsAt(i + 7)) {
          var e = i + 7 // raw-text element: a '<' inside the code is NOT a tag
          while (e < n && !(matches(e, "</script") && nameEndsAt(e + 8))) e += 1
          i = if (e >= n) n else { val g = html.indexOf('>', e); if (g < 0) n else g + 1 }
        } else if (matches(i, "<style") && nameEndsAt(i + 6)) {
          var e = i + 6
          while (e < n && !(matches(e, "</style") && nameEndsAt(e + 7))) e += 1
          i = if (e >= n) n else { val g = html.indexOf('>', e); if (g < 0) n else g + 1 }
        } else { // any other tag: skip to '>'
          val g = html.indexOf('>', i)
          i = if (g < 0) n else g + 1
        }
        sb.append(' ') // tags separate words; the collapse pass dedups
      } else if (c == '&') {
        val semi = html.indexOf(';', i + 1)
        val decoded: Int = // -1 = not a recognized entity
          if (semi < 0 || semi > i + 12) -1
          else {
            val name = html.substring(i + 1, semi)
            name match {
              case "amp" => '&'
              case "lt" => '<'
              case "gt" => '>'
              case "quot" => '"'
              case "apos" => '\''
              case "nbsp" => ' ' // regular space, deliberately (see scaladoc)
              case _ =>
                if (name.length >= 2 && name.charAt(0) == '#') {
                  try {
                    val cp =
                      if (name.charAt(1) == 'x' || name.charAt(1) == 'X')
                        Integer.parseInt(name.substring(2), 16)
                      else Integer.parseInt(name.substring(1))
                    if (cp >= 0 && cp <= 0x10ffff &&
                        !(cp >= 0xd800 && cp <= 0xdfff)) cp else -1
                  } catch { case _: NumberFormatException => -1 }
                } else -1
            }
          }
        if (decoded >= 0) { sb.appendCodePoint(decoded); i = semi + 1 }
        else { sb.append('&'); i += 1 } // bare ampersand: literal
      } else { sb.append(c); i += 1 }
    }
    // collapse [\t\n\f\r ]+ runs to one space; trim both ends
    val out = new java.lang.StringBuilder(sb.length)
    var j = 0
    var pendingSpace = false
    while (j < sb.length) {
      val ch = sb.charAt(j)
      if (isWs(ch)) pendingSpace = out.length > 0
      else { if (pendingSpace) out.append(' '); pendingSpace = false; out.append(ch) }
      j += 1
    }
    out.toString
  }

  /** Codegen entry point of [[ExtractLinks]]. */
  def extractLinks(html: UTF8String): GenericArrayData =
    new GenericArrayData(extractLinksStrings(html.toString)
      .map(UTF8String.fromString).toArray[Any])

  /** [[HtmlToText]]'s entity rules applied to a flat string (attribute
    * values — no tag stripping, no whitespace collapse).
    */
  private[graft] def decodeEntitiesString(s: String): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        val decoded: Int =
          if (semi < 0 || semi > i + 12) -1
          else {
            val name = s.substring(i + 1, semi)
            name match {
              case "amp" => '&'
              case "lt" => '<'
              case "gt" => '>'
              case "quot" => '"'
              case "apos" => '\''
              case "nbsp" => ' '
              case _ =>
                if (name.length >= 2 && name.charAt(0) == '#') {
                  try {
                    val cp =
                      if (name.charAt(1) == 'x' || name.charAt(1) == 'X')
                        Integer.parseInt(name.substring(2), 16)
                      else Integer.parseInt(name.substring(1))
                    if (cp >= 0 && cp <= 0x10ffff &&
                        !(cp >= 0xd800 && cp <= 0xdfff)) cp else -1
                  } catch { case _: NumberFormatException => -1 }
                } else -1
            }
          }
        if (decoded >= 0) { sb.appendCodePoint(decoded); i = semi + 1 }
        else { sb.append('&'); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The [[ExtractLinks]] walk — the href projection of
    * [[extractAnchorPairs]] (ONE walk definition, so the two
    * extractors cannot drift on which anchors are live); exposed for
    * driver-side replay in specs and the streaming ingest twin.
    */
  def extractLinksStrings(html: String): Seq[String] = {
    val hrefs = scala.collection.mutable.ArrayBuffer.empty[String]
    anchorWalk(html, collectText = false, hrefs, null)
    hrefs.toSeq
  }

  /** The [[ExtractAnchors]] walk (see the expression scaladoc for the
    * anchor-text contract); exposed for driver-side replay in specs.
    */
  def extractAnchorPairs(html: String): Seq[(String, String)] = {
    val hrefs = scala.collection.mutable.ArrayBuffer.empty[String]
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    anchorWalk(html, collectText = true, hrefs, texts)
    hrefs.iterator.zip(texts.iterator).toSeq
  }

  /** ONE cursor-advancing anchor walk shared by [[extractLinksStrings]]
    * (`collectText = false`) and [[extractAnchorPairs]] (`true`). The
    * cursor moves IDENTICALLY in both modes — the inner-text scan still
    * advances past the anchor body — so the emitted href sequence
    * cannot drift between the two extractors (pinned by the 400-case
    * adversarial fuzz in TextExpressionsPropertySpec); what the flag
    * skips is the per-anchor work only the text consumer needs: the
    * StringBuilder accumulation, entity decode, and whitespace
    * collapse that the href-only WARC link-graph path (the hottest
    * ingest path at 100 TB) was paying for nothing (r16 advice).
    */
  private def anchorWalk(html: String, collectText: Boolean,
      hrefs: scala.collection.mutable.ArrayBuffer[String],
      texts: scala.collection.mutable.ArrayBuffer[String]): Unit = {
    val n = html.length
    def matches(at: Int, s: String): Boolean =
      html.regionMatches(true, at, s, 0, s.length)
    def nameEndsAt(at: Int): Boolean =
      at >= n || { val c = html.charAt(at); c == '>' || c == '/' || isWs(c) }
    def skipComment(at: Int): Int = {
      val e = html.indexOf("-->", at + 4)
      if (e < 0) n else e + 3
    }
    // `at` points at "<script" / "<style"; returns the index after the
    // matching close tag's '>'
    def skipBlock(at: Int, tag: String): Int = {
      var e = at + tag.length + 1
      while (e < n && !(matches(e, "</" + tag) && nameEndsAt(e + tag.length + 2))) e += 1
      if (e >= n) n else { val g = html.indexOf('>', e); if (g < 0) n else g + 1 }
    }
    var i = 0
    while (i < n) {
      if (html.charAt(i) == '<') {
        if (matches(i, "<!--")) i = skipComment(i)
        else if (matches(i, "<script") && nameEndsAt(i + 7)) i = skipBlock(i, "script")
        else if (matches(i, "<style") && nameEndsAt(i + 6)) i = skipBlock(i, "style")
        else if (matches(i, "<a") && nameEndsAt(i + 2)) {
          // attribute walk to the tag's '>', honoring quoted values
          var j = i + 2
          var href: String = null
          var done = false
          while (j < n && !done) {
            val c = html.charAt(j)
            if (c == '>') done = true
            else if (isWs(c) || c == '/') j += 1
            else {
              val ns = j
              while (j < n && {
                val c2 = html.charAt(j)
                !isWs(c2) && c2 != '=' && c2 != '>' && c2 != '/'
              }) j += 1
              val name = html.substring(ns, j)
              while (j < n && isWs(html.charAt(j))) j += 1
              var value: String = null
              if (j < n && html.charAt(j) == '=') {
                j += 1
                while (j < n && isWs(html.charAt(j))) j += 1
                if (j < n && (html.charAt(j) == '"' || html.charAt(j) == '\'')) {
                  val q = html.charAt(j); j += 1
                  val vs = j
                  while (j < n && html.charAt(j) != q) j += 1
                  value = html.substring(vs, j)
                  if (j < n) j += 1
                } else {
                  val vs = j
                  while (j < n && {
                    val c2 = html.charAt(j); !isWs(c2) && c2 != '>'
                  }) j += 1
                  value = html.substring(vs, j)
                }
              }
              if (href == null && value != null && name.equalsIgnoreCase("href"))
                href = decodeEntitiesString(value)
            }
          }
          // inner-text scan to the matching </a>; a nested <a AUTO-CLOSES
          // the current anchor and the outer loop re-enters AT it, so the
          // href sequence is identical to the pre-r16 links-only walk on
          // malformed nesting. ts stays null when the caller only wants
          // hrefs — the scan still advances k identically.
          val ts = if (collectText) new java.lang.StringBuilder else null
          var k = if (j < n) j + 1 else n
          var closed = false
          while (k < n && !closed) {
            if (html.charAt(k) == '<') {
              if (matches(k, "<!--")) k = skipComment(k)
              else if (matches(k, "<script") && nameEndsAt(k + 7)) k = skipBlock(k, "script")
              else if (matches(k, "<style") && nameEndsAt(k + 6)) k = skipBlock(k, "style")
              else if (matches(k, "</a") && nameEndsAt(k + 3)) {
                closed = true
                val g = html.indexOf('>', k)
                k = if (g < 0) n else g + 1
              } else if (matches(k, "<a") && nameEndsAt(k + 2)) closed = true
              else { val g = html.indexOf('>', k); k = if (g < 0) n else g + 1 }
            } else { if (ts ne null) ts.append(html.charAt(k)); k += 1 }
          }
          if (href != null) {
            hrefs += href
            if (ts ne null) texts += collapseWs(decodeEntitiesString(ts.toString))
          }
          i = k
        } else {
          val g = html.indexOf('>', i)
          i = if (g < 0) n else g + 1
        }
      } else i += 1
    }
  }

  /** RE2-`\s` runs → one space, leading/trailing runs dropped (the
    * [[HtmlToText]] normalization applied to a flat string).
    */
  private def collapseWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var pend = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isWs(c)) { if (sb.length > 0) pend = true }
      else {
        if (pend) { sb.append(' '); pend = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Codegen entry point of [[ExtractAnchors]]. */
  def extractAnchors(html: UTF8String): GenericArrayData = {
    val pairs = extractAnchorPairs(html.toString)
    val out = new Array[Any](pairs.length)
    var i = 0
    while (i < pairs.length) {
      out(i) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(pairs(i)._1),
        UTF8String.fromString(pairs(i)._2))): InternalRow
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Codegen entry point of [[ResolveUrl]]. */
  def resolveUrl(base: UTF8String, ref: UTF8String): UTF8String =
    UTF8String.fromString(resolveUrlString(base.toString, ref.toString))

  /** RFC 3986 §5.2 resolution (see [[ResolveUrl]]); fragments dropped. */
  def resolveUrlString(base: String, ref: String): String = {
    // (scheme | null, authority | null, path, query | null); fragment cut
    def split(u0: String): (String, String, String, String) = {
      var rest = u0
      val h = rest.indexOf('#')
      if (h >= 0) rest = rest.substring(0, h)
      var scheme: String = null
      val c = rest.indexOf(':')
      if (c > 0 && rest.charAt(0).isLetter &&
          (0 until c).forall { k =>
            val ch = rest.charAt(k)
            ch.isLetterOrDigit || ch == '+' || ch == '-' || ch == '.'
          }) {
        scheme = rest.substring(0, c)
        rest = rest.substring(c + 1)
      }
      var auth: String = null
      if (rest.startsWith("//")) {
        var e = 2
        while (e < rest.length && rest.charAt(e) != '/' && rest.charAt(e) != '?') e += 1
        auth = rest.substring(2, e)
        rest = rest.substring(e)
      }
      var query: String = null
      val q = rest.indexOf('?')
      if (q >= 0) { query = rest.substring(q + 1); rest = rest.substring(0, q) }
      (scheme, auth, rest, query)
    }
    // remove_dot_segments, RFC 3986 §5.2.4
    def rds(path: String): String = {
      var in = path
      val out = new java.lang.StringBuilder(path.length)
      def dropLast(): Unit = {
        val i = out.lastIndexOf("/")
        out.setLength(if (i < 0) 0 else i)
      }
      while (in.nonEmpty) {
        if (in.startsWith("../")) in = in.substring(3)
        else if (in.startsWith("./")) in = in.substring(2)
        else if (in.startsWith("/./")) in = "/" + in.substring(3)
        else if (in == "/.") in = "/"
        else if (in.startsWith("/../")) { in = "/" + in.substring(4); dropLast() }
        else if (in == "/..") { in = "/"; dropLast() }
        else if (in == "." || in == "..") in = ""
        else {
          val s = if (in.startsWith("/")) in.indexOf('/', 1) else in.indexOf('/')
          if (s < 0) { out.append(in); in = "" }
          else { out.append(in.substring(0, s)); in = in.substring(s) }
        }
      }
      out.toString
    }
    def merge(baseAuth: String, basePath: String, refPath: String): String =
      if (baseAuth != null && basePath.isEmpty) "/" + refPath
      else {
        val i = basePath.lastIndexOf('/')
        if (i < 0) refPath else basePath.substring(0, i + 1) + refPath
      }
    val (bs, ba, bp, bq) = split(base)
    val (rs, ra, rp, rq) = split(ref)
    val (ts, ta, tp, tq) =
      if (rs != null) (rs, ra, rds(rp), rq)
      else if (ra != null) (bs, ra, rds(rp), rq)
      else if (rp.isEmpty) (bs, ba, bp, if (rq != null) rq else bq)
      else if (rp.startsWith("/")) (bs, ba, rds(rp), rq)
      else (bs, ba, rds(merge(ba, bp, rp)), rq)
    val sb = new java.lang.StringBuilder(base.length + ref.length)
    if (ts != null) sb.append(ts).append(':')
    if (ta != null) sb.append("//").append(ta)
    sb.append(tp)
    if (tq != null) sb.append('?').append(tq)
    sb.toString
  }

  def functionBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "html_to_text" -> (exprs => HtmlToText(exprs.head)),
    "extract_links" -> (exprs => ExtractLinks(exprs.head)),
    "extract_anchors" -> (exprs => ExtractAnchors(exprs.head)),
    "resolve_url" -> (exprs => ResolveUrl(exprs.head, exprs(1))),
    "word_shingles" -> (exprs => WordShingles(exprs.head, intArg(exprs, 1))),
    "distinct_shingles" -> (exprs => DistinctShingles(exprs.head, intArg(exprs, 1))),
    "distinct_shingle_structs" -> (exprs => DistinctShingleStructs(exprs.head, intArg(exprs, 1))),
    "simhash32" -> (exprs => SimHash32(exprs.head)),
    "minhash_slices" -> (exprs => MinHashSlices(exprs.head, intArg(exprs, 1))),
    "top_gram_frac" -> (exprs => TopGramFrac(exprs.head, intArg(exprs, 1))),
    "word_chunks" -> (exprs => WordChunks(exprs.head, intArg(exprs, 1), intArg(exprs, 2))),
    "cdc_chunk_hashes" -> (exprs => CdcChunkHashes(exprs.head, intArg(exprs, 1))),
    "percent_normalize" -> (exprs => PercentNormalize(exprs.head)),
    "term_count_structs" -> (exprs => TermCountStructs(exprs.head)),
    "phrase_count" -> (exprs => PhraseCount(exprs.head,
      strArg(exprs, 1), strArg(exprs, 2))),
    "term_count" -> (exprs => TermCount(exprs.head, strArg(exprs, 1))),
    "phrase_runs" -> (exprs => PhraseRuns(exprs.head, strArg(exprs, 1))))

  private def strArg(exprs: Seq[Expression], i: Int): String = {
    if (exprs.length <= i) throw new IllegalArgumentException(
      s"missing argument ${i + 1}: expected a string literal, got only ${exprs.length} argument(s)")
    exprs(i) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: UTF8String, StringType) =>
        v.toString
      case other => throw new IllegalArgumentException(
        s"argument ${i + 1} must be a string literal, got $other")
    }
  }

  /** Optional SQL registration of every native text expression, so the
    * engine's SQL surface matches the DataFrame one:
    * `SELECT word_shingles(text, 5)`, `simhash32(text)`,
    * `minhash_slices(text, 5)`, `top_gram_frac(text, 2)`, ...
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functionBuilders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
