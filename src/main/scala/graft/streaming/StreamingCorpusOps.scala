package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.TextExpressions

/** Streaming twins of the corpus-construction family: the same
  * operators the batch pipeline runs over `documents`, re-expressed for
  * a document STREAM — the shape of a continuously ingesting training
  * pipeline, where "is this new doc a near-dup of anything we already
  * took?" must be answered incrementally instead of by re-running a
  * batch dedup over the whole corpus.
  *
  * All three tiers mirror the batch family exactly:
  *  - quality/repetition gating is stateless (pure map — the native
  *    expressions stream as-is),
  *  - exact dedup is content-key state (`dropDuplicates` over md5),
  *  - near-dup candidates are per-band bucket state: the SAME banding
  *    scheme as `dedup_minhash` (native one-pass MinHash signature, 4
  *    bands of 2 slices), with each band bucket held as
  *    `flatMapGroupsWithState` state so a new document pairs against
  *    every prior bucket member ACROSS micro-batches.
  *
  * 100 TB notes: band-bucket state is hash-partitioned across executors
  * by (band_idx, band_hash) — the same shuffle key as the batch query —
  * and stored in the state store (RocksDB in production). Buckets cap
  * at `maxBucket` members, the streaming analog of the batch
  * stop-shingle guard: a bucket that hot is boilerplate, and its
  * members stop pairing instead of producing quadratic output. Use
  * `ttl` (processing-time timeout) to bound total state by recency when
  * the stream is unbounded.
  */
object StreamingCorpusOps {

  case class Doc(doc_id: Long, text: String)
  case class BandRow(band_idx: Int, band_hash: String, doc_id: Long)
  /** One candidate per (pair, band) it collides in — consumers dedupe
    * with a downstream aggregate exactly like the batch query does.
    */
  case class CandidatePair(a_id: Long, b_id: Long, band_idx: Int)
  // Array, not Vector (the product encoder compiles array fields
  // cleanly; immutable-collection builders trip janino), and public,
  // not private (generated deserializer code calls the accessors from
  // outside the companion). State-internal, not API.
  case class Bucket(members: Array[Long], overflowed: Boolean)

  implicit private val docEnc: Encoder[Doc] = Encoders.product[Doc]
  implicit private val bandEnc: Encoder[BandRow] = Encoders.product[BandRow]
  implicit private val pairEnc: Encoder[CandidatePair] = Encoders.product[CandidatePair]

  /** Stateless quality + repetition gate — the EXACT conjunction of the
    * batch `text_quality` is_quality gate (token count in [10, 120],
    * type-token ratio >= 0.15) and the batch `text_repetition` keep
    * flag (rounded top-2-gram <= 0.2, top-3-gram <= 0.18, dup-5-gram
    * <= 0.15), over the same `TextOps.tokens` tokenization, so a doc
    * kept here is a doc BOTH batch gates would keep. A pure map-side
    * projection, so it runs identically on a batch frame or a streaming
    * one. Emits only kept docs with their scores attached.
    */
  def qualityGate(docs: DataFrame): DataFrame = {
    val ws = graft.operators.TextOps.tokens(col("text"))
    val top2 = round(TextExpressions.top_gram_frac(col("text"), 2), 6)
    val top3 = round(TextExpressions.top_gram_frac(col("text"), 3), 6)
    val dup5 = when(size(ws) > 4,
        round(lit(1.0) - size(array_distinct(
          graft.operators.TextOps.shinglesOfText(col("text"), 5)))
          .cast("double") / (size(ws) - lit(4)), 6))
      .otherwise(lit(0.0))
    docs
      .withColumn("n_tokens", size(ws).cast("long"))
      .withColumn("ttr", round(size(array_distinct(ws)) / col("n_tokens"), 6))
      .withColumn("top_2gram_frac", top2)
      .withColumn("top_3gram_frac", top3)
      .withColumn("dup_5gram_frac", dup5)
      .filter(col("n_tokens") >= 10 && col("n_tokens") <= 120 &&
        col("ttr") >= 0.15 &&
        col("top_2gram_frac") <= 0.2 && col("top_3gram_frac") <= 0.18 &&
        col("dup_5gram_frac") <= 0.15)
  }

  /** Streaming decontamination gate: drop arriving docs that share a
    * verbatim word n-gram with the benchmark set — the eval-leak check
    * applied at INGEST time, so contaminated documents never enter the
    * corpus instead of being scrubbed by a later batch sweep.
    * Stateless, so it runs identically on a batch frame or a stream and
    * drops exactly the docs the batch `overlapReport` FLAGS (pinned by
    * StreamingCorpusSpec). Null-text docs pass the gate — no grams
    * means nothing to leak — while the batch report omits them
    * entirely (its per-doc denominator comes from the gram scan, like
    * its oracle's).
    *
    * Cost model: a naive `arrays_overlap` against the gram literal
    * would re-scan the WHOLE benchmark set per arriving doc. Instead a
    * driver-built Bloom filter over the bench grams screens each doc in
    * O(its ~100 grams) regardless of benchmark size; only
    * Bloom-positive docs (actual leaks + the ~1% false-positive tail)
    * pay the exact `arrays_overlap` confirm, so the common clean-doc
    * path never touches the full set. The conjunction short-circuits in
    * codegen; the exact confirm keeps the gate's keep set identical to
    * the batch report (a Bloom false positive alone never drops a doc).
    * The screen is the native `bloom_might_contain_any` expression (an
    * earlier ScalaUDF paid a per-row InternalRow→Seq[String] conversion
    * and broke whole-stage codegen around the gate).
    */
  def deconGate(docs: DataFrame, benchGrams: Array[String], n: Int,
      textCol: String = "text"): DataFrame = {
    val bloom = org.apache.spark.util.sketch.BloomFilter
      .create(math.max(benchGrams.length, 1).toLong, 0.01)
    benchGrams.foreach(bloom.putString)
    // exact confirm = one O(1) hash probe per doc gram (native
    // in_string_set against a plan-held StringSet) — an
    // arrays_overlap(.., typedlit(benchGrams)) literal re-built its
    // probe set per ROW and embedded the whole gram array in the plan
    val benchSet = new graft.functions.StringSet(benchGrams)
    docs
      .withColumn("__grams",
        graft.operators.TextOps.distinctShinglesOfText(col(textCol), n))
      .filter(!coalesce(
        graft.functions.SketchExpressions.bloom_might_contain_any(bloom, col("__grams")) &&
          exists(col("__grams"),
            g => graft.functions.SketchExpressions.in_string_set(benchSet, g)),
        lit(false)))
      .drop("__grams")
  }

  /** Streaming PII scrub: the redaction chain applied at ingest — a
    * pure map-side projection (shared `TextOps.scrubPii` regexp chain),
    * so a document's PII never reaches the corpus store. Identical on
    * batch and streaming frames by construction.
    */
  def piiScrub(docs: DataFrame): DataFrame =
    docs.withColumn("text", graft.operators.TextOps.scrubPii(col("text")))

  /** Ingest-time boilerplate-span scrub — the ACT-ON-THE-SIGNAL twin of
    * the batch `dedup_span_exact` report: spans from `blockedSpans`
    * (non-overlapping `size`-token windows, the report's exact chunk
    * definition — build the list with
    * `TextOps.collectRepeatedSpans(corpus, size)`, which exposes the
    * report's df >= 2 span STRINGS) are CUT from arriving text, the
    * surviving spans re-joined in order. Headers, footers, and licence
    * blocks die at the span, so the doc survives curation instead of
    * being dropped whole.
    *
    * Same cost model as [[deconGate]]: a driver-built Bloom over the
    * blocked spans screens each doc map-side in O(its spans); only
    * screen-positive docs (actual hits + the ~1% false-positive tail)
    * pay the exact membership check — an O(1) hash probe per span via
    * the native `in_string_set` expression, NOT an
    * `array_contains(typedlit(...))` literal whose per-span cost is a
    * linear scan of the whole blocklist and whose literal array bloats
    * the plan. Only docs that actually LOSE a span are rebuilt — a
    * clean doc's text passes through byte-identical (never
    * re-normalized). CAVEAT — survivor whitespace: when any span IS
    * cut, the remaining text is rebuilt as `array_join(kept, " ")`
    * over the word-chunk tokens, so runs of spaces/newlines in the
    * SURVIVING content collapse to single spaces — lossy beyond the
    * removed span itself. That matches the chunk definition (the same
    * tokens the signal was computed on) and is fine for LM curation;
    * if byte fidelity of survivors matters, cut spans by character
    * offset in the original text instead of re-joining tokens.
    * Stateless and codegen'd end to end; identical on
    * batch and stream. Output adds `spans_cut` (how many spans were
    * removed) for pipeline telemetry. The blocklist must be
    * driver-bounded (hot boilerplate spans, not every duplicate in a
    * corpus); a corpus-scale span kill-set belongs in an anti-join.
    */
  def spanScrub(docs: DataFrame, blockedSpans: Array[String],
      size: Int = 32): DataFrame = {
    val bloom = org.apache.spark.util.sketch.BloomFilter
      .create(math.max(blockedSpans.length, 1).toLong, 0.01)
    blockedSpans.foreach(bloom.putString)
    val blockSet = new graft.functions.StringSet(blockedSpans)
    val spans = graft.functions.TextExpressions.word_chunks(col("text"), size, size)
    val kept = filter(spans,
      c => !graft.functions.SketchExpressions.in_string_set(blockSet, c))
    docs
      .withColumn("__hit", coalesce(
        graft.functions.SketchExpressions.bloom_might_contain_any(bloom, spans),
        lit(false)))
      .withColumn("spans_cut",
        when(col("__hit"), size_(spans) - size_(kept)).otherwise(lit(0)).cast("int"))
      .withColumn("text",
        when(col("spans_cut") > 0, array_join(kept, " ")).otherwise(col("text")))
      .drop("__hit")
  }

  // functions.size, aliased: the param name `size` shadows it above
  private def size_(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.size(c)

  /** Streaming standing-query retrieval gate — the reference's
    * standing query (`scanner.py:75-81` pulls events forever,
    * `filter_.py:110-112` runs the registered patterns over each one)
    * upgraded from boolean regex match to RANKED retrieval: score
    * each arriving doc against a registered term query with the SAME
    * Lucene-idf BM25 expression `search_bm25_topk` serves, and pass
    * docs scoring at least `minScore`. A stream has no corpus
    * statistics of its own, so the gate scores with PINNED stats from
    * the last indexed corpus version (`n` docs, per-term `dfs`, total
    * token count `sumdl`) — how production streaming scorers work:
    * stats refresh when the index rebuilds, not per event. With the
    * stats driver-side, the idf and avgdl constants FOLD at plan
    * build (JVM `math.log` on the same doubles the batch scorer's
    * codegen feeds `LOG`, so scores are bit-identical to
    * `search_bm25_topk`'s for the same doc — pinned by
    * StreamingCorpusSpec); the per-doc work is tf counting over the
    * token array. Stateless map-side projection: identical on batch
    * and stream, restart-safe with no state store. Null-text docs
    * never match (the reference skips unfetchable text,
    * `scanner.py:77-81`).
    */
  def standingQueryGate(docs: DataFrame, terms: Seq[String], n: Long,
      dfs: Seq[Long], sumdl: Long, minScore: Double): DataFrame = {
    require(terms.nonEmpty && terms.length == dfs.length,
      "terms and dfs must align")
    val ws = graft.operators.TextOps.tokens(col("text"))
    val dl = size_(ws).cast("double")
    val avgdl = sumdl.toDouble / n
    val score = terms.zipWithIndex.map { case (t, i) =>
      // native codegen'd tf (same split-with-empty-tokens semantics as
      // the posting store's tokenizer) — an interpreted HOF here would
      // pay ~15x per event on the gate's hot path
      val tf = graft.functions.TextExpressions.term_count(col("text"), t).cast("double")
      val idf = math.log(1.0 + (n - dfs(i).toDouble + 0.5) / (dfs(i).toDouble + 0.5))
      lit(idf) * (tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dl / lit(avgdl)))
    }.reduce(_ + _)
    docs.withColumn("bm25", round(score, 6)).filter(col("bm25") >= minScore)
  }

  /** Streaming frontier SCHEDULER gate — the stream twin of the batch
    * `crawl_robots_gate` + `crawl_frontier` pair, completing the
    * batch/stream convention for the round-15 crawl consumers: each
    * newly discovered URL (the output of `WarcIngest.frontierGate`)
    * gets (a) its RFC 9309 robots verdict — the SAME per-URL decision
    * and per-partition host-rule memo as the batch gate, one shared
    * definition in `Robots.syntheticVerdict` so the two sides cannot
    * drift — and (b) its crawl priority (`n_refs`, `n_src_hosts`) as
    * a STREAM-STATIC broadcast join against the batch-built frontier
    * rollup store (the `standingQueryGate` pattern: heavy corpus
    * stats are pinned on the static side, the stream pays one
    * stateless map + one broadcast probe per URL). Disallowed URLs
    * are dropped — this is the gate in front of the fetch queue; a
    * URL absent from the store is a brand-new discovery and schedules
    * at priority 0.
    *
    * 100 TB: verdicts are map-side (rules memoized per host per
    * partition); the store join is broadcast when the rollup is
    * frontier-top-k sized, or a shuffled stream-static join keyed on
    * the URL when the full rollup rides along — either way no
    * streaming state beyond the upstream first-discovery gate.
    */
  def frontierSchedulerGate(candidates: DataFrame,
      frontierStore: DataFrame): DataFrame = {
    val s = candidates.sparkSession
    import s.implicits._
    candidates.select(col("dst_url")).as[String]
      .mapPartitions { it =>
        val cache = scala.collection.mutable.HashMap
          .empty[String, Seq[graft.operators.Robots.Rule]]
        it.map { url =>
          val (host, ok) = graft.operators.Robots.syntheticVerdict(url, cache)
          (url, host, ok)
        }
      }
      .toDF("dst_url", "host", "allowed")
      .filter(col("allowed"))
      .join(broadcast(frontierStore
        .select(col("dst_url"), col("n_refs"), col("n_src_hosts"))),
        Seq("dst_url"), "left")
      .select(col("dst_url"), col("host"),
        coalesce(col("n_refs"), lit(0L)).as("n_refs"),
        coalesce(col("n_src_hosts"), lit(0L)).as("n_src_hosts"))
  }

  /** Rank-weighted ADMISSION gate — the streaming consumer of the
    * batch-learned PageRank store (r18: `pagerankFrame` — learned
    * ranks are a per-corpus-drop artifact; the stream consumes the
    * FINISHED table, the sample_mixture rate-gate convention):
    * arrivals broadcast-join the frozen (doc_id, rank_ppm) ranks and
    * pass with the EXACT integer coin rule of batch
    * `sample_rank_weighted` (keep iff portable-hash coin <
    * rank_ppm div 4), so a doc admitted here is a doc the batch
    * sampler keeps — StreamingCorpusSpec pins the set equality.
    * Arrivals with no rank row (pages newer than the last rank build)
    * default to the teleport floor 150000 ppm — admitted at the
    * rank-less base rate rather than starved until the next build.
    * Stateless: one broadcast hash join + a map-side filter, so it
    * runs identically on a batch frame or a stream; at 100 TB the
    * rank table rides the same broadcast the batch sampler uses.
    */
  def rankWeightedGate(docs: DataFrame, rankStore: DataFrame): DataFrame = {
    val coin = pmod(graft.operators.TextOps.portableHash32(
      concat(lit("rw|"), col("doc_id").cast("string"))), lit(1000000L))
    docs.join(
        broadcast(rankStore.select(col("doc_id"), col("rank_ppm"))),
        Seq("doc_id"), "left")
      .withColumn("rank_ppm", coalesce(col("rank_ppm"), lit(150000L)))
      .withColumn("coin", coin)
      .filter(col("coin") < expr("rank_ppm div 4"))
  }

  /** Streaming exact dedup on the content key: the first arrival of a
    * text wins, replays and later clones are dropped by per-key state.
    * With a watermarked `ts` column upstream, swap to
    * `dropDuplicatesWithinWatermark` for horizon-bounded state — this
    * unbounded variant is the exact twin of batch `dedup_exact`.
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.withColumn("content_key", md5(col("text")))
      .dropDuplicates("content_key")

  /** Streaming PREFIX-NOVELTY gate — the incremental twin of batch
    * `text_ngram_novelty`: each arriving document's distinct 8-grams
    * (native one-pass scan, docs under the anchor width gated like the
    * batch query) are checked against the gram-hash state store and
    * only FIRST occurrences survive, so the per-doc count of emitted
    * rows IS the doc's novel-gram count against everything already
    * ingested. In the streaming world "the corpus prefix" is arrival
    * order — exactly the semantics an ingest gate wants; when arrival
    * order equals doc_id order the emitted counts equal the batch
    * query's n_novel bit-for-bit (spec-pinned, including across a
    * checkpoint restart). Per-gram state is one key (the
    * exactDedup/dropDuplicates machinery on the 8-byte hash).
    *
    * STATE CONTRACT — bounded BY DEFAULT (r16; the r15 verdict's ask:
    * a production caller must not be able to build an unbounded gate
    * by missing a log line):
    *   - `horizon = Some((tsCol, delay))`: gram state bounded by the
    *     EVENT-TIME watermark (`dropDuplicatesWithinWatermark` on the
    *     8-byte hash — grams older than the delay are evicted, so a
    *     gram can re-read as novel after the horizon passes; the
    *     standard recency-bounded ingest gate).
    *   - no horizon (the default): gram state bounded by PROCESSING
    *     TIME — each gram is stamped with its micro-batch's
    *     `current_timestamp()` and evicted `ingestTtl` (default
    *     24 hours) after ingest. Same suppression semantics inside the
    *     TTL, and state can never outgrow one entry per distinct gram
    *     seen in the trailing window.
    *   - `unbounded = true` (explicit opt-OUT, mutually exclusive with
    *     a horizon): the exact batch twin — one state entry per
    *     distinct gram FOREVER, and the first-occurrence winner
    *     between two docs sharing a gram inside ONE micro-batch is
    *     partition-order nondeterministic. Still logs the warning.
    */
  def novelGrams(docs: DataFrame,
      horizon: Option[(String, String)] = None,
      unbounded: Boolean = false,
      ingestTtl: String = "24 hours"): DataFrame = {
    require(!(unbounded && horizon.nonEmpty),
      "novelGrams: pass an event-time horizon OR unbounded = true, not both")
    val grams = docs
      .filter(size_(split(col("text"), " ")) >= 8)
      .select(col("*"),
        explode(graft.functions.TextExpressions
          .distinct_shingles(col("text"), 8)).as("gram"))
      .withColumn("h", xxhash64(col("gram")))
    horizon match {
      case Some((tsCol, delay)) =>
        grams.select(col("doc_id"), col(tsCol), col("h"))
          .withWatermark(tsCol, delay)
          .dropDuplicatesWithinWatermark("h")
      case None if unbounded =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "novelGrams: UNBOUNDED gram state (one state-store entry per " +
            "distinct 8-gram, never evicted) and nondeterministic " +
            "within-batch first-occurrence ties; pass horizon=Some((ts, " +
            "delay)) for watermark-bounded state")
        grams.select(col("doc_id"), col("h")).dropDuplicates("h")
      case None =>
        // processing-time TTL: the safe default needs no event-time
        // column on the input — the ingest stamp is the micro-batch
        // clock, so eviction is "ingested more than ingestTtl ago"
        grams.select(col("doc_id"), col("h"))
          .withColumn("ingest_ts", current_timestamp())
          .withWatermark("ingest_ts", ingestTtl)
          .dropDuplicatesWithinWatermark("h")
          .select(col("doc_id"), col("h"))
    }
  }

  /** The banding projection shared with `dedup_minhash` — delegates to
    * the single definition in `TextOps.minhashBandRows`.
    */
  def bandRows(docs: DataFrame): Dataset[BandRow] =
    graft.operators.TextOps.minhashBandRows(docs)
      .select(col("band_idx").cast("int").as("band_idx"), col("band_hash"), col("doc_id"))
      .as[BandRow]

  /** Incremental LSH near-dup candidates: each band bucket lives in the
    * state store; a new document emits a pair against EVERY member the
    * bucket accumulated in earlier micro-batches (and earlier in this
    * one), so cross-batch near-dups surface the moment the second copy
    * arrives — the operation a batch dedup can only answer by
    * re-scanning the corpus. Within a batch, rows are processed in
    * doc_id order for deterministic output; pairs are canonicalized
    * (a_id < b_id). A bucket past `maxBucket` stops pairing AND
    * admitting (the batch stop-shingle analog); `ttl` bounds state by
    * processing-time recency when set.
    *
    * ACCEPTED DIVERGENCE from the batch cap: the batch query sizes each
    * bucket BEFORE pairing and drops an over-cap bucket whole (zero
    * pairs), but an online operator cannot know a bucket's final size
    * when its early members arrive, and Append mode cannot retract
    * emitted rows — so a bucket that eventually overflows has already
    * emitted up to C(maxBucket, 2) pairs among its first `maxBucket`
    * members. This over-emission is bounded, one-sided (streaming may
    * emit EXTRA candidates on boilerplate buckets, never miss ones batch
    * would emit at the same cap), and harmless to the pipeline contract:
    * these rows are CANDIDATES whose downstream verify step (actual
    * similarity check, as in `dedup_keep_best`) filters false positives
    * regardless of which side produced them. StreamingCorpusSpec pins
    * the exact freeze point.
    */
  def minhashCandidates(docs: DataFrame, maxBucket: Int = 512,
      ttl: Option[java.time.Duration] = None): Dataset[CandidatePair] =
    candidatesFromBands(bandRows(docs), maxBucket, ttl)

  /** Banding projection for IMAGE payloads — the multimodal analog of
    * [[bandRows]]: decode through the real codec dispatch
    * (PGM/BMP/PNG), fingerprint with dHash, one row per 16-bit band
    * (`Multimodal.dhashBands` — band value doubles as the LSH bucket
    * key, same pigeonhole as the batch `dedup_image_phash`).
    * Undecodable payloads emit nothing: candidate generation is a
    * best-effort accelerator, and the quarantine path for corrupt
    * assets is the ingest source's job, not the fingerprinter's.
    */
  def phashBandRows(assets: DataFrame): Dataset[BandRow] = {
    implicit val inEnc: Encoder[(Long, Array[Byte])] =
      Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    assets.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          fingerprintsOf(payload).iterator.flatMap { case (tag, b) =>
            (0 until 4).iterator.map(i => BandRow(i, s"$tag:${b(i)}", id))
          }
        }
      }
  }

  /** Modality dispatch for the streaming fingerprinter: images (PGM/
    * BMP/PNG/JPEG) take the dHash, Y4M video takes a dHash PER FRAME
    * (the batch `dedup_video_phash` contract — frame-index-agnostic
    * bands are what let a trimmed re-upload collide with its
    * original), WAV audio takes the energy-envelope fingerprint —
    * each through its REAL decoder, every fingerprint landing in the
    * same four-16-bit-band shape, so one bucket-state operator serves
    * every modality. Band values are only comparable WITHIN a
    * modality, so the bucket key carries a modality tag — a WAV and a
    * PNG can never share a bucket, by construction rather than by
    * trusting downstream verify. Undecodable payloads yield nothing.
    */
  private def fingerprintsOf(payload: Array[Byte]): Seq[(String, Array[Int])] = {
    import graft.operators.{Multimodal, Y4m}
    Multimodal.decodeImage(payload).map(img => Seq(("i", Multimodal.dhashBands(img))))
      .orElse(Y4m.decodeY4m(payload).filter(_.frames.nonEmpty)
        .map(v => v.frames.map(fr => ("v", Multimodal.dhashBands(fr)))))
      .orElse(Multimodal.decodeWav(payload)
        .map(a => Seq(("a", Multimodal.audioFingerprintBands(a)))))
      .getOrElse(Seq.empty)
  }

  /** Incremental perceptual near-dup candidates: the SAME bucket-state
    * operator as [[minhashCandidates]] fed by fingerprint bands — a
    * new asset (image, WAV clip, or Y4M stream; see [[phashBandRows]]'
    * modality dispatch) pairs against every perceptually-colliding
    * asset the stream has accumulated, across micro-batches.
    * Downstream verify (exact hamming over the full 64-bit
    * fingerprint, as in the batch queries) filters band-collision
    * false positives.
    */
  def phashCandidates(assets: DataFrame, maxBucket: Int = 512,
      ttl: Option[java.time.Duration] = None): Dataset[CandidatePair] =
    candidatesFromBands(phashBandRows(assets), maxBucket, ttl)

  /** The shared bucket-state core: band rows in, candidate pairs out.
    * Band SOURCES differ per modality (text MinHash, image dHash); the
    * state semantics — deterministic intra-batch order, freeze-at-cap,
    * optional TTL — are one definition, so the streaming dedup
    * contract cannot drift between modalities.
    */
  def candidatesFromBands(bands: Dataset[BandRow], maxBucket: Int = 512,
      ttl: Option[java.time.Duration] = None): Dataset[CandidatePair] = {
    implicit val bucketEnc: Encoder[Bucket] = Encoders.product[Bucket]
    implicit val keyEnc: Encoder[(Int, String)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.STRING)
    val timeout = if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    bands
      .groupByKey(b => (b.band_idx, b.band_hash))
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        (key: (Int, String), it: Iterator[BandRow], state: GroupState[Bucket]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var bucket = state.getOption.getOrElse(
              Bucket(Array.empty[Long], overflowed = false))
            val out = Vector.newBuilder[CandidatePair]
            // deterministic intra-batch order; dedupe replayed ids
            it.toSeq.map(_.doc_id).distinct.sorted.foreach { id =>
              if (!bucket.overflowed && !bucket.members.contains(id)) {
                if (bucket.members.length >= maxBucket)
                  // boilerplate band: freeze BEFORE pairing the
                  // overflowing doc — stop pairing AND admitting
                  bucket = Bucket(Array.empty[Long], overflowed = true)
                else {
                  bucket.members.foreach { m =>
                    out += CandidatePair(math.min(m, id), math.max(m, id), key._1)
                  }
                  bucket = Bucket(bucket.members :+ id, overflowed = false)
                }
              }
            }
            state.update(bucket)
            ttl.foreach(d => state.setTimeoutDuration(d.toMillis))
            out.result().iterator
          }
        })
  }

  /** Running per-term posting statistics. */
  case class PostingStat(term: String, df: Long, cf: Long, max_tf: Long,
      first_doc: Long)
  implicit private val postEnc: Encoder[PostingStat] = Encoders.product[PostingStat]

  /** Streaming INDEX-BUILD twin of the batch `search_postings` /
    * `postingFrame` store: arriving documents fold into per-term
    * posting statistics (df, collection frequency, max tf, first doc)
    * held as per-term state — the incremental maintenance a
    * continuously ingesting retrieval index needs, where the batch
    * path would re-tokenize the whole corpus per refresh. The
    * tokenizer is the SAME native one-pass `TermCountStructs` scan as
    * the batch store (term universe and tf arithmetic cannot drift);
    * state is O(1) per term and the update is associative, so replay
    * order within a batch doesn't matter (doc_id-sorted anyway for
    * determinism of the emission sequence). Emits the updated row per
    * term per batch (Update mode — latest row per term is the current
    * index entry). Assumes each doc_id arrives ONCE (run behind
    * [[exactDedup]], the at-most-once-per-doc convention of the
    * streaming corpus family).
    */
  def runningPostings(docs: DataFrame): Dataset[PostingStat] = {
    implicit val strEnc: Encoder[String] = Encoders.STRING
    implicit val inEnc: Encoder[(String, Long, Long)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong)
    docs
      .select(col("doc_id"),
        explode(TextExpressions.term_count_structs(col("text"))).as("tc"))
      .select(col("tc.term"), col("doc_id"), col("tc.tf"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (term: String, it: Iterator[(String, Long, Long)],
            state: GroupState[PostingStat]) => {
          var st = state.getOption.getOrElse(
            PostingStat(term, 0L, 0L, 0L, Long.MaxValue))
          it.toSeq.sortBy(_._2).foreach { case (_, doc, tf) =>
            st = PostingStat(term, st.df + 1L, st.cf + tf,
              math.max(st.max_tf, tf), math.min(st.first_doc, doc))
          }
          state.update(st)
          Iterator.single(st)
        })
  }

  case class ClusterPick(cluster: Long, rk: Long, vec_id: Long, batches: Long)
  /** Bottom-k admission state: parallel coin/id seqs (kept sorted by
    * (coin, id)) instead of a Seq of tuples — product-encodable as two
    * bigint arrays in the state store. */
  case class PickState(coins: Seq[Long], ids: Seq[Long], batches: Long)
  implicit private val cpEnc: Encoder[ClusterPick] = Encoders.product[ClusterPick]
  implicit private val psEnc: Encoder[PickState] = Encoders.product[PickState]

  /** Streaming cluster-balanced admission — the ingest face of
    * `sample_cluster_balanced`: an arriving vector is assigned its
    * kmeans cluster MAP-SIDE against the FROZEN batch-trained bank
    * (the embeddingDeconGate convention: training happens in batch,
    * ingest only serves), and each cluster admits the `cap` arrivals
    * with the LOWEST deterministic hash coins, ties to the lower
    * vec_id. Bottom-k of a pure per-row function is ORDER-FREE — the
    * admitted set after ANY arrival order equals the batch sampler
    * run over the same rows, so the stream's final state is bit-equal
    * to the batch query (the spec pins full parity against
    * `sample_cluster_balanced`). O(cap) state per cluster, no
    * watermark; every batch re-emits the cluster's current admitted
    * ranks (Update semantics, the runningTopK convention).
    */
  def clusterBalancedGate(vecs: DataFrame,
      bank: graft.functions.CentroidBank, cap: Int = 32): Dataset[ClusterPick] = {
    import graft.operators.{TextOps, VectorOps}
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    implicit val rowEnc: Encoder[(Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    val assigned = vecs
      // the bank lives in the micro-int fixed-point domain — arrivals
      // must quantize identically or boundary vectors change cluster
      .withColumn("__v", VectorOps.microQuantize(col("embedding")))
      .withColumn("__nv", VectorOps.norm2(col("__v")))
      .withColumn("cluster", graft.functions.VectorExpressions
        .seeded_cell_argmax(bank, col("__v"), col("__nv")))
      .withColumn("coin", TextOps.portableHash32(
        concat(lit("cb|"), col("vec_id").cast("string"))))
      .select(col("cluster"), col("coin"), col("vec_id"))
      .as[(Long, Long, Long)]
    assigned.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (cluster: Long, it: Iterator[(Long, Long, Long)],
            state: GroupState[PickState]) => {
          val prev = state.getOption.getOrElse(PickState(Nil, Nil, 0L))
          val merged = (prev.coins.zip(prev.ids) ++ it.map(r => (r._2, r._3)))
            .sorted.take(cap)
          val next = PickState(merged.map(_._1), merged.map(_._2), prev.batches + 1)
          state.update(next)
          merged.iterator.zipWithIndex.map { case ((_, id), i) =>
            ClusterPick(cluster, i + 1L, id, next.batches)
          }
        })
  }

  /** Streaming SEMANTIC decontamination gate — the embedding rung of
    * the decon ladder applied at ingest: an arriving vector is DROPPED
    * iff any benchmark vector in its own quantizer cell scores
    * round-6 cosine >= `minCos` (the batch `decon_embedding` rule).
    * Fully STATELESS: the cell is a native `seeded_cell_argmax`
    * map-side projection (zero exchange), the benchmark side is a
    * static broadcast frame (bench sets are small by construction),
    * and the "contaminated by ANY neighbor" semantics ride a
    * stream-static LEFT ANTI join whose condition carries the cosine
    * gate — no state store, no watermark, every micro-batch decides
    * independently and replays deterministically. Per-row cost at any
    * corpus scale: one argmax over the k-cell bank + dot products
    * against only the bench members of ONE cell.
    */
  def embeddingDeconGate(vecs: DataFrame,
      bank: graft.functions.CentroidBank, bench: DataFrame,
      minCos: Double): DataFrame = {
    import graft.operators.VectorOps
    def withCell(df: DataFrame, v: String, nv: String, cell: String): DataFrame =
      df.withColumn(nv, VectorOps.norm2(col(v)))
        .withColumn(cell, graft.functions.VectorExpressions
          .seeded_cell_argmax(bank, col(v), col(nv)))
    val b = broadcast(
      withCell(bench.select(col("embedding").as("__bv")), "__bv", "__nb", "__bcell"))
    withCell(vecs.withColumn("__v", col("embedding")), "__v", "__nv", "__cell")
      .join(b,
        col("__cell") === col("__bcell") &&
          round(VectorOps.dot(col("__v"), col("__bv")) /
            sqrt(col("__nv") * col("__nb")), 6) >= minCos,
        "left_anti")
      .drop("__v", "__nv", "__cell")
  }
}
