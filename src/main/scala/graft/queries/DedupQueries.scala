package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{SparkEntry, Stores, Tables}
import graft.operators.{TextOps, VectorOps}
import graft.queries.AnnIndexQueries.trainedPairStats
import graft.queries.MultimodalQueries.fanDocs
import graft.queries.SimilarityQueries.{cosineSql, seededCells, seededCellsSql}

/** Dedup and decontamination: exact, MinHash-LSH (candidate and
  * verified pairs, clusters, keepers), SimHash, n-gram Jaccard and
  * containment, substring spans, embedding near-dups, the perceptual
  * image / audio / video fingerprints, and the benchmark-overlap
  * (decon) reports over the same pair machinery. Owns the MinHash pair
  * stores and the fingerprint stores.
  *
  * Scale design: every per-doc computation is a map-side array
  * expression; shuffles happen only on hash keys (LSH band hash,
  * shingle, simhash band), so the bucketing IS the partitioning and
  * each operator is a constant number of shuffles regardless of corpus
  * size. No O(n^2) self-join runs unbucketed.
  */
object DedupQueries {

  /** Shared prelude of the cluster-consuming queries: cache the MinHash
    * candidate pairs, run path-halving connected components (certified
    * fixpoint; see graft.operators.Clustering for the round structure
    * and the spark.graft.cc.checkpointDir fault-tolerance option), hand
    * the (node, label) frame to `body`, and release the cache — safe
    * because connectedComponents eagerly localCheckpoints, so the
    * result no longer depends on the cached pairs.
    */
  private[queries] def minhashClusterLabels(s: SparkSession, dir: String)(
      body: DataFrame => DataFrame): DataFrame = {
    // the pair STORE: CC's repeated passes re-read a tiny parquet
    // instead of re-running the banding
    val pairs = minhashPairsFrame(s, dir).select(col("a_id"), col("b_id"))
    body(graft.operators.Clustering.connectedComponents(s, pairs))
  }

  /** MinHash LSH candidate-pair store — the near-dup pair set is the
    * canonical DERIVED ARTIFACT of a corpus drop (production pipelines
    * store it beside the corpus and every dedup decision reads it):
    * FIVE consumers here (`dedup_minhash`, the verify stage's
    * candidate set, and the three [[minhashClusterLabels]] cluster
    * queries), so the banding pipeline runs once per corpus version
    * per JVM (the [[pagerankFrame]] / nbScoreFrame lifecycle), not
    * once per consumer invocation. (a_id, b_id), a < b, UNSORTED.
    */
  private def minhashPairsFrame(s: SparkSession, dir: String): DataFrame =
    Stores.frame(s, "minhashpairs", dir, "documents") {
      minhashPairsBuildFrame(s, dir)
    }

  /** The store's construction plan, exposed for PlanAuditSpec (the
    * pagerankBuildFrame convention): native MinHashSlices signatures
    * mean NO groupBy(doc_id) stage — the first shuffle is the band
    * bucketing itself.
    */
  private[graft] def minhashPairsBuildFrame(s: SparkSession, dir: String): DataFrame =
    TextOps.minhashCandidatePairs(Tables.documents(s, dir))

  /** Verified near-dup pair store (candidates + exact-Jaccard verify,
    * jaccard >= 0.2): the artifact `dedup_minhash_verified` reports
    * and `export_split_leakage` audits against — built once per
    * corpus version; the verify join runs over the candidate STORE,
    * so one bench pass pays banding + verification at most once.
    * (a_id, b_id, jaccard), UNSORTED.
    */
  private[queries] def verifiedPairsFrame(s: SparkSession, dir: String): DataFrame =
    Stores.frame(s, "verifiedpairs", dir, "documents") {
      verifiedPairsBuildFrame(s, dir)
    }

  private[graft] def verifiedPairsBuildFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cand = minhashPairsFrame(s, dir)
    val candIds = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    val sh = docs.join(candIds, Seq("doc_id"), "semi")
      .select(col("doc_id"),
        explode(TextOps.distinctShingleStructsOfText(col("text"), 5)).as("e"))
      .select(col("doc_id"), xxhash64(col("e.s")).as("h"), col("e.n").as("n"))
    val ia = sh.select(col("doc_id").as("a_id"), col("h"), col("n").as("na"))
    val ib = sh.select(col("doc_id").as("b_id"), col("h"), col("n").as("nb"))
    cand.join(ia, Seq("a_id")).join(ib, Seq("b_id", "h"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(first(col("na")).as("na"), first(col("nb")).as("nb"),
        count(lit(1)).as("i"))
      .withColumn("jaccard", round(col("i") / (col("na") + col("nb") - col("i")), 6))
      .filter(col("jaccard") >= 0.2)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** (doc_id, simhash) — SimHash-32 via md5 hex-digit parity votes;
    * shared by the per-doc query and the pair-matching query.
    *
    * Semantics: bit j of the fingerprint = sign of sum over tokens of
    * (+1 if hex digit j of md5(token) is odd else -1) — identical to
    * the oracle's per-digit substr/isin formulation, but computed by
    * the native one-pass SimHash32 expression: a pure per-row map, so
    * there is NO token explode and NO vote shuffle at all. The first
    * shuffle a consumer pays is its own bucketing.
    */
  private def simhashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.TextExpressions.simhash32_col(col("text")).as("simhash"))

  /** Embedding near-dup pair STORE (a_id, b_id, cos_sim; within-cell
    * pairs at cosine >= 0.45, a < b) — the [[minhashPairsFrame]]
    * lifecycle for the semantic family: the within-cell quadratic
    * pairing is the dominant cost of `dedup_embedding`, the SemDeDup
    * keeper (`dedup_embedding_keep` — its dropped set is exactly the
    * store's b_id side), and `mine_contrastive_pairs`; built once per
    * corpus version. UNSORTED.
    */
  private def embPairsFrame(s: SparkSession, dir: String): DataFrame =
    Stores.frame(s, "embpairs", dir, "embeddings") {
      embPairsBuildFrame(s, dir)
    }

  /** Construction plan (exposed for PlanAuditSpec): the seeded cells'
    * within-cell pairs at cosine >= 0.45.
    */
  private[graft] def embPairsBuildFrame(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.cellPairs(seededCells(s, dir), 0.45)

  /** (doc_id, bh, ph) of the synthetic media families: bh = md5 of
    * doc_id div `family` (the family base, shared by `family`
    * consecutive docs), ph = md5 of the text (the member's perturbation).
    */
  private def familyHashes(s: SparkSession, dir: String, family: Int): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(expr(s"cast(doc_id div $family as string)")).as("bh"),
        md5(col("text")).as("ph"))

  /** The image-fingerprint frame shared by `dedup_image_phash` and
    * `decon_image_phash`: family-structured synthetic PNGs through the
    * REAL codec round trip, dHash as four 16-bit bands — `(doc_id,
    * b0..b3)`, one row per doc, pure map-side; materialized once per
    * corpus version ([[Stores]]): the codec pass is the dominant cost
    * of every perceptual query, so reps measure pairing, not decoding.
    */
  private def imagePhashFrame(s: SparkSession, dir: String): DataFrame =
    Stores.frame(s, "image", dir, "documents") {
      import s.implicits._
      familyHashes(s, dir, 7)
        .as[(Long, String, String)]
        .mapPartitions { it =>
          it.map { case (id, bh, ph) =>
            val img = graft.operators.Multimodal.decodePng(
              graft.operators.Multimodal.syntheticFamilyPng(bh, ph))
              .getOrElse(sys.error(s"doc $id: synthetic family PNG failed to decode"))
            val b = graft.operators.Multimodal.dhashBands(img)
            (id, b(0), b(1), b(2), b(3))
          }
        }
        .toDF("doc_id", "b0", "b1", "b2", "b3")
    }

  /** The audio-fingerprint frame of `dedup_audio_fingerprint`: family
    * PCM signals with per-member one-sample clicks through the REAL
    * WAV round trip, 64 adjacent-window mean-energy bits as four
    * 16-bit bands — `(doc_id, b0..b3)`; materialized once per corpus
    * version ([[Stores]]).
    */
  private def audioFingerprintFrame(s: SparkSession, dir: String): DataFrame =
    Stores.frame(s, "audio", dir, "documents") {
      import s.implicits._
      familyHashes(s, dir, 5)
        .as[(Long, String, String)]
        .mapPartitions { it =>
          it.map { case (id, bh, ph) =>
            val clip = graft.operators.Multimodal.decodeWav(
              graft.operators.Multimodal.syntheticFamilyWav(bh, ph))
              .getOrElse(sys.error(s"doc $id: synthetic family WAV failed to decode"))
            val b = graft.operators.Multimodal.audioFingerprintBands(clip)
            (id, b(0), b(1), b(2), b(3))
          }
        }
        .toDF("doc_id", "b0", "b1", "b2", "b3")
    }

  /** The shingle frame of `dedup_audio_shingle`: shifted-family WAVs
    * (doc-unique prefix of 0..3 windows + shared base signal + click)
    * through the REAL codec, overlapping 32-bit energy-comparison
    * sub-fingerprints (`Multimodal.audioShingleValues`) — `(doc_id,
    * sh)`, DISTINCT values per doc (set semantics are what the
    * pairing counts), materialized once per corpus version.
    */
  private def audioShingleFrame(s: SparkSession, dir: String): DataFrame =
    Stores.frame(s, "audioshingle", dir, "documents") {
      import s.implicits._
      fanDocs(s, dir, familyHashes(s, dir, 5))
        .as[(Long, String, String)]
        .mapPartitions { it =>
          it.flatMap { case (id, bh, ph) =>
            val clip = graft.operators.Multimodal.decodeWav(
              graft.operators.Multimodal.syntheticFamilyWavShifted(bh, ph))
              .getOrElse(sys.error(s"doc $id: synthetic shifted WAV failed to decode"))
            graft.operators.Multimodal.audioShingleValues(clip)
              .distinct.iterator.map(v => (id, v))
          }
        }
        .toDF("doc_id", "sh")
    }

  /** The ALL-FRAMES video-fingerprint frame of `dedup_video_phash`:
    * family Y4M streams with per-member arbitrary-frame watermarks and
    * leading-frame trims through the REAL stream decode, EVERY frame
    * dHashed — `(doc_id, f, b0..b3)`, one row per decoded frame (f is
    * the member-clip index, 0-based after any trim); materialized once
    * per corpus version ([[Stores]]). Sampling every frame
    * is what catches a trimmed/re-cut clip: the re-upload's frame j is
    * the original's frame j+1, so frame-index-agnostic banding still
    * collides them where a frame-0-only fingerprint sees two unrelated
    * hashes. At production scale the same frame rows come from
    * stride-sampled keyframes (scene cuts); the banding/verify tail is
    * identical — only the sampler density changes.
    */
  private def videoPhashFrame(s: SparkSession, dir: String): DataFrame =
    Stores.frame(s, "video", dir, "documents") {
      import s.implicits._
      familyHashes(s, dir, 6)
        .as[(Long, String, String)]
        .mapPartitions { it =>
          it.flatMap { case (id, bh, ph) =>
            val v = graft.operators.Y4m.decodeY4m(
              graft.operators.Y4m.syntheticFamilyY4m(bh, ph))
              .getOrElse(sys.error(s"doc $id: synthetic family Y4M failed to decode"))
            require(v.frames.nonEmpty, s"doc $id: zero frames decoded")
            graft.operators.Multimodal.frameDhashRows(id, v.frames)
          }
        }
        .toDF("doc_id", "f", "b0", "b1", "b2", "b3")
    }

  /** The band explosion shared by every perceptual consumer: four
    * (band, value) rows per fingerprint row, value = the band's 16-bit
    * slice. One definition so the pairing tails, the decon rung, and
    * the bucket-size audit cannot drift on what a "bucket key" is.
    */
  private def bandExplode(fp: DataFrame): DataFrame =
    fp.select(col("*"), explode(sequence(lit(0), lit(3))).as("b"))
      .withColumn("v",
        expr("CASE b WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END"))

  /** Test hook (BucketCapSpec): the three perceptual fingerprint
    * frames, band-exploded, keyed by modality. The perceptual ORACLES
    * replay uncapped self-joins while the Spark side caps buckets at
    * `TextOps.MaxBucket` — identical results only while every (band,
    * value) bucket stays under the cap, so the margin on the test
    * corpora is pinned as an invariant (a rejected sum-energy audio
    * fingerprint once produced ~500-member buckets).
    */
  private[graft] def perceptualBandFrames(s: SparkSession, dir: String): Map[String, DataFrame] =
    Map(
      "image" -> bandExplode(imagePhashFrame(s, dir)),
      "audio" -> bandExplode(audioFingerprintFrame(s, dir)),
      "video" -> bandExplode(videoPhashFrame(s, dir)),
      // the shingle frame's bucket key is the value alone — conformed
      // to the (b, v) shape so the same audit covers it
      "audio_shingle" -> audioShingleFrame(s, dir)
        .select(lit(0).as("b"), col("sh").as("v"), col("doc_id")))

  /** Shared decon tail of the perceptual ladder rungs (image / audio /
    * video): a fingerprint frame in (`(doc_id, [f,] b0..b3)` — a
    * multi-fingerprint frame like the all-frames video store works
    * unchanged, the band keys simply don't carry the frame index),
    * the per-train-doc contamination report out. Same contract as
    * `decon_embedding`: the bench side (doc_id % 50 == 0, the split
    * every decon rung uses) is tiny, so its banded fingerprints
    * BROADCAST and the train side never shuffles for the match;
    * candidates = band-key collisions, verify = exact hamming <= 6;
    * the report is total (every train doc, contaminated or not) via a
    * one-column pruned documents scan as the totality base — NOT the
    * fingerprint frame, which would double-read the store.
    */
  private def perceptualDecon(s: SparkSession, dir: String, frame: DataFrame,
      flagCol: String): DataFrame = {
    val banded = bandExplode(frame)
    val t = banded.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      .select(col("b"), col("v"), col("doc_id").as("tid"),
        col("b0").as("t0"), col("b1").as("t1"), col("b2").as("t2"), col("b3").as("t3"))
    val bench = banded.filter(pmod(col("doc_id"), lit(50)) === 0)
      .select(col("b"), col("v"), col("doc_id").as("bid"),
        col("b0").as("q0"), col("b1").as("q1"), col("b2").as("q2"), col("b3").as("q3"))
    val m = t.join(broadcast(bench), Seq("b", "v"))
      .filter(expr("CAST(bit_count(t0 ^ q0) + bit_count(t1 ^ q1) + " +
        "bit_count(t2 ^ q2) + bit_count(t3 ^ q3) AS INT)") <= 6)
      .select(col("tid"), col("bid")).distinct()
      .groupBy(col("tid")).agg(count(lit(1)).as("n_bench_matches"))
    Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(50)) =!= 0)
      .select(col("doc_id"))
      .join(m.withColumnRenamed("tid", "doc_id"), Seq("doc_id"), "left")
      .withColumn("n_bench_matches", coalesce(col("n_bench_matches"), lit(0L)))
      .withColumn(flagCol, (col("n_bench_matches") >= 1).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Pairing tail of the MULTI-FINGERPRINT perceptual queries (video
    * all-frames today; any keyframe/shingle source tomorrow): frame
    * rows `(doc_id, f, b0..b3)` in, doc-level near-dup pairs out.
    * Banding is frame-index-AGNOSTIC — bucket key is (band, value)
    * only — which is precisely what makes a trimmed clip collide with
    * its original (the matching content sits at different frame
    * indices). Same scale shape as [[perceptualPairs]]: ONE exchange
    * into (band, value) buckets, capped expansion, integer xor
    * verify on candidate frame pairs only; the per-doc-pair rollup
    * (min hamming + matching-frame-pair count) rides a collect_set
    * aggregate — set semantics dedup multi-band collisions inside the
    * SAME exchange, so no separate distinct stage is planned.
    */
  private def perceptualFramePairs(frames: DataFrame, maxHamming: Int): DataFrame =
    TextOps.bucketPairs(bandExplode(frames), Seq("b", "v"),
        struct(col("doc_id"), col("f"), col("b0"), col("b1"), col("b2"), col("b3")))
      // struct sort order is doc_id-major, so p.a.doc_id <= p.b.doc_id;
      // dropping equality leaves a_id < b_id (intra-doc frame pairs are
      // not near-DUPS — the same clip trivially matches itself)
      .filter(col("p.a.doc_id") =!= col("p.b.doc_id"))
      .select(col("p.a.doc_id").as("a_id"), col("p.b.doc_id").as("b_id"),
        col("p.a.f").as("fa"), col("p.b.f").as("fb"),
        expr("CAST(bit_count(p.a.b0 ^ p.b.b0) + bit_count(p.a.b1 ^ p.b.b1) + " +
          "bit_count(p.a.b2 ^ p.b.b2) + bit_count(p.a.b3 ^ p.b.b3) AS INT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("a_id"), col("b_id"))
      .agg(collect_set(struct(col("fa"), col("fb"), col("hamming"))).as("fp"))
      .select(col("a_id"), col("b_id"),
        array_min(transform(col("fp"), x => x.getField("hamming"))).as("min_hamming"),
        size(col("fp")).cast("long").as("n_frame_pairs"))
      .orderBy(col("a_id"), col("b_id"))

  /** Shared pairing tail of the perceptual-dedup family (image dHash,
    * audio envelope, video frame-0 dHash): a `(doc_id, b0..b3)`
    * fingerprint frame in, verified near-dup pairs out. Band values
    * double as LSH bucket keys (pigeonhole: hamming <= maxHamming over
    * 64 bits forces >= 1 of 4 bands equal when maxHamming < 8), ONE
    * exchange on (band, value), capped buckets, integer xor/bit_count
    * verify on candidates only. One definition so the three modality
    * queries cannot drift in plan shape or pairing semantics.
    */
  private def perceptualPairs(hashed: DataFrame, maxHamming: Int): DataFrame =
    TextOps.bucketPairs(bandExplode(hashed), Seq("b", "v"),
        struct(col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3")), carry = Seq("b"))
      // a pair colliding in several bands would duplicate; instead of
      // a DISTINCT (a whole extra exchange), keep only the copy from
      // the LOWEST matching band — computable from the two
      // fingerprints already in the row, so the dedupe is map-side.
      // Equivalent to DISTINCT whenever buckets are under the cap
      // (BucketCapSpec pins that), because the lowest-band copy is
      // then guaranteed to have been emitted.
      .filter(col("b") === when(col("p.a.b0") === col("p.b.b0"), lit(0))
        .when(col("p.a.b1") === col("p.b.b1"), lit(1))
        .when(col("p.a.b2") === col("p.b.b2"), lit(2))
        .otherwise(lit(3)))
      .select(col("p.a.doc_id").as("a_id"), col("p.b.doc_id").as("b_id"),
        expr("CAST(bit_count(p.a.b0 ^ p.b.b0) + bit_count(p.a.b1 ^ p.b.b1) + " +
          "bit_count(p.a.b2 ^ p.b.b2) + bit_count(p.a.b3 ^ p.b.b3) AS INT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("a_id"), col("b_id"))

  /** The shingle-LSH candidate INTERSECTION frame shared by
    * `dedup_ngram_jaccard` and `dedup_containment` — (a_id, b_id,
    * na, nb, i) for every candidate pair, one definition so the two
    * measures cannot drift on candidates, the stop-shingle policy,
    * or the packed-id scheme. All plan commentary below is the
    * jaccard query's original (the plan is unchanged by the split).
    */
  private def shingleIntersections(s: SparkSession, dir: String): DataFrame = {
      // Single shingle pass: the per-doc distinct-shingle count rides
      // along on every exploded row (map-side, no second scan), so the
      // Jaccard denominator needs NO sizes table at all — no join, no
      // per-document broadcast (a per-doc table shipped to every
      // executor is O(corpus) and a scale-killer).
      //
      // Native fused scan: distinct shingles + per-doc count emerge as
      // struct rows from ONE expression (DistinctShingleStructs), the
      // Generate explodes a ready array, and everything downstream is
      // whole-stage codegen — no interpreted per-element lambda left
      // anywhere on the widest stage. The (doc_id, n) payload is PACKED
      // into one long (doc_id high 32 bits, so packed order == doc_id
      // order): the bucket agg collects primitive longs instead of
      // structs and the shuffle rows are 16 bytes flat. Packing bound:
      // doc_id in [0, 2^31) and n < 2^32 — ENFORCED below with a
      // codegen'd guard that raises instead of sign-extending a big id
      // into silently wrong negative pairs; an id space beyond 2^31
      // would revert to the struct payload, same plan shape.
      //
      // The shuffle key is xxhash64(shingle) — an 8-byte long instead
      // of the ~30-byte shingle text on the pipeline's widest shuffle.
      // The key is engine-internal (the oracle joins on raw shingles):
      // a cross-shingle collision (~n^2/2^65) merges two posting lists,
      // producing one spurious low-i candidate that the jaccard >= 0.2
      // gate then discards; the pa < pb guard below drops the
      // intra-doc-collision self-pair. Any surviving perturbation would
      // trip the hash gate.
      val packableId = when(
          col("doc_id") >= 0 && col("doc_id") < (1L << 31), col("doc_id"))
        .otherwise(raise_error(concat(
          lit("dedup_ngram_jaccard: doc_id outside packable range [0, 2^31): "),
          col("doc_id").cast("string"))))
      val sh = Tables.documents(s, dir)
        .select(packableId.as("doc_id"),
          explode(TextOps.distinctShingleStructsOfText(col("text"), 5)).as("e"))
        .select(xxhash64(col("e.s")).as("s"),
          (shiftleft(col("doc_id"), 32) + col("e.n")).as("dn"))
      // Skew guard: STOP-SHINGLE filtering, not a bucket cap. A shingle
      // shared by > MaxBucket docs is boilerplate (its pair expansion is
      // quadratic AND its evidentiary value is ~zero); dropping the
      // whole posting list keeps every surviving pair's `i` exact — a
      // truncated list would silently undercount intersections for
      // pairs that also meet in other buckets. `n` stays the full
      // distinct-shingle count on BOTH engines (the oracle applies the
      // same df filter to the intersection only), so jaccard values are
      // exact under the shared definition; healthy corpora (no shingle
      // over the threshold) are bit-identical to the unfiltered query.
      //
      // collect_list, NOT array_sort(collect_set(...)): the rows are
      // already distinct per (doc_id, s) (distinct shingles upstream),
      // so the set's per-insert hashing buys nothing, and sorting every
      // bucket costs ~0.6 s at sf0.1. Sorted buckets are only needed
      // when a CAP truncates them deterministically — here over-cap
      // buckets are dropped WHOLE (stop-shingles), so order is free to
      // vary and each pair is instead canonicalized by least/greatest
      // on the packed longs (doc_id ordering, see packing above).
      //
      // df prefilter BEFORE the bucket materialization: most 5-grams in
      // a natural corpus are unique (df=1 — here ~95% of postings) and
      // can never produce a pair, yet the old plan built a one-element
      // collect_list buffer for every one of them. The document
      // frequency is a window count over the SAME hash partitioning the
      // bucket agg needs, so Catalyst plans ONE exchange on `s`: window
      // df → filter (df=1 and stop-shingles both die here) → the
      // collect_list agg runs partition-local on the ~5% survivors with
      // no second shuffle. (Measured vs alternatives at sf0.1: a
      // count-agg + broadcast-semi-join prefilter pays a second pass
      // and a separate agg exchange — slower; this fused form cut the
      // query ~30%.) Semantics are identical: window df == bucket size.
      // EXPLICIT repartition on the posting key, pinned to the session's
      // shuffle-partition setting: at bench scale the posting exchange
      // is ~4 MB, so AQE's 64 MB advisory coalesces it to ONE partition
      // and the window sort runs single-threaded — measured +30% on the
      // whole query (0.25 s -> 0.32 s at sf0.1). A user-specified
      // partition count is exempt from AQE coalescing, restoring the
      // sort/agg/explode parallelism; it tracks spark.sql.shuffle
      // .partitions, so cluster deployments scale it with the data
      // instead of inheriting a bench-tuned constant. Semantics are
      // untouched (same hash distribution the window would demand).
      sh.repartition(s.sessionState.conf.numShufflePartitions, col("s"))
        .withColumn("df",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("s"))))
        .filter(col("df") >= 2 && col("df") <= TextOps.MaxBucket)
        .groupBy(col("s"))
        .agg(collect_list(col("dn")).as("ids"))
        .select(explode(TextOps.pairCombinations(col("ids"))).as("p0"))
        .select(least(col("p0.a"), col("p0.b")).as("pa"),
          greatest(col("p0.a"), col("p0.b")).as("pb"))
        .filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("i"))
        .select(shiftright(col("pa"), 32).as("a_id"),
          shiftright(col("pb"), 32).as("b_id"),
          col("pa").bitwiseAND(lit(0xffffffffL)).as("na"),
          col("pb").bitwiseAND(lit(0xffffffffL)).as("nb"),
          col("i"))
  }

  /** The audited ingest for `dedup_substring`: the clean corpus plus
    * DETERMINISTIC planted spans (the text_pii_scrub convention — the
    * fixtures ship no cross-document substrings, so the operator
    * would otherwise run on a vacuous signal). % 7 == 0 docs
    * re-arrive VERBATIM under id + 1e7 (full-length duplicate span);
    * % 11 == 5 docs with >= 40 tokens re-arrive under id + 2e7 as
    * PARTIAL QUOTES — per-doc-unique head/tail tokens around the
    * 24-token middle slice (tokens 9..32), so run extension must
    * stop at exactly 24 tokens instead of saturating to the full doc.
    */
  private def substringIngest(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val reups = base.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val quotes = base.filter(pmod(col("doc_id"), lit(11)) === 5 &&
        size(split(col("text"), " ")) >= 40)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        concat(lit("qh"), col("doc_id").cast("string"), lit(" "),
          array_join(slice(split(col("text"), " "), 9, 24), " "),
          lit(" qt"), col("doc_id").cast("string")).as("text"))
    base.unionByName(reups).unionByName(quotes)
  }

  private[queries] def shSql: String =
    "list_transform(generate_series(1, greatest(len(ws)-4, 1)), i -> array_to_string(ws[i:i+4], ' '))"

  /** Shared CTE chain computing the MinHash-LSH candidate pairs (used by
    * the dedup_minhash oracle and extended by dedup_clusters).
    */
  private[queries] def minhashPairsCtes: String =
    "t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
    s"sh AS (SELECT doc_id, $shSql sh FROM t), " +
    "sg AS (SELECT doc_id, list_transform([0,1,2,3,4,5,6,7], k -> " +
    "list_min(list_transform(sh, s -> substr(md5(s), k*4+1, 4)))) sigs FROM sh), " +
    "bd AS (SELECT doc_id, list_transform([0,1,2,3], b -> " +
    "sigs[b*2+1] || sigs[b*2+2]) bands FROM sg), " +
    "bb AS (SELECT doc_id, i AS band_idx, bands[i] AS band_hash FROM bd " +
    "CROSS JOIN (SELECT unnest(generate_series(1,4)) i)), " +
    "pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bb a JOIN bb b " +
    "ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)"

  /** The ONE verbatim-8-gram decontamination oracle — shared by
    * `decon_ngram_overlap` and its bloom-prefiltered physical twin
    * `decon_bloom_prefilter`, whose results are identical by
    * construction (see Decontamination.bloomOverlapReport).
    */
  private def deconNgramOverlapSql: String =
    "WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
    "g AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, " +
    "unnest(list_transform(generate_series(1, greatest(len(ws)-7, 1)), i -> array_to_string(ws[i:i+7], ' '))) s FROM t)), " +
    "bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 50 = 0), " +
    "cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_grams FROM g WHERE doc_id % 50 <> 0 GROUP BY doc_id), " +
    "ov AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) o FROM g JOIN bench USING (s) " +
    "WHERE g.doc_id % 50 <> 0 GROUP BY g.doc_id) " +
    "SELECT cnt.doc_id, n_grams, COALESCE(o, CAST(0 AS BIGINT)) AS n_overlap, " +
    "round(COALESCE(o, 0) / n_grams, 6) AS overlap_frac, " +
    "CAST(CASE WHEN COALESCE(o, 0) >= 1 THEN 1 ELSE 0 END AS INT) AS is_contaminated " +
    "FROM cnt LEFT JOIN ov ON cnt.doc_id = ov.doc_id ORDER BY cnt.doc_id"

  /** Recursive connected-components CTEs over `pairs` -> `labels(node,
    * label)`; shared by the dedup_clusters and dedup_keep_best oracles
    * so the two cluster definitions cannot drift.
    */
  private[queries] def ccCtes: String =
    "edges AS (SELECT a_id u, b_id v FROM pairs UNION ALL SELECT b_id, a_id FROM pairs), " +
    "reach(node, r) AS (SELECT DISTINCT u, u FROM edges " +
    "UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.node), " +
    "labels AS (SELECT node, MIN(r) AS label FROM reach GROUP BY node)"

  // the dedup_audio_fingerprint fingerprint chain + the decon tail
  // (bench split, band-collision join, totality left join)
  private def deconAudioFingerprintSql: String =
    "WITH d AS (SELECT doc_id, md5(CAST(doc_id // 5 AS VARCHAR)) bh, md5(text) ph FROM documents), " +
    "g AS (SELECT doc_id, bh, ph, 64 + (ascii(substr(bh, 1, 1)) % 8) * 16 AS n FROM d), " +
    "p AS (SELECT *, (ascii(substr(ph, 1, 1)) * 31 + ascii(substr(ph, 2, 1))) % n AS ppos, " +
    "ascii(substr(ph, 3, 1)) AS pc FROM g), " +
    "s AS (SELECT doc_id, (i * 65) // n AS w, " +
    "abs(CASE WHEN i = ppos THEN (pc - 80) * 256 " +
    "ELSE (ascii(substr(bh, (i % 32) + 1, 1)) - 80) * 256 END) AS v " +
    "FROM p CROSS JOIN (SELECT unnest(generate_series(0, 175)) i) WHERE i < n), " +
    "e AS (SELECT doc_id, w, CAST(SUM(v) AS BIGINT) ev, CAST(COUNT(*) AS BIGINT) cw FROM s GROUP BY doc_id, w), " +
    "ee AS (SELECT p.doc_id, wi.w, COALESCE(e.ev, 0) ev, COALESCE(e.cw, 0) cw FROM p " +
    "CROSS JOIN (SELECT unnest(generate_series(0, 64)) w) wi " +
    "LEFT JOIN e ON e.doc_id = p.doc_id AND e.w = wi.w), " +
    "bits AS (SELECT l.doc_id, l.w, CASE WHEN l.ev * r.cw > r.ev * l.cw THEN 1 ELSE 0 END bt " +
    "FROM ee l JOIN ee r ON l.doc_id = r.doc_id AND r.w = l.w + 1 WHERE l.w < 64), " +
    "bw AS (SELECT doc_id, " +
    "CAST(SUM(CASE WHEN w // 16 = 0 THEN bt * (1 << (w % 16)) ELSE 0 END) AS BIGINT) b0, " +
    "CAST(SUM(CASE WHEN w // 16 = 1 THEN bt * (1 << (w % 16)) ELSE 0 END) AS BIGINT) b1, " +
    "CAST(SUM(CASE WHEN w // 16 = 2 THEN bt * (1 << (w % 16)) ELSE 0 END) AS BIGINT) b2, " +
    "CAST(SUM(CASE WHEN w // 16 = 3 THEN bt * (1 << (w % 16)) ELSE 0 END) AS BIGINT) b3 " +
    "FROM bits GROUP BY doc_id), " +
    "banded AS (SELECT doc_id, b0, b1, b2, b3, b, " +
    "CASE b WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END v FROM bw " +
    "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) b)), " +
    "m AS (SELECT DISTINCT t.doc_id tid, q.doc_id bid FROM banded t " +
    "JOIN banded q ON t.b = q.b AND t.v = q.v " +
    "WHERE t.doc_id % 50 <> 0 AND q.doc_id % 50 = 0 AND " +
    s"${hammingSql("t.", "q.")} <= 6), " +
    "cnt AS (SELECT tid, CAST(COUNT(*) AS BIGINT) n FROM m GROUP BY tid) " +
    "SELECT d2.doc_id, COALESCE(cnt.n, 0) AS n_bench_matches, " +
    "CAST(CASE WHEN COALESCE(cnt.n, 0) >= 1 THEN 1 ELSE 0 END AS INT) AS is_audio_contaminated " +
    "FROM documents d2 LEFT JOIN cnt ON cnt.tid = d2.doc_id " +
    "WHERE d2.doc_id % 50 <> 0 ORDER BY d2.doc_id"

  private def deconEmbeddingSql: String =
    (s"WITH ${seededCellsSql(keepVec = true)}, " +
     "m AS (SELECT a.vec_id tid FROM cells a JOIN cells b " +
     "ON a.cell = b.cell AND a.vec_id % 50 <> 0 AND b.vec_id % 50 = 0 " +
     s"WHERE round(${cosineSql("a.v", "b.v")}, 6) >= 0.45), " +
     "cnt AS (SELECT tid, CAST(COUNT(*) AS BIGINT) n FROM m GROUP BY tid) " +
     "SELECT d.vec_id, COALESCE(n, CAST(0 AS BIGINT)) AS n_bench_sims, " +
     "CAST(CASE WHEN COALESCE(n, 0) >= 1 THEN 1 ELSE 0 END AS INT) AS is_semantic_contaminated " +
     "FROM (SELECT vec_id FROM embeddings WHERE vec_id % 50 <> 0) d " +
     "LEFT JOIN cnt ON d.vec_id = cnt.tid ORDER BY d.vec_id")

  // same construction/grid/band replay as dedup_image_phash, then
  // the bench split + band-collision join + totality left join
  private def deconImagePhashSql: String =
    "WITH d AS (SELECT doc_id, md5(CAST(doc_id // 7 AS VARCHAR)) bh, md5(text) ph FROM documents), " +
    "g AS (SELECT doc_id, bh, ph, 16 + (ascii(substr(bh, 1, 1)) % 8) * 4 AS w, " +
    "16 + (ascii(substr(bh, 2, 1)) % 8) * 4 AS h FROM d), " +
    "p AS (SELECT *, (ascii(substr(ph, 1, 1)) * 31 + ascii(substr(ph, 2, 1))) % (w * h) AS ppos, " +
    "ascii(substr(ph, 3, 1)) AS pval FROM g), " +
    "s AS (SELECT doc_id, gy, gx, CASE WHEN idx = ppos THEN pval " +
    "ELSE ascii(substr(bh, (idx % 32) + 1, 1)) END AS pix " +
    "FROM (SELECT doc_id, ppos, pval, bh, gy, gx, ((gy * h) // 8) * w + ((gx * w) // 9) AS idx FROM p " +
    "CROSS JOIN (SELECT unnest(generate_series(0, 7)) gy) " +
    "CROSS JOIN (SELECT unnest(generate_series(0, 8)) gx))), " +
    "bits AS (SELECT l.doc_id, l.gy, l.gx, CASE WHEN l.pix > r.pix THEN 1 ELSE 0 END bt " +
    "FROM s l JOIN s r ON l.doc_id = r.doc_id AND l.gy = r.gy AND r.gx = l.gx + 1 WHERE l.gx < 8), " +
    "bw AS (SELECT doc_id, " +
    s"$dhashWordsSql " +
    "FROM bits GROUP BY doc_id), " +
    "banded AS (SELECT doc_id, b0, b1, b2, b3, b, " +
    "CASE b WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END v FROM bw " +
    "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) b)), " +
    "m AS (SELECT DISTINCT t.doc_id tid, q.doc_id bid FROM banded t " +
    "JOIN banded q ON t.b = q.b AND t.v = q.v " +
    "WHERE t.doc_id % 50 <> 0 AND q.doc_id % 50 = 0 AND " +
    s"${hammingSql("t.", "q.")} <= 6), " +
    "cnt AS (SELECT tid, CAST(COUNT(*) AS BIGINT) n FROM m GROUP BY tid) " +
    "SELECT d2.doc_id, COALESCE(cnt.n, 0) AS n_bench_matches, " +
    "CAST(CASE WHEN COALESCE(cnt.n, 0) >= 1 THEN 1 ELSE 0 END AS INT) AS is_image_contaminated " +
    "FROM documents d2 LEFT JOIN cnt ON cnt.tid = d2.doc_id " +
    "WHERE d2.doc_id % 50 <> 0 ORDER BY d2.doc_id"

  private def deconMinhashNeardupSql: String =
    (s"WITH $minhashPairsCtes, " +
     "m AS (SELECT a.doc_id tid, b.doc_id bid FROM bb a JOIN bb b " +
     "ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash " +
     "WHERE a.doc_id % 50 <> 0 AND b.doc_id % 50 = 0), " +
     "cnt AS (SELECT tid, CAST(COUNT(DISTINCT bid) AS BIGINT) n FROM m GROUP BY tid) " +
     "SELECT d.doc_id, COALESCE(n, CAST(0 AS BIGINT)) AS n_bench_neardups, " +
     "CAST(CASE WHEN COALESCE(n, 0) >= 1 THEN 1 ELSE 0 END AS INT) AS is_fuzzy_contaminated " +
     "FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d " +
     "LEFT JOIN cnt ON d.doc_id = cnt.tid ORDER BY d.doc_id")

  // the all-frames dedup_video_phash fingerprint chain (per-frame
  // banded rows) + the decon tail; DISTINCT (tid, bid) collapses
  // multi-frame matches so a clip counts each leaked benchmark
  // clip once
  private def deconVideoPhashSql: String =
    "WITH d AS (SELECT doc_id, md5(CAST(doc_id // 6 AS VARCHAR)) bh, md5(text) ph FROM documents), " +
    "g AS (SELECT doc_id, bh, ph, 16 + (ascii(substr(bh, 1, 1)) % 8) * 4 AS w, " +
    "16 + (ascii(substr(bh, 2, 1)) % 8) * 4 AS h, " +
    "ascii(substr(bh, 4, 1)) % 4 + 2 AS nf FROM d), " +
    "p AS (SELECT *, (ascii(substr(ph, 1, 1)) * 31 + ascii(substr(ph, 2, 1))) % (w * h) AS ppos, " +
    "ascii(substr(ph, 3, 1)) AS pc, " +
    "ascii(substr(ph, 4, 1)) % nf AS wf, " +
    "ascii(substr(ph, 5, 1)) % 2 AS tm FROM g), " +
    "fr AS (SELECT p.*, af.af, af.af - tm AS f FROM p " +
    "CROSS JOIN (SELECT unnest(generate_series(0, 4)) af) af " +
    "WHERE af.af >= tm AND af.af < nf), " +
    "s AS (SELECT doc_id, f, gy, gx, CASE WHEN af = wf AND idx = ppos THEN (pc * 31 + ppos * 7) % 256 " +
    "ELSE (ascii(substr(bh, ((idx + af) % 32) + 1, 1)) * 31 + idx * 7 + af * 13) % 256 END AS pix " +
    "FROM (SELECT doc_id, f, af, wf, ppos, pc, bh, gy, gx, " +
    "((gy * h) // 8) * w + ((gx * w) // 9) AS idx FROM fr " +
    "CROSS JOIN (SELECT unnest(generate_series(0, 7)) gy) " +
    "CROSS JOIN (SELECT unnest(generate_series(0, 8)) gx))), " +
    "bits AS (SELECT l.doc_id, l.f, l.gy, l.gx, CASE WHEN l.pix > r.pix THEN 1 ELSE 0 END bt " +
    "FROM s l JOIN s r ON l.doc_id = r.doc_id AND l.f = r.f AND l.gy = r.gy AND r.gx = l.gx + 1 WHERE l.gx < 8), " +
    "bw AS (SELECT doc_id, f, " +
    s"$dhashWordsSql " +
    "FROM bits GROUP BY doc_id, f), " +
    "banded AS (SELECT doc_id, f, b0, b1, b2, b3, b, " +
    "CASE b WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END v FROM bw " +
    "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) b)), " +
    "m AS (SELECT DISTINCT t.doc_id tid, q.doc_id bid FROM banded t " +
    "JOIN banded q ON t.b = q.b AND t.v = q.v " +
    "WHERE t.doc_id % 50 <> 0 AND q.doc_id % 50 = 0 AND " +
    s"${hammingSql("t.", "q.")} <= 6), " +
    "cnt AS (SELECT tid, CAST(COUNT(*) AS BIGINT) n FROM m GROUP BY tid) " +
    "SELECT d2.doc_id, COALESCE(cnt.n, 0) AS n_bench_matches, " +
    "CAST(CASE WHEN COALESCE(cnt.n, 0) >= 1 THEN 1 ELSE 0 END AS INT) AS is_video_contaminated " +
    "FROM documents d2 LEFT JOIN cnt ON cnt.tid = d2.doc_id " +
    "WHERE d2.doc_id % 50 <> 0 ORDER BY d2.doc_id"

  // construction replay (family PCM fill, one-sample click) +
  // window MEAN energies via integer cross-multiplication + the
  // band/xor algebra; the empty tail window a 64-sample signal
  // leaves at w=64 is materialized via the full window grid
  // (COALESCE 0) so both engines compare it
  private def dedupAudioFingerprintSql: String =
    "WITH d AS (SELECT doc_id, md5(CAST(doc_id // 5 AS VARCHAR)) bh, md5(text) ph FROM documents), " +
    "g AS (SELECT doc_id, bh, ph, 64 + (ascii(substr(bh, 1, 1)) % 8) * 16 AS n FROM d), " +
    "p AS (SELECT *, (ascii(substr(ph, 1, 1)) * 31 + ascii(substr(ph, 2, 1))) % n AS ppos, " +
    "ascii(substr(ph, 3, 1)) AS pc FROM g), " +
    "s AS (SELECT doc_id, (i * 65) // n AS w, " +
    "abs(CASE WHEN i = ppos THEN (pc - 80) * 256 " +
    "ELSE (ascii(substr(bh, (i % 32) + 1, 1)) - 80) * 256 END) AS v " +
    "FROM p CROSS JOIN (SELECT unnest(generate_series(0, 175)) i) WHERE i < n), " +
    "e AS (SELECT doc_id, w, CAST(SUM(v) AS BIGINT) ev, CAST(COUNT(*) AS BIGINT) cw FROM s GROUP BY doc_id, w), " +
    "ee AS (SELECT p.doc_id, wi.w, COALESCE(e.ev, 0) ev, COALESCE(e.cw, 0) cw FROM p " +
    "CROSS JOIN (SELECT unnest(generate_series(0, 64)) w) wi " +
    "LEFT JOIN e ON e.doc_id = p.doc_id AND e.w = wi.w), " +
    "bits AS (SELECT l.doc_id, l.w, CASE WHEN l.ev * r.cw > r.ev * l.cw THEN 1 ELSE 0 END bt " +
    "FROM ee l JOIN ee r ON l.doc_id = r.doc_id AND r.w = l.w + 1 WHERE l.w < 64), " +
    "bw AS (SELECT doc_id, " +
    "CAST(SUM(CASE WHEN w // 16 = 0 THEN bt * (1 << (w % 16)) ELSE 0 END) AS BIGINT) b0, " +
    "CAST(SUM(CASE WHEN w // 16 = 1 THEN bt * (1 << (w % 16)) ELSE 0 END) AS BIGINT) b1, " +
    "CAST(SUM(CASE WHEN w // 16 = 2 THEN bt * (1 << (w % 16)) ELSE 0 END) AS BIGINT) b2, " +
    "CAST(SUM(CASE WHEN w // 16 = 3 THEN bt * (1 << (w % 16)) ELSE 0 END) AS BIGINT) b3 " +
    "FROM bits GROUP BY doc_id), " +
    "banded AS (SELECT doc_id, b0, b1, b2, b3, b, " +
    "CASE b WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END v FROM bw " +
    "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) b)) " +
    "SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id, " +
    s"CAST(${hammingSql("l.", "r.")} AS INT) AS hamming " +
    "FROM banded l JOIN banded r ON l.b = r.b AND l.v = r.v AND l.doc_id < r.doc_id " +
    s"WHERE ${hammingSql("l.", "r.")} <= 6 " +
    "ORDER BY a_id, b_id"

  private[queries] def dedupEmbeddingSql: String =
    (s"WITH ${seededCellsSql(keepVec = true)} " +
     s"SELECT a.vec_id AS a_id, b.vec_id AS b_id, round(${cosineSql("a.v", "b.v")}, 6) AS cos_sim FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id " +
     s"WHERE round(${cosineSql("a.v", "b.v")}, 6) >= 0.45 ORDER BY a_id, b_id")

  // construction replay (family base hash, dims, fill, one-pixel
  // perturbation) + dHash grid sampling + band/xor algebra — no
  // codec on the oracle side; the Spark side must agree THROUGH
  // its real PNG encode->decode round trip
  private def dedupImagePhashSql: String =
    "WITH d AS (SELECT doc_id, md5(CAST(doc_id // 7 AS VARCHAR)) bh, md5(text) ph FROM documents), " +
    "g AS (SELECT doc_id, bh, ph, 16 + (ascii(substr(bh, 1, 1)) % 8) * 4 AS w, " +
    "16 + (ascii(substr(bh, 2, 1)) % 8) * 4 AS h FROM d), " +
    "p AS (SELECT *, (ascii(substr(ph, 1, 1)) * 31 + ascii(substr(ph, 2, 1))) % (w * h) AS ppos, " +
    "ascii(substr(ph, 3, 1)) AS pval FROM g), " +
    "s AS (SELECT doc_id, gy, gx, CASE WHEN idx = ppos THEN pval " +
    "ELSE ascii(substr(bh, (idx % 32) + 1, 1)) END AS pix " +
    "FROM (SELECT doc_id, ppos, pval, bh, gy, gx, ((gy * h) // 8) * w + ((gx * w) // 9) AS idx FROM p " +
    "CROSS JOIN (SELECT unnest(generate_series(0, 7)) gy) " +
    "CROSS JOIN (SELECT unnest(generate_series(0, 8)) gx))), " +
    "bits AS (SELECT l.doc_id, l.gy, l.gx, CASE WHEN l.pix > r.pix THEN 1 ELSE 0 END bt " +
    "FROM s l JOIN s r ON l.doc_id = r.doc_id AND l.gy = r.gy AND r.gx = l.gx + 1 WHERE l.gx < 8), " +
    "bw AS (SELECT doc_id, " +
    s"$dhashWordsSql " +
    "FROM bits GROUP BY doc_id), " +
    "banded AS (SELECT doc_id, b0, b1, b2, b3, b, " +
    "CASE b WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END v FROM bw " +
    "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) b)) " +
    "SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id, " +
    s"CAST(${hammingSql("l.", "r.")} AS INT) AS hamming " +
    "FROM banded l JOIN banded r ON l.b = r.b AND l.v = r.v AND l.doc_id < r.doc_id " +
    s"WHERE ${hammingSql("l.", "r.")} <= 6 " +
    "ORDER BY a_id, b_id"

  private[queries] def dedupMinhashVerifiedSql: String =
    (s"WITH $minhashPairsCtes, " +
     "shd AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, unnest(sh) s FROM sh)), " +
     "sizes AS (SELECT doc_id, COUNT(*) n FROM shd GROUP BY doc_id), " +
     "iv AS (SELECT p.a_id, p.b_id, COUNT(*) i FROM pairs p " +
     "JOIN shd x ON x.doc_id = p.a_id JOIN shd y ON y.doc_id = p.b_id AND y.s = x.s " +
     "GROUP BY p.a_id, p.b_id) " +
     "SELECT a_id, b_id, round(CAST(i AS DOUBLE)/(sa.n + sb.n - i), 6) AS jaccard " +
     "FROM iv JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id " +
     "WHERE round(CAST(i AS DOUBLE)/(sa.n + sb.n - i), 6) >= 0.2 ORDER BY a_id, b_id")

  // ALL-FRAMES construction replay: per-frame fill
  // `(c[(i+af)%32]*31 + i*7 + af*13) % 256` at the PRE-trim frame
  // index af, arbitrary-frame watermark (ph char 4 picks the
  // frame), leading-frame trim (ph char 5), then the same dHash
  // grid/band/xor algebra PER FRAME, frame-index-agnostic band
  // join, and the doc-pair rollup (min hamming, matching frame
  // pairs) — no codec on the oracle side; the Spark side must
  // agree THROUGH the full Y4M stream decode
  private def dedupVideoPhashSql: String =
    "WITH d AS (SELECT doc_id, md5(CAST(doc_id // 6 AS VARCHAR)) bh, md5(text) ph FROM documents), " +
    "g AS (SELECT doc_id, bh, ph, 16 + (ascii(substr(bh, 1, 1)) % 8) * 4 AS w, " +
    "16 + (ascii(substr(bh, 2, 1)) % 8) * 4 AS h, " +
    "ascii(substr(bh, 4, 1)) % 4 + 2 AS nf FROM d), " +
    "p AS (SELECT *, (ascii(substr(ph, 1, 1)) * 31 + ascii(substr(ph, 2, 1))) % (w * h) AS ppos, " +
    "ascii(substr(ph, 3, 1)) AS pc, " +
    "ascii(substr(ph, 4, 1)) % nf AS wf, " +
    "ascii(substr(ph, 5, 1)) % 2 AS tm FROM g), " +
    "fr AS (SELECT p.*, af.af, af.af - tm AS f FROM p " +
    "CROSS JOIN (SELECT unnest(generate_series(0, 4)) af) af " +
    "WHERE af.af >= tm AND af.af < nf), " +
    "s AS (SELECT doc_id, f, gy, gx, CASE WHEN af = wf AND idx = ppos THEN (pc * 31 + ppos * 7) % 256 " +
    "ELSE (ascii(substr(bh, ((idx + af) % 32) + 1, 1)) * 31 + idx * 7 + af * 13) % 256 END AS pix " +
    "FROM (SELECT doc_id, f, af, wf, ppos, pc, bh, gy, gx, " +
    "((gy * h) // 8) * w + ((gx * w) // 9) AS idx FROM fr " +
    "CROSS JOIN (SELECT unnest(generate_series(0, 7)) gy) " +
    "CROSS JOIN (SELECT unnest(generate_series(0, 8)) gx))), " +
    "bits AS (SELECT l.doc_id, l.f, l.gy, l.gx, CASE WHEN l.pix > r.pix THEN 1 ELSE 0 END bt " +
    "FROM s l JOIN s r ON l.doc_id = r.doc_id AND l.f = r.f AND l.gy = r.gy AND r.gx = l.gx + 1 WHERE l.gx < 8), " +
    "bw AS (SELECT doc_id, f, " +
    s"$dhashWordsSql " +
    "FROM bits GROUP BY doc_id, f), " +
    "banded AS (SELECT doc_id, f, b0, b1, b2, b3, b, " +
    "CASE b WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END v FROM bw " +
    "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) b)), " +
    "fp AS (SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id, l.f AS fa, r.f AS fb, " +
    s"CAST(${hammingSql("l.", "r.")} AS INT) AS hamming " +
    "FROM banded l JOIN banded r ON l.b = r.b AND l.v = r.v AND l.doc_id < r.doc_id " +
    s"WHERE ${hammingSql("l.", "r.")} <= 6) " +
    "SELECT a_id, b_id, CAST(MIN(hamming) AS INT) AS min_hamming, " +
    "CAST(COUNT(*) AS BIGINT) AS n_frame_pairs " +
    "FROM fp GROUP BY a_id, b_id ORDER BY a_id, b_id"

  /** The four 16-bit band words b0..b3 of a 9x8 dHash as DuckDB
    * aggregates over `bt` bit rows at grid (gy, gx), two grid rows per
    * word — the replay of the fingerprint's band split.
    */
  private[queries] def dhashWordsSql: String =
    (0 to 3).map(k => s"CAST(SUM(CASE WHEN gy // 2 = $k THEN bt * (1 << ((gy % 2) * 8 + gx)) ELSE 0 END) AS BIGINT) b$k")
      .mkString(", ")

  /** Hamming distance of two 64-bit fingerprints held as band words
    * `<a>b0..b3` and `<b>b0..b3` (`a`, `b` are column prefixes).
    */
  private[queries] def hammingSql(a: String, b: String): String =
    (0 to 3).map(k => s"bit_count(xor(${a}b$k, ${b}b$k))").mkString(" + ")

  /** The corpus split as (train, bench): the held-out benchmark is
    * doc_id % 50 == 0, the deterministic stand-in for a real eval set.
    */
  private def trainBench(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir)
    (docs.filter(pmod(col("doc_id"), lit(50)) =!= 0), docs.filter(pmod(col("doc_id"), lit(50)) === 0))
  }

  val entries: Seq[NamedQuery] = Seq(

    // Exact dedup by content hash: one shuffle on md5(text); keeper =
    // min doc_id per hash (deterministic).
    NamedQuery("dedup_exact", (s, dir) => {
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("keep_id"))
    },
      "SELECT md5(text) AS content_hash, CAST(MIN(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS n_copies " +
      "FROM documents GROUP BY md5(text) ORDER BY keep_id"),

    // MinHash + LSH near-dup candidates: 8 md5-minhashes, 4 bands x 2
    // rows; candidate pair = docs sharing any band hash. The band hash
    // is the shuffle key — at 100 TB this is one map stage + one
    // equi-join on a high-cardinality key (salt-friendly, skew-safe:
    // identical docs land in the same bucket by construction).
    NamedQuery("dedup_minhash", (s, dir) => {
      // ONE md5 per shingle; the 8 "independent" minhash functions are
      // its 8 disjoint 4-hex-char (16-bit) slices — the classic
      // cheap-multi-hash trick: slices of one strong digest are
      // pairwise independent enough for LSH banding, and 8x fewer
      // digest computations is the difference on the widest stage.
      // The whole signature comes from the native MinHashSlices
      // expression — one pass per DOC, so there is no shingle explode
      // and no groupBy(doc_id) shuffle at all; the first shuffle this
      // query pays is the band bucketing itself. Banding AND the
      // bucket-local capped pair expansion are THE shared definitions
      // (TextOps.minhashBandRows / minhashCandidatePairs), also backing
      // the streaming bucket state, cross-corpus decon, and CorpusDemo.
      // Served from the pair STORE ([[minhashPairsFrame]]); the banding
      // plan lives in minhashPairsBuildFrame, which PlanAuditSpec audits.
      minhashPairsFrame(s, dir)
        .orderBy(col("a_id"), col("b_id"))
    },
      s"WITH $minhashPairsCtes " +
      "SELECT a_id, b_id FROM pairs ORDER BY a_id, b_id"),

    // LSH-then-VERIFY — the canonical two-phase near-dup pipeline:
    // MinHash banding proposes candidates (cheap, recall-tuned), exact
    // Jaccard verifies ONLY those pairs (precision). This differs from
    // dedup_ngram_jaccard, which verifies every shingle-sharing pair:
    // here the expensive exact intersection runs over the candidate
    // set — near-dup mass, not corpus mass — so at 100 TB the verify
    // stage's cost is proportional to the ANSWER: the corpus is
    // semi-joined down to CANDIDATE DOCS before any shingle explodes
    // (without that pruning, both intersection-join inputs would be
    // the full corpus gram stream — the scale-killer this two-phase
    // shape exists to avoid). The materialized pair set is tiny by
    // construction (localCheckpoint), so
    // the banding pipeline runs once, not once per consumer. No
    // stop-shingle filter is needed: the pair set is already
    // LSH-bounded, so a hot gram adds linear rows per pair, never new
    // pairs. Same xxhash64 join-key collision caveat as
    // dedup_ngram_jaccard.
    // Served from the verified-pair STORE ([[verifiedPairsFrame]];
    // construction plan in verifiedPairsBuildFrame) — the verify join
    // runs once per corpus version, and export_split_leakage reads the
    // same artifact.
    NamedQuery("dedup_minhash_verified", (s, dir) =>
      verifiedPairsFrame(s, dir).orderBy(col("a_id"), col("b_id")),
      dedupMinhashVerifiedSql),

    // SimHash-32 per doc: md5 hex-digit parity gives 32 hash bits per
    // token; bit j of the fingerprint = sign of the per-bit vote sum.
    // Explode(token x bit) -> one shuffle on (doc_id, bit).
    NamedQuery("dedup_simhash", (s, dir) =>
      simhashes(Tables.documents(s, dir)).orderBy(col("doc_id")),
      "WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) w FROM documents), " +
      "b AS (SELECT doc_id, j, SUM(CASE WHEN substr(md5(w), j, 1) IN ('1','3','5','7','9','b','d','f') " +
      "THEN 1 ELSE -1 END) s FROM t CROSS JOIN (SELECT unnest(generate_series(1,32)) j) GROUP BY doc_id, j) " +
      "SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << (j-1)) ELSE 0 END) AS BIGINT) AS simhash " +
      "FROM b GROUP BY doc_id ORDER BY doc_id"),

    // SimHash pair-matching: 16-bit half-banding (pigeonhole: hamming
    // <= 1 => one of the two 16-bit halves matches exactly), candidates
    // verified by popcount of xor. 8-bit bands (hamming <= 3) over-fire
    // on this clustered corpus — 3M candidates; 16-bit buckets stay
    // sparse. At 100 TB: SimHash-64 with 16-bit bands, same shape.
    NamedQuery("dedup_simhash_pairs", (s, dir) => {
      val sh = simhashes(Tables.documents(s, dir))
      val banded = sh
        .select(col("doc_id"), col("simhash"), explode(sequence(lit(0), lit(1))).as("b"))
        .withColumn("band_val", expr("shiftright(simhash, CAST(16 * b AS INT)) % 65536"))
      TextOps.bucketPairs(banded, Seq("b", "band_val"), struct(col("doc_id"), col("simhash")))
        .select(col("p.a.doc_id").as("a_id"), col("p.b.doc_id").as("b_id"),
          expr("CAST(bit_count(p.a.simhash ^ p.b.simhash) AS INT)").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 1)
        .orderBy(col("a_id"), col("b_id"))
    },
      "WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) w FROM documents), " +
      "bs AS (SELECT doc_id, j, SUM(CASE WHEN substr(md5(w), j, 1) IN ('1','3','5','7','9','b','d','f') " +
      "THEN 1 ELSE -1 END) s FROM t CROSS JOIN (SELECT unnest(generate_series(1,32)) j) GROUP BY doc_id, j), " +
      "sh AS (SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << (j-1)) ELSE 0 END) AS BIGINT) AS simhash " +
      "FROM bs GROUP BY doc_id), " +
      "banded AS (SELECT doc_id, simhash, b, (simhash >> (16*b)) % 65536 AS band_val FROM sh " +
      "CROSS JOIN (SELECT unnest([0,1]) b)) " +
      "SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, " +
      "CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming " +
      "FROM banded a JOIN banded b ON a.b = b.b AND a.band_val = b.band_val AND a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.simhash, b.simhash)) <= 1 ORDER BY a_id, b_id"),

    // Embedding-cosine near-dup: bucket vectors by IVF cell (32 seed
    // centroids — up from 8: still SQL-replayable, but within-cell pair
    // work drops from O(n^2/8) to O(n^2/32)), pair only within a cell,
    // keep cosine >= 0.45 (calibrated to the corpus: random 64-d
    // vectors max out near 0.6). The cell assignment bounds the pair
    // join; boundary pairs are the recall tradeoff (multi-probe at
    // scale); the LEARNED k~sqrt(n) twin below is the production path.
    // Served from the embedding pair STORE ([[embPairsFrame]];
    // construction plan in embPairsBuildFrame) — the within-cell
    // quadratic term runs once per corpus version for THREE consumers
    // (this report, the SemDeDup keeper, contrastive-pair mining).
    NamedQuery("dedup_embedding", (s, dir) =>
      embPairsFrame(s, dir).orderBy(col("a_id"), col("b_id")),
      dedupEmbeddingSql),

    // The DECISION step of semantic dedup (the SemDeDup recipe: cluster
    // embeddings, then drop near-duplicates WITHIN each cluster): a
    // vector is dropped iff a LOWER-id vector in its cell scores
    // cosine >= 0.45 against it — deterministic, order-free, and local
    // to a cell, so the keeper set needs no cross-cell pass and no
    // iteration (unlike the minhash cluster keeper, which resolves
    // transitive chains). Plan: the dedup_embedding within-cell pair
    // join proposes the dropped ids (a set bounded by the pair count,
    // tiny next to the corpus), which then BROADCASTS into a left-anti
    // join against the assignment frame — the corpus never shuffles
    // for the subtraction. At 100 TB: pair work is bounded per cell by
    // the quantizer (multi-probe/finer k to cap cell sizes), and the
    // dropped set stays << corpus by construction (it IS the
    // duplicates).
    NamedQuery("dedup_embedding_keep", (s, dir) => {
      // the dropped set comes from the embedding pair STORE (its b_id
      // side IS the within-cell dominated set)
      val cells = seededCells(s, dir)
      val dropped = embPairsFrame(s, dir).select(col("b_id")).distinct()
      cells.join(broadcast(dropped), cells("vec_id") === dropped("b_id"), "left_anti")
        .select(col("vec_id"), col("cell"))
        .orderBy(col("vec_id"))
    },
      // the dedup_embedding cell + pair CTEs, then keepers = vectors
      // with NO lower-id within-cell neighbor at cosine >= 0.45
      s"WITH ${seededCellsSql(keepVec = true)}, " +
      "dropped AS (SELECT DISTINCT b.vec_id FROM cells a JOIN cells b " +
      "ON a.cell = b.cell AND a.vec_id < b.vec_id " +
      s"WHERE round(${cosineSql("a.v", "b.v")}, 6) >= 0.45) " +
      "SELECT vec_id, cell FROM cells WHERE vec_id NOT IN (SELECT vec_id FROM dropped) " +
      "ORDER BY vec_id"),

    // Near-dup CLUSTERS: connected components over the MinHash candidate
    // pairs (the stage that turns pairs into dedup groups + one keeper
    // per group). Distributed min-label propagation: each iteration is
    // one join + one aggregate, labels monotonically decrease, so it
    // converges in <= diameter rounds (checked per-round; duplicate
    // groups have tiny diameters). Keeper = min doc_id of the component.
    NamedQuery("dedup_clusters", (s, dir) =>
      minhashClusterLabels(s, dir) { labels =>
        labels.groupBy(col("label").as("cluster_id"))
          .agg(count(lit(1)).as("cluster_size"),
            min(col("node")).as("keep_id"))
          .orderBy(col("cluster_id"))
      },
      s"WITH RECURSIVE $minhashPairsCtes, $ccCtes " +
      "SELECT label AS cluster_id, COUNT(*) AS cluster_size, CAST(MIN(node) AS BIGINT) AS keep_id " +
      "FROM labels GROUP BY label ORDER BY cluster_id"),

    // The dedup DECISION step: one keeper per near-dup cluster, chosen
    // by QUALITY (type-token ratio; ties toward the lower doc_id) — not
    // blindly by min id. Composition of the CC labels with the quality
    // scorer: docs without any near-dup pair are their own cluster.
    // One left join + one max_by aggregate past the cluster stage.
    NamedQuery("dedup_keep_best", (s, dir) =>
      minhashClusterLabels(s, dir) { labels =>
        val ws = TextOps.tokens(col("text"))
        Tables.documents(s, dir)
          .withColumn("ttr", round(size(array_distinct(ws)) / size(ws), 6))
          .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("label"), col("doc_id")))
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_docs"),
            max_by(col("doc_id"), struct(col("ttr"), (-col("doc_id")).as("nd"))).as("keep_id"),
            // the keeper has the cluster-max ttr by construction
            max(col("ttr")).as("keep_ttr"))
          .orderBy(col("cluster_id"))
      },
      s"WITH RECURSIVE $minhashPairsCtes, $ccCtes, " +
      "scored AS (SELECT doc_id, round(len(list_distinct(string_split(text, ' '))) / " +
      "len(string_split(text, ' ')), 6) ttr FROM documents), " +
      "clustered AS (SELECT s.doc_id, s.ttr, COALESCE(l.label, s.doc_id) cluster_id " +
      "FROM scored s LEFT JOIN labels l ON s.doc_id = l.node) " +
      "SELECT cluster_id, n_docs, CAST(keep_id AS BIGINT) AS keep_id, keep_ttr FROM (" +
      "SELECT cluster_id, COUNT(*) OVER (PARTITION BY cluster_id) n_docs, " +
      "doc_id keep_id, ttr keep_ttr, " +
      "row_number() OVER (PARTITION BY cluster_id ORDER BY ttr DESC, doc_id) rn " +
      "FROM clustered) WHERE rn = 1 ORDER BY cluster_id"),

    // Exact n-gram Jaccard near-dup pairs, bucketed by shared shingle
    // (docs sharing zero shingles never meet — the shingle join IS the
    // LSH-free pruning; a frequency cap on hot shingles would be the
    // skew guard at 100 TB).
    // Work scales with the ANSWER (one hash exchange, answer-bounded
    // pair work, the df>=2 window drops most postings before any
    // bucket buffer is built); SCALE.md keeps the stage profile.
    NamedQuery("dedup_ngram_jaccard", (s, dir) =>
      shingleIntersections(s, dir)
        .withColumn("jaccard", round(col("i") / (col("na") + col("nb") - col("i")), 6))
        .filter(col("jaccard") >= 0.2)
        .select(col("a_id"), col("b_id"), col("jaccard"))
        .orderBy(col("a_id"), col("b_id")),
      "WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
      s"sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, unnest($shSql) s FROM t)), " +
      "sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id), " +
      // same stop-shingle df filter as the Spark side (> 512 docs =
      // boilerplate; excluded from the intersection, not from n)
      "hot AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) > 512), " +
      "inter AS (SELECT a.doc_id a_id, b.doc_id b_id, COUNT(*) i FROM sh a JOIN sh b " +
      "ON a.s = b.s AND a.doc_id < b.doc_id " +
      "WHERE a.s NOT IN (SELECT s FROM hot) GROUP BY a.doc_id, b.doc_id) " +
      "SELECT a_id, b_id, round(CAST(i AS DOUBLE)/(sa.n + sb.n - i), 6) AS jaccard " +
      "FROM inter JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id " +
      "WHERE round(CAST(i AS DOUBLE)/(sa.n + sb.n - i), 6) >= 0.2 ORDER BY a_id, b_id"),

    // ASYMMETRIC near-dup: containment c(A in B) = |A∩B|/|A| — the
    // measure that catches SUBSET duplication (a quote, an embedded
    // article, a doc-plus-appendix re-release) where Jaccard stays low
    // because the union is dominated by the larger doc. Same candidate
    // machinery as dedup_ngram_jaccard ([[shingleIntersections]] — one
    // definition, one exchange), different final arithmetic: both
    // directions reported, flagged on the rounded max containment
    // (= i / min(na, nb)) >= 0.5.
    NamedQuery("dedup_containment", (s, dir) =>
      shingleIntersections(s, dir)
        .withColumn("c_a", round(col("i") / col("na"), 6))
        .withColumn("c_b", round(col("i") / col("nb"), 6))
        .filter(round(col("i") / least(col("na"), col("nb")), 6) >= 0.5)
        .select(col("a_id"), col("b_id"), col("i").as("n_shared"),
          col("c_a"), col("c_b"))
        .orderBy(col("a_id"), col("b_id")),
      // same shingle/stop-shingle/intersection CTEs as the jaccard
      // oracle, different final arithmetic (both containment
      // directions; the gate is on the rounded max containment)
      "WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
      s"sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, unnest($shSql) s FROM t)), " +
      "sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id), " +
      "hot AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) > 512), " +
      "inter AS (SELECT a.doc_id a_id, b.doc_id b_id, COUNT(*) i FROM sh a JOIN sh b " +
      "ON a.s = b.s AND a.doc_id < b.doc_id " +
      "WHERE a.s NOT IN (SELECT s FROM hot) GROUP BY a.doc_id, b.doc_id) " +
      "SELECT a_id, b_id, CAST(i AS BIGINT) AS n_shared, " +
      "round(CAST(i AS DOUBLE)/sa.n, 6) AS c_a, " +
      "round(CAST(i AS DOUBLE)/sb.n, 6) AS c_b " +
      "FROM inter JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id " +
      "WHERE round(CAST(i AS DOUBLE)/least(sa.n, sb.n), 6) >= 0.5 ORDER BY a_id, b_id"),

    // PRODUCTION twin of dedup_embedding: LEARNED k ~ sqrt(n) k-means
    // quantizer (Similarity.trainIvf) instead of 8 fixed seed cells, so
    // expected within-cell pair work is (n/k)^2 * k = n — linear, not
    // O(n^2/8). Learned float centroids aren't replayable in portable
    // SQL, so the GATED output is a one-row serving CONTRACT (the
    // annRungContract convention): the raw pair frame
    // (trainedRungFrames) runs inline — a bench rep still measures
    // the real quantize/pair/score path — and the emitted bits (at
    // least one pair found; every pair canonical a<b at cos >= 0.45)
    // hash-gate against a constant oracle, so a quantizer collapse or
    // pairing regression flips the DRIVER gate. SimilaritySpec keeps
    // pinning the raw pairs against the brute-force scorer.
    NamedQuery("dedup_embedding_trained", (s, dir) =>
      trainedPairStats(s, dir)
        .select(lit("dedup_embedding_trained").as("rung"),
          (col("np") >= 1L).cast("long").as("nonempty_ok"),
          (col("okmin") === 1L).cast("long").as("pairs_canonical_ok")),
      "SELECT 'dedup_embedding_trained' AS rung, " +
      "CAST(1 AS BIGINT) AS nonempty_ok, CAST(1 AS BIGINT) AS pairs_canonical_ok"),

    // Benchmark decontamination: flag training docs sharing a verbatim
    // 8-gram with the held-out benchmark split (doc_id % 50 == 0 — the
    // deterministic stand-in for a real eval set). Benchmark gram set is
    // broadcast (eval sets are MBs against a 100 TB corpus), so the
    // corpus side is one scan + map-side join; the only shuffle is the
    // per-doc count over MATCHED rows. See operators.Decontamination.
    NamedQuery("decon_ngram_overlap", (s, dir) => {
      val (train, bench) = trainBench(s, dir)
      graft.operators.Decontamination
        .overlapReport(train, graft.operators.Decontamination.benchmarkGrams(bench, 8), 8)
        .orderBy(col("doc_id"))
    },
      deconNgramOverlapSql),

    // FUZZY decontamination: MinHash near-dup candidates between the
    // training split and the benchmark split — catches paraphrased eval
    // leaks the verbatim 8-gram rule misses. Same banding as
    // dedup_minhash; join shape is train x BROADCAST(bench) only.
    NamedQuery("decon_minhash_neardup", (s, dir) => {
      val (train, bench) = trainBench(s, dir)
      graft.operators.Decontamination.minhashNearDupReport(train, bench)
        .orderBy(col("doc_id"))
    },
      deconMinhashNeardupSql),

    // SEMANTIC decontamination — the third rung of the decon ladder
    // (verbatim 8-gram, lexical MinHash, embedding cosine): a train
    // vector within cosine >= 0.45 of any benchmark vector is a
    // probable semantic duplicate of eval content even with zero
    // lexical overlap. Same seeded 32-cell quantizer as dedup_embedding
    // (shared seededCells helper), pairing TRAIN x broadcast(BENCH)
    // within a cell only — never a self-join, and the bench side is
    // 1/50 of the corpus. Total function over train vectors.
    NamedQuery("decon_embedding", (s, dir) => {
      val cells = seededCells(s, dir)
      val t = cells.filter(pmod(col("vec_id"), lit(50)) =!= 0)
        .select(col("cell"), col("vec_id").as("tid"), col("v").as("va"), col("nv").as("na"))
      val b = cells.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("cell"), col("vec_id").as("bid"), col("v").as("vb"), col("nv").as("nb"))
      val m = t.join(broadcast(b), Seq("cell"))
        .withColumn("cos_sim",
          round(VectorOps.dot(col("va"), col("vb")) / sqrt(col("na") * col("nb")), 6))
        .filter(col("cos_sim") >= 0.45)
        .groupBy(col("tid")).agg(count(lit(1)).as("n_bench_sims"))
      // Totality base = a fresh single-column pruned scan, NOT `t`:
      // referencing the cells frame on both sides of the left join
      // would evaluate the whole crossJoin+argmax subtree twice (no
      // exchange reuse across different filters) — a one-column parquet
      // scan is far cheaper and yields the identical train-id universe.
      Tables.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(50)) =!= 0)
        .select(col("vec_id"))
        .join(m.withColumnRenamed("tid", "vec_id"), Seq("vec_id"), "left")
        .withColumn("n_bench_sims", coalesce(col("n_bench_sims"), lit(0L)))
        .withColumn("is_semantic_contaminated", (col("n_bench_sims") >= 1).cast("int"))
        .orderBy(col("vec_id"))
    },
      deconEmbeddingSql),

    // BLOOM-prefiltered decontamination — the 100 TB twin of
    // decon_ngram_overlap: the benchmark gram set rides to executors as
    // a ~10-bits-per-item Bloom sketch (vs ~100 bytes/item for a
    // broadcast-join hash relation); the corpus-side gram stream is
    // pruned MAP-SIDE by the codegen'd bloom_might_contain predicate
    // before any join machinery runs, and the exact confirm join only
    // sees the (tiny) candidate set. Output is EXACTLY the unfiltered
    // report (no false negatives; false positives die in the confirm
    // join), so the same DuckDB oracle hash-checks this physically
    // different plan. See operators.Decontamination.bloomOverlapReport.
    NamedQuery("decon_bloom_prefilter", (s, dir) => {
      val (train, bench) = trainBench(s, dir)
      graft.operators.Decontamination.bloomOverlapReport(train, bench, 8)
        .orderBy(col("doc_id"))
    },
      // The bloom-prefiltered plan is result-identical by construction
      // (pure prefilter + exact confirm join), so it shares the ONE decon
      // oracle — the hash gate is what proves the sketch path exact.
      deconNgramOverlapSql),

    // Cross-document duplicated-gram coverage (the RefinedWeb-style
    // "how much of this doc is boilerplate shared with other docs"
    // signal): per doc, the fraction of its DISTINCT 5-grams that occur
    // in >= 2 documents corpus-wide. Two shuffles, both keyed on the
    // 8-byte xxhash64 of the gram (document frequency aggregate + the
    // gram-level join back), and the join's build side is the
    // aggregated df table — one row per gram — so a hot boilerplate
    // gram costs LINEAR rows, never a quadratic pair expansion. The
    // engine-internal hash key has the same collision caveat as
    // dedup_ngram_jaccard (~n^2/2^65; any perturbation trips the hash
    // gate); df counts distinct doc_ids so an intra-doc collision
    // cannot fake a duplicated gram.
    NamedQuery("dedup_gram_coverage", (s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextOps.distinctShinglesOfText(col("text"), 5)).as("s"))
        .select(col("doc_id"), xxhash64(col("s")).as("h"))
      val df = sh.groupBy(col("h"))
        .agg(count_distinct(col("doc_id")).as("df"))
      val shared = sh.join(df.filter(col("df") >= 2), Seq("h"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      // Totality base = a fresh pruned scan (cheaper at scale than
      // shuffling the corpus-wide gram rows again just to recover the
      // per-doc denominator; same reasoning as overlapReport). Null-text
      // docs are excluded like the oracle's unnest excludes them (no
      // grams → no row in its cnt CTE); a null denominator would break
      // the hash without reporting anything.
      Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(TextOps.distinctShinglesOfText(col("text"), 5)).cast("long").as("n_grams"))
        .join(shared, Seq("doc_id"), "left")
        .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
        .withColumn("shared_frac", round(col("n_shared") / col("n_grams"), 6))
        .withColumn("is_dup_heavy", (col("shared_frac") >= 0.3).cast("int"))
        .orderBy(col("doc_id"))
    },
      "WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
      s"sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, unnest($shSql) s FROM t)), " +
      "cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_grams FROM sh GROUP BY doc_id), " +
      "df AS (SELECT s, COUNT(*) df FROM sh GROUP BY s), " +
      "dup AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_shared FROM sh JOIN df USING (s) " +
      "WHERE df >= 2 GROUP BY doc_id) " +
      "SELECT cnt.doc_id, n_grams, COALESCE(n_shared, CAST(0 AS BIGINT)) AS n_shared, " +
      "round(COALESCE(n_shared, 0) / n_grams, 6) AS shared_frac, " +
      "CAST(CASE WHEN round(COALESCE(n_shared, 0) / n_grams, 6) >= 0.3 THEN 1 ELSE 0 END AS INT) AS is_dup_heavy " +
      "FROM cnt LEFT JOIN dup ON cnt.doc_id = dup.doc_id ORDER BY cnt.doc_id"),

    // Span-level exact dedup (the actionable form of substring-level
    // dedup a la "Deduplicating Training Data Makes Language Models
    // Better"): per doc, how many of its NON-OVERLAPPING 32-token
    // spans occur verbatim in at least one OTHER document — repeated
    // spans are boilerplate (headers, footers, licence blocks) a
    // curation pass cuts at the span, not the document. Same two-agg
    // shape as dedup_gram_coverage at chunk granularity: spans come
    // from the native WordChunks scan (stride = size, map-side), the
    // document-frequency agg and the join back are both keyed on the
    // 8-byte xxhash64 of the span, and the join build side is the
    // one-row-per-repeated-span df table — hot spans cost linear rows,
    // never a pair expansion. Totality base = a fresh pruned scan,
    // denominator from the same chunk definition.
    NamedQuery("dedup_span_exact", (s, dir) => {
      def spans(c: Column) = graft.functions.TextExpressions.word_chunks(c, 32, 32)
      // The df key is xxhash64(span) while the DuckDB oracle groups on
      // the span STRING itself: a 64-bit collision between two DISTINCT
      // spans would merge their df rows and could inflate n_dup_spans
      // on one engine only (same engine-internal-key trade as
      // dedup_ngram_jaccard, ~n^2/2^65 at any realistic span count —
      // and any perturbation trips the hash gate). Accepted for the
      // 8-byte shuffle key; grouping on the span string is the
      // collision-free fallback if an id space ever demands it.
      val ch = Tables.documents(s, dir)
        .select(col("doc_id"), explode(spans(col("text"))).as("chunk"))
        .select(col("doc_id"), xxhash64(col("chunk")).as("h"))
      val df = ch.groupBy(col("h"))
        .agg(count_distinct(col("doc_id")).as("df"))
      val shared = ch.join(df.filter(col("df") >= 2), Seq("h"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_spans"))
      Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), size(spans(col("text"))).cast("long").as("n_spans"))
        .join(shared, Seq("doc_id"), "left")
        .withColumn("n_dup_spans", coalesce(col("n_dup_spans"), lit(0L)))
        .withColumn("dup_frac", round(col("n_dup_spans") / col("n_spans"), 6))
        .withColumn("is_span_dup", (col("dup_frac") >= 0.5).cast("int"))
        .orderBy(col("doc_id"))
    },
      "WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents WHERE text IS NOT NULL), " +
      "n AS (SELECT doc_id, ws, CASE WHEN len(ws) <= 32 THEN 1 " +
      "ELSE CAST(ceil((len(ws) - 32) / 32.0) AS BIGINT) + 1 END nch FROM t), " +
      "c AS (SELECT doc_id, " +
      "array_to_string(ws[(i-1)*32+1 : least((i-1)*32+32, len(ws))], ' ') chunk " +
      "FROM n, LATERAL (SELECT unnest(generate_series(1, nch)) i)), " +
      "df AS (SELECT chunk, COUNT(DISTINCT doc_id) ddf FROM c GROUP BY chunk), " +
      "sh AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) nd FROM c JOIN df USING (chunk) " +
      "WHERE ddf >= 2 GROUP BY doc_id) " +
      "SELECT n.doc_id, CAST(nch AS BIGINT) AS n_spans, " +
      "COALESCE(nd, CAST(0 AS BIGINT)) AS n_dup_spans, " +
      "round(COALESCE(nd, 0) / nch, 6) AS dup_frac, " +
      // the flag compares the ROUNDED fraction on BOTH engines (like
      // dedup_gram_coverage) — comparing raw on one side and rounded
      // on the other diverges exactly at the threshold boundary
      "CAST(CASE WHEN round(COALESCE(nd, 0) / nch, 6) >= 0.5 THEN 1 ELSE 0 END AS INT) AS is_span_dup " +
      "FROM n LEFT JOIN sh ON n.doc_id = sh.doc_id ORDER BY n.doc_id"),

    // Substring-level exact dedup — the suffix-array rung of the Lee
    // et al. "Deduplicating Training Data Makes Language Models
    // Better" recipe, re-expressed as SQL-replayable DIAGONAL RUN
    // EXTENSION: dedup_span_exact sees only aligned 32-token blocks;
    // this finds the LONGEST cross-document duplicated token span at
    // ANY offset. Anchor = positional 8-gram; two documents sharing a
    // common substring of length L >= 8 share L-7 consecutive anchors
    // on one (a, b, pa-pb) diagonal, and conversely a diagonal run of
    // m consecutive anchor positions chains to an exact common
    // substring of m+7 tokens — so max-run + 7 IS the longest common
    // substring (>= 8; shorter dups are below the anchor width by
    // contract). The corpus ships no cross-doc spans, so the audited
    // ingest plants them (the text_pii_scrub convention): % 7 == 0
    // docs re-arrive verbatim (full-length span) and % 11 == 5 docs
    // re-arrive as PARTIAL QUOTES — unique head/tail tokens around a
    // 24-token middle slice, so the extension has to stop at 24, not
    // saturate. Scale: anchors with > 512 occurrences are dropped
    // (the LSH bucket-cap convention — corpus-hot 8-grams are
    // boilerplate, not substring evidence; the cap is replayed in the
    // oracle), so pair volume is bounded by cap x occurrences, never
    // quadratic in a hot gram; runs ride ONE window on the pair
    // diagonal whose groups are bounded by document length. Anchor
    // key is xxhash64 (the dedup_span_exact engine-internal-key
    // trade, documented there).
    // PROFILE (sf0.1, idle-box): ~0.86 s vs DuckDB 0.34 s (~2.5x) —
    // five serialized stages (cap window, anchor self-join, diagonal
    // run window, two aggregates) each paying the local job floor;
    // the plan shapes are the scale-correct ones (caps bound the pair
    // fan-out; at 10x full-replica pressure the query runs ~1.3-1.9 s
    // while DuckDB's replay climbs past 5 s — see SCALE.md).
    NamedQuery("dedup_substring", (s, dir) => {
      val ing = substringIngest(s, dir)
      val g = ing.filter(size(split(col("text"), " ")) >= 8)
        .select(col("doc_id"),
          posexplode(TextOps.shinglesOfText(col("text"), 8)).as(Seq("pos", "gram")))
        .select(col("doc_id"),
          when(col("pos") < 1048576, col("pos").cast("long"))
            .otherwise(raise_error(lit("dedup_substring: token position >= 2^20 " +
              "does not fit the packed (doc_id, pos) member field"))).as("pos"),
          xxhash64(col("gram")).as("h"))
      // ONE hash aggregate on h collects each anchor bucket's (doc_id,
      // pos) members — the >512 cap drops the whole bucket by a size()
      // filter — and the cross pairs are generated IN-ROW over the
      // bounded member array (nested transform + flatten, the
      // cappedPairs idiom): one exchange and no sort, where a count
      // window + self-join on h pays a window sort and a sort-merge join
      // (OPTIMIZATION_r21.md).
      // members ride as ONE packed long (doc_id in the high bits, pos
      // in the low 20; a position past 2^20 would carry into the doc
      // id, so `g` raises an error on one): narrower shuffle rows and a
      // primitive-array aggregation buffer (§2.3 narrower types)
      val b = g.groupBy(col("h"))
        .agg(collect_list(col("doc_id") * lit(1048576L) + col("pos")).as("ms"))
        .filter(size(col("ms")) <= 512)
      val p = b.select(explode(expr(
          "flatten(transform(ms, x -> transform(" +
            "filter(ms, y -> y div 1048576 != x div 1048576), " +
            "y -> struct(x div 1048576 as a, y div 1048576 as b, " +
            "x % 1048576 as pa, x % 1048576 - y % 1048576 as diag))))")).as("pr"))
        .select(col("pr.a").as("a"), col("pr.b").as("b"),
          col("pr.pa").as("pa"), col("pr.diag").as("diag"))
      // longest diagonal run via an ORDERED IN-ROW FOLD per (a, b,
      // diag) — the q36/dq_drift one-action recipe: (a, b, diag, pa)
      // rows are unique by construction (one gram per (doc, pos)), so
      // a row_number window's island count equals the longest
      // consecutive-pa run over the sorted position array, so the hash
      // aggregate rides one exchange with NO sort.
      val runs = p
        .groupBy(col("a"), col("b"), col("diag"))
        .agg(sort_array(collect_list(col("pa"))).as("ps"))
        .select(col("a"), col("b"), expr(
          "aggregate(ps, struct(0L as best, 0L as cur, -2L as prev), " +
            "(acc, x) -> struct(" +
            "greatest(acc.best, if(x = acc.prev + 1, acc.cur + 1, 1L)) as best, " +
            "if(x = acc.prev + 1, acc.cur + 1, 1L) as cur, " +
            "x as prev), " +
            "acc -> acc.best + 7)").as("span"))
      runs.groupBy(col("a"))
        .agg(max(col("span")).as("max_dup_span"),
          count_distinct(col("b")).as("n_partners"))
        .select(col("a").as("doc_id"), col("max_dup_span"), col("n_partners"))
        .orderBy(col("doc_id"))
    },
      // the planted ingest, positional 8-gram anchors (grouped on the
      // gram STRING — the engine's xxhash64 key is the documented
      // engine-internal trade), the 512 hot-gram cap replay, diagonal
      // runs via the pos - row_number islands trick, span = run + 7
      "WITH base AS (SELECT doc_id, text FROM documents), " +
      "re AS (SELECT doc_id + 10000000 AS doc_id, text FROM base WHERE doc_id % 7 = 0), " +
      "qs AS (SELECT doc_id + 20000000 AS doc_id, " +
      "'qh' || CAST(doc_id AS VARCHAR) || ' ' || " +
      "array_to_string((string_split(text, ' '))[9:32], ' ') || " +
      "' qt' || CAST(doc_id AS VARCHAR) AS text FROM base " +
      "WHERE doc_id % 11 = 5 AND len(string_split(text, ' ')) >= 40), " +
      "ing AS (SELECT * FROM base UNION ALL SELECT * FROM re UNION ALL SELECT * FROM qs), " +
      "t AS (SELECT doc_id, string_split(text, ' ') ws FROM ing WHERE len(string_split(text, ' ')) >= 8), " +
      "g AS MATERIALIZED (SELECT doc_id, i AS pos, array_to_string(ws[i : i+7], ' ') gram " +
      "FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws) - 7)) i)), " +
      "dfh AS (SELECT gram, COUNT(*) c FROM g GROUP BY gram), " +
      "gg AS MATERIALIZED (SELECT g.doc_id, g.pos, g.gram FROM g JOIN dfh USING (gram) WHERE c <= 512), " +
      "p AS (SELECT x.doc_id a, y.doc_id b, x.pos pa, x.pos - y.pos diag " +
      "FROM gg x JOIN gg y ON x.gram = y.gram AND x.doc_id <> y.doc_id), " +
      "r AS (SELECT a, b, diag, pa, pa - row_number() OVER (PARTITION BY a, b, diag ORDER BY pa) isl FROM p), " +
      "runs AS (SELECT a, b, COUNT(*) + 7 span FROM r GROUP BY a, b, diag, isl) " +
      "SELECT a AS doc_id, CAST(MAX(span) AS BIGINT) AS max_dup_span, " +
      "CAST(COUNT(DISTINCT b) AS BIGINT) AS n_partners " +
      "FROM runs GROUP BY a ORDER BY doc_id"),

    // Crawl-ingest twin of the multimodal family: each doc gets a
    // deterministic per-record-gzip .warc.gz container (construction
    // parameters = the arithmetic the DuckDB oracle replays), and the
    // reported record count / statuses / entity bytes / extraction hash
    // are what the REAL parser chain (gunzip -> WARC record walk ->
    // HTTP split -> html_to_text) reads BACK from the bytes — so the
    // hash gate fails on any gzip-member, framing, Content-Length,
    // header, status-line, or tag/entity/whitespace extraction
    // misparse. The extraction must also invert the HTML escape
    // exactly (decode(escape(text)) == text for ALL doc texts).
    //
    // BENCH NOTE (work asymmetry, not an optimizer gap): the Spark side
    // gzips, gunzips, CRC-checks, record-walks, HTTP-splits, and
    // HTML-extracts real bytes per row, while the DuckDB oracle merely
    // REPLAYS the construction arithmetic on strings (it never touches
    // gzip or a parser). A 2-3x wall-clock ratio vs the oracle is the
    // price of doing the real work; the plan itself is one map-side
    // mapPartitions — embarrassingly parallel, no shuffle, no
    // scale-killer at 100 TB.
    // Image near-dup via perceptual hash — the MULTIMODAL member of the
    // dedup family (exact/minhash/simhash/ngram/embedding cover text
    // and vectors; crawl corpora also carry the same image re-hosted
    // with one-byte differences). Each doc family (doc_id div 7)
    // shares a base raster; each member perturbs one pixel
    // (Multimodal.syntheticFamilyPng), goes through the REAL PNG
    // encode->decode, and fingerprints via dHash (9x8 brightness grid,
    // 64 bits as four 16-bit bands). Candidate generation is the
    // simhash pigeonhole: hamming <= 6 forces >= 1 of 4 bands equal,
    // so band value = LSH bucket key. Scale shape: decode + dHash are
    // map-side mapPartitions; ONE exchange on (band, value); buckets
    // capped (TextOps.cappedPairs); verify = integer xor/bit_count on
    // the candidate pairs only — answer-proportional, same contract as
    // dedup_minhash_verified. The oracle replays the construction
    // arithmetic + grid sampling + band/xor algebra in SQL, so a codec
    // misparse OR a fingerprint/bucketing bug breaks the hash.
    //
    // BENCH NOTE (work asymmetry, the warc_ingest regime): the Spark
    // side PNG-encodes (deflate), PNG-decodes (inflate + unfilter),
    // and fingerprints real pixels per row; the oracle samples 72 grid
    // points of construction arithmetic and never touches a codec. A
    // ~2-3x wall-clock ratio vs the oracle is the price of the real
    // work, not an optimizer gap — the codec stage is pure map-side
    // and embarrassingly parallel at 100 TB.
    NamedQuery("dedup_image_phash", (s, dir) =>
      perceptualPairs(imagePhashFrame(s, dir), maxHamming = 6),
      dedupImagePhashSql),

    // MULTIMODAL rung of the decontamination ladder: a benchmark's
    // images leak into training sets re-encoded and watermarked, where
    // the text rungs (verbatim grams, minhash, embeddings) see
    // nothing. Same contract as decon_embedding: the bench side
    // (doc_id % 50 == 0, the split every decon rung uses) is tiny, so
    // its banded fingerprints BROADCAST and the train side never
    // shuffles for the match; candidates = band-key collisions,
    // verify = exact hamming <= 6; the report is total (every train
    // doc, contaminated or not) via a one-column pruned scan as the
    // totality base — NOT the fingerprint frame, which would run the
    // codec twice.
    NamedQuery("decon_image_phash", (s, dir) =>
      perceptualDecon(s, dir, imagePhashFrame(s, dir), "is_image_contaminated"),
      deconImagePhashSql),

    // AUDIO rung of the decon ladder: benchmark audio leaks re-encoded
    // with a click where every text rung sees nothing. Same broadcast
    // shape, over the SAME memoized fingerprint store as
    // dedup_audio_fingerprint — the dedup and decon rungs of a
    // modality always share one codec pass.
    NamedQuery("decon_audio_fingerprint", (s, dir) =>
      perceptualDecon(s, dir, audioFingerprintFrame(s, dir), "is_audio_contaminated"),
      deconAudioFingerprintSql),

    // VIDEO rung: the bench side's PER-FRAME fingerprints broadcast,
    // so a training clip that contains ANY frame perceptually matching
    // ANY benchmark frame flags — which is exactly what catches a
    // trimmed/re-cut leak (the frame indices differ; the band keys
    // don't carry them).
    NamedQuery("decon_video_phash", (s, dir) =>
      perceptualDecon(s, dir, videoPhashFrame(s, dir), "is_video_contaminated"),
      deconVideoPhashSql),

    // Audio near-dup via energy-envelope fingerprint — the AUDIO
    // member of the dedup family (dedup_image_phash's acoustic twin):
    // doc families share a synthetic PCM signal, each member carries a
    // one-sample click (Multimodal.syntheticFamilyWav), the bytes go
    // through the REAL WAV encode->decode, and the fingerprint is 64
    // adjacent-window energy comparisons packed as four 16-bit LSH
    // band keys (Multimodal.audioFingerprintBands — all integer
    // algebra). Same plan shape and bench work-asymmetry as the image
    // query: map-side codec + fingerprint, one (band, value) exchange,
    // capped buckets, hamming verify on candidates only.
    NamedQuery("dedup_audio_fingerprint", (s, dir) =>
      perceptualPairs(audioFingerprintFrame(s, dir), maxHamming = 6),
      dedupAudioFingerprintSql),

    // SHIFT-TOLERANT audio near-dup via overlapping shingles — the
    // rung above dedup_audio_fingerprint's global envelope: a clip
    // offset by 100 ms fingerprints differently there (the 65-window
    // split realigns), but shingles over FIXED-size windows emit the
    // same VALUES at shifted positions, and value — not position — is
    // the bucket key. The shifted family (Multimodal.
    // syntheticFamilyWavShifted) prepends 0..3 windows of doc-unique
    // noise to a shared base signal: exactly the members the global
    // fingerprint cannot pair. Scale shape: codec + shingling are
    // map-side (memoized store), ONE exchange into value buckets,
    // capped expansion, then the doc-pair rollup (shared-value count)
    // rides its own groupBy — pairs with >= 8 shared shingles report.
    // The oracle replays construction, windowing, bit packing, and
    // the distinct-value join in SQL.
    NamedQuery("dedup_audio_shingle", (s, dir) =>
      TextOps.bucketPairs(audioShingleFrame(s, dir), Seq("sh"), col("doc_id"))
        .select(col("p.a").as("a_id"), col("p.b").as("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 8)
        .orderBy(col("a_id"), col("b_id")),
      // shifted-family construction replay (doc-unique prefix, shared
      // aperiodic base fill, one-sample click) + fixed-window energy
      // sums + adjacent comparisons + 32-bit shingle packing + the
      // distinct-value self-join; HAVING COUNT(*) = 32 drops the
      // partial shingles at each clip's tail
      "WITH d AS (SELECT doc_id, md5(CAST(doc_id // 5 AS VARCHAR)) bh, md5(text) ph FROM documents), " +
      "g AS (SELECT doc_id, bh, ph, 1280 + (ascii(substr(bh, 1, 1)) % 8) * 128 AS n, " +
      "(ascii(substr(ph, 4, 1)) % 4) * 8 AS o FROM d), " +
      "p AS (SELECT *, (ascii(substr(ph, 1, 1)) * 31 + ascii(substr(ph, 2, 1))) % n AS ppos FROM g), " +
      "s AS (SELECT doc_id, i // 8 AS w, " +
      "abs(CASE WHEN i < o THEN (ascii(substr(ph, (i % 32) + 1, 1)) * (i * 13 + 7)) % 4093 - 2046 " +
      "WHEN i - o = ppos THEN (ascii(substr(ph, 3, 1)) * ((i - o) * 13 + 7)) % 4093 - 2046 " +
      "ELSE (ascii(substr(bh, ((i - o) % 32) + 1, 1)) * ((i - o) * 13 + 7)) % 4093 - 2046 END) AS v " +
      "FROM p CROSS JOIN (SELECT unnest(generate_series(0, 2199)) i) WHERE i < o + n), " +
      "e AS (SELECT doc_id, w, CAST(SUM(v) AS BIGINT) ev FROM s GROUP BY doc_id, w), " +
      "bits AS (SELECT l.doc_id, l.w, CASE WHEN l.ev > r.ev THEN 1 ELSE 0 END bt " +
      "FROM e l JOIN e r ON l.doc_id = r.doc_id AND r.w = l.w + 1), " +
      "shv AS (SELECT b.doc_id, j.j, CAST(SUM(CASE WHEN b.bt = 1 " +
      "THEN (CAST(1 AS BIGINT) << (b.w - j.j)) ELSE 0 END) AS BIGINT) AS v " +
      "FROM bits b JOIN (SELECT unnest(generate_series(0, 242)) j) j " +
      "ON b.w >= j.j AND b.w < j.j + 32 " +
      "GROUP BY b.doc_id, j.j HAVING COUNT(*) = 32), " +
      "ds AS (SELECT DISTINCT doc_id, v FROM shv) " +
      "SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS n_shared " +
      "FROM ds a JOIN ds b ON a.v = b.v AND a.doc_id < b.doc_id " +
      "GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 8 ORDER BY a_id, b_id"),

    // Video near-dup via ALL-FRAMES perceptual hash — the VIDEO member
    // of the dedup family, completing the modality set (text / vectors
    // / image / audio / video). Doc families share a synthetic
    // multi-frame Y4M stream; each member carries a one-pixel
    // watermark on an ARBITRARY frame AND half the members are
    // re-cuts with the leading frame trimmed (Y4m.syntheticFamilyY4m)
    // — the common re-upload case that a frame-0-only fingerprint is
    // structurally blind to. The REAL decoder walks
    // the whole stream (header, per-chroma plane sizing, every FRAME
    // marker) — a plane-size bug shifts later frames and breaks the
    // decode, not just the fingerprint — then EVERY frame is
    // fingerprinted with the SAME dHash the image query uses, and the
    // frame-index-agnostic banding of perceptualFramePairs collides a
    // trimmed clip's frame j with the original's frame j+1. Output is
    // the doc-pair rollup: min frame-pair hamming + the count of
    // matching frame pairs. Same plan shape and bench work-asymmetry
    // as the image/audio queries.
    NamedQuery("dedup_video_phash", (s, dir) =>
      perceptualFramePairs(videoPhashFrame(s, dir), maxHamming = 6),
      dedupVideoPhashSql),

    // Cross-modality EVIDENCE UNION: one row per near-dup doc pair
    // with the per-modality verdicts side by side — "is this document
    // a re-host of that one in ANY modality, and in how many?" — the
    // question a curation reviewer actually asks before dropping a
    // family. Each input is an already-verified pair set (answer-
    // sized, not corpus-sized), so the two full-outer joins shuffle
    // only answers; the fingerprint stores are the memoized ones, so
    // the rollup adds ZERO codec work on a warm corpus. At 100 TB the
    // same holds structurally: pair sets are bounded by the duplicate
    // rate, and the rollup cost is O(pairs), independent of corpus
    // width.
    NamedQuery("dedup_multimodal_rollup", (s, dir) => {
      val img = perceptualPairs(imagePhashFrame(s, dir), maxHamming = 6)
        .withColumnRenamed("hamming", "image_hamming")
      val aud = perceptualPairs(audioFingerprintFrame(s, dir), maxHamming = 6)
        .withColumnRenamed("hamming", "audio_hamming")
      val vid = perceptualFramePairs(videoPhashFrame(s, dir), maxHamming = 6)
        .select(col("a_id"), col("b_id"), col("min_hamming").as("video_min_hamming"))
      img.join(aud, Seq("a_id", "b_id"), "full_outer")
        .join(vid, Seq("a_id", "b_id"), "full_outer")
        .select(col("a_id"), col("b_id"),
          (when(col("image_hamming").isNotNull, 1).otherwise(0) +
            when(col("audio_hamming").isNotNull, 1).otherwise(0) +
            when(col("video_min_hamming").isNotNull, 1).otherwise(0))
            .cast("int").as("n_modalities"),
          col("image_hamming"), col("audio_hamming"), col("video_min_hamming"))
        .orderBy(col("a_id"), col("b_id"))
    },
      s"WITH i AS ($dedupImagePhashSql), " +
      s"a AS ($dedupAudioFingerprintSql), " +
      s"v AS ($dedupVideoPhashSql) " +
      "SELECT a_id, b_id, CAST(" +
      "(CASE WHEN i.hamming IS NOT NULL THEN 1 ELSE 0 END) + " +
      "(CASE WHEN a.hamming IS NOT NULL THEN 1 ELSE 0 END) + " +
      "(CASE WHEN v.min_hamming IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS n_modalities, " +
      "i.hamming AS image_hamming, a.hamming AS audio_hamming, " +
      "v.min_hamming AS video_min_hamming " +
      "FROM i FULL OUTER JOIN a USING (a_id, b_id) " +
      "FULL OUTER JOIN v USING (a_id, b_id) ORDER BY a_id, b_id"),

    // The decon ladder's PER-DOC MATRIX: every train doc against all
    // six decontamination rungs (verbatim 8-gram, fuzzy MinHash,
    // semantic embedding, image/audio/video perceptual) in one row —
    // the release-gate artifact a curation run signs off on ("which
    // rung flagged this doc, and how many agree"). Each rung is the
    // EXACT frame served by its own oracled query (composed via the
    // SparkEntry.queries registry, the quality_ensemble precedent), so the
    // matrix cannot drift from the rungs; all six are total over the
    // same doc_id%50!=0 train universe (embeddings ride the parallel
    // vec_id space), so the joins are inner and row-preserving. The
    // perceptual rungs reuse their memoized fingerprint stores — the
    // rollup adds join work, never a second codec pass. Cost shape at
    // 100 TB: six co-keyed joins on doc_id over per-doc flag frames,
    // each the size of the corpus' id column.
    NamedQuery("decon_rollup", (s, dir) => {
      val vb = SparkEntry.queries("decon_ngram_overlap")(s, dir)
        .select(col("doc_id"), col("is_contaminated").as("verbatim"))
      val fz = SparkEntry.queries("decon_minhash_neardup")(s, dir)
        .select(col("doc_id"), col("is_fuzzy_contaminated").as("fuzzy"))
      val sm = SparkEntry.queries("decon_embedding")(s, dir)
        .select(col("vec_id").as("doc_id"), col("is_semantic_contaminated").as("semantic"))
      val im = SparkEntry.queries("decon_image_phash")(s, dir)
        .select(col("doc_id"), col("is_image_contaminated").as("image"))
      val au = SparkEntry.queries("decon_audio_fingerprint")(s, dir)
        .select(col("doc_id"), col("is_audio_contaminated").as("audio"))
      val vi = SparkEntry.queries("decon_video_phash")(s, dir)
        .select(col("doc_id"), col("is_video_contaminated").as("video"))
      vb.join(fz, Seq("doc_id")).join(sm, Seq("doc_id"))
        .join(im, Seq("doc_id")).join(au, Seq("doc_id")).join(vi, Seq("doc_id"))
        .withColumn("n_rungs_flagged",
          (col("verbatim") + col("fuzzy") + col("semantic") +
            col("image") + col("audio") + col("video")).cast("int"))
        .orderBy(col("doc_id"))
    },
      // decon matrix: all six rung oracles composed verbatim as CTEs,
      // inner-joined on the shared train id universe
      s"WITH vb AS ($deconNgramOverlapSql), " +
      s"fz AS ($deconMinhashNeardupSql), " +
      s"sm AS ($deconEmbeddingSql), " +
      s"im AS ($deconImagePhashSql), " +
      s"au AS ($deconAudioFingerprintSql), " +
      s"vi AS ($deconVideoPhashSql) " +
      "SELECT vb.doc_id AS doc_id, " +
      "vb.is_contaminated AS verbatim, fz.is_fuzzy_contaminated AS fuzzy, " +
      "sm.is_semantic_contaminated AS semantic, im.is_image_contaminated AS image, " +
      "au.is_audio_contaminated AS audio, vi.is_video_contaminated AS video, " +
      "CAST(vb.is_contaminated + fz.is_fuzzy_contaminated + " +
      "sm.is_semantic_contaminated + im.is_image_contaminated + " +
      "au.is_audio_contaminated + vi.is_video_contaminated AS INT) AS n_rungs_flagged " +
      "FROM vb JOIN fz ON vb.doc_id = fz.doc_id " +
      "JOIN sm ON vb.doc_id = sm.vec_id " +
      "JOIN im ON vb.doc_id = im.doc_id " +
      "JOIN au ON vb.doc_id = au.doc_id " +
      "JOIN vi ON vb.doc_id = vi.doc_id " +
      "ORDER BY vb.doc_id"),

    // CONTENT-DEFINED chunking dedup (the FastCDC/rsync idea in token
    // space): chunk boundaries are placed where a rolling window's
    // hash hits a coin — boundary after token i+7 iff md5 of the
    // 8-token window at i starts with hex '0' (p = 1/16, mean chunk
    // ~16 tokens) — so an INSERTION near the head shifts only the
    // chunks it touches and boundaries re-synchronize downstream,
    // where the fixed-stride corpus_chunks would shift every chunk
    // hash after the edit (the invariant the spec pins). The window
    // hash rides the SAME md5-shingle machinery the oracle replays;
    // boundaries, chunk slicing and hashing are one array-level
    // projection (no explode until the chunk rows), then one
    // chunk-hash aggregate for cross-doc duplication + one doc-keyed
    // join back — the dedup_gram_coverage plan shape. Output: per doc,
    // chunk count, chunks shared with ANOTHER doc, duplicated
    // fraction.
    NamedQuery("dedup_cdc_chunks", (s, dir) => {
      // boundary + chunk + hash in ONE native byte scan per doc
      // (functions.CdcChunkHashes): the first formulation was the
      // transform(sequence)->slice->concat_ws->md5 HOF chain — the
      // exact CodegenFallback-per-window anti-pattern WordShingles
      // was written to kill. The native expression feeds each
      // window's and chunk's CONTIGUOUS byte range straight into one
      // thread-local MessageDigest — zero intermediate arrays or
      // strings (the HOF twin survives as TextExpressionsPropertySpec
      // fuzz armor, and the DuckDB oracle replays the declarative form,
      // so the hash gate proves native == declarative cross-engine).
      val chunks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(
          graft.functions.TextExpressions.cdc_chunk_hashes(col("text"), 8)).as("ch"))
      val dupes = chunks.groupBy(col("ch"))
        .agg(count_distinct(col("doc_id")).as("nd"))
      chunks.join(dupes, Seq("ch"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum((col("nd") >= 2).cast("long")).as("n_dup_chunks"))
        .withColumn("dup_frac",
          round(col("n_dup_chunks").cast("double") / col("n_chunks"), 6))
        .orderBy(col("doc_id"))
    },
      // the same coin/boundary/slice construction over DuckDB lists;
      // ws[a:b] is 1-based INCLUSIVE, so window i = ws[i:i+7] (8
      // tokens) and chunk k = ws[bb[k]+1 : bb[k+1]]
      "WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
      "b AS (SELECT doc_id, ws, len(ws) n, " +
      "list_filter(list_transform(generate_series(1, greatest(len(ws) - 7, 0)), i -> " +
      "CASE WHEN i + 7 < len(ws) AND substr(md5(array_to_string(ws[i:i+7], ' ')), 1, 1) = '0' " +
      "THEN i + 7 END), x -> x IS NOT NULL) bs FROM t), " +
      "c AS (SELECT doc_id, list_concat(list_concat([0], bs), [n]) bb, ws FROM b), " +
      "ch AS (SELECT doc_id, md5(array_to_string(ws[bb[k]+1 : bb[k+1]], ' ')) ch " +
      "FROM c, LATERAL (SELECT unnest(generate_series(1, len(bb) - 1)) k)), " +
      "dupes AS (SELECT ch, COUNT(DISTINCT doc_id) nd FROM ch GROUP BY ch) " +
      "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks, " +
      "CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks, " +
      "round(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS dup_frac " +
      "FROM ch JOIN dupes USING (ch) GROUP BY doc_id ORDER BY doc_id")
  )
}
