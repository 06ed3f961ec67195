package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.streaming.StreamingCorpusOps
import graft.streaming.StreamingCorpusOps.{CandidatePair, Doc}

/** Streaming twins of the corpus dedup/quality family: the incremental
  * answers a continuously ingesting training pipeline needs — above
  * all, near-dup candidates surfacing ACROSS micro-batches the moment
  * the second copy arrives.
  */
class StreamingCorpusSpec extends SparkSpec {
  import spark.implicits._
  implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val textB = "one two three four five six seven eight nine ten"

  test("streaming embedding decon gate equals the batch semantic rule across batches") {
    import org.apache.spark.sql.functions.col
    // Independent driver-side replay of the decon_embedding rule
    // (seeded 32-centroid argmax cell, round-6 cosine >= 0.45 against
    // any SAME-CELL bench vector) — not the gate's own code path.
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    def norm(v: Array[Float]): Double = v.map(x => x.toDouble * x).sum
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i))
    def r6(x: Double): Double = graft.functions.SeededCellArgmax.round6(x)
    val cents = emb.filter(_._1 < 32)
    val bank = new graft.functions.CentroidBank(
      cents.map(_._1), cents.map(_._2), cents.map(c => norm(c._2)))
    def cellOf(v: Array[Float]): Long =
      cents.map { case (cid, cv) =>
        (-r6(dot(v, cv) / math.sqrt(norm(v) * norm(cv))), cid)
      }.min._2
    val bench = emb.filter(_._1 % 50 == 0)
    // the arriving stream: the train split PLUS a re-id'd clone of
    // every bench vector (cosine 1.0, same cell — each clone MUST be
    // dropped, so both the pass and the drop path are exercised)
    val train = emb.filter(_._1 % 50 != 0) ++
      bench.map { case (id, v) => (id + 10000L, v) }
    val benchCells = bench.map(e => (cellOf(e._2), e._2))
    val expected = train.filter { case (_, v) =>
      val c = cellOf(v)
      !benchCells.exists { case (bc, bv) =>
        bc == c && r6(dot(v, bv) / math.sqrt(norm(v) * norm(bv))) >= 0.45
      }
    }.map(_._1).toSet
    assert(expected.size < train.length, "fixture must actually drop something")
    assert(train.exists(e => e._1 >= 10000L && !expected(e._1)),
      "every bench clone should be dropped")

    // the streaming gate over THREE micro-batches must admit exactly
    // the batch-rule survivors (stateless: batch boundaries invisible)
    val in = MemoryStream[(Long, Array[Float])]
    val benchDf = bench.toSeq.toDF("vec_id", "embedding")
    val q = StreamingCorpusOps.embeddingDeconGate(
        in.toDF().toDF("vec_id", "embedding"), bank, benchDf, 0.45)
      .select(col("vec_id"))
      .writeStream.format("memory").queryName("edecon_gate")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    try {
      train.grouped(math.max(train.length / 3, 1)).foreach { slice =>
        in.addData(slice.toIndexedSeq)
        drain(q)
      }
      val got = spark.table("edecon_gate").as[Long].collect().toSet
      assert(got === expected)
    } finally q.stop()
  }

  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    q.processAllAvailable()

  test("streaming cluster-balanced admission converges to the batch sampler") {
    import org.apache.spark.sql.functions.col
    // the corpus in three arrival waves through the FROZEN
    // batch-trained bank; the admitted set per cluster is bottom-32
    // coins — order-free, so the final stream state must be BIT-EQUAL
    // to sample_cluster_balanced over the same rows
    val bank = graft.queries.ExtensionQueries.trainedKmeansBank(spark, sf0001)
    val in = MemoryStream[(Long, Array[Float])]
    val q = StreamingCorpusOps.clusterBalancedGate(
        in.toDF().toDF("vec_id", "embedding"), bank, cap = 32)
      .writeStream.format("memory").queryName("cb_gate")
      .outputMode(OutputMode.Update).trigger(Trigger.ProcessingTime(0)).start()
    try {
      val emb = Tables.embeddings(spark, sf0001)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      emb.grouped(math.max(emb.length / 3, 1)).foreach { slice =>
        in.addData(slice.toIndexedSeq)
        drain(q)
      }
      // current admitted set = each cluster's LATEST emission wave
      // (Update mode; a cluster untouched by the last batch keeps its
      // earlier wave)
      val got = spark.table("cb_gate")
        .as[(Long, Long, Long, Long)].collect()
        .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
          val latest = rows.map(_._4).max
          rows.filter(_._4 == latest).map(r => (r._1, r._2, r._3)).toSeq
        }.toSet
      val want = SparkEntry.queries("sample_cluster_balanced")(spark, sf0001)
        .select(col("cluster"), col("rk"), col("vec_id"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got === want)
    } finally q.stop()
  }

  test("running posting stats converge to the batch search_postings index") {
    import org.apache.spark.sql.functions.col
    val in = MemoryStream[Doc]
    val q = StreamingCorpusOps.runningPostings(in.toDF())
      .writeStream.format("memory").queryName("run_postings")
      .outputMode(OutputMode.Update).trigger(Trigger.ProcessingTime(0)).start()
    try {
      // the sf0.001 corpus in three arrival waves
      val docs = Tables.documents(spark, sf0001)
        .select(col("doc_id"), col("text")).as[Doc].collect().sortBy(_.doc_id)
      docs.grouped(math.max(docs.length / 3, 1)).foreach { slice =>
        in.addData(slice.toIndexedSeq)
        drain(q)
      }
      // current index = the LAST emitted row per term (Update mode);
      // df grows monotonically, so max df per term IS the last row
      val got = spark.table("run_postings")
        .as[(String, Long, Long, Long, Long)].collect()
        .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._2) }.toSet
      val want = SparkEntry.queries("search_postings")(spark, sf0001)
        .as[(String, Long, Long, Long, Long)].collect().toSet
      assert(got === want)
    } finally q.stop()
  }

  test("novelty gate: first occurrences only, exact counts, state survives restart") {
    // doc 1 = fresh; doc 2 quotes doc 1's first 8 tokens + unique tail;
    // doc 3 = fresh; doc 4 = verbatim re-upload of doc 1 (zero novel).
    // File source + foreachBatch parquet sink so the seen-gram state
    // genuinely recovers from the checkpoint (the leaderboard-restart
    // pattern — the memory sink cannot resume).
    val t1 = textA                                   // 10 tokens -> 3 grams
    val t2 = textA.split(" ").take(8).mkString(" ") + " qq ww"
    val t3 = textB
    def grams(t: String): Set[String] = {
      val ws = t.split(" ", -1)
      (0 to ws.length - 8).map(i => ws.slice(i, i + 8).mkString(" ")).toSet
    }
    val root = java.nio.file.Files.createTempDirectory("novelgate").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    // docs that SHARE grams must land in separate AvailableNow rounds:
    // within one micro-batch the state store's first-occurrence pick
    // between two simultaneous holders of a gram is partition-order
    // arbitrary (arrival order is only defined ACROSS batches — the
    // same contract the scaladoc states); docs 2 and 3 share nothing
    // with each other, so they may share a round
    Seq(Doc(1L, t1)).toDS().write.parquet(inDir)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Doc]].schema)
        .parquet(inDir)
      // unbounded = true: this test pins the exact-batch-twin
      // semantics (state survives forever, incl. across restarts) —
      // since r16 that mode is an explicit opt-OUT; the bounded
      // default gets its own spec below
      val q = StreamingCorpusOps.novelGrams(stream, unbounded = true)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(outDir); ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      ()
    }
    runOnce()
    Seq(Doc(2L, t2), Doc(3L, t3)).toDS().write.mode("append").parquet(inDir)
    runOnce()
    Seq(Doc(4L, t1)).toDS().write.mode("append").parquet(inDir)
    runOnce()
    def counts(): Map[Long, Long] = spark.read.parquet(outDir)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    val c = counts()
    assert(c(1L) === grams(t1).size.toLong, "first doc must be all-novel")
    assert(c(2L) === (grams(t2) -- grams(t1)).size.toLong,
      "quoted grams counted as novel")
    assert(c(3L) === grams(t3).size.toLong)
    assert(!c.contains(4L), "a verbatim re-upload must emit ZERO novel grams")
    // restart on the same checkpoint: the seen-gram state must survive
    // — another re-upload still emits nothing, genuinely new text passes
    Seq(Doc(5L, t1), Doc(6L, "zz yy xx wv uu tt ss rr"))
      .toDS().write.mode("append").parquet(inDir)
    runOnce()
    val c2 = counts()
    assert(!c2.contains(5L), "seen-gram state lost across restart")
    assert(c2(6L) === 1L)
  }

  test("novelty gate with a watermark horizon bounds state and re-admits expired grams") {
    // horizon-bounded mode (dropDuplicatesWithinWatermark on the gram
    // hash): duplicates inside the delay are suppressed exactly like
    // the unbounded twin, but once the watermark passes a gram's
    // expiration its state is EVICTED — a later re-upload re-reads as
    // novel. That re-admission is the observable proof state is bounded.
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val df = in.toDF().toDF("doc_id", "text", "ts")
    val q = StreamingCorpusOps.novelGrams(df, horizon = Some(("ts", "10 minutes")))
      .writeStream.format("memory").queryName("novel_wm")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    try {
      def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 00:$min%02d:00")
      def counts(): Map[Long, Long] = spark.table("novel_wm")
        .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
      val nA = textA.split(" ").length - 7 // distinct 8-grams in textA
      in.addData((1L, textA, ts(0))); drain(q)
      assert(counts()(1L) === nA.toLong)
      // re-upload INSIDE the horizon: fully suppressed
      in.addData((2L, textA, ts(5))); drain(q)
      assert(!counts().contains(2L))
      // unrelated doc pushes the watermark to 00:30 — past textA's
      // grams' 00:10 expiration, so their state is evicted
      in.addData((3L, textB, ts(40))); drain(q)
      assert(counts()(3L) === (textB.split(" ").length - 7).toLong)
      // the same text after eviction is novel AGAIN — bounded state
      in.addData((4L, textA, ts(41))); drain(q)
      assert(counts()(4L) === nA.toLong,
        "gram state must be evicted once the watermark passes its horizon")
    } finally q.stop()
  }

  test("novelty gate DEFAULT bounds state by ingest TTL: suppression inside, eviction past") {
    // r16: the no-horizon default stamps each gram with the
    // micro-batch clock and evicts past ingestTtl — a caller can no
    // longer build an unbounded gate by accident (unbounded = true is
    // an explicit opt-out, and combining it with a horizon refuses).
    intercept[IllegalArgumentException] {
      StreamingCorpusOps.novelGrams(MemoryStream[Doc].toDF(),
        horizon = Some(("ts", "1 minute")), unbounded = true)
    }
    val nA = textA.split(" ").length - 7 // distinct 8-grams in textA
    // (a) inside the TTL the default suppresses exactly like the
    // unbounded twin
    locally {
      val in = MemoryStream[Doc]
      val q = StreamingCorpusOps.novelGrams(in.toDF()) // default 24h TTL
        .writeStream.format("memory").queryName("novel_ttl_a")
        .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
      try {
        def counts(): Map[Long, Long] = spark.table("novel_ttl_a")
          .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
        in.addData(Doc(1L, textA)); drain(q)
        assert(counts()(1L) === nA.toLong)
        in.addData(Doc(2L, textA)); drain(q)
        assert(!counts().contains(2L), "re-upload inside the TTL must suppress")
      } finally q.stop()
    }
    // (b) past the TTL the gram state is EVICTED and the same text
    // re-reads as novel — the observable proof the default is bounded
    locally {
      val in = MemoryStream[Doc]
      val q = StreamingCorpusOps.novelGrams(in.toDF(), ingestTtl = "1 millisecond")
        .writeStream.format("memory").queryName("novel_ttl_b")
        .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
      try {
        def counts(): Map[Long, Long] = spark.table("novel_ttl_b")
          .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
        in.addData(Doc(1L, textA)); drain(q)
        assert(counts()(1L) === nA.toLong)
        // an unrelated batch 50ms later advances the processing-time
        // watermark past doc 1's stamp + 1ms, evicting its grams
        Thread.sleep(50)
        in.addData(Doc(2L, textB)); drain(q)
        Thread.sleep(50)
        in.addData(Doc(3L, textA)); drain(q)
        assert(counts()(3L) === nA.toLong,
          "default gram state must evict once the ingest TTL passes")
      } finally q.stop()
    }
  }

  test("near-dup candidates pair a new doc against earlier batches' state") {
    val in = MemoryStream[Doc]
    val q = StreamingCorpusOps.minhashCandidates(in.toDF())
      .writeStream.format("memory").queryName("cand_t1")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: A and its clone A2, plus unrelated B
      in.addData(Doc(1L, textA), Doc(2L, textA), Doc(10L, textB))
      drain(q)
      val afterB1 = spark.sql("SELECT DISTINCT a_id, b_id FROM cand_t1")
        .as[(Long, Long)].collect().toSet
      assert(afterB1 === Set((1L, 2L)))
      // batch 2: ANOTHER clone of A arrives later — it must pair with
      // BOTH earlier copies out of bucket state, without any rescan
      in.addData(Doc(3L, textA))
      drain(q)
      val afterB2 = spark.sql("SELECT DISTINCT a_id, b_id FROM cand_t1")
        .as[(Long, Long)].collect().toSet
      assert(afterB2 === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    } finally q.stop()
  }

  test("image phash candidates pair a new asset against earlier batches' state") {
    import graft.operators.Multimodal
    // two perceptual families (distinct base rasters), one-pixel
    // member perturbations — the re-hosted-image case the batch
    // dedup_image_phash targets, arriving as a STREAM
    val bhA = "00112233445566778899aabbccddeeff"
    val bhB = "fedcba98765432100123456789abcdef"
    def png(bh: String, ph: String): Array[Byte] = Multimodal.syntheticFamilyPng(bh, ph)
    val in = MemoryStream[(Long, Array[Byte])]
    val q = StreamingCorpusOps.phashCandidates(
        in.toDF().toDF("doc_id", "payload"))
      .writeStream.format("memory").queryName("cand_img")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((1L, png(bhA, "aa0")), (2L, png(bhA, "3f1")), (20L, png(bhB, "c2b")))
      drain(q)
      val afterB1 = spark.sql("SELECT DISTINCT a_id, b_id FROM cand_img")
        .as[(Long, Long)].collect().toSet
      assert(afterB1.contains((1L, 2L)), s"family A pair missing: $afterB1")
      assert(!afterB1.exists { case (a, b) => (a >= 20) != (b >= 20) },
        s"cross-family candidate leaked: $afterB1")
      // a third family-A member arrives a BATCH later: bucket state
      // must pair it against both earlier copies without any rescan
      in.addData((3L, png(bhA, "777")))
      drain(q)
      val afterB2 = spark.sql("SELECT DISTINCT a_id, b_id FROM cand_img")
        .as[(Long, Long)].collect().toSet
      assert(afterB2.contains((1L, 3L)) && afterB2.contains((2L, 3L)),
        s"cross-batch family pairs missing: $afterB2")
      // undecodable payloads produce no candidates and no failure
      in.addData((99L, Array[Byte](1, 2, 3)))
      drain(q)
      assert(!spark.sql("SELECT * FROM cand_img").as[CandidatePair]
        .collect().exists(p => p.a_id == 99L || p.b_id == 99L))
      // modality dispatch: a WAV family pairs through the SAME
      // operator, and modality-tagged bucket keys keep audio and
      // image candidates structurally separate. Clicks land at
      // samples 48 ("a11") and 15 ("b11") of the n=64 signal: bits
      // 47/48 and 14/15 — bands 0, 2, 3 may move but band 1 is
      // untouched, so the pigeonhole guarantees a shared bucket
      // (4 changed bits CAN span all 4 bands; a family test must
      // pick clicks that provably don't)
      in.addData(
        (50L, Multimodal.syntheticFamilyWav(bhA, "a11")),
        (51L, Multimodal.syntheticFamilyWav(bhA, "b11")))
      drain(q)
      val withAudio = spark.sql("SELECT DISTINCT a_id, b_id FROM cand_img")
        .as[(Long, Long)].collect().toSet
      assert(withAudio.contains((50L, 51L)), s"audio family pair missing: $withAudio")
      assert(!withAudio.exists { case (a, b) => b >= 50 && a < 50 },
        s"cross-modality candidate leaked: $withAudio")
    } finally q.stop()
  }

  test("video phash candidates: a TRIMMED re-upload pairs across batches") {
    import graft.operators.Y4m
    // family bhA: nf = '1' % 4 + 2 = 3 frames. The batch-2 member is a
    // re-cut (leading frame trimmed): its frame j is the original's
    // frame j+1, so only frame-index-AGNOSTIC per-frame bands can pair
    // them — exactly what the batch all-frames dedup_video_phash does,
    // and what a frame-0-only streaming fingerprint would miss.
    val bhA = "00112233445566778899aabbccddeeff"
    val bhB = "fedcba98765432100123456789abcdef"
    val in = MemoryStream[(Long, Array[Byte])]
    val q = StreamingCorpusOps.phashCandidates(
        in.toDF().toDF("doc_id", "payload"))
      .writeStream.format("memory").queryName("cand_vid")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((1L, Y4m.syntheticFamilyY4m(bhA, "aa000")),
        (20L, Y4m.syntheticFamilyY4m(bhB, "cc000")))
      drain(q)
      // batch 2: the trimmed member of family A
      in.addData((2L, Y4m.syntheticFamilyY4m(bhA, "aa001")))
      drain(q)
      val pairs = spark.sql("SELECT DISTINCT a_id, b_id FROM cand_vid")
        .as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 2L)), s"trimmed re-upload did not pair: $pairs")
      assert(!pairs.exists { case (a, b) => (a >= 20) != (b >= 20) },
        s"cross-family candidate leaked: $pairs")
    } finally q.stop()
  }

  test("bucket freeze: bounded one-sided over-emission vs the batch whole-bucket drop") {
    // Batch drops an over-cap bucket WHOLE (zero pairs); an Append-mode
    // stream cannot retract, so pairs emitted before the freeze stand.
    // Pin the exact contract: with maxBucket=2, the first two clones
    // pair, the third arrival freezes the bucket BEFORE pairing, and
    // every later clone emits nothing — at most C(maxBucket,2) extra
    // candidates per hot bucket, never a missing one.
    val in = MemoryStream[Doc]
    val q = StreamingCorpusOps.minhashCandidates(in.toDF(), maxBucket = 2)
      .writeStream.format("memory").queryName("cand_freeze")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(Doc(1L, textA), Doc(2L, textA))
      drain(q)
      in.addData(Doc(3L, textA)) // overflow: freezes, pairs with nobody
      drain(q)
      in.addData(Doc(4L, textA)) // frozen: still nothing
      drain(q)
      val pairs = spark.sql("SELECT DISTINCT a_id, b_id FROM cand_freeze")
        .as[(Long, Long)].collect().toSet
      assert(pairs === Set((1L, 2L)),
        "frozen bucket must stop pairing at the cap; earlier pairs stand")
    } finally q.stop()
  }

  test("streaming banding matches the batch dedup_minhash banding") {
    // same signature, same band keys: a batch frame run through the
    // streaming projection buckets clones identically
    val docs = Seq(Doc(1L, textA), Doc(2L, textA), Doc(3L, textB)).toDF()
    val bands = StreamingCorpusOps.bandRows(docs).collect()
    assert(bands.length === 12) // 4 bands per doc
    val byBucket = bands.groupBy(b => (b.band_idx, b.band_hash))
      .values.map(_.map(_.doc_id).toSet).toSet
    assert(byBucket.contains(Set(1L, 2L))) // clones share all buckets
    assert(!byBucket.exists(s => s.contains(3L) && s.size > 1))
  }

  test("decon gate drops contaminated arrivals; equals the batch report's keep set") {
    import graft.operators.Decontamination
    val bench = Seq((100L, textA)).toDF("doc_id", "text")
    val grams = Decontamination.collectBenchGrams(bench, 8)
    // streaming: the clone of a benchmark doc never enters the corpus
    val in = MemoryStream[Doc]
    val q = StreamingCorpusOps.deconGate(in.toDF(), grams, 8)
      .writeStream.format("memory").queryName("decon_t1")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(Doc(1L, textA), Doc(2L, textB), Doc(3L, s"pad words $textA tail"),
        Doc(4L, null)) // null text: no grams -> clean, must pass the gate
      drain(q)
      val kept = spark.sql("SELECT doc_id FROM decon_t1").as[Long].collect().toSet
      assert(kept === Set(2L, 4L), "clones/supersets of a bench doc must be dropped at ingest")
    } finally q.stop()
    // batch equivalence: the gate drops exactly the docs the report
    // FLAGS. (Null-text docs are absent from the report — it matches
    // its oracle's gram-derived denominator — and pass the gate: no
    // grams means nothing to leak.)
    val docs = Seq((1L, textA), (2L, textB), (3L, s"pad words $textA tail"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val gateKept = StreamingCorpusOps.deconGate(docs, grams, 8)
      .select("doc_id").as[Long].collect().toSet
    val flagged = Decontamination
      .overlapReport(docs, Decontamination.benchmarkGrams(bench, 8), 8)
      .filter($"is_contaminated" === 1).select("doc_id").as[Long].collect().toSet
    val allIds = docs.select("doc_id").as[Long].collect().toSet
    assert(gateKept === (allIds -- flagged))
  }

  test("rank-weighted gate: frozen rank store admits the exact batch sampler set") {
    // the batch-learned rank table, frozen at "ingest start" — the
    // pagerankFrame store the batch sampler reads
    val ranks = SparkEntry.queries("crawl_pagerank")(spark, sf0001)
    val batchKeep = SparkEntry.queries("sample_rank_weighted")(spark, sf0001)
      .select("doc_id").as[Long].collect().toSet
    // stream the whole corpus through in three micro-batches
    val ids = Tables.documents(spark, sf0001)
      .select("doc_id").as[Long].collect().sorted
    val in = MemoryStream[Doc]
    val q = StreamingCorpusOps.rankWeightedGate(in.toDF(), ranks)
      .writeStream.format("memory").queryName("rw_gate")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    try {
      ids.grouped((ids.length + 2) / 3).foreach { chunk =>
        in.addData(chunk.map(Doc(_, "t")).toIndexedSeq)
        drain(q)
      }
      val streamed = spark.sql("SELECT doc_id FROM rw_gate").as[Long].collect()
      assert(streamed.length === streamed.distinct.length, "no doc admitted twice")
      assert(streamed.toSet === batchKeep,
        "streaming admission must equal the batch rank-weighted sample")
    } finally q.stop()
    // an arrival UNKNOWN to the frozen ranks passes at the teleport
    // floor: coin < 150000 div 4 = 37500 (deterministic per id)
    val novel = Seq(Doc(1000001L, "t"), Doc(1000002L, "t"), Doc(1000003L, "t")).toDF()
    val floorKept = StreamingCorpusOps.rankWeightedGate(novel, ranks)
      .select("doc_id", "rank_ppm").as[(Long, Long)].collect()
    assert(floorKept.forall(_._2 === 150000L), "unranked arrivals get the teleport floor")
  }

  test("pii scrub redacts at ingest, identically to the batch chain") {
    val dirty = "reach me at Bob.K@Mail.Example.ORG or +1-555-0199 from 192.168.0.12 ok"
    val in = MemoryStream[Doc]
    val q = StreamingCorpusOps.piiScrub(in.toDF())
      .writeStream.format("memory").queryName("pii_t1")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(Doc(1L, dirty), Doc(2L, textB))
      drain(q)
      val got = spark.sql("SELECT doc_id, text FROM pii_t1 ORDER BY doc_id")
        .as[(Long, String)].collect().toSeq
      assert(got.head._2 === "reach me at <EMAIL> or <PHONE> from <IP> ok")
      assert(got(1)._2 === textB, "clean text must pass through unchanged")
      // batch equivalence: same rows through the batch projection
      val batch = StreamingCorpusOps.piiScrub(
          Seq((1L, dirty), (2L, textB)).toDF("doc_id", "text"))
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      assert(batch === got)
    } finally q.stop()
  }

  test("span scrub cuts blocklisted spans at ingest, passes clean docs byte-identical") {
    // 8-token spans keep the fixture readable; the op is size-generic
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ")
    val body = (1 to 8).map(i => s"c$i").mkString(" ")
    val tail = "t1 t2 t3"
    // the WHOLE loop: the blocklist comes from the span-dedup signal
    // itself (collectRepeatedSpans = the df>=2 span strings behind
    // dedup_span_exact), not from a hand-typed literal
    val corpus = Seq(
      (10L, s"$body $boiler $tail"),
      (11L, s"$boiler other words here now")).toDF("doc_id", "text")
    val blocked = graft.operators.TextOps.collectRepeatedSpans(corpus, size = 8)
    assert(blocked.toSeq === Seq(boiler), "report must surface the repeated span text")
    // doc 1: boilerplate is its SECOND span -> only that span cut;
    // doc 2: clean, but oddly spaced -> must pass through byte-identical
    //        (a rebuilt doc would be whitespace-renormalized);
    // doc 3: null text -> total, untouched
    val oddlySpaced = s"a  b   c $body"
    val docs = Seq(
      (1L, s"$body $boiler $tail"),
      (2L, oddlySpaced),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = StreamingCorpusOps.spanScrub(docs, blocked, size = 8)
      .orderBy("doc_id").select("doc_id", "text", "spans_cut")
      .as[(Long, String, Int)].collect().toSeq
    assert(got(0) === ((1L, s"$body $tail", 1)))
    assert(got(1) === ((2L, oddlySpaced, 0)), "clean doc must not be re-normalized")
    assert(got(2)._2 === null && got(2)._3 === 0)

    // stream twin: stateless op, identical rows through a MemoryStream
    val in = MemoryStream[Doc]
    val q = StreamingCorpusOps.spanScrub(in.toDF(), blocked, size = 8)
      .writeStream.format("memory").queryName("span_t1")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(Doc(1L, s"$body $boiler $tail"), Doc(2L, oddlySpaced))
      drain(q)
      val streamed = spark.sql("SELECT doc_id, text, spans_cut FROM span_t1 ORDER BY doc_id")
        .as[(Long, String, Int)].collect().toSeq
      assert(streamed === got.take(2))
    } finally q.stop()
  }

  test("text index append: new docs probe-able as segments, summed df exact") {
    import org.apache.spark.sql.functions.col
    import graft.operators.TextIndex
    val dir = java.nio.file.Files.createTempDirectory("graft-ti-append-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ti-ckpt-").toString
    val base = Seq(
      (1L, "vector stream alpha"),
      (2L, "vector beta gamma")).toDF("doc_id", "text")
    TextIndex.save(TextIndex.postingsOf(base), dir)
    val in = MemoryStream[Doc]
    val q = TextIndex.appendToIndex(spark, in.toDF(), dir, ckpt)
    try {
      in.addData(Doc(10L, "vector delta"), Doc(11L, "epsilon stream"))
      q.processAllAvailable()
      in.addData(Doc(12L, "vector zeta"))
      q.processAllAvailable()
    } finally q.stop()
    // probe sees base + both segments; refreshed df = global df (each
    // doc lives in exactly one segment, so per-segment dfs sum exact)
    val got = TextIndex.probe(spark, dir, Seq("vector", "stream"), refreshDf = true)
      .select("doc_id", "term", "tf", "df", "dl")
      .as[(Long, String, Long, Long, Long)].collect().toSet
    val rebuilt = TextIndex.postingsOf(
        base.unionByName(Seq((10L, "vector delta"), (11L, "epsilon stream"),
          (12L, "vector zeta")).toDF("doc_id", "text")))
      .filter(col("term").isin("vector", "stream"))
      .select("doc_id", "term", "tf", "df", "dl")
      .as[(Long, String, Long, Long, Long)].collect().toSet
    assert(got === rebuilt,
      s"appended probe diverged from a fresh single-segment rebuild:\n$got\nvs\n$rebuilt")
    // without refresh, df is the honest PER-SEGMENT value: doc 12's
    // segment saw one 'vector'
    val seg = TextIndex.probe(spark, dir, Seq("vector"))
      .filter(col("doc_id") === 12L).select("df").as[Long].head()
    assert(seg === 1L, s"per-segment df should be 1, got $seg")

    // compaction merges the three segments into one base layer with
    // the exact GLOBAL df stored — the STORED df (no refresh) now
    // equals the fresh rebuild, and the ingest layer collapses
    val nRows = TextIndex.compactIndex(spark, dir)
    assert(nRows === spark.read.parquet(s"$dir/postings").count())
    val layers = spark.read.parquet(s"$dir/postings")
      .select("ingest").distinct().as[String].collect().toSeq
    assert(layers === Seq("base"), s"segments survived compaction: $layers")
    val compacted = TextIndex.probe(spark, dir, Seq("vector", "stream"))
      .select("doc_id", "term", "tf", "df", "dl")
      .as[(Long, String, Long, Long, Long)].collect().toSet
    assert(compacted === rebuilt,
      "compacted stored-df probe diverged from the fresh rebuild")
  }

  test("anti-join span scrub agrees with blocklist spanScrub on the real corpus") {
    import org.apache.spark.sql.functions.col
    // the two deployment shapes of the same curation act: the batch
    // query kills EVERY df>=2 span via anti-join (corpus-scale
    // kill-set), the streaming op cuts from a driver blocklist built
    // by the same report. With the blocklist = the FULL df>=2 set,
    // the kept TOKEN STREAMS must agree doc-for-doc (spanScrub passes
    // clean docs through byte-identical while the query rebuilds all
    // docs from chunks, so raw strings may differ on whitespace only)
    val docs = Tables.documents(spark, sf0001)
    val blocked = graft.operators.TextOps.collectRepeatedSpans(docs, size = 32)
    assert(blocked.length < 10000, "blocklist truncated — comparison not total")
    val viaBlocklist = StreamingCorpusOps.spanScrub(docs, blocked, size = 32)
      .orderBy(col("doc_id"))
      .select("doc_id", "text", "spans_cut")
      .as[(Long, String, Int)].collect()
    val q = SparkEntry.queries("text_span_scrub")(spark, sf0001)
      .as[(Long, Long, Long, String)].collect()
    assert(q.length === viaBlocklist.length)
    assert(q.exists(_._3 > 0), "fixture never exercises the cut path — vacuous")
    assert(q.exists(_._3 === 0L), "fixture never exercises the clean path")
    q.zip(viaBlocklist).foreach { case ((d, nSpans, cut, scr), (d2, t2, cut2)) =>
      assert(d === d2)
      assert(cut === cut2.toLong, s"doc $d spans_cut $cut vs blocklist-op $cut2")
      assert(cut <= nSpans)
      assert(scr.split(" ").filter(_.nonEmpty).toSeq ===
        t2.split(" ").filter(_.nonEmpty).toSeq,
        s"doc $d kept token streams diverge")
    }
  }

  test("exact dedup keeps the first arrival across batches") {
    val in = MemoryStream[Doc]
    val q = StreamingCorpusOps.exactDedup(in.toDF())
      .writeStream.format("memory").queryName("exact_t1")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(Doc(1L, textA), Doc(2L, textB))
      drain(q)
      in.addData(Doc(3L, textA)) // later clone: dropped by content state
      drain(q)
      val ids = spark.sql("SELECT doc_id FROM exact_t1").as[Long].collect().toSet
      assert(ids === Set(1L, 2L))
    } finally q.stop()
  }

  test("quality gate is stateless and streams as a pure projection") {
    val in = MemoryStream[Doc]
    val q = StreamingCorpusOps.qualityGate(in.toDF())
      .writeStream.format("memory").queryName("qual_t1")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(
        Doc(1L, textA), // 10 diverse tokens: kept
        Doc(2L, "spam spam spam spam spam spam spam spam spam spam"), // top-2-gram = 1.0
        Doc(3L, "too short")) // n_tokens < 10
      drain(q)
      val kept = spark.sql("SELECT doc_id FROM qual_t1").as[Long].collect().toSet
      assert(kept === Set(1L))
    } finally q.stop()
  }

  test("quality gate equals the conjunction of the batch gates on the corpus") {
    val kept = StreamingCorpusOps.qualityGate(Tables.documents(spark, sf0001))
      .select("doc_id").as[Long].collect().toSet
    val q = SparkEntry.queries
    val batchQuality = q("text_quality")(spark, sf0001)
      .filter($"is_quality" === 1).select("doc_id").as[Long].collect().toSet
    val batchKeep = q("text_repetition")(spark, sf0001)
      .filter($"keep" === 1).select("doc_id").as[Long].collect().toSet
    assert(kept === (batchQuality intersect batchKeep),
      "streaming gate must keep exactly the docs both batch gates keep")
  }

  test("bucket cap freezes boilerplate bands instead of quadratic output") {
    val in = MemoryStream[Doc]
    val q = StreamingCorpusOps.minhashCandidates(in.toDF(), maxBucket = 3)
      .writeStream.format("memory").queryName("cap_t1")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((1L to 3L).map(i => Doc(i, textA)): _*)
      drain(q)
      val n3 = spark.sql("SELECT count(DISTINCT struct(a_id, b_id)) FROM cap_t1")
        .as[Long].head()
      assert(n3 === 3) // C(3,2) pairs while under the cap
      in.addData((4L to 10L).map(i => Doc(i, textA)): _*)
      drain(q)
      val nAll = spark.sql("SELECT count(DISTINCT struct(a_id, b_id)) FROM cap_t1")
        .as[Long].head()
      // frozen at overflow: no new pairs from the hot bucket (C(10,2)
      // would be 45)
      assert(nAll === 3, s"expected frozen bucket to stop pairing, got $nAll pairs")
    } finally q.stop()
  }

  test("candidate pairs survive checkpointed restart") {
    // memory sink can't recover from a checkpoint; collect via
    // foreachBatch, which can
    val ckpt = java.nio.file.Files.createTempDirectory("candckpt").toString
    val in = MemoryStream[Doc]
    val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()
    def start() = StreamingCorpusOps.minhashCandidates(in.toDF())
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[CandidatePair], _: Long) =>
        batch.collect().foreach(p => got.add((p.a_id, p.b_id))); ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    val q1 = start()
    try { in.addData(Doc(1L, textA)); drain(q1) } finally q1.stop()
    val q2 = start()
    try {
      in.addData(Doc(2L, textA))
      drain(q2)
      assert(got.contains((1L, 2L)),
        s"state must survive the restart, got: ${got}")
    } finally q2.stop()
  }

  test("standing-query gate: scores are bit-identical to the batch scorer; stream = batch") {
    import org.apache.spark.sql.functions.{col, split}
    val terms = Seq("vector", "stream", "window")
    // pinned stats of the "last indexed corpus version" (sf0.001),
    // computed independently of the gate's code path
    val toks = Tables.documents(spark, sf0001)
      .select(col("doc_id"), split(col("text"), " ", -1).as("ws"))
      .as[(Long, Array[String])].collect()
      .map { case (id, ws) => id -> Option(ws).getOrElse(Array.empty[String]) }
    val n = toks.length.toLong
    val dfs = terms.map(t => toks.count(_._2.contains(t)).toLong)
    val sumdl = toks.map(_._2.length.toLong).sum
    // batch application on the indexed corpus: every gate-passed doc
    // that the top-20 report also ranks must carry the IDENTICAL
    // rounded score (the bit-identity claim in the gate's contract)
    val gate = StreamingCorpusOps.standingQueryGate(
      Tables.documents(spark, sf0001), terms, n, dfs, sumdl, 0.5)
    val gateScores = gate.select(col("doc_id"), col("bm25"))
      .as[(Long, Double)].collect().toMap
    val top = SparkEntry.queries("search_bm25_topk")(spark, sf0001)
      .select(col("doc_id"), col("bm25")).as[(Long, Double)].collect()
    assert(top.exists(_._2 >= 0.5), "fixture: some top doc must clear the gate")
    top.filter(_._2 >= 0.5).foreach { case (id, s) =>
      assert(gateScores.get(id).contains(s),
        s"doc $id: gate ${gateScores.get(id)} != batch scorer $s") }
    assert(gateScores.values.forall(_ >= 0.5), "gate passed a sub-threshold doc")
    // streaming: same docs through a MemoryStream produce the same
    // keep set; a null-text arrival never matches (the reference's
    // skip-unfetchable semantics)
    val in = MemoryStream[Doc]
    val q = StreamingCorpusOps.standingQueryGate(in.toDF(), terms, n, dfs, sumdl, 0.5)
      .writeStream.format("memory").queryName("sq_t1")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    try {
      val sample = toks.take(50).map { case (id, ws) => Doc(id, ws.mkString(" ")) }
      in.addData(sample.toSeq)
      in.addData(Doc(9999L, null))
      drain(q)
      val streamed = spark.sql("SELECT doc_id, bm25 FROM sq_t1")
        .as[(Long, Double)].collect().toMap
      val expectIds = sample.map(_.doc_id).filter(gateScores.contains).toSet
      assert(streamed.keySet === expectIds, "stream keep set != batch keep set")
      streamed.foreach { case (id, s) => assert(s === gateScores(id)) }
      assert(!streamed.contains(9999L), "null text must never match")
    } finally q.stop()
  }
}
