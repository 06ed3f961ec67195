package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Decontamination
import graft.sources.CorpusIngest
import graft.streaming.StreamingCorpusOps

/** Executable end-to-end corpus-construction pipeline — the
  * training-data shape this library is built for, chained over a
  * landing zone exactly as a production ingest would run:
  *
  *   JSONL landing zone → schema-enforced ingest (corrupt lines
  *   quarantined) → PII scrub → benchmark decon gate → boilerplate
  *   span scrub (blocklist from the previous build's repeated-span
  *   report) → quality + repetition gate, per micro-batch with
  *   replay-safe parquet outputs — then a batch pass over the landed
  *   corpus: exact dedup
  *   by content hash AND MinHash-LSH near-dup clusters (the shared
  *   banding + connected components).
  *
  * Deterministic by construction (fixed fixture lines, AvailableNow
  * trigger); prints one summary line the driver/smoke can assert on.
  */
object CorpusDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession(8)
    import spark.implicits._

    val landing = Files.createTempDirectory("corpus_landing")
    val out = Files.createTempDirectory("corpus_out").toString

    // The held-out benchmark: decon must keep its content out of the corpus.
    val benchText = "the quick brown fox jumps over the lazy dog again and again today"
    val bench = Seq((9000L, benchText)).toDF("doc_id", "text")
    val benchGrams = Decontamination.collectBenchGrams(bench, 8)

    def jsonl(id: Long, text: String): String =
      s"""{"doc_id": $id, "text": "$text", "lang": "en", "source": "s0", "n_chars": ${text.length}}"""

    // Boilerplate footer (8 tokens = exactly one span at size 8):
    // "yesterday's" corpus report found it repeated across documents,
    // so today's ingest carries it as a span blocklist — the
    // report→blocklist→scrub lifecycle of TextOps.collectRepeatedSpans
    // + StreamingCorpusOps.spanScrub, run here over a prior-batch
    // fixture standing in for the previous corpus build.
    val footer = "subscribe to the channel newsletter for weekly updates"
    val priorCorpus = Seq((8001L, footer), (8002L, footer)).toDF("doc_id", "text")
    val blockedSpans = graft.operators.TextOps.collectRepeatedSpans(priorCorpus, size = 8)

    val keepable = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val lead6 = "granite harbor velvet crimson ladder monsoon copper zenith " +
      "argon meadow spiral tundra quartz ember falcon ridge"
    val lead7 = "walnut cobalt prairie lantern mosaic thunder saffron glacier " +
      "pixel orchard nimbus carousel basalt echo juniper harvest"
    Files.writeString(landing.resolve("batch0.jsonl"), Seq(
      jsonl(1L, keepable),
      jsonl(2L, keepable), // exact dup of 1 — the batch dedup pass keeps one
      jsonl(3L, s"intro words $benchText outro"), // benchmark leak — decon gate drops it
      jsonl(4L, "contact me at Spam.Bot@Example.COM " + keepable), // PII — scrubbed, then kept
      // boilerplate carriers: 16 unique lead tokens + the 8-token
      // footer aligned on a span boundary — the scrub cuts the footer
      // span, the unique lead survives the quality gate
      jsonl(6L, s"$lead6 $footer"),
      jsonl(7L, s"$lead7 $footer"),
      """{"doc_id": 5, "text": "torn""" // corrupt — quarantined
    ).mkString("\n"))

    val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val q = CorpusIngest.streamJsonl(spark, landing.toString)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // persist once: the write and the audit counts must not re-run
        // the parse/scrub/decon/quality chain per action
        batch.persist()
        val (good, quarantine) = CorpusIngest.split(batch)
        quarantine.write.mode("overwrite").parquet(s"$out/quarantine/ingest=$batchId")
        val kept = StreamingCorpusOps.qualityGate(
          StreamingCorpusOps.spanScrub(
            StreamingCorpusOps.deconGate(
              StreamingCorpusOps.piiScrub(good), benchGrams, 8),
            blockedSpans, size = 8)).persist()
        kept.write.mode("overwrite").parquet(s"$out/corpus/ingest=$batchId")
        counts.merge("quarantined", quarantine.count(), Long.box(_) + Long.box(_))
        counts.merge("ingested", good.count(), Long.box(_) + Long.box(_))
        counts.merge("kept", kept.count(), Long.box(_) + Long.box(_))
        counts.merge("spans_cut",
          kept.agg(coalesce(sum(col("spans_cut")), lit(0L))).head().getLong(0),
          Long.box(_) + Long.box(_))
        kept.unpersist(); batch.unpersist()
        ()
      }
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(120000))
      throw new IllegalStateException(
        "CorpusDemo: landing-zone ingest did not finish within 120 s — " +
        "refusing to summarize a partial corpus")

    // Batch pass over the landed corpus: exact dedup by content hash,
    // then MinHash-LSH near-dup CLUSTERS via the shared banding
    // definition + connected components — the same machinery as
    // dedup_minhash/dedup_clusters, over the freshly built corpus.
    val corpus = spark.read.parquet(s"$out/corpus")
    val distinctDocs = corpus.groupBy(md5(col("text"))).agg(min("doc_id").as("keep_id"))
    val pairs = graft.operators.TextOps.minhashCandidatePairs(corpus)
    val clusters = graft.operators.Clustering.connectedComponents(spark, pairs)
      .select(col("label")).distinct().count()
    val scrubOk = corpus.filter(col("text").contains("<EMAIL>")).count()

    // Final materialization: the deduped keepers are chunked into
    // retrieval windows and the CHUNKS are what lands in the
    // deterministic training shards (operators.Export) — shard rows
    // are dataloader input, not whole documents. Each chunk gets a
    // COMPOSITE id `<src_doc>#<chunk_idx>` so the hash shuffle has a
    // unique key regardless of how many windows a document yields (an
    // arithmetic scheme like src*1000+idx silently collides once a doc
    // exceeds the multiplier): shard membership and in-shard order stay
    // deterministic, and a doc's windows spread across shards (the
    // decorrelation a training shuffle wants). Keeper = min doc_id per
    // content hash.
    val keepers = corpus.join(
      distinctDocs.select(col("keep_id").as("doc_id")), Seq("doc_id"), "semi")
    val chunks = keepers.select(col("doc_id").as("src_doc"),
        posexplode(graft.functions.TextExpressions.word_chunks(col("text"), 8, 6))
          .as(Seq("chunk_idx", "text")))
      .select(concat(col("src_doc"), lit("#"), col("chunk_idx")).as("doc_id"),
        col("src_doc"), col("text"))
      .persist()
    val nChunks = chunks.count()
    graft.operators.Export.writeShards(chunks, s"$out/shards", 4)
    val shardChunks = spark.read.parquet(s"$out/shards").count()
    chunks.unpersist()

    // Multimodal stage: the corpus docs carry image assets, and the
    // same perceptual near-dup gate the batch queries run
    // (dedup_image_phash) streams here through the landing-zone shape:
    // binaryFile source -> real PNG decode -> dHash bands ->
    // cross-batch bucket state (StreamingCorpusOps.phashCandidates).
    // Docs 6 and 7 re-host the same hero image with a one-pixel
    // watermark (the re-encoded-asset case); doc 1's image is
    // unrelated — exactly one candidate pair must surface.
    val assetsDir = Files.createTempDirectory("corpus_assets")
    val heroBase = "00112233445566778899aabbccddeeff"
    val otherBase = "fedcba98765432100123456789abcdef"
    def writeAsset(id: Long, bytes: Array[Byte]): Unit = {
      Files.write(assetsDir.resolve(s"$id.png"), bytes)
      ()
    }
    writeAsset(6L, graft.operators.Multimodal.syntheticFamilyPng(heroBase, "aa0"))
    writeAsset(7L, graft.operators.Multimodal.syntheticFamilyPng(heroBase, "3f1"))
    writeAsset(1L, graft.operators.Multimodal.syntheticFamilyPng(otherBase, "c2b"))
    val aq = StreamingCorpusOps.phashCandidates(
        spark.readStream.format("binaryFile")
          .schema(graft.sources.WarcIngest.BinaryFileSchema)
          .load(assetsDir.toString)
          .select(regexp_extract(col("path"), "(\\d+)\\.png$", 1)
            .cast("long").as("doc_id"), col("content").as("payload")))
      .writeStream.format("memory").queryName("demo_phash")
      .option("checkpointLocation", s"$out/ckpt_phash")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    if (!aq.awaitTermination(120000))
      throw new IllegalStateException(
        "CorpusDemo: asset fingerprint stream did not finish within 120 s")
    val phashPairs = spark.sql("SELECT DISTINCT a_id, b_id FROM demo_phash").count()

    println(s"CORPUS_DEMO ingested=${counts.get("ingested")} " +
      s"quarantined=${counts.get("quarantined")} kept=${counts.get("kept")} " +
      s"spans_cut=${counts.get("spans_cut")} " +
      s"distinct=${distinctDocs.count()} neardup_clusters=$clusters scrubbed=$scrubOk " +
      s"chunks=$nChunks shard_chunks=$shardChunks phash_pairs=$phashPairs")
    spark.stop()
  }
}
