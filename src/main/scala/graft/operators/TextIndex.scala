package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index for the retrieval family — the text twin
  * of [[Similarity.saveIndex]]/[[Similarity.probeIndex]]: posting rows
  * land in parquet PARTITIONED BY TERM BUCKET, so a bounded query
  * probes only its terms' bucket directories (partition pruning at the
  * file listing — asserted in ScalePostureSpec) and the pushed
  * `term IN (...)` filter cuts the survivors inside each bucket. At
  * 100 TB this is how posting lists actually serve: a query touches a
  * few directories of a term-sharded store, never the corpus and never
  * even the whole index.
  *
  * Bucket key = `xxhash64(term) mod NumBuckets` — computed by Spark's
  * own hash at WRITE time and replayed DRIVER-side at probe time via
  * the same catalyst `XxHash64Function` (seed 42, the SQL `xxhash64`
  * seed), so probe-set resolution costs zero jobs. 64 buckets keeps
  * per-directory file counts sane at test scale; a production store
  * sizes buckets to its vocabulary (the cell-count analog of the IVF
  * index).
  *
  * SEGMENTS (the Lucene convention): each writer owns an
  * `ingest=<writer>` layer above the buckets — the base build writes
  * `ingest=base`, each streaming micro-batch
  * `ingest=<token>-<batchId>` (replay-safe keyed overwrite, the
  * [[Similarity.ingestToken]] convention). Posting rows carry the PER-SEGMENT df; because every
  * doc lives in exactly one segment, the global df of a term is the
  * SUM of its per-segment dfs — recoverable at probe time from the
  * matched rows alone (a term's postings all land in its bucket), so
  * df never goes stale the way a denormalized global value would.
  * Single-segment probes can use the stored df directly.
  */
object TextIndex {
  val NumBuckets = 64

  /** Spark's xxhash64(term) % NumBuckets, on the driver. Negative
    * hashes follow SQL `pmod` semantics (result in [0, NumBuckets)).
    */
  def bucketOf(term: String): Long = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(term),
      org.apache.spark.sql.types.StringType, 42L)
    val m = h % NumBuckets
    if (m < 0) m + NumBuckets else m
  }

  /** The posting rows of a document frame: (doc_id, term, tf, df, dl)
    * — ONE native `term_count_structs` counting pass per doc, dl
    * folded off the struct array before the explode, df (document
    * frequency WITHIN `docs`) denormalized onto every row via a
    * vocabulary-sized broadcast. This is the one definition behind
    * the memoized posting store, the base index build, and each
    * streaming segment.
    */
  def postingsOf(docs: DataFrame): DataFrame = {
    // localCheckpoint keeps this a SINGLE tokenizer pass: the df
    // aggregate and the join probe side both consume `posts`, and
    // without materialization each would re-run the explode.
    val posts = docs.select(col("doc_id"),
        graft.functions.TextExpressions.term_count_structs(col("text"))
          .as("tcs"))
      .select(col("doc_id"),
        expr("aggregate(tcs, CAST(0 AS BIGINT), (a, x) -> a + x.tf)").as("dl"),
        explode(col("tcs")).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"),
        col("dl"))
      .localCheckpoint()
    val dfFrame = posts.groupBy(col("term")).agg(count(lit(1)).as("df"))
    posts.join(broadcast(dfFrame), Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("dl"))
  }

  /** Persist a posting frame bucketed by term hash as the `base`
    * segment. One shuffle-free pass over the postings: the bucket is
    * a map-side projection and partitionBy splits the write.
    */
  def save(postings: DataFrame, dir: String): Unit =
    postings
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(NumBuckets.toLong)))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$dir/postings/ingest=base")

  /** Read ONLY the probed terms' buckets (across all segments), then
    * the exact term filter. The `bucket IN (...)` predicate is a
    * partition filter (directory listing prunes to the probe set);
    * `term IN (...)` pushes into the surviving parquet scans. With
    * `refreshDf`, the stored per-segment df is replaced by the exact
    * global df (sum over the term's matched rows' segments — each doc
    * lives in one segment, so per-segment dfs sum to the global
    * value); single-segment readers can skip it and use the stored df.
    */
  def probe(spark: SparkSession, dir: String, terms: Seq[String],
      refreshDf: Boolean = false): DataFrame = {
    val buckets = terms.map(bucketOf).distinct
    val matched = spark.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
    val out =
      if (refreshDf) {
        // every (term, segment) pair repeats one df value; the distinct
        // set is segments x probed-terms sized, so it broadcasts back
        // over the matched postings
        val seg = matched.select(col("term"), col("ingest"), col("df"))
          .distinct()
          .groupBy(col("term")).agg(sum(col("df")).as("df_global"))
        matched.drop("df")
          .join(broadcast(seg), Seq("term"))
          .withColumnRenamed("df_global", "df")
          .select(col("doc_id"), col("term"), col("tf"), col("df"), col("dl"),
            col("bucket"), col("ingest"))
      } else matched
    out.drop("bucket", "ingest")
  }

  /** Streaming index maintenance: each micro-batch of documents lands
    * as its own `ingest=<token>-<batchId>` segment (replay-safe keyed
    * overwrite — the [[Similarity.ingestToken]] convention), bucketed like the
    * base build, with per-segment df. New documents become probe-able
    * as they land; df stays exact under the sum-over-segments
    * contract above. Segment compaction when small-files debt
    * accumulates is a periodic batch rewrite (operators.Compaction).
    */
  /** Segment compaction — the maintenance op the append path defers
    * to (the [[Similarity.retrainIndex]] analog for text): merge every
    * ingest segment back into ONE `ingest=base` layer with the exact
    * GLOBAL df denormalized (recomputed from the posting rows — each
    * doc lives in one segment, so row-derived df IS the global value),
    * clearing both the small-files debt and the per-segment-df
    * staleness for stored-df readers. Swap follows the Compaction
    * crash-ordering: stage verified before anything moves, live dir
    * backed up until the swapped-in index proves readable; a crashed
    * swap heals on the next open via `Compaction.recover`. Returns the
    * posting row count.
    */
  def compactIndex(spark: SparkSession, dir: String): Long = {
    Compaction.recover(spark, dir) // heal a crashed earlier swap first
    val posts = spark.read.parquet(s"$dir/postings")
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
      .localCheckpoint()
    val n = posts.count()
    val dfFrame = posts.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stage = s"${dir}__retraining"
    posts.join(broadcast(dfFrame), Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("dl"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(NumBuckets.toLong)))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$stage/postings/ingest=base")
    require(spark.read.parquet(s"$stage/postings").count() == n,
      s"compacted index row count mismatch for $dir — aborting, live index untouched")
    Compaction.swapStaged(spark, dir, stage)(
      spark.read.parquet(s"$dir/postings").count() == n)
    n
  }

  def appendToIndex(spark: SparkSession, stream: DataFrame, dir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val token = Similarity.ingestToken(checkpoint)
    stream.writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        postingsOf(b)
          .withColumn("bucket",
            pmod(xxhash64(col("term")), lit(NumBuckets.toLong)))
          .write.partitionBy("bucket").mode("overwrite")
          .parquet(s"$dir/postings/ingest=$token-$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }
}
