package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training-data export: a deterministic GLOBAL shuffle of the corpus
  * into fixed shards — the final step of corpus construction, where
  * training dataloaders want (a) documents in pseudo-random order so
  * consecutive batches decorrelate, (b) a bounded, known shard count
  * so workers can range-assign files, and (c) bit-reproducible output
  * so a re-export after a pipeline fix produces byte-comparable
  * shards.
  *
  * Spark shape: both the shard assignment and the within-shard order
  * come from the portable 32-bit md5 hash ([[TextOps.portableHash32]])
  * — pure map-side, seedable by construction (the `ord|` domain prefix
  * keeps the ordering hash independent of the sharding hash, so shard
  * membership and in-shard position are uncorrelated). No global sort
  * anywhere: the only wide operation is one hash partition exchange on
  * `shard`, and each shard sorts locally. At 100 TB with ~10k shards
  * each partition is a few GB — the sort is an in-memory,
  * per-executor affair, and adding machines scales it linearly.
  */
object Export {

  /** Annotate `docs` with its shard assignment and shuffle rank:
    * `shard` = hash(doc_id) mod `nShards`, `shuffle_rank` = an
    * independent hash that defines the pseudo-random within-shard
    * order. Pure map-side projection (the audit/stats queries consume
    * this directly without paying any shuffle).
    */
  def shuffledShards(docs: DataFrame, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    docs
      .withColumn("shard",
        pmod(TextOps.portableHash32(col("doc_id")), lit(nShards)).cast("int"))
      .withColumn("shuffle_rank",
        TextOps.portableHash32(concat(lit("ord|"), col("doc_id").cast("string"))))
  }

  /** Write the shuffled shards as parquet partitioned by `shard`: one
    * directory per shard, rows inside each file in shuffle-rank order.
    * `repartition(col("shard"))` routes every row of a shard to the
    * same task, so each shard directory holds exactly one file — the
    * property dataloaders rely on for file-level work assignment.
    * Deterministic end to end: same input → same shard membership,
    * same in-file row order (ranks tie-break by doc_id).
    */
  def writeShards(docs: DataFrame, path: String, nShards: Int): Unit =
    shuffledShards(docs, nShards)
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("shuffle_rank"), col("doc_id"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** One USTAR (POSIX tar) header block + content + 512-padding for a
    * single entry — every byte deterministic (mode 0644, uid/gid 0,
    * mtime 0, empty uname/gname), so a re-export is BIT-identical and
    * shard files can be content-hashed for cache keys. Checksum per
    * the spec: header summed with the checksum field as spaces, then
    * six octal digits + NUL + space.
    */
  private[graft] def tarEntry(name: String, data: Array[Byte]): Array[Byte] = {
    val nameB = name.getBytes("UTF-8")
    // strictly < 100 so the name field always keeps its NUL terminator —
    // a 100-byte name would read back bleeding into the mode field
    require(nameB.length < 100, s"tar entry name too long: $name")
    val h = new Array[Byte](512)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes("UTF-8"); System.arraycopy(b, 0, h, off, b.length)
    }
    System.arraycopy(nameB, 0, h, 0, nameB.length)
    put(100, "0000644\u0000")                       // mode
    put(108, "0000000\u0000")                       // uid
    put(116, "0000000\u0000")                       // gid
    put(124, f"${data.length}%011o" + "\u0000")     // size
    put(136, "00000000000\u0000")                   // mtime = 0
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)  // checksum spaces
    h(156) = '0'                                    // typeflag: regular file
    put(257, "ustar\u000000")                       // magic + version
    val sum = h.foldLeft(0)((a, b) => a + (b & 0xff))
    put(148, f"$sum%06o" + "\u0000 ")
    val padded = (data.length + 511) / 512 * 512
    val out = new Array[Byte](512 + padded)
    System.arraycopy(h, 0, out, 0, 512)
    System.arraycopy(data, 0, out, 512, data.length)
    out
  }

  /** WebDataset-style tar shard export: ONE `shard-NNNNN.tar` per
    * shard, entries named `<doc_id>.txt` in shuffle-rank order — the
    * layout tar-streaming dataloaders (WebDataset et al.) consume by
    * assigning whole tar files to workers and reading them
    * sequentially. Same shard membership and within-shard order as
    * [[writeShards]] (one `shuffledShards` definition); rows of a
    * shard are contiguous after the repartition+sort, so each task
    * streams its shards' entries straight into Hadoop-FS tar files —
    * no per-entry small files, no driver involvement, and the bytes
    * are fully deterministic (see [[tarEntry]]) down to the trailing
    * 1024-zero terminator. NULL `text` is written as an EMPTY payload
    * (tar has no null encoding), so a write/read round trip coerces
    * null → "" — by contract, and covered by ExportSpec.
    */
  def writeTarShards(docs: DataFrame, path: String, nShards: Int): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      docs.sparkSession.sparkContext.hadoopConfiguration)
    val rows = shuffledShards(docs, nShards)
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("shuffle_rank"), col("doc_id"))
      .select(col("shard"), col("doc_id"), col("text"))
    rows.queryExecution.toRdd.foreachPartition { it =>
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(conf.value)
      fs.mkdirs(new org.apache.hadoop.fs.Path(path))
      var cur = -1
      var out: java.io.OutputStream = null
      def close(): Unit = if (out != null) {
        out.write(new Array[Byte](1024)) // tar end-of-archive
        out.close(); out = null
      }
      it.foreach { r =>
        val shard = r.getInt(0)
        if (shard != cur) {
          close(); cur = shard
          out = fs.create(new org.apache.hadoop.fs.Path(
            path, f"shard-$shard%05d.tar"), true)
        }
        val id = r.getLong(1)
        val text = r.getUTF8String(2)
        out.write(tarEntry(s"$id.txt",
          if (text == null) Array.emptyByteArray else text.getBytes))
      }
      close()
    }
  }

  /** Parse one USTAR archive into (entry name, content bytes) pairs,
    * verifying every header checksum — a torn or corrupted shard
    * fails loudly instead of yielding silently-truncated documents.
    * Accepts any spec-conforming producer (names NUL-terminated, size
    * in octal, archive ends at the first zero block).
    */
  def readTarEntries(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    var off = 0
    while (off + 512 <= bytes.length && bytes(off) != 0) {
      val h = java.util.Arrays.copyOfRange(bytes, off, off + 512)
      require(new String(h, 257, 5, "UTF-8") == "ustar", s"bad tar magic at offset $off")
      val stored = new String(h, 148, 8, "UTF-8").takeWhile(c => c >= '0' && c <= '7')
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      val sum = h.foldLeft(0)((a, b) => a + (b & 0xff))
      require(Integer.parseInt(stored, 8) == sum, s"tar checksum mismatch at offset $off")
      val name = new String(h.take(100).takeWhile(_ != 0), "UTF-8")
      val size = Integer.parseInt(
        new String(h, 124, 12, "UTF-8").trim.takeWhile(_ != 0), 8)
      // the header checksum only covers the header — without this bound a
      // tar truncated mid-payload would zero-pad the content silently
      require(off + 512 + size <= bytes.length,
        s"truncated tar entry at offset $off: need ${size} content bytes, " +
          s"archive has ${bytes.length - off - 512}")
      out += name -> java.util.Arrays.copyOfRange(bytes, off + 512, off + 512 + size)
      off += 512 + (size + 511) / 512 * 512
    }
    out.toSeq
  }

  /** Read a [[writeTarShards]] export back into (shard, doc_id, text)
    * rows — the engine-side consumer of its own dataloader format (and
    * of any conforming WebDataset-style tar corpus): `binaryFile` scan
    * (one task per shard file — the dataloader's own work-assignment
    * granularity), tar walk + checksum verify per entry, doc_id
    * recovered from the `<id>.txt` entry name. Row order within a
    * shard is the archive's entry order (= shuffle-rank order for our
    * own exports).
    */
  def readTarShards(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(s"$path/*.tar")
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val shard = p.split("/").last.stripPrefix("shard-").stripSuffix(".tar").toInt
        readTarEntries(bytes).map { case (name, data) =>
          (shard, name.stripSuffix(".txt").toLong, new String(data, "UTF-8"))
        }
      }
      .toDF("shard", "doc_id", "text")
  }

  /** Streaming shard maintenance: arriving documents are assigned to
    * their (stable, hash-determined) shard and land under
    * `ingest=<batchId>/shard=N`, so a continuously-ingesting corpus
    * keeps the batch export's shard semantics — a reader of the root
    * path sees (ingest, shard) partition columns, and a
    * `shard = N` filter partition-prunes to that shard's files across
    * every ingest layer. Each micro-batch owns a deterministic
    * `ingest=<token>-<batchId>` layer written with overwrite
    * (foreachBatch is at-least-once: a replayed batch rewrites its own
    * files instead of appending duplicates, and the
    * [[Similarity.ingestToken]] checkpoint key keeps independent
    * append sessions from clobbering each other's batch-0 layers).
    * Small-file debt from many micro-batches is
    * `operators.Compaction`'s job.
    */
  def appendShards(stream: DataFrame, path: String, nShards: Int,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    Similarity.appendLayers(stream, checkpoint) { (batch, tag) =>
      shuffledShards(batch, nShards)
        .repartition(col("shard"))
        .sortWithinPartitions(col("shard"), col("shuffle_rank"), col("doc_id"))
        .write.mode("overwrite").partitionBy("shard")
        .parquet(s"$path/ingest=$tag")
    }

  /** Streaming maintenance of the ORDERED export: boundaries are
    * FROZEN at stream start (an online stream cannot re-derive exact
    * global quantiles per batch without reprocessing history — the
    * standard frozen-boundary contract of streaming range partitioning;
    * re-cut with a batch [[writeOrderedShards]] when drift matters) and
    * ride to every batch as plain literals; each micro-batch buckets
    * its arrivals map-side and lands under
    * `ingest=<token>-<batchId>/shard=N` with the same replay-safe
    * keyed-overwrite convention as [[appendShards]]. Within every
    * ingest layer, shard key-ranges obey the same non-interleaving
    * guarantee as the batch export.
    */
  def appendOrderedShards(stream: DataFrame, cuts: Array[Long], path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    Similarity.appendLayers(stream, checkpoint) { (batch, tag) =>
      batch
        .withColumn("ord_key",
          TextOps.subwordCount(TextOps.tokens(col("text"))).cast("long"))
        .withColumn("shard", bucketOf(col("ord_key"), cuts).cast("int"))
        .repartition(col("shard"))
        .sortWithinPartitions(col("shard"), col("ord_key"), col("doc_id"))
        .write.mode("overwrite").partitionBy("shard")
        .parquet(s"$path/ingest=$tag")
    }

  /** GLOBALLY ORDERED shard assignment — the range-partitioned twin of
    * [[shuffledShards]], for exports that must keep a global order
    * (curriculum schedules: short documents before long ones; or
    * time-ordered corpora). `repartitionByRange` would do this but its
    * boundaries come from run-dependent SAMPLING — not reproducible,
    * which breaks the export family's bit-reproducibility contract —
    * so the boundaries come from the q29b quantized-CDF machinery
    * instead: one aggregate over the DISTINCT key domain (bounded by
    * the value range, not the corpus), `nShards - 1` exact equi-depth
    * cuts collected to the driver (bounded: one long per cut), and a
    * broadcast-free map-side bucket expression. Equal keys always land
    * in the same shard, so shard key-ranges never interleave:
    * max(key) of shard j <= min(key) of shard j+1.
    *
    * Output: `docs` + `ord_key` (the subword-token count — the
    * curriculum key) + `shard` (0-based).
    */
  def orderedShards(docs: DataFrame, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val keyed = docs.withColumn("ord_key",
      TextOps.subwordCount(TextOps.tokens(col("text"))).cast("long"))
    // The cuts derivation is a SEPARATE, column-pruned pass (it reads
    // only what the key needs), then the main pass re-derives the key
    // — deliberately two passes, like repartitionByRange's sampling
    // pass but exact: materializing the full keyed corpus to save the
    // second key computation would checkpoint EVERY column (text
    // included), which is the worse trade at any scale.
    val cuts = equiDepthCuts(keyed.select(col("ord_key")), "ord_key", nShards)
    keyed.withColumn("shard", bucketOf(col("ord_key"), cuts).cast("int"))
  }

  /** Exact equi-depth cut points of an integer key column — the
    * deterministic replacement for sampling-based range boundaries
    * (q29b's quantized-CDF recipe, factored out): one aggregate over
    * the DISTINCT key domain (bounded by the value range, not the
    * corpus), a cumulative window over that domain, and `nBuckets - 1`
    * cuts collected to the driver (bounded: one long each). Cut i =
    * least key whose cumulative count reaches ceil(i * n / nBuckets).
    */
  def equiDepthCuts(df: DataFrame, keyCol: String, nBuckets: Int): Array[Long] = {
    val cuts = equiDepthCutsFrame(df, keyCol, nBuckets)
      .orderBy(col("i")).collect().map(_.getLong(1))
    // An empty input yields zero cuts, which bucketOf would silently
    // map to "everything in bucket 0" — fail loudly instead so an
    // empty corpus can't masquerade as a single-shard export.
    require(cuts.length == nBuckets - 1,
      s"equiDepthCuts: expected ${nBuckets - 1} cuts, got ${cuts.length}" +
        " (empty or degenerate input frame)")
    cuts
  }

  /** [[equiDepthCuts]] as a FRAME — `nBuckets - 1` rows of (i, b) —
    * so a consumer can broadcast-join the boundaries and stay on the
    * cluster instead of paying a driver collect + a serialized job
    * (the `sample_perplexity_buckets` path). Same quantized-CDF
    * arithmetic; the collect variant delegates here.
    */
  def equiDepthCutsFrame(df: DataFrame, keyCol: String, nBuckets: Int,
      nHint: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the aggregate's output is DOMAIN-bounded (one row per distinct
    // key value, never corpus-sized); coalesce(1) ahead of the global
    // cumulative window satisfies its single-partition requirement
    // without an Exchange stage, and the downstream target join +
    // per-i aggregate then stay exchange-free too
    val cdf = df.groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
      .coalesce(1)
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col(keyCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // `nHint` (e.g. a parquet footer count the caller already knows):
    // target ranks become literals, skipping the total aggregate +
    // its broadcast — the ivfTopK/saveIndex nHint convention
    val targets = nHint match {
      case Some(n) =>
        df.sparkSession.range(1, nBuckets.toLong).toDF("i")
          .select(col("i"), expr(s"(i * ${n}L + ${nBuckets - 1}) div $nBuckets").as("t"))
      case None =>
        val total = cdf.agg(sum(col("c")).as("n"))
        df.sparkSession.range(1, nBuckets.toLong).toDF("i")
          .crossJoin(broadcast(total))
          .select(col("i"), expr(s"(i * n + ${nBuckets - 1}) div $nBuckets").as("t"))
    }
    broadcast(targets)
      .join(cdf, cdf("cum") >= col("t"))
      .groupBy(col("i")).agg(min(col(keyCol)).as("b"))
  }

  /** Weighted twin of [[equiDepthCuts]]: boundaries that split the
    * TOTAL WEIGHT (not the row count) into `nBuckets` near-equal
    * slabs — e.g. token-balanced curriculum phases where each doc
    * weighs its token count. Same shape: one per-key aggregate, a
    * key-ordered running sum over the (distinct-key-sized, not
    * corpus-sized) CDF frame, a broadcast target probe, and a bounded
    * nBuckets-1 collect. Equal keys always land in one bucket (cuts
    * are key values, [[bucketOf]] counts cuts strictly below), so
    * buckets are exactly equal only up to key granularity.
    */
  def weightedEquiDepthCuts(df: DataFrame, keyCol: String, weightCol: String,
      nBuckets: Int): Array[Long] = {
    import org.apache.spark.sql.expressions.Window
    val cdf = df.groupBy(col(keyCol)).agg(sum(col(weightCol)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col(keyCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val total = cdf.agg(sum(col("c")).as("n"))
    val targets = df.sparkSession.range(1, nBuckets.toLong).toDF("i")
      .crossJoin(broadcast(total))
      .select(col("i"), expr(s"(i * n + ${nBuckets - 1}) div $nBuckets").as("t"))
    val cuts = broadcast(targets)
      .join(cdf, cdf("cum") >= col("t"))
      .groupBy(col("i")).agg(min(col(keyCol)).as("b"))
      .orderBy(col("i")).collect().map(_.getLong(1))
    require(cuts.length == nBuckets - 1,
      s"weightedEquiDepthCuts: expected ${nBuckets - 1} cuts, got ${cuts.length}" +
        " (empty or degenerate input frame)")
    cuts
  }

  /** 0-based bucket of `key` under `cuts`: the count of cuts strictly
    * below it, so equal keys always share a bucket (ranges can touch
    * but never interleave).
    */
  def bucketOf(key: org.apache.spark.sql.Column, cuts: Array[Long]): org.apache.spark.sql.Column =
    cuts.foldLeft(lit(0L)) { (acc, b) =>
      acc + when(key > lit(b), lit(1L)).otherwise(lit(0L))
    }

  /** Write [[orderedShards]] as parquet partitioned by `shard`, rows
    * inside each shard file sorted by (ord_key, doc_id) — so reading
    * shard 0, 1, 2, ... in file order replays the corpus in GLOBAL
    * key order. Same one-exchange shape as [[writeShards]].
    */
  def writeOrderedShards(docs: DataFrame, path: String, nShards: Int): Unit =
    orderedShards(docs, nShards)
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("ord_key"), col("doc_id"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
}
