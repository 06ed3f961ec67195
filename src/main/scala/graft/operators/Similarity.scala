package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.VectorAgg

/** IVF index construction: Lloyd's k-means over the embedding corpus.
  *
  * Spark-idiomatic iterative refinement (the MLlib KMeans shape):
  * per iteration ONE distributed job — broadcast-centroid map-side
  * argmin assignment feeding the fused MeanVectorWithCost Aggregator
  * (map-side combined), which yields every cell's re-centered mean AND
  * the iteration's total cost in the same shuffle. Only the k x dim
  * centroid matrix ever reaches the driver — collecting it is
  * O(k*dim), independent of corpus size, which is what makes the loop
  * legal at 100 TB.
  *
  * The resulting `cells` assignment is the coarse quantizer used by
  * `sim_ivf_topk` / `dedup_embedding` (there seeded with fixed vectors
  * so the DuckDB oracle can replay it; this trainer is the production
  * path where centroids are learned, not seeded).
  */
object Similarity {

  case class TrainedIndex(centroids: Array[Array[Double]], cost: Double)

  /** Squared-L2 assign + mean re-center, `iters` rounds. Deterministic:
    * initial centroids are the first k vectors by vec_id; ties in
    * assignment break toward the lower centroid id.
    */
  def trainIvf(spark: SparkSession, emb: DataFrame, k: Int, iters: Int,
      dim: Int = 64): TrainedIndex = {
    import spark.implicits._
    val vecs = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .as[(Long, Array[Double])].cache()

    var centroids: Array[Array[Double]] =
      vecs.orderBy("vec_id").take(k).map(_._2)
    var cost = Double.MaxValue

    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val assigned = vecs.map { case (_, v) =>
        val cs = bc.value
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          var d = 0.0; var i = 0
          val cv = cs(c)
          while (i < v.length) { val t = v(i) - cv(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        (best, (v, bestD))
      }
      // ONE action per iteration: the fused aggregator produces each
      // cell's (mean vector, summed d2) in a single map-side-combined
      // shuffle, so the iteration no longer needs its own cache or a
      // separate cost job. Only k rows reach the driver.
      val mvc = new VectorAgg.MeanVectorWithCost(dim)
      val next = assigned.groupByKey(_._1).mapValues(_._2)
        .agg(mvc.toColumn.name("mc"))
        .collect()
      cost = next.map(_._2._2).sum
      val byCell = next.map { case (c, (m, _)) => c -> m }.toMap
      centroids = (0 until k).map(c => byCell.getOrElse(c, centroids(c))).toArray
    }
    vecs.unpersist()
    TrainedIndex(centroids, cost)
  }

  /** Learned centroids as a broadcastable (cid, cv) dim table — the
    * k x dim matrix re-enters the cluster exactly once, as a broadcast.
    */
  def centroidDf(spark: SparkSession, centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (cv, i) => (i, cv) }.toSeq.toDF("cid", "cv")
  }

  /** Assign every vector to its nearest centroid by squared L2 (the
    * trainer's metric; ties break toward the lower cid). One broadcast
    * cross join + one map-side min_by aggregate — no shuffle of the
    * corpus beyond the per-vec_id agg.
    */
  def assignCells(emb: DataFrame, cents: DataFrame): DataFrame = {
    val v = VectorOps.toDouble(col("embedding"))
    // norms hoisted to one per vector / one per centroid: the O(n*k)
    // distance stage pays one dot product per pair, not three
    emb.select(col("vec_id"), v.as("v"))
      .withColumn("nv", VectorOps.norm2(col("v")))
      .crossJoin(broadcast(cents.withColumn("ncv", VectorOps.norm2(col("cv")))))
      .withColumn("d2",
        col("nv") + col("ncv") - lit(2.0) * VectorOps.dot(col("v"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cell"),
        first(col("v")).as("v"), first(col("nv")).as("nv"))
  }

  /** Corpus-scaled cell count: k ~ sqrt(n) keeps both the broadcast
    * matrix (k x dim) and the expected cell population (n / k = sqrt(n))
    * sub-linear — the standard IVF sizing rule.
    */
  def defaultK(n: Long): Int = math.max(8, math.sqrt(n.toDouble).toInt)

  /** Index sizing WITHOUT a corpus scan whenever the caller can say how
    * big the corpus is: an explicit `kCells` wins, then a row-count
    * hint (e.g. `Tables.parquetRowCount` — parquet footers already
    * carry the exact count, so no COUNT job is ever needed for a
    * parquet-backed corpus). The `emb.count()` fallback remains only
    * for ad-hoc in-memory frames where no metadata exists.
    */
  private def sizeK(kCells: Int, nHint: Long, emb: DataFrame): Int =
    if (kCells > 0) kCells
    else defaultK(if (nHint > 0) nHint else emb.count())

  // Shared probe machinery — ONE implementation of centroid-distance,
  // probe-set selection, and query scoring, used by both the in-memory
  // and persisted-index paths so they cannot drift (SimilaritySpec
  // asserts their exact equivalence).
  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** The `probes` centroid ids nearest to `qv` (ties toward lower id). */
  def nearestCells(cents: Seq[(Int, Array[Double])], qv: Array[Double],
      probes: Int): Seq[Int] =
    cents.map { case (cid, cv) => (l2(qv, cv), cid) }.sorted.take(probes).map(_._2)

  /** Cosine top-k of `qv` against (vec_id, v, nv) candidate rows. */
  def scoreTopK(candidates: DataFrame, qv: Array[Double], topK: Int): DataFrame = {
    val nq = qv.map(x => x * x).sum
    candidates.select(col("vec_id"),
        round(VectorOps.dot(typedLit(qv), col("v")) /
          sqrt(lit(nq) * col("nv")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(topK)
  }

  /** Production ANN path: LEARNED coarse quantizer (k ~ sqrt(n) k-means
    * cells, vs the fixed 8 seed vectors of the oracle twin
    * `sim_ivf_topk`) + multi-probe. The query vector scores all k
    * centroids (driver-free: centroids are a broadcast dim), probes the
    * `probes` nearest cells, and brute-forces only those cells —
    * expected candidates probes * sqrt(n) instead of n / 8.
    */
  def ivfTopK(spark: SparkSession, emb: DataFrame, queryVecId: Long,
      topK: Int, probes: Int = 2, kCells: Int = 0, iters: Int = 3,
      nHint: Long = 0L): DataFrame = {
    import spark.implicits._
    val k = sizeK(kCells, nHint, emb)
    val idx = trainIvf(spark, emb, k, iters)
    val cents = centroidDf(spark, idx.centroids)
    // Query vector and probe set resolve DRIVER-side from data already
    // in hand (one O(dim) row fetch + the local k x dim matrix): the
    // corpus-wide cell assignment is then consumed exactly once, so no
    // cache is needed — an earlier version cached it and leaked the
    // InMemoryRelation (nothing ever unpersisted it).
    val qv: Array[Double] = emb.filter(col("vec_id") === queryVecId)
      .select(VectorOps.toDouble(col("embedding"))).as[Array[Double]].head()
    val probeCells = nearestCells(
      idx.centroids.zipWithIndex.map { case (cv, cid) => (cid, cv) }.toSeq, qv, probes)
    scoreTopK(
      assignCells(emb, cents)
        .filter(col("cell").isin(probeCells.toIndexedSeq: _*) &&
          col("vec_id") =!= queryVecId),
      qv, topK)
  }

  /** Persist a trained IVF index PARTITIONED BY CELL: probes then read
    * only their cells' directories — partition pruning at the file
    * source, which is the "read one partition per probe" scale story
    * the in-memory path can only simulate. Layout:
    * `dir/cells/ingest=<writer>/cell=N/...parquet` (vec_id, v, nv) +
    * `dir/centroids` — the ingest level gives every writer (base build,
    * each streaming micro-batch) a deterministic replay-safe directory.
    * Returns k (the cell count).
    */
  def saveIndex(spark: SparkSession, emb: DataFrame, dir: String,
      kCells: Int = 0, iters: Int = 3, nHint: Long = 0L): Int = {
    val k = sizeK(kCells, nHint, emb)
    val idx = trainIvf(spark, emb, k, iters)
    val cents = centroidDf(spark, idx.centroids)
    // ingest=base alongside the streaming appends' ingest=<batchId>
    // (see appendToIndex): every writer owns a deterministic directory,
    // so replays overwrite instead of duplicating.
    assignCells(emb, cents)
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$dir/cells/ingest=base")
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    k
  }

  /** Probe a persisted index: centroids load driver-side (k x dim), the
    * probe set resolves locally, and the cells scan carries a
    * partition filter — Spark lists/reads ONLY the probed cell
    * directories (asserted via the scan's partitionFilters in
    * SimilaritySpec).
    */
  def probeIndex(spark: SparkSession, dir: String, qv: Array[Double],
      topK: Int, probes: Int = 2): DataFrame = {
    val probeCells = probedCells(spark, dir, qv, probes)
    scoreTopK(
      spark.read.parquet(s"$dir/cells")
        .filter(col("cell").isin(probeCells.toIndexedSeq: _*)),
      qv, topK)
  }

  /** The probe load shared by [[probeIndex]] and [[probePqIndex]]:
    * heal a crashed retrain swap, collect the centroids (k x dim) and
    * resolve the `probes` cells nearest to `qv` locally.
    */
  private def probedCells(spark: SparkSession, dir: String, qv: Array[Double],
      probes: Int): Seq[Int] = {
    recoverSwap(spark, dir)
    val cents = spark.read.parquet(s"$dir/centroids")
      .select(col("cid"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq
    nearestCells(cents, qv, probes)
  }

  /** Replay-safe ingest-layer key shared by every streaming append
    * path (IVF cells, PQ codes, HNSW deltas): batchIds restart at 0
    * per checkpoint location, so `ingest=<batchId>` alone lets a
    * SECOND append session (same index dir, new checkpoint) silently
    * overwrite the first session's layers. Prefixing a pure function
    * of the checkpoint path keeps the directory deterministic for a
    * REPLAYED batch (same checkpoint + batchId -> same dir, overwrite
    * heals the crashed attempt) while making independent sessions
    * collision-free (r19 advice).
    */
  def ingestToken(checkpoint: String): String =
    f"${scala.util.hashing.MurmurHash3.stringHash(checkpoint) & 0x7fffffff}%08x"

  /** The streaming append tail shared by the index and export
    * appenders: each micro-batch calls `write` with its replay-safe
    * layer tag `<token>-<batchId>` ([[ingestToken]]), and the query
    * drains what is available once under `checkpoint`.
    */
  private[operators] def appendLayers(stream: DataFrame, checkpoint: String)(
      write: (DataFrame, String) => Unit): StreamingQuery = {
    val token = ingestToken(checkpoint)
    stream.writeStream
      .foreachBatch((b: DataFrame, batchId: Long) => write(b, s"$token-$batchId"))
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming index maintenance: arriving vectors are assigned to
    * their nearest SAVED centroid (broadcast dim — no retraining) and
    * appended into the cell-partitioned index, so new data becomes
    * probe-able as it lands. Each micro-batch owns an
    * `ingest=<token>-<batchId>` directory ([[ingestToken]] replay-safe
    * overwrite); compaction (operators.Compaction) handles the
    * small-files debt per partition. Retraining when drift accumulates
    * is a periodic batch `saveIndex` swap.
    */
  def appendToIndex(spark: SparkSession, stream: DataFrame, dir: String,
      checkpoint: String): StreamingQuery = {
    val cents = spark.read.parquet(s"$dir/centroids")
    // foreachBatch is at-least-once: write into a deterministic
    // ingest=<token>-<batchId> directory with overwrite, so a
    // replayed micro-batch rewrites its own files instead of
    // appending duplicate vectors (RcSinks.writeBatch convention).
    appendLayers(stream, checkpoint) { (b, tag) =>
      assignCells(b, cents)
        .write.partitionBy("cell").mode("overwrite")
        .parquet(s"$dir/cells/ingest=$tag")
    }
  }

  /** Per-subspace PQ codebooks, trained with the SAME Lloyd's trainer
    * as the coarse quantizer (each subspace's subvectors form their
    * own little corpus): m codebooks of up to `kCodes` codewords over
    * `dsub`-dim slices. Returned as (m, dsub, codebooks[m][k][dsub]).
    */
  case class PqCodebooks(m: Int, dsub: Int, books: Array[Array[Array[Double]]])

  def trainPq(spark: SparkSession, emb: DataFrame, m: Int = 8, dsub: Int = 8,
      kCodes: Int = 256, iters: Int = 2, nHint: Long = 0L): PqCodebooks = {
    val n = if (nHint > 0) nHint else emb.count()
    // codeword budget: the full kCodes whenever the corpus can fill it
    // (>= 2 training points per codeword) — more codewords = smaller
    // quantization cells = smaller ADC error; only tiny corpora scale
    // the budget down. At real scale this is always kCodes = 256.
    val k = math.min(kCodes, math.max(16, n / 2)).toInt
    val books = (0 until m).map { si =>
      val sub = emb.select(col("vec_id"),
        slice(col("embedding"), si * dsub + 1, dsub).as("embedding"))
      trainIvf(spark, sub, k, iters, dim = dsub).centroids
    }.toArray
    PqCodebooks(m, dsub, books)
  }

  /** Persist an IVF-PQ index: every vector stored as its coarse cell
    * (partition directory) + ONE packed bigint of m 8-bit PQ codes —
    * 8 bytes of payload per vector, the 32x memory story made
    * literal. Probes then read only their cells' code files. Layout:
    * `dir/codes/ingest=base/cell=N/...parquet` (vec_id, code64) +
    * `dir/centroids` + `dir/books` (si, cid, cv) — the ingest layer is
    * the [[appendToIndex]] convention, so streaming appends
    * ([[appendToPqIndex]]) land beside the base build replay-safely.
    */
  def savePqIndex(spark: SparkSession, emb: DataFrame, dir: String,
      kCells: Int = 0, iters: Int = 3, nHint: Long = 0L): (Int, PqCodebooks) = {
    import spark.implicits._
    val k = sizeK(kCells, nHint, emb)
    val coarse = trainIvf(spark, emb, k, iters)
    val cents = centroidDf(spark, coarse.centroids)
    val pq = trainPq(spark, emb, nHint = nHint)
    require(pq.books.forall(_.length <= 256), "PQ codes must fit one byte each")
    val coded = pqCodes(assignCells(emb, cents), spark.sparkContext.broadcast(pq))
    coded.write.partitionBy("cell").mode("overwrite").parquet(s"$dir/codes/ingest=base")
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    pq.books.zipWithIndex.flatMap { case (book, si) =>
      book.zipWithIndex.map { case (cw, cid) => (si, cid, cw) }
    }.toSeq.toDF("si", "cid", "cv").write.mode("overwrite").parquet(s"$dir/books")
    (k, pq)
  }

  /** Probe a persisted IVF-PQ index: centroids + codebooks load
    * driver-side (k x dim and m x k x dsub — both corpus-independent),
    * the probe set resolves locally, the codes scan carries the cell
    * partition filter, and scoring is pure ADC: unpack each byte of
    * code64 and sum m broadcast-literal table lookups — the scan
    * touches 8 bytes per candidate, never a float vector.
    */
  def probePqIndex(spark: SparkSession, dir: String, qv: Array[Double],
      topK: Int, probes: Int = 2): DataFrame = {
    val probeCells = probedCells(spark, dir, qv, probes)
    val pq = loadPqBooks(spark, dir)
    // ADC tables: dot(query subvector, codeword) per (subspace, code)
    val tables: IndexedSeq[Seq[Double]] = (0 until pq.m).map { si =>
      pq.books(si).toSeq.map { cw =>
        var s = 0.0; var i = 0
        while (i < pq.dsub) { s += qv(si * pq.dsub + i) * cw(i); i += 1 }
        s
      }
    }
    val adc = (0 until pq.m).map { si =>
      element_at(typedLit(tables(si)),
        (shiftright(col("code64"), si * 8).bitwiseAND(lit(0xffL))).cast("int") + 1)
    }.reduce(_ + _)
    spark.read.parquet(s"$dir/codes")
      .filter(col("cell").isin(probeCells.toIndexedSeq: _*))
      .select(col("vec_id"), round(adc, 6).as("adc_score"))
      .orderBy(col("adc_score").desc, col("vec_id"))
      .limit(topK)
  }

  /** Streaming maintenance for the PQ index: arriving vectors are
    * coarse-assigned against the SAVED centroids and PQ-encoded
    * against the SAVED codebooks (both broadcast — no retraining),
    * then appended as packed codes under `ingest=<token>-<batchId>`
    * (the [[ingestToken]] replay-safe convention). New data
    * becomes ADC-probe-able as it lands at 8 bytes per vector;
    * codebook drift is handled by a periodic batch `savePqIndex` swap,
    * exactly like the IVF path's retrain story.
    */
  def appendToPqIndex(spark: SparkSession, stream: DataFrame, dir: String,
      checkpoint: String): StreamingQuery = {
    val cents = spark.read.parquet(s"$dir/centroids")
    val bc = spark.sparkContext.broadcast(loadPqBooks(spark, dir))
    appendLayers(stream, checkpoint) { (b, tag) =>
      pqCodes(assignCells(b, cents), bc)
        .write.partitionBy("cell").mode("overwrite")
        .parquet(s"$dir/codes/ingest=$tag")
    }
  }

  /** The codebooks a saved PQ index was built with, from `dir/books`. */
  private def loadPqBooks(spark: SparkSession, dir: String): PqCodebooks = {
    val books = spark.read.parquet(s"$dir/books")
      .select(col("si"), col("cid"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3)).toArray
    PqCodebooks(books.length, books(0)(0).length, books)
  }

  /** PQ-encode cell-assigned vectors ([[assignCells]] output) into
    * (vec_id, cell, code64): per subspace the nearest codeword by
    * squared L2 (ties to the lower code), packed 8 bits per subspace,
    * subspace si in byte si.
    */
  private def pqCodes(cells: DataFrame, bc: Broadcast[PqCodebooks]): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    cells.select(col("vec_id"), col("cell").cast("int").as("cell"), col("v"))
      .as[(Long, Int, Array[Double])]
      .map { case (id, cell, v) =>
        val p = bc.value
        var packed = 0L
        var si = 0
        while (si < p.m) {
          val book = p.books(si)
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < book.length) {
            var d = 0.0; var i = 0
            val cw = book(c)
            while (i < p.dsub) {
              val t = v(si * p.dsub + i) - cw(i); d += t * t; i += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          packed |= (best.toLong & 0xffL) << (si * 8)
          si += 1
        }
        (id, cell, packed)
      }
      .toDF("vec_id", "cell", "code64")
  }

  /** Crash-recovery for the retrain swap: the swap's only unsafe
    * window is between "live moved to `__old`" and "stage moved to
    * live" — a crash there leaves NO live directory but an intact
    * backup. Rename the backup straight back (atomic on the same
    * filesystem, same as the forward swap) and report whether a
    * recovery happened. Idempotent and cheap (two metadata probes), so
    * the open/retrain paths call it unconditionally first.
    */
  def recoverSwap(spark: SparkSession, dir: String): Boolean =
    Compaction.recover(spark, dir) // same `__old` contract as compaction

  /** Retrain-and-swap for a persisted IVF index — the maintenance op
    * the append path defers to: streaming appends encode against the
    * ORIGINAL centroids, so after heavy ingest the coarse quantizer
    * drifts from the data distribution (appended vectors crowd into
    * whichever old cells happen to be nearest, and probe pruning
    * degrades). This re-trains the quantizer over base + EVERY
    * appended ingest layer (the cells store full vectors, so the index
    * is self-contained), re-codes into a staged sibling directory, and
    * swaps with the [[Compaction]] crash-ordering: stage VERIFIED
    * before anything moves, live dir backed up until the swapped-in
    * index proves readable, so no crash window loses the index.
    * Returns the new cell count.
    */
  def retrainIndex(spark: SparkSession, dir: String,
      kCells: Int = 0, iters: Int = 3): Int = {
    recoverSwap(spark, dir) // heal a crashed earlier swap before reading
    val all = spark.read.parquet(s"$dir/cells")
      .select(col("vec_id"), col("v").as("embedding"))
    val n = all.count()
    val k = sizeK(kCells, n, all)
    val idx = trainIvf(spark, all, k, iters)
    val cents = centroidDf(spark, idx.centroids)
    // stage the full new index beside the live one, then verify it
    // BEFORE the live directory moves (the Compaction ordering)
    val stage = s"${dir}__retraining"
    assignCells(all, cents)
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$stage/cells/ingest=base")
    cents.write.mode("overwrite").parquet(s"$stage/centroids")
    require(spark.read.parquet(s"$stage/cells").count() == n,
      s"retrained index row count mismatch for $dir — aborting, live index untouched")
    Compaction.swapStaged(spark, dir, stage)(
      spark.read.parquet(s"$dir/cells").count() == n)
    k
  }

  /** Retrain-and-swap for a persisted IVF-PQ index. PQ codes are NOT
    * invertible (8 bytes cannot reconstruct the vector), so unlike
    * [[retrainIndex]] the caller supplies the corpus (base + appended
    * vectors — the upstream table the index was built from); coarse
    * centroids AND per-subspace codebooks re-train over it, everything
    * re-codes into a staged directory, and the swap follows the same
    * verified crash-ordering. Returns (new cell count, new codebooks).
    */
  def retrainPqIndex(spark: SparkSession, emb: DataFrame, dir: String,
      kCells: Int = 0, iters: Int = 3, nHint: Long = 0L): (Int, PqCodebooks) = {
    recoverSwap(spark, dir) // heal a crashed earlier swap before reading
    val stage = s"${dir}__retraining"
    val out = savePqIndex(spark, emb, stage, kCells, iters, nHint)
    val n = spark.read.parquet(s"$dir/codes").count()
    val staged = spark.read.parquet(s"$stage/codes").count()
    require(staged >= n,
      s"retrained PQ index lost rows ($staged < $n) for $dir — aborting, live index untouched")
    Compaction.swapStaged(spark, dir, stage)(
      spark.read.parquet(s"$dir/codes").count() == staged)
    out
  }

  /** Production near-dup path: within-cell all-pairs under a LEARNED
    * k ~ sqrt(n) quantizer, so expected per-cell work is (n/k)^2 = n —
    * linear in corpus size, vs O(n^2/8) with 8 fixed cells.
    */
  def nearDupPairs(spark: SparkSession, emb: DataFrame, minCos: Double,
      kCells: Int = 0, iters: Int = 3, nHint: Long = 0L): DataFrame = {
    val k = sizeK(kCells, nHint, emb)
    val idx = trainIvf(spark, emb, k, iters)
    // localCheckpoint: the within-cell self-join would otherwise rescan
    // the corpus and re-run the broadcast-crossJoin assignment on BOTH
    // sides (no exchange reuse) — materialize the assignment once.
    val cells = assignCells(emb, centroidDf(spark, idx.centroids)).localCheckpoint()
    cellPairs(cells, minCos).orderBy(col("a_id"), col("b_id"))
  }

  /** Within-cell cosine pairs: `cells` (cell, vec_id, v, nv) self-joined
    * on cell, a_id < b_id, kept where cos_sim = round(cosine, 6) >=
    * `minCos`. Carrying the norm `nv` on each row makes the quadratic
    * stage one dot product per pair. Output (a_id, b_id, cos_sim),
    * unsorted.
    */
  private[graft] def cellPairs(cells: DataFrame, minCos: Double): DataFrame = {
    val l = cells.select(col("cell"), col("vec_id").as("a_id"),
      col("v").as("va"), col("nv").as("na"))
    val r = cells.select(col("cell"), col("vec_id").as("b_id"),
      col("v").as("vb"), col("nv").as("nb"))
    l.join(r, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos_sim",
        round(VectorOps.dot(col("va"), col("vb")) / sqrt(col("na") * col("nb")), 6))
      .filter(col("cos_sim") >= minCos)
      .select(col("a_id"), col("b_id"), col("cos_sim"))
  }
}
