package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{SparkEntry, Stores, Tables}
import graft.operators.{TextOps, VectorOps}
import scala.collection.immutable.ArraySeq
import graft.queries.DedupQueries.dedupEmbeddingSql
import graft.queries.SearchQueries.{bm25TopFrame, searchBm25TopkSql}

/** Vector similarity, clustering and mining: brute-force and
  * quantized (SQ8, PQ, IVF, IVF-PQ, HNSW) top-k rungs, their recall
  * reports and contract oracles, k-means, kNN graphs and hard-negative /
  * contrastive mining, plus the fuzzy term join. Owns the seeded IVF
  * cells, the trained quantizers and the persisted index dirs.
  */
object SimilarityQueries {

  /** The ONE seeded-quantizer cell assignment (32 fixed seed centroids,
    * argmax cosine, scores rounded to 6 BEFORE argmax, ties to the
    * lower cid) shared by `dedup_embedding`, `sim_ivf_topk`, and
    * `decon_embedding` — the SQL-replayable twin of the learned
    * quantizer in `operators.Similarity`. Norms are hoisted so the
    * O(n x 32) scoring stage pays one dot product per pair, not three.
    * Output: (vec_id, cell, v, nv).
    */
  private def embWithNorm(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("v", col("embedding"))
      .withColumn("nv", VectorOps.norm2(col("embedding")))

  /** Micro-int quantized embeddings for the iterative clustering
    * family: each component becomes `round(x * 1e6)` — an INTEGER
    * carried in a float (exact: |micro| <= ~2e6 < 2^24), so every
    * downstream dot product / norm / component sum is exact integer
    * arithmetic in doubles on BOTH engines and the Lloyd fixpoint is
    * bit-reproducible with no per-iteration rounding contract (the
    * crawl_pagerank fixed-point recipe lifted to vectors). `nv` is the
    * exact integer squared norm (<= 64 x (2e6)^2 ~ 2.6e14 < 2^53).
    */
  private[queries] def embMicro(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), VectorOps.microQuantize(col("embedding")).as("v"))
      .withColumn("nv", VectorOps.norm2(col("v")))

  /** Assemble a [[graft.functions.CentroidBank]] from collected
    * (cid, component-index, micro-component) rows — the driver-side
    * half of a Lloyd update. Components are exact micro ints, so the
    * squared norms computed here are bit-identical to the oracle's
    * `list_sum(list_transform(cv, x -> x * x))`. Bounded collect:
    * O(k x dim) rows (8 x 64 here).
    */
  private def bankOfComponents(rows: Array[(Long, Int, Long)]): graft.functions.CentroidBank = {
    val byCid = rows.groupBy(_._1).toArray.sortBy(_._1)
    val cids = byCid.map(_._1)
    val vecs = byCid.map { case (_, comps) =>
      comps.sortBy(_._2).map(_._3.toFloat)
    }
    val norms = vecs.map(_.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
    new graft.functions.CentroidBank(cids, vecs, norms)
  }

  /** Refined k-means centroid bank, trained ONCE per corpus version
    * ([[Stores]] — a production clustering trains once and serves
    * many assignment passes). Each Lloyd iteration is one corpus
    * pass: a map-side native argmax feeding a (cluster, dim) partial
    * aggregate whose exchange carries <= k x 64 rows per partition;
    * only the k x 64 micro-int component rows reach the driver.
    */
  private def kmeansBank(s: SparkSession, dir: String): graft.functions.CentroidBank =
    Stores.value(s, "kmeans-bank", dir, "embeddings") {
      import s.implicits._
      val emb = embMicro(s, dir)
      def assign(bank: graft.functions.CentroidBank): DataFrame =
        emb.select(col("vec_id"),
          graft.functions.VectorExpressions
            .seeded_cell_argmax(bank, col("v"), col("nv")).as("cluster"),
          col("v"))
      def update(assigned: DataFrame): graft.functions.CentroidBank =
        bankOfComponents(assigned
          .select(col("cluster"), posexplode(col("v")).as(Seq("i", "x")))
          .groupBy(col("cluster"), col("i"))
          // exact mean numerator (long sum of micro ints) over an
          // exact count -> one IEEE division + floor, both replayable
          .agg(floor(sum(col("x").cast("long")) / count(lit(1))).as("m"))
          .as[(Long, Int, Long)].collect())
      val seeds = bankOfComponents(emb.filter(col("vec_id") < 8)
        .select(col("vec_id"), posexplode(col("v")).as(Seq("i", "x")))
        .select(col("vec_id"), col("i"), col("x").cast("long"))
        .as[(Long, Int, Long)].collect())
      (1 to 2).foldLeft(seeds)((bank, _) => update(assign(bank)))
    }

  /** The refined kmeans bank, exposed for external serving surfaces:
    * the streaming cluster-balanced admission gate
    * (StreamingCorpusOps.clusterBalancedGate) trains in batch and
    * serves this bank FROZEN at ingest — the embeddingDeconGate
    * batch-trains/stream-serves convention.
    */
  def trainedKmeansBank(s: SparkSession, dir: String): graft.functions.CentroidBank =
    kmeansBank(s, dir)

  /** Cluster-assignment STORE shared by `cluster_kmeans`,
    * `cluster_silhouette` and `sample_cluster_balanced`: the final
    * assignment against the memoized [[kmeansBank]] — one map-side
    * native argmax pass + the tiny size aggregate joined back by
    * broadcast — materialized once per corpus version (the stored half
    * of a clustering run, read by three consumers). UNSORTED
    * (vec_id, cluster, cluster_n) — consumers add their own output
    * order (the balanced sampler re-partitions by cluster, so a
    * pre-sort here would be dead work).
    */
  private[queries] def kmeansClusters(s: SparkSession, dir: String): DataFrame =
    Stores.frame(s, "kmclusters", dir, "embeddings") {
      kmeansClustersBuildFrame(s, dir)
    }

  private[graft] def kmeansClustersBuildFrame(s: SparkSession, dir: String): DataFrame = {
    val fin = embMicro(s, dir).select(col("vec_id"),
      graft.functions.VectorExpressions
        .seeded_cell_argmax(kmeansBank(s, dir), col("v"), col("nv")).as("cluster"))
    val sizes = fin.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_n"))
    fin.join(broadcast(sizes), Seq("cluster"))
      .select(col("vec_id"), col("cluster"), col("cluster_n"))
  }

  /** (rung query name, its seeded query vec_id, its top-k) for every
    * ORACLED rung of the ANN serving ladder — the ONE list driving
    * both the `sim_recall_report` frame and its composed oracle, so
    * the two cannot drift on which rung probes which query vector.
    */
  private val recallRungs: Seq[(String, Long, Int)] = Seq(
    ("sim_cosine_topk", 0L, 10),
    ("sim_ivf_topk", 42L, 5),
    ("sim_sq8_topk", 7L, 10),
    ("sim_pq_topk", 299L, 10),
    ("sim_ivfpq_topk", 298L, 10),
    ("sim_ivfpq_multiprobe_topk", 296L, 10),
    ("sim_ivfpq_residual_topk", 297L, 10),
    ("sim_pq_rerank_topk", 294L, 10))

  /** Exact cosine top-`k` of every query vector in `qids` against the
    * whole corpus (itself excluded): ONE pass that crossJoins the
    * broadcast query rows, scores in integer micro-cosines and keeps
    * each query's best `k` with the bounded [[graft.functions.SketchAgg.TopK]]
    * aggregator (ties to the lower vec_id). Output: (qid, rk 1.., vec_id,
    * score = round(cos * 1e6)).
    */
  private[queries] def exactCosineTopK(s: SparkSession, dir: String, qids: Seq[Long],
      k: Int): DataFrame = {
    import s.implicits._
    val q = embWithNorm(s, dir).filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nv").as("nq"))
    embWithNorm(s, dir).crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"),
        round(VectorOps.dot(col("qv"), col("v")) / sqrt(col("nq") * col("nv"))
          * 1e6).cast("long").as("score"),
        col("vec_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues(t => graft.functions.SketchAgg.TopKRow(t._2, t._3, 0L))
      .agg(new graft.functions.SketchAgg.TopK(k).toColumn.name("top"))
      .toDF("qid", "top")
      .select(col("qid"), posexplode(col("top")).as(Seq("i0", "t")))
      .select(col("qid"), (col("i0") + 1).cast("long").as("rk"),
        col("t.id").as("vec_id"), col("t.score").as("score"))
  }

  /** Exact cosine top-10 ids per recall-rung query vector, in rank
    * order — the rungs' shared ground truth, memoized per corpus
    * version as a DRIVER constant (≤ 8 qids × 10 ids), so
    * `sim_recall_report` pushes eight `isin` literals instead of
    * re-running the exact pass per call (SCALE.md round-20 table).
    */
  private def exactTopIds(s: SparkSession, dir: String): Map[Long, Seq[Long]] =
    Stores.value(s, "recall-exact", dir, "embeddings") {
      import s.implicits._
      exactCosineTopK(s, dir, recallRungs.map(_._2).distinct, 10)
        .select(col("qid"), col("rk"), col("vec_id"))
        .as[(Long, Long, Long)].collect()
        .groupBy(_._1).map { case (qid, rows) =>
          qid -> rows.sortBy(_._2).map(_._3).toSeq
        }
    }

  /** The 32 fixed seed centroids (vec_id 0..31) collected ONCE into a
    * plan-carried [[graft.functions.CentroidBank]]. BOUNDED driver
    * collect, O(k x dim) = 32 x 64 floats — the same class as the
    * Similarity.scala centroid collects; the filter is pushed into the
    * parquet scan so the job reads one column chunk's worth of rows.
    * Norms come from the SAME native dot the scorer uses upstream, so
    * the collected doubles are bit-identical to the SQL formulation's.
    */
  private def seedCentroidBank(s: SparkSession, dir: String): graft.functions.CentroidBank = {
    val rows = embWithNorm(s, dir).filter(col("vec_id") < 32)
      .select(col("vec_id"), col("v"), col("nv")).collect()
    new graft.functions.CentroidBank(
      rows.map(_.getLong(0)),
      rows.map(_.getSeq[Float](1).toArray),
      rows.map(_.getDouble(2)))
  }

  /** The ONE argmax-cosine cell assignment over `vecs` (scores rounded
    * to 6 BEFORE argmax, ties to the lower cid) — a pure MAP-SIDE
    * projection via the native SeededCellArgmax expression: one row
    * in, one row out, ZERO exchange.
    * Output: (vec_id, cell, v, nv).
    */
  private def assignSeededCells(vecs: DataFrame,
      bank: graft.functions.CentroidBank): DataFrame =
    vecs.select(col("vec_id"),
      graft.functions.VectorExpressions
        .seeded_cell_argmax(bank, col("v"), col("nv")).as("cell"),
      col("v"), col("nv"))

  /** Whole-corpus seeded assignment shared by `dedup_embedding`,
    * `sim_ivf_topk`, and `decon_embedding` — the SQL-replayable twin of
    * the learned quantizer in `operators.Similarity`. Norms are hoisted
    * so the pair-scoring consumers pay one dot product per pair, not
    * three.
    */
  private[queries] def seededCells(s: SparkSession, dir: String): DataFrame =
    assignSeededCells(embWithNorm(s, dir), seedCentroidBank(s, dir))

  /** (vec_id, cell) projection of [[seededCells]] exposed for spec
    * replays (the sim_knn_graph cell-closure check needs the full
    * assignment, which no query output carries in isolation).
    */
  private[graft] def seededCellsForSpec(s: SparkSession, dir: String): DataFrame =
    seededCells(s, dir).select(col("vec_id"), col("cell"))

  /** The brute-force cosine top-10 frame behind `sim_cosine_topk`,
    * factored out for the same one-definition reason (it is also the
    * vector arm of `search_hybrid_rrf`). See the `sim_cosine_topk`
    * entry for the plan contract.
    */
  private[queries] def cosineTopFrame(s: SparkSession, dir: String): DataFrame = {
    // the query vector is a MEMOIZED bounded collect (1 x 128 floats
    // per corpus version — the Similarity.scoreTopK typedLit
    // precedent) spliced in as a literal: the probe is one scan + one
    // TakeOrderedAndProject, zero per-query broadcast jobs. norm2 of
    // the literal constant-folds through the SAME native expression
    // the broadcast row used, so scores are bit-identical.
    val qv = typedLit(queryVec0(s, dir))
    Tables.embeddings(s, dir).filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        round(VectorOps.dot(qv, col("embedding")) /
          sqrt(VectorOps.norm2(qv) * VectorOps.norm2(col("embedding"))), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Vector id 0 — the pinned probe query of the similarity family —
    * as a driver-memoized array.
    */
  private def queryVec0(s: SparkSession, dir: String): Array[Float] =
    Stores.value(s, "qvec", dir, "embeddings") {
      Tables.embeddings(s, dir).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
    }

  /** The PQ codebook shared by `sim_pq_topk` and `sim_ivfpq_topk`,
    * built ONCE per corpus version (the index-build lifecycle — a
    * production PQ index trains its codebooks once and serves many
    * probes): per-subspace seeded [[graft.functions.CentroidBank]]s
    * from the first 256 vectors' subvectors. ADC lookup tables (dot of
    * the raw query subvector with every codeword) are per QUERY, so
    * they memoize per query id too — the banks stay one build no
    * matter how many probes hit them. All collects are bounded by
    * construction: 256 x 8 floats x 8 banks, never corpus-scale.
    * Driver-side dots run the sequential left-to-right widening sum —
    * the DotProduct order — so table entries are bit-identical to the
    * engine-side and oracle-side formulations.
    */
  private def pqSubOf(v: Array[Float], si: Int): Array[Float] = v.slice(si * 8, si * 8 + 8)

  private def pqDotSeq(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  private def pqBanks(s: SparkSession, dir: String): Seq[graft.functions.CentroidBank] =
    Stores.value(s, "pq-banks", dir, "embeddings")(seededBanks(s, dir, pqSubOf))

  private def pqCodebook(s: SparkSession, dir: String, qid: Long)
      : (Seq[graft.functions.CentroidBank], Seq[Array[Double]]) = {
    val banks = pqBanks(s, dir)
    val tables = Stores.value(s, "pq-adc", dir, "embeddings", s"$qid") {
      seededAdcTables(s, dir, qid, banks, pqSubOf)
    }
    (banks, tables)
  }

  /** The seeded PQ banks: subspace si's codewords are the subvectors
    * `sub(v, si)` of the first 256 vectors (cid = vec_id), with their
    * squared norms.
    */
  private def seededBanks(s: SparkSession, dir: String,
      sub: (Array[Float], Int) => Array[Float]): Seq[graft.functions.CentroidBank] = {
    import s.implicits._
    val seedRows = Tables.embeddings(s, dir).filter(col("vec_id") < 256)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect()
    (0 until 8).map { si =>
      new graft.functions.CentroidBank(
        seedRows.map(_._1),
        seedRows.map(r => sub(r._2, si)),
        seedRows.map(r => pqDotSeq(sub(r._2, si), sub(r._2, si))))
    }
  }

  /** ADC tables of query `qid` against seeded banks: dot(query
    * subvector `sub(qv, si)`, codeword), indexed by cid (banks sort by
    * ascending cid, and seed cids are 0..255).
    */
  private def seededAdcTables(s: SparkSession, dir: String, qid: Long,
      banks: Seq[graft.functions.CentroidBank],
      sub: (Array[Float], Int) => Array[Float]): Seq[Array[Double]] = {
    import s.implicits._
    val qv = Tables.embeddings(s, dir).filter(col("vec_id") === qid)
      .select(col("embedding")).as[Array[Float]].head()
    (0 until 8).map { si =>
      val qs = sub(qv, si)
      banks(si).vecs.map(c => pqDotSeq(qs, c))
    }
  }

  /** ENERGY-BALANCED dimension permutation for PQ (the OPQ idea
    * reduced to its SQL-replayable core): contiguous 8-dim slices
    * concentrate whatever energy ordering the embedding dims happen
    * to have, so one subspace's codewords work hard while another's
    * encode noise. Rank dims by their corpus second moment and deal
    * them round-robin into the 8 subspaces — each subspace gets one
    * dim from every energy octile. The moments are summed over
    * INTEGER MICRO quantized values (exact, order-free — no rounding
    * contract on the permutation), the rank order ties on the dim
    * index, and the 64-row collect is bounded by the dimensionality,
    * never the corpus. Memoized per corpus version like the banks.
    */
  private def pqBalancedPerm(s: SparkSession, dir: String): Array[Array[Int]] =
    Stores.value(s, "pq-bal-perm", dir, "embeddings") {
      import s.implicits._
      val ranked = Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("i"),
          round(col("x").cast("double") * 1000000.0).cast("long").as("xi"))
        .groupBy(col("i")).agg(sum(col("xi") * col("xi")).as("e2"))
        .orderBy(col("e2").desc, col("i"))
        .select(col("i")).as[Int].collect()
      Array.tabulate(8)(si =>
        ranked.zipWithIndex.collect { case (d, r) if r % 8 == si => d })
    }

  /** Subvector si of the contiguous PQ layout: dims 8*si .. 8*si+7. */
  private def pqSlice(v: Column)(si: Int): Column = slice(v, si * 8 + 1, 8)

  private def pqBalancedSub(v: Column, dims: Array[Int]): Column =
    array(ArraySeq.unsafeWrapArray(dims.map(d => element_at(v, d + 1))): _*)

  private def pqBalSubOf(v: Array[Float], dims: Array[Int]): Array[Float] =
    dims.map(v(_))

  private def pqBalancedCodebook(s: SparkSession, dir: String, qid: Long)
      : (Seq[graft.functions.CentroidBank], Seq[Array[Double]], Array[Array[Int]]) = {
    val perm = pqBalancedPerm(s, dir)
    val sub = (v: Array[Float], si: Int) => pqBalSubOf(v, perm(si))
    // banks and tables share the permutation's corpus version, so a
    // rewrite can never pair new gathers with codewords of the old one
    val banks = Stores.value(s, "pq-bal-banks", dir, "embeddings")(seededBanks(s, dir, sub))
    val tables = Stores.value(s, "pq-bal-adc", dir, "embeddings", s"$qid") {
      seededAdcTables(s, dir, qid, banks, sub)
    }
    (banks, tables, perm)
  }

  /** The RESIDUAL-PQ codebooks of `sim_ivfpq_residual_topk` and
    * `sim_ivfpq_multiprobe_topk` — the faithful FAISS IndexIVFPQ
    * composition: PQ trains on RESIDUALS (vector minus its coarse
    * cell's centroid), not raw vectors, so the codewords only have to
    * cover the within-cell spread — the precision win that makes
    * residual encoding the production standard. Codewords per subspace
    * = the first 256 vectors' residual subvectors (each against its OWN
    * cell's centroid, in exact float->double arithmetic), identical
    * across probed cells. Seed cell assignments come from a bounded
    * 257-row collect through the SAME native argmax expression the
    * corpus side uses (no driver re-derivation to drift).
    *
    * Per probed cell — the query's `probes` nearest coarse cells — a
    * bank set whose centroidSub is THAT cell's (the engine subtracts it
    * per candidate row) and ADC tables: squared-L2 of the query's
    * residual IN that cell (FAISS nprobe semantics) against every
    * codeword, summed sequentially. The probe ranking replays the
    * coarse quantizer's contract ([[graft.functions.SeededCellArgmax]]:
    * sequential widening dot, rounded-6 comparison, ties to the lower
    * cid), so the first probe IS the query's assigned cell and the
    * oracle's row_number ordering matches. Returns (cell -> (banks,
    * tables)) in probe order.
    */
  private def resPqMultiCodebook(s: SparkSession, dir: String, qid: Long,
      probes: Int): Seq[(Long, (Seq[graft.functions.ResidualPqBank], Seq[Array[Double]]))] =
    Stores.value(s, "respq-multi", dir, "embeddings", s"$qid#$probes") {
      import s.implicits._
      val bank = seedCentroidBank(s, dir)
      val rows = assignSeededCells(
          embWithNorm(s, dir).filter(col("vec_id") < 256 || col("vec_id") === qid), bank)
        .select(col("vec_id"), col("cell"), col("v"))
        .as[(Long, Long, Array[Float])].collect()
      val centroidByCid: Map[Long, Array[Float]] = bank.cids.zip(bank.vecs).toMap
      def residualVs(v: Array[Float], c: Array[Float]): Array[Double] =
        Array.tabulate(math.min(v.length, c.length))(i => v(i).toDouble - c(i).toDouble)
      def sub(r: Array[Double], si: Int): Array[Double] = r.slice(si * 8, si * 8 + 8)
      def l2seq(a: Array[Double], b: Array[Double]): Double = {
        var acc = 0.0; var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) { val d = a(i) - b(i); acc += d * d; i += 1 }
        acc
      }
      val seeds = rows.filter(_._1 < 256).sortBy(_._1)
      val codewords: Seq[Array[Array[Double]]] = (0 until 8).map { si =>
        seeds.map(r => sub(residualVs(r._3, centroidByCid(r._2)), si))
      }
      val seedIds = seeds.map(_._1)
      val qVec = rows.find(_._1 == qid)
        .getOrElse(sys.error(s"query vector $qid missing from $dir"))._3
      val nq = pqDotSeq(qVec, qVec)
      val cosine = bank.cids.indices.map(j =>
        pqDotSeq(qVec, bank.vecs(j)) / math.sqrt(nq * bank.norms(j)))
      // bank.cids ascend, so the lower index is the lower cid
      val probeCells: Seq[Long] = bank.cids.indices.sortWith { (i, j) =>
        val c = graft.functions.SeededCellArgmax.compareRounded6(cosine(i), cosine(j))
        c > 0 || (c == 0 && i < j)
      }.take(probes).map(bank.cids(_))
      probeCells.map { cell =>
        val cSub = centroidByCid(cell).map(_.toDouble)
        val qRes = residualVs(qVec, centroidByCid(cell))
        val banks = (0 until 8).map { si =>
          new graft.functions.ResidualPqBank(seedIds, codewords(si).toArray,
            cSub.slice(si * 8, si * 8 + 8))
        }
        val tables = (0 until 8).map { si =>
          banks(si).vecs.map(cw => l2seq(sub(qRes, si), cw))
        }
        cell -> ((banks, tables))
      }
    }

  /** The residual-ADC distance of one candidate row (already filtered
    * to the probe cell, so its residual centroid IS the bank's): per
    * subspace a native residual-subtract + 256-codeword argmin, then
    * a broadcast-literal table lookup; the 8 squared-L2 terms sum
    * left-to-right (the `list(t ORDER BY s)` oracle order).
    */
  private def resAdcDist(banks: Seq[graft.functions.ResidualPqBank],
      tables: Seq[Array[Double]], v: Column): Column =
    (0 until 8).map { si =>
      element_at(typedLit(tables(si).toSeq),
        (graft.functions.VectorExpressions
          .residual_argmin_l2(banks(si), pqSlice(v)(si))
          .cast("int")) + 1)
    }.reduce(_ + _)

  /** The asymmetric-distance (ADC) PQ score of one row: per subspace
    * si, a native argmax assignment of the row's subvector `sub(si)` to
    * the subspace codebook followed by a lookup into the query's
    * precomputed codeword-dot table — 8 argmaxes + 8 broadcast-literal
    * array reads, all map-side. The 8
    * subspace dots sum LEFT-TO-RIGHT (reduce order), which the oracle
    * replays with `list_sum(list(t ORDER BY s))`; consumers round(6)
    * at the edge to absorb the residual ulps.
    */
  private def pqAdcScore(banks: Seq[graft.functions.CentroidBank],
      tables: Seq[Array[Double]], sub: Int => Column): Column =
    (0 until 8).map { si =>
      val vs = sub(si)
      element_at(typedLit(tables(si).toSeq),
        (graft.functions.VectorExpressions
          .seeded_cell_argmax(banks(si), vs, VectorOps.dot(vs, vs))
          .cast("int")) + 1)
    }.reduce(_ + _)

  /** The rollup oracle IS the three modality pair oracles composed —
    * each construction-replay chain runs verbatim as a CTE, full-outer
    * joined on the doc pair — so there is no second copy of any
    * fingerprint SQL to drift from its dedup twin.
    */
  /** The MMR greedy replayed as 10 chained CTEs: cand = the cosine
    * top-20 window, pw = its 20x20 rounded pairwise-cosine matrix
    * (400 rows — bounded by the window contract), step i picks the
    * remaining candidate maximizing round(0.5*rel - 0.5*max-sim-to-
    * selected, 6) with the vec_id tiebreak. Generated by a loop so
    * the step shape cannot drift between iterations.
    */
  private def mmrOracleSql: String = {
    // cand and pw are MATERIALIZED: DuckDB re-evaluates plain CTEs
    // per reference, and the 10 greedy steps reference them ~30 times
    // — unmaterialized, that re-opens the parquet per reference and
    // exhausts file handles
    val head =
      "WITH e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings), " +
      "q AS (SELECT v qv, list_sum(list_transform(v, x -> x*x)) nq FROM e WHERE vec_id = 0), " +
      "cand AS MATERIALIZED (SELECT vec_id, v, round(" +
      "list_sum(list_transform(list_zip(qv, v), p -> p[1]*p[2])) / " +
      "sqrt(nq * list_sum(list_transform(v, x -> x*x))), 6) rel " +
      "FROM e, q WHERE vec_id <> 0 ORDER BY rel DESC, vec_id LIMIT 20), " +
      s"pw AS MATERIALIZED (SELECT a.vec_id aid, b.vec_id bid, round(${cosineSql("a.v", "b.v")}, 6) s FROM cand a JOIN cand b ON a.vec_id <> b.vec_id), " +
      "s1 AS MATERIALIZED (SELECT vec_id, rel, CAST(0 AS DOUBLE) mp, round(0.5*rel, 6) mmr " +
      "FROM cand ORDER BY round(0.5*rel, 6) DESC, vec_id LIMIT 1), " +
      "sel1 AS MATERIALIZED (SELECT vec_id FROM s1)"
    // every step CTE is MATERIALIZED: s_i references sel_{i-1} twice
    // and sel_i re-references sel_{i-1} — unmaterialized, the CTE
    // inlining expands the chain EXPONENTIALLY (2^10 copies of cand)
    val steps = (2 to 10).map { i =>
      s", s$i AS MATERIALIZED (SELECT c.vec_id, c.rel, m.mp, round(0.5*c.rel - 0.5*m.mp, 6) mmr " +
      s"FROM cand c JOIN (SELECT aid, MAX(s) mp FROM pw WHERE bid IN (SELECT vec_id FROM sel${i - 1}) GROUP BY aid) m " +
      "ON m.aid = c.vec_id " +
      s"WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1}) " +
      "ORDER BY mmr DESC, c.vec_id LIMIT 1), " +
      s"sel$i AS MATERIALIZED (SELECT vec_id FROM sel${i - 1} UNION ALL SELECT vec_id FROM s$i)"
    }.mkString
    val union = (1 to 10).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rk, vec_id, rel, mp AS max_prev_sim, mmr FROM s$i")
      .mkString(" UNION ALL ")
    s"$head$steps $union ORDER BY rk"
  }

  private[queries] def clusterKmeansSql: String =
    {
    // two unrolled Lloyd iterations + final assignment in the SAME
    // micro-int fixed-point arithmetic as the Spark loop: exact
    // integer dots/norms/mean numerators, round(6) before each
    // argmax (ties to the lower cid), floor of the exact mean
    def iter(prev: String, k: Int): String =
      s"s$k AS (SELECT en.vec_id, en.v, c.cid, " +
      "round(list_sum(list_transform(list_zip(en.v, c.cv), p -> CAST(p[1] AS DOUBLE) * p[2])) / " +
      s"sqrt(en.nv * c.nc), 6) cs FROM en CROSS JOIN $prev c), " +
      s"a$k AS (SELECT vec_id, v, cid FROM s$k " +
      "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) = 1), " +
      s"u$k AS (SELECT cid, i, CAST(floor(SUM(CAST(v[i] AS DOUBLE)) / COUNT(*)) AS BIGINT) m " +
      s"FROM a$k CROSS JOIN (SELECT unnest(generate_series(1, 64)) i) GROUP BY cid, i), " +
      s"c$k AS (SELECT cid, cv, list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * x)) nc " +
      s"FROM (SELECT cid, list(m ORDER BY i) cv FROM u$k GROUP BY cid))"
    "WITH e AS (SELECT vec_id, " +
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) v " +
    "FROM embeddings), " +
    "en AS (SELECT vec_id, v, list_sum(list_transform(v, x -> CAST(x AS DOUBLE) * x)) nv FROM e), " +
    "c0 AS (SELECT vec_id cid, v cv, nv nc FROM en WHERE vec_id < 8), " +
    iter("c0", 1) + ", " + iter("c1", 2) + ", " +
    "s3 AS (SELECT en.vec_id, c.cid, " +
    "round(list_sum(list_transform(list_zip(en.v, c.cv), p -> CAST(p[1] AS DOUBLE) * p[2])) / " +
    "sqrt(en.nv * c.nc), 6) cs FROM en CROSS JOIN c2 c), " +
    "a3 AS (SELECT vec_id, cid FROM s3 " +
    "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) = 1), " +
    "sz AS (SELECT cid, COUNT(*) n FROM a3 GROUP BY cid) " +
    "SELECT a3.vec_id, a3.cid AS cluster, CAST(sz.n AS BIGINT) AS cluster_n " +
    "FROM a3 JOIN sz USING (cid) ORDER BY vec_id"
  }

  private[queries] def simCosineTopkSql: String =
    "WITH q AS (SELECT embedding qe FROM embeddings WHERE vec_id = 0), " +
    "s AS (SELECT vec_id, " +
    "list_sum(list_transform(list_zip(qe, embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) dot, " +
    "list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) nq, " +
    "list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) nv " +
    "FROM embeddings, q WHERE vec_id <> 0) " +
    "SELECT vec_id, round(dot/sqrt(nq*nv), 6) AS cos_sim FROM s " +
    "ORDER BY cos_sim DESC, vec_id LIMIT 10"

  /** DuckDB cosine of the DOUBLE lists `a` and `b` (unrounded; the
    * oracles round it to 6 places where the builders do).
    */
  private[queries] def cosineSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> p[1]*p[2])) / " +
    s"sqrt(list_sum(list_transform($a, x -> x*x)) * list_sum(list_transform($b, x -> x*x)))"

  /** DuckDB replay of [[seededCells]] as CTEs: `e` (vec_id, v as DOUBLEs),
    * `c` (the 32 seed centroids), the per-seed scores and `cells`
    * (vec_id, cell = the argmax-cosine seed, ties to the lower seed id),
    * which also carries v when `keepVec`. `scored` names the score CTE.
    */
  private[queries] def seededCellsSql(keepVec: Boolean, scored: String = "scored"): String = {
    val v = if (keepVec) "v, " else ""
    "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings), " +
    "c AS (SELECT vec_id cid, v cv FROM e WHERE vec_id < 32), " +
    s"$scored AS (SELECT e.vec_id, ${if (keepVec) "e.v, " else ""}c.cid, " +
    s"round(${cosineSql("e.v", "c.cv")}, 6) cs FROM e CROSS JOIN c), " +
    s"cells AS (SELECT vec_id, ${v}cid AS cell FROM $scored " +
    "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) = 1)"
  }

  /** Exact-cosine rerank of a (vec_id, adc) `shortlist` against query
    * vector `qid`: the top 10 by cosine rounded to 6, ties to the lower
    * vec_id, with the shortlist's adc score kept.
    */
  private[queries] def cosineRerank(s: SparkSession, dir: String, shortlist: DataFrame,
      qid: Int): DataFrame = {
    val q = embWithNorm(s, dir).filter(col("vec_id") === qid)
      .select(col("v").as("qv"), col("nv").as("nq"))
    embWithNorm(s, dir)
      .join(broadcast(shortlist), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("adc"),
        round(VectorOps.dot(col("qv"), col("v")) / sqrt(col("nq") * col("nv")), 6)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Every embedding component as integer micros: (vec_id, i, xi). */
  private[queries] def embComponents(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"),
        round(col("x").cast("double") * 1000000.0).cast("long").as("xi"))

  val entries: Seq[NamedQuery] = withRecallReport(Seq(

    // Brute-force cosine top-k vs query vector (vec_id=0): map-side
    // score + TakeOrderedAndProject — the honest 100 TB baseline scan.
    // Scores run on the raw float arrays via the native DotProduct
    // (widens per-element — bit-identical to casting first, but the
    // projection stays inside whole-stage codegen).
    // The query vector's norm is computed ONCE (in the 1-row broadcast
    // side), not per scanned row — the per-row cost is one dot + one
    // norm instead of three dots. Body in [[cosineTopFrame]] (shared
    // with search_hybrid_rrf's vector arm).
    NamedQuery("sim_cosine_topk", (s, dir) => cosineTopFrame(s, dir),
      simCosineTopkSql),

    // Scalar-quantized (int8-SQ) similarity — the MEMORY-scale path
    // next to sim_cosine_topk's compute baseline: per-dim uniform
    // 0..255 codes shrink a float32 corpus 4x (100 TB of embeddings
    // reads as 25 TB), and scoring becomes integer multiply-adds.
    // Training IS one aggregate: per-dim min/max with map-side partial
    // aggregation, so the exchange carries 64 rows per partition, not
    // the corpus; the learned ranges collapse to ONE broadcast row.
    // Quantize + reconstruct + score are pure map-side array
    // expressions and the top-k is a TakeOrderedAndProject. Scoring
    // runs on AFFINE RECONSTRUCTIONS (mn + q*step —
    // VectorOps.reconstructSq8 documents why a symmetric raw-code dot
    // ranks garbage: measured 0/10 overlap with the exact top-10 on
    // the test embeddings, vs 10/10 reconstructed;
    // ExtensionInvariantsSpec pins the recall). The oracle replays
    // the pinned training/assignment/reconstruction arithmetic, with
    // round(6) at the edge absorbing summation-order ulps (the
    // cosine-query contract).
    NamedQuery("sim_sq8_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val mm = emb
        .select(posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy(col("i"))
        .agg(min(col("x").cast("double")).as("mn"),
          max(col("x").cast("double")).as("mx"))
      val mmRow = mm
        .groupBy()
        .agg(array_sort(collect_list(struct(col("i"), col("mn"), col("mx")))).as("a"))
        .select(transform(col("a"), m => m.getField("mn")).as("mns"),
          transform(col("a"), m => m.getField("mx")).as("mxs"))
      // ONE broadcast row carries the codebook AND the already-
      // quantized query vector (the 1-row query scan joins the ranges
      // inside the broadcast build), so the corpus is scanned exactly
      // once with a single broadcast join — no second reference to the
      // training subtree, one fewer stage on the critical path
      def recon(v: Column) = VectorOps.sq8Approx(v, col("mns"), col("mxs"))
      val bank = mmRow
        .crossJoin(broadcast(
          emb.filter(col("vec_id") === 7).select(col("embedding").as("qe"))))
        .select(col("mns"), col("mxs"), recon(col("qe")).as("rq"))
      emb.filter(col("vec_id") =!= 7)
        .crossJoin(broadcast(bank))
        .select(col("vec_id"),
          round(VectorOps.dot(recon(col("embedding")), col("rq")), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },
      // min/max training, the pinned code assignment, and the affine
      // reconstruction replay exactly; round(6) absorbs summation-
      // order ulps (the cosine-query contract)
      "WITH e AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) x FROM embeddings " +
      "CROSS JOIN (SELECT unnest(generate_series(1, 64)) i)), " +
      "mm AS (SELECT i, min(x) mn, max(x) mx FROM e GROUP BY i), " +
      // least/greatest replay the engine's [0, 255] clamp — a no-op
      // while training covers the query vector, load-bearing the day
      // the query is quantized against a previously-trained codebook
      "q AS (SELECT vec_id, e.i, mn + CAST(CASE WHEN mx = mn THEN 0 " +
      "ELSE least(255, greatest(0, floor((x - mn) * 255 / (mx - mn) + 0.5))) END AS BIGINT) * (mx - mn) / 255 AS r " +
      "FROM e JOIN mm ON e.i = mm.i), " +
      "qq AS (SELECT i, r AS rq FROM q WHERE vec_id = 7) " +
      "SELECT q.vec_id, round(SUM(q.r * qq.rq), 6) AS score " +
      "FROM q JOIN qq ON q.i = qq.i WHERE q.vec_id <> 7 " +
      "GROUP BY q.vec_id ORDER BY score DESC, vec_id LIMIT 10"),

    // Product quantization (PQ) — the MEMORY-scale rung beyond SQ8:
    // sq8 stores one byte PER DIMENSION (4x smaller than float32); PQ
    // stores one byte PER SUBSPACE — 8 subspaces x 8 dims here, so a
    // 256-byte vector becomes an 8-byte code (32x) and 100 TB of
    // embeddings serves from ~3 TB. Training is the seededCells
    // recipe PER SUBSPACE: the first 256 vectors' subvectors are the
    // subspace codebook (bounded driver collect, 256 x 8 floats x 8
    // banks), assignment is the SAME argmax-round6-cosine/tie-lower
    // contract as sim_ivf_topk via per-subspace SeededCellArgmax
    // expressions — pure map-side, ZERO exchange in the whole plan.
    // Scoring is ASYMMETRIC (ADC): the RAW query against each
    // vector's reconstruction = sum over subspaces of dot(q_sub,
    // codeword) — 8 lookups into broadcast-literal tables of
    // precomputed dots, never a reconstruction materialized per row
    // (the sq8 recall lesson generalized: score reconstructions, keep
    // the query exact). The oracle replays subspace slicing,
    // assignment, and the ordered table-sum; round(6) at the edge
    // absorbs the sum-order ulps of adding the 8 subspace dots (the
    // cosine-query contract). Recall vs the exact scan is pinned in
    // ExtensionInvariantsSpec — coarse 256-codeword quantization on
    // near-random vectors is honest about its limits there.
    NamedQuery("sim_pq_topk", (s, dir) => {
      val (banks, tables) = pqCodebook(s, dir, qid = 299L)
      Tables.embeddings(s, dir).filter(col("vec_id") =!= 299)
        .select(col("vec_id"),
          round(pqAdcScore(banks, tables, pqSlice(col("embedding"))), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },
      // subspace slicing + the seeded argmax-round6-cosine assignment
      // per subspace + asymmetric table scoring; list(t ORDER BY s)
      // keeps the 8 subspace dots summing in the engine's left-to-
      // right order, and round(6) absorbs the residual ulps
      "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings), " +
      "subn AS (SELECT vec_id, s, v[(s*8+1):(s*8+8)] AS sv, " +
      "list_sum(list_transform(v[(s*8+1):(s*8+8)], x -> x*x)) AS nv " +
      "FROM e CROSS JOIN (SELECT unnest(generate_series(0, 7)) s)), " +
      "c AS (SELECT vec_id AS cid, s, sv AS cv, nv AS nc FROM subn WHERE vec_id < 256), " +
      "scored AS (SELECT t.vec_id, t.s, c.cid, round(" +
      "list_sum(list_transform(list_zip(t.sv, c.cv), p -> p[1]*p[2])) / sqrt(t.nv * c.nc), 6) cs " +
      "FROM subn t JOIN c ON t.s = c.s), " +
      "codes AS (SELECT vec_id, s, cid FROM scored " +
      "QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY cs DESC, cid) = 1), " +
      "q AS (SELECT s, sv AS qv FROM subn WHERE vec_id = 299), " +
      "adc AS (SELECT codes.vec_id, codes.s, " +
      "list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) AS t " +
      "FROM codes JOIN c ON codes.s = c.s AND codes.cid = c.cid JOIN q ON q.s = codes.s) " +
      "SELECT vec_id, round(list_sum(list(t ORDER BY s)), 6) AS score FROM adc " +
      "WHERE vec_id <> 299 GROUP BY vec_id ORDER BY score DESC, vec_id LIMIT 10"),

    // ENERGY-BALANCED PQ — the OPQ idea's SQL-replayable core next to
    // sim_pq_topk's contiguous slices: dims dealt round-robin into
    // subspaces by descending corpus second moment (exact integer
    // micro sums — the permutation carries NO rounding contract), so
    // every subspace codes one dim from each energy octile instead of
    // whatever order the embedding happens to ship. Serving is the
    // identical zero-exchange ADC shape (scan -> 8 native argmax
    // lookups over permuted gathers -> table sum ->
    // TakeOrderedAndProject); the oracle replays moment ranking,
    // permutation, assignment and the ordered table sum end to end.
    NamedQuery("sim_pq_balanced_topk", (s, dir) => {
      val (banks, tables, perm) = pqBalancedCodebook(s, dir, qid = 293L)
      val score = pqAdcScore(banks, tables, si => pqBalancedSub(col("embedding"), perm(si)))
      Tables.embeddings(s, dir).filter(col("vec_id") =!= 293)
        .select(col("vec_id"), round(score, 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },
      // the sim_pq_topk replay with PERMUTED subspace gathers: integer
      // micro second moments rank the dims (exact — ties on the dim),
      // round-robin deal, subvectors rebuilt as list(v[i] ORDER BY
      // slot); assignment and the ordered ADC sum are verbatim
      "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings), " +
      "en AS (SELECT i, CAST(SUM(xi*xi) AS BIGINT) e2 FROM " +
      "(SELECT unnest(generate_series(1, len(embedding))) i, " +
      "CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) xi " +
      "FROM embeddings) GROUP BY i), " +
      "pm AS MATERIALIZED (SELECT i, (r - 1) % 8 s, (r - 1) // 8 slot FROM " +
      "(SELECT i, row_number() OVER (ORDER BY e2 DESC, i) r FROM en)), " +
      "sub0 AS (SELECT e.vec_id, pm.s, list(e.v[pm.i] ORDER BY pm.slot) sv " +
      "FROM e CROSS JOIN pm GROUP BY e.vec_id, pm.s), " +
      "subn AS MATERIALIZED (SELECT vec_id, s, sv, " +
      "list_sum(list_transform(sv, x -> x*x)) AS nv FROM sub0), " +
      "c AS (SELECT vec_id AS cid, s, sv AS cv, nv AS nc FROM subn WHERE vec_id < 256), " +
      "scored AS (SELECT t.vec_id, t.s, c.cid, round(" +
      "list_sum(list_transform(list_zip(t.sv, c.cv), p -> p[1]*p[2])) / sqrt(t.nv * c.nc), 6) cs " +
      "FROM subn t JOIN c ON t.s = c.s), " +
      "codes AS (SELECT vec_id, s, cid FROM scored " +
      "QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY cs DESC, cid) = 1), " +
      "q AS (SELECT s, sv AS qv FROM subn WHERE vec_id = 293), " +
      "adc AS (SELECT codes.vec_id, codes.s, " +
      "list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) AS t " +
      "FROM codes JOIN c ON codes.s = c.s AND codes.cid = c.cid JOIN q ON q.s = codes.s) " +
      "SELECT vec_id, round(list_sum(list(t ORDER BY s)), 6) AS score FROM adc " +
      "WHERE vec_id <> 293 GROUP BY vec_id ORDER BY score DESC, vec_id LIMIT 10"),

    // ADC-shortlist + EXACT-rerank — the production answer to PQ's
    // recall ceiling (FAISS's standard two-stage serve): the 8-byte
    // ADC scan ranks a k'=50 shortlist (TakeOrderedAndProject over the
    // code scan — the only corpus-wide stage), then the 50 full
    // vectors fetch back (answer-sized broadcast join; at scale an
    // id-pruned point lookup) and rerank by EXACT cosine. Quantization
    // error only has to keep true neighbors inside the top-50, not
    // rank them — which is why this rung's recall invariant is pinned
    // NEAR-EXACT (>= 9/10) where raw ADC honestly sits at 4-8/10.
    // Seeded banks (query 294), so the whole two-stage plan replays in
    // SQL and the hash gate covers shortlist AND rerank.
    NamedQuery("sim_pq_rerank_topk", (s, dir) => {
      val (banks, tables) = pqCodebook(s, dir, qid = 294L)
      val shortlist = Tables.embeddings(s, dir).filter(col("vec_id") =!= 294)
        .select(col("vec_id"),
          round(pqAdcScore(banks, tables, pqSlice(col("embedding"))), 6).as("adc"))
        .orderBy(col("adc").desc, col("vec_id"))
        .limit(50)
      cosineRerank(s, dir, shortlist, 294)
    },
      // the sim_pq_topk derivation (query 294) cut at a 50-row
      // shortlist, then exact-cosine rerank over the fetched vectors
      "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings), " +
      "subn AS (SELECT vec_id, s, v[(s*8+1):(s*8+8)] AS sv, " +
      "list_sum(list_transform(v[(s*8+1):(s*8+8)], x -> x*x)) AS nv " +
      "FROM e CROSS JOIN (SELECT unnest(generate_series(0, 7)) s)), " +
      "c AS (SELECT vec_id AS cid, s, sv AS cv, nv AS nc FROM subn WHERE vec_id < 256), " +
      "scored AS (SELECT t.vec_id, t.s, c.cid, round(" +
      "list_sum(list_transform(list_zip(t.sv, c.cv), p -> p[1]*p[2])) / sqrt(t.nv * c.nc), 6) cs " +
      "FROM subn t JOIN c ON t.s = c.s), " +
      "codes AS (SELECT vec_id, s, cid FROM scored " +
      "QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY cs DESC, cid) = 1), " +
      "q AS (SELECT s, sv AS qv FROM subn WHERE vec_id = 294), " +
      "adct AS (SELECT codes.vec_id, codes.s, " +
      "list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) AS t " +
      "FROM codes JOIN c ON codes.s = c.s AND codes.cid = c.cid JOIN q ON q.s = codes.s), " +
      "sl AS (SELECT vec_id, round(list_sum(list(t ORDER BY s)), 6) AS adc FROM adct " +
      "WHERE vec_id <> 294 GROUP BY vec_id ORDER BY adc DESC, vec_id LIMIT 50), " +
      "qf AS (SELECT v qv, list_sum(list_transform(v, x -> x*x)) nq FROM e WHERE vec_id = 294), " +
      "r AS (SELECT sl.vec_id, sl.adc, round(" +
      "list_sum(list_transform(list_zip(qf.qv, e.v), p -> p[1]*p[2])) / " +
      "sqrt(qf.nq * list_sum(list_transform(e.v, x -> x*x))), 6) AS cos_sim " +
      "FROM sl JOIN e ON sl.vec_id = e.vec_id, qf) " +
      "SELECT vec_id, adc, cos_sim FROM r ORDER BY cos_sim DESC, vec_id LIMIT 10"),

    // IVF x PQ — the COMPOSITE 100 TB serving architecture, and the
    // reason both rungs exist: IVF alone prunes candidates (read n/32
    // of the corpus per probe) but still pays float32 memory; PQ alone
    // compresses 32x but scans every code. Composed, a probe touches
    // n/32 candidates at 8 bytes each — the shape FAISS/ScaNN-class
    // systems deploy. Coarse quantizer = the SAME 32 seed centroids /
    // argmax-round6-cosine contract as sim_ivf_topk (one full-vector
    // native assignment per row); fine scoring = the SAME per-subspace
    // codes + asymmetric ADC tables as sim_pq_topk (8 native argmaxes
    // + 8 broadcast-literal lookups), both pure map-side, so the whole
    // plan is scan -> assign -> broadcast 1-row probe -> filter to the
    // probe's cell -> ADC score -> TakeOrderedAndProject: ZERO shuffle
    // exchange (plan-audited). Distinct query (vec_id 298) so the
    // rung's ADC tables memoize beside sim_pq_topk's rather than
    // replacing them — the banks themselves build once per dir.
    NamedQuery("sim_ivfpq_topk", (s, dir) => {
      val bank = seedCentroidBank(s, dir)
      val (banks, tables) = pqCodebook(s, dir, qid = 298L)
      val qCell = assignSeededCells(
          embWithNorm(s, dir).filter(col("vec_id") === 298), bank)
        .select(col("cell").as("qcell"))
      assignSeededCells(embWithNorm(s, dir), bank).crossJoin(broadcast(qCell))
        .filter(col("cell") === col("qcell") && col("vec_id") =!= 298)
        .select(col("vec_id"),
          round(pqAdcScore(banks, tables, pqSlice(col("v"))), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },
      // the sim_ivf_topk cell CTE (coarse prune to the probe's cell)
      // composed with the sim_pq_topk code/ADC CTEs (fine scoring);
      // query vec_id 298, both stages replayed verbatim
      s"WITH ${seededCellsSql(keepVec = false, scored = "cscored")}, " +
      "qc AS (SELECT cell qcell FROM cells WHERE vec_id = 298), " +
      "subn AS (SELECT vec_id, s, v[(s*8+1):(s*8+8)] AS sv, " +
      "list_sum(list_transform(v[(s*8+1):(s*8+8)], x -> x*x)) AS nv " +
      "FROM e CROSS JOIN (SELECT unnest(generate_series(0, 7)) s)), " +
      "pc AS (SELECT vec_id AS cid, s, sv AS cv, nv AS nc FROM subn WHERE vec_id < 256), " +
      "pscored AS (SELECT t.vec_id, t.s, pc.cid, round(" +
      "list_sum(list_transform(list_zip(t.sv, pc.cv), p -> p[1]*p[2])) / sqrt(t.nv * pc.nc), 6) cs " +
      "FROM subn t JOIN pc ON t.s = pc.s), " +
      "codes AS (SELECT vec_id, s, cid FROM pscored " +
      "QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY cs DESC, cid) = 1), " +
      "q AS (SELECT s, sv AS qv FROM subn WHERE vec_id = 298), " +
      "adc AS (SELECT codes.vec_id, codes.s, " +
      "list_sum(list_transform(list_zip(q.qv, pc.cv), p -> p[1]*p[2])) AS t " +
      "FROM codes JOIN pc ON codes.s = pc.s AND codes.cid = pc.cid JOIN q ON q.s = codes.s) " +
      "SELECT adc.vec_id, round(list_sum(list(t ORDER BY s)), 6) AS score " +
      "FROM adc JOIN cells ON adc.vec_id = cells.vec_id CROSS JOIN qc " +
      "WHERE cells.cell = qc.qcell AND adc.vec_id <> 298 " +
      "GROUP BY adc.vec_id ORDER BY score DESC, adc.vec_id LIMIT 10"),

    // MULTI-PROBE residual IVF x PQ — FAISS nprobe=2: the single-probe
    // rung misses neighbors sitting just across a cell boundary; the
    // standard fix probes the query's 2 nearest coarse cells. Each
    // branch re-residualizes the QUERY against ITS cell's centroid
    // (codewords are shared — seed residuals don't depend on the
    // probe) and the two map-side branches union into one
    // TakeOrderedAndProject: candidates scanned = 2n/32, still ZERO
    // exchange. Distinct query (vec 296) so codebooks memoize beside
    // the single-probe rung's.
    NamedQuery("sim_ivfpq_multiprobe_topk", (s, dir) => {
      val bank = seedCentroidBank(s, dir)
      val branches = resPqMultiCodebook(s, dir, qid = 296L, probes = 2)
      val base = assignSeededCells(embWithNorm(s, dir), bank)
        .filter(col("vec_id") =!= 296)
      branches.map { case (cell, (rbanks, rtables)) =>
        base.filter(col("cell") === lit(cell))
          .select(col("vec_id"),
            round(resAdcDist(rbanks, rtables, col("v")), 6).as("adc_dist"))
      }.reduce(_.unionByName(_))
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(10)
    },
      // the residual-rung CTEs with nprobe=2: the query's TOP-2 cells
      // by the coarse contract (round6 cosine desc, cid tiebreak),
      // and the ADC q-residual re-derived PER PROBED CELL — each
      // candidate scores against the q-residual of its own cell
      s"WITH ${seededCellsSql(keepVec = false, scored = "cscored")}, " +
      "qc AS (SELECT cid AS cell FROM (SELECT cid, " +
      "row_number() OVER (ORDER BY cs DESC, cid) rn FROM cscored WHERE vec_id = 296) " +
      "WHERE rn <= 2), " +
      "res AS (SELECT e.vec_id, list_transform(list_zip(e.v, c.cv), p -> p[1] - p[2]) AS r " +
      "FROM e JOIN cells ON e.vec_id = cells.vec_id JOIN c ON c.cid = cells.cell), " +
      "rsub AS (SELECT vec_id, s, r[(s*8+1):(s*8+8)] AS rv " +
      "FROM res CROSS JOIN (SELECT unnest(generate_series(0, 7)) s)), " +
      "rc AS (SELECT vec_id AS cid, s, rv AS cw FROM rsub WHERE vec_id < 256), " +
      "rscored AS (SELECT t.vec_id, t.s, rc.cid, round(" +
      "list_sum(list_transform(list_zip(t.rv, rc.cw), p -> (p[1]-p[2])*(p[1]-p[2]))), 6) d " +
      "FROM rsub t JOIN rc ON t.s = rc.s), " +
      "codes AS (SELECT vec_id, s, cid FROM rscored " +
      "QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) = 1), " +
      "qres AS (SELECT qc.cell, list_transform(list_zip(q.v, cc.cv), p -> p[1] - p[2]) r " +
      "FROM qc JOIN c cc ON cc.cid = qc.cell CROSS JOIN e q WHERE q.vec_id = 296), " +
      "qsub AS (SELECT cell, s, r[(s*8+1):(s*8+8)] qv " +
      "FROM qres CROSS JOIN (SELECT unnest(generate_series(0, 7)) s)), " +
      "adc AS (SELECT codes.vec_id, codes.s, " +
      "list_sum(list_transform(list_zip(qsub.qv, rc.cw), p -> (p[1]-p[2])*(p[1]-p[2]))) AS t " +
      "FROM codes JOIN rc ON codes.s = rc.s AND codes.cid = rc.cid " +
      "JOIN cells ON cells.vec_id = codes.vec_id " +
      "JOIN qsub ON qsub.s = codes.s AND qsub.cell = cells.cell) " +
      "SELECT adc.vec_id, round(list_sum(list(t ORDER BY s)), 6) AS adc_dist " +
      "FROM adc JOIN cells ON adc.vec_id = cells.vec_id " +
      "WHERE cells.cell IN (SELECT cell FROM qc) AND adc.vec_id <> 296 " +
      "GROUP BY adc.vec_id ORDER BY adc_dist, adc.vec_id LIMIT 10"),

    // RESIDUAL IVF x PQ — the faithful FAISS IndexIVFPQ: where
    // sim_ivfpq_topk PQ-encodes RAW vectors, this rung encodes each
    // vector's residual against its coarse centroid, so the 256
    // codewords only span the within-cell spread (the precision win
    // that makes residual encoding the deployment standard), and
    // scoring is nearest-by-L2 ADC on the query residual — top-k by
    // SMALLEST distance, the metric FAISS serves. The probe cell and
    // the codebook come from the memoized build (bounded 257-row
    // collect through the same native assignment the corpus uses), so
    // the plan is scan -> native 32-cell assign -> literal-cell filter
    // -> 8 native residual argmins + table lookups ->
    // TakeOrderedAndProject: ZERO exchange, like its siblings.
    NamedQuery("sim_ivfpq_residual_topk", (s, dir) => {
      val bank = seedCentroidBank(s, dir)
      val Seq((qcell, (rbanks, rtables))) = resPqMultiCodebook(s, dir, qid = 297L, probes = 1)
      assignSeededCells(embWithNorm(s, dir), bank)
        .filter(col("cell") === lit(qcell) && col("vec_id") =!= 297)
        .select(col("vec_id"),
          round(resAdcDist(rbanks, rtables, col("v")), 6).as("adc_dist"))
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(10)
    },
      // the sim_ivfpq coarse CTEs, but PQ codes/ADC run on RESIDUALS
      // (v minus the OWN cell's centroid, exact double arithmetic) and
      // scoring is squared-L2 argmin / ADC sum ascending — round(6)
      // BEFORE each argmin (ties to the lower cid), query vec_id 297
      s"WITH ${seededCellsSql(keepVec = false, scored = "cscored")}, " +
      "qc AS (SELECT cell qcell FROM cells WHERE vec_id = 297), " +
      "res AS (SELECT e.vec_id, list_transform(list_zip(e.v, c.cv), p -> p[1] - p[2]) AS r " +
      "FROM e JOIN cells ON e.vec_id = cells.vec_id JOIN c ON c.cid = cells.cell), " +
      "rsub AS (SELECT vec_id, s, r[(s*8+1):(s*8+8)] AS rv " +
      "FROM res CROSS JOIN (SELECT unnest(generate_series(0, 7)) s)), " +
      "rc AS (SELECT vec_id AS cid, s, rv AS cw FROM rsub WHERE vec_id < 256), " +
      "rscored AS (SELECT t.vec_id, t.s, rc.cid, round(" +
      "list_sum(list_transform(list_zip(t.rv, rc.cw), p -> (p[1]-p[2])*(p[1]-p[2]))), 6) d " +
      "FROM rsub t JOIN rc ON t.s = rc.s), " +
      "codes AS (SELECT vec_id, s, cid FROM rscored " +
      "QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) = 1), " +
      "q AS (SELECT s, rv AS qv FROM rsub WHERE vec_id = 297), " +
      "adc AS (SELECT codes.vec_id, codes.s, " +
      "list_sum(list_transform(list_zip(q.qv, rc.cw), p -> (p[1]-p[2])*(p[1]-p[2]))) AS t " +
      "FROM codes JOIN rc ON codes.s = rc.s AND codes.cid = rc.cid JOIN q ON q.s = codes.s) " +
      "SELECT adc.vec_id, round(list_sum(list(t ORDER BY s)), 6) AS adc_dist " +
      "FROM adc JOIN cells ON adc.vec_id = cells.vec_id CROSS JOIN qc " +
      "WHERE cells.cell = qc.qcell AND adc.vec_id <> 297 " +
      "GROUP BY adc.vec_id ORDER BY adc_dist, adc.vec_id LIMIT 10"),

    // IVF-style ANN: coarse quantizer = 32 seed centroids (vec_id
    // 0..31 — up from 8: per-probe candidate set shrinks from n/8 to
    // n/32 while staying SQL-replayable); every vector is assigned to
    // its argmax-cosine cell (scores rounded to 6 BEFORE argmax so both
    // engines agree); the query (vec_id=42) probes only its own cell.
    // At scale: partition the index by cell, read one partition per
    // probe (see Similarity.probeIndex for the persisted variant).
    NamedQuery("sim_ivf_topk", (s, dir) => {
      // ONE centroid bank per query, shared by the probe side and the
      // corpus side (content-equal, so Catalyst canonicalizes the two
      // assignment expressions identically). The probe locates the
      // query's cell by scoring ONE row (filter pushed to the scan);
      // the corpus side is a pure map-side projection — the whole plan
      // has no shuffle exchange at all: scan -> assign -> broadcast
      // 1-row probe -> filter to the probe's cell -> score ->
      // TakeOrderedAndProject (asserted in PlanAuditSpec).
      val bank = seedCentroidBank(s, dir)
      val qCell = assignSeededCells(
          embWithNorm(s, dir).filter(col("vec_id") === 42), bank)
        .select(col("v").as("qv"), col("nv").as("nq"), col("cell").as("qcell"))
      assignSeededCells(embWithNorm(s, dir), bank).crossJoin(broadcast(qCell))
        .filter(col("cell") === col("qcell") && col("vec_id") =!= 42)
        .select(col("vec_id"),
          round(VectorOps.dot(col("qv"), col("v")) / sqrt(col("nq") * col("nv")), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(5)
    },
      s"WITH ${seededCellsSql(keepVec = false)}, " +
      "wc AS (SELECT e.vec_id, e.v, cells.cell FROM e JOIN cells USING (vec_id)), " +
      "q AS (SELECT v qv, cell qcell FROM wc WHERE vec_id = 42) " +
      s"SELECT wc.vec_id, round(${cosineSql("q.qv", "wc.v")}, 6) AS cos_sim FROM wc, q WHERE wc.cell = q.qcell AND wc.vec_id <> 42 " +
      "ORDER BY cos_sim DESC, vec_id LIMIT 5"),

    // Range search — the OTHER vector-serving API (FAISS range_search):
    // every in-cell vector within a cosine RADIUS of the query, not a
    // fixed k. Same zero-exchange shape as sim_ivf_topk (native seeded
    // assignment, broadcast 1-row probe, literal-cell filter), but the
    // tail is a threshold filter + order by id instead of
    // TakeOrderedAndProject — the answer size is data-dependent, which
    // is exactly why serving systems expose both APIs. round(6) before
    // the >= gate (the shared cut contract).
    NamedQuery("sim_range_search", (s, dir) => {
      val bank = seedCentroidBank(s, dir)
      val qCell = assignSeededCells(
          embWithNorm(s, dir).filter(col("vec_id") === 295), bank)
        .select(col("v").as("qv"), col("nv").as("nq"), col("cell").as("qcell"))
      assignSeededCells(embWithNorm(s, dir), bank).crossJoin(broadcast(qCell))
        .filter(col("cell") === col("qcell") && col("vec_id") =!= 295)
        .withColumn("cos_sim",
          round(VectorOps.dot(col("qv"), col("v")) / sqrt(col("nq") * col("nv")), 6))
        .filter(col("cos_sim") >= 0.1)
        .select(col("vec_id"), col("cos_sim"))
        .orderBy(col("vec_id"))
    },
      // the sim_ivf_topk cell derivation with a radius cut instead of
      // a LIMIT; round(6) before the >= gate in both engines
      s"WITH ${seededCellsSql(keepVec = false)}, " +
      "wc AS (SELECT e.vec_id, e.v, cells.cell FROM e JOIN cells USING (vec_id)), " +
      "q AS (SELECT v qv, cell qcell FROM wc WHERE vec_id = 295), " +
      s"sc AS (SELECT wc.vec_id, round(${cosineSql("q.qv", "wc.v")}, 6) AS cos_sim FROM wc, q WHERE wc.cell = q.qcell AND wc.vec_id <> 295) " +
      "SELECT vec_id, cos_sim FROM sc WHERE cos_sim >= 0.1 ORDER BY vec_id"),

    // BATCHED ANN serving — the throughput path: 4 queries share ONE
    // corpus scan (the query table broadcasts; per-row work is 4 dot
    // products) and the per-query top-5 comes from the bounded TopK
    // aggregate keyed by query id — map-side partials ship <= 5 rows
    // per query per partition, so the whole batch costs one scan + one
    // k-bounded exchange no matter how many queries ride it. Scores
    // rank as integer micro-cosines (round(cos * 1e6), identical in
    // both engines) — the TopK buffer is integer-ordered, no double
    // comparisons in state.
    // FILTERED vector search — the composition every vector store
    // struggles with (predicate + ANN): cosine top-k restricted to a
    // metadata slice (label = 3). At this corpus the honest plan is
    // the filtered brute scan with the label predicate PUSHED TO THE
    // PARQUET SCAN (PlanAuditSpec pins PushedFilters — the scan reads
    // ~1/10th of the rows before any arithmetic); at index scale the
    // same predicate rides into the cell/bucket scans of the persisted
    // indexes (the partition-pruning machinery sim_ivf_topk_indexed
    // already proves). Same scoring/rounding/tiebreak contract as
    // sim_cosine_topk.
    NamedQuery("sim_filtered_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"), VectorOps.norm2(col("embedding")).as("nq"))
      emb.filter(col("vec_id") =!= 0 && col("label") === 3)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"),
          round(VectorOps.dot(col("qv"), col("embedding")) /
            sqrt(col("nq") * VectorOps.norm2(col("embedding"))), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },
      // the sim_cosine_topk replay restricted to the label slice
      "WITH q AS (SELECT embedding qe FROM embeddings WHERE vec_id = 0), " +
      "s AS (SELECT vec_id, label, " +
      "list_sum(list_transform(list_zip(qe, embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) dot, " +
      "list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) nq, " +
      "list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) nv " +
      "FROM embeddings, q WHERE vec_id <> 0 AND label = 3) " +
      "SELECT vec_id, label, round(dot/sqrt(nq*nv), 6) AS cos_sim FROM s " +
      "ORDER BY cos_sim DESC, vec_id LIMIT 10"),

    // MMR diversification (Maximal Marginal Relevance, Carbonell &
    // Goldstein) — the rerank rung above the ANN ladder: from the
    // cosine top-20 candidate window, greedily pick 10 results
    // balancing relevance against redundancy (mmr = 0.5*rel -
    // 0.5*max-sim-to-already-picked, empty-set max = 0, rounded at
    // the edge, ties to the lower vec_id). The candidate scan is the
    // distributed part (one corpus pass + TakeOrderedAndProject);
    // the greedy runs on the DRIVER over the collected 20-row window
    // — the BpeTrainer convention: rerank windows are bounded by
    // contract in any real system, and a 20x20 rounded-cosine matrix
    // is the centroid-collect class, not a corpus collect. Local
    // arithmetic mirrors the engine exactly (sequential
    // left-to-right widening dot, round-half-away-from-zero), so the
    // oracle's 10 chained greedy CTEs replay it bit-for-bit.
    NamedQuery("sim_mmr_rerank", (s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"), VectorOps.norm2(col("embedding")).as("nq"))
      val cand = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("embedding"),
          round(VectorOps.dot(col("qv"), col("embedding")) /
            sqrt(col("nq") * VectorOps.norm2(col("embedding"))), 6).as("rel"))
        .orderBy(col("rel").desc, col("vec_id"))
        .limit(20)
      val window = cand.collect().map(r =>
        (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          d += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble
          i += 1
        }
        r6(d / math.sqrt(na * nb))
      }
      val remaining = scala.collection.mutable.LinkedHashMap(
        window.map(t => t._1 -> t).toIndexedSeq: _*)
      val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double, Double)]
      for (rank <- 1 to math.min(10, window.length)) {
        val best = remaining.valuesIterator.map { case (id, v, rel) =>
          val mp = if (selected.isEmpty) 0.0
            else selected.iterator.map(sv => cos(v, sv._2)).max
          (id, rel, mp, r6(0.5 * rel - 0.5 * mp))
        }.minBy { case (id, _, _, m) => (-m, id) }
        out += ((rank.toLong, best._1, best._2, best._3, best._4))
        selected += ((best._1, remaining(best._1)._2))
        remaining.remove(best._1)
      }
      s.createDataFrame(out.toSeq)
        .toDF("rk", "vec_id", "rel", "max_prev_sim", "mmr")
    },
      mmrOracleSql),

    NamedQuery("sim_batch_topk", (s, dir) =>
      exactCosineTopK(s, dir, Seq(290L, 291L, 292L, 293L), 5)
        .select(col("qid"), col("rk"), col("vec_id"), (col("score") / 1e6).as("cos_sim"))
        .orderBy(col("qid"), col("rk")),
      // 4 queries over one candidate derivation; integer micro-cosine
      // ranks (round(cos * 1e6)) replayed identically
      "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings), " +
      "q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id IN (290, 291, 292, 293)), " +
      "sc AS (SELECT q.qid, e.vec_id, CAST(round(" +
      cosineSql("q.qv", "e.v") +
      " * 1000000) AS BIGINT) score FROM e CROSS JOIN q WHERE e.vec_id <> q.qid), " +
      "r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) rk FROM sc) " +
      "SELECT qid, CAST(rk AS BIGINT) AS rk, vec_id, score/1000000.0 AS cos_sim " +
      "FROM r WHERE rk <= 5 ORDER BY qid, rk"),

    // IVF "training": per-label centroid vectors via the typed
    // MeanVector Aggregator (mutable sum buffer, associative merge =>
    // map-side partial aggregation; one buffer per group per partition
    // on the wire). Output exploded to (label, dim, value) scalars for
    // engine-portable comparison.
    NamedQuery("sim_centroids", (s, dir) => {
      import s.implicits._
      val mv = new graft.functions.VectorAgg.MeanVector(64)
      Tables.embeddings(s, dir)
        .select(col("label"), col("embedding")).as[(Int, Array[Float])]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(mv.toColumn.name("centroid"))
        .toDF("label", "centroid")
        .select(col("label"), posexplode(col("centroid")).as(Seq("i0", "c")))
        .select(col("label"), (col("i0") + 1).cast("int").as("i"),
          round(col("c"), 6).as("c"))
        .orderBy(col("label"), col("i"))
    },
      "SELECT label, i, round(avg(v), 6) AS c FROM " +
      "(SELECT label, i, CAST(embedding[i] AS DOUBLE) v FROM embeddings " +
      "CROSS JOIN (SELECT unnest(generate_series(1, 64)) i)) " +
      "GROUP BY label, i ORDER BY label, i"),

    // Spherical k-means over the embedding corpus (k = 8, seeds =
    // vec_id 0..7, two Lloyd refinements + a final assignment) — the
    // clustering stage of cluster-balanced curation (SemDeDup-style
    // pipelines cluster first, then dedup/sample within clusters).
    // Determinism: the crawl_pagerank fixed-point recipe lifted to
    // vectors — components are micro ints (embMicro), so dot products,
    // norms, and the per-dim mean numerators are EXACT integer
    // arithmetic in doubles on both engines; the only non-integer steps
    // (score division + round(6) before argmax, floor of the exact
    // mean) are single IEEE ops on identical operands. Assignment ties
    // go to the lower cid (CentroidBank order = QUALIFY cs DESC, cid).
    // Scale shape: each Lloyd iteration is ONE corpus pass — a pure
    // map-side native argmax (zero exchange) feeding a (cluster, dim)
    // partial aggregate whose exchange carries <= k x 64 rows per
    // partition; the refined centroids collapse to a bounded driver
    // bank (k x dim micro ints — the codebook-collect class). The
    // corpus is never cached driver-side; at 100 TB you'd persist the
    // micro frame across iterations, the loop structure is unchanged.
    // An emptied cluster simply drops out of the bank on BOTH engines
    // (assignment is deterministic), shrinking k for later rounds.
    NamedQuery("cluster_kmeans", (s, dir) =>
      kmeansClusters(s, dir).orderBy(col("vec_id")),
      clusterKmeansSql),

    // Clustering quality audit — simplified (centroid-based)
    // SILHOUETTE per cluster, the standard "did k-means actually find
    // structure" report a curation pipeline reads before trusting
    // cluster-balanced sampling: per vector, a = distance to its OWN
    // cluster's centroid, b = the nearest OTHER centroid; s =
    // (b - a) / max(a, b) in [-1, 1]. Determinism is the kmeans
    // recipe end to end: components quantized to INTEGER MICROS,
    // centroids = floor of the exact integer mean, squared distances
    // are exact integer arithmetic IN DOUBLES via d² = |v|² + |c|² -
    // 2·v·c (every term an exact integer bounded ~2.6e14 << 2^53 —
    // the embMicro discipline), the only true doubles are two sqrt's
    // + one division on identical operands, and each vector's s is
    // rounded to integer micros BEFORE the per-cluster sum
    // (order-free). Plan: one component explode feeds the centroid
    // aggregate (collapses to <= k x 64 rows, folded to k ARRAY
    // rows); distances are then ONE corpus scan crossJoined with the
    // k-row broadcast — one d² row per (vector, cluster), never a
    // per-component expansion — a vector-sized pivot and a k-row
    // rollup.
    NamedQuery("cluster_silhouette", (s, dir) => {
      // localCheckpoint: the centroid build AND the a/b pivot both
      // consume the assignment — uncheckpointed, the trained-bank
      // serving pass (argmax + sizes broadcast) runs twice. The frame
      // is (vec_id, cluster) longs.
      val km = kmeansClusters(s, dir).select(col("vec_id"), col("cluster"))
        .localCheckpoint()
      val comp = embComponents(s, dir)
      val cent = comp.join(km, Seq("vec_id"))
        .groupBy(col("cluster"), col("i"))
        .agg(floor(sum(col("xi")).cast("double") / count(lit(1)))
          .cast("long").as("ci"))
        .groupBy(col("cluster"))
        .agg(expr("transform(sort_array(collect_list(struct(i, ci))), " +
          "p -> cast(p.ci as double))").as("cv"))
        .select(col("cluster").as("k"), col("cv"),
          VectorOps.norm2(col("cv")).as("nc"))
      // the assignment rides the SAME scan as the distances (broadcast
      // of the vector-sized checkpointed km frame) so the a/b pivot is
      // a map-side partial aggregate with one exchange, not a join
      val ab = embMicro(s, dir)
        .join(broadcast(km), Seq("vec_id"))
        .crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cluster"), col("k"),
          (col("nv") + col("nc") -
            lit(2.0) * VectorOps.dot(col("v"), col("cv"))).as("d2"))
        .groupBy(col("vec_id"), col("cluster"))
        .agg(min(when(col("k") === col("cluster"), col("d2"))).as("a2"),
          min(when(col("k") =!= col("cluster"), col("d2"))).as("b2"))
      val sMicro = ab.select(col("cluster"),
        when(greatest(col("a2"), col("b2")) === 0L, lit(0L))
          .otherwise(round(
            (sqrt(col("b2").cast("double")) - sqrt(col("a2").cast("double"))) /
              greatest(sqrt(col("a2").cast("double")), sqrt(col("b2").cast("double")))
              * 1000000.0).cast("long")).as("s_micro"))
      sMicro.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("s_micro")).as("sil_sum_micro"))
        .select(col("cluster"), col("n_vecs"), col("sil_sum_micro"),
          round(col("sil_sum_micro").cast("double") /
            col("n_vecs").cast("double") / 1000000.0, 6).as("mean_sil"))
        .orderBy(col("cluster"))
    },
      // the cluster_kmeans oracle composed verbatim for assignments;
      // centroids = floor of the exact integer-micro mean per
      // (cluster, dim); squared distances are exact integer sums; the
      // sqrt/divide shape mirrors the Spark expression, per-vector
      // micros rounded BEFORE the cluster sum. si_ prefixes keep the
      // outer CTEs clear of the nested arm's names.
      s"WITH sikm AS ($clusterKmeansSql), " +
      "sic AS MATERIALIZED (SELECT e.vec_id, i, " +
      "CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) xi " +
      "FROM embeddings e, LATERAL (SELECT unnest(generate_series(1, len(embedding))) i)), " +
      "sict AS MATERIALIZED (SELECT km.cluster, c.i, " +
      "CAST(floor(SUM(c.xi) / COUNT(*)) AS BIGINT) ci " +
      "FROM sic c JOIN sikm km USING (vec_id) GROUP BY km.cluster, c.i), " +
      "sid AS (SELECT c.vec_id, t.cluster k, " +
      "CAST(SUM((c.xi - t.ci) * (c.xi - t.ci)) AS BIGINT) d2 " +
      "FROM sic c JOIN sict t USING (i) GROUP BY c.vec_id, t.cluster), " +
      "siab AS (SELECT d.vec_id, km.cluster, " +
      "MIN(CASE WHEN d.k = km.cluster THEN d.d2 END) a2, " +
      "MIN(CASE WHEN d.k <> km.cluster THEN d.d2 END) b2 " +
      "FROM sid d JOIN sikm km USING (vec_id) GROUP BY d.vec_id, km.cluster), " +
      "sis AS (SELECT cluster, CASE WHEN greatest(a2, b2) = 0 THEN 0 ELSE " +
      "CAST(round((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE))) / " +
      "greatest(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE))) * 1000000.0) AS BIGINT) " +
      "END s_micro FROM siab) " +
      "SELECT cluster, COUNT(*) AS n_vecs, " +
      "CAST(SUM(s_micro) AS BIGINT) AS sil_sum_micro, " +
      "round(CAST(SUM(s_micro) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS mean_sil " +
      "FROM sis GROUP BY cluster ORDER BY cluster"),

    // k-NN GRAPH construction — the batch primitive under SemDeDup
    // clustering, graph-based label propagation over embeddings, and
    // kNN-classifier curation: top-3 nearest neighbors per vector,
    // restricted to the vector's own seeded cell (the IVF
    // approximation — the exact brute-force graph is O(n²) dots; the
    // cell restriction is the SAME accuracy trade sim_ivf_topk makes,
    // and the honest contract is "neighbors within the probe cell").
    // Plan: the map-side native argmax assignment (zero exchange),
    // ONE self-join on the cell key — within-cell pair volume is the
    // sum(c²) bound the ScalePostureSpec 10x quantizer audit pins
    // (k ~ sqrt(n) keeps it ~linear) — then a per-vector top-3 window on the
    // join's own key. Determinism: cosine rounded to 6 BEFORE
    // ranking, ties to the lower neighbor id.
    NamedQuery("sim_knn_graph", (s, dir) => {
      val cells = seededCells(s, dir)
      val p = cells.as("x").join(cells.as("y"),
          col("x.cell") === col("y.cell") && col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("src"), col("y.vec_id").as("dst"),
          round(VectorOps.dot(col("x.v"), col("y.v")) /
            sqrt(col("x.nv") * col("y.nv")), 6).as("cos_sim"))
      val w = Window.partitionBy(col("src"))
        .orderBy(col("cos_sim").desc, col("dst"))
      p.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("src"), col("rk"), col("dst"), col("cos_sim"))
        .orderBy(col("src"), col("rk"))
    },
      // the dedup_embedding cell-assignment CTEs, then BOTH-direction
      // within-cell pairs and a per-source top-3 (cos DESC rounded to
      // 6 first, ties to the lower neighbor id)
      s"WITH ${seededCellsSql(keepVec = true)}, " +
      s"knp AS (SELECT a.vec_id src, b.vec_id dst, round(${cosineSql("a.v", "b.v")}, 6) cos_sim FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id <> b.vec_id), " +
      "knr AS (SELECT src, dst, cos_sim, " +
      "row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst) rk FROM knp) " +
      "SELECT src, CAST(rk AS BIGINT) AS rk, dst, cos_sim " +
      "FROM knr WHERE rk <= 3 ORDER BY src, rk"),

    // Embedding-space MIX diagnostic — per-source centroids and their
    // pairwise cosines: the "are my sources semantically distinct or
    // collapsed" readout a curation pipeline checks before trusting
    // source-stratified sampling (a pair at cos ~ 1 means two feeds
    // are the same distribution; sampling quotas between them are
    // fiction). Kmeans determinism recipe: micro-int components,
    // floor integer-mean centroids, cosine = double ops on identical
    // exact operands + round(6). Plan: one component explode, a
    // (source, dim)-sized aggregate, array fold, and a sources²-sized
    // pair join — nothing corpus-sized after the first aggregate.
    NamedQuery("sim_source_centroids", (s, dir) => {
      // The row-level (vec_id -> source) join runs BEFORE any component
      // expansion, and the centroid is ONE hash aggregate with 64 exact
      // integer component sums — map-side partials combine to k x 65
      // longs per partition, the Lloyd update's bounded-exchange shape.
      // Micro-int component sums, floor(sum/count) per component: values
      // are bit-identical to the oracle's explode-formulated replay.
      val src = Tables.documents(s, dir)
        .select(col("doc_id").as("vec_id"), col("source"))
      val joined = Tables.embeddings(s, dir).join(src, Seq("vec_id"))
      val compSums = (0 until 64).map(i =>
        sum(round(element_at(col("embedding"), i + 1).cast("double") * 1000000.0)
          .cast("long")).as(s"s$i"))
      val cent = joined.groupBy(col("source"))
        .agg(count(lit(1)).as("n_vecs"), compSums: _*)
      val cv = array((0 until 64).map(i =>
        floor(col(s"s$i").cast("double") / col("n_vecs")).cast("long")
          .cast("double")): _*)
      val ca = cent.select(col("source"), cv.as("cv"), col("n_vecs"))
      val a = ca.select(col("source").as("source_a"), col("cv").as("va"),
        col("n_vecs").as("n_a"))
      val b = ca.select(col("source").as("source_b"), col("cv").as("vb"),
        col("n_vecs").as("n_b"))
      a.join(b, col("source_a") < col("source_b"))
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          round(VectorOps.dot(col("va"), col("vb")) /
            sqrt(VectorOps.norm2(col("va")) * VectorOps.norm2(col("vb"))), 6)
            .as("centroid_cos"))
        .orderBy(col("source_a"), col("source_b"))
    },
      // micro components, floor integer-mean centroids per (source,
      // dim), list fold ordered by dim, pairwise cosine on the exact
      // centroid integers
      "WITH scc AS (SELECT e.vec_id, d.source, i, " +
      "CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) xi " +
      "FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id, " +
      "LATERAL (SELECT unnest(generate_series(1, len(embedding))) i)), " +
      "sct AS (SELECT source, i, CAST(floor(SUM(xi) / COUNT(*)) AS BIGINT) ci, " +
      "COUNT(*) cn FROM scc GROUP BY source, i), " +
      "sca AS MATERIALIZED (SELECT source, " +
      "list_transform(list(ci ORDER BY i), x -> CAST(x AS DOUBLE)) cv, " +
      "CAST(MAX(cn) AS BIGINT) n_vecs FROM sct GROUP BY source) " +
      "SELECT a.source AS source_a, b.source AS source_b, " +
      "a.n_vecs AS n_a, b.n_vecs AS n_b, " +
      "round(list_sum(list_transform(list_zip(a.cv, b.cv), p -> p[1]*p[2])) / " +
      "sqrt(list_sum(list_transform(a.cv, x -> x*x)) * " +
      "list_sum(list_transform(b.cv, x -> x*x))), 6) AS centroid_cos " +
      "FROM sca a JOIN sca b ON a.source < b.source " +
      "ORDER BY source_a, source_b"),

    // Hard-negative mining for retriever training — the complement of
    // mine_contrastive_pairs' in-embedding-space mining: candidates
    // the LEXICAL ranker loves (BM25 top-20, the exact
    // [[bm25TopFrame]] the serving query emits) scored by the
    // SEMANTIC arm (cosine vs the vec_id=0 query embedding, the
    // sim_cosine_topk arithmetic verbatim). High-BM25/low-cosine docs
    // are the classic "lexically plausible, semantically wrong"
    // negatives contrastive retrievers need (DPR/ANCE recipe);
    // is_hard_negative gates on the ROUNDED cosine < 0 (orthogonal or
    // opposed), hardest first in the output. Plan: the 20-row lexical
    // frame BROADCASTS into one embeddings join + the 1-row query
    // crossJoin — at 100 TB the embedding side is one pruned scan (or
    // a bucketed lookup), never a shuffle of the corpus.
    NamedQuery("mine_hard_negatives", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"), VectorOps.norm2(col("embedding")).as("nq"))
      broadcast(bm25TopFrame(s, dir).select(col("doc_id"), col("bm25")))
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
        .crossJoin(broadcast(qv))
        .select(col("doc_id"), col("bm25"),
          round(VectorOps.dot(col("qv"), col("embedding")) /
            sqrt(col("nq") * VectorOps.norm2(col("embedding"))), 6).as("cos_sim"))
        .withColumn("is_hard_negative", (col("cos_sim") < 0.0).cast("int"))
        .orderBy(col("cos_sim").asc, col("doc_id"))
    },
      // lexical arm composed verbatim, cosine arithmetic = the
      // sim_cosine_topk oracle's exact pattern; threshold on the
      // rounded value on BOTH engines
      s"WITH lexq AS ($searchBm25TopkSql), " +
      "q AS (SELECT embedding qe FROM embeddings WHERE vec_id = 0), " +
      "sc AS (SELECT l.doc_id, l.bm25, " +
      "round(list_sum(list_transform(list_zip(qe, e.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / " +
      "sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) * " +
      "list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) cos_sim " +
      "FROM lexq l JOIN embeddings e ON l.doc_id = e.vec_id, q) " +
      "SELECT doc_id, bm25, cos_sim, " +
      "CAST(CASE WHEN cos_sim < 0.0 THEN 1 ELSE 0 END AS INT) AS is_hard_negative " +
      "FROM sc ORDER BY cos_sim, doc_id"),

    // Contrastive-pair mining — the training-data side of embedding
    // models: positives = the verified within-cell near-dup pairs
    // (label 1, reusing dedup_embedding's own output), negatives =
    // deterministic hash-drawn id pairs with the positives EXCLUDED
    // (label 0), one negative drawn per positive so the set is
    // balanced by construction. Everything is integer/hash
    // arithmetic; the negative draw is a map-side expression over a
    // positive-count-sized range and the positive-set exclusion is a
    // broadcast anti-join (the pair set is answer-sized). Mirrors how
    // SimCSE/CLIP-style pipelines mine hard-ish negatives at scale —
    // a corpus-sized shuffle never happens.
    NamedQuery("mine_contrastive_pairs", (s, dir) => {
      // localCheckpoint (not cache+unpersist): the pair set is
      // answer-sized and materializes ONCE here, so the count, the
      // positive union branch and the broadcast anti-join all read the
      // checkpointed blocks instead of re-running the dedup subquery
      val pos = SparkEntry.queries("dedup_embedding")(s, dir)
        .select(col("a_id"), col("b_id")).localCheckpoint()
      val nPos = pos.count() // answer-sized
      val n = Tables.parquetRowCount(s, s"$dir/embeddings.parquet")
      val draws = s.range(0, nPos * 4)
        .select(col("id").as("k"),
          pmod(TextOps.portableHash32(concat(lit("cn1|"), col("id").cast("string"))), lit(n)).as("x"),
          pmod(TextOps.portableHash32(concat(lit("cn2|"), col("id").cast("string"))), lit(n)).as("y"))
        .filter(col("x") =!= col("y"))
        .select(col("k"), least(col("x"), col("y")).as("a_id"),
          greatest(col("x"), col("y")).as("b_id"))
        .join(broadcast(pos), Seq("a_id", "b_id"), "left_anti")
        .orderBy(col("k")).limit(nPos.toInt)
      pos.select(col("a_id"), col("b_id"), lit(1).as("label"))
        .unionByName(draws.select(col("a_id"), col("b_id"), lit(0).as("label")))
        .orderBy(col("label").desc, col("a_id"), col("b_id"))
    },
      // positives = the dedup_embedding oracle VERBATIM as a CTE; the
      // negative draw replays the portable-hash arithmetic, excludes
      // the positives, and cuts the first n_pos survivors by draw index
      s"WITH pos AS ($dedupEmbeddingSql), " +
      "nn AS (SELECT COUNT(*) c FROM embeddings), " +
      "np AS (SELECT COUNT(*) c FROM pos), " +
      "d AS (SELECT k, least(x, y) a_id, greatest(x, y) b_id FROM (" +
      "SELECT k, CAST('0x' || substr(md5('cn1|' || CAST(k AS VARCHAR)), 1, 8) AS BIGINT) % (SELECT c FROM nn) x, " +
      "CAST('0x' || substr(md5('cn2|' || CAST(k AS VARCHAR)), 1, 8) AS BIGINT) % (SELECT c FROM nn) y " +
      "FROM (SELECT unnest(generate_series(0, (SELECT c FROM np) * 4 - 1)) k)) WHERE x <> y), " +
      "neg AS (SELECT a_id, b_id FROM (" +
      "SELECT d.a_id, d.b_id, row_number() OVER (ORDER BY d.k) rn FROM d " +
      "WHERE NOT EXISTS (SELECT 1 FROM pos p WHERE p.a_id = d.a_id AND p.b_id = d.b_id)) " +
      "WHERE rn <= (SELECT c FROM np)) " +
      "SELECT a_id, b_id, CAST(1 AS INT) AS label FROM pos " +
      "UNION ALL SELECT a_id, b_id, CAST(0 AS INT) FROM neg " +
      "ORDER BY label DESC, a_id, b_id"),

    // Fuzzy string join, SymSpell-style: vocabulary terms within
    // Levenshtein distance 2 of each other — the typo-tolerant join of
    // query-log normalization and OCR cleanup. Blocking = DELETION
    // NEIGHBORHOODS (every string reachable by deleting <= 2 chars;
    // if ed(a,b) <= 2 the neighborhoods intersect — the SymSpell
    // guarantee), so candidates come from ONE hash exchange on the
    // variant key and the exact Levenshtein verify runs on DISTINCT
    // candidate pairs only — never the all-pairs cross join, which is
    // what makes this the 100 TB fuzzy-join shape (neighborhood size
    // is O(len^2) per term, independent of vocabulary size). The
    // LSH-then-verify recipe applied to edit distance.
    NamedQuery("fuzzy_term_join", (s, dir) => {
      val terms = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("t"))
        .filter(length(col("t")) > 0).distinct()
      val withVars = terms
        .withColumn("d1", expr(
          "transform(sequence(1, length(t)), " +
          "i -> concat(substr(t, 1, i-1), substr(t, i+1, length(t))))"))
        .withColumn("d2", expr(
          "flatten(transform(filter(d1, v -> length(v) > 0), " +
          "v -> transform(sequence(1, length(v)), " +
          "i -> concat(substr(v, 1, i-1), substr(v, i+1, length(v))))))"))
        .select(col("t"),
          explode(array_distinct(concat(array(col("t")), col("d1"), col("d2")))).as("v"))
      val a = withVars.select(col("v"), col("t").as("a"))
      val b = withVars.select(col("v"), col("t").as("b"))
      a.join(b, Seq("v")).filter(col("a") < col("b"))
        .select(col("a"), col("b")).distinct()
        .withColumn("dist", levenshtein(col("a"), col("b")).cast("int"))
        .filter(col("dist") <= 2)
        .orderBy(col("a"), col("b"))
    },
      // same deletion-neighborhood blocking + exact levenshtein verify
      // (identical edit-distance semantics in both engines)
      "WITH t0 AS (SELECT DISTINCT unnest(string_split(text, ' ')) t FROM documents), " +
      "t1 AS (SELECT t FROM t0 WHERE length(t) > 0), " +
      "d AS (SELECT t, list_transform(generate_series(1, length(t)), " +
      "i -> substr(t, 1, i-1) || substr(t, i+1, length(t))) d1 FROM t1), " +
      "vv AS (SELECT t, unnest(list_distinct([t] || d1 || " +
      "flatten(list_transform(list_filter(d1, v -> length(v) > 0), " +
      "v -> list_transform(generate_series(1, length(v)), " +
      "i -> substr(v, 1, i-1) || substr(v, i+1, length(v))))))) v FROM d), " +
      "p AS (SELECT DISTINCT a.t a, b.t b FROM vv a JOIN vv b ON a.v = b.v AND a.t < b.t) " +
      "SELECT a, b, CAST(levenshtein(a, b) AS INT) AS dist FROM p " +
      "WHERE levenshtein(a, b) <= 2 ORDER BY a, b")
  ))

  // Recall report across the ANN serving ladder: for every ORACLED
  // rung, the top-k id set is intersected with the EXACT cosine
  // top-k for that rung's own query vector (each rung probes a
  // different seeded query id, so each gets its own exact baseline)
  // and the report row is the integer overlap — recall as a
  // CORRECTNESS surface, not just a spec-level bar: a quantizer or
  // probe-selection regression that still produces well-formed top-k
  // rows now breaks a hash-gated query instead of only a test.
  // Per-rung plans are the rungs' own (zero-exchange ADC scans etc.);
  // each intersect is a 10-row broadcast join + a count. The trained
  // rungs (learned float codebooks, not SQL-replayable) keep their
  // recall bars in ExtensionInvariantsSpec.
  // Its oracle composes every rung's own oracle, so it is added after
  // the rung entries it reads.
  private def withRecallReport(rungs: Seq[NamedQuery]): Seq[NamedQuery] = {
    val rungOracle = rungs.map(q => q.name -> q.oracle).toMap
    rungs :+ NamedQuery("sim_recall_report", (s, dir) => {
      // ALL EIGHT exact baselines come from ONE corpus pass, memoized
      // per corpus version as a bounded driver constant (see
      // [[exactTopIds]] — ≤ 8 × 10 ids). Each rung's intersect is then
      // a pushed `isin` literal over the rung's own top-k frame + a
      // count: zero broadcast builds, zero checkpoint jobs per call.
      // Same rows as a broadcast join: both sides of each intersect are
      // distinct id sets, so |join| == |filter(isin)|.
      val ids = exactTopIds(s, dir)
      recallRungs.map { case (name, qid, k) =>
        // getOrElse: a qid absent from a tiny/partial corpus (table-group
        // ScaleCorpus builds) yields an empty isin = 0 overlap (ids(qid)
        // alone would throw NoSuchElementException)
        SparkEntry.queries(name)(s, dir).select(col("vec_id"))
          .filter(col("vec_id").isin(ids.getOrElse(qid, Seq.empty).take(k): _*))
          .agg(count(lit(1)).as("n_overlap"))
          .select(lit(name).as("rung"), lit(k.toLong).as("k"), col("n_overlap"))
      }.reduce(_ union _).orderBy(col("rung"))
    },
      {
      // every oracled rung's OWN oracle SQL as a CTE (verbatim — the
      // rung arithmetic cannot drift from the rung queries), each
      // intersected with an exact-cosine top-k CTE for that rung's
      // seeded query vector; overlap counted as an integer
      // integer micro-cosine ranks (the sim_batch_topk convention, so
      // both engines cut identical tie groups at the k boundary)
      def exactSql(qid: Long, k: Int): String =
        "SELECT vec_id FROM (SELECT vec_id, CAST(round(dot/sqrt(nq*nv) * 1000000) AS BIGINT) AS sc FROM (" +
        "SELECT e.vec_id, " +
        "list_sum(list_transform(list_zip(q.qe, e.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) dot, " +
        "list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) nq, " +
        "list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) nv " +
        s"FROM embeddings e, (SELECT embedding qe FROM embeddings WHERE vec_id = $qid) q " +
        s"WHERE e.vec_id <> $qid) " +
        s"ORDER BY sc DESC, vec_id LIMIT $k)"
      val ctes = recallRungs.zipWithIndex.map { case ((name, qid, k), i) =>
        s"r$i AS (${rungOracle(name)}), x$i AS (${exactSql(qid, k)})"
      }.mkString(", ")
      val rows = recallRungs.zipWithIndex.map { case ((name, _, k), i) =>
        s"SELECT '$name' AS rung, CAST($k AS BIGINT) AS k, " +
        s"(SELECT COUNT(*) FROM r$i JOIN x$i USING (vec_id)) AS n_overlap"
      }.mkString(" UNION ALL ")
      s"WITH $ctes SELECT * FROM ($rows) ORDER BY rung"
    })
  }
}
