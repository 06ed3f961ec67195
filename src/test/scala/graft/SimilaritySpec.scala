package graft

import graft.operators.Similarity

/** k-means IVF trainer: cost must be non-increasing and the index
  * deterministic for fixed data.
  */
class SimilaritySpec extends SparkSpec {

  test("trainIvf converges: cost non-increasing over iterations") {
    val emb = Tables.embeddings(spark, sf0001)
    val c1 = Similarity.trainIvf(spark, emb, k = 8, iters = 1)
    val c3 = Similarity.trainIvf(spark, emb, k = 8, iters = 3)
    val c6 = Similarity.trainIvf(spark, emb, k = 8, iters = 6)
    assert(c3.cost <= c1.cost)
    assert(c6.cost <= c3.cost)
    assert(c6.centroids.length === 8)
    assert(c6.centroids.forall(_.length === 64))
  }

  test("trainIvf is deterministic") {
    val emb = Tables.embeddings(spark, sf0001)
    val a = Similarity.trainIvf(spark, emb, k = 4, iters = 2)
    val b = Similarity.trainIvf(spark, emb, k = 4, iters = 2)
    assert(a.cost === b.cost)
    assert(a.centroids.map(_.toSeq).toSeq === b.centroids.map(_.toSeq).toSeq)
  }

  test("learned cells keep candidate counts sub-quadratic") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf0001)
    val n = emb.count()
    val k = Similarity.defaultK(n)
    val idx = Similarity.trainIvf(spark, emb, k, iters = 3)
    val cells = Similarity.assignCells(emb, Similarity.centroidDf(spark, idx.centroids))
    val sizes = cells.groupBy("cell").count().as[(Int, Long)].collect().toMap
    assert(sizes.values.sum === n, "every vector assigned to exactly one cell")
    assert(sizes.size > 1, "quantizer must actually partition the corpus")
    // Within-cell pairing cost = sum(c^2); the fixed-8-cell quantizer
    // gives ~n^2/8 — the learned k~sqrt(n) one must beat it by a wide
    // margin or it isn't doing its job.
    val pairWork = sizes.values.map(c => c * c).sum
    assert(pairWork < n.toLong * n.toLong / 16,
      s"sum(cell^2)=$pairWork vs n^2=${n * n} — cells too coarse")
  }

  test("trained multi-probe IVF top-k: structure + recall vs brute force") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf0001)
    val got = Similarity.ivfTopK(spark, emb, queryVecId = 42, topK = 5, probes = 2)
      .as[(Long, Double)].collect()
    assert(got.length === 5)
    assert(got.map(_._2).toSeq === got.map(_._2).sortBy(-_).toSeq, "sorted desc")
    val q = emb.filter(col("vec_id") === 42).select(col("embedding").as("qv"))
    val brute = emb.filter(col("vec_id") =!= 42).crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(operators.VectorOps.cosine(col("qv"), col("embedding")), 6).as("cs"))
      .orderBy(col("cs").desc, col("vec_id")).limit(10)
      .as[(Long, Double)].collect()
    val bruteMap = brute.toMap
    // Scores must agree exactly with the brute-force scorer for any
    // vec_id both paths surface (same arithmetic, different pruning).
    got.filter(r => bruteMap.contains(r._1))
      .foreach { case (id, cs) => assert(cs === bruteMap(id)) }
    // Recall: probing 2 of ~22 cells on this corpus recovers 2 of the
    // brute top-10 (data-pinned; assert >= 1 for slack).
    assert(got.map(_._1).count(brute.map(_._1).toSet) >= 1,
      s"trained top-5 ${got.map(_._1).toSeq} shares nothing with brute top-10")
  }

  test("persisted index probes with partition pruning and matches the in-memory path") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    val k = Similarity.saveIndex(spark, emb, dir, iters = 3)
    assert(k === Similarity.defaultK(emb.count()))
    val qv = emb.filter(col("vec_id") === 42)
      .select(operators.VectorOps.toDouble(col("embedding")))
      .as[Array[Double]].head()
    val probed = Similarity.probeIndex(spark, dir, qv, topK = 6, probes = 2)
    // the file scan must carry a partition filter on `cell` — Spark
    // lists/reads only the probed cell directories
    val scans = probed.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "cells scan lost its partition filter")
    // ...and the filter must actually PRUNE: with probes=2 over one
    // ingest layer, exactly 2 of the k cell directories survive the
    // listing — the scan reads the probed cells' files and nothing else.
    assert(scans.head.selectedPartitions.partitionCount === 2,
      s"probe read ${scans.head.selectedPartitions.partitionCount} partitions, wanted 2 (probes=2)")
    val rows = probed.as[(Long, Double)].collect()
    // the query vector itself lives in the index: exact self-match first
    assert(rows.head === ((42L, 1.0)))
    // remaining results = the in-memory trained path with identical
    // k/probes (trainer is deterministic)
    val inMem = Similarity.ivfTopK(spark, emb, queryVecId = 42, topK = 5, probes = 2)
      .as[(Long, Double)].collect().toSeq
    assert(rows.tail.toSeq === inMem)
  }

  test("persisted PQ index: pruned 8-byte scan, exact code round trip, sane recall") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("pqidx").toString
    val (k, pq) = Similarity.savePqIndex(spark, emb, dir, iters = 3)
    assert(k === Similarity.defaultK(emb.count()))
    val qv = emb.filter(col("vec_id") === 42)
      .select(operators.VectorOps.toDouble(col("embedding")))
      .as[Array[Double]].head()
    val probed = Similarity.probePqIndex(spark, dir, qv, topK = 6, probes = 2)
    // the codes scan must partition-prune to the probed cells and read
    // ONLY (vec_id, code64) — never a float vector column
    val scans = probed.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "codes scan lost its partition filter")
    assert(scans.head.selectedPartitions.partitionCount === 2,
      s"probe read ${scans.head.selectedPartitions.partitionCount} partitions, wanted 2")
    val readCols = scans.head.requiredSchema.fieldNames.toSet
    assert(readCols === Set("vec_id", "code64"),
      s"PQ probe must scan codes only, read: $readCols")
    // code64 round trip: unpack a stored code and re-derive it from
    // the raw vector + saved codebooks — byte-exact
    val stored = spark.read.parquet(s"$dir/codes")
      .select(col("vec_id"), col("code64")).as[(Long, Long)].collect().toMap
    val someVecs = emb.filter(col("vec_id").isin(0L, 7L, 42L))
      .select(col("vec_id"), operators.VectorOps.toDouble(col("embedding")))
      .as[(Long, Array[Double])].collect()
    someVecs.foreach { case (id, v) =>
      (0 until pq.m).foreach { si =>
        val book = pq.books(si)
        val best = book.indices.minBy { c =>
          var d = 0.0; var i = 0
          while (i < pq.dsub) { val t = v(si * pq.dsub + i) - book(c)(i); d += t * t; i += 1 }
          (d, c)
        }
        val storedCode = ((stored(id) >> (si * 8)) & 0xffL).toInt
        assert(storedCode === best, s"vec $id subspace $si")
      }
    }
    // recall: the ADC head must intersect the exact cosine ranking
    // computed over the SAME probed cells (PQ bounds, not exactness)
    val rows = probed.filter(col("vec_id") =!= 42).as[(Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._2).toSeq === rows.map(_._2).sortBy(-_).toSeq)
    val cellIds = spark.read.parquet(s"$dir/codes")
      .select(col("vec_id")).as[Long].collect().toSet
    val q = emb.filter(col("vec_id") === 42).select(col("embedding").as("qv"))
    val exact = emb.filter(col("vec_id") =!= 42).crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(operators.VectorOps.cosine(col("qv"), col("embedding")), 6).as("cs"))
      .orderBy(col("cs").desc, col("vec_id"))
      .as[(Long, Double)].collect()
    assert(rows.map(_._1).count(exact.take(20).map(_._1).toSet) >= 1,
      s"ADC head ${rows.map(_._1).toSeq} misses the exact top-20 entirely")
    assert(cellIds.contains(42L), "the query's own vector must live in the index")
  }

  test("sim_ivf_topk_indexed query: probe-only serving path equals the trained twin") {
    import spark.implicits._
    val got = graft.queries.AnnIndexQueries.trainedRungFrames("sim_ivf_topk_indexed")(spark, sf0001)
      .as[(Long, Double)].collect().toSeq
    assert(got.length === 5)
    assert(!got.exists(_._1 == 42L), "self-match must be dropped")
    // same k-sizing rule, same probes, deterministic trainer => the
    // persisted probe must reproduce the in-memory trained results
    val inMem = Similarity.ivfTopK(spark, Tables.embeddings(spark, sf0001),
      queryVecId = 42, topK = 5, probes = 2,
      nHint = Tables.parquetRowCount(spark, s"$sf0001/embeddings.parquet"))
      .as[(Long, Double)].collect().toSeq
    assert(got === inMem)
  }

  test("streaming append: new vectors land in their cells and are probe-able") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("ivfgrow").toString
    // train + persist on the first 400 vectors only
    Similarity.saveIndex(spark, emb.filter(col("vec_id") < 400), dir, iters = 2)
    val before = spark.read.parquet(s"$dir/cells").count()
    // stream the remaining 100 in as a file stream
    val newDir = java.nio.file.Files.createTempDirectory("ivfnew").toString
    emb.filter(col("vec_id") >= 400).write.parquet(s"$newDir/in")
    val stream = spark.readStream
      .schema(emb.schema).parquet(s"$newDir/in")
    val q = Similarity.appendToIndex(spark, stream, dir, s"$newDir/ckpt")
    q.awaitTermination(120000)
    assert(spark.read.parquet(s"$dir/cells").count() === before + 100)
    // an appended vector must now be the exact self-match of its probe
    val qv = emb.filter(col("vec_id") === 450)
      .select(operators.VectorOps.toDouble(col("embedding")))
      .as[Array[Double]].head()
    val top = Similarity.probeIndex(spark, dir, qv, topK = 1, probes = 1)
      .as[(Long, Double)].head()
    assert(top === ((450L, 1.0)))
  }

  test("streaming PQ append: new vectors encode against the saved codebooks") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("pqgrow").toString
    val (_, pq) = Similarity.savePqIndex(spark, emb.filter(col("vec_id") < 400), dir, iters = 2)
    val before = spark.read.parquet(s"$dir/codes").count()
    val newDir = java.nio.file.Files.createTempDirectory("pqnew").toString
    emb.filter(col("vec_id") >= 400).write.parquet(s"$newDir/in")
    val stream = spark.readStream.schema(emb.schema).parquet(s"$newDir/in")
    val q = Similarity.appendToPqIndex(spark, stream, dir, s"$newDir/ckpt")
    q.awaitTermination(120000)
    assert(spark.read.parquet(s"$dir/codes").count() === before + 100)
    // an appended vector's stored code (450) must equal a driver-side
    // re-encode against the SAVED codebooks — byte-exact, proving the
    // stream used the persisted books, not a retrain — and so must a
    // base-layer vector's (120), written by savePqIndex itself
    for (id <- Seq(450L, 120L)) {
      val stored = spark.read.parquet(s"$dir/codes")
        .filter(col("vec_id") === id).select(col("code64")).as[Long].head()
      val v = emb.filter(col("vec_id") === id)
        .select(operators.VectorOps.toDouble(col("embedding")))
        .as[Array[Double]].head()
      (0 until pq.m).foreach { si =>
        val book = pq.books(si)
        val best = book.indices.minBy { c =>
          var d = 0.0; var i = 0
          while (i < pq.dsub) { val t = v(si * pq.dsub + i) - book(c)(i); d += t * t; i += 1 }
          (d, c)
        }
        assert(((stored >> (si * 8)) & 0xffL).toInt === best, s"vec $id subspace $si")
      }
    }
  }

  test("retrain-and-swap: appended layers fold in; probes match a fresh-built index") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("ivfretrain").toString
    // base index over the first 300 vectors, then TWO appended ingest
    // layers (drift scenario: appends encode against stale centroids)
    Similarity.saveIndex(spark, emb.filter(col("vec_id") < 300), dir, iters = 2)
    // one checkpoint lineage, two stream restarts: ingest=<batchId>
    // layers are only unique within a checkpoint's monotonic batch ids
    val newDir = java.nio.file.Files.createTempDirectory("ivfretrainnew").toString
    emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
      .write.mode("append").parquet(s"$newDir/in")
    Similarity.appendToIndex(spark,
      spark.readStream.schema(emb.schema).parquet(s"$newDir/in"),
      dir, s"$newDir/ckpt").awaitTermination(120000)
    emb.filter(col("vec_id") >= 400).write.mode("append").parquet(s"$newDir/in")
    Similarity.appendToIndex(spark,
      spark.readStream.schema(emb.schema).parquet(s"$newDir/in"),
      dir, s"$newDir/ckpt").awaitTermination(120000)
    assert(spark.read.parquet(s"$dir/cells").count() === 500)
    // the stale quantizer was sized for 300 vectors; retrain re-sizes
    // for all 500 and re-trains over every layer
    val k = Similarity.retrainIndex(spark, dir, iters = 2)
    assert(k === Similarity.defaultK(500))
    assert(spark.read.parquet(s"$dir/cells").count() === 500)
    // the swapped-in index collapses back to a single base layer (the
    // append debt is paid) and no stage/backup dirs survive
    val layers = new java.io.File(s"$dir/cells").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(layers === Set("ingest=base"), s"unexpected layers: $layers")
    assert(!new java.io.File(dir + "__retraining").exists())
    assert(!new java.io.File(dir + "__old").exists())
    // probe results match a FRESH index built over the same 500
    // vectors with the same k/iters — same centroids, same cells,
    // same top-k rows
    val freshDir = java.nio.file.Files.createTempDirectory("ivffresh").toString
    Similarity.saveIndex(spark, emb, freshDir, iters = 2)
    val qv = emb.filter(col("vec_id") === 450)
      .select(operators.VectorOps.toDouble(col("embedding")))
      .as[Array[Double]].head()
    val retrained = Similarity.probeIndex(spark, dir, qv, topK = 10, probes = 2)
      .as[(Long, Double)].collect().toSeq
    val fresh = Similarity.probeIndex(spark, freshDir, qv, topK = 10, probes = 2)
      .as[(Long, Double)].collect().toSeq
    assert(retrained === fresh)
    // and the centroid matrices themselves are identical (the trainer
    // is deterministic over identical vector content)
    val a = spark.read.parquet(s"$dir/centroids").orderBy("cid")
      .as[(Int, Array[Double])].collect().map { case (c, v) => (c, v.toSeq) }.toSeq
    val b = spark.read.parquet(s"$freshDir/centroids").orderBy("cid")
      .as[(Int, Array[Double])].collect().map { case (c, v) => (c, v.toSeq) }.toSeq
    assert(a === b)
  }

  test("crashed retrain swap: probe heals the index from the __old backup") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf0001).filter(col("vec_id") < 200)
    val dir = java.nio.file.Files.createTempDirectory("ivfcrash").toString + "/idx"
    Similarity.saveIndex(spark, emb, dir, iters = 2)
    val qv = emb.filter(col("vec_id") === 50)
      .select(operators.VectorOps.toDouble(col("embedding")))
      .as[Array[Double]].head()
    val healthy = Similarity.probeIndex(spark, dir, qv, topK = 5, probes = 2)
      .as[(Long, Double)].collect().toSeq
    // simulate the swap's only unsafe window: live moved to __old, the
    // staged rename never happened (crash between the two renames)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__old")))
    // next open self-heals: rename-back, then identical serving results
    val healed = Similarity.probeIndex(spark, dir, qv, topK = 5, probes = 2)
      .as[(Long, Double)].collect().toSeq
    assert(healed === healthy)
    assert(!new java.io.File(dir + "__old").exists())
  }

  test("PQ retrain-and-swap: recoded index serves the new codebooks") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("pqretrain").toString
    Similarity.savePqIndex(spark, emb.filter(col("vec_id") < 400), dir, iters = 2)
    val newDir = java.nio.file.Files.createTempDirectory("pqretrainnew").toString
    emb.filter(col("vec_id") >= 400).write.parquet(s"$newDir/in")
    Similarity.appendToPqIndex(spark,
      spark.readStream.schema(emb.schema).parquet(s"$newDir/in"),
      dir, s"$newDir/ckpt").awaitTermination(120000)
    assert(spark.read.parquet(s"$dir/codes").count() === 500)
    // PQ codes are not invertible, so retrain takes the corpus
    val (_, pq) = Similarity.retrainPqIndex(spark, emb, dir, iters = 2)
    assert(spark.read.parquet(s"$dir/codes").count() === 500)
    assert(!new java.io.File(dir + "__retraining").exists())
    assert(!new java.io.File(dir + "__old").exists())
    // a stored code must byte-match a driver re-encode against the NEW
    // books (proof the swap serves the retrained codebooks, not stale)
    val stored = spark.read.parquet(s"$dir/codes")
      .filter(col("vec_id") === 450).select(col("code64")).as[Long].head()
    val v = emb.filter(col("vec_id") === 450)
      .select(operators.VectorOps.toDouble(col("embedding")))
      .as[Array[Double]].head()
    (0 until pq.m).foreach { si =>
      val book = pq.books(si)
      val best = book.indices.minBy { c =>
        var d = 0.0; var i = 0
        while (i < pq.dsub) { val t = v(si * pq.dsub + i) - book(c)(i); d += t * t; i += 1 }
        (d, c)
      }
      assert(((stored >> (si * 8)) & 0xffL).toInt === best, s"subspace $si")
    }
  }

  test("parquetRowCount reads the exact count from footers; nHint skips the COUNT job") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf0001)
    val n = Tables.parquetRowCount(spark, s"$sf0001/embeddings.parquet")
    assert(n === emb.count(), "footer metadata must equal the scanned count")

    // Job accounting via job groups: sizing from nHint must launch the
    // SAME number of Spark jobs as an explicitly sized index (i.e. the
    // count job is gone, nothing else changed).
    def jobsOf(group: String)(body: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      try body finally spark.sparkContext.clearJobGroup()
      // statusTracker is fed by an async listener bus; a single
      // two-poll agreement can latch a stale count if the bus lags one
      // interval, so require the count stable across THREE consecutive
      // 200 ms polls (a 400 ms quiet window) before trusting it
      def poll() = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      // deadline-bounded: a listener bus that never settles must fail
      // the test with a message, not hang the suite
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var stable = 0; var last = poll()
      while (stable < 2) {
        assert(System.nanoTime() < deadline,
          s"job count for group $group never stabilized (last saw $last)")
        Thread.sleep(200)
        val cur = poll()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      last
    }
    val k = Similarity.defaultK(n)
    val hinted = jobsOf("ivf-nhint") {
      Similarity.ivfTopK(spark, emb, queryVecId = 7, topK = 3, iters = 1, nHint = n).collect()
    }
    val explicit = jobsOf("ivf-kcells") {
      Similarity.ivfTopK(spark, emb, queryVecId = 7, topK = 3, iters = 1, kCells = k).collect()
    }
    val counted = jobsOf("ivf-count") {
      Similarity.ivfTopK(spark, emb, queryVecId = 7, topK = 3, iters = 1).collect()
    }
    assert(hinted === explicit, s"nHint ran $hinted jobs vs $explicit explicitly sized")
    assert(counted > hinted, "the unhinted path should pay exactly the extra COUNT job")
  }

  test("near-dup quantizer twins: perfect precision vs brute force, non-trivial recall") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Ground truth: ALL pairs >= 0.45 by brute-force all-pairs cosine
    // (500 vectors at sf0.001 — cheap in a test). Any bucketed variant
    // must return a SUBSET with bit-identical cosines (precision 1.0);
    // recall differs by quantizer — that's the approximation being
    // bought — so we require it non-zero, not any exact pair set
    // (exact equality between two different quantizers is a corpus
    // accident, not a semantic property).
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").as("v"),
        operators.VectorOps.norm2(col("embedding")).as("nv"))
    val l = emb.select(col("vec_id").as("a_id"), col("v").as("va"), col("nv").as("na"))
    val r = emb.select(col("vec_id").as("b_id"), col("v").as("vb"), col("nv").as("nb"))
    val truth = l.crossJoin(r).filter(col("a_id") < col("b_id"))
      .withColumn("cos_sim",
        round(operators.VectorOps.dot(col("va"), col("vb")) / sqrt(col("na") * col("nb")), 6))
      .filter(col("cos_sim") >= 0.45)
      .select(col("a_id"), col("b_id"), col("cos_sim"))
      .as[(Long, Long, Double)].collect().toSet
    assert(truth.nonEmpty, "fixture must contain at least one true near-dup pair")

    val trained = graft.queries.AnnIndexQueries.trainedRungFrames("dedup_embedding_trained")(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    val seeded = SparkEntry.queries("dedup_embedding")(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    for ((name, got) <- Seq("trained" -> trained, "seeded" -> seeded)) {
      assert(got.forall { case (a, b, cs) => a < b && cs >= 0.45 }, s"$name shape")
      assert(got.subsetOf(truth), s"$name must never report a false pair")
      assert(got.nonEmpty, s"$name found no pair at all — quantizer degenerate")
    }
  }

  test("hnsw: layered build, bounded-read probe, recall vs brute force") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Hnsw
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("hnswidx").toString
    Hnsw.buildIndex(spark, emb, dir, nHint = 500L)
    // layer populations follow the geometric coin: each level keeps a
    // strict subset of the one below, and every node has <= M edges
    val edges = spark.read.parquet(s"$dir/edges")
    val byLevel = edges.groupBy(col("level"))
      .agg(countDistinct(col("node")).as("n"), count(lit(1)).as("e"))
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(byLevel.map(_._1).toSeq === Seq(0, 1, 2), s"missing layers: ${byLevel.toSeq}")
    assert(byLevel(0)._2 > byLevel(1)._2 && byLevel(1)._2 > byLevel(2)._2,
      s"layers must shrink geometrically: ${byLevel.toSeq}")
    val maxDeg = edges.groupBy(col("level"), col("node"))
      .agg(count(lit(1)).as("d")).agg(max(col("d"))).as[Long].head()
    assert(maxDeg <= Hnsw.M, s"node degree $maxDeg exceeds M=${Hnsw.M}")
    // probe: deterministic, self-match first, scores exact vs brute
    val qv = emb.filter(col("vec_id") === 42)
      .select(operators.VectorOps.toDouble(col("embedding")))
      .as[Array[Double]].head()
    val got = Hnsw.probe(spark, dir, qv, topK = 11).as[(Long, Double)].collect()
    assert(got.length === 11)
    assert(got.head._1 === 42L && got.head._2 === 1.0,
      s"self-match must rank first: ${got.head}")
    val got2 = Hnsw.probe(spark, dir, qv, topK = 11).as[(Long, Double)].collect()
    assert(got.toSeq === got2.toSeq, "probe must be deterministic")
    val brute = emb.filter(col("vec_id") =!= 42)
      .crossJoin(broadcast(emb.filter(col("vec_id") === 42)
        .select(col("embedding").as("qv"))))
      .select(col("vec_id"),
        round(operators.VectorOps.cosine(col("qv"), col("embedding")), 6).as("cs"))
      .orderBy(col("cs").desc, col("vec_id")).limit(20)
      .as[(Long, Double)].collect()
    // r19 pin: the (ef=32, efRounds=4, cosine-selected) defaults
    // measured 10/10 vs brute top-20 across 5 qids x 3 SFs (SCALE.md
    // round 19); >= 8 is the honest gate — the r18 bar of 3 would have
    // passed a badly navigating graph (measured ef=16 collapses
    // scored 4-7/20 at sf0.1)
    val overlap = got.tail.map(_._1).count(brute.map(_._1).toSet)
    assert(overlap >= 8,
      s"hnsw top-10 ${got.tail.map(_._1).toSeq} shares < 8 with brute top-20")
    // scores track the raw-float brute scorer to micro-quantization
    // precision (the index stores micro-int components: per-component
    // rounding perturbs cosine by O(1e-6), unlike the IVF paths that
    // score raw floats)
    val bruteMap = brute.toMap
    got.tail.filter(r => bruteMap.contains(r._1))
      .foreach { case (id, cs) =>
        assert(math.abs(cs - bruteMap(id)) <= 5e-6,
          s"score drift on $id: $cs vs ${bruteMap(id)}") }
  }

  test("hnsw: recoverIndex heals a crashed compaction swap") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Hnsw
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("hnswrec").toString
    Hnsw.buildIndex(spark, emb, dir, nHint = 500L)
    val edgesBefore = spark.read.parquet(s"$dir/edges").count()
    // simulate a crash inside swapInto's (rename-live-aside ->
    // rename-staged-in) window: the live dir has moved to __old and
    // nothing has replaced it
    val f = new java.io.File(s"$dir/edges")
    assert(f.renameTo(new java.io.File(s"$dir/edges__old")))
    // an orphaned staging dir from the same crash must also be cleared
    assert(new java.io.File(s"$dir/nodes__compacting").mkdirs())
    assert(Hnsw.recoverIndex(spark, dir), "a crashed swap must report healing")
    assert(spark.read.parquet(s"$dir/edges").count() === edgesBefore,
      "recovered adjacency must be the original")
    assert(!new java.io.File(s"$dir/edges__old").exists)
    assert(!new java.io.File(s"$dir/nodes__compacting").exists)
    assert(!Hnsw.recoverIndex(spark, dir), "a healthy index must not re-heal")
    // the index still serves after recovery
    val qv = emb.filter(col("vec_id") === 42)
      .select(operators.VectorOps.toDouble(col("embedding")))
      .as[Array[Double]].head()
    val got = Hnsw.probe(spark, dir, qv, topK = 5).as[(Long, Double)].collect()
    assert(got.head === ((42L, 1.0)), s"post-recovery probe broken: ${got.head}")
  }

  test("hnsw: duplicate families larger than M stay navigable (Alg. 4 diversity)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Hnsw
    // 10 verbatim copies of every vector (dense id packing — the
    // ScaleCorpus replica shape): every node's 8 exact-nearest are its
    // own copies, so plain M-nearest links would spend all M slots
    // inside the family and disconnect the layer graph into 10-node
    // cliques — the r20 probe measured top-1 cosine 0.25 on exactly
    // this corpus before the diversity selection. With Alg. 4, a probe
    // for a member's vector must navigate ACROSS families to find the
    // cos-1.0 family.
    val emb = Tables.embeddings(spark, sf0001)
    val reps = (0 until 10)
      .map(k => emb.withColumn("vec_id", col("vec_id") + lit(k * 500L)))
      .reduce(_.unionByName(_))
    val dir = java.nio.file.Files.createTempDirectory("hnswdup").toString
    Hnsw.buildIndex(spark, reps, dir, nHint = 5000L)
    val qv = emb.filter(col("vec_id") === 42)
      .select(operators.VectorOps.toDouble(col("embedding")))
      .as[Array[Double]].head()
    val got = Hnsw.probe(spark, dir, qv, topK = 10).as[(Long, Double)].collect()
    assert(got.head === ((42L, 1.0)),
      s"probe failed to navigate to the query's duplicate family: ${got.head}")
    val family = (0 until 10).map(k => 42L + k * 500L).toSet
    val hit = got.count(r => family(r._1) && r._2 === 1.0)
    assert(hit >= 8,
      s"only $hit/10 family members found (top-10: ${got.toSeq}) — graph still cliquey")
  }

  test("hnsw streaming append: celled candidates, two sessions, compaction") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Hnsw
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("hnswgrow").toString
    // base graph over the first 400 vectors only; exactPairCap forced
    // down so levels 0-1 train real cells at test scale (400 > 128 >
    // 100) — the append path's partition-pruned candidate reads are
    // exercised, not just the exact-pair fallback
    Hnsw.buildIndex(spark, emb.filter(col("vec_id") < 400), dir,
      nHint = 400L, exactPairCap = 128L)
    assert(new java.io.File(s"$dir/cells/level=0").isDirectory,
      "celled layer must persist its quantizer for the append path")
    val baseCellDirs = new java.io.File(s"$dir/nodes/level=0/ingest=base")
      .listFiles().count(_.getName.startsWith("cell="))
    assert(baseCellDirs > 1,
      s"base node table must be cell-partitioned, got $baseCellDirs cell dirs")
    assert(spark.read.parquet(s"$dir/nodes")
      .filter(col("level") === 0).count() === 400L)
    // brute top-20 over the FULL 500-vector set for an appended qid
    def brute20(qid: Long): Set[Long] = emb.filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(emb.filter(col("vec_id") === qid)
        .select(col("embedding").as("qv"))))
      .select(col("vec_id"),
        round(operators.VectorOps.cosine(col("qv"), col("embedding")), 6).as("cs"))
      .orderBy(col("cs").desc, col("vec_id")).limit(20)
      .as[(Long, Double)].collect().map(_._1).toSet
    // an appended vector must be the exact self-match of its own
    // probe — served by its append-written index rows (delta reverse
    // edges + its ingest layer in the cell-partitioned node table;
    // the immutable base adjacency has no path to it) — and its
    // top-10 must share >= 8 with the brute top-20 (the build gate)
    def checkReachable(qid: Long, ctx: String): Unit = {
      val qv = emb.filter(col("vec_id") === qid)
        .select(operators.VectorOps.toDouble(col("embedding")))
        .as[Array[Double]].head()
      val got = Hnsw.probe(spark, dir, qv, topK = 11).as[(Long, Double)].collect()
      assert(got.head === ((qid, 1.0)), s"$ctx: $qid not reachable: ${got.head}")
      val overlap = got.tail.map(_._1).count(brute20(qid))
      assert(overlap >= 8,
        s"$ctx: top-10 for $qid ${got.tail.map(_._1).toSeq} shares < 8 with brute top-20")
    }
    // session 1: ids 400-449 stream in (the IVF appendToIndex convention)
    val newDir = java.nio.file.Files.createTempDirectory("hnswnew").toString
    emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
      .write.parquet(s"$newDir/in1")
    assert(Hnsw.appendToIndex(spark,
      spark.readStream.schema(emb.schema).parquet(s"$newDir/in1"),
      dir, s"$newDir/ckpt1").awaitTermination(120000))
    // session 2: NEW checkpoint, SAME index dir — its batchIds restart
    // at 0, so ingest layers keyed by batchId alone would overwrite
    // session 1's (and the replay-exclusion would drop session 1's
    // batch-0 nodes); the checkpoint token keeps them disjoint
    emb.filter(col("vec_id") >= 450).write.parquet(s"$newDir/in2")
    assert(Hnsw.appendToIndex(spark,
      spark.readStream.schema(emb.schema).parquet(s"$newDir/in2"),
      dir, s"$newDir/ckpt2").awaitTermination(120000))
    assert(spark.read.parquet(s"$dir/nodes")
      .filter(col("level") === 0).count() === 500L,
      "second session must append beside the first, not overwrite it")
    val ingests = new java.io.File(s"$dir/nodes/level=0")
      .listFiles().map(_.getName).filter(_.startsWith("ingest=")).toSet
    assert(ingests.size === 3 &&
      ingests.count(_.matches("ingest=[0-9a-f]{8}-0")) === 2,
      s"expected base + two token-keyed batch-0 layers: $ingests")
    checkReachable(420L, "after both sessions")
    checkReachable(470L, "after both sessions")
    // compaction folds the delta layers into the base adjacency with
    // the M-prune and collapses node ingest layers — no retrain, no
    // reachability loss, degree debt repaid
    assert(Hnsw.compactIndex(spark, dir), "delta layers present — must compact")
    assert(!new java.io.File(s"$dir/delta").exists, "delta must be folded away")
    assert(spark.read.parquet(s"$dir/nodes")
      .filter(col("level") === 0).count() === 500L)
    val maxDeg = spark.read.parquet(s"$dir/edges")
      .groupBy(col("level"), col("node"))
      .agg(count(lit(1)).as("d")).agg(max(col("d"))).as[Long].head()
    assert(maxDeg <= Hnsw.M,
      s"post-compaction degree $maxDeg exceeds M=${Hnsw.M} — prune missing")
    // the repair pass: no node loses its last incoming edge to the prune
    val incoming0 = spark.read.parquet(s"$dir/edges")
      .filter(col("level") === 0).select(col("nb")).distinct().count()
    assert(incoming0 === 500L,
      s"only $incoming0/500 nodes kept an incoming edge — repair pass failed")
    checkReachable(420L, "after compaction")
    checkReachable(470L, "after compaction")
    assert(!Hnsw.compactIndex(spark, dir), "no delta left — compact must no-op")
  }

  /** The short call sites of the Spark jobs `body` starts: each job's
    * result stage (its last) is named after the action's call site.
    */
  private def jobSites(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.maxBy(_.stageId).name)
    }
    org.apache.spark.sql.graft.bridge.drainListenerBus(sc, 10000L)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.graft.bridge.drainListenerBus(sc, 10000L)
    } finally sc.removeSparkListener(listener)
    sites.asScala.toSeq
  }

  test("a repeat IVF or PQ probe of an unchanged index builds its frame without a job") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf0001)
    val ivf = java.nio.file.Files.createTempDirectory("ivfopen").toString
    Similarity.saveIndex(spark, emb, ivf, iters = 2)
    val pq = java.nio.file.Files.createTempDirectory("pqopen").toString
    Similarity.savePqIndex(spark, emb, pq, iters = 2)
    val qv = emb.filter(col("vec_id") === 42)
      .select(operators.VectorOps.toDouble(col("embedding")))
      .as[Array[Double]].head()
    val probes = Seq(
      "ivf" -> (() => Similarity.probeIndex(spark, ivf, qv, topK = 6, probes = 2)),
      "pq" -> (() => Similarity.probePqIndex(spark, pq, qv, topK = 6, probes = 2)))
    for ((name, probe) <- probes) {
      var first: org.apache.spark.sql.DataFrame = null
      // the first open infers the schemas and collects the constants
      assert(jobSites { first = probe() }.nonEmpty, s"$name: the first open must read the index")
      var again: org.apache.spark.sql.DataFrame = null
      val sites = jobSites { again = probe() }
      assert(sites.isEmpty, s"$name: a repeat probe re-opened the index: $sites")
      // the probe itself still runs, and answers the same
      assert(again.collect().toSeq === first.collect().toSeq)
    }
  }

  /** An HNSW index over the vectors `emb` keeps, with trained cells on
    * every level (a small exact-pair cap), so its probes also seed from
    * the level-0 centroid bank.
    */
  private def celledHnsw(keep: org.apache.spark.sql.Column, dir: String): Unit =
    operators.Hnsw.buildIndex(spark, Tables.embeddings(spark, sf0001).filter(keep), dir,
      nHint = 250L, exactPairCap = 40L)

  private def vectorOf(id: Long): Array[Double] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Tables.embeddings(spark, sf0001).filter(col("vec_id") === id)
      .select(operators.VectorOps.toDouble(col("embedding")))
      .as[Array[Double]].head()
  }

  test("hnsw: a repeat probe of an unchanged index starts only its hop reads") {
    import org.apache.spark.sql.functions._
    import graft.operators.Hnsw
    val dir = java.nio.file.Files.createTempDirectory("hnswopen").toString
    celledHnsw(col("vec_id") < 250, dir)
    val qv = vectorOf(42L)
    val first = Hnsw.probe(spark, dir, qv, topK = 5).collect().toSeq
    // the probe runs its seed and hop reads eagerly; the top-k frame it
    // returns is executed by the caller, outside the count
    var again: org.apache.spark.sql.DataFrame = null
    val sites = jobSites { again = Hnsw.probe(spark, dir, qv, topK = 5) }
    assert(sites.nonEmpty && sites.forall(_.startsWith("collect at Hnsw.scala")),
      s"a repeat probe must start only its seed and hop reads: $sites")
    assert(again.collect().toSeq === first)
  }

  test("hnsw: an index directory swapped in by another writer is served at once") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.{Compaction, Hnsw}
    val root = java.nio.file.Files.createTempDirectory("hnswswap").toString
    val dir = s"$root/idx"
    celledHnsw(col("vec_id") < 250, dir)
    val qv = vectorOf(300L)
    def probe(d: String) = Hnsw.probe(spark, d, qv, topK = 5).as[(Long, Double)].collect().toSeq
    val old = probe(dir)
    // another writer rebuilds the index from different vectors into a
    // sibling and swaps it in: no Hnsw.buildIndex call on `dir`
    val sibling = s"$root/idx__rebuilt"
    celledHnsw(col("vec_id") >= 250, sibling)
    val want = probe(sibling)
    Compaction.swapStaged(spark, dir, sibling)(true)
    val got = probe(dir)
    assert(got.head === ((300L, 1.0)), s"the swapped-in index holds the query vector: $got")
    assert(got === want, "the probe served the superseded index")
    assert(got !== old)
  }
}
