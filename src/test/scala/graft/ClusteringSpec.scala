package graft

import graft.operators.Clustering

/** Connected components: correctness on known graph shapes, log-round
  * convergence on deep chains (the ADVICE round-cap hazard), and the
  * certified-fixpoint contract (throws, never silent partial labels).
  */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)], maxRounds: Int = 30): Map[Long, Long] =
    Clustering.connectedComponents(
        spark, pairs.toDF("a_id", "b_id"), maxRounds)
      .as[(Long, Long)].collect().toMap

  /** Force the distributed path-halving loop regardless of graph size
    * (the adaptive switch would otherwise route these small fixtures to
    * driver-side union-find).
    */
  private def distributed[A](body: => A): A = {
    spark.conf.set("spark.graft.cc.localEdgeLimit", "0")
    try body finally spark.conf.unset("spark.graft.cc.localEdgeLimit")
  }

  test("kcorePeelCounts: local/distributed parity and cascading peel") {
    // chain 1-2-3-4-5 at k=2 cascades: round 1 drops the endpoints,
    // round 2 drops the now-degree-1 nodes 2 and 4, round 3 empties
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    def run(edges: Seq[(Long, Long)], nodes: Seq[Long], k: Int): Seq[(Long, Long)] =
      Clustering.kcorePeelCounts(spark,
          edges.toDF("a", "b"), nodes.toDF("i"), k, rounds = 3)
        .orderBy("round").as[(Long, Long)].collect().toSeq
    val local = run(chain, 1L to 5L, k = 2)
    assert(local === Seq((1L, 3L), (2L, 1L), (3L, 0L)))
    val dist = distributed { run(chain, 1L to 5L, k = 2) }
    assert(dist === local)
    // K5 + pendant chain at k = 3: the chain dies round 1, the clique
    // (every degree >= 4) survives all rounds — on both paths
    val k5 = for { a <- 0L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val g = k5 ++ Seq((4L, 5L), (5L, 6L))
    val expected = Seq((1L, 5L), (2L, 5L), (3L, 5L))
    assert(run(g, 0L to 6L, k = 3) === expected)
    assert(distributed { run(g, 0L to 6L, k = 3) } === expected)
  }

  test("lpaLabels: local/distributed parity, multiplicity votes, smallest-label ties") {
    def run(edges: Seq[(Long, Long)], nodes: Seq[Long], rounds: Int): Map[Long, Long] =
      Clustering.lpaLabels(spark,
          edges.toDF("src", "dst"), nodes.toDF("v"), rounds)
        .as[(Long, Long)].collect().toMap
    // ONE round over a duplicated edge pins the two contracts at once:
    // nodes 1 and 2 hear the duplicated edge's label TWICE (multiplicity
    // beats single votes), while node 3 ties between its self label and
    // 1's vote — ties go to the SMALLEST label.
    val dup = Seq((1L, 2L), (1L, 2L), (1L, 3L))
    val r1 = run(dup, Seq(1L, 2L, 3L), rounds = 1)
    assert(r1 === Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
    assert(distributed(run(dup, Seq(1L, 2L, 3L), rounds = 1)) === r1)
    // two 4-cliques + one bridge, 4 synchronous rounds (the
    // crawl_communities shape): every member converges to its clique's
    // min id on BOTH strategies
    val cl1 = for { a <- 0L to 3L; b <- (a + 1) to 3L } yield (a, b)
    val cl2 = for { a <- 10L to 13L; b <- (a + 1) to 13L } yield (a, b)
    val g = cl1 ++ cl2 ++ Seq((3L, 10L))
    val nodes = (0L to 3L) ++ (10L to 13L)
    val local = run(g, nodes, rounds = 4)
    assert(local === distributed(run(g, nodes, rounds = 4)))
    assert((0L to 3L).forall(v => local(v) === 0L), s"clique 1 labels: $local")
    assert((11L to 13L).forall(v => local(v) === 10L), s"clique 2 labels: $local")
    // hub-skew directed fixture (every node links a hub, crawlEdgeTable's
    // in-degree shape) + an isolated node (self vote only): parity again
    val hub = (1L to 20L).map(i => (i, 0L)) ++ Seq((5L, 6L))
    val hn = 0L to 21L
    assert(run(hub, hn, rounds = 4) === distributed(run(hub, hn, rounds = 4)))
    assert(run(hub, hn, rounds = 4)(21L) === 21L, "isolated node keeps its own label")
  }

  test("distributed lpa rejects node ids outside its packed 32-bit label field") {
    val big = 1L << 32
    val edges = Seq((big + 1, big + 2), (big + 2, big + 3), (big + 3, big + 1)).toDF("src", "dst")
    val nodes = Seq(big + 1, big + 2, big + 3).toDF("v")
    // the driver-side path packs nothing: every node lands in the
    // triangle's smallest label
    assert(Clustering.lpaLabels(spark, edges, nodes, rounds = 2)
      .as[(Long, Long)].collect().toMap.values.toSet === Set(big + 1))
    val err = intercept[Exception] {
      distributed { Clustering.lpaLabels(spark, edges, nodes, rounds = 2).collect() }
    }
    assert(err.getMessage.contains("2^32"), err.getMessage)
  }

  test("two components get their min-node labels") {
    val labels = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("deep chain (diameter 200) converges within the 30-round cap") {
    // Pure min-propagation needs ~200 rounds here; path halving makes it
    // logarithmic — exactly the failure mode a silent 20-round cap hid.
    val chain = (0L until 200L).map(i => (i, i + 1))
    val labels = distributed(cc(chain))
    assert(labels.size === 201)
    assert(labels.values.forall(_ === 0L))
  }

  test("non-convergence throws instead of returning partial labels") {
    val chain = (0L until 64L).map(i => (i, i + 1))
    val e = distributed(
      intercept[IllegalStateException] { cc(chain, maxRounds = 1) })
    assert(e.getMessage.contains("fixpoint"))
  }

  test("adaptive switch: local fast path and distributed loop agree") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L), (50L, 51L))
    assert(cc(pairs) === distributed(cc(pairs)))
  }

  test("empty pair set yields empty labels without error") {
    assert(cc(Seq.empty) === Map.empty)
  }

  test("output schema is LongType on both strategies regardless of input id type") {
    // crossing the adaptive threshold must be observationally invisible,
    // including to downstream unionByName/join schema resolution
    import org.apache.spark.sql.types.LongType
    val intPairs = Seq((1, 2), (2, 3)).toDF("a_id", "b_id")
    val local = Clustering.connectedComponents(spark, intPairs)
    val dist = distributed(Clustering.connectedComponents(spark, intPairs))
    for (df <- Seq(local, dist); f <- df.schema.fields)
      assert(f.dataType === LongType, s"${f.name} on ${df}")
    assert(local.as[(Long, Long)].collect().toMap ===
      dist.as[(Long, Long)].collect().toMap)
  }

  test("reliable checkpoint mode: correct labels, only the final round's files survive") {
    val dir = java.nio.file.Files.createTempDirectory("ccreliable").toString
    spark.conf.set("spark.graft.cc.checkpointDir", dir)
    spark.conf.set("spark.graft.cc.localEdgeLimit", "0") // checkpoints are a distributed-loop concern
    try {
      val priorCkDir = spark.sparkContext.getCheckpointDir
      val labels = cc((0L until 40L).map(i => (i, i + 1)) :+ (100L, 101L))
      assert(labels.size === 43)
      assert(labels.filter(_._1 <= 41L).values.forall(_ === 0L))
      assert(labels(101L) === 100L)
      // every earlier round's round-N subdirectory (inside this run's
      // unique cc-run-* dir) must be deleted; the final round's files
      // back the returned frame and survive
      val runs = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("cc-run-")).toSeq
      assert(runs.length === 1, s"expected one run dir, found: $runs")
      val rounds = runs.head.listFiles()
        .filter(_.getName.startsWith("round-")).map(_.getName).toSeq
      assert(rounds.length === 1,
        s"expected exactly the final round on disk, found: $rounds")
      // the session's checkpoint dir is restored, so an unrelated
      // df.checkpoint() after a CC run is unaffected
      assert(spark.sparkContext.getCheckpointDir === priorCkDir)
      // a SECOND distributed run must not delete files backing the
      // first run's still-live labels frame (checkpoint files are
      // re-read on every action) — this was a real pre-fix hazard when
      // both runs shared cc-round-N paths
      val first = Clustering.connectedComponents(spark,
        Seq((7L, 8L), (8L, 9L)).toDF("a_id", "b_id"))
      assert(first.count() === 3)
      val second = Clustering.connectedComponents(spark,
        Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id"))
      assert(second.count() === 3)
      assert(first.as[(Long, Long)].collect().toMap ===
        Map(7L -> 7L, 8L -> 7L, 9L -> 7L))
    } finally {
      spark.conf.unset("spark.graft.cc.checkpointDir")
      spark.conf.unset("spark.graft.cc.localEdgeLimit")
    }
  }

  test("concurrent reliable runs: baseline restored once, later checkpoints work") {
    // Two overlapping reliable-checkpoint runs: each previously captured
    // getCheckpointDir per-run, so one could snapshot the OTHER run's
    // transient round-N dir and restore the context to a deleted path.
    // Now the baseline is captured by the first run in / restored by the
    // last run out, so after both finish an unrelated df.checkpoint()
    // must still land in a live directory.
    val dir = java.nio.file.Files.createTempDirectory("ccconc").toString
    val userCk = java.nio.file.Files.createTempDirectory("ccuserck").toString
    spark.sparkContext.setCheckpointDir(userCk) // the session's own prior dir
    spark.conf.set("spark.graft.cc.checkpointDir", dir)
    spark.conf.set("spark.graft.cc.localEdgeLimit", "0")
    try {
      val priorCkDir = spark.sparkContext.getCheckpointDir
      val chainA = (0L until 120L).map(i => (i, i + 1))
      val chainB = (1000L until 1120L).map(i => (i, i + 1))
      val results = new java.util.concurrent.ConcurrentHashMap[String, Map[Long, Long]]()
      val errors = new java.util.concurrent.CopyOnWriteArrayList[Throwable]()
      val threads = Seq("a" -> chainA, "b" -> chainB).map { case (name, chain) =>
        new Thread(() => {
          try results.put(name, cc(chain))
          catch { case t: Throwable => errors.add(t) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(120000))
      assert(errors.isEmpty, s"concurrent CC run failed: ${errors}")
      assert(results.get("a").values.forall(_ === 0L))
      assert(results.get("b").values.forall(_ === 1000L))
      // restored inside the session's own dir (setCheckpointDir appends
      // one UUID level — documented), and NOT inside either run's
      // transient cc-run-* tree
      val restored = spark.sparkContext.getCheckpointDir.get
      assert(restored.startsWith(priorCkDir.get),
        s"restored $restored is outside the session's prior dir $priorCkDir")
      assert(!restored.contains("cc-run-"),
        s"restored $restored points into a CC run's transient tree")
      // the restored dir must be usable — a restore-to-deleted-path bug
      // surfaces here as a FileNotFound/IO failure inside checkpoint()
      val ck = Seq((1L, 2L)).toDF("x", "y").checkpoint()
      assert(ck.count() === 1)
    } finally {
      spark.conf.unset("spark.graft.cc.checkpointDir")
      spark.conf.unset("spark.graft.cc.localEdgeLimit")
      spark.sparkContext.setCheckpointDir(null) // back to the suite default
    }
  }

  test("star and triangle collapse to the hub/min label") {
    val labels = cc(Seq((5L, 6L), (5L, 7L), (5L, 8L), (20L, 21L), (21L, 22L), (20L, 22L)))
    assert(labels(6L) === 5L && labels(7L) === 5L && labels(8L) === 5L)
    assert(labels(20L) === 20L && labels(21L) === 20L && labels(22L) === 20L)
  }
}
