package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components over near-dup candidate pairs —
  * the stage that turns pairwise matches into dedup groups (keeper =
  * min doc_id per component).
  *
  * Algorithm: min-label propagation accelerated with path halving
  * (each round a node takes the min of its own label, its neighbors'
  * labels, AND its label's label — the pointer-jumping trick from the
  * MapReduce-CC literature). Labels decrease monotonically and are
  * bounded by the component minimum, so the label SUM is a convergence
  * certificate: an unchanged sum is a fixpoint, no per-round diff join
  * needed. Pure propagation needs diameter rounds; halving needs
  * O(log diameter) — a 1M-node chain converges in ~20 rounds instead
  * of 1M.
  *
  * Fault tolerance: each round's labels are checkpointed to truncate
  * lineage (else round r re-derives rounds 0..r-1). By default this is
  * `localCheckpoint` (executor-local blocks — fast, NOT resilient to
  * executor loss). For production set `spark.graft.cc.checkpointDir`
  * on the session: rounds then use reliable `checkpoint()` into that
  * directory and survive executor failure. Every RUN gets its own
  * unique subdirectory (so a later run can never delete files backing
  * a previously returned labels frame), each round writes into its own
  * `round-N` subdirectory inside it, and round N-1 is deleted as soon
  * as round N has materialized (the eager checkpoint is
  * self-contained, so nothing re-reads the older files) — a long run
  * keeps at most two rounds on the reliable store instead of leaking
  * every round (Spark only auto-cleans checkpoints with
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, off by
  * default). The FINAL round's subdirectory backs the returned
  * DataFrame and intentionally survives; callers own the configured
  * directory's lifecycle. `SparkContext.setCheckpointDir` is
  * JVM-global, so checkpoint rounds serialize on a process-wide lock
  * (two concurrent CC runs interleaving set+checkpoint would otherwise
  * drop files into each other's round dirs and then delete them), and
  * the session's prior checkpoint dir is restored on exit so unrelated
  * `df.checkpoint()` calls are unaffected.
  */
object Clustering {

  /** Serializes (setCheckpointDir, checkpoint, delete-prev) sequences:
    * the checkpoint directory is SparkContext-global mutable state.
    */
  private val checkpointLock = new Object

  /** Cross-run restore bookkeeping (guarded by [[checkpointLock]]).
    * A run that captured `getCheckpointDir` while ANOTHER run was
    * mid-rounds would capture that run's transient `round-N` dir as the
    * "prior" dir and later restore the context to a path the other run
    * deletes. Instead the baseline is captured once, by the FIRST run to
    * enter while no reliable-checkpoint CC run is active (so it can only
    * ever be a non-CC directory), and restored once, by the LAST run to
    * exit.
    */
  private var activeReliableRuns = 0
  private var baselineCkDir: Option[String] = None

  /** Hard ceiling on the strategy probe's driver collect. Each edge is a
    * boxed (Long, Long) — ~50 bytes on-heap — so 4M edges is a bounded
    * ~200 MB worst case; a misconfigured `localEdgeLimit` of, say,
    * Int.MaxValue would otherwise turn `limit(n + 1).collect()` into an
    * unbounded driver OOM before the strategy decision is even made.
    */
  private val LocalEdgeLimitCeiling = 1 << 22

  /** (node, label) for every node appearing in `pairs` (a_id, b_id);
    * label = min node id of the connected component. `node` and
    * `label` are always LongType regardless of the input id type —
    * both strategies cast once at the edge, so crossing the adaptive
    * threshold can never change the output schema.
    *
    * ADAPTIVE strategy (the AQE philosophy applied to an iterative
    * operator): near-dup candidate graphs are usually tiny relative to
    * the corpus — a handful of edges per duplicate cluster — and a
    * distributed round costs several jobs (join, aggregate, halving
    * join, checkpoint, certificate action). The strategy probe is a
    * bounded `limit(localLimit + 1)` collect — NOT a full count(),
    * which would execute the entire upstream candidate-pair pipeline
    * once just to size it — and when the graph is small the probe's
    * rows ARE the edge list, so the local path pays zero extra
    * computation. Below `spark.graft.cc.localEdgeLimit` edges (default
    * 65536 — a bounded ~1 MB collect), labels come from driver-side
    * union-find with path compression in microseconds; above it, the
    * distributed path-halving loop runs. Identical output by
    * construction: union always roots at the SMALLER id, so each root
    * is its component's minimum — the same label the min-propagation
    * fixpoint converges to (ClusteringPropertySpec pins the two
    * against each other).
    *
    * Throws IllegalStateException if the distributed fixpoint is not
    * certified within `maxRounds` — partial labels are never returned
    * silently (a silent cap would emit wrong clusters for a graph whose
    * diameter exceeds it). With halving, 30 rounds covers diameters
    * beyond any physical graph (~2^29).
    */
  def connectedComponents(spark: SparkSession, pairs: DataFrame,
      maxRounds: Int = 30): DataFrame = {
    import spark.implicits._
    val localLimit = localEdgeLimit(spark)
    val longPairs = pairs
      .select(col("a_id").cast("long").as("a_id"), col("b_id").cast("long").as("b_id"))
    val probe = longPairs.limit(localLimit + 1).as[(Long, Long)].collect()
    if (probe.length <= localLimit) unionFindLabels(spark, probe)
    else distributedConnectedComponents(spark, longPairs, maxRounds)
  }

  /** `spark.graft.cc.localEdgeLimit` (default 65536), clamped to
    * [[LocalEdgeLimitCeiling]]: the "graph small enough for the driver"
    * bound every adaptive graph operator here shares.
    */
  private def localEdgeLimit(spark: SparkSession): Int = math.min(
    spark.conf.get("spark.graft.cc.localEdgeLimit", (1 << 16).toString).toLong,
    LocalEdgeLimitCeiling.toLong).toInt

  /** The adaptive strategy probe of [[bfsLayers]], [[kcorePeelCounts]]
    * and [[lpaLabels]]: bounded `limit(limit + 1)` collects of the
    * long edge pairs and then of the one-column node set. When both
    * fit under [[localEdgeLimit]] the probe rows ARE the graph and are
    * returned for the driver-side path; otherwise None.
    */
  private def localProbe(spark: SparkSession, edges: DataFrame, nodes: DataFrame)
      : Option[(Array[(Long, Long)], Array[Long])] = {
    import spark.implicits._
    val limit = localEdgeLimit(spark)
    val edgeProbe = edges.limit(limit + 1).as[(Long, Long)].collect()
    if (edgeProbe.length > limit) None
    else {
      val nodeProbe = nodes.limit(limit + 1).as[Long].collect()
      if (nodeProbe.length > limit) None else Some((edgeProbe, nodeProbe))
    }
  }

  /** Driver-side union-find over an already-collected edge list (the
    * strategy probe doubles as the collect). O(edges α(n)) time — the
    * documented exception to the no-driver-collect rule, same class as
    * the O(k x dim) centroid fetches.
    */
  private def unionFindLabels(spark: SparkSession,
      es: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      // min-root union: the root of every tree is its component's
      // smallest id, so find(n) IS the label contract
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toSeq.map(n => (n, find(n))).toDF("node", "label")
  }

  /** Test seam: force the local strategy on a DataFrame of pairs. */
  private[operators] def localConnectedComponents(spark: SparkSession,
      pairs: DataFrame): DataFrame = {
    import spark.implicits._
    unionFindLabels(spark, pairs
      .select(col("a_id").cast("long"), col("b_id").cast("long"))
      .as[(Long, Long)].collect())
  }

  /** Multi-source BFS layers over a directed edge list — the frontier-
    * expansion primitive behind crawl scheduling, reachability audits
    * and hop-distance features. Input: `edges` with (src, dst), `seeds`
    * with (v); output: (v, d) with d = exact hop distance from the seed
    * set, one row per node reachable within `maxRounds` hops.
    *
    * Frontier-delta recurrence: round r joins ONLY the layer-(r-1)
    * frontier against the edges, anti-joins the visited set, and the
    * newly discovered nodes ARE layer r (a node can never be discovered
    * twice, so this is exact BFS — no per-round re-aggregation of the
    * full distance table). Per-round shuffle volume is O(frontier +
    * visited) keys, never O(edges x rounds).
    *
    * Lineage discipline for DEEP graphs (the 100x-diameter posture):
    *  - every round's frontier becomes an RDD-backed leaf (lazy
    *    `localCheckpoint(false)`), so the visited set is a flat UNION
    *    of leaves and the Catalyst tree grows LINEARLY in rounds — the
    *    naive `dist = f(dist)` recurrence self-references the prior
    *    round twice (frontier + anti-join) and its tree doubles per
    *    round, stalling analysis past ~20 rounds;
    *  - every `checkpointEvery` rounds the frontier checkpoint is EAGER,
    *    truncating the chained RDD lineage bottom-up (a thousand-round
    *    lineage would otherwise overflow the DAGScheduler) and doubling
    *    as the emptiness probe — the ONLY per-round action this loop
    *    schedules, one bounded `limit(1)` per `checkpointEvery` rounds.
    *
    * ROUND-CAP CONTRACT: unlike [[connectedComponents]] (whose cap is a
    * convergence guard and THROWS on overflow), `maxRounds` here is a
    * semantic bound — "nodes within k hops" is the query, so nodes
    * farther than `maxRounds` are intentionally absent from the output,
    * at any diameter. Callers wanting full reachability pass a cap
    * comfortably above the diameter; the boundary probe exits early as
    * soon as a frontier empties, so an over-provisioned cap costs one
    * no-op segment, not `maxRounds` joins.
    *
    * ADAPTIVE strategy (the [[connectedComponents]] precedent, same
    * rationale): a distributed round costs 2 joins + a shuffle each,
    * and hop-ball queries routinely run over bounded candidate graphs.
    * The probe is a bounded `limit(limit + 1)` collect on edges AND
    * seeds — when both fit under `spark.graft.cc.localEdgeLimit`
    * (default 65536, same key as CC: one knob for "graph small enough
    * for the driver"), the probe rows ARE the graph and BFS runs
    * driver-side in microseconds; above it, the distributed
    * frontier-delta loop runs. Identical output by construction — BFS
    * layers are unique — and ScalePostureSpec pins the two paths
    * against each other.
    */
  def bfsLayers(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
      maxRounds: Int, checkpointEvery: Int = 8): DataFrame = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val s = seeds.select(col("v").cast("long").as("v"))
    localProbe(spark, e, s) match {
      case Some((es, vs)) => localBfsLayers(spark, es, vs, maxRounds)
      case None => distributedBfsLayers(spark, e, s, maxRounds, checkpointEvery)
    }
  }

  /** Driver-side BFS over an already-collected bounded graph (the
    * strategy probe doubles as the collect — the [[unionFindLabels]]
    * exception class).
    */
  private def localBfsLayers(spark: SparkSession, es: Array[(Long, Long)],
      seeds: Array[Long], maxRounds: Int): DataFrame = {
    import spark.implicits._
    val adj = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    es.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
    }
    val dist = scala.collection.mutable.HashMap.empty[Long, Long]
    var frontier: Seq[Long] = seeds.distinct.toSeq
    frontier.foreach(v => dist(v) = 0L)
    var r = 1
    while (r <= maxRounds && frontier.nonEmpty) {
      val nxt = scala.collection.mutable.ArrayBuffer.empty[Long]
      frontier.foreach { v =>
        adj.get(v).foreach(_.foreach { w =>
          if (!dist.contains(w)) { dist(w) = r.toLong; nxt += w }
        })
      }
      frontier = nxt.toSeq
      r += 1
    }
    dist.toSeq.toDF("v", "d")
  }

  /** Iterative k-core peeling over an UNDIRECTED edge list: `rounds`
    * fixed rounds, each recomputing degrees over the SURVIVING
    * subgraph and dropping nodes with degree < k. Returns one row per
    * round: (round 1.., n_alive after that round's drop) — the
    * subgraph-refinement counts `crawl_kcore6` reports. Adaptive like
    * [[bfsLayers]] (same `spark.graft.cc.localEdgeLimit` knob): under
    * the bound, the strategy probe doubles as the collect and the
    * peel runs on the driver — the distributed loop pays 2 semi-joins
    * + a degree aggregate + a localCheckpoint PER ROUND (~26 jobs for
    * 3 rounds), pure scheduling floor on a graph that fits in one
    * task. Above the bound the loop below is the 100 TB path,
    * unchanged. Both paths compute identical integer counts (degree
    * over alive×alive edges, then the drop).
    *
    * `edges` columns (a, b): distinct undirected pairs (a < b by the
    * caller's convention; the peel only needs each pair once).
    * `nodes` column (i): the round-0 alive set.
    */
  def kcorePeelCounts(spark: SparkSession, edges: DataFrame, nodes: DataFrame,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
    val nd = nodes.select(col("i").cast("long").as("i"))
    localProbe(spark, e, nd) match {
      case Some((es, vs)) => localKcorePeel(spark, es, vs, k, rounds)
      case None => distributedKcorePeel(spark, e, nd, k, rounds)
    }
  }

  /** Driver-side peel over an already-collected bounded graph (the
    * strategy probe doubles as the collect — the [[bfsLayers]]
    * pattern).
    */
  private def localKcorePeel(spark: SparkSession, es: Array[(Long, Long)],
      nodes: Array[Long], k: Int, rounds: Int): DataFrame = {
    import spark.implicits._
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    es.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
    }
    var alive = scala.collection.mutable.HashSet.empty[Long]
    nodes.foreach(alive += _)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    for (r <- 1 to rounds) {
      // degrees over the CURRENT alive set, then the drop — the same
      // two-phase round the distributed loop runs
      val next = alive.filter { v =>
        adj.get(v).exists(_.count(alive) >= k)
      }
      alive = next
      out += ((r.toLong, alive.size.toLong))
    }
    out.toSeq.toDF("round", "n_alive")
  }

  /** Synchronous label propagation (LPA, Raghavan et al.) over a
    * DIRECTED edge list treated as an undirected multigraph plus one
    * self vote per node: `rounds` fixed synchronous rounds, label =
    * the most frequent neighbor label counting multiplicity plus the
    * node's own current label once, ties to the SMALLEST label —
    * integer-only, bit-exact cross-engine (the `crawl_communities`
    * contract). Returns (u, lbl), one row per labeled node.
    *
    * Adaptive like [[kcorePeelCounts]] (same
    * `spark.graft.cc.localEdgeLimit` knob): under the bound the
    * strategy probe doubles as the collect and the rounds run on the
    * driver — the distributed loop pays a join + two aggregate
    * exchanges PER ROUND (~14 exchanges for 4 rounds at bench SFs,
    * pure scheduling floor on a graph that fits in one task). Above
    * the bound the identical distributed loop below runs — the 100 TB
    * path, unchanged (per round: one edges-x-labels join, one
    * (v, lbl) count exchange, one per-node packed-long argmax;
    * ClusteringSpec pins local/distributed parity).
    *
    * `edges` columns (src, dst); `nodes` column (v).
    */
  def lpaLabels(spark: SparkSession, edges: DataFrame, nodes: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val nd = nodes.select(col("v").cast("long").as("v"))
    localProbe(spark, e, nd) match {
      case Some((es, vs)) => localLpa(spark, es, vs, rounds)
      case None => distributedLpa(spark, e, nd, rounds)
    }
  }

  /** Driver-side LPA over an already-collected bounded graph (the
    * strategy probe doubles as the collect — the [[localKcorePeel]]
    * exception class). Mirrors [[distributedLpa]] row for row: the
    * vote multiset for v is one vote per directed edge endpoint pairing
    * (src->dst AND dst->src) whose voter u currently has a label, plus
    * v's own current label once (the self row) — nodes only; a
    * non-node edge endpoint can RECEIVE a label but never votes until
    * it has one.
    */
  private def localLpa(spark: SparkSession, es: Array[(Long, Long)],
      nodes: Array[Long], rounds: Int): DataFrame = {
    import spark.implicits._
    // und pairs (v, u): each edge both ways + one self pair per node
    val und = new Array[Long](es.length * 4 + nodes.length * 2)
    var i = 0
    es.foreach { case (a, b) =>
      und(i) = a; und(i + 1) = b; und(i + 2) = b; und(i + 3) = a; i += 4
    }
    nodes.foreach { v => und(i) = v; und(i + 1) = v; i += 2 }
    val labels = scala.collection.mutable.HashMap.empty[Long, Long]
    nodes.foreach(v => labels(v) = v)
    for (_ <- 1 to rounds) {
      // counted: (v, lbl(u)) multiset over pairs whose u is labeled
      val counts = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
      var j = 0
      while (j < und.length) {
        val v = und(j); val u = und(j + 1)
        labels.get(u).foreach { l =>
          val key = (v, l)
          counts(key) = counts.getOrElse(key, 0L) + 1L
        }
        j += 2
      }
      // argmax: count desc, ties to the SMALLEST label — the packed-long
      // max the distributed loop computes
      val next = scala.collection.mutable.HashMap.empty[Long, Long]
      counts.foreach { case ((v, l), c) =>
        next.get(v) match {
          case Some(best) =>
            val bc = counts((v, best))
            if (c > bc || (c == bc && l < best)) next(v) = l
          case None => next(v) = l
        }
      }
      labels.clear()
      next.foreach { case (v, l) => labels(v) = l }
    }
    labels.toSeq.toDF("u", "lbl")
  }

  /** Distributed per-round loop (the pre-adaptive `crawl_communities`
    * shape); package-visible so ClusteringSpec can drive it below the
    * adaptive threshold and pin parity with the local path.
    */
  private[graft] def distributedLpa(spark: SparkSession,
      e: DataFrame, nodes: DataFrame, rounds: Int): DataFrame = {
    val und = e.select(col("src").as("v"), col("dst").as("u"))
      .unionByName(e.select(col("dst").as("v"), col("src").as("u")))
      .unionByName(nodes.select(col("v"), col("v").as("u")))
    // the packed argmax below needs 0 <= label < 2^32; labels only
    // ever move between nodes, so checking the seed labels covers
    // every round
    var labels = nodes.select(col("v").as("u"),
      when(col("v").between(0L, 0xffffffffL), col("v"))
        .otherwise(raise_error(lit(
          "lpaLabels: node id outside [0, 2^32) does not fit the packed label field")))
        .as("lbl"))
    for (_ <- 1 to rounds) {
      val counted = und.join(labels, Seq("u"))
        .groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("c"))
      // argmax via MAX over ONE PACKED LONG (count in the high 32
      // bits, bit-inverted label in the low 32 — count desc, ties to
      // the SMALLEST label): same result as a row_number window or a
      // struct-max, but the aggregate buffer stays a primitive so
      // Catalyst keeps it a HASH aggregate (struct-max falls back to
      // SortAggregate; the window adds a per-node sort — the
      // dedup_ngram_jaccard packed-long recipe applied to argmax).
      // Packing bound: labels < 2^32 (guarded above) and counts < 2^31
      // (a count is bounded by degree+1).
      labels = counted
        .groupBy(col("v"))
        .agg(max(shiftleft(col("c"), 32) +
          (lit(0xffffffffL) - col("lbl"))).as("m"))
        .select(col("v").as("u"),
          (lit(0xffffffffL) - col("m").bitwiseAND(lit(0xffffffffL))).as("lbl"))
    }
    labels
  }

  /** Distributed per-round loop (the pre-adaptive `crawl_kcore6`
    * shape); package-visible so the spec can drive it below the
    * adaptive threshold and pin parity with the local path.
    */
  private[graft] def distributedKcorePeel(spark: SparkSession,
      e: DataFrame, nodes: DataFrame, k: Int, rounds: Int): DataFrame = {
    val edges = e.localCheckpoint() // every round re-reads it
    def peel(alive: DataFrame): DataFrame = {
      val live = edges
        .join(alive.select(col("i").as("a")), Seq("a"))
        .join(alive.select(col("i").as("b")), Seq("b"))
      val deg = live.select(col("a").as("i"))
        .unionByName(live.select(col("b").as("i")))
        .groupBy(col("i")).agg(count(lit(1)).as("d"))
      alive.join(deg, Seq("i"), "left")
        .filter(coalesce(col("d"), lit(0L)) >= k)
        .select(col("i"))
    }
    var alive = nodes
    var arms = Seq.empty[DataFrame]
    for (r <- 1 to rounds) {
      alive = peel(alive)
      if (r < rounds) alive = alive.localCheckpoint()
      arms = arms :+ alive.agg(count(lit(1)).as("n_alive"))
        .select(lit(r.toLong).as("round"), col("n_alive"))
    }
    arms.reduce(_ unionByName _)
  }

  /** Distributed frontier-delta loop (see [[bfsLayers]] for the lineage
    * discipline); package-visible so the posture spec can drive it
    * below the adaptive threshold.
    */
  private[graft] def distributedBfsLayers(spark: SparkSession,
      e: DataFrame, seeds: DataFrame,
      maxRounds: Int, checkpointEvery: Int): DataFrame = {
    var dist = seeds.distinct()
      .select(col("v"), lit(0L).as("d"))
    var frontier = dist
    var live = true
    var r = 1
    while (r <= maxRounds && live) {
      val nxt = frontier.select(col("v"))
        .join(e, col("v") === col("src"))
        .select(col("dst").as("v")).distinct()
        .join(dist, Seq("v"), "left_anti")
        .select(col("v"), lit(r.toLong).as("d"))
      val boundary = r % checkpointEvery == 0 && r < maxRounds
      frontier =
        if (boundary) {
          val f = nxt.localCheckpoint() // eager: truncates RDD lineage here
          live = f.limit(1).count() > 0
          f
        } else nxt.localCheckpoint(false) // lazy: leaf now, blocks on first action
      dist = dist.unionByName(frontier)
      r += 1
    }
    dist
  }

  private def distributedConnectedComponents(spark: SparkSession,
      pairs: DataFrame, maxRounds: Int): DataFrame = {
    val ckDir = spark.conf.getOption("spark.graft.cc.checkpointDir")
    val runDir = ckDir.map(base =>
      s"$base/cc-run-${java.util.UUID.randomUUID().toString}")
    var roundIdx = 0
    var prevRoundDir: Option[String] = None
    def deleteDir(dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
    // The pre-CC checkpoint dir is captured by the FIRST active run and
    // restored by the LAST (see activeReliableRuns): capturing per-run
    // outside the lock could snapshot a concurrent run's transient
    // round-N dir — a path that run deletes — and restoring it would
    // break subsequent unrelated df.checkpoint() calls. Restoring only
    // at end-of-run (not per round) also matters: getCheckpointDir
    // returns the UUID subpath setCheckpointDir created, so a per-round
    // restore would re-mkdir the just-deleted round dir. (If the session
    // had a prior checkpoint dir, the restore points one UUID level
    // deeper than the user's original string — still inside their
    // directory, so unrelated df.checkpoint() calls keep landing where
    // they expect.)
    if (runDir.isDefined) checkpointLock.synchronized {
      if (activeReliableRuns == 0) baselineCkDir = spark.sparkContext.getCheckpointDir
      activeReliableRuns += 1
    }
    def persistRound(df: DataFrame): DataFrame = runDir match {
      case Some(run) => checkpointLock.synchronized {
        val roundDir = s"$run/round-$roundIdx"
        spark.sparkContext.setCheckpointDir(roundDir)
        val out = df.checkpoint() // eager: materialized before we return
        prevRoundDir.foreach(deleteDir)
        prevRoundDir = Some(roundDir)
        roundIdx += 1
        out
      }
      case None => df.localCheckpoint()
    }
    def restoreCkDir(): Unit = if (runDir.isDefined) checkpointLock.synchronized {
      activeReliableRuns -= 1
      // Only the last run out restores; while a sibling run is still
      // active the context keeps pointing at a live round dir and the
      // sibling resets it on its own next persistRound.
      if (activeReliableRuns == 0)
        spark.sparkContext.setCheckpointDir(baselineCkDir.orNull)
    }

    val edges = pairs.select(col("a_id"), col("b_id"))
      .unionByName(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    // Round 0 fused into init: label = min(node, neighbors) in the same
    // aggregate that builds the node set (pairs are already distinct
    // per direction, so this is one shuffle).
    try {
    var labels = persistRound(
      edges.groupBy(col("a_id"))
        .agg(min(col("b_id")).as("mnb"))
        .select(col("a_id").as("node"), least(col("a_id"), col("mnb")).as("label")))
    def labelSum(): Long =
      labels.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    var prevSum = labelSum()
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("node", "b_id")
          .withColumnRenamed("label", "nl"), Seq("b_id"))
        .groupBy(col("a_id").as("node")).agg(min(col("nl")).as("cand"))
      val stepped = labels.join(viaNeighbor, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("cand"), col("label"))).as("label"))
      // Path halving: label <- label(label). Every label value is itself
      // a node (labels start as node ids and only min-combine), so the
      // self-join is total; left join guards the root (label = itself).
      val halved = stepped.join(
          stepped.select(col("node").as("lnode"), col("label").as("ll")),
          col("label") === col("lnode"), "left")
        .select(col("node"), least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
      labels = persistRound(halved)
      val s = labelSum()
      converged = s == prevSum
      prevSum = s
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not certify a fixpoint in $maxRounds rounds " +
        "(graph diameter > 2^rounds — raise maxRounds); refusing to return partial labels")
    labels
    } finally restoreCkDir()
  }
}
