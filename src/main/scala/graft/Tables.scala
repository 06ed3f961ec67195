package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Parquet carries its own schema; we read it as-is (deterministic, no
  * inference pass). At 100 TB these would be partitioned/bucketed table
  * scans — the reader API is identical, only the path changes, and all
  * filters/projections issued downstream are pushed into the scan by
  * Catalyst (verified via `.explain`: `PushedFilters`, `ReadSchema`).
  */
object Tables {
  /** Memo for [[load]]: the CONSTRUCTED DataFrame per (session, path,
    * freshness stamp). `spark.read.parquet` is not free on the driver —
    * every call re-resolves the data source, re-lists the path, and
    * re-reads a footer for the schema (~30–60 ms per table on this
    * box), and the suite calls it 1–5 times per query per rep, so a
    * bench pass paid seconds of repeated driver-side metadata work for
    * identical plans (measured with a build/plan/exec split:
    * q2_join_agg spent 0.3 s of its 0.7 s wall CONSTRUCTING the frame).
    * Reusing the immutable DataFrame is the catalog-table idiom (a
    * production session resolves a table once); every action on it
    * still reads the parquet — this caches plan metadata, never data
    * or results. Keyed by the same freshness stamp as
    * [[parquetVersion]] (one recursive metadata listing per call —
    * microseconds on any store vs the footer read it avoids), so an
    * in-place rewrite misses and rebuilds; keyed by sessionUUID so a
    * frame never crosses sessions (bounded: #sessions x #tables).
    *
    * Keyed by `sessionUUID` STRING, evicted by a SparkListener on
    * application end — NOT a WeakHashMap keyed on the session (the r20
    * shape): the cached DataFrames strongly reference their
    * SparkSession (Dataset.sparkSession/QueryExecution), so a
    * session-keyed WeakHashMap's keys could never become weakly
    * reachable and every stopped session's frames were pinned for JVM
    * life (the WeakHashMap javadoc's value-references-key warning; r20
    * ADVICE item 1). The listener fires when the session's
    * SparkContext stops — the only way a session "stops" — and drops
    * the entries of exactly that context's sessions (TablesMemoSpec
    * pins this).
    */
  private val frameMemo =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)]]()

  /** The eviction listener of one SparkContext: the session keys it
    * has served, all dropped from [[frameMemo]] on application end.
    */
  private final class MemoEvictor extends SparkListener {
    val sessions: java.util.Set[String] =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
      sessions.forEach(uuid => frameMemo.remove(uuid))
  }

  /** One [[MemoEvictor]] per SparkContext, so a memo re-populated after
    * an eviction adds no listener to the bus. Weakly keyed: the
    * evictor never references its context, so a stopped context can
    * still be collected.
    */
  private val evictors = new java.util.WeakHashMap[SparkContext, MemoEvictor]()

  private def evictorFor(sc: SparkContext): MemoEvictor = evictors.synchronized {
    val existing = evictors.get(sc)
    if (existing != null) existing
    else {
      val fresh = new MemoEvictor
      evictors.put(sc, fresh)
      sc.addSparkListener(fresh)
      fresh
    }
  }

  /** Test seam: whether [[frameMemo]] holds an entry for a session. */
  private[graft] def frameMemoHas(sessionUUID: String): Boolean =
    frameMemo.containsKey(sessionUUID)

  /** The memo key for a session: its `sessionUUID` (a plain String —
    * holding it can never pin the session object graph). The accessor
    * lives on the classic implementation, not the sql API interface;
    * the identity fallback covers any other implementation.
    */
  private[graft] def sessionKey(spark: SparkSession): String =
    org.apache.spark.sql.graft.bridge.sessionUUID(spark).getOrElse(
      spark.sparkContext.applicationId + "@" +
        Integer.toHexString(System.identityHashCode(spark)))

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loadPath(spark, s"$dir/$name.parquet")

  /** [[load]] for an arbitrary parquet path — the same memo, stamp and
    * eviction lifecycle. r21: the [[Stores]] parquet reads paid the
    * un-memoized `spark.read.parquet` per CALL (~0.1 s of driver
    * re-list + footer re-read per store-served query invocation — the
    * exact r20 frame-memo lesson, unapplied to the store paths; a
    * build/plan/exec split showed dedup_image_phash build=0.10-0.12 s,
    * all of it this; SCALE.md round 21).
    *
    * A path that scans as ONE split of at most AQE's
    * `coalescePartitions.minPartitionSize` data bytes (1 MB by default)
    * is returned under `coalesce(1)`. The scan is one task either way,
    * but a plain file scan reports `UnknownPartitioning(1)`, which
    * satisfies no clustered or ordered distribution, so every
    * aggregate, window, global sort and sort-merge join over it planned
    * an exchange (and a global sort its range-sampling job) that AQE
    * then ran as a stage of its own and coalesced back to one
    * partition. `CoalesceExec(1)` reports `SinglePartition`, which
    * satisfies every distribution but a broadcast, so those exchanges
    * are not planned at all (a join plans none only when both sides
    * are single-partition; a tiny side joined to a large one is
    * shuffled as before). The byte bound keeps the rule to inputs
    * whose exchange output AQE would coalesce to one partition anyway;
    * without it, q34_kmv_intersect over the 2 MB sf0.1 `events` lost
    * its post-exchange parallelism (SCALE.md, "One-split tables").
    * Multi-split and larger paths get the plain scan, so the plan at
    * scale is unchanged. The choice is made when the frame is
    * built and memoized with it.
    */
  def loadPath(spark: SparkSession, path: String): DataFrame = {
    val stamp =
      try stampedRowCount(spark, path)._1
      catch { case _: Throwable => // missing path: let read.parquet throw its own error
        return spark.read.parquet(path)
      }
    val uuid = sessionKey(spark)
    val perSession = frameMemo.computeIfAbsent(uuid, { _ =>
      evictorFor(spark.sparkContext).sessions.add(uuid)
      new java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)]()
    })
    val cached = perSession.get(path)
    if (cached != null && cached._1 == stamp) cached._2
    else {
      val raw = spark.read.parquet(path)
      val df = if (oneSmallSplit(spark, path)) raw.coalesce(1) else raw
      perSession.put(path, (stamp, df)) // replaces any superseded entry
      df
    }
  }

  /** Whether [[loadPath]] plans a path as one partition: one predicted
    * scan split holding no more data bytes than AQE's minimum
    * coalesced partition size.
    */
  private def oneSmallSplit(spark: SparkSession, path: String): Boolean =
    scanSplits(spark, path) == 1L && parquetDataBytes(spark, path) <=
      org.apache.spark.sql.internal.SQLConf.get.getConf(
        org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")

  /** The `Change`-stream analog (reference `utils.py:18-36`):
    * `event_type`<->`type`, `user_id`<->`user`, `ts`<->`meta.dt`,
    * `props` (JSON string)<->nested meta.
    *
    * `ts` has shipped as TWO physical types across data drops, so the
    * loader adapts to what the footer says instead of assuming one:
    *   - TIMESTAMP(NANOS): Spark's reader rejects it outright; read as
    *     raw nanos (legacy conf, set at runtime so any session works)
    *     and truncate to microseconds with integer division — the same
    *     ns->us truncation DuckDB applies. Integer `div`, NOT double
    *     division: epoch-nanos (~1.7e18) overflow a double's 53-bit
    *     mantissa.
    *   - TIMESTAMP(MICROS) (isAdjustedToUTC=false): Spark reads it
    *     natively as TIMESTAMP_NTZ; cast to the session-local TIMESTAMP
    *     (session tz pinned UTC in build.sbt/Verify) so downstream
    *     window/date arithmetic and the DuckDB oracle see the same
    *     instants either way.
    * Either path lands on TimestampType micros — consumers and oracles
    * are physical-type agnostic.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    // Session-conf mutation, guarded set-once: the NANOS footer type is
    // unreadable without this conf, so the loader must own it, but a
    // loader re-setting a session conf on every call is a global side
    // effect on the shared session (another user reading a genuine
    // nanos column elsewhere would be silently affected by the timing
    // of OUR calls). Idempotent + checked first, so after the first
    // events() call the session is never mutated again.
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) read as raw nanos
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", expr("cast(ts as timestamp)"))
      case _ => raw // already session-local TimestampType
    }
  }

  /** Revision-text analog (reference `scanner.py:178-196`): the corpus the
    * regex stage (`filter_.py:110-112`) and the text-analysis /
    * dedup extension operators run over.
    */
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")

  /** 64-dim float vectors for the similarity-search extension. */
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Exact row count of a parquet file/directory from FOOTER METADATA
    * only — no Spark job, no data pages read. Sizing decisions that
    * need `n` (e.g. the IVF k ~ sqrt(n) rule in operators.Similarity)
    * were paying a full-scan COUNT job for one Long; the count is
    * already sitting in every footer's row-group headers. Driver-side
    * cost is O(#files) metadata reads — the same listing the scan
    * itself performs.
    */
  /** Memo for [[parquetRowCount]]: keyed on the PATH, holding the
    * count together with a freshness stamp of (root mtime, root
    * length, data-file count, max data-file mtime, total data bytes).
    * A rewrite of the path misses the stamp and re-counts — including
    * a same-millisecond rewrite (coarse-mtime filesystems, Spark's
    * rename-commit) that leaves the ROOT's mtime unchanged: the child
    * listing the stamp folds in is the same recursive listing the
    * counting pass performs anyway, so a miss pays nothing extra and a
    * hit pays one listing instead of opening every footer. Keying on
    * the path (stamp in the VALUE) also means a rewrite evicts the
    * superseded entry instead of accumulating one memo row per
    * rewrite forever.
    */
  private val rowCountMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** Shared body of [[parquetRowCount]] / [[parquetVersion]]: one
    * recursive listing -> freshness stamp; footer count memoized
    * against that stamp.
    */
  private def stampedRowCount(spark: SparkSession, path: String): (String, Long) = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val rootSt = fs.getFileStatus(root)
    def files(p: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val st = fs.getFileStatus(p)
      if (st.isFile) Seq(st)
      else fs.listStatus(p).toIndexedSeq.flatMap { c =>
        val name = c.getPath.getName
        // skip hidden/metadata entries the parquet reader also skips
        if (name.startsWith("_") || name.startsWith(".")) Seq.empty
        else files(c.getPath)
      }
    }
    val children = files(root)
    val maxChildMtime = if (children.isEmpty) 0L else children.map(_.getModificationTime).max
    val totalBytes = children.map(_.getLen).sum
    val stamp =
      s"${rootSt.getModificationTime}:${rootSt.getLen}:${children.size}:$maxChildMtime:$totalBytes"
    val cached = rowCountMemo.get(path)
    if (cached != null && cached._1 == stamp) (stamp, cached._2)
    else {
      val n = children.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
        try r.getRecordCount finally r.close()
      }.sum
      rowCountMemo.put(path, (stamp, n)) // replaces any superseded entry
      (stamp, n)
    }
  }

  def parquetRowCount(spark: SparkSession, path: String): Long =
    stampedRowCount(spark, path)._2

  /** Total DATA bytes under a parquet path, from the same memoized
    * recursive listing as [[parquetRowCount]] (the stamp's last field)
    * — no footer or page reads.
    */
  def parquetDataBytes(spark: SparkSession, path: String): Long =
    stampedRowCount(spark, path)._1.split(':').last.toLong

  /** Data-file count under a parquet path (stamp field 3) — same
    * memoized listing, no I/O.
    */
  def parquetFileCount(spark: SparkSession, path: String): Long =
    stampedRowCount(spark, path)._1.split(':')(2).toLong

  /** Predicted scan-split count of a parquet path, from the memoized
    * listing only (no footer or page reads). Models Spark's own split
    * sizing (`FilePartition.maxSplitBytes`, with the default
    * minPartitionNum = default-parallelism floor), not a bare
    * bytes/maxPartitionBytes quotient: a multi-file corpus at 10-100x
    * ALREADY scans near default parallelism (the floor shrinks splits),
    * and the r21 100x probe showed the naive estimate inserting a
    * pointless full-text shuffle there (warc_ingest flat across core
    * counts until this fix). Every data file counts as at least one
    * split. Unknown (unreadable listing): `Long.MaxValue`, so neither
    * caller changes the plan.
    */
  private def scanSplits(spark: SparkSession, path: String): Long =
    try {
      val files = parquetFileCount(spark, path)
      val bytes = parquetDataBytes(spark, path)
      val conf = org.apache.spark.sql.internal.SQLConf.get
      val openCost = math.max(0L, conf.filesOpenCostInBytes)
      val target = math.max(1, spark.sparkContext.defaultParallelism)
      val maxSplit = math.max(1L, math.min(conf.filesMaxPartitionBytes,
        math.max(openCost, (bytes + openCost * files) / target)))
      math.max(files, (bytes + maxSplit - 1) / maxSplit)
    } catch { case _: Throwable => Long.MaxValue }

  /** Scale-adaptive fan-out for CPU-heavy per-row kernels (the codec /
    * WARC-parse mapPartitions stages): a small corpus arrives as ONE
    * scan task (`maxPartitionBytes` packs it into a single split), so a
    * kernel that costs ~0.1–1 ms/row runs serially on one core of the
    * whole cluster — at bench SFs the heavy map stages were 1-task
    * stages on a 32-core master (guide §2: make partitioning
    * scale-adaptive, derive it from input size). When the predicted
    * scan-split count ([[scanSplits]]) is below the cluster's default
    * parallelism, round-robin repartition to default parallelism so
    * the kernel uses every core; at scale the prediction reaches
    * parallelism and the frame is returned UNCHANGED — no extra
    * exchange on the 100 TB path. The shuffle this inserts moves only
    * the projected columns of a corpus already known to be tiny
    * (< cores x maxPartitionBytes). Results are unaffected: callers'
    * kernels are per-row pure functions and every consumer aggregates
    * or re-orders downstream.
    *
    * A frame that [[loadPath]] planned as one partition (`coalesce(1)`)
    * still fans out: `CollapseRepartition` replaces the coalesce with
    * this round-robin repartition.
    *
    * `minRows` gates the fan-out on corpus size: the extra stage +
    * shuffle costs a fixed ~50 ms, so a kernel whose SERIAL cost is
    * smaller loses by fanning out (measured at sf0.1: the ~20 us/row
    * PGM/WAV codec servings regressed 40-60 ms each with an
    * unconditional fan-out, while the ~140 us/row WARC chain won -60%).
    * Callers set minRows to the row count at which their kernel's
    * serial cost clearly dominates the overhead; 0 = always fan while
    * the scan is below parallelism.
    */
  def fanOutForCpu(spark: SparkSession, df: DataFrame, dir: String,
      name: String, minRows: Long = 0L): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    val path = s"$dir/$name.parquet"
    val small =
      try minRows > 0L && parquetRowCount(spark, path) < minRows
      catch { case _: Throwable => true } // unknown: leave the plan alone
    if (small || scanSplits(spark, path) >= target) df else df.repartition(target)
  }

  /** Version TOKEN of a parquet path, the corpus-version part of the
    * [[Stores]] key: `<rowcount>-<stampHash>`, where the stamp folds
    * in file count, mtimes, and byte sizes from the same recursive
    * listing the row count pays anyway, so any byte-level rewrite
    * changes it. Hash collisions are a non-risk here: the stamp only
    * ever compares against rewrites of the SAME path, and
    * mtime+bytes+count colliding across a rewrite while all 32 hash
    * bits also collide is not a lifecycle this guards (a production
    * store would version by explicit drop id).
    */
  def parquetVersion(spark: SparkSession, path: String): String = {
    val (stamp, n) = stampedRowCount(spark, path)
    s"$n-${Integer.toHexString(stamp.hashCode)}"
  }

  /** Register every table as a temp view AND every native text
    * expression as a SQL function, so users can drive the engine
    * through plain `spark.sql(...)` — the catalog surface of the
    * library. `events` goes through its ns->us normalization, so SQL
    * users get the same timestamps the DataFrame API serves.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    names.foreach {
      case "events" => events(spark, dir).createOrReplaceTempView("events")
      case n => load(spark, dir, n).createOrReplaceTempView(n)
    }
    graft.functions.TextExpressions.register(spark)
  }
}
