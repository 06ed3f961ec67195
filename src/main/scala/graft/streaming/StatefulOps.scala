package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** Custom stateful streaming operators via the typed
  * KeyValueGroupedDataset API — the engine's escape hatch when
  * dropDuplicates / windowed aggs can't express the state machine
  * (SURVEY.md §2.2 "streaming: stateful ops").
  *
  * State is per-key in the state store (RocksDB in production):
  * hash-partitioned across executors, checkpointed, no driver state —
  * the scalable replacement for the reference's read-the-whole-log
  * feedback loop (`flaglog.py:27-34`).
  */
object StatefulOps {

  implicit private val longEnc: Encoder[Long] = Encoders.scalaLong

  case class ScoredEvent(event_type: String, cents: Long, event_id: Long,
      user_id: Long)
  case class TopSnapshot(event_type: String, rk: Long, event_id: Long,
      user_id: Long, cents: Long, batches: Long)

  implicit private val seEnc: Encoder[ScoredEvent] = Encoders.product[ScoredEvent]
  implicit private val tsEnc: Encoder[TopSnapshot] = Encoders.product[TopSnapshot]
  implicit private val tkEnc: Encoder[graft.functions.SketchAgg.TopKBuf] =
    Encoders.product[graft.functions.SketchAgg.TopKBuf]

  /** Running per-group top-k leaderboard across micro-batches — the
    * streaming face of the SAME bounded [[graft.functions.SketchAgg
    * .TopK]] buffer the batch `q31_topk_per_group` aggregates with:
    * each batch folds its arrivals into a k-row buffer and MERGES with
    * the k-row state (associativity is what makes the streaming and
    * batch answers provably identical over the same rows — the spec
    * pins that parity). State per group is O(k) forever; every batch
    * re-emits the group's current top-k snapshot (Update semantics).
    */
  def runningTopK(events: Dataset[ScoredEvent], k: Int): Dataset[TopSnapshot] = {
    implicit val strEnc: Encoder[String] = Encoders.STRING
    implicit val stEnc: Encoder[(graft.functions.SketchAgg.TopKBuf, Long)] =
      Encoders.tuple(tkEnc, Encoders.scalaLong)
    val agg = new graft.functions.SketchAgg.TopK(k)
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (tpe: String, it: Iterator[ScoredEvent],
            state: GroupState[(graft.functions.SketchAgg.TopKBuf, Long)]) => {
          val (prev, batches) = state.getOption.getOrElse((agg.zero, 0L))
          val batchBuf = it.foldLeft(agg.zero) { (b, e) =>
            agg.reduce(b, graft.functions.SketchAgg.TopKRow(e.cents, e.event_id, e.user_id))
          }
          val merged = agg.merge(prev, batchBuf)
          state.update((merged, batches + 1))
          merged.rows.iterator.zipWithIndex.map { case (r, i) =>
            TopSnapshot(tpe, i + 1L, r.id, r.payload, r.score, batches + 1)
          }
        })
  }

  case class QuantileSnapshot(event_type: String, n_sample: Long,
      p50_est: Double, p90_est: Double, batches: Long)
  implicit private val qsEnc: Encoder[QuantileSnapshot] =
    Encoders.product[QuantileSnapshot]

  /** Streaming face of `q48_sketch_quantiles`: per type, the state is
    * the same 64-smallest-coin bounded sample (KMV's selection rule on
    * rows), maintained incrementally via the TopK buffer with
    * score = -coin — so after ANY arrival order, any batch split, and
    * any restart, the state equals the batch cut bit-for-bit (the
    * sample is a deterministic SET: union-then-cut = cut-of-cuts —
    * unlike arrival-order gates, this parity is ORDER-INDEPENDENT,
    * which the spec exercises by feeding the stream shuffled).
    * Quantiles read off the sorted sample at ceil(q·n), exactly the
    * batch arithmetic. O(k) state per key. Input rows:
    * (event_type, coin, vc).
    */
  def runningSampleQuantiles(events: Dataset[(String, Long, Long)],
      k: Int = 64): Dataset[QuantileSnapshot] = {
    implicit val strEnc: Encoder[String] = Encoders.STRING
    implicit val inEnc: Encoder[(String, Long, Long)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong)
    implicit val stEnc: Encoder[(graft.functions.SketchAgg.TopKBuf, Long)] =
      Encoders.tuple(tkEnc, Encoders.scalaLong)
    val agg = new graft.functions.SketchAgg.TopK(k)
    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (tpe: String, it: Iterator[(String, Long, Long)],
            state: GroupState[(graft.functions.SketchAgg.TopKBuf, Long)]) => {
          val (prev, batches) = state.getOption.getOrElse((agg.zero, 0L))
          // TopK orders (score desc, id asc); score = -coin, id = vc
          // reproduces the batch cut's (coin asc, vc asc) exactly
          val batchBuf = it.foldLeft(agg.zero) { (b, e) =>
            agg.reduce(b, graft.functions.SketchAgg.TopKRow(-e._2, e._3, 0L))
          }
          val merged = agg.merge(prev, batchBuf)
          state.update((merged, batches + 1))
          val sample = merged.rows.map(r => (r.id, -r.score)) // (vc, coin)
          val sorted = sample.sortBy(identity)
          val n = sorted.length
          def at(idx: Int): Double = sorted(idx - 1)._1 / 100.0
          Iterator.single(QuantileSnapshot(tpe, n.toLong,
            at((n + 1) / 2), at((9 * n + 9) / 10), batches + 1))
        })
  }

  case class EwmaSnapshot(key: String, batch_cents: Long, ewma_cents: Long,
      batches: Long)
  implicit private val ewEnc: Encoder[EwmaSnapshot] = Encoders.product[EwmaSnapshot]

  /** Streaming face of the q32 fixed-point EWMA: per key, each
    * micro-batch contributes its integer-cents total and the state
    * advances by the SAME alpha=1/4 recurrence e' = (c + 3e) div 4 —
    * O(1) state per key, bit-exact and replay-deterministic (no
    * wall-clock in the arithmetic; the batch is the time step, which
    * is exactly how metric pipelines run EWMA over fixed ingest
    * windows). First batch seeds e = c, like the batch query's first
    * calendar day.
    */
  def runningEwma(events: Dataset[(String, Long)]): Dataset[EwmaSnapshot] = {
    implicit val strEnc: Encoder[String] = Encoders.STRING
    implicit val inEnc: Encoder[(String, Long)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    implicit val stEnc: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[(String, Long)],
            state: GroupState[(Long, Long)]) => {
          val (prevE, batches) = state.getOption.getOrElse((0L, 0L))
          var c = 0L
          it.foreach(c += _._2)
          val e = if (batches == 0L) c else (c + 3L * prevE) / 4L
          state.update((e, batches + 1))
          Iterator(EwmaSnapshot(key, c, e, batches + 1))
        })
  }

  case class FunnelEvent(user_id: Long, ts_us: Long, event_type: String)
  /** Per-user funnel progress: earliest signup, earliest purchase
    * strictly after it, earliest click strictly after that — the
    * streaming twin of the batch `q23_funnel` chained windows.
    */
  case class FunnelState(user_id: Long, s_us: Option[Long],
      p_us: Option[Long], c_us: Option[Long]) {
    def stage: Int =
      if (c_us.isDefined) 3 else if (p_us.isDefined) 2
      else if (s_us.isDefined) 1 else 0
  }

  implicit private val feEnc: Encoder[FunnelEvent] = Encoders.product[FunnelEvent]
  implicit private val fsEnc: Encoder[FunnelState] = Encoders.product[FunnelState]

  /** Continuous funnel tracking (signup -> purchase-after ->
    * click-after) as a per-user state machine: O(1) state per user
    * (three optional timestamps), each batch advances the machine and
    * emits the user's current [[FunnelState]] — counting stages over
    * the latest emission per user reproduces the batch funnel's three
    * distinct-counts continuously.
    *
    * Ordering contract: exact under event-time-ordered delivery
    * within the watermark horizon (rows sort by ts inside a batch;
    * across batches the machine is forward-only — the same replay
    * contract as the dedup twins). A signup arriving AFTER a
    * purchase it should anchor is the watermark-late case; the batch
    * twin over the full log remains the reconciliation path, exactly
    * as reference `flaglog.py` re-reads its append-only log.
    */
  def funnelStages(events: Dataset[FunnelEvent]): Dataset[FunnelState] =
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) => {
          var st = state.getOption.getOrElse(FunnelState(user, None, None, None))
          it.toSeq.sortBy(e => (e.ts_us, e.event_type)).foreach { e =>
            st = e.event_type match {
              case "signup" if st.s_us.isEmpty =>
                st.copy(s_us = Some(e.ts_us))
              case "purchase" if st.p_us.isEmpty &&
                  st.s_us.exists(e.ts_us > _) =>
                st.copy(p_us = Some(e.ts_us))
              case "click" if st.c_us.isEmpty &&
                  st.p_us.exists(e.ts_us > _) =>
                st.copy(c_us = Some(e.ts_us))
              case _ => st
            }
          }
          state.update(st)
          Iterator(st)
        })

  case class FrontierUrl(host: String, url: String, priority: Long)
  case class GateDecision(host: String, url: String, emitted_batch: Long)

  implicit private val fuEnc: Encoder[FrontierUrl] = Encoders.product[FrontierUrl]
  implicit private val gdEnc: Encoder[GateDecision] = Encoders.product[GateDecision]

  /** Per-host crawl politeness gate on transformWithState: at most
    * `budget` URLs emitted per host per budget window, in (priority
    * desc, url) order; the overflow is DEFERRED in per-host state
    * (bounded by `deferCap` — beyond it, lowest-priority URLs drop, the
    * standard frontier-pressure valve). State per host is O(deferCap);
    * hosts hash-partition across executors — the politeness bottleneck
    * of a 100 TB crawl is per-host, never global.
    *
    * A window advances when the host sees input, and also when the
    * host goes quiet: every deferral registers a processing-time timer
    * one window (`drainMs`) out; when it fires with NO new input for
    * the host, [[handleExpiredTimer]] releases the next `budget` URLs
    * and re-arms until the queue drains dry. Stale timers are deleted
    * before re-arming, so each host carries at most one. The trade:
    * wall-clock drains make the emission SCHEDULE non-replayable
    * (which batch a URL lands in depends on idle time), while the
    * emission CONTENT stays deterministic — the same order, the same
    * deferCap valve.
    */
  private class PolitenessProcessor(budget: Int, deferCap: Int, drainMs: Long)
      extends StatefulProcessor[String, FrontierUrl, GateDecision] {
    @transient private var batchNo:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var deferred:
      org.apache.spark.sql.streaming.ListState[FrontierUrl] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      batchNo = getHandle.getValueState[Long]("batchNo",
        Encoders.scalaLong, TTLConfig.NONE)
      deferred = getHandle.getListState[FrontierUrl]("deferred",
        Encoders.product[FrontierUrl], TTLConfig.NONE)
    }

    /** One budget window for `host`: merge state + arrivals, emit the
      * top `budget` by (priority desc, url), persist the rest (capped),
      * re-arm the drain timer iff anything stays deferred.
      */
    private def window(host: String, arrivals: Seq[FrontierUrl],
        nowMs: Long): Iterator[GateDecision] = {
      val bn = if (batchNo.exists()) batchNo.get() else 0L
      val pending = (deferred.get().toSeq ++ arrivals)
        .sortBy(u => (-u.priority, u.url))
      val (emit, rest) = pending.splitAt(budget)
      val kept = rest.take(deferCap)
      deferred.clear()
      if (kept.nonEmpty) deferred.put(kept.toArray)
      batchNo.update(bn + 1)
      // materialize before deleting: deleteTimer under a live
      // listTimers iterator mutates the store mid-scan
      getHandle.listTimers().toList.foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      if (kept.nonEmpty) getHandle.registerTimer(nowMs + drainMs)
      emit.map(u => GateDecision(host, u.url, bn)).iterator
    }

    override def handleInputRows(host: String, rows: Iterator[FrontierUrl],
        timerValues: TimerValues): Iterator[GateDecision] =
      window(host, rows.toSeq, timerValues.getCurrentProcessingTimeInMs())

    override def handleExpiredTimer(host: String, timerValues: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[GateDecision] =
      window(host, Nil, timerValues.getCurrentProcessingTimeInMs())
  }

  /** The politeness gate ([[PolitenessProcessor]]): deferred URLs
    * release one budget per `drain` window even when the host sees no
    * further frontier input. Needs the RocksDB state store provider.
    */
  def politenessGateTws(urls: Dataset[FrontierUrl], budget: Int,
      deferCap: Int = 1000,
      drain: java.time.Duration = java.time.Duration.ofSeconds(1)): Dataset[GateDecision] = {
    implicit val strEnc: Encoder[String] = Encoders.STRING
    urls.groupByKey(_.host)
      .transformWithState(new PolitenessProcessor(budget, deferCap, drain.toMillis),
        TimeMode.ProcessingTime, OutputMode.Append)
  }

  /** Verbose-mode skip-reason resolver (reference `scanner.py:120-175`
    * `-v` semantics): per title, the FIRST eligible matching event flags
    * the title; every later eligible event of a flagged title is a
    * 'repeat' skip — checked BEFORE the text/race gate, exactly like
    * `page_is_repeat` runs before `get_text`. Unlike
    * `dropDuplicatesWithinWatermark`, dropped events are EMITTED with
    * their reason instead of vanishing — that is the whole point of -v.
    *
    * State per title is one boolean; bounded by event-time timeout at
    * the watermark horizon (the same horizon the non-verbose dedup path
    * uses), keys hash-partitioned across executors.
    */
  def markRepeats(events: Dataset[RcStreaming.VerboseRow])(
      implicit spec: RcStreaming.FilterSpec):
      Dataset[RcStreaming.VerboseRow] = {
    implicit val enc: Encoder[RcStreaming.VerboseRow] =
      Encoders.product[RcStreaming.VerboseRow]
    implicit val strEnc: Encoder[String] = Encoders.STRING
    implicit val boolEnc: Encoder[Boolean] = Encoders.scalaBoolean
    events.groupByKey(_.title)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (title: String, it: Iterator[RcStreaming.VerboseRow], state: GroupState[Boolean]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var flagged = state.getOption.getOrElse(false)
            // Micro-batch iterators are unordered; the reference consumes
            // the stream in event order.
            val out = it.toSeq.sortBy(r => (r.event_us, r.id)).map { r =>
              val resolved = RcStreaming.resolveReason(r, flagged)
              if (resolved.flag) flagged = true
              resolved.row
            }
            state.update(flagged)
            // Timeout must be strictly beyond the current watermark, and
            // must ALWAYS be registered (a batch processed while the
            // watermark is still 0 would otherwise leak its titles'
            // state forever): expire once the watermark passes the
            // title's newest event — the dropDuplicatesWithinWatermark
            // horizon, give or take the watermark delay.
            if (out.nonEmpty) {
              val lastEventMs = out.map(_.event_us).max / 1000L
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1, lastEventMs + 1))
            }
            out.iterator
          }
        })
  }
}
