package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import scala.jdk.CollectionConverters._
import graft.operators.RcOps

/** Streaming twin of the reference pipeline (`scanner.py:120-175`) over a
  * Change-schema stream (graft.schema.ChangeSchema.change): Structured
  * Streaming, not DStreams.
  *
  * Mapping (SURVEY.md §2.1):
  *  - F1 streamfilter  -> stateless filter (pushed to the source scan)
  *  - J1 editcount     -> stream-static broadcast join on (user, server_name)
  *  - F2 threshold     -> stateless filter with NULL-disable semantics
  *  - D1 repeat-dedup  -> dropDuplicates("title") with event-time watermark:
  *                        the reference keeps the first flagged title EVER
  *                        (unbounded state, `filter_.py:90-102`); streaming
  *                        bounds state by watermark — documented deviation;
  *                        the batch twin is an exact first-per-title
  *                        row_number in one pass, dead letters kept.
  *  - J2 revision text -> stream-static join on revision.new, staged after
  *                        the cheap gates (cheap-predicates-first,
  *                        `scanner.py:131-141`)
  *  - E1 race skip     -> null-text filter (dead-letter side kept)
  *  - R1 regex         -> matched-pattern array, match gate size>0
  *
  * State-store sizing at 100 TB: dedup state is one entry per distinct
  * title inside the watermark horizon; keys hash-partition across
  * executors (RocksDB state store in production), no driver state.
  */
object RcStreaming {

  case class FilterSpec(
      streamfilter: Map[String, Seq[Any]],
      maxEdits: Option[Long],
      skipRepeats: Boolean,
      regexes: Seq[String],
      watermark: String = "1 hour",
      sites: Seq[String] = Nil,
      streams: Seq[String] = Seq("recentchange")) {
    /** The reference force-overwrites the streamfilter's `server_name`
      * with the filter's sites list (`filter_.py:58`) — sites always win
      * over a user-supplied server_name predicate.
      */
    def effectiveStreamfilter: Map[String, Seq[Any]] =
      if (sites.isEmpty) streamfilter
      else streamfilter + ("server_name" -> sites.map(identity[Any]))
  }

  /** C1 config validation at plan-build time (reference:
    * `LOG_LEVEL in [0,3]` else ValueError `scanner.py:70-71`;
    * `skip_repeats` requires `LOG_LEVEL >= 2` else ConfigError
    * `filter_.py:53-55`, `utils.py:46-47` — dedup needs the flag log
    * to exist; here, dedup state needs a checkpoint-backed sink level).
    */
  def validate(logLevel: Int, spec: FilterSpec): Unit = {
    require(logLevel >= 0 && logLevel <= 3,
      s"LOG_LEVEL must be in [0,3], got $logLevel")
    require(!spec.skipRepeats || logLevel >= 2,
      "skip_repeats=true requires LOG_LEVEL >= 2")
  }

  /** F1, shared by [[pipeline]], [[pipelineVerbose]] and the live path.
    * The ORIGINAL Change record rides along as one `change` struct column
    * so the K3 flag log can persist it with the full declared schema
    * (ChangeSchema.flagLogEntry / utils.py:42 embeds the whole input
    * row, not the output projection).
    */
  private def streamFiltered(changes: DataFrame, spec: FilterSpec): DataFrame =
    RcOps.streamFilter(changes, spec.effectiveStreamfilter)
      .withColumn("change", struct(changes.columns.toIndexedSeq.map(col): _*))
      .withColumn("event_time", to_timestamp(col("meta.dt")))

  /** F1 → J1, shared by [[pipeline]] and [[pipelineVerbose]]. Edit
    * counts join per site when the dim carries server_name (the
    * reference queries each event's own site API, `scanner.py:128-130`);
    * a user-only dim joins on user alone.
    */
  private def enrichUsers(changes: DataFrame, users: DataFrame,
      spec: FilterSpec): DataFrame = {
    val userKeys =
      if (users.columns.contains("server_name")) Seq("user", "server_name")
      else Seq("user")
    streamFiltered(changes, spec).join(broadcast(users), userKeys, "left")
  }

  /** J2, shared by [[pipeline]] and [[pipelineVerbose]]: revision text
    * by `revision.new`. A revisions dim carrying server_name is joined
    * per site too (revision ids are only unique within one wiki — a
    * cross-site collision must not hand event A the text of wiki B).
    */
  private def joinRevisions(events: DataFrame, revisions: DataFrame): DataFrame = {
    val perSite = revisions.columns.contains("server_name")
    val revs =
      if (perSite) revisions.withColumnRenamed("server_name", "rev_server_name")
      else revisions
    val revCond =
      if (perSite)
        events("revision.new") === revs("revid") &&
          events("server_name") === revs("rev_server_name")
      else events("revision.new") === revs("revid")
    events.join(broadcast(revs), revCond, "left").drop("rev_server_name")
  }

  /** Full pipeline: `changes` may be a streaming OR batch DataFrame —
    * the plan is identical (Structured Streaming's batch/stream unification).
    * `users(user, editcount)` and `revisions(revid, text)` are static
    * dimension tables (the API-lookup stand-ins, FIXTURES.md A.3).
    */
  def pipeline(changes: DataFrame, users: DataFrame, revisions: DataFrame,
               spec: FilterSpec, emitDeadLetter: Boolean = false): DataFrame =
    gates(enrichUsers(changes, users, spec), joinRevisions(_, revisions), spec, emitDeadLetter)

  /** F2 → J2 → E1 → R1 → D1 → output projection over F1 survivors that
    * carry `editcount`: the one gate stage of [[pipeline]] (J2 is its
    * broadcast join) and of the live path (whose driver-enriched rows
    * already carry `text`, so its J2 is the identity).
    */
  private def gates(events: DataFrame, j2: DataFrame => DataFrame, spec: FilterSpec,
      emitDeadLetter: Boolean): DataFrame = {
    // F2 — threshold gate. A row whose edit-count lookup failed (NULL
    // editcount) is NOT silently dropped by three-valued logic: the
    // reference treats a failed lookup as QueryRaceCondition skip
    // regardless of max_edits (`scanner.py:130-135,199-218`), so it is
    // routed to the dead-letter side below, same as missing text. No
    // threshold, no filter: `editcount <= m OR editcount IS NULL` with
    // no `m` is a per-row tautology the optimizer would keep.
    val underMax = spec.maxEdits.fold(events)(_ => events.filter(
      col("editcount").isNotNull && RcOps.countUnderMax(spec.maxEdits) ||
        col("editcount").isNull))

    // J2 / E1 — text enrichment after the cheap gates; missing editcount
    // or missing text => dead letter (skip-and-continue, never fail,
    // `scanner.py:77-81`).
    val withText = j2(underMax)
      .withColumn("dead_letter", col("editcount").isNull || col("text").isNull)

    // R1 — matched-set + match gate (RcOps.matchedPatterns, shared with
    // the batch queries so the twins cannot drift).
    val gated = withText
      .withColumn("matched", when(col("dead_letter"), array())
        .otherwise(RcOps.matchedPatterns(col("text"), spec.regexes)))
      .filter((size(col("matched")) > 0) ||
        (lit(emitDeadLetter) && col("dead_letter")))

    // D1 — dedup AFTER the match gate: the reference's repeat check
    // consults the flagged-changes log, which contains only MATCHED
    // titles (`filter_.py:90-102`, log appended at `scanner.py:161-175`)
    // — a later matching edit to a title first seen via a non-match (or
    // a dead-lettered event) must still be flagged. State therefore
    // holds only matched titles. Streaming state is bounded with
    // dropDuplicatesWithinWatermark (plain dropDuplicates would keep
    // every title forever — watermark eviction requires the event-time
    // column in the key set); the batch twin is the deterministic
    // first-match-per-title (SURVEY §7.3 risk 3 documents the horizon
    // deviation from the reference's unbounded log). The batch twin is
    // ONE pass, a row_number over (title, dead_letter) that keeps every
    // dead letter and the first live row per title: as two branches
    // (live deduped ∪ dead letters) the optimizer turns the live
    // branch's left joins into inner joins and the branches' dim
    // broadcasts stop matching.
    val deduped =
      if (!spec.skipRepeats) gated
      else if (gated.isStreaming) {
        val dedupedLive = gated.filter(!col("dead_letter"))
          .withWatermark("event_time", spec.watermark)
          .dropDuplicatesWithinWatermark("title")
        if (emitDeadLetter) dedupedLive.unionByName(gated.filter(col("dead_letter")))
        else dedupedLive
      } else {
        val w = Window.partitionBy(col("title"), col("dead_letter"))
          .orderBy(col("event_time"), col("id"))
        gated.withColumn("__rn", row_number().over(w))
          .filter(col("dead_letter") || col("__rn") === 1)
          .drop("__rn")
      }

    val out = deduped.select(
      col("id"), col("title"), col("user"), col("type"),
      col("revision.new").as("revid"),
      concat_ws(",", col("matched")).as("matched"),
      when(col("dead_letter"), lit(null).cast("string"))
        .otherwise(RcOps.matchMessage(col("matched"), col("meta.uri"))).as("message"),
      to_date(col("meta.dt")).as("event_date"),
      RcOps.sanitizedFilename(col("user"), col("revision.new")).as("filename"),
      col("event_time"), col("text"), col("change"), col("dead_letter"))
    if (emitDeadLetter) out else out.drop("dead_letter")
  }

  /** Live-enrichment twin of [[pipeline]] for one micro-batch: the
    * batch's F1 survivors are collected to the driver once (the batch's
    * only read of the source), `LiveEnrichment.enrich` fetches their
    * keys from the (stub or real) API in one bounded round — users 50
    * per request, revision texts LRU-cached across batches — and
    * attaches `editcount` and `text` to each row, and [[pipeline]]'s own
    * gate stage runs over that one-partition local frame: no broadcast,
    * no shuffle. The driver holds one batch's F1 survivors (about 20
    * rows on a live tail; a backlog's first batch holds all of it until
    * the SSE source admits bounded batches). Call from
    * foreachBatch (the standard Structured Streaming pattern for
    * per-batch external lookups); failed lookups surface as NULL
    * enrichment and take the existing race/dead-letter route.
    * Within-batch dedup only in this mode — cross-batch repeat state
    * lives in the non-live pipeline's dropDuplicatesWithinWatermark or
    * the verbose stateful op.
    */
  def livePipeline(batch: DataFrame, apiUrl: String, spec: FilterSpec,
      emitDeadLetter: Boolean = false): DataFrame =
    live(batch, spec, emitDeadLetter, _ => Some(apiUrl))

  /** Multi-site twin of [[livePipeline]]: each event's lookups go to its
    * OWN wiki's API, routed by `server_name` (the reference builds a
    * per-site session map and indexes it per event —
    * `filter_.py:57`, `scanner.py:128` `apis[change['server_name']]`);
    * an event whose site has no endpoint in `apis` gets NULL enrichment
    * and takes the race / dead-letter route (skip-and-continue, never
    * fail).
    */
  def livePipelineBySite(batch: DataFrame, apis: Map[String, String],
      spec: FilterSpec, emitDeadLetter: Boolean = false): DataFrame =
    live(batch, spec, emitDeadLetter, apis.get)

  /** Streamfilter FIRST (the reference registers filters on the stream
    * client before any API call): only F1 survivors are fetched for,
    * so a one-wiki filter does not pay API quota for every wiki.
    */
  private def live(batch: DataFrame, spec: FilterSpec, emitDeadLetter: Boolean,
      endpoint: String => Option[String]): DataFrame = {
    val events = streamFiltered(batch, spec)
    val rows = graft.enrichment.LiveEnrichment.enrich(events.collect().toSeq, endpoint)
    gates(events.sparkSession.createDataFrame(rows.asJava, events.schema
      .add("editcount", LongType).add("text", StringType)).coalesce(1), identity, spec,
      emitDeadLetter)
  }

  // ---- Verbose mode (-v): every event with its skip reason ------------

  /** Flat, encoder-friendly event for the verbose path. `pre_reason` is
    * the reason resolvable WITHOUT repeat state ('race_editcount',
    * 'editcount', 'race_text' or null); the repeat check folds in later
    * (window in batch, [[StatefulOps.markRepeats]] in streaming) because
    * it needs cross-event order. `reason`/`skip_message` are final.
    */
  case class VerboseRow(id: Long, title: String, user: String,
    change_type: String, revid: Option[Long], editcount: Option[Long],
    matched: Seq[String], uri: Option[String], event_date: String,
    filename: String, event_us: Long, text: Option[String],
    pre_reason: Option[String], reason: Option[String],
    skip_message: Option[String], event_time: java.sql.Timestamp,
    change_json: String)

  case class Resolved(row: VerboseRow, flag: Boolean)

  /** Exact reference skip strings (`scanner.py:130-138, 78-81`). */
  def skipMessage(reason: String, editcount: Option[Long],
      maxEdits: Option[Long], detail: String): String = reason match {
    case "editcount" =>
      s"Skipping.  Edit count was ${editcount.getOrElse(-1L)} > ${maxEdits.getOrElse(-1L)}."
    case "repeat" => "Skipping.  Page already in flagged changes log."
    case _ =>
      "A race condition occurred, likely due to a page being deleted " +
      "before it could be queried. The API returned the following error " +
      s"message:\n $detail"
  }

  /** Reference evaluation order (`eval_change`): editcount race >
    * over-max > repeat > text race > regex. Returns the row with its
    * final reason and whether it flags the title.
    */
  def resolveReason(r: VerboseRow, titleAlreadyFlagged: Boolean)
      (implicit spec: FilterSpec): Resolved = r.pre_reason match {
    case Some("race_editcount") => Resolved(r.copy(reason = Some("race"),
      skip_message = Some(skipMessage("race", r.editcount, spec.maxEdits,
        "editcount lookup failed"))), flag = false)
    case Some("editcount") => Resolved(r.copy(reason = Some("editcount"),
      skip_message = Some(skipMessage("editcount", r.editcount, spec.maxEdits, ""))),
      flag = false)
    case pre =>
      if (spec.skipRepeats && titleAlreadyFlagged)
        Resolved(r.copy(reason = Some("repeat"),
          skip_message = Some(skipMessage("repeat", None, None, ""))), flag = false)
      else if (pre.contains("race_text"))
        Resolved(r.copy(reason = Some("race"),
          skip_message = Some(skipMessage("race", None, None,
            "revision text lookup failed"))), flag = false)
      else Resolved(r, flag = r.matched.nonEmpty)
  }

  /** The `-v` pipeline: EVERY post-streamfilter event comes out, carrying
    * `reason` ('editcount' | 'repeat' | 'race' | null) and the exact
    * reference `skip_message`. reason-null rows with a non-empty
    * `matched` are the flagged events (identical set to `pipeline`'s
    * live output); reason-null rows with empty `matched` are the
    * evaluated-no-hit events the reference's verb line covers. F1, J1
    * and J2 are [[pipeline]]'s own joins (per-site dims included); only
    * the gates differ: every event is kept and labelled instead of
    * filtered.
    *
    * Streaming caveat (bounded-state tradeoff): the fMGWS path applies
    * `withWatermark` BEFORE markRepeats, so an event arriving later
    * than the watermark delay is dropped by the stateful operator and
    * never emitted — for late data, "every event comes out" holds up
    * to the configured watermark, not unconditionally. The batch twin
    * has no watermark and emits truly every row, so the two can
    * diverge exactly on late events. This is the price of bounded
    * repeat-state; widen `spec.watermark` if late arrivals matter more
    * than state size.
    */
  def pipelineVerbose(changes: DataFrame, users: DataFrame,
      revisions: DataFrame, spec0: FilterSpec): DataFrame = {
    implicit val spec: FilterSpec = spec0
    val underMax = RcOps.countUnderMax(spec.maxEdits)
    val pre = joinRevisions(enrichUsers(changes, users, spec), revisions)
      .withColumn("pre_reason",
        when(col("editcount").isNull, "race_editcount")
          .when(!underMax, "editcount")
          .when(col("text").isNull, "race_text"))
      .withColumn("matched",
        when(col("pre_reason").isNull,
          RcOps.matchedPatterns(col("text"), spec.regexes)).otherwise(array()))

    val rows = pre.select(
      col("id"), col("title"), col("user"),
      col("type").as("change_type"), col("revision.new").as("revid"),
      col("editcount"), col("matched"), col("meta.uri").as("uri"),
      to_date(col("meta.dt")).cast("string").as("event_date"),
      RcOps.sanitizedFilename(col("user"), col("revision.new")).as("filename"),
      unix_micros(col("event_time")).as("event_us"), col("text"),
      col("pre_reason"), lit(null).cast("string").as("reason"),
      lit(null).cast("string").as("skip_message"), col("event_time"),
      // full Change record as JSON: typed encoders can't carry the raw
      // nested struct through flatMapGroupsWithState without a parallel
      // case-class tree; the sink rehydrates with the declared schema.
      to_json(col("change")).as("change_json"))

    import rows.sparkSession.implicits._
    val resolved: DataFrame =
      if (rows.isStreaming)
        StatefulOps.markRepeats(
          rows.withWatermark("event_time", spec.watermark).as[VerboseRow]).toDF()
      else {
        // Batch twin of markRepeats: an event is a repeat iff an earlier
        // (event_us, id) eligible event of the same title matched. The
        // first flag CANDIDATE is always an actual flag, so counting
        // candidates is equivalent to counting flags for the >0 test.
        val w = Window.partitionBy(col("title")).orderBy(col("event_us"), col("id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val flagCand = col("pre_reason").isNull && size(col("matched")) > 0
        val vStruct = struct(rows.columns.toIndexedSeq.map(col): _*)
        rows
          .withColumn("already_flagged",
            lit(spec.skipRepeats) &&
              count(when(flagCand, 1)).over(w) > 0)
          .select(vStruct.as("_1"), col("already_flagged").as("_2"))
          .as[(VerboseRow, Boolean)]
          .map { case (r, flagged) => resolveReason(r, flagged).row }
          .toDF()
      }
    resolved
      .withColumn("message",
        when(col("reason").isNull && size(col("matched")) > 0,
          RcOps.matchMessage(col("matched"), col("uri")))).drop("uri")
  }
}
