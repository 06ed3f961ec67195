package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parity operators for the reference's per-event pipeline
  * (`scanner.py:120-175`), re-expressed as declarative DataFrame
  * transforms so Catalyst handles pushdown / join strategy / codegen.
  *
  * Scale notes (100 TB posture):
  *  - Every predicate here is a plain conjunctive equality/IN/range
  *    expression → pushed into the parquet scan (PushedFilters).
  *  - Enrichment joins broadcast the dimension side explicitly: user
  *    edit-counts and revision dims are orders of magnitude smaller
  *    than the fact stream.
  *  - Dedup is a keyed window/anti-join — shuffles once on the dedup
  *    key, no driver-side state (the reference rereads a JSON log per
  *    event, `flaglog.py:33-34`; here it's a distributed shuffle).
  */
object RcOps {

  /** F1 — source-side conjunctive predicate ("streamfilter",
    * `filter_.py:58-60,107`; example `examples/filterlist.py:21-23`).
    * Scalar => equality, iterable => membership, all keys ANDed.
    */
  def streamFilter(df: DataFrame, preds: Map[String, Seq[Any]]): DataFrame =
    preds.foldLeft(df) { case (d, (field, vals)) =>
      d.filter(if (vals.size == 1) col(field) === lit(vals.head)
               else col(field).isin(vals: _*))
    }

  /** J1 — enrichment join: per-user edit count (`scanner.py:199-218`).
    * The reference does one synchronous HTTP GET per event; here the
    * edit-count dimension is joined in one broadcast hash join. The dim
    * is derived from the fact table itself (count of events per user) —
    * the batch analog of "how many edits does this user have".
    */
  def editCountDim(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("editcount"))

  /** The broadcast hint is CONDITIONAL: the dim is derived from the
    * fact table (distinct users), so at 100 TB it can exceed broadcast
    * limits — an unconditional hint would OOM the driver. Under the
    * bound (`spark.graft.broadcastDimMaxBytes`, default 64 MiB,
    * compared against Catalyst's size estimate for the dim plan) the
    * hint guarantees a broadcast hash join; past it, a plain shuffle
    * join — which AQE still promotes to broadcast at runtime if the
    * aggregated dim turns out small (estimates for aggregates are
    * conservative: they inherit the child's size).
    */
  def withEditCount(events: DataFrame): DataFrame = {
    val dim = editCountDim(events)
    val bound = events.sparkSession.conf
      .get("spark.graft.broadcastDimMaxBytes", (64L << 20).toString).toLong
    val est = dim.queryExecution.optimizedPlan.stats.sizeInBytes
    val dimSide = if (est <= bound) broadcast(dim) else dim
    events.join(dimSide, Seq("user_id"), "left")
  }

  /** F2 — edit-count threshold with NULL-disable semantics
    * (`filter_.py:76-88`): `max_edits = None` means the gate is off and
    * every row passes. Encoded as a literal true, NOT `col <= null`
    * (which would be three-valued-logic false for every row).
    */
  def countUnderMax(maxEdits: Option[Long]): Column =
    maxEdits.map(m => col("editcount") <= lit(m)).getOrElse(lit(true))

  /** D1 — first-match-per-key dedup (`filter_.py:90-102`): the reference
    * keeps the first flagged change per title ever (append-only log,
    * O(n) reread per event). Batch twin: row_number over (key ORDER BY
    * event-time, id) = 1 — one shuffle on the key, deterministic
    * tie-break by id.
    */
  def firstPerKey(df: DataFrame, keys: Seq[String], ts: String, id: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(ts), col(id))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** J2 — enrichment join: revision text (`scanner.py:178-196`). Batch
    * analog: key the event into the document corpus (event_id mod corpus
    * size) and join the text in. The corpus-size scalar is computed as a
    * 1-row aggregate and broadcast — no collect(), no driver round-trip.
    * Staged AFTER the cheap gates F2/D1, mirroring the reference's
    * cheap-predicates-first ordering (`scanner.py:131-141`).
    */
  def withDocText(events: DataFrame, documents: DataFrame): DataFrame = {
    val nDocs = documents.agg(count(lit(1)).as("__n_docs"))
    events.crossJoin(broadcast(nDocs))
      .withColumn("doc_id", pmod(col("event_id"), col("__n_docs")))
      .drop("__n_docs")
      .join(documents, Seq("doc_id"), "left")
  }

  /** R1 — multi-regex matched-set (`filter_.py:110-112`): every pattern
    * is evaluated (no short-circuit — all matching patterns reported,
    * cost warning `examples/filterlist.py:27-29`). Higher-order `filter`
    * over an array of pattern literals; stays inside codegen.
    */
  def matchedPatterns(text: Column, patterns: Seq[String]): Column =
    filter(array(patterns.map(lit): _*), p => regexp_like(text, p))

  /** P1 — past-tense verb projection (`scanner.py:143-146`):
    * `type.removesuffix("e") + "ed"` (edit->edited, create->created).
    */
  def verb(eventType: Column): Column =
    concat(regexp_replace(eventType, "e$", ""), lit("ed"))

  /** P2 — match message (`scanner.py:147-151`): singular/plural on hit
    * count, comma-joined backticked patterns.
    */
  def matchMessage(matched: Column, uri: Column): Column =
    concat(
      lit("***MATCH*** with regex"),
      when(size(matched) > 1, lit("es ")).otherwise(lit(" ")),
      concat_ws(", ", transform(matched, p => concat(lit("`"), p, lit("`")))),
      lit(": "), uri)

  /** P3 — partition-key + filename projection (`scanner.py:154-158`):
    * event-date folder (`meta.dt[:10]`), `{user}_{rev}` filename with
    * `:` -> `-` sanitization.
    */
  def eventDateFolder(ts: Column): Column = date_format(ts, "yyyy-MM-dd")

  def sanitizedFilename(user: Column, rev: Column): Column =
    translate(concat_ws("_", user.cast("string"), rev.cast("string")), ":", "-")

  /** Skew-safe equi-join: salt the fact side into `buckets` sub-keys and
    * replicate the (small) dimension side once per salt, so one hot key
    * (a bot user with millions of events, say) spreads across `buckets`
    * reducers instead of stalling a single one. Semantics identical to
    * `fact.join(dim, keys)` — see RcOpsSpec. At 100 TB this is the
    * manual fallback where AQE's skew-join splitting doesn't apply
    * (e.g. aggregations over a pre-shuffled layout).
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
      buckets: Int, joinType: String = "left"): DataFrame = {
    val salted = fact.withColumn("__salt",
      pmod(xxhash64(keys.map(col) :+ monotonically_increasing_id(): _*), lit(buckets)).cast("int"))
    val replicated = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }
}
