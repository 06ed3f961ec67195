package graft.queries

import org.apache.spark.sql.{Column, DataFrame, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Stores, Tables}

/** Analytics / SQL-surface coverage queries (SURVEY.md §2.2 categories the
  * engine ships beyond strict parity: aggregation, joins, windows,
  * rollup, set ops, string/date/math/array/json functions, top-k).
  *
  * Cross-engine float determinism: money-like doubles are reduced to
  * exact integer cents via round(x*100) BEFORE summing (IEEE multiply
  * and round are deterministic and identical in Spark and DuckDB;
  * double-SUM order is not) — see BASELINE.md / SURVEY §7.3 risk 2.
  */
object AnalyticsQueries {

  /** round(x*scale) as exact BIGINT — deterministic across engines. */
  private def asInt(c: org.apache.spark.sql.Column, scale: Long) =
    round(c * lit(scale)).cast("long")

  /** q29b's nine global decile boundaries, memoized per events version
    * as a bounded driver constant (the postingSumdl / queryVec0
    * pattern): the quantized-CDF derivation is a pure function of the
    * corpus, and before this memo every q29b invocation re-ran the
    * CDF window + target join + a 9-row collect INSIDE the query
    * lambda (~0.3 s of per-call build; SCALE.md round-20 table).
    * Target ranks use the parquet footer row count directly
    * (the nHint convention) — sum of CDF counts == row count by
    * construction, so the former total-aggregate + broadcast is a
    * literal. Recompute per JVM per corpus version.
    */
  private def q29bCuts(s: SparkSession, dir: String): Array[Long] =
    Stores.value(s, "q29b-cuts", dir, "events") {
      import org.apache.spark.sql.expressions.Window
      val n = Tables.parquetRowCount(s, s"$dir/events.parquet")
      val cdf = Tables.events(s, dir)
        .withColumn("vc", asInt(col("value"), 100L))
        .groupBy(col("vc")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("vc"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val targets = s.range(1, 10).toDF("i")
        .select(col("i"), expr(s"(i * ${n}L + 9) div 10").as("t"))
      broadcast(targets)
        .join(cdf, cdf("cum") >= col("t"))
        .groupBy(col("i")).agg(min(col("vc")).as("b"))
        .orderBy(col("i")).collect().map(_.getLong(1))
    }

  /** Session intervals (30-min gap, (ts, event_id) tie order) — ONE
    * derivation shared by `q14_sessionize` and `q38_concurrency_sweep`
    * (whose brute-force invariant equates the two), so the gap rule
    * and tie-break cannot drift between them. Output: (user_id,
    * session_seq, n_events, s_us, e_us) with bounds in epoch micros.
    */
  private def sessionIntervals(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(s, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("is_new")).over(run))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("s_us"),
        max(unix_micros(col("ts"))).as("e_us"))
  }

  /** Narrow session spans (s_us, e_us) for the concurrency sweeps —
    * the same 30-minute-gap sessions as [[sessionIntervals]], built
    * with the NATIVE `session_window` aggregate instead of the
    * lag/cumsum window pair: one two-column scan, one exchange on
    * user_id, one merging-sessions aggregate (no per-user sort-window
    * passes, no session_seq bookkeeping the sweeps never read).
    * Gap is 1800 s + 1 µs: session_window merges an event iff its
    * gap to the previous is STRICTLY below the gap parameter, while
    * the gaps-and-islands rule splits iff strictly ABOVE 1800 s — the
    * +1 µs makes "exactly 1800 s apart" merge in both, so the two
    * constructions define identical sessions (q38/q38b hashes are
    * pinned against the lag-construction oracle at all SFs).
    */
  private def sessionSpans(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"))
      .groupBy(col("user_id"),
        session_window(col("ts"), "1800000001 microseconds").as("sw"))
      .agg(min(unix_micros(col("ts"))).as("s_us"),
        max(unix_micros(col("ts"))).as("e_us"))
      .select(col("s_us"), col("e_us"))

  /** Each purchase event with `signup_ts`, its user's latest signup
    * at or before it (NULL if none): the tagged-union window of the
    * as-of joins q13/q37 — one (user, ts) window, one shuffle. The
    * RANGE (not ROWS) frame ordered by ts alone makes a signup sharing
    * the purchase's exact ts a frame peer and therefore visible,
    * matching ASOF's `s.ts <= p.ts` (a ROWS frame ordered by (ts,
    * event_id) would exclude an equal-ts signup with a larger
    * event_id).
    */
  private def purchasesAsOfSignup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .filter(col("event_type").isin("signup", "purchase"))
      .withColumn("signup_ts",
        max(when(col("event_type") === "signup", col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
  }

  /** The per-day closed-interval concurrency sweep of q38/q38b over
    * `spans`: each [start, end] interval (epoch micros) under day
    * `day` (a column named `d`) emits a +1 boundary at start and a -1
    * one microsecond after end, so an interval ending exactly when
    * another starts still overlaps it. Both boundary rows come out of
    * ONE map-side explode — a union of two projections would evaluate
    * the span subtree twice and pay a union exchange before the sweep
    * window. The window per `d` keeps the running active count; a
    * start pairs with everything already open. No user_id tiebreak in
    * the sweep order: within an equal (t_us, delta) tie group the
    * multiset of running sums is order-invariant, so peak/overlap/
    * n_sessions are identical for ANY tie order. Output (d,
    * peak_concurrency, overlap_pairs, n_sessions) in day order.
    */
  private def concurrencySweep(spans: DataFrame, day: Column, start: Column,
      end: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bounds = spans.select(day,
        explode(array(
          struct(start.as("t_us"), lit(1L).as("delta")),
          struct((end + 1L).as("t_us"), lit(-1L).as("delta")))).as("b"))
      .select(col("d"), col("b.t_us"), col("b.delta"))
    val sweep = Window.partitionBy(col("d"))
      .orderBy(col("t_us"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, 0)
    bounds
      .withColumn("active", sum(col("delta")).over(sweep))
      .groupBy(col("d"))
      .agg(max(col("active")).as("peak_concurrency"),
        sum(when(col("delta") === 1L, col("active") - 1L).otherwise(0L))
          .as("overlap_pairs"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_sessions"))
      // per-day agg output is <= #days rows and already partitioned by
      // d: coalesce(1) + in-partition sort gives the deterministic
      // output order WITHOUT a range exchange (one fewer stage than
      // orderBy; at any scale this frame is calendar-bounded)
      .coalesce(1).sortWithinPartitions(col("d"))
  }

  /** Each event's portable 32-bit user hash grouped by event type —
    * the input of the per-type KMV sketches (q12b, q27, q34).
    */
  private def userHashesByType(s: SparkSession,
      dir: String): KeyValueGroupedDataset[String, Long] = {
    import s.implicits._
    Tables.events(s, dir)
      .select(col("event_type"),
        graft.operators.TextOps.portableHash32(col("user_id")).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
  }

  /** Per-type bottom-64 KMV sketches: (event_type, sk). */
  private def kmvSketches(s: SparkSession, dir: String): DataFrame =
    userHashesByType(s, dir)
      .agg(new graft.functions.SketchAgg.KMinValuesSketch(64).toColumn.name("sk"))
      .toDF("event_type", "sk")

  /** KMV distinct estimate of a sorted bottom-64 hash sketch: the exact
    * count below 64 hashes, else 63 * 2^32 / (64th smallest hash).
    */
  private def kmvEstimate(sk: Column): Column =
    when(size(sk) < 64, size(sk).cast("double"))
      .otherwise(lit(63 * 4294967296.0) / greatest(element_at(sk, 64), lit(1L)))

  /** The "ingested" orders/lineitem frames the DQ audits run on: the
    * clean fixtures unioned with DETERMINISTIC planted defects (the
    * text_pii_scrub convention — clean inputs would leave the audits
    * vacuous). ONE definition shared by `dq_referential` and
    * `dq_uniqueness`, so the two reports can never disagree about
    * what arrived: % 97 orders re-arrive with a dangling custkey
    * (duplicate PK + FK orphan), % 101 first-line items re-arrive
    * with a dangling suppkey (duplicate composite PK + FK orphan),
    * % 103 first-line items re-arrive with a shifted orderkey (FK
    * orphan, PK-unique).
    */
  private def ingestOrders(s: SparkSession, dir: String): DataFrame = {
    val ord0 = Tables.orders(s, dir)
    ord0.select(col("o_orderkey"), col("o_custkey"))
      .unionByName(ord0.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"), (col("o_custkey") + 10000000L).as("o_custkey")))
  }
  private def ingestLineitem(s: SparkSession, dir: String): DataFrame = {
    val li0 = Tables.lineitem(s, dir)
    li0.select(col("l_orderkey"), col("l_suppkey"), col("l_linenumber"))
      .unionByName(li0.filter(col("l_orderkey") % 101 === 0 && col("l_linenumber") === 1)
        .select(col("l_orderkey"), (col("l_suppkey") + 10000000L).as("l_suppkey"),
          col("l_linenumber")))
      .unionByName(li0.filter(col("l_orderkey") % 103 === 0 && col("l_linenumber") === 1)
        .select((col("l_orderkey") + 10000000L).as("l_orderkey"), col("l_suppkey"),
          col("l_linenumber")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-flavored pricing summary: partial (map-side) agg + final
    // agg, one shuffle on the two grouping keys.
    "q1_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          (sum(asInt(col("l_quantity"), 10000L)) / 10000.0).as("sum_qty"),
          (sum(asInt(col("l_extendedprice"), 100L)) / 100.0).as("sum_base_price"),
          (sum(asInt(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 100L)) / 100.0).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Multi-way star join: fact -> orders -> customer -> nation -> region,
    // dims broadcast; revenue per region in exact cents. The fact side
    // is PRE-AGGREGATED to order grain before the one real join
    // (partial-aggregation pushdown: integer-cent sums are associative,
    // so per-order revenue/item partials roll up to regions exactly) —
    // the orderkey shuffle then carries ~|orders| 3-column rows instead
    // of raw lineitems, and the join reuses the aggregate's hash
    // partitioning, so no exchange is added. At 100 TB this is the
    // difference between shuffling the fact table and shuffling one row
    // per order.
    "q2_join_agg" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(asInt(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 100L))
          .as("rev_c"), count(lit(1)).as("li_n"))
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg((sum(col("rev_c")) / 100.0).as("revenue"),
          sum(col("li_n")).as("n_items"))
        .orderBy(col("r_name"))
    }),

    // Top-k with deterministic tie-break: top 10 customers by order value.
    "q3_topk" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg((sum(asInt(col("o_totalprice"), 100L)) / 100.0).as("total_spent"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("total_spent").desc, col("o_custkey"))
        .limit(10)
    }),

    // Window functions: rank within customer + running order count.
    "q4_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byCust = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("order_seq", row_number().over(byCust))
        .withColumn("cum_spent",
          sum(asInt(col("o_totalprice"), 100L)).over(byCust.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("order_seq") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("order_seq"),
          (col("cum_spent") / 100.0).as("cum_spent"))
        .orderBy(col("o_custkey"), col("order_seq"))
    }),

    // Grouping sets via ROLLUP over event_type x day; NULL group rows
    // normalized to a sentinel for stable cross-engine hashing.
    "q5_rollup" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .rollup(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("day"), lit("ALL")).as("day"), col("n"))
        .orderBy(col("event_type"), col("day"))
    }),

    // Set operations: distinct users who clicked but never purchased
    // (EXCEPT), and clicked-and-purchased (INTERSECT), tagged + unioned.
    "q6_setops" -> ((s, dir) => {
      // ONE events scan: the (user, type) distinct frame is bounded by
      // |users| x 2 and checkpointed; EXCEPT/INTERSECT (the operators
      // this query exists to exercise) then run over that tiny frame
      // instead of four filtered re-scans of the corpus.
      val ut = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_type")).distinct()
        .localCheckpoint() // eager, deliberately: the r21 floor probe
      // measured the lazy variant SLOWER (0.37 vs 0.26 s isolated
      // min-of-7) — the eager job costs ~0.1 s but both set-op
      // branches then read finished blocks; keep eager
      val clicks = ut.filter(col("event_type") === "click").select(col("user_id"))
      val buys = ut.filter(col("event_type") === "purchase").select(col("user_id"))
      clicks.except(buys).select(lit("click_only").as("segment"), col("user_id"))
        .unionByName(clicks.intersect(buys).select(lit("click_and_buy").as("segment"), col("user_id")))
        .orderBy(col("segment"), col("user_id"))
    }),

    // JSON extraction from the props column + aggregation.
    "q7_json" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(when(col("k") > 50, 1)).as("n_high"))
        .orderBy(col("event_type"))
    }),

    // String function battery over part names.
    "q8_string_funcs" -> ((s, dir) => {
      Tables.part(s, dir)
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_name"), 1, 5).as("name5"),
          length(col("p_name")).cast("long").as("name_len"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          translate(col("p_type"), " ", "_").as("type_u"),
          lpad(col("p_partkey").cast("string"), 8, "0").as("key_pad"))
        .orderBy(col("p_partkey"))
    }),

    // Date/time battery over orders.
    "q9_datetime" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"))
        .orderBy(col("o_orderkey"))
    }),

    // Math battery — only ops with exact / correctly-rounded IEEE
    // semantics (abs, ceil, floor, sqrt, mod) to stay engine-identical.
    "q10_math" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_quantity") - lit(25.0)).as("dev"),
          ceil(col("l_quantity")).cast("long").as("qceil"),
          floor(col("l_quantity") / lit(10.0)).cast("long").as("qdecile"),
          sqrt(col("l_quantity")).as("qsqrt"),
          pmod(col("l_orderkey"), lit(7L)).cast("long").as("key_mod"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // Array function battery over embeddings (exact float ops only).
    "q11_array_funcs" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          col("embedding").getItem(0).cast("double").as("first"),
          array_max(col("embedding")).cast("double").as("vmax"),
          array_min(col("embedding")).cast("double").as("vmin"))
        .orderBy(col("vec_id"))
    }),

    // HLL cardinality sketch — the 100 TB path for COUNT(DISTINCT).
    // HLL estimates are not engine-portable (DuckDB cannot replay
    // Spark's HLL++ registers), so the raw estimate can't be
    // hash-gated; instead this GATES the estimate's CONTRACT (the
    // annRungContract convention, r16): the real HLL aggregate runs
    // inline beside the exact distinct, and the output carries a
    // per-group health bit `est_ok` = |est − exact| / exact within a
    // 4×rsd envelope (rsd = 0.01; HLL++ error is ~Gaussian with σ ≈
    // rsd, and the estimate is DETERMINISTIC for a fixed dataset, so
    // the bit is stable per SF, not flaky). The DuckDB oracle replays
    // the exact columns and expects every health bit = 1 — an HLL
    // regression (wrong grouping, register corruption, accuracy
    // collapse) now flips the driver's gate instead of passing a
    // rows-only check.
    "q12_approx_distinct" -> ((s, dir) => {
      val rsd = 0.01
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), rsd).as("hll"),
          count_distinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("n"), col("exact_users"),
          (abs(col("hll").cast("double") - col("exact_users").cast("double")) <=
            col("exact_users").cast("double") * (4 * rsd)).cast("long").as("est_ok"))
        .orderBy(col("event_type"))
    }),

    // KMV distinct sketch — q12's ORACLED sibling: the bottom-k
    // estimator over portable md5-derived 32-bit hashes, so DuckDB
    // replays the identical k-th smallest hash and the ESTIMATE itself
    // hash-matches (HLL can only be rows-checked). Bounded O(k) state,
    // map-side merged; exact count when a group has < k distinct users.
    "q12b_kmv_distinct" -> ((s, dir) =>
      userHashesByType(s, dir)
        .agg(new graft.functions.SketchAgg.KMinValues(64).toColumn.name("est"))
        .toDF("event_type", "est")
        .select(col("event_type"), round(col("est"), 6).as("kmv_users"))
        .orderBy(col("event_type"))),

    // Bucketized range join: banding events.value into interval dims.
    // A naive BETWEEN join is a broadcast nested loop (O(n*m) probes);
    // the scale-safe shape decomposes each interval into fixed-width
    // buckets, equi-joins on bucket id (hash join, pushdown-friendly),
    // and post-filters exact containment. Bands here are few, but the
    // shape holds for thousands of arbitrary intervals.
    "q21_range_join" -> ((s, dir) => {
      import s.implicits._
      val step = 50.0
      val bands = Seq(("low", 0.0, 100.0), ("mid", 100.0, 200.0), ("high", 200.0, 400.0))
        .toDF("band", "lo", "hi")
      val bandBuckets = bands.withColumn("bucket",
        explode(sequence(floor(col("lo") / step).cast("int"),
          floor((col("hi") - lit(0.001)) / step).cast("int"))))
      val ev = Tables.events(s, dir)
        .withColumn("bucket", floor(col("value") / step).cast("int"))
      ev.join(broadcast(bandBuckets), Seq("bucket"))
        .filter(col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          (sum(asInt(col("value"), 100L)) / 100.0).as("sum_value"))
        .orderBy(col("band"))
    }),

    // Unpivot (wide->long): the length/revision-style struct columns
    // melted into (key, value) rows.
    "q22_unpivot" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax) AS (measure, val)"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))
    }),

    // Correlated scalar subquery (Catalyst decorrelates it into a
    // left outer aggregate join — same SQL text runs on both engines).
    "q20_correlated_subquery" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql(
        "SELECT c_custkey, " +
        "CAST((SELECT COUNT(*) FROM orders_v o WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders, " +
        // CAST(... AS DOUBLE): Spark types `bigint / 100.0` as DECIMAL(27,6)
        // (literal 100.0 is DECIMAL(4,1)) while DuckDB yields DOUBLE; values
        // are equal but parquet physical types differ -> hash mismatch.
        "CAST((SELECT CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) FROM orders_v o " +
        "WHERE o.o_custkey = c.c_custkey) / 100.0 AS DOUBLE) AS total " +
        "FROM customer_v c ORDER BY c_custkey")
    }),

    // Pivot: per-user event counts spread across fixed event_type
    // columns (explicit value list => no extra distinct-values job).
    "q19_pivot" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))
    }),

    // CUBE over two dims (all grouping sets), NULL groups normalized.
    "q18_cube" -> ((s, dir) => {
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          (sum(asInt(col("o_totalprice"), 100L)) / 100.0).as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
          col("n"), col("total"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }),

    // As-of join: each purchase matched to the user's most recent
    // signup at-or-before it. Spark has no ASOF JOIN operator; the
    // scale-out formulation is a tagged union + running max over one
    // (user, time) window — ONE shuffle, no range self-join blowup.
    // The DuckDB oracle uses its native ASOF LEFT JOIN, proving the
    // window formulation implements exact as-of semantics.
    "q13_asof_join" -> ((s, dir) =>
      purchasesAsOfSignup(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("signup_ts"))
        .orderBy(col("event_id"))),

    // Sessionization: 30-minute-gap sessions per user (lag + running
    // count of session starts + per-session aggregate; two window passes
    // over the same (user, time) sort order -> a single shuffle).
    "q14_sessionize" -> ((s, dir) =>
      sessionIntervals(s, dir)
        .select(col("user_id"), col("session_seq"), col("n_events"),
          timestamp_micros(col("s_us")).as("sess_start"),
          timestamp_micros(col("e_us")).as("sess_end"))
        .orderBy(col("user_id"), col("session_seq"))),

    // Native session_window sessionization — the BUILT-IN operator
    // twin of q14's hand-rolled lag/cumsum formulation (and of the
    // streaming session windows the engine runs with watermarks): the
    // oracle replays gaps-and-islands SQL, so the gate proves Spark's
    // session_window semantics — window start = first event, end =
    // last event + gap, events closer than the gap merge — equal the
    // from-first-principles construction. Same single (user, time)
    // shuffle as q14.
    "q30_session_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("sess_start"),
          col("session_window.end").as("sess_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("sess_start"))
    }),

    // Exact interpolated percentiles per group (Spark `percentile` /
    // DuckDB `quantile_cont`), rounded for cross-engine FP safety.
    "q15_percentiles" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // Tumbling event-time window aggregation (the batch twin of the
    // streaming `window(ts, '1 hour')` groupBy; window.start aligns with
    // date_trunc('hour')).
    "q17_tumbling_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"),
          (sum(asInt(col("value"), 100L)) / 100.0).as("sum_value"))
        .select(col("window.start").as("hour_start"), col("n"), col("sum_value"))
        .orderBy(col("hour_start"))
    }),

    // Ordered-funnel analysis: users who signed up, then purchased
    // strictly AFTER their first signup, then clicked strictly after
    // that first qualifying purchase — the sequential-event workload
    // of product analytics (each step's timestamp anchors the next,
    // so a purchase BEFORE signup must not count). Three chained
    // conditional-min windows over the SAME user partitioning — one
    // shuffle total, each step a pure column of the previous
    // projection — then one global distinct-count row. All
    // timestamps/integers: no rounding contract.
    "q23_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
      Tables.events(s, dir)
        .withColumn("s_ts",
          min(when(col("event_type") === "signup", col("ts"))).over(w))
        .withColumn("p_ts",
          min(when(col("event_type") === "purchase" && col("ts") > col("s_ts"),
            col("ts"))).over(w))
        .withColumn("c_ts",
          min(when(col("event_type") === "click" && col("ts") > col("p_ts"),
            col("ts"))).over(w))
        .agg(
          countDistinct(when(col("s_ts").isNotNull, col("user_id"))).as("u_signup"),
          countDistinct(when(col("p_ts").isNotNull, col("user_id"))).as("u_purchase"),
          countDistinct(when(col("c_ts").isNotNull, col("user_id"))).as("u_click"))
    }),

    // Cohort retention matrix: users grouped by first-seen day, counted
    // per week-offset of later activity — the standard retention view.
    // One window pass (first day per user) + one distinct-count
    // aggregate; both keyed on user/cohort, integer/date outputs only.
    "q24_retention" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
      Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .withColumn("cohort", min(col("d")).over(w))
        .withColumn("wk", expr("CAST(datediff(d, cohort) div 7 AS BIGINT)"))
        .groupBy(col("cohort"), col("wk"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort"), col("wk"))
    }),

    // Equi-depth histogram per group: ntile(10) over (value, id) —
    // the bucket boundaries every query optimizer and data-profiling
    // dashboard derives. Partitioned by event_type so the sort window
    // scales horizontally (a GLOBAL ntile would funnel the corpus
    // through one task — at 100 TB global equi-depth comes from
    // approx-percentile boundaries instead, which q15 covers); the
    // event_id tiebreak makes bucket assignment deterministic under
    // equal values in both engines.
    "q29_equidepth_hist" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("bucket", ntile(10).over(w).cast("long"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 4).as("lo"),
          round(max(col("value")), 4).as("hi"),
          (sum(asInt(col("value"), 100L)) / 100.0).as("bucket_sum"))
        .orderBy(col("event_type"), col("bucket"))
    }),

    // GLOBAL equi-depth histogram — the scale path q29's comment
    // promises. A global ntile would funnel the whole corpus through
    // one sort task; instead: (1) quantize value to integer cents and
    // build the CDF over the DISTINCT quantized domain (the groupBy
    // shuffles ~|domain| rows — bounded by the value range, NOT the
    // corpus; the cumulative window runs over that bounded table only);
    // (2) decile boundaries = min quantized value whose cumulative
    // count reaches ceil(i*n/10), derived with a broadcast 9-row
    // target join; (3) the 9 boundaries collect to the driver (bounded,
    // like the centroid fetches) and bucket assignment is a pure
    // MAP-SIDE expression over the original scan — zero corpus
    // shuffles besides the final 10-row aggregate. All-integer
    // arithmetic end to end, so the oracle replays it bit-exactly.
    // Value ties share a bucket (value-based histogram semantics, the
    // deterministic contract ntile can't give across engines).
    "q29b_equidepth_global" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("vc", asInt(col("value"), 100L))
      // boundaries: memoized bounded driver constant (see [[q29bCuts]])
      val bs: Array[Long] = q29bCuts(s, dir)
      val bucket = bs.foldLeft(lit(1L)) { (acc, b) =>
        acc + when(col("vc") > lit(b), lit(1L)).otherwise(lit(0L))
      }
      ev.withColumn("bucket", bucket)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          round(min(col("value")), 4).as("lo"),
          round(max(col("value")), 4).as("hi"),
          (sum(col("vc")) / 100.0).as("bucket_sum"))
        .orderBy(col("bucket"))
    }),

    // Snapshot diff — the SCD/change-data-capture primitive: classify
    // every key across two snapshot versions as added / removed /
    // changed / unchanged and report per-status counts + integer-cents
    // value deltas. The "old" snapshot derives deterministically from
    // orders (keys % 7 == 0 absent -> 'added' in the new; % 5 == 0
    // price-shifted -> 'changed'; plus synthetic retired keys ->
    // 'removed'), so both engines build identical inputs. One FULL
    // OUTER join on the key — both sides hash-partition once, the
    // canonical reconcile shape for 100 TB table versions (at scale:
    // bucketed snapshots make this a zero-shuffle zipper join).
    "q28_snapshot_diff" -> ((s, dir) => {
      val now = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"), asInt(col("o_totalprice"), 100L).as("v_new"))
      val old = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey").as("k"),
          (asInt(col("o_totalprice"), 100L) +
            when(col("o_orderkey") % 5 === 0, lit(1000L)).otherwise(lit(0L))).as("v_old"))
        .unionByName(
          // synthetic retired keys: present only in the old snapshot
          Tables.orders(s, dir).filter(col("o_orderkey") % 11 === 0)
            .select((col("o_orderkey") + 10000000L).as("k"),
              asInt(col("o_totalprice"), 100L).as("v_old")))
      // SHAPE ADJUDICATION (r17 A/B, SCALE.md q28): a union + groupBy(k)
      // pivot looks like it saves an exchange, but k is UNIQUE within
      // each snapshot — the hash aggregate's cardinality equals its
      // input, so map-side partials combine nothing and the pivot
      // LOSES to the join as volume grows (0.611 vs 0.499 s at the
      // 10x corpus; a wash at 1x). Pre-aggregation only pays when
      // keys repeat (the q2_join_agg case); on unique keys the
      // full-outer join is the right physical shape at any scale.
      now.join(old, Seq("k"), "full_outer")
        .withColumn("status",
          when(col("v_old").isNull, "added")
            .when(col("v_new").isNull, "removed")
            .when(col("v_new") =!= col("v_old"), "changed")
            .otherwise("unchanged"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("v_new"), lit(0L)) - coalesce(col("v_old"), lit(0L)))
            .as("delta_cents"))
        .orderBy(col("status"))
    }),

    // Mergeable-sketch rollup: per-type KMV sketches (bounded k=64
    // arrays) roll up to the global scope by MERGING ARRAYS — the
    // corpus rows are scanned exactly once, and the 'all' estimate is
    // derived purely from the per-type sketches. KMV merge is EXACT
    // (k smallest of a union of k-smallest sets = k smallest of the
    // union), so the oracle computes the 'all' row DIRECTLY from the
    // raw rows and the hash gate proves merge-exactness cross-engine
    // — the property that lets a 100 TB sketch store serve any scope
    // rollup without a rescan.
    "q27_sketch_rollup" -> ((s, dir) => {
      val perType = kmvSketches(s, dir)
        // ~|types| rows, consumed by BOTH the merged-scope derivation
        // and the final union — uncheckpointed, the typed sketch
        // aggregate (a full corpus scan) runs twice
        .localCheckpoint()
      val merged = perType
        .select(explode(col("sk")).as("h")).distinct()
        .orderBy(col("h")).limit(64)
        .agg(sort_array(collect_list(col("h"))).as("sk"))
      perType
        .select(concat(lit("type:"), col("event_type")).as("scope"),
          round(kmvEstimate(col("sk")), 6).as("kmv_users"))
        .unionByName(merged.select(lit("all").as("scope"),
          round(kmvEstimate(col("sk")), 6).as("kmv_users")))
        .orderBy(col("scope"))
    }),

    // Two-phase SALTED aggregation — the skew-mitigation pattern as a
    // first-class operator, with its defining property under the
    // oracle gate: the result is IDENTICAL to the direct groupBy (the
    // oracle is the plain GROUP BY — salting must be invisible in the
    // output). Phase 1 pre-aggregates on (key, salt) so a hot key's
    // rows spread over 8 reducers; phase 2 collapses the <= 8 partial
    // rows per key. For low-cardinality keys over skewed data this
    // bounds any single reducer's input at ~1/8 of the hot key — the
    // hand-rolled twin of AQE's skew-join split, usable where AQE
    // can't see the skew (pre-aggregated upstreams, non-join shapes).
    // Integer-cents sums keep the two-phase total bit-equal to the
    // one-phase oracle.
    "q26_salted_agg" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"), pmod(col("event_id"), lit(8L)).as("salt"))
        .agg(count(lit(1)).as("pn"), sum(asInt(col("value"), 100L)).as("pc"))
        .groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n"), (sum(col("pc")) / 100.0).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // Per-group z-score outliers: the classic anomaly-detection scan
    // (events whose value sits >= 1.5 population standard deviations
    // from their type's mean). event_type is LOW-cardinality, so a
    // Window.partitionBy(event_type) would funnel each type through a
    // single task at scale; instead the per-type moments come from a
    // partial-aggregating groupBy (map-side combine, ~|types| rows)
    // broadcast back onto the scan — the corpus itself never shuffles.
    // mu/sigma/z are the only doubles, rounded at 4 (the percentile
    // contract) BEFORE the threshold so both engines gate identically.
    "q25_zscore_outliers" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val stats = ev.groupBy(col("event_type"))
        .agg(avg(col("value")).as("mu"), stddev_pop(col("value")).as("sigma"))
      ev.join(broadcast(stats), Seq("event_type"))
        .withColumn("z", round((col("value") - col("mu")) / col("sigma"), 4))
        .filter(col("sigma") > 0 && abs(col("z")) >= 1.5)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 4).as("value"), col("z"))
        .orderBy(col("event_id"))
    }),

    // Per-group exact top-k WITHOUT a per-group window — the scale
    // shape for "top users per segment" when a window partitioned on
    // the low-cardinality group key would funnel each group through
    // one task. The new bounded [[graft.functions.SketchAgg.TopK]]
    // Aggregator keeps at most k rows of state with an associative
    // merge, so map-side partial aggregation ships <= k rows per group
    // per partition — per-group top-k as a one-exchange aggregate
    // (collect_list-then-slice would buffer every user of the group).
    // Ranked by (cents desc, user_id asc); the direct row_number
    // oracle proves exactness.
    "q31_topk_per_group" -> ((s, dir) => {
      import s.implicits._
      val topk = new graft.functions.SketchAgg.TopK(3)
      Tables.events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(asInt(col("value"), 100L)).as("cents"),
          count(lit(1)).as("n_events"))
        .select(col("event_type"), col("cents"), col("user_id"), col("n_events"))
        .as[(String, Long, Long, Long)]
        .groupByKey(_._1)
        .mapValues(t => graft.functions.SketchAgg.TopKRow(t._2, t._3, t._4))
        .agg(topk.toColumn.name("top"))
        .toDF("event_type", "top")
        .select(col("event_type"), posexplode(col("top")).as(Seq("i0", "t")))
        .select(col("event_type"), (col("i0") + 1).cast("long").as("rk"),
          col("t.id").as("user_id"), (col("t.score") / 100.0).as("total_value"),
          col("t.payload").as("n_events"))
        .orderBy(col("event_type"), col("rk"))
    }),

    // Fixed-point integer EWMA over the per-(type, day) series — the
    // trend-smoothing every metrics pipeline runs, in the one shape
    // that is BOTH scale-safe and bit-exact: the corpus aggregates
    // once into (type, day) integer-cents rows (series length bounded
    // by the calendar, not the corpus), then the inherently-sequential
    // recurrence e_t = (c_t + 3*e_{t-1}) div 4 (alpha = 1/4) runs
    // inside one array fold per type over that bounded series. All
    // integer arithmetic — the oracle replays it exactly with a
    // recursive CTE, no rounding contract needed.
    "q32_ewma_daily" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(asInt(col("value"), 100L)).as("c"))
        .groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("d"), col("c")))).as("ser"))
        .withColumn("ew", expr(
          "aggregate(ser, CAST(array() AS ARRAY<STRUCT<d: DATE, c: BIGINT, e: BIGINT>>), " +
          "(acc, x) -> array_append(acc, named_struct('d', x.d, 'c', x.c, " +
          "'e', CASE WHEN size(acc) = 0 THEN x.c " +
          "ELSE (x.c + 3 * element_at(acc, -1).e) div 4 END)))"))
        .select(col("event_type"), explode(col("ew")).as("t"))
        .select(col("event_type"), col("t.d").as("d"),
          (col("t.c") / 100.0).as("daily_value"),
          (col("t.e") / 100.0).as("ewma_value"))
        .orderBy(col("event_type"), col("d"))
    }),

    // Single-pass column profiler — the data-quality sibling every
    // warehouse ships (null rates, distinct counts, ranges). NOT the
    // multi-countDistinct formulation: Catalyst plans that as an
    // Expand multiplying every row by (#distinct aggs + 1) — measured
    // ~1 s at sf0.1 vs this plan's ~0.3 s. Instead each row unpivots
    // map-side into (column, value) pairs (stack — rows x 4, cheap
    // narrow rows), ONE exchange aggregates them to the per-column
    // VALUE HISTOGRAM (map-side combine collapses repeats before the
    // wire), and every profile stat — row count, null count, distinct
    // count, min, max — derives from that bounded table. Values
    // normalize to BIGINT (cents for money, epoch days for dates) so
    // both engines emit identical numbers with no float contract.
    "profile_columns" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          asInt(col("o_totalprice"), 100L).as("price_cents"),
          datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01")))
            .cast("long").as("date_days"))
        .select(expr(
          "stack(4, 'o_orderkey', o_orderkey, 'o_custkey', o_custkey, " +
          "'o_totalprice_cents', price_cents, 'o_orderdate_days', date_days) " +
          "AS (column_name, v)"))
        .groupBy(col("column_name"), col("v"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("column_name"))
        .agg(sum(col("c")).as("n_rows"),
          coalesce(sum(when(col("v").isNull, col("c"))), lit(0L)).as("n_null"),
          count(col("v")).as("n_distinct"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .orderBy(col("column_name"))
    }),

    // Incremental-view-maintenance merge: the partial-aggregate
    // algebra that lets a 100 TB rollup absorb a delta WITHOUT
    // rescanning the base — base slice and delta slice each aggregate
    // independently (two disjoint scans standing in for "yesterday's
    // materialized partials + today's increment"), then merge by
    // SUMMING partials. The oracle is the direct one-shot GROUP BY
    // over the union: the hash gate proves merge == recompute, the
    // defining IVM property (count/sum are the mergeable pair; the
    // KMV rollup q27 proves the sketch analogue).
    "ivm_merge_agg" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(pmod(col("o_custkey"), lit(100L)).as("bucket"),
          asInt(col("o_totalprice"), 100L).as("cents"), col("o_orderkey"))
      def part(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        o.filter(f(col("o_orderkey")))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("pn"), sum(col("cents")).as("pc"))
      part(k => k % 7 =!= 0).unionByName(part(k => k % 7 === 0))
        .groupBy(col("bucket"))
        .agg(sum(col("pn")).as("n"), (sum(col("pc")) / 100.0).as("sum_value"))
        .orderBy(col("bucket"))
    }),

    // Seasonal-baseline anomaly scan — q25's big sibling: the baseline
    // is per (event_type, hour-of-day), so "a purchase spike at 3am"
    // flags even when it is normal at noon (the decomposition every
    // ops anomaly detector starts with). Same scale shape as q25: the
    // baseline table is |types| x 24 rows from a partial-aggregating
    // groupBy, broadcast back onto the scan — the corpus never
    // shuffles. z rounded at 4 BEFORE the >= 2 gate (the shared
    // cross-engine contract).
    "q33_seasonal_anomaly" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("hh", hour(col("ts")).cast("long"))
      val base = ev.groupBy(col("event_type"), col("hh"))
        .agg(avg(col("value")).as("mu"), stddev_pop(col("value")).as("sigma"))
      ev.join(broadcast(base), Seq("event_type", "hh"))
        .withColumn("z", round((col("value") - col("mu")) / col("sigma"), 4))
        .filter(col("sigma") > 0 && abs(col("z")) >= 2.0)
        .select(col("event_id"), col("event_type"), col("hh"),
          round(col("value"), 4).as("value"), col("z"))
        .orderBy(col("event_id"))
    }),

    // KMV set-operation estimates across sketch pairs — what a sketch
    // STORE is for: |A u B| comes from MERGING the two k-min arrays
    // (exact: k smallest of a union of k-smallest sets), |A n B| by
    // inclusion-exclusion, never re-scanning rows. The oracle computes
    // the union estimate DIRECTLY from the raw rows (distinct hashes
    // of users in either type), so the hash gate proves array-merge ==
    // direct-sketch for every pair — the q27 property extended from
    // rollup to set algebra. All 10 type pairs; the pair join is
    // sketch-table-sized (|types| rows), broadcast by Catalyst.
    "q34_kmv_intersect" -> ((s, dir) => {
      val perType = kmvSketches(s, dir)
      val a = perType.select(col("event_type").as("type_a"), col("sk").as("ska"))
      val b = perType.select(col("event_type").as("type_b"), col("sk").as("skb"))
      a.join(b, col("type_a") < col("type_b"))
        .withColumn("sku", slice(array_sort(array_distinct(
          concat(col("ska"), col("skb")))), 1, 64))
        .select(col("type_a"), col("type_b"),
          round(kmvEstimate(col("ska")), 6).as("est_a"),
          round(kmvEstimate(col("skb")), 6).as("est_b"),
          round(kmvEstimate(col("sku")), 6).as("est_union"),
          round(kmvEstimate(col("ska")) + kmvEstimate(col("skb")) - kmvEstimate(col("sku")), 6)
            .as("est_intersect"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // Sample-quantile SKETCH — the bounded-memory quantile rung of
    // the sketch family (HLL q12, KMV q27/q34, CMS, TopK): per group,
    // a FIXED-SIZE uniform sample selected by deterministic hash coin
    // (the 64 smallest md5 coins — KMV's selection rule applied to
    // rows, so the sample is mergeable: union-then-cut = cut-of-cuts)
    // and the p50/p90 estimates read off the sorted sample at
    // ceil(q*n). Both engines replay coin, cut, and rank identically
    // — the estimate is bit-deterministic even though it IS an
    // estimate of the true quantile (the q27 merge-exactness
    // discipline). Per-group state is bounded at 64 rows at ANY
    // scale; two windows ride ONE exchange on the group key.
    "q48_sketch_quantiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir).select(col("event_type"),
        asInt(col("value"), 100L).as("vc"),
        graft.operators.TextOps.portableHash32(
          concat(lit("qs|"), col("event_id").cast("string"))).as("h"))
      val wCoin = Window.partitionBy(col("event_type")).orderBy(col("h"), col("vc"))
      val smp = ev.withColumn("rk", row_number().over(wCoin))
        .filter(col("rk") <= 64)
      val wVal = Window.partitionBy(col("event_type")).orderBy(col("vc"), col("h"))
      val ranked = smp
        .withColumn("vr", row_number().over(wVal).cast("long"))
        .withColumn("ns", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
      ranked.groupBy(col("event_type"))
        .agg(max(col("ns")).as("n_sample"),
          (max(when(col("vr") === expr("(ns + 1) div 2"), col("vc"))) / 100.0)
            .as("p50_est"),
          (max(when(col("vr") === expr("(9 * ns + 9) div 10"), col("vc"))) / 100.0)
            .as("p90_est"))
        .orderBy(col("event_type"))
    }),

    // k-anonymity audit — the privacy gate a released dataset's
    // metadata columns pass before publication: at each
    // quasi-identifier generalization level (fine -> coarse), how
    // many QI groups exist, the smallest group, and how many
    // documents sit in groups below k = 10 (re-identifiable by QI
    // match). The finest level buckets token length (div 50) beside
    // source and lang, so the at-risk signal is live at every SF;
    // generalizing to (source, lang) and then (source) shows the
    // standard lattice walk toward k-anonymity. One aggregate pair
    // per level, all integers.
    "dq_k_anonymity" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("lang"),
          expr("size(split(text, ' ')) div 50").as("len_b"))
      def level(name: String, keys: org.apache.spark.sql.Column*): DataFrame =
        docs.groupBy(keys: _*).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_groups"),
            min(col("n")).as("min_group"),
            sum(when(col("n") < 10, 1L).otherwise(0L)).as("n_at_risk_groups"),
            sum(when(col("n") < 10, col("n")).otherwise(0L)).as("n_at_risk_docs"))
          .select(lit(name).as("qi_level"), col("n_groups"), col("min_group"),
            col("n_at_risk_groups"), col("n_at_risk_docs"))
      level("1_source_lang_len", col("source"), col("lang"), col("len_b"))
        .unionByName(level("2_source_lang", col("source"), col("lang")))
        .unionByName(level("3_source", col("source")))
        .orderBy(col("qi_level"))
    }),

    // Explicit GROUPING SETS — the rollup/cube sibling that picks
    // arbitrary grouping combinations in ONE pass ((type, dow),
    // (type), ()): Spark expands each input row once per set (the
    // same Expand machinery as rollup) with grouping_id()
    // disambiguating NULL-as-group from NULL-as-value. Integer-cents
    // sums; NULLS FIRST ordering pinned explicitly on both engines
    // (Spark defaults nulls-first, DuckDB nulls-last).
    "q40_grouping_sets" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("dow", dayofweek(col("ts")).cast("long"))
        .groupingSets(
          Seq(Seq(col("event_type"), col("dow")), Seq(col("event_type")), Seq()),
          col("event_type"), col("dow"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          (sum(asInt(col("value"), 100L)) / 100.0).as("sum_value"))
        .orderBy(col("gid"), col("event_type").asc_nulls_first,
          col("dow").asc_nulls_first)
    }),

    // Exact per-group MODE — the most frequent value with a
    // deterministic tie rule (smallest value wins): two partial-
    // aggregating exchanges, (type, value) counts then a max_by
    // selection on (count, -value) — never a per-group sort. The
    // oracle is the direct ranked formulation.
    "q41_mode_per_group" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"), asInt(col("value"), 100L).as("vc"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("event_type"))
        .agg(max_by(col("vc"), struct(col("cnt"), (-col("vc")).as("nv"))).as("mode_vc"),
          max(col("cnt")).as("mode_n"))
        .select(col("event_type"), (col("mode_vc") / 100.0).as("mode_value"),
          col("mode_n"))
        .orderBy(col("event_type"))
    }),

    // IVM with RETRACTIONS — the hard half of incremental view
    // maintenance (ivm_merge_agg handles inserts): a delete arrives as
    // a NEGATIVE partial (n = -1 per row, negated sum), the merge is
    // the same partial SUM, and groups whose count reaches zero drop
    // out of the view. Base partials aggregate ALL rows, the delete
    // slice aggregates negated, and the oracle — the direct aggregate
    // over the surviving rows — proves retract-merge == recompute.
    "ivm_delete_retract" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(pmod(col("o_custkey"), lit(100L)).as("bucket"),
          asInt(col("o_totalprice"), 100L).as("cents"), col("o_orderkey"))
      val base = o.groupBy(col("bucket"))
        .agg(count(lit(1)).as("pn"), sum(col("cents")).as("pc"))
      val retract = o.filter(col("o_orderkey") % 7 === 0)
        .groupBy(col("bucket"))
        .agg((-count(lit(1))).as("pn"), (-sum(col("cents"))).as("pc"))
      base.unionByName(retract)
        .groupBy(col("bucket"))
        .agg(sum(col("pn")).as("n"), (sum(col("pc")) / 100.0).as("sum_value"))
        .filter(col("n") > 0)
        .orderBy(col("bucket"))
    }),

    // The RANK-FUNCTION family (rank, dense_rank, percent_rank,
    // cume_dist) — four window functions the surface didn't exercise,
    // run over an ordering WITH REAL TIES (n_chars repeats within a
    // source) because tie handling is exactly where the four differ:
    // rank gaps, dense_rank doesn't, percent_rank = (rank-1)/(n-1),
    // cume_dist = peers-inclusive fraction. All four are
    // integer-derived, so the doubles are exact cross-engine (round(6)
    // at the edge only for column hygiene); output order pins the
    // doc_id tiebreak. One window exchange on source.
    "q43_rank_functions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"),
          rank().over(w).cast("long").as("rk"),
          dense_rank().over(w).cast("long").as("drk"),
          round(percent_rank().over(w), 6).as("prk"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy(col("source"), col("n_chars"), col("doc_id"))
    }),

    // Primary-key uniqueness audit — dq_referential's companion over
    // the SAME planted ingest: the % 97 order re-arrivals duplicate
    // o_orderkey, and the % 101 lineitem plants duplicate the
    // (l_orderkey, l_linenumber) composite PK (the % 103 plants shift
    // the orderkey, so they stay PK-unique — a dangling FK is not a
    // duplicate key, and the two audits must not conflate them). One
    // hash aggregate per table on its key; exact integers plus the
    // rounded rate.
    "dq_uniqueness" -> ((s, dir) => {
      def audit(name: String, keyed: DataFrame): DataFrame =
        keyed.groupBy(col("k")).agg(count(lit(1)).as("m"))
          .agg(sum(col("m")).as("n_rows"), count(lit(1)).as("n_keys"),
            sum(when(col("m") > 1, lit(1L)).otherwise(lit(0L))).as("n_dup_keys"),
            max(col("m")).as("max_multiplicity"))
          .select(lit(name).as("tbl"), col("n_rows"), col("n_keys"),
            col("n_dup_keys"), col("max_multiplicity"),
            round(col("n_dup_keys") / col("n_keys").cast("double"), 6).as("dup_key_frac"))
      audit("lineitem", ingestLineitem(s, dir)
          .select(concat_ws("|", col("l_orderkey"), col("l_linenumber")).as("k")))
        .unionByName(audit("orders", ingestOrders(s, dir)
          .select(col("o_orderkey").cast("string").as("k"))))
        .orderBy(col("tbl"))
    }),

    // The TPC-H Q5 join shape — five tables, two independent FK
    // chains (lineitem->orders->customer and lineitem->supplier)
    // meeting on a nation equality, dimension filters at the leaves —
    // the canonical multi-way-join-planning workload the rest of the
    // suite's two-table joins don't exercise. Catalyst gets the
    // declarative form: date filter pushed into the orders scan,
    // region filter into the 5-row region scan, nation/region ride
    // broadcasts, and join order is the optimizer's call (the 100 TB
    // posture: lineitem is the fact spine, everything else hashes or
    // broadcasts onto it). Revenue is exact integer micro-cents
    // (cents x (100 - discount%)) so the sum is order-free.
    "q45_region_revenue" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        round(col("l_discount") * 100).cast("long").as("disc"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      val supp = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val reg = Tables.region(s, dir).filter(col("r_name") === "ASIA")
        .select(col("r_regionkey"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("cents") * (lit(100L) - col("disc"))).as("revenue_microcents"),
          count(lit(1)).as("n_lineitems"))
        .orderBy(col("revenue_microcents").desc, col("n_name"))
    }),

    // Referential-integrity audit — the DQ family's missing classic
    // beside dq_expectations (row rules) / dq_freshness / dq_drift:
    // per FK relationship, how many child rows point at a parent that
    // does not exist. The fixtures ship referentially CLEAN, so the
    // audited "ingest" unions deterministic planted orphans first
    // (the text_pii_scrub convention — the operator under test is the
    // accounting, and a clean corpus would leave its oracle vacuous):
    // every o_orderkey % 97 == 0 order re-arrives with a dangling
    // custkey, and lineitem plants one dangling-supplier and one
    // dangling-order row each. Each relationship is an orphan scan
    // keyed on the FK against the parent's DISTINCT keys — expressed
    // as a LEFT join + null-count so n_rows and n_orphans come out of
    // ONE pass over the child (the r16 shape anti-joined per arm and
    // re-scanned each child for its row count: 6 child scans; this is
    // 2), and the two lineitem relationships share a single scan with
    // chained parent lookups. At 100 TB that is the difference
    // between auditing the fact table once and reading it per rule.
    "dq_referential" -> ((s, dir) => {
      val ords = ingestOrders(s, dir)
      val lis = ingestLineitem(s, dir)
      // distinct parent keys, tagged so a miss is a NULL after the join
      def keys(parent: DataFrame, pkey: String) =
        parent.select(col(pkey)).distinct().withColumn("__hit_" + pkey, lit(1))
      val liAudit = lis
        .join(keys(ords, "o_orderkey"),
          lis("l_orderkey") === col("o_orderkey"), "left")
        .join(keys(Tables.supplier(s, dir), "s_suppkey"),
          lis("l_suppkey") === col("s_suppkey"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("__hit_o_orderkey").isNull.cast("long")).as("orph_o"),
          sum(col("__hit_s_suppkey").isNull.cast("long")).as("orph_s"))
      val ordAudit = ords
        .join(keys(Tables.customer(s, dir), "c_custkey"),
          ords("o_custkey") === col("c_custkey"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("__hit_c_custkey").isNull.cast("long")).as("orph_c"))
      // both lineitem rows come off the ONE aggregate row via explode
      // (a union of two projections would re-execute the scan subtree)
      liAudit.select(explode(array(
          struct(lit("lineitem_orders").as("fk"), col("n_rows"),
            col("orph_o").as("n_orphans")),
          struct(lit("lineitem_supplier").as("fk"), col("n_rows"),
            col("orph_s").as("n_orphans")))).as("r"))
        .select(col("r.fk").as("fk"), col("r.n_rows").as("n_rows"),
          col("r.n_orphans").as("n_orphans"))
        .unionByName(ordAudit.select(lit("orders_customer").as("fk"),
          col("n_rows"), col("orph_c").as("n_orphans")))
        .select(col("fk"), col("n_rows"), col("n_orphans"),
          round(col("n_orphans") / col("n_rows").cast("double"), 6).as("orphan_frac"))
        .orderBy(col("fk"))
    }),

    // Equi-WIDTH histogram — the fixed-bucket twin of q29's equi-depth
    // (depth answers "where are the quantiles", width answers "what
    // does the distribution LOOK like" — dashboards bin by width):
    // 10 integer-cents buckets spanning [min, max], bucket = exact
    // integer division against the 1-row min/max broadcast. One
    // aggregate for the bounds, one map-side bucket expression, one
    // 10-row rollup — the canonical two-pass histogram at any scale.
    "q46_equiwidth_hist" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
      val mm = o.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      o.crossJoin(broadcast(mm))
        .select(expr("least(9, ((cents - lo) * 10) div (hi - lo + 1))").as("bucket"),
          col("cents"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("bucket"))
    }),

    // HOPPING (sliding) time windows via the NATIVE `window()`
    // table-valued grouping — the time-windowing rung the batch
    // family still lacked (q14/q38 are sessions, q32/q39 tumble or
    // weight by time; streaming has watermark windows): 10-minute
    // windows sliding every 5, so every event lands in EXACTLY two
    // overlapping windows — per window, event count and distinct
    // users. The oracle replays Spark's epoch-aligned window
    // semantics as pure integer arithmetic (start = t div slide *
    // slide - k*slide, k in {0,1}); outputs are integer micros so the
    // hash gate proves the built-in's alignment contract. One expand
    // (2 rows per event, map-side) + one aggregate exchange on the
    // window key — the same shape at any scale.
    "q47_hopping_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"))
        .select(unix_micros(col("w.start")).as("w_start_us"),
          unix_micros(col("w.end")).as("w_end_us"),
          col("n_events"), col("n_users"))
        .orderBy(col("w_start_us"))),

    // first_value / last_value / nth_value over the full-partition
    // frame — the value-extraction rungs of the window family that
    // q43's rank ladder and the lead/lag consumers don't exercise.
    // Per user (deterministic (ts, event_id) order), the first and
    // last event types, the SECOND event's value (null for one-event
    // users — nth_value's defining edge), and the partition count;
    // the rank-1 cut makes the output user-sized. One window exchange
    // on the high-cardinality user key.
    "q44_value_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, dir)
        .select(col("user_id"),
          first(col("event_type")).over(full).as("first_type"),
          last(col("event_type")).over(full).as("last_type"),
          round(expr("nth_value(value, 2)").over(full), 4).as("second_value"),
          count(lit(1)).over(full).as("n_events"),
          row_number().over(ord).as("rn"))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("first_type"), col("last_type"),
          col("second_value"), col("n_events"))
        .orderBy(col("user_id"))
    }),

    // VALUE-based RANGE window frame — the windowing capability the
    // rest of the window family (ROWS frames, lead/lag, session/
    // tumbling) doesn't exercise: per user, the trailing ONE HOUR of
    // events by TIMESTAMP VALUE, not by row count — the "requests in
    // the last hour" rate-limit / rolling-exposure shape. The frame
    // runs on an INTEGER microsecond domain (unix_micros) so both
    // engines cut the frame boundary identically with no interval
    // arithmetic in play; peers at the same microsecond are included
    // together by RANGE semantics (no tiebreak needed — value-based
    // frames are tie-insensitive by definition). Aggregates are a
    // count and an integer-cents sum (order-free). One window
    // exchange on the high-cardinality user key.
    "q42_trailing_range_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("tm"))
        .rangeBetween(-3599999999L, 0)
      Tables.events(s, dir)
        .withColumn("tm", unix_micros(col("ts")))
        .withColumn("cents", asInt(col("value"), 100L))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("cents")).over(w).as("v_cents_1h"))
        .orderBy(col("event_id"))
    }),

    // Time-weighted average — the metrics-pipeline aggregate a plain
    // AVG silently gets wrong (a value held for an hour must weigh
    // 3600x one held a second): per user, each event's value holds
    // until the next event, TWA = integral / observed span. One
    // window exchange on the high-cardinality user key; weights are
    // integer cents x integer seconds (BIGINT-exact sums), the single
    // rounded double is the final ratio. Single-event users (no span)
    // are excluded — the documented domain.
    "q39_time_weighted_avg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("t_s", col("ts").cast("long"))
        .withColumn("next_s", lead(col("t_s"), 1).over(w))
        .withColumn("wt", asInt(col("value"), 100L) * (col("next_s") - col("t_s")))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("t_s")) - min(col("t_s"))).as("dur_s"),
          sum(col("wt")).as("wsum"))
        .filter(col("dur_s") > 0)
        .select(col("user_id"), col("n_events"), col("dur_s"),
          round(col("wsum") / (col("dur_s") * 100.0), 4).as("twa_value"))
        .orderBy(col("user_id"))
    }),

    // Tolerance-bounded as-of join — the feature-store variant of q13
    // (pandas merge_asof's `tolerance`): a match older than 7 days is
    // STALE and must surface as NULL, not silently join (the
    // point-in-time-correctness rule that keeps training features from
    // leaking ancient state). Same one-shuffle tagged-union window as
    // q13; the tolerance is a post-window null-out, so the scale shape
    // is unchanged. Output adds the staleness age in integer seconds.
    "q37_asof_tolerance" -> ((s, dir) =>
      purchasesAsOfSignup(s, dir)
        .withColumn("age_s",
          col("ts").cast("long") - col("signup_ts").cast("long"))
        .withColumn("signup_ts",
          when(col("age_s") <= 7L * 86400L, col("signup_ts")))
        .withColumn("age_s",
          when(col("signup_ts").isNotNull, col("age_s")))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("signup_ts"), col("age_s"))
        .orderBy(col("event_id"))),

    // Concurrency sweep over sessionized intervals — "how many session
    // pairs overlapped, and what was peak concurrency, per day" WITHOUT
    // enumerating the quadratic pair set: the classic sweep-line, as
    // Spark windows. Session intervals come from the q14 sessionize
    // logic; each emits a +1 boundary at its (day-clamped) start and
    // -1 one microsecond after its end, the per-START-DAY ordered
    // window keeps the running active count, and total overlapping
    // pairs = sum over starts of the count already active (each start
    // pairs with everything currently open). Partitioning by the
    // session's start day bounds the window task (sessions per day,
    // never the corpus) and keeps every session's two boundaries in
    // one partition; the documented semantics is overlap among
    // same-start-day sessions. Boundary ties order (-1 before +1), so
    // a session starting exactly 1 us after another ends does NOT
    // count as overlapping, while closed-interval touching (s' = e)
    // does.
    "q38_concurrency_sweep" -> ((s, dir) =>
      concurrencySweep(sessionSpans(s, dir), to_date(timestamp_micros(col("s_us"))).as("d"),
        col("s_us"), col("e_us"))),

    // Cross-midnight variant of the concurrency sweep: q38 buckets a
    // session under its START date, so a session alive at 23:59 still
    // counts toward the NEXT day's concurrency but q38 never sees it
    // there. Here every session is split at UTC day boundaries first —
    // one [max(s, day_start), min(e, day_end)] segment per day touched
    // (explode over the session's date range; session lengths are
    // bounded by the 30-min gap rule, so the fan-out per row is tiny
    // and map-side) — and the same closed-interval boundary sweep runs
    // per day. n_sessions counts sessions ACTIVE that day (a
    // midnight-crossing session contributes to both days). Plan shape
    // is q38's: map-side segment explode emitting BOTH boundary rows of
    // a segment in the same pass (one evaluation of the explode
    // subtree, no union exchange), ONE window exchange on the day,
    // final per-day agg. At 100x a hot day is still a single window
    // partition; the scale-safe refinement is a two-level sweep —
    // salted partial boundary sums per (d, salt), then a merge pass —
    // which this boundary encoding already supports (deltas are
    // associative).
    "q38b_concurrency_sweep_midnight" -> ((s, dir) => {
      val dayUs = 86400000000L
      val segs = sessionSpans(s, dir)
        .withColumn("d", explode(sequence(
          to_date(timestamp_micros(col("s_us"))),
          to_date(timestamp_micros(col("e_us"))))))
        .withColumn("day_s_us", unix_micros(col("d").cast("timestamp")))
        .withColumn("seg_s", greatest(col("s_us"), col("day_s_us")))
        .withColumn("seg_e", least(col("e_us"), col("day_s_us") + lit(dayUs - 1L)))
      concurrencySweep(segs, col("d"), col("seg_s"), col("seg_e"))
    }),

    // SCD Type-2 interval reconstruction — turn an append-only change
    // log into validity windows ([ts, next ts) per user, NULL-open for
    // the current version): the warehouse primitive behind every
    // point-in-time dimension. ONE window exchange on the
    // HIGH-cardinality user key (each user's history sorts
    // independently — this is the window shape that scales, unlike the
    // per-type windows q25/q29 replaced); versions then roll up per
    // type with total covered duration in integer seconds.
    "q35_scd2_intervals" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        .withColumn("dur_s",
          col("valid_to").cast("long") - col("ts").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_versions"),
          sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_current"),
          sum(coalesce(col("dur_s"), lit(0L))).as("total_dur_s"))
        .orderBy(col("event_type"))
    }),

    // Robust center/spread per type — exact MEDIAN + MAD (median
    // absolute deviation), the outlier-resistant twin of q25's
    // mean/sigma, derived WITHOUT any per-type sort of the corpus:
    // integer cents, per-(type, cent) counts over the DISTINCT value
    // domain — bounded by the value range, never the corpus; median =
    // least value whose cumulative count reaches ceil(n/2), then the
    // same over |v - median|. Everything integer, replayed exactly by
    // the oracle.
    //
    // r19 shape (verdict item 2 — the r17/r18 window+broadcast CDF
    // was "weak": ~13 jobs of scheduling floor that never amortized,
    // 13x DuckDB at the 100x decade with a GROWING absolute gap): ONE
    // corpus scan -> (type, cent) count table -> per-type sorted
    // count ARRAY, and both CDF cuts become ordered in-row folds (the
    // dq_drift bin-ordered-fold precedent). The MAD fold needs no
    // per-dv regroup: walking (dv, c) entries sorted by dv crosses
    // ceil(n/2) inside the same dv group a merged CDF would — the
    // emitted dv is identical. Single action, two bounded shuffles,
    // zero joins/windows/broadcasts; the array per type is the
    // distinct-cent count (<= value range), constant in corpus size.
    "q36_mad_robust" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"), asInt(col("value"), 100L).as("vc"))
        .groupBy(col("event_type"), col("vc")).agg(count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(sum(col("c")).as("n"),
          sort_array(collect_list(struct(col("vc"), col("c")))).as("dist"))
        .withColumn("half", expr("(n + 1) div 2"))
        .withColumn("med_vc", expr(
          "aggregate(dist, named_struct('cum', CAST(0 AS BIGINT), 'med', CAST(null AS BIGINT)), " +
          "(acc, x) -> IF(acc.med IS NOT NULL, acc, named_struct('cum', acc.cum + x.c, " +
          "'med', IF(acc.cum + x.c >= half, x.vc, CAST(null AS BIGINT)))), acc -> acc.med)"))
        .withColumn("devs", expr(
          "sort_array(transform(dist, x -> named_struct('dv', abs(x.vc - med_vc), 'c', x.c)))"))
        .withColumn("mad_vc", expr(
          "aggregate(devs, named_struct('cum', CAST(0 AS BIGINT), 'mad', CAST(null AS BIGINT)), " +
          "(acc, x) -> IF(acc.mad IS NOT NULL, acc, named_struct('cum', acc.cum + x.c, " +
          "'mad', IF(acc.cum + x.c >= half, x.dv, CAST(null AS BIGINT)))), acc -> acc.mad)"))
        .select(col("event_type"), col("n"),
          (col("med_vc") / 100.0).as("median_value"),
          (col("mad_vc") / 100.0).as("mad_value"))
        .orderBy(col("event_type"))
    }),

    // Semi/anti joins (EXISTS / NOT EXISTS): customers with vs without
    // orders, tagged and unioned; dims broadcast.
    "q16_semi_anti" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).select(col("o_custkey"))
      val has = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(lit("has_orders").as("segment"), col("c_custkey"))
      val not = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(lit("no_orders").as("segment"), col("c_custkey"))
      has.unionByName(not).orderBy(col("segment"), col("c_custkey"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      ("SELECT l_returnflag, l_linestatus, " +
       "CAST(SUM(CAST(round(l_quantity*10000) AS BIGINT)) AS BIGINT)/10000.0 AS sum_qty, " +
       "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_base_price, " +
       "CAST(SUM(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_disc_price, " +
       "COUNT(*) AS count_order " +
       "FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "q2_join_agg" ->
      ("SELECT r_name, " +
       "CAST(SUM(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT)/100.0 AS revenue, " +
       "COUNT(*) AS n_items " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "JOIN customer ON o_custkey = c_custkey " +
       "JOIN nation ON c_nationkey = n_nationkey " +
       "JOIN region ON n_regionkey = r_regionkey " +
       "GROUP BY r_name ORDER BY r_name"),
    "q3_topk" ->
      ("SELECT o_custkey, CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)/100.0 AS total_spent, " +
       "COUNT(*) AS n_orders FROM orders GROUP BY o_custkey " +
       "ORDER BY total_spent DESC, o_custkey LIMIT 10"),
    "q4_window" ->
      ("SELECT o_custkey, o_orderkey, order_seq, cum_spent/100.0 AS cum_spent FROM (" +
       "SELECT o_custkey, o_orderkey, " +
       "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq, " +
       "SUM(CAST(round(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_spent " +
       "FROM orders) WHERE order_seq <= 3 ORDER BY o_custkey, order_seq"),
    "q5_rollup" ->
      ("SELECT COALESCE(event_type, 'ALL') AS event_type, COALESCE(day, 'ALL') AS day, COUNT(*) AS n " +
       "FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day FROM events) " +
       "GROUP BY ROLLUP (event_type, day) ORDER BY event_type, day"),
    "q6_setops" ->
      ("WITH clicks AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'), " +
       "buys AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') " +
       "SELECT 'click_only' AS segment, user_id FROM (SELECT user_id FROM clicks EXCEPT SELECT user_id FROM buys) " +
       "UNION ALL SELECT 'click_and_buy' AS segment, user_id FROM (SELECT user_id FROM clicks INTERSECT SELECT user_id FROM buys) " +
       "ORDER BY segment, user_id"),
    "q7_json" ->
      ("SELECT event_type, CAST(SUM(k) AS BIGINT) AS sum_k, COUNT(CASE WHEN k > 50 THEN 1 END) AS n_high " +
       "FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) " +
       "GROUP BY event_type ORDER BY event_type"),
    "q8_string_funcs" ->
      ("SELECT p_partkey, upper(p_brand) AS brand_u, substring(p_name, 1, 5) AS name5, " +
       "CAST(length(p_name) AS BIGINT) AS name_len, p_brand || '|' || p_type AS brand_type, " +
       "replace(p_type, ' ', '_') AS type_u, lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_pad " +
       "FROM part ORDER BY p_partkey"),
    "q9_datetime" ->
      ("SELECT o_orderkey, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr, " +
       "CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mo, " +
       "CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS dom, " +
       "strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start, " +
       "strftime(o_orderdate, '%Y-%m-%d') AS d " +
       "FROM orders ORDER BY o_orderkey"),
    "q10_math" ->
      ("SELECT l_orderkey, l_linenumber, abs(l_quantity - 25.0) AS dev, " +
       "CAST(ceil(l_quantity) AS BIGINT) AS qceil, CAST(floor(l_quantity/10.0) AS BIGINT) AS qdecile, " +
       "sqrt(l_quantity) AS qsqrt, CAST(l_orderkey % 7 AS BIGINT) AS key_mod " +
       "FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    "q11_array_funcs" ->
      ("SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim, " +
       "CAST(embedding[1] AS DOUBLE) AS first, " +
       "CAST(list_max(embedding) AS DOUBLE) AS vmax, CAST(list_min(embedding) AS DOUBLE) AS vmin " +
       "FROM embeddings ORDER BY vec_id"),
    // q12_approx_distinct: the HLL estimate itself is engine-local;
    // the oracle gates the exact columns + the est_ok contract bits.
    "q12_approx_distinct" ->
      ("SELECT event_type, COUNT(*) AS n, " +
       "COUNT(DISTINCT user_id) AS exact_users, " +
       "CAST(1 AS BIGINT) AS est_ok " +
       "FROM events GROUP BY event_type ORDER BY event_type"),
    "q21_range_join" ->
      ("SELECT band, COUNT(*) AS n, " +
       "CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_value " +
       "FROM events e JOIN (VALUES ('low', 0.0, 100.0), ('mid', 100.0, 200.0), " +
       "('high', 200.0, 400.0)) AS b(band, lo, hi) " +
       "ON e.value >= b.lo AND e.value < b.hi " +
       "GROUP BY band ORDER BY band"),
    "q22_unpivot" ->
      ("SELECT l_orderkey, l_linenumber, measure, val FROM (" +
       "SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val FROM lineitem " +
       "UNION ALL SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem " +
       "UNION ALL SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem) " +
       "ORDER BY l_orderkey, l_linenumber, measure"),
    "q20_correlated_subquery" ->
      ("SELECT c_custkey, " +
       "CAST((SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders, " +
       "(SELECT CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) FROM orders o " +
       "WHERE o.o_custkey = c.c_custkey) / 100.0 AS total " +
       "FROM customer c ORDER BY c_custkey"),
    "q19_pivot" ->
      ("SELECT user_id, " +
       "COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click, " +
       "COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view, " +
       "COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase, " +
       "COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup, " +
       "COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error " +
       "FROM events GROUP BY user_id ORDER BY user_id"),
    "q18_cube" ->
      ("SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus, " +
       "COALESCE(o_orderpriority, 'ALL') AS o_orderpriority, COUNT(*) AS n, " +
       "CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)/100.0 AS total " +
       "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority) " +
       "ORDER BY o_orderstatus, o_orderpriority"),
    "q12b_kmv_distinct" ->
      ("WITH h AS (SELECT DISTINCT event_type, " +
       "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) hv FROM events), " +
       "r AS (SELECT event_type, hv, " +
       "row_number() OVER (PARTITION BY event_type ORDER BY hv) rn, " +
       "COUNT(*) OVER (PARTITION BY event_type) n FROM h) " +
       "SELECT event_type, round(CASE WHEN n < 64 THEN CAST(n AS DOUBLE) " +
       "ELSE 63 * 4294967296.0 / greatest(hv, 1) END, 6) AS kmv_users " +
       "FROM r WHERE rn = least(n, 64) ORDER BY event_type"),
    "q13_asof_join" ->
      ("SELECT p.event_id, p.user_id, p.ts, s.ts AS signup_ts " +
       "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
       "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s " +
       "ON p.user_id = s.user_id AND s.ts <= p.ts " +
       "ORDER BY p.event_id"),
    "q14_sessionize" ->
      ("WITH g AS (SELECT user_id, ts, event_id, " +
       "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL " +
       "OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END AS is_new " +
       "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
       "s AS (SELECT user_id, ts, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM g) " +
       "SELECT user_id, session_seq, COUNT(*) AS n_events, MIN(ts) AS sess_start, MAX(ts) AS sess_end " +
       "FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq"),
    "q30_session_window" ->
      // gaps-and-islands from first principles. Boundary semantics
      // (pinned by StreamingWindowSpec's exact-gap probe): Spark's
      // session_window merges an event landing ON the previous
      // session's end (ts <= last + gap), so the break condition is
      // strictly >, the same convention as q14's hand-rolled contract
      ("WITH g AS (SELECT user_id, ts, " +
       "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL " +
       "OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END is_new " +
       "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
       "s AS (SELECT user_id, ts, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) seq FROM g) " +
       "SELECT user_id, MIN(ts) AS sess_start, " +
       "MAX(ts) + INTERVAL 30 MINUTE AS sess_end, COUNT(*) AS n_events " +
       "FROM s GROUP BY user_id, seq ORDER BY user_id, sess_start"),
    "q15_percentiles" ->
      ("SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50, " +
       "round(quantile_cont(value, 0.9), 4) AS p90, COUNT(*) AS n " +
       "FROM events GROUP BY event_type ORDER BY event_type"),
    "q17_tumbling_window" ->
      ("SELECT date_trunc('hour', ts) AS hour_start, COUNT(*) AS n, " +
       "CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_value " +
       "FROM events GROUP BY date_trunc('hour', ts) ORDER BY hour_start"),
    "q16_semi_anti" ->
      ("SELECT 'has_orders' AS segment, c_custkey FROM customer " +
       "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
       "UNION ALL SELECT 'no_orders' AS segment, c_custkey FROM customer " +
       "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
       "ORDER BY segment, c_custkey"),
    "q23_funnel" ->
      // the same three chained conditional-min windows; each CTE layer
      // makes the previous step's anchor visible to the next condition
      ("WITH s1 AS (SELECT user_id, ts, event_type, " +
       "min(CASE WHEN event_type = 'signup' THEN ts END) OVER (PARTITION BY user_id) s_ts " +
       "FROM events), " +
       "s2 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > s_ts THEN ts END) " +
       "OVER (PARTITION BY user_id) p_ts FROM s1), " +
       "s3 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > p_ts THEN ts END) " +
       "OVER (PARTITION BY user_id) c_ts FROM s2) " +
       "SELECT CAST(COUNT(DISTINCT CASE WHEN s_ts IS NOT NULL THEN user_id END) AS BIGINT) AS u_signup, " +
       "CAST(COUNT(DISTINCT CASE WHEN p_ts IS NOT NULL THEN user_id END) AS BIGINT) AS u_purchase, " +
       "CAST(COUNT(DISTINCT CASE WHEN c_ts IS NOT NULL THEN user_id END) AS BIGINT) AS u_click " +
       "FROM s3"),
    "q24_retention" ->
      ("WITH t AS (SELECT user_id, CAST(ts AS DATE) d FROM events), " +
       "c AS (SELECT user_id, d, min(d) OVER (PARTITION BY user_id) cohort FROM t) " +
       "SELECT cohort, CAST(datediff('day', cohort, d) // 7 AS BIGINT) AS wk, " +
       "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users " +
       "FROM c GROUP BY cohort, wk ORDER BY cohort, wk"),
    "q25_zscore_outliers" ->
      ("WITH s AS (SELECT event_id, event_type, value, " +
       "avg(value) OVER (PARTITION BY event_type) mu, " +
       "stddev_pop(value) OVER (PARTITION BY event_type) sigma FROM events) " +
       "SELECT event_id, event_type, round(value, 4) AS value, " +
       "round((value - mu) / sigma, 4) AS z FROM s " +
       "WHERE sigma > 0 AND abs(round((value - mu) / sigma, 4)) >= 1.5 " +
       "ORDER BY event_id"),
    "q26_salted_agg" ->
      // deliberately the DIRECT single-phase aggregate: salting is a
      // physical-plan technique and must not change the result
      ("SELECT event_type, COUNT(*) AS n, " +
       "CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_value " +
       "FROM events GROUP BY event_type ORDER BY event_type"),
    "q29_equidepth_hist" ->
      ("WITH b AS (SELECT event_type, value, " +
       "CAST(ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) bucket " +
       "FROM events) " +
       "SELECT event_type, bucket, COUNT(*) AS n, " +
       "round(MIN(value), 4) AS lo, round(MAX(value), 4) AS hi, " +
       "CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0 AS bucket_sum " +
       "FROM b GROUP BY event_type, bucket ORDER BY event_type, bucket"),
    "q40_grouping_sets" ->
      ("SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow, " +
       "CAST(GROUPING(event_type, CAST(dayofweek(ts) + 1 AS BIGINT)) AS BIGINT) AS gid, " +
       "COUNT(*) AS n, " +
       "CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_value " +
       "FROM events GROUP BY GROUPING SETS " +
       "((event_type, CAST(dayofweek(ts) + 1 AS BIGINT)), (event_type), ()) " +
       "ORDER BY gid, event_type NULLS FIRST, dow NULLS FIRST"),
    "q41_mode_per_group" ->
      ("WITH c AS (SELECT event_type, CAST(round(value*100) AS BIGINT) vc, " +
       "COUNT(*) cnt FROM events GROUP BY event_type, vc), " +
       "r AS (SELECT *, row_number() OVER (PARTITION BY event_type " +
       "ORDER BY cnt DESC, vc) rk FROM c) " +
       "SELECT event_type, vc/100.0 AS mode_value, CAST(cnt AS BIGINT) AS mode_n " +
       "FROM r WHERE rk = 1 ORDER BY event_type"),
    "ivm_delete_retract" ->
      // the DIRECT aggregate over the surviving rows
      ("SELECT o_custkey % 100 AS bucket, COUNT(*) AS n, " +
       "CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_value " +
       "FROM orders WHERE o_orderkey % 7 <> 0 " +
       "GROUP BY o_custkey % 100 ORDER BY bucket"),
    "q43_rank_functions" ->
      ("SELECT source, doc_id, n_chars, " +
       "CAST(rank() OVER w AS BIGINT) AS rk, " +
       "CAST(dense_rank() OVER w AS BIGINT) AS drk, " +
       "round(percent_rank() OVER w, 6) AS prk, " +
       "round(cume_dist() OVER w, 6) AS cd " +
       "FROM documents WINDOW w AS (PARTITION BY source ORDER BY n_chars) " +
       "ORDER BY source, n_chars, doc_id"),
    "dq_uniqueness" ->
      // same planted UNION ALLs as dq_referential; per-key counts
      // rolled to table-level uniqueness stats
      ("WITH ords AS (SELECT o_orderkey, o_custkey FROM orders " +
       "UNION ALL SELECT o_orderkey, o_custkey + 10000000 FROM orders WHERE o_orderkey % 97 = 0), " +
       "lis AS (SELECT l_orderkey, l_suppkey, l_linenumber FROM lineitem " +
       "UNION ALL SELECT l_orderkey, l_suppkey + 10000000, l_linenumber FROM lineitem WHERE l_orderkey % 101 = 0 AND l_linenumber = 1 " +
       "UNION ALL SELECT l_orderkey + 10000000, l_suppkey, l_linenumber FROM lineitem WHERE l_orderkey % 103 = 0 AND l_linenumber = 1), " +
       "lk AS (SELECT CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) k, COUNT(*) m FROM lis GROUP BY 1), " +
       "ok AS (SELECT CAST(o_orderkey AS VARCHAR) k, COUNT(*) m FROM ords GROUP BY 1), " +
       "la AS (SELECT 'lineitem' tbl, CAST(SUM(m) AS BIGINT) n_rows, CAST(COUNT(*) AS BIGINT) n_keys, " +
       "CAST(SUM(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT) n_dup_keys, CAST(MAX(m) AS BIGINT) max_multiplicity FROM lk), " +
       "oa AS (SELECT 'orders' tbl, CAST(SUM(m) AS BIGINT) n_rows, CAST(COUNT(*) AS BIGINT) n_keys, " +
       "CAST(SUM(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT) n_dup_keys, CAST(MAX(m) AS BIGINT) max_multiplicity FROM ok) " +
       "SELECT tbl, n_rows, n_keys, n_dup_keys, max_multiplicity, " +
       "round(n_dup_keys / CAST(n_keys AS DOUBLE), 6) AS dup_key_frac " +
       "FROM (SELECT * FROM la UNION ALL SELECT * FROM oa) ORDER BY tbl"),
    "q45_region_revenue" ->
      // exact integer micro-cents revenue; same date/region literals
      ("SELECT n_name, " +
       "CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * " +
       "(100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_microcents, " +
       "COUNT(*) AS n_lineitems " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "JOIN customer ON o_custkey = c_custkey " +
       "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
       "JOIN nation ON s_nationkey = n_nationkey " +
       "JOIN region ON n_regionkey = r_regionkey " +
       "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' " +
       "AND o_orderdate < TIMESTAMP '1998-01-01' " +
       "GROUP BY n_name ORDER BY revenue_microcents DESC, n_name"),
    "dq_referential" ->
      // planted orphans replayed in the UNION ALLs; orphan count via
      // NOT EXISTS per relationship
      ("WITH ords AS (SELECT o_orderkey, o_custkey FROM orders " +
       "UNION ALL SELECT o_orderkey, o_custkey + 10000000 FROM orders WHERE o_orderkey % 97 = 0), " +
       "lis AS (SELECT l_orderkey, l_suppkey FROM lineitem " +
       "UNION ALL SELECT l_orderkey, l_suppkey + 10000000 FROM lineitem WHERE l_orderkey % 101 = 0 AND l_linenumber = 1 " +
       "UNION ALL SELECT l_orderkey + 10000000, l_suppkey FROM lineitem WHERE l_orderkey % 103 = 0 AND l_linenumber = 1), " +
       "r1 AS (SELECT 'lineitem_orders' fk, CAST(COUNT(*) AS BIGINT) n_rows, " +
       "CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM ords o WHERE o.o_orderkey = l.l_orderkey) THEN 1 ELSE 0 END) AS BIGINT) n_orphans FROM lis l), " +
       "r2 AS (SELECT 'lineitem_supplier' fk, CAST(COUNT(*) AS BIGINT) n_rows, " +
       "CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey) THEN 1 ELSE 0 END) AS BIGINT) n_orphans FROM lis l), " +
       "r3 AS (SELECT 'orders_customer' fk, CAST(COUNT(*) AS BIGINT) n_rows, " +
       "CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey) THEN 1 ELSE 0 END) AS BIGINT) n_orphans FROM ords o) " +
       "SELECT fk, n_rows, n_orphans, " +
       "round(n_orphans / CAST(n_rows AS DOUBLE), 6) AS orphan_frac " +
       "FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3) " +
       "ORDER BY fk"),
    "q46_equiwidth_hist" ->
      ("WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) cents FROM orders), " +
       "mm AS (SELECT MIN(cents) lo, MAX(cents) hi FROM o) " +
       "SELECT least(9, ((cents - lo) * 10) // (hi - lo + 1)) AS bucket, " +
       "COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS sum_cents " +
       "FROM o, mm GROUP BY 1 ORDER BY bucket"),
    "q48_sketch_quantiles" ->
      // coin/cut/rank replay: the md5 coin (portableHash32
      // convention), the 64-smallest cut, sample ranks by (vc, h),
      // p50/p90 at ceil(q * n) via integer (q*n + q') // d arithmetic
      ("WITH e AS (SELECT event_type, CAST(round(value*100) AS BIGINT) vc, " +
       "CAST('0x' || substr(md5('qs|' || CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) h " +
       "FROM events), " +
       "s AS (SELECT * FROM (SELECT event_type, vc, h, " +
       "row_number() OVER (PARTITION BY event_type ORDER BY h, vc) rk FROM e) " +
       "WHERE rk <= 64), " +
       "r AS (SELECT event_type, vc, " +
       "row_number() OVER (PARTITION BY event_type ORDER BY vc, h) vr, " +
       "COUNT(*) OVER (PARTITION BY event_type) ns FROM s) " +
       "SELECT event_type, CAST(MAX(ns) AS BIGINT) AS n_sample, " +
       "MAX(CASE WHEN vr = (ns + 1) // 2 THEN vc END) / 100.0 AS p50_est, " +
       "MAX(CASE WHEN vr = (9 * ns + 9) // 10 THEN vc END) / 100.0 AS p90_est " +
       "FROM r GROUP BY event_type ORDER BY event_type"),
    "dq_k_anonymity" ->
      ("WITH d AS (SELECT source, lang, " +
       "len(string_split(text, ' ')) // 50 len_b FROM documents), " +
       "g1 AS (SELECT COUNT(*) n FROM d GROUP BY source, lang, len_b), " +
       "g2 AS (SELECT COUNT(*) n FROM d GROUP BY source, lang), " +
       "g3 AS (SELECT COUNT(*) n FROM d GROUP BY source), " +
       "lv AS (" +
       "SELECT '1_source_lang_len' qi_level, COUNT(*) n_groups, MIN(n) min_group, " +
       "SUM(CASE WHEN n < 10 THEN 1 ELSE 0 END) n_at_risk_groups, " +
       "SUM(CASE WHEN n < 10 THEN n ELSE 0 END) n_at_risk_docs FROM g1 " +
       "UNION ALL SELECT '2_source_lang', COUNT(*), MIN(n), " +
       "SUM(CASE WHEN n < 10 THEN 1 ELSE 0 END), " +
       "SUM(CASE WHEN n < 10 THEN n ELSE 0 END) FROM g2 " +
       "UNION ALL SELECT '3_source', COUNT(*), MIN(n), " +
       "SUM(CASE WHEN n < 10 THEN 1 ELSE 0 END), " +
       "SUM(CASE WHEN n < 10 THEN n ELSE 0 END) FROM g3) " +
       "SELECT qi_level, CAST(n_groups AS BIGINT) AS n_groups, " +
       "CAST(min_group AS BIGINT) AS min_group, " +
       "CAST(n_at_risk_groups AS BIGINT) AS n_at_risk_groups, " +
       "CAST(n_at_risk_docs AS BIGINT) AS n_at_risk_docs " +
       "FROM lv ORDER BY qi_level"),
    "q47_hopping_window" ->
      // Spark's epoch-aligned hopping windows as integer arithmetic:
      // each event lands in the window starting at t div slide * slide
      // and the one slide earlier (size = 2 slides)
      ("WITH e AS (SELECT user_id, epoch_us(ts) t FROM events), " +
       "h AS (SELECT user_id, (t // 300000000) * 300000000 - k * 300000000 ws " +
       "FROM e, (SELECT unnest([0, 1]) k)) " +
       "SELECT ws AS w_start_us, ws + 600000000 AS w_end_us, " +
       "COUNT(*) AS n_events, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users " +
       "FROM h GROUP BY ws ORDER BY w_start_us"),
    "q44_value_window" ->
      ("WITH w AS (SELECT user_id, " +
       "first_value(event_type) OVER fw first_type, " +
       "last_value(event_type) OVER fw last_type, " +
       "round(nth_value(value, 2) OVER fw, 4) second_value, " +
       "COUNT(*) OVER (PARTITION BY user_id) n_events, " +
       "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn " +
       "FROM events WINDOW fw AS (PARTITION BY user_id ORDER BY ts, event_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) " +
       "SELECT user_id, first_type, last_type, second_value, " +
       "CAST(n_events AS BIGINT) AS n_events FROM w WHERE rn = 1 ORDER BY user_id"),
    "q42_trailing_range_window" ->
      // same integer microsecond domain, numeric RANGE frame
      ("WITH e AS (SELECT event_id, user_id, epoch_us(ts) tm, " +
       "CAST(round(value*100) AS BIGINT) cents FROM events) " +
       "SELECT event_id, user_id, " +
       "CAST(COUNT(*) OVER w AS BIGINT) AS n_1h, " +
       "CAST(SUM(cents) OVER w AS BIGINT) AS v_cents_1h " +
       "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tm " +
       "RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW) " +
       "ORDER BY event_id"),
    "q39_time_weighted_avg" ->
      ("WITH e AS (SELECT user_id, event_id, ts, " +
       "CAST(floor(epoch(ts)) AS BIGINT) t_s, " +
       "CAST(round(value*100) AS BIGINT) vc FROM events), " +
       "l AS (SELECT *, lead(t_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) next_s FROM e), " +
       "g AS (SELECT user_id, COUNT(*) n_events, MAX(t_s) - MIN(t_s) AS dur_s, " +
       "CAST(SUM(vc * (next_s - t_s)) AS BIGINT) wsum FROM l GROUP BY user_id) " +
       "SELECT user_id, n_events, dur_s, " +
       "round(wsum / (dur_s * 100.0), 4) AS twa_value " +
       "FROM g WHERE dur_s > 0 ORDER BY user_id"),
    "q37_asof_tolerance" ->
      // native ASOF LEFT JOIN + the 7-day staleness null-out
      ("WITH a AS (SELECT p.event_id, p.user_id, p.ts, s.ts AS raw_signup, " +
       "CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(s.ts)) AS BIGINT) AS raw_age " +
       "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
       "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s " +
       "ON p.user_id = s.user_id AND s.ts <= p.ts) " +
       "SELECT event_id, user_id, ts, " +
       "CASE WHEN raw_age <= 604800 THEN raw_signup END AS signup_ts, " +
       "CASE WHEN raw_age <= 604800 THEN raw_age END AS age_s " +
       "FROM a ORDER BY event_id"),
    "q38_concurrency_sweep" ->
      // the sweep replayed: same session derivation as q14, boundaries
      // at (s_us, +1) and (e_us + 1, -1), ties -1 first
      ("WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) us FROM events), " +
       "l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev_us FROM e), " +
       "m AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END is_new FROM l), " +
       "sq AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) session_seq FROM m), " +
       "sess AS (SELECT user_id, session_seq, MIN(us) s_us, MAX(us) e_us FROM sq GROUP BY user_id, session_seq), " +
       "b AS (SELECT CAST(make_timestamp(s_us) AS DATE) d, s_us t_us, 1 AS delta, user_id FROM sess " +
       "UNION ALL SELECT CAST(make_timestamp(s_us) AS DATE), e_us + 1, -1, user_id FROM sess), " +
       "sw AS (SELECT d, delta, SUM(delta) OVER (PARTITION BY d ORDER BY t_us, delta, user_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) active FROM b) " +
       "SELECT d, CAST(MAX(active) AS BIGINT) AS peak_concurrency, " +
       "CAST(SUM(CASE WHEN delta = 1 THEN active - 1 ELSE 0 END) AS BIGINT) AS overlap_pairs, " +
       "CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions " +
       "FROM sw GROUP BY d ORDER BY d"),
    "q38b_concurrency_sweep_midnight" ->
      // q38's derivation with sessions split at UTC day boundaries:
      // one segment per day touched (scalar-list generate_series over
      // the date range — this build rejects LATERAL args), then the
      // identical per-day sweep over segment bounds
      ("WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) us FROM events), " +
       "l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev_us FROM e), " +
       "m AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END is_new FROM l), " +
       "sq AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) session_seq FROM m), " +
       "sess AS (SELECT user_id, session_seq, MIN(us) s_us, MAX(us) e_us FROM sq GROUP BY user_id, session_seq), " +
       "seg0 AS (SELECT user_id, s_us, e_us, " +
       "unnest(generate_series(CAST(make_timestamp(s_us) AS DATE), CAST(make_timestamp(e_us) AS DATE), INTERVAL 1 DAY)) dts FROM sess), " +
       "seg AS (SELECT user_id, CAST(dts AS DATE) d, " +
       "GREATEST(s_us, epoch_us(CAST(dts AS TIMESTAMP))) seg_s, " +
       "LEAST(e_us, epoch_us(CAST(dts AS TIMESTAMP)) + 86399999999) seg_e FROM seg0), " +
       "b AS (SELECT d, seg_s t_us, 1 AS delta, user_id FROM seg " +
       "UNION ALL SELECT d, seg_e + 1, -1, user_id FROM seg), " +
       "sw AS (SELECT d, delta, SUM(delta) OVER (PARTITION BY d ORDER BY t_us, delta, user_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) active FROM b) " +
       "SELECT d, CAST(MAX(active) AS BIGINT) AS peak_concurrency, " +
       "CAST(SUM(CASE WHEN delta = 1 THEN active - 1 ELSE 0 END) AS BIGINT) AS overlap_pairs, " +
       "CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions " +
       "FROM sw GROUP BY d ORDER BY d"),
    "q35_scd2_intervals" ->
      ("WITH s AS (SELECT event_type, " +
       "CAST(floor(epoch(ts)) AS BIGINT) ts_s, " +
       "lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER " +
       "(PARTITION BY user_id ORDER BY ts, event_id) next_s " +
       "FROM events) " +
       "SELECT event_type, COUNT(*) AS n_versions, " +
       "CAST(SUM(CASE WHEN next_s IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_current, " +
       "CAST(SUM(COALESCE(next_s - ts_s, 0)) AS BIGINT) AS total_dur_s " +
       "FROM s GROUP BY event_type ORDER BY event_type"),
    "q36_mad_robust" ->
      // the same integer CDF derivation, twice: median = least vc with
      // cum >= ceil(n/2); MAD = the same over |vc - median|
      ("WITH e AS (SELECT event_type, CAST(round(value*100) AS BIGINT) vc FROM events), " +
       "tot AS (SELECT event_type, COUNT(*) n FROM e GROUP BY event_type), " +
       "cdf AS (SELECT event_type, vc, COUNT(*) c FROM e GROUP BY event_type, vc), " +
       "cum AS (SELECT event_type, vc, SUM(c) OVER (PARTITION BY event_type ORDER BY vc) cum FROM cdf), " +
       "med AS (SELECT t.event_type, MIN(vc) med_vc FROM tot t JOIN cum " +
       "ON cum.event_type = t.event_type AND cum.cum >= (t.n + 1) // 2 GROUP BY t.event_type), " +
       "d AS (SELECT e.event_type, abs(e.vc - m.med_vc) dv FROM e JOIN med m ON e.event_type = m.event_type), " +
       "dcdf AS (SELECT event_type, dv, COUNT(*) c FROM d GROUP BY event_type, dv), " +
       "dcum AS (SELECT event_type, dv, SUM(c) OVER (PARTITION BY event_type ORDER BY dv) cum FROM dcdf), " +
       "mad AS (SELECT t.event_type, MIN(dv) mad_vc FROM tot t JOIN dcum " +
       "ON dcum.event_type = t.event_type AND dcum.cum >= (t.n + 1) // 2 GROUP BY t.event_type) " +
       "SELECT t.event_type, t.n, m.med_vc/100.0 AS median_value, x.mad_vc/100.0 AS mad_value " +
       "FROM tot t JOIN med m ON t.event_type = m.event_type " +
       "JOIN mad x ON t.event_type = x.event_type ORDER BY t.event_type"),
    "q33_seasonal_anomaly" ->
      ("WITH ev AS (SELECT event_id, event_type, " +
       "CAST(EXTRACT(hour FROM ts) AS BIGINT) hh, value FROM events), " +
       "s AS (SELECT event_id, event_type, hh, value, " +
       "avg(value) OVER (PARTITION BY event_type, hh) mu, " +
       "stddev_pop(value) OVER (PARTITION BY event_type, hh) sigma FROM ev) " +
       "SELECT event_id, event_type, hh, round(value, 4) AS value, " +
       "round((value - mu) / sigma, 4) AS z FROM s " +
       "WHERE sigma > 0 AND abs(round((value - mu) / sigma, 4)) >= 2.0 " +
       "ORDER BY event_id"),
    "q34_kmv_intersect" ->
      // union estimates compute DIRECTLY from raw rows; equality with
      // Spark's array-merge derivation proves KMV set-algebra
      // merge-exactness pair by pair. Ests stay UNROUNDED until the
      // output edge (both engines), so inclusion-exclusion subtracts
      // identical doubles.
      ("WITH h AS (SELECT DISTINCT event_type, " +
       "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) hv FROM events), " +
       "r AS (SELECT event_type, hv, " +
       "row_number() OVER (PARTITION BY event_type ORDER BY hv) rn, " +
       "COUNT(*) OVER (PARTITION BY event_type) n FROM h), " +
       "t AS (SELECT event_type, CASE WHEN n < 64 THEN CAST(n AS DOUBLE) " +
       "ELSE 63 * 4294967296.0 / greatest(hv, 1) END AS est " +
       "FROM r WHERE rn = least(n, 64)), " +
       "p AS (SELECT a.event_type type_a, a.est est_a, b.event_type type_b, b.est est_b " +
       "FROM t a JOIN t b ON a.event_type < b.event_type), " +
       "hu AS (SELECT p.type_a, p.type_b, h.hv FROM p JOIN h " +
       "ON h.event_type = p.type_a OR h.event_type = p.type_b " +
       "GROUP BY p.type_a, p.type_b, h.hv), " +
       "ru AS (SELECT type_a, type_b, hv, " +
       "row_number() OVER (PARTITION BY type_a, type_b ORDER BY hv) rn, " +
       "COUNT(*) OVER (PARTITION BY type_a, type_b) n FROM hu), " +
       "u AS (SELECT type_a, type_b, CASE WHEN n < 64 THEN CAST(n AS DOUBLE) " +
       "ELSE 63 * 4294967296.0 / greatest(hv, 1) END AS est_union " +
       "FROM ru WHERE rn = least(n, 64)) " +
       "SELECT p.type_a, p.type_b, round(p.est_a, 6) AS est_a, " +
       "round(p.est_b, 6) AS est_b, round(u.est_union, 6) AS est_union, " +
       "round(p.est_a + p.est_b - u.est_union, 6) AS est_intersect " +
       "FROM p JOIN u ON p.type_a = u.type_a AND p.type_b = u.type_b " +
       "ORDER BY p.type_a, p.type_b"),
    "q31_topk_per_group" ->
      // the direct window formulation: equality proves the bounded
      // TopK aggregate selects exactly the window's ranked head
      ("WITH t AS (SELECT event_type, user_id, " +
       "CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) cents, " +
       "COUNT(*) n_events FROM events GROUP BY event_type, user_id), " +
       "r AS (SELECT *, row_number() OVER (PARTITION BY event_type " +
       "ORDER BY cents DESC, user_id) rk FROM t) " +
       "SELECT event_type, CAST(rk AS BIGINT) AS rk, user_id, " +
       "cents/100.0 AS total_value, n_events FROM r WHERE rk <= 3 " +
       "ORDER BY event_type, rk"),
    "q32_ewma_daily" ->
      // the recurrence replayed exactly: integer e_t = (c_t + 3e_{t-1}) // 4
      ("WITH RECURSIVE d AS (SELECT event_type, CAST(ts AS DATE) d, " +
       "CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) c " +
       "FROM events GROUP BY event_type, CAST(ts AS DATE)), " +
       "s AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY d) rn FROM d), " +
       "e AS (SELECT event_type, d, rn, c, c AS e FROM s WHERE rn = 1 " +
       "UNION ALL SELECT s.event_type, s.d, s.rn, s.c, (s.c + 3 * e.e) // 4 " +
       "FROM s JOIN e ON s.event_type = e.event_type AND s.rn = e.rn + 1) " +
       "SELECT event_type, d, c/100.0 AS daily_value, e/100.0 AS ewma_value " +
       "FROM e ORDER BY event_type, d"),
    "profile_columns" ->
      ("WITH o AS (SELECT o_orderkey, o_custkey, " +
       "CAST(round(o_totalprice*100) AS BIGINT) price_cents, " +
       "CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) date_days " +
       "FROM orders), " +
       "p AS (SELECT 'o_orderkey' column_name, COUNT(*) n_rows, " +
       "COUNT(*) - COUNT(o_orderkey) n_null, COUNT(DISTINCT o_orderkey) n_distinct, " +
       "MIN(o_orderkey) min_v, MAX(o_orderkey) max_v FROM o " +
       "UNION ALL SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey), " +
       "COUNT(DISTINCT o_custkey), MIN(o_custkey), MAX(o_custkey) FROM o " +
       "UNION ALL SELECT 'o_totalprice_cents', COUNT(*), COUNT(*) - COUNT(price_cents), " +
       "COUNT(DISTINCT price_cents), MIN(price_cents), MAX(price_cents) FROM o " +
       "UNION ALL SELECT 'o_orderdate_days', COUNT(*), COUNT(*) - COUNT(date_days), " +
       "COUNT(DISTINCT date_days), MIN(date_days), MAX(date_days) FROM o) " +
       "SELECT * FROM p ORDER BY column_name"),
    "ivm_merge_agg" ->
      // the DIRECT one-shot aggregate: merge-of-partials must equal it
      ("SELECT o_custkey % 100 AS bucket, COUNT(*) AS n, " +
       "CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_value " +
       "FROM orders GROUP BY o_custkey % 100 ORDER BY bucket"),
    "q29b_equidepth_global" ->
      // replays the Spark derivation with the SAME integer arithmetic:
      // CDF over distinct cents, boundary_i = min vc with cum >=
      // ceil(i*n/10), bucket = 1 + #boundaries strictly below vc
      ("WITH e AS (SELECT event_id, value, CAST(round(value*100) AS BIGINT) vc FROM events), " +
       "cdf AS (SELECT vc, COUNT(*) c FROM e GROUP BY vc), " +
       "cum AS (SELECT vc, SUM(c) OVER (ORDER BY vc) cum FROM cdf), " +
       "tot AS (SELECT COUNT(*) n FROM e), " +
       "tg AS (SELECT i, (i * n + 9) // 10 AS t FROM generate_series(1, 9) g(i), tot), " +
       "bnd AS (SELECT i, MIN(vc) b FROM tg JOIN cum ON cum.cum >= tg.t GROUP BY i), " +
       "asg AS (SELECT e.event_id, e.value, e.vc, " +
       "1 + (SELECT COUNT(*) FROM bnd WHERE bnd.b < e.vc) AS bucket FROM e) " +
       "SELECT bucket, COUNT(*) AS n_rows, round(MIN(value), 4) AS lo, " +
       "round(MAX(value), 4) AS hi, CAST(SUM(vc) AS BIGINT)/100.0 AS bucket_sum " +
       "FROM asg GROUP BY bucket ORDER BY bucket"),
    "q28_snapshot_diff" ->
      ("WITH now_s AS (SELECT o_orderkey k, CAST(round(o_totalprice*100) AS BIGINT) v_new FROM orders), " +
       "old_s AS (SELECT o_orderkey k, CAST(round(o_totalprice*100) AS BIGINT) + " +
       "(CASE WHEN o_orderkey % 5 = 0 THEN 1000 ELSE 0 END) v_old " +
       "FROM orders WHERE o_orderkey % 7 <> 0 " +
       "UNION ALL SELECT o_orderkey + 10000000, CAST(round(o_totalprice*100) AS BIGINT) " +
       "FROM orders WHERE o_orderkey % 11 = 0), " +
       "d AS (SELECT COALESCE(now_s.k, old_s.k) k, v_new, v_old, " +
       "CASE WHEN v_old IS NULL THEN 'added' WHEN v_new IS NULL THEN 'removed' " +
       "WHEN v_new <> v_old THEN 'changed' ELSE 'unchanged' END status " +
       "FROM now_s FULL OUTER JOIN old_s ON now_s.k = old_s.k) " +
       "SELECT status, COUNT(*) AS n, " +
       "CAST(SUM(COALESCE(v_new, 0) - COALESCE(v_old, 0)) AS BIGINT) AS delta_cents " +
       "FROM d GROUP BY status ORDER BY status"),
    "q27_sketch_rollup" ->
      // the 'all' row computes DIRECTLY over the raw rows — equality
      // with Spark's sketch-merge derivation proves KMV merge-exactness
      ("WITH h AS (SELECT DISTINCT event_type, " +
       "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) hv FROM events), " +
       "r AS (SELECT event_type, hv, " +
       "row_number() OVER (PARTITION BY event_type ORDER BY hv) rn, " +
       "COUNT(*) OVER (PARTITION BY event_type) n FROM h), " +
       "t AS (SELECT 'type:' || event_type AS scope, " +
       "round(CASE WHEN n < 64 THEN CAST(n AS DOUBLE) " +
       "ELSE 63 * 4294967296.0 / greatest(hv, 1) END, 6) AS kmv_users " +
       "FROM r WHERE rn = least(n, 64)), " +
       "g AS (SELECT DISTINCT hv FROM h), " +
       "gr AS (SELECT hv, row_number() OVER (ORDER BY hv) rn, COUNT(*) OVER () n FROM g), " +
       "a AS (SELECT 'all' AS scope, " +
       "round(CASE WHEN n < 64 THEN CAST(n AS DOUBLE) " +
       "ELSE 63 * 4294967296.0 / greatest(hv, 1) END, 6) AS kmv_users " +
       "FROM gr WHERE rn = least(n, 64)) " +
       "SELECT scope, kmv_users FROM t UNION ALL SELECT scope, kmv_users FROM a " +
       "ORDER BY scope")
  )
}
