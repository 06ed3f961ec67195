package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.RcOps
import graft.queries.{AnalyticsQueries, ExtensionQueries, ParityQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query: the reference's full per-event pipeline
    * (`scanner.py:120-175`) as ONE declarative DataFrame chain on
    * sf0.001 — streamfilter → edit-count broadcast join → threshold →
    * first-per-key dedup → text join → multi-regex matched-set →
    * message/partition-key projections. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
    val filtered = RcOps.streamFilter(ev, Map("event_type" -> Seq("click", "purchase", "view")))
    val enriched = RcOps.withEditCount(filtered)
      .filter(RcOps.countUnderMax(Some(1000L)))
    val deduped = RcOps.firstPerKey(enriched, Seq("user_id", "event_type"), "ts", "event_id")
    val withText = RcOps.withDocText(deduped, Tables.documents(spark, dir))
    val matched = withText
      .withColumn("matched", RcOps.matchedPatterns(col("text"), ParityQueries.watchPatterns))
      .filter(size(col("matched")) > 0)
    matched.select(
      col("event_id"), col("user_id"), col("event_type"), col("doc_id"),
      concat_ws(",", col("matched")).as("matched"),
      RcOps.matchMessage(col("matched"),
        concat(lit("doc://"), col("doc_id").cast("string"))).as("message"),
      RcOps.eventDateFolder(col("ts")).as("folder"),
      RcOps.sanitizedFilename(col("user_id"), col("event_id")).as("filename"))
  }

  /** The session of the dev and demo mains: `local[n]`, `n` shuffle
    * partitions, UTC, UI off, log level ERROR.
    */
  def localSession(n: Int): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ParityQueries.queries ++ AnalyticsQueries.queries ++ ExtensionQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * One deliberate exception to "equivalent SQL": the CONTRACT
    * oracles — constant expected-health tables, not computation
    * replays — covering the operators whose learned state is not
    * SQL-expressible: `sim_recall_report_trained` (the six-rung recall
    * rollup) and, since r16, the six trained/indexed ANN rungs
    * themselves (`sim_{ivf,pq}_topk_{trained,indexed}`,
    * `sim_pq_trained_rerank_topk`, `dedup_embedding_trained` — each
    * runs its REAL rung inline and emits one row of structural +
    * recall health bits, see ExtensionQueries.annRungContract) plus
    * `bpe_token_counts` (train + distributed apply, gated on merge
    * completion, losslessness, and apply/re-encode total agreement).
    * A trained-path regression flips the specific rung's driver gate
    * instead of hiding in a spec run. Their DuckDB times are ~0 and
    * NOT fair perf denominators (the Spark side measures the real
    * serving work). Since r17 `q12_approx_distinct` is gated the same
    * way (HLL estimates differ by engine, so the oracle checks exact
    * columns + per-group |est−exact|/exact ≤ 4×rsd health bits;
    * `q12b_kmv_distinct` gates sketch semantics exactly) — EVERY
    * query key now has an oracle entry: the rows-only set is empty.
    */
  def oracleSql: Map[String, String] =
    ParityQueries.oracleSql ++ AnalyticsQueries.oracleSql ++ ExtensionQueries.oracleSql
}
