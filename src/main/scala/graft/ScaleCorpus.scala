package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: materialize a 10x replica corpus to a FIXED directory
  * (args(0), default /tmp/scale10x) so the same files can be read by
  * BOTH engines for the SCALE.md same-scale pairing; `QBench` times
  * named queries over it (`SPARK_GRAFT_SF_DIR=<dir>`). Docs and
  * vectors use DENSE id packing ([[denseReplicas]]): replica k shifts
  * ids by k * n_base, so the replica corpus keeps the source's dense
  * [0, n) id space. A 1e6 stride left ~99% of the id range
  * unpopulated at 100x, and every `id-arithmetic % n` link target
  * (crawlEdgeTable, crawl_triangles) then pointed at a PHANTOM id with
  * no document row — the rank vector carried 972k rows for 500k docs,
  * so graph-family scale rows measured phantom fan-out, not the true
  * shape. Events keep their original strides (no id-arithmetic family
  * reads them). Not part of the engine surface.
  *
  * PERTURBED-REPLICA MODE (args(1) = substitution rate in ppm,
  * default 0 = verbatim replicas): replica k > 0 rewrites each token
  * with probability rate via a deterministic hash coin on
  * (doc_id, k, position), appending a replica-unique suffix — so the
  * 10x corpus carries ORGANIC near-dup rates (high-but-not-1 Jaccard)
  * instead of byte-exact clones, separating a dedup family's workload
  * growth (pair volume) from its plan cost in the SCALE.md pairing.
  */
object ScaleCorpus {
  /** `reps` copies of `base`, copy k with `idCol` shifted by k * n: a
    * dense [0, n) id space becomes a dense [0, reps * n). `perturb`
    * rewrites copy k after the shift.
    */
  def denseReplicas(base: DataFrame, idCol: String, n: Long, reps: Int)(
      perturb: (DataFrame, Int) => DataFrame = (df, _) => df): DataFrame =
    (0 until reps)
      .map(k => perturb(base.withColumn(idCol, col(idCol) + lit(k * n)), k))
      .reduce(_.unionByName(_))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/scale10x")
    val perturbPpm = args.drop(1).headOption.map(_.toLong).getOrElse(0L)
    // args(2): replica count (default 10) — 100 builds the second
    // SCALE.md decade (r17 verdict item 5); id strides leave room for
    // any replica count below 1000
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    // args(3): table groups to write (comma list of docs,vecs,events,
    // facts,dims; default all) — a third-decade graph row only needs
    // documents, and 1000x of every table would waste an hour + 50 GB
    val groups = args.drop(3).headOption
      .map(_.split(",").toSet)
      .getOrElse(Set("docs", "vecs", "events", "facts", "dims"))
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession(32)
    val base = Tables.documents(spark, src)
    // dense packing: source ids are [0, n) — replica k occupies
    // [k*n, (k+1)*n), so the union is [0, reps*n) with no gaps and
    // every `% (reps*n)` link target is a real document
    val nDocs = Tables.parquetRowCount(spark, s"$src/documents.parquet")
    if (groups("docs")) denseReplicas(base, "doc_id", nDocs, reps) { (shifted, k) =>
        if (k == 0 || perturbPpm <= 0) shifted
        else shifted.withColumn("text",
          concat_ws(" ", expr(
            s"""transform(split(text, ' '), (w, i) ->
               |  CASE WHEN pmod(xxhash64(concat(cast(doc_id AS string), '|$k|',
               |    cast(i AS string))), 1000000L) < ${perturbPpm}L
               |  THEN concat(w, '~$k') ELSE w END)""".stripMargin)))
      }
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val embBase = Tables.embeddings(spark, src)
    val nVecs = Tables.parquetRowCount(spark, s"$src/embeddings.parquet")
    if (groups("vecs")) denseReplicas(embBase, "vec_id", nVecs, reps)()
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val evBase = Tables.events(spark, src)
    if (groups("events")) (0 until reps).map(k =>
        evBase.withColumn("event_id", col("event_id") + lit(k * 10000000L))
          .withColumn("user_id", col("user_id") + lit(k * 1000000L)))
      .reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    // fact tables for the TPC-H-ish analytics family: orders/lineitem
    // replicate with CONSISTENT orderkey shifts (the join key must
    // keep matching across replicas); dimension tables (customer/
    // nation/region/supplier) stay 1x — facts grow, dims don't, the
    // realistic 100 TB shape. Callers read dims from the source dir.
    // stride 100M, NOT 10M: q28_snapshot_diff synthesizes "added" keys
    // at real_key + 10M, so a 10M replica stride aliased ~9/10 synthetic
    // keys onto real replica-(k+1) keys at 10x — duplicate keys in the
    // old snapshot fanned out the full-outer join and changed what the
    // 10x adjudication measured (r17 advice). 100M clears the synthetic
    // range for any replica count below 10 while staying far from
    // bigint overflow.
    val ordBase = Tables.orders(spark, src)
    if (groups("facts")) (0 until reps).map(k =>
        ordBase.withColumn("o_orderkey", col("o_orderkey") + lit(k * 100000000L)))
      .reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    if (groups("facts")) {
    val liBase = Tables.lineitem(spark, src)
    (0 until reps).map(k =>
        liBase.withColumn("l_orderkey", col("l_orderkey") + lit(k * 100000000L)))
      .reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    }
    if (groups("dims")) for (dim <- Seq("customer", "supplier", "nation", "region", "part"))
      spark.read.parquet(s"$src/$dim.parquet")
        .write.mode("overwrite").parquet(s"$out/$dim.parquet")
    def cnt(t: String): String =
      if (new java.io.File(s"$out/$t.parquet").exists)
        spark.read.parquet(s"$out/$t.parquet").count().toString
      else "-"
    println(s"SCALE_CORPUS $out docs=" + cnt("documents") +
      " vectors=" + cnt("embeddings") + " events=" + cnt("events"))
    spark.stop()
  }
}
