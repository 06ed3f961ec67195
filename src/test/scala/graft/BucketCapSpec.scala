package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.TextOps

/** Adversarial LSH-bucket skew: thousands of byte-identical docs share
  * every band hash, so one bucket would pair-expand quadratically (2000
  * docs → ~2M pairs, 10k → 50M) inside a single task. The cap must
  * bound the expansion deterministically, surface the overflow, and
  * leave healthy corpora bit-identical.
  */
class BucketCapSpec extends SparkSpec {
  import spark.implicits._

  private lazy val advDir: String = {
    val dir = Files.createTempDirectory("adv").toString
    val base = Tables.documents(spark, sf0001)
    // 2000 clones of one document (ids 1M..1M+1999) on top of the
    // normal corpus — a boilerplate mega-bucket, 4x the 512 cap.
    val boiler = spark.range(2000)
      .select((col("id") + 1000000L).as("doc_id"),
        lit("the same boilerplate footer text repeated on every page of the crawl " +
          "with enough tokens to form several distinct shingles").as("text"),
        lit("en").as("lang"), lit("adv").as("source"), lit(120L).as("n_chars"))
    base.unionByName(boiler).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("mega-bucket pair expansion is bounded by the cap, not the bucket") {
    val pairs = SparkEntry.queries("dedup_minhash")(spark, advDir)
      .as[(Long, Long)].collect()
    val boilerPairs = pairs.count { case (a, b) => a >= 1000000L && b >= 1000000L }
    val cap = TextOps.MaxBucket
    // Identical docs share all 4 band buckets; each bucket caps to the
    // same lowest 512 ids, so the boilerplate group contributes exactly
    // C(cap, 2) pairs — not C(2000, 2) ≈ 2M.
    assert(boilerPairs === cap * (cap - 1) / 2,
      s"expected C($cap,2)=${cap * (cap - 1) / 2} capped pairs, got $boilerPairs")
    assert(pairs.length < 200000, s"total pair volume must stay bounded: ${pairs.length}")
    // the same bound straight through the bucket-pairs builder, on one
    // exact-content bucket per text: the 2000-clone bucket yields C(cap, 2)
    val direct = TextOps.bucketPairs(Tables.documents(spark, advDir)
        .select(col("doc_id"), md5(col("text")).as("h")), Seq("h"), col("doc_id"))
      .select(col("p.a"), col("p.b")).as[(Long, Long)].collect()
    assert(direct.count { case (a, b) => a >= 1000000L && b >= 1000000L } === cap * (cap - 1) / 2)
  }

  test("overflow side channel reports the dropped members per bucket") {
    val docs = Tables.documents(spark, advDir)
    val bands = docs
      .select(col("doc_id"), md5(col("text")).as("band_hash"))
      .groupBy(col("band_hash"))
      .agg(array_sort(collect_set(col("doc_id"))).as("ids"))
    val overflow = TextOps.bucketOverflow(bands)
      .as[(Long, Long, Long)].collect()
    assert(overflow.length === 1)
    val (head, size, dropped) = overflow.head
    assert(head === 1000000L && size === 2000L && dropped === 2000L - TextOps.MaxBucket)
    // Healthy corpus: no overflow at all.
    val healthy = Tables.documents(spark, sf0001)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy(col("h")).agg(array_sort(collect_set(col("doc_id"))).as("ids"))
    assert(TextOps.bucketOverflow(healthy).isEmpty)
  }

  test("perceptual fingerprint buckets stay under the cap at the gate scale factors") {
    // The three perceptual ORACLES replay uncapped self-joins while the
    // Spark side caps (band, value) buckets at MaxBucket — an over-cap
    // bucket would drop pairs ONLY on the Spark side and break the
    // correctness hash silently. The round-8 survey records a near-miss
    // (~500-member buckets from the rejected sum-energy audio
    // fingerprint), so the margin is pinned loudly, at the scale
    // factors the gate actually runs (sf0.01 verify, sf0.1 re-check).
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
        if new java.io.File(dir).isDirectory) {
      for ((name, banded) <- graft.queries.ExtensionQueries.perceptualBandFrames(spark, dir)) {
        val biggest = banded.groupBy(col("b"), col("v")).count()
          .agg(max(col("count"))).as[Long].head()
        assert(biggest < TextOps.MaxBucket,
          s"$name@$dir: max (band,value) bucket $biggest >= cap ${TextOps.MaxBucket} — " +
            "capped Spark pairs would diverge from the uncapped oracle")
      }
    }
  }

  test("cap leaves sub-cap buckets bit-identical") {
    val ids = typedLit(Seq(3L, 5L, 9L))
    val capped = spark.range(1)
      .select(explode(TextOps.cappedPairs(ids)).as("p"))
      .select(col("p.a"), col("p.b")).as[(Long, Long)].collect().toSet
    assert(capped === Set((3L, 5L), (3L, 9L), (5L, 9L)))
    // through the bucket-pairs builder: members arrive unsorted and
    // repeated, a one-member bucket pairs nothing, the key rides along
    val rows = Seq(("x", 9L), ("x", 3L), ("x", 5L), ("x", 3L), ("y", 7L)).toDF("k", "m")
    val built = TextOps.bucketPairs(rows, Seq("k"), col("m"), carry = Seq("k"))
      .select(col("k"), col("p.a"), col("p.b")).as[(String, Long, Long)].collect()
    assert(built.sorted.toSeq === Seq(("x", 3L, 5L), ("x", 3L, 9L), ("x", 5L, 9L)))
  }

  test("fuzzy-join deletion-variant buckets stay bounded at the gate scale factors") {
    // fuzzy_term_join's blocking join is deliberately UNCAPPED (the
    // oracle replays the same uncapped join, so there is no divergence
    // risk) — but a hot variant key (short strings share deletion
    // neighborhoods) would make the equi-join quadratic in the bucket.
    // Pin the actual bucket ceiling at both gate SFs so vocabulary
    // drift that concentrates variants fails loudly; at a real
    // million-term vocabulary this is the audit that says when the
    // join needs the MaxBucket treatment of the perceptual family.
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
        if new java.io.File(dir).isDirectory) {
      val terms = Tables.documents(spark, dir)
        .select(explode(split(col("text"), " ")).as("t"))
        .filter(length(col("t")) > 0).distinct()
      val vars = terms
        .withColumn("d1", expr(
          "transform(sequence(1, length(t)), " +
          "i -> concat(substr(t, 1, i-1), substr(t, i+1, length(t))))"))
        .withColumn("d2", expr(
          "flatten(transform(filter(d1, v -> length(v) > 0), " +
          "v -> transform(sequence(1, length(v)), " +
          "i -> concat(substr(v, 1, i-1), substr(v, i+1, length(v))))))"))
        .select(explode(array_distinct(
          concat(array(col("t")), col("d1"), col("d2")))).as("v"))
      val biggest = vars.groupBy(col("v")).count()
        .agg(max(col("count"))).as[Long].head()
      assert(biggest <= 32,
        s"$dir: hottest variant bucket $biggest — the blocking join is " +
          "approaching quadratic territory; cap or lengthen the blocking key")
    }
  }
}
