package graft

/** The store-staleness contract (r17 verdict item 7 / advice): every
  * train-once artifact memo keys on `Tables.parquetVersion`, which
  * folds file mtimes/sizes/counts into the token — so an IN-PLACE
  * corpus rewrite that preserves the row count (the lifecycle
  * ScaleCorpus's perturbed-replica mode actually exercises: regenerate
  * /tmp/scale10x between probes inside one JVM) must MISS the memo and
  * rebuild, never serve the superseded corpus's artifact. Asserted
  * end-to-end through a store-served query, not just on the token.
  */
class StoreStampSpec extends SparkSpec {
  import spark.implicits._

  test("an in-place same-row-count corpus rewrite rebuilds the train-once stores") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stamp-spec-").toString
    val p = s"$dir/documents.parquet"
    Seq((0L, "alpha beta gamma"), (1L, "alpha alpha beta"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(p)
    val v1 = Tables.parquetVersion(spark, p)
    // first serve: builds the surprisal store for this corpus version
    val before = SparkEntry.queries("text_unigram_logprob")(spark, dir)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(before(0L) === 3L, s"unexpected baseline tokenization: $before")
    // in-place rewrite, SAME row count — doc 0 gains two tokens. The
    // old dir@rowCount key would hit the memo and serve 3 forever.
    Seq((0L, "alpha beta gamma delta epsilon"), (1L, "alpha alpha beta"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(p)
    val v2 = Tables.parquetVersion(spark, p)
    assert(v1 !== v2,
      s"parquetVersion must change on a same-count rewrite ($v1 vs $v2)")
    val after = SparkEntry.queries("text_unigram_logprob")(spark, dir)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(after(0L) === 5L,
      s"store served STALE rows after an in-place corpus rewrite: $after")
    // row-count memo itself must also have refreshed (same listing)
    assert(Tables.parquetRowCount(spark, p) === 2L)
  }

  test("an in-place same-row-count embeddings rewrite rebuilds the PQ codebooks") {
    import java.nio.file.{Files, Path, Paths}
    def writeEmbeddings(dir: String, seed: Long): Unit = {
      val rnd = new scala.util.Random(seed)
      (0L until 300L).map(id => (id, Array.fill(64)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    val queries = Seq("sim_pq_topk", "sim_ivfpq_residual_topk")
    def serve(dir: String): Map[String, Seq[org.apache.spark.sql.Row]] =
      queries.map(q => q -> SparkEntry.queries(q)(spark, dir).collect().toSeq).toMap
    val dir = Files.createTempDirectory("graft-stamp-spec-").toString
    writeEmbeddings(dir, seed = 1L)
    val first = serve(dir) // builds the codebooks of the first version
    // in-place rewrite: new vectors, SAME row count
    writeEmbeddings(dir, seed = 2L)
    val fresh = Files.createTempDirectory("graft-stamp-spec-").toString
    val src = Paths.get(dir, "embeddings.parquet")
    Files.walk(src).forEach { (p: Path) =>
      Files.copy(p, Paths.get(fresh, "embeddings.parquet").resolve(src.relativize(p)))
    }
    val want = serve(fresh)
    val got = serve(dir)
    queries.foreach { q =>
      assert(first(q) !== want(q), s"$q: the rewrite must change the answer")
      assert(got(q) === want(q),
        s"$q served codebooks of the superseded corpus after an in-place rewrite")
    }
  }
}
