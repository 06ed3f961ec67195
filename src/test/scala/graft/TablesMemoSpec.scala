package graft

/** The frame-memo lifecycle contract (r20 verdict item 8 / advice item
  * 1): `Tables.load` memoizes constructed DataFrames per session, and
  * the r20 implementation keyed a WeakHashMap on the SparkSession —
  * but the cached frames strongly reference their session, so the key
  * could never become weakly reachable and every stopped session's
  * frames were pinned for JVM life. The fix keys on `sessionUUID` and
  * evicts via a SparkListener on application end; this spec drives
  * that listener END TO END through the real listener bus (a synthetic
  * ApplicationEnd via the test bridge — stopping the suite-shared
  * context would kill every other suite).
  */
class TablesMemoSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.graft.{bridge, testBridge}

  private def documentsDir(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-memo-spec-").toString
    Seq((0L, "alpha"), (1L, "beta")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def endApplication(): Unit = {
    testBridge.postApplicationEnd(spark.sparkContext)
    bridge.drainListenerBus(spark.sparkContext, 10000)
  }

  test("a session's frame-memo entry is evicted on application end") {
    val dir = documentsDir()
    val uuid = Tables.sessionKey(spark)
    assert(Tables.documents(spark, dir).count() === 2L)
    assert(Tables.frameMemoHas(uuid),
      "Tables.load must memoize the constructed frame for the live session")
    // memo HIT must return the identical frame object (the whole point:
    // no re-list + footer re-read per call)
    val a = Tables.load(spark, dir, "documents")
    val b = Tables.load(spark, dir, "documents")
    assert(a eq b, "second load of an unchanged path must hit the memo")
    endApplication()
    assert(!Tables.frameMemoHas(uuid),
      "application end must evict the session's frame-memo entry " +
        "(stopped sessions may not pin their frames for JVM life)")
    // the memo re-populates transparently on the next load
    assert(Tables.documents(spark, dir).count() === 2L)
    assert(Tables.frameMemoHas(uuid))
  }

  test("re-populating the memo after an eviction adds no listener") {
    val dir = documentsDir()
    val uuid = Tables.sessionKey(spark)
    val sc = spark.sparkContext
    assert(Tables.documents(spark, dir).count() === 2L)
    val listeners = testBridge.listenerCount(sc)
    (1 to 2).foreach { _ =>
      endApplication()
      assert(!Tables.frameMemoHas(uuid))
      assert(Tables.documents(spark, dir).count() === 2L)
      assert(Tables.frameMemoHas(uuid))
    }
    assert(testBridge.listenerCount(sc) === listeners,
      "one eviction listener per SparkContext, however often the memo re-populates")
  }
}
