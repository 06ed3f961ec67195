package graft

/** The build-once registry's lifecycle: nested builds resolve, a key
  * builds once, and a failed build leaves no entry behind.
  */
class StoresSpec extends SparkSpec {
  import spark.implicits._

  private def documentsDir(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-stores-spec-").toString
    Seq((0L, "alpha"), (1L, "beta")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("a build may resolve other keys of the registry") {
    val dir = documentsDir()
    // a chain of nested builds, deeper than a small map's bin count,
    // the shape computeIfAbsent rejects with "Recursive update"
    def chain(i: Int): Int =
      if (i == 0) 0 else Stores.value(spark, s"spec-chain-$i", dir, "documents")(chain(i - 1) + 1)
    assert(chain(40) === 40)
    val outer = Stores.frame(spark, "spec-outer", dir, "documents") {
      Stores.frame(spark, "spec-inner", dir, "documents")(Tables.documents(spark, dir))
        .select($"doc_id")
    }
    assert(outer.as[Long].collect().sorted.toSeq === Seq(0L, 1L))
  }

  test("a key served twice is built once") {
    val dir = documentsDir()
    var builds = 0
    def serve(): Long = Stores.value(spark, "spec-once", dir, "documents") {
      builds += 1
      Tables.documents(spark, dir).count()
    }
    assert(serve() === 2L)
    assert(serve() === 2L)
    assert(builds === 1)
    var frameBuilds = 0
    def serveFrame() = Stores.frame(spark, "spec-once-frame", dir, "documents") {
      frameBuilds += 1
      Tables.documents(spark, dir)
    }
    assert(serveFrame().count() === 2L)
    assert(serveFrame().count() === 2L)
    assert(frameBuilds === 1)
  }

  test("a build that throws publishes nothing, and the next call rebuilds") {
    val dir = documentsDir()
    var builds = 0
    def serve(fail: Boolean): String = Stores.value(spark, "spec-throws", dir, "documents") {
      builds += 1
      if (fail) throw new IllegalStateException("incomplete build")
      "built"
    }
    intercept[IllegalStateException](serve(fail = true))
    assert(serve(fail = false) === "built")
    assert(serve(fail = true) === "built", "the successful build must be served")
    assert(builds === 2)
  }
}
