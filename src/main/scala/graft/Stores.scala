package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one registry of build-once artifacts derived from a corpus
  * table: trained models, driver-side constants, parquet stores and
  * persisted index dirs. A production pipeline builds these once per
  * corpus drop and serves them many times; the registry reproduces
  * that lifecycle inside one JVM.
  *
  * Key: (store name, corpus dir, [[Tables.parquetVersion]] of the
  * named table under that dir, optional extra such as a query id).
  * The version folds the row count, file count, mtimes and bytes of
  * one metadata listing, so an in-place rewrite of the table, one that
  * keeps the row count included, misses and rebuilds. Nothing is ever
  * served for a superseded corpus (StoreStampSpec).
  *
  * Lifecycle: an entry lives until the JVM exits. A miss builds
  * OUTSIDE any lock, then publishes with `putIfAbsent`, so a build may
  * resolve other keys of this registry (verified pairs read the
  * candidate-pair store, the DoReMi losses read the surprisal store);
  * `computeIfAbsent` would throw "Recursive update" on those nested
  * builds. A concurrent duplicate build is benign: one result wins the
  * publish. A build that throws publishes nothing, so the next call
  * rebuilds and a half-built artifact is never served. Every directory
  * a build writes lives under one JVM temp root, deleted by one
  * shutdown hook.
  *
  * Two lifecycles stay outside: [[Tables]]' session-scoped frame and
  * row-count memos, and `Hnsw`'s per-index-dir caches, which an append
  * invalidates.
  */
object Stores {
  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Any]()

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-stores-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try Files.walk(r).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      catch { case _: java.io.IOException => () } // best-effort cleanup
      ()
    }))
    r
  }

  /** A fresh directory under the registry's temp root, for a build to
    * write an index or a staging input into.
    */
  def newDir(name: String): String =
    Files.createTempDirectory(root, s"$name-").toString

  /** The driver-side form: what `build` returns, built once per key. */
  def value[T](s: SparkSession, name: String, dir: String, table: String,
      extra: String = "")(build: => T): T = {
    val key = s"$name:$dir@${Tables.parquetVersion(s, s"$dir/$table.parquet")}#$extra"
    val hit = entries.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val built = build
      val prev = entries.putIfAbsent(key, built)
      if (prev == null) built else prev.asInstanceOf[T]
    }
  }

  /** The parquet form's path: `build` written once per key under the
    * temp root.
    */
  def path(s: SparkSession, name: String, dir: String, table: String)(
      build: => DataFrame): String =
    value(s, name, dir, table) {
      val out = newDir(name)
      build.write.mode("overwrite").parquet(out)
      out
    }

  /** The parquet form: the store at [[path]], read through the
    * [[Tables.loadPath]] frame memo.
    */
  def frame(s: SparkSession, name: String, dir: String, table: String)(
      build: => DataFrame): DataFrame =
    Tables.loadPath(s, path(s, name, dir, table)(build))
}
