package graft

import org.apache.spark.sql.functions._
import graft.operators.RcOps

/** Unit semantics of the parity operators (SURVEY.md §5.2): NULL-disable
  * threshold, regex dialect edges, projection details, dedup tie-break.
  */
class RcOpsSpec extends SparkSpec {
  import spark.implicits._

  test("F2 NULL-disable: max_edits=None passes every row (filter_.py:88)") {
    val df = Seq(1L, 100L, 999999L).toDF("editcount")
    assert(df.filter(RcOps.countUnderMax(None)).count() === 3)
    assert(df.filter(RcOps.countUnderMax(Some(100L))).count() === 2)
  }

  test("F1 streamfilter: scalar equality + iterable membership, conjunctive") {
    val df = Seq(("edit", false, 2), ("create", false, 2), ("edit", true, 2),
      ("log", false, 2), ("edit", false, 0)).toDF("type", "bot", "namespace")
    val out = RcOps.streamFilter(df, Map(
      "type" -> Seq("edit", "create"), "bot" -> Seq(false), "namespace" -> Seq(2)))
    assert(out.collect().map(r => r.getString(0)).sorted.toSeq === Seq("create", "edit"))
  }

  test("R1 matched-set: all matching patterns reported; no short-circuit") {
    val pats = Seq("(?i)\\buserbox(e[ns])?\\b", "box", "zzz")
    val df = Seq("added Userboxes today", "nothing here", "").toDF("text")
    val got = df.select(RcOps.matchedPatterns(col("text"), pats).as("m"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(got === List(List("(?i)\\buserbox(e[ns])?\\b", "box"), Nil, Nil))
  }

  test("J1 withEditCount: broadcast under the size bound, shuffle join past it") {
    val events = Seq((1L, 10L), (2L, 10L), (3L, 11L)).toDF("event_id", "user_id")
    def joinKinds(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString()
    // default bound (64 MiB) dwarfs this dim -> broadcast hash join
    val small = RcOps.withEditCount(events)
    assert(joinKinds(small).contains("BroadcastHashJoin"),
      "tiny dim must take the broadcast path")
    assert(small.count() === 3)
    // bound of 0 simulates a dim estimated past broadcast limits ->
    // no forced hint; the plan must not rely on a driver-side broadcast
    // of an unbounded dim (AQE may still pick one from RUNTIME stats,
    // so assert on the optimized logical plan, where only the hint shows)
    spark.conf.set("spark.graft.broadcastDimMaxBytes", "0")
    try {
      val big = RcOps.withEditCount(events)
      assert(!big.queryExecution.optimizedPlan.toString()
        .toLowerCase.contains("broadcast"),
        "over-bound dim must not carry a broadcast hint")
      assert(big.count() === 3)
      // same results either way
      assert(big.orderBy("event_id", "user_id").collect().toSeq ===
        small.orderBy("event_id", "user_id").collect().toSeq)
    } finally spark.conf.unset("spark.graft.broadcastDimMaxBytes")
  }

  test("P1 verb: removesuffix('e') + 'ed' (scanner.py:143-146)") {
    val df = Seq("edit", "create", "log").toDF("t")
    val got = df.select(RcOps.verb(col("t"))).as[String].collect().toSeq
    assert(got === Seq("edited", "created", "loged"))
  }

  test("P3 filename: ':' sanitized to '-' (scanner.py:158)") {
    val df = Seq(("User:Example", 42L)).toDF("user", "rev")
    val got = df.select(RcOps.sanitizedFilename(col("user"), col("rev")))
      .as[String].head()
    assert(got === "User-Example_42")
  }

  test("P2 message: singular vs plural regexes (scanner.py:147-151)") {
    val one = Seq(Seq("a")).toDF("m")
    val two = Seq(Seq("a", "b")).toDF("m")
    def msg(df: org.apache.spark.sql.DataFrame) =
      df.select(RcOps.matchMessage(col("m"), lit("u"))).as[String].head()
    assert(msg(one) === "***MATCH*** with regex `a`: u")
    assert(msg(two) === "***MATCH*** with regexes `a`, `b`: u")
  }

  test("D1 firstPerKey keeps earliest (ts, id) row per key") {
    val df = Seq(
      ("t1", 10L, 2L, "second"), ("t1", 5L, 9L, "first"),
      ("t1", 5L, 1L, "tie-low-id"), ("t2", 7L, 3L, "only")
    ).toDF("title", "ts", "id", "tag")
    val got = RcOps.firstPerKey(df, Seq("title"), "ts", "id")
      .select("title", "tag").as[(String, String)].collect().toMap
    assert(got === Map("t1" -> "tie-low-id", "t2" -> "only"))
  }

  test("flagship entry returns matches on sf0.001 (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("regex-token edge cases: vertical tab and empty text (dialect intersection)") {
    // pins the Java-vs-RE2 divergence fixed after review: \x0B must not
    // tokenize, and empty arrays must yield NULL (not throw under ANSI).
    val pat = "[a-z0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0B]"
    val df = Seq("ab", "", "x; y").toDF("text")
    val toks = regexp_extract_all(col("text"), lit(pat), lit(0))
    val got = df.select(size(toks), try_element_at(toks, lit(1))).collect()
    assert(got(0).getInt(0) === 2)        // ['a','b'] — \x0B is not a token
    assert(got(1).getInt(0) === 0 && got(1).isNullAt(1)) // empty -> NULL, no throw
    assert(got(2).getInt(0) === 3)        // ['x', ';', 'y']
  }

  test("sites force-overwrite server_name in the streamfilter (filter_.py:58)") {
    import graft.streaming.RcStreaming.FilterSpec
    val spec = FilterSpec(Map("server_name" -> Seq("ignored.org"), "bot" -> Seq(false)),
      None, skipRepeats = false, Seq(), sites = Seq("en.wikipedia.org", "de.wikipedia.org"))
    assert(spec.effectiveStreamfilter("server_name") ===
      Seq("en.wikipedia.org", "de.wikipedia.org"))
    assert(spec.effectiveStreamfilter("bot") === Seq(false))
  }

  test("C1 config validation: LOG_LEVEL range + skip_repeats implication") {
    import graft.streaming.RcStreaming
    val spec = RcStreaming.FilterSpec(Map(), None, skipRepeats = true, Seq())
    intercept[IllegalArgumentException](RcStreaming.validate(4, spec))
    intercept[IllegalArgumentException](RcStreaming.validate(1, spec))
    RcStreaming.validate(2, spec) // legal
    RcStreaming.validate(0, spec.copy(skipRepeats = false)) // legal
  }
}
