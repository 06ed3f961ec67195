package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.RcOps

/** One named query per reference operator (SURVEY.md §2.1), each a
  * [[NamedQuery]] entry with its DuckDB oracle.
  */
object ParityQueries {

  /** Regex watch-list for R1 — covers word boundary, inline (?i) flag,
    * alternation, whitespace class, and a never-matching pattern; all in
    * the Java-regex ∩ RE2 common subset (SURVEY.md §7.3 risk 1).
    */
  val watchPatterns: Seq[String] = Seq(
    "(?i)\\bspark\\b",
    "merge\\s+(part|sort|scan)",
    "(?i)slow\\s+query",
    "zzz\\d+never")

  // SQL-literal forms of the patterns (single backslash inside a DuckDB
  // standard string — no escape processing there).
  private def sqlPat(i: Int): String = s"'${watchPatterns(i).replace("'", "''")}'"

  // The (event_id, user_id, editcount) rows of the J1 / F2 queries.
  private def editCountRows(enriched: DataFrame): DataFrame =
    enriched.select(col("event_id"), col("user_id"), col("editcount"))
      .orderBy(col("event_id"))

  val entries: Seq[NamedQuery] = Seq(
    // S1 — typed scan + projection; filters/columns reach the parquet scan.
    NamedQuery("s1_scan_events", (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    },
      "SELECT event_id, ts, user_id, event_type, value FROM events ORDER BY event_id"),

    // S2 — multi-stream union (`filter_.py:106`): two topic-filtered
    // streams tagged and unioned by name.
    NamedQuery("s2_union_streams", (s, dir) => {
      val ev = Tables.events(s, dir)
      val a = ev.filter(col("event_type").isin("click", "view"))
        .select(lit("recentchange").as("stream"), col("event_id"), col("event_type"))
      val b = ev.filter(col("event_type") === "signup")
        .select(lit("revision-create").as("stream"), col("event_id"), col("event_type"))
      a.unionByName(b).orderBy(col("stream"), col("event_id"))
    },
      "SELECT 'recentchange' AS stream, event_id, event_type FROM events WHERE event_type IN ('click','view') " +
      "UNION ALL SELECT 'revision-create' AS stream, event_id, event_type FROM events WHERE event_type = 'signup' " +
      "ORDER BY stream, event_id"),

    // F1 — conjunctive equality/IN streamfilter (`filter_.py:58`,
    // `examples/filterlist.py:21-23`).
    NamedQuery("f1_streamfilter", (s, dir) => {
      RcOps.streamFilter(Tables.events(s, dir), Map(
          "event_type" -> Seq("click", "purchase"),
          "user_id" -> Seq(1L, 2L, 3L, 5L, 8L, 13L)))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    },
      "SELECT event_id, user_id, event_type, value FROM events " +
      "WHERE event_type IN ('click','purchase') AND user_id IN (1,2,3,5,8,13) ORDER BY event_id"),

    // J1 — edit-count enrichment as a broadcast dim join (`scanner.py:199-218`).
    NamedQuery("j1_editcount", (s, dir) => {
      editCountRows(RcOps.withEditCount(Tables.events(s, dir)))
    },
      "SELECT e.event_id, e.user_id, u.editcount FROM events e LEFT JOIN " +
      "(SELECT user_id, COUNT(*) AS editcount FROM events GROUP BY user_id) u USING (user_id) " +
      "ORDER BY e.event_id"),

    // F2 — threshold gate (`filter_.py:76-88`), enabled.
    NamedQuery("f2_maxedits", (s, dir) => {
      editCountRows(RcOps.withEditCount(Tables.events(s, dir))
        .filter(RcOps.countUnderMax(Some(60L))))
    },
      "SELECT e.event_id, e.user_id, u.editcount FROM events e LEFT JOIN " +
      "(SELECT user_id, COUNT(*) AS editcount FROM events GROUP BY user_id) u USING (user_id) " +
      "WHERE u.editcount <= 60 ORDER BY e.event_id"),

    // F2 — NULL-disable semantics (`filter_.py:88`): max_edits = None
    // passes every row; must NOT be `col <= NULL`.
    NamedQuery("f2_maxedits_disabled", (s, dir) => {
      editCountRows(RcOps.withEditCount(Tables.events(s, dir))
        .filter(RcOps.countUnderMax(None)))
    },
      "SELECT e.event_id, e.user_id, u.editcount FROM events e LEFT JOIN " +
      "(SELECT user_id, COUNT(*) AS editcount FROM events GROUP BY user_id) u USING (user_id) " +
      "WHERE CAST(NULL AS BIGINT) IS NULL OR u.editcount <= CAST(NULL AS BIGINT) " +
      "ORDER BY e.event_id"),

    // D1 — first-match-per-key dedup (`filter_.py:90-102`).
    NamedQuery("d1_first_per_key", (s, dir) => {
      RcOps.firstPerKey(Tables.events(s, dir),
          Seq("user_id", "event_type"), "ts", "event_id")
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
        .orderBy(col("user_id"), col("event_type"))
    },
      "SELECT user_id, event_type, event_id, ts FROM events " +
      "QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1 " +
      "ORDER BY user_id, event_type"),

    // J2 — revision-text enrichment join (`scanner.py:178-196`).
    NamedQuery("j2_text_enrich", (s, dir) => {
      RcOps.withDocText(Tables.events(s, dir), Tables.documents(s, dir))
        .select(col("event_id"), col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("event_id"))
    },
      "SELECT e.event_id, d.doc_id, d.lang, d.n_chars FROM events e LEFT JOIN documents d " +
      "ON d.doc_id = e.event_id % (SELECT COUNT(*) FROM documents) ORDER BY e.event_id"),

    // R1 — multi-regex matched-set (`filter_.py:110-112`); array joined to
    // a string for stable cross-engine hashing.
    NamedQuery("r1_regex_match", (s, dir) => {
      val m = RcOps.matchedPatterns(col("text"), watchPatterns)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          concat_ws(",", m).as("matched"),
          size(m).cast("int").as("n_matches"))
        .orderBy(col("doc_id"))
    },
      s"SELECT doc_id, COALESCE(array_to_string(list_filter([${(0 to 3).map(sqlPat).mkString(", ")}], " +
      "p -> regexp_matches(text, p)), ','), '') AS matched, " +
      s"CAST(len(list_filter([${(0 to 3).map(sqlPat).mkString(", ")}], " +
      "p -> regexp_matches(text, p))) AS INT) AS n_matches " +
      "FROM documents ORDER BY doc_id"),

    // P1+P2+P3 — verb / match-message / partition-key projections
    // (`scanner.py:143-158`).
    NamedQuery("p_projections", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.select(
          col("event_id"),
          RcOps.verb(col("event_type")).as("verb"),
          concat(lit("User "), col("user_id").cast("string"),
            lit(" "), RcOps.verb(col("event_type")),
            lit(" at "), RcOps.eventDateFolder(col("ts"))).as("message"),
          RcOps.eventDateFolder(col("ts")).as("folder"),
          RcOps.sanitizedFilename(col("user_id"), col("event_id")).as("filename"))
        .orderBy(col("event_id"))
    },
      "SELECT event_id, regexp_replace(event_type, 'e$', '') || 'ed' AS verb, " +
      "'User ' || CAST(user_id AS VARCHAR) || ' ' || regexp_replace(event_type, 'e$', '') || 'ed' || " +
      "' at ' || strftime(ts, '%Y-%m-%d') AS message, " +
      "strftime(ts, '%Y-%m-%d') AS folder, " +
      "replace(CAST(user_id AS VARCHAR) || '_' || CAST(event_id AS VARCHAR), ':', '-') AS filename " +
      "FROM events ORDER BY event_id"),

    // K3 — flagged-changes log projection (`flaglog.py:37-66`,
    // `scanner.py:161-175`): filter name + full change payload + log
    // provenance, flattened for the oracle.
    NamedQuery("k3_flaglog", (s, dir) => {
      val ev = Tables.events(s, dir).filter(col("event_type") === "purchase")
      ev.select(
          lit("example").as("filter"),
          col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("props"),
          RcOps.eventDateFolder(col("ts")).as("folder"),
          RcOps.sanitizedFilename(col("user_id"), col("event_id")).as("file"))
        .orderBy(col("event_id"))
    },
      "SELECT 'example' AS filter, event_id, user_id, event_type, value, props, " +
      "strftime(ts, '%Y-%m-%d') AS folder, " +
      "replace(CAST(user_id AS VARCHAR) || '_' || CAST(event_id AS VARCHAR), ':', '-') AS file " +
      "FROM events WHERE event_type = 'purchase' ORDER BY event_id"),

    // E1 — race-condition skip-and-continue (`scanner.py:77-81`): left
    // join against a sparse enrichment table; null text = dead-letter.
    NamedQuery("e1_race_skip", (s, dir) => {
      val ev = Tables.events(s, dir)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      ev.join(broadcast(docs), ev("event_id") === docs("doc_id"), "left")
        .agg(
          sum(when(col("text").isNotNull, 1L).otherwise(0L)).cast("bigint").as("kept"),
          sum(when(col("text").isNull, 1L).otherwise(0L)).cast("bigint").as("skipped"))
    },
      "SELECT CAST(SUM(CASE WHEN d.text IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept, " +
      "CAST(SUM(CASE WHEN d.text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS skipped " +
      "FROM events e LEFT JOIN (SELECT doc_id, text FROM documents) d ON e.event_id = d.doc_id")
  )
}
