package graft.enrichment

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URLEncoder
import java.nio.charset.StandardCharsets

import scala.collection.concurrent.TrieMap

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** Live per-event enrichment (reference `scanner.py:178-218`: one
  * `get_editcount` + one `get_text` HTTP round trip per event, serial).
  *
  * Spark-first reshaping: instead of 2 RTTs inside the per-row hot path,
  * each micro-batch's DISTINCT users / revision ids are fetched by the
  * executors via `mapPartitions` — usernames batched 50 per request
  * (the MediaWiki `list=users` API is natively multi-user; the reference
  * pays one request per event), revisions one per request but on a
  * keep-alive connection — and the results become ordinary dimension
  * frames for the SAME broadcast joins the static pipeline uses. The
  * network cost is O(distinct keys per batch), not O(events), and the
  * scan/filter/join plan is unchanged.
  *
  * A per-JVM (= per-executor) LRU cache short-circuits keys seen in
  * recent batches — the streaming analog of the reference process's
  * implicit "same user edits twice" locality, made explicit and bounded.
  *
  * Failure semantics: a key missing from a response, an unparseable
  * body, or a failed request yields NO row for that key; the downstream
  * left join leaves the event's enrichment NULL and the existing
  * race-skip / dead-letter routing applies (`QueryRaceCondition`,
  * `scanner.py:193-196,215-218` — skip-and-continue, never fail).
  */
object LiveEnrichment {

  /** Users per `list=users` request: the MediaWiki API's own limit. */
  private val UsersPerRequest = 50

  /** Entries per (endpoint, kind) LRU. */
  private val CacheSize = 10000

  /** Bounded per-JVM LRU (access-order LinkedHashMap), one per
    * (endpoint, kind) so unrelated streams don't evict each other.
    */
  private val caches = TrieMap.empty[String, java.util.LinkedHashMap[String, String]]
  private def cache(key: String): java.util.LinkedHashMap[String, String] =
    caches.getOrElseUpdate(key,
      new java.util.LinkedHashMap[String, String](CacheSize, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, String]): Boolean = size() > CacheSize
      })

  /** Connect and per-request timeout: an API that accepts and never
    * answers must fail the lookup (race route), not block the
    * micro-batch forever.
    */
  private val Timeout = java.time.Duration.ofSeconds(10)

  private lazy val http = HttpClient.newBuilder().connectTimeout(Timeout).build()
  private lazy val mapper = new ObjectMapper

  private def get(url: String): Option[String] =
    try {
      val r = http.send(HttpRequest.newBuilder(URI.create(url)).timeout(Timeout).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      if (r.statusCode() == 200) Some(r.body()) else None
    } catch { case _: Exception => None }

  private def enc(s: String): String = URLEncoder.encode(s, StandardCharsets.UTF_8)

  /** Keys are consumed in bounded chunks of this size, so a skewed
    * partition never materializes wholesale in task memory — the
    * fetchers stay O(chunk), not O(partition). Keys are deduplicated
    * within each chunk (and the LRU absorbs cross-chunk re-FETCHES);
    * callers that need globally distinct output pairs must pass
    * distinct keys — [[dim]] does via `.distinct()` upstream.
    */
  private val FetchChunk = 512

  /** `list=users&ususers=a|b|c` batch lookup (`scanner.py:199-218`),
    * [[UsersPerRequest]] users per request. Returns found (user,
    * editcount) pairs; missing users produce no pair (race downstream).
    */
  def fetchEditCountsPartition(apiUrl: String,
      users: Iterator[String]): Iterator[(String, Long)] =
    users.grouped(FetchChunk).flatMap(chunk => fetchEditCountsChunk(apiUrl, chunk))

  private def fetchEditCountsChunk(apiUrl: String,
      chunk: Seq[String]): Iterator[(String, Long)] = {
    val lru = cache(s"$apiUrl#editcount")
    // snapshot value AND membership in one synchronized read — a
    // separate containsKey/get pair races with eviction by other tasks
    val snapshot = chunk.distinct.map(u =>
      u -> lru.synchronized(Option(lru.get(u))))
    val hits = snapshot.collect { case (u, Some(v)) => u -> v.toLong }
    val toFetch = snapshot.collect { case (u, None) => u }
    val fetched = toFetch.grouped(UsersPerRequest).flatMap { group =>
      val url = s"$apiUrl?format=json&action=query&list=users&usprop=editcount" +
        s"&ususers=${enc(group.mkString("|"))}"
      get(url).toSeq.flatMap { body =>
        try {
          val arr = mapper.readTree(body).path("query").path("users")
          (0 until arr.size).flatMap { i =>
            val u = arr.get(i)
            val name = u.path("name").asText(null)
            val ec = u.path("editcount")
            if (name != null && ec.isNumber) {
              lru.synchronized(lru.put(name, ec.asLong.toString))
              Some(name -> ec.asLong)
            } else None // user exists in reply but no editcount -> race
          }
        } catch { case _: Exception => Nil }
      }
    }
    hits.iterator ++ fetched
  }

  /** `action=parse&oldid=N&prop=wikitext` per-revision lookup
    * (`scanner.py:178-196`); one request per revision on a keep-alive
    * client, LRU-cached. Missing `parse.wikitext.*` = race (no row).
    */
  def fetchTextPartition(apiUrl: String,
      revids: Iterator[Long]): Iterator[(Long, String)] = {
    val lru = cache(s"$apiUrl#text")
    revids.grouped(FetchChunk).flatMap(_.distinct).flatMap { rev =>
      val hit = lru.synchronized(Option(lru.get(rev.toString)))
      hit.map(rev -> _).orElse {
        get(s"$apiUrl?format=json&action=parse&oldid=$rev&prop=wikitext").flatMap { body =>
          try {
            val t = mapper.readTree(body).path("parse").path("wikitext").path("*")
            if (t.isTextual) {
              lru.synchronized(lru.put(rev.toString, t.asText))
              Some(rev -> t.asText)
            } else None
          } catch { case _: Exception => None }
        }
      }
    }
  }

  /** The one dim builder: the distinct non-null `keys` of `df`, spread
    * over `partitions` tasks (the polite-client knob; the reference is
    * serial = 1), fetched on the executors and named `names`.
    */
  private def dim[K, R](df: DataFrame, keys: Seq[Column], partitions: Int,
      keyEnc: Encoder[K], rowEnc: Encoder[R], names: String*)(
      fetch: Iterator[K] => Iterator[R]): DataFrame =
    df.select(keys: _*).na.drop().distinct()
      .repartition(partitions)
      .as[K](keyEnc)
      .mapPartitions(fetch)(rowEnc)
      .toDF(names: _*)

  /** Distinct users of `df.user` -> (user, editcount) dim frame. */
  def editCountDim(df: DataFrame, apiUrl: String, partitions: Int = 4): DataFrame =
    dim(df, Seq(col("user").cast("string")), partitions, Encoders.STRING,
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong), "user", "editcount")(
      fetchEditCountsPartition(apiUrl, _))

  /** Distinct revision ids -> (revid, text) dim frame. */
  def textDim(df: DataFrame, apiUrl: String, partitions: Int = 4): DataFrame =
    dim(df, Seq(col("revision.new").cast("long")), partitions, Encoders.scalaLong,
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING), "revid", "text")(
      fetchTextPartition(apiUrl, _))

  // ---- Per-site routing ---------------------------------------------
  // The reference builds one API session per configured site and routes
  // each event to its own wiki's endpoint (`filter_.py:57`,
  // `scanner.py:128` `apis[change['server_name']]`). Same here: the
  // batch's distinct (server_name, key) pairs are grouped by site inside
  // each bounded chunk (never a whole-partition materialization; a
  // mixed-site chunk can yield sub-[[UsersPerRequest]] requests per
  // site, the bounded-memory tradeoff) and fetched against that site's
  // endpoint; the LRU caches are already endpoint-keyed, so sites never
  // evict each other. A site absent from `apis` contributes no rows —
  // its events surface as NULL enrichment and take the race /
  // dead-letter route (the reference cannot reach this state: its
  // streamfilter guarantees server_name ∈ sites; here it degrades
  // instead of failing).

  private def bySite[K, R](apis: Map[String, String], rows: Iterator[(String, K)])(
      fetch: (String, Iterator[K]) => Iterator[R]): Iterator[(String, R)] =
    rows.grouped(FetchChunk).flatMap(_.groupBy(_._1).iterator.flatMap {
      case (site, siteRows) =>
        apis.get(site).iterator.flatMap(url =>
          fetch(url, siteRows.iterator.map(_._2)).map(site -> _))
    })

  /** Distinct (server_name, user) -> (server_name, user, editcount) dim;
    * [[graft.streaming.RcStreaming.pipeline]] joins it on BOTH keys (the
    * same username can exist on every wiki with different counts).
    */
  def editCountDimBySite(df: DataFrame, apis: Map[String, String],
      partitions: Int = 4): DataFrame =
    dim(df, Seq(col("server_name").cast("string"), col("user").cast("string")), partitions,
      Encoders.tuple(Encoders.STRING, Encoders.STRING),
      Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.scalaLong),
      "server_name", "user", "editcount")(
      bySite(apis, _)(fetchEditCountsPartition).map { case (s, (u, ec)) => (s, u, ec) })

  /** Distinct (server_name, revid) -> (server_name, revid, text) dim —
    * revision ids are only unique within one wiki, so the site key must
    * ride along or a cross-site id collision hands one event another
    * wiki's text.
    */
  def textDimBySite(df: DataFrame, apis: Map[String, String],
      partitions: Int = 4): DataFrame =
    dim(df, Seq(col("server_name").cast("string"), col("revision.new").cast("long")),
      partitions, Encoders.tuple(Encoders.STRING, Encoders.scalaLong),
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.STRING),
      "server_name", "revid", "text")(
      bySite(apis, _)(fetchTextPartition).map { case (s, (rev, t)) => (s, rev, t) })
}
