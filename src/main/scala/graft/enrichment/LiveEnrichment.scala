package graft.enrichment

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URLEncoder
import java.nio.charset.StandardCharsets

import java.util.concurrent.Executors

import scala.collection.concurrent.TrieMap
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** Live per-event enrichment (reference `scanner.py:178-218`: one
  * `get_editcount` + one `get_text` HTTP round trip per event, serial).
  *
  * Spark-first reshaping: instead of 2 RTTs inside the per-row hot path,
  * the driver takes a micro-batch's F1 survivors (the batch's one read
  * of the source) and fetches their DISTINCT keys in one bounded round
  * of requests — usernames batched 50 per request (the MediaWiki
  * `list=users` API is natively multi-user; the reference pays one
  * request per event), revisions one per request on a keep-alive
  * client, at most [[MaxInFlight]] requests at once — then attaches
  * `editcount` and `text` to each row itself. The network cost is
  * O(distinct keys per batch), not O(events), and no reply goes back
  * through a broadcast: the driver already holds both sides.
  *
  * A per-JVM LRU cache short-circuits revision texts seen in recent
  * batches (a revision is immutable). Edit counts are fetched every
  * batch: a count changes with every edit, and F2 (`max_edits`) must
  * gate on the current one, as the reference's per-event lookup does.
  *
  * Failure semantics: a key missing from a response, an unparseable
  * body, or a failed request yields NO value for that key; the event's
  * enrichment stays NULL and the existing race-skip / dead-letter
  * routing applies (`QueryRaceCondition`, `scanner.py:193-196,215-218`
  * — skip-and-continue, never fail).
  */
object LiveEnrichment {

  /** Users per `list=users` request: the MediaWiki API's own limit. */
  private val UsersPerRequest = 50

  /** Entries per endpoint's revision-text LRU. */
  private val CacheSize = 10000

  /** Requests in flight at once across the JVM: the polite-client bound
    * (the reference is serial = 1).
    */
  private val MaxInFlight = 4

  /** Bounded per-JVM LRU of revision texts (access-order LinkedHashMap),
    * one per endpoint so unrelated streams don't evict each other.
    */
  private val caches = TrieMap.empty[String, java.util.LinkedHashMap[Long, String]]
  private def cache(apiUrl: String): java.util.LinkedHashMap[Long, String] =
    caches.getOrElseUpdate(apiUrl,
      new java.util.LinkedHashMap[Long, String](CacheSize, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Long, String]): Boolean = size() > CacheSize
      })

  /** Connect and per-request timeout: an API that accepts and never
    * answers must fail the lookup (race route), not block the
    * micro-batch forever.
    */
  private val Timeout = java.time.Duration.ofSeconds(10)

  private lazy val http = HttpClient.newBuilder().connectTimeout(Timeout).build()
  private lazy val mapper = new ObjectMapper

  /** The request pool: [[MaxInFlight]] daemon threads. */
  private lazy val pool = ExecutionContext.fromExecutorService(
    Executors.newFixedThreadPool(MaxInFlight, (r: Runnable) => {
      val t = new Thread(r, "live-enrichment")
      t.setDaemon(true)
      t
    }))

  private def get(url: String): Option[String] =
    try {
      val r = http.send(HttpRequest.newBuilder(URI.create(url)).timeout(Timeout).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      if (r.statusCode() == 200) Some(r.body()) else None
    } catch { case _: Exception => None }

  private def enc(s: String): String = URLEncoder.encode(s, StandardCharsets.UTF_8)

  /** One fetch's pending replies: LRU hits complete at once, every
    * request runs on [[pool]].
    */
  private type Pending[R] = Seq[Future[Seq[R]]]

  private def await[R](pending: Pending[R]): Seq[R] =
    pending.flatMap(Await.result(_, Duration.Inf))

  /** `list=users&ususers=a|b|c` batch lookup (`scanner.py:199-218`),
    * [[UsersPerRequest]] distinct users per request, never cached. Yields
    * found (user, editcount) pairs; missing users produce no pair (race
    * downstream).
    */
  private def editCounts(apiUrl: String, users: Seq[String]): Pending[(String, Long)] =
    users.grouped(UsersPerRequest).map { group =>
      Future {
        val url = s"$apiUrl?format=json&action=query&list=users&usprop=editcount" +
          s"&ususers=${enc(group.mkString("|"))}"
        get(url).toSeq.flatMap { body =>
          try {
            val arr = mapper.readTree(body).path("query").path("users")
            (0 until arr.size).flatMap { i =>
              val u = arr.get(i)
              val name = u.path("name").asText(null)
              val ec = u.path("editcount")
              // user exists in reply but no editcount -> race
              Option.when(name != null && ec.isNumber)(name -> ec.asLong)
            }
          } catch { case _: Exception => Nil }
        }
      }(pool)
    }.toSeq

  /** `action=parse&oldid=N&prop=wikitext` per-revision lookup
    * (`scanner.py:178-196`); one request per distinct revision not in
    * the LRU. Missing `parse.wikitext.*` = race (no pair).
    */
  private def texts(apiUrl: String, revids: Seq[Long]): Pending[(Long, String)] = {
    val lru = cache(apiUrl)
    // snapshot value AND membership in one synchronized read — a
    // separate containsKey/get pair races with eviction by other threads
    val snapshot = revids.map(rev => rev -> lru.synchronized(Option(lru.get(rev))))
    Future.successful(snapshot.collect { case (rev, Some(t)) => rev -> t }) +:
      snapshot.collect { case (rev, None) =>
        Future {
          get(s"$apiUrl?format=json&action=parse&oldid=$rev&prop=wikitext").toSeq.flatMap { body =>
            try {
              val t = mapper.readTree(body).path("parse").path("wikitext").path("*")
              Option.when(t.isTextual) {
                lru.synchronized(lru.put(rev, t.asText))
                rev -> t.asText
              }
            } catch { case _: Exception => None }
          }
        }(pool)
      }
  }

  /** Distinct non-null values of one key column of `df`. */
  private def keys[K](df: DataFrame, key: Column): Seq[K] =
    df.select(key).distinct().collect().toSeq.filterNot(_.isNullAt(0)).map(_.getAs[K](0))

  /** Distinct users of `df.user` -> local (user, editcount) dim frame. */
  def editCountDim(df: DataFrame, apiUrl: String): DataFrame = {
    val users = keys[String](df, col("user").cast("string"))
    df.sparkSession.createDataset(await(editCounts(apiUrl, users)))(
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong)).toDF("user", "editcount")
  }

  /** Distinct revision ids -> local (revid, text) dim frame. */
  def textDim(df: DataFrame, apiUrl: String): DataFrame = {
    val revids = keys[Long](df, col("revision.new").cast("long"))
    df.sparkSession.createDataset(await(texts(apiUrl, revids)))(
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING)).toDF("revid", "text")
  }

  /** The one fetch round for a batch's F1 survivors (Change rows): each
    * row's lookups go to `endpoint(server_name)` — the reference routes
    * every event to its own wiki's API (`filter_.py:57`, `scanner.py:128`
    * `apis[change['server_name']]`) — and every endpoint's user and
    * revision requests are issued together before any reply is awaited.
    * Returns each row with `editcount` (Long) and `text` (String)
    * appended. Replies are keyed by endpoint: the same username can
    * exist on every wiki with different counts, and revision ids are only
    * unique within one wiki. A row whose lookup failed, or whose site
    * `endpoint` does not resolve, gets NULL (the race / dead-letter
    * route; the reference cannot reach the unrouted state, its
    * streamfilter guarantees server_name ∈ sites, here it degrades
    * instead of failing).
    */
  def enrich(rows: Seq[Row], endpoint: String => Option[String]): Seq[Row] = {
    val keyed = rows.map { r =>
      val rev = r.getAs[Row]("revision")
      (endpoint(r.getAs[String]("server_name")), Option(r.getAs[String]("user")),
        Option(rev).filterNot(_.isNullAt(rev.fieldIndex("new"))).map(_.getAs[Long]("new")))
    }
    val pending = keyed.collect { case (Some(url), u, rev) => (url, u, rev) }.groupBy(_._1)
      .toSeq.map { case (url, ks) =>
        (url, editCounts(url, ks.flatMap(_._2).distinct), texts(url, ks.flatMap(_._3).distinct))
      }
    val counts = pending.flatMap { case (url, u, _) => await(u).map(p => (url, p._1) -> p._2) }.toMap
    val found = pending.flatMap { case (url, _, t) => await(t).map(p => (url, p._1) -> p._2) }.toMap
    rows.zip(keyed).map { case (r, (url, u, rev)) =>
      def at[K, V](m: Map[(String, K), V], k: Option[K]): Any =
        url.zip(k).flatMap(m.get).getOrElse(null)
      Row.fromSeq(r.toSeq :+ at(counts, u) :+ at(found, rev))
    }
  }
}
