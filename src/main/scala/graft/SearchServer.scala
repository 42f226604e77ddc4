package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.index.IndexBuilder
import graft.query.QueryEngine
import graft.sources.CorpusSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** The reference's HTTP serving surface (reference server.go:55-103) as a
  * thin driver-side wrapper over [[graft.query.QueryEngine]]:
  * `GET /?q=&alg=&page=` answers a query with the algorithm registry
  * (unknown → BM25, reference server.go:39-53), paginates 5 results per
  * page (server.go:11,23-28) and renders an HTML SERP with prev/next
  * links. JDK-only (`com.sun.net.httpserver`) — no new dependency.
  * Requests run on a fixed pool of [[SearchServer.HandlerThreads]]
  * threads, so a slow SERP does not hold up an autocomplete keystroke.
  * The server keeps no state beyond the prebuilt index bundle and three
  * TTL'd LRU caches (SERP pages, did-you-mean, `/suggest`).
  */
class SearchServer(engine: QueryEngine, docs: DataFrame, port: Int = 0,
    serpCacheTtlMs: Long = 60000L) {
  import SearchServer.{PerPage, TtlLru}

  final case class Hit(docId: Long, title: String, url: String,
      snippet: String)

  // ---- caches ---------------------------------------------------------
  // Every request otherwise re-plans and re-runs its Spark jobs — a fixed
  // multi-job floor per hit of a head-heavy query distribution that
  // serves identical results. Bounded LRUs of fully-rendered answers (a
  // SERP's hits + total with snippets, a did-you-mean, a /suggest body)
  // absorb the repeats; the TTL bounds staleness against a concurrently
  // refreshed persisted index (serpCacheTtlMs = 0 disables all three).
  private val serpCache = new TtlLru[(String, String, Int), (Seq[Hit], Long)](
    256, serpCacheTtlMs)
  private val didYouMeanCache = new TtlLru[String, Option[String]](64, serpCacheTtlMs)
  private val suggestCache = new TtlLru[String, String](256, serpCacheTtlMs)

  /** Requests answered from the SERP cache (observability + spec hook). */
  private[graft] def cacheHits: Long = serpCache.hits.get

  private val pool =
    java.util.concurrent.Executors.newFixedThreadPool(SearchServer.HandlerThreads)
  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.setExecutor(pool)
  server.createContext("/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        val p = params(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
        val q = p.getOrElse("q", "")
        val alg = p.getOrElse("alg", "BM25")
        val page = p.get("page").flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
        val (hits, total) = search(q, alg, page)
        // zero results + a fixable typo → "did you mean" link (a bounded
        // vocab-sized candidate job, only on the empty-SERP path; cached
        // under the same TTL so a hammered dead query pays it once)
        val suggestion =
          if (total == 0 && q.nonEmpty) didYouMean(q) else None
        val body = html(q, alg, page, hits, total, suggestion)
          .getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
      } catch { case e: Throwable => internalError(ex, e) }
      finally ex.close()
  })

  // autocomplete endpoint: GET /suggest?p=<prefix> → one completion per
  // line, df-ranked (QueryEngine.typeahead) — the vocab-sized query an
  // autocomplete box fires on every keystroke
  server.createContext("/suggest", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        val p = params(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
          .getOrElse("p", "")
        val body = suggest(p).getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
        ex.sendResponseHeaders(200, if (body.isEmpty) -1 else body.length)
        if (body.nonEmpty) ex.getResponseBody.write(body)
      } catch { case e: Throwable => internalError(ex, e) }
      finally ex.close()
  })

  /** Answer 500 with the failure's message, and log the request and the
    * stack trace to stderr. The 200 headers may already be out (e.g. the
    * client disconnected mid-body): a second sendResponseHeaders throws,
    * and must not mask the original failure.
    */
  private def internalError(ex: HttpExchange, e: Throwable): Unit = {
    System.err.println(s"[graft-serve] 500 ${ex.getRequestURI}: $e")
    e.printStackTrace()
    try {
      val msg = s"internal error: ${e.getMessage}".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(500, msg.length)
      ex.getResponseBody.write(msg)
    } catch { case _: Throwable => () }
  }

  /** Bound port (ephemeral when constructed with port = 0). */
  def boundPort: Int = server.getAddress.getPort
  def start(): Int = { server.start(); boundPort }
  def stop(): Unit = { server.stop(0); pool.shutdown() }

  /** The query path shared by the handler and the spec: ranked results of
    * `page` (5/page) in rank order with their previews, plus the total
    * count. The ranking's page and total come from
    * [[QueryEngine.serpPage]]; the page's rows then come in one narrow
    * job: `docId, title, url` and the KWIC preview
    * ([[graft.index.PositionalIndex.previewCol]]: best covering window
    * when a hit contains every query term, else its first query term,
    * else its lead tokens), ordered by rank on the driver.
    */
  def search(query: String, alg: String, page: Int): (Seq[Hit], Long) =
    serpCache.getOrElseUpdate((query, alg, page)) {
      val (ids, total) = engine.serpPage(alg, query, page, PerPage)
      (if (ids.isEmpty) Nil else pageHits(query, alg, ids), total)
    }

  private def pageHits(query: String, alg: String, ids: Seq[Long]): Seq[Hit] = {
    val terms = graft.analysis.Analyzer.tokenize(query)
    val grep = alg == "Grep" && query.nonEmpty
    val preview =
      if (grep || terms.isEmpty) lit("")
      else graft.index.PositionalIndex.previewCol(col("title"), col("body"), terms, ctx = 3)
    val pageDocs = docs.where(col("docId").isin(ids.map(Long.box): _*))
    val byId = pageDocs
      .select(col("docId"), col("title"), col("url"), coalesce(preview, lit("")))
      .collect().map(r => r.getLong(0) -> r).toMap
    // Grep hits are RAW substring matches (possibly crossing token
    // boundaries), so the preview is the raw ±ctx-char excerpt with the
    // needle bracketed — not the token-based KWIC window
    val excerpts: Map[Long, String] =
      if (!grep) Map.empty
      else graft.index.GramIndex.grepStats(pageDocs, "docId", "body", query, ctx = 24)
        .collect().map { r =>
          val ex = r.getAs[String]("excerpt")
          val i = ex.indexOf(query)
          val marked =
            if (i < 0) ex
            else ex.substring(0, i) + "[" + query + "]" + ex.substring(i + query.length)
          r.getLong(0) -> marked
        }.toMap
    ids.flatMap(byId.get).map { r =>
      val id = r.getLong(0)
      Hit(id, r.getString(1), r.getString(2),
        excerpts.getOrElse(id, r.getString(3)))
    }
  }

  /** The did-you-mean rewrite of a zero-result query `q`, if any. */
  private[graft] def didYouMean(q: String): Option[String] =
    didYouMeanCache.getOrElseUpdate(q)(engine.suggestQuery(q))

  /** The `/suggest` body for prefix `p`: up to 8 completions, one a line. */
  private[graft] def suggest(p: String): String =
    suggestCache.getOrElseUpdate(p) {
      engine.typeahead(p, 8).collect().map(_.getString(0)).mkString("\n")
    }

  private def params(raw: String): Map[String, String] =
    raw.split("&").iterator.filter(_.nonEmpty).map { kv =>
      val Array(k, v) = (kv.split("=", 2) match {
        case Array(k) => Array(k, "")
        case a => a
      }): @unchecked
      k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
    }.toMap

  private def esc(s: String): String =
    if (s == null) "" // nullable title/url columns (JDBC) render empty
    else s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")

  private def pageUrl(q: String, alg: String, page: Int): String =
    s"/?q=${java.net.URLEncoder.encode(q, StandardCharsets.UTF_8)}" +
      s"&alg=${java.net.URLEncoder.encode(alg, StandardCharsets.UTF_8)}&page=$page"

  /** Minimal SERP mirroring the reference template's fields (Query, Page,
    * Results, Algorithm, NextURL, PrevURL — reference server.go:13-20).
    */
  private def html(q: String, alg: String, page: Int,
      hits: Seq[Hit], total: Long,
      didYouMean: Option[String] = None): String = {
    val suggest = didYouMean.fold("") { s =>
      s"""<p id="didyoumean">did you mean <a href="${pageUrl(s, alg, 1)}">${esc(s)}</a>?</p>"""
    }
    val items = hits.map { h =>
      val snip = if (h.snippet.isEmpty) ""
        else s"""<br/><small class="snippet">${esc(h.snippet)}</small>"""
      s"""  <li><a href="${esc(h.url)}">${esc(h.title)}</a> <small>#${h.docId}</small>$snip</li>"""
    }.mkString("\n")
    val prev = if (page > 1)
      s"""<a id="prev" href="${pageUrl(q, alg, page - 1)}">prev</a>""" else ""
    val next = if (page.toLong * PerPage < total)
      s"""<a id="next" href="${pageUrl(q, alg, page + 1)}">next</a>""" else ""
    s"""<!doctype html>
       |<html><head><title>graft search</title></head><body>
       |<form action="/"><input name="q" value="${esc(q)}"/>
       |<input type="hidden" name="alg" value="${esc(alg)}"/>
       |<button>Search</button></form>
       |<p>query='${esc(q)}' algorithm=${esc(alg)} page=$page results=$total</p>
       |$suggest
       |<ol start="${(page - 1).toLong * PerPage + 1}">
       |$items
       |</ol>
       |$prev $next
       |</body></html>""".stripMargin
  }
}

/** `runMain graft.SearchServer <csvPath|parquetDir> [port]` — index the
  * corpus and serve until killed (the reference's RunServer,
  * server.go:98-103).
  */
object SearchServer {

  /** Results per SERP page (reference server.go:11). */
  val PerPage = 5

  /** Request threads: enough that autocomplete keystrokes and cache hits
    * answer while SERP misses run, few enough that concurrent misses do
    * not oversubscribe a small local Spark.
    */
  val HandlerThreads = 4

  /** A bounded LRU map whose entries expire `ttlMs` after they were put;
    * `ttlMs` ≤ 0 keeps nothing. Thread-safe. `compute` runs outside the
    * lock, so concurrent misses on one key each compute, and the last put
    * wins.
    */
  private[graft] final class TtlLru[K, V](capacity: Int, ttlMs: Long) {
    private val entries =
      new java.util.LinkedHashMap[K, (V, Long)](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, (V, Long)]): Boolean =
          size() > capacity
      }
    /** Lookups answered from the map. */
    val hits = new java.util.concurrent.atomic.AtomicLong

    def getOrElseUpdate(key: K)(compute: => V): V =
      if (ttlMs <= 0) compute
      else {
        val now = System.currentTimeMillis()
        entries.synchronized(Option(entries.get(key))).filter(now - _._2 <= ttlMs) match {
          case Some((v, _)) => hits.incrementAndGet(); v
          case None =>
            val v = compute
            entries.synchronized(entries.put(key, (v, System.currentTimeMillis())))
            v
        }
      }
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: SearchServer <csvPath|parquetDir>[@blockIndexDir] [port]")
      sys.exit(2)
    }
    val path = args(0)
    val port = if (args.length > 1) args(1).toInt else 8080
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-serve")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // "corpus@indexDir" serves from the persisted (plain or segmented)
    // block index — no per-process rebuild (SearchCli.resolve)
    val (engine, docs) = SearchCli.resolve(spark, path)
    val srv = new SearchServer(engine, docs, port)
    println(s"serving on http://127.0.0.1:${srv.start()}/")
    Thread.currentThread.join()
  }
}
