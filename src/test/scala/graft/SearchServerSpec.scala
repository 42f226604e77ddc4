package graft

import graft.index.{BlockIndex, IndexBuilder}
import graft.query.QueryEngine
import graft.sources.CorpusSource
import graft.tools.{CorpusGen, JobLog}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The HTTP SERP surface (reference server.go:55-103): q/page/alg params,
  * 5-per-page pagination with prev/next, unknown-algorithm fallback to
  * BM25, and agreement with the CLI query path on the reference corpus.
  */
class SearchServerSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  private lazy val docs = CorpusSource.readDocsCsv(
    spark, SparkSessionFixture.resourcePath("example.csv"))
  private lazy val engine = new QueryEngine(IndexBuilder.build(docs, k = 3),
    positions = Some(graft.index.PositionalIndex.positionsStream(docs)),
    rawDocs = Some(docs))

  private lazy val server: SearchServer = {
    val s = new SearchServer(engine, docs, port = 0)
    s.start()
    s
  }
  private lazy val client = HttpClient.newHttpClient()

  private def get(query: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${server.boundPort}/$query")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("BM25 golden query over HTTP: rank order #3 then #2") {
    val (code, body) = get("?q=matrix+communication+channel&alg=BM25")
    assert(code == 200)
    assert(body.contains("results=2"))
    val i3 = body.indexOf("Code-division multiple access")
    val i2 = body.indexOf("Latent semantic analysis")
    assert(i3 >= 0 && i2 >= 0 && i3 < i2, "rank order must be #3 then #2")
  }

  test("SERP cache: identical request served from cache, identical body; TTL=0 disables") {
    val cached = new SearchServer(engine, docs, port = 0,
      serpCacheTtlMs = 60000L)
    val port = cached.start()
    try {
      def fetch(): String = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/?q=matrix+communication+channel&alg=BM25"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      val first = fetch()
      assert(cached.cacheHits == 0L)
      val second = fetch()
      assert(cached.cacheHits == 1L, "repeat request must hit the SERP cache")
      assert(second == first, "cached SERP must render identically")
      // a different page is its own cache key — not a false hit
      client.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$port/?q=matrix+communication+channel&alg=BM25&page=2"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(cached.cacheHits == 1L)
    } finally cached.stop()
    val uncached = new SearchServer(engine, docs, port = 0,
      serpCacheTtlMs = 0L)
    uncached.start()
    try {
      val (h1, t1) = uncached.search("matrix communication channel", "BM25", 1)
      val (h2, t2) = uncached.search("matrix communication channel", "BM25", 1)
      assert(uncached.cacheHits == 0L, "TTL=0 must bypass the cache")
      assert(h1 == h2 && t1 == t2)
    } finally uncached.stop()
  }

  test("unknown algorithm falls back to BM25 (reference server.go:39-53)") {
    val (_, viaUnknown) = get("?q=matrix+communication+channel&alg=NoSuchAlg")
    val (_, viaBm25) = get("?q=matrix+communication+channel&alg=BM25")
    // identical result list (strip the echoed algorithm name before comparing)
    def results(b: String) = b.substring(b.indexOf("<ol"))
    assert(results(viaUnknown) == results(viaBm25))
  }

  test("pagination: page beyond the results is empty and links back") {
    val (code, body) = get("?q=matrix+communication+channel&alg=BM25&page=2")
    assert(code == 200)
    assert(!body.contains("<li>"))
    assert(body.contains("id=\"prev\""))
    assert(!body.contains("id=\"next\""))
  }

  test("empty / missing query returns an empty SERP, no error") {
    assert(get("?q=&alg=BM25")._1 == 200)
    val (code, body) = get("")
    assert(code == 200 && body.contains("results=0"))
  }

  test("corpus@indexDir serving: block-index-backed server == in-memory server") {
    val csv = SparkSessionFixture.resourcePath("example.csv")
    val idx = java.nio.file.Files.createTempDirectory("serve-idx").toString
    graft.index.BlockIndex.build(docs, idx,
      graft.index.BlockIndex.Layout(blockSpan = 4, nShards = 4))
    val (idxEngine, idxDocs) = SearchCli.resolve(spark, s"$csv@$idx")
    val s2 = new SearchServer(idxEngine, idxDocs, port = 0)
    s2.start()
    try {
      for (alg <- Seq("BM25", "Classic TF-IDF", "Terms", "Fuzzy")) {
        val q = if (alg == "Fuzzy") "matrx comunication chanel"
                else "matrix communication channel"
        assert(s2.search(q, alg, 1) == server.search(q, alg, 1), s"alg=$alg")
      }
    } finally s2.stop()
  }

  test("SERP snippets: each hit previews its match with terms bracketed") {
    val (code, body) = get("?q=matrix+communication+channel&alg=BM25")
    assert(code == 200)
    assert(body.contains("class=\"snippet\""))
    // doc 3 (communication+channel, no matrix) falls back to its first
    // matching term; doc 2 brackets its lone 'matrix' occurrence
    assert(body.contains("[channel]"), body)
    assert(body.contains("[matrix]"), body)
  }

  test("Grep algorithm over HTTP: case-sensitive raw substring hits render with raw excerpt") {
    val (code, body) = get("?q=Cohen&alg=Grep")
    assert(code == 200)
    assert(body.contains("results=1"), body)
    assert(body.contains("Cohen's kappa"))
    // the snippet is the RAW excerpt with the needle bracketed (not the
    // token-based KWIC window)
    assert(body.contains("[Cohen]"), body)
    // a needle crossing a token boundary still previews
    val (_, crossBody) = get("?q=rater+reliability&alg=Grep")
    assert(crossBody.contains("results=1"), crossBody)
    assert(crossBody.contains("[rater reliability]"), crossBody)
    // lowercase needle misses the capitalized body text
    assert(get("?q=cohen&alg=Grep")._2.contains("results=0"))
  }

  test("Proximity algorithm over HTTP: tightest window first, pair bracketed") {
    val (code, body) = get("?q=communication+channel&alg=Proximity")
    assert(code == 200)
    assert(body.contains("results=1"), body)
    assert(body.contains("Code-division multiple access"))
    // the adjacent pair is the best covering window → rendered together
    assert(body.contains("[communication] [channel]"), body)
  }

  test("zero-result typo query renders a did-you-mean link; hits never do") {
    val (code, body) = get("?q=matrx+comunication&alg=BM25")
    assert(code == 200 && body.contains("results=0"))
    assert(body.contains("id=\"didyoumean\""), body)
    assert(body.contains(">matrix communication</a>"), body)
    // a query with results shows no suggestion block
    val (_, ok) = get("?q=matrix+communication+channel&alg=BM25")
    assert(!ok.contains("didyoumean"))
  }

  test("/suggest endpoint: df-ranked prefix completions, empty prefix empty body") {
    val (code, body) = get("suggest?p=sem")
    assert(code == 200)
    assert(body.linesIterator.toSeq.headOption.exists(_.startsWith("sem")), body)
    assert(body.contains("semantic"), body)
    assert(get("suggest?p=")._2.isEmpty)
    assert(get("suggest?p=zzzz")._2.isEmpty)
  }

  test("engine failure: 500 to the client, message and stack trace on stderr") {
    // a docs relation without `title` makes every hit's materialize throw
    val broken = new SearchServer(engine, docs.drop("title"), port = 0,
      serpCacheTtlMs = 0L)
    val port = broken.start()
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val resp =
      try client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/?q=matrix+communication+channel&alg=BM25"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      finally { System.setErr(saved); broken.stop() }
    assert(resp.statusCode() == 500)
    val msg = resp.body().stripPrefix("internal error: ").linesIterator.next()
    val logged = err.toString("UTF-8")
    assert(msg.nonEmpty && logged.contains(msg), s"stderr lacks '$msg':\n$logged")
    assert(logged.contains("500 /?q=matrix"))
  }

  private def getAt(port: Int, path: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/$path"))
        .timeout(java.time.Duration.ofSeconds(120)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A seeded 120-doc model-form corpus, read back from parquet as a
    * server reads its corpus.
    */
  private lazy val genDocs = {
    val dir = tmpDir("serve-corpus")
    CorpusSource.sourceFilesToDocs(CorpusGen.generate(spark, 120, seed = 23))
      .select("docId", "title", "body", "url")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def ids(xs: Long*) = {
    val sp = spark
    import sp.implicits._
    xs.toDF("docId")
  }

  test("corpus@indexDir serving: block-route BM25 SERP ≡ in-memory SERP on pages 1-3") {
    val oneBlock = BlockIndex.Layout(blockSpan = 4096, nShards = 4)
    val plain = tmpDir("serp-plain")
    BlockIndex.build(genDocs, plain, oneBlock)
    val refreshed = tmpDir("serp-refreshed")
    BlockIndex.build(genDocs.where(col("docId") <= 70), refreshed, oneBlock)
    BlockIndex.refresh(genDocs.where(col("docId") > 70), refreshed)
    assert(BlockIndex.readSegments(refreshed).segs.size == 2)
    val tombstoned = tmpDir("serp-tombstoned")
    BlockIndex.build(genDocs, tombstoned, oneBlock)
    val deleted = ids(3L, 8L, 21L, 55L, 90L)
    BlockIndex.delete(deleted, tombstoned)
    // 4-doc blocks: ~30 block rows per term, so head-term queries take
    // the WAND route
    val wand = tmpDir("serp-wand")
    BlockIndex.build(genDocs, wand, BlockIndex.Layout(blockSpan = 4, nShards = 4))
    BlockIndex.bm25TopKWithTotal(spark, wand, "def val", 5)
    assert(BlockIndex.lastDriverMetaRows > 2, "the WAND route collects phase-1 and θ rows")
    // the in-memory twin of a tombstoned index: statistics of the whole
    // corpus, postings of the live docs only
    val all = IndexBuilder.build(genDocs, k = 3)
    val live = all.copy(postings = all.postings.join(deleted, Seq("docId"), "left_anti"))
    // at most two distinct terms and qcnt ≤ 2 per query, so every plan
    // sums the same per-term scores bit-identically
    val requests = (for {
      q <- Seq("def val", "id0 return return", "class id3 nosuchterm")
      page <- 1 to 3
    } yield (q, "BM25", page)) ++ Seq(("def val", "NoSuchAlg", 1),
      ("nosuchterm", "BM25", 1), ("", "BM25", 1))
    def answers(engine: QueryEngine) = {
      val srv = new SearchServer(engine, genDocs, serpCacheTtlMs = 0L)
      try requests.map { case (q, alg, page) => srv.search(q, alg, page) }
      finally srv.stop()
    }
    val memory = answers(new QueryEngine(all))
    assert(memory.head._1.size == 5 && memory.head._2 > 15)
    val memoryLive = answers(new QueryEngine(live))
    for ((name, dir, want) <- Seq(("plain", plain, memory),
        ("refreshed", refreshed, memory), ("tombstoned", tombstoned, memoryLive),
        ("wand", wand, memory))) {
      val got = answers(new QueryEngine(BlockIndex.asBundle(spark, dir)))
      requests.zip(got).zip(want).foreach { case ((req, g), w) =>
        assert(g == w, s"$name $req")
      }
    }
  }

  test("page numbers past the last result render the empty page, without overflow") {
    val idx = tmpDir("serp-overflow")
    BlockIndex.build(docs, idx, BlockIndex.Layout(blockSpan = 4096, nShards = 4))
    val block = new SearchServer(new QueryEngine(BlockIndex.asBundle(spark, idx)), docs)
    val blockPort = block.start()
    try {
      for (port <- Seq(server.boundPort, blockPort);
           path <- Seq("?q=matrix&alg=BM25&page=429496730",
             "?q=matrix&alg=Terms&page=500000000",
             "?q=matrix&alg=BM25&page=2147483647")) {
        val (code, body) = getAt(port, path)
        assert(code == 200, s"$path: $body")
        assert(!body.contains("<li>") && body.contains("results=1"), body)
        assert(body.contains("id=\"prev\"") && !body.contains("id=\"next\""), body)
      }
    } finally block.stop()
  }

  test("block-backed BM25 SERP miss: at most 2 Spark jobs (3 tombstoned); a cache hit none") {
    val idx = tmpDir("serp-jobs")
    BlockIndex.build(genDocs, idx, BlockIndex.Layout(blockSpan = 4096, nShards = 4))
    val log = new JobLog(spark)
    val srv = new SearchServer(new QueryEngine(BlockIndex.asBundle(spark, idx)), genDocs)
    try {
      srv.search("import class", "BM25", 1) // opens the index epoch
      val ((hits, total), miss) = log.record(srv.search("def val", "BM25", 1))
      assert(hits.size == 5 && total > 5)
      assert(miss.size <= 2, miss.mkString("\n"))
      val (again, hit) = log.record(srv.search("def val", "BM25", 1))
      assert(hit.isEmpty && again == ((hits, total)))
      BlockIndex.delete(ids(hits.head.docId), idx)
      srv.search("import class", "BM25", 2) // opens the tombstoned epoch
      val ((tombHits, _), tombMiss) = log.record(srv.search("def return", "BM25", 1))
      assert(tombHits.size == 5 && !tombHits.exists(_.docId == hits.head.docId))
      assert(tombMiss.size <= 3, tombMiss.mkString("\n"))
    } finally srv.stop()
  }

  test("block-backed Wildcard and Fuzzy SERP misses: at most 4 Spark jobs, none per token") {
    val idx = tmpDir("serp-approx-jobs")
    BlockIndex.build(genDocs, idx, BlockIndex.Layout(blockSpan = 4096, nShards = 4))
    val log = new JobLog(spark)
    val engine = new QueryEngine(BlockIndex.asBundle(spark, idx))
    val memory = new QueryEngine(IndexBuilder.build(genDocs, k = 3))
    val srv = new SearchServer(engine, genDocs)
    try {
      srv.suggest("im") // opens the index epoch and caches the vocabulary
      // five tokens: no reset, a reset after a token without candidates,
      // and two resets
      for ((alg, q) <- Seq(("Wildcard", "retur* overrid* publi* stati* extend*"),
          ("Wildcard", "retur* zzzq* clas* objec* packag*"),
          ("Fuzzy", "retrn overide publc statc extnds"),
          ("Fuzzy", "retrn zzzzqq clas objct pakage"),
          ("Fuzzy", "retrn zzzzqq clas zzzzqq pakage"))) {
        val ((hits, total), miss) = log.record(srv.search(q, alg, 1))
        assert(hits.nonEmpty && total > 0, s"$alg '$q'")
        assert(miss.size <= 4, s"$alg '$q':\n${miss.mkString("\n")}")
        val want = memory.serpPage(alg, q, 1)
        assert((hits.map(_.docId), total) == want, s"$alg '$q'")
      }
      // did-you-mean runs the same probe, one job for every token
      val (dym, jobs) = log.record(srv.didYouMean("retrn zzzzqq clas objct pakage"))
      assert(dym == memory.suggestQuery("retrn zzzzqq clas objct pakage"))
      assert(dym.contains("return zzzzqq class object package"), dym)
      assert(jobs.size == 1, jobs.mkString("\n"))
    } finally srv.stop()
  }

  test("suggest and did-you-mean caches: repeats launch no Spark job; TTL=0 disables") {
    val log = new JobLog(spark)
    val cached = new SearchServer(engine, docs, port = 0)
    val port = cached.start()
    try {
      val (first, j1) = log.record(cached.suggest("sem"))
      assert(j1.nonEmpty && first.contains("semantic"))
      val (second, j2) = log.record(cached.suggest("sem"))
      assert(j2.isEmpty, j2.mkString("\n"))
      assert(second == first && getAt(port, "suggest?p=sem")._2 == first)
      val (dym, d1) = log.record(cached.didYouMean("matrx comunication"))
      assert(d1.nonEmpty && dym.contains("matrix communication"))
      val (dym2, d2) = log.record(cached.didYouMean("matrx comunication"))
      assert(d2.isEmpty && dym2 == dym)
    } finally cached.stop()
    val uncached = new SearchServer(engine, docs, port = 0, serpCacheTtlMs = 0L)
    try {
      log.record(uncached.suggest("sem"))
      assert(log.record(uncached.suggest("sem"))._2.nonEmpty)
      log.record(uncached.didYouMean("matrx comunication"))
      assert(log.record(uncached.didYouMean("matrx comunication"))._2.nonEmpty)
    } finally uncached.stop()
  }

  test("request threads: a SERP held in the engine does not delay /suggest; concurrent ≡ sequential") {
    import SearchServerSpec.{entered, release}
    implicit val ec: ExecutionContext = ExecutionContext.global
    val hold = udf { (t: String) =>
      entered.countDown(); release.await(60, TimeUnit.SECONDS); t
    }
    val held = new SearchServer(engine, docs.withColumn("title", hold(col("title"))),
      port = 0, serpCacheTtlMs = 0L)
    val heldPort = held.start()
    try {
      val serp = Future(getAt(heldPort, "?q=matrix+communication+channel&alg=BM25"))
      assert(entered.await(60, TimeUnit.SECONDS), "the SERP never reached its page lookup")
      val (code, body) = getAt(heldPort, "suggest?p=sem")
      assert(code == 200 && body.contains("semantic"))
      assert(!serp.isCompleted, "the SERP must still be held while /suggest answers")
      release.countDown()
      val (serpCode, serpBody) = Await.result(serp, 120.seconds)
      assert(serpCode == 200 && serpBody.contains("results=2"), serpBody)
    } finally { release.countDown(); held.stop() }

    val uncached = new SearchServer(engine, docs, port = 0, serpCacheTtlMs = 0L)
    val port = uncached.start()
    try {
      val paths = Seq("?q=matrix+communication+channel&alg=BM25",
        "?q=matrix+communication+channel&alg=BM25&page=2", "?q=sem*t*c&alg=Wildcard",
        "?q=radi+techologies&alg=Fuzzy", "?q=semantic+analysis&alg=Terms",
        "?q=Cohen&alg=Grep", "?q=communication+channel&alg=Proximity", "suggest?p=se")
      val sequential = paths.map(getAt(port, _))
      val concurrent = Await.result(Future.sequence(paths.map(p => Future(getAt(port, p)))),
        300.seconds)
      assert(sequential.forall(_._1 == 200))
      assert(concurrent == sequential)
    } finally uncached.stop()
  }

  test("server.search == the CLI query path (byName + paginate + materialize)") {
    val (hits, total) = server.search("matrix communication channel", "BM25", 1)
    assert(total == 2)
    assert(hits.map(_.docId) == Seq(3L, 2L))
    assert(hits.head.title == "Code-division multiple access")
  }
}

object SearchServerSpec {
  // a SERP's page lookup waits on `release` once it has counted `entered`
  val entered = new CountDownLatch(1)
  val release = new CountDownLatch(1)
}
