package perfbench

import graft.SearchServer
import graft.index.BlockIndex
import graft.query.QueryEngine

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit}

/** The serve phase: an open loop against [[graft.SearchServer]] over HTTP,
  * serving the persisted block index through `asBundle` with the SERP cache
  * at its default. Requests are due every `serveGapMs` whether or not
  * earlier ones have been answered (independent users); at most `cores`
  * are in flight from this process. Latency counts from the due time, so a
  * stall also charges the requests queued behind it, and how late the
  * generator sent each request is recorded.
  */
object ServePhase {

  /** A request answered 200 within this limit meets the SLO. It sits above
    * the backlog the `read` schedule builds on a healthy engine, so the
    * share drops on failures and on stalls that double that backlog.
    */
  val SloMs = 15000.0

  final case class Sample(op: Long, req: Req, status: Int, latencyMs: Double,
      lateMs: Double, ids: Seq[Long], sendNs: Long, endNs: Long)

  final case class Result(samples: Seq[Sample]) {
    def latencies: Seq[Double] = samples.map(_.latencyMs)
    def sloFrac: Double =
      samples.count(s => s.status == 200 && s.latencyMs <= SloMs).toDouble / samples.size
  }

  private val HitId = """<small>#(\d+)</small>""".r

  def run(run: Run, docs: org.apache.spark.sql.DataFrame): Result = {
    val spark = run.spark
    val engine = new QueryEngine(BlockIndex.asBundle(spark, run.blockDir))
    // the server's dispatcher thread inherits this thread's Spark local
    // properties; it must not inherit a span's job group
    spark.sparkContext.clearJobGroup()
    val server = new SearchServer(engine, docs)
    val port = server.start()
    val schedule = run.inputs.serveSchedule
    // untimed: the first requests through the HTTP stack pay its warm-up
    run.inputs.warmupKeystrokes.foreach(k => send(port, Req(0, "suggest", k, None), 0L, Util.now()))
    val pool = Executors.newFixedThreadPool(run.cores)
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val startNs = Util.now() + 100L * 1000000
    try {
      schedule.foreach { req =>
        val dueNs = startNs + req.dueMs * 1000000
        val wait = (dueNs - Util.now()) / 1000000
        if (wait > 0) Thread.sleep(wait)
        val op = run.nextOp()
        pool.submit(new Runnable {
          def run(): Unit = samples.add(send(port, req, op, dueNs))
        })
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(150, TimeUnit.SECONDS)
      server.stop()
    }
    import scala.jdk.CollectionConverters._
    val all = samples.asScala.toList.sortBy(_.req.dueMs)
    all.foreach { s =>
      run.trace.record(s"serve.request.${s.req.alg}", s.op, s.sendNs, s.endNs)
      if (s.status != 200) run.fail(s"serve ${s.req.alg} '${s.req.q}': HTTP ${s.status}")
    }
    Result(all)
  }

  private def send(port: Int, req: Req, op: Long, dueNs: Long): Sample = {
    val sendNs = Util.now()
    val path =
      if (req.alg == "suggest") s"/suggest?p=${enc(req.q)}"
      else s"/?q=${enc(req.q)}&alg=${enc(req.alg)}"
    val (status, body) =
      try {
        val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection()
          .asInstanceOf[HttpURLConnection]
        c.setConnectTimeout(10000)
        c.setReadTimeout(120000)
        val code = c.getResponseCode
        val in = if (code == 200) c.getInputStream else c.getErrorStream
        val b = if (in == null) "" else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
        (code, b)
      } catch { case _: java.io.IOException => (-1, "") }
    val endNs = Util.now()
    val ids = if (req.alg == "BM25") HitId.findAllMatchIn(body).map(_.group(1).toLong).toSeq else Nil
    Sample(op, req, status, (endNs - dueNs) / 1e6, (sendNs - dueNs) / 1e6, ids, sendNs, endNs)
  }

  private def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)
}
