package perfbench

import perfbench.Main.M

/** Per-layer metrics of a traced run, named after the engine's modules:
  * `sources`, `index`, `query`, `SearchServer` (`serve.*`), `streaming`,
  * and the Spark per-job floor of each phase (`<phase>.spark.*`).
  * `analysis` is not separable from outside the engine and is counted
  * inside the index build steps. Each value comes from the spans around
  * the benchmark's calls and the Spark jobs attributed to them.
  */
object Layers {

  def metrics(run: Run, build: BuildPhase.Result, query: QueryPhase.Result,
      serve: ServePhase.Result, ingest: Option[IngestPhase.Result],
      jobsOf: Map[Long, Seq[JobRec]], phases: Seq[(String, (Long, Long))]): Seq[M] = {
    val trace = run.trace
    val spans = trace.allSpans
    def named(n: String) = spans.filter(_.name == n)
    def jobs(ss: Seq[Span]) = ss.flatMap(s => jobsOf.getOrElse(s.id, Nil))
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Util.median(xs)
    def per(total: Double, n: Int) = if (n == 0) 0.0 else total / n
    val out = Seq.newBuilder[M]

    out += M("sources.to_docs_s", build.toDocsS, "s")
    for (ix <- Seq("block", "pos")) {
      val ss = named(s"index.$ix.build")
      val c = Trace.cost(jobs(ss))
      val wallMs = ss.map(_.ms).sum
      out ++= Seq(
        M(s"index.$ix.build_s", build.stepS.getOrElse(ix, 0.0), "s"),
        M(s"index.$ix.jobs", c.jobs, "count"),
        M(s"index.$ix.cpu_s", c.cpuS, "s"),
        M(s"index.$ix.gc_s", c.gcS, "s"),
        M(s"index.$ix.input_mb", c.inputMb, "MB"),
        M(s"index.$ix.shuffle_write_mb", c.shuffleWriteMb, "MB"),
        M(s"index.$ix.driver_s", (wallMs - c.jobMs) / 1e3, "s"),
        M(s"index.$ix.bytes_mb", build.indexBytes.getOrElse(ix, 0L) / 1e6, "MB"))
    }

    val qs = named("query.bm25TopK")
    val qn = qs.size
    val qPer = qs.map(s => Trace.cost(jobsOf.getOrElse(s.id, Nil)) -> s.ms)
    out ++= Seq(
      M("query.jobs_per_q", per(qPer.map(_._1.jobs).sum, qn), "count/q"),
      M("query.tasks_per_q", per(qPer.map(_._1.tasks).sum, qn), "count/q"),
      M("query.job_ms_per_q", per(qPer.map(_._1.jobMs).sum, qn), "ms/q"),
      M("query.driver_ms_per_q", per(qPer.map { case (c, ms) => ms - c.jobMs }.sum, qn), "ms/q"),
      M("query.input_mb_per_q", per(qPer.map(_._1.inputMb).sum, qn), "MB/q"),
      M("query.shuffle_mb_per_q", per(qPer.map(_._1.shuffleWriteMb).sum, qn), "MB/q"),
      M("query.head_p50_ms", p50(query.samples.filter(_.q.head).map(_.ms)), "ms"),
      M("query.tail_p50_ms", p50(query.samples.filter(!_.q.head).map(_.ms)), "ms"))

    // a SERP request that launched no Spark job was answered from the cache
    val reqSpan = spans.filter(_.name.startsWith("serve.request.")).map(s => s.op -> s).toMap
    val serp = serve.samples.filter(s => s.req.alg != "suggest" && s.status == 200)
    val costOf = serp.map(s => s -> Trace.cost(reqSpan.get(s.op).toSeq.flatMap(r => jobsOf.getOrElse(r.id, Nil))))
    val misses = costOf.filter(_._2.jobs > 0)
    out ++= Seq(
      M("serve.cache_hit_ratio", per(serp.size - misses.size, serp.size), "frac"),
      M("serve.jobs_per_miss", per(misses.map(_._2.jobs).sum, misses.size), "count"),
      M("serve.input_mb_per_miss", per(misses.map(_._2.inputMb).sum, misses.size), "MB"),
      M("serve.job_ms_per_miss", per(misses.map(_._2.jobMs).sum, misses.size), "ms"),
      M("serve.nonjob_ms_per_miss", per(misses.map { case (s, c) => s.latencyMs - c.jobMs }.sum, misses.size), "ms"),
      M("serve.gen_late_ms", per(serve.samples.map(_.lateMs).sum, serve.samples.size), "ms"))
    for ((alg, key) <- Seq("BM25" -> "bm25", "Wildcard" -> "wildcard", "suggest" -> "suggest"))
      out += M(s"serve.mode.$key.p50_ms", p50(serve.samples.filter(_.req.alg == alg).map(_.latencyMs)), "ms")

    // the upsert batches of `write`; zero on `read`, which ingests nothing
    val bs = named("streaming.upsert_batch")
    val bCost = bs.map(s => Trace.cost(jobsOf.getOrElse(s.id, Nil)))
    val batches = ingest.map(_.batches).getOrElse(Nil)
    val nb = batches.size
    out ++= Seq(
      M("streaming.batch_s", per(batches.map(_.seconds).sum, nb), "s"),
      M("streaming.docs_per_s", ingest.filter(_.seconds > 0).map(i => i.docs / i.seconds).getOrElse(0.0), "docs/s"),
      M("streaming.write_amp", ingest.map(_.writeAmp).getOrElse(0.0), "B/B"),
      M("streaming.batch_jobs", per(bCost.map(_.jobs).sum, nb), "count"),
      M("streaming.input_mb_per_batch", per(bCost.map(_.inputMb).sum, nb), "MB"),
      M("streaming.written_mb_per_batch", per(batches.map(_.writtenBytes).sum / 1e6, nb), "MB"),
      M("streaming.segments_max", batches.map(_.segments).maxOption.getOrElse(0).toDouble, "count"),
      M("streaming.tomb_rows_max", batches.map(_.tombRows).maxOption.getOrElse(0L).toDouble, "count"),
      M("streaming.keymap_segments", batches.lastOption.map(_.keymapSegments).getOrElse(0).toDouble, "count"))

    // the per-job floor of each phase: every job that started inside it
    val all = trace.allJobs
    for (ph <- Seq("build", "serve", "ingest", "query")) {
      val (cost, wallMs) = phases.toMap.get(ph) match {
        case Some((t0, t1)) =>
          val (s, e) = (trace.toEpochMs(t0), trace.toEpochMs(t1))
          Trace.cost(all.filter(j => j.startMs >= s && j.startMs <= e)) -> (t1 - t0) / 1e6
        case None => Trace.cost(Nil) -> 0.0
      }
      out ++= Seq(
        M(s"$ph.spark.jobs", cost.jobs, "count"),
        M(s"$ph.spark.stages", cost.stages, "count"),
        M(s"$ph.spark.tasks", cost.tasks, "count"),
        M(s"$ph.spark.driver_only_s", (wallMs - cost.jobMs) / 1e3, "s"),
        M(s"$ph.spark.gc_s", cost.gcS, "s"))
    }
    out.result()
  }
}
