package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <read|write> --seed <n> --seconds <s>
  * --trace <0|1>` (plus `--cores`, `--work`, `--out` from perfbench/run.py).
  *
  * Every run goes through set-up and the phases build, query and serve
  * (`read`) or build, serve, ingest and query (`write`), on one local
  * Spark session with `cores` worker threads; the workload ([[Profile]])
  * picks the indexes, the serve mix and the upsert batches, the seed every
  * input. With `--trace 0` it
  * prints the end-to-end metrics; with `--trace 1` it runs the same phases
  * under the tracer and prints the per-layer metrics, including the
  * tracing overhead against the last untraced run of the workload. The last
  * stdout line is the JSON result; a wrong answer exits 1.
  */
object Main {

  final case class M(name: String, value: Double, unit: String)

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = argv.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = a("workload")
    val profile = Profile.all.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload' (known: ${Profile.all.keys.toSeq.sorted.mkString(", ")})")
      sys.exit(2)
    })
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val out = a("out")
    val sizes = if (flags("toy")) Sizes.toy else Sizes.full

    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark, traced)
    val run = new Run(spark, trace, new Inputs(seed, profile), sizes,
      a("seconds").toInt, cores, a("work"))

    def phase[A](name: String)(f: => A): (A, Long, Long) = {
      System.err.println(s"[perfbench] phase $name")
      val t0 = Util.now()
      val r = trace.span(s"phase.$name")(f)
      System.err.println(f"[perfbench] phase $name took ${Util.msSince(t0) / 1e3}%.1f s")
      (r, t0, Util.now())
    }
    // `read` queries before it serves, so the SERPs meet a warm JVM as the
    // queries do; `write` serves the index as built, then ingests, then
    // queries the index the batch left
    val (build, bt0, bt1) = phase("build")(BuildPhase.run(run, seed))
    val ingests = profile.batches > 0
    val early = if (ingests) None else Some(phase("query")(QueryPhase.run(run)))
    val (serve, st0, st1) = phase("serve")(ServePhase.run(run, build.docs))
    val ingest = if (!ingests) None else Some(phase("ingest")(IngestPhase.run(run, build.docs)))
    val (query, qt0, qt1) = early.getOrElse(phase("query")(QueryPhase.run(run)))
    Golden.check(run, query, serve, ingest.map(_._1), flags("corrupt-golden"))
    trace.drain()

    // documents written into indexes per second of indexing work: every
    // build, and on `write` the upsert batch
    val indexDocsPerS = ingest.map(_._1).fold(build.allDocsPerS) { i =>
      (build.nDocs + i.docs) / (build.nDocs / build.allDocsPerS + i.seconds)
    }
    val e2e = Seq(
      M("setup_s", build.setupS, "s"),
      M("build_block_docs_per_s", build.blockDocsPerS, "docs/s"),
      M("index_docs_per_s", indexDocsPerS, "docs/s"),
      M("index_bytes_per_corpus_byte", build.bytesPerCorpusByte, "B/B"),
      M("query_p50_ms", Util.quantile(query.latencies, 0.5), "ms"),
      M("query_p90_ms", Util.quantile(query.latencies, 0.9), "ms"),
      M("query_qps", query.qps, "1/s"),
      M("serve_p50_ms", Util.quantile(serve.latencies, 0.5), "ms"),
      M("serve_p90_ms", Util.quantile(serve.latencies, 0.9), "ms"),
      M("serve_slo_frac", serve.sloFrac, "frac"),
      M("ok_frac", 1.0 - run.failed.toDouble / math.max(1L, run.attempted), "frac"),
      M("peak_rss_mb", Util.peakRssMb(), "MB"))
    System.err.println(s"[perfbench] samples: queries=${query.samples.size} " +
      s"serve=${serve.samples.size} batches=${ingest.map(_._1.batches.size).getOrElse(0)}")
    e2e.foreach(m => System.err.println(f"[perfbench] ${m.name}%-30s ${m.value}%14.4f ${m.unit}"))

    val lastUntraced = new java.io.File(s"$out/last-untraced-$workload.tsv")
    val metrics =
      if (!traced) {
        if (!flags("toy")) {
          lastUntraced.getParentFile.mkdirs()
          java.nio.file.Files.write(lastUntraced.toPath,
            e2e.map(m => s"${m.name}\t${m.value}").mkString("\n").getBytes("UTF-8"))
        }
        e2e
      } else {
        val jobsOf = trace.jobsBySpan("serve.request.")
        trace.write(s"$out/traces/spans-$workload-$seed.jsonl", jobsOf)
        val base: Map[String, Double] =
          if (!lastUntraced.exists()) {
            run.note("no untraced run of this workload yet: trace_overhead.* reads 0")
            e2e.map(m => m.name -> m.value).toMap
          } else scala.io.Source.fromFile(lastUntraced).getLines()
            .map(_.split("\t")).collect { case Array(k, v) => k -> v.toDouble }.toMap
        Layers.metrics(run, build, query, serve, ingest.map(_._1), jobsOf,
          Seq("build" -> (bt0, bt1), "query" -> (qt0, qt1), "serve" -> (st0, st1)) ++
            ingest.map { case (_, it0, it1) => "ingest" -> (it0, it1) }) ++
          e2e.map(m => M(s"trace_overhead.${m.name}", m.value - base.getOrElse(m.name, m.value), m.unit))
      }
    if (traced) metrics.foreach(m => System.err.println(f"[perfbench] ${m.name}%-40s ${m.value}%14.4f ${m.unit}"))
    spark.stop()

    val correct = run.wrong == 0
    val body = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, run.attempted)}, "failed": ${run.failed}, "metrics": {$body}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}
