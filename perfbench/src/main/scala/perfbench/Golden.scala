package perfbench

import graft.index.BlockIndex

/** Golden top-10 lists from ONE `bm25TopKBatch` call over every distinct
  * query the query and serve phases issued. The engine's specs assert the
  * batch path rank-identical to `bm25TopK` and to the SERP's naive BM25, so
  * each timed answer must equal its golden list: a query result in full,
  * a BM25 SERP's page 1 as the list's first five ids. The lists are made
  * after the timed phases, so their cost stays out of every timing; the
  * index has not changed since the BM25 SERPs (only `write` ingests, and
  * it serves no SERP). After ingest every query hit must also be a live
  * document and no retired version.
  */
object Golden {

  def check(run: Run, query: QueryPhase.Result, serve: ServePhase.Result,
      ingest: Option[IngestPhase.Result], corrupt: Boolean): Unit = {
    val texts = (query.samples.map(_.q.text) ++
      serve.samples.flatMap(_.req.bm25Terms)).distinct
    val golden0: Map[String, Seq[Long]] = run.trace.span("setup.golden") {
      BlockIndex.bm25TopKBatch(run.spark, run.blockDir, texts, 10).collect()
        .groupBy(_.getString(0))
        .map { case (q, rows) => q -> rows.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq }
    }
    // self-test hook: a golden list that no correct engine can match
    val golden =
      if (!corrupt || query.samples.isEmpty) golden0
      else {
        val q = query.samples.head.q.text
        golden0.updated(q, -1L +: golden0.getOrElse(q, Nil))
      }
    query.samples.foreach { s =>
      val want = golden.getOrElse(s.q.text, Nil)
      run.check(s.ids == want, s"query '${s.q.text}': got ${s.ids} want $want")
      ingest.foreach { i =>
        run.check(s.ids.forall(id => i.liveIds(id) && !i.retired(id)),
          s"query '${s.q.text}' after ingest: ${s.ids.filterNot(i.liveIds)} not live")
      }
    }
    serve.samples.filter(_.status == 200).foreach { s =>
      s.req.bm25Terms match {
        case Some(t) =>
          val want = golden.getOrElse(t, Nil).take(5)
          run.check(s.ids == want, s"serve BM25 '$t': page 1 ${s.ids} want $want")
        case None => run.check(ok = true, "")
      }
    }
  }
}
