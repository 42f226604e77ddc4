package perfbench

import graft.index.BlockIndex

import scala.collection.mutable.ArrayBuffer

/** The query phase: after an untimed warm-up query, one closed-loop
  * client issuing `bm25TopK(k = 10)` against the block index, for
  * `--seconds` rounded up to a whole number of four-query cycles: on
  * `read` the index as built, on `write` the segmented,
  * tombstoned index the upsert batch left. It isolates the WAND read path;
  * nothing is written. Each result is kept and
  * compared with its golden list once the golden lists exist
  * ([[Golden]]).
  */
object QueryPhase {

  final case class Sample(q: Q, ms: Double, ids: Seq[Long])

  final case class Result(samples: Seq[Sample], elapsedS: Double) {
    def latencies: Seq[Double] = samples.map(_.ms)
    def qps: Double = samples.size / elapsedS
  }

  def run(run: Run): Result = {
    // untimed warm-up: the first calls compile the WAND path's plans
    val w = run.inputs.warmupQuery
    run.trace.span("query.warmup")(BlockIndex.bm25TopK(run.spark, run.blockDir, w.text, 10).collect())
    val qs = run.inputs.queries(5000)
    val budgetMs = run.seconds * 1000L
    val samples = ArrayBuffer.empty[Sample]
    val t0 = Util.now()
    var i = 0
    // whole cycles of the stream's 3:1 head/tail mix, so every run's
    // quantiles are taken over the same mix however many queries fit
    while (i < qs.size && (i < run.sizes.minQueries || Util.msSince(t0) < budgetMs || i % 4 != 0)) {
      val q = qs(i)
      val op = run.nextOp()
      val s = Util.now()
      try {
        val rows = run.trace.span("query.bm25TopK", op) {
          BlockIndex.bm25TopK(run.spark, run.blockDir, q.text, 10).collect()
        }
        samples += Sample(q, Util.msSince(s), rows.map(_.getLong(0)).toSeq)
      } catch {
        case e: Exception => run.fail(s"query '${q.text}': $e")
      }
      i += 1
    }
    Result(samples.toList, Util.msSince(t0) / 1e3)
  }
}
