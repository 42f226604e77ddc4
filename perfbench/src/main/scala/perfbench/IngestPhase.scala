package perfbench

import graft.index.{BlockIndex, KeyMap}
import graft.streaming.StreamOps
import graft.tools.CorpusGen
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** The ingest phase (`write` only): a single writer runs `indexUpsertBatch`
  * micro-batches into the block index and its positional sidecar, which
  * the build phase wrote, with the documents' `url` as key. Each batch
  * replaces some live keys and adds some new ones. The query phase then
  * runs against the segmented, tombstoned index the batches leave, so a
  * write-path gain that costs query latency shows up.
  */
object IngestPhase {

  final case class Batch(docs: Int, seconds: Double, userBytes: Long,
      writtenBytes: Long, segments: Int, tombRows: Long, keymapSegments: Int)

  /** `liveIds` are the documents a query may return afterwards, `retired`
    * the versions the batches replaced.
    */
  final case class Result(batches: Seq[Batch], liveIds: Set[Long], retired: Set[Long]) {
    def docs: Int = batches.map(_.docs).sum
    def seconds: Double = batches.map(_.seconds).sum
    def writeAmp: Double = batches.map(_.writtenBytes).sum.toDouble / batches.map(_.userBytes).sum
  }

  def run(run: Run, docs: org.apache.spark.sql.DataFrame): Result = {
    val spark = run.spark
    import spark.implicits._
    val kdir = s"${run.work}/idx/keymap"
    val layout = BlockIndex.readStats(run.blockDir)._2
    // the base index is keyed by url: the keymap gets the build's rows
    val live = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    run.trace.span("setup.keymap") {
      KeyMap.commit(docs.select(col("url").as("key"), col("docId")), kdir, "base")
      docs.select(col("url"), col("docId")).collect().foreach(r => live(r.getString(0)) = r.getLong(1))
    }
    val dirs = Seq(run.blockDir, run.posDir, kdir)
    def snapshot() = dirs.map(Util.files).reduce(_ ++ _)

    val batches = ArrayBuffer.empty[Batch]
    var retiredAll = Set.empty[Long]
    var liveIds = live.values.toSet
    for (b <- 1 to run.inputs.profile.batches) {
      val keys = run.inputs.batchKeys(b, run.sizes.batchDocs, live.keys.toIndexedSeq)
      val contents = CorpusGen.generate(spark, keys.size, seed = run.inputs.batchSeed(b))
        .select(col("content")).collect().map(_.getString(0))
      val rows = keys.zip(contents).map { case (k, body) => (k.takeWhile(_ != '@'), body, k) }
      val userBytes = rows.map { case (t, bd, u) => (t + bd + u).getBytes("UTF-8").length.toLong }.sum
      val batch = rows.toDF("title", "body", "url")
      val retired = keys.flatMap(live.get).toSet
      val before = snapshot()
      val op = run.nextOp()
      val s = Util.now()
      run.trace.span("streaming.upsert_batch", op) {
        StreamOps.indexUpsertBatch(batch, b.toLong, run.blockDir, layout, Seq("url"),
          kdir, genTag = "bench", posDir = Some(run.posDir))
      }
      val seconds = Util.msSince(s) / 1e3
      val written = Util.writtenBytes(before, snapshot())

      // the keymap's live rows are exactly the expected keys, one each,
      // and no retired version is among them
      val now = run.trace.span("check.live_rows") {
        KeyMap.liveRows(spark, kdir, run.blockDir).collect().map(r => r.getString(0) -> r.getLong(1))
      }
      keys.foreach(k => live(k) = -1L)
      now.foreach { case (k, id) => live(k) = id }
      liveIds = now.map(_._2).toSet
      run.check(now.length == live.size && now.map(_._1).distinct.length == now.length,
        s"ingest batch $b: ${now.length} live rows for ${live.size} keys")
      run.check(retired.forall(id => !liveIds.contains(id)),
        s"ingest batch $b: a retired version is still live")
      retiredAll ++= retired
      val tomb = BlockIndex.readTombMeta(run.blockDir).map(_.nIds).getOrElse(0L)
      val segs = if (BlockIndex.isSegmented(run.blockDir)) BlockIndex.readSegments(run.blockDir).segs.size else 1
      batches += Batch(keys.size, seconds, userBytes, written, segs, tomb,
        KeyMap.readMeta(kdir).segs.size)
    }
    Result(batches.toList, liveIds, retiredAll)
  }
}
