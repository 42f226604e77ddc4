package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SegmentStore.liveOnly

/** Persisted ctags-shaped symbol sidecar — the "jump to definition" /
  * symbol-ranked-search structure Zoekt and GitHub code search store
  * NEXT TO the content index rather than recompute per query. Rows are
  * [[graft.pipeline.CodeOps.symbolDefs]]'s (symbol, kind, docId, n_defs),
  * persisted like the house's other sidecars: parquet partitioned by
  * `shard = pmod(xxhash64(symbol), nShards)`, sorted by (symbol, docId)
  * within files so row-group stats serve the pushed equality filter.
  *
  * Query plan (the 10^12-file shape): a symbol lookup is driver-routed to
  * ONE shard directory (same XXH64 arithmetic as the writer) with
  * `EqualTo(symbol, …)` pushed to parquet — bytes touched are one shard's
  * pruned row groups, independent of corpus size; the per-file ranking
  * aggregation runs over the ≤df(symbol) surviving rows. Extraction cost
  * is paid ONCE at build (a single map-only pass), not per query as in
  * the transform-side [[graft.pipeline.CodeOps.symbolSearch]].
  *
  * Maintenance is the [[SegmentStore]] lifecycle shared by every index
  * (`sseg-*` segments, `_symmeta.json` markers, `_symsegments.json`
  * list); [[compact]] and [[compactTiered]] fold from STORED rows, no
  * re-extraction.
  */
object SymbolIndex {

  /** Extraction half, shared by build and refresh: the symbolDefs
    * relation renamed to the sidecar's (symbol, kind, docId, n_defs).
    */
  def symbolRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.pipeline.CodeOps.symbolDefs(docs, idCol, textCol)
      .select(col("symbol"), col("kind"),
        col("id").cast("long").as("docId"), col("n_defs"))

  /** Build the persisted symbol index at `dir` (overwrites): one shuffle
    * (repartition by shard), files sorted by (symbol, docId). The meta
    * file is the commit marker and records the CORPUS maxDocId (from the
    * input docs, not the symbol rows — a batch of symbol-free files must
    * still raise [[refresh]]'s disjointness floor).
    */
  def build(docs: DataFrame, idCol: String, textCol: String, dir: String,
      nShards: Int = 16): Unit = {
    val maxDocId = docs.agg(max(col(idCol).cast("long"))).head() match {
      case r if r.isNullAt(0) => -1L
      case r => r.getLong(0)
    }
    buildFromRows(symbolRows(docs, idCol, textCol), dir, nShards, maxDocId)
  }

  /** The write half of [[build]], also the engine of [[compact]] /
    * [[compactTiered]] (which re-segment from STORED rows).
    */
  private def buildFromRows(rows: DataFrame, dir: String, nShards: Int,
      maxDocId: Long): Unit =
    Store.writeSegment(rows, dir, Seq("nShards" -> nShards.toLong), maxDocId)

  def readMeta(dir: String): (Int, Long) = {
    val j = Store.readMarker(dir)
    (j("nShards").toInt, j("maxDocId"))
  }

  /** Live (symbol, kind, docId, n_defs) rows for exactly this symbol:
    * driver-routed to its one shard directory per live segment with the
    * equality filter pushed to parquet, tombstones anti-joined. A doc's
    * symbols live in exactly one segment (refresh floor), so the
    * cross-segment union is disjoint by docId.
    */
  def lookup(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(name.nonEmpty, "empty symbol name; refusing")
    val nShards = Store.state(dir)("nShards").toInt
    liveOnly(dir, Store.storedRows(Store.segDirs(dir),
      Some(Seq(BlockIndex.shardOf(name, nShards))))
      .where(col("symbol") === name))
  }

  /** Indexed twin of [[graft.pipeline.CodeOps.symbolSearch]] — identical
    * output (id, weight, n_defs) and ranking (strongest defining kind,
    * then definition count, then id), but the extraction never reruns:
    * the plan is the routed pushed-equality scan plus one small groupBy.
    */
  def searchIndexed(spark: SparkSession, dir: String,
      name: String): DataFrame =
    lookup(spark, dir, name)
      .groupBy(col("docId").as("id"))
      .agg(max(graft.pipeline.CodeOps.kindWeightCol(col("kind")))
        .as("weight"),
        sum(col("n_defs")).cast("long").as("n_defs"))
      .orderBy(col("weight").desc, col("n_defs").desc, col("id").asc)

  // ---------------------------------------------------------------------
  // Segments + tombstones: the [[SegmentStore]] lifecycle, symbol-schema'd
  // ---------------------------------------------------------------------

  val SymSegmentsName = "_symsegments.json"

  /** Committed state of a segmented root: ordered segment names ("." =
    * the root itself), the uniform shard count, and the highest committed
    * docId (the disjointness floor for [[refresh]]).
    */
  final case class SymSegMeta(segs: Seq[String], nShards: Int,
      maxDocId: Long)

  private[graft] val Store = new ShardedStore("sseg-", SymSegmentsName,
    "_symmeta.json", "symbol index", "symbol",
    Seq("symbol", "kind", "docId", "n_defs"),
    "symbol string, kind string, docId long, n_defs long", Seq("nShards"),
    None, Nil, Nil)

  private def toMeta(s: SegmentStore.Segments): SymSegMeta =
    SymSegMeta(s.segs, s("nShards").toInt, s.maxDocId)

  def isSegmented(dir: String): Boolean = Store.isSegmented(dir)

  /** True iff `dir` holds a committed symbol index (plain or segmented). */
  def exists(dir: String): Boolean = Store.exists(dir)

  def readSegments(dir: String): SymSegMeta = toMeta(Store.readList(dir))

  /** Incrementally add `newDocs`' symbols WITHOUT touching committed
    * data: one new segment under the [[SegmentStore]] commit protocol.
    * `newDocs.docId` must exceed the committed maxDocId; a caller-keyed
    * `genName` (a streaming micro-batch id) makes replay a no-op before
    * any work.
    */
  def refresh(newDocs: DataFrame, idCol: String, textCol: String,
      dir: String, genName: Option[String] = None): SymSegMeta =
    toMeta(Store.refresh(newDocs, col(idCol).cast("long"), dir, genName) {
      (seg, s) => buildFromRows(symbolRows(newDocs, idCol, textCol), seg,
        s("nShards").toInt, s.maxDocId)
    })

  /** Mark documents DELETED without touching committed segment data —
    * [[BlockIndex.delete]] on this directory; every query path anti-joins
    * them; [[compact]] folds them out.
    */
  def delete(ids: DataFrame, dir: String,
      genName: Option[String] = None): BlockIndex.TombMeta =
    BlockIndex.delete(ids, dir, genName)

  /** Fold all committed segments back into ONE from the STORED rows,
    * tombstoned docs dropped, no re-extraction ([[SegmentStore.compact]]).
    */
  def compact(dir: String): SymSegMeta = toMeta(Store.compact(dir))

  /** Tiered maintenance ([[SegmentStore.compactTiered]]), the same
    * triggers and partial-merge semantics as [[BlockIndex.compactTiered]].
    */
  def compactTiered(dir: String, maxSegments: Int, mergeFactor: Int = 0,
      tombFraction: Double = SegmentStore.TombFraction): SymSegMeta =
    toMeta(Store.compactTiered(dir, maxSegments, mergeFactor, tombFraction))
}
