package graft.index

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The segment lifecycle of every persisted index — [[BlockIndex]],
  * [[GramIndex]], [[PositionalIndex]] and [[SymbolIndex]] — in one place:
  * the Lucene/LSM model of immutable segments under one index root.
  *
  * Commit protocol:
  *   - A segment is a complete plain index in its own directory
  *     (`<prefix><name>`). Its own meta file, written LAST, is its commit
  *     marker: a directory without one is an unfinished build.
  *   - The root's segment list — the ordered segment names, the uniform
  *     index parameters and the highest committed docId — is replaced
  *     atomically ([[MetaIO.writeAtomic]]). Readers see the old list or
  *     the new one, never a mix; a segment built but not listed is
  *     invisible, so a kill anywhere before the commit leaves the old
  *     index intact. `"."` in a list is the root itself: the in-place
  *     conversion of a plain index by its first refresh.
  *   - Replay is detected by generation name. A caller-keyed `genName`
  *     (a streaming micro-batch id) that is already listed makes
  *     [[refresh]] a no-op before any work; the default name is the
  *     delta's docId range, so a killed refresh rebuilds its own
  *     directory. Compactions are named by corpus identity
  *     (`<prefix>compact-…`, `<prefix>tier-<hash>-<n>`) for the same reason.
  *   - Segments partition the corpus by docId: a refresh's ids must all
  *     exceed the committed maxDocId, which deletion never lowers.
  *   - Deletes are immutable tombstone generations (`tomb-*`, committed
  *     by `_tombstones.json`) that every query anti-joins ([[liveOnly]])
  *     until [[compact]] folds them out and clears them.
  *   - Writes are single-writer: refresh, delete and compaction must not
  *     run concurrently on one root (a compaction's
  *     [[sweepUnreferenced]] would remove a concurrent refresh's unlisted
  *     segment). The streaming sinks serialize them by construction.
  *
  * Each index supplies its names (segment prefix, list file, marker file,
  * root artifacts), its "segments → new segment" [[merge]] and, for
  * [[BlockIndex]], a [[commit]] that recomputes combined statistics.
  */
abstract class SegmentStore(val prefix: String, listName: String,
    markerName: String, what: String) {
  import SegmentStore._

  /** Marker fields carried into the segment list, in on-disk order. */
  protected def paramKeys: Seq[String]

  /** Root entries besides `shard=*` that belong to the base segment "."
    * and go when it is no longer listed.
    */
  protected def rootArtifacts: Seq[String]

  /** Top-level entries of a segment that are derived data, not counted
    * in its size for tiered merging.
    */
  protected def derived(name: String): Boolean = false

  /** The count after maxDocId in a full compaction's generation name. */
  protected def compactTag(s: Segments): Long = s.segs.size.toLong

  /** maxDocId of a plain segment whose marker predates the field. */
  protected def scanMaxDocId(dir: String): Long

  /** Fold the stored rows of the plain segments `dirs`, filtered by
    * `keep`, into one new plain segment at `target`.
    */
  protected def merge(dirs: Seq[String], keep: DataFrame => DataFrame,
      target: String, s: Segments): Unit

  /** Commit `segs` as the root's segment list. */
  protected def commit(dir: String, segs: Seq[String], s: Segments,
      maxDocId: Long): Segments = {
    val m = Segments(segs, s.params, maxDocId)
    writeList(dir, m)
    m
  }

  def isSegmented(dir: String): Boolean = MetaIO.exists(s"$dir/$listName")

  /** True iff `dir` holds a committed index (plain or segmented). */
  def exists(dir: String): Boolean =
    MetaIO.exists(s"$dir/$markerName") || isSegmented(dir)

  def resolve(dir: String, seg: String): String =
    if (seg == ".") dir else s"$dir/$seg"

  /** Absolute segment directories of `dir` (just `dir` when plain). */
  def segDirs(dir: String): Seq[String] =
    if (!isSegmented(dir)) Seq(dir)
    else readList(dir).segs.map(resolve(dir, _))

  def readList(dir: String): Segments = {
    val j = MetaIO.readMeta(s"$dir/$listName")
    Segments(j.strings("segs"), paramKeys.map(k => k -> j(k)), j("maxDocId"))
  }

  def writeList(dir: String, m: Segments): Unit =
    MetaIO.writeMeta(s"$dir/$listName",
      m.params ++ Seq("maxDocId" -> m.maxDocId, "nonce" -> System.nanoTime()),
      Seq("segs" -> m.segs))

  /** The commit marker of the plain segment `seg`. */
  def readMarker(seg: String): MetaIO.Meta =
    MetaIO.readMeta(s"$seg/$markerName")

  /** Committed state, segmented or plain (a plain root is the list
    * `Seq(".")` with its marker's parameters and maxDocId).
    */
  def state(dir: String): Segments =
    if (isSegmented(dir)) readList(dir)
    else {
      val j = readMarker(dir)
      Segments(Seq("."), paramKeys.map(k => k -> j(k)),
        j.get("maxDocId").getOrElse(scanMaxDocId(dir)))
    }

  /** Add a delta as one new segment without touching committed data:
    * `writeDelta(segDir, segState)` builds it — `segState` carries the
    * root's parameters and the delta's maxDocId — then the list is
    * replaced. `id` is the delta's docId column. An empty delta commits
    * the current state.
    */
  def refresh(newDocs: DataFrame, id: Column, dir: String,
      genName: Option[String])(writeDelta: (String, Segments) => Unit): Segments = {
    val meta = state(dir)
    def listed(gen: String) = isSegmented(dir) && readList(dir).segs.contains(gen)
    genName.map(prefix + _).foreach(gen => if (listed(gen)) return readList(dir))
    val b = newDocs.agg(min(id), max(id), count(lit(1))).head()
    if (b.getLong(2) == 0L) {
      if (!isSegmented(dir)) writeList(dir, meta)
      return readList(dir)
    }
    val (minNew, maxNew) = (b.getLong(0), b.getLong(1))
    val gen = prefix + genName.getOrElse(s"$minNew-$maxNew")
    if (listed(gen)) return readList(dir)
    require(minNew > meta.maxDocId,
      s"refresh docIds must exceed committed maxDocId=${meta.maxDocId}, got min=$minNew")
    writeDelta(s"$dir/$gen", Segments(Seq(gen), meta.params, maxNew))
    commit(dir, meta.segs :+ gen, meta, maxNew)
  }

  /** Fold every committed segment into ONE, from stored rows with
    * tombstoned docs dropped; then commit the singleton list, clear the
    * tombstones and sweep unreferenced data. A kill between the commit
    * and the clear re-runs a no-op fold next time: wasteful once, never
    * wrong. maxDocId survives even when the max-id doc was deleted.
    */
  def compact(dir: String): Segments = {
    val tomb = readTombMeta(dir).filter(_.gens.nonEmpty)
    require(isSegmented(dir) || tomb.nonEmpty,
      s"$dir is not a segmented $what and has no tombstones to fold out")
    val meta = state(dir)
    if (meta.segs.size == 1 && meta.segs.head != "." && tomb.isEmpty) {
      // nothing to fold, but a killed earlier compaction may have left
      // unreferenced data behind — reclaim it now
      sweepUnreferenced(dir, meta)
      return meta
    }
    val gen = s"${prefix}compact-${meta.maxDocId}-${compactTag(meta)}" +
      tomb.fold("")(t => s"-d${t.nIds}")
    merge(meta.segs.map(resolve(dir, _)), liveOnly(dir, _), s"$dir/$gen", meta)
    val m = commit(dir, Seq(gen), meta, meta.maxDocId)
    clearTombstones(dir)
    sweepUnreferenced(dir, m)
    m
  }

  /** Bounded-write-amplification maintenance, the Lucene
    * TieredMergePolicy shape: tombstones past `tombFraction` of the docId
    * space escalate to the full [[compact]]; a segment count past
    * `maxSegments` folds the `mergeFactor` (default `maxSegments / 2`)
    * SMALLEST segments by on-disk bytes into one, from their stored
    * rows. A partial merge changes where rows live, never which exist:
    * tombstones keep gating every segment and maxDocId never drops. No-op
    * below both triggers.
    */
  def compactTiered(dir: String, maxSegments: Int, mergeFactor: Int,
      tombFraction: Double): Segments = {
    require(maxSegments >= 2, s"maxSegments must be >= 2, got $maxSegments")
    val meta = state(dir)
    val tomb = readTombMeta(dir).filter(_.gens.nonEmpty)
    if (tomb.exists(t => meta.maxDocId >= 0 &&
        t.nIds > tombFraction * (meta.maxDocId + 1)))
      return compact(dir)
    if (!isSegmented(dir) || meta.segs.size <= maxSegments) return meta
    val mf = math.min(
      if (mergeFactor >= 2) mergeFactor else math.max(2, maxSegments / 2),
      meta.segs.size)
    val skipTop = (n: String) =>
      n.startsWith(prefix) || n.startsWith("tomb-") || derived(n)
    val victims = meta.segs
      .map(s => s -> MetaIO.dirBytes(resolve(dir, s), skipTop))
      .sortBy { case (s, b) => (b, s) }
      .take(mf).map(_._1)
    val gen = s"${prefix}tier-" + java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(victims.mkString("|"))) +
      s"-${victims.size}"
    merge(victims.map(resolve(dir, _)), identity, s"$dir/$gen", meta)
    val m = commit(dir, meta.segs.filterNot(victims.contains) :+ gen, meta,
      meta.maxDocId)
    sweepUnreferenced(dir, m)
    m
  }

  /** Delete every segment directory the committed list does not name
    * (the ones a compaction just folded, and leftovers of any earlier
    * kill between a commit and its cleanup), plus the root's own
    * artifacts when the base "." is no longer listed.
    */
  def sweepUnreferenced(dir: String, committed: Segments): Unit = {
    val referenced = committed.segs.toSet
    val stale = MetaIO.list(dir).filter(n => n.startsWith(prefix) && !referenced(n)) ++
      (if (referenced(".")) Nil
       else MetaIO.list(dir).filter(_.startsWith("shard=")) ++ rootArtifacts)
    stale.foreach(n => MetaIO.deleteIfExists(s"$dir/$n", recursive = true))
  }
}

/** A [[SegmentStore]] whose segments are parquet tables of `columns`
  * partitioned by `shard = pmod(xxhash64(key), nShards)` and sorted by
  * (key, docId) within files, so row-group stats serve a pushed key
  * filter — the layout of the gram, positional and symbol sidecars.
  * With `dfName`, each segment also holds a per-key df table under that
  * name. `stamps` are marker fields the writer records and the reader
  * requires unchanged: an artifact written under another convention is
  * refused, not misread.
  */
class ShardedStore(prefix: String, listName: String, markerName: String,
    what: String, key: String, columns: Seq[String], schema: String,
    protected val paramKeys: Seq[String], dfName: Option[String],
    derivedNames: Seq[String], stamps: Seq[(String, Long)])
    extends SegmentStore(prefix, listName, markerName, what) {
  import SegmentStore.shardPaths

  protected def rootArtifacts: Seq[String] =
    dfName.toSeq ++ derivedNames :+ markerName

  override protected def derived(name: String): Boolean =
    derivedNames.contains(name)

  override def readMarker(seg: String): MetaIO.Meta = {
    val j = super.readMarker(seg)
    stamps.foreach { case (k, v) =>
      if (!j.get(k).contains(v))
        throw new IllegalStateException(
          s"$seg/$markerName records $k=${j.get(k).getOrElse("none")}, " +
            s"this build requires $k=$v — rebuild the index")
    }
    j
  }

  /** The stored rows of the plain segments `dirs` — only `shards` when
    * given, else all of each segment's shards — as one union, or an empty
    * relation of the same columns.
    */
  def storedRows(dirs: Seq[String], shards: Option[Seq[Int]]): DataFrame = {
    val spark = SparkSession.active
    dirs.flatMap { seg =>
      val paths = shardPaths(seg,
        shards.getOrElse(0 until readMarker(seg)("nShards").toInt))
      if (paths.isEmpty) None
      else Some(spark.read.option("basePath", seg).parquet(paths: _*)
        .select(columns.map(col): _*))
    }.reduceOption(_ union _).getOrElse(spark.createDataFrame(
      java.util.Collections.emptyList[Row](),
      org.apache.spark.sql.types.StructType.fromDDL(schema)))
  }

  private def sharded(rows: DataFrame, nShards: Long): DataFrame =
    rows.withColumn("shard", pmod(xxhash64(col(key)), lit(nShards)).cast("int"))
      .repartition(col("shard"))

  /** Write `rows` as the plain segment `dir` (overwriting): one shuffle to
    * the shard partitioning, then the df table and the segment's
    * maxDocId from a read-back of the written key/docId columns (without
    * a df table, `maxDocId` as given). The marker — `params`, maxDocId,
    * the stamps — goes last.
    */
  def writeSegment(rows: DataFrame, dir: String, params: Seq[(String, Long)],
      maxDocId: Long): Unit = {
    val nShards = params.collectFirst { case ("nShards", n) => n }.get
    require(nShards > 0, s"nShards must be positive, got $nShards")
    MetaIO.deleteIfExists(dir, recursive = true)
    sharded(rows, nShards)
      .sortWithinPartitions(col(key), col("docId"))
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
    val maxDoc = dfName.fold(maxDocId) { df =>
      val paths = shardPaths(dir, 0 until nShards.toInt)
      if (paths.isEmpty) -1L
      else {
        val back = rows.sparkSession.read.option("basePath", dir).parquet(paths: _*)
        sharded(back.groupBy(col(key)).agg(count(lit(1)).as("df")), nShards)
          .sortWithinPartitions(col(key))
          .write.mode("overwrite").partitionBy("shard").parquet(s"$dir/$df")
        back.agg(max(col("docId"))).head().getLong(0)
      }
    }
    MetaIO.writeMeta(s"$dir/$markerName",
      params ++ (("maxDocId" -> maxDoc) +: stamps), Nil)
  }

  protected def scanMaxDocId(dir: String): Long =
    storedRows(Seq(dir), None).agg(coalesce(max(col("docId")), lit(-1L)))
      .head().getLong(0)

  protected def merge(dirs: Seq[String], keep: DataFrame => DataFrame,
      target: String, s: SegmentStore.Segments): Unit =
    writeSegment(keep(storedRows(dirs, None)), target, s.params, s.maxDocId)
}

object SegmentStore {

  /** The `shard=N` directories of `seg` that exist — a shard with no
    * rows gets no directory from partitionBy, and passing a missing path
    * to the parquet reader throws instead of reading empty.
    */
  def shardPaths(seg: String, shards: Seq[Int]): Seq[String] =
    shards.map(sh => s"$seg/shard=$sh").filter(MetaIO.exists)

  /** Committed state of an index root: ordered segment names ("." = the
    * root itself), the uniform index parameters and the highest
    * committed docId (the floor for the next refresh).
    */
  final case class Segments(segs: Seq[String], params: Seq[(String, Long)],
      maxDocId: Long) {
    def apply(key: String): Long = params.collectFirst { case (`key`, v) => v }
      .getOrElse(sys.error(s"no index parameter $key"))
  }

  /** Committed tombstone state: the parquet generation directories
    * holding deleted docIds, plus the total committed row count (used
    * for compaction naming and the broadcast-vs-shuffle filter choice;
    * it counts committed delete ROWS, which may include repeats or ids
    * absent from the index — both harmless to the anti-join).
    */
  final case class TombMeta(gens: Seq[String], nIds: Long)

  val TombMetaName = "_tombstones.json"

  /** Default tombstone fraction past which tiered maintenance escalates
    * to a full compaction.
    */
  val TombFraction = 0.2

  /** Above this many committed tombstone rows the query-side filter
    * stops hinting broadcast and lets the planner shuffle — a delete
    * set that big should be compacted away, not carried per query.
    */
  val BroadcastTombCap = 4000000L

  def readTombMeta(dir: String): Option[TombMeta] =
    if (!MetaIO.exists(s"$dir/$TombMetaName")) None
    else {
      val j = MetaIO.readMeta(s"$dir/$TombMetaName")
      Some(TombMeta(j.strings("gens"), j.get("nIds").getOrElse(0L)))
    }

  /** An opened tombstone state: the committed deleted docIds as one
    * relation, and the committed row count that picks the join strategy.
    */
  final case class Tombs(ids: DataFrame, nIds: Long) {

    /** Filter a relation with a `docId` column down to live docs, keeping
      * its column order. A small committed delete set broadcasts; past
      * [[BroadcastTombCap]] the planner chooses. A left-anti join ignores
      * duplicate keys, so an id deleted in several generations needs no
      * `distinct` (which would cost an aggregation and a shuffle).
      */
    def live(rel: DataFrame): DataFrame =
      rel.join(if (nIds <= BroadcastTombCap) broadcast(ids) else ids,
          Seq("docId"), "left_anti")
        .select(rel.columns.map(col).toIndexedSeq: _*)
  }

  /** Open the committed tombstone generations `m` of `dir`. */
  def openTombs(spark: SparkSession, dir: String, m: TombMeta): Tombs =
    Tombs(m.gens.map(g => spark.read.parquet(s"$dir/$g").select(col("docId")))
      .reduce(_ unionByName _), m.nIds)

  private def committedTombs(spark: SparkSession, dir: String): Option[Tombs] =
    readTombMeta(dir).filter(_.gens.nonEmpty).map(openTombs(spark, dir, _))

  /** The committed tombstoned docIds as a relation (None when no delete
    * was ever committed — the fast path pays one metadata existence
    * check and nothing else).
    */
  def tombstones(spark: SparkSession, dir: String): Option[DataFrame] =
    committedTombs(spark, dir).map(_.ids)

  /** Commit one immutable tombstone generation for `ids` (a `docId`
    * column) under `dir`, named by `genName` or by the delete set's
    * (min, max, count); an already-committed name is a no-op before any
    * work. See [[BlockIndex.delete]] for the semantics.
    */
  def delete(ids: DataFrame, dir: String, genName: Option[String]): TombMeta = {
    val cur = readTombMeta(dir).getOrElse(TombMeta(Nil, 0L))
    genName.map(g => s"tomb-$g").foreach(gen => if (cur.gens.contains(gen)) return cur)
    val b = ids.agg(min(col("docId")), max(col("docId")), count(lit(1))).head()
    if (b.getLong(2) == 0L) return cur
    val gen = genName.map(g => s"tomb-$g")
      .getOrElse(s"tomb-${b.getLong(0)}-${b.getLong(1)}-${b.getLong(2)}")
    if (cur.gens.contains(gen)) return cur
    ids.select(col("docId").cast("long").as("docId"))
      .write.mode("overwrite").parquet(s"$dir/$gen")
    val m = TombMeta(cur.gens :+ gen, cur.nIds + b.getLong(2))
    MetaIO.writeMeta(s"$dir/$TombMetaName",
      Seq("nIds" -> m.nIds, "nonce" -> System.nanoTime()), Seq("gens" -> m.gens))
    m
  }

  /** Drop all tombstone state — after a compaction physically removed
    * the deleted docs. Removes the meta, then EVERY `tomb-*` directory
    * (committed or the leftover of a killed delete).
    */
  def clearTombstones(dir: String): Unit = {
    MetaIO.deleteIfExists(s"$dir/$TombMetaName")
    MetaIO.list(dir).filter(_.startsWith("tomb-"))
      .foreach(n => MetaIO.deleteIfExists(s"$dir/$n", recursive = true))
  }

  /** Filter a relation with a `docId` column down to live (untombstoned)
    * docs ([[Tombs.live]]); no tombstones ⇒ the relation is returned
    * untouched.
    */
  def liveOnly(dir: String, rel: DataFrame): DataFrame =
    committedTombs(rel.sparkSession, dir).fold(rel)(_.live(rel))
}
