package graft.streaming

import graft.pipeline.TextPipeline
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming faces of the pipeline — the reference's only
  * incremental path is the crawler's save-then-rebuild loop (reference
  * crawler.go:181-205 + searcher.go:272); at 100 TB the ingest side is a
  * stream, so the engine's streaming-safe operators are exposed here:
  *
  *   - `docStream`: file-arrival micro-batches over the corpus directory
  *     (any writer appending parquet becomes an ingest producer);
  *   - `dedupExactStream`: cross-batch exact dedup on sha256(content),
  *     with a watermark-bounded variant whose state does not grow
  *     forever;
  *   - `enrich`: the per-row TextPipeline features (token counts,
  *     quality, language ID) are stateless Column expressions and run on
  *     streams unchanged — asserted by spec, not just claimed;
  *   - `eventCountsByWindow`: watermarked sliding-window aggregation
  *     over an event stream (late data beyond the watermark dropped);
  *   - `streamingTermStats`: incremental (term → df, Σtf) maintenance via
  *     `flatMapGroupsWithState` — the streaming counterpart of the batch
  *     index's termStats relation, state partitioned by term exactly like
  *     the batch shuffle.
  */
object StreamOps {

  /** Micro-batch document source over a parquet corpus directory (the
    * schema must be supplied — streaming sources do not infer).
    */
  def docStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Cross-batch exact dedup: first arrival of each content hash wins.
    * State = one row per distinct hash — unbounded on purpose (global
    * dedup); use the watermarked variant when arrival skew is bounded.
    */
  def dedupExactStream(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("content_sha", TextPipeline.contentSha(col(textCol)))
      .dropDuplicates("content_sha")

  /** Watermark-bounded dedup: duplicates are only suppressed within the
    * event-time watermark window, so state is evicted as the watermark
    * advances — the 100 TB-stream-safe configuration.
    */
  def dedupExactStreamWatermarked(
      docs: DataFrame, textCol: String,
      tsCol: String, delay: String): DataFrame =
    docs
      .withColumn("content_sha", TextPipeline.contentSha(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("content_sha")

  /** Stateless per-row enrichment (token counts / quality / language) —
    * identical Column expressions to the batch path, so batch ≡ stream
    * row-for-row.
    */
  def enrich(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("*"),
      TextPipeline.wsTokenCount(col(textCol)).cast("long").as("ws_tokens"),
      TextPipeline.qualityScore(col(textCol)).as("quality"),
      TextPipeline.langId(col(textCol)).as("lang_detected"))

  /** Watermarked sliding-window event aggregation: (window, event_type) →
    * count + Σvalue. Late events beyond `watermarkDelay` are dropped.
    */
  def eventCountsByWindow(
      events: DataFrame, windowDur: String, slideDur: String,
      watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur, slideDur), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("total_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("total_value"))

  final case class TermPosting(term: String, docId: Long, tf: Int)
  final case class TermState(df: Long, totalTf: Long)
  final case class TermStatsUpdate(term: String, df: Long, totalTf: Long)

  /** The per-STREAM marker scoping batch-id replay detection: batchIds
    * restart at 0 whenever a stream runs with a fresh checkpoint, so a
    * bare `b0` marker from an earlier run would make the new stream's
    * first batches look like replays and silently drop their data. The
    * checkpoint directory IS the replay domain — same checkpoint ⇒ same
    * batch contents on redelivery — so its hash scopes the marker.
    */
  private[graft] def runTag(checkpointDir: String): String = {
    // canonicalize spelling variants of the SAME checkpoint (trailing
    // slash, file: scheme, doubled separators) — hadoop Path normalizes
    // and the scheme is dropped so "/tmp/ck" ≡ "file:/tmp/ck"; the
    // authority is kept so distinct hdfs namespaces stay distinct
    val uri = new org.apache.hadoop.fs.Path(checkpointDir).toUri
    val canon = Option(uri.getAuthority).getOrElse("") +
      Option(uri.getPath).filter(_.nonEmpty).getOrElse(checkpointDir)
    val bytes = canon.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    java.lang.Long.toHexString(
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        bytes.length, 42) & 0xffffffffL)
  }

  /** One optional sidecar of [[indexRefreshBatch]]: its segment store and
    * directory, how to lay down an empty base, and how to commit a batch.
    */
  private final case class Sidecar(store: graft.index.SegmentStore,
      dir: String, init: DataFrame => Unit, refresh: DataFrame => Unit)

  /** Commit ONE micro-batch of documents (title, body, url — ids are
    * assigned here) into the block index at `dir` as an immutable
    * segment: the Structured-Streaming face of
    * [[graft.index.BlockIndex.refresh]]. Dense docIds continue from the
    * committed maxDocId (deterministic within the batch via
    * `idSortCols`); the segment is keyed by `genTag` (the stream's
    * [[runTag]]) + the micro-batch id, so a redelivered batch —
    * foreachBatch's at-least-once contract — is detected as already
    * committed and becomes a no-op BEFORE any renumbering could
    * double-commit it, while a different stream (fresh checkpoint,
    * batchIds restarting) against the same index commits normally.
    * First call on an empty directory lays down an empty base index, so
    * every batch takes the same refresh path.
    */
  def indexRefreshBatch(
      batch: DataFrame, batchId: Long, dir: String,
      layout: graft.index.BlockIndex.Layout,
      idSortCols: Seq[String],
      compactEvery: Int = 0,
      genTag: String = "",
      posDir: Option[String] = None,
      posShards: Int = 8,
      gramDir: Option[String] = None,
      gramShards: Int = 8,
      maxSegments: Int = 0,
      armNextword: Boolean = false,
      docsWithIds: Option[DataFrame] = None,
      symDir: Option[String] = None,
      symShards: Int = 16): Unit = {
    import graft.index.{BlockIndex, GramIndex, PositionalIndex, SymbolIndex}
    val marker = if (genTag.isEmpty) s"b$batchId" else s"b$genTag-$batchId"
    val corpusCols = batch.select(
      col("title").cast("string"), col("body").cast("string"),
      col("url").cast("string"))
    val empty = corpusCols.withColumn("docId", lit(0L)).limit(0)
    if (!BlockIndex.isSegmented(dir) &&
        !graft.index.MetaIO.exists(s"$dir/${BlockIndex.StatsName}")) {
      BlockIndex.build(empty, dir, layout)
    }
    // the optional sidecars — positional, gram (code-grep), symbol
    // (ctags), in that order — commit the SAME batch under the SAME
    // marker, BEFORE the block index: block-committed ⇒ sidecar-
    // committed, so the block marker check below safely gates them all,
    // and a crash between commits replays into sidecar genName no-ops
    // followed by the block commit (ids re-derive identically because
    // the block maxDocId is still the pre-crash value). Nextword arming
    // is DERIVED and idempotent (immutable segments; armed ones skip), so
    // it sits outside the commit protocol: a crash mid-arm leaves that
    // segment on the unigram path and the next batch heals it; a
    // replayed batch re-arms nothing. Per-batch cost is one
    // pair-aggregation over the DELTA segment only.
    val sidecars = posDir.map(pd => Sidecar(PositionalIndex.Store, pd,
        PositionalIndex.build(_, pd, posShards),
        { docs =>
          PositionalIndex.refresh(docs, pd, Some(marker))
          if (armNextword) PositionalIndex.buildNextword(pd)
        })).toSeq ++
      gramDir.map(gd => Sidecar(GramIndex.Store, gd,
        GramIndex.build(_, "docId", "body", gd, nShards = gramShards),
        GramIndex.refresh(_, "docId", "body", gd, Some(marker)))) ++
      symDir.map(sd => Sidecar(SymbolIndex.Store, sd,
        SymbolIndex.build(_, "docId", "body", sd, nShards = symShards),
        SymbolIndex.refresh(_, "docId", "body", sd, Some(marker))))
    sidecars.foreach(s => if (!s.store.exists(s.dir)) s.init(empty))
    if (BlockIndex.isSegmented(dir)) {
      val segs = graft.index.BlockIndex.readSegments(dir).segs
      // the bare-batchId marker is the pre-runTag legacy format: a
      // RESUMED stream on an index the earlier sink built must keep
      // detecting its replays (harmless on new-format indexes, whose
      // markers always carry a tag). One-time migration caveat: before
      // attaching a brand-NEW stream to a legacy index, compact() it so
      // stale bare markers cannot shadow the new stream's batchIds.
      if (segs.contains(s"seg-$marker") || segs.contains(s"seg-b$batchId"))
        return // replayed micro-batch: already committed
    }
    // maintenance BEFORE committing this batch's segment: the segments
    // folded here belong to batches whose offsets are already committed
    // (micro-batches execute serially), so none of them can replay and
    // their batch-keyed names are safe to lose. Compacting AFTER the
    // refresh would fold the CURRENT batch's marker too — and a crash
    // before the offset commit would then replay it undetected.
    //
    // That justification gates the BLOCK index only. The sidecars commit
    // FIRST, so a crash between a sidecar refresh and the block refresh
    // replays this batch with the sidecar marker already committed: its
    // compact() would fold that marker away while preserving maxDocId,
    // and the subsequent sidecar refresh — no longer a detectable replay
    // — would fail its docId floor check forever. Guard: a sidecar that
    // already holds the CURRENT batch's marker is mid-replay of an
    // uncommitted batch and must not compact this cycle (its refresh
    // below no-ops; compaction runs on the next committed batch).
    def settledSegs(s: Sidecar): Option[Seq[String]] =
      if (!s.store.isSegmented(s.dir)) None
      else Some(s.store.readList(s.dir).segs)
        .filterNot(_.contains(s.store.prefix + marker))
    if (compactEvery > 0) {
      if (BlockIndex.isSegmented(dir) &&
          BlockIndex.readSegments(dir).segs.size >= compactEvery)
        BlockIndex.compact(dir)
      sidecars.foreach { s =>
        if (settledSegs(s).exists(_.size >= compactEvery)) s.store.compact(s.dir)
      }
    }
    // tiered maintenance (compactTiered): partial merges of the smallest
    // segments — bounded write amplification, the steady-state policy for
    // a long-running sink (compactEvery's full fold rewrites the whole
    // index every N batches). Same crash-window guard as above.
    if (maxSegments > 0) {
      if (BlockIndex.isSegmented(dir)) BlockIndex.compactTiered(dir, maxSegments)
      sidecars.foreach { s =>
        if (settledSegs(s).nonEmpty)
          s.store.compactTiered(s.dir, maxSegments, 0,
            graft.index.SegmentStore.TombFraction)
      }
    }
    val docs = docsWithIds.getOrElse {
      val start =
        math.max(BlockIndex.committedMaxDocId(batch.sparkSession, dir) + 1L, 1L)
      graft.sources.CorpusSource.withDenseDocIds(
        corpusCols, idSortCols.map(col), firstId = start)
    }
    sidecars.foreach(_.refresh(docs))
    BlockIndex.refresh(docs, dir, genName = Some(marker))
  }

  /** A live, queryable search index over a document stream: every
    * micro-batch commits as one segment via [[indexRefreshBatch]];
    * concurrent readers (bm25TopK / asBundle) see each commit atomically.
    * The reference's only incremental story is crawl-then-full-rebuild
    * (crawler.go:181-205 + searcher.go:272); this is the 100 TB-shaped
    * replacement: ingest keeps up with arrivals, compaction
    * ([[graft.index.BlockIndex.compact]]) runs as periodic maintenance.
    */
  def indexRefreshSink(
      docs: DataFrame, dir: String,
      layout: graft.index.BlockIndex.Layout,
      checkpointDir: String,
      idSortCols: Seq[String],
      compactEvery: Int = 0,
      posDir: Option[String] = None,
      posShards: Int = 8,
      gramDir: Option[String] = None,
      gramShards: Int = 8,
      maxSegments: Int = 0,
      armNextword: Boolean = false,
      symDir: Option[String] = None,
      symShards: Int = 16): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        indexRefreshBatch(batch, batchId, dir, layout, idSortCols, compactEvery,
          genTag = runTag(checkpointDir), posDir = posDir, posShards = posShards,
          gramDir = gramDir, gramShards = gramShards, maxSegments = maxSegments,
          armNextword = armNextword, symDir = symDir, symShards = symShards)
      }
      .start()

  /** foreachBatch hook for a CDC-style DELETE stream: each micro-batch
    * of docIds commits one tombstone generation keyed by the batch id
    * ([[graft.index.BlockIndex.delete]]'s genName), so a replayed batch
    * is detected before any work — the delete-side twin of
    * [[indexRefreshBatch]]. The optional positional sidecar tombstones
    * the SAME ids under the SAME marker; both commits are idempotent by
    * name, so a crash between them converges on replay (the committed
    * one no-ops, the other commits). Compaction folds deletes out on the
    * refresh sink's existing maintenance cadence — or call compact()
    * directly as maintenance.
    */
  def indexDeleteBatch(batch: DataFrame, batchId: Long, dir: String,
      genTag: String = "", posDir: Option[String] = None,
      gramDir: Option[String] = None,
      symDir: Option[String] = None): Unit = {
    val marker = if (genTag.isEmpty) s"b$batchId" else s"b$genTag-$batchId"
    val ids = batch.select(col("docId").cast("long").as("docId"))
    // sidecars first, block last; every index's delete is the same
    // tombstone commit on its own directory
    (posDir ++ gramDir ++ symDir ++ Seq(dir)).foreach(d =>
      graft.index.BlockIndex.delete(ids, d, Some(marker)))
  }

  /** A live delete stream against a persisted index: every micro-batch
    * of docIds tombstones via [[indexDeleteBatch]]; concurrent readers
    * see each commit atomically and never a half-applied delete set.
    */
  def indexDeleteSink(ids: DataFrame, dir: String, checkpointDir: String,
      posDir: Option[String] = None, gramDir: Option[String] = None,
      symDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ids.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        indexDeleteBatch(batch, batchId, dir,
          genTag = runTag(checkpointDir), posDir = posDir, gramDir = gramDir,
          symDir = symDir)
      }
      .start()

  /** foreachBatch hook for REPLACE-BY-KEY (Lucene `updateDocument`
    * semantics): each micro-batch of (title, body, url) document
    * versions — keyed by `url`, the reference's document identity —
    *
    *   1. retires the keys' current versions: live docIds resolved
    *      through the [[graft.index.KeyMap]] sidecar are tombstoned
    *      across the block index and both sidecars under this batch's
    *      marker ([[indexDeleteBatch]]);
    *   2. commits the new versions' (key, docId) rows to the keymap at
    *      the SAME fresh docIds the refresh below derives (the
    *      deterministic [[graft.sources.CorpusSource.withDenseDocIds]]
    *      assignment off the committed maxDocId floor);
    *   3. appends the new versions as a normal [[indexRefreshBatch]].
    *
    * Every step is idempotent under this batch's marker, and they
    * commit in tombstones → keymap → sidecars → block order, so a crash
    * anywhere replays to convergence: the block-marker fast path skips
    * fully-committed batches; a half-committed batch re-derives
    * IDENTICAL ids (maxDocId is still the pre-crash floor) and each
    * committed piece no-ops by name. The keymap lookup is bounded to
    * the committed block maxDocId, so a replayed batch can never
    * tombstone its OWN in-flight versions through the already-committed
    * kseg ([[graft.index.KeyMap.liveRows]]).
    *
    * Visibility: delete-then-append means a query between the two
    * commits sees the key ABSENT (never both versions); the window
    * closes when the batch's block segment lands. Keys new to the index
    * take the pure-insert path (empty retire set), so one stream
    * carries mixed inserts and updates — the recrawl shape.
    *
    * New docs must carry ONE version per key per batch (enforced
    * loudly): two versions of a key inside one batch would otherwise
    * both go live, and "latest" is undefined inside an unordered batch.
    */
  def indexUpsertBatch(
      batch: DataFrame, batchId: Long, dir: String,
      layout: graft.index.BlockIndex.Layout,
      idSortCols: Seq[String],
      keymapDir: String,
      genTag: String = "",
      posDir: Option[String] = None,
      posShards: Int = 8,
      gramDir: Option[String] = None,
      gramShards: Int = 8,
      maxSegments: Int = 0,
      armNextword: Boolean = false,
      keymapMaxSegments: Int = 0): Unit = {
    import graft.index.{BlockIndex, KeyMap}
    val spark = batch.sparkSession
    val marker = if (genTag.isEmpty) s"b$batchId" else s"b$genTag-$batchId"
    // fully-committed replay: the block segment commits LAST, so its
    // marker proves tombstones + keymap + sidecars are all in
    if (BlockIndex.isSegmented(dir) &&
        BlockIndex.readSegments(dir).segs.contains(s"seg-$marker"))
      return
    // keymap maintenance BEFORE this batch's commits, with the sidecar
    // crash-window guard: a keymap already holding the CURRENT batch's
    // kseg is mid-replay of an uncommitted batch — folding that marker
    // away would make the recommit below double the batch's rows
    if (keymapMaxSegments > 0 && KeyMap.exists(keymapDir)) {
      val ksegs = KeyMap.readMeta(keymapDir).segs
      if (ksegs.size > keymapMaxSegments && !ksegs.contains(s"kseg-$marker"))
        KeyMap.compact(spark, keymapDir, dir)
    }
    val dup = batch.groupBy(col("url")).agg(count(lit(1)).as("n"))
      .where(col("n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"upsert batch has ${dup.headOption.map(_.get(0)).getOrElse("")} " +
        s"more than once — replace-by-key needs at most one version per key per batch")
    val blockExists = BlockIndex.isSegmented(dir) ||
      graft.index.MetaIO.exists(s"$dir/${BlockIndex.StatsName}")
    // 1) retire current versions (empty for new keys; empty on replay
    //    past the tombstone commit — the lookup is tombstone-filtered)
    if (blockExists && KeyMap.exists(keymapDir)) {
      val oldIds = KeyMap.liveIdsForKeys(spark, keymapDir, dir,
        batch.select(col("url").cast("string").as("key")))
      indexDeleteBatch(oldIds, batchId, dir, genTag = genTag,
        posDir = posDir, gramDir = gramDir)
    }
    // 2) the batch's ids, derived EXACTLY as a refresh derives them
    val start =
      if (blockExists)
        math.max(BlockIndex.committedMaxDocId(spark, dir) + 1L, 1L)
      else 1L
    val docs = graft.sources.CorpusSource.withDenseDocIds(
      batch.select(col("title").cast("string"), col("body").cast("string"),
        col("url").cast("string")),
      idSortCols.map(col), firstId = start)
    KeyMap.commit(docs.select(col("url").as("key"), col("docId")),
      keymapDir, marker)
    // 3) append the new versions — sidecars first, block last, all
    //    under the same marker (compaction cadence included)
    indexRefreshBatch(batch, batchId, dir, layout, idSortCols,
      genTag = genTag, posDir = posDir, posShards = posShards,
      gramDir = gramDir, gramShards = gramShards, maxSegments = maxSegments,
      armNextword = armNextword, docsWithIds = Some(docs))
  }

  /** A live upsert stream: each micro-batch of document versions
    * replaces its keys' previous versions via [[indexUpsertBatch]] while
    * the index stays continuously queryable — the recrawl-at-scale
    * story the reference's full-rebuild flow cannot express. Keymap
    * segments fold with [[graft.index.KeyMap.compact]] as maintenance
    * (after a block compact, so retired rows drop with their
    * tombstones).
    */
  def indexUpsertSink(
      docs: DataFrame, dir: String,
      layout: graft.index.BlockIndex.Layout,
      checkpointDir: String,
      idSortCols: Seq[String],
      keymapDir: String,
      posDir: Option[String] = None,
      posShards: Int = 8,
      gramDir: Option[String] = None,
      gramShards: Int = 8,
      maxSegments: Int = 0,
      armNextword: Boolean = false,
      keymapMaxSegments: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        indexUpsertBatch(batch, batchId, dir, layout, idSortCols, keymapDir,
          genTag = runTag(checkpointDir), posDir = posDir,
          posShards = posShards, gramDir = gramDir, gramShards = gramShards,
          maxSegments = maxSegments, armNextword = armNextword,
          keymapMaxSegments = keymapMaxSegments)
      }
      .start()

  /** DELETE-BY-KEY: resolve the keys' live docIds through the keymap
    * and tombstone them ([[indexDeleteBatch]]). Replay-safe the same
    * way: a replayed batch resolves an empty (or identical) id set and
    * the tombstone generation no-ops by name. `keys`: one `key` column.
    */
  def indexDeleteByKeyBatch(keys: DataFrame, batchId: Long, dir: String,
      keymapDir: String, genTag: String = "",
      posDir: Option[String] = None,
      gramDir: Option[String] = None): Unit = {
    val ids = graft.index.KeyMap.liveIdsForKeys(
      keys.sparkSession, keymapDir, dir, keys)
    indexDeleteBatch(ids, batchId, dir, genTag = genTag,
      posDir = posDir, gramDir = gramDir)
  }

  /** Apply one [[graft.pipeline.SnapshotOps.snapshotDiff]] batch — rows
    * of (url, op, title, body) — to a live keyed index: `delete` ops
    * retire their keys' current versions through the keymap
    * ([[indexDeleteByKeyBatch]]); `insert`/`update` ops flow through
    * [[indexUpsertBatch]] unchanged (an insert is just an upsert whose
    * key has no live version). Together with [[snapshotDiff]] this is
    * the whole recrawl loop: index cost ∝ the changed-document delta.
    *
    * Replay discipline: the delete step commits its tombstones under a
    * DISTINCT marker (`genTag + "dd"`) from the upsert's internal
    * retire-tombstones — [[graft.index.BlockIndex.delete]] no-ops a
    * generation it has already committed, so sharing the marker would
    * silently skip one of the two delete sets. A crash between the two
    * steps replays safely: the delete steps's committed marker no-ops by
    * name, the upsert resumes its own internal protocol, and the two
    * ops' key sets are disjoint by construction of the diff.
    */
  def applyDiffBatch(
      diff: DataFrame, batchId: Long, dir: String,
      layout: graft.index.BlockIndex.Layout,
      idSortCols: Seq[String],
      keymapDir: String,
      genTag: String = "",
      posDir: Option[String] = None,
      posShards: Int = 8,
      gramDir: Option[String] = None,
      gramShards: Int = 8,
      maxSegments: Int = 0,
      armNextword: Boolean = false,
      keymapMaxSegments: Int = 0): Unit = {
    val delTag = if (genTag.isEmpty) "dd" else s"${genTag}dd"
    val dels = diff.where(col("op") === "delete")
      .select(col("url").cast("string").as("key"))
    indexDeleteByKeyBatch(dels, batchId, dir, keymapDir, genTag = delTag,
      posDir = posDir, gramDir = gramDir)
    val ups = diff.where(col("op") =!= "delete")
      .select(col("title"), col("body"), col("url"))
    indexUpsertBatch(ups, batchId, dir, layout, idSortCols, keymapDir,
      genTag = genTag, posDir = posDir, posShards = posShards,
      gramDir = gramDir, gramShards = gramShards, maxSegments = maxSegments,
      armNextword = armNextword, keymapMaxSegments = keymapMaxSegments)
  }

  /** A live snapshot-diff stream: each micro-batch of diff ops applies
    * via [[applyDiffBatch]] while the index stays continuously
    * queryable. Pair with [[graft.pipeline.SnapshotOps.snapshotDiff]]
    * run per recrawl wave.
    */
  def applyDiffSink(
      diff: DataFrame, dir: String,
      layout: graft.index.BlockIndex.Layout,
      checkpointDir: String,
      idSortCols: Seq[String],
      keymapDir: String,
      posDir: Option[String] = None,
      posShards: Int = 8,
      gramDir: Option[String] = None,
      gramShards: Int = 8,
      maxSegments: Int = 0,
      armNextword: Boolean = false,
      keymapMaxSegments: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    diff.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applyDiffBatch(batch, batchId, dir, layout, idSortCols, keymapDir,
          genTag = runTag(checkpointDir), posDir = posDir,
          posShards = posShards, gramDir = gramDir, gramShards = gramShards,
          maxSegments = maxSegments, armNextword = armNextword,
          keymapMaxSegments = keymapMaxSegments)
      }
      .start()

  /** Incremental per-term document-frequency / Σtf maintenance across
    * micro-batches. Each input row is one new (term, doc) posting; the
    * emitted row is the term's accumulated totals after the batch. State
    * is keyed by term — the same partitioning the batch index's tf
    * shuffle uses, so a streaming refresh co-locates with the shards it
    * would update.
    */
  def streamingTermStats(postings: Dataset[TermPosting]): Dataset[TermStatsUpdate] = {
    val spark = postings.sparkSession
    import spark.implicits._
    postings
      .groupByKey(_.term)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (term: String, rows: Iterator[TermPosting], state: GroupState[TermState]) =>
          val prev = state.getOption.getOrElse(TermState(0L, 0L))
          var df = prev.df
          var tot = prev.totalTf
          rows.foreach { r => df += 1; tot += r.tf }
          state.update(TermState(df, tot))
          Iterator(TermStatsUpdate(term, df, tot))
      }
  }
}
