package graft.index

import graft.CorpusStats
import graft.analysis.Analyzer
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import SegmentStore.liveOnly

/** The persistent, compressed, block-structured inverted index — the
  * 100 TB-scale physical counterpart of the in-memory [[IndexBundle]].
  *
  * Layout (`dir/`):
  *   - `shard=S/…parquet` — [[graft.PostingBlock]] rows, hash-sharded by
  *     term (`pmod(xxhash64(term), nShards)`); Spark partition pruning
  *     means a query for terms t₁..tₙ touches only their shards, and the
  *     `term` filter is pushed to parquet row groups.
  *   - `_manifest.jsonl` — one line per completed shard with row/term/
  *     block counts and wall time: the checkpoint + lineage record. A
  *     killed build resumes by skipping shards already in the manifest
  *     (each shard write is idempotent: overwrite of its own directory).
  *   - `_stats.json` — corpus stats (nDocs, vocabSize incl. the
  *     reference's N=vocabulary IDF quirk, totalLen) + layout params.
  *
  * Salting / skew: the aggregation key is `(term, blockId)` where
  * `blockId = docId / blockSpan` on a GLOBAL docId grid. A Zipfian head
  * term with df = 10⁹ becomes ~df/span bounded-size rows instead of one
  * giant reducer key — this IS the explicit head-term salting the north
  * rule asks for, and because every term shares the same grid, block-level
  * score upper bounds can be summed across terms for WAND.
  *
  * Postings inside a block are delta + varbyte compressed ([[VarByte]]),
  * with doc length denormalized in, so BM25 scoring decodes sequential
  * bytes and needs no docLens join.
  */
object BlockIndex {

  val ManifestName = "_manifest.jsonl"
  val StatsName = "_stats.json"
  // Parquet metadata tables carry NON-hidden names: Spark's DataSource
  // logs a loud "All paths were ignored" warning for every read of an
  // explicitly-passed path whose leaf starts with '_' (it still reads
  // it, but the noise lands in benchmark/driver logs). Hidden naming
  // bought nothing — shard data is read via explicit `shard=N` paths,
  // never by listing the index root. The JSON sidecars keep their '_'
  // names (MetaIO reads them directly; Spark never lists them).
  val DocLensName = "doclens"
  val SegmentsName = "_segments.json"
  val VocabName = "vocab"
  // pre-rename hidden spellings, still resolved on read and swept on
  // delete so indexes written by earlier builds keep working
  private val LegacyDocLensName = "_doclens"
  private val LegacyVocabName = "_vocab"

  /** The on-disk path of a parquet metadata table under segment dir `d`,
    * preferring the current name but resolving the legacy hidden name.
    */
  private def metaTablePath(
      d: String, name: String, legacy: String): Option[String] =
    if (MetaIO.exists(s"$d/$name")) Some(s"$d/$name")
    else if (MetaIO.exists(s"$d/$legacy")) Some(s"$d/$legacy")
    else None

  /** Block relation schema (shard partition column excluded). */
  val BlockSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("term", StringType), StructField("blockId", LongType),
      StructField("minDoc", LongType), StructField("maxDoc", LongType),
      StructField("n", IntegerType), StructField("maxTf", IntegerType),
      StructField("minTf", IntegerType), StructField("minDl", IntegerType),
      StructField("maxDl", IntegerType), StructField("bytes", BinaryType)))
  }

  private def emptyBlocks(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), BlockSchema)

  final case class Layout(blockSpan: Int, nShards: Int)
  final case class ShardEntry(shard: Int, rows: Long, terms: Long, blocks: Long, wallMs: Long)

  // Codec endpoints are native Catalyst constructs on BOTH sides of the
  // build/query boundary: encode = VarByteAgg (TypedImperativeAggregate
  // over primitive buffers), decode = VarByteDecodeExpr (codegen'd
  // expression). Tokenize/word-count run through DocTermsExpr's
  // byte-level scan (see its header for the allocation story).

  // ------------------------------------------------------------------
  // Build (checkpointed, resumable)
  // ------------------------------------------------------------------

  /** The logical → physical block transformation. ONE shuffle: the
    * (shard, term, blockId) block aggregation. Everything upstream is
    * narrow — the scanner emits each document's (dl, [(term, tf)…]) in a
    * single pass, so doc length rides along with every exploded posting
    * and the docId-keyed doc-length join is gone. Returns PostingBlock
    * rows + shard column.
    */
  def blocksOf(docs0: DataFrame, layout: Layout): DataFrame = {
    val docs = IndexBuilder.ensureParallelism(docs0)
    val postings = docs
      .select(col("docId"),
        graft.analysis.DocTermsExpr.column(col("title"), col("body")).as("dt"))
      .select(col("docId"), col("dt.dl").as("dl"), explode(col("dt.terms")).as("p"))
      .select(col("docId"), col("p.term").as("term"), col("p.tf").as("tf"), col("dl"))
    blocksFromPostings(postings, layout)
  }

  /** The block aggregation over an explicit postings relation
    * (docId, term, tf, dl) — shared by [[blocksOf]] (postings from the
    * tokenizer scan) and [[compact]] (postings decoded from live blocks).
    */
  def blocksFromPostings(postings: DataFrame, layout: Layout): DataFrame = {
    postings
      .withColumn("blockId", floor(col("docId") / layout.blockSpan).cast("long"))
      .withColumn("shard", pmod(xxhash64(col("term")), lit(layout.nShards)).cast("int"))
      .groupBy(col("shard"), col("term"), col("blockId"))
      .agg(
        min(col("docId")).as("minDoc"),
        max(col("docId")).as("maxDoc"),
        count(lit(1)).cast("int").as("n"),
        max(col("tf")).as("maxTf"),
        min(col("tf")).as("minTf"),
        min(col("dl")).as("minDl"),
        max(col("dl")).as("maxDl"),
        VarByteAgg.column(col("docId"), col("tf"), col("dl")).as("bytes"))
  }

  /** Build the index at `dir`. Resumable: shards already recorded in
    * `_manifest.jsonl` are skipped. Pending shards are written in GROUPS
    * of `shardGroupSize`: each group is ONE `partitionBy("shard")` job
    * (all cores write concurrently — a per-shard job loop would serialize
    * nShards × job overhead and wreck scaling efficiency), with dynamic
    * partition overwrite so a re-run only replaces the shards it touches.
    * Manifest lines append after the group's job commits — kill at any
    * point and re-run to finish exactly the missing shards; the group is
    * the checkpoint quantum, the shard the pruning/lineage quantum.
    * `limitShards` exists for the kill/resume tests.
    */
  def build(
      docs: DataFrame,
      dir: String,
      layout: Layout = Layout(blockSpan = 4096, nShards = 16),
      limitShards: Option[Int] = None,
      shardGroupSize: Int = 8,
      overwrite: Boolean = false): Seq[ShardEntry] =
    buildPhysical(
      () => blocksOf(docs, layout),
      () => docs.select(col("docId"),
        Analyzer.wordCountCol(col("body")).cast("int").as("len")),
      dir, layout, limitShards, shardGroupSize, overwrite)

  /** [[build]] from an explicit postings relation — the compaction path
    * (no titles/bodies to re-tokenize; doc lengths come from the live
    * segments' materialized tables).
    */
  private def buildFromPostings(postings: DataFrame, docLens: DataFrame,
      dir: String, layout: Layout): Seq[ShardEntry] =
    buildPhysical(
      () => blocksFromPostings(postings, layout),
      () => docLens.select(col("docId"), col("len").cast("int").as("len")),
      dir, layout, limitShards = None, shardGroupSize = 8, overwrite = false)

  private def buildPhysical(
      blocksThunk: () => DataFrame,
      docLensThunk: () => DataFrame,
      dir: String,
      layout: Layout,
      limitShards: Option[Int],
      shardGroupSize: Int,
      overwrite: Boolean): Seq[ShardEntry] = {
    MetaIO.mkdirs(dir)
    if (overwrite) {
      // full rebuild in place: drop the completion artifacts FIRST (so a
      // kill mid-rebuild reads as incomplete, never as the old index),
      // then the manifest. The segmented view and EVERY shard/segment
      // directory go too: dynamic partition overwrite alone would keep
      // (a) the stale segmented union serving deleted segments and
      // (b) old parquet in any shard the NEW corpus leaves empty.
      MetaIO.deleteIfExists(s"$dir/$StatsName")
      MetaIO.deleteIfExists(s"$dir/$SegmentsName")
      MetaIO.deleteIfExists(s"$dir/$DocLensName", recursive = true)
      MetaIO.deleteIfExists(s"$dir/$VocabName", recursive = true)
      MetaIO.deleteIfExists(s"$dir/$LegacyDocLensName", recursive = true)
      MetaIO.deleteIfExists(s"$dir/$LegacyVocabName", recursive = true)
      MetaIO.deleteIfExists(s"$dir/$ManifestName")
      // stale tombstones of the PREVIOUS corpus must never filter the new
      // one — a rebuilt index starts with no deletes
      MetaIO.deleteIfExists(s"$dir/$TombMetaName")
      MetaIO.list(dir)
        .filter(n => n.startsWith("shard=") || n.startsWith("seg-") ||
          n.startsWith("tomb-"))
        .foreach(n => MetaIO.deleteIfExists(s"$dir/$n", recursive = true))
    }
    val done = readManifest(dir).map(_.shard).toSet
    val pending0 = (0 until layout.nShards).filterNot(done)
    val pending = limitShards.fold(pending0)(pending0.take)
    if (pending.isEmpty) {
      // a kill between the last manifest append and the stats/doclens
      // write leaves a complete manifest but no completion artifacts —
      // finish that tail here instead of early-returning forever-broken
      if (!MetaIO.exists(s"$dir/$StatsName"))
        writeCompletionArtifacts(docLensThunk(), dir, layout)
      return readManifest(dir)
    }

    val blocks = blocksThunk()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one metrics pass for ALL pending shards (vs one agg job per shard)
      val metrics = blocks.groupBy(col("shard"))
        .agg(sum(col("n").cast("long")).as("rows"),
          countDistinct(col("term")).as("terms"),
          count(lit(1)).as("blocks"))
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      pending.grouped(shardGroupSize).foreach { group =>
        val t0 = System.nanoTime()
        blocks.where(col("shard").isin(group: _*))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("shard")
          .parquet(dir)
        val wallMs = (System.nanoTime() - t0) / 1000000
        group.foreach { s =>
          val (rows, terms, nBlocks) = metrics.getOrElse(s, (0L, 0L, 0L))
          appendManifest(dir, ShardEntry(s, rows, terms, nBlocks, wallMs))
        }
      }
      // doc lengths + corpus stats last — their presence marks the index
      // complete. The vocab table derives from the still-cached blocks
      // relation here; the resume path below re-reads the shard parquet
      // instead.
      if (readManifest(dir).size == layout.nShards)
        writeCompletionArtifacts(docLensThunk(), dir, layout,
          blocksOpt = Some(blocks))
      readManifest(dir)
    } finally blocks.unpersist()
  }

  /** The completion artifacts: the materialized doc-length table (so
    * block-backed bundles join a tiny parquet instead of decoding the
    * whole index) and the stats file, whose presence marks the index
    * complete. Stats read the doc-length parquet back, saving a second
    * pass over the corpus. Idempotent.
    */
  private def writeCompletionArtifacts(
      docLens: DataFrame, dir: String, layout: Layout,
      blocksOpt: Option[DataFrame] = None): Unit = {
    val spark = docLens.sparkSession
    docLens.write.mode("overwrite").parquet(s"$dir/$DocLensName")
    val Row(nDocs: Long, totalLen: Long, maxDocId: Long) = spark.read
      .parquet(s"$dir/$DocLensName")
      .agg(count(lit(1)), coalesce(sum(col("len").cast("long")), lit(0L)),
        coalesce(max(col("docId")), lit(-1L)))
      .head()
    // the segment's distinct-term table: one `term` column, read back by
    // every refresh/compaction commit to combine exact vocabularies
    // WITHOUT re-scanning block-level term columns (a segment has ~one
    // block row per (term, blockId) — many× its vocabulary). Derived
    // from the build's cached blocks when available, else read back.
    blocksOpt.orElse(plainBlocks(spark, dir, layout))
      .fold(spark.emptyDataFrame.withColumn("term", lit("")).limit(0))(
        _.select(col("term")))
      .distinct()
      .write.mode("overwrite").parquet(s"$dir/$VocabName")
    val vocab = readManifest(dir).map(_.terms).sum // terms are hash-disjoint across shards
    writeStats(dir, CorpusStats(nDocs, vocab, totalLen), layout, maxDocId)
  }

  /** The block relation of ONE segment directory, never the segmented
    * union — for per-segment artifacts of a root whose base segment is
    * the root itself.
    */
  private def plainBlocks(
      spark: SparkSession, dir: String, layout: Layout): Option[DataFrame] = {
    val paths = SegmentStore.shardPaths(dir, 0 until layout.nShards)
    if (paths.isEmpty) None
    else Some(spark.read.option("basePath", dir).parquet(paths: _*))
  }

  // ------------------------------------------------------------------
  // Manifest / stats (tiny driver-side JSON; no library dependency)
  // ------------------------------------------------------------------

  private def appendManifest(dir: String, e: ShardEntry): Unit = {
    val p = s"$dir/$ManifestName"
    // if a previous run died mid-append the file may end with a torn
    // partial line — start this entry on a fresh line so the torn one
    // stays isolated (and gets dropped by readManifest's key check)
    val needsNl = MetaIO.exists(p) && {
      val bytes = MetaIO.readBytes(p)
      bytes.nonEmpty && bytes.last != '\n'.toByte
    }
    val line = (if (needsNl) "\n" else "") +
      s"""{"shard":${e.shard},"rows":${e.rows},"terms":${e.terms},"blocks":${e.blocks},"wallMs":${e.wallMs}}\n"""
    MetaIO.append(p, line.getBytes(StandardCharsets.UTF_8))
  }

  /** Manifest lines are appended non-atomically, so a kill mid-append can
    * leave a torn trailing line. Tolerate it: a line missing any required
    * key is DROPPED, which marks its shard as not-done — the resume path
    * then rebuilds that shard (idempotent overwrite) instead of crashing
    * every subsequent build() of the directory.
    */
  def readManifest(dir: String): Seq[ShardEntry] = {
    val p = s"$dir/$ManifestName"
    if (!MetaIO.exists(p)) return Seq.empty
    val re = """"(\w+)":(\d+)""".r
    val required = Seq("shard", "rows", "terms", "blocks", "wallMs")
    MetaIO.readString(p).split("\n", -1).toSeq.filter(_.nonEmpty).flatMap { l =>
      val kv = re.findAllMatchIn(l).map(m => m.group(1) -> m.group(2).toLong).toMap
      // the closing brace guards against a tear INSIDE the last value's
      // digits (all keys present but wallMs truncated) — only a complete
      // line counts
      if (l.trim.endsWith("}") && required.forall(kv.contains))
        Some(ShardEntry(kv("shard").toInt, kv("rows"), kv("terms"), kv("blocks"), kv("wallMs")))
      else None
    }
  }

  private def writeStats(dir: String, stats: CorpusStats, layout: Layout,
      maxDocId: Long = -1L): Unit =
    // nonce: identifies THIS build for the opened epoch (bm25TopK). nanoTime is
    // strictly monotonic within a JVM and collision-free across JVMs for
    // practical purposes — unlike file mtime, whose millisecond (or
    // coarser) granularity can leave two back-to-back rebuilds
    // indistinguishable and serve a stale opened index. maxDocId lets
    // the first refresh of a plain index skip the block-metadata scan.
    MetaIO.writeMeta(s"$dir/$StatsName", statsParams(stats, layout) ++
      Seq("maxDocId" -> maxDocId, "nonce" -> System.nanoTime()), Nil)

  private def statsParams(stats: CorpusStats, layout: Layout): Seq[(String, Long)] =
    Seq("nDocs" -> stats.nDocs, "vocabSize" -> stats.vocabSize,
      "totalLen" -> stats.totalLen, "blockSpan" -> layout.blockSpan.toLong,
      "nShards" -> layout.nShards.toLong)

  private def statsOf(f: String => Long): (CorpusStats, Layout) =
    (CorpusStats(f("nDocs"), f("vocabSize"), f("totalLen")),
      Layout(f("blockSpan").toInt, f("nShards").toInt))

  def readStats(dir: String): (CorpusStats, Layout) = {
    if (isSegmented(dir)) { val m = readSegments(dir); return (m.stats, m.layout) }
    readStatsPlain(dir)
  }

  /** The single-segment `_stats.json` of `dir`, bypassing the segmented
    * view — for the base segment `"."` of a segmented root, whose
    * combined stats would otherwise be returned (and double-counted by a
    * second refresh's commit).
    */
  private def readStatsPlain(dir: String): (CorpusStats, Layout) =
    statsOf(Store.readMarker(dir)(_))

  // ------------------------------------------------------------------
  // Segments: incremental refresh without rebuilding — the lifecycle
  // and commit protocol of [[SegmentStore]]
  // ------------------------------------------------------------------

  /** Committed state of a segmented index root: the ordered segment
    * directory names (`"."` = the root itself, for in-place conversion of
    * a plain index), the COMBINED corpus stats (vocabSize is the exact
    * distinct-term count across segments — computed at commit, because
    * the reference's `N = vocabulary size` IDF quirk makes a per-segment
    * sum wrong for terms present in several segments), the uniform
    * layout, and the highest docId — the floor for the next refresh's
    * docIds, which MUST be disjoint from (greater than) every committed
    * segment's, so that segments partition the corpus by docId range.
    */
  final case class SegmentsMeta(
      segs: Seq[String], stats: CorpusStats, layout: Layout, maxDocId: Long)

  private def toMeta(s: SegmentStore.Segments): SegmentsMeta = {
    val (stats, layout) = statsOf(s(_))
    SegmentsMeta(s.segs, stats, layout, s.maxDocId)
  }

  private[graft] object Store
      extends SegmentStore("seg-", SegmentsName, StatsName, "index") {
    protected def paramKeys: Seq[String] =
      Seq("nDocs", "vocabSize", "totalLen", "blockSpan", "nShards")
    protected def rootArtifacts: Seq[String] = Seq(ManifestName, DocLensName,
      VocabName, LegacyDocLensName, LegacyVocabName, StatsName)
    // append-only ⇒ (maxDocId, nDocs) pins the folded doc set
    override protected def compactTag(s: SegmentStore.Segments): Long = s("nDocs")

    // pre-maxDocId stats files: one metadata-only scan of `maxDoc`
    protected def scanMaxDocId(dir: String): Long = {
      val blocks = readBlocks(SparkSession.active, dir)
      if (blocks.isEmpty) -1L else blocks.agg(max(col("maxDoc"))).head().getLong(0)
    }

    /** A new segment from the DECODED postings of the folded segments' blocks —
      * no re-tokenization. Block contents after a full compaction are
      * byte-identical to a cold build over the surviving corpus
      * (spec-asserted): both paths feed docId-sorted postings of the same
      * (term, blockId) groups through [[VarByteAgg]], and `keep` drops
      * tombstoned docs from postings and doc lengths alike.
      */
    protected def merge(dirs: Seq[String], keep: DataFrame => DataFrame,
        target: String, s: SegmentStore.Segments): Unit = {
      val spark = SparkSession.active
      val layout = toMeta(s).layout
      val postings = keep(dirs
        .flatMap(d => plainBlocks(spark, d, layout))
        .map(decodePostings)
        .reduceOption(_ union _)
        .getOrElse {
          import spark.implicits._
          Seq.empty[(String, Long, Int, Int)].toDF("term", "docId", "tf", "dl")
        })
      val lensPaths = dirs.map(d => metaTablePath(d, DocLensName, LegacyDocLensName))
      val docLens =
        if (lensPaths.forall(_.nonEmpty))
          keep(lensPaths.flatten
            .map(p => spark.read.parquet(p).select(col("docId"), col("len")))
            .reduce(_ union _))
        else // pre-doclens segment: derive lengths from the decoded rows
          postings.select(col("docId"), col("dl").cast("long").as("len")).distinct()
      buildFromPostings(postings, docLens, target, layout)
    }

    /** Combined counts from per-segment stats, exact cross-segment
      * distinct vocabulary, then the atomic `_segments.json` replace. The
      * vocabulary union reads each segment's `vocab` table (one row per
      * DISTINCT term, written at build completion) — NOT the block-level
      * term column, which carries one entry per (term, blockId) row and
      * made every refresh pay a near-full index metadata scan. Pre-vocab
      * segments fall back to their block term columns.
      */
    override protected def commit(dir: String, segs: Seq[String],
        s: SegmentStore.Segments, maxDocId: Long): SegmentStore.Segments = {
      val spark = SparkSession.active
      val layout = toMeta(s).layout
      val dirs = segs.map(resolve(dir, _))
      val perSeg = dirs.map(readStatsPlain) // NEVER the segmented view of "."
      val vocab = dirs
        .flatMap { d =>
          metaTablePath(d, VocabName, LegacyVocabName)
            .map(p => spark.read.parquet(p).select(col("term")))
            .orElse(plainBlocks(spark, d, layout).map(_.select(col("term"))))
        }
        .reduceOption(_ union _)
        .fold(0L)(_.distinct().count())
      val combined = CorpusStats(
        perSeg.map(_._1.nDocs).sum, vocab, perSeg.map(_._1.totalLen).sum)
      val m = SegmentStore.Segments(segs, statsParams(combined, layout), maxDocId)
      writeList(dir, m)
      m
    }
  }

  def isSegmented(dir: String): Boolean = Store.isSegmented(dir)

  def readSegments(dir: String): SegmentsMeta = toMeta(Store.readList(dir))

  /** Incrementally add `newDocs` to the index at `dir` WITHOUT touching
    * committed data, under the [[SegmentStore]] commit protocol: the
    * delta is built as a brand-new immutable segment (reusing [[build]],
    * so the refresh itself checkpoints per shard and resumes after a
    * kill), then committed by the `_segments.json` replace.
    *
    * Requirements: `newDocs.docId` must all exceed the committed
    * `maxDocId` (the dense-id append contract of
    * [[graft.sources.CorpusSource.withDenseDocIds]]) — checked with one
    * tiny aggregation. Because blockId = docId / blockSpan, at most one
    * (term, blockId) BLOCK straddles a segment boundary per term; all
    * query paths treat (term, blockId) as non-unique and their block
    * upper bounds remain sound (a doc's postings live in exactly one
    * segment).
    *
    * At 100 TB scale this is the difference between re-tokenizing the
    * whole corpus and tokenizing only the day's arrivals; query cost
    * grows only by the straddling tail blocks until [[compact]] folds
    * segments back into one.
    */
  def refresh(newDocs: DataFrame, dir: String,
      genName: Option[String] = None): SegmentsMeta =
    toMeta(Store.refresh(newDocs, col("docId"), dir, genName)(
      (seg, s) => build(newDocs, seg, toMeta(s).layout)))

  /** Fold all committed segments back into ONE ([[SegmentStore.compact]]):
    * block contents afterwards are byte-identical to a cold build over the
    * surviving corpus.
    */
  def compact(dir: String): SegmentsMeta = toMeta(Store.compact(dir))

  /** Tiered maintenance ([[SegmentStore.compactTiered]]): under steady
    * ingest each doc is rewritten O(log n) times total, vs the
    * every-N-batches full fold's O(n²/N) cumulative writes. Partial
    * merges keep the documented stale-until-compact stats.
    */
  def compactTiered(dir: String, maxSegments: Int, mergeFactor: Int = 0,
      tombFraction: Double = SegmentStore.TombFraction): SegmentsMeta =
    toMeta(Store.compactTiered(dir, maxSegments, mergeFactor, tombFraction))

  /** Highest committed docId of the index at `dir` (−1 for an empty
    * index) — the floor for externally-assigned refresh ids.
    */
  def committedMaxDocId(spark: SparkSession, dir: String): Long =
    Store.state(dir).maxDocId

  // ------------------------------------------------------------------
  // Document deletion (tombstones, kept by [[SegmentStore]] for every
  // index)
  // ------------------------------------------------------------------

  type TombMeta = SegmentStore.TombMeta
  val TombMeta = SegmentStore.TombMeta
  val TombMetaName = SegmentStore.TombMetaName
  val BroadcastTombCap = SegmentStore.BroadcastTombCap

  def readTombMeta(dir: String): Option[TombMeta] = SegmentStore.readTombMeta(dir)

  def tombstones(spark: SparkSession, dir: String): Option[DataFrame] =
    SegmentStore.tombstones(spark, dir)

  /** Mark documents DELETED without touching committed segment data —
    * Lucene's tombstone model, the shape a 100 TB index needs (a
    * rebuild per delete is impossible; a per-posting update is a
    * random-write pattern parquet cannot serve). Semantics, exactly
    * Lucene's: tombstoned docs vanish from every query result
    * immediately, while corpus statistics (df, vocabulary, avgdl, N)
    * remain those of the last build/compaction — deleted docs still
    * count in IDF until [[compact]] folds them out physically. Queries
    * pay one anti-join against the (usually tiny, broadcast) tombstone
    * relation.
    *
    * Each call commits one immutable tombstone generation named by the
    * delete set's (min, max, count) — like [[refresh]], a re-run of the
    * SAME delete (a redelivered message, a retried job) is detected
    * before any work and is a no-op; a caller-keyed `genName` (a
    * streaming micro-batch id) is detected before the delete set is even
    * counted. A kill between the parquet write and the meta commit
    * leaves an invisible directory that the re-run overwrites. Ids never
    * come back: deletion is monotone until compaction, and docIds are
    * never reused ([[refresh]]'s floor is maxDocId, which deletion does
    * not lower). Every index's delete is this one, on its own directory.
    *
    * `ids` must have a `docId` column; ids absent from the index are
    * tolerated (the anti-join ignores them).
    */
  def delete(ids: DataFrame, dir: String,
      genName: Option[String] = None): TombMeta =
    SegmentStore.delete(ids, dir, genName)

  /** The materialized doc-length relation across all segments. */
  private[graft] def readDocLens(spark: SparkSession, dir: String): DataFrame =
    Store.segDirs(dir)
      .flatMap(d => metaTablePath(d, DocLensName, LegacyDocLensName))
      .map(p => spark.read.parquet(p).select(col("docId"), col("len")))
      .reduceOption(_ union _)
      .getOrElse {
        import spark.implicits._
        Seq.empty[(Long, Long)].toDF("docId", "len")
      }

  /** The docIds the index currently ANSWERS FOR: present in a committed
    * segment's doc-length table and not tombstoned. This is the
    * EXISTENCE relation sidecar liveness must consult ([[KeyMap]]):
    * tombstones alone are transient — [[compact]] folds deleted docs out
    * physically and clears them, so "not tombstoned" is only meaningful
    * for ids that still exist. One docId+len metadata-table scan, no
    * posting blocks touched.
    */
  def liveDocIds(spark: SparkSession, dir: String): DataFrame =
    liveOnly(dir, readDocLens(spark, dir).select(col("docId")))

  /** Driver-local twin of the build's `pmod(xxhash64(term), nShards)` —
    * same XXH64 with Spark's default seed 42, so query planning computes
    * shard routing without a Spark job (equality asserted in the spec).
    */
  def shardOf(term: String, nShards: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(term),
      org.apache.spark.sql.types.StringType, 42L)
    (((h % nShards) + nShards) % nShards).toInt
  }

  /** All block rows (partition column `shard` recovered from the path). */
  def readBlocks(spark: SparkSession, dir: String): DataFrame =
    epoch(spark, dir).blocks.getOrElse(emptyBlocks(spark))

  /** Decode a filtered block relation back to (term, docId, tf, dl). */
  def decodePostings(blocks: DataFrame): DataFrame =
    blocks.select(col("term"),
        explode(VarByteDecodeExpr.decode(col("bytes"))).as("p"))
      .select(col("term"), col("p.docId").as("docId"), col("p.tf").as("tf"),
        col("p.dl").as("dl"))

  /** [[decodePostings]] keeping the blockId — the co-location key for
    * shuffle-light WAND scoring.
    */
  private def decodePostingsWithBlock(blocks: DataFrame): DataFrame =
    blocks.select(col("blockId"), col("term"),
        explode(VarByteDecodeExpr.decode(col("bytes"))).as("p"))
      .select(col("blockId"), col("term"), col("p.docId").as("docId"),
        col("p.tf").as("tf"), col("p.dl").as("dl"))

  /** Expose the persistent index as an [[IndexBundle]], so EVERY query
    * mode of [[graft.query.QueryEngine]] (terms, boolean, fuzzy,
    * wildcard, TF-IDF, BM25) runs against the compressed on-disk artifact
    * — not just the WAND BM25 fast path. The relations are lazy
    * DataFrames over the sharded parquet (decode happens per-query on the
    * blocks the query touches); `persist=true` caches `termStats` (a
    * group-by over every block row, computed by the first query that reads
    * it), which is vocabulary-sized and read by every fuzzy, wildcard,
    * did-you-mean and typeahead query.
    */
  def asBundle(spark: SparkSession, dir: String, k: Int = 3,
      persist: Boolean = true): IndexBundle = {
    val e = epoch(spark, dir)
    val blocks = e.blocks.getOrElse(emptyBlocks(spark))
    // tombstoned docs are filtered out of the postings relation, so every
    // query mode the bundle serves excludes them; stats/df stay those of
    // the last build (Lucene's stale-until-compact semantics, see delete)
    val decoded = e.live(decodePostings(blocks))
    val postings = decoded.select(col("term"), col("docId"), col("tf"))
    // prefer the materialized doc-length parquet (written at build time);
    // decode-and-distinct over the whole index is only the fallback for
    // pre-doclens indexes
    val docLensPaths = Store.segDirs(dir)
      .flatMap(d => metaTablePath(d, DocLensName, LegacyDocLensName))
    val docLens =
      if (docLensPaths.nonEmpty)
        docLensPaths.map(p => spark.read.parquet(p).select(col("docId"), col("len")))
          .reduce(_ unionByName _)
      else decoded.select(col("docId"), col("dl").as("len")).distinct()
    val termStats = {
      val ts = blocks.groupBy(col("term"))
        .agg(sum(col("n").cast("long")).as("df"), max(col("maxTf")).as("maxTf"))
      if (persist) ts.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else ts
    }
    IndexBundle(postings, docLens, termStats, e.stats, k,
      blockDir = Some(dir))
  }

  // ------------------------------------------------------------------
  // BM25 top-k
  // ------------------------------------------------------------------

  /** One committed state of an index directory, opened once and shared
    * by every query until the state changes. `key` is the epoch: the
    * nonce of `_segments.json` (segmented root) or `_stats.json` (plain
    * root; its mtime for pre-nonce dirs), rewritten by every build,
    * refresh and compaction commit, plus the committed tombstone
    * generations. An epoch holds the parsed stats and layout, the segment
    * count and the highest docId, one block relation over every shard of
    * every segment (a query prunes shards with a partition filter on
    * `shard`, so file listing and schema inference run once per epoch,
    * not per query), the opened tombstone relation, and the per-term
    * (df, nBlocks) envelope entries that [[bm25TopK]] and
    * [[bm25TopKBatch]] memoize.
    */
  private[graft] final class Epoch(
      val key: (Long, Seq[String]), val stats: CorpusStats,
      val layout: Layout, val nSegs: Int, val maxDocId: Option[Long],
      val blocks: Option[DataFrame], val tombs: Option[SegmentStore.Tombs]) {
    private val env = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]

    /** The block rows of `terms`, read from their shards only (shard of
      * each term by driver-local xxhash64, no Spark job); None for an
      * index without blocks.
      */
    def termBlocks(terms: Seq[String]): Option[DataFrame] =
      blocks.map(_
        .where(col("shard").isin(terms.map(shardOf(_, layout.nShards)).distinct: _*))
        .where(col("term").isin(terms: _*)))

    /** (df, block rows) of each of `terms` present in the index: at most
      * |terms| driver rows whatever the df (the bytes column is never
      * read), from one job over the terms not seen before in this epoch.
      * Absent terms are remembered too, or OOV terms would re-run it.
      * Sets [[lastDriverMetaRows]] to the rows it collected.
      */
    def envelope(termBlocks: DataFrame, terms: Seq[String]): Map[String, (Long, Long)] = {
      val known = terms.flatMap(t => env.get(t).map(t -> _)).toMap
      val uncached = terms.filterNot(known.contains)
      val found =
        if (uncached.isEmpty) Map.empty[String, (Long, Long)]
        else termBlocks.where(col("term").isin(uncached: _*))
          .groupBy(col("term"))
          .agg(sum(col("n").cast("long")).as("df"), count(lit(1)).as("nBlocks"))
          .collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      lastDriverMetaRows = found.size.toLong
      val fresh = uncached.map(t => t -> found.getOrElse(t, (0L, 0L)))
      if (env.size > EnvCap) env.clear()
      env ++= fresh
      (known ++ fresh).filter(_._2._1 > 0L)
    }

    def live(rel: DataFrame): DataFrame = tombs.fold(rel)(_.live(rel))
  }

  private val MaxOpenDirs = 16
  private val EnvCap = 1000000
  // (session, dir) → its current epoch only; least recently used first out
  private val epochs =
    new java.util.LinkedHashMap[(SparkSession, String), Epoch](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), Epoch]): Boolean =
        size() > MaxOpenDirs
    }

  /** The opened current epoch of `dir`: two small metadata reads per call
    * (the segment list or stats file, the tombstone file); the parquet is
    * opened again only when the epoch changed.
    */
  private[graft] def epoch(spark: SparkSession, dir: String): Epoch = {
    val segmented = isSegmented(dir)
    val p = if (segmented) s"$dir/$SegmentsName" else s"$dir/$StatsName"
    val m = MetaIO.readMeta(p)
    val tomb = readTombMeta(dir).filter(_.gens.nonEmpty)
    val key = (m.get("nonce").getOrElse(MetaIO.mtimeMillis(p)),
      tomb.fold(Seq.empty[String])(_.gens))
    epochs.synchronized(Option(epochs.get((spark, dir)))).filter(_.key == key)
      .getOrElse {
        val (stats, layout) = statsOf(m(_))
        val segs =
          if (segmented) m.strings("segs").map(Store.resolve(dir, _)) else Seq(dir)
        val e = new Epoch(key, stats, layout, segs.size, m.get("maxDocId"),
          segs.flatMap(plainBlocks(spark, _, layout)).reduceOption(_ unionByName _),
          tomb.map(SegmentStore.openTombs(spark, dir, _)))
        epochs.synchronized(epochs.put((spark, dir), e))
        e
      }
  }

  /** Surviving-block isin cap: above this, θ-pruning stops paying for the
    * filter and the query scores every candidate block. Bounds the only
    * driver collect whose size depends on the score distribution.
    */
  val SurvivorCap = 4096

  /** Candidate block rows at or under which pruning cannot save what its
    * jobs cost: [[bm25TopK]] scores them all in one task.
    */
  private val SmallBlockCut = 8

  /** Driver-collected metadata row count of the LAST bm25TopK or
    * bm25TopKBatch call — instrumentation for the boundedness spec, not
    * an API.
    */
  @volatile private[graft] var lastDriverMetaRows: Long = 0L

  /** Exact BM25 top-k over the block index, by one of three routes:
    *
    *   1. bound — committed metadata alone bounds the query's block rows:
    *      `|terms| × segments × ⌈(maxDocId+1)/blockSpan⌉ ≤ 8` (a segment
    *      holds at most one row per (term, blockId)). No envelope job; the
    *      single-task plan scores everything: scan the terms' blocks,
    *      `coalesce(1)`, df as a window sum of `n` per term over the block
    *      rows (before the tombstone filter, so deleted docs still count
    *      until compaction), idf by [[IndexBundle.idfCol]], decode, drop
    *      tombstoned docs, sum per doc, top k. One Spark job with no
    *      exchange; a tombstoned index adds the tombstone broadcast.
    *   2. envelope-small — the per-term envelope (df and block rows per
    *      term: ≤ |terms| driver rows, memoized per epoch, so it runs only
    *      for terms not seen before) shows ≤ 16·k postings or ≤ 8 block
    *      rows: the same single-task plan.
    *   3. WAND — [[bm25TopKBatch]]'s block-max WAND for this one query,
    *      always pruning (`prune = Some(true)`), with idf from the
    *      envelope's df; the top k is a per-partition top k plus a driver
    *      merge, so a head-term query never sorts all its candidates in
    *      one task.
    *
    * Every route reads through the directory's opened [[Epoch]] (stats,
    * block and tombstone relations, envelope entries), one per
    * (session, dir). It is dropped when the epoch key changes — any
    * build, refresh, compaction or delete commit — or when more than
    * `MaxOpenDirs` (16) directories are open, least recently used first.
    *
    * Every route scores with [[IndexBundle.bm25Weight]] and IDF uses the
    * reference's N = vocabulary size quirk (reference
    * index_inverted.go:128-135), so ranks match the reference and the
    * naive [[graft.query.QueryEngine.bm25Query]] exactly.
    */
  def bm25TopK(
      spark: SparkSession, dir: String, query: String, k: Int,
      k1: Double = 0.9, b: Double = 0.4): DataFrame =
    route(spark, epoch(spark, dir), query, k, k1, b) match {
      case NoMatch =>
        import spark.implicits._
        Seq.empty[(Long, Double)].toDF("docId", "score")
      case OneTask(plan) => plan(false)
      case Wand(top, _) => top
    }

  /** [[bm25TopK]]'s top `k` as (docId, score) rows plus the number of live
    * documents matching any query term — a SERP's page and its total, on
    * the same routes. Routes 1 and 2 answer both in their one job: the
    * single-task plan carries the match count as a window column over its
    * one partition (no exchange). The WAND route adds one distinct count
    * of live docIds over the terms' blocks. A `k` above the committed
    * document count (which bounds the total) is capped there, so any
    * page number is safe to ask for.
    */
  private[graft] def bm25TopKWithTotal(
      spark: SparkSession, dir: String, query: String, k: Long,
      k1: Double = 0.9, b: Double = 0.4): (Seq[(Long, Double)], Long) = {
    val e = epoch(spark, dir)
    val kk = math.max(1L, math.min(k, e.stats.nDocs)).toInt
    def pairs(rows: Array[Row]) = rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
    route(spark, e, query, kk, k1, b) match {
      case NoMatch => (Nil, 0L)
      case OneTask(plan) =>
        val rows = plan(true).collect()
        (pairs(rows), rows.headOption.fold(0L)(_.getLong(2)))
      case Wand(top, candidates) =>
        (pairs(top.collect()),
          candidates.agg(count_distinct(col("docId"))).head().getLong(0))
    }
  }

  /** How [[bm25TopK]] answers a query: nothing can match; the single-task
    * plan of routes 1 and 2 (`plan(true)` adds the `total` column); or the
    * WAND top k with the live postings of the query terms.
    */
  private sealed trait Route
  private case object NoMatch extends Route
  private final case class OneTask(plan: Boolean => DataFrame) extends Route
  private final case class Wand(top: DataFrame, candidates: DataFrame) extends Route

  /** Query tokens → their counts: duplicate tokens double-score
    * (reference searcher.go:249).
    */
  private def tokenCounts(query: String): Map[String, Double] =
    Analyzer.tokenize(query).groupBy(identity).view.mapValues(_.size.toDouble).toMap

  /** One BM25 summand per decoded posting or block row: its query-term
    * count times the [[IndexBundle.bm25Weight]] of its `idf` column.
    */
  private def summand(e: Epoch, qcnt: Column, tf: String, dl: String,
      k1: Double, b: Double): Column =
    qcnt * IndexBundle.bm25Weight(col("idf"), col(tf).cast("double"),
      col(dl).cast("double"), lit(e.stats.avgdl), k1, b)

  private def route(spark: SparkSession, e: Epoch, query: String, k: Int,
      k1: Double, b: Double): Route = {
    val qcnt = tokenCounts(query)
    if (qcnt.isEmpty) return NoMatch
    val terms = qcnt.keys.toSeq
    val termBlocks = e.termBlocks(terms).getOrElse(return NoMatch)

    // routes 1 and 2: one task, no exchange (qcnt is a map literal, not a
    // broadcast join). The total counts the scored docs over the task's
    // partition: keyed by the partition id, which is constant on one
    // partition, because a window without keys logs a warning per plan.
    val singleTask = OneTask { withTotal =>
      val scored = e.live(termBlocks.select(col("term"), col("n"), col("bytes"))
          .coalesce(1)
          .withColumn("df", sum(col("n").cast("long")).over(Window.partitionBy(col("term"))))
          .select(col("term"), IndexBundle.idfCol(e.stats.vocabSize, col("df")).as("idf"),
            explode(VarByteDecodeExpr.decode(col("bytes"))).as("p"))
          .select(col("term"), col("idf"), col("p.docId").as("docId"),
            col("p.tf").as("tf"), col("p.dl").as("dl")))
        .groupBy(col("docId"))
        .agg(sum(summand(e, typedLit(qcnt).apply(col("term")), "tf", "dl", k1, b)).as("score"))
      (if (withTotal)
        scored.withColumn("total",
          count(lit(1)).over(Window.partitionBy(spark_partition_id())))
       else scored)
        .orderBy(col("score").desc, col("docId").asc).limit(k)
    }

    // ---- route 1: the committed bound on block rows ----
    val rowBound = e.maxDocId.map(m =>
      terms.size.toLong * e.nSegs * (if (m < 0) 0L else m / e.layout.blockSpan + 1))
    if (rowBound.exists(_ <= SmallBlockCut)) {
      lastDriverMetaRows = 0L
      return singleTask
    }

    val env = e.envelope(termBlocks, terms)
    if (env.isEmpty) return NoMatch
    // ---- route 2: a small candidate set (block rows ≥ distinct blockIds) ----
    if (env.values.map(_._1).sum <= 16L * k || env.values.map(_._2).sum <= SmallBlockCut)
      return singleTask

    // ---- route 3: block-max WAND ----
    Wand(
      wand(e, termBlocks, Seq(qcnt), env.view.mapValues(_._1).toMap,
          k, k1, b, prune = Some(true))
        .select(col("docId"), col("score"))
        .orderBy(col("score").desc, col("docId").asc).limit(k),
      e.live(decodePostings(termBlocks).select(col("docId"))))
  }

  /** Batched BM25 top-k: N queries scored in ONE pass over the index —
    * every query's terms are read together (their shards union), decoded
    * once, scored with a broadcast (query id, term, qcnt, idf) relation, and
    * ranked with a per-query window. Rank/score-identical to running
    * [[bm25TopK]] per query (spec-asserted), but the per-job floor —
    * which dominates single-query latency on Spark — is paid once for the
    * whole batch: the right shape for offline query workloads (relevance
    * evals, mining, distillation) at cluster scale. It is the block-max
    * WAND of [[bm25TopK]]'s third route: `prune = None` probes whether
    * θ-pruning can pay, `Some(true)` always prunes, `Some(false)` scores
    * every candidate block. df per term comes from the epoch's memoized
    * envelope, so the batch and the single route share one IDF.
    *
    * Output: (query, docId, score, rank), rank 1..k per query, ordered
    * (score desc, docId asc) within each query. Queries with no matching
    * terms yield no rows.
    */
  def bm25TopKBatch(
      spark: SparkSession, dir: String, queries: Seq[String], k: Int,
      k1: Double = 0.9, b: Double = 0.4,
      prune: Option[Boolean] = None): DataFrame = {
    import spark.implicits._
    val e = epoch(spark, dir)
    val emptyOut = Seq.empty[(String, Long, Double, Int)]
      .toDF("query", "docId", "score", "rank")
    val counts = queries.distinct.map(q => q -> tokenCounts(q))
    val terms = counts.flatMap(_._2.keys).distinct
    if (terms.isEmpty) return emptyOut
    val termBlocks = e.termBlocks(terms).getOrElse(return emptyOut)
    val env = e.envelope(termBlocks, terms)
    val matching = counts.filter(_._2.keys.exists(env.contains))
    if (matching.isEmpty) return emptyOut
    val w = Window
      .partitionBy(col("qid"))
      .orderBy(col("score").desc, col("docId").asc)
    wand(e, termBlocks, matching.map(_._2), env.view.mapValues(_._1).toMap, k, k1, b, prune)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(typedLit(matching.map(_._1)).apply(col("qid")).as("query"),
        col("docId"), col("score"), col("rank"))
      // the window stays spread over the qid partitions; its ≤ k rows per
      // query then go to one partition and one task sorts them, where a
      // global orderBy would sample and range-partition them (a job more)
      .repartition(1)
      .sortWithinPartitions(col("query"), col("rank"))
  }

  /** Block-max WAND (Ding & Suel's block-max pruning adapted to a batch
    * engine) for `queries` (the token counts of each, every one matching
    * a term of `df`) over their terms' block rows: the scored relation
    * (qid, docId, score) of every block that can hold one of a query's
    * top k documents, `qid` being the query's index in `queries`.
    *
    *   a. a per-(query, block) score upper bound from BLOCK METADATA only
    *      (term/blockId/n/maxTf/minTf/minDl/maxDl — parquet never touches
    *      the posting bytes): each term's [[IndexBundle.bm25Weight]] at
    *      the block's extreme (tf, dl) corner, which dominates every doc
    *      in the block;
    *   b. `prune = None` prunes only when some query's block bounds vary
    *      (one metadata-only aggregation) on a grid of more than 256
    *      blocks; `Some(_)` decides without that job;
    *   c. phase 1 scores each query's highest-UB blocks covering ≥ 2k
    *      docs, whose k-th score θ is a LOWER bound of the true k-th
    *      score; a query whose phase 1 holds all its blocks needs no θ;
    *   d. every block with UB < θ is pruned (no doc in it can reach the
    *      top k); the survivors are scored exactly. EXACT — pruning, not
    *      approximation.
    *
    * Scale: the driver never collects per-block metadata proportional to
    * df. Its state per query is bounded: ≤ 2k phase-1 rows, ≤ k θ rows and
    * at most `SurvivorCap` surviving blocks (4M pairs in all); past that
    * the batch scores every candidate block (pruning saves nothing
    * there). Block upper bounds are computed DISTRIBUTED, so a
    * stop-word-grade term with df ≈ 10^11 adds zero driver memory.
    */
  private def wand(e: Epoch, termBlocks: DataFrame,
      queries: Seq[Map[String, Double]], df: Map[String, Long],
      k: Int, k1: Double, b: Double, prune: Option[Boolean]): DataFrame = {
    val spark = termBlocks.sparkSession
    import spark.implicits._
    // one query needs no per-query join or window: it ranks by a
    // per-partition top n and takes θ as a literal
    val single = queries.size == 1
    val qDf = broadcast(queries.zipWithIndex.flatMap { case (c, q) =>
        c.collect { case (t, n) if df.contains(t) =>
          (q, t, n, IndexBundle.idf(e.stats.vocabSize, df(t))) }
      }.toDF("qid", "term", "qcnt", "idf"))
    def pairs(blocks: Map[Int, Seq[Long]]) =
      blocks.toSeq.flatMap { case (q, ids) => ids.map(q -> _) }

    /** Shuffle-light scoring: the ONE shuffle moves COMPRESSED blocks
      * keyed by blockId (a stop-word query ships ~df/blockSpan block rows,
      * not df decoded postings). docId determines blockId, so after that
      * exchange every term's postings for a doc are co-located:
      * groupBy(qid, blockId, docId) is satisfied by the blockId hash
      * partitioning — no second shuffle. `restrict` limits decoding and
      * scoring to (qid, blockId) pairs: the blockId In-filter reaches the
      * parquet scan while at most `SurvivorCap` blocks are named, and with
      * several queries a broadcast pair join drops the decoded rows of
      * blocks another query needs but this one pruned.
      */
    def scored(restrict: Option[Seq[(Int, Long)]]): DataFrame = {
      val blocks = restrict.map(_.map(_._2).distinct).filter(_.size <= SurvivorCap)
        .fold(termBlocks)(ids => termBlocks.where(col("blockId").isin(ids: _*)))
      val rows = e.live(decodePostingsWithBlock(
          blocks.select(col("term"), col("blockId"), col("bytes"))
            .repartition(col("blockId"))))
        .join(qDf, "term")
      restrict.filter(_ => !single)
        .fold(rows)(p => rows.join(broadcast(p.toDF("qid", "blockId")), Seq("qid", "blockId")))
        .groupBy(col("qid"), col("blockId"), col("docId"))
        .agg(sum(summand(e, col("qcnt"), "tf", "dl", k1, b)).as("score"))
        .select(col("qid"), col("docId"), col("score"))
    }

    // The reference's vocabulary-size IDF (N = #terms) goes NEGATIVE when
    // df > vocab — common on small-vocab corpora. The weight is idf times
    // a factor ↑ in tf and ↓ in dl, so the extremal (tf, dl) corner flips
    // with the sign of idf.
    // A doc absent from a term contributes 0, so positive bounds add up;
    // if every bound is negative the best doc still matches ≥ 1 term
    // (blocks hold only matching docs) and the largest one dominates.
    val ub = termBlocks
      .select("term", "blockId", "n", "maxTf", "minTf", "minDl", "maxDl")
      .join(qDf, "term")
      .withColumn("pub", when(col("idf") >= 0, summand(e, col("qcnt"), "maxTf", "minDl", k1, b))
        .otherwise(summand(e, col("qcnt"), "minTf", "maxDl", k1, b)))
      .groupBy(col("qid"), col("blockId"))
      .agg(
        sum(when(col("pub") > 0, col("pub")).otherwise(0.0)).as("pos"),
        max(col("pub")).as("maxPub"),
        max(col("n")).as("nDocs"))
      .select(col("qid"), col("blockId"), col("nDocs"),
        when(col("maxPub") >= 0, col("pos")).otherwise(col("maxPub")).as("ub"))

    // auto mode: θ pruning only pays when block-level UB VARIANCE exists
    // — which on a docId-grid index is a property of the docId
    // assignment order (content-clustered ids → a query's rare terms
    // occupy few blocks and the rest fall below θ; scattered ids →
    // every term in every block, nothing can be excluded — measured
    // both ways in BENCH.md, `Harness wand`). Prune iff some query has
    // a block whose UB is under half its best block's (a necessary
    // condition for θ to bite) and the grid is big enough for the extra
    // jobs to ever pay.
    val doPrune = prune.getOrElse {
      e.stats.nDocs / e.layout.blockSpan > 256 && {
        val spread = ub.groupBy(col("qid"))
          .agg(max(col("ub")).as("mx"), min(col("ub")).as("mn")).collect()
        lastDriverMetaRows += spread.length.toLong
        spread.exists(r => r.getDouble(1) > 0 && r.getDouble(2) < 0.5 * r.getDouble(1))
      }
    }
    if (!doPrune) return scored(None)

    // each query's best n rows by `order`, in that order: a per-partition
    // top n plus a driver merge, or a row_number window (Spark keeps a
    // per-partition top n below its exchange)
    def best(rel: DataFrame, n: Int, order: Column*): Map[Int, Seq[Row]] = {
      val rows =
        if (single) rel.orderBy(order: _*).limit(n).collect().toSeq
        else rel.withColumn("r", row_number().over(Window.partitionBy(col("qid")).orderBy(order: _*)))
          .where(col("r") <= n).collect().toSeq.sortBy(_.getAs[Int]("r"))
      lastDriverMetaRows += rows.length
      rows.groupBy(_.getAs[Int]("qid"))
    }
    // phase 1: the highest-UB blocks until they hold ≥ 2k docs — at most
    // 2k blocks, since each holds ≥ 1 doc and distinct blockIds hold
    // distinct docs
    val top = best(ub, 2 * k, col("ub").desc, col("blockId").asc)
    val phase1 = top.map { case (q, rows) =>
      var cum = 0L
      q -> rows.takeWhile { r =>
        val take = cum < 2L * k; cum += r.getAs[Int]("nDocs"); take
      }.map(_.getAs[Long]("blockId"))
    }
    val open = phase1.filter { case (q, p) => top(q).size == 2 * k || p.size < top(q).size }
    if (open.isEmpty) return scored(None)
    // θ per query: its k-th phase-1 score (none below k docs: no pruning)
    val thetas = best(scored(Some(pairs(open))), k, col("score").desc, col("docId").asc)
      .collect { case (q, rows) if rows.size == k => q -> rows.last.getAs[Double]("score") }
    if (thetas.isEmpty) return scored(None)

    // survivors: every block whose UB reaches θ (queries without θ keep
    // all), PLUS the phase-1 blocks explicitly. Mathematically a phase-1
    // top-k doc's own block has ub ≥ its score ≥ θ, but ub and θ are sums
    // in different floating-point orders — for a block whose best doc IS
    // the kth-ranked doc, ub can land 1 ULP below θ and the ≥ test alone
    // would prune a true top-k doc. At most `SurvivorCap` pairs per query
    // (4M in all) are collected; past that pruning cannot pay.
    val cap = math.min(SurvivorCap.toLong * queries.size, 4000000L).toInt
    val withTheta =
      if (single) ub.withColumn("theta", lit(thetas.head._2))
      else ub.join(broadcast(thetas.toSeq.toDF("qid", "theta")), Seq("qid"), "left")
    val surv = withTheta
      .where(col("theta").isNull || col("ub") >= col("theta"))
      .select(col("qid"), col("blockId"))
      .limit(cap + 1).collect().map(r => (r.getInt(0), r.getLong(1)))
    lastDriverMetaRows += surv.length
    if (surv.length > cap) scored(None)
    else scored(Some((surv.toSeq ++ pairs(phase1)).distinct))
  }
}
