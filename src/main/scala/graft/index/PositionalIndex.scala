package graft.index

import graft.analysis.Analyzer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Positional postings + phrase queries — the fulltext capability the
  * tf-only inverted index cannot express ("exact phrase" matching needs
  * token ADJACENCY, not just co-occurrence). The reference engine has no
  * positional index; this is a Spark-first extension layered NEXT TO the
  * block index as an independent sidecar artifact, so the compressed
  * block format, segments, refresh and compaction stay untouched.
  *
  * Phrase evaluation is a single-shuffle dataflow, not an m-way join:
  * each posting of phrase term i at position p is a vote for a phrase
  * occurrence starting at p − i; a start that collects all m distinct
  * vote indices is a match. This folds the classic positional-intersect
  * loop (e.g. Manning/Raghavan/Schütze IIR §2.4.2) into
  * union → one exchange on docId → two co-partitioned aggregations,
  * which scales with executors and has no driver-side state.
  *
  * Physical sidecar layout (mirrors the block index's routing so query
  * planning stays driver-local): parquet partitioned by
  * `shard = pmod(xxhash64(term), nShards)`, rows
  * (term, docId, positions array<long> ascending), sorted by (term,
  * docId) within files so parquet row-group stats serve the pushed
  * `In(term, …)` filter. Position lists ride parquet's delta-packed
  * integer encoding — the same gap-compression role varbyte plays for
  * the block index's docId stream.
  */
object PositionalIndex {

  /** Positions of gap between title and body (Lucene's default
    * `positionIncrementGap`). Must exceed the longest supported gapped
    * pattern: [[phraseHitsGapped]] does not re-verify wildcard slots, so
    * a pattern spanning MORE positions than this gap could anchor its
    * ends in different fields and fake a match through the empty slots.
    * Callers of the gapped path enforce the bound
    * ([[phraseSearchGapped]] rejects longer patterns).
    */
  private[index] val FieldGapWidth = 100

  /** (term, docId, pos) over the engine's document model — title tokens
    * then body tokens (the same stream [[IndexBuilder.tokenStream]]
    * indexes, so phrase semantics agree with what the tf index matched),
    * with [[FieldGapWidth]] positions of gap between the fields (the
    * Lucene position-increment-gap idiom): a phrase — contiguous or
    * gapped up to the supported pattern length — must not match across
    * the title→body boundary, where the tokens are not actually adjacent
    * prose. The gap is pure position arithmetic (no sentinel tokens
    * materialize), and the op stays narrow: no shuffle.
    */
  def positionsStream(docs: DataFrame): DataFrame = {
    // the gap is ARITHMETIC, not materialized: body positions start at
    // |title| + FieldGapWidth (bench: exploding 100 filtered sentinel
    // array elements per doc cost the positional build family ~30%)
    val titleRows = docs.select(col("docId"),
        posexplode(Analyzer.tokensCol(col("title"))).as(Seq("pos", "term")))
      .select(col("term"), col("docId"), col("pos").cast("long").as("pos"))
    val bodyRows = docs.select(col("docId"),
        (size(Analyzer.tokensCol(col("title"))) + FieldGapWidth).as("__off"),
        posexplode(Analyzer.tokensCol(col("body"))).as(Seq("p0", "term")))
      .select(col("term"), col("docId"),
        (col("p0") + col("__off")).cast("long").as("pos"))
    titleRows.unionAll(bodyRows)
  }

  /** Positions over an arbitrary (id, text) relation — the pipeline-side
    * twin of [[positionsStream]] for tables without the document model.
    */
  def textPositions(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("docId"),
        posexplode(Analyzer.tokensCol(col(textCol))).as(Seq("pos", "term")))
      .select(col("term"), col("docId"), col("pos").cast("long").as("pos"))

  /** Documents containing `phrase` contiguously, with the number of
    * occurrences: (docId, phrase_tf). Overlapping occurrences count
    * ("a a" occurs twice in "a a a"), matching position arithmetic
    * rather than substring search. A repeated term in the phrase is
    * handled by the distinct-vote count (its postings vote at every i
    * where it appears). Empty phrase ⇒ empty result.
    *
    * Shape at scale: broadcast the m-row phrase pattern, ONE exchange of
    * the matched postings on docId; both aggregations (per-start vote
    * count, per-doc occurrence count) then run co-partitioned with no
    * further shuffle.
    */
  def phraseHits(positions: DataFrame, phrase: Seq[String]): DataFrame = {
    val sp = positions.sparkSession
    import sp.implicits._
    if (phrase.isEmpty)
      return Seq.empty[(Long, Long)].toDF("docId", "phrase_tf")
    val pattern = phrase.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("i", "term")
    positions
      .join(broadcast(pattern), "term")
      .select(col("docId"), (col("pos") - col("i")).as("start"), col("i"))
      .repartition(col("docId"))
      .groupBy(col("docId"), col("start"))
      .agg(countDistinct(col("i")).as("nhit"))
      .where(col("nhit") === phrase.size)
      .groupBy(col("docId"))
      .agg(count(lit(1)).as("phrase_tf"))
  }

  /** Gapped exact phrase (Lucene MultiPhraseQuery position-increment
    * semantics): `pattern` positions holding `None` are single-token
    * wildcards — "spark * join" matches spark at i and join at i+2,
    * whatever sits between. Same vote dataflow as [[phraseHits]], with
    * votes cast only by the ANCHOR terms and the hit bar at the anchor
    * count. Gap positions are not re-verified against the token stream:
    * interior positions of a field are contiguous by construction, and
    * the title→body field gap spans [[FieldGapWidth]] empty positions —
    * wider than any pattern the callers accept — so a cross-field
    * alignment cannot fake a match through the gap. Leading/trailing
    * wildcards are the caller's to trim — they constrain nothing here
    * (a leading gap aligned before the first token would otherwise
    * admit a doc with no token in that slot).
    */
  def phraseHitsGapped(positions: DataFrame,
      pattern: Seq[Option[String]]): DataFrame = {
    val sp = positions.sparkSession
    import sp.implicits._
    val anchors = pattern.zipWithIndex.collect { case (Some(t), i) => (i, t) }
    if (anchors.isEmpty)
      return Seq.empty[(Long, Long)].toDF("docId", "phrase_tf")
    val pat = anchors.toDF("i", "term")
    positions
      .join(broadcast(pat), "term")
      .select(col("docId"), (col("pos") - col("i")).as("start"), col("i"))
      .repartition(col("docId"))
      .groupBy(col("docId"), col("start"))
      .agg(countDistinct(col("i")).as("nhit"))
      .where(col("nhit") === anchors.size)
      .groupBy(col("docId"))
      .agg(count(lit(1)).as("phrase_tf"))
  }

  /** Top-k gapped phrase search against a persisted sidecar: the query
    * string tokenized with the WILDCARD analyzer (`*` survives as the
    * single-token gap marker), edge gaps trimmed, anchors scanned
    * through the shard-routed unigram path (the nextword accelerator is
    * bigram-keyed and cannot answer gapped patterns — deliberately not
    * consulted). Output: (docId, phrase_tf), (tf desc, docId) order.
    */
  def phraseSearchGapped(spark: SparkSession, dir: String, phrase: String,
      k: Int): DataFrame = {
    import spark.implicits._
    val raw = Analyzer.tokenizeWildcard(phrase)
      .map(t => if (t == "*") None else Some(t))
    val pattern = raw.dropWhile(_.isEmpty).reverse.dropWhile(_.isEmpty)
      .reverse
    require(pattern.size <= FieldGapWidth,
      s"gapped pattern spans ${pattern.size} positions; max $FieldGapWidth " +
        "(the title/body position-increment gap soundness bound)")
    val empty = Seq.empty[(Long, Long)].toDF("docId", "phrase_tf")
    val anchors = pattern.flatten
    if (anchors.isEmpty) return empty
    queryPositions(spark, dir, anchors)
      .fold(empty)(p => phraseHitsGapped(p, pattern)
        .orderBy(col("phrase_tf").desc, col("docId").asc).limit(k))
  }

  /** Proximity ranking: the smallest position window containing ALL the
    * (distinct) query terms, per document — the classic minimal-cover
    * primitive behind "sloppy phrase" / proximity-boosted retrieval
    * (IIR §2.4; an adjacent pair scores span 2, scattered terms score
    * wide). Pure window dataflow: sort each document's matching
    * positions; at every occurrence, the best cover ENDING there spans
    * from the latest prior position of each term (a running
    * conditional max per term) to the current position; the document's
    * score is the minimum over its occurrences. One column per distinct
    * query term — queries are a handful of terms, so the width is
    * bounded — and the window partitions by docId whose row count is
    * bounded by document length, so no skew hazard.
    *
    * Output: (docId, min_span), only documents containing every term;
    * min_span = 1 for a single-term query.
    */
  def proximityHits(positions: DataFrame, terms: Seq[String]): DataFrame = {
    val sp = positions.sparkSession
    import sp.implicits._
    if (terms.distinct.isEmpty)
      return Seq.empty[(Long, Long)].toDF("docId", "min_span")
    coverSpans(positions, terms.distinct)
      .groupBy(col("docId")).agg(min(col("__span")).as("min_span"))
  }

  /** Per matching occurrence, the tightest cover ENDING at it:
    * (docId, pos, __span) — the shared core of [[proximityHits]] and
    * [[bestWindows]]. `distinctTerms` must be non-empty and distinct.
    */
  private def coverSpans(positions: DataFrame,
      distinctTerms: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("docId")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lastCols = distinctTerms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("pos"))).over(w).as(s"__last$i")
    }
    val idx = distinctTerms.indices
    positions.where(col("term").isin(distinctTerms: _*))
      .select(Seq(col("docId"), col("pos")) ++ lastCols: _*)
      .where(idx.map(i => col(s"__last$i").isNotNull).reduce(_ && _))
      .select(col("docId"), col("pos"),
        (col("pos") - (if (idx.size == 1) col("__last0")
                       else least(idx.map(i => col(s"__last$i")): _*)) + 1)
          .as("__span"))
  }

  /** The single best (tightest; ties → earliest) covering window per
    * document: (docId, win_start, win_end), position-inclusive — the
    * relational form of the window [[preview]] picks per row for result
    * snippets. Deterministic, so the serving layer and the SQL oracle
    * agree on WHICH window gets rendered.
    */
  def bestWindows(positions: DataFrame, terms: Seq[String]): DataFrame = {
    val sp = positions.sparkSession
    import sp.implicits._
    val distinctTerms = terms.distinct
    if (distinctTerms.isEmpty)
      return Seq.empty[(Long, Long, Long)].toDF("docId", "win_start", "win_end")
    coverSpans(positions, distinctTerms)
      .groupBy(col("docId"))
      .agg(min(struct(col("__span"), col("pos"))).as("__best"))
      .select(col("docId"),
        (col("__best.pos") - col("__best.__span") + 1).as("win_start"),
        col("__best.pos").as("win_end"))
  }

  /** KWIC snippets: for every document containing ALL query terms, the
    * tokens of its best covering window (see [[bestWindows]]) expanded by
    * `ctx` tokens of context either side, query terms bracketed
    * (`[term]`) — the search-result preview a SERP renders under each
    * hit. Token-level by design: the snippet is the analyzer's view of
    * the document (lowercased terms), so what is highlighted is exactly
    * what matched.
    *
    * Shape at scale: one narrow pass — every row's window search and
    * render run inside the row ([[preview]]), so there is no shuffle and
    * no per-token row. Output: (docId, snippet).
    */
  def snippets(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], ctx: Int = 2): DataFrame =
    docs.select(col(idCol).cast("long").as("docId"),
        previewUdf(terms, ctx, coverOnly = true)(
          typedLit(Seq.empty[String]), Analyzer.tokensCol(col(textCol)))
          .as("snippet"))
      .where(col("snippet").isNotNull)

  /** Serving-layer previews over MODEL-FORM documents (docId, title,
    * body, …): every input doc gets a snippet, by a three-step fallback —
    * the best covering window when the doc contains ALL query terms
    * ([[bestWindows]]); else the FIRST occurrence of any query term
    * (a BM25/fuzzy hit need not contain every term, but a snippet should
    * still show what matched); else the document's LEAD tokens. Query
    * terms inside the rendered window are bracketed. The gated
    * [[snippets]] op is deliberately partial (all-terms docs only); this
    * is its total serving twin. One narrow pass ([[previewCol]]);
    * token-free docs emit no row (render as no preview). Output:
    * (docId, snippet).
    */
  def previewSnippets(docs: DataFrame, terms: Seq[String],
      ctx: Int = 2): DataFrame =
    docs.select(col("docId"),
        previewCol(col("title"), col("body"), terms, ctx).as("snippet"))
      .where(col("snippet").isNotNull)

  /** [[previewSnippets]]' snippet as a column over a document's title and
    * body strings: NULL for a token-free document.
    */
  def previewCol(title: Column, body: Column, terms: Seq[String],
      ctx: Int): Column =
    previewUdf(terms, ctx, coverOnly = false)(
      Analyzer.tokensCol(title), Analyzer.tokensCol(body))

  private def previewUdf(terms: Seq[String], ctx: Int, coverOnly: Boolean) = {
    val qs = terms.distinct.toVector
    udf((title: Seq[String], body: Seq[String]) =>
      preview(title, body, qs, ctx, coverOnly))
  }

  /** The preview of ONE document from its title and body tokens, with
    * the positions [[positionsStream]] gives them (title from 0, body
    * after the [[FieldGapWidth]] gap). The window is the tightest one
    * covering every distinct query term (ties → the earliest end, as
    * [[bestWindows]]); without one, unless `coverOnly`, the first query
    * term occurrence, else the lead token. The window's tokens plus
    * `ctx` positions either side render in position order, query terms
    * bracketed. None when no window exists (a token-free document; with
    * `coverOnly`, any document lacking a query term).
    */
  private[graft] def preview(title: Seq[String], body: Seq[String],
      terms: Seq[String], ctx: Int, coverOnly: Boolean): Option[String] = {
    val qs = terms.distinct
    val words = (title ++ body).toIndexedSeq
    val bodyStart = title.size.toLong + FieldGapWidth
    def pos(i: Int): Long = if (i < title.size) i.toLong else bodyStart + i - title.size
    val last = Array.fill(qs.size)(-1L)
    var first: Option[Long] = None
    var best: Option[(Long, Long)] = None
    words.iterator.zipWithIndex.foreach { case (w, i) =>
      val t = qs.indexOf(w)
      if (t >= 0) {
        val p = pos(i)
        if (first.isEmpty) first = Some(p)
        last(t) = p
        if (last.forall(_ >= 0)) {
          val start = last.min
          if (best.forall { case (s, e) => p - start < e - s }) best = Some((start, p))
        }
      }
    }
    val window =
      if (coverOnly) best
      else best.orElse(first.orElse(words.headOption.map(_ => pos(0))).map(p => (p, p)))
    window.map { case (s, e) =>
      words.indices.iterator
        .filter(i => pos(i) >= s - ctx && pos(i) <= e + ctx)
        .map(i => if (qs.contains(words(i))) s"[${words(i)}]" else words(i))
        .mkString(" ")
    }
  }

  // ---------------------------------------------------------------------
  // Persisted sidecar
  // ---------------------------------------------------------------------

  /** The per-term document-frequency table (vocab-sized, same shard
    * routing as the postings) — [[phraseSearch]]'s selectivity probe
    * reads a handful of its rows with a pushed `In(term)` instead of
    * counting posting rows per query.
    */
  private val DfStatsName = "dfstats"
  private def dfStatsDir(dir: String) = s"$dir/$DfStatsName"
  private val NextwordName = "nextword" // the accelerator, see below

  /** Build the positional sidecar for a model-form corpus. One shuffle
    * (the (term, docId) position aggregation); the shard repartition
    * rides the same exchange count because the write clusters by the
    * derived shard column before `partitionBy`, giving one file per
    * (shard, write-task) instead of nShards files per task. The df table
    * derives from a read-back of the written postings column-pruned to
    * `term` — it never touches the positions payload.
    *
    * Crash discipline: the build deletes the target first and writes
    * `_posmeta.json` LAST, so the metadata file is the commit marker — a
    * killed build leaves a directory that [[phraseSearch]] REFUSES
    * loudly (readNShards throws on the missing marker) and the next
    * build() heals by starting clean.
    */
  def build(docs: DataFrame, dir: String, nShards: Int = 8): Unit =
    buildFromRows(
      positionsStream(docs)
        .groupBy(col("term"), col("docId"))
        .agg(sort_array(collect_list(col("pos"))).as("positions")),
      dir, nShards)

  /** The write half of [[build]] over already-aggregated
    * (term, docId, positions) rows — also the engine of [[compact]],
    * which re-segments WITHOUT re-tokenizing ([[ShardedStore.writeSegment]]).
    */
  private def buildFromRows(rows: DataFrame, dir: String,
      nShards: Int): Unit =
    Store.writeSegment(rows, dir, Seq("nShards" -> nShards.toLong), -1L)

  def readNShards(dir: String): Int = Store.readMarker(dir)("nShards").toInt

  // ---------------------------------------------------------------------
  // Segments: incremental refresh without re-tokenizing the committed
  // corpus — the [[SegmentStore]] lifecycle, sidecar-sized: each segment
  // is a complete plain sidecar; `_possegments.json` is the segment list
  // ---------------------------------------------------------------------

  val PosSegmentsName = "_possegments.json"

  /** Committed state of a segmented sidecar root: ordered segment
    * directory names (`"."` = the root itself — the in-place conversion
    * of a plain sidecar), the uniform shard count, and the highest
    * committed docId (the floor for the next refresh — segments must
    * partition the corpus by docId range so a doc's positions live in
    * exactly one segment).
    */
  final case class PosSegmentsMeta(
      segs: Seq[String], nShards: Int, maxDocId: Long)

  /** Each segment's `_posmeta.json` records [[FieldGapWidth]], and a
    * sidecar recording any other width (or none — a 1-wide-gap artifact
    * cannot be told from a 100-wide one) is refused with a rebuild
    * message: its positions follow another convention.
    */
  private[graft] val Store = new ShardedStore("pseg-", PosSegmentsName,
    "_posmeta.json", "positional sidecar", "term",
    Seq("term", "docId", "positions"),
    "term string, docId long, positions array<long>", Seq("nShards"),
    Some(DfStatsName), Seq(NextwordName),
    Seq("fieldGapWidth" -> FieldGapWidth.toLong))

  private def toMeta(s: SegmentStore.Segments): PosSegmentsMeta =
    PosSegmentsMeta(s.segs, s("nShards").toInt, s.maxDocId)

  def isSegmented(dir: String): Boolean = Store.isSegmented(dir)

  /** True iff `dir` holds a committed sidecar (plain or segmented). */
  def exists(dir: String): Boolean = Store.exists(dir)

  def readSegments(dir: String): PosSegmentsMeta = toMeta(Store.readList(dir))

  /** Incrementally add `newDocs`' positions WITHOUT touching committed
    * data: the delta is tokenized and built as a brand-new immutable
    * segment (reusing [[build]]) under the [[SegmentStore]] commit
    * protocol. `newDocs.docId` must all exceed the committed maxDocId
    * (checked with one tiny aggregation); a caller-keyed `genName` (a
    * streaming micro-batch id) makes replay a no-op before any work.
    */
  def refresh(newDocs: DataFrame, dir: String,
      genName: Option[String] = None): PosSegmentsMeta =
    toMeta(Store.refresh(newDocs, col("docId"), dir, genName)(
      (seg, s) => build(newDocs, seg, s("nShards").toInt)))

  /** Fold all committed segments back into ONE from the stored
    * (term, docId, positions) rows, no re-tokenization, deleted docs'
    * positions reclaimed ([[SegmentStore.compact]]).
    */
  def compact(dir: String): PosSegmentsMeta = toMeta(Store.compact(dir))

  /** Tiered maintenance ([[SegmentStore.compactTiered]]), the same
    * triggers and partial-merge semantics as [[BlockIndex.compactTiered]];
    * nextword accelerators do not count toward a segment's size.
    */
  def compactTiered(dir: String, maxSegments: Int, mergeFactor: Int = 0,
      tombFraction: Double = SegmentStore.TombFraction): PosSegmentsMeta =
    toMeta(Store.compactTiered(dir, maxSegments, mergeFactor, tombFraction))

  /** Mark documents DELETED in the sidecar without touching committed
    * segment data — [[BlockIndex.delete]] on this directory. The sidecar
    * lives in its own directory, so deletes are per-structure: run the
    * same delete against the block index dir AND the sidecar dir.
    * [[phraseSearch]]/[[proximitySearch]] anti-join the tombstones;
    * the df selectivity probe keeps pre-delete counts until [[compact]]
    * folds the deletes out physically (heuristic-only, never affects
    * which docs are returned).
    */
  def delete(ids: DataFrame, dir: String,
      genName: Option[String] = None): BlockIndex.TombMeta =
    BlockIndex.delete(ids, dir, genName)

  /** Every phrase match lies in the rarest term's document set, so when
    * term selectivities are skewed (a tail identifier next to stop-word-
    * grade keywords — the common code-search phrase), semi-joining the
    * scan on that set BEFORE positions explode keeps the head terms'
    * position streams off the shuffle entirely. The probe costs one
    * row-count job over the term-filtered scan (positions column
    * pruned), so it only runs when it can pay: dfs within `SkewRatio`
    * of each other skip it. Broadcast under `BroadcastDf` candidate
    * docs, shuffle semi-join above.
    */
  private val SkewRatio = 8L
  private val BroadcastDf = 500000L

  /** Top-k phrase search against a persisted sidecar: driver-local shard
    * routing (no job) → pushed `In(term, …)` over only the phrase terms'
    * shard directories → rarest-term semi-join when selectivities are
    * skewed (see above) → [[phraseHits]] → TakeOrdered top-k by
    * (phrase_tf desc, docId asc). Output: (docId, phrase_tf).
    */
  /** Shard-routed, term-filtered position rows of ONE plain sidecar
    * (a root or a segment) plus its per-term dfs — the df probe reads a
    * few pushed-In(term) rows of the vocab-sized df table when the
    * sidecar has one, else counts posting rows (compat).
    */
  private def segScan(spark: SparkSession, dir: String,
      qTerms: Seq[String]): Option[(DataFrame, Map[String, Long])] = {
    val nShards = readNShards(dir)
    val shards = qTerms.map(BlockIndex.shardOf(_, nShards)).distinct.sorted
    val paths = SegmentStore.shardPaths(dir, shards)
    if (paths.isEmpty) return None
    val rows = spark.read.option("basePath", dir).parquet(paths: _*)
      .where(col("term").isin(qTerms: _*))
      .select(col("term"), col("docId"), col("positions"))
    val statsPaths = SegmentStore.shardPaths(dfStatsDir(dir), shards)
    val dfs =
      (if (statsPaths.nonEmpty)
        spark.read.option("basePath", dfStatsDir(dir)).parquet(statsPaths: _*)
          .where(col("term").isin(qTerms: _*))
          .select(col("term"), col("df"))
      else rows.groupBy(col("term")).agg(count(lit(1)).as("df")))
      .collect().map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    Some((rows, dfs))
  }

  /** Shard-routed, term-filtered, rarest-term-prefiltered position rows
    * of a persisted sidecar (plain or segmented — segments' scans union;
    * dfs sum across segments) for a query's terms — the shared scan
    * under [[phraseSearch]] and [[proximitySearch]]. None ⇔ some query
    * term has no postings anywhere (no result can exist).
    */
  private def queryPositions(spark: SparkSession, dir: String,
      terms: Seq[String]): Option[DataFrame] =
    positionsOver(spark, dir, Store.segDirs(dir), terms)

  /** The scan core shared by the unigram and nextword paths: union the
    * shard-routed, token-filtered scans of `scanDirs`, anti-join the ROOT
    * sidecar's tombstones, and semi-join on the rarest token's documents
    * when selectivities are skewed. None ⇔ some query token has no
    * postings in ANY of `scanDirs` (or `scanDirs` is empty).
    */
  private def positionsOver(spark: SparkSession, rootDir: String,
      scanDirs: Seq[String], tokens: Seq[String]): Option[DataFrame] = {
    val qTerms = tokens.distinct
    val perSeg = scanDirs.flatMap(seg => segScan(spark, seg, qTerms))
    if (perSeg.isEmpty) return None
    val dfs = perSeg.flatMap(_._2.toSeq)
      .groupMapReduce(_._1)(_._2)(_ + _)
    if (qTerms.exists(t => dfs.getOrElse(t, 0L) == 0L)) return None
    // tombstoned docs vanish before any matching; the df probe above
    // keeps stale (pre-delete) counts until compact — heuristic-only
    val rows = SegmentStore.liveOnly(rootDir, perSeg.map(_._1).reduce(_ union _))
    val (rareTerm, rareDf) = dfs.minBy(_._2)
    val filtered =
      if (dfs.values.max / math.max(rareDf, 1L) < SkewRatio) rows
      else {
        val cand = rows.where(col("term") === rareTerm).select(col("docId"))
        val candSide = if (rareDf <= BroadcastDf) broadcast(cand) else cand
        rows.join(candSide, Seq("docId"), "leftsemi")
      }
    Some(filtered
      .select(col("term"), col("docId"), explode(col("positions")).as("pos")))
  }

  def phraseSearch(spark: SparkSession, dir: String, phrase: String,
      k: Int): DataFrame = {
    import spark.implicits._
    val terms = Analyzer.tokenize(phrase)
    val empty = Seq.empty[(Long, Long)].toDF("docId", "phrase_tf")
    if (terms.isEmpty) return empty
    def rank(hits: DataFrame): DataFrame =
      hits.orderBy(col("phrase_tf").desc, col("docId").asc).limit(k)
    if (terms.size >= 2) {
      val (armed, plain) = Store.segDirs(dir).partition(hasNextword)
      if (armed.nonEmpty) {
        // segments partition the corpus by docId, so evaluating armed
        // segments through bigram postings and unarmed ones through the
        // unigram path and UNIONING the per-doc counts is exact
        val grams = terms.sliding(2).map(_.mkString(" ")).toVector
        val parts =
          positionsOver(spark, dir, armed.map(nextwordDir), grams)
            .map(phraseHits(_, grams)).toSeq ++
          positionsOver(spark, dir, plain, terms)
            .map(phraseHits(_, terms)).toSeq
        return parts.reduceOption(_ unionByName _).fold(empty)(rank)
      }
    }
    queryPositions(spark, dir, terms).fold(empty)(p => rank(phraseHits(p, terms)))
  }

  // ---------------------------------------------------------------------
  // Nextword accelerator (Williams, Zobel & Bahle 2004, "Fast phrase
  // querying with combined indexes"): an auxiliary postings structure
  // over ADJACENT TERM PAIRS. A head-head phrase ("def val", both terms
  // in ~every document) is the sidecar's worst regime — the rarest-term
  // semi-join cannot prune, so the unigram path explodes both full
  // position streams. The pair's document frequency is typically orders
  // of magnitude below either unigram's, so scanning bigram postings
  // instead bounds the evaluated rows by the PHRASE's selectivity, not
  // the terms'. An n-term phrase needs only its n−1 adjacent pairs: a
  // start s is a match iff pair i occurs at s+i for all i — the same
  // vote dataflow as [[phraseHits]], with grams as the pattern tokens.
  //
  // Lifecycle: DERIVED data, built PER SEGMENT from that segment's
  // STORED rows (no re-tokenization, no access to the original corpus —
  // field-gap and tombstone discipline carry over because adjacency and
  // docIds are reconstructed from the committed positions themselves).
  // Segments are immutable, so a segment's nextword can never go stale:
  // [[buildNextword]] arms whichever committed segments lack one (after
  // a refresh that is exactly the DELTA segment — incremental
  // maintenance, not a corpus rebuild), and [[phraseSearch]] evaluates
  // armed segments through bigram postings, unarmed ones through the
  // unigram path, and unions the per-doc counts — exact, because
  // segments partition the corpus by docId. Compaction folds segments
  // into a fresh one (initially unarmed → unigram until re-armed); its
  // sweep removes orphaned accelerators with their segments. Deletes
  // need no re-arm: tombstones anti-join at query time on both paths.
  // ---------------------------------------------------------------------

  private def nextwordDir(seg: String) = s"$seg/$NextwordName"

  private def hasNextword(seg: String): Boolean = Store.exists(nextwordDir(seg))

  /** Arm every committed segment that lacks its nextword accelerator.
    * Idempotent and incremental: armed segments are skipped, so after a
    * refresh this builds only the delta segment's pairs. A kill mid-build
    * leaves that segment's accelerator uncommitted (buildFromRows writes
    * its meta marker last) — the segment stays on the unigram path and
    * the next call heals it.
    *
    * Shape at scale (per segment): one exchange groups the exploded
    * (docId, pos, term) stream per document (bounded rows per group —
    * document length; a docId lives in exactly ONE segment, so the group
    * is complete); adjacent pairs form ARRAY-LOCALLY over the sorted
    * (pos, term) structs; two more exchanges aggregate per-(gram, doc)
    * position lists and cluster by shard for the partitioned write — the
    * same write path, shard routing, df table and commit-marker
    * discipline as the sidecar itself ([[buildFromRows]] with grams as
    * the term column). Position gaps (the title→body field gap,
    * tombstone-swept holes) break adjacency naturally: a pair exists
    * only where pos(next) = pos(prev) + 1.
    */
  def buildNextword(dir: String): Unit = {
    Store.segDirs(dir).filterNot(hasNextword).foreach { seg =>
      buildFromRows(pairRows(Store.storedRows(Seq(seg), None)),
        nextwordDir(seg), readNShards(seg))
    }
  }

  /** (gram, docId, positions-of-first-token) rows derived from stored
    * unigram position rows — the relation [[buildNextword]] persists.
    */
  private def pairRows(rows: DataFrame): DataFrame = {
    val perDoc = rows
      .select(col("docId"), col("term"), explode(col("positions")).as("pos"))
      .groupBy(col("docId"))
      .agg(array_sort(collect_list(struct(col("pos"), col("term"))))
        .as("tp"))
    perDoc.select(col("docId"),
      explode(filter(
        zip_with(
          slice(col("tp"), lit(1), greatest(size(col("tp")) - 1, lit(0))),
          slice(col("tp"), lit(2), greatest(size(col("tp")) - 1, lit(0))),
          (a, b) => when(b.getField("pos") === a.getField("pos") + 1,
            struct(a.getField("pos").as("pos"),
              concat(a.getField("term"), lit(" "), b.getField("term"))
                .as("gram")))),
        p => p.isNotNull)).as("pg"))
      .select(col("pg.gram").as("term"), col("docId"), col("pg.pos").as("pos"))
      .groupBy(col("term"), col("docId"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
  }

  /** Phrase autocomplete from the nextword accelerator: the top-k
    * next-word continuations of `prev`'s LAST token, ranked by bigram
    * DOCUMENT frequency (df desc, term asc — typeahead's rule at bigram
    * granularity). Reads ONLY the armed segments' bigram df-stats
    * tables — one row per distinct bigram, metadata-scale; postings are
    * never touched — so a suggestion probe costs a stats scan, not an
    * index query. Unarmed segments contribute nothing (callers wanting
    * full coverage run [[buildNextword]] first; [[nextwordFresh]]
    * probes). Like typeahead, tombstoned docs still count: df is a
    * ranking signal, refreshed by compaction.
    */
  def nextwordSuggest(spark: SparkSession, dir: String, prev: String,
      k: Int): DataFrame = {
    import spark.implicits._
    require(k > 0, s"k must be positive, got $k")
    val empty = Seq.empty[(String, Long)].toDF("next_term", "df")
    graft.analysis.Analyzer.tokenize(prev).lastOption match {
      case None => empty
      case Some(p) =>
        val armed = Store.segDirs(dir).filter(hasNextword)
        if (armed.isEmpty) empty
        else
          armed.map(seg =>
              spark.read.parquet(dfStatsDir(nextwordDir(seg)))
                .select(col("term"), col("df")))
            .reduce(_ unionByName _)
            .where(col("term").startsWith(p + " "))
            .groupBy(col("term"))
            .agg(sum(col("df")).cast("long").as("df"))
            .select(substring_index(col("term"), " ", -1).as("next_term"),
              col("df"))
            .orderBy(col("df").desc, col("next_term").asc)
            .limit(k)
    }
  }

  /** True iff EVERY committed segment is armed — i.e. phrase queries run
    * fully accelerated, with no unigram mixing. Metadata existence
    * checks only, no job. (Partial arming still accelerates: armed
    * segments use bigram postings regardless.)
    */
  def nextwordFresh(spark: SparkSession, dir: String): Boolean = {
    val _ = spark // kept for API symmetry with the other probes
    val segs = Store.segDirs(dir)
    segs.nonEmpty && segs.forall(hasNextword)
  }

  /** Top-k proximity search against a persisted sidecar: same scan as
    * [[phraseSearch]], ranked by the minimal covering window
    * (min_span asc — tightest co-occurrence first — then docId).
    * Output: (docId, min_span).
    */
  def proximitySearch(spark: SparkSession, dir: String, query: String,
      k: Int): DataFrame = {
    import spark.implicits._
    val terms = Analyzer.tokenize(query)
    val empty = Seq.empty[(Long, Long)].toDF("docId", "min_span")
    if (terms.isEmpty) return empty
    queryPositions(spark, dir, terms).fold(empty) { positions =>
      proximityHits(positions, terms)
        .orderBy(col("min_span").asc, col("docId").asc)
        .limit(k)
    }
  }
}
