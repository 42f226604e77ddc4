package graft

import graft.index.PositionalIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Positional index + phrase matching: adjacency semantics (overlaps,
  * repeated phrase terms, field boundaries), persisted-sidecar parity
  * with the logical path, and shard-pruned query planning.
  */
class PositionalIndexSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  private def modelDocs(rows: Seq[(Long, String, String)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.map { case (id, t, b) => (id, t, b, "") }
      .toDF("docId", "title", "body", "url")
  }

  private def hits(docs: DataFrame, phrase: String*): Map[Long, Long] =
    PositionalIndex.phraseHits(
        PositionalIndex.positionsStream(docs), phrase)
      .collect().map(r => r.getAs[Long]("docId") -> r.getAs[Long]("phrase_tf"))
      .toMap

  test("phrase matching: adjacency, overlap counting, repeated terms") {
    val docs = modelDocs(Seq(
      (1L, "", "the quick brown fox jumps"),
      (2L, "", "quick fox brown the"), // all terms, never adjacent pair
      (3L, "", "a a a"), // overlapping "a a" occurs twice
      (4L, "", "x b x b x"), // "x b x" at 0 and 2 (overlap, repeated term)
      (5L, "", "")))
    assert(hits(docs, "quick", "brown") == Map(1L -> 1L))
    assert(hits(docs, "quick", "brown", "fox") == Map(1L -> 1L))
    assert(hits(docs, "brown", "quick") == Map.empty[Long, Long])
    assert(hits(docs, "a", "a") == Map(3L -> 2L))
    assert(hits(docs, "x", "b", "x") == Map(4L -> 2L))
    // single-term phrase degenerates to term tf
    assert(hits(docs, "a") == Map(3L -> 3L))
    // empty phrase and unknown term → empty
    assert(hits(docs) == Map.empty[Long, Long])
    assert(hits(docs, "zebra", "fox") == Map.empty[Long, Long])
  }

  test("phrases match within fields but not across the title/body boundary") {
    val docs = modelDocs(Seq(
      (1L, "alpha beta", "gamma delta"),
      (2L, "", "alpha beta gamma delta")))
    assert(hits(docs, "alpha", "beta") == Map(1L -> 1L, 2L -> 1L))
    assert(hits(docs, "gamma", "delta") == Map(1L -> 1L, 2L -> 1L))
    // adjacent in the concatenated stream, but split across fields in doc 1
    assert(hits(docs, "beta", "gamma") == Map(2L -> 1L))
  }

  test("persisted sidecar: phraseSearch ≡ logical phraseHits, ranked top-k") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("join", "scan", "table", "merge", "sort", "hash")
    val docs = modelDocs((1L to 60L).map { id =>
      (id, "", Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq( // df-skewed tail term → phraseSearch takes the rarest-term
      //         semi-join path; parity must hold there too
      (61L, "", "rareterm scan table join rareterm scan"),
      (62L, "", "scan rareterm table")))
    val dir = Files.createTempDirectory("graft-positional").toString
    PositionalIndex.build(docs, dir, nShards = 4)
    for (phrase <- Seq("table scan", "sort merge join", "hash",
        "rareterm scan", "scan rareterm")) {
      val terms = graft.analysis.Analyzer.tokenize(phrase)
      val expected = PositionalIndex.phraseHits(
          PositionalIndex.positionsStream(docs), terms)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val top = PositionalIndex.phraseSearch(spark, dir, phrase, k = 1000)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(top.toSet == expected, s"phrase '$phrase'")
      // ranked (phrase_tf desc, docId asc)
      assert(top.sortBy { case (id, tf) => (-tf, id) }.toSeq == top.toSeq)
      // top-k truncation keeps the rank order prefix
      val k3 = PositionalIndex.phraseSearch(spark, dir, phrase, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(k3 == top.toSeq.take(3), s"phrase '$phrase' k=3")
    }
  }

  test("nextword accelerator: parity on every phrase regime, tombstones, staleness fallback") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(17)
    val vocab = Vector("join", "scan", "table", "merge", "sort", "hash")
    val docs = modelDocs((1L to 50L).map { id =>
      (id, "", Seq.fill(24)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq(
      (51L, "alpha beta", "gamma delta"), // field gap breaks "beta gamma"
      (52L, "", "alpha beta gamma delta"),
      (53L, "", "a a a"), // overlapping "a a" → tf 2
      (54L, "", "x b x b x"))) // repeated-term phrase "x b x" → tf 2
    val dir = Files.createTempDirectory("graft-pos-nw").toString
    PositionalIndex.build(docs, dir, nShards = 4)
    assert(!PositionalIndex.nextwordFresh(spark, dir))
    PositionalIndex.buildNextword(dir)
    assert(PositionalIndex.nextwordFresh(spark, dir))
    def search(q: String) = PositionalIndex.phraseSearch(spark, dir, q, 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // parity with the logical unigram path: head-head, 3-term, overlap,
    // repeated terms, field boundary, absent pair, skewed pair
    for (q <- Seq("table scan", "sort merge join", "a a", "x b x",
        "beta gamma", "alpha beta", "zebra fox", "a delta")) {
      val expect = PositionalIndex.phraseHits(
          PositionalIndex.positionsStream(docs),
          graft.analysis.Analyzer.tokenize(q))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(search(q) == expect, s"phrase '$q'")
    }
    assert(search("a a") == Map(53L -> 2L))
    assert(search("x b x") == Map(54L -> 2L))
    assert(search("beta gamma") == Map(52L -> 1L)) // never across the gap
    // the accelerated plan pushes the GRAMS into the parquet scan
    val plan = PositionalIndex.phraseSearch(spark, dir, "table scan", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("table scan"), s"gram not pushed:\n$plan")
    // tombstones apply at query time — no rebuild needed, stays fresh
    PositionalIndex.delete(Seq(52L).toDF("docId"), dir)
    assert(PositionalIndex.nextwordFresh(spark, dir))
    assert(search("beta gamma") == Map.empty[Long, Long])
    // a refresh leaves the DELTA segment unarmed: fresh=false, and the
    // query MIXES — armed segments via bigram postings, the delta via
    // the unigram path — exactly (docId-disjoint union)
    PositionalIndex.refresh(
      modelDocs(Seq((60L, "", "table scan table scan"))), dir)
    assert(!PositionalIndex.nextwordFresh(spark, dir))
    val mixed = search("table scan")
    assert(mixed.getOrElse(60L, 0L) == 2L)
    // ...and the committed docs' counts are untouched by the mixing
    val expectOld = PositionalIndex.phraseHits(
        PositionalIndex.positionsStream(docs.where(col("docId") =!= 52L)),
        Seq("table", "scan"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(mixed - 60L == expectOld)
    // re-arming builds ONLY the delta segment's pairs (incremental)
    PositionalIndex.buildNextword(dir)
    assert(PositionalIndex.nextwordFresh(spark, dir))
    assert(search("table scan") == mixed)
    assert(search("beta gamma") == Map.empty[Long, Long]) // delete survives re-arm
    // compaction folds to a fresh UNARMED segment (sweep removes the
    // orphaned accelerators): unigram until re-armed, same answers
    PositionalIndex.compact(dir)
    assert(!PositionalIndex.nextwordFresh(spark, dir))
    assert(search("table scan") == mixed)
    PositionalIndex.buildNextword(dir)
    assert(PositionalIndex.nextwordFresh(spark, dir))
    assert(search("table scan") == mixed)
    assert(search("beta gamma") == Map.empty[Long, Long])
  }

  test("phraseSearchGapped: anchors align across the wildcard slot; edge gaps trim") {
    val docs = modelDocs(Seq(
      (1L, "", "table full join here"), // table _ join → hit
      (2L, "", "table join now"), // adjacent ≠ gapped
      (3L, "", "table x y join"), // gap of 2 ≠ gap of 1
      (4L, "", "a table b join table c join d"), // two hits
      (5L, "", "join q table")))
    val dir = Files.createTempDirectory("graft-pos-gap").toString
    PositionalIndex.build(docs, dir, nShards = 4)
    def hits(q: String) =
      PositionalIndex.phraseSearchGapped(spark, dir, q, 100)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hits("table * join") == Map(1L -> 1L, 4L -> 2L))
    // two wildcards
    assert(hits("table * * join") == Map(3L -> 1L))
    // edge gaps constrain nothing: "* table * join *" ≡ "table * join"
    assert(hits("* table * join *") == Map(1L -> 1L, 4L -> 2L))
    // no anchors → empty; unknown anchor → empty
    assert(hits("* *").isEmpty && hits("zzz * join").isEmpty)
    // gap-free degenerates to exact phrase
    assert(hits("table join") == Map(2L -> 1L))
  }

  test("phraseHitsGapped: wildcard slots never bridge the title/body gap") {
    // title ends with the first anchor, body starts with the second: with
    // a single-position field gap, "a * b" would anchor a@p and b@p+2
    // through the empty sentinel slot — a false match. The widened
    // position-increment gap must reject it.
    val docs = modelDocs(Seq(
      (1L, "title ends a", "b starts body"),
      (2L, "", "a x b"), // genuine gapped hit
      (3L, "ends a q", "b body"))) // two-wide slot can't bridge either
    val tf = PositionalIndex.phraseHitsGapped(
        PositionalIndex.positionsStream(docs),
        Seq(Some("a"), None, Some("b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(tf == Map(2L -> 1L))
    val tf2 = PositionalIndex.phraseHitsGapped(
        PositionalIndex.positionsStream(docs),
        Seq(Some("a"), None, None, Some("b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(tf2 == Map.empty[Long, Long])
    // patterns longer than the gap are rejected, not silently unsound
    val dir = Files.createTempDirectory("graft-pos-gapw").toString
    PositionalIndex.build(docs, dir, nShards = 2)
    val wide = "a " + ("* " * 100) + "b"
    intercept[IllegalArgumentException] {
      PositionalIndex.phraseSearchGapped(spark, dir, wide, 10)
    }
  }

  test("nextwordSuggest: continuations by bigram df; last token; unarmed → empty") {
    val docs = modelDocs(Seq(
      (1L, "", "spark table join spark table"),
      (2L, "", "spark table spark stream"),
      (3L, "", "spark stream processing"),
      (4L, "", "no relevant words here")))
    val dir = Files.createTempDirectory("graft-pos-sug").toString
    PositionalIndex.build(docs, dir, nShards = 4)
    // unarmed: no accelerator → empty suggestion, never an error
    assert(PositionalIndex.nextwordSuggest(spark, dir, "spark", 10)
      .count() == 0)
    PositionalIndex.buildNextword(dir)
    def sug(p: String, k: Int = 10) =
      PositionalIndex.nextwordSuggest(spark, dir, p, k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // "spark table" in docs 1,2 (df 2, twice in doc 1 counts once);
    // "spark stream" in docs 2,3 (df 2) → tie broken term-asc
    assert(sug("spark") == Seq(("stream", 2L), ("table", 2L)))
    assert(sug("spark", 1) == Seq(("stream", 2L)))
    // multi-token prefix: the LAST token drives the suggestion
    assert(sug("the query spark") == Seq(("stream", 2L), ("table", 2L)))
    assert(sug("table") == Seq(("join", 1L), ("spark", 1L)))
    assert(sug("zebra").isEmpty)
    assert(sug("").isEmpty)
  }

  test("tombstoned sidecar: deleted docs vanish from phrase/proximity; compact reclaims") {
    val sp = spark
    import sp.implicits._
    val docs = modelDocs((1L to 40L).map { id =>
      (id, "", s"alpha beta gamma doc$id alpha beta")
    })
    val dir = Files.createTempDirectory("graft-pos-tomb").toString
    PositionalIndex.build(docs, dir, nShards = 4)
    def phraseIds() = PositionalIndex.phraseSearch(spark, dir, "alpha beta", 100)
      .collect().map(_.getLong(0)).toSet
    def proxIds() = PositionalIndex.proximitySearch(spark, dir, "beta gamma", 100)
      .collect().map(_.getLong(0)).toSet
    assert(phraseIds() == (1L to 40L).toSet)
    val victims = (1L to 40L).filter(_ % 4 == 2)
    PositionalIndex.delete(victims.toDF("docId"), dir)
    val live = (1L to 40L).toSet -- victims
    assert(phraseIds() == live)
    assert(proxIds() == live)
    // compact folds the deletes out physically: rows == a cold build over
    // survivors, tombstone state cleared, queries unchanged
    PositionalIndex.compact(dir) // plain sidecar + tombstones compacts
    assert(graft.index.BlockIndex.readTombMeta(dir).isEmpty)
    assert(phraseIds() == live && proxIds() == live)
    val coldDir = Files.createTempDirectory("graft-pos-tomb-cold").toString
    PositionalIndex.build(docs.where(!col("docId").isin(victims: _*)),
      coldDir, nShards = 4)
    def posRows(d: String) = PositionalIndex.phraseSearch(spark, d, "alpha", 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(posRows(dir) == posRows(coldDir))
    // a rebuild drops stale tombstones with the rest of the directory
    PositionalIndex.delete(Seq(3L).toDF("docId"), dir)
    PositionalIndex.build(docs, dir, nShards = 4)
    assert(graft.index.BlockIndex.readTombMeta(dir).isEmpty)
    assert(phraseIds() == (1L to 40L).toSet)
  }

  test("proximityHits: minimal covering window, order-free, single term, absent term") {
    val docs = modelDocs(Seq(
      (1L, "", "table big scan"), // cover spans positions 0..2
      (2L, "", "table x y z scan"),
      (3L, "", "scan table"), // order-free: reversed pair still span 2
      (4L, "", "table only here"), // missing "scan" → excluded
      (5L, "", "scan scan table scan"))) // best cover is (table,scan) = 2
    def prox(terms: String*): Map[Long, Long] =
      PositionalIndex.proximityHits(
          PositionalIndex.positionsStream(docs), terms)
        .collect().map(r => r.getAs[Long]("docId") -> r.getAs[Long]("min_span"))
        .toMap
    assert(prox("table", "scan") ==
      Map(1L -> 3L, 2L -> 5L, 3L -> 2L, 5L -> 2L))
    // duplicate query terms collapse to the distinct set
    assert(prox("table", "scan", "table") == prox("table", "scan"))
    // single term: every containing doc covers with span 1
    assert(prox("table") == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    assert(prox("zebra", "table") == Map.empty[Long, Long])
    assert(prox() == Map.empty[Long, Long])
  }

  test("persisted proximitySearch ≡ logical proximityHits, ranked by span") {
    val rnd = new scala.util.Random(23)
    val vocab = Vector("join", "scan", "table", "merge", "sort", "hash")
    val docs = modelDocs((1L to 50L).map { id =>
      (id, "", Seq.fill(25)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq((51L, "", "needle sort hash needle"))) // skewed df → semi-join path
    val dir = Files.createTempDirectory("graft-proximity").toString
    PositionalIndex.build(docs, dir, nShards = 4)
    for (query <- Seq("table scan", "sort merge join", "needle sort")) {
      val terms = graft.analysis.Analyzer.tokenize(query)
      val expected = PositionalIndex.proximityHits(
          PositionalIndex.positionsStream(docs), terms)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = PositionalIndex.proximitySearch(spark, dir, query, k = 1000)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSet == expected, s"query '$query'")
      assert(got.sortBy { case (id, sp) => (sp, id) }.toSeq == got.toSeq)
    }
  }

  test("bestWindows: tightest cover, ties → earliest, single term") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "a b table scan c"),
      (2L, "scan x table y z scan table"), // tightest is the trailing pair
      (3L, "table scan x table scan"), // two span-2 covers → earliest wins
      (4L, "table only")).toDF("doc_id", "text")
    val toks = PositionalIndex.textPositions(docs, "doc_id", "text")
    val wins = PositionalIndex.bestWindows(toks, Seq("table", "scan"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(wins == Map(1L -> (2L, 3L), 2L -> (5L, 6L), 3L -> (0L, 1L)))
    val single = PositionalIndex.bestWindows(toks, Seq("table"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(single == Map(1L -> (2L, 2L), 2L -> (2L, 2L),
      3L -> (0L, 0L), 4L -> (0L, 0L)))
  }

  test("snippets: KWIC render of the best window, terms bracketed, edges clamped") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "aa bb table scan cc dd"),
      (2L, "scan xx table yy zz scan table"), // window at the doc tail
      (3L, "table scan xx"), // window at the doc head
      (4L, "table only here")).toDF("doc_id", "text")
    def snip(ctx: Int): Map[Long, String] =
      PositionalIndex.snippets(docs, "doc_id", "text",
          Seq("table", "scan"), ctx)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snip(2) == Map(
      1L -> "aa bb [table] [scan] cc dd",
      2L -> "yy zz [scan] [table]",
      3L -> "[table] [scan] xx"))
    assert(snip(0) == Map(
      1L -> "[table] [scan]",
      2L -> "[scan] [table]",
      3L -> "[table] [scan]"))
    assert(PositionalIndex.snippets(docs, "doc_id", "text", Seq.empty)
      .count() == 0)
  }

  test("segmented sidecar: refresh ≡ cold rebuild, replay no-op, compact folds + sweeps") {
    val rnd = new scala.util.Random(31)
    val vocab = Vector("join", "scan", "table", "merge", "sort", "hash", "needle")
    val all = (1L to 80L).map { id =>
      (id, "", Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val cold = Files.createTempDirectory("graft-pos-cold").toString
    val seg = Files.createTempDirectory("graft-pos-seg").toString
    PositionalIndex.build(modelDocs(all), cold, nShards = 4)
    PositionalIndex.build(modelDocs(all.filter(_._1 <= 50)), seg, nShards = 4)
    val delta = modelDocs(all.filter(_._1 > 50))
    val m1 = PositionalIndex.refresh(delta, seg)
    assert(m1.segs == Seq(".", "pseg-51-80") && m1.maxDocId == 80L)
    def results(dir: String, q: String) = (
      PositionalIndex.phraseSearch(spark, dir, q, 1000)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq,
      PositionalIndex.proximitySearch(spark, dir, q, 1000)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    for (q <- Seq("table scan", "sort merge", "needle hash"))
      assert(results(seg, q) == results(cold, q), s"refreshed vs cold: '$q'")
    // re-running the same refresh is a no-op commit (default range name)
    assert(PositionalIndex.refresh(delta, seg).segs == m1.segs)
    // non-disjoint docIds are refused loudly
    intercept[IllegalArgumentException] {
      PositionalIndex.refresh(modelDocs(all.take(3)), seg)
    }
    // compaction folds to one segment, answers identically, sweeps the
    // root-held base's artifacts
    val m3 = PositionalIndex.compact(seg)
    assert(m3.segs.size == 1 && m3.segs.head.startsWith("pseg-compact-"))
    for (q <- Seq("table scan", "sort merge", "needle hash"))
      assert(results(seg, q) == results(cold, q), s"post-compact: '$q'")
    import java.nio.file.{Files => JF, Paths}
    assert(!JF.exists(Paths.get(seg, "_posmeta.json")))
    assert(!JF.exists(Paths.get(seg, "dfstats")))
    // caller-keyed generation: replay is a detectable no-op before work
    val delta2 = modelDocs((81L to 90L).map(id => (id, "", "needle table x")))
    val m4 = PositionalIndex.refresh(delta2, seg, genName = Some("b7"))
    assert(m4.segs.last == "pseg-b7" && m4.maxDocId == 90L)
    assert(PositionalIndex.refresh(delta2, seg, genName = Some("b7")).segs
      == m4.segs)
    val hits = PositionalIndex.phraseSearch(spark, seg, "needle table", 1000)
      .collect().map(_.getLong(0)).toSet
    assert((81L to 90L).toSet.subsetOf(hits))
  }

  test("previewSnippets: cover → first-match → lead fallback tiers, total over hits") {
    val docs = modelDocs(Seq(
      (1L, "", "aa table scan bb"), // full cover → best window
      (2L, "", "xx yy scan zz ww"), // partial match → first occurrence
      (3L, "", "pp qq rr"), // no query terms → lead tokens
      (4L, "", ""))) // token-free → no snippet row
    val got = PositionalIndex.previewSnippets(docs, Seq("table", "scan"), ctx = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "aa [table] [scan] bb",
      2L -> "yy [scan] zz",
      3L -> "pp qq"))
    // empty query: lead tokens, nothing bracketed
    val lead = PositionalIndex.previewSnippets(docs, Seq.empty, ctx = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lead == Map(1L -> "aa table", 2L -> "xx yy", 3L -> "pp qq"))
  }

  /** The relational preview plan the serving layer ran before the per-row
    * function — a window dataflow over the exploded token positions,
    * joined back and re-assembled per doc — kept here as the oracle.
    */
  private def relationalPreviews(docs: DataFrame, terms: Seq[String],
      ctx: Int): DataFrame = {
    val distinctTerms = terms.distinct
    val toks = PositionalIndex.positionsStream(docs)
    val lead = toks.groupBy(col("docId")).agg(min(col("pos")).as("__lead"))
    val base = docs.select(col("docId")).join(lead, Seq("docId"), "left")
    val wins =
      if (distinctTerms.isEmpty)
        base.select(col("docId"),
          col("__lead").as("win_start"), col("__lead").as("win_end"))
      else {
        val anyFirst = toks.where(col("term").isin(distinctTerms: _*))
          .groupBy(col("docId")).agg(min(col("pos")).as("__first"))
        base.join(PositionalIndex.bestWindows(toks, distinctTerms), Seq("docId"), "left")
          .join(anyFirst, Seq("docId"), "left")
          .select(col("docId"),
            coalesce(col("win_start"), col("__first"), col("__lead")).as("win_start"),
            coalesce(col("win_end"), col("__first"), col("__lead")).as("win_end"))
      }
    renderWindows(toks, wins, distinctTerms, ctx)
  }

  /** The relational twin of [[PositionalIndex.snippets]] (the oracle). */
  private def relationalSnippets(docs: DataFrame, terms: Seq[String],
      ctx: Int): DataFrame = {
    val toks = PositionalIndex.textPositions(docs, "docId", "body")
    renderWindows(toks, PositionalIndex.bestWindows(toks, terms.distinct),
      terms.distinct, ctx)
  }

  private def renderWindows(toks: DataFrame, wins: DataFrame,
      distinctTerms: Seq[String], ctx: Int): DataFrame = {
    val marked =
      (if (distinctTerms.isEmpty) col("term")
       else when(col("term").isin(distinctTerms: _*),
           concat(lit("["), col("term"), lit("]")))
         .otherwise(col("term"))).as("word")
    toks.join(wins, "docId")
      .where(col("pos").between(col("win_start") - ctx, col("win_end") + ctx))
      .select(col("docId"), col("pos"), marked)
      .groupBy(col("docId"))
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word")),
        " ").as("snippet"))
  }

  test("per-row previews ≡ the relational plan: seeded corpus × edge term sets") {
    val generated = graft.sources.CorpusSource.sourceFilesToDocs(
        graft.tools.CorpusGen.generate(spark, 60, seed = 17))
      .select(col("docId"), col("title"), col("body"), col("url"))
    // an empty title shifts the body past the gap; a token-free doc
    // previews nothing
    val docs = generated.unionByName(modelDocs(Seq(
      (1001L, "", "def val id0 return def"), (1002L, "", ""),
      (1003L, "src main", "")))).cache()
    // titles are `repo-N/src/main/<lang>/pkgN/FileN.<lang>`: `src` and
    // `main` occur in titles only, so `main`+`def` covers across the gap
    val termSets = Seq(
      Seq.empty[String], // lead tokens
      Seq("nosuchterm"), // absent
      Seq("src", "main"), // title-only
      Seq("def", "def", "val"), // repeated
      Seq("main", "def"), // spans the title/body gap
      Seq("def", "id0", "nosuchterm"), // partial: first-occurrence fallback
      Seq("return"))
    def rows(df: DataFrame): Map[Long, String] =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (terms <- termSets; ctx <- Seq(0, 3)) {
      val want = rows(relationalPreviews(docs, terms, ctx))
      assert(want.nonEmpty)
      assert(rows(PositionalIndex.previewSnippets(docs, terms, ctx)) == want,
        s"previewSnippets terms=$terms ctx=$ctx")
      assert(rows(PositionalIndex.snippets(docs, "docId", "body", terms, ctx)) ==
        rows(relationalSnippets(docs, terms, ctx)), s"snippets terms=$terms ctx=$ctx")
    }
    docs.unpersist()
  }

  test("phraseHits plan: ONE data exchange (votes co-partitioned by docId)") {
    val docs = modelDocs((1L to 30L).map(id =>
      (id, "", s"alpha beta gamma alpha beta doc$id")))
    val q = PositionalIndex.phraseHits(
      PositionalIndex.positionsStream(docs), Seq("alpha", "beta"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val exchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"expected the single docId repartition, got $exchanges:\n$plan")
  }

  test("phraseSearch plan: pushed In(term) filter, only the terms' shards scanned") {
    val docs = modelDocs((1L to 40L).map { id =>
      (id, "", s"alpha bravo charlie delta echo doc$id")
    })
    val dir = Files.createTempDirectory("graft-positional-plan").toString
    PositionalIndex.build(docs, dir, nShards = 8)
    val q = PositionalIndex.phraseSearch(spark, dir, "alpha bravo", k = 10)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term"), s"term filter not pushed:\n$plan")
    val wanted = Seq("alpha", "bravo")
      .map(s => s"shard=${graft.index.BlockIndex.shardOf(s, 8)}").toSet
    // root paths off the relation (the plan string elides long file lists)
    val scanned = q.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.getName)
          case _ => Seq.empty[String]
        }
    }.flatten.toSet
    assert(scanned == wanted, s"scanned shards $scanned, wanted $wanted")
    // and a phrase whose terms' shards are absent returns empty, no error
    assert(PositionalIndex.phraseSearch(spark, dir, "", 10).count() == 0)
  }
}
