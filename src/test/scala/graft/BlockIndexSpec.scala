package graft

import graft.index.{BlockIndex, IndexBuilder, IndexBundle, VarByte}
import graft.query.QueryEngine
import graft.sources.CorpusSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}

/** The physical block index: varbyte codec roundtrip (seeded property
  * sweep), decode ≡ logical postings, salting invariants, kill/resume ≡
  * cold build, and block-max WAND top-k ≡ naive BM25.
  */
class BlockIndexSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  private def tmpDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  // ------------------------------------------------------------------
  // VarByte codec
  // ------------------------------------------------------------------

  private def randomPostings(rnd: scala.util.Random): List[VarByte.P] = {
    val n = rnd.nextInt(201)
    var id = rnd.nextLong(1000000000L)
    List.fill(n) {
      id += 1 + rnd.nextLong(1000000L)
      VarByte.P(id, 1 + rnd.nextInt(10000), rnd.nextInt(1000000))
    }
  }

  test("varbyte roundtrip (seeded property sweep, 300 cases)") {
    val rnd = new scala.util.Random(42)
    (1 to 300).foreach { i =>
      val ps = randomPostings(rnd)
      assert(VarByte.decode(VarByte.encode(ps)) == ps.toIndexedSeq, s"case $i")
    }
    // edges: empty, single, large values
    assert(VarByte.decode(VarByte.encode(Nil)) == IndexedSeq.empty)
    val big = VarByte.P(Long.MaxValue / 2, Int.MaxValue, Int.MaxValue)
    assert(VarByte.decode(VarByte.encode(Seq(big))) == IndexedSeq(big))
  }

  test("PostingsBuf sort + encodeArrays == encode of sorted postings (seeded sweep)") {
    val rnd = new scala.util.Random(7)
    (1 to 100).foreach { c =>
      val ps = randomPostings(rnd)
      val shuffled = rnd.shuffle(ps)
      val buf = new graft.index.PostingsBuf()
      shuffled.foreach(p => buf.add(p.docId, p.tf, p.dl))
      buf.sortByDocId()
      val viaAgg = VarByte.encodeArrays(buf.docIds, buf.tfs, buf.dls, buf.n)
      val viaSeq = VarByte.encode(ps)
      assert(java.util.Arrays.equals(viaAgg, viaSeq), s"case $c (n=${ps.size})")
    }
    // empty buffer
    val empty = new graft.index.PostingsBuf()
    empty.sortByDocId()
    assert(VarByte.encodeArrays(empty.docIds, empty.tfs, empty.dls, 0).isEmpty)
  }

  test("varbyte rejects non-increasing docIds") {
    intercept[IllegalArgumentException] {
      VarByte.encode(Seq(VarByte.P(5, 1, 1), VarByte.P(5, 1, 1)))
    }
  }

  // ------------------------------------------------------------------
  // Block index on the sf0.001 documents corpus
  // ------------------------------------------------------------------

  private lazy val docs = GateQueries.docsAsModel(spark, "/root/testdata/sf0.001")
  private val layout = BlockIndex.Layout(blockSpan = 64, nShards = 8)

  private lazy val coldDir: String = {
    val d = tmpDir("blockidx-cold").toString
    BlockIndex.build(docs, d, layout)
    d
  }

  test("decoded block postings == logical postings (with dl)") {
    val logical = IndexBuilder.build(docs, persist = false)
    val expected = logical.postings
      .join(logical.docLens, "docId")
      .select(col("term"), col("docId"), col("tf"), col("len").cast("int").as("dl"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val actual = BlockIndex.decodePostings(BlockIndex.readBlocks(spark, coldDir))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(actual == expected)
    logical.unpersist()
  }

  test("salting invariant: every block row bounded by blockSpan and doc-range grid") {
    val bad = BlockIndex.readBlocks(spark, coldDir)
      .where(col("n") > layout.blockSpan ||
        floor(col("minDoc") / layout.blockSpan) =!= col("blockId") ||
        floor(col("maxDoc") / layout.blockSpan) =!= col("blockId") ||
        col("minDoc") > col("maxDoc"))
      .count()
    assert(bad == 0L)
  }

  test("manifest records every shard with consistent totals") {
    val m = BlockIndex.readManifest(coldDir)
    assert(m.map(_.shard).sorted == (0 until layout.nShards))
    val totalRows = m.map(_.rows).sum
    val logicalRows = IndexBuilder.tokenStream(docs)
      .select(col("term"), col("docId")).distinct().count()
    assert(totalRows == logicalRows)
    val (stats, _) = BlockIndex.readStats(coldDir)
    assert(stats.nDocs == 500)
    assert(stats.vocabSize == m.map(_.terms).sum)
  }

  test("kill/resume == cold build") {
    val d = tmpDir("blockidx-resume").toString
    // simulate a kill after 3 shards
    BlockIndex.build(docs, d, layout, limitShards = Some(3))
    assert(BlockIndex.readManifest(d).size == 3)
    assert(!Files.exists(java.nio.file.Paths.get(d, BlockIndex.StatsName)))
    // resume completes only the missing shards
    val m = BlockIndex.build(docs, d, layout)
    assert(m.size == layout.nShards)
    val cold = BlockIndex.readBlocks(spark, coldDir)
      .select("term", "blockId", "minDoc", "maxDoc", "n", "maxTf", "minDl", "bytes")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5), r.getInt(6),
        r.getAs[Array[Byte]](7).toSeq)).toSet
    val resumed = BlockIndex.readBlocks(spark, d)
      .select("term", "blockId", "minDoc", "maxDoc", "n", "maxTf", "minDl", "bytes")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5), r.getInt(6),
        r.getAs[Array[Byte]](7).toSeq)).toSet
    assert(resumed == cold)
    assert(BlockIndex.readStats(d) == BlockIndex.readStats(coldDir))
  }

  test("back-to-back rebuild in one dir: envelope cache serves the NEW index") {
    // two builds can land within one mtime granule — the envelope cache
    // must key on the build nonce, not the stats file's mtime, or stale
    // (df, nBlocks) silently corrupt idf/ranks after a rebuild
    val d = tmpDir("blockidx-nonce").toString
    val half = docs.where(col("docId") < 250)
    BlockIndex.build(half, d, layout)
    val before = BlockIndex.bm25TopK(spark, d, "table", 10).collect()
    BlockIndex.build(docs, d, layout, overwrite = true)
    val after = BlockIndex.bm25TopK(spark, d, "table", 10).collect()
    val cold = BlockIndex.bm25TopK(spark, coldDir, "table", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after.map(r => (r.getLong(0), r.getDouble(1))).toSeq == cold)
    assert(before.nonEmpty && cold.nonEmpty)
  }

  test("overwrite rebuild of a SEGMENTED root drops the old segmented view entirely") {
    val d = tmpDir("blockidx-ow-seg").toString
    BlockIndex.build(docs.where(col("docId") < 200), d, layout)
    BlockIndex.refresh(docs.where(col("docId") >= 200 && col("docId") < 400), d)
    assert(BlockIndex.isSegmented(d))
    // rebuild in place with a DIFFERENT corpus slice
    BlockIndex.build(docs.where(col("docId") < 100), d, layout, overwrite = true)
    assert(!BlockIndex.isSegmented(d))
    val (stats, _) = BlockIndex.readStats(d)
    assert(stats.nDocs == 100)
    val decodedIds = BlockIndex.decodePostings(BlockIndex.readBlocks(spark, d))
      .select("docId").distinct().collect().map(_.getLong(0))
    assert(decodedIds.forall(_ < 100), "stale segment postings survived the overwrite")
  }

  test("overwrite rebuild leaves NO stale parquet in shards the new corpus skips") {
    val sp = spark
    import sp.implicits._
    val d = tmpDir("blockidx-ow-sparse").toString
    BlockIndex.build(docs, d, layout) // populates (almost) all 8 shards
    // tiny corpus: single term → exactly one shard written by the rebuild
    val tiny = Seq((1L, "", "solo", "")).toDF("docId", "title", "body", "url")
    BlockIndex.build(tiny, d, layout, overwrite = true)
    val all = BlockIndex.decodePostings(BlockIndex.readBlocks(spark, d))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(all.toSeq == Seq(("solo", 1L)),
      s"stale shard data survived a sparse overwrite: ${all.take(5).toSeq}")
  }

  // ------------------------------------------------------------------
  // Segments: incremental refresh + compaction
  // ------------------------------------------------------------------

  private def blockSet(dir: String) =
    BlockIndex.decodePostings(BlockIndex.readBlocks(spark, dir))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet

  private def topk(dir: String, q: String, k: Int = 10) =
    BlockIndex.bm25TopK(spark, dir, q, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("refresh == cold build: stats, postings, and BM25 top-k identical") {
    val d = tmpDir("blockidx-seg").toString
    BlockIndex.build(docs.where(col("docId") < 300), d, layout)
    val before = topk(d, "table")
    BlockIndex.refresh(docs.where(col("docId") >= 300), d)
    assert(BlockIndex.isSegmented(d))
    assert(BlockIndex.readStats(d) == BlockIndex.readStats(coldDir)) // exact vocab
    assert(blockSet(d) == blockSet(coldDir))
    for (q <- Seq("table", "spark join fast window", "customer query stream"))
      assert(topk(d, q) == topk(coldDir, q), s"query '$q'")
    assert(before != topk(d, "table") || before == topk(coldDir, "table"))
  }

  test("refresh kill/resume: a half-built segment completes, commit is atomic") {
    val d = tmpDir("blockidx-seg-resume").toString
    BlockIndex.build(docs.where(col("docId") < 300), d, layout)
    val delta = docs.where(col("docId") >= 300)
    // simulate a kill: the delta segment exists with only 3 of 8 shards
    BlockIndex.build(delta, s"$d/seg-300-499", layout, limitShards = Some(3))
    assert(!BlockIndex.isSegmented(d)) // not committed: readers see the base
    assert(topk(d, "table") == {
      val base = tmpDir("blockidx-seg-base").toString
      BlockIndex.build(docs.where(col("docId") < 300), base, layout)
      topk(base, "table")
    })
    BlockIndex.refresh(delta, d) // resumes the remaining shards, commits
    assert(BlockIndex.readStats(d) == BlockIndex.readStats(coldDir))
    assert(blockSet(d) == blockSet(coldDir))
  }

  test("refresh rejects overlapping docIds") {
    val d = tmpDir("blockidx-seg-overlap").toString
    BlockIndex.build(docs.where(col("docId") < 300), d, layout)
    intercept[IllegalArgumentException] {
      BlockIndex.refresh(docs.where(col("docId") >= 250), d)
    }
  }

  test("two refreshes then compact: block bytes byte-identical to cold build") {
    val d = tmpDir("blockidx-seg-compact").toString
    BlockIndex.build(docs.where(col("docId") < 200), d, layout)
    BlockIndex.refresh(docs.where(col("docId") >= 200 && col("docId") < 350), d)
    BlockIndex.refresh(docs.where(col("docId") >= 350), d)
    assert(BlockIndex.readSegments(d).segs.size == 3)
    // an unreferenced leftover (e.g. from a killed earlier compaction)
    // must be swept by the next compact, not leak forever
    val junk = java.nio.file.Paths.get(d, "seg-compact-999-999")
    Files.createDirectories(junk)
    Files.write(junk.resolve("garbage.bin"), Array[Byte](1, 2, 3))
    // multi-segment queries already correct pre-compaction
    assert(topk(d, "spark join fast window") == topk(coldDir, "spark join fast window"))
    val meta = BlockIndex.compact(d)
    assert(meta.segs.size == 1)
    assert(BlockIndex.readStats(d) == BlockIndex.readStats(coldDir))
    def bytesSet(dir: String) = BlockIndex.readBlocks(spark, dir)
      .select("term", "blockId", "bytes")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getAs[Array[Byte]](2).toSeq)).toSet
    assert(bytesSet(d) == bytesSet(coldDir))
    // old segment dirs reclaimed; root artifacts of the base gone; the
    // planted unreferenced leftover swept too
    assert(!Files.exists(java.nio.file.Paths.get(d, "shard=0")))
    assert(!Files.exists(java.nio.file.Paths.get(d, BlockIndex.StatsName)))
    assert(!Files.exists(java.nio.file.Paths.get(d, "seg-compact-999-999")))
    assert(topk(d, "table") == topk(coldDir, "table"))
  }

  test("compactTiered: smallest-segment partial merge, bounded count, ≡ cold build; tombstone fraction escalates") {
    val d = tmpDir("blockidx-tier").toString
    BlockIndex.build(docs.where(col("docId") <= 200), d, layout)
    for (lo <- 200L until 500L by 50L)
      BlockIndex.refresh(
        docs.where(col("docId") > lo && col("docId") <= lo + 50), d)
    assert(BlockIndex.readSegments(d).segs.size == 7) // "." + 6 deltas
    // below the count trigger: no-op, nothing rewritten
    assert(BlockIndex.compactTiered(d, maxSegments = 8).segs.size == 7)
    // over it: the 2 smallest (mergeFactor = 4/2) fold into one tier seg;
    // the 200-doc base is 4× any delta and must NOT be a victim
    val m = BlockIndex.compactTiered(d, maxSegments = 4)
    assert(m.segs.size == 6 && m.segs.contains(".") &&
      m.segs.exists(_.startsWith("seg-tier-")), m.segs.toString)
    assert(BlockIndex.readStats(d) == BlockIndex.readStats(coldDir))
    assert(blockSet(d) == blockSet(coldDir))
    for (q <- Seq("table", "spark join fast window"))
      assert(topk(d, q) == topk(coldDir, q), s"query '$q'")
    // repeated maintenance converges under the budget, correctness intact
    var meta = m
    while (meta.segs.size > 4) meta = BlockIndex.compactTiered(d, 4)
    assert(blockSet(d) == blockSet(coldDir))
    // a SMALL delete set survives a partial merge untouched (tombstone
    // files keep gating every segment; stale-until-compact stats hold)
    BlockIndex.delete(docs.select(col("docId")).where(col("docId") <= 10), d)
    val m2 = BlockIndex.compactTiered(d, maxSegments = 2)
    assert(m2.segs.size < meta.segs.size || meta.segs.size <= 2)
    assert(BlockIndex.readTombMeta(d).exists(_.gens.nonEmpty))
    val live = BlockIndex.bm25TopK(spark, d, "table", 500)
      .collect().map(_.getLong(0)).toSet
    assert(live.forall(_ > 10L), "tombstoned docs resurfaced after a partial merge")
    // 30% deleted > the 20% fraction: maintenance escalates to the FULL
    // compact — tombstones cleared, single segment, ≡ cold survivor build
    BlockIndex.delete(docs.select(col("docId")).where(col("docId") <= 150), d)
    val m3 = BlockIndex.compactTiered(d, maxSegments = 8)
    assert(m3.segs.size == 1)
    assert(BlockIndex.readTombMeta(d).isEmpty)
    val survDir = tmpDir("blockidx-tier-surv").toString
    BlockIndex.build(docs.where(col("docId") > 150), survDir, layout)
    assert(BlockIndex.readStats(d) == BlockIndex.readStats(survDir))
    assert(blockSet(d) == blockSet(survDir))
  }

  // ------------------------------------------------------------------
  // Tombstone deletes
  // ------------------------------------------------------------------

  test("delete: tombstoned docs vanish from WAND, batch, and bundle paths (stale-stats semantics)") {
    val d = tmpDir("blockidx-tomb").toString
    BlockIndex.build(docs, d, layout)
    val delIds = docs.select(col("docId")).where(pmod(col("docId"), lit(7)) === 3)
    val nDel = delIds.count().toInt
    assert(nDel > 0)
    val q = "spark join fast window"
    val k = 10
    // stale-stats contract: deleting does NOT change surviving docs'
    // scores (df/avgdl/N stay those of the last build), so the
    // post-delete top-k must equal the pre-delete ranking with deleted
    // docs struck out
    val before = BlockIndex.bm25TopK(spark, d, q, k + nDel)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    BlockIndex.delete(delIds, d)
    val expect = before.filter(_._1 % 7 != 3).take(k).toSeq
    val after = topk(d, q, k)
    assert(after.map(_._1) == expect.map(_._1))
    after.map(_._2).zip(expect.map(_._2)).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9)
    }
    val batch = BlockIndex.bm25TopKBatch(spark, d, Seq(q), k)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(batch.map(_._1) == expect.map(_._1))
    // every query mode served via asBundle excludes tombstoned docs
    val e = new QueryEngine(BlockIndex.asBundle(spark, d, persist = false))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("docId").collect().map(_.getLong(0)).toSeq
    val termIds = ids(e.termsQuery("spark table"))
    assert(termIds.nonEmpty && termIds.forall(_ % 7 != 3))
    assert(ids(e.bm25Query(q)).forall(_ % 7 != 3))
    assert(ids(e.wildcardQuery("tab*")).forall(_ % 7 != 3))
  }

  test("delete replay is a no-op; separate deletes accumulate") {
    val d = tmpDir("blockidx-tomb-replay").toString
    BlockIndex.build(docs.where(col("docId") < 100), d, layout)
    val sp = spark
    import sp.implicits._
    // pick victims from ACTUAL hits so the exclusion asserts can't pass
    // vacuously
    val hits = topk(d, "table", 200).map(_._1)
    assert(hits.size >= 3)
    val a = Seq(hits(0), hits(1)).toDF("docId")
    val m1 = BlockIndex.delete(a, d)
    assert(m1.gens.size == 1 && m1.nIds == 2)
    assert(BlockIndex.delete(a, d) == m1) // redelivery: detected by name
    val m2 = BlockIndex.delete(Seq(hits(2)).toDF("docId"), d)
    assert(m2.gens.size == 2 && m2.nIds == 3)
    val live = topk(d, "table", 200).map(_._1).toSet
    assert(hits.take(3).forall(!live.contains(_)))
    assert(live == hits.drop(3).toSet)
  }

  test("compact folds tombstones out: stats/bytes == cold build over survivors, tombstones cleared") {
    val d = tmpDir("blockidx-tomb-compact").toString
    BlockIndex.build(docs, d, layout)
    BlockIndex.delete(
      docs.select(col("docId")).where(pmod(col("docId"), lit(7)) === 3), d)
    val meta = BlockIndex.compact(d) // plain index + tombstones is compactable
    assert(meta.segs.size == 1)
    val survDir = tmpDir("blockidx-tomb-cold").toString
    BlockIndex.build(docs.where(pmod(col("docId"), lit(7)) =!= 3), survDir, layout)
    // physical reclaim: fresh stats (df, vocab, avgdl, nDocs) and
    // byte-identical blocks vs a cold build that never saw deleted docs
    assert(BlockIndex.readStats(d) == BlockIndex.readStats(survDir))
    def bytesSet(dir: String) = BlockIndex.readBlocks(spark, dir)
      .select("term", "blockId", "bytes")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getAs[Array[Byte]](2).toSeq)).toSet
    assert(bytesSet(d) == bytesSet(survDir))
    assert(BlockIndex.readTombMeta(d).isEmpty)
    assert(Files.list(java.nio.file.Paths.get(d)).toArray
      .forall(!_.toString.split('/').last.startsWith("tomb-")))
    for (q <- Seq("table", "spark join fast window"))
      assert(topk(d, q) == topk(survDir, q), s"query '$q'")
    // maxDocId floor survives even if the max-id doc was deleted
    assert(meta.maxDocId == docs.agg(max(col("docId"))).head().getLong(0))
  }

  test("delete then refresh: tombstones persist across segment commits; compact folds both") {
    val d = tmpDir("blockidx-tomb-refresh").toString
    BlockIndex.build(docs.where(col("docId") < 300), d, layout)
    val sp = spark
    import sp.implicits._
    val victims = topk(d, "table", 200).map(_._1).take(3)
    assert(victims.size == 3)
    BlockIndex.delete(victims.toDF("docId"), d)
    // a later segment commit must NOT resurrect the tombstoned docs...
    BlockIndex.refresh(docs.where(col("docId") >= 300), d)
    val hits = topk(d, "table", 1000).map(_._1).toSet
    assert(victims.forall(!hits.contains(_)))
    // ...while the delta's docs are searchable
    assert(hits.exists(_ >= 300))
    assert(BlockIndex.readTombMeta(d).exists(_.nIds == 3))
    // compact folds segments AND tombstones in one pass: identical to a
    // cold build over (full corpus minus victims)
    BlockIndex.compact(d)
    assert(BlockIndex.readTombMeta(d).isEmpty)
    val coldSurv = tmpDir("blockidx-tomb-refresh-cold").toString
    BlockIndex.build(docs.where(!col("docId").isin(victims: _*)),
      coldSurv, layout)
    assert(BlockIndex.readStats(d) == BlockIndex.readStats(coldSurv))
    for (q <- Seq("table", "spark join fast window"))
      assert(topk(d, q) == topk(coldSurv, q), s"query '$q'")
  }

  test("overwrite rebuild drops stale tombstones; compact without segments or tombstones rejects") {
    val d = tmpDir("blockidx-tomb-overwrite").toString
    BlockIndex.build(docs.where(col("docId") < 100), d, layout)
    val sp = spark
    import sp.implicits._
    val victim = topk(d, "table", 200).map(_._1).head
    BlockIndex.delete(Seq(victim).toDF("docId"), d)
    assert(!topk(d, "table", 200).map(_._1).contains(victim))
    BlockIndex.build(docs.where(col("docId") < 100), d, layout, overwrite = true)
    // the rebuilt corpus starts with no deletes — the victim is back
    assert(BlockIndex.readTombMeta(d).isEmpty)
    assert(topk(d, "table", 200).map(_._1).contains(victim))
    intercept[IllegalArgumentException] { BlockIndex.compact(d) }
  }

  test("batched WAND over a segmented index == over the cold build") {
    val d = tmpDir("blockidx-seg-batch").toString
    BlockIndex.build(docs.where(col("docId") < 300), d, layout)
    BlockIndex.refresh(docs.where(col("docId") >= 300), d)
    val queries = Seq("spark join fast window", "table", "customer query stream")
    for (pr <- Seq(Some(true), Some(false))) {
      val seg = BlockIndex.bm25TopKBatch(spark, d, queries, 5, prune = pr)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      val cold = BlockIndex.bm25TopKBatch(spark, coldDir, queries, 5, prune = pr)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      assert(seg.map(t => (t._1, t._2, t._4)).toSeq == cold.map(t => (t._1, t._2, t._4)).toSeq)
      seg.map(_._3).zip(cold.map(_._3)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9)
      }
    }
  }

  test("segmented index serves every query mode via asBundle") {
    val d = tmpDir("blockidx-seg-bundle").toString
    BlockIndex.build(docs.where(col("docId") < 300), d, layout)
    BlockIndex.refresh(docs.where(col("docId") >= 300), d)
    val seg = new QueryEngine(BlockIndex.asBundle(spark, d, persist = false))
    val cold = new QueryEngine(BlockIndex.asBundle(spark, coldDir, persist = false))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("docId").collect().map(_.getLong(0)).toSeq
    assert(ids(seg.termsQuery("spark table")) == ids(cold.termsQuery("spark table")))
    assert(ids(seg.fuzzyQuery("sprk")) == ids(cold.fuzzyQuery("sprk")))
    assert(ids(seg.wildcardQuery("tab*")) == ids(cold.wildcardQuery("tab*")))
    assert(ids(seg.vectorSpaceQuery("spark join")) == ids(cold.vectorSpaceQuery("spark join")))
  }

  test("block-max WAND top-k == naive BM25 (rank + score)") {
    val engine = new QueryEngine(IndexBuilder.build(docs, persist = false))
    val queries = Seq(
      "spark join fast window",
      "table",
      "spark spark join", // duplicate tokens double-score
      "customer query stream batch vector",
      "nosuchterm spark")
    for (q <- queries; k <- Seq(1, 5, 20)) {
      val naive = engine.bm25Query(q, Some(k)).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val wand = BlockIndex.bm25TopK(spark, coldDir, q, k).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(wand.map(_._1).toSeq == naive.map(_._1).toSeq, s"rank mismatch q='$q' k=$k")
      wand.zip(naive).foreach { case ((_, ws), (_, ns)) =>
        assert(math.abs(ws - ns) < 1e-9, s"score mismatch q='$q' k=$k")
      }
    }
    engine.index.unpersist()
  }

  test("batched BM25 (one pass, N queries) == per-query WAND results") {
    val queries = Seq("spark join fast window", "table", "spark spark join",
      "nosuchterm spark", "zzz_oov_only", "")
    val batch = BlockIndex.bm25TopKBatch(spark, coldDir, queries, 5, prune = Some(true)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // the θ-pruned (default) and unpruned batch paths agree exactly on
    // (query, docId, rank); scores agree to FP association
    val unpruned = BlockIndex
      .bm25TopKBatch(spark, coldDir, queries, 5, prune = Some(false)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(batch.map(t => (t._1, t._2, t._4)).toSet ==
      unpruned.map(t => (t._1, t._2, t._4)).toSet)
    for (q <- queries) {
      val single = BlockIndex.bm25TopK(spark, coldDir, q, 5).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val b = batch.filter(_._1 == q).sortBy(_._4)
      assert(b.map(_._2).toSeq == single.map(_._1).toSeq, s"rank mismatch q='$q'")
      b.map(_._3).zip(single.map(_._2)).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-9, s"score mismatch q='$q'")
      }
    }
  }

  // ------------------------------------------------------------------
  // bm25TopK routes and the opened epoch
  // ------------------------------------------------------------------

  // one block per term: 500 docs under a 4096-doc span, so short queries
  // take the bound route (coldDir's span of 64 leaves the other side of
  // the 8-block cut to the envelope and WAND routes)
  private val wideLayout = BlockIndex.Layout(blockSpan = 4096, nShards = 8)
  private val rankQueries = Seq("spark join fast window", "table",
    "spark spark join", "customer query stream batch vector", "nosuchterm spark")

  private def assertSameRanking(got: Seq[(Long, Double)],
      want: Seq[(Long, Double)], what: String): Unit = {
    assert(got.map(_._1) == want.map(_._1), s"rank mismatch $what")
    got.zip(want).foreach { case ((_, g), (_, w)) =>
      assert(math.abs(g - w) < 1e-9, s"score mismatch $what")
    }
  }

  private def naiveRanking(e: QueryEngine, q: String) =
    e.bm25Query(q).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("blockSpan 4096: WAND == naive BM25 (rank + score) on plain, refreshed and tombstoned indexes") {
    val engine = new QueryEngine(IndexBuilder.build(docs, persist = false))
    val naive = rankQueries.map(q => q -> naiveRanking(engine, q)).toMap
    val plain = tmpDir("blockidx-wide").toString
    BlockIndex.build(docs, plain, wideLayout)
    val refreshed = tmpDir("blockidx-wide-seg").toString
    BlockIndex.build(docs.where(col("docId") < 250), refreshed, wideLayout)
    BlockIndex.refresh(docs.where(col("docId") >= 250), refreshed)
    val tombed = tmpDir("blockidx-wide-tomb").toString
    BlockIndex.build(docs, tombed, wideLayout)
    BlockIndex.delete(docs.select(col("docId")).where(pmod(col("docId"), lit(7)) === 3), tombed)
    for ((dir, live) <- Seq[(String, Long => Boolean)](
        plain -> (_ => true), refreshed -> (_ => true), tombed -> (_ % 7 != 3));
        q <- rankQueries; k <- Seq(1, 5, 20))
      assertSameRanking(topk(dir, q, k), naive(q).filter(h => live(h._1)).take(k),
        s"dir=$dir q='$q' k=$k")
    engine.index.unpersist()
  }

  test("bm25TopK launches one Spark job on a one-block plain index, at most two when tombstoned") {
    val sp = spark
    import sp.implicits._
    val d = tmpDir("blockidx-jobs").toString
    BlockIndex.build(docs, d, wideLayout)
    val log = new graft.tools.JobLog(spark)
    def jobsOf(q: String): (Int, Seq[(Long, Double)]) = {
      topk(d, q) // opens the epoch (its schema inference is a job of its own)
      val (hits, jobs) = log.record(topk(d, q))
      (jobs.size, hits)
    }
    for (q <- Seq("spark join fast window", "table")) {
      val (n, hits) = jobsOf(q)
      assert(n == 1, s"q='$q' launched $n jobs")
      assert(hits.nonEmpty)
      assert(BlockIndex.lastDriverMetaRows == 0L)
    }
    BlockIndex.delete(Seq(1L, 2L, 3L).toDF("docId"), d)
    val (n, hits) = jobsOf("spark join fast window")
    assert(n <= 2, s"tombstoned query launched $n jobs")
    assert(hits.nonEmpty && hits.forall(h => h._1 > 3L || h._1 < 1L))
  }

  test("opened epoch follows delete, refresh and overwrite rebuild in one JVM") {
    val sp = spark
    import sp.implicits._
    val d = tmpDir("blockidx-epoch").toString
    val q = "spark join fast window"
    val k = 10
    val full = new QueryEngine(IndexBuilder.build(docs, persist = false))
    BlockIndex.build(docs.where(col("docId") < 300), d, wideLayout)
    val first = topk(d, q, k + 1)
    assert(first.nonEmpty)
    // delete: the dropped doc vanishes, survivors keep their (stale) scores
    val gone = first.head._1
    BlockIndex.delete(Seq(gone).toDF("docId"), d)
    assertSameRanking(topk(d, q, k), first.tail.take(k), "after delete")
    // refresh: the new segment's docs rank, the tombstone still holds
    BlockIndex.refresh(docs.where(col("docId") >= 300), d)
    assertSameRanking(topk(d, q, k),
      naiveRanking(full, q).filter(_._1 != gone).take(k), "after refresh")
    // overwrite rebuild: a smaller corpus, no tombstones
    BlockIndex.build(docs.where(col("docId") < 200), d, wideLayout, overwrite = true)
    val small = new QueryEngine(IndexBuilder.build(docs.where(col("docId") < 200), persist = false))
    assertSameRanking(topk(d, q, k), naiveRanking(small, q).take(k), "after overwrite")
    full.index.unpersist()
    small.index.unpersist()
  }

  test("an id deleted in two generations: results unchanged, no aggregate on the tombstone side") {
    val sp = spark
    import sp.implicits._
    val d = tmpDir("blockidx-tomb-dup").toString
    BlockIndex.build(docs.where(col("docId") < 100), d, layout)
    val q = "spark join fast window"
    BlockIndex.delete(Seq(5L, 6L).toDF("docId"), d, Some("a"))
    val once = topk(d, q, 20)
    BlockIndex.delete(Seq(5L).toDF("docId"), d, Some("b"))
    assert(BlockIndex.readTombMeta(d).get.gens.size == 2)
    assert(topk(d, q, 20) == once)
    val live = BlockIndex.liveDocIds(spark, d)
    val ids = live.collect().map(_.getLong(0)).toSet
    assert(ids.size == 98 && !ids(5L) && !ids(6L))
    val plan = live.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"), s"tombstone side aggregates:\n$plan")
  }

  test("driver IDF == IndexBundle.idfCol bit for bit (1 <= df <= V <= 2000 sweep)") {
    val sp = spark
    import sp.implicits._
    // math.log10 is not Spark's log(10, x): the driver must use the latter
    assert(IndexBundle.idf(1000, 1) != math.log10(1000.0))
    assert(IndexBundle.idf(0, 0) == 0.0 && IndexBundle.idf(10, 0) == 0.0)
    val bits = udf((x: Double) => java.lang.Double.doubleToRawLongBits(x))
    val driverBits = udf((v: Long, df: Long) =>
      java.lang.Double.doubleToRawLongBits(IndexBundle.idf(v, df)))
    val pairs = spark.range(1, 2001).toDF("V")
      .crossJoin(spark.range(1, 2001).toDF("df"))
      .where(col("df") <= col("V"))
    val mismatches = pairs.where(
      bits(IndexBundle.idfCol(col("V").cast("double"), col("df"))) =!=
        driverBits(col("V"), col("df")))
    assert(pairs.count() == 2001000L)
    assert(mismatches.count() == 0L)
    // the literal-V form the scorers plan with
    for (v <- Seq(1L, 999L, 1000L, 2000L)) {
      val got = spark.range(0, v + 1).toDF("df")
        .select(col("df"), IndexBundle.idfCol(v, col("df")))
        .as[(Long, Double)].collect()
      got.foreach { case (df, x) =>
        assert(java.lang.Double.doubleToRawLongBits(x) ==
          java.lang.Double.doubleToRawLongBits(IndexBundle.idf(v, df)), s"V=$v df=$df")
      }
    }
  }

  test("batched WAND auto mode on a 500-block grid: the probe engages or declines; both ≡ unpruned ≡ per-query ≡ naive") {
    val sp = spark
    import sp.implicits._
    // the WAND big path corpus: 2000 docs under span 4 → 500 blocks, above
    // the 256 blocks where the auto probe starts to run
    val sdocs = (1 to 2000).map(i =>
      (i.toLong, "", s"stopword unique$i filler${i % 7}", ""))
      .toDF("docId", "title", "body", "url")
    val d = tmpDir("blockidx-stopword-batch").toString
    BlockIndex.build(sdocs, d, BlockIndex.Layout(blockSpan = 4, nShards = 4))
    val engine = new QueryEngine(IndexBuilder.build(sdocs, persist = false))
    val k = 3
    def batch(q: String, prune: Option[Boolean]) =
      BlockIndex.bm25TopKBatch(spark, d, Seq(q), k, prune = prune).collect()
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    // "filler5 unique77": the unique77 block bounds far above the rest, so
    // the probe engages; "stopword": every block bounds alike, so it declines
    for ((q, engages) <- Seq("filler5 unique77" -> true, "stopword" -> false)) {
      val single = topk(d, q, k) // memoizes the envelope of q's terms
      val auto = batch(q, None)
      // the probe collects one row for the one query; phase 1, θ and the
      // survivors add more only when it engages
      assert((BlockIndex.lastDriverMetaRows > 1) == engages,
        s"q='$q' collected ${BlockIndex.lastDriverMetaRows} metadata rows")
      val want = engine.bm25Query(q, Some(k)).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(want.size == k)
      for ((got, what) <- Seq(auto -> "auto batch", batch(q, Some(false)) -> "unpruned batch",
          single -> "bm25TopK"))
        assertSameRanking(got, want, s"$what q='$q'")
    }
    engine.index.unpersist()
  }

  test("WAND big path: driver metadata bounded for stop-word-grade terms; result == naive") {
    val sp = spark
    import sp.implicits._
    // 2000 docs, every one contains the stop word; span 4 → 500 blocks
    val n = 2000
    val sdocs = (1 to n).map(i =>
      (i.toLong, "", s"stopword unique$i filler${i % 7}", ""))
      .toDF("docId", "title", "body", "url")
    val d = tmpDir("blockidx-stopword").toString
    BlockIndex.build(sdocs, d, BlockIndex.Layout(blockSpan = 4, nShards = 4))
    val engine = new QueryEngine(IndexBuilder.build(sdocs, persist = false))
    val k = 3
    for (q <- Seq("stopword", "stopword filler3", "filler5 unique77")) {
      val wand = BlockIndex.bm25TopK(spark, d, q, k).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      // df(stopword) = 2000 → 500 (term, block) metadata rows exist; the
      // driver must stay bounded: per-term envelope + ≤2k phase-1 rows +
      // k θ scores + ≤SurvivorCap+1 survivor ids
      assert(BlockIndex.lastDriverMetaRows <=
        3 + 2 * k + k + BlockIndex.SurvivorCap + 1,
        s"q='$q' driver collected ${BlockIndex.lastDriverMetaRows} metadata rows")
      val naive = engine.bm25Query(q, Some(k)).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(wand.map(_._1).toSeq == naive.map(_._1).toSeq, s"rank mismatch q='$q'")
      wand.zip(naive).foreach { case ((_, ws), (_, ns)) =>
        assert(math.abs(ws - ns) < 1e-9, s"score mismatch q='$q'")
      }
    }
    engine.index.unpersist()
  }

  test("resume overwrites partially-written shards not in the manifest") {
    val d = tmpDir("blockidx-partial").toString
    BlockIndex.build(docs, d, layout, limitShards = Some(2))
    // simulate a kill mid-write: a shard directory exists with garbage
    // data but has NO manifest line — resume must rebuild it cleanly
    val victim = (0 until layout.nShards)
      .filterNot(BlockIndex.readManifest(d).map(_.shard).contains)(0)
    val vdir = java.nio.file.Paths.get(d, s"shard=$victim")
    java.nio.file.Files.createDirectories(vdir)
    java.nio.file.Files.write(vdir.resolve("part-garbage.parquet"),
      Array[Byte](1, 2, 3))
    BlockIndex.build(docs, d, layout)
    val resumed = BlockIndex.decodePostings(BlockIndex.readBlocks(spark, d))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val cold = BlockIndex.decodePostings(BlockIndex.readBlocks(spark, coldDir))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(resumed == cold)
  }

  test("torn trailing manifest line is tolerated: shard rebuilt, build recovers") {
    val d = tmpDir("blockidx-torn").toString
    BlockIndex.build(docs, d, layout, limitShards = Some(3))
    // simulate a kill mid-append: a partial line with no complete key set
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d, BlockIndex.ManifestName),
      "{\"shard\":5,\"rows\":12".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val parsed = BlockIndex.readManifest(d)
    assert(parsed.size == 3 && !parsed.exists(_.shard == 5)) // torn line dropped
    // a tear INSIDE the final value's digits keeps all keys but must
    // still be dropped (no closing brace → incomplete line)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d, BlockIndex.ManifestName),
      "\n{\"shard\":6,\"rows\":9,\"terms\":9,\"blocks\":9,\"wallMs\":12".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    assert(!BlockIndex.readManifest(d).exists(_.shard == 6))
    val m = BlockIndex.build(docs, d, layout) // must not throw; rebuilds shard 5
    assert(m.map(_.shard).sorted == (0 until layout.nShards))
    val resumed = BlockIndex.decodePostings(BlockIndex.readBlocks(spark, d))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val cold = BlockIndex.decodePostings(BlockIndex.readBlocks(spark, coldDir))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(resumed == cold)
  }

  test("resume completes stats/doclens if killed after the last manifest append") {
    val d = tmpDir("blockidx-tail").toString
    BlockIndex.build(docs, d, layout)
    // simulate the kill window: manifest complete, completion artifacts gone
    import java.nio.file.{Files => F, Paths => P}
    F.delete(P.get(d, BlockIndex.StatsName))
    org.apache.commons.io.FileUtils.deleteDirectory(
      P.get(d, BlockIndex.DocLensName).toFile)
    val m = BlockIndex.build(docs, d, layout) // must repair, not early-return
    assert(m.size == layout.nShards)
    assert(F.exists(P.get(d, BlockIndex.StatsName)))
    assert(BlockIndex.readStats(d) == BlockIndex.readStats(coldDir))
    assert(BlockIndex.bm25TopK(spark, d, "table", 3).count() == 3)
  }

  test("driver-local shardOf == Spark's pmod(xxhash64(term), n)") {
    val terms = Seq("spark", "table", "a", "überprüfen", "id123", "",
      "zzzznope", "x997")
    val sp = spark
    import sp.implicits._
    val viaSpark = terms.toDF("term")
      .select(col("term"),
        pmod(xxhash64(col("term")), lit(8)).cast("int").as("s"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    for (t <- terms)
      assert(BlockIndex.shardOf(t, 8) == viaSpark(t), s"term '$t'")
  }

  test("WAND on empty/unknown query") {
    assert(BlockIndex.bm25TopK(spark, coldDir, "", 5).count() == 0)
    assert(BlockIndex.bm25TopK(spark, coldDir, "zzzznope", 5).count() == 0)
  }

  test("sparse shard layout: tiny vocab leaves shards dirless, queries still work") {
    val sp = spark
    import sp.implicits._
    val tiny = Seq((1L, "", "alpha beta alpha", ""), (2L, "", "beta gamma", ""))
      .toDF("docId", "title", "body", "url")
    val d = tmpDir("blockidx-tiny").toString
    BlockIndex.build(tiny, d, BlockIndex.Layout(blockSpan = 64, nShards = 8))
    // 3 terms over 8 shards → some shard=S dirs do not exist
    val dirs = (0 until 8).count(s =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(d, s"shard=$s")))
    assert(dirs < 8)
    assert(BlockIndex.readBlocks(spark, d).count() > 0)
    assert(BlockIndex.bm25TopK(spark, d, "alpha", 5).count() == 1)
    assert(BlockIndex.bm25TopK(spark, d, "zzz_oov_term", 5).count() == 0)
    // the doc-length parquet serves the bundle (no full-index decode)
    val bundle = BlockIndex.asBundle(spark, d, persist = false)
    assert(bundle.docLens.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap ==
      Map(1L -> 3, 2L -> 2))
  }

  test("empty corpus: build completes, stats zero, queries empty") {
    val d = tmpDir("blockidx-empty").toString
    BlockIndex.build(docs.where(org.apache.spark.sql.functions.lit(false)), d,
      BlockIndex.Layout(blockSpan = 64, nShards = 4))
    val (stats, _) = BlockIndex.readStats(d)
    assert(stats.nDocs == 0 && stats.vocabSize == 0 && stats.totalLen == 0)
    assert(BlockIndex.readBlocks(spark, d).count() == 0)
    assert(BlockIndex.bm25TopK(spark, d, "anything", 5).count() == 0)
  }
}
