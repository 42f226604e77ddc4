package graft

import graft.index.{BlockIndex, GramIndex, PositionalIndex, SymbolIndex}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The segment lifecycle ([[graft.index.SegmentStore]]) exercised the same
  * way on all four indexes: every case ends by comparing the index's
  * query answers to a cold build over the same documents.
  */
class SegmentStoreSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private lazy val corpus = (1 to 60).map { i =>
    val cls = Seq("Foo", "Bar", "Baz")(i % 3)
    val fn = Seq("load", "save", "scan", "merge")(i % 4)
    val tail = if (i % 5 == 0) "fast window" else "slow path"
    (i.toLong, s"file $i", s"class $cls { def $fn(x) = x }\nspark table $fn join $tail")
  }.toDF("docId", "title", "body")

  private def docs(lo: Long, hi: Long): DataFrame =
    corpus.where(col("docId") >= lo && col("docId") <= hi)

  private def tmp(tag: String) =
    Files.createTempDirectory(s"segstore-$tag").toString

  /** One index under test: its lifecycle entry points, names, and a
    * rendering of its query answers.
    */
  private case class Ix(name: String, prefix: String, listName: String,
      markerName: String,
      build: (DataFrame, String) => Unit,
      refresh: (DataFrame, String, Option[String]) => Seq[String],
      compact: String => Seq[String],
      tiered: (String, Int, Int) => Seq[String],
      segs: String => Seq[String],
      delete: (DataFrame, String) => Unit,
      answers: String => Set[String])

  private val layout = BlockIndex.Layout(blockSpan = 16, nShards = 4)

  private lazy val indexes = Seq(
    Ix("block", "seg-", "_segments.json", "_stats.json",
      (d, dir) => BlockIndex.build(d, dir, layout),
      (d, dir, g) => BlockIndex.refresh(d, dir, g).segs,
      BlockIndex.compact(_).segs,
      BlockIndex.compactTiered(_, _, _).segs,
      BlockIndex.readSegments(_).segs,
      (ids, dir) => BlockIndex.delete(ids, dir),
      dir => Seq("spark table", "fast window", "load", "merge join").flatMap(q =>
        BlockIndex.bm25TopK(spark, dir, q, 1000).collect()
          .map(r => s"$q/${r.getLong(0)}")).toSet),
    Ix("gram", "gseg-", "_gramsegments.json", "_grammeta.json",
      (d, dir) => GramIndex.build(d, "docId", "body", dir, k = 3, nShards = 4),
      (d, dir, g) => GramIndex.refresh(d, "docId", "body", dir, g).segs,
      GramIndex.compact(_).segs,
      GramIndex.compactTiered(_, _, _).segs,
      GramIndex.readSegments(_).segs,
      (ids, dir) => GramIndex.delete(ids, dir),
      dir => Seq("Foo", "fast win", "def sca").flatMap(n =>
        GramIndex.substringSearchIndexed(spark, dir, corpus, "docId", "body", n)
          .collect().map(r => s"$n/${r.getLong(0)}")).toSet),
    Ix("positional", "pseg-", "_possegments.json", "_posmeta.json",
      (d, dir) => PositionalIndex.build(d, dir, nShards = 4),
      (d, dir, g) => PositionalIndex.refresh(d, dir, g).segs,
      PositionalIndex.compact(_).segs,
      PositionalIndex.compactTiered(_, _, _).segs,
      PositionalIndex.readSegments(_).segs,
      (ids, dir) => PositionalIndex.delete(ids, dir),
      dir => Seq("fast window", "table load", "spark table").flatMap(p =>
        PositionalIndex.phraseSearch(spark, dir, p, 1000).collect()
          .map(r => s"$p/${r.getLong(0)}/${r.getLong(1)}")).toSet),
    Ix("symbol", "sseg-", "_symsegments.json", "_symmeta.json",
      (d, dir) => SymbolIndex.build(d, "docId", "body", dir, nShards = 4),
      (d, dir, g) => SymbolIndex.refresh(d, "docId", "body", dir, g).segs,
      SymbolIndex.compact(_).segs,
      SymbolIndex.compactTiered(_, _, _).segs,
      SymbolIndex.readSegments(_).segs,
      (ids, dir) => SymbolIndex.delete(ids, dir),
      dir => Seq("Foo", "load", "merge").flatMap(n =>
        SymbolIndex.searchIndexed(spark, dir, n).collect()
          .map(r => s"$n/${r.getLong(0)}/${r.getInt(1)}/${r.getLong(2)}")).toSet))

  /** Answers of a cold build over `d`. */
  private def cold(ix: Ix, d: DataFrame): Set[String] = {
    val dir = tmp(s"${ix.name}-cold")
    ix.build(d, dir)
    ix.answers(dir)
  }

  private def forEachIndex(body: Ix => Unit): Unit =
    indexes.foreach(ix => withClue(s"[${ix.name}] ")(body(ix)))

  test("an empty delta commits the current state") {
    forEachIndex { ix =>
      val d = tmp(s"${ix.name}-empty")
      ix.build(docs(1, 30), d)
      assert(ix.refresh(docs(1, 30).limit(0), d, None) == Seq("."))
      assert(ix.segs(d) == Seq("."))
      assert(ix.answers(d) == cold(ix, docs(1, 30)))
    }
  }

  test("a genName replay is a no-op before any work; the docId floor is enforced") {
    forEachIndex { ix =>
      val d = tmp(s"${ix.name}-replay")
      ix.build(docs(1, 30), d)
      val segs = ix.refresh(docs(31, 40), d, Some("b7"))
      assert(segs == Seq(".", s"${ix.prefix}b7"))
      // a replay must not evaluate the delta at all: this one throws if
      // any Spark action touches it
      val poisoned = docs(31, 40)
        .withColumn("docId", raise_error(lit("replayed delta evaluated")).cast("long"))
      assert(ix.refresh(poisoned, d, Some("b7")) == segs)
      intercept[IllegalArgumentException] {
        ix.refresh(docs(35, 45), d, Some("b8"))
      }
      assert(ix.segs(d) == segs)
      assert(ix.answers(d) == cold(ix, docs(1, 40)))
    }
  }

  test("compact sweeps a planted orphan compaction directory") {
    forEachIndex { ix =>
      val d = tmp(s"${ix.name}-orphan")
      ix.build(docs(1, 30), d)
      ix.refresh(docs(31, 45), d, None)
      ix.refresh(docs(46, 60), d, None)
      val junk = Paths.get(d, s"${ix.prefix}compact-999-999")
      Files.createDirectories(junk)
      Files.write(junk.resolve("garbage.bin"), Array[Byte](1, 2, 3))
      val segs = ix.compact(d)
      assert(segs.size == 1 && segs.head.startsWith(s"${ix.prefix}compact-"), segs)
      assert(!Files.exists(junk))
      assert(!Files.exists(Paths.get(d, "shard=0")))
      assert(ix.answers(d) == cold(ix, corpus))
    }
  }

  test("compactTiered merges the smallest segments, escalates to a full compact past tombFraction") {
    forEachIndex { ix =>
      val d = tmp(s"${ix.name}-tier")
      ix.build(docs(1, 40), d)
      for (lo <- 41L to 57L by 4L) ix.refresh(docs(lo, lo + 3), d, None)
      assert(ix.segs(d).size == 6)
      assert(ix.tiered(d, 8, 2) == ix.segs(d) && ix.segs(d).size == 6) // below the trigger
      val m = ix.tiered(d, 4, 2)
      assert(m.size == 5 && m.head == "." &&
        m.last.startsWith(s"${ix.prefix}tier-"), m)
      assert(ix.answers(d) == cold(ix, docs(1, 60)))
      // 15 of 60 ids deleted is past the 0.2 fraction: a full compact
      ix.delete(corpus.select(col("docId")).where(col("docId") <= 15), d)
      val c = ix.tiered(d, 8, 2)
      assert(c.size == 1 && c.head.startsWith(s"${ix.prefix}compact-"), c)
      assert(BlockIndex.readTombMeta(d).isEmpty)
      assert(ix.answers(d) == cold(ix, docs(16, 60)))
    }
  }

  test("a segment built but never committed stays invisible, and compact sweeps it") {
    forEachIndex { ix =>
      val d = tmp(s"${ix.name}-uncommitted")
      ix.build(docs(1, 30), d)
      ix.refresh(docs(31, 40), d, Some("b1"))
      // a refresh killed after its segment build, before the list commit
      ix.build(docs(41, 60), s"$d/${ix.prefix}b2")
      assert(ix.segs(d) == Seq(".", s"${ix.prefix}b1"))
      assert(ix.answers(d) == cold(ix, docs(1, 40)))
      ix.compact(d)
      assert(!Files.exists(Paths.get(d, s"${ix.prefix}b2")))
      assert(ix.answers(d) == cold(ix, docs(1, 40)))
    }
  }

  test("segment lists and markers carry formatVersion 1; any other version is refused") {
    forEachIndex { ix =>
      val d = tmp(s"${ix.name}-version")
      ix.build(docs(1, 30), d)
      ix.refresh(docs(31, 40), d, None)
      for (f <- Seq(Paths.get(d, ix.listName),
          Paths.get(d, ix.segs(d).last, ix.markerName))) {
        val s = new String(Files.readAllBytes(f), "UTF-8")
        assert(s.startsWith("""{"formatVersion":1,"""), s"$f: $s")
      }
      assert(ix.answers(d) == cold(ix, docs(1, 40)))
      val list = Paths.get(d, ix.listName)
      Files.write(list, new String(Files.readAllBytes(list), "UTF-8")
        .replace("\"formatVersion\":1", "\"formatVersion\":2").getBytes("UTF-8"))
      intercept[IllegalStateException](ix.segs(d))
      intercept[IllegalStateException](ix.refresh(docs(41, 50), d, None))
    }
  }

  test("_posmeta.json records fieldGapWidth; a missing or different width is refused") {
    val d = tmp("posmeta")
    PositionalIndex.build(docs(1, 30), d, nShards = 4)
    val meta = Paths.get(d, "_posmeta.json")
    val stamped = new String(Files.readAllBytes(meta), "UTF-8")
    assert(stamped.contains("\"fieldGapWidth\":100"), stamped)
    assert(PositionalIndex.phraseSearch(spark, d, "spark table", 5).count() == 5)
    for (bad <- Seq(stamped.replace(",\"fieldGapWidth\":100", ""),
        stamped.replace("\"fieldGapWidth\":100", "\"fieldGapWidth\":1"))) {
      Files.write(meta, bad.getBytes("UTF-8"))
      val e = intercept[IllegalStateException](
        PositionalIndex.phraseSearch(spark, d, "spark table", 5).collect())
      assert(e.getMessage.contains("rebuild"), e.getMessage)
      intercept[IllegalStateException](
        PositionalIndex.refresh(docs(31, 40), d))
    }
  }
}
