package graft

import graft.index.GramIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GramIndexSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "def readTable(path: String): DataFrame"),
    (2L, "val table = spark.read.parquet(dir)"),
    (3L, "TABLE scan merge join"), // uppercase: case-sensitivity probe
    (4L, "ta ble split across a boundary"),
    (5L, ""), // empty
    (6L, null.asInstanceOf[String]), // null ≡ empty
    (7L, "ab") // shorter than k
  ).toDF("doc_id", "text")

  private def bruteIds(needle: String): Set[Long] =
    docs.where(coalesce(col("text"), lit("")).contains(needle))
      .collect().map(_.getLong(0)).toSet

  private def search(needle: String): Set[Long] =
    GramIndex.substringSearch(docs, "doc_id", "text", needle)
      .collect().map(_.getLong(0)).toSet

  test("gramsCol: short/empty/null text yields no grams; k-length text is itself") {
    val g = Seq(("", 0), ("ab", 0), ("abc", 1), ("abcd", 2))
      .toDF("t", "n")
      .select(size(GramIndex.gramsCol(col("t"), 3)).as("sz"), col("n"))
      .collect()
    g.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    val one = Seq("abc").toDF("t")
      .select(GramIndex.gramsCol(col("t"), 3)).head().getSeq[String](0)
    assert(one == Seq("abc"))
    val dup = Seq("aaaa").toDF("t")
      .select(GramIndex.gramsCol(col("t"), 3)).head().getSeq[String](0)
    assert(dup == Seq("aaa")) // distinct within doc
  }

  test("substring search ≡ brute contains: in-token, cross-boundary, absent, case") {
    for (needle <- Seq("Table", "table", "read", "a b", "zzz", "): D"))
      assert(search(needle) == bruteIds(needle), s"needle '$needle'")
    // case-sensitive by contract: 'TABLE' matches only the uppercase doc
    assert(search("TABLE") == Set(3L))
  }

  test("needle shorter than k falls back to the verify scan (exact)") {
    for (needle <- Seq("ab", "t"))
      assert(search(needle) == bruteIds(needle), s"needle '$needle'")
  }

  test("indexed path ≡ in-memory path ≡ brute, incl. gram absent from every shard") {
    val dir = java.nio.file.Files.createTempDirectory("gramidx").toString
    GramIndex.build(docs, "doc_id", "text", dir, k = 3, nShards = 4)
    assert(GramIndex.readMeta(dir) == ((3, 4)))
    // needles over MaxQueryGrams grams exercise rarest-gram selection
    // (df-ranked subset → candidate superset → identical verified result)
    for (needle <- Seq("Table", "table", "a b", "zzz", "ab",
        "read.parquet", "spark.read.parquet(dir)", "split across a bound"))
      assert(
        GramIndex.substringSearchIndexed(spark, dir, docs, "doc_id", "text",
          needle).collect().map(_.getLong(0)).toSet == bruteIds(needle),
        s"needle '$needle'")
  }

  test("batched search ≡ per-needle indexed search, incl. short-needle fallback and dup needles") {
    val dir = java.nio.file.Files.createTempDirectory("gramidx-batch").toString
    GramIndex.build(docs, "doc_id", "text", dir, k = 3, nShards = 4)
    val needles = Seq("Table", "table", "a b", "zzz", "ab",
      "spark.read.parquet(dir)", "Table") // dup on purpose
    val batch = GramIndex.substringSearchBatch(spark, dir, docs, "doc_id",
        "text", needles)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val perNeedle = needles.distinct.flatMap { n =>
      GramIndex.substringSearchIndexed(spark, dir, docs, "doc_id", "text", n)
        .collect().map(r => (n, r.getLong(0)))
    }.toSet
    assert(batch == perNeedle)
    intercept[IllegalArgumentException] {
      GramIndex.substringSearchBatch(spark, dir, docs, "doc_id", "text", Seq())
    }
  }

  private lazy val many = (1L to 40L)
    .map(i => (i, s"content block$i " + (if (i <= 20) "alphaBase" else "betaDelta")))
    .toDF("doc_id", "text")

  test("refresh commits a delta segment: old+new searchable, ≡ cold build, replay no-op, floor enforced") {
    val dir = java.nio.file.Files.createTempDirectory("gramidx-seg").toString
    GramIndex.build(many.where(col("doc_id") <= 20), "doc_id", "text", dir,
      k = 3, nShards = 4)
    val m1 = GramIndex.refresh(many.where(col("doc_id") > 20), "doc_id",
      "text", dir)
    assert(GramIndex.isSegmented(dir) && m1.maxDocId == 40L)
    def ids(n: String) = GramIndex
      .substringSearchIndexed(spark, dir, many, "doc_id", "text", n)
      .collect().map(_.getLong(0)).toSet
    assert(ids("alphaBase") == (1L to 20L).toSet)
    assert(ids("betaDelta") == (21L to 40L).toSet)
    assert(ids("ent block") == (1L to 40L).toSet) // spans both segments
    // ≡ cold build over the whole corpus, incl. batch and grep stats
    val cold = java.nio.file.Files.createTempDirectory("gramidx-cold").toString
    GramIndex.build(many, "doc_id", "text", cold, k = 3, nShards = 4)
    for (n <- Seq("alphaBase", "betaDelta", "ent block", "zzz"))
      assert(ids(n) == GramIndex
        .substringSearchIndexed(spark, cold, many, "doc_id", "text", n)
        .collect().map(_.getLong(0)).toSet, s"needle '$n'")
    assert(GramIndex.substringSearchBatch(spark, dir, many, "doc_id",
        "text", Seq("alphaBase", "betaDelta"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      GramIndex.substringSearchBatch(spark, cold, many, "doc_id",
        "text", Seq("alphaBase", "betaDelta"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet)
    // replay (same default range name) is a no-op
    val m2 = GramIndex.refresh(many.where(col("doc_id") > 20), "doc_id",
      "text", dir)
    assert(m2.segs == m1.segs)
    // the disjointness floor is enforced
    intercept[IllegalArgumentException] {
      GramIndex.refresh(many.where(col("doc_id") === 5), "doc_id", "text",
        dir)
    }
  }

  test("delete hides docs on every indexed path; compact folds segments + tombstones ≡ cold survivor build") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gramidx-del").toString
    GramIndex.build(many.where(col("doc_id") <= 20), "doc_id", "text", dir,
      k = 3, nShards = 4)
    GramIndex.refresh(many.where(col("doc_id") > 20), "doc_id", "text", dir)
    GramIndex.delete(Seq(5L, 25L).toDF("docId"), dir)
    def ids(n: String) = GramIndex
      .substringSearchIndexed(spark, dir, many, "doc_id", "text", n)
      .collect().map(_.getLong(0)).toSet
    assert(ids("alphaBase") == (1L to 20L).toSet - 5L)
    assert(ids("betaDelta") == (21L to 40L).toSet - 25L)
    assert(GramIndex.regexSearchIndexed(spark, dir, many, "doc_id", "text",
      "alpha.*ase").collect().map(_.getLong(0)).toSet ==
      (1L to 20L).toSet - 5L)
    assert(GramIndex.grepStatsIndexed(spark, dir, many, "doc_id", "text",
      "betaDelta").collect().map(_.getLong(0)).toSet ==
      (21L to 40L).toSet - 25L)
    assert(GramIndex.substringSearchBatch(spark, dir, many, "doc_id",
        "text", Seq("alphaBase", "qq")) // qq = short-needle full-scan side
      .collect().map(_.getLong(1)).toSet == (1L to 20L).toSet - 5L)
    // replayed delete (same id set → same generation name) is a no-op
    val before = graft.index.BlockIndex.readTombMeta(dir)
    GramIndex.delete(Seq(5L, 25L).toDF("docId"), dir)
    assert(graft.index.BlockIndex.readTombMeta(dir) == before)
    // compact: singleton segment, tombstones cleared, ≡ cold survivor build
    GramIndex.compact(dir)
    assert(graft.index.BlockIndex.readTombMeta(dir).isEmpty)
    assert(GramIndex.readSegments(dir).segs.size == 1)
    val cold = java.nio.file.Files.createTempDirectory("gramidx-surv").toString
    GramIndex.build(many.where(!col("doc_id").isin(5L, 25L)), "doc_id",
      "text", cold, k = 3, nShards = 4)
    for (n <- Seq("alphaBase", "betaDelta", "ent block"))
      assert(ids(n) == GramIndex
        .substringSearchIndexed(spark, cold, many, "doc_id", "text", n)
        .collect().map(_.getLong(0)).toSet, s"needle '$n'")
  }

  test("plain (never-refreshed) index with tombstones is compactable; no-op compact rejected") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gramidx-plaindel").toString
    GramIndex.build(many, "doc_id", "text", dir, k = 3, nShards = 4)
    intercept[IllegalArgumentException] { GramIndex.compact(dir) }
    GramIndex.delete(Seq(7L).toDF("docId"), dir)
    GramIndex.compact(dir)
    assert(graft.index.BlockIndex.readTombMeta(dir).isEmpty)
    assert(GramIndex.substringSearchIndexed(spark, dir, many, "doc_id",
        "text", "alphaBase").collect().map(_.getLong(0)).toSet ==
      (1L to 20L).toSet - 7L)
  }

  test("empty needle is refused") {
    intercept[IllegalArgumentException] {
      GramIndex.substringSearch(docs, "doc_id", "text", "")
    }
  }

  test("grepStats: hand-computed counts/offsets/excerpts; non-overlapping replace semantics") {
    val d = Seq((1L, "xx tabl tabl xx"), (2L, "aaaa"), (3L, "no match"))
      .toDF("doc_id", "text")
    val r1 = GramIndex.grepStats(d, "doc_id", "text", "tabl", ctx = 3)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(r1 == Map(1L -> ((2L, 4L, "xx tabl ta"))))
    // "aa" in "aaaa": non-overlapping count 2, excerpt clamps at both ends
    val r2 = GramIndex.grepStats(d, "doc_id", "text", "aa", ctx = 3)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(r2 == Map(2L -> ((2L, 1L, "aaaa"))))
  }

  test("literalFragments: concatenation subset in, everything else out") {
    assert(GramIndex.literalFragments("abc.*def") == Some(Seq("abc", "def")))
    assert(GramIndex.literalFragments("a.+b.*c") == Some(Seq("a", "b", "c")))
    assert(GramIndex.literalFragments(".*") == Some(Seq()))
    assert(GramIndex.literalFragments("plain") == Some(Seq("plain")))
    for (p <- Seq("a.b", "a[x]b", "a|b", "a?b", "ab+", "a\\db", "^a", "a$"))
      assert(GramIndex.literalFragments(p).isEmpty, s"pattern '$p'")
  }

  test("regexGramQuery: Cox AND/OR compilation — literals, alternation, postfix, fallback") {
    import GramIndex.GramQ
    import GramIndex.GramQ.{And, Gram, Or}
    def q(p: String) = GramIndex.regexGramQuery(p, 3)
    // concatenation: AND of every literal-run k-gram
    assert(q("abcd.*efgh") ==
      Some(And(Seq(Gram("abc"), Gram("bcd"), Gram("efg"), Gram("fgh")))))
    // alternation: OR of the branches, ANDed with the shared suffix
    assert(q("(foo|bar)baz") ==
      Some(And(Seq(Or(Seq(Gram("foo"), Gram("bar"))), Gram("baz")))))
    assert(q("(?:foo|bar)baz") ==
      Some(And(Seq(Or(Seq(Gram("foo"), Gram("bar"))), Gram("baz")))))
    // x? / x* exclude the char and break adjacency; x+ keeps ONE copy
    // ending the run (`abc+def` requires "abc" and "def", not "cde")
    assert(q("rea?d") == Some(GramQ.Any)) // runs "re", "d" both < k
    assert(q("abc+def") == Some(And(Seq(Gram("abc"), Gram("def")))))
    assert(q("abc*def") == Some(And(Seq(Gram("def"))))
      || q("abc*def") == Some(Gram("def"))) // "ab" < k contributes nothing
    // opaque atoms break runs but keep surrounding requirements
    assert(q("t[^aA]ble") == Some(Gram("ble"))) // negated class: opaque
    assert(q("abc\\d+xyz") == Some(And(Seq(Gram("abc"), Gram("xyz")))))
    // an Any branch dissolves the whole OR; escape of a metachar is literal
    assert(q("(foobar|x)qq") == Some(GramQ.Any))
    assert(q("a\\.bc") == Some(Gram("a.b")) ||
      q("a\\.bc") == Some(And(Seq(Gram("a.b"), Gram(".bc")))))
    // outside the subset → None (callers full-scan)
    for (p <- Seq("abc\\1", "(?=x)abc", "\\p{L}abc", "abc\\Edef", "abc{2,"))
      assert(q(p).isEmpty, s"pattern '$p'")
    // unbalanced parens / stray postfix → None, never a crash
    for (p <- Seq("(abc", "abc)", "*abc", "{2}abc"))
      assert(q(p).isEmpty, s"pattern '$p'")
  }

  test("regexGramQuery: small char classes expand to variant ORs; bounded repeats") {
    import GramIndex.GramQ
    import GramIndex.GramQ.{And, Gram, Or}
    def q(p: String) = GramIndex.regexGramQuery(p, 3)
    // the classic grep idiom: one class position → OR over the variants
    assert(q("t[aA]ble") == Some(Or(Seq(
      And(Seq(Gram("tab"), Gram("abl"), Gram("ble"))),
      And(Seq(Gram("tAb"), Gram("Abl"), Gram("ble")))))))
    assert(q("[Gg]et") == Some(Or(Seq(Gram("Get"), Gram("get")))))
    // a small range expands; a wide one stays opaque
    assert(q("v[0-2]x") == Some(Or(Seq(Gram("v0x"), Gram("v1x"), Gram("v2x")))))
    assert(q("v[0-9a-z]xy") == Some(GramQ.Any)) // opaque; "xy" < k
    assert(q("ta[0-9a-z]ble") == Some(Gram("ble")))
    // two classes multiply variants (4 here, under the run cap)
    assert(q("[ab][cd]e") == Some(Or(Seq(
      Gram("ace"), Gram("ade"), Gram("bce"), Gram("bde")))))
    // bounded repeats: {m} exact keeps adjacency through the atom,
    // {m,n} / {m,} guarantee m adjacent copies then break the run
    assert(q("ax{2}b") == Some(And(Seq(Gram("axx"), Gram("xxb")))))
    assert(q("ax{2,3}b") == Some(Gram("axx")))
    assert(q("ax{2,}b") == Some(Gram("axx")))
    assert(q("ax{0,2}b") == Some(GramQ.Any)) // may be absent, runs < k
    assert(q("a{2,3}bc") == Some(GramQ.Any)) // runs "aa", "bc" both < k
    assert(q("tab{2}le") == Some(And(Seq(
      Gram("tab"), Gram("abb"), Gram("bbl"), Gram("ble")))))
    // class + repeat compose; clamped huge repeats stay sound
    assert(q("[xy]{2}ab") == Some(Or(Seq(
      And(Seq(Gram("xxa"), Gram("xab"))), And(Seq(Gram("xya"), Gram("yab"))),
      And(Seq(Gram("yxa"), Gram("xab"))), And(Seq(Gram("yya"), Gram("yab")))))))
    assert(q("ax{500}b").isDefined && q("ax{500}b") != Some(GramQ.Any))
  }

  test("regex alternation ≡ brute rlike, engages the indexed prefilter; fallback preserved") {
    val dir = java.nio.file.Files.createTempDirectory("gramidx-alt").toString
    GramIndex.build(docs, "doc_id", "text", dir, k = 3, nShards = 4)
    for (p <- Seq("(read|spark).*(Frame|parquet)", "tab(le|ular)",
      "(spark|zz).+quet", "par(quet|tition)", "qq(aa|bb)cc")) {
      assert(GramIndex.regexSearch(docs, "doc_id", "text", p)
        .collect().map(_.getLong(0)).toSet == bruteRegexIds(p), s"inline '$p'")
      assert(
        GramIndex.regexSearchIndexed(spark, dir, docs, "doc_id", "text", p)
          .collect().map(_.getLong(0)).toSet == bruteRegexIds(p),
        s"indexed '$p'")
    }
    // regime assertion: an alternation whose branches all survive gram
    // extraction takes the gram-SET evaluation path (collect_set over
    // the routed posting scan), NOT a full corpus scan … (`tab(le|ular)`
    // instead collapses to the pure-AND Gram("tab") — branches < k — and
    // rides the count-based path, covered by the equality loop above)
    val alt = GramIndex.regexSearchIndexed(spark, dir, docs, "doc_id",
      "text", "(read|spark).*(Frame|parquet)")
    assert(alt.queryExecution.executedPlan.toString.contains("collect_set"),
      "alternation did not engage the gram prefilter")
    // … while an out-of-subset pattern still full-scans (no prefilter)
    val fb = GramIndex.regexSearchIndexed(spark, dir, docs, "doc_id",
      "text", "ta\\p{L}ble")
    val fbPlan = fb.queryExecution.executedPlan.toString
    assert(!fbPlan.contains("collect_set") && !fbPlan.contains("LeftSemi"),
      s"out-of-subset pattern must fall back to the verify scan:\n$fbPlan")
    assert(fb.collect().map(_.getLong(0)).toSet == bruteRegexIds("ta\\p{L}ble"))
    // char-class and bounded-repeat idioms now ride the indexed path:
    // correct AND gram-prefiltered (LeftSemi or collect_set in the plan)
    for (p <- Seq("t[aA]ble", "par[qk]uet", "ta{1,2}ble", "rea{1}d")) {
      val ix = GramIndex.regexSearchIndexed(spark, dir, docs, "doc_id",
        "text", p)
      assert(ix.collect().map(_.getLong(0)).toSet == bruteRegexIds(p),
        s"indexed '$p'")
      val plan = ix.queryExecution.executedPlan.toString
      assert(plan.contains("collect_set") || plan.contains("LeftSemi"),
        s"'$p' should engage the gram prefilter:\n$plan")
    }
  }

  private def bruteRegexIds(pattern: String): Set[Long] =
    docs.where(coalesce(col("text"), lit("")).rlike(pattern))
      .collect().map(_.getLong(0)).toSet

  test("regex search ≡ brute rlike: accelerated subset and fallback patterns") {
    val patterns = Seq(
      "read.*Frame", // accelerated, matches doc 1 only (case-sensitive)
      "ta.+ble", // accelerated fragments "ta"/"ble": only "ble" grams
      "spark.*parquet", // accelerated, doc 2
      "zz.*yy", // accelerated, no match
      "t[aA]ble", // outside subset → full scan
      "rea?d") // outside subset → full scan
    for (p <- patterns)
      assert(GramIndex.regexSearch(docs, "doc_id", "text", p)
        .collect().map(_.getLong(0)).toSet == bruteRegexIds(p),
        s"pattern '$p'")
  }

  test("indexed regex ≡ in-memory ≡ brute") {
    val dir = java.nio.file.Files.createTempDirectory("gramidx-re").toString
    GramIndex.build(docs, "doc_id", "text", dir, k = 3, nShards = 4)
    // escaped range endpoints: `]`..`z` (matches "table") and `+`..`]`
    // (matches "Table")
    for (p <- Seq("read.*Frame", "spark.*parquet", "zz.*yy", "t[aA]ble",
        "t[\\]-z]ble", "[+-\\]]able"))
      assert(
        GramIndex.regexSearchIndexed(spark, dir, docs, "doc_id", "text", p)
          .collect().map(_.getLong(0)).toSet == bruteRegexIds(p),
        s"pattern '$p'")
  }

  test("char-class ranges with escaped endpoints: indexed ≡ brute") {
    val sp = spark
    import sp.implicits._
    val odd = Seq((1L, "t_ble"), (2L, "t^ble"), (3L, "t]ble"), (4L, "t-ble"),
      (5L, "t+ble"), (6L, "tAble\nt`ble"), (7L, "tzble")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("gramidx-range").toString
    GramIndex.build(odd, "doc_id", "text", dir, k = 3, nShards = 4)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    for (p <- Seq("t[\\]-a]ble", "t[+-\\]]ble", "t[\\]-\\`]ble")) {
      val brute = ids(odd.where(col("text").rlike(p)))
      assert(brute.nonEmpty, p)
      assert(ids(GramIndex.regexSearch(odd, "doc_id", "text", p)) == brute,
        s"inline '$p'")
      assert(ids(GramIndex.regexSearchIndexed(spark, dir, odd, "doc_id",
        "text", p)) == brute, s"indexed '$p'")
      assert(GramIndex.grepLinesRegexIndexed(spark, dir, odd, "doc_id", "text", p)
        .collect().map(_.getLong(0)).toSet == brute, s"grep '$p'")
    }
    // nested classes and intersections stay outside the gram subset
    assert(GramIndex.regexGramQuery("t[a[b]]ble", 3).isEmpty)
    assert(GramIndex.regexGramQuery("t[a-z&&[^x]]ble", 3).isEmpty)
  }

  test("grepLines: per-matching-line rows with 1-based numbers; empty lines keep numbering") {
    val ml = Seq(
      (1L, "alpha\nhas table here\n\ntable again"), // lines 2 and 4 match
      (2L, "table on line one"),
      (3L, "no match at all"),
      (4L, null.asInstanceOf[String]),
      (5L, "ends with newline\ntable\n") // trailing empty line preserved
    ).toDF("doc_id", "text")
    val got = GramIndex.grepLines(ml, "doc_id", "text", "table")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      .sorted
    assert(got == Seq(
      (1L, 2L, "has table here"), (1L, 4L, "table again"),
      (2L, 1L, "table on line one"), (5L, 2L, "table")))
    intercept[IllegalArgumentException] {
      GramIndex.grepLines(ml, "doc_id", "text", "")
    }
  }

  test("grepLinesIndexed ≡ transform; deletes excluded; short-needle fallback") {
    val sp = spark
    import sp.implicits._
    val ml = Seq(
      (1L, "first line\nspark table scan\nlast"),
      (2L, "spark\ntable"),
      (3L, "nothing here"),
      (4L, "ta\nble split across lines") // needle crosses lines → no hit
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("gramidx-lines").toString
    GramIndex.build(ml, "doc_id", "text", dir, k = 3, nShards = 4)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSeq.sorted
    for (n <- Seq("table", "spark", "zzz"))
      assert(norm(GramIndex.grepLinesIndexed(spark, dir, ml, "doc_id",
        "text", n)) == norm(GramIndex.grepLines(ml, "doc_id", "text", n)),
        s"needle '$n'")
    // needle shorter than k: empty gram set → full-scan fallback, equal
    assert(norm(GramIndex.grepLinesIndexed(spark, dir, ml, "doc_id",
      "text", "ta")) == norm(GramIndex.grepLines(ml, "doc_id", "text", "ta")))
    // tombstoned doc disappears from the indexed path
    GramIndex.delete(Seq(2L).toDF("docId"), dir)
    assert(norm(GramIndex.grepLinesIndexed(spark, dir, ml, "doc_id",
      "text", "table")).map(_._1).toSet == Set(1L))
  }

  test("grepLinesContext: ±ctx windows, clamped, merged, flagged; indexed ≡ transform") {
    val sp = spark
    import sp.implicits._
    val ml = Seq(
      // matches at lines 2 and 8 of 10; ctx=2 → keep 1-4 and 6-10
      (1L, "l1\nhit a\nl3\nl4\nl5\nl6\nl7\nhit b\nl9\nl10"),
      // match on line 1: window clamps at the file start
      (2L, "hit start\nl2\nl3\nl4"),
      // adjacent matches: overlapping windows merge, no duplicate rows
      (3L, "l1\nhit\nhit\nl4"),
      (4L, "no match here")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getBoolean(3))).toSeq.sorted
    val got = rows(GramIndex.grepLinesContext(ml, "doc_id", "text", "hit", 2))
    assert(got.filter(_._1 == 1L).map(t => (t._2, t._4)) ==
      Seq((1L, false), (2L, true), (3L, false), (4L, false),
        (6L, false), (7L, false), (8L, true), (9L, false), (10L, false)))
    assert(got.filter(_._1 == 2L).map(t => (t._2, t._4)) ==
      Seq((1L, true), (2L, false), (3L, false)))
    assert(got.filter(_._1 == 3L).map(t => (t._2, t._4)) ==
      Seq((1L, false), (2L, true), (3L, true), (4L, false)))
    assert(!got.exists(_._1 == 4L))
    // ctx = 0 degenerates to grepLines plus the flag
    val z = rows(GramIndex.grepLinesContext(ml, "doc_id", "text", "hit", 0))
    assert(z.forall(_._4) && z.map(t => (t._1, t._2)) ==
      Seq((1L, 2L), (1L, 8L), (2L, 1L), (3L, 2L), (3L, 3L)))
    // indexed twin ≡ transform; tombstoned doc excluded
    val dir = java.nio.file.Files.createTempDirectory("gramidx-ctx").toString
    GramIndex.build(ml, "doc_id", "text", dir, k = 3, nShards = 4)
    assert(rows(GramIndex.grepLinesContextIndexed(spark, dir, ml, "doc_id",
      "text", "hit", 2)) == got)
    GramIndex.delete(Seq(1L).toDF("docId"), dir)
    assert(rows(GramIndex.grepLinesContextIndexed(spark, dir, ml, "doc_id",
      "text", "hit", 2)).map(_._1).toSet == Set(2L, 3L))
  }

  test("grepLinesRegex: per-line find-anywhere; indexed ≡ transform incl. fallback") {
    val sp = spark
    import sp.implicits._
    val ml = Seq(
      (1L, "spark table here\nplain line\ntabular data"),
      (2L, "tab\n(le broken across lines)"), // alternation can't span lines
      (3L, "nothing relevant"),
      (4L, "tables everywhere") // 'table' inside 'tables' still matches
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("gramidx-relines")
      .toString
    GramIndex.build(ml, "doc_id", "text", dir, k = 3, nShards = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSeq.sorted
    val got = rows(GramIndex.grepLinesRegex(ml, "doc_id", "text",
      "tab(le|ular)"))
    assert(got.map(t => (t._1, t._2)) ==
      Seq((1L, 1L), (1L, 3L), (4L, 1L)))
    // indexed twin ≡ transform for the alternation AND a
    // fallback-regime pattern (char class → full scan)
    for (p <- Seq("tab(le|ular)", "t[ax]ble", "spark|tabular"))
      assert(rows(GramIndex.grepLinesRegexIndexed(spark, dir, ml,
        "doc_id", "text", p)) ==
        rows(GramIndex.grepLinesRegex(ml, "doc_id", "text", p)), s"'$p'")
    // tombstoned doc excluded on the indexed path
    GramIndex.delete(Seq(1L).toDF("docId"), dir)
    assert(rows(GramIndex.grepLinesRegexIndexed(spark, dir, ml, "doc_id",
      "text", "tab(le|ular)")).map(_._1).toSet == Set(4L))
  }

  test("rewriteIndexed ≡ replace everywhere; non-candidates pass through untouched") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "uses oldName twice: oldName"),
      (2L, "no occurrence at all"),
      (3L, "oldNameoldName adjacent"),
      (4L, "prefix oldNam but never the full token")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("gramidx-rw").toString
    GramIndex.build(docs, "doc_id", "text", dir, k = 3, nShards = 4)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = m(GramIndex.rewriteIndexed(spark, dir, docs, "doc_id", "text",
      "oldName", "newName"))
    val want = m(docs.select(col("doc_id").cast("long").as("docId"),
      replace(col("text"), lit("oldName"), lit("newName")).as("content")))
    assert(got == want)
    assert(got(2L) == "no occurrence at all") // identity on the passthrough
    assert(got(3L) == "newNamenewName adjacent")
    // short needle (< k): full-scan fallback still ≡ replace everywhere
    val short = m(GramIndex.rewriteIndexed(spark, dir, docs, "doc_id",
      "text", "ol", "OL"))
    val wantShort = m(docs.select(col("doc_id").cast("long").as("docId"),
      replace(col("text"), lit("ol"), lit("OL")).as("content")))
    assert(short == wantShort)
  }
}
