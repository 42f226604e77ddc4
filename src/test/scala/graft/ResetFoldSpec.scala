package graft

import graft.analysis.Analyzer
import graft.index.{BlockIndex, IndexBuilder}
import graft.query.QueryEngine
import graft.tools.JobLog
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Fuzzy and Wildcard retrieval fold the per-token candidate unions with
  * the reference's reset-on-empty quirk (searcher.go:147-151, 182-185):
  * when the running intersection is empty, the next token's union
  * replaces it. The engine replays that fold on the driver from one
  * aggregate ([[QueryEngine.FoldTally]]); these specs hold it to the
  * per-token fold, evaluated here on the driver from the collected
  * vocabulary and postings.
  */
class ResetFoldSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  /** The per-token fold: the final doc set and how many times it reset. */
  private def perTokenFold(sets: Seq[Set[Long]]): (Set[Long], Int) = {
    var results: Option[Set[Long]] = None
    var resets = 0
    for (u <- sets) {
      results = results match {
        case Some(r) if r.nonEmpty => Some(r intersect u)
        case Some(_) => resets += 1; Some(u)
        case None => Some(u)
      }
    }
    (results.getOrElse(Set.empty), resets)
  }

  /** The tally's replay, applied to the docs' token sets. */
  private def replayed(sets: Seq[Set[Long]]): (Set[Long], Long) = {
    val n = sets.size
    val byDoc = sets.zipWithIndex
      .flatMap { case (docs, i) => docs.map(_ -> i) }
      .groupMap(_._1)(_._2).view.mapValues { is =>
        val b = new java.util.BitSet(n); is.foreach(b.set); b
      }.toMap
    val tally = byDoc.values.foldLeft(QueryEngine.FoldTally.empty(n))(_ add _)
    val (s, total) = tally.replay
    (byDoc.collect { case (d, toks) if (s until n).forall(toks.get) => d }.toSet, total)
  }

  test("the tally's replay ≡ the per-token fold (property, recorded seed)") {
    val docs = Gen.choose(1, 12).flatMap(m => Gen.someOf(1L to m.toLong).map(_.toSet))
    val tokenSets = Gen.frequency(1 -> Gen.const(Set.empty[Long]), 4 -> docs)
    val queries = Gen.choose(1, 70).flatMap(n => Gen.listOfN(n, tokenSets))
    val prop = Prop.forAll(queries) { sets =>
      val (want, _) = perTokenFold(sets)
      replayed(sets) == ((want, want.size.toLong))
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(2000)
        .withInitialSeed(Seed(0x5eed2026L)), prop)
    assert(result.passed, result.status.toString)
    // the generator reaches 0, 1 and more resets
    val resets = Iterator.iterate(Seed(0x5eed2026L))(_.next).take(500)
      .map(s => perTokenFold(queries.pureApply(Gen.Parameters.default, s))._2.min(2)).toSet
    assert(resets == Set(0, 1, 2))
  }

  // ---- the engine against the per-token fold on a corpus with resets ----

  private lazy val docs = {
    val sp = spark
    import sp.implicits._
    Seq(
      (1L, "", "alpha beta gamma", ""),
      (2L, "", "alpha beta delta", ""),
      (3L, "", "gamma epsilon theta", ""),
      (4L, "", "delta kappa", ""),
      (5L, "", "alphabet kappa omega", ""),
      (6L, "", "betamax theta", ""))
      .toDF("docId", "title", "body", "url")
  }

  private lazy val memory = IndexBuilder.build(docs, k = 3)
  private lazy val block = {
    val dir = java.nio.file.Files.createTempDirectory("reset-fold").toString
    BlockIndex.build(docs, dir, BlockIndex.Layout(blockSpan = 2, nShards = 4))
    BlockIndex.asBundle(spark, dir)
  }

  /** The reference's Fuzzy and Wildcard on the driver: candidates by the
    * k-gram overlap count over each query gram occurrence
    * (index_kgram.go:58-108), then the exact check, then the fold.
    */
  private lazy val (vocab, postingsOf) = {
    val rows = memory.postings.collect().map(r => (r.getString(0), r.getLong(1)))
    (rows.map(_._1).distinct.toSeq, rows.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap)
  }
  private def overlap(grams: Seq[String], term: String): Int = {
    val tg = Analyzer.kgrams(term, 3).toSet
    grams.count(tg.contains)
  }
  private def fuzzyTerms(tok: String): Seq[String] = {
    val ed = Analyzer.getFuzziness(tok)
    val grams = Analyzer.kgrams(tok, 3)
    vocab.filter { t =>
      val ov = overlap(grams, t)
      ov > 0 && ov >= Analyzer.lowerBoundKGramOverlap(tok.length, t.length, ed, 3) &&
        Analyzer.editDistance(tok, t) <= ed
    }
  }
  private def wildcardTerms(pat: String): Seq[String] = {
    val grams = Analyzer.kgrams(pat, 3).filterNot(g => g.contains('*') || g.contains('?'))
    if (grams.isEmpty) Nil
    else vocab.filter(t => overlap(grams, t) == grams.size && Analyzer.wildcardMatch(pat, t))
  }
  private def reference(alg: String, q: String): (Seq[Long], Int) = {
    val perToken =
      if (alg == "Fuzzy") Analyzer.tokenize(q).map(fuzzyTerms)
      else Analyzer.tokenizeWildcard(q).map(wildcardTerms)
    val (ids, resets) = perTokenFold(perToken.map(_.flatMap(postingsOf).toSet))
    (ids.toSeq.sorted, resets)
  }

  /** Queries with 0, 1 and 2 resets, a token without candidates, and an
    * empty final intersection.
    */
  private val queries = Seq(
    ("Wildcard", "alph* bet*", 0), ("Wildcard", "alph* eps* gam*", 1),
    ("Wildcard", "alph* eps* gam* kap* del*", 2), ("Wildcard", "zzz* the*", 1),
    ("Wildcard", "alph* zzz*", 0),
    ("Fuzzy", "alpa betta", 0), ("Fuzzy", "alpa epsilom gama", 1),
    ("Fuzzy", "alpa epsilom gama kapa delt", 2), ("Fuzzy", "qqqqq thet", 1),
    ("Fuzzy", "alpa epsilom", 0))

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq

  for ((bundle, name) <- Seq((() => memory, "in-memory"), (() => block, "block-backed"))) {
    test(s"$name bundle: wildcardQuery, fuzzyQuery and serpPage ≡ the per-token fold") {
      val e = new QueryEngine(bundle())
      val log = new JobLog(spark)
      e.typeahead("a").collect() // the vocabulary's first read, outside the logs
      for ((alg, q, resets) <- queries) {
        val (want, gotResets) = reference(alg, q)
        assert(gotResets == resets, s"$alg '$q' resets")
        val rel = if (alg == "Fuzzy") e.fuzzyQuery(q) else e.wildcardQuery(q)
        assert(ids(rel) == want, s"$alg '$q'")
        for (page <- 1 to 3) {
          val ((got, total), jobs) = log.record(e.serpPage(alg, q, page, perPage = 1))
          assert(total == want.size && got == want.slice(page - 1, page), s"$alg '$q' page $page")
          // after the probe, the fold and the page run one stage each:
          // the postings are grouped by doc with no exchange
          assert(jobs.tail.forall(_.size == 1), s"$alg '$q' page $page:\n${jobs.mkString("\n")}")
        }
      }
    }
  }
}
