package graft

import graft.index.BlockIndex
import graft.sources.CorpusSource
import org.scalatest.funsuite.AnyFunSuite

/** `SearchCli.resolve` over a tombstoned block index: the corpus-derived
  * relations of the Grep and Phrase modes go through the index's one
  * tombstone filter.
  */
class SearchCliSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  test("resolve on a tombstoned index: Grep and Phrase exclude deleted docs, no HashAggregate") {
    val sp = spark
    import sp.implicits._
    val csv = SparkSessionFixture.resourcePath("example.csv")
    val idx = java.nio.file.Files.createTempDirectory("cli-tomb").toString
    BlockIndex.build(CorpusSource.readDocsCsv(spark, csv), idx,
      BlockIndex.Layout(blockSpan = 4, nShards = 4))
    def answers() = {
      val (engine, _) = SearchCli.resolve(spark, s"$csv@$idx")
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("docId").as[Long].collect().toSet
      (ids(engine.grepQuery(" is a ")), ids(engine.phraseQuery("is a")), engine)
    }
    val (grepAll, phraseAll, _) = answers()
    assert(grepAll == Set(1L, 2L, 3L) && phraseAll == Set(1L, 2L, 3L))
    // an id deleted in two generations
    BlockIndex.delete(Seq(2L).toDF("docId"), idx)
    BlockIndex.delete(Seq(2L, 7L).toDF("docId"), idx)
    val (grep, phrase, engine) = answers()
    assert(grep == Set(1L, 3L), s"Grep answered $grep")
    assert(phrase == Set(1L, 3L), s"Phrase answered $phrase")
    for (rel <- Seq(engine.positions, engine.rawDocs).flatten) {
      val plan = rel.queryExecution.executedPlan.toString
      assert(!plan.contains("HashAggregate"), s"tombstone filter aggregates:\n$plan")
      assert(plan.contains("LeftAnti"), s"no tombstone anti-join:\n$plan")
    }
  }
}
