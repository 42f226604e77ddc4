package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.tools.{CorpusGen, Harness}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Smoke runs of the benchmark harness on a 300-doc CorpusGen corpus, one
  * rep each: every suite prints one JSON line with the keys of the bench
  * main it replaced, and its built index answers its probe query.
  */
class HarnessSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  private lazy val corpusDir = {
    val d = java.nio.file.Files.createTempDirectory("harness-corpus").toString
    CorpusGen.generate(spark, 300).write.parquet(s"$d/corpus.parquet")
    d
  }

  private def run(args: String*): JsonNode = {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(Harness.run(spark, args, reps = 1))
    val lines = out.toString("UTF-8").linesIterator.filter(_.trim.nonEmpty).toSeq
    assert(lines.size == 1, s"${args.mkString(" ")} printed:\n${lines.mkString("\n")}")
    new ObjectMapper().readTree(lines.head)
  }

  private def assertKeys(j: JsonNode, keys: String*): Unit = {
    val got = j.fieldNames().asScala.toSet
    assert(keys.toSet.subsetOf(got), s"missing ${keys.toSet -- got} in $j")
  }

  test("scaling block: one JSON line with ScalingBench's keys; the index answers") {
    val j = run("scaling", "block", corpusDir)
    assertKeys(j, "cpus", "n_docs", "build_sec", "docs_per_sec", "reps_sec", "probe_hits", "corpus")
    assert(j.get("n_docs").asLong == 300L && j.get("reps_sec").size == 1)
    assert(j.get("probe_hits").asLong > 0L)
  }

  test("wand: one JSON line with QueryBench2M's and PruneBench's keys; pruning keeps the answer") {
    val j = run("wand", corpusDir, "300")
    assertKeys(j, "cpus", "build_sec", "n_docs", "vocab", "probe_hits", "first_query_cold",
      "warm_queries_sec", "warm_10_sequential", "batch_10_one_job", "batch_10_theta_pruned",
      "batch_10_mixed_unpruned", "batch_10_mixed_pruned", "prune_docs")
    for (layout <- Seq("clustered", "scattered")) {
      assertKeys(j, s"build_$layout", s"${layout}_batch_10_unpruned",
        s"${layout}_batch_10_pruned", s"${layout}_batch_10_auto")
      assert(j.get(s"${layout}_pruned_eq_unpruned").asBoolean, layout)
    }
    assert(j.get("probe_hits").asLong > 0L && j.get("batch_10_one_job_rows").asLong > 0L)
  }
}
