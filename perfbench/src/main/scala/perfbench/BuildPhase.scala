package perfbench

import graft.index.{BlockIndex, PositionalIndex}
import graft.sources.CorpusSource
import graft.tools.CorpusGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Set-up and the build phase.
  *
  * Set-up writes the seeded `(repo, path, commit, lang, content)` corpus
  * parquet and its manifest (row count, distinct content hashes), three
  * times over, and reports the median (which also warms the JVM).
  * The build phase then builds the workload's indexes from the parquet:
  * `sourceFilesToDocs`, then the block index, and on `write` the
  * positional index. Each run starts a
  * fresh JVM, so every build is measured equally cold.
  */
object BuildPhase {

  final case class Corpus(rows: Long, distinctContent: Long, bytes: Long)

  final case class Result(setupS: Double, docs: DataFrame, nDocs: Long,
      toDocsS: Double, stepS: Map[String, Double], indexBytes: Map[String, Long],
      corpusBytes: Long) {
    def blockDocsPerS: Double = nDocs / stepS("block")
    def allDocsPerS: Double = nDocs / (toDocsS + stepS.values.sum)
    def bytesPerCorpusByte: Double = indexBytes.values.sum.toDouble / corpusBytes
  }

  private def writeCorpus(run: Run, dir: String, seed: Long): Corpus = {
    val spark = run.spark
    CorpusGen.generate(spark, run.sizes.nDocs, seed = seed).drop("docId")
      .write.mode("overwrite").parquet(dir)
    val m = spark.read.parquet(dir)
      .agg(count(lit(1)), countDistinct(sha2(col("content"), 256))).head()
    Corpus(m.getLong(0), m.getLong(1), Util.dirBytes(dir))
  }

  def run(run: Run, seed: Long): Result = {
    val spark = run.spark
    val trace = run.trace
    val setups = (0 until 3).map { _ =>
      val t0 = Util.now()
      val c = trace.span("setup.corpus")(writeCorpus(run, run.corpusDir, seed))
      (Util.msSince(t0) / 1e3, c)
    }
    val corpus = setups.last._2
    val setupS = Util.median(setups.map(_._1))

    def timed[A](name: String)(f: => A): (A, Double) = {
      val t0 = Util.now()
      val a = trace.span(name)(f)
      (a, Util.msSince(t0) / 1e3)
    }
    val (docs, toDocsS) = timed("sources.to_docs") {
      CorpusSource.sourceFilesToDocs(CorpusSource.readSourceFiles(spark, run.corpusDir))
    }
    val steps = Seq[(String, () => Unit)](
      "block" -> (() => BlockIndex.build(docs, run.blockDir)),
      "pos" -> (() => PositionalIndex.build(docs, run.posDir)))
      .filter { case (name, _) => run.inputs.profile.indexes.contains(name) }
    val stepS = steps.map { case (name, f) => name -> timed(s"index.$name.build")(f())._2 }.toMap
    val dirs = Map("block" -> run.blockDir, "pos" -> run.posDir)
    val indexBytes = stepS.keys.map(k => k -> Util.dirBytes(dirs(k))).toMap

    // checks: every corpus row became exactly one indexed document, and
    // no two rows share content (the sha256 identity anchor)
    val nDocs = docs.count()
    val indexed = BlockIndex.readStats(run.blockDir)._1.nDocs
    run.check(nDocs == corpus.rows && indexed == corpus.rows &&
      corpus.distinctContent == corpus.rows,
      s"build: docs=$nDocs indexed=$indexed corpusRows=${corpus.rows} " +
        s"distinctContent=${corpus.distinctContent}")
    Result(setupS, docs, nDocs, toDocsS, stepS, indexBytes, corpus.bytes)
  }
}
