package graft.index

import graft.CorpusStats
import graft.analysis.Analyzer._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The logical inverted index as a bundle of typed, partitionable
  * Datasets — the Spark-native replacement for the reference's in-memory
  * maps (reference index_inverted.go:9-16, index_kgram.go:8-11,
  * document.go:23-44):
  *
  *   - `postings`  (term, docId, tf)   — the inverted index + tf map
  *   - `docLens`   (docId, len)        — body word counts
  *   - `termStats` (term, df, maxTf)   — per-term document frequency
  *   - `stats`                         — nDocs / vocabSize / totalLen
  *   - `blockDir`                      — the [[BlockIndex]] directory the
  *     relations read, for a bundle from [[BlockIndex.asBundle]]
  *
  * Everything is declarative DataFrame code: tokenization is a codegen'd
  * Column expression, tf aggregation is one hash-partial + final
  * aggregation (map-side combine ⇒ the shuffle carries (term,docId)
  * pairs already reduced), and no arrival-order assumption exists anywhere
  * — the reference relies on documents arriving in increasing-id order
  * (index_inverted.go:25-35); here order is imposed where needed by
  * explicit sorts instead.
  *
  * For the compressed, block-structured physical index (varbyte, salting,
  * WAND bounds, checkpointed sharded writes) see [[BlockIndex]].
  */
final case class IndexBundle(
    postings: DataFrame,
    docLens: DataFrame,
    termStats: DataFrame,
    stats: CorpusStats,
    k: Int,
    blockDir: Option[String] = None) {

  /** idf = log10(vocabSize / df) — the reference's quirk: N is the number
    * of DISTINCT TERMS, not documents (reference index_inverted.go:128-135).
    * Rank identity on the reference query set requires this.
    */
  def idfCol(df: Column): Column = IndexBundle.idfCol(stats.vocabSize, df)

  /** (gram, term): the k-gram index over the vocabulary, derived from
    * `termStats` on each call. No query mode reads it: Fuzzy and Wildcard
    * test each term's k-grams per row. distinct() mirrors the reference's
    * per-gram dedup of terms (index_kgram.go:18-36).
    */
  def kgramIndex: DataFrame =
    termStats.select(explode(kgramsCol(col("term"), k)).as("gram"), col("term"))
      .distinct()

  def unpersist(): Unit = {
    postings.unpersist(); docLens.unpersist(); termStats.unpersist()
  }
}

object IndexBundle {

  /** The one IDF definition of every BM25/TF-IDF scorer: Spark's
    * `log(10, V/df)`, 0 when V or df is 0.
    */
  def idfCol(vocabSize: Column, df: Column): Column =
    when(df > 0 && vocabSize > 0, log(10.0, vocabSize / df)).otherwise(0.0)

  def idfCol(vocabSize: Long, df: Column): Column =
    idfCol(lit(vocabSize.toDouble), df)

  /** Driver twin of [[idfCol]], bit-identical to it: Spark's `log(base,
    * x)` evaluates `StrictMath.log(x) / StrictMath.log(base)`, which is
    * not always `math.log10(x)` (V/df = 1000 gives 2.9999999999999996).
    */
  def idf(vocabSize: Long, df: Long): Double =
    if (vocabSize <= 0 || df <= 0) 0.0
    else StrictMath.log(vocabSize.toDouble / df.toDouble) / StrictMath.log(10.0)

  /** The one BM25 term weight of every BM25 scorer and of the block-max
    * WAND upper bound: idf · (k1+1)·tf / (k1·(1−b+b·dl/avgdl) + tf)
    * (reference searcher.go:245-268). A document scores
    * Σ_terms qcnt · weight, so every scorer groups the floating-point
    * arithmetic the same way.
    */
  def bm25Weight(idf: Column, tf: Column, dl: Column, avgdl: Column,
      k1: Double, b: Double): Column =
    idf * (lit(k1 + 1) * tf / (lit(k1) * (lit(1 - b) + lit(b) * dl / avgdl) + tf))
}

object IndexBuilder {

  /** (docId, term) token stream: title tokens then body tokens, duplicates
    * kept (reference searcher.go:272-286). Narrow: no shuffle.
    */
  def tokenStream(docs: DataFrame): DataFrame =
    docs.select(
      col("docId"),
      explode(concat(tokensCol(col("title")), tokensCol(col("body")))).as("term"))

  /** (term, docId, tf) with tf folded into the tokenizer scan — the doc is
    * the natural pre-aggregation boundary, so the build explodes
    * |distinct terms per doc| rows instead of |tokens| rows and skips the
    * tf hash aggregation entirely (AnalyzerSpec pins ≡ tokenStream
    * groupBy-count). Narrow: no shuffle.
    */
  def postingsStream(docs: DataFrame): DataFrame =
    docs.select(col("docId"),
        explode(graft.analysis.DocTermsExpr.column(col("title"), col("body"))
          .getField("terms")).as("p"))
      .select(col("p.term").as("term"), col("docId"), col("p.tf").as("tf"))

  /** Build the full logical index. The postings relation is NARROW (tf is
    * folded into the tokenizer scan); the only shuffle is the (small,
    * term-keyed) term-stats aggregation.
    */
  /** Raise scan parallelism for under-partitioned sources (small/few
    * files collapse into a handful of input splits and the tokenize stage
    * runs almost serially; a real large table has plenty of splits and
    * skips this). Costs one plan materialization, no job.
    */
  private[index] def ensureParallelism(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // planned partition count straight off the physical plan — metadata
    // only, no job, and no Dataset.rdd deserialization step
    val planned = df.queryExecution.toRdd.getNumPartitions
    if (planned < target) df.repartition(target) else df
  }

  def build(docs0: DataFrame, k: Int = 3, persist: Boolean = true): IndexBundle = {
    val docs = ensureParallelism(docs0)
    val lvl = StorageLevel.MEMORY_AND_DISK
    def maybePersist(df: DataFrame): DataFrame =
      if (persist) df.persist(lvl) else df

    val postings = maybePersist(postingsStream(docs))

    val docLens = maybePersist(
      docs.select(col("docId"), wordCountCol(col("body")).as("len")))

    val termStats = maybePersist(
      postings.groupBy(col("term"))
        .agg(count(lit(1)).as("df"), max(col("tf")).as("maxTf")))

    val Array(nDocs, totalLen) = docLens
      .agg(count(lit(1)), coalesce(sum(col("len")), lit(0L)))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val vocabSize = termStats.count()

    IndexBundle(postings, docLens, termStats,
      CorpusStats(nDocs, vocabSize, totalLen), k)
  }
}
