package graft

import graft.index.IndexBuilder
import graft.query.QueryEngine
import graft.sources.CorpusSource
import org.apache.spark.sql.SparkSession

/** Minimal end-user entry point: index a corpus and answer one query —
  * the CLI analogue of the reference's HTTP SERP server (reference
  * server.go:55-103; pagination = 5/page there, `--page` here).
  *
  * Usage:
  *   runMain graft.SearchCli <corpusSpec> <algorithm> <query> [page]
  *
  * `corpusSpec` is `<csvPath|parquetDir>` — indexed in memory for this
  * process — or `<csvPath|parquetDir>@<blockIndexDir>`: the corpus
  * supplies document fields (title/url for rendering), the PERSISTED
  * block index (built once via `BlockIndex.build` / kept fresh via
  * `refresh`, plain or segmented) answers every query mode through
  * `asBundle` — no per-process rebuild, the serving shape for corpora
  * that do not fit an interactive rebuild.
  *
  * `algorithm` ∈ BM25 | "Classic TF-IDF" | Boolean | Terms | Fuzzy |
  * Wildcard | Phrase | Proximity | Grep | Symbol | Subtoken (the last
  * five extension modes; unknown → BM25, like the reference's registry
  * server.go:39-53).
  * A path ending in .csv is read as the reference's id,title,body,URL CSV;
  * otherwise it is read as the Iceberg-shaped source-file Parquet corpus.
  */
object SearchCli {

  /** Resolve a corpusSpec into (engine, docs relation).
    *
    * The `@` split uses the LAST `@` and only when the suffix actually
    * IS a block-index directory — so a corpus path that legitimately
    * contains `@` still resolves as a plain corpus instead of failing
    * with a confusing two-path error.
    *
    * Corpus forms: `.csv` (reference id,title,body,URL), a parquet
    * corpus ALREADY in model form (docId,title,body,url — what a
    * refresh/streaming writer maintains alongside its index, ids taken
    * VERBATIM so they match the index), or an Iceberg-shaped source-file
    * parquet (renumbered deterministically by repo/path — only valid
    * with an index built from the same renumbering).
    */
  private[graft] def resolve(
      spark: SparkSession, spec: String, k: Int = 3)
      : (QueryEngine, org.apache.spark.sql.DataFrame) = {
    import graft.index.{BlockIndex, MetaIO}
    def isIndexDir(d: String) =
      MetaIO.exists(s"$d/${BlockIndex.StatsName}") || BlockIndex.isSegmented(d)
    val at = spec.lastIndexOf('@')
    val (corpusPath, idxDir) =
      if (at > 0 && isIndexDir(spec.drop(at + 1)))
        (spec.take(at), Some(spec.drop(at + 1)))
      else (spec, None)
    val docs =
      if (corpusPath.endsWith(".csv")) CorpusSource.readDocsCsv(spark, corpusPath)
      else {
        val raw = spark.read.parquet(corpusPath)
        if (Seq("docId", "title", "body", "url").forall(raw.columns.contains))
          raw.select(org.apache.spark.sql.functions.col("docId").cast("long"),
            raw("title"), raw("body"), raw("url"))
        else CorpusSource.sourceFilesToDocs(CorpusSource.readSourceFiles(spark, corpusPath))
      }
    // Phrase/Proximity modes read positions straight off the corpus
    // relation (lazy plan; a deployment with a persisted sidecar queries
    // PositionalIndex.phraseSearch/proximitySearch directly instead), and
    // Grep mode scans the raw corpus. When serving a tombstoned index,
    // both must exclude the deleted docs too — the bundle already does.
    def live(rel: org.apache.spark.sql.DataFrame) =
      idxDir.fold(rel)(graft.index.SegmentStore.liveOnly(_, rel))
    val positions = Some(live(graft.index.PositionalIndex.positionsStream(docs)))
    val liveDocs = Some(live(docs))
    val engine = idxDir match {
      case Some(d) =>
        new QueryEngine(BlockIndex.asBundle(spark, d, k),
          positions = positions, rawDocs = liveDocs)
      case None =>
        new QueryEngine(IndexBuilder.build(docs, k = k),
          positions = positions, rawDocs = liveDocs)
    }
    (engine, docs)
  }
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: SearchCli <csvPath|parquetDir> <algorithm> <query> [page]")
      sys.exit(2)
    }
    val Array(path, alg, query) = args.take(3)
    val page = if (args.length > 3) args(3).toInt else 1
    val spark = LocalSpark.session("graft-search")
    try {
      val (engine, docs) = resolve(spark, path)
      val ranked = engine.byName(alg)(query)
      val pageDf = engine.paginate(ranked, page)
      val out = engine.materialize(pageDf, docs)
        .select("docId", "title", "url")
      val rows = out.collect()
      println(s"query='$query' algorithm=$alg page=$page " +
        s"results=${rows.length}")
      rows.foreach { r =>
        println(s"  #${r.getAs[Long]("docId")}  ${r.getAs[String]("title")}" +
          s"  <${r.getAs[String]("url")}>")
      }
    } finally spark.stop()
  }
}
