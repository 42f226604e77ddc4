package graft

import graft.index.{BlockIndex, IndexBuilder}
import graft.pipeline.{Dedup, Similarity}
import graft.query.QueryEngine
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main. Prints ONE JSON line:
  * `{"metric":"total","value":…,"unit":"sec","queries":{…},"sf":…, …}`
  * with extra keys for the north-rule metrics: `index_docs_per_sec`
  * (block-index build throughput incl. the sharded checkpointed write),
  * `n_docs`, `cpus`, and hardware facts.
  *
  * Scaling-efficiency evidence (BASELINE.md): run this twice on the SAME
  * input with `SPARK_GRAFT_CPUS=8` and `=32`; efficiency =
  * (docs/sec @32) / (4 × docs/sec @8). Results are recorded in BENCH.md.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val docs = GateQueries.docsAsModel(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = docs.count() // also materializes the cache

    // ---- north-rule metric: block-index build throughput (docs/sec) ----
    val idxDir = java.nio.file.Files.createTempDirectory("graft-bench-idx").toString
    val (_, buildSec) = time {
      BlockIndex.build(docs, idxDir, BlockIndex.Layout(blockSpan = 4096, nShards = 8))
    }
    val docsPerSec = nDocs / buildSec

    // logical in-memory index for the naive query paths
    val (bundle, logicalSec) = time {
      val b = IndexBuilder.build(docs)
      b.postings.count(); b.docLens.count() // materialize caches
      b
    }
    val engine = new QueryEngine(bundle)

    val documents = GateQueries.documents(spark, sfDir)
    val embeddings = GateQueries.embeddings(spark, sfDir)
    val ivfDir = java.nio.file.Files.createTempDirectory("graft-bench-ivf").toString
    val pqDir = java.nio.file.Files.createTempDirectory("graft-bench-pq").toString
    val ivfPqDir = java.nio.file.Files.createTempDirectory("graft-bench-ivfpq").toString
    val posDir = java.nio.file.Files.createTempDirectory("graft-bench-pos").toString
    // 90% base sidecar prepared untimed; pos_refresh_10pct times ONLY the
    // incremental commit of the remaining docs as a second segment
    val posSegDir = java.nio.file.Files.createTempDirectory("graft-bench-posseg").toString
    val posCut = (docs.agg(max(col("docId"))).head().getLong(0) * 0.9).toLong
    graft.index.PositionalIndex.build(
      docs.where(col("docId") <= posCut), posSegDir, nShards = 8)
    // tombstoned twin of the block index (1/7 of docs deleted, broadcast
    // regime): bm25_wand_tombstoned_top10 measures what the per-query
    // anti-join costs relative to bm25_wand_top10
    val gramDir = java.nio.file.Files.createTempDirectory("graft-bench-gram").toString
    val shufDir = java.nio.file.Files.createTempDirectory("graft-bench-shuf").toString
    val symDir = java.nio.file.Files.createTempDirectory("graft-bench-sym").toString
    // replace-by-key: the full corpus loads untimed as upsert batch 0;
    // upsert_replace_10pct times batch 1 replacing 10% of the keys
    // (keymap lookup + tombstones + segment append)
    val upsDir = java.nio.file.Files.createTempDirectory("graft-bench-ups").toString
    val upsKeyDir = java.nio.file.Files.createTempDirectory("graft-bench-upskey").toString
    // the bench corpus carries no unique url — synthesize the key from
    // the docId (the upsert contract needs one version per key)
    graft.streaming.StreamOps.indexUpsertBatch(
      docs.select(col("title"), col("body"),
        concat(lit("u"), col("docId")).as("url")),
      batchId = 0L, upsDir,
      BlockIndex.Layout(blockSpan = 4096, nShards = 8), Seq("url"),
      upsKeyDir, genTag = "bench")
    val tombDir = java.nio.file.Files.createTempDirectory("graft-bench-tomb").toString
    BlockIndex.build(docs, tombDir, BlockIndex.Layout(blockSpan = 4096, nShards = 8))
    BlockIndex.delete(
      docs.select(col("docId")).where(pmod(col("docId"), lit(7)) === 3), tombDir)

    val benches: Seq[(String, () => Long)] = Seq(
      "bm25_wand_top10" ->
        (() => BlockIndex.bm25TopK(spark, idxDir, GateQueries.ScoredQ, 10).count()),
      // sustained warm query throughput: 20 distinct BM25 top-10 queries
      // against the block index; q/s derivable as 20 / seconds
      "bm25_wand_20_queries" -> (() => {
        val pool = Seq("spark join", "table window fast", "customer query",
          "vector stream batch", "group sort merge", "filter scan row",
          "big small slow", "hash agg column", "line part value", "key data order")
        var n = 0L
        for (q <- pool ++ pool.map(_ + " table"))
          n += BlockIndex.bm25TopK(spark, idxDir, q, 10).count()
        n
      }),
      // the same 20 queries as ONE batched job — the per-job floor paid
      // once; q/s = 20 / seconds
      "bm25_wand_20_queries_batched" -> (() => {
        val pool = Seq("spark join", "table window fast", "customer query",
          "vector stream batch", "group sort merge", "filter scan row",
          "big small slow", "hash agg column", "line part value", "key data order")
        BlockIndex.bm25TopKBatch(spark, idxDir, pool ++ pool.map(_ + " table"), 10).count()
      }),
      "bm25_wand_tombstoned_top10" ->
        (() => BlockIndex.bm25TopK(spark, tombDir, GateQueries.ScoredQ, 10).count()),
      "bm25_naive_top10" ->
        (() => engine.bm25Query(GateQueries.ScoredQ, Some(10)).count()),
      "tfidf_top10" ->
        (() => engine.vectorSpaceQuery(GateQueries.ScoredQ).limit(10).count()),
      "terms_query" -> (() => engine.termsQuery(GateQueries.TermsQ).count()),
      "boolean_query" -> (() => engine.booleanQuery(GateQueries.BoolQ).count()),
      "fuzzy_query" -> (() => engine.fuzzyQuery(GateQueries.FuzzyQ).count()),
      "wildcard_query" -> (() => engine.wildcardQuery(GateQueries.WildQ).count()),
      "dedup_exact" ->
        (() => Dedup.exactDupGroups(documents, "doc_id", "text").count()),
      "dedup_minhash_bands" ->
        (() => Dedup.lshBands(documents, "doc_id", "text", 3, 8, 4).count()),
      "dedup_simhash" ->
        (() => documents.select(Dedup.simhash64(col("text"))).count()),
      // realistic dedup threshold — the AllPairs prefix filter prunes
      // candidates hard here; the gate's θ=0.03 variant (q21) is the
      // filter's worst case and is exercised by Verify, not timed here
      "dedup_ngram_jaccard" ->
        (() => Dedup.ngramJaccardPairs(documents, "doc_id", "text",
          n = 3, minJaccard = 0.8).count()),
      "ann_brute_top10" -> (() => Similarity.bruteForceTopK(
        embeddings.where(col("vec_id") < 5).withColumnRenamed("vec_id", "query_id"),
        embeddings, 10).count()),
      "ann_lsh_top10" -> (() => Similarity.lshTopK(
        embeddings.where(col("vec_id") < 5).withColumnRenamed("vec_id", "query_id"),
        embeddings, 10, dim = 64, nPlanes = 4).count()),
      // IVF: the quantizer + bucketed lists are a BUILD-time artifact
      // (timed separately); the query path reads only the probed lists
      "ivf_build" -> (() => {
        Similarity.ivfBuild(embeddings, ivfDir, dim = 64, k = 8, iters = 3)
        1L
      }),
      "ann_ivf_top10" -> (() => Similarity.ivfTopKIndexed(spark, ivfDir,
        embeddings.where(col("vec_id") < 5).withColumnRenamed("vec_id", "query_id"),
        k = 10, nprobe = 2).count()),
      // int8 scalar quantization: brute-force-shaped scan over 1-byte/dim
      // codes + exact re-rank of a bounded candidate set (train+encode
      // inline here; a deployment persists the coded corpus like IVF)
      "ann_sq8_top10" -> (() => Similarity.sq8TopK(
        embeddings.where(col("vec_id") < 5).withColumnRenamed("vec_id", "query_id"),
        embeddings, k = 10, rerank = 50, dim = 64).count()),
      // product quantization: 8 bytes/vector candidate scan (8× below
      // SQ8) + exact re-rank; codebooks Lloyd-refined at build time on a
      // BOUNDED smallest-id sample (the 100-TB recipe: train passes
      // touch min(n, S) rows, the full corpus is scanned once by the
      // coding pass; cap 512 < n here so the bench exercises the
      // sampled regime)
      "pq_build" -> (() => {
        Similarity.pqBuild(embeddings, pqDir, dim = 64, m = 8, ksub = 16,
          iters = 3, trainSample = 512)
        1L
      }),
      "ann_pq_top10" -> (() => Similarity.pqTopKIndexed(spark, pqDir,
        embeddings.where(col("vec_id") < 5).withColumnRenamed("vec_id", "query_id"),
        k = 10, rerank = 50).count()),
      // IVF-PQ: probed lists (layout pruning) × 8-byte codes (scan
      // width) — the two levers composed
      "ivfpq_build" -> (() => {
        Similarity.ivfPqBuild(embeddings, ivfPqDir, dim = 64, kClusters = 8,
          m = 8, ksub = 16, iters = 3, trainSample = 512)
        1L
      }),
      "ann_ivfpq_top10" -> (() => Similarity.ivfPqTopKIndexed(spark, ivfPqDir,
        embeddings.where(col("vec_id") < 5).withColumnRenamed("vec_id", "query_id"),
        k = 10, nprobe = 2, rerank = 50).count()),
      "decontaminate" -> (() => {
        val withSplit = documents.withColumn("split",
          graft.pipeline.TextPipeline.splitAssign(
            graft.pipeline.TextPipeline.hashBucket256(col("text"))))
        graft.pipeline.TextPipeline.decontaminateAgainst(
          withSplit.where(col("split") === "train"),
          withSplit.where(col("split") =!= "train"), n = 5).count()
      }),
      "stratified_sample" -> (() => graft.pipeline.TextPipeline
        .stratifiedSample(documents, "source",
          Map("src0" -> 64, "src1" -> 128, "src2" -> 0), 192).count()),
      // positional sidecar: build is a one-off artifact (cold, like
      // ivf_build); phrase search reads only the phrase terms' shards
      "pos_index_build" -> (() => {
        graft.index.PositionalIndex.build(docs, posDir, nShards = 8)
        1L
      }),
      "phrase_search_top10" -> (() => graft.index.PositionalIndex
        .phraseSearch(spark, posDir, "order fast", 10).count()),
      // nextword accelerator: one-off derived build, then the same
      // phrase through bigram postings (head-phrase remedy; BENCH.md)
      "nextword_build" -> (() => {
        graft.index.PositionalIndex.buildNextword(posDir)
        1L
      }),
      "phrase_search_nextword" -> (() => graft.index.PositionalIndex
        .phraseSearch(spark, posDir, "order fast", 10).count()),
      "proximity_search_top10" -> (() => graft.index.PositionalIndex
        .proximitySearch(spark, posDir, "order fast window", 10).count()),
      "upsert_replace_10pct" -> (() => {
        graft.streaming.StreamOps.indexUpsertBatch(
          docs.where(pmod(col("docId"), lit(10)) === 0)
            .select(col("title"),
              concat(col("body"), lit(" refreshed")).as("body"),
              concat(lit("u"), col("docId")).as("url")),
          batchId = 1L, upsDir,
          BlockIndex.Layout(blockSpan = 4096, nShards = 8), Seq("url"),
          upsKeyDir, genTag = "bench")
        1L
      }),
      "pos_refresh_10pct" -> (() => {
        graft.index.PositionalIndex.refresh(
          docs.where(col("docId") > posCut), posSegDir)
        1L
      }),
      // query overhead of the two-segment layout (vs phrase_search_top10
      // on the single-segment sidecar)
      "phrase_search_segmented" -> (() => graft.index.PositionalIndex
        .phraseSearch(spark, posSegDir, "order fast", 10).count()),
      "chunk_windows" -> (() => graft.pipeline.TextPipeline
        .chunkTokens(documents, "doc_id", "text",
          chunkSize = 128, stride = 96).count()),
      "unigram_nll" -> (() => graft.pipeline.TextPipeline
        .unigramNll(documents, "doc_id", "text").count()),
      "bm25f_part_top20" -> (() => QueryEngine.bm25F(
        GateQueries.partDocs(spark, sfDir), "small blue bolt",
        wTitle = 2.0, wBody = 1.0, topK = Some(20)).count()),
      // PageRank over the q37/q67 synthetic link DAG (4 outlinks/doc)
      "pagerank_5iter" -> (() => {
        val nodes = documents.select(col("doc_id").as("page"))
        val links = nodes.select(col("page").as("src"),
            explode(array(lit(1L), lit(2L), lit(3L), lit(4L))).as("j"))
          .withColumn("dst", col("src") + col("j"))
          .join(nodes.select(col("page").as("dst")), "dst")
          .select(col("src"), col("dst"))
        graft.pipeline.GraphOps.pageRank(nodes, links, iters = 5).count()
      }),
      "dedup_containment" -> (() => Dedup.containmentPairs(
        documents, "doc_id", "text", n = 3, minContainment = 0.9).count()),
      "events_sessionize" -> (() => graft.pipeline.EventOps.sessionize(
        GateQueries.events(spark, sfDir), "user_id", "ts", "event_id",
        gapSeconds = 6 * 3600)
        .groupBy(col("user_id"), col("session_id")).count().count()),
      "events_asof_join" -> (() => {
        val ev = GateQueries.events(spark, sfDir)
        graft.pipeline.EventOps.asofJoin(
          ev.where(col("event_type") === "purchase"),
          ev.where(col("event_type") === "signup")
            .select(col("event_id"), col("ts"), col("user_id")),
          "user_id", "ts").count()
      }),
      "events_funnel" -> (() => graft.pipeline.EventOps.funnel(
        GateQueries.events(spark, sfDir), Seq("user_id"), "event_type",
        "ts", Seq("signup", "purchase", "error")).count()),
      "hits_5iter" -> (() => {
        val nodes = documents.select(col("doc_id").as("page"))
        val links = nodes.select(col("page").as("src"),
            explode(array(lit(1L), lit(2L), lit(3L), lit(4L))).as("j"))
          .withColumn("dst", col("src") + col("j"))
          .join(nodes.select(col("page").as("dst")), "dst")
          .select(col("src"), col("dst"))
        graft.pipeline.GraphOps.hits(nodes, links, iters = 5).count()
      }),
      // RM3-lite PRF: two full BM25 passes + the expansion-term pick
      "prf_top20" ->
        (() => engine.prfQuery(GateQueries.ScoredQ, f = 10, e = 5,
          beta = 0.5, topK = Some(20)).count()),
      // SemDeDup: one shuffle on cluster id, k quadratic blocks (k=8
      // matches gate q81; the k=64 twin shows the quadratic shrink that
      // IS the scale path — SemDeDup ran 10⁴–10⁵ clusters at LAION scale)
      "semantic_dedup" -> (() => Similarity.semanticDedupPairs(
        embeddings, k = 8, eps = 0.4).count()),
      "semantic_dedup_k64" -> (() => Similarity.semanticDedupPairs(
        embeddings, k = 64, eps = 0.4).count()),
      // DSIR: two ≤256-row hashed distributions + broadcast-join rescore
      "importance_weights" -> (() => graft.pipeline.TextPipeline
        .importanceWeights(documents,
          documents.where(col("source").isin("src0", "src1"))).count()),
      "keywords_top3" -> (() => engine.keywordsPerDoc(3).count()),
      "ltr_features" -> (() => engine.ltrFeatures(GateQueries.ScoredQ).count()),
      // two-stage retrieval: BM25 recall stage, cosine precision stage
      "rerank_top20" -> (() => {
        val qv = embeddings.where(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        QueryEngine.rerankByEmbedding(
          engine.bm25Query(GateQueries.ScoredQ), qv, embeddings,
          candidates = 50, topK = Some(20)).count()
      }),
      "bigram_nll" -> (() => graft.pipeline.TextPipeline
        .bigramNll(documents, "doc_id", "text").count()),
      // exact substring dedup: window → corpus-wide count → coverage
      "dup_spans_w8" -> (() => graft.pipeline.TextPipeline
        .dupSpanStats(documents, "doc_id", "text", w = 8).count()),
      // BPE merge learning: 5 rounds of (vocab-sized pair count, argmax,
      // narrow replace) after one corpus-wide word-count shuffle
      "bpe_train_5" -> (() => {
        val (m, w) = graft.pipeline.TextPipeline
          .bpeTrain(documents, "text", nMerges = 5, minCount = 1)
        m.size.toLong + w.count()
      }),
      // compliance scan: license class + secret counts + admission, one
      // narrow codegen'd pass over the corpus
      "secret_license_scan" -> (() => {
        import graft.pipeline.CodeOps
        documents.select(
          CodeOps.licenseOf(col("text")).as("license"),
          CodeOps.secretCount(col("text")).as("n_secrets"),
          CodeOps.trainable(col("text")).as("ok")).count()
      }),
      // token-budget curation: range-partitioned two-pass prefix sum
      "token_budget_select" -> (() => graft.pipeline.TextPipeline
        .selectToTokenBudget(documents, "doc_id", col("n_chars"),
          budget = 20000L,
          priority = Seq(col("n_chars") -> false, col("doc_id") -> true))
        .count()),
      // offline eval of 3 live BM25 rankings against derived graded
      // qrels — the SAME builder as gate q83, so bench and gate can't
      // desynchronize
      "rank_eval_3q" -> (() => {
        val (ranked, qrels) = graft.pipeline.EvalOps.bm25RankingsWithTermQrels(
          engine, bundle.postings,
          Seq(GateQueries.TermsQ, GateQueries.ScoredQ, GateQueries.FuzzyQ),
          topN = 20)
        graft.pipeline.EvalOps.rankEval(ranked, qrels, k = 10).count()
      }),
      // content trigram (code-grep) index: one-shuffle sharded build,
      // then three driver-routed indexed substring searches (in-token,
      // cross-word, multi-word)
      "gram_index_build" -> (() => {
        graft.index.GramIndex.build(documents, "doc_id", "text", gramDir,
          k = 3, nShards = 16)
        1L
      }),
      "substring_search" -> (() => {
        Seq("tabl", "ark tab", "spark table").map(n =>
          graft.index.GramIndex.substringSearchIndexed(spark, gramDir,
            documents, "doc_id", "text", n).count()).sum
      }),
      // the same three needles as ONE batch: shared df probe, one
      // postings read, one verify join
      "substring_search_batched" -> (() =>
        graft.index.GramIndex.substringSearchBatch(spark, gramDir,
          documents, "doc_id", "text",
          Seq("tabl", "ark tab", "spark table")).count()),
      // deterministic shuffled training export: one exchange on shard,
      // per-partition sort, partitioned parquet write
      "shuffle_export" -> (() => {
        graft.pipeline.TextPipeline.writeShuffledShards(documents, "doc_id",
          shufDir, nShards = 16, seed = "bench")
        1L
      }),
      // persisted ctags sidecar: one-shuffle sharded build over the
      // code-shaped corpus, then three driver-routed single-shard lookups
      "symbol_index_build" -> (() => {
        graft.index.SymbolIndex.build(
          GateQueries.codeFiles(spark, sfDir), "doc_id", "content", symDir,
          nShards = 16)
        1L
      }),
      "symbol_search_indexed" -> (() =>
        Seq("get3", "Widget4", "Obj1").map(n =>
          graft.index.SymbolIndex.searchIndexed(spark, symDir, n).count()).sum),
      // query-likelihood ranking (Dirichlet μ=2000): postings filtered to
      // the query terms, bounded ctf probe, one per-doc aggregation
      "lm_dirichlet_top20" -> (() =>
        engine.lmDirichletQuery(GateQueries.ScoredQ, topK = Some(20)).count()),
      // metadata-filtered BM25: candidate semi-join after the score agg
      "bm25_filtered_top20" -> (() =>
        engine.bm25FilteredQuery(GateQueries.ScoredQ,
          documents.where(col("lang") === "en")
            .select(col("doc_id").as("docId")), topK = Some(20)).count()),
      // fork detection: sha-keyed candidate join with frequent-blob prune
      "repo_overlap" -> (() => graft.pipeline.CodeOps.repoOverlap(
        documents.select(
          concat(lit("r"), pmod(col("doc_id"), lit(8))).as("repo"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("s"), pmod(col("doc_id"), lit(20))))
            .otherwise(concat(lit("u"), col("doc_id"), col("text")))
            .as("content")),
        "repo", "content", minShared = 2L).count()),
      // newest-version-per-file selection: one map-combined struct-max agg
      "latest_snapshot" -> (() => graft.pipeline.SnapshotOps.latestSnapshot(
        documents.select(
          concat(lit("r"), pmod(col("doc_id"), lit(8))).as("repo"),
          concat(lit("p"), pmod(col("doc_id"), lit(50))).as("path"),
          col("doc_id").as("commit_ord"), col("lang"),
          coalesce(col("text"), lit("")).as("content")),
        Seq("repo", "path"), "commit_ord").count()),
      // blob-level dedup: collapse a fork-shaped 2× duplication to
      // distinct blobs, search blobs, expand hits to file occurrences
      "blob_dedup_search" -> (() => {
        val base = documents.select(col("doc_id"),
          coalesce(col("text"), lit("")).as("text"))
        val files = base.select(col("doc_id").as("id"),
            concat(lit("r"), pmod(col("doc_id"), lit(7))).as("repo"),
            concat(lit("p"), col("doc_id")).as("path"),
            (lit(1) + pmod(col("doc_id"), lit(nDocs / 2))).as("__src"))
          .join(base.select(col("doc_id").as("__src"),
            col("text").as("content")), "__src")
        val (blobs, occ) = graft.pipeline.CodeOps.blobDedup(
          files, "id", "content", Seq("repo", "path"))
        val hits = graft.index.GramIndex.substringSearch(blobs, "blob_id",
            "content", "spark table")
          .select(col("docId").as("blob_id"), lit(1.0).as("score"))
        graft.pipeline.CodeOps.expandBlobHits(hits, blobs, occ).count()
      }),
      // MOSS winnowing: per-row array pipeline (shingle → md5 → window
      // min), no shuffle
      "winnow_fingerprints" -> (() => documents.select(col("doc_id"),
        explode(graft.pipeline.TextPipeline.winnow(
          coalesce(col("text"), lit("")), 3, 4)).as("f")).count()),
      // Codex admission stats: one map-only pass of line/char arithmetic
      "code_shape_scan" -> (() => documents.select(
        graft.pipeline.CodeOps.codeShapeOk(
          replace(coalesce(col("text"), lit("")), lit(" "), lit("\n")))
          .as("ok")).where(col("ok")).count()),
      // grep -C over the multiline derivation: match positions found in
      // array land, context windows merged before the explode
      "grep_context" -> (() => graft.index.GramIndex.grepLinesContext(
        documents.select(col("doc_id"),
          replace(coalesce(col("text"), lit("")), lit(" "), lit("\n"))
            .as("content")),
        "doc_id", "content", "tabl", 2).count()),
      // corpus sed via the persisted gram index: only candidates run the
      // replace; the rest anti-join through untouched
      "rewrite_indexed" -> (() => graft.index.GramIndex.rewriteIndexed(
        spark, gramDir, documents, "doc_id", "text", "table", "TBL")
        .agg(sum(length(col("content")))).head().getLong(0)),
      // camelCase identifier search: native SubtokensExpr postings +
      // conjunctive count, one corpus pass
      "subtoken_search" -> (() => graft.pipeline.CodeOps.subtokenSearch(
        GateQueries.codeFiles(spark, sfDir), "doc_id", "content",
        "Widget3 get2").count()),
      // gapped exact phrase through the persisted positional sidecar
      "gapped_phrase_top20" -> (() => graft.index.PositionalIndex
        .phraseSearchGapped(spark, posDir, "table * join", 20).count()))

    // Query-path entries run once UNTIMED first: they model steady-state
    // workloads (serving, dedup sweeps), where JIT/codegen-cache/page-
    // cache warmth is the realistic regime — and cold first-runs swing
    // ±20% on this VM, which round 2 showed misattributes regressions.
    // Build entries stay cold/single-run: a batch build IS a cold job.
    // upsert_replace_10pct MUST stay single-run: the replayed batchId of
    // a warmup run would hit the idempotence fast-path and time a no-op
    val warmupSkip = Set("ivf_build", "pos_index_build", "pos_refresh_10pct",
      "nextword_build", "gram_index_build", "shuffle_export",
      "pq_build", "ivfpq_build", "upsert_replace_10pct",
      "symbol_index_build")
    val results: Seq[(String, Double)] =
      ("block_index_build" -> buildSec) +:
      ("logical_index_build" -> logicalSec) +:
      benches.map { case (name, f) =>
        val sec = try {
          if (!warmupSkip(name)) f()
          time(f())._2
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
        }
        name -> sec
      }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val hw = s"${Runtime.getRuntime.availableProcessors}cores/" +
      s"${Runtime.getRuntime.maxMemory() / (1L << 30)}g-heap/" +
      s"jdk${System.getProperty("java.version")}/spark${spark.version}"
    println(
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"sf":"$sfDir","index_docs_per_sec":${f"$docsPerSec%.1f"},"n_docs":$nDocs,"cpus":$cpus,"timing":"builds cold; query entries timed after one untimed warmup run","hardware":"$hw"}""")
    spark.stop()
  }
}
