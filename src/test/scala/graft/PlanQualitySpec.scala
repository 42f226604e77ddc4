package graft

import graft.index.BlockIndex
import graft.pipeline.{Similarity, TextPipeline}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: the properties that make the engine viable
  * at 100 TB must hold in the compiled plan, not just in intent. Each test
  * renders the executed plan and asserts the shape (filter pushdown,
  * column pruning, broadcast sides, codegen coverage).
  */
class PlanQualitySpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  private lazy val idxDir = GateQueries.blockIndexDir(spark, "/root/testdata/sf0.001")

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("WAND metadata scan: term filter pushed to parquet, bytes column pruned") {
    val meta = BlockIndex.readBlocks(spark, idxDir)
      .where(col("term").isin("spark", "join"))
      .select("term", "blockId", "n", "maxTf", "minTf", "minDl", "maxDl")
    val plan = planOf(meta)
    assert(plan.contains("PushedFilters: [In(term"), s"term filter not pushed:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("bytes"),
      s"posting bytes must not be read for metadata-only planning:\n$readSchema")
  }

  test("WAND scoring scan reads only the query terms' shards (partition pruning)") {
    // bm25TopK reads parquet paths for the terms' shards only; assert the
    // shard count touched is < nShards for a single-term query
    val (_, layout) = BlockIndex.readStats(idxDir)
    val shardOfSpark = spark.range(1)
      .select(pmod(xxhash64(lit("spark")), lit(layout.nShards)).cast("int"))
      .head().getInt(0)
    val scan = spark.read.option("basePath", idxDir)
      .parquet(s"$idxDir/shard=$shardOfSpark")
      .where(col("term") === "spark")
    assert(scan.count() > 0) // the term's postings live in its hash shard
    val others = (0 until layout.nShards).filter(_ != shardOfSpark)
    val elsewhere = spark.read.option("basePath", idxDir)
      .parquet(others.map(s => s"$idxDir/shard=$s"): _*)
      .where(col("term") === "spark")
    assert(elsewhere.count() == 0) // and nowhere else → pruning is sound
  }

  test("bm25TopK single-task plan: no Exchange, shard partition filter, In(term) pushed") {
    // 500 docs under a 256-doc span: two block rows per term, so a
    // two-term query is bounded by committed metadata alone
    val df = BlockIndex.bm25TopK(spark, idxDir, "spark join", 5)
    assert(df.collect().nonEmpty)
    val plan = planOf(df)
    assert(!plan.contains("Exchange"), s"single-task plan must not exchange:\n$plan")
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(plan).nonEmpty,
      s"shards must be pruned by a partition filter:\n$plan")
    assert(plan.contains("PushedFilters: [In(term"), s"term filter not pushed:\n$plan")
  }

  test("one-query WAND ranks by a per-partition top k below its exchange") {
    // 4-doc blocks: a head term spans ~30 block rows, past the single-task
    // routes, so bm25TopK prunes; the one-query batch prunes by request
    val d = java.nio.file.Files.createTempDirectory("plan-wand").toString
    val docs = graft.sources.CorpusSource.sourceFilesToDocs(
      graft.tools.CorpusGen.generate(spark, 120, seed = 23))
    BlockIndex.build(docs, d, BlockIndex.Layout(blockSpan = 4, nShards = 4))
    val single = BlockIndex.bm25TopK(spark, d, "def val", 5)
    assert(single.collect().length == 5)
    assert(BlockIndex.lastDriverMetaRows > 2, "the WAND route collects phase-1 and θ rows")
    val singlePlan = planOf(single)
    assert(singlePlan.contains("TakeOrderedAndProject"),
      s"bm25TopK must take a per-partition top k:\n$singlePlan")
    val batch = BlockIndex.bm25TopKBatch(spark, d, Seq("def val"), 5, prune = Some(true))
    assert(batch.collect().length == 5)
    val batchPlan = planOf(batch)
    // Spark infers a partial WindowGroupLimit for row_number() <= k and
    // runs it before the shuffle on the query key
    val partial = batchPlan.linesIterator.indexWhere(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial"))
    val exchange = batchPlan.linesIterator.indexWhere(_.contains("Exchange hashpartitioning(qid"))
    assert(partial >= 0 && exchange >= 0 && exchange < partial,
      s"the one-query batch must limit each partition below its exchange:\n$batchPlan")
  }

  test("gram index query: In(gram) pushed to parquet; needle grams live only in routed shards") {
    val sp = spark
    import sp.implicits._
    val docs = (1L to 50L).map(i => (i, s"some content block $i with spark"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("gram-plan").toString
    graft.index.GramIndex.build(docs, "doc_id", "text", dir, k = 3,
      nShards = 8)
    val needle = "spark"
    val grams = needle.sliding(3).toSeq
    // the candidate scan pushes the gram filter to the parquet reader
    val scan = spark.read.option("basePath", dir).parquet(s"$dir/shard=*")
      .where(col("gram").isin(grams: _*))
    assert(planOf(scan).contains("PushedFilters: [In(gram"),
      s"gram filter not pushed:\n${planOf(scan)}")
    // routing is sound: each gram's postings live ONLY in its hash shard
    for (g <- grams) {
      val home = graft.index.BlockIndex.shardOf(g, 8)
      val there = spark.read.option("basePath", dir)
        .parquet(s"$dir/shard=$home").where(col("gram") === g)
      assert(there.count() > 0, s"gram '$g' missing from its shard")
      val others = (0 until 8).filter(_ != home)
      val elsewhere = spark.read.option("basePath", dir)
        .parquet(others.map(s => s"$dir/shard=$s"): _*)
        .where(col("gram") === g)
      assert(elsewhere.count() == 0, s"gram '$g' leaked outside its shard")
    }
  }

  test("pipeline tokenization is native: no ScalaUDF in the corpus-pass operators' plans") {
    val sp = spark
    import sp.implicits._
    // parquet-backed so ConvertToLocalRelation cannot fold the projection
    // into a LocalTableScan (which would hide the expression under test)
    val pdir = java.nio.file.Files.createTempDirectory("tok-plan").toString
    (1L to 30L).map(i => (i, s"alpha beta doc $i gamma delta text words here"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(pdir)
    val docs = spark.read.parquet(pdir)
    val target = docs.limit(5)
    val plans = Seq(
      "oovRate" -> TextPipeline.oovRate(docs, "doc_id", "text", 8),
      "unigramNll" -> TextPipeline.unigramNll(docs, "doc_id", "text"),
      "bigramNll" -> TextPipeline.bigramNll(docs, "doc_id", "text"),
      "cooccurrence" -> TextPipeline.cooccurrence(docs, "text", 2),
      "collocations" -> TextPipeline.collocations(docs, "text", 1L),
      "importanceWeights" -> TextPipeline.importanceWeights(docs, target))
    for ((name, df) <- plans) {
      val plan = planOf(df)
      assert(!plan.contains("ScalaUDF"),
        s"$name still crosses the ScalaUDF boundary:\n$plan")
      assert(plan.contains("tokens("),
        s"$name does not show the native tokens expression:\n$plan")
    }
  }

  test("fuzzy/wildcard candidate gate: >cap candidates take the non-broadcast semi-join, small sets take In(term)") {
    val sp = spark
    import sp.implicits._
    import graft.query.{QueryEngine => QE}
    // 105,000 distinct terms, ALL matching `a*` — a vocabulary-scale
    // candidate set (≥10⁵, ~26× the cap) that must NOT be broadcast
    val nDocs = 1000
    val perDoc = 105
    val docs = (0 until nDocs).map { d =>
      (d + 1L, s"t$d",
        (0 until perDoc).map(j => s"a${d * perDoc + j}").mkString(" "), s"u$d")
    }.toDF("docId", "title", "body", "url")
    val eng = new graft.query.QueryEngine(
      graft.index.IndexBuilder.build(docs, k = 3, persist = false))

    val wide = eng.wildcardQuery("a*")
    // every doc holds only a-terms → the loose pattern matches ALL docs.
    // Execute FIRST so the asserted plan is AQE's FINAL one (a pre-
    // execution assert would miss a runtime broadcast conversion).
    assert(wide.count() == nDocs.toLong)
    val widePlan = wide.queryExecution.executedPlan.toString
    val semiLines = widePlan.linesIterator.filter(_.contains("LeftSemi")).toSeq
    assert(semiLines.nonEmpty,
      s">cap candidates must join as LEFT SEMI, plan:\n$widePlan")
    assert(semiLines.forall(l => !l.contains("Broadcast")),
      s"vocabulary-scale candidate relation was broadcast:\n$widePlan")

    // a selective pattern (`a10?` → a100..a109) stays under the cap:
    // candidates collect to the driver and push into the scan as In(term)
    // — no join against a candidate relation at all
    val narrow = eng.wildcardQuery("a10?")
    val narrowPlan = narrow.queryExecution.executedPlan.toString
    assert(!narrowPlan.contains("LeftSemi"),
      s"small candidate set should use In(term), not a join:\n$narrowPlan")
    assert(narrow.count() == 2L) // a100..a104 in doc 1, a105..a109 in doc 2
    // both sides of the cap agree on the SAME candidate relation: force
    // the wide set through the semi join and through a raised-cap In by
    // comparing against the brute-force expectation (all docIds)
    assert(wide.collect().map(_.getLong(0)).toSet ==
      (1L to nDocs.toLong).toSet)
    assert(QE.CandidateInCap >= 1000, "cap must keep real queries on the In path")
  }

  test("BM25 scoring plan broadcasts the query-term relations") {
    val e = GateQueries.engine(spark, "/root/testdata/sf0.001")
    val df = e.bm25Query("spark join", Some(10))
    df.collect() // materialize AQE's final plan before inspecting it
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"query-terms join should broadcast, not shuffle:\n$plan")
    // top-k must not materialize a full globally-sorted result: a global
    // sort would require a rangepartitioning exchange before the limit
    assert(!plan.contains("rangepartitioning"),
      s"top-k should avoid a global range-partitioned sort:\n$plan")
    assert(plan.contains("TakeOrderedAndProject") || plan.contains("Limit"),
      s"expected a limit-style top-k operator:\n$plan")
  }

  test("index build plan: tf pre-aggregated inside the scanner — no tf hash aggregate") {
    val b = GateQueries.bundle(spark, "/root/testdata/sf0.001")
    val plan = b.postings.queryExecution.executedPlan.toString
    // the per-doc scan emits (term, tf) directly (the document is the
    // natural pre-aggregation boundary): the postings relation must be a
    // narrow explode with NO aggregation operator at all
    assert(!plan.contains("HashAggregate"),
      s"tf must be folded into the tokenizer scan, not re-aggregated:\n$plan")
    assert(plan.contains("Generate"), s"expected the tokenTf explode:\n$plan")
  }

  test("ANN brute force: corpus side streams, query side broadcasts") {
    val emb = GateQueries.embeddings(spark, "/root/testdata/sf0.001")
    val plan = planOf(Similarity.bruteForceTopK(
      emb.where(col("vec_id") < 3).withColumnRenamed("vec_id", "query_id"),
      emb, 5))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"queries must broadcast against the streaming corpus:\n$plan")
  }

  test("batched BM25 plan: term filter pushed, query relation broadcast, no global sort before the window") {
    val df = BlockIndex.bm25TopKBatch(spark, idxDir,
      Seq("spark join", "table window"), k = 5)
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [In(term"),
      s"union-of-terms filter must reach the parquet scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"(query, term, qcnt) relation should broadcast:\n$plan")
    // ranking is a per-query window (hash partitioning on query), not a
    // global range-partitioned sort of all scores
    assert(plan.contains("Window"), s"expected per-query window rank:\n$plan")
  }

  test("IVF indexed probe: only the probed cluster directories are scanned") {
    val dir = GateQueries.ivfIndexDir(spark, "/root/testdata/sf0.001")
    val emb = GateQueries.embeddings(spark, "/root/testdata/sf0.001")
    val one = Similarity.ivfTopKIndexed(spark, dir,
      emb.where(col("vec_id") === 0).withColumnRenamed("vec_id", "query_id"),
      k = 5, nprobe = 2)
    val clustersRead = one.inputFiles.flatMap(f =>
      "cluster=(\\d+)".r.findFirstMatchIn(f).map(_.group(1))).toSet
    assert(clustersRead.size <= 2,
      s"nprobe=2 must touch at most 2 cluster dirs, read $clustersRead")
  }

  test("native simhash projection stays inside whole-stage codegen") {
    val docs = GateQueries.documents(spark, "/root/testdata/sf0.001")
    val df = docs.select(col("doc_id"),
      graft.pipeline.Dedup.simhash64(col("text")))
    df.collect()
    val plan = planOf(df)
    assert("\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined,
      s"simhash64 should run inside whole-stage codegen:\n$plan")
  }

  test("unigram NLL tokenizes the corpus once (exchange reuse across branches)") {
    // Three logical consumers of the token stream (per-doc sums, corpus
    // term counts, corpus total); the explicit isNotNull filters in
    // unigramNll make the branches canonically identical so the
    // tokenize+tf shuffle is computed once and reused.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextPipeline.unigramNll(docs, "doc_id", "text")
    out.collect() // materialize so AQE's final plan is rendered
    val plan = planOf(out).split("== Initial Plan ==")(0)
    val textScans = plan.linesIterator
      .count(l => l.contains("FileScan") && l.contains("text"))
    assert(textScans == 1, s"corpus tokenized $textScans times:\n$plan")
    assert(plan.contains("ReusedExchange"), s"no exchange reuse:\n$plan")
  }

  test("asofJoin plan: ONE exchange total — union-tag, not join+argmax") {
    val sp = spark
    import sp.implicits._
    val left = (1 to 100).map(i => (i.toLong, s"u${i % 7}", i.toLong * 10))
      .toDF("event_id", "user", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val right = (1 to 100).map(i => (1000L + i, s"u${i % 7}", i.toLong * 9))
      .toDF("event_id", "user", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val out = graft.pipeline.EventOps.asofJoin(left, right, "user", "ts")
    out.collect()
    val plan = planOf(out).split("== Initial Plan ==")(0)
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("ReusedExchange"))
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"as-of must not be a join:\n$plan")
  }

  test("sessionize plan: one exchange on the key; rollup plan: no join, map-combined agg") {
    val sp = spark
    import sp.implicits._
    val ev = (1 to 200).map(i => (i.toLong, s"u${i % 5}", i.toLong * 100, 1.0))
      .toDF("event_id", "user", "sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val sess = graft.pipeline.EventOps.sessionize(ev, "user", "ts", "event_id", 300L)
    sess.collect()
    val sPlan = planOf(sess).split("== Initial Plan ==")(0)
    assert(sPlan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("ReusedExchange")) == 1,
      s"sessionize should exchange once:\n$sPlan")
    val roll = graft.pipeline.EventOps.tumblingRollup(ev, "ts", "value", 3600L, Seq("user"))
    roll.collect()
    val rPlan = planOf(roll).split("== Initial Plan ==")(0)
    assert(!rPlan.contains("Join"), s"rollup must not join:\n$rPlan")
    // partial (map-side) + final aggregate pair around a single exchange
    assert(rPlan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"rollup should map-combine:\n$rPlan")
  }

  test("whole-stage codegen covers the scoring pipeline") {
    val e = GateQueries.engine(spark, "/root/testdata/sf0.001")
    val df = e.bm25Query("spark join", Some(10))
    df.collect()
    // codegen'd spans render as "*(n) Operator" in the executed plan
    val plan = planOf(df)
    assert("\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined,
      s"scoring should run inside whole-stage codegen:\n$plan")
  }

  test("subtoken passes are native: no ScalaUDF in the identifier-search plan") {
    val docs = GateQueries.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    val p = planOf(graft.pipeline.CodeOps.subtokenSearch(docs, "doc_id",
      "text", "spark table"))
    assert(!p.contains("ScalaUDF"),
      s"subtoken search must use the native SubtokensExpr:\n$p")
    assert(p.contains("subtokens("),
      s"native subtokens( should appear in the plan:\n$p")
  }

  test("late-round map-only passes are exchange-free: winnow, code shape, comment stats, grep -C") {
    val docs = GateQueries.documents(spark, "/root/testdata/sf0.001")
    val t = coalesce(col("text"), lit(""))
    def noExchange(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val p = planOf(df)
      assert(!p.contains("Exchange"), s"$name plan has a shuffle:\n$p")
    }
    noExchange(docs.select(col("doc_id"),
      explode(TextPipeline.winnow(t, 3, 4))), "winnow")
    noExchange(docs.where(graft.pipeline.CodeOps.codeShapeOk(t)),
      "codeShapeOk")
    noExchange(graft.pipeline.CodeOps.commentStats(docs, "doc_id", "text"),
      "commentStats")
    noExchange(graft.index.GramIndex.grepLinesContext(docs, "doc_id",
      "text", "tabl", 2), "grepLinesContext")
  }

  test("blobDedup plan: occurrence side narrow; canonical-id agg map-combined; hit join broadcast") {
    val sp = spark
    import sp.implicits._
    val docs = GateQueries.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").as("id"), coalesce(col("text"), lit(""))
        .as("content"), col("lang"))
    val (blobs, occ) = graft.pipeline.CodeOps.blobDedup(docs, "id",
      "content", Seq("lang"))
    // occurrences: one projection, no shuffle
    assert(!planOf(occ).contains("Exchange"),
      s"occ must be narrow:\n${planOf(occ)}")
    // the (sha, id) canonical agg combines map-side BEFORE its exchange —
    // proof the content bytes never ride the dedup shuffle
    val bPlan = planOf(blobs)
    assert(bPlan.contains("partial_min"),
      s"canonical-id agg should map-combine:\n$bPlan")
    // groupHitsBy: the top-k hit relation broadcasts; the corpus-sized
    // meta side never sort-merge-joins
    val hits = Seq((1L, 2.0), (2L, 1.0)).toDF("docId", "score")
    val meta = GateQueries.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").as("docId"), col("lang").as("repo"))
    val g = graft.query.QueryEngine.groupHitsBy(hits, meta, "repo")
    g.collect()
    val gPlan = planOf(g)
    assert(gPlan.contains("BroadcastHashJoin"),
      s"hit relation should broadcast:\n$gPlan")
    assert(!gPlan.contains("SortMergeJoin"),
      s"meta side must not sort-merge:\n$gPlan")
  }

  test("SERP collapse: corpus-sized sims streams, k-row hit side broadcasts") {
    val sp = spark
    import sp.implicits._
    // the big side is a Range scan — if it ever lands under a broadcast
    // build side, the plan would OOM the driver at corpus scale
    val sims = spark.range(0, 100000)
      .select(col("id").as("docId"), xxhash64(col("id")).as("simhash"))
    val hits = (1L to 10L).map(i => (i, 100.0 - i)).toDF("docId", "score")
    val df = graft.query.QueryEngine.collapseSimilarHits(hits, sims)
    val joins = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(joins.nonEmpty, "expected a broadcast join of sims × hits")
    joins.foreach { j =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
      }
      assert(!build.toString.contains("Range"),
        s"corpus-sized sims side must stream, not broadcast:\n$j")
    }
    // and the rule still computes: hits all distinct sketches → all kept
    assert(df.count() == 10)
  }

  test("SemDeDup blocked compare: every exchange is (cluster, sub-block) keyed — vectors cross once per side, pairs never re-shuffle") {
    val sp = spark
    import sp.implicits._
    val vecs = (0L until 200L).map { i =>
      (i, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13).toFloat - 6f))
    }.toDF("vec_id", "embedding")
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val priorAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pairs = Similarity.semanticDedupPairs(vecs, k = 4, eps = 0.0)
      val shuffles = pairs.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.nonEmpty, "expected shuffle joins with broadcast disabled")
      // the dense blocked compare ships each vector ONCE per side on the
      // blocking key; the quadratic pair relation must never hit an
      // exchange (the r5 sweep measured the pair-shuffle shape at ~18×
      // the exchange bytes — see the semanticDedupPairs scaladoc)
      shuffles.foreach { e =>
        val part = e.outputPartitioning.toString
        assert(part.contains("__sub"),
          s"exchange not keyed by the (cluster, __sub) block: $part")
        assert(!e.output.exists(a => a.name == "id_a" || a.name == "id_b")
          || !(e.output.exists(_.name == "id_a") && e.output.exists(_.name == "id_b")),
          s"materialized pair relation crossed an exchange:\n$e")
      }
      assert(shuffles.size <= 2, s"expected ≤ 2 blocking exchanges, got ${shuffles.size}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      spark.conf.set("spark.sql.adaptive.enabled", priorAqe)
    }
  }
}
