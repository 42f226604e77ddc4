package graft

import graft.pipeline.{Dedup, Multimodal, Similarity, TextPipeline}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data pipeline operators on corpora with PLANTED duplicates and
  * neighbors — the gate queries check engine-vs-oracle equivalence on the
  * driver corpus; these specs check the operators actually FIND what they
  * exist to find.
  */
class PipelineSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from the fence"
  private val docs = Seq(
    (1L, base),
    (2L, base), // exact dup of 1
    (3L, base.replace("lazy", "sleepy")), // near dup of 1
    (4L, "completely different content about spark sql aggregation and shuffles here"),
    (5L, base + " and then some extra words at the end of it"), // near dup
    (6L, "der hund läuft und die katze ist nicht da ein guter tag zu spielen"),
    (7L, "le chat est sur la table et les oiseaux pour une belle journée ensemble"),
    (8L, "")
  ).toDF("doc_id", "text")

  test("exact dedup groups byte-identical docs, keeps min id") {
    val out = Dedup.exactDupGroups(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("canonical_id"), r.getAs[Boolean]("keep"))).toMap
    assert(out(1L) == (1L, true))
    assert(out(2L) == (1L, false))
    assert(out(3L)._2 && out(4L)._2 && out(5L)._2)
  }

  test("ngram jaccard finds planted near-dups, not unrelated docs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical → jaccard 1.0
    assert(pairs.contains((2L, 3L)) == pairs.contains((1L, 3L))) // symmetry via canon
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("containment: small doc swallowed by big doc found in the a→b direction only") {
    val sp = spark
    import sp.implicits._
    val filler = (1 to 60).map(i => s"filler token number$i").mkString(" ")
    val cdocs = Seq(
      (1L, base),                    // the small document
      (2L, s"$filler $base $filler"), // a big page containing doc 1 verbatim
      (3L, "totally unrelated words about catalyst plans and broadcast joins")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(cdocs, "doc_id", "text",
        n = 3, minContainment = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // every shingle of 1 appears in 2 → C(1→2) = 1.0; the reverse
    // direction is tiny (|S(2)| ≫ |S(1)|), and Jaccard would miss both
    assert(got.get((1L, 2L)).contains(1.0), s"got $got")
    assert(!got.contains((2L, 1L)))
    assert(!got.keys.exists { case (a, b) => a == 3L || b == 3L })
    val jac = Dedup.ngramJaccardPairs(cdocs, "doc_id", "text",
      n = 3, minJaccard = 0.9).collect()
    assert(jac.isEmpty, "jaccard at the same threshold must NOT see the pair")
  }

  test("minhash LSH recalls exact + near dup pairs and verifies true jaccard") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, numHashes = 8, bands = 4, minJaccard = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.get((1L, 2L)).contains(1.0)) // exact dup: jaccard exactly 1
    // near-dups share most shingles → at least one band collides w.h.p.
    assert(pairs.contains((1L, 3L)) || pairs.contains((1L, 5L)))
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("dup groups: transitive closure over pairs — chains, stars, singletons") {
    val sp = spark
    import sp.implicits._
    val ids = (1L to 10L).toDF("id")
    // chain 1-2-3 (1≈2, 2≈3, but NOT 1≈3), star 5-{6,7}, pair 8-9; 4,10 alone
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (5L, 7L), (9L, 8L))
      .toDF("id_a", "id_b")
    val out = Dedup.dupGroupsFromPairs(ids, pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == (1L, true) && out(2L) == (1L, false) && out(3L) == (1L, false))
    assert(out(5L) == (5L, true) && out(6L) == (5L, false) && out(7L) == (5L, false))
    assert(out(8L) == (8L, true) && out(9L) == (8L, false))
    assert(out(4L) == (4L, true) && out(10L) == (10L, true))
    // kept canonicals = one per component
    assert(out.values.count(_._2) == 5)
  }

  test("dup groups: non-convergence within maxIter fails loudly, never silently") {
    val sp = spark
    import sp.implicits._
    // a 12-node path graph needs 11 propagation rounds
    val ids = (1L to 12L).toDF("id")
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.dupGroupsFromPairs(ids, chain, maxIter = 3)
    }
    // and with enough rounds the whole chain is ONE component
    val ok = Dedup.dupGroupsFromPairs(ids, chain, maxIter = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok.values.toSet == Set(1L))
  }

  test("simhash64: identical text → identical hash; near-dup → small hamming") {
    val fp = docs
      .select(col("doc_id"), Dedup.simhash64(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(8L) == -1L) // token-free doc: every vote 0 ≥ 0 → all 64 bits
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(3L)) < ham(fp(1L), fp(4L)))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhash64: native expr ≡ Column formulation, incl. null and empty text") {
    val withNull = docs.union(Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val both = withNull.select(
      col("doc_id"),
      Dedup.simhash64(col("text")).as("native"),
      Dedup.simhash64Cols(col("text")).as("cols"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(both.nonEmpty)
    for ((id, n, c) <- both) assert(n == c, s"doc $id: native $n != cols $c")
    // null text and empty text both fingerprint −1 (no votes → all bits)
    val byId = both.map(t => t._1 -> t._2).toMap
    assert(byId(8L) == -1L && byId(9L) == -1L)
  }

  test("simhash 4x16 banding: every hamming<=3 pair is a candidate (pigeonhole property)") {
    // adversarial fingerprints: flips straddle band boundaries, touch the
    // sign bit, and hit 3 distinct bands — banding must still catch all
    val rnd = new scala.util.Random(7)
    val base = rnd.nextLong()
    def flip(x: Long, bits: Int*) = bits.foldLeft(x)((a, b) => a ^ (1L << b))
    val fps = Seq(
      0L -> base,
      1L -> flip(base, 0, 15, 31),   // bands 0,0,1 — band 2,3 untouched
      2L -> flip(base, 16, 32, 48),  // one flip in each of bands 1,2,3
      3L -> flip(base, 63),          // sign bit only
      4L -> flip(base, 62, 63),      // top band, incl. sign
      5L -> flip(base, 5, 21, 37, 53)) // hamming 4 in 4 bands: NOT guaranteed
    def bands(x: Long) = (0 until 4).map(b => (b, (x >> (b * 16)) & 0xFFFFL))
    def candidate(a: Long, b: Long) = bands(a).zip(bands(b)).exists(p => p._1 == p._2)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    for ((ia, a) <- fps; (ib, b) <- fps if ia < ib && ham(a, b) <= 3)
      assert(candidate(a, b), s"hamming<=3 pair ($ia,$ib) missed by banding")
    // and the one hamming-4 pair spread over all four bands is indeed missed,
    // documenting the pigeonhole budget is exactly 3
    assert(!candidate(fps(0)._2, fps(5)._2))
  }

  test("repetition stats: boilerplate loops score high, varied prose low, empty zero") {
    val sp = spark
    import sp.implicits._
    val rep = Seq(
      (1L, "buy now " * 50),                  // pure loop: near-total repetition
      (2L, base),                             // varied prose
      (3L, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        TextPipeline.dupShingleFrac(col("text"), 3).as("dup"),
        TextPipeline.topTokenFrac(col("text")).as("top"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(rep(1L)._1 > 0.9 && rep(1L)._2 === 0.5)
    assert(rep(2L)._1 < 0.2 && rep(2L)._2 < 0.35)
    assert(rep(3L) == (0.0, 0.0))
  }

  test("pii scrub replaces emails and IPv4s, leaves everything else intact") {
    val sp = spark
    import sp.implicits._
    val out = Seq((1L, "write bob.smith+x@ex-ample.co.uk from 10.0.255.1 re v1.2.3.4.5 ok"))
      .toDF("doc_id", "text")
      .select(TextPipeline.piiScrub(col("text")).as("s"),
        TextPipeline.emailCount(col("text")).as("ne"),
        TextPipeline.ipCount(col("text")).as("ni"))
      .head()
    // "v1.2.3.4.5": no word boundary inside "v1", so the match starts at
    // "2.3.4.5" — identical under Java regex and RE2
    assert(out.getString(0) == "write <EMAIL> from <IP> re v1.<IP> ok")
    assert(out.getInt(1) == 1 && out.getInt(2) == 2)
  }

  test("hash split: content-keyed, deterministic, exact dups share a split") {
    val out = docs.select(col("doc_id"), col("text"),
      TextPipeline.hashBucket256(col("text")).as("b"),
      TextPipeline.splitAssign(TextPipeline.hashBucket256(col("text"))).as("split"))
      .collect()
    val byId = out.map(r => r.getLong(0) -> (r.getInt(2), r.getString(3))).toMap
    assert(byId(1L) == byId(2L)) // byte-identical docs 1 and 2 → same split
    assert(out.forall(r => r.getInt(2) >= 0 && r.getInt(2) <= 255))
    // deterministic across evaluations
    val again = docs.select(TextPipeline.hashBucket256(col("text"))).collect().map(_.getInt(0))
    assert(again.toSeq == out.map(_.getInt(2)).toSeq)
  }

  test("sequence packing: global prefix sums, boundary straddles, many partitions") {
    val sp = spark
    import sp.implicits._
    // 1000 docs with varying token counts; force many range partitions so
    // the two-pass prefix sum actually crosses partition boundaries
    val lens = (1L to 1000L).map(i => (i, (i * 7 % 23) + 1))
    val df = lens.toDF("doc_id", "n")
    val out = TextPipeline.packAssign(df, "doc_id", col("n"), budget = 100,
      numPartitions = Some(16))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // exact sequential semantics vs a driver-side fold
    var cum = 0L
    for ((id, n) <- lens) {
      val (tk, cb, pid, po) = out(id)
      assert(tk == n)
      assert(cb == cum, s"doc $id cum_before")
      assert(pid == cum / 100 && po == cum % 100, s"doc $id pack")
      cum += n
    }
    // straddle exists (some doc crosses a 100-token boundary)
    assert(lens.exists { case (id, n) => out(id)._4 + n > 100 })
  }

  test("langid marker heuristic separates en/de/fr; empty text → und") {
    val out = docs.select(col("doc_id"), TextPipeline.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(6L) == "de")
    assert(out(7L) == "fr")
    assert(out(8L) == "und")
  }

  test("quality score: empty text scores 0, normal prose scores higher") {
    val q = docs.select(col("doc_id"), TextPipeline.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(8L) < 0.4) // no tokens: only the punct component survives
    assert(q(1L) > q(8L))
  }

  test("fingerprint: equal for identical docs, engine-portable md5 form") {
    val f = docs.where(length(col("text")) > 0)
      .select(col("doc_id"), TextPipeline.fingerprint(col("text"), 5).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(f(1L) == f(2L))
    assert(f(1L).matches("[0-9a-f]{32}"))
  }

  // ------------------------------------------------------------------
  // Similarity / ANN
  // ------------------------------------------------------------------

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
  private val vecs = Seq(
    (1L, vec(1, 0, 0, 0)),
    (2L, vec(0.99, 0.1, 0, 0)), // close to 1
    (3L, vec(0, 1, 0, 0)),
    (4L, vec(0, 0.1, 0.99, 0)),
    (5L, vec(-1, 0, 0, 0)) // opposite of 1
  ).toDF("vec_id", "embedding")

  test("brute-force cosine top-k: exact ranking with tie-break") {
    val top = Similarity.bruteForceTopK(
      vecs.where(col("vec_id") === 1L).withColumnRenamed("vec_id", "query_id"),
      vecs, k = 3)
      .orderBy(col("rank")).collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(top == Seq(1L, 2L, 3L)) // self, near, orthogonal; -1 last
  }

  test("LSH ANN: same-direction vectors share buckets; probe finds the near dup") {
    val buckets = vecs.select(col("vec_id"),
      Similarity.srpBucket(col("embedding"), 4, 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(1L) == buckets(2L)) // nearly-parallel vectors agree on all planes
    val res = Similarity.lshTopK(
      vecs.where(col("vec_id") === 1L).withColumnRenamed("vec_id", "query_id"),
      vecs, k = 3, dim = 4, nPlanes = 4)
      .orderBy(col("rank")).collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(res.take(2) == Seq(1L, 2L))
  }

  test("multi-probe LSH: nProbes=1 == lshTopK; more probes never lose recall") {
    val sp = spark
    import sp.implicits._
    // deterministic spread-out corpus so buckets are populated
    val cvecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(8)(j =>
        (math.sin(i * 31 + j * 7) + 0.1 * ((i + j) % 5)).toFloat))
    }.toDF("vec_id", "embedding")
    val qs = cvecs.where(col("vec_id") < 8).withColumnRenamed("vec_id", "query_id")
    def resultSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val single = resultSet(Similarity.lshTopK(qs, cvecs, k = 5, dim = 8, nPlanes = 8))
    val mp1 = resultSet(
      Similarity.lshTopKMultiProbe(qs, cvecs, k = 5, dim = 8, nPlanes = 8, nProbes = 1))
    assert(mp1 == single)
    val brute = resultSet(Similarity.bruteForceTopK(qs, cvecs, k = 5))
    def recall(s: Set[(Long, Long)]) = (s intersect brute).size.toDouble / brute.size
    val recalls = (1 to 7).map(p => recall(resultSet(
      Similarity.lshTopKMultiProbe(qs, cvecs, k = 5, dim = 8, nPlanes = 8, nProbes = p))))
    // monotone non-decreasing recall in nProbes, and full probing helps
    recalls.sliding(2).foreach { case Seq(a, b) => assert(b >= a, recalls.toString) }
    assert(recalls.last > recalls.head, s"multi-probe gained nothing: $recalls")
  }

  test("IVF ANN: nprobe=K equals brute force exactly; small nprobe keeps near hits") {
    // 30 vectors in 3 well-separated directions + per-vector jitter
    val dirs = Seq(
      Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0), Array(0.0, 0.0, 1.0, 0.0))
    val cvecs = (0 until 30).map { i =>
      val d = dirs(i % 3)
      val jit = 0.01 * ((i * 7) % 5)
      (i.toLong, d.zipWithIndex.map { case (x, j) =>
        (x + (if (j == 3) jit else 0.0)).toFloat })
    }.toDF("vec_id", "embedding")
    val centroids = Similarity.ivfCentroids(cvecs, dim = 4, k = 3, iters = 4)
    val qs = cvecs.where(col("vec_id") < 3).withColumnRenamed("vec_id", "query_id")
    val brute = Similarity.bruteForceTopK(qs, cvecs, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("vec_id")).toMap
    // full probe == brute force, rank for rank
    val full = Similarity.ivfTopK(qs, cvecs, centroids, k = 5, nprobe = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("vec_id")).toMap
    assert(full == brute)
    // single probe: each query's own direction-mates dominate its top-5
    val single = Similarity.ivfTopK(qs, cvecs, centroids, k = 5, nprobe = 1)
      .collect()
    assert(single.length == 15)
    single.foreach { r =>
      val (q, v) = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      assert(v % 3 == q % 3, s"query $q probed into a foreign cluster: $v")
    }
  }

  test("IVF persisted index: indexed query == in-memory query; only probed lists read") {
    val dirs3 = Seq(
      Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0), Array(0.0, 0.0, 1.0, 0.0))
    val cvecs = (0 until 30).map { i =>
      val d = dirs3(i % 3)
      val jit = 0.01 * ((i * 7) % 5)
      (i.toLong, d.zipWithIndex.map { case (x, j) =>
        (x + (if (j == 3) jit else 0.0)).toFloat })
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-spec").toString
    val centroids = Similarity.ivfBuild(cvecs, dir, dim = 4, k = 3, iters = 4)
    // centroids parquet round-trips exactly
    assert(Similarity.readIvfCentroids(spark, dir).map(_.toSeq).toSeq ==
      centroids.map(_.toSeq).toSeq)
    val qs = cvecs.where(col("vec_id") < 3).withColumnRenamed("vec_id", "query_id")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toMap
    val mem = key(Similarity.ivfTopK(qs, cvecs, centroids, k = 5, nprobe = 2))
    val idx = key(Similarity.ivfTopKIndexed(spark, dir, qs, k = 5, nprobe = 2))
    assert(idx == mem)
    // layout-level pruning: a single-query nprobe=1 plan reads exactly one
    // cluster directory of the bucketed lists
    val one = Similarity.ivfTopKIndexed(spark, dir,
      cvecs.where(col("vec_id") === 0).withColumnRenamed("vec_id", "query_id"),
      k = 5, nprobe = 1)
    val read = one.inputFiles.flatMap(f =>
      "cluster=(\\d+)".r.findFirstMatchIn(f).map(_.group(1))).toSet
    assert(read.size == 1, s"expected 1 probed cluster dir, read $read")
  }

  test("IVF append: delta generations queryable, replay no-op, == in-memory union") {
    val sp = spark
    import sp.implicits._
    val dirs3 = Seq(
      Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0), Array(0.0, 0.0, 1.0, 0.0))
    val all = (0 until 45).map { i =>
      val d = dirs3(i % 3)
      val jit = 0.01 * ((i * 7) % 5)
      (i.toLong, d.zipWithIndex.map { case (x, j) =>
        (x + (if (j == 3) jit else 0.0)).toFloat })
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    val centroids = Similarity.ivfBuild(
      all.where(col("vec_id") < 30), dir, dim = 4, k = 3, iters = 4)
    Similarity.ivfAppend(all.where(col("vec_id") >= 30 && col("vec_id") < 40), dir)
    Similarity.ivfAppend(all.where(col("vec_id") >= 40), dir)
    val qs = all.where(col("vec_id") < 3).withColumnRenamed("vec_id", "query_id")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toMap
    // indexed (base + 2 deltas) == in-memory over the union with the SAME
    // stored quantizer
    val mem = key(Similarity.ivfTopK(qs, all, centroids, k = 8, nprobe = 3))
    val idx = key(Similarity.ivfTopKIndexed(spark, dir, qs, k = 8, nprobe = 3))
    assert(idx == mem)
    // appended vectors are actually findable
    assert(idx.values.exists(_._1 >= 30L))
    // replaying an append (same id range) commits nothing new
    val before = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, Similarity.IvfDeltasName)).toString
    Similarity.ivfAppend(all.where(col("vec_id") >= 40), dir)
    val after = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, Similarity.IvfDeltasName)).toString
    assert(before == after)
    // an uncommitted generation (append died before its commit) is swept
    // by the next successful append instead of leaking
    val orphan = java.nio.file.Paths.get(dir, "delta-900-901")
    java.nio.file.Files.createDirectories(orphan)
    Similarity.ivfAppend(
      Seq((50L, Array.fill(4)(0.5f))).toDF("vec_id", "embedding"), dir)
    assert(!java.nio.file.Files.exists(orphan), "orphan delta generation leaked")
    // compaction folds base + deltas into ONE generation: same results,
    // base retired, and a post-compaction append still works
    Similarity.ivfCompact(dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "lists")))
    assert(key(Similarity.ivfTopKIndexed(spark, dir, qs, k = 8, nprobe = 3)) ==
      key(Similarity.ivfTopK(qs,
        all.union(Seq((50L, Array.fill(4)(0.5f))).toDF("vec_id", "embedding")),
        centroids, k = 8, nprobe = 3)))
    Similarity.ivfAppend(
      Seq((60L, Array.fill(4)(0.9f))).toDF("vec_id", "embedding"), dir)
    // a replay whose generation compaction already FOLDED must fail the
    // id-ceiling check loudly, never double-commit into a second root
    intercept[IllegalArgumentException] {
      Similarity.ivfAppend(all.where(col("vec_id") >= 40), dir)
    }
    val afterCompactAppend =
      key(Similarity.ivfTopKIndexed(spark, dir, qs, k = 8, nprobe = 3))
    assert(afterCompactAppend == key(Similarity.ivfTopK(qs,
      all.union(Seq((50L, Array.fill(4)(0.5f)), (60L, Array.fill(4)(0.9f)))
        .toDF("vec_id", "embedding")),
      centroids, k = 8, nprobe = 3)))
    // a REBUILD is a new index: committed deltas must not survive it, or
    // queries would union fresh lists with stale-quantizer generations.
    // The rebuild commits a FRESH state (live base, no deltas, the new
    // corpus's id ceiling) so the append contract is armed from day one.
    Similarity.ivfBuild(all, dir, dim = 4, k = 3, iters = 4)
    val rebuiltState = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, Similarity.IvfDeltasName)),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(rebuiltState.contains("\"deltas\":[]"), rebuiltState)
    assert(rebuiltState.contains("\"base\":true"), rebuiltState)
    assert(rebuiltState.contains("\"maxVecId\":44"), rebuiltState)
    // the recorded ceiling polices appends immediately after a rebuild
    intercept[IllegalArgumentException] {
      Similarity.ivfAppend(all.where(col("vec_id") >= 40), dir)
    }
    val postRebuild = key(Similarity.ivfTopKIndexed(spark, dir, qs, k = 8, nprobe = 3))
    val memRebuilt = key(Similarity.ivfTopK(qs, all,
      Similarity.readIvfCentroids(spark, dir), k = 8, nprobe = 3))
    assert(postRebuild == memRebuilt)
  }

  test("cosine near-dup pairs with banded SRP blocking") {
    val pairs = Similarity.cosineNearDupPairs(vecs, dim = 4, minSim = 0.9,
      nTables = 8, planesPerTable = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 5L)))
  }

  test("banded SRP near-dup recall vs brute force on planted near-identical clusters") {
    // 60 vectors in 20 clusters of 3; members of a cluster differ by tiny
    // deterministic jitter (cosine ≈ 1), distinct clusters are far apart
    val dim = 16
    val clustered = (0 until 60).map { i =>
      val cl = i / 3
      val v = Array.tabulate(dim) { j =>
        val base = math.sin((cl * dim + j) * 1.2345) // deterministic direction
        (base + 0.001 * ((i % 3) * (j % 5 - 2))).toFloat
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val brute = {
      val e = clustered
      Similarity.bruteForceTopK(
        e.withColumnRenamed("vec_id", "query_id"), e, k = 60)
        .where(col("sim") >= 0.999 && col("query_id") < col("vec_id"))
        .select(col("query_id"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(brute.size >= 20, s"fixture should plant >=20 true near-dup pairs, got ${brute.size}")
    val banded = Similarity.cosineNearDupPairs(clustered, dim, minSim = 0.999,
      nTables = 8, planesPerTable = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = banded.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.95, s"banded SRP recall $recall < 0.95 (found ${banded.size}/${brute.size})")
    assert(banded.subsetOf(brute)) // exact verify: no false positives
  }

  test("semanticDedupPairs: k=1 == all-pairs; cluster blocking keeps planted dups together") {
    // iters=0, k=3 centroids are the 3 smallest-id vectors verbatim, so
    // vectors 0/1/2 are the three cluster axes; 3 and 4 are planted
    // near-dups of vector 0; 5 is far from everything; 6 sits BETWEEN
    // axes 0 and 1 (slightly nearer axis 1) — the blocked compare's
    // documented miss mode.
    val sdVecs = Seq(
      (0L, vec(1, 0, 0, 0)),
      (1L, vec(0, 1, 0, 0)),
      (2L, vec(0, 0, 1, 0)),
      (3L, vec(0.999, 0.01, 0, 0)),
      (4L, vec(0.998, 0.02, 0, 0)),
      (5L, vec(-1, 0, 0, 0)),
      (6L, vec(0.70, 0.72, 0, 0))
    ).toDF("vec_id", "embedding")
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val dups = Set((0L, 3L), (0L, 4L), (3L, 4L))
    // k = 1: every vector lands in the single cluster → the blocked
    // compare degenerates to exact all-pairs at eps
    val allPairs = pairsOf(
      Similarity.semanticDedupPairs(sdVecs, k = 1, eps = 0.9))
    assert(allPairs == dups)
    // k = 3: the planted near-dups all assign to centroid 0, so cluster
    // blocking finds exactly the same pairs behind k² less work
    val blocked = Similarity.semanticDedupPairs(sdVecs, k = 3, eps = 0.9)
    assert(pairsOf(blocked) == dups)
    // blocked pairs are always a subset of the k=1 exact pair set; the
    // cross-cluster pair (0, 6) (cos ≈ 0.697) is exactly the kind the
    // blocked pass trades away — present exact, absent blocked
    val loose = pairsOf(
      Similarity.semanticDedupPairs(sdVecs, k = 3, eps = 0.5))
    val exactLoose = pairsOf(
      Similarity.semanticDedupPairs(sdVecs, k = 1, eps = 0.5))
    assert(loose.subsetOf(exactLoose))
    assert(exactLoose.contains((0L, 6L)) && !loose.contains((0L, 6L)))
    // cluster column rides along for downstream per-cluster keeps
    assert(blocked.columns.toSeq ==
      Seq("cluster", "id_a", "id_b", "sim"))
  }

  test("semanticDedupPairs at k=64: assignment expression stays linear (regression)") {
    // 200 one-hot vectors over 8 axes; k=64 centroids are the first 64
    // vectors (many duplicate one-hots — equal-sim ties must fall to the
    // LOWEST cluster, so each axis collapses to one cluster). This k
    // OOM'd the planner when cluster argmax was a when()-chain fold
    // (accumulator referenced twice per level → Catalyst tree doubled
    // per centroid); the array_max form is linear in k.
    val onehots = (0L until 200L).map { i =>
      val a = Array.fill(8)(0.0f); a((i % 8).toInt) = 1.0f; (i, a)
    }.toDF("vec_id", "embedding")
    val pairs = Similarity.semanticDedupPairs(
      onehots, k = 64, eps = 0.99)
    // same-axis vectors are identical → all 8 × C(25,2) pairs, no more
    assert(pairs.count() == 8L * (25 * 24 / 2))
    assert(pairs.select("cluster").distinct().count() == 8)
  }

  test("semanticDedupPairs skew guard: a degenerate quantizer cannot produce a quadratic hot key") {
    // k=2, iters=0 → centroids are vectors 0 and 1 verbatim. Centroid 1
    // is the last axis; every other vector has a ZERO last coordinate and
    // a positive first coordinate, so 119/120 docs (≥ 90%) land in
    // cluster 0 — the degenerate-quantizer scenario. Directions are
    // otherwise diverse (deterministic LCG), so the SRP sub-band can
    // split the mega-cluster.
    def lcg(s: Long): Long = (s * 6364136223846793005L + 1442695040888963407L)
    // vi_0 > 0 and vi_7 = 0 for every non-centroid doc → cos to centroid
    // 0 (= e1) is strictly positive while cos to centroid 1 (= e8) is 0,
    // so cluster 0 swallows all 119 of them deterministically
    def doc(seed: Long): Array[Float] = Array.tabulate(8) { d =>
      if (d == 7) 0f
      else if (d == 0) 0.2f + ((lcg(seed * 31) >>> 16) % 1000L) / 1000.0f
      else (((lcg(seed * 31 + d) >>> 16) % 1000L) / 500.0f - 1.0f)
    }
    val vecs = ((0L until 120L).map { i =>
      if (i == 0L) (i, Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))
      else if (i == 1L) (i, Array(0f, 0f, 0f, 0f, 0f, 0f, 0f, 1f))
      else if (i == 61L) (i, doc(60L)) // identical to doc 60
      else (i, doc(i))
    }).toDF("vec_id", "embedding")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // eps = −1 keeps EVERY in-block pair → output count ≡ Σ C(block, 2),
    // which makes per-key work directly observable
    val unCapped = pairSet(Similarity.semanticDedupPairs(vecs, k = 2,
      eps = -1.0))
    assert(unCapped.size == 119 * 118 / 2,
      s"expected one mega-cluster of 119, got ${unCapped.size} pairs")
    val capped = Similarity.semanticDedupPairs(vecs, k = 2, eps = -1.0,
      maxClusterSize = 8)
    val cappedPairs = pairSet(capped)
    // 1) strictly sub-quadratic: the mega-key was split
    assert(cappedPairs.size < unCapped.size / 4,
      s"capped pair count ${cappedPairs.size} not sub-quadratic vs ${unCapped.size}")
    assert(cappedPairs.nonEmpty && cappedPairs.subsetOf(unCapped))
    // 2) per-key bound: blocks are cliques in the pair graph, so the
    // largest connected component IS the largest shuffle-key population
    val parent = scala.collection.mutable.Map((0L until 120L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    cappedPairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val maxBlock = (0L until 120L).groupBy(find).values.map(_.size).max
    assert(maxBlock <= 40, s"largest sub-block $maxBlock — SRP failed to split the hot key")
    // 3) identical vectors always share every SRP band → true dups survive
    assert(cappedPairs.contains((60L, 61L)))
    assert(capped.where(col("id_a") === 60L && col("id_b") === 61L)
      .head().getAs[Double]("sim") == 1.0)
    // 4) clusters at/under the cap stay EXACT: high cap ≡ original result
    assert(pairSet(Similarity.semanticDedupPairs(vecs, k = 2, eps = -1.0,
      maxClusterSize = 1000)) == unCapped)
  }

  test("bigramNll: corpus transition model, hand-computed, short docs 0") {
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Seq(
      (1L, "a b a b"), // bigrams ab, ba, ab
      (2L, "a b"),     // ab
      (3L, "b c"),     // bc
      (4L, "solo"),    // < 2 tokens
      (5L, ""))
      .toDF("doc_id", "text")
    // corpus model: c(ab)=3 c(ba)=1 c(bc)=1; contexts c(a·)=3 c(b·)=2
    val out = TextPipeline.bigramNll(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_nll"))).toMap
    assert(out.size == 5)
    // doc 1: [ln3−ln3, ln2−ln1, ln3−ln3] → mean = ln2/3
    assert(out(1L) == ((3L, round6(math.log(2) / 3))))
    // doc 2: its only bigram IS the dominant transition → 0 surprise
    assert(out(2L) == ((1L, 0.0)))
    // doc 3: b→c is the rarer of b's two transitions → ln2
    assert(out(3L) == ((1L, round6(math.log(2)))))
    // <2 tokens: no bigrams, NLL 0 (not NULL)
    assert(out(4L) == ((0L, 0.0)))
    assert(out(5L) == ((0L, 0.0)))
    // word salad ranks above natural repetition: permute doc 1's text so
    // every transition is rare
    val salad = (docs.where(col("doc_id") =!= 1L).union(
      Seq((1L, "b b a a")).toDF("doc_id", "text")))
    val nllSalad = TextPipeline.bigramNll(salad, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("avg_nll")).toMap
    assert(nllSalad(1L) > out(2L)._2) // bb/ba/aa all count-1 transitions
  }

  test("importanceWeights: target-like docs score positive, raw-typical negative, empty 0") {
    // raw corpus: mostly "common" tokens; target: the "python code" slice
    val raw = Seq(
      (1L, "python code python code compiler"),
      (2L, "weather rain sunshine cloud wind"),
      (3L, "weather wind rain rain cloud"),
      (4L, "python compiler parser"),
      (5L, "")
    ).toDF("doc_id", "text")
    val target = raw.where(col("doc_id").isin(1L, 4L))
    val w = TextPipeline.importanceWeights(raw, target)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("logratio"))).toMap
    assert(w.size == 5)
    // DSIR selection is by RANK, and only the ordering is scale-free: at
    // toy corpus sizes the 256-bucket add-one smoothing mass dominates
    // and every doc's absolute logratio goes negative, but target-member
    // docs must still outscore every raw-background doc
    assert(w(1L)._2 > w(2L)._2 && w(1L)._2 > w(3L)._2)
    assert(w(4L)._2 > w(2L)._2 && w(4L)._2 > w(3L)._2)
    val top2 = w.toSeq.filter(_._1 != 5L).sortBy(-_._2._2).take(2).map(_._1).toSet
    assert(top2 == Set(1L, 4L))
    // token-free doc: 0 tokens, weight exactly 0
    assert(w(5L) == (0L, 0.0))
    // determinism: same input, same weights
    val again = TextPipeline.importanceWeights(raw, target)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("logratio")).toMap
    assert(again == w.view.mapValues(_._2).toMap)
  }

  // ------------------------------------------------------------------
  // Multimodal plumbing
  // ------------------------------------------------------------------

  test("multimodal decode: per-partition batch, schema round-trip, stub features") {
    val assets = Multimodal.syntheticAssets(docs, "doc_id", "text")
    val decoded = Multimodal.decodeAssets(assets).collect()
      .map(d => d.assetId -> d).toMap
    assert(decoded.size == 8)
    val d1 = decoded(1L)
    assert(d1.nBytes == base.getBytes("UTF-8").length.toLong)
    assert(d1.features.length == 8)
    assert(d1.payloadSha == decoded(2L).payloadSha) // identical payloads
    assert(decoded(8L).features.forall(_ == 0.0f)) // empty payload
    // deterministic: same input → same features
    assert(Multimodal.decodeStub(base.getBytes("UTF-8")).toSeq ==
      d1.features.toSeq)
  }

  // ------------------------------------------------------------------
  // int8 scalar quantization with exact re-rank
  // ------------------------------------------------------------------

  /** 40 deterministic vectors in 4 well-separated direction clusters. */
  private lazy val sqCorpus = {
    val sp = spark
    import sp.implicits._
    (0 until 40).map { i =>
      val v = Array.tabulate(8) { j =>
        (math.sin((i % 4) * 8 + j * 1.7) + 0.01 * (i / 4) * ((j % 3) - 1)).toFloat
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  test("sq8 top-k: rerank window = corpus size degrades to exact brute force") {
    val qs = sqCorpus.where(col("vec_id") < 4)
      .withColumnRenamed("vec_id", "query_id")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toMap
    val brute = key(Similarity.bruteForceTopK(qs, sqCorpus, k = 10))
    val sq = key(Similarity.sq8TopK(qs, sqCorpus, k = 10, rerank = 40, dim = 8))
    assert(sq == brute)
  }

  test("sq8 codes are genuine int8 and reconstruct within half a bucket") {
    val (lo, hi) = Similarity.sq8Train(sqCorpus, dim = 8)
    val coded = sqCorpus.select(col("embedding"),
      Similarity.sq8Code(col("embedding"), lo, hi).as("codes"),
      Similarity.sq8Dequant(
        Similarity.sq8Code(col("embedding"), lo, hi), lo, hi).as("dq"))
    // the stored element type is 1-byte — the 4× scan-width claim is real
    val elem = coded.schema("codes").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    assert(elem == org.apache.spark.sql.types.ByteType)
    // reconstruction error ≤ half a quantization bucket per dimension
    coded.collect().foreach { r =>
      val v = r.getSeq[Float](r.fieldIndex("embedding"))
      val dq = r.getSeq[Double](r.fieldIndex("dq"))
      v.indices.foreach { j =>
        val bucketW = (hi(j) - lo(j)) / 256.0
        assert(math.abs(v(j).toDouble - dq(j)) <= bucketW / 2 + 1e-12,
          s"dim $j: ${v(j)} vs ${dq(j)} (bucket $bucketW)")
      }
    }
  }

  test("sq8 small rerank window still recalls the true top-k on clustered data") {
    val qs = sqCorpus.where(col("vec_id") < 4)
      .withColumnRenamed("vec_id", "query_id")
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val brute = ids(Similarity.bruteForceTopK(qs, sqCorpus, k = 5))
    val sq = ids(Similarity.sq8TopK(qs, sqCorpus, k = 5, rerank = 10, dim = 8))
    val recall = (brute & sq).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("sq8 persisted index: indexed == in-memory; codes-only candidate scan; pushed id filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sq8").toString
    Similarity.sq8Build(sqCorpus, dir, dim = 8)
    val qs = sqCorpus.where(col("vec_id") < 4)
      .withColumnRenamed("vec_id", "query_id")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toMap
    val mem = key(Similarity.sq8TopK(qs, sqCorpus, k = 10, rerank = 12, dim = 8))
    val idxDf = Similarity.sq8TopKIndexed(spark, dir, qs, k = 10, rerank = 12)
    assert(key(idxDf) == mem)
    // the physical contract, half 1: the candidate pass's only file scan
    // reads (vec_id, codes) — the float vectors are column-pruned away
    val candPlan = Similarity.sq8IndexedCandidates(spark, dir,
      qs.select(col("query_id"), col("embedding").as("__qv")), rerank = 12)
      .queryExecution.executedPlan.toString
    val candScans = candPlan.split("\n").filter(_.contains("ReadSchema"))
    assert(candScans.nonEmpty && candScans.forall(l =>
      l.contains("codes") && !l.contains("embedding")),
      s"candidate scan not codes-only:\n$candPlan")
    // half 2: the re-rank reads `embedding` through a pushed-down id
    // filter over the bounded candidate set
    val plan = idxDf.queryExecution.executedPlan.toString
    val rerankScan = plan.split("\n").filter(l =>
      l.contains("ReadSchema") && l.contains("embedding"))
    assert(rerankScan.exists(_.contains("In(vec_id")),
      s"candidate id filter not pushed to the embedding scan:\n$plan")
    // crash discipline: an index without its bounds commit file refuses
    graft.index.MetaIO.deleteIfExists(s"$dir/${Similarity.Sq8BoundsName}")
    intercept[IllegalArgumentException] {
      Similarity.sq8TopKIndexed(spark, dir, qs, k = 5, rerank = 5)
    }
  }

  // ------------------------------------------------------------------
  // Product quantization with exact re-rank
  // ------------------------------------------------------------------

  test("pq top-k: rerank window = corpus size degrades to exact brute force") {
    val qs = sqCorpus.where(col("vec_id") < 4)
      .withColumnRenamed("vec_id", "query_id")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toMap
    val brute = key(Similarity.bruteForceTopK(qs, sqCorpus, k = 10))
    val pq = key(Similarity.pqTopK(qs, sqCorpus, k = 10, rerank = 40,
      dim = 8, m = 2, ksub = 4, iters = 0))
    assert(pq == brute)
  }

  test("pq codes are m genuine int8 entries; reconstruction concatenates real codewords") {
    val books = Similarity.pqTrain(sqCorpus, dim = 8, m = 2, ksub = 4, iters = 2)
    assert(books.length == 2 && books.forall(_.length == 4) &&
      books.forall(_.forall(_.length == 4)))
    val coded = sqCorpus.select(
      Similarity.pqCode(col("embedding"), books).as("codes"),
      Similarity.pqDequant(
        Similarity.pqCode(col("embedding"), books), books).as("dq"))
    val elem = coded.schema("codes").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    assert(elem == org.apache.spark.sql.types.ByteType)
    coded.collect().foreach { r =>
      val codes = r.getSeq[Byte](0)
      val dq = r.getSeq[Double](1)
      assert(codes.length == 2 && dq.length == 8)
      // each reconstructed sub-vector IS the codeword the code names
      codes.zipWithIndex.foreach { case (cb, j) =>
        val c = cb.toInt + 128
        assert(dq.slice(j * 4, (j + 1) * 4) == books(j)(c).toSeq,
          s"subspace $j code $c reconstruction mismatch")
      }
    }
  }

  test("pq Lloyd refinement does not worsen reconstruction error") {
    def mse(iters: Int): Double = {
      val books = Similarity.pqTrain(sqCorpus, dim = 8, m = 2, ksub = 4,
        iters = iters)
      sqCorpus.select(
          Similarity.pqDequant(
            Similarity.pqCode(col("embedding"), books), books).as("dq"),
          col("embedding"))
        .collect().map { r =>
          val dq = r.getSeq[Double](0)
          val v = r.getSeq[Float](1)
          v.indices.map(i => math.pow(v(i) - dq(i), 2)).sum
        }.sum
    }
    assert(mse(3) <= mse(0) + 1e-9, s"refined MSE ${mse(3)} > init ${mse(0)}")
  }

  test("native cosine_sim ≡ the HOF formulation, bit-for-bit, incl. edges") {
    // mixed magnitudes + signs, float32 values with inexact doubles, a
    // zero vector, and both element types — the accumulation order and
    // sqrt grouping must match exactly, not within epsilon
    def fvec(seed: Long): Array[Float] = Array.tabulate(16) { d =>
      (((seed * 2654435761L + d * 40503L) % 2001L) / 400.0f - 2.5f)
    }
    val rows = (0L until 200L).map(i => (i, fvec(i), fvec(i * 7 + 3))) ++
      Seq((997L, Array.fill(16)(0.0f), fvec(1)), // zero-norm left
        (998L, fvec(2), Array.fill(16)(0.0f)), // zero-norm right
        (999L, Array.fill(16)(0.0f), Array.fill(16)(0.0f)),
        // length mismatch with a zero norm on either side: 0.0, not NULL
        (995L, Array.fill(16)(0.0f), fvec(4).take(8)),
        (996L, fvec(5), Array.fill(8)(0.0f)))
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
        Similarity.cosine(col("a"), col("b")).as("n"),
        Similarity.cosineHof(col("a"), col("b")).as("h"))
      .collect()
    got.foreach { r =>
      val (n, h) = (r.getDouble(1), r.getDouble(2))
      assert(java.lang.Double.doubleToRawLongBits(n) ==
        java.lang.Double.doubleToRawLongBits(h),
        s"id=${r.getLong(0)}: native $n != hof $h")
    }
    // double-element arrays (centroid literals) work too
    val dbl = df.select(Similarity.cosine(col("a"),
      array((0 until 16).map(d => lit(d * 0.25 - 2.0)): _*)).as("s"))
    assert(dbl.collect().forall(r => !r.isNullAt(0)))
    // null array → 0.0 (matches the HOF when/otherwise fallthrough);
    // length mismatch → null (matches zip_with null padding)
    val edge = Seq((1L, fvec(5))).toDF("id", "a")
      .select(
        Similarity.cosine(lit(null).cast("array<float>"), col("a")).as("na"),
        Similarity.cosine(col("a"), slice(col("a"), 1, 8)).as("mis"))
      .head()
    assert(edge.getDouble(0) == 0.0)
    assert(edge.isNullAt(1))
    // and the ANN plan stays native: no interpreted HOF nodes
    val plan = Similarity.bruteForceTopK(
      df.select(col("id").as("query_id"), col("a").as("embedding")).limit(2),
      df.select(col("id").as("vec_id"), col("a").as("embedding")), 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("cosine_sim"), s"native cosine missing:\n$plan")
    assert(!plan.contains("aggregate("), s"interpreted HOF survives:\n$plan")
  }

  test("native pq_code ≡ the Column formulation on every vector; codebooks as reference object") {
    val books = Similarity.pqTrain(sqCorpus, dim = 8, m = 2, ksub = 4,
      iters = 2)
    val both = sqCorpus.select(col("vec_id"),
        Similarity.pqCode(col("embedding"), books).as("n"),
        Similarity.pqCodeHof(col("embedding"), books).as("h"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Byte](1) == r.getSeq[Byte](2),
        s"vec ${r.getLong(0)}: native ${r.getSeq[Byte](1)} != hof ${r.getSeq[Byte](2)}")
    }
    // ties must fall to the LOWEST code: duplicate codewords in a book
    val dup = Array(Array(Array(1.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0)))
    val t = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(Similarity.pqCode(col("embedding"), dup).as("c")).head()
    assert(t.getSeq[Byte](0) == Seq((-128).toByte))
  }

  test("pq/ivf bounded-sample training: cap >= n covers everything; cap < n trains on the smallest-id prefix") {
    val n = sqCorpus.count().toInt
    def flat(b: Array[Array[Array[Double]]]) = b.flatMap(_.flatMap(_.toSeq)).toSeq
    // equality up to distributed double-summation order: the sample is
    // hash-spread across partitions before the training aggregations,
    // so partial-sum merge order (not the sample CONTENT) may differ
    def close(a: Seq[Double], b: Seq[Double]): Boolean =
      a.size == b.size && a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-9 }
    // cap at/above the corpus: the full-corpus codebooks
    assert(close(flat(Similarity.pqTrain(sqCorpus, dim = 8, m = 2, ksub = 4,
        iters = 3, trainSample = n)),
      flat(Similarity.pqTrain(sqCorpus, dim = 8, m = 2, ksub = 4,
        iters = 3, trainSample = 1 << 16))))
    // cap below the corpus: trains on the min(n, S) smallest-id prefix —
    // same books as training on the truncated corpus
    val half = n / 2
    assert(close(flat(Similarity.pqTrain(sqCorpus, dim = 8, m = 2, ksub = 4,
        iters = 3, trainSample = half)),
      flat(Similarity.pqTrain(sqCorpus.where(col("vec_id") < half),
        dim = 8, m = 2, ksub = 4, iters = 3, trainSample = 1 << 16))))
    // same contract for the coarse quantizer
    def cflat(c: Array[Array[Double]]) = c.flatMap(_.toSeq).toSeq
    assert(close(cflat(Similarity.ivfCentroids(sqCorpus, 8, k = 3, iters = 3,
        trainSample = half)),
      cflat(Similarity.ivfCentroids(sqCorpus.where(col("vec_id") < half),
        8, k = 3, iters = 3))))
    // iters = 0 ignores the cap entirely (init = ksub smallest ids,
    // collected in id order — byte-deterministic, the oracle path)
    assert(flat(Similarity.pqTrain(sqCorpus, dim = 8, m = 2, ksub = 4,
        iters = 0, trainSample = 4)) ==
      flat(Similarity.pqTrain(sqCorpus, dim = 8, m = 2, ksub = 4,
        iters = 0)))
  }

  test("pq persisted index: indexed == in-memory; codes-only candidate scan; pushed id filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    Similarity.pqBuild(sqCorpus, dir, dim = 8, m = 2, ksub = 4, iters = 2)
    val qs = sqCorpus.where(col("vec_id") < 4)
      .withColumnRenamed("vec_id", "query_id")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toMap
    val mem = key(Similarity.pqTopK(qs, sqCorpus, k = 10, rerank = 12,
      dim = 8, m = 2, ksub = 4, iters = 2))
    val idxDf = Similarity.pqTopKIndexed(spark, dir, qs, k = 10, rerank = 12)
    assert(key(idxDf) == mem)
    // the m-byte contract: the candidate pass's only file scan reads
    // (vec_id, codes) — the float vectors are column-pruned away
    val candPlan = Similarity.pqIndexedCandidates(spark, dir,
      qs.select(col("query_id"), col("embedding").as("__qv")), rerank = 12)
      .queryExecution.executedPlan.toString
    val candScans = candPlan.split("\n").filter(_.contains("ReadSchema"))
    assert(candScans.nonEmpty && candScans.forall(l =>
      l.contains("codes") && !l.contains("embedding")),
      s"candidate scan not codes-only:\n$candPlan")
    // the re-rank reads `embedding` through a pushed-down id filter
    val plan = idxDf.queryExecution.executedPlan.toString
    val rerankScan = plan.split("\n").filter(l =>
      l.contains("ReadSchema") && l.contains("embedding"))
    assert(rerankScan.exists(_.contains("In(vec_id")),
      s"candidate id filter not pushed to the embedding scan:\n$plan")
    // crash discipline: an index without its codebook commit file refuses
    graft.index.MetaIO.deleteIfExists(s"$dir/${Similarity.PqBookName}")
    intercept[IllegalArgumentException] {
      Similarity.pqTopKIndexed(spark, dir, qs, k = 5, rerank = 5)
    }
  }

  test("ivf-pq: nprobe=K + full rerank degrades to brute force; probed-dir + codes-only scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    Similarity.ivfPqBuild(sqCorpus, dir, dim = 8, kClusters = 4, m = 2,
      ksub = 4, iters = 2)
    val qs = sqCorpus.where(col("vec_id") < 4)
      .withColumnRenamed("vec_id", "query_id")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toMap
    // both quantizers wide open → exact brute-force ranking
    val brute = key(Similarity.bruteForceTopK(qs, sqCorpus, k = 10))
    val full = key(Similarity.ivfPqTopKIndexed(spark, dir, qs, k = 10,
      nprobe = 4, rerank = 40))
    assert(full == brute)
    // layout-level pruning: one query at nprobe=1 reads exactly one
    // cluster directory (candidates AND re-rank)
    val one = Similarity.ivfPqTopKIndexed(spark, dir,
      sqCorpus.where(col("vec_id") === 0).withColumnRenamed("vec_id", "query_id"),
      k = 5, nprobe = 1, rerank = 10)
    val read = one.inputFiles.flatMap(f =>
      "cluster=(\\d+)".r.findFirstMatchIn(f).map(_.group(1))).toSet
    assert(read.size == 1, s"expected 1 probed cluster dir, read $read")
    // the m-byte contract: the candidate pass never reads `embedding`
    val books = Similarity.readPqBooks(dir)
    val probes = {
      val sp = spark
      import sp.implicits._
      Seq((0L, 0), (0L, 1)).toDF("query_id", "cluster")
    }
    val candPlan = Similarity.ivfPqCandidates(spark, dir,
      Seq(s"$dir/lists/cluster=0", s"$dir/lists/cluster=1"),
      qs.where(col("query_id") === 0)
        .select(col("query_id"), col("embedding").as("__qv")),
      probes, rerank = 10, books)
      .queryExecution.executedPlan.toString
    val candScans = candPlan.split("\n").filter(_.contains("ReadSchema"))
    assert(candScans.nonEmpty && candScans.forall(l =>
      l.contains("codes") && !l.contains("embedding")),
      s"candidate scan not codes-only:\n$candPlan")
    // re-rank reads `embedding` through a pushed-down id filter
    val plan = Similarity.ivfPqTopKIndexed(spark, dir, qs, k = 5,
      nprobe = 2, rerank = 10).queryExecution.executedPlan.toString
    assert(plan.split("\n").exists(l => l.contains("ReadSchema") &&
      l.contains("embedding") && l.contains("In(vec_id")),
      s"candidate id filter not pushed to the embedding scan:\n$plan")
    // crash discipline: missing codebook commit marker refuses
    graft.index.MetaIO.deleteIfExists(s"$dir/${Similarity.PqBookName}")
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKIndexed(spark, dir, qs, k = 5, nprobe = 1, rerank = 5)
    }
  }

  test("quality LR: separates separable data, deterministic across runs, iters=0 is the 0.5 prior") {
    val sp = spark
    import sp.implicits._
    // separable by construction: "good" docs are long with stopwords,
    // "bad" docs are short stopword-free noise
    val docs = ((0 until 30).map { i =>
      val body = (s"the quick brown fox of item$i is in a field and " *
        (4 + i % 5)) + ("plain word " * (i % 7)) +
        "that it runs to the end as planned"
      (i.toLong, body, 1.0)
    } ++ (30 until 60).map { i =>
      (i.toLong, ("noise " * (i % 4)) + s"x$i y$i", 0.0)
    }).toDF("doc_id", "text", "y")
    val beta = TextPipeline.qualityLrTrain(docs, "text", "y", iters = 2)
    val scored = docs.select(col("y"),
        TextPipeline.qualityLrScore(col("text"), beta).as("p"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    // every good doc scores above every bad doc
    val goodMin = scored.filter(_._1 == 1.0).map(_._2).min
    val badMax = scored.filter(_._1 == 0.0).map(_._2).max
    assert(goodMin > badMax,
      s"classifier failed to separate: good min $goodMin <= bad max $badMax")
    // training is deterministic: identical beta across runs
    val beta2 = TextPipeline.qualityLrTrain(docs, "text", "y", iters = 2)
    assert(beta.toSeq == beta2.toSeq)
    // iters = 0: the untrained model is the 0.5 prior everywhere
    val b0 = TextPipeline.qualityLrTrain(docs, "text", "y", iters = 0)
    assert(b0.toSeq == Seq(0.0, 0.0, 0.0))
    val p0 = docs.select(TextPipeline.qualityLrScore(col("text"), b0).as("p"))
      .collect().map(_.getDouble(0))
    assert(p0.forall(_ == 0.5))
  }

  test("vocabStats: exact per-group distinct terms; HLL sketch lands in envelope") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      ("a", "Spark spark TABLES join"), // 3 distinct: spark, tables, join
      ("a", "spark merges runs"), // +2: merges, runs
      ("b", "one two three"), ("b", "two three four")
    ).toDF("source", "text")
    val out = TextPipeline.vocabStats(docs, "source", "text", rsd = 0.01)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_terms"), r.getAs[Long]("n_terms_approx"))).toMap
    assert(out("a")._1 == 5L && out("b")._1 == 4L)
    out.values.foreach { case (exact, approx) =>
      assert(math.abs(approx - exact) <= math.max(1L, (exact * 0.05).toLong),
        s"sketch $approx vs exact $exact")
    }
  }

  // ------------------------------------------------------------------
  // Decontamination + stratified sampling
  // ------------------------------------------------------------------

  test("decontamination flags train docs sharing an n-gram with eval, counts distinct shingles") {
    val sp = spark
    import sp.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // shares 5-gram run with eval 101
      (2L, "one two three four five six seven"), // clean
      (3L, "alpha beta gamma delta epsilon zeta eta"), // shares two 5-grams
      (4L, "short text") // < n tokens → whole-text shingle, no overlap
    ).toDF("doc_id", "text")
    val eval = Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta theta"),
      (102L, "unrelated evaluation prompt entirely")
    ).toDF("doc_id", "text")
    val out = TextPipeline.decontaminateAgainst(train, eval, n = 5)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_shared"), r.getAs[Boolean]("contaminated"))).toMap
    // doc 1: 6 tokens → 2 distinct 5-grams, both inside eval 101's stream
    assert(out(1L) == (2L, true))
    assert(out(2L) == (0L, false))
    // doc 3: 7 tokens → 3 distinct 5-grams, all inside eval 101's stream
    assert(out(3L) == (3L, true))
    assert(out(4L) == (0L, false))
  }

  test("oov rate: frequency-ranked vocab cutoff, multiplicity counted, empty docs 0") {
    val sp = spark
    import sp.implicits._
    // corpus counts: aa×5, bb×4, cc×2, dd×1 → top-2 vocab = {aa, bb}
    val corpus = Seq(
      (1L, "aa aa bb cc"),
      (2L, "aa bb bb dd"),
      (3L, "aa aa bb cc aa"), // 1 OOV of 5
      (4L, ""),
      (5L, "bb")
    ).toDF("doc_id", "text")
    val out = TextPipeline.oovRate(corpus, "doc_id", "text", v = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Double]("oov_frac"))).toMap
    assert(out(1L) == (4L, 1L, 0.25))
    assert(out(2L) == (4L, 1L, 0.25))
    assert(out(3L) == (5L, 1L, 0.2))
    assert(out(4L) == (0L, 0L, 0.0)) // token-free doc present, scores 0
    assert(out(5L) == (1L, 0L, 0.0))
    // the cutoff moves deterministically: v=3 admits cc (count 2) but
    // still excludes dd (count 1)
    val out3 = TextPipeline.oovRate(corpus, "doc_id", "text", v = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_oov")).toMap
    assert(out3(1L) == 0L && out3(2L) == 1L)
  }

  test("stratified sampling: deterministic, threshold-exact, strata-salted") {
    val sp = spark
    import sp.implicits._
    val rows = (0 until 200).map { i =>
      (i.toLong, s"src${i % 4}", s"document number $i with some body text")
    }.toDF("doc_id", "source", "text")
    val kept = TextPipeline.stratifiedSample(rows, "source",
      Map("src0" -> 0, "src1" -> 256), defaultThreshold = 128)
    val bySrc = kept.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!bySrc.contains("src0")) // threshold 0 drops the stratum
    assert(bySrc("src1") == 50L) // threshold 256 keeps every row
    // default threshold: a genuine subsample, not all-or-nothing
    assert(bySrc.get("src2").forall(n => n > 0 && n < 50))
    // deterministic: a second run keeps the identical set
    val ids1 = kept.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val ids2 = TextPipeline.stratifiedSample(rows, "source",
      Map("src0" -> 0, "src1" -> 256), defaultThreshold = 128)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // strata-salting: the same TEXT under different sources draws
    // different buckets (so per-source rates are independent)
    val sameText = Seq((1L, "a", "identical body"), (2L, "b", "identical body"))
      .toDF("doc_id", "source", "text")
    val buckets = sameText.select(
      TextPipeline.sampleBucket(col("source"), col("text")).as("b"))
      .collect().map(_.getInt(0)).toSet
    assert(buckets.size == 2)
  }

  test("chunkTokens: overlapping windows, short tail, empty docs emit none") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // 10 tokens
      (2L, ""), // token-free → no chunks
      (3L, "x y") // shorter than one chunk → single short chunk
    ).toDF("doc_id", "text")
    val out = TextPipeline.chunkTokens(docs, "doc_id", "text",
        chunkSize = 4, stride = 3)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("chunk_id")) ->
        (r.getAs[Long]("start"), r.getAs[Long]("n_tokens"),
          r.getAs[String]("chunk_text"))).toMap
    // starts 0,3,6,9; the window at 9 is a 1-token tail
    assert(out((1L, 0L)) == (0L, 4L, "t0 t1 t2 t3"))
    assert(out((1L, 1L)) == (3L, 4L, "t3 t4 t5 t6"))
    assert(out((1L, 2L)) == (6L, 4L, "t6 t7 t8 t9"))
    assert(out((1L, 3L)) == (9L, 1L, "t9"))
    assert(!out.keySet.exists(_._1 == 2L))
    assert(out((3L, 0L)) == (0L, 2L, "x y"))
    // stride == chunkSize ⇒ disjoint cover: every token exactly once
    val disjoint = TextPipeline.chunkTokens(docs, "doc_id", "text",
        chunkSize = 3, stride = 3)
      .where(col("id") === 1L).orderBy(col("chunk_id"))
      .collect().map(_.getAs[String]("chunk_text")).mkString(" ")
    assert(disjoint == "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")
  }

  test("unigram NLL: corpus-frequency model, hand-computed, empty docs 0") {
    val sp = spark
    import sp.implicits._
    // corpus counts: aa=3, bb=1, cc=1 → total 5
    val docs = Seq(
      (1L, "aa aa bb"), (2L, "aa cc"), (3L, "")
    ).toDF("doc_id", "text")
    val out = TextPipeline.unigramNll(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("avg_nll"))).toMap
    // ln(5) - (2·ln3 + ln1)/3 = 0.877030 ; ln(5) - ln3/2 = 1.060132
    assert(out(1L) == (3L, 0.877030))
    assert(out(2L) == (2L, 1.060132))
    assert(out(3L) == (0L, 0.0))
    // rarer tokens ⇒ strictly higher surprise
    assert(out(2L)._2 > out(1L)._2)
  }

  test("collocations: hand-computed PMI, minCount prunes, narrow bigram extraction") {
    val sp = spark
    import sp.implicits._
    // doc1 tokens a b a b (bigrams ab, ba, ab), doc2 b a (bigram ba),
    // doc3 empty → T=6, B=4, c_a=3, c_b=3, cnt(ab)=2, cnt(ba)=2
    val docs = Seq((1L, "a b a b"), (2L, "b a"), (3L, ""))
      .toDF("doc_id", "text")
    val out = TextPipeline.collocations(docs, "text", minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("cnt"), r.getAs[Double]("pmi"))).toMap
    // pmi = ln((2/4) / ((3/6)(3/6))) = ln 2 for both pairs
    assert(out.keySet == Set(("a", "b"), ("b", "a")))
    assert(out(("a", "b"))._1 == 2L && out(("b", "a"))._1 == 2L)
    assert(math.abs(out(("a", "b"))._2 - math.log(2)) < 1e-12)
    assert(math.abs(out(("b", "a"))._2 - math.log(2)) < 1e-12)
    // minCount prunes the low-frequency tail before the joins
    val pruned = TextPipeline.collocations(docs, "text", minCount = 3L)
    assert(pruned.count() == 0)
    // bigram extraction is narrow: no exchange below the pair count agg
    val plan = TextPipeline.collocations(docs, "text", 1L)
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("window"),
      s"bigram pairing must not need a window/exchange:\n$plan")
  }

  test("cooccurrence: ±window directed counts, hand-computed, window clamps") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "x y z"), (2L, "x"), (3L, "")).toDF("doc_id", "text")
    def counts(w: Int): Map[(String, String), Long] =
      TextPipeline.cooccurrence(docs, "text", window = w)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          r.getAs[Long]("cnt")).toMap
    // window 1: adjacent pairs only, both directions
    assert(counts(1) == Map(("x", "y") -> 1L, ("y", "x") -> 1L,
      ("y", "z") -> 1L, ("z", "y") -> 1L))
    // window 2 adds the (x,z) pair; window 5 clamps at doc length
    val w2 = counts(1) ++ Map(("x", "z") -> 1L, ("z", "x") -> 1L)
    assert(counts(2) == w2)
    assert(counts(5) == w2)
    // repeated terms accumulate: "a b a" has (a,a) at distance 2
    val rep = Seq((1L, "a b a")).toDF("doc_id", "text")
    val c = TextPipeline.cooccurrence(rep, "text", window = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("cnt")).toMap
    assert(c == Map(("a", "b") -> 2L, ("b", "a") -> 2L, ("a", "a") -> 2L))
  }

  test("minhashLshAgainst: new-vs-corpus near-dups, direction fixed, exact verify") {
    val sp = spark
    import sp.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq(
      (1L, base),
      (2L, "completely different content about spark dataframes here"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (10L, base), // exact dup of corpus doc 1
      (11L, "unrelated new arrival text nothing shared with anyone here"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashLshAgainst(fresh, corpus, "doc_id", "text",
        n = 3, numHashes = 8, bands = 4, minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getAs[Double]("jaccard")).toMap
    // identical text collides in every band and verifies at 1.0; the
    // direction is (new, corpus) — never (corpus, new)
    assert(out == Map((10L, 1L) -> 1.0))
  }

  test("capPerGroup: exact vs single window, skew-proof phases, keep-best") {
    val sp = spark
    import sp.implicits._
    val rows = ((1 to 100).map(i => (i.toLong, "big", i % 7 + 0.1)) ++
      (101 to 103).map(i => (i.toLong, "tiny", 1.0)))
      .toDF("doc_id", "domain", "quality")
    val order = Seq(md5(concat(col("domain"), col("doc_id"))), col("doc_id"))
    val capped = TextPipeline.capPerGroup(rows, "domain", "doc_id", order,
      n = 5, salts = 4)
    // naive single-window reference
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain")).orderBy(order: _*)
    val naive = rows.withColumn("r", row_number().over(w))
      .where(col("r") <= 5).drop("r")
    assert(capped.collect().map(_.getLong(0)).sorted.toSeq ==
      naive.collect().map(_.getLong(0)).sorted.toSeq)
    val bySize = capped.groupBy(col("domain")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySize == Map("big" -> 5L, "tiny" -> 3L)) // under-cap group intact
    // schema passes through unchanged
    assert(capped.columns.toSeq == rows.columns.toSeq)
    // keep-best: quality-desc order keeps the max-quality rows
    val best = TextPipeline.capPerGroup(rows, "domain", "doc_id",
        Seq(col("quality").desc, col("doc_id")), n = 3, salts = 4)
      .where(col("domain") === "big")
      .collect().map(_.getDouble(2)).toSeq
    assert(best.forall(_ > 6.0), s"keep-best picked $best")
  }

  test("mixThresholds realizes the target mix; rebalanceToMix applies it deterministically") {
    val sp = spark
    import sp.implicits._
    // 400 src0, 100 src1, 50 src2 docs; target mix 50/25/25.
    // T = min(400/.5, 100/.25, 50/.25) = 200 (src2 binds):
    //   src0 floor(256·.5·200/400)=64, src1 floor(256·.25·200/100)=128,
    //   src2 256 (keeps all)
    val rows = (1 to 550).map { i =>
      val s = if (i <= 400) "src0" else if (i <= 500) "src1" else "src2"
      (i.toLong, s, s"document number $i content")
    }.toDF("doc_id", "source", "text")
    val shares = Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25)
    val th = TextPipeline.mixThresholds(rows, "source", shares)
    assert(th == Map("src0" -> 64, "src1" -> 128, "src2" -> 256))
    val kept = TextPipeline.rebalanceToMix(rows, "source", shares)
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // src2 (binding) keeps everything; the others down-sample by bucket
    assert(bySrc("src2") == 50L)
    assert(bySrc("src0") < 400L && bySrc("src1") < 100L)
    // deterministic: same input → same kept set
    val kept2 = TextPipeline.rebalanceToMix(rows, "source", shares)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet == kept2)
    // a source not in the target mix is dropped
    val th2 = TextPipeline.mixThresholds(rows, "source",
      Map("src1" -> 0.5, "src2" -> 0.5))
    assert(!th2.contains("src0"))
    assert(TextPipeline.rebalanceToMix(rows, "source",
      Map("src1" -> 0.5, "src2" -> 0.5))
      .where($"source" === "src0").count() == 0L)
  }

  test("selectToTokenBudget keeps the priority prefix; straddler dropped whole") {
    val sp = spark
    import sp.implicits._
    // quality desc, id asc; budget 100: docs q=9 (40 tok), q=8 (30),
    // q=7 (50 — would cross 100, dropped), q=6 (20 — also dropped: order
    // is strict priority, not best-fit)
    val rows = Seq(
      (1L, 40L, 9.0), (2L, 30L, 8.0), (3L, 50L, 7.0), (4L, 20L, 6.0)
    ).toDF("doc_id", "n_tokens", "quality")
    val out = TextPipeline.selectToTokenBudget(rows, "doc_id",
        col("n_tokens"), budget = 100L,
        priority = Seq(col("quality") -> false, col("doc_id") -> true))
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("cum_before"), r.getAs[Boolean]("keep"))).toMap
    assert(out(1L) == ((0L, true)))
    assert(out(2L) == ((40L, true)))
    assert(out(3L) == ((70L, false))) // 70 + 50 > 100
    assert(out(4L) == ((120L, false))) // strict prefix: after the straddler
    // two-pass prefix sum == single global window at any partitioning
    val big = (1 to 500).map(i => (i.toLong, (i % 7 + 1).toLong,
      (i % 13).toDouble)).toDF("doc_id", "n_tokens", "quality")
    val twoPass = TextPipeline.selectToTokenBudget(big, "doc_id",
        col("n_tokens"), budget = 777L,
        priority = Seq(col("quality") -> false, col("doc_id") -> true),
        numPartitions = Some(7))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val oneWindow = big
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("cum_before"),
        (col("cum_before") + col("n_tokens") <= 777L).as("keep"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(twoPass == oneWindow)
  }

  test("bpeTrain learns the classic merge sequence; bpeSegment applies it greedily") {
    val sp = spark
    import sp.implicits._
    // Sennrich et al.'s worked example (sans </w>): low×5, lower×2,
    // newest×6, widest×3. Hand-derived merge sequence:
    //  1 (e,s)  9   (newest 6 + widest 3; ties (e,s)/(s,t) → lex min)
    //  2 (es,t) 9
    //  3 (l,o)  7   (ties (l,o)/(o,w) → lex min)
    //  4 (lo,w) 7
    //  5 (e,w)  6   (ties (n,e)/(e,w)/(w,est) → lex min)
    val corpus = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))
    ).toDF("doc_id", "text")
    val (merges, words) = TextPipeline.bpeTrain(corpus, "text", nMerges = 5,
      minCount = 1, checkpointEvery = 2)
    assert(merges.map(m => (m.step, m.lhs, m.rhs, m.count)) == Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "l", "o", 7L),
      (4, "lo", "w", 7L), (5, "e", "w", 6L)))
    val segs = TextPipeline.bpeSegment(words)
      .collect().map(r => r.getAs[String]("word") ->
        (r.getAs[Long]("cnt"), r.getAs[String]("seg"))).toMap
    assert(segs == Map(
      "low" -> ((5L, "low")), "lower" -> ((2L, "low e r")),
      "newest" -> ((6L, "n ew est")), "widest" -> ((3L, "w i d est"))))
    // minCount stops training before degenerate merges
    val (few, _) = TextPipeline.bpeTrain(corpus, "text", nMerges = 50,
      minCount = 8)
    assert(few.map(_.count).forall(_ >= 8) && few.size == 2)
    // greedy left-to-right: adjacent repeats consume left-first. Corpus
    // "aaaa"(=a·a·a·a chars): merge 1 = (a,a); applied, "aaaa" → aa aa,
    // "aaa" → aa a
    val (m2, w2) = TextPipeline.bpeTrain(
      Seq((1L, "aaaa aaa")).toDF("doc_id", "text"), "text", nMerges = 1,
      minCount = 1)
    assert(m2.head.lhs == "a" && m2.head.rhs == "a" && m2.head.count == 5L)
    val seg2 = TextPipeline.bpeSegment(w2)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(seg2 == Map("aaaa" -> "aa aa", "aaa" -> "aa a"))
  }

  test("duplicateSpans finds corpus-repeated token windows; dupSpanStats merges overlap") {
    val sp = spark
    import sp.implicits._
    val corpus = Seq(
      // docs 11/12 share the 5-token run "alpha beta gamma delta epsilon";
      // doc 11 additionally repeats "zeta eta theta" INSIDE itself
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota zeta eta theta"),
      (12L, "prefix words alpha beta gamma delta epsilon suffix tail"),
      (13L, "no shared content whatsoever in this document at all"),
      (14L, "tiny"), // shorter than any window
      (15L, "")
    ).toDF("doc_id", "text")
    val spans = TextPipeline.duplicateSpans(corpus, "doc_id", "text", w = 3)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("start"),
        r.getAs[String]("gram"), r.getAs[Long]("n_occurrences")))
    // the cross-doc 5-token run yields three shared 3-windows, each at
    // occurrence count 2; the within-doc repeat yields one more
    val crossGrams = spans.filter(_._1 == 12L).map(_._3).toSet
    assert(crossGrams == Set("alpha beta gamma", "beta gamma delta",
      "gamma delta epsilon"))
    assert(spans.filter(s => s._1 == 12L).forall(_._4 == 2L))
    val withinDoc = spans.filter(s => s._1 == 11L && s._3 == "zeta eta theta")
    assert(withinDoc.map(_._2).sorted.toSeq == Seq(5L, 9L)) // both positions
    assert(spans.forall(s => s._1 != 13L && s._1 != 14L && s._1 != 15L))

    val stats = TextPipeline.dupSpanStats(corpus, "doc_id", "text", w = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("dup_windows"),
          r.getAs[Long]("dup_tokens"), r.getAs[Double]("dup_frac"))).toMap
    // every doc gets a row, including span-free / short / empty ones
    assert(stats.keySet == Set(11L, 12L, 13L, 14L, 15L))
    assert(stats(13L) == ((9L, 0L, 0L, 0.0)))
    assert(stats(14L) == ((1L, 0L, 0L, 0.0)))
    assert(stats(15L) == ((0L, 0L, 0L, 0.0)))
    // doc 12: windows at starts 2,3,4 cover positions 2..6 → 5 tokens of 9
    assert(stats(12L) == ((9L, 3L, 5L, round7(5.0 / 9.0))))
    // doc 11: starts 0,1,2 (shared run) + 5,9 (self-repeat) → windows 5;
    // covered positions 0..4 ∪ 5..7 ∪ 9..11 = 11 of 12 (position 8 is not)
    assert(stats(11L) == ((12L, 5L, 11L, round7(11.0 / 12.0))))

    // the removal TRANSFORM: survivors reassembled in position order, all
    // occurrences dropped (symmetric removal), short/empty docs pass whole
    val cleaned = TextPipeline.removeDuplicateSpans(corpus, "doc_id", "text",
        w = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("kept_tokens"),
          r.getAs[String]("clean_text"))).toMap
    assert(cleaned.keySet == Set(11L, 12L, 13L, 14L, 15L))
    assert(cleaned(11L) == ((12L, 1L, "iota")))
    assert(cleaned(12L) == ((9L, 4L, "prefix words suffix tail")))
    assert(cleaned(13L) ==
      ((9L, 9L, "no shared content whatsoever in this document at all")))
    assert(cleaned(14L) == ((1L, 1L, "tiny")))
    assert(cleaned(15L) == ((0L, 0L, "")))
    // removal accounting ≡ the stats side by construction:
    // n_tokens − kept_tokens = dupSpanStats.dup_tokens, per document
    cleaned.foreach { case (id, (n, kept, _)) =>
      assert(n - kept == stats(id)._3, s"doc $id accounting")
    }
  }

  private def round7(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("metadata-only scan prunes the payload column (parquet ReadSchema)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-assets").toString
    Multimodal.syntheticAssets(docs, "doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    // a metadata-only aggregation must not read the heavy payload column
    val scanPlan = spark.read.parquet(dir)
      .groupBy(col("modality")).agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan.toString
    assert(scanPlan.contains("ReadSchema"))
    assert(!scanPlan.replaceAll("\\s", "").contains("payload"),
      s"payload column not pruned:\n$scanPlan")
  }

  test("shuffleAssign: deterministic permutation, seed-sensitive, dense per-shard ranks") {
    val many = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def runIt(seed: String) = TextPipeline.shuffleAssign(many, "doc_id", 8, seed)
      .select(col("doc_id"), col("shard"), col("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = runIt("s1")
    assert(runIt("s1") == a) // same seed → identical permutation
    assert(runIt("s2") != a) // different seed → different permutation
    // every doc exactly once; per-shard positions dense from 1
    assert(a.map(_._1) == (1L to 200L).toSet)
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3) == (1L to rows.size).toSet)
    }
    // shard is what the key arithmetic says (spot-check via the column fns)
    val chk = many.select(col("doc_id"),
        TextPipeline.shuffleShard(
          TextPipeline.shuffleKey("s1", col("doc_id")), 8).cast("long").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    a.foreach { case (id, sh, _) => assert(chk(id) == sh) }
  }

  test("writeShuffledShards: shard dirs sorted by key; union equals corpus; replayable") {
    val many = (1L to 100L).map(i => (i, s"content of $i")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-shuf").toString
    TextPipeline.writeShuffledShards(many, "doc_id", dir, 4, "s1")
    val back = spark.read.parquet(dir)
    assert(back.count() == 100)
    assert(back.select("doc_id").collect().map(_.getLong(0)).toSet ==
      (1L to 100L).toSet)
    // within each shard directory, file order is shuffle-key order
    val assign = TextPipeline.shuffleAssign(many, "doc_id", 4, "s1")
      .select(col("doc_id"), col("shard"), col("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (sh <- 0 until 4) {
      val stored = spark.read.parquet(s"$dir/shard=$sh")
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val expected = assign.filter(_._2 == sh).sortBy(_._3).map(_._1).toSeq
      assert(stored == expected, s"shard $sh order")
    }
  }

  test("snapshotDiff: op classification, null≠empty, unchanged rows vanish, dup keys refused") {
    import graft.pipeline.SnapshotOps
    val prev = Seq(
      ("k1", "t1", "same body"),            // unchanged → no row
      ("k2", "t2", "old body"),             // update (body)
      ("k3", "t3", "gone"),                 // delete
      ("k4", "t4-old", "same"),             // update (title only)
      ("k6", "t6", null.asInstanceOf[String]), // null → "" update
      ("k7", "t7", "")                      // "" → null update
    ).toDF("url", "title", "body")
    val next = Seq(
      ("k1", "t1", "same body"),
      ("k2", "t2", "new body"),
      ("k4", "t4-new", "same"),
      ("k5", "t5", "fresh"),                // insert
      ("k6", "t6", ""),
      ("k7", "t7", null.asInstanceOf[String])
    ).toDF("url", "title", "body")
    val diff = SnapshotOps.snapshotDiff(prev, next, "url", Seq("title", "body"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), Option(r.getString(2)), Option(r.getString(3)))).toMap
    assert(diff.keySet == Set("k2", "k3", "k4", "k5", "k6", "k7"))
    assert(diff("k2") == ("update", Some("t2"), Some("new body")))
    assert(diff("k3") == ("delete", None, None)) // payload nulled
    assert(diff("k4") == ("update", Some("t4-new"), Some("same")))
    assert(diff("k5") == ("insert", Some("t5"), Some("fresh")))
    assert(diff("k6") == ("update", Some("t6"), Some(""))) // null → ""
    assert(diff("k7") == ("update", Some("t7"), None))     // "" → null
    // the length-prefixed encoding is injective across column boundaries:
    // ("x", "vy") vs ("xv", "y") concatenate identically without it
    val pA = Seq(("k", "x", "vy")).toDF("url", "title", "body")
    val pB = Seq(("k", "xv", "y")).toDF("url", "title", "body")
    assert(SnapshotOps.snapshotDiff(pA, pB, "url", Seq("title", "body"))
      .collect().map(_.getString(1)).toSeq == Seq("update"))
    // one version per key per snapshot, loudly
    intercept[IllegalArgumentException] {
      SnapshotOps.snapshotDiff(
        Seq(("k", "a", "b"), ("k", "c", "d")).toDF("url", "title", "body"),
        next, "url", Seq("title", "body"))
    }
  }

  test("latestSnapshot: newest version per key, deterministic ties, null ord loses") {
    import graft.pipeline.SnapshotOps
    val files = Seq(
      ("r1", "a.sc", Some(1L), "v1"),
      ("r1", "a.sc", Some(3L), "v3"), // winner
      ("r1", "a.sc", Some(2L), "v2"),
      ("r1", "b.sc", Some(5L), "only"),
      ("r2", "a.sc", Some(7L), "zz"), // tie on ord:
      ("r2", "a.sc", Some(7L), "aa"), //   payload struct breaks it → zz
      ("r3", "n.sc", None, "null-ord"), // null ord loses to any value
      ("r3", "n.sc", Some(0L), "real"),
      ("r4", "o.sc", None, "lone-null") // …but wins when alone
    ).toDF("repo", "path", "commit_ord", "content")
    val got = SnapshotOps.latestSnapshot(files, Seq("repo", "path"),
        "commit_ord")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (Option(r.get(2)).map(_.asInstanceOf[Long]), r.getString(3))).toMap
    assert(got.size == 5)
    assert(got(("r1", "a.sc")) == ((Some(3L), "v3")))
    assert(got(("r1", "b.sc")) == ((Some(5L), "only")))
    assert(got(("r2", "a.sc")) == ((Some(7L), "zz")))
    assert(got(("r3", "n.sc")) == ((Some(0L), "real")))
    assert(got(("r4", "o.sc")) == ((None, "lone-null")))
    // unknown ordering column refuses loudly
    intercept[IllegalArgumentException] {
      SnapshotOps.latestSnapshot(files, Seq("repo"), "nope")
    }
  }

  test("noveltyRate: copies score 0, originals 1, partial copies in between") {
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val b = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, a), // original → all shingles first here
      (2L, a), // exact copy → nothing novel
      (3L, a + " " + b), // half novel: a-shingles seen, b-shingles + seam new
      (4L, "entirely fresh content never repeated anywhere")
    ).toDF("doc_id", "text")
    val got = TextPipeline.noveltyRate(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L)._3 == 1.0)
    assert(got(2L) == ((got(1L)._1, 0L, 0.0)))
    assert(got(3L)._3 > 0.0 && got(3L)._3 < 1.0)
    assert(got(4L)._3 == 1.0)
  }

  test("selectTopQuantile keeps scores at/above the exact threshold, ties included") {
    val docs = (1L to 10L).map(i => (i, (i % 5).toDouble))
      .toDF("doc_id", "score") // scores 0,1,2,3,4 twice each
    // frac 0.2 → threshold = 0.8-quantile of (0..4 ×2) = 3.2 → keep score 4
    val top = TextPipeline.selectTopQuantile(docs, "score", 0.2)
      .collect().map(_.getLong(0)).toSet
    assert(top == Set(4L, 9L))
    // threshold landing ON a value keeps ALL its ties: frac 0.5 →
    // 0.5-quantile of the ten scores = 2.0 → six rows (2,3,4 ×2)
    val half = TextPipeline.selectTopQuantile(docs, "score", 0.5)
    assert(half.count() == 6)
    // frac 1.0 is the identity
    assert(TextPipeline.selectTopQuantile(docs, "score", 1.0).count() == 10)
    intercept[IllegalArgumentException] {
      TextPipeline.selectTopQuantile(docs, "score", 0.0)
    }
    // no threshold exists on an empty or all-null-score input → empty
    // result (not an NPE from the null percentile aggregate)
    assert(TextPipeline.selectTopQuantile(docs.limit(0), "score", 0.2)
      .count() == 0)
    val nulls = docs.withColumn("score", lit(null).cast("double"))
    assert(TextPipeline.selectTopQuantile(nulls, "score", 0.2).count() == 0)
  }

  test("meanPoolEmbeddings: hand-computed means, dimension order, partition-proof") {
    val chunks = Seq(
      ("d1", Seq(1.0f, 2.0f, 30.0f)),
      ("d1", Seq(3.0f, 2.0f, 10.0f)),
      ("d2", Seq(5.0f, 0.0f, 1.0f))
    ).toDF("key", "vec").repartition(7) // scramble partitioning
    val got = Similarity.meanPoolEmbeddings(chunks, "key", "vec")
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(got("d1") == Seq(2.0, 2.0, 20.0))
    assert(got("d2") == Seq(5.0, 0.0, 1.0))
  }

  test("winnowPairs finds planted clone passages; boilerplate prune; exact dup overlap 1.0") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, "unique one " + passage + " trailing words here"),
      (2L, "other prefix text " + passage + " different tail entirely"),
      (3L, "completely unrelated content with no overlap at all whatsoever"),
      (4L, "more unrelated words that never match anything else anywhere")
    ).toDF("doc_id", "text")
    val got = Dedup.winnowPairs(docs, "doc_id", "text", n = 3, w = 4,
        minShared = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.map(t => (t._1, t._2)).toSet == Set((1L, 2L)))
    assert(got.head._3 >= 2L && got.head._4 > 0.0 && got.head._4 <= 1.0)
    // exact duplicates share every fingerprint → overlap exactly 1.0
    val dups = Seq((1L, passage + " " + passage), (2L, passage + " " + passage))
      .toDF("doc_id", "text")
    val d = Dedup.winnowPairs(dups, "doc_id", "text", n = 3, w = 4,
      minShared = 1L).head()
    assert(d.getDouble(3) == 1.0)
    // a hash present in more docs than maxHashDf carries no clone signal:
    // five copies of one text, cap 4 → every hash pruned → no pairs
    val boiler = (1L to 5L).map(i => (i, "common header " + passage))
      .toDF("doc_id", "text")
    assert(Dedup.winnowPairs(boiler, "doc_id", "text", n = 3, w = 4,
      minShared = 1L, maxHashDf = 4).count() == 0)
    assert(Dedup.winnowPairs(boiler, "doc_id", "text", n = 3, w = 4,
      minShared = 1L, maxHashDf = 5).count() == 10) // all C(5,2) pairs
  }

  test("winnow ≡ driver-side reference incl. rightmost-tie and short docs") {
    // driver-side reference: the SIGMOD'03 algorithm as plain loops
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(
        s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def ref(text: String, n: Int, w: Int): Set[(Long, String)] = {
      val toks = graft.analysis.Analyzer.tokenize(text)
      val sh = if (toks.size < n) Seq(toks.mkString(" "))
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      val hs = sh.map(md5hex)
      val starts = 1 to math.max(hs.size - (w - 1), 1)
      starts.map { j =>
        val win = hs.slice(j - 1, j - 1 + w)
        val mn = win.min
        val off = win.lastIndexOf(mn) // rightmost minimal
        ((j + off).toLong, mn)
      }.toSet
    }
    val texts = Seq(
      1L -> base,
      2L -> "x y x y x y x y", // duplicate shingles → hash ties in-window
      3L -> "a b c", // fewer shingles than w
      4L -> "one two", // fewer tokens than n → single whole-text shingle
      5L -> "")
    val df = texts.toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        explode(TextPipeline.winnow(col("text"), 2, 4)).as("f"))
      .select(col("doc_id"), col("f.pos"), col("f.hash"))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getString(2))).toSet)
      .toMap
    for ((id, t) <- texts)
      assert(got(id) == ref(t, 2, 4), s"doc $id")
    // guarantee: two docs sharing a ≥ w+n−1-token run share a fingerprint
    val shared = "alpha beta gamma delta epsilon" // 5 tokens = w+n−1
    val a = ref("xx yy " + shared + " zz", 2, 4).map(_._2)
    val b = ref("qq " + shared + " rr ss tt", 2, 4).map(_._2)
    assert(a.intersect(b).nonEmpty)
  }
}
