package graft.tools

import graft.index.{BlockIndex, IndexBuilder}
import graft.query.QueryEngine
import org.apache.spark.sql.functions._

/** Large-corpus correctness validation (the "works at scale, not just on
  * 60k rows" check): builds the block index over the 2M-doc deterministic
  * corpus and asserts
  *
  *   1. conservation: Σ tf over decoded varbyte postings == total
  *      analyzer token count of the corpus (nothing lost/duplicated
  *      through salting, grouping, encoding, sharded writes);
  *   2. block invariants hold corpus-wide (row size ≤ blockSpan, docId
  *      grid alignment);
  *   3. manifest row totals == distinct (term, docId) pairs;
  *   4. block-max WAND top-20 is rank- AND score-identical to the naive
  *      logical-index BM25 for a set of mixed-frequency queries.
  *
  * Prints one JSON line; non-zero exit on any violation.
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val corpusDir = if (args.nonEmpty) args(0) else "/tmp/graft-corpus2m"
    val spark = graft.LocalSpark.session("graft-scalecheck", 32)

    val docs = Harness.titled(Harness.corpus(spark, corpusDir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = docs.count()

    val layout = BlockIndex.Layout(blockSpan = 65536, nShards = 16)
    val idxDir = java.nio.file.Files.createTempDirectory("graft-scalecheck").toString
    BlockIndex.build(docs, idxDir, layout)

    var failures = List.empty[String]
    def check(name: String)(ok: => Boolean): Unit =
      if (!ok) failures ::= name

    // 1. conservation
    val tokenTotal = IndexBuilder.tokenStream(docs)
      .agg(count(lit(1))).head().getLong(0)
    val blocks = BlockIndex.readBlocks(spark, idxDir)
    val tfTotal = BlockIndex.decodePostings(blocks)
      .agg(coalesce(sum(col("tf").cast("long")), lit(0L))).head().getLong(0)
    check(s"tf-conservation($tfTotal!=$tokenTotal)")(tfTotal == tokenTotal)

    // 2. block invariants
    val badBlocks = blocks.where(col("n") > layout.blockSpan ||
      floor(col("minDoc") / layout.blockSpan) =!= col("blockId") ||
      floor(col("maxDoc") / layout.blockSpan) =!= col("blockId") ||
      col("minDoc") > col("maxDoc")).count()
    check(s"block-invariants($badBlocks bad)")(badBlocks == 0)

    // 3. manifest totals
    val manifestRows = BlockIndex.readManifest(idxDir).map(_.rows).sum
    val postingRows = blocks.agg(sum(col("n").cast("long"))).head().getLong(0)
    check(s"manifest-rows($manifestRows!=$postingRows)")(manifestRows == postingRows)

    // 4. WAND == naive at 2M docs
    val engine = new QueryEngine(IndexBuilder.build(docs))
    val queries = Seq(
      "def select id0", // head identifiers + keywords
      "id49999 struct", // tail identifier
      "class class import", // duplicate tokens
      "berpr fen package", // the non-ASCII split artifacts
      "interface überprüfen 42")
    // Rank identity is asserted on the DISTINCT-SCORE prefix (SURVEY §2.5:
    // the reference's sort is unstable with unspecified tie order, and
    // float summation order across partitions makes exactly-tied scores
    // permute between the two engines); scores must agree position-wise.
    var rankChecked = 0
    for (q <- queries) {
      val naive = engine.bm25Query(q, Some(20)).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val wand = BlockIndex.bm25TopK(spark, idxDir, q, 20).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      // zip would silently truncate if WAND dropped qualifying docs
      check(s"wand-count('$q')")(wand.length == naive.length)
      check(s"wand-score('$q')")(
        wand.zip(naive).forall { case ((_, a), (_, b)) => math.abs(a - b) < 1e-9 })
      // the LAST fetched element may tie with the unfetched (k+1)-th
      // result, so it never belongs to the comparable prefix
      def distinctPrefix(xs: Array[(Long, Double)]): Seq[Long] = {
        val out = Seq.newBuilder[Long]
        var i = 0
        while (i + 1 < xs.length &&
          math.abs(xs(i)._2 - xs(i + 1)._2) > 1e-9) {
          out += xs(i)._1; i += 1
        }
        out.result()
      }
      check(s"wand-rank-distinct('$q')")(
        distinctPrefix(wand) == distinctPrefix(naive))
      rankChecked += naive.length
    }

    val status = if (failures.isEmpty) "PASS" else "FAIL"
    println(s"""{"status":"$status","n_docs":$nDocs,"token_total":$tokenTotal,"posting_rows":$postingRows,"blocks":${blocks.count()},"ranked_rows_checked":$rankChecked,"failures":${failures.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
