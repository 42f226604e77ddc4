package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic source-code corpus with the Iceberg-shaped
  * schema `(repo, path, commit, lang, content)` (BASELINE.json input_hint;
  * FIXTURES.md §3). No RNG objects — every value is a pure expression of
  * the row id and a fixed seed, so any two runs (and any cluster size)
  * produce byte-identical rows; generation itself is embarrassingly
  * parallel over `spark.range`.
  *
  * Content properties that matter for the engine:
  *   - identifiers `idN` drawn with a Zipfian-ish power-law rank so head
  *     terms exist (exercises the block-grid salting);
  *   - keyword pool + punctuation `(){};=.` so the `[^a-zA-Z0-9]+`
  *     analyzer does real splitting;
  *   - occasional digits and a non-ASCII token (`überprüfen`) pinning the
  *     ASCII-only tokenizer behavior;
  *   - word count varies per doc (30..157) so doc-length normalization
  *     is non-trivial.
  */
object CorpusGen {

  val Keywords: Seq[String] = Seq(
    "def", "val", "var", "class", "object", "import", "return", "if",
    "else", "while", "for", "match", "case", "new", "extends", "override",
    "private", "public", "static", "void", "int", "string", "func", "type",
    "struct", "interface", "package", "select", "from", "where", "group")

  val Langs: Seq[String] = Seq("java", "scala", "py", "go", "c")

  /** nDocs rows of SourceFile + a dense `docId` (= range id). */
  def generate(spark: SparkSession, nDocs: Long, nRepos: Int = 100,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.Column
    val kw = array(Keywords.map(lit): _*)
    val id = col("id")
    // per-(doc, position) deterministic pseudo-random stream
    def rnd(j: Column): Column = abs(xxhash64(lit(seed), id, j))
    val nWords = (rnd(lit(-1)) % 128 + 30).cast("int")
    def wordOf(j: Column): Column = {
      val r = rnd(j)
      val pick = r % 100
      // Zipf-ish identifier rank via inverse-power of a uniform in (0,1]:
      // rank = floor(u^{-0.8}) − 1 (heavy head at rank 0)
      val u = (r % 100000 + 1).cast("double") / 100000.0
      val zipfRank = (floor(pow(u, -0.8) - 1)).cast("long") % 50000
      when(pick < 45, element_at(kw, (r % Keywords.size).cast("int") + 1))
        .when(pick < 85, concat(lit("id"), zipfRank))
        .when(pick < 90, concat(element_at(kw, (r % Keywords.size).cast("int") + 1),
          lit("("), lit("id"), zipfRank, lit(");")))
        .when(pick < 95, (r % 100000).cast("string"))
        .when(pick < 97, lit("überprüfen"))
        .otherwise(concat(lit("x"), (r % 997).cast("string"), lit(" = {};")))
    }
    spark.range(nDocs)
      .withColumn("repo", concat(lit("repo-"), id % nRepos))
      .withColumn("lang", element_at(array(Langs.map(lit): _*),
        (id % Langs.size).cast("int") + 1))
      .withColumn("path", concat(lit("src/main/"), col("lang"), lit("/pkg"),
        id % 37, lit("/File"), id, lit("."), col("lang")))
      .withColumn("commit", substring(md5(concat(col("repo"), col("path"))), 1, 12))
      .withColumn("content",
        concat_ws(" ", transform(sequence(lit(0), nWords - 1), wordOf(_))))
      .select(id.as("docId"), col("repo"), col("path"), col("commit"),
        col("lang"), col("content"))
  }

  /** Writes the corpus + a sha256 manifest (the per-row identity anchor:
    * BASELINE.json `content sha256 equality`).
    * Usage: runMain graft.tools.CorpusGen <nDocs> <outDir>
    */
  def main(args: Array[String]): Unit = {
    val nDocs = args(0).toLong
    val outDir = args(1)
    val spark = graft.LocalSpark.session("graft-corpusgen", 32)
    val corpus = generate(spark, nDocs)
    corpus.write.mode("overwrite").parquet(s"$outDir/corpus.parquet")
    spark.read.parquet(s"$outDir/corpus.parquet")
      .select(col("docId"), sha2(col("content"), 256).as("contentSha"))
      .write.mode("overwrite").parquet(s"$outDir/manifest.parquet")
    println(s"""{"nDocs":$nDocs,"outDir":"$outDir"}""")
    spark.stop()
  }
}
