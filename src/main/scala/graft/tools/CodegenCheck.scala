package graft.tools

import org.apache.spark.sql.functions._

/** Asserts the custom expressions really run inside compiled codegen —
  * Spark silently falls back to interpreted eval when generated code
  * fails to compile, which would mask a doGenCode bug while still
  * producing correct results.
  */
object CodegenCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSpark.session("graft-codegen-check", 2)
    // fail loudly instead of falling back to interpreted eval
    spark.conf.set("spark.sql.codegen.fallback", "false")
    import spark.implicits._
    val docs = Seq((1L, "Title Here", "body text body"), (2L, null: String, "x y"))
      .toDF("docId", "title", "body")
    val dt = docs.select(col("docId"),
      graft.analysis.DocTermsExpr.column(col("title"), col("body")).as("dt"))
      .select(col("docId"), col("dt.dl"), explode(col("dt.terms")).as("p"))
    val n = dt.count()
    val plan = dt.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined,
      s"DocTermsExpr projection not in a whole-stage-codegen span:\n$plan")
    // decode side
    val bytes = graft.index.VarByte.encode(Seq(graft.index.VarByte.P(3, 2, 10)))
    val dec = Seq(Tuple1(bytes)).toDF("bytes")
      .select(explode(graft.index.VarByteDecodeExpr.decode(col("bytes"))))
    assert(dec.count() == 1)
    // native simhash (null text included — must fingerprint −1, compiled).
    // repartition first: a bare local relation would be constant-folded
    // into a LocalTableScan and never exercise doGenCode
    val sh = docs.repartition(2)
      .select(graft.analysis.SimHash64Expr.column(col("title")).as("sh"))
    assert(sh.where(col("sh") === -1L).count() == 1) // the null-title row
    sh.collect() // materialize AQE's final plan before inspecting it
    val shPlan = sh.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\)".r.findFirstIn(shPlan).isDefined,
      s"SimHash64Expr projection not in a whole-stage-codegen span:\n$shPlan")
    println(s"""{"codegen":"ok","rows":$n}""")
    spark.stop()
  }
}
