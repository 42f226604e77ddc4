package graft.tools

import graft.index.BlockIndex
import graft.query.QueryEngine

/** Print the executed plan of a WAND BM25 query and the Spark jobs it
  * launched — for plan iteration and for checking which `bm25TopK` route
  * a query takes on any index dir:
  * `runMain graft.tools.ExplainQuery <indexDir> "<query>" [mode]`.
  * The query runs twice: the first call also opens the index epoch. With
  * a mode name (e.g. `Wildcard`, `Fuzzy`, `BM25`), it prints instead the
  * jobs of SERP page 1 in that mode, `QueryEngine.serpPage` over the
  * index's `BlockIndex.asBundle`, for a first and a second call.
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/graft-corpus2m/wand-idx"
    val q = if (args.length > 1) args(1) else "def val return"
    val mode = args.lift(2)
    val spark = graft.LocalSpark.session("graft-explain", 8)
    val log = new JobLog(spark)
    lazy val engine = new QueryEngine(BlockIndex.asBundle(spark, dir))
    for (call <- Seq("first", "second")) {
      val (df, jobs) = log.record {
        mode match {
          case Some(m) =>
            val (ids, total) = engine.serpPage(m, q, 1)
            println(s"=== $m page 1 ($call call): ${ids.mkString(", ")} of $total ===")
            None
          case None =>
            val df = BlockIndex.bm25TopK(spark, dir, q, 10)
            df.collect()
            Some(df)
        }
      }
      println(s"=== SPARK JOBS ($call call): ${jobs.size} ===")
      jobs.zipWithIndex.foreach { case (stages, i) =>
        println(s"job ${i + 1}: ${stages.mkString(" | ")}")
      }
      if (call == "second") df.foreach { df =>
        println("=== EXECUTED PLAN ===")
        println(df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
