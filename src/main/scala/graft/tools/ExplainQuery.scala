package graft.tools

import graft.index.BlockIndex
import graft.query.QueryEngine
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

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
    val dir = if (args.nonEmpty) args(0) else "/tmp/graft-idx2m"
    val q = if (args.length > 1) args(1) else "def val return"
    val mode = args.lift(2)
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
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

/** The Spark jobs one block of driver code launches, each as the names
  * and task counts of its stages — a listener scoped to a job group of its
  * own.
  */
final class JobLog(spark: SparkSession) extends SparkListener {
  private val group = s"joblog-${java.util.UUID.randomUUID()}"
  private val fence = s"$group-fence"
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
  @volatile private var fenced = false

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
      case Some(`group`) => jobs.add(e.stageInfos.map(s =>
        s"${s.name.takeWhile(_ != '\n')} (${s.numTasks} tasks)"))
      case Some(`fence`) => fenced = true
      case _ => ()
    }

  /** Run `body` and return its value with the jobs it launched. */
  def record[T](body: => T): (T, Seq[Seq[String]]) = {
    val sc = spark.sparkContext
    jobs.clear()
    fenced = false
    sc.addSparkListener(this)
    try {
      sc.setJobGroup(group, "JobLog")
      val out = try body finally sc.clearJobGroup()
      // listener events arrive asynchronously but in order: once a later
      // job of another group is seen, every job of `body` has been seen
      sc.setJobGroup(fence, "JobLog fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!fenced && System.nanoTime() < deadline) Thread.sleep(5)
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(this)
  }
}
