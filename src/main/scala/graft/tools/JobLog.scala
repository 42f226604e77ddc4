package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The Spark jobs one block of driver code launches, each as the names
  * and task counts of its stages, and the metrics of the stages those
  * jobs completed — a listener scoped to a job group of its own.
  */
final class JobLog(spark: SparkSession) extends SparkListener {
  private val group = s"joblog-${java.util.UUID.randomUUID()}"
  private val fence = s"$group-fence"
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
  private val stageIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[JobLog.Stage]
  @volatile private var fenced = false

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
      case Some(`group`) =>
        e.stageIds.foreach(stageIds.add)
        jobs.add(e.stageInfos.map(s =>
          s"${s.name.takeWhile(_ != '\n')} (${s.numTasks} tasks)"))
      case Some(`fence`) => fenced = true
      case _ => ()
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    if (stageIds.contains(i.stageId)) done.add(JobLog.Stage(i.stageId,
      i.name.takeWhile(_ != '\n').take(40), i.numTasks,
      (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(-1L),
      i.taskMetrics.executorRunTime, i.taskMetrics.executorCpuTime / 1000000,
      i.taskMetrics.jvmGCTime))
  }

  /** Run `body` and return its value with the jobs it launched. */
  def record[T](body: => T): (T, Seq[Seq[String]]) = {
    val sc = spark.sparkContext
    jobs.clear()
    stageIds.clear()
    done.clear()
    fenced = false
    sc.addSparkListener(this)
    try {
      sc.setJobGroup(group, "JobLog")
      val out = try body finally sc.clearJobGroup()
      // listener events arrive asynchronously but in order: once a later
      // job of another group is seen, every job and completed stage of
      // `body` has been seen
      sc.setJobGroup(fence, "JobLog fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!fenced && System.nanoTime() < deadline) Thread.sleep(5)
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(this)
  }

  /** Run `body` and return its value with the stages its jobs completed,
    * in stage id order (skipped stages never complete).
    */
  def stages[T](body: => T): (T, Seq[JobLog.Stage]) = {
    val (out, _) = record(body)
    (out, done.asScala.toSeq.sortBy(_.id))
  }
}

object JobLog {
  /** One completed stage: wall time from submission to completion, and
    * the summed executor run, CPU and GC time of its tasks, all in ms.
    */
  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long,
      runMs: Long, cpuMs: Long, gcMs: Long)
}
