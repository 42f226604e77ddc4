package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** One timed call from the benchmark into a layer of the engine. `op` ties
  * together the spans of one user-level operation (a query, a request, a
  * batch); `parent` is the span that was open on the calling thread.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A Spark job and the summed task metrics of its stages. Times are
  * listener wall-clock milliseconds (the job's own start and end events).
  */
final case class JobRec(group: Option[String], startMs: Long, endMs: Long,
    stages: Int, tasks: Int, cpuNs: Long, gcMs: Long, inputBytes: Long,
    shuffleWriteBytes: Long)

/** Spark's cost attributed to a set of spans. */
final case class Cost(jobs: Int, stages: Int, tasks: Int, jobMs: Double,
    cpuS: Double, gcS: Double, inputMb: Double, shuffleWriteMb: Double)

/** The benchmark's tracer. Off, `span` only runs its body. On, every span
  * is kept in memory, calls made on the benchmark's own threads run under
  * a Spark job group naming their span, and a listener records each job
  * with its stages' task metrics. Jobs that carry no group were started by
  * a thread the benchmark does not own (the HTTP server's dispatcher);
  * [[Trace.attributeByWindow]] assigns those by time. Everything is
  * written out once, when the run ends.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace.StageAgg
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  private val jobStart = scala.collection.mutable.Map.empty[Int, (Option[String], Long, Seq[Int])]
  private val jobs = ArrayBuffer.empty[JobRec]
  private val stageAgg = scala.collection.mutable.Map.empty[Int, StageAgg]
  private val lock = new Object

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobStart(e.jobId) = (g, e.time, e.stageIds)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stageAgg(i.stageId) =
        if (m == null) StageAgg(0, 0, 0, 0, 0)
        else StageAgg(i.numTasks, m.executorCpuTime, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach { case (g, t0, stageIds) =>
        val ss = stageIds.flatMap(stageAgg.get) // skipped stages never complete
        jobs += JobRec(g, t0, e.time, ss.size, ss.map(_.tasks).sum,
          ss.map(_.cpuNs).sum, ss.map(_.gcMs).sum, ss.map(_.in).sum,
          ss.map(_.shW).sum)
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Runs `f` as a span named `name` under the span open on this thread. */
  def span[A](name: String, op: Long = 0L)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId.getAndIncrement()
      val stack = open.get
      val parent = stack.headOption.getOrElse(0L)
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        if (parent != 0L) sc.setJobGroup(s"span-$parent", "", interruptOnCancel = false)
        else sc.clearJobGroup()
        spans.synchronized { spans += Span(id, parent, op, name, t0, t1) }
      }
    }

  /** Records a span measured by the caller (a request timed on a client
    * thread whose Spark jobs run on the server's thread).
    */
  def record(name: String, op: Long, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.synchronized {
      spans += Span(nextId.getAndIncrement(), 0L, op, name, startNs, endNs)
    }

  /** Waits until every job the listener saw start has ended and been
    * delivered (the listener bus is asynchronous).
    */
  def drain(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 10000
    def pending = lock.synchronized(jobStart.nonEmpty)
    Thread.sleep(200)
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
  def allJobs: Seq[JobRec] = lock.synchronized(jobs.toList)

  // Span times are System.nanoTime; job times are epoch ms. One offset,
  // taken now, maps between them (both clocks advance at the same rate).
  private val epochMsAtNano0 = System.currentTimeMillis() - System.nanoTime() / 1000000
  def toEpochMs(ns: Long): Double = epochMsAtNano0 + ns / 1e6

  /** Jobs attributed to each span: by job group for spans opened with
    * [[span]], and — for jobs without a group — by [[attributeByWindow]]
    * over the spans named `windowName`.
    */
  def jobsBySpan(windowName: String): Map[Long, Seq[JobRec]] = {
    val byGroup = allJobs.groupBy(_.group)
    val direct = allSpans.map(s => s.id -> byGroup.getOrElse(Some(s"span-${s.id}"), Nil)).toMap
    val windows = allSpans.filter(_.name.startsWith(windowName))
    val byWindow = Trace.attributeByWindow(
      windows.map(s => (s.id, toEpochMs(s.startNs), toEpochMs(s.endNs))),
      byGroup.getOrElse(None, Nil))
    direct ++ byWindow.map { case (id, js) => id -> (direct.getOrElse(id, Nil) ++ js) }
  }

  /** Writes every span, with its self time, job count and driver-only
    * time, as one JSON object per line.
    */
  def write(path: String, jobsOf: Map[Long, Seq[JobRec]]): Unit = if (enabled) {
    val all = allSpans
    val children = all.groupBy(_.parent)
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      val self = s.ms - Trace.unionMs(children.getOrElse(s.id, Nil)
        .map(c => (c.startNs / 1e6, c.endNs / 1e6)))
      val js = jobsOf.getOrElse(s.id, Nil)
      val driverOnly = s.ms - Trace.unionMs(js.map(j => (j.startMs.toDouble, j.endMs.toDouble)))
      sb ++= f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        f""""start_ms":${s.startNs / 1e6}%.3f,"end_ms":${s.endNs / 1e6}%.3f,""" +
        f""""dur_ms":${s.ms}%.3f,"self_ms":$self%.3f,"jobs":${js.size},""" +
        f""""driver_only_ms":$driverOnly%.3f}""" + "\n"
    }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, sb.toString.getBytes("UTF-8"))
  }
}

object Trace {
  private final case class StageAgg(tasks: Int, cpuNs: Long, gcMs: Long,
      in: Long, shW: Long)

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Assigns each job to the window open at its start. When several
    * windows are open the earliest-started one wins: the server answers
    * requests one at a time, in arrival order, so the oldest outstanding
    * request is the one being worked on.
    */
  def attributeByWindow(windows: Seq[(Long, Double, Double)],
      jobs: Seq[JobRec]): Map[Long, Seq[JobRec]] =
    jobs.flatMap { j =>
      windows.filter { case (_, s, e) => s <= j.startMs && j.startMs <= e }
        .sortBy(_._2).headOption.map(w => w._1 -> j)
    }.groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2) }

  /** Cost of a set of jobs; `jobMs` is the union of their wall intervals. */
  def cost(js: Seq[JobRec]): Cost = Cost(js.size, js.map(_.stages).sum,
    js.map(_.tasks).sum, unionMs(js.map(j => (j.startMs.toDouble, j.endMs.toDouble))),
    js.map(_.cpuNs).sum / 1e9, js.map(_.gcMs).sum / 1e3,
    js.map(_.inputBytes).sum / 1e6, js.map(_.shuffleWriteBytes).sum / 1e6)
}
