package perfbench

import org.apache.spark.sql.SparkSession

/** Scale of one run: the corpus, the closed-loop query phase's floor and
  * the upsert batch size. The query phase runs for `seconds`; every other
  * phase is fixed work.
  */
final case class Sizes(nDocs: Long, minQueries: Int, batchDocs: Int)

object Sizes {
  val full = Sizes(nDocs = 800, minQueries = 8, batchDocs = 200)
  val toy = Sizes(nDocs = 300, minQueries = 4, batchDocs = 20)
}

/** Shared state of one run: the session, the tracer, where files go, and
  * the tally of attempted, failed and wrong operations.
  */
final class Run(val spark: SparkSession, val trace: Trace, val inputs: Inputs,
    val sizes: Sizes, val seconds: Int, val cores: Int, val work: String) {

  val blockDir = s"$work/idx/block"
  val posDir = s"$work/idx/pos"
  val corpusDir = s"$work/corpus"

  private val opIds = new java.util.concurrent.atomic.AtomicLong(1)
  def nextOp(): Long = opIds.getAndIncrement()

  @volatile var attempted = 0L
  @volatile var failed = 0L
  @volatile var wrong = 0L

  /** One operation that ran to completion; `ok = false` marks a wrong answer. */
  def check(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; wrong += 1; note(s"WRONG: $what") }
  }

  /** One operation that could not complete (an exception, a non-200). */
  def fail(what: String): Unit = synchronized {
    attempted += 1; failed += 1; note(s"FAILED: $what")
  }

  def note(s: String): Unit = System.err.println(s"[perfbench] $s")

}

object Util {
  def now(): Long = System.nanoTime()
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Linear-interpolated quantile (the definition Python's
    * `statistics.quantiles(..., method="inclusive")` uses).
    */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Bytes of every regular file under `root`. */
  def dirBytes(root: String): Long = files(root).values.map(_._1).sum

  /** path → (size, mtime) of every regular file under `root`. */
  def files(root: String): Map[String, (Long, Long)] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(f => f.toString -> (java.nio.file.Files.size(f),
            java.nio.file.Files.getLastModifiedTime(f).toMillis)).toMap
      } finally s.close()
    }
  }

  /** Bytes of the files in `after` that are new or changed since `before`. */
  def writtenBytes(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): Long =
    after.collect { case (p, v @ (size, _)) if !before.get(p).contains(v) => size }.sum

  /** Peak resident set size of this process, from /proc (Linux). */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    }
  }
}
