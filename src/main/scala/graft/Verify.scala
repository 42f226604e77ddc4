package graft
import com.fasterxml.jackson.databind.JsonNode
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json (written before the first gate) for the DuckDB compare
  * and verify_status.json (gate → ok/failed and seconds, rewritten after
  * every gate). Gates run cheapest first by the seconds of the previous
  * run's verify_status.json. `graft.Verify <sfDir> <outDir> [gate,gate…]`. */
object Verify {

  /** The entries of the verify_status.json at `statusFile`, gate ->
    * {status, seconds}, in file order; none when the file is missing or
    * does not parse.
    */
  private[graft] def previousStatus(statusFile: Path): Seq[(String, JsonNode)] =
    try {
      Option(new com.fasterxml.jackson.databind.ObjectMapper().readTree(statusFile.toFile))
        .iterator.flatMap(_.properties().asScala).map(e => e.getKey -> e.getValue).toSeq
    } catch { case _: java.io.IOException => Nil }

  /** `names` cheapest first: ordered by the seconds each gate took in the
    * verify_status.json at `statusFile`, so a run cut short by a time
    * budget loses its slowest gates. Gates the file does not time go last,
    * in their given order; a missing file, or one that does not parse,
    * keeps the given order.
    */
  private[graft] def cheapestFirst(names: Seq[String], statusFile: Path): Seq[String] = {
    val seconds = previousStatus(statusFile).collect {
      case (gate, e) if e.path("seconds").isNumber => gate -> e.get("seconds").asDouble
    }.toMap
    val (timed, untimed) = names.partition(seconds.contains)
    timed.sortBy(seconds) ++ untimed
  }

  /** The entries of the verify_status.json at `statusFile` that this run
    * keeps: those of the `known` gates it does not `run`. A gate-list
    * replay into a sweep's directory thus keeps every other gate's time,
    * and the next sweep still runs them cheapest first.
    */
  private[graft] def carriedOver(statusFile: Path, known: Set[String],
      run: Set[String]): Seq[(String, String)] =
    previousStatus(statusFile).collect {
      case (gate, e) if known(gate) && !run(gate) => gate -> e.toString
    }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated gate names — local single-gate
    // replay (tools/compare_oracle.py); the driver passes exactly two
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = LocalSpark.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    val all = SparkEntry.queries
    val gates = all.filter(kv => keep(kv._1))
    val statusFile = Paths.get(s"$outDir/verify_status.json")
    val order = cheapestFirst(gates.keys.toSeq, statusFile)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // written whole to a temporary name and moved over the old file, so a
    // Verify killed at any point leaves a complete, parseable file
    def writeJson(name: String, entries: Iterable[String]): Unit = {
      val tmp = Paths.get(s"$outDir/.$name.tmp")
      Files.writeString(tmp, entries.mkString("{", ",", "}"))
      Files.move(tmp, Paths.get(s"$outDir/$name"), StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    }
    // the oracle SQL first: a sweep cut short still leaves a comparable
    // record for every gate it dumped
    writeJson("oracle_sql.json", SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" })
    // gate -> {status, seconds}, rewritten after every gate
    val status = scala.collection.mutable.LinkedHashMap.from(
      carriedOver(statusFile, all.keySet, gates.keySet))
    order.foreach { name =>
      val fn = gates(name)
      val t0 = System.nanoTime()
      val ok =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          true
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          false
        }
      val secs = (System.nanoTime() - t0) / 1e9
      // per-gate wall time on stderr: when a replay runs long, the
      // straggler gate is identifiable without a thread dump
      if (ok) System.err.println(f"[verify] $name ok in $secs%.1fs")
      status(name) = s"""{"status": "${if (ok) "ok" else "failed"}", "seconds": ${
        "%.3f".formatLocal(java.util.Locale.ROOT, secs)}}"""
      writeJson("verify_status.json", status.map { case (k, v) => s"${q(k)}: $v" })
    }
    spark.stop()
    // Forked JVM (build.sbt run/fork): hard-exit so a lingering
    // non-daemon thread can never hang the driver's correctness gate
    // after every output is already on disk (observed once: all dumps +
    // oracle_sql.json written, JVM idle >5 min before teardown).
    sys.exit(0)
  }
}
