package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Verify` runs its gates cheapest first by the previous run's
  * `verify_status.json`, and falls back to the given order.
  */
class VerifyOrderSpec extends AnyFunSuite {

  private val gates = Seq("q01", "q02", "q03", "q04", "q05")

  private def status(body: String): Path = {
    val f = Files.createTempDirectory("verify-order").resolve("verify_status.json")
    Files.writeString(f, body)
    f
  }

  test("a full record orders every gate by its seconds, ascending") {
    val f = status("""{"q01": {"status": "ok", "seconds": 9.5},
      |"q02": {"status": "failed", "seconds": 0.250},
      |"q03": {"status": "ok", "seconds": 3.0}, "q04": {"status": "ok", "seconds": 12},
      |"q05": {"status": "ok", "seconds": 3.0}}""".stripMargin)
    assert(Verify.cheapestFirst(gates, f) == Seq("q02", "q03", "q05", "q01", "q04"))
  }

  test("a partial record orders its gates first; the others follow in the given order") {
    val f = status("""{"q04": {"status": "ok", "seconds": 2.5}, "q02": {"status": "ok", "seconds": 1.0},
      |"q99": {"status": "ok", "seconds": 0.1}, "q03": {"status": "ok"}}""".stripMargin)
    assert(Verify.cheapestFirst(gates, f) == Seq("q02", "q04", "q01", "q03", "q05"))
  }

  test("a missing file or one that does not parse keeps the given order") {
    val missing = Files.createTempDirectory("verify-order").resolve("verify_status.json")
    assert(Verify.cheapestFirst(gates, missing) == gates)
    for (body <- Seq("""{"q04": {"status": "ok", "seconds": 2.5}, "q02": {"sta""",
        "", "not json", """["q01", "q02"]"""))
      assert(Verify.cheapestFirst(gates, status(body)) == gates, body)
  }

  test("a gate-list replay keeps the previous entries of the known gates it does not run") {
    val f = status("""{"q01": {"status": "ok", "seconds": 9.5},
      |"q02": {"status": "failed", "seconds": 0.25}, "q99": {"status": "ok", "seconds": 1},
      |"q03": {"status": "ok", "seconds": 3.0}}""".stripMargin)
    assert(Verify.carriedOver(f, gates.toSet, Set("q02")) == Seq(
      "q01" -> """{"status":"ok","seconds":9.5}""",
      "q03" -> """{"status":"ok","seconds":3.0}"""))
    assert(Verify.carriedOver(status("not json"), gates.toSet, Set("q02")).isEmpty)
  }
}
