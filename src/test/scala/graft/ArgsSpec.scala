package graft

import graft.app.KgBuildMain.{hasSwitch, parseArgs}
import org.scalatest.funsuite.AnyFunSuite

/** CLI arg pairing — multi-token values (sbt re-splits the runMain line on
  * whitespace) must reassemble instead of shifting later flags off-pair.
  */
class ArgsSpec extends AnyFunSuite {
  test("simple --key value pairs") {
    assert(parseArgs(Array("--graph", "/tmp/kg", "--top-k", "3")) ==
      Map("graph" -> "/tmp/kg", "top-k" -> "3"))
  }

  test("multi-token value joins; following flags still parse") {
    assert(parseArgs(Array(
      "--graph", "/tmp/kg",
      "--question", "Who", "founded", "Acme", "Corp?",
      "--top-k", "3")) ==
      Map("graph" -> "/tmp/kg", "question" -> "Who founded Acme Corp?", "top-k" -> "3"))
  }

  test("valueless flags and stray leading tokens are dropped") {
    assert(parseArgs(Array("stray", "--verbose", "--out", "/tmp/x")) ==
      Map("out" -> "/tmp/x"))
  }

  test("bare --reset switch is read though parseArgs drops it") {
    for (args <- Seq(Array("--reset", "--out", "/tmp/x"), Array("--out", "/tmp/x", "--reset"))) {
      assert(parseArgs(args) == Map("out" -> "/tmp/x"))
      assert(hasSwitch(args, "reset"))
    }
    assert(!hasSwitch(Array("--out", "/tmp/reset"), "reset"))
  }
}
