package graft

import graft.app.KgBuildMain.{parseArgs, runLog}
import graft.model.RunConfig
import graft.qa.QaEvaluator.QaResult
import org.scalatest.funsuite.AnyFunSuite

/** CLI arg pairing — multi-token values (sbt re-splits the runMain line on
  * whitespace) must reassemble instead of shifting later flags off-pair —
  * and the run log KgBuildMain prints and writes.
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

  test("run log parses as JSON for a run key with a quote, backslash and newline") {
    val key = "kg\"1\\x\ny"
    val qa = QaResult("pass", Map("label:Chunk" -> 3L, "rel:HAS_CHUNK" -> 3L),
      Map("orphan_chunks" -> 0L), Map.empty, Nil)
    val log = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(runLog(RunConfig(runKey = key), qa))
    assert(log.get("run_key").asText == key)
    assert(log.get("status").asText == "pass")
    assert(log.get("git_commit").asText == "unknown")
    assert(log.get("counts").get("label:Chunk").asLong == 3L)
    assert(log.get("anomalies").get("orphan_chunks").asLong == 0L)
  }
}
