package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.app.KgBuildMain
import graft.model.RunConfig
import graft.qa.QaEvaluator.QaResult
import org.scalatest.funsuite.AnyFunSuite

/** run_log.json is built by hand; user-supplied strings must not break it. */
class RunLogSpec extends AnyFunSuite {
  test("run log is valid JSON for a run key with quote, backslash and tab") {
    val key = "kg:\"quoted\"\\back\tslash"
    val qa = QaResult("pass", Map("chunks" -> 3L), Map("orphan_chunks" -> 0L), Map.empty, Nil)
    val log = new ObjectMapper().readTree(KgBuildMain.runLog(RunConfig(runKey = key), qa))
    assert(log.get("run_key").asText == key)
    assert(log.get("status").asText == "pass")
    assert(log.get("git_commit").asText == "unknown")
    assert(log.get("counts").get("chunks").asLong == 3L)
    assert(log.get("anomalies").get("orphan_chunks").asLong == 0L)
  }
}
