package layerbench

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class FailureAccountingSpec extends AnyFunSuite {

  test("a pass that fails counts as a failure and contributes no time") {
    val work = Files.createTempDirectory("layerbench-work")
    val results = Files.createTempDirectory("layerbench-results")
    // pass 0 fails at once: the fastest possible "time" if it were kept
    val line =
      try Main.run(Main.Opts("flow_sweep", 5, seconds = 1, trace = false,
        work, results, "test", injectFail = Some(0)))
      finally Main.deleteTree(work)
    val json = new ObjectMapper()
    val r = json.readTree(line)
    assert(r.get("failed").asInt === 1)
    assert(r.get("attempted").asInt === 2)
    assert(!r.get("correct").asBoolean)

    val record = json.readTree(Files.readString(Files.list(results)
      .filter(_.toString.endsWith(".json")).findFirst().get()))
    val passes = record.get("passes")
    assert(!passes.get(0).get("ok").asBoolean)
    assert(passes.get(0).get("wall_s").isNull)
    assert(passes.get(1).get("ok").asBoolean)
    val wall = record.get("end_to_end").get("wall_s")
    assert(wall.get("samples").asInt === 1)
    assert(wall.get("value").asDouble === passes.get(1).get("wall_s").asDouble)
    assert(record.get("fail_ratio").asDouble === 0.5)
    Main.deleteTree(results)
  }
}
