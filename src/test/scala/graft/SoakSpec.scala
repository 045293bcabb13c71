package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The measurement runner's shared behaviour: error rows, the step
  * filter and the `queries` row shape, written to a temp sink.
  */
class SoakSpec extends SparkSpec {

  private val json = new ObjectMapper()

  /** Runs `body` against a fresh temp sink; returns the parsed rows. */
  private def rows(only: Set[String] = Set.empty)(body: Soak.Run => Unit)
      : Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val sink = Files.createTempFile("graft-soak", ".jsonl")
    val repoSink = new java.io.File("soak_results.jsonl")
    val repoLen = repoSink.length()
    val run = new Soak.Run(spark, sink.toString, IndexedSeq.empty, only)
    try body(run) finally run.close()
    assert(repoSink.length() == repoLen, "the runner wrote the repo's jsonl")
    Files.readAllLines(sink).asScala.toSeq.map(json.readTree)
  }

  private def fields(n: com.fasterxml.jackson.databind.JsonNode): Set[String] =
    n.fieldNames().asScala.toSet

  test("a step that throws writes one error row and the next step runs") {
    var failures = -1
    val out = rows() { run =>
      run.step("a", Seq("metric" -> "t", "step" -> "a")) {
        throw new IllegalStateException("boom \"quoted\"\nsecond line")
      }
      run.step("b", Seq("metric" -> "t", "step" -> "b")) { Seq("v" -> 1) }
      failures = run.failures
    }
    assert(out.size == 2)
    assert(fields(out(0)) == Set("metric", "step", "error"))
    assert(out(0).get("error").asText == "boom  quoted  second line")
    assert(fields(out(1)) == Set("metric", "step", "v"))
    assert(out(1).get("v").asInt == 1)
    assert(failures == 1)
  }

  test("the step filter runs only the named steps") {
    var ran = Seq.empty[String]
    val out = rows(only = Set("b", "d")) { run =>
      for (s <- Seq("a", "b", "c", "d"))
        run.step(s, Seq("metric" -> "t", "step" -> s)) { ran :+= s; Nil }
    }
    assert(ran == Seq("b", "d"))
    assert(out.map(_.get("step").asText) == Seq("b", "d"))
  }

  test("queries rows carry the fields soak_report.py reads, and no others") {
    val out = rows() { run =>
      Soak.queryStep(run, 1, sf, "q1_pricing_summary")
      Soak.queryStep(run, 1, "/nonexistent/graft-soak-dir", "q1_pricing_summary")
    }
    assert(out.size == 2)
    assert(fields(out(0)) ==
      Set("metric", "scale", "query", "sec", "sec_cold", "quiet", "steal",
        "gc_s", "load1"))
    assert(out(0).get("metric").asText == "soak")
    assert(out(0).get("query").asText == "q1_pricing_summary")
    assert(out(0).get("sec").asDouble <= out(0).get("sec_cold").asDouble)
    assert(fields(out(1)) == Set("metric", "scale", "query", "error"))
  }
}
