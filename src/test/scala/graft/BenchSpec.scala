package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a per-query error line with quotes, backslashes and a newline " +
      "parses back to the original text") {
    val msg = "bad \"quote\" in C:\\tmp\nsecond line\tand a tab"
    val line = Bench.queryLine("q01", Left(msg))
    assert(!line.contains("\n"), "one record per line")
    val node = new ObjectMapper().readTree(line)
    assert(node.path("err").asText() == msg)
    assert(node.path("sec").isNull)
    assert(new ObjectMapper().readTree(Bench.jsonString(msg)).asText() == msg)
  }

  test("a per-query timing line keeps its format") {
    assert(Bench.queryLine("q01", Right(1.23456)) ==
      """{"metric":"query","name":"q01","sec":1.235}""")
  }
}
