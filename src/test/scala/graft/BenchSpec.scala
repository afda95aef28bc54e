package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The cross-round regression flag's baseline (`Bench.previousMedians`). */
class BenchSpec extends AnyFunSuite {

  private def detail(json: String): java.io.File = {
    val f = Files.createTempFile("bench_detail", ".json")
    Files.write(f, json.getBytes("UTF-8"))
    f.toFile
  }

  private val queries = """"queries":{"q01_a":{"min":0.1,"med":0.2,"max":0.3},"q02_b":{"failed":true}}"""

  test("the regression baseline is read only from a detail file timed at " +
      "the same sf under the same consume") {
    val sf = "/data/sf0.1"
    val noop = detail(s"""{"sf":"$sf","runs":5,"consume":"noop",$queries}""")
    assert(Bench.previousMedians(noop, sf, "noop") == Map("q01_a" -> 0.2))
    // the count()-timed rounds wrote no consume field
    val counted = detail(s"""{"sf":"$sf","runs":5,$queries}""")
    assert(Bench.previousMedians(counted, sf, "noop").isEmpty)
    assert(Bench.previousMedians(noop, sf, "other").isEmpty)
    assert(Bench.previousMedians(noop, "/data/sf1", "noop").isEmpty)
    assert(Bench.previousMedians(detail("{not json"), sf, "noop").isEmpty)
    val missing = new java.io.File(
      Files.createTempDirectory("bench").toFile, "BENCH_DETAIL.json")
    assert(Bench.previousMedians(missing, sf, "noop").isEmpty)
  }
}
