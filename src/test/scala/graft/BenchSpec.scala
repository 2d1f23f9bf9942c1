package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's artifact naming and baseline comparability: a run may
  * only be adjudicated against a baseline taken on the same sf dir and
  * core count.
  */
class BenchSpec extends AnyFunSuite {

  private val sfDir = "/data/sf0.1"
  private def line(cpus: Option[Int]) =
    s"""{"metric":"total","value":2.0,"unit":"sec","queries":{"q1":0.5,"q2":1.5},""" +
      s""""errors":[],"sf":"$sfDir"${cpus.map(c => s""","cpus":$c""").getOrElse("")}}"""

  test("a baseline without a cpus field is comparable only to a 32-core run") {
    assert(Bench.comparableBaseline(line(None), sfDir, "32") == Map("q1" -> 0.5, "q2" -> 1.5))
    assert(Bench.comparableBaseline(line(None), sfDir, "8").isEmpty)
    assert(Bench.comparableBaseline(line(Some(8)), sfDir, "8").size == 2)
    assert(Bench.comparableBaseline(line(Some(8)), sfDir, "32").isEmpty)
    assert(Bench.comparableBaseline(line(Some(8)), "/data/sf0.01", "8").isEmpty)
  }

  test("the anchor's full pointer names the file the same run writes") {
    assert(Bench.fullArtifact("32") == "BENCH_full_latest.json")
    assert(Bench.fullArtifact("8") == "BENCH_full_latest_c8.json")
  }
}
