package graft

import org.scalatest.funsuite.AnyFunSuite

/** A bench run pinned to fewer cores than the host keeps its own artifact,
  * so it neither overwrites nor is judged by the whole-host priors. */
class BenchFileSpec extends AnyFunSuite {

  test("a run below the host's cpus writes bench_c<cpus>.json") {
    assert(Bench.benchFile("8", hostCpus = 32) == "bench_c8.json")
    assert(Bench.benchFile("1", hostCpus = 4) == "bench_c1.json")
  }

  test("a run on the whole host, or beyond it, writes bench.json") {
    assert(Bench.benchFile("32", hostCpus = 32) == "bench.json")
    assert(Bench.benchFile("64", hostCpus = 32) == "bench.json")
    assert(Bench.benchFile("*", hostCpus = 32) == "bench.json")
  }
}
