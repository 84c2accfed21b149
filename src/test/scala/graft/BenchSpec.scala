package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("the newest bench artifact is picked by round number, not by name") {
    val files = Seq("BENCH_r9.json", "BENCH_r22.json", "BENCH_r10.json").map(new File(_))
    assert(Bench.newestRound(files).map(_.getName).contains("BENCH_r22.json"))
    assert(Bench.newestRound(Nil).isEmpty)
  }
}
