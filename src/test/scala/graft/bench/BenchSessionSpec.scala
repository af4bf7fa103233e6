package graft.bench

import org.scalatest.funsuite.AnyFunSuite

/** The micro-bench and plan-dump mains warm what the frozen Bench warms,
  * so their timings and plans are of the same warmed artifacts.
  */
class BenchSessionSpec extends AnyFunSuite {

  test("the warm-up list is Bench's IndexCache calls, in Bench's order") {
    val call = """^\s*IndexCache\.(.*?)\s*(//.*)?$""".r
    val calls = java.nio.file.Files.readString(java.nio.file.Paths.get(
      "src/main/scala/graft/Bench.scala")).linesIterator
      .flatMap(call.findFirstMatchIn(_).map(_.group(1))).toSeq
    assert(calls.length == 16, s"expected Bench's 16 warm-up calls, saw $calls")
    assert(BenchSession.Warmups.map(_._1) == calls)
  }
}
