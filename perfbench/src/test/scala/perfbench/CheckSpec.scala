package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite {

  test("rankings match up to the order of tied docs") {
    val ref = Array((1L, 3.0), (2L, 2.0), (3L, 2.0), (4L, 1.0))
    assert(Check.sameRanking(Array((1L, 3.0), (3L, 2.0), (2L, 2.0), (4L, 1.0)), ref))
    assert(!Check.sameRanking(Array((2L, 3.0), (1L, 2.0), (3L, 2.0), (4L, 1.0)), ref))
    assert(!Check.sameRanking(ref.take(3), ref))
    assert(!Check.sameRanking(Array((1L, 3.0), (2L, 2.0), (3L, 2.0), (4L, 1.0 + 1e-6)), ref))
  }

  test("the cut applies filters, exclusions and paging depth") {
    val c = Corpus(1, 0, 1, 14)
    val all = (0L until 14L).map(d => (d, 1.0 + d)).toArray
    val user = Query("q", "selective", "filter", Seq("x"), 3, filters = Seq("role:user"))
    assert(Check.cut(all, user, c).map(_._1).toSeq == Seq(11L, 9L, 7L))
    val ex = Query("q", "selective", "excluded", Seq("x"), 2, excluded = Seq(13L))
    assert(Check.cut(all, ex, c).map(_._1).toSeq == Seq(12L, 11L))
    val paged = Query("q", "selective", "paged", Seq("x"), 2)
    assert(Check.cut(all, paged, c).map(_._1).toSeq == Seq(11L, 10L))
  }

  test("covered time merges overlapping intervals") {
    assert(Trace.covered(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)
  }
}
