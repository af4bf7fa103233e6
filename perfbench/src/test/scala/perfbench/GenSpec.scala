package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with LocalSpark {

  private val c = Corpus(7, 0, 12, 60)
  private val shapes = Seq("marker", "filter", "excluded", "paged")

  private def digestOf(seed: Long): String = {
    val cs = c.copy(seed = seed)
    Gen.digest((cs.convLo until cs.convHi).iterator.flatMap(Gen.conversation(seed, _, cs.turnsPerConv)),
      Gen.queryPool(seed, cs, 8, 8, shapes))
  }

  test("the same seed gives byte-identical inputs, another seed different ones") {
    assert(digestOf(7) == digestOf(7))
    assert(digestOf(7) != digestOf(8))
    assert(Gen.stream(7, 16, 100).toSeq == Gen.stream(7, 16, 100).toSeq)
    assert(Gen.stream(7, 16, 100).toSeq != Gen.stream(8, 16, 100).toSeq)
  }

  test("generated turn tables do not depend on partitioning") {
    def viaSpark(parts: Int): String = {
      spark.conf.set("spark.default.parallelism", parts.toString)
      val ts = Gen.turns(spark, c).collect().sortBy(t => (t.conv_id, t.turn_idx))
      Gen.digest(ts.iterator, Nil)
    }
    val local = Gen.digest((c.convLo until c.convHi).iterator.flatMap(Gen.conversation(c.seed, _, c.turnsPerConv)), Nil)
    assert(viaSpark(1) == local)
    assert(viaSpark(3) == local)
  }

  test("doc ids follow conversation order, as the engine assigns them") {
    val d = Gen.docs(spark, c)
    val ids = d.select("doc_id").collect().map(_.getLong(0)).sorted
    d.unpersist()
    assert(ids.toSeq == (c.docLo until c.docLo + c.nTurns))
  }

  test("selective shapes carry their filter, exclusion or paging") {
    val pool = Gen.queryPool(7, c, 4, 4, shapes)
    assert(pool.count(_.cls == "broad") == 4)
    assert(pool.filter(_.cls == "selective").map(_.shape) == shapes)
    assert(pool.exists(_.filters.nonEmpty) && pool.exists(_.excluded.nonEmpty) && pool.exists(_.paged))
    assert(pool.filter(_.cls == "broad").map(_.k) == Seq(10, 10, 10, 1000))
  }
}
