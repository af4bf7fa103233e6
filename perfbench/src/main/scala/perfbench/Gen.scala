package perfbench

import java.sql.Timestamp
import java.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.model.Turn

/** One benchmark query. `shape` names the selective variants: `marker`
  * (one conversation-marker term), `filter` (keyword filter), `excluded`
  * (must-not doc set), `paged` (the second page, via `after`). Broad queries
  * have shape `plain`.
  */
final case class Query(
    id: String,
    cls: String,
    shape: String,
    terms: Seq[String],
    k: Int,
    filters: Seq[String] = Nil,
    excluded: Seq[Long] = Nil) {
  def paged: Boolean = shape == "paged"
  /** Ranks before the op's first hit: a paged op returns the second page. */
  def skip: Int = if (paged) k else 0
}

/** A generated corpus: conversations [convLo, convHi) of `seed`, each with
  * `turnsPerConv` turns. Doc ids are dense in conversation order, so the
  * turn of conversation `c` at index `ti` is doc `c * turnsPerConv + ti`.
  */
final case class Corpus(seed: Long, convLo: Long, convHi: Long, turnsPerConv: Int) {
  def nTurns: Long = (convHi - convLo) * turnsPerConv
  def docLo: Long = convLo * turnsPerConv
}

/** Seeded input generator: transcript turns (the engine's `Turn` shape,
  * Zipf(1.07) over a 1000-term vocabulary), query pools and ingest
  * batches. Every output is a pure function of the seed, so the same seed
  * gives byte-identical inputs on any partitioning.
  */
object Gen {

  val Tools: Array[String] = Array("Bash", "Read", "Write", "Grep", "Edit")
  val Vocab = 1000
  val MarkerEvery = 50
  private val ZipfS = 1.07
  private val baseTs = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli

  private val zipfCum: Array[Double] = {
    val w = Array.tabulate(Vocab)(r => 1.0 / math.pow(r + 1.0, ZipfS))
    val tot = w.sum
    var acc = 0.0
    val cum = w.map { x => acc += x / tot; acc }
    cum(Vocab - 1) = 1.0
    cum
  }

  private def zipfDraw(rng: Random): Int = {
    val i = java.util.Arrays.binarySearch(zipfCum, rng.nextDouble())
    if (i >= 0) i else -i - 1
  }

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val terms: Array[String] = Array.tabulate(Vocab)(r => f"t$r%05d")

  def term(rank: Int): String = terms(rank)

  /** Conversation ids are offset by the seed; zero-padded so lexicographic
    * order is conversation order.
    */
  def convId(seed: Long, conv: Long): String = f"c${java.lang.Math.floorMod(seed, 100000L)}%05d$conv%08d"

  /** The conversation's marker term: one token that occurs only in that
    * conversation, every `MarkerEvery` turns.
    */
  def marker(seed: Long, conv: Long): String = convId(seed, conv) + "m"

  def role(ti: Int): String =
    if (ti == 0) "system"
    else if (ti % 7 == 6) "assistant"
    else if (ti % 2 == 1) "user"
    else "assistant"

  def tool(seed: Long, conv: Long, ti: Int): String =
    if (ti % 7 != 6) "" else Tools(java.lang.Math.floorMod(mix(mix(seed, conv), ti), Tools.length.toLong).toInt)

  def conversation(seed: Long, conv: Long, turnsPerConv: Int): Array[Turn] = {
    val rng = new Random(mix(seed, conv))
    val cid = convId(seed, conv)
    Array.tabulate(turnsPerConv) { ti =>
      val nTokens = 10 + rng.nextInt(90)
      val sb = new StringBuilder
      var w = 0
      while (w < nTokens) {
        if (w > 0) sb.append(' ')
        sb.append(term(zipfDraw(rng)))
        w += 1
      }
      if (ti % MarkerEvery == 0) sb.append(' ').append(marker(seed, conv))
      Turn(cid, ti, role(ti), sb.toString, tool(seed, conv, ti),
        new Timestamp(baseTs + (conv * turnsPerConv + ti) * 13000L))
    }
  }

  def turns(spark: SparkSession, c: Corpus): Dataset[Turn] = {
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism
    spark.range(c.convLo, c.convHi, 1, parts).as[Long]
      .flatMap(conv => conversation(c.seed, conv, c.turnsPerConv))
  }

  /** (doc_id, text) of the corpus, from the generator alone — the doc set
    * the brute-force reference scores. Cached: the caller unpersists it.
    */
  def docs(spark: SparkSession, c: Corpus): DataFrame = {
    import spark.implicits._
    val d = turns(spark, c)
      .map(t => (t.conv_id.substring(6).toLong * c.turnsPerConv + t.turn_idx, t.text))
      .toDF("doc_id", "text")
      .cache()
    d.count()
    d
  }

  /** A seeded query pool over corpus `c`. Broad query i takes 1 + i % 4
    * terms from ranks 0–99, with k=1000 when i % 4 == 3 and k=10 otherwise.
    * Selective queries cycle through `shapes`; their text terms are
    * 1 + i % 2 tail ranks 900–999 (or a conversation marker). Only the
    * terms are drawn, so every seed's pool has the same composition.
    */
  def queryPool(seed: Long, c: Corpus, nBroad: Int, nSelective: Int,
      shapes: Seq[String], tag: String = "q"): Seq[Query] = {
    val rng = new Random(mix(seed, 0x51L))
    def draw(n: Int, from: Int, range: Int): Seq[String] = {
      val picked = scala.collection.mutable.LinkedHashSet[String]()
      while (picked.size < n) picked += term(from + rng.nextInt(range))
      picked.toSeq
    }
    val broad = (0 until nBroad).map { i =>
      val terms = draw(1 + i % 4, 0, 100)
      Query(s"$tag-b$i", "broad", "plain", terms, if (i % 4 == 3) 1000 else 10)
    }
    val selective = (0 until nSelective).map { i =>
      val id = s"$tag-s$i"
      shapes(i % shapes.length) match {
        case "marker" =>
          val conv = c.convLo + (rng.nextLong() & Long.MaxValue) % (c.convHi - c.convLo)
          Query(id, "selective", "marker", Seq(marker(c.seed, conv)), 10)
        case "filter" =>
          val f = if (rng.nextBoolean()) "role:user" else "tool:" + Tools(rng.nextInt(Tools.length))
          Query(id, "selective", "filter", draw(1 + i % 2, 900, 100), 10, filters = Seq(f))
        case "excluded" =>
          val ex = Seq.fill(2000)(c.docLo + (rng.nextLong() & Long.MaxValue) % c.nTurns).distinct.sorted
          Query(id, "selective", "excluded", draw(1 + i % 2, 900, 100), 10, excluded = ex)
        case "paged" =>
          Query(id, "selective", "paged", draw(1 + i % 2, 900, 100), 10)
        case s => throw new IllegalArgumentException(s"unknown shape $s")
      }
    }
    broad ++ selective
  }

  /** `n` pool indexes: seeded permutations of the pool back to back, so
    * every prefix holds each query at most once more than any other.
    */
  def stream(seed: Long, poolSize: Int, n: Int): Array[Int] = {
    val rng = new Random(mix(seed, 0x57L))
    Iterator.continually(scala.util.Random.javaRandomToRandom(rng).shuffle((0 until poolSize).toVector))
      .flatten.take(n).toArray
  }

  /** Canonical bytes of generated turns and queries, for determinism
    * checks.
    */
  def digest(turns: Iterator[Turn], queries: Seq[Query]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update((s + "\u0000").getBytes("UTF-8"))
    turns.foreach { t =>
      put(t.conv_id); put(t.turn_idx.toString); put(t.role); put(t.text)
      put(t.tool); put(t.ts.getTime.toString)
    }
    queries.foreach(q => put(q.toString))
    md.digest().map("%02x".format(_)).mkString
  }
}
