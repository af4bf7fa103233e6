package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.core.{Blocks, PostingBlock}
import graft.index.Indexer
import graft.io.Catalog
import graft.io.Catalog.IndexPaths
import graft.model.Hit
import graft.search.{SearchEngine, Wand}

/** Driver-side replay of the query kernel: collect the query's posting
  * blocks through the public catalog, then call `Blocks.decode` and
  * `Wand.scoreShard` directly on the same docID-range shards `topKWand`
  * uses. Times the kernel without Spark around it.
  */
object Kernel {

  final case class Replay(postings: Long, decodeNs: Double, wandNs: Double, hits: Seq[Hit])

  def replay(spark: SparkSession, root: String, rawTerms: Seq[String], k: Int,
      reps: Int = 5): Replay = {
    val paths = IndexPaths(root)
    val meta = Indexer.readMeta(spark, root)
    val qm = SearchEngine.queryModel(spark, paths, rawTerms, k, meta.analyzer, meta.synonyms)
    if (qm.isEmpty) return Replay(0L, 0.0, 0.0, Nil)
    val buckets = qm.terms.map(Blocks.bucketOf(_, meta.buckets)).distinct.toSeq
    val blocks: Array[PostingBlock] = {
      import spark.implicits._
      Catalog.readPostings(spark, paths)
        .filter(col("bucket").isin(buckets: _*) && col("term").isin(qm.terms.toSeq: _*))
        .as[PostingBlock].collect()
    }
    val shards = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val width = math.max(1L, (meta.doc_id_space + shards - 1) / shards)
    val robust = meta.incremental
    val byShard: Seq[(Int, Map[String, Array[PostingBlock]])] = blocks
      .flatMap(b => ((b.first_doc / width) to (b.last_doc / width)).map(s => (s.toInt, b)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (s, xs) => s -> xs.map(_._2).groupBy(_.term).map { case (t, bs) => t -> bs.sortBy(_.first_doc) } }

    def wand(): Seq[Hit] = byShard.flatMap { case (s, byTerm) =>
      val lo = s.toLong * width
      val cursors = qm.terms.indices.flatMap { ti =>
        byTerm.get(qm.terms(ti)).map(bs =>
          new Wand.TermCursor(qm.idfs(ti), bs, qm.avgdl, lo + width, robust))
      }.toArray
      Wand.scoreShard(cursors, lo, qm.k)
    }.sortBy(h => (-h.score, h.doc_id)).take(k)

    def decodeAll(): Long = {
      var n = 0L
      var i = 0
      while (i < blocks.length) { n += Blocks.decode(blocks(i)).docs.length; i += 1 }
      n
    }

    def medianNs(f: () => Any): Double = Stats.median((0 until reps).map { _ =>
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0).toDouble
    })
    val postings = decodeAll()
    val hits = wand()
    Replay(postings, medianNs(() => decodeAll()), medianNs(() => wand()), hits)
  }
}
