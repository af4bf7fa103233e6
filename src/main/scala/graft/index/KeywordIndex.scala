package graft.index

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Catalog, Fs}
import graft.io.Catalog.IndexPaths
import graft.model.TermFreqRow

/** Keyword-field postings: metadata values indexed as synthetic
  * `field:value` terms appended to the main postings layout — the classic
  * Lucene treatment of keyword fields, and what makes ES filter context
  * cheap: a filter is just one more (never-decoded-past, WAND-skippable)
  * posting list, not a corpus-wide metadata join at query time.
  *
  * Isolation from scoring is by construction:
  *   - analyzed text tokens can never contain ':' (a separator), so
  *     synthetic terms collide with nothing;
  *   - corpus stats / doc lengths are untouched (no avgdl or N drift);
  *   - the dictionary is untouched (filters need no idf — query-time
  *     filter cursors carry idf 0), so it stays a pure text-term table;
  *     every dictionary derivation (`Indexer.dictionaryOf`,
  *     `Indexer.dictionaryPlus`) excludes ':' terms for the same reason;
  *   - stored block bounds of synthetic terms are irrelevant (UB = idf·…
  *     = 0).
  *
  * Salting reuses the streaming recipe (SaltPlan over the batch range), so
  * a keyword value held by a third of a 10^12-doc corpus still lands in
  * bounded runs. `add` is idempotent per (index, field) via a marker file.
  */
object KeywordIndex {

  def fieldTerm(field: String, value: String): String = s"$field:$value"

  /** Index keyword columns: `docs` must carry (doc_id, <field>…). Every
    * field not yet indexed goes through ONE salt/shuffle/write appended to
    * ONE staged postings copy — salts are per term and the `field:value`
    * terms of different fields are disjoint, so the rows are exactly those
    * of one pass per field.
    *
    * The idempotency markers (`_kw_<field>`) live INSIDE the resolved
    * postings generation (`_`-prefixed: invisible to Spark scans and to the
    * fingerprint): a postings rebuild wipes them, so the field re-indexes
    * instead of silently vanishing from filters (the old root-level marker
    * survived rebuilds). Compaction and purge rewrite postings but carry
    * the keyword ROWS forward, so they forward the markers too; snapshots
    * copy them with the dir.
    */
  def add(spark: SparkSession, root: String, docs: DataFrame, fields: String*): Unit = {
    import spark.implicits._
    val paths = IndexPaths(root)
    val todo = fields.distinct.filterNot(f => Fs.exists(s"${paths.postings}/_kw_$f"))
    if (todo.isEmpty) return
    val meta = Indexer.readMeta(spark, root)
    val parts = spark.sessionState.conf.numShufflePartitions

    val tf = docs
      .select($"doc_id".cast("long") +: todo.map(f => col(f).cast("string")): _*)
      .flatMap { r =>
        val d = r.getLong(0)
        todo.indices.iterator.filter(i => !r.isNullAt(i + 1))
          .map(i => TermFreqRow(d, fieldTerm(todo(i), r.getString(i + 1)), 1, 1))
      }
    val heavy = SaltPlan.heavyTerms(TermFreqs.termStats(tf), meta.target_run)
    val salted = SaltPlan.saltRange(tf, heavy, 0L, math.max(1L, meta.doc_id_space))
    // stage a NEW postings generation (copy + append) and flip it atomically
    // — appending into the live resolved generation mutated a dir whose
    // immutability Snapshots.create and concurrent filtered queries assume:
    // a reader racing the append could observe a partial keyword segment
    // (ADVICE r3). Copy cost is admin-time, like compaction/purge.
    Fs.publish(paths.postingsBase) { staging =>
      Fs.copyDir(paths.postings, staging)
      Catalog.writePostings(Spimi.buildBlocks(salted, avgdl = 1.0, meta.buckets, parts),
        staging, SaveMode.Append)
      todo.foreach(f => Fs.touch(s"$staging/_kw_$f"))
    }
  }
}
