package graft.sql

import org.apache.spark.{OneToOneDependency, Partition, Partitioner, SparkContext, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, GraftDatasetFactory, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{encoderFor, ExpressionEncoder}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

import graft.core.PostingBlock
import graft.search.SearchEngine.Shard

/** The docID-shard executor as one Catalyst operator
  * ([[graft.search.SearchEngine.perShard]] builds it).
  *
  * Children: the pruned postings scan, then the excluded docID set
  * (tombstones ∪ must_not) and the allowed docID set (a range filter) when
  * present — each aux child is one long `doc_id` column. [[PerShardStrategy]]
  * plans each child under its own [[ShardExchangeExec]], which moves the
  * child's rows into docID shard partitions, and [[PerShardExec]] zips the
  * shard partitions of all children and runs `f` once per shard holding
  * blocks. The scans stay visible (and pushed down) in the plan, and no
  * Spark `Exchange` sits under the final top-k, so adaptive execution does
  * not split the query into one job per shuffle.
  *
  * `f`'s output rows are serialized by `encoder`, whose attributes are the
  * node's output — held in the constructor like [[FullTextMatch]]'s.
  */
final case class PerShard(shards: Int, width: Long, f: Shard => Iterator[Any],
    encoder: ExpressionEncoder[Any], override val output: Seq[Attribute],
    postings: LogicalPlan, excluded: Option[LogicalPlan], allowed: Option[LogicalPlan])
    extends LogicalPlan {
  override def children: Seq[LogicalPlan] = postings +: (excluded.toSeq ++ allowed)
  // every input column feeds the shard function: none may be pruned
  override def references: AttributeSet = AttributeSet(children.flatMap(_.output))
  override def producedAttributes: AttributeSet = outputSet
  override protected def stringArgs: Iterator[Any] = Iterator(shards, width)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): PerShard = {
    val (p, ex, al) = PerShard.unzip(newChildren, excluded.isDefined, allowed.isDefined)
    copy(postings = p, excluded = ex, allowed = al)
  }
}

object PerShard {

  /** `f` over the docID shards of `postings`, as a Dataset over one
    * [[PerShard]] node. Shard `s` holds docs `[s·width, (s+1)·width)`; the
    * last shard is open-ended.
    */
  def dataset[T: Encoder](spark: SparkSession, shards: Int, width: Long,
      postings: DataFrame, excluded: Option[DataFrame],
      allowed: Option[DataFrame])(f: Shard => Iterator[T]): Dataset[T] = {
    inject(spark, PerShardStrategy)
    val enc = encoderFor[T].asInstanceOf[ExpressionEncoder[Any]]
    def analyzed(df: DataFrame) = df.queryExecution.analyzed
    GraftDatasetFactory.ofRows(spark,
      PerShard(shards, width, f, enc, DataTypeUtils.toAttributes(enc.schema),
        analyzed(postings), excluded.map(analyzed), allowed.map(analyzed)))
      .as[T]
  }

  /** Splits `children` (postings, then the present aux sets) back into the
    * postings child and the optional excluded and allowed children.
    */
  private[sql] def unzip[P](children: Seq[P], hasExcluded: Boolean,
      hasAllowed: Boolean): (P, Option[P], Option[P]) = {
    val it = children.iterator
    val postings = it.next()
    val excluded = if (hasExcluded) Some(it.next()) else None
    (postings, excluded, if (hasAllowed) Some(it.next()) else None)
  }

  /** Idempotently put `strategy` first in the session's planner. Safe
    * under concurrent callers (multi_match submits its field passes from
    * two threads): the check and the update run under one lock.
    */
  private[sql] def inject(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val ex = spark.experimental
    ex.synchronized {
      if (!ex.extraStrategies.contains(strategy))
        ex.extraStrategies = strategy +: ex.extraStrategies
    }
  }
}

/** Moves each row of `child` to the docID shard partitions its
  * `[lo, hi]` docID range covers: a posting block spanning a shard border
  * goes to both shards, a doc_id row (`lo` = `hi`) to one. Shards at or
  * past the last one fold into it. A unary node that runs its own shuffle,
  * not a Spark `Exchange`: the planner neither re-plans nor splits it.
  */
final case class ShardExchangeExec(lo: Attribute, hi: Attribute, shards: Int,
    width: Long, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = UnknownPartitioning(shards)
  override protected def stringArgs: Iterator[Any] = Iterator(lo, hi)

  override protected def doExecute(): RDD[InternalRow] = {
    val loOrd = child.output.indexWhere(_.exprId == lo.exprId)
    val hiOrd = child.output.indexWhere(_.exprId == hi.exprId)
    val (n, w) = (shards, width)
    // the shuffle writers serialize each record as it arrives (bypass and
    // serialized writers), so the scan's reused row needs no copy
    val keyed = child.execute().mapPartitions(_.flatMap { r =>
      val last = n - 1L
      (math.min(r.getLong(loOrd) / w, last) to math.min(r.getLong(hiOrd) / w, last))
        .iterator.map(s => (s.toInt, r))
    })
    new ShuffledRDD[Int, InternalRow, InternalRow](keyed, new ShardExchangeExec.ById(n))
      .setSerializer(GraftDatasetFactory.rowSerializer(child.output.length))
      .map(_._2)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ShardExchangeExec =
    copy(child = newChild)
}

object ShardExchangeExec {
  /** The record key is its shard partition. */
  private final class ById(n: Int) extends Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }
}

/** Zips the shard partitions of its [[ShardExchangeExec]] children and runs
  * the shard function once per shard holding posting blocks (see
  * [[PerShard]] for the child order).
  */
final case class PerShardExec(shards: Int, width: Long, f: Shard => Iterator[Any],
    encoder: ExpressionEncoder[Any], output: Seq[Attribute], postings: SparkPlan,
    excluded: Option[SparkPlan], allowed: Option[SparkPlan]) extends SparkPlan {
  override def children: Seq[SparkPlan] = postings +: (excluded.toSeq ++ allowed)
  override def outputPartitioning: Partitioning = UnknownPartitioning(shards)
  override protected def stringArgs: Iterator[Any] = Iterator(shards, width)

  override protected def doExecute(): RDD[InternalRow] = {
    val toBlock = PerShardExec.blockReader(postings.output)
    // each task deserializes its own copy of the (stateful) serializer
    val (w, last, hasEx, range, fn, toRow) = (width, shards - 1, excluded.isDefined,
      allowed.isDefined, f, encoder.createSerializer())
    new ZipShardsRDD(sparkContext, children.map(_.execute()), (shard, inputs) => {
      val (blockRows, exRows, alRows) = PerShard.unzip(inputs, hasEx, range)
      val blocks = blockRows.map(toBlock).toArray
      val excluded = exRows.map(_.map(_.getLong(0)).toArray.sorted).filter(_.nonEmpty).orNull
      val allowed = alRows.map(_.map(_.getLong(0)).toArray.sorted).orNull
      // a shard with no blocks, or a range filter allowing nothing in this
      // shard: no doc qualifies
      if (blocks.isEmpty || (range && allowed.isEmpty)) Iterator.empty
      else {
        val lo = shard * w
        val byTerm = blocks.groupBy(_.term).view.mapValues(_.sortBy(_.first_doc)).toMap
        fn(Shard(lo, if (shard == last) Long.MaxValue else lo + w, byTerm,
          excluded, allowed)).map(toRow)
      }
    })
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): PerShardExec = {
    val (p, ex, al) = PerShard.unzip(newChildren, excluded.isDefined, allowed.isDefined)
    copy(postings = p, excluded = ex, allowed = al)
  }
}

object PerShardExec {
  /** Reads a [[PostingBlock]] from a postings row by column name. Plain
    * field reads: a task ships a few ordinals instead of a resolved
    * encoder (tens of KB, milliseconds to deserialize in every task).
    */
  private def blockReader(attrs: Seq[Attribute]): InternalRow => PostingBlock = {
    val o = Encoders.product[PostingBlock].schema.fieldNames
      .map(n => attrs.indexWhere(_.name == n))
    require(!o.contains(-1), s"postings input lacks a PostingBlock column: $attrs")
    r => PostingBlock(r.getUTF8String(o(0)).toString, r.getInt(o(1)), r.getInt(o(2)),
      r.getInt(o(3)), r.getLong(o(4)), r.getLong(o(5)), r.getInt(o(6)), r.getInt(o(7)),
      r.getInt(o(8)), r.getLong(o(9)), r.getDouble(o(10)), r.getBinary(o(11)),
      r.getBinary(o(12)), r.getBinary(o(13)))
  }
}

/** One partition per shard: partition `i` of every input, zipped. */
private final class ZipShardsRDD(sc: SparkContext, var inputs: Seq[RDD[InternalRow]],
    run: (Int, Seq[Iterator[InternalRow]]) => Iterator[InternalRow])
    extends RDD[InternalRow](sc, inputs.map(new OneToOneDependency(_))) {

  override protected def getPartitions: Array[Partition] =
    Array.tabulate[Partition](inputs.head.partitions.length)(i =>
      ZipShardsRDD.Part(i, inputs.map(_.partitions(i))))

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
    val p = split.asInstanceOf[ZipShardsRDD.Part]
    run(p.index, inputs.zip(p.parents).map { case (r, s) => r.iterator(s, context) })
  }

  override def clearDependencies(): Unit = {
    super.clearDependencies()
    inputs = null
  }
}

private object ZipShardsRDD {
  final case class Part(index: Int, parents: Seq[Partition]) extends Partition
}

/** Plans [[PerShard]]: one [[ShardExchangeExec]] per child — the postings
  * keyed by each block's `[first_doc, last_doc]`, an aux set by its doc_id.
  */
object PerShardStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: PerShard =>
      def exchange(c: LogicalPlan, lo: Attribute, hi: Attribute) =
        ShardExchangeExec(lo, hi, p.shards, p.width, planLater(c))
      def byDoc(c: LogicalPlan) = exchange(c, c.output.head, c.output.head)
      def col(name: String) = p.postings.output.find(_.name == name).get
      PerShardExec(p.shards, p.width, p.f, p.encoder, p.output,
        exchange(p.postings, col("first_doc"), col("last_doc")),
        p.excluded.map(byDoc), p.allowed.map(byDoc)) :: Nil
    case _ => Nil
  }
}
