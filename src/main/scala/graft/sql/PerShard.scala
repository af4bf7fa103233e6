package graft.sql

import org.apache.spark.{OneToOneDependency, Partition, Partitioner, SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, GraftDatasetFactory, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{encoderFor, ExpressionEncoder}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BindReferences,
  InterpretedOrdering, InterpretedUnsafeProjection, IntegerLiteral, NamedExpression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Limit, LimitAndOffset, LogicalPlan,
  OffsetAndLimit, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition,
  UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{ExplainUtils, OrderPreservingUnaryExecNode, SparkPlan,
  SparkStrategy, TakeOrderedAndProjectExec, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf

import graft.core.TermBlock
import graft.io.{PostingsScan, SerializableHadoopConf}
import graft.search.SearchEngine.Shard

/** The docID-shard executor as one Catalyst operator
  * ([[graft.search.SearchEngine.perShard]] builds it), under every indexed
  * query's postings reads but must_not's: scored, boolean, phrase, span and
  * intervals.
  *
  * Shard `s` holds docs `[s·width, (s+1)·width)`; the last shard is
  * open-ended ([[PerShard.range]]). The shard count is sized by the
  * postings bytes the query opens ([[PerShard.count]]): at least AQE's
  * minimum partition size per shard, at most the shuffle partitions, so a
  * query over small postings runs as one task (and its aux exchanges have
  * one reduce partition). Each shard task reads its own blocks, one
  * [[PostingsScan.read]] per source over the shard's doc range (the
  * sources share one docID space; a source's layout is postings or
  * positions): no postings scan runs in Spark and none are shuffled. The
  * children are the excluded docID set (tombstones ∪ must_not) and the
  * allowed docID set (a range filter) when present, each one long `doc_id`
  * column; [[PerShardStrategy]] plans each under its own
  * [[ShardExchangeExec]], which moves its rows into the shard partitions,
  * and [[PerShardExec]] zips those partitions with the shard reads and runs
  * `f` once per shard holding blocks. No Spark `Exchange`
  * sits under the final top-k, so adaptive execution does not split the
  * query into one job per shuffle; a global top-k straight over the node
  * is [[PerShardTopKExec]], whose collect cuts each shard's rows in its
  * task and merges ≤ shards·k of them on the driver.
  *
  * `f`'s output rows are serialized by `encoder`, whose attributes are the
  * node's output — held in the constructor like [[FullTextMatch]]'s.
  */
final case class PerShard(shards: Int, width: Long, f: Shard => Iterator[Any],
    encoder: ExpressionEncoder[Any], override val output: Seq[Attribute],
    postings: Seq[PostingsScan[_ <: TermBlock]], excluded: Option[LogicalPlan],
    allowed: Option[LogicalPlan]) extends LogicalPlan {
  override def children: Seq[LogicalPlan] = excluded.toSeq ++ allowed
  // every input column feeds the shard function: none may be pruned
  override def references: AttributeSet = AttributeSet(children.flatMap(_.output))
  override def producedAttributes: AttributeSet = outputSet
  override protected def stringArgs: Iterator[Any] = Iterator(shards, width)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): PerShard = {
    val (ex, al) = PerShard.unzip(newChildren, excluded.isDefined, allowed.isDefined)
    copy(excluded = ex, allowed = al)
  }
}

object PerShard {

  /** `f` over the docID shards of the blocks of each `postings` source, as
    * a DataFrame over one [[PerShard]] node whose rows `rows` serializes.
    * Build `rows` once per row type: deriving an encoder per query costs
    * more driver time than planning the query.
    */
  def frame[T](spark: SparkSession, shards: Int, width: Long,
      postings: Seq[PostingsScan[_ <: TermBlock]], excluded: Option[DataFrame],
      allowed: Option[DataFrame], rows: ExpressionEncoder[T])(f: Shard => Iterator[T]): DataFrame = {
    inject(spark, PerShardStrategy)
    val enc = rows.asInstanceOf[ExpressionEncoder[Any]]
    def analyzed(df: DataFrame) = df.queryExecution.analyzed
    GraftDatasetFactory.ofRows(spark,
      PerShard(shards, width, f, enc, DataTypeUtils.toAttributes(enc.schema),
        postings, excluded.map(analyzed), allowed.map(analyzed)))
  }

  /** [[frame]] as a typed Dataset. */
  def dataset[T: Encoder](spark: SparkSession, shards: Int, width: Long,
      postings: Seq[PostingsScan[_ <: TermBlock]], excluded: Option[DataFrame],
      allowed: Option[DataFrame])(f: Shard => Iterator[T]): Dataset[T] =
    frame(spark, shards, width, postings, excluded, allowed, encoderFor[T])(f).as[T]

  /** The shard count of a query whose scans open `bytes` of postings files:
    * `shardsOpt` when given; else `⌊bytes / min⌋` clamped to
    * `[1, spark.sql.shuffle.partitions]`, where `min` is
    * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB by
    * default) — the partition count adaptive execution's
    * `CoalesceShufflePartitions` gives a shuffle of that size under Spark's
    * defaults, which this operator's own exchanges never reach. With
    * adaptive execution or its partition coalescing off, the shuffle
    * partitions, as Spark's shuffles keep then.
    */
  def count(shardsOpt: Option[Int], bytes: Long, conf: SQLConf): Int = shardsOpt.getOrElse {
    val p = conf.numShufflePartitions
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled) p
    else (bytes / conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
      .max(1L).min(p.toLong).toInt
  }

  /** Shard `s`'s docs `[lo, hi)`: `[s·width, (s+1)·width)`, except that the
    * last shard is open-ended (`hi` = `Long.MaxValue`) — docs past it, as a
    * streaming append writes them before its meta grows the doc space,
    * fold into it.
    */
  def range(s: Int, shards: Int, width: Long): (Long, Long) = {
    val lo = s * width
    (lo, if (s == shards - 1) Long.MaxValue else lo + width)
  }

  /** Splits `children` (the present aux sets) back into the optional
    * excluded and allowed children.
    */
  private[sql] def unzip[P](children: Seq[P], hasExcluded: Boolean,
      hasAllowed: Boolean): (Option[P], Option[P]) = {
    val it = children.iterator
    val excluded = if (hasExcluded) Some(it.next()) else None
    (excluded, if (hasAllowed) Some(it.next()) else None)
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

/** Moves each `doc_id` row of `child` to its docID shard partition; docs
  * at or past the last shard fold into it. A unary node that runs its own
  * shuffle, not a Spark `Exchange`: the planner neither re-plans nor splits it.
  */
final case class ShardExchangeExec(docId: Attribute, shards: Int, width: Long,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = UnknownPartitioning(shards)
  override protected def stringArgs: Iterator[Any] = Iterator(docId)

  override protected def doExecute(): RDD[InternalRow] = {
    val ord = child.output.indexWhere(_.exprId == docId.exprId)
    val (last, w) = (shards - 1L, width)
    // the shuffle writers serialize each record as it arrives (bypass and
    // serialized writers), so the scan's reused row needs no copy
    val keyed = child.execute().mapPartitions(_.map(r =>
      (math.min(r.getLong(ord) / w, last).toInt, r)))
    new ShuffledRDD[Int, InternalRow, InternalRow](keyed, new ShardExchangeExec.ById(shards))
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

/** Runs one task per shard: it reads the shard's posting blocks of every
  * source, zips the shard partitions of its [[ShardExchangeExec]] children
  * (see [[PerShard]] for the child order) and runs the shard function when
  * the shard holds blocks. Its explain prints each read like a file scan's.
  */
final case class PerShardExec(shards: Int, width: Long, f: Shard => Iterator[Any],
    encoder: ExpressionEncoder[Any], output: Seq[Attribute],
    postings: Seq[PostingsScan[_ <: TermBlock]], excluded: Option[SparkPlan],
    allowed: Option[SparkPlan]) extends SparkPlan {
  override def children: Seq[SparkPlan] = excluded.toSeq ++ allowed
  override def outputPartitioning: Partitioning = UnknownPartitioning(shards)
  override protected def stringArgs: Iterator[Any] = Iterator(shards, width)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "filesRead" -> SQLMetrics.createMetric(sparkContext, "files read"),
    "blocksRead" -> SQLMetrics.createMetric(sparkContext, "blocks read"))

  override def simpleString(maxFields: Int): String =
    (super.simpleString(maxFields) +: postings.flatMap(_.explain)).mkString(", ")

  override def verboseStringWithOperatorId(): String =
    (Seq("", formattedNodeName, ExplainUtils.generateFieldString("Output", output),
      s"Arguments: $shards, $width") ++ postings.flatMap(_.explain)).mkString("", "\n", "\n")

  override protected def doExecute(): RDD[InternalRow] = {
    // each task deserializes its own copy of the (stateful) serializer
    val (n, w, hasEx, range, fn, toRow, scans) = (shards, width, excluded.isDefined,
      allowed.isDefined, f, encoder.createSerializer(), postings)
    val (filesRead, blocksRead) = (longMetric("filesRead"), longMetric("blocksRead"))
    val conf = PerShardExec.hadoopConf(session)
    new ZipShardsRDD(sparkContext, shards, children.map(_.execute()), (shard, inputs) => {
      val (exRows, alRows) = PerShard.unzip(inputs, hasEx, range)
      val excluded = exRows.map(_.map(_.getLong(0)).toArray.sorted).filter(_.nonEmpty).orNull
      val allowed = alRows.map(_.map(_.getLong(0)).toArray.sorted).orNull
      // a range filter allowing nothing in this shard: no doc qualifies
      if (range && allowed.isEmpty) Iterator.empty
      else {
        val (lo, hi) = PerShard.range(shard, n, w)
        val reads = GraftDatasetFactory.meteredRead {
          val bs = scans.map(_.read(lo, hi, conf.value.get))
          (bs, bs.map(_.length.toLong).sum)
        }
        filesRead.add(scans.map(_.files.length.toLong).sum)
        blocksRead.add(reads.map(_.length.toLong).sum)
        if (reads.forall(_.isEmpty)) Iterator.empty
        else {
          fn(Shard(lo, hi, reads.map(PerShardExec.byTerm(_)).toIndexedSeq, excluded,
            allowed)).map(toRow)
        }
      }
    })
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): PerShardExec = {
    val (ex, al) = PerShard.unzip(newChildren, excluded.isDefined, allowed.isDefined)
    copy(excluded = ex, allowed = al)
  }
}

object PerShardExec {
  /** A shard read's blocks by term, each term's ordered by first_doc. */
  private def byTerm[B <: TermBlock](blocks: Array[B]): Map[String, Array[B]] =
    blocks.groupBy(_.term).view.mapValues(_.sortBy(_.first_doc)).toMap

  // one Hadoop conf broadcast per session, shared by every query's tasks
  private val confs =
    new java.util.WeakHashMap[SparkSession, Broadcast[SerializableHadoopConf]]()

  private def hadoopConf(spark: SparkSession): Broadcast[SerializableHadoopConf] =
    confs.synchronized {
      confs.computeIfAbsent(spark, s =>
        s.sparkContext.broadcast(new SerializableHadoopConf(s.sessionState.newHadoopConf())))
    }
}

/** One partition per shard: partition `i` of every input, zipped. */
private final class ZipShardsRDD(sc: SparkContext, shards: Int,
    var inputs: Seq[RDD[InternalRow]],
    run: (Int, Seq[Iterator[InternalRow]]) => Iterator[InternalRow])
    extends RDD[InternalRow](sc, inputs.map(new OneToOneDependency(_))) {

  override protected def getPartitions: Array[Partition] =
    Array.tabulate[Partition](shards)(i =>
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

/** The global top-k of a [[PerShard]] node's rows: the least `limit` rows
  * under `sortOrder`, less the first `offset`, projected by `projectList`
  * — what Spark's `TakeOrderedAndProjectExec` computes, and what
  * [[doExecute]] delegates to for consumers of its RDD.
  *
  * A collect ([[executeCollect]]) runs one job over the shard tasks with
  * named task and result functions (Spark's `takeOrdered` re-runs its
  * closure cleaner over the `RDD` class on every call): each shard task
  * keeps its `limit` least rows in a bounded heap, and the driver merges
  * the at most shards × `limit` candidates and projects them. Ordering and
  * projection are interpreted, so a query generates no code.
  */
final case class PerShardTopKExec(limit: Int, sortOrder: Seq[SortOrder],
    projectList: Seq[NamedExpression], child: SparkPlan, offset: Int)
    extends OrderPreservingUnaryExecNode {
  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition
  override protected def outputExpressions: Seq[NamedExpression] = projectList
  override protected def orderingExpressions: Seq[SortOrder] = sortOrder

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "candidateRows" -> SQLMetrics.createMetric(sparkContext, "candidate rows"))

  override def executeCollect(): Array[InternalRow] = {
    val rdd = child.execute()
    val ord = new InterpretedOrdering(sortOrder, child.output)
    val merge = new PerShardTopKExec.Merge(rdd.partitions.length)
    sparkContext.runJob(rdd, new PerShardTopKExec.Least(limit, ord, longMetric("candidateRows")),
      rdd.partitions.indices, merge)
    val project = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(projectList, child.output))
    project.initialize(0)
    merge.rows.flatten.sorted(ord).slice(offset, limit).map(project(_).copy())
  }

  override protected def doExecute(): RDD[InternalRow] =
    TakeOrderedAndProjectExec(limit, sortOrder, projectList, child, offset).execute()

  override protected def withNewChildInternal(newChild: SparkPlan): PerShardTopKExec =
    copy(child = newChild)
}

object PerShardTopKExec {
  /** A shard task: its `k` least rows, copied, least first. */
  private final class Least(k: Int, ord: Ordering[InternalRow], candidates: SQLMetric)
      extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
    override def apply(tc: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] = {
      // a heap of the k least rows so far, greatest on top: the next to go
      val heap = new java.util.PriorityQueue[InternalRow](ord.reverse)
      rows.foreach { r =>
        if (heap.size < k) heap.add(r.copy())
        else if (k > 0 && ord.lt(r, heap.peek())) { heap.poll(); heap.add(r.copy()) }
      }
      candidates.add(heap.size)
      heap.toArray(new Array[InternalRow](heap.size)).sorted(ord)
    }
  }

  /** Holds each shard task's rows by partition. */
  private final class Merge(partitions: Int)
      extends ((Int, Array[InternalRow]) => Unit) with Serializable {
    val rows = new Array[Array[InternalRow]](partitions)
    override def apply(partition: Int, shardRows: Array[InternalRow]): Unit =
      rows(partition) = shardRows
  }
}

/** Plans [[PerShard]]: one [[ShardExchangeExec]] per aux child, keyed by its
  * doc_id; and a global top-k straight over it ([[PerShardTopKExec]]), in
  * the shapes Spark's `SpecialLimits` plans as `TakeOrderedAndProjectExec`
  * (this strategy runs before it).
  */
object PerShardStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(root) => topK(root).toSeq
    case p: PerShard =>
      def byDoc(c: LogicalPlan) = ShardExchangeExec(c.output.head, p.shards, p.width, planLater(c))
      PerShardExec(p.shards, p.width, p.f, p.encoder, p.output, p.postings,
        p.excluded.map(byDoc), p.allowed.map(byDoc)) :: Nil
    case other => topK(other).toSeq
  }

  private def topK(plan: LogicalPlan): Option[SparkPlan] = {
    def over(limit: Int, offset: Int, child: LogicalPlan) = child match {
      case _ if limit >= SQLConf.get.topKSortFallbackThreshold => None
      case Sort(order, true, p: PerShard, _) =>
        Some(PerShardTopKExec(limit, order, p.output, planLater(p), offset))
      case Project(list, Sort(order, true, p: PerShard, _)) =>
        Some(PerShardTopKExec(limit, order, list, planLater(p), offset))
      case _ => None
    }
    plan match {
      case LimitAndOffset(limit, offset, child) => over(limit, offset, child)
      case OffsetAndLimit(offset, limit, child) => over(offset + limit, offset, child)
      case Limit(IntegerLiteral(limit), child) => over(limit, 0, child)
      case _ => None
    }
  }
}
