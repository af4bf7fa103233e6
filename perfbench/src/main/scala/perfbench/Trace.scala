package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-metric totals of one stage (or of any set of stages). */
final class Totals {
  var tasks = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var cpuNs = 0L

  def add(o: Totals): Totals = {
    tasks += o.tasks; inputBytes += o.inputBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes; shuffleReadBytes += o.shuffleReadBytes
    fetchWaitMs += o.fetchWaitMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; cpuNs += o.cpuNs
    this
  }
}

final case class JobRec(id: Int, group: String, startMs: Long, var endMs: Long, stageIds: Seq[Int])

final class StageRec(val id: Int) {
  var submitMs = 0L
  var endMs = 0L
  val totals = new Totals
}

/** One `SparkListener` for the whole run: jobs with their job group (the
  * benchmark sets one group per op), stages with their wall, and task
  * metrics summed per stage. Read it only after [[Trace.drain]].
  */
final class BenchListener extends SparkListener {
  val jobs: mutable.LinkedHashMap[Int, JobRec] = mutable.LinkedHashMap()
  val stages: mutable.HashMap[Int, StageRec] = mutable.HashMap()
  /** Every task the listener saw, whatever job ran it. */
  val all = new Totals

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = JobRec(e.jobId, group, e.time, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
    s.endMs = e.stageInfo.completionTime.getOrElse(s.submitMs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val t = stage(e.stageId).totals
    t.tasks += 1
    all.tasks += 1
    if (m != null) {
      all.inputBytes += m.inputMetrics.bytesRead
      all.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      all.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.inputBytes += m.inputMetrics.bytesRead
      t.inputRecords += m.inputMetrics.recordsRead
      t.outputBytes += m.outputMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      t.cpuNs += m.executorCpuTime
    }
  }

  /** Jobs of one op's job group. */
  def jobsOf(group: String): Seq[JobRec] = synchronized(jobs.values.filter(_.group == group).toSeq)

  /** Stages run by `js`. A stage belongs to the first job that lists it,
    * so no stage counts twice across jobs; skipped stages carry no tasks.
    */
  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    val owner = mutable.HashMap[Int, Int]()
    jobs.values.foreach(j => j.stageIds.foreach(s => owner.getOrElseUpdate(s, j.id)))
    js.flatMap(j => j.stageIds.filter(owner.get(_).contains(j.id))).distinct
      .flatMap(stages.get).filter(_.totals.tasks > 0)
  }
}

/** A recorded op: one query, build or batch. Times are epoch ms with a
  * sub-ms fraction; `jobs*` fields are filled from the listener.
  */
final case class Op(
    id: String,
    kind: String,
    cls: String,
    startMs: Double,
    wallMs: Double,
    fsBytesRead: Long,
    gcMs: Long,
    ok: Boolean)

/** A span of the trace tree: run › op › spark.job › spark.stage, plus
  * `kernel.replay` spans. Kept in memory and written once at the end.
  */
final case class Span(name: String, id: String, parent: String, startMs: Double, endMs: Double,
    attrs: Seq[(String, Any)] = Nil)

/** Op-level and layer-level measurement shared by the workloads. */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  val listener: BenchListener = if (enabled) new BenchListener else null
  if (enabled) sc.addSparkListener(listener)
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private var seq = 0

  // epoch ms with sub-ms resolution from the monotonic clock
  private val epochBaseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + epochBaseNs) / 1e6

  def drain(): Unit = if (enabled) org.apache.spark.BenchBus.drain(sc)

  /** Run `body` as one op with its own Spark job group. A thrown error
    * marks the op failed and yields None.
    */
  def op[T](kind: String, cls: String, ops: mutable.Buffer[Op])(body: => T): Option[T] = {
    seq += 1
    val id = f"op-$seq%05d-$kind"
    sc.setJobGroup(id, s"$kind $cls", interruptOnCancel = false)
    val gc0 = Trace.gcMs()
    val fs0 = Trace.fsBytesRead()
    val t0 = nowMs
    val res = try Some(body) catch {
      case e: Exception =>
        System.err.println(s"op $id failed: $e")
        None
    } finally sc.clearJobGroup()
    val t1 = nowMs
    ops += Op(id, kind, cls, t0, t1 - t0, Trace.fsBytesRead() - fs0, Trace.gcMs() - gc0, res.isDefined)
    res
  }

  /** Record a driver-side span (e.g. a kernel replay) with no Spark work. */
  def span[T](name: String, parent: String, attrs: Seq[(String, Any)] = Nil)(body: => T): T = {
    val t0 = nowMs
    val r = body
    spans += Span(name, s"$name-${spans.size}", parent, t0, nowMs, attrs)
    r
  }
}

object Trace {
  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans

  def gcMs(): Long = {
    var s = 0L
    gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
    s
  }

  /** Bytes read through the Hadoop `FileSystem` on the `file` scheme so
    * far, by the driver and the local executors alike. (The local file
    * system does not count read operations, only bytes.)
    */
  def fsBytesRead(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesRead"))).map(_.longValue).getOrElse(0L)

  /** Heap in use after a full collection, in MB. The pause lets Spark's
    * cleaner release what the first collection made unreachable.
    */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(300); System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Length of the union of closed intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    iv.sortBy(_._1).foreach { case (lo, hi) =>
      if (curLo.isNaN || lo > curHi) {
        if (!curLo.isNaN) total += curHi - curLo
        curLo = lo; curHi = hi
      } else if (hi > curHi) curHi = hi
    }
    if (!curLo.isNaN) total += curHi - curLo
    total
  }
}
