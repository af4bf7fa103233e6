package perfbench

import scala.collection.mutable

/** Metric values of one run, in print order. */
final class Metrics {
  val values: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap()
  def update(name: String, unit: String, v: Double): Unit = values(name) = (v, unit)
}

/** One op with its jobs, stages and task totals from the listener. */
final case class OpLayers(op: Op, jobs: Seq[JobRec], stages: Seq[StageRec], totals: Totals,
    preJobMs: Double, coveredMs: Double, finalStageMs: Double) {
  def selfMs: Double = op.wallMs - coveredMs
}

/** Layer attribution of recorded ops from the listener. */
final class Layers(trace: Trace) {
  private val l = trace.listener

  def of(op: Op): OpLayers = {
    val js = l.jobsOf(op.id)
    val st = l.stagesOf(js)
    val tot = st.foldLeft(new Totals)((a, s) => a.add(s.totals))
    val end = op.startMs + op.wallMs
    val iv = js.map(j => (math.max(op.startMs, j.startMs.toDouble), math.min(end, j.endMs.toDouble)))
      .filter { case (a, b) => b > a }
    val pre = if (js.isEmpty) op.wallMs else math.max(0.0, js.map(_.startMs).min - op.startMs)
    val fin = if (st.isEmpty) 0.0 else { val s = st.maxBy(_.endMs); (s.endMs - s.submitMs).toDouble }
    OpLayers(op, js, st, tot, pre, Trace.covered(iv), fin)
  }

  private def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-query layer metrics of one query class. */
  def queryMetrics(ops: collection.Seq[Op], cls: String, m: Metrics): Unit = {
    val ls = ops.toSeq.filter(o => o.kind == "query" && o.cls == cls && o.ok).map(of)
    val p = s"$cls."
    val wall = ls.map(_.op.wallMs).sum
    m(p + "plan.pre_job_ms", "ms") = Stats.median(ls.map(_.preJobMs))
    m(p + "plan.pre_job_share", "ratio") = ls.map(_.preJobMs).sum / wall
    m(p + "plan.jobs_per_query", "count") = mean(ls.map(_.jobs.size.toDouble))
    m(p + "io.fs_bytes_read_per_query", "B") = mean(ls.map(_.op.fsBytesRead.toDouble))
    m(p + "scan.bytes_per_query", "B") = mean(ls.map(_.totals.inputBytes.toDouble))
    m(p + "scan.records_per_query", "count") = mean(ls.map(_.totals.inputRecords.toDouble))
    m(p + "exchange.shuffle_bytes_per_query", "B") = mean(ls.map(_.totals.shuffleReadBytes.toDouble))
    m(p + "spark.stages_per_query", "count") = mean(ls.map(_.stages.size.toDouble))
    m(p + "spark.tasks_per_query", "count") = mean(ls.map(_.totals.tasks.toDouble))
    m(p + "spark.task_cpu_ms_per_query", "ms") = mean(ls.map(_.totals.cpuNs / 1e6))
    m(p + "topk.final_stage_ms", "ms") = mean(ls.map(_.finalStageMs))
    m(p + "jobs_share", "ratio") = ls.map(_.coveredMs).sum / wall
    m(p + "self_ms_per_query", "ms") = mean(ls.map(_.selfMs))
  }

  /** Layer metrics of the index-producing ops (builds or batches);
    * `inputBytes` maps an op id to the bytes of its input turns table.
    */
  def indexMetrics(ops: collection.Seq[Op], inputBytes: Map[String, Long], m: Metrics): Unit = {
    val ls = ops.toSeq.filter(o => (o.kind == "build" || o.kind == "batch") && o.ok).map(of)
    def med(f: OpLayers => Double) = Stats.median(ls.map(f))
    def in(o: OpLayers) = inputBytes(o.op.id).toDouble
    m("index.op_ms", "ms") = med(_.op.wallMs)
    m("index.self_ms", "ms") = med(_.selfMs)
    m("scan.input_bytes", "B") = med(_.totals.inputBytes.toDouble)
    m("index.output_bytes", "B") = med(_.totals.outputBytes.toDouble)
    m("exchange.shuffle_write_bytes", "B") = med(_.totals.shuffleWriteBytes.toDouble)
    m("exchange.shuffle_read_bytes", "B") = med(_.totals.shuffleReadBytes.toDouble)
    m("spark.spill_bytes", "B") = med(_.totals.spillBytes.toDouble)
    m("spark.task_cpu_ms", "ms") = med(_.totals.cpuNs / 1e6)
    m("spark.jobs_per_index_op", "count") = med(_.jobs.size.toDouble)
    m("io.read_amplification", "ratio") = med(o => o.totals.inputBytes / in(o))
    m("io.write_amplification", "ratio") = med(o => o.totals.outputBytes / in(o))
  }

  /** Per-op input and shuffle bytes, plus the jobs run outside any op
    * (set-up, checks), must add up to every task the listener saw.
    */
  def reconciles(ops: collection.Seq[Op]): Boolean = {
    val ids = ops.map(_.id).toSet
    val outside = l.synchronized(l.jobs.values.filterNot(j => ids(j.group)).toSeq)
    val sum = (ops.map(of(_).totals) :+ l.stagesOf(outside).foldLeft(new Totals)((a, s) => a.add(s.totals)))
      .foldLeft(new Totals)((a, t) => a.add(t))
    val all = l.synchronized(l.all)
    sum.inputBytes == all.inputBytes && sum.shuffleReadBytes == all.shuffleReadBytes &&
      sum.shuffleWriteBytes == all.shuffleWriteBytes
  }

  /** The span tree of `ops` under one run span. */
  def spans(ops: collection.Seq[Op], runId: String): Seq[Span] = ops.toSeq.flatMap { op =>
    val o = of(op)
    val opSpan = Span("op", op.id, runId, op.startMs, op.startMs + op.wallMs,
      Seq("kind" -> op.kind, "cls" -> op.cls, "ok" -> op.ok, "self_ms" -> o.selfMs,
        "pre_job_ms" -> o.preJobMs, "fs_bytes_read" -> op.fsBytesRead, "gc_ms" -> op.gcMs))
    val jobSpans = o.jobs.flatMap { j =>
      Span("spark.job", s"job-${j.id}", op.id, j.startMs.toDouble, j.endMs.toDouble) +:
        l.stagesOf(Seq(j)).map { s =>
          val t = s.totals
          Span("spark.stage", s"stage-${s.id}", s"job-${j.id}", s.submitMs.toDouble, s.endMs.toDouble,
            Seq("tasks" -> t.tasks, "input_bytes" -> t.inputBytes, "input_records" -> t.inputRecords,
              "output_bytes" -> t.outputBytes, "shuffle_read_bytes" -> t.shuffleReadBytes,
              "fetch_wait_ms" -> t.fetchWaitMs, "shuffle_write_bytes" -> t.shuffleWriteBytes,
              "spill_bytes" -> t.spillBytes, "cpu_ms" -> t.cpuNs / 1e6))
        }
    }
    opSpan +: jobSpans
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Metrics => obj(m.values.toSeq.map { case (k, (x, u)) =>
      k -> Seq[(String, Any)]("value" -> x, "unit" -> u) })
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) =>
      obj(kv.asInstanceOf[Seq[(String, Any)]])
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def span(s: Span): String = obj(Seq("span" -> s.name, "id" -> s.id, "parent" -> s.parent,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs)
}
