package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (UTC, small shuffle width). */
object TestSpark {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Adaptive partition coalescing off: the docID-shard operator then plans
    * the session's shuffle partitions as shards, whatever the query's
    * postings bytes (`graft.sql.PerShard.count`).
    */
  val NoCoalescing: (String, String) = "spark.sql.adaptive.coalescePartitions.enabled" -> "false"

  /** `body` with the session conf `settings` set, each restored after. */
  def withConf[A](settings: (String, String)*)(body: => A): A = {
    val before = settings.map { case (k, _) => k -> session.conf.getOption(k) }
    settings.foreach { case (k, v) => session.conf.set(k, v) }
    try body finally before.foreach {
      case (k, Some(v)) => session.conf.set(k, v)
      case (k, None) => session.conf.unset(k)
    }
  }

  /** `body` at the shard count the query's size gives (one shard at test
    * sizes), then again at the session's shuffle partitions, so a check
    * covers the shard exchanges with several reduce partitions too.
    */
  def atEachShardCount(body: => Unit): Unit = {
    body
    withConf(NoCoalescing)(body)
  }

  /** The Spark jobs `body` runs and the input bytes their tasks read. */
  final case class Jobs(count: Int, inputBytes: Long)

  /** The Spark jobs `body` runs, counted by a listener on the jobs of a
    * fresh job group (jobs `body` starts on other threads are not counted).
    */
  def jobCount(body: => Unit): Int = jobs(body).count

  /** The Spark jobs of a fresh job group that `body` runs, with the input
    * bytes (task input metrics) of their stages' tasks.
    */
  def jobs(body: => Unit): Jobs = {
    val sc = session.sparkContext
    val group = s"job-count-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach { g =>
            if (g == group) e.stageIds.foreach(stages.add)
            groups.add(g)
          }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      // the listener bus delivers in order: once a later job's start is
      // seen, every job of `body` and each of its tasks has been counted
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      require(groups.contains(sentinel), "listener bus did not deliver the sentinel job")
      Jobs(groups.toArray.count(_ == group), bytes.get)
    } finally sc.removeSparkListener(listener)
  }
}
