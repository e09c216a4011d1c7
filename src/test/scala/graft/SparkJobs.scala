package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts, and the input records
  * their tasks read. */
object SparkJobs {

  /** The jobs group `own` starts and the input records of their tasks,
    * and the groups of the jobs that end. */
  private final class GroupListener(own: String) extends SparkListener {
    val jobs = new AtomicInteger()
    val records = new AtomicLong()
    val ended = new ConcurrentLinkedQueue[String]()
    private val groups = new ConcurrentHashMap[Int, String]()
    private val stages = ConcurrentHashMap.newKeySet[Int]()
    private def group(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = group(e.properties)
      groups.put(e.jobId, g)
      if (g == own) {
        jobs.incrementAndGet()
        e.stageIds.foreach(stages.add(_))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      ended.add(groups.getOrDefault(e.jobId, ""))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stages.contains(e.stageId) && e.taskMetrics != null)
        records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
  }

  private val calls = new AtomicInteger()

  /** Runs `f` in its own job group; the listener sees every event of it.
    * Counted by job group, so jobs of suites running beside the caller
    * do not count; a marker job in its own group drains the listener
    * bus, which delivers events in order. */
  private def observe[T](spark: SparkSession)(f: => T): GroupListener = {
    val sc = spark.sparkContext
    val n = calls.incrementAndGet()
    val (g, marker) = (s"jobs-$n", s"jobs-drain-$n")
    val listener = new GroupListener(g)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(g, g, interruptOnCancel = false)
      try f finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker, interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 60000
      while (!listener.ended.contains(marker) && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      assert(listener.ended.contains(marker), "listener bus did not drain")
      listener
    } finally sc.removeSparkListener(listener)
  }

  /** Spark jobs `f` starts. */
  def count[T](spark: SparkSession)(f: => T): Int = observe(spark)(f).jobs.get

  /** Input records the tasks of the jobs `f` starts read (the sum of
    * their `inputMetrics.recordsRead`): rows of the row groups a scan
    * did not skip. */
  def inputRecords[T](spark: SparkSession)(f: => T): Long =
    observe(spark)(f).records.get
}
