package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts. */
object SparkJobs {

  /** Job start/end events by job group. */
  private final class GroupListener extends SparkListener {
    val started = new ConcurrentLinkedQueue[String]()
    val ended = new ConcurrentLinkedQueue[String]()
    private val groups = new ConcurrentHashMap[Int, String]()
    private def group(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = group(e.properties)
      groups.put(e.jobId, g)
      started.add(g)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      ended.add(groups.getOrDefault(e.jobId, ""))
  }

  private val calls = new AtomicInteger()

  /** Spark jobs `f` starts. Counted by job group, so jobs of suites
    * running beside the caller do not count; a marker job in its own
    * group drains the listener bus, which delivers events in order. */
  def count[T](spark: SparkSession)(f: => T): Int = {
    val sc = spark.sparkContext
    val listener = new GroupListener
    val n = calls.incrementAndGet()
    val (g, marker) = (s"jobs-$n", s"jobs-drain-$n")
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
      listener.started.asScala.count(_ == g)
    } finally sc.removeSparkListener(listener)
  }
}
