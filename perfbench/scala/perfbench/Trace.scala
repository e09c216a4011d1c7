package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `req` groups the spans of one request
  * (a query, a build round, a live round); `parent` is 0 at top level. */
final class Span(val id: Int, val name: String, val parent: Int, val req: String,
                 val n: Int, val startMs: Long, val startNs: Long) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  def group: String = Tracer.groupOf(id)
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into the program. While enabled,
  * each span sets the Spark job group to its own id, so the listener
  * can attribute every job, stage and task to the call that caused it.
  * Disabled, `span` is a plain call: no clock reads, no job group. */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer[Span]()
  val listener = new JobListener
  private var on = false
  private var stack: List[Span] = Nil
  private var nextId = 1
  private var drains = 0
  /** Epoch-ms windows during which tracing was on. */
  val windows = ArrayBuffer[(Long, Long)]()

  /** `n` is the number of requests the call serves (a batch's size). */
  def span[T](name: String, req: String, n: Int = 1)(f: => T): T = {
    if (!on) return f
    val s = new Span(nextId, name, stack.headOption.fold(0)(_.id), req, n,
      System.currentTimeMillis(), System.nanoTime())
    nextId += 1
    spans += s
    stack = s :: stack
    sc.setJobGroup(s.group, name, interruptOnCancel = false)
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Attach the listener and start recording spans. */
  def start(): Unit = if (!on) {
    sc.addSparkListener(listener)
    on = true
    windows += ((System.currentTimeMillis(), Long.MaxValue))
  }

  /** Stop recording: run one marker job and wait until the listener has
    * seen it end, so every event of the window has been delivered before
    * the listener detaches. */
  def stop(): Unit = if (on) {
    drains += 1
    val g = s"perfbench-drain-$drains"
    sc.setJobGroup(g, "trace.drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 60000
    while (!listener.ended(g) && System.currentTimeMillis() < deadline) Thread.sleep(2)
    require(listener.ended(g), "trace: listener did not drain within 60 s")
    val (s, _) = windows.last
    windows(windows.length - 1) = (s, System.currentTimeMillis())
    on = false
    sc.removeSparkListener(listener)
  }

  /** Jobs started inside a tracing window whose group names no span. */
  def unattributedJobs: Seq[JobListener.Job] = listener.synchronized {
    listener.jobs.values.filter { j =>
      Tracer.idOf(j.group).isEmpty &&
        !Option(j.group).exists(_.startsWith("perfbench-drain-")) &&
        windows.exists { case (a, b) => j.startMs >= a && j.startMs <= b }
    }.toSeq
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      val jobs = listener.jobsOf(s.group)
      sb.append(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":"${s.req}",""")
      sb.append(s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_ms":${s.wallMs},""")
      sb.append(s""""jobs":[${jobs.map(_.id).mkString(",")}]}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  private val Prefix = "perfbench-span-"
  def groupOf(id: Int): String = Prefix + id
  def idOf(group: String): Option[Int] =
    if (group != null && group.startsWith(Prefix)) Some(group.drop(Prefix.length).toInt)
    else None
}

object JobListener {
  final class Job(val id: Int, val group: String, val startMs: Long) {
    var endMs: Long = -1L
  }
  /** Task metrics kept per task: times in ms, sizes in bytes. */
  final case class Task(launchMs: Long, runMs: Long, cpuMs: Double,
                        gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
                        shuffleReadRecords: Long, spill: Long, input: Long,
                        recordsRead: Long, output: Long)
  final class Stage(val id: Int, val group: String) {
    var submitMs: Long = -1L
    val tasks = ArrayBuffer[Task]()
    def waitMs: Long = tasks.map(t => math.max(0L, t.launchMs - submitMs)).sum
    def runMs: Long = tasks.map(_.runMs).sum
    def cpuMs: Double = tasks.map(_.cpuMs).sum
    def gcMs: Long = tasks.map(_.gcMs).sum
    def shuffleWrite: Long = tasks.map(_.shuffleWrite).sum
    def shuffleRead: Long = tasks.map(_.shuffleRead).sum
    def spill: Long = tasks.map(_.spill).sum
    def input: Long = tasks.map(_.input).sum
    def output: Long = tasks.map(_.output).sum
  }
}

/** Records Spark jobs, stages and task metrics by job group. Runs on the
  * listener bus thread; readers synchronize on the instance. Events for
  * jobs or stages it never saw start (queued before it attached) are
  * dropped. */
final class JobListener extends SparkListener {
  import JobListener._
  val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
  val stages = scala.collection.mutable.HashMap[Int, Stage]()

  private def groupIn(p: java.util.Properties): String =
    if (p == null) null else p.getProperty("spark.jobGroup.id")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupIn(e.properties)
    jobs(e.jobId) = new Job(e.jobId, g, e.time)
    e.stageIds.foreach(id => if (!stages.contains(id)) stages(id) = new Stage(id, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get(e.stageId).foreach { s =>
      if (m != null) {
        val i = e.taskInfo
        s.tasks += Task(i.launchTime, m.executorRunTime,
          m.executorCpuTime / 1e6, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
          m.diskBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten)
      }
    }
  }

  def ended(group: String): Boolean = synchronized {
    jobs.values.exists(j => j.group == group && j.endMs >= 0)
  }

  def jobsOf(group: String): Seq[Job] = synchronized {
    jobs.values.filter(_.group == group).toSeq
  }

  def stagesOf(group: String): Seq[Stage] = synchronized {
    stages.values.filter(s => s.group == group && s.submitMs >= 0).toSeq.sortBy(_.id)
  }
}
