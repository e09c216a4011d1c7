package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Run sizes. `Full` is the benchmark; `Tiny` is the self-check's. */
final case class Scale(corpusDocs: Long, segments: Int, streamQueries: Int,
                       serveWarmQueries: Int, serveBlock: Int, checkQueries: Int,
                       liveBatchDocs: Long, liveRounds: Int,
                       liveBatchQueries: Int, liveMinQueries: Int, openReps: Int)

object Scale {
  val Full = Scale(corpusDocs = 6000, segments = 16, streamQueries = 40000,
    serveWarmQueries = 400, serveBlock = 100, checkQueries = 16,
    liveBatchDocs = 500, liveRounds = 5,
    liveBatchQueries = 6, liveMinQueries = 2, openReps = 5)
  val Tiny = Scale(corpusDocs = 800, segments = 4, streamQueries = 2000,
    serveWarmQueries = 50, serveBlock = 20, checkQueries = 8,
    liveBatchDocs = 100, liveRounds = 2,
    liveBatchQueries = 3, liveMinQueries = 2, openReps = 1)
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      cpus: Int, work: String, traceOut: String, tiny: Boolean)

/** State of one benchmark run: session, tracer, op and check counts,
  * metrics, and the set-up clock. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer(spark.sparkContext)
  val scale: Scale = if (args.tiny) Scale.Tiny else Scale.Full
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val gauges = mutable.Map[String, Double]()
  var attempted = 0L
  var failed = 0L
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private var setupSurplusMs = 0.0

  def info(s: String): Unit =
    println(f"[perfbench +${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs] $s")
  def dir(name: String): String = s"${args.work}/$name"
  def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def ops(n: Int): Unit = attempted += n

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED $name $detail")
    }
  }

  /** Runs a set-up step `reps` times; set-up time counts its median. */
  def setupStep[T](name: String, reps: Int)(f: => T): T = {
    val runs = (1 to math.max(1, reps)).map(_ => Ctx.timed(f))
    val ms = runs.map(_._2)
    setupSurplusMs += ms.sum - Stats.median(ms)
    info(f"setup $name: ${ms.map(m => f"$m%.0f").mkString(" ")} ms")
    runs.last._1
  }

  /** CPU time the host gave to other guests ("steal" in /proc/stat), as a
    * share of all CPU time since `setupDone`; 0 where not reported. */
  private var cpuAtSetup: Option[(Long, Long)] = None
  private def cpuTimes(): Option[(Long, Long)] = scala.util.Try {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .split("\\s+").drop(1).map(_.toLong)
    (f(7), f.take(8).sum)
  }.toOption
  def stealShare(): Double = (for ((s0, t0) <- cpuAtSetup; (s1, t1) <- cpuTimes())
    yield if (t1 > t0) (s1 - s0).toDouble / (t1 - t0) else 0.0).getOrElse(0.0)

  /** Marks the end of set-up: JVM start to here, less repeated steps. */
  def setupDone(): Unit = {
    cpuAtSetup = cpuTimes()
    val setupS = (System.currentTimeMillis() - jvmStartMs - setupSurplusMs) / 1e3
    put("setup_s", setupS, "s")
    info(f"setup done: setup_s=$setupS%.2f")
  }

  /** Traced runs alternate traced and untraced blocks; returns whether
    * block `i` is traced. Untraced runs never trace. */
  def block(i: Int): Boolean = {
    val on = args.trace && i % 2 == 0
    if (on) tracer.start() else tracer.stop()
    on
  }

  /** JVM garbage-collection time so far; local executors share the
    * driver's JVM, so this is all the GC the run paid. */
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Heap in use after a full collection, with `keep` still reachable. */
  def retainedHeapMb(keep: AnyRef*): Double = {
    System.gc(); System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    java.lang.ref.Reference.reachabilityFence(keep)
    used / 1048576.0
  }

  /** The traced-over-untraced ratio of one headline latency. */
  def overhead(traced: Iterable[Double], untraced: Iterable[Double]): Unit = {
    val u = Stats.median(untraced)
    put("trace.overhead_ratio", if (u > 0) Stats.median(traced) / u else 0.0, "ratio")
  }
}

object Ctx {
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e6)
  }
}

object Main {
  val EndToEnd = Seq("setup_s", "p50_ms", "tail_ms", "rate_per_s", "op2_ms", "op3_ms",
    "retained_heap_mb", "index_bytes_per_input_byte")

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cpus").toInt, need("work"), need("trace-out"),
      m.get("scale").contains("tiny"))
  }

  private def json(ctx: Ctx, correct: Boolean): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = ctx.metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": ${math.max(1L, ctx.attempted)}, "failed": ${ctx.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${args.cpus}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${args.work}/hadoop-tmp")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, args)
    ctx.info(s"session ready; workload=${args.workload} seed=${args.seed} seconds=${args.seconds} trace=${args.trace} " +
      s"nproc=${args.cpus} heap_max_mb=${Runtime.getRuntime.maxMemory / 1048576} scale=${if (args.tiny) "tiny" else "full"}")
    ctx.info("spark_conf " + spark.sparkContext.getConf.getAll
      .filter(_._1.startsWith("spark.")).sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    val ok = try {
      args.workload match {
        case "serve" => Workloads.serve(ctx)
        case "live" => Workloads.live(ctx)
        case w => sys.error(s"unknown workload $w")
      }
      ctx.tracer.stop()
      if (args.trace) {
        val lost = ctx.tracer.unattributedJobs
        ctx.check("trace.attribution", lost.isEmpty,
          s"jobs without a span: ${lost.map(j => s"${j.id}(${j.group})").mkString(",")}")
        val layers = Layers.compute(ctx.tracer, ctx.gauges.toMap)
        val probe = ctx.metrics.filter(_._1.contains("."))
        ctx.metrics.clear()
        ctx.metrics ++= layers ++ probe
        ctx.tracer.writeJsonl(java.nio.file.Paths.get(args.traceOut))
        ctx.info(s"spans: ${ctx.tracer.spans.size} written to ${args.traceOut}")
      } else {
        ctx.metrics.keys.filterNot(EndToEnd.contains).toSeq.foreach(ctx.metrics.remove)
        val missing = EndToEnd.filterNot(ctx.metrics.contains)
        require(missing.isEmpty, s"metrics not measured: ${missing.mkString(",")}")
      }
      ctx.failed == 0
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        ctx.attempted += 1
        ctx.failed += 1
        false
    }
    ctx.info(f"done; host steal since set-up ${ctx.stealShare() * 100}%.1f%% of CPU time")
    println(json(ctx, ok))
    System.out.flush()
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}
