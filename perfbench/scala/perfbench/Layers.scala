package perfbench

import perfbench.JobListener.{Job, Stage, Task}

/** One traced call with the Spark work attributed to it. */
final class Call(val span: Span, val jobs: Seq[Job], val stages: Seq[Stage],
                 children: Seq[Span]) {
  def wallMs: Double = span.wallMs
  def tasks: Seq[Task] = stages.flatMap(_.tasks)
  /** Wall time covered by this call's own Spark jobs. */
  def jobMs: Double =
    Stats.covered(jobs.map(j => (j.startMs, if (j.endMs >= 0) j.endMs else span.endMs)),
      span.startMs, span.endMs).toDouble
  /** Wall time covered neither by the call's jobs nor by child spans. */
  def selfMs: Double = {
    val iv = jobs.map(j => (j.startMs, if (j.endMs >= 0) j.endMs else span.endMs)) ++
      children.map(c => (c.startMs, c.endMs))
    math.max(0.0, wallMs - Stats.covered(iv, span.startMs, span.endMs))
  }
  def runMs: Double = stages.map(_.runMs).sum.toDouble
  def waitMs: Double = stages.map(_.waitMs).sum.toDouble
  def gcMs: Double = stages.map(_.gcMs).sum.toDouble
  def shuffleWrite: Double = stages.map(_.shuffleWrite).sum.toDouble
  def spill: Double = stages.map(_.spill).sum.toDouble
  def input: Double = stages.map(_.input).sum.toDouble
  def output: Double = stages.map(_.output).sum.toDouble
}

/** Per-layer metrics computed from the spans and listener records of a
  * traced run. A layer the workload never called reports 0. */
object Layers {
  type Metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)]

  /** Max over median task run time, among tasks that read rows. */
  def skew(tasks: Seq[Task]): Double = {
    val busy = tasks.filter(t => t.recordsRead + t.shuffleReadRecords > 0).map(_.runMs.toDouble)
    val med = Stats.median(busy)
    if (busy.isEmpty || med <= 0) 0.0 else busy.max / med
  }

  def compute(tr: Tracer, gauges: Map[String, Double]): Metrics = {
    val l = tr.listener
    val byParent = tr.spans.groupBy(_.parent)
    def calls(name: String): Seq[Call] = tr.spans.filter(_.name == name).map { s =>
      new Call(s, l.jobsOf(s.group), l.stagesOf(s.group), byParent.getOrElse(s.id, Nil).toSeq)
    }.toSeq
    val m: Metrics = scala.collection.mutable.LinkedHashMap()
    def put(name: String, v: Double, unit: String): Unit = m(name) = (v, unit)
    def med(cs: Seq[Call])(f: Call => Double): Double = Stats.median(cs.map(f))
    def avg(cs: Seq[Call])(f: Call => Double): Double = Stats.mean(cs.map(f))

    // IndexBuilder: the scan stage reads the table and writes the segment
    // shuffle; the segment stage reads it and writes the segment files
    val build = calls("IndexBuilder.build")
    def scanStages(c: Call) = c.stages.filter(s => s.shuffleWrite > 0 && s.shuffleRead == 0)
    def segStages(c: Call) = c.stages.filter(s => s.shuffleRead > 0 && s.output > 0)
    put("IndexBuilder.build.wall_s", med(build)(_.wallMs) / 1e3, "s")
    put("IndexBuilder.build.jobs", med(build)(_.jobs.size), "count")
    put("IndexBuilder.build.driver_self_s", med(build)(_.selfMs) / 1e3, "s")
    put("IndexBuilder.build.scan_stage_s", med(build)(c => scanStages(c).map(_.runMs).sum) / 1e3, "s")
    put("IndexBuilder.build.segment_stage_s", med(build)(c => segStages(c).map(_.runMs).sum) / 1e3, "s")
    val segRun = build.flatMap(segStages).map(_.runMs).sum
    put("IndexBuilder.build.segment_stage_cpu_ratio",
      if (segRun > 0) build.flatMap(segStages).map(_.cpuMs).sum / segRun else 0.0, "ratio")
    put("IndexBuilder.build.task_skew", med(build)(c => skew(segStages(c).flatMap(_.tasks))), "ratio")
    put("IndexBuilder.build.task_wait_s", med(build)(_.waitMs) / 1e3, "s")
    put("IndexBuilder.build.gc_s", med(build)(_.gcMs) / 1e3, "s")
    put("IndexBuilder.build.shuffle_write_bytes", med(build)(_.shuffleWrite), "bytes")
    put("IndexBuilder.build.spill_bytes", med(build)(_.spill), "bytes")
    put("IndexBuilder.build.output_bytes", med(build)(_.output), "bytes")

    put("Searcher.open_s", med(calls("Searcher.open"))(_.wallMs) / 1e3, "s")
    val served = calls("Searcher.searchRaw")
    val misses = served.filter(_.jobs.nonEmpty)
    put("Searcher.searchRaw.hit_ratio",
      if (served.isEmpty) 0.0 else (served.size - misses.size).toDouble / served.size, "ratio")
    // local work (decode, WAND, merge) is timed on the calls that ran no job
    val local = served.filter(_.jobs.isEmpty).map(_.wallMs)
    put("Searcher.searchRaw.local_ms_p50", Stats.pct(local, 0.5), "ms")
    put("Searcher.searchRaw.local_ms_p99", Stats.pct(local, 0.99), "ms")
    put("Searcher.fetch.ms_p50", Stats.median(misses.map(_.jobMs)), "ms")
    put("Searcher.fetch.jobs_per_miss", avg(misses)(_.jobs.size), "count")
    put("Searcher.fetch.input_bytes", avg(misses)(_.input), "bytes")
    put("Spark.gc_ms", gauges.getOrElse("Spark.gc_ms", 0.0), "ms")

    val append = calls("LiveIndex.appendBatch")
    put("LiveIndex.appendBatch.wall_s_p50", med(append)(_.wallMs) / 1e3, "s")
    put("LiveIndex.appendBatch.jobs", med(append)(_.jobs.size), "count")
    put("LiveIndex.appendBatch.driver_self_s", med(append)(_.selfMs) / 1e3, "s")
    put("LiveIndex.appendBatch.executor_s", med(append)(_.runMs) / 1e3, "s")
    put("LiveIndex.appendBatch.shuffle_write_bytes", med(append)(_.shuffleWrite), "bytes")
    put("LiveIndex.appendBatch.output_bytes", med(append)(_.output), "bytes")

    put("InvertedIndex.open_ms", med(calls("InvertedIndex.open"))(_.wallMs), "ms")
    put("InvertedIndex.segments", gauges.getOrElse("InvertedIndex.segments", 0.0), "count")
    val raw = calls("InvertedIndex.searchRaw")
    put("InvertedIndex.searchRaw.ms_p50", med(raw)(_.wallMs), "ms")
    put("InvertedIndex.searchRaw.jobs_per_call", avg(raw)(_.jobs.size), "count")
    put("InvertedIndex.searchRaw.tasks_per_call", avg(raw)(_.tasks.size), "count")
    put("InvertedIndex.searchRaw.executor_ms_per_call", avg(raw)(_.runMs), "ms")
    put("InvertedIndex.searchRaw.driver_self_ms_per_call", avg(raw)(_.selfMs), "ms")
    put("InvertedIndex.searchRaw.task_wait_ms_per_call", avg(raw)(_.waitMs), "ms")
    put("InvertedIndex.searchRaw.input_bytes_per_call", avg(raw)(_.input), "bytes")
    val resolve = calls("InvertedIndex.resolve")
    put("InvertedIndex.resolve.ms_p50", med(resolve)(_.wallMs), "ms")
    put("InvertedIndex.resolve.jobs_per_call", avg(resolve)(_.jobs.size), "count")
    put("InvertedIndex.resolve.input_bytes_per_call", avg(resolve)(_.input), "bytes")
    val batch = calls("InvertedIndex.searchBatchRaw")
    val batchQueries = batch.map(_.span.n).sum
    put("InvertedIndex.searchBatchRaw.ms_per_query",
      if (batchQueries == 0) 0.0 else batch.map(_.wallMs).sum / batchQueries, "ms")
    put("InvertedIndex.searchBatchRaw.jobs", med(batch)(_.jobs.size), "count")

    val compact = calls("SegmentMerge.compact")
    put("SegmentMerge.compact.wall_s", med(compact)(_.wallMs) / 1e3, "s")
    put("SegmentMerge.compact.jobs", med(compact)(_.jobs.size), "count")
    put("SegmentMerge.compact.shuffle_write_bytes", med(compact)(_.shuffleWrite), "bytes")
    put("SegmentMerge.compact.spill_bytes", med(compact)(_.spill), "bytes")
    m
  }
}
