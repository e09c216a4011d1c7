package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Diagnostic: per-stage wall/CPU time of the index build at two
  * parallelism levels. */
object ScalingProbe {
  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cpus]")
      .appName(s"probe$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val docs = sys.env.getOrElse("PROBE_DOCS", "240000").toLong
    sys.env.getOrElse("PROBE_ORDER", "8,32").split(",").map(_.trim.toInt).toSeq.foreach { cpus =>
      val spark = session(cpus)
      import graft.index._
      // warm
      IndexBuilder.build(spark,
        Corpus.generate(spark, 2000, partitions = cpus),
        TestDirs("probewarm"),
        IndexBuilder.Config(numSegments = 8))
      val listener = new SparkListener {
        override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
          val si = ev.stageInfo
          val wall = (si.completionTime.get - si.submissionTime.get) / 1000.0
          val run = si.taskMetrics.executorRunTime / 1000.0
          val cpu = si.taskMetrics.executorCpuTime / 1e9
          println(f"[stage-$cpus] id=${si.stageId}%3d tasks=${si.numTasks}%4d wall=$wall%7.2fs run=$run%8.2fs cpu=$cpu%8.2fs  ${si.name.take(60)}")
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      IndexBuilder.build(spark, Corpus.generate(spark, docs, partitions = cpus * 4),
        TestDirs(s"probe$cpus"),
        IndexBuilder.Config(numSegments = 64))
      println(f"[probe] local[$cpus] total build: ${(System.nanoTime() - t0) / 1e9}%.2f s for $docs docs")
      Thread.sleep(1000)
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
