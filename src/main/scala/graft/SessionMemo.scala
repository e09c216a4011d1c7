package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

import graft.index.IndexBuilder

/** The one home of derived driver state: table handles, transient
  * indexes, checkpointed frames, trained models.
  *
  * An entry is keyed by (session, dir, name), the session by identity,
  * so another session (`newSession()`, or a new one after `stop()`)
  * never sees it and no entry checks its own validity. The first entry
  * of a SparkContext registers one listener; when the context ends it
  * drops the context's entries and deletes the temp dirs they own.
  * Nothing is evicted while the context lives: a face returns a
  * DataFrame that reads its transient index lazily, so deleting that dir
  * under a live session could break a caller mid-read. The bound is per
  * live context, and a JVM has at most one.
  *
  * Builds re-enter the memo (an index build reads a memoized table), and
  * a ConcurrentHashMap must not be updated inside its own compute. So the
  * map only installs a per-key slot, whose lazy val builds the value
  * after the map call returns: a same-key caller waits for the one build,
  * nested different-key calls proceed, and a build that throws is
  * retried by the next call. */
object SessionMemo {

  private final class Slot(make: Slot => Any) {
    @volatile var owned: List[String] = Nil
    lazy val value: Any = make(this)
  }

  private val contexts = new ConcurrentHashMap[SparkContext,
    ConcurrentHashMap[(SparkSession, String, String), Slot]]()

  /** The value for (s, dir, name), built by `make` on the first call. */
  def apply[T](s: SparkSession, dir: String, name: String)(make: => T): T =
    slot(s, dir, name)(_ => make)

  /** As `apply`, for a value built in a fresh temp dir `graft<name>…`,
    * which is deleted when the session's context ends. */
  def tempDir[T](s: SparkSession, dir: String, name: String)(build: String => T): T =
    slot(s, dir, name) { sl =>
      val out = java.nio.file.Files.createTempDirectory("graft" + name).toString
      sl.owned ::= out
      build(out)
    }

  /** The values under (dir, name) of every session of `s`'s context:
    * state a write must update in each session that holds it. */
  def everySession[T](s: SparkSession, dir: String, name: String): Seq[T] =
    Option(contexts.get(s.sparkContext)).toSeq.flatMap(_.asScala.iterator.collect {
      case ((_, d, n), sl) if d == dir && n == name => sl.value.asInstanceOf[T]
    })

  private def slot[T](s: SparkSession, dir: String, name: String)(make: Slot => T): T = {
    val sc = s.sparkContext
    contexts.computeIfAbsent(sc, { _ =>
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          contexts.remove(sc).values.forEach(_.owned.foreach { d =>
            val f = new java.io.File(d)
            IndexBuilder.deleteRecursively(f)
            if (f.exists) org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"could not delete transient dir $d")
          })
      })
      new ConcurrentHashMap()
    }).computeIfAbsent((s, dir, name), _ => new Slot(make)).value.asInstanceOf[T]
  }
}
