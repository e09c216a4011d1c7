package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Sessionize
import graft.streaming.Sessionize.{Ev, Session}

/** Stateful streaming sessionization (flatMapGroupsWithState +
  * EventTimeTimeout): the streamed sessions — closed either by a
  * larger-than-gap event or by the watermark timing the state out —
  * must equal the one-shot batch fold over the same events. */
class SessionizeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val GapMs = 60000L // 1-minute session gap
  private val Base = 1700000000000L

  /** Deterministic corpus: 20 users, bursts separated by > gap. */
  private def mkEvents(): Seq[Ev] =
    (0 until 20).flatMap { u =>
      val r = new scala.util.Random(1000 + u)
      var t = Base + u * 1000L
      (0 until 15).map { i =>
        // ~1 in 4 steps jumps past the gap and starts a new session
        t += (if (r.nextInt(4) == 0) GapMs + 1000L + r.nextInt(60000)
              else r.nextInt(30000).toLong)
        Ev(u.toLong, new java.sql.Timestamp(t), (r.nextInt(1000) / 10.0))
      }
    }.sortBy(_.ts.getTime)

  test("streamed sessions == batch fold (gap closes + watermark timeout)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val events = mkEvents()
    val stream = MemoryStream[Ev]
    val sessions = Sessionize.sessions(stream.toDS(), GapMs, "5 seconds")
    val query = sessions.writeStream
      .format("memory").queryName("sessout")
      .outputMode("append")
      .option("checkpointLocation",
        TestDirs("graftsess"))
      .start()

    // feed chronologically in 4 chunks so the watermark advances and
    // EventTimeTimeout fires for mid-stream silent users
    events.grouped(events.length / 4 + 1).foreach { g =>
      stream.addData(g); query.processAllAvailable()
    }
    // sentinel far-future event pushes the watermark past every open
    // session's (last + gap) so the remaining state times out
    val flushTs = events.map(_.ts.getTime).max + GapMs * 10
    stream.addData(Ev(-1L, new java.sql.Timestamp(flushTs), 0.0))
    query.processAllAvailable()
    // one more empty-ish batch lets the new watermark trigger timeouts
    stream.addData(Ev(-1L, new java.sql.Timestamp(flushTs + 1000), 0.0))
    query.processAllAvailable()
    query.stop()

    val got = spark.table("sessout").as[Session].collect()
      .filter(_.userId >= 0)
      .sortBy(s => (s.userId, s.start.getTime)).toSeq
    val want = Sessionize.sessionsBatch(events, GapMs)
      .sortBy(s => (s.userId, s.start.getTime))
    assert(got.length == want.length,
      s"got ${got.length} sessions, want ${want.length}")
    assert(got == want)
    // sanity: the corpus really exercises both close paths
    assert(want.length > 20, "every user should have split sessions")
  }
}
