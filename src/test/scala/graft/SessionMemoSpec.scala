package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** SessionMemo: one value per (session, dir, name), re-entrant builds,
  * and nothing stale or left on disk after the session's context ends. */
class SessionMemoSpec extends AnyFunSuite {

  test("same session and key return the same instance; make runs once") {
    val s = SparkTestSession.spark
    var made = 0
    def get() = SessionMemo(s, "memo-spec-a", "v") { made += 1; new Object }
    val first = get()
    assert(get() eq first)
    assert(made == 1)
  }

  test("a new session gets its own value") {
    val s = SparkTestSession.spark
    val first = SessionMemo(s, "memo-spec-b", "v")(new Object)
    val other = SessionMemo(s.newSession(), "memo-spec-b", "v")(new Object)
    assert(other ne first)
    assert(SessionMemo(s, "memo-spec-b", "v")(new Object) eq first)
  }

  test("a build that calls the memo for other keys completes") {
    val s = SparkTestSession.spark
    // 50 nested keys share hash bins in any small table: a build run
    // inside the map's own compute would fail with a recursive update
    def nest(i: Int): Int =
      if (i == 0) 0 else SessionMemo(s, "memo-spec-c", s"k$i")(nest(i - 1) + 1)
    assert(nest(50) == 50)
    assert(SessionMemo(s, "memo-spec-c", "k50")(-1) == 50)
  }

  test("stop drops the entries and their temp dirs; a new session rebuilds") {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    def entryDirs(): Set[String] =
      Option(tmp.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith("graftentry")).toSet
    // entry is the q_index_wand face over the sf0.001 fixture
    def rows(s: org.apache.spark.sql.SparkSession) =
      SparkEntry.entry(s).collect().toSeq.map(_.toString)

    // a fresh session of the shared context, so this call builds its own index
    val s = SparkTestSession.spark.newSession()
    val before = entryDirs()
    val first = rows(s)
    val made = entryDirs() -- before
    assert(first.nonEmpty)
    assert(made.size == 1, s"expected one new transient index dir, got $made")

    s.stop()
    assert(!new File(tmp, made.head).exists, s"${made.head} outlived its session")

    assert(rows(SparkTestSession.spark) == first)
  }
}
