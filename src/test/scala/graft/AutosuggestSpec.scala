package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index._

/** Autosuggest semantics (reference autosuggest.rs): lexicographic
  * prefix stream capped at 64 candidates, score ranking keeps 10,
  * alphabetical presentation. */
class AutosuggestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("prefix stream, cap, score rank, alphabetical output") {
    val phrases = Seq(
      "merge sort" -> 9.0, "merge join" -> 7.0, "map reduce" -> 8.0,
      "merge conflict" -> 3.0, "monoid law" -> 1.0)
    val a = new Autosuggest(phrases)
    // rank by score (sort 9,7,3), then ALPHABETICAL presentation
    assert(a.suggestions("merge") ==
      Seq("merge conflict", "merge join", "merge sort"))
    // k cuts by score BEFORE the alphabetical sort
    assert(a.suggestions("merge", k = 2) == Seq("merge join", "merge sort"))
    // the candidate cap is lexicographic-first (fst stream order):
    // with cap 2 only the two alphabetically-first candidates compete
    assert(a.suggestions("merge", cap = 2, k = 1) == Seq("merge join"))
    // case-insensitive query, no matches -> empty
    assert(a.suggestions("MERGE", k = 1) == Seq("merge sort"))
    assert(a.suggestions("zzz").isEmpty)
  }

  test("fromIndex composes with the stored key-phrase dictionary") {
    import spark.implicits._
    val corpus = Seq(
      SourceDoc("r1", "a.md", "c", "en",
        "merge sort beats bubble sort. merge sort wins again today."),
      SourceDoc("r2", "b.md", "c", "en",
        "merge sort meets hash join. hash join wins sometimes."),
      SourceDoc("r3", "c.md", "c", "en",
        "hash join beats nested loops badly. nested loops crawl."))
    val dir = TestDirs("graftsug")
    IndexBuilder.build(spark, corpus.toDS(), dir,
      IndexBuilder.Config(numSegments = 2, indexKeyPhrases = true))
    val idx = new InvertedIndex(spark, dir)
    val a = Autosuggest.fromIndex(idx, pool = 50)
    val kp = idx.topKeyPhrases(50)
    // every suggestion is a stored key phrase with the right prefix
    for (pfx <- Seq("merge", "hash", "nested")) {
      val got = a.suggestions(pfx)
      val want = kp.map(_._1).filter(_.startsWith(pfx)).sorted
        .take(64)
        .map(p => (p, kp.toMap.apply(p)))
        .sortBy(-_._2).take(10).map(_._1).sorted
      assert(got == want, s"prefix $pfx")
      assert(got.nonEmpty, s"prefix $pfx matched nothing")
    }
  }
}
