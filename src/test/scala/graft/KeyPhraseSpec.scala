package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Rake
import graft.index._

/** Per-segment key-phrase storage gate: Config.indexKeyPhrases stores
  * each doc's RAKE keywords as whole-phrase terms of the key_phrases
  * shadow field, and InvertedIndex.topKeyPhrases serves the
  * TopKeyPhrases generic query from the stored dictionary (reference
  * inverted_index/key_phrase.rs + generic_query/collector/
  * top_key_phrases.rs) — score = doc_freq summed across segments,
  * reference char filters applied. */
class KeyPhraseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val corpus = Seq(
    SourceDoc("r1", "a.md", "c", "en",
      "merge sort beats bubble sort. merge sort wins again today."),
    SourceDoc("r2", "b.md", "c", "en",
      "merge sort meets hash join. hash join wins sometimes."),
    SourceDoc("r3", "c.md", "c", "en",
      "hash join beats nested loops badly. nested loops crawl."),
    // r4's winning RAKE phrase is digit-heavy ("q7 z9 k3", non-letter
    // ratio 5/8) — it must be dropped by the reference's ratio filter
    SourceDoc("r4", "d.md", "c", "en",
      "qq zz. q7 z9 k3. q7 z9 k3."))

  /** The oracle: per-doc RAKE keyword sets -> doc_freq, with the
    * reference's filters (non-alphabetic ratio, balanced parens,
    * non-empty) applied, canonical (score desc, phrase) order. */
  private def expectedTop(n: Int): Seq[(String, Double)] =
    corpus.flatMap(d => Rake.keywords(d.content).map(_.text).distinct)
      .groupBy(identity).map { case (p, xs) => (p, xs.size.toDouble) }
      .filter { case (p, _) =>
        p.trim.nonEmpty &&
          p.count(!_.isLetter) <= p.length * 0.25 &&
          p.count(_ == '(') == p.count(_ == ')')
      }
      .toSeq.sortBy { case (p, s) => (-s, p) }.take(n)

  test("topKeyPhrases == RAKE doc_freq oracle (filters applied)") {
    import spark.implicits._
    val dir = TestDirs("graftkp")
    IndexBuilder.build(spark, corpus.toDS(), dir,
      IndexBuilder.Config(numSegments = 2, indexKeyPhrases = true))
    val idx = new InvertedIndex(spark, dir)
    val got = idx.topKeyPhrases(50)
    assert(got == expectedTop(50))
    assert(got.nonEmpty)
    // the ratio filter actually fired: some raw RAKE phrase was dropped
    val raw = corpus.flatMap(d => Rake.keywords(d.content).map(_.text)).distinct
    assert(raw.exists(p => p.count(!_.isLetter) > p.length * 0.25),
      s"corpus produced no ratio-filtered phrase; raw=$raw")
  }

  test("key phrases survive a record-level segment merge") {
    import spark.implicits._
    val src = TestDirs("graftkpm1")
    val out = TestDirs("graftkpm2")
    val cfg = IndexBuilder.Config(numSegments = 4, indexKeyPhrases = true)
    IndexBuilder.build(spark, corpus.toDS(), src, cfg)
    val before = new InvertedIndex(spark, src).topKeyPhrases(50)
    SegmentMerge.merge(spark, src, out, fanIn = 4, cfg)
    val after = new InvertedIndex(spark, out).topKeyPhrases(50)
    assert(after == before)
  }
}
