package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{BucketCollector, DocHashes, SimhashTable}
import graft.index.Corpus
import graft.index.{IndexBuilder, InvertedIndex}

/** BucketCollector ordering semantics, mirroring the reference's own
  * tests (collector/top_docs.rs:492-750) vector-for-vector, plus the
  * simhash near-dup table and an engine integration check. */
class CollectorSpec extends AnyFunSuite {

  private case class D(hashes: DocHashes, id: Int, score: Double)

  private def run(topN: Int, docs: Seq[D]): Seq[(Double, Int)] = {
    val c = new BucketCollector[D](topN, _.score, _.hashes)
    docs.foreach(c.insert)
    c.sortedResults(deRankSimilar = true).map(d => (d.score, d.id))
  }

  private def h(site: Long, title: Long, url: Long, uwt: Long, sim: Long) =
    DocHashes(site, url, uwt, title, sim)

  test("all different (top_docs.rs:519-581)") {
    assert(run(3, Seq(
      D(h(1, 1, 1, 1, 12), 123, 1.0),
      D(h(2, 2, 2, 2, 123), 124, 2.0),
      D(h(3, 3, 3, 3, 1234), 125, 3.0),
      D(h(4, 4, 4, 4, 12345), 126, 4.0),
      D(h(5, 5, 5, 5, 123456), 127, 5.0)
    )) == Seq((5.0, 127), (4.0, 126), (3.0, 125)))
  }

  test("less than topN (top_docs.rs:583-624)") {
    assert(run(10, Seq(
      D(h(3, 3, 3, 3, 12), 125, 3.0),
      D(h(4, 4, 4, 4, 123), 126, 4.0),
      D(h(5, 5, 5, 5, 1234), 127, 5.0)
    )) == Seq((5.0, 127), (4.0, 126), (3.0, 125)))
  }

  test("same key de-prioritised (top_docs.rs:626-709)") {
    val docs = Seq(
      D(h(1, 1, 1, 1, 12), 125, 3.0),
      D(h(2, 2, 2, 2, 123), 126, 3.1),
      D(h(2, 2, 2, 2, 1234), 127, 5.0))
    assert(run(10, docs) == Seq((5.0, 127), (3.0, 125), (3.1, 126)))
    assert(run(2, docs) == Seq((5.0, 127), (3.0, 125)))
  }

  test("simhash dedup drains near-dups to leftover slots (top_docs.rs:711-756)") {
    assert(run(10, Seq(
      D(h(1, 1, 1, 1, 1234), 125, 3.0),
      D(h(2, 2, 2, 2, 1234), 126, 3.1),
      D(h(3, 3, 3, 3, 1), 127, 5.0)
    )) == Seq((5.0, 127), (3.1, 126), (3.0, 125)))
  }

  test("simhash table: hamming <= 3 within a shared block prefix") {
    val t = new SimhashTable
    val base = 0x123456789abcdef0L
    t.insert(base)
    assert(t.contains(base))
    assert(t.contains(base ^ 0x7L))              // 3 flipped bits
    assert(!t.contains(base ^ 0xFL))             // 4 flipped bits
    assert(!t.contains(~base))
    // pigeonhole: flips spread across 3 different blocks still found
    assert(t.contains(base ^ (1L << 1) ^ (1L << 20) ^ (1L << 40)))
  }

  test("engine integration: same-repo floods are de-ranked") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    // one repo floods the term with same-name files (site + title
    // buckets repeat); distinct repos rank slightly below it raw
    val docs = (0 until 30).map { i =>
      graft.index.SourceDoc("hog", s"src/m$i/mod.rs", "c1", "rust",
        s"needle needle filler$i " + ("pad " * 30))
    } ++ (0 until 10).map { i =>
      graft.index.SourceDoc(s"org$i", s"src/lib$i.rs", "c1", "rust",
        s"needle needle other$i content " + ("pad " * 40))
    }
    val dir = TestDirs("graftbc")
    IndexBuilder.build(spark, spark.createDataset(docs), dir,
      IndexBuilder.Config(numSegments = 2, computeSimhash = true))
    val idx = new InvertedIndex(spark, dir)
    val plain = idx.search("needle", 10)
    val deduped = idx.searchDeduped("needle", 10)
    val plainHogs = plain.count(_.repo == "hog")
    val dedupHogs = deduped.count(_.repo == "hog")
    assert(plainHogs > 5, s"raw ranking should be flooded, got $plainHogs")
    assert(dedupHogs < plainHogs,
      s"bucket penalties must demote the flood: $dedupHogs vs $plainHogs")
    assert(deduped.count(_.repo != "hog") >= 5)
    // determinism
    assert(idx.searchDeduped("needle", 10).map(h => (h.repo, h.path)).toSeq ==
      deduped.map(h => (h.repo, h.path)).toSeq)
  }
}
