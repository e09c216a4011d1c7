package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.index._

/** The two-stage rerank paths (rankSignals / searchBm25F /
  * searchDeduped) must fetch a candidate pool whose size is O(k) and
  * INDEPENDENT of the index's segment count — the reference gives each
  * segment a budget that does not grow with how many segments exist
  * (collector/top_docs.rs:100-124) and merges top_n per segment at the
  * coordinator (:433-460). A `k * numSegments` budget makes every
  * per-segment heap and the driver merge grow quadratically with
  * segment count at 100x corpus scale. */
class CandidateBudgetSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("candidateBudget is the tieSlack shape — O(k), no segment term") {
    assert(InvertedIndex.candidateBudget(10) == 90)
    assert(InvertedIndex.candidateBudget(20) == 100)
    assert(InvertedIndex.candidateBudget(100) == 500)
    (1 to 300).foreach { k =>
      assert(InvertedIndex.candidateBudget(k) == k + math.max(80, 4 * k))
    }
  }

  test("recall pool is bounded by the budget and segmentation-invariant") {
    val corpus = Corpus.generate(spark, 300, seed = 31L).cache()
    val budget = InvertedIndex.candidateBudget(10)
    def pools(nseg: Int): (Array[Float], Int) = {
      val d = TestDirs(s"graftcb$nseg")
      IndexBuilder.build(spark, corpus, d, IndexBuilder.Config(
        numSegments = nseg, indexStemmed = true, indexBigrams = true))
      val idx = new InvertedIndex(spark, d)
      // exhaustive mode: exact scores, so the pool multiset comparison
      // is immune to the documented block-max segment-avg approximation
      val exact = idx.searchRaw("data table merge", budget, "exhaustive")
      // the expanded recall the rerank paths actually issue: only its
      // SIZE is asserted (WAND pruning may differ per segmentation)
      val wand = idx.searchRaw("data table merge", budget, "or+")
      assert(wand.length <= budget)
      (exact.map(_._3).sorted, wand.length)
    }
    val (p2, _) = pools(2)
    val (p8, _) = pools(8)
    // same corpus, same budget: the pool's exact-score multiset does
    // not depend on how many segments the index was built with
    assert(p2.length == p8.length)
    assert(p2.toSeq == p8.toSeq)
  }
}
