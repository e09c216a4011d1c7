package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.index._

/** Driver-side serving searcher == the distributed query path. */
class SearcherSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private lazy val corpus = Corpus.generate(spark, 500, seed = 88L).cache()
  private lazy val index = {
    val d = java.nio.file.Files.createTempDirectory("graftsrv").toString
    IndexBuilder.build(spark, corpus, d, IndexBuilder.Config(numSegments = 3,
      indexStemmed = true, indexBigrams = true, indexMeta = true))
    new InvertedIndex(spark, d)
  }
  private lazy val searcher = new Searcher(index)

  test("serving results == distributed results across modes") {
    // the top hit's repo as a pre-lowered (field-prefixed) must-not term:
    // both paths must pass it through untokenized and exclude the repo
    val topRepo = index.search("spark session", 1).head.repo
    val repoMinus = Seq(Fields.RepoPrefix + topRepo)
    val cases = Seq(
      ("spark session", "or", Nil), ("query engine data", "or", Nil),
      ("the license", "and", Nil), ("data table", "phrase", Nil),
      ("merging data tables", "or+", Nil), ("spark", "or", Seq("batch")),
      ("nosuchtok qqq", "or", Nil), ("spark data", "exhaustive", Nil),
      ("spark query data", "dismax", Nil), ("spark data", "bitset", Nil),
      ("data table", "phrase~2", Nil), ("spark data", "and+", Nil),
      ("merging data tables", "or+", Seq("batch")),
      ("spark session", "or", repoMinus))
    cases.foreach { case (q, mode, minus) =>
      val a = searcher.searchRaw(q, 15, mode, minus).toSeq
      val b = index.searchRaw(q, 15, mode, minus).toSeq
      assert(a == b, s"'$q' mode=$mode minus=$minus")
    }
    val excluded = index.resolve(index.searchRaw("spark session", 15, "or", repoMinus), 15)
    assert(excluded.nonEmpty && !excluded.exists(_.repo == topRepo))
  }

  test("repeated queries are served from the term cache, identically") {
    val q = "spark data table"
    val first = searcher.searchRaw(q, 10).toSeq
    // cached path (no fetch) must return the same thing
    (0 until 3).foreach(_ => assert(searcher.searchRaw(q, 10).toSeq == first))
    // warm serving latency is driver-local: well under job latency
    val t0 = System.nanoTime()
    searcher.searchRaw(q, 10)
    val warmMs = (System.nanoTime() - t0) / 1e6
    assert(warmMs < 100.0, s"warm serving took ${warmMs}ms")
  }
}
