package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.index._

/** Full serving pipeline: parse -> recall -> signal rank -> bucket
  * dedup -> snippets. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private lazy val corpus = Corpus.generate(spark, 400, seed = 77L).cache()
  private lazy val textMap = corpus.collect()
    .map(d => (d.repo, d.path) -> d.content).toMap
  // batch fetch contract: called once with only the winning keys
  private def fetch(keys: Seq[(String, String)]): Map[(String, String), String] =
    keys.flatMap(k => textMap.get(k).map(k -> _)).toMap
  private lazy val index = {
    val d = TestDirs("graftpipe")
    IndexBuilder.build(spark, corpus, d, IndexBuilder.Config(numSegments = 3,
      indexStemmed = true, indexBigrams = true, indexMeta = true,
      computeSimhash = true))
    new InvertedIndex(spark, d)
  }

  test("plain query: ranked page with signals and snippets") {
    val res = SearchPipeline.run(index, "data table merge", 10, fetch)
    assert(res.nonEmpty && res.length <= 10)
    assert(res.map(_.rank) == (1 to res.length))
    // signal vectors present and the totals are descending post-dedup ties aside
    assert(res.head.signals.nonEmpty)
    assert(res.head.signals.contains(graft.core.Signals.Bm25F))
    // snippets come from the right documents and contain a query term
    res.foreach { r =>
      assert(r.snippet.nonEmpty)
      assert(textMap((r.repo, r.path)).startsWith(r.snippet.take(20)) ||
        textMap((r.repo, r.path)).contains(r.snippet.take(40)))
    }
    assert(res.exists(r => r.snippet.contains("data") || r.snippet.contains("table")))
    // deterministic
    assert(SearchPipeline.run(index, "data table merge", 10, fetch) == res)
  }

  test("operator query routes through the boolean tree") {
    val repo = corpus.head().repo
    val res = SearchPipeline.run(index, s"repo:$repo data", 20, fetch)
    assert(res.nonEmpty)
    assert(res.forall(_.repo == repo))
  }

  test("phrase query routes through the phrase evaluator") {
    val res = SearchPipeline.run(index, "\"data table\"", 5, fetch)
    res.foreach(r => assert(textMap((r.repo, r.path)).contains("data table")))
    // phrase recall gates the candidates, but the signal model reranks
    // them: phrase hits carry full explainable signal vectors now
    res.foreach { r =>
      assert(r.signals.nonEmpty)
      assert(r.signals.contains(graft.core.Signals.Bm25F))
    }
  }

  test("sloppy phrase routes through phrase recall + signal rerank") {
    val res = SearchPipeline.run(index, "\"data table\"~2", 10, fetch)
    assert(res.nonEmpty)
    res.foreach { r =>
      // recall stayed phrase-gated: both words present (a bag-of-words
      // recall would admit single-word docs)
      val t = textMap((r.repo, r.path))
      assert(t.contains("data") && t.contains("table"))
      // and the rerank attached non-empty signal vectors
      assert(r.signals.nonEmpty)
      assert(r.signals.contains(graft.core.Signals.Bm25F))
    }
  }

  test("plain-term negation reaches the signal-rerank recall") {
    val res = SearchPipeline.run(index, "data -table", 10, fetch)
    assert(res.nonEmpty)
    // "-table" excludes every doc containing the term, in RECALL (the
    // plain path used to drop negation silently)
    res.foreach { r =>
      assert(!textMap((r.repo, r.path)).contains("table"),
        s"${r.repo}/${r.path} contains the negated term")
    }
  }

  test("bang hit short-circuits the pipeline; miss falls through to search") {
    import graft.core.Bangs
    val bangs = Bangs(Seq(Bangs.Bang("gh", "github.example/search?q={{{s}}}")))
    val cfg = SearchPipeline.Config(bangs = Some(bangs))
    val hit = SearchPipeline.runOrRedirect(index, "!gh data table", 10, fetch, cfg)
    assert(hit == Left(Bangs.BangHit(bangs.hit("!gh x").get.bang,
      "https://github.example/search?q=data%20table")))
    // unmatched bang / no bang: normal search results
    val miss = SearchPipeline.runOrRedirect(index, "data table merge", 10, fetch, cfg)
    assert(miss.isRight && miss.toOption.get.nonEmpty)
    // no table configured: never redirects even for bang-shaped queries
    val none = SearchPipeline.runOrRedirect(index, "!gh data", 10, fetch)
    assert(none.isRight)
  }

  test("empty query yields no results") {
    assert(SearchPipeline.run(index, "", 5).isEmpty)
    assert(SearchPipeline.run(index, "zzzznotaterm", 5).isEmpty)
  }
}
