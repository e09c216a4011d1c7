package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.index._

/** Linear-model signal ranking vs brute force computed from raw text. */
class SignalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private lazy val corpus = Corpus.generate(spark, 400, seed = 55L).cache()
  private lazy val index = {
    val d = TestDirs("graftsig")
    IndexBuilder.build(spark, corpus, d, IndexBuilder.Config(numSegments = 3,
      indexStemmed = true, indexBigrams = true, indexMeta = true))
    new InvertedIndex(spark, d)
  }

  test("signal vectors match brute force; total is the linear model") {
    val q = "merging data tables"
    val got = index.rankSignals(q, 10)
    assert(got.nonEmpty)

    val base = Tokenizers.default(q).distinct.toSeq
    val N = index.stats.numDocs
    val avgFn = index.stats.avgFieldNorm
    val bigramAvg = math.max(index.stats.numTokens - N, 1L).toFloat / N.toFloat
    val docs = corpus.collect().map(d => (d, Tokenizers.default(d.content)))

    // dfs per field computed from raw text
    def stemOf(t: String) = PorterStemmer.stem(t)
    def contentDf(x: String) = docs.count(_._2.contains(x)).toLong
    def stemDf(x: String) = docs.count(_._2.exists(tk => stemOf(tk) == x)).toLong
    def bigramDf(a: String, b: String) = docs.count(_._2.sliding(2).exists(p =>
      p.length == 2 && p(0) == a && p(1) == b)).toLong
    def urlDf(x: String) = docs.count(d => Tokenizers.default(d._1.path).contains(x)).toLong

    // brute-force GLOBAL static rank: docs preceding in the index-wide
    // (sortKey desc, repo, path, commit) order — continuous across the
    // 3 segments (the reference ranks globally, not per segment)
    val globalOrder = docs.map(_._1)
      .sortBy(d => (IndexBuilder.sortKeyOf(d.repo, d.path, d.commit),
        d.repo, d.path, d.commit))(
        Ordering.Tuple4(Ordering.Long.reverse, Ordering.String,
          Ordering.String, Ordering.String))
      .zipWithIndex.map { case (d, i) => (d.repo, d.path) -> i.toLong }.toMap

    got.foreach { case (hit, values) =>
      val (d, toks) = docs.find(x => x._1.repo == hit.repo && x._1.path == hit.path).get
      val fnId = FieldNorm.fieldNormToId(toks.length.toLong)
      val fnIdBi = FieldNorm.fieldNormToId(math.max(toks.length - 1, 0).toLong)
      var bm25c = 0.0; var bm25f = 0.0; var matched = 0
      base.foreach { t =>
        val tf = toks.count(_ == t)
        if (tf > 0) {
          val idf = Bm25.idf(contentDf(t), N)
          bm25c += new Bm25Weight(idf * 2.2f, avgFn).score(fnId, tf).toDouble
          bm25f += new Bm25FWeight(idf, avgFn, 1.0f).score(fnId, tf).toDouble
          matched += 1
        }
      }
      var bm25st = 0.0
      base.foreach { t =>
        val s = stemOf(t)
        val tf = toks.count(tk => stemOf(tk) == s)
        if (tf > 0) {
          bm25st += new Bm25Weight(Bm25.idf(stemDf(s), N) * 2.2f, avgFn)
            .score(fnId, tf).toDouble
          bm25f += new Bm25FWeight(Bm25.idf(contentDf(s), N), avgFn, 0.5f)
            .score(fnId, tf).toDouble
        }
      }
      var bm25bi = 0.0
      base.sliding(2).foreach { p =>
        val tf = toks.sliding(2).count(w => w.length == 2 && w(0) == p(0) && w(1) == p(1))
        if (tf > 0) {
          bm25bi += new Bm25Weight(Bm25.idf(bigramDf(p(0), p(1)), N) * 2.2f, bigramAvg)
            .score(fnIdBi, tf).toDouble
          bm25f += new Bm25FWeight(Bm25.idf(contentDf(p(0) + p(1)), N), bigramAvg, 0.25f)
            .score(fnIdBi, tf).toDouble
        }
      }
      var idfUrl = 0.0
      val pToks = Tokenizers.default(d.path)
      base.foreach { t => if (pToks.contains(t)) idfUrl += Bm25.idf(urlDf(t), N).toDouble }
      val expect = Map(
        Signals.Bm25F -> bm25f, Signals.Bm25Content -> bm25c,
        Signals.ContentCoverage -> matched.toDouble / base.length,
        Signals.Bm25Bigrams -> bm25bi, Signals.Bm25Stemmed -> bm25st,
        Signals.IdfSumUrl -> idfUrl, Signals.IdfSumRepo -> 0.0,
        Signals.Centrality -> Signals.centralityOf(
          IndexBuilder.sortKeyOf(d.repo, d.path, d.commit)),
        Signals.CentralityRank ->
          Signals.scoreRank(globalOrder((d.repo, d.path)).toDouble),
        Signals.UrlSlashes -> Signals.scoreCount(d.path.count(_ == '/').toDouble),
        Signals.UrlDigits -> Signals.scoreCount(d.path.count(_.isDigit).toDouble))
      expect.foreach { case (k, v) =>
        assert(math.abs(values(k) - v) < 1e-5, s"signal $k of ${hit.repo}/${hit.path}")
      }
      assert(math.abs(hit.score -
        Signals.linear(values, Signals.DefaultCoefficients)) < 1e-5f)
    }
  }

  test("stored global-rank table: identical ranking, brute-force-equal, stale-refusing") {
    // same corpus with Config.storeGlobalRank: the lookup path must be
    // end-to-end identical to the counting pass (hits AND vectors)
    val d2 = TestDirs("graftsig2")
    IndexBuilder.build(spark, corpus, d2, IndexBuilder.Config(numSegments = 3,
      indexStemmed = true, indexBigrams = true, indexMeta = true,
      storeGlobalRank = true))
    val idx2 = new InvertedIndex(spark, d2)
    val q = "merging data tables"
    val a = index.rankSignals(q, 10).map { case (h, v) => (h.repo, h.path, h.score, v) }.toSeq
    val b = idx2.rankSignals(q, 10).map { case (h, v) => (h.repo, h.path, h.score, v) }.toSeq
    assert(a == b)

    // the stored ordinals equal the strict-precede counting definition
    val stats = idx2.segStats.collect().toSeq
    val g = GlobalRank.load(spark, d2, stats)
    assert(g.nonEmpty, "freshly built table must validate")
    val stored = g.get.collect().map(r => (r.segment, r.docId) -> r.grank).toMap
    val all = idx2.docs.collect()
    def precedes(x: DocRow, y: DocRow): Boolean =
      x.sortKey > y.sortKey || (x.sortKey == y.sortKey &&
        Ordering.Tuple3(Ordering.String, Ordering.String, Ordering.String)
          .lt((x.repo, x.path, x.commit), (y.repo, y.path, y.commit)))
    all.foreach { r =>
      val brute = all.count(o => precedes(o, r)).toLong
      assert(stored((r.segment, r.docId)) == brute, s"${r.repo}/${r.path}")
    }

    // staleness: a changed segment set or doc count refuses to load
    // (live-index append / merge leave the derived table behind)
    assert(GlobalRank.load(spark, d2,
      stats.map(s => s.copy(segment = s.segment + 100))).isEmpty)
    assert(GlobalRank.load(spark, d2,
      stats.head.copy(numDocs = stats.head.numDocs + 1) +: stats.tail).isEmpty)
  }

  test("full-key duplicate docs share one global rank (strict-precede ties)") {
    import spark.implicits._
    val docs = Seq(
      SourceDoc("r1", "dup.md", "c", "en", "alpha beta gamma data"),
      SourceDoc("r1", "dup.md", "c", "en", "alpha beta gamma data"),
      SourceDoc("r2", "x.md", "c", "en", "delta epsilon data"),
      SourceDoc("r3", "y.md", "c", "en", "zeta eta data"))
    val d = TestDirs("graftgrktie")
    IndexBuilder.build(spark, spark.createDataset(docs), d,
      IndexBuilder.Config(numSegments = 2, storeGlobalRank = true))
    val idx = new InvertedIndex(spark, d)
    val g = GlobalRank.load(spark, d, idx.segStats.collect().toSeq).get
      .collect().map(r => (r.segment, r.docId) -> r.grank).toMap
    val byKey = idx.docs.collect().groupBy(r => (r.sortKey, r.repo, r.path, r.commit))
    val dupRanks = byKey((byKey.keys.find(_._3 == "dup.md").get))
      .map(r => g((r.segment, r.docId))).toSet
    assert(dupRanks.size == 1, s"tied docs must share a rank: $dupRanks")
    // and every rank is still the strict-precede count (the law holds
    // through the tie group: both duplicates precede nothing extra)
    val all = idx.docs.collect()
    def precedes(x: DocRow, y: DocRow): Boolean =
      x.sortKey > y.sortKey || (x.sortKey == y.sortKey &&
        Ordering.Tuple3(Ordering.String, Ordering.String, Ordering.String)
          .lt((x.repo, x.path, x.commit), (y.repo, y.path, y.commit)))
    all.foreach { r =>
      assert(g((r.segment, r.docId)) == all.count(o => precedes(o, r)).toLong)
    }
  }

  test("coefficients steer the ranking") {
    val q = "data table"
    // zero out everything except centrality: order must follow centrality
    val onlyCentrality = Signals.All.map(_ -> 0.0).toMap + (Signals.Centrality -> 1.0)
    val got = index.rankSignals(q, 20, onlyCentrality)
    val cents = got.map(_._2(Signals.Centrality))
    assert(cents.zip(cents.tail).forall { case (a, b) => a >= b })
    // and with default coefficients the bm25f signal dominates text order
    val defaults = index.rankSignals(q, 5)
    assert(defaults.forall(_._2(Signals.Bm25F) > 0.0))
  }
}
