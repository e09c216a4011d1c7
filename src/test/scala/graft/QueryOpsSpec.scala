package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tokenizers
import graft.index._

/** Prefix/set expansion + budgeted approximate search. */
class QueryOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private lazy val corpus = Corpus.generate(spark, 400, seed = 3L).cache()
  private lazy val index = {
    val d = TestDirs("graftqo")
    IndexBuilder.build(spark, corpus, d, IndexBuilder.Config(numSegments = 3))
    new InvertedIndex(spark, d)
  }

  test("prefix query == explicit OR over matching terms") {
    import spark.implicits._
    val viaPrefix = index.searchPrefix("tok1", 20, cap = 64)
    val terms = index.termsWhere($"term".startsWith("tok1"), 64)
    assert(terms.nonEmpty && terms.forall(_.startsWith("tok1")))
    val viaSet = index.searchTermSet(terms, 20)
    assert(viaPrefix.toSeq == viaSet.toSeq)
    assert(viaPrefix.nonEmpty)
  }

  test("unbounded budget == exact; tiny budget saturates with estimate") {
    val (hits, count, sat) = index.searchApprox("spark data", 10, Int.MaxValue)
    assert(!sat)
    // exact union count via brute force
    val expect = corpus.collect().count { d =>
      val tf = Tokenizers.termFreqs(d.content)
      tf.containsKey("spark") || tf.containsKey("data")
    }
    assert(count == expect)
    assert(hits.toSeq == index.searchRaw("spark data", 10, "exhaustive").toSeq)

    val (hits2, count2, sat2) = index.searchApprox("spark data", 10, 5)
    assert(sat2)
    assert(hits2.nonEmpty)
    // independence estimate N * df_spark/N * df_data/N
    val dfs = index.dfOf(Seq("spark", "data"))
    val n = index.stats.numDocs.toDouble
    val est = math.round(n * (dfs("spark") / n) * (dfs("data") / n))
    assert(count2 == est)
  }

  test("fuzzy query recalls 1-edit variants") {
    // "spark" vs misspelling "sparc" distance 1 is not in vocab, so
    // search misspelled and expect to land on "spark"
    val viaFuzzy = index.searchFuzzy("sparc", 10, maxDist = 1)
    assert(viaFuzzy.nonEmpty)
    val direct = index.searchRaw("spark", 10, "or")
    // spark is the only 1-edit vocab neighbor of sparc in this corpus?
    // at minimum, the fuzzy result must include the direct top hit doc
    assert(viaFuzzy.map(h => (h._1, h._2)).toSet
      .intersect(direct.map(h => (h._1, h._2)).toSet).nonEmpty)
  }

  test("regex expansion, range filter, boosted clauses") {
    // regex over the term dictionary
    val viaRegex = index.searchRegex("^tok1[0-3]$", 20)
    import spark.implicits._
    val terms = index.termsWhere($"term".rlike("^tok1[0-3]$"), 64)
    assert(terms.toSet.subsetOf(Set("tok10", "tok11", "tok12", "tok13")))
    assert(viaRegex.toSeq == index.searchTermSet(terms, 20).toSeq)

    // range over the columnar doc attribute
    val ranged = index.docsInRange(100, 500).collect()
    assert(ranged.nonEmpty && ranged.forall(d => d.numTokens >= 100 && d.numTokens <= 500))

    // boost algebra: boosting one clause by 2x scales its contribution;
    // with boost 1.0 it must equal the plain OR query exactly
    val plain = index.searchRaw("spark data", 10, "or")
    val boosted1 = index.searchBoosted(Seq("spark" -> 1.0f, "data" -> 1.0f), 10)
    assert(boosted1.toSeq == plain.toSeq)
    val boosted2 = index.searchBoosted(Seq("spark" -> 5.0f, "data" -> 1.0f), 10)
    // the top boosted hit must contain "spark"
    val top = index.resolve(Array(boosted2.head), 1).head
    val doc = corpus.collect().find(d => d.repo == top.repo && d.path == top.path).get
    assert(Tokenizers.termFreqs(doc.content).containsKey("spark"))
  }

  test("dismax == brute-force max over clause scores") {
    import graft.core.{Bm25, Bm25Weight, FieldNorm, Tokenizers}
    val q = "spark data table"
    val got = index.searchRaw(q, 15, "dismax")
    val terms = index.queryTerms(q).toSeq
    val dfs = index.dfOf(terms)
    val N = index.stats.numDocs
    val ws = terms.map(t =>
      t -> new Bm25Weight(Bm25.idf(dfs(t), N) * (1.0f + Bm25.K1), index.stats.avgFieldNorm)).toMap
    val want = corpus.collect().flatMap { d =>
      val tf = Tokenizers.termFreqs(d.content)
      val fn = FieldNorm.fieldNormToId(
        { var s = 0L; tf.values.forEach(v => s += v); s })
      val scores = terms.flatMap { t =>
        val c = tf.getOrDefault(t, 0)
        if (c > 0) Some(ws(t).score(fn, c)) else None
      }
      if (scores.isEmpty) None else Some(((d.repo, d.path), scores.max))
    }.toMap
    val resolved = index.resolve(got, got.length)
    resolved.foreach { h =>
      assert(math.abs(want((h.repo, h.path)) - h.score) < 1e-6f,
        s"${h.repo}/${h.path}")
    }
    // top-k by max must equal brute-force ordering (scores distinct enough)
    val wantTop = want.toSeq.sortBy(-_._2).take(15).map(_._2.toDouble).sorted
    val gotTop = resolved.map(_.score.toDouble).toSeq.sorted
    assert(gotTop.zip(wantTop).forall { case (a, b) => math.abs(a - b) < 1e-6 })
  }

  test("ShortCircuit: pruned budgeted WAND == exhaustive over the same horizon") {
    val budget = 25
    val q = "spark data table"
    val (hits, _, sat) = index.searchApprox(q, 10, budget)
    assert(sat)
    // oracle: all exhaustive matches, truncated at the per-segment
    // doc-id horizon, merged with the engine tie-break
    val all = index.searchRaw(q, Int.MaxValue, "exhaustive")
    val want = all.filter(_._2 < budget)
      .sortBy(t => (-t._3, t._1, t._2))(
        Ordering.Tuple3(Ordering.Float.TotalOrdering, Ordering.Int, Ordering.Int))
      .take(10)
    assert(hits.toSeq == want.toSeq)
  }

  test("spell correction: misspellings of frequent terms fix, real words keep") {
    // "spark" is frequent corpus vocabulary; "sparc" is 1 edit away
    assert(index.spellCorrect("sparc data") == Some("spark data"))
    // real frequent words stay untouched
    assert(index.spellCorrect("spark data") == None)
    // garbage with no near neighbor stays untouched
    assert(index.spellCorrect("zzqqzzyy") == None)
    // context (bigram backoff) or unigram alone must still fix mid-query
    val fixed = index.spellCorrect("the sparc session")
    assert(fixed.exists(_.contains("spark")), fixed.toString)
  }

  test("spell correction consumes a harvested error model (noisy channel)") {
    import graft.core.ErrorModel
    // a model where the sparc->spark edit sequence was harvested often:
    // its 2^logProb factor replaces the fixed per-edit penalty
    val key = ErrorModel.seqKey(ErrorModel.possibleErrors("sparc", "spark").get)
    val m = ErrorModel(Map(key -> 50L), 60L)
    assert(index.spellCorrect("sparc data", errorModel = Some(m)) ==
      Some("spark data"))
    // real frequent words stay untouched under a model too (no edit ==
    // factor 1, and the margin still guards)
    assert(index.spellCorrect("spark data", errorModel = Some(m)).isEmpty)
    // harvested sequences factor above unseen ones
    assert(m.editFactor("sparc", "spark") > m.editFactor("spark", "sparks"))
  }

  test("budgeted hits come from the high-static-rank prefix") {
    val budget = 10
    val (hits, _, sat) = index.searchApprox("the", 5, budget)
    assert(sat)
    // union traversal is ascending docId; with score-sorted doc ids the
    // budget cuts at docId < budget-ish per segment
    assert(hits.forall(_._2 < budget + 5))
  }
}
