package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Bm25, Bm25Weight, BooleanQuery, FieldNorm, Tokenizers}
import graft.core.BooleanQuery.{Bool, Node, Term, and, not, or}
import graft.index._

/** Boolean trees: engine evaluation vs brute-force over raw tokens, and
  * the distributive factoring rewrite (match-set preserving). */
class BooleanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private lazy val corpus = Corpus.generate(spark, 400, seed = 21L).cache()
  private lazy val index = {
    val d = TestDirs("graftbool")
    IndexBuilder.build(spark, corpus, d, IndexBuilder.Config(numSegments = 3))
    new InvertedIndex(spark, d)
  }

  private val vocab = Seq("spark", "data", "table", "query", "merge", "the",
    "batch", "window")

  /** Brute-force (matches, score) per doc with the engine's weights. */
  private def brute(node: Node): Map[(String, String), Float] = {
    val terms = BooleanQuery.allTerms(node)
    val dfs = index.dfOf(terms)
    val N = index.stats.numDocs
    val ws = terms.map(t => t -> new Bm25Weight(
      Bm25.idf(dfs.getOrElse(t, 0L), N) * (1.0f + Bm25.K1),
      index.stats.avgFieldNorm)).toMap
    corpus.collect().flatMap { d =>
      val tf = Tokenizers.termFreqs(d.content)
      var len = 0L
      tf.values.forEach(v => len += v)
      val fnId = FieldNorm.fieldNormToId(len)
      val (m, s) = BooleanQuery.evaluate(node, t => {
        val c = tf.getOrDefault(t, 0)
        if (c > 0) Some(ws(t).score(fnId, c)) else None
      })
      if (m) Some((d.repo, d.path) -> s) else None
    }.toMap
  }

  private def engine(node: Node): Map[(String, String), Float] = {
    val raw = index.searchBool(node, Int.MaxValue)
    index.resolve(raw, raw.length).map(h => (h.repo, h.path) -> h.score).toMap
  }

  private def randomTree(rnd: scala.util.Random, depth: Int): Node = {
    if (depth == 0 || rnd.nextInt(3) == 0) Term(vocab(rnd.nextInt(vocab.length)))
    else {
      val kids = Seq.fill(1 + rnd.nextInt(3))(randomTree(rnd, depth - 1))
      rnd.nextInt(4) match {
        case 0 => Bool(must = kids)
        case 1 => Bool(should = kids)
        case 2 => Bool(must = kids,
          should = Seq(randomTree(rnd, depth - 1)))
        case _ => Bool(must = kids,
          mustNot = Seq(Term(vocab(rnd.nextInt(vocab.length)))))
      }
    }
  }

  test("fixed shapes: must+should (reqopt), nested, negation") {
    val trees = Seq(
      and(Term("spark"), Term("data")),
      or(Term("spark"), Term("batch")),
      Bool(must = Seq(Term("spark")), should = Seq(Term("data"), Term("table"))),
      not(or(Term("spark"), Term("data")), Term("batch")),
      and(or(Term("spark"), Term("data")), or(Term("spark"), Term("table"))),
      Bool(must = Seq(and(Term("data"), Term("table"))),
        should = Seq(or(Term("merge"), Term("window"))),
        mustNot = Seq(and(Term("batch"), Term("query")))))
    trees.foreach { tr =>
      val want = brute(tr)
      val got = engine(tr)
      assert(got.keySet == want.keySet, s"match set for $tr")
      got.foreach { case (k, v) =>
        assert(math.abs(want(k) - v) < 1e-5f, s"score $k for $tr")
      }
    }
  }

  test("property: 120 random trees match brute force; factoring preserves matches") {
    val rnd = new scala.util.Random(99)
    (0 until 120).foreach { i =>
      val tr = randomTree(rnd, 3)
      val want = brute(tr)
      val got = engine(tr)
      assert(got.keySet == want.keySet, s"tree $i: $tr")
      got.foreach { case (k, v) =>
        assert(math.abs(want(k) - v) < 1e-5f, s"tree $i score $k")
      }
      // factoring preserves the match SET (scores follow the original
      // clause structure, like the reference planner)
      val factored = BooleanQuery.factor(tr)
      assert(brute(factored).keySet == want.keySet, s"factor of tree $i")
    }
  }

  test("RequiredOptionalScorer: optional adds score only when co-matching") {
    val req = Term("spark")
    val reqOpt = Bool(must = Seq(Term("spark")), should = Seq(Term("data")))
    val a = engine(req)
    val b = engine(reqOpt)
    assert(a.keySet == b.keySet, "optional clause must not change the match set")
    // any doc also containing 'data' must score strictly higher
    val withData = corpus.collect().filter { d =>
      val tf = Tokenizers.termFreqs(d.content)
      tf.containsKey("spark") && tf.containsKey("data")
    }.map(d => (d.repo, d.path))
    assert(withData.nonEmpty)
    withData.foreach { k => assert(b(k) > a(k), s"$k") }
  }

  test("factoring rewrites (A|B)&(A|C) and leaves (A)&(A|C) alone") {
    val t = and(or(Term("a"), Term("b")), or(Term("a"), Term("c")))
    val f = BooleanQuery.factor(t)
    f match {
      case Bool(Nil, Seq(Term("a"), Bool(Seq(b1, c1), Nil, Nil)), Nil) =>
        assert(b1 == Bool(should = Seq(Term("b"))))
        assert(c1 == Bool(should = Seq(Term("c"))))
      case other => fail(s"unexpected factoring: $other")
    }
    // entirely-common disjunction must NOT widen the query
    val t2 = and(or(Term("a")), or(Term("a"), Term("c")))
    assert(BooleanQuery.factor(t2) == t2)
  }
}
