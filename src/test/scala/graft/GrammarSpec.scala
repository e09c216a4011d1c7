package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tokenizers
import graft.index._

/** Query-grammar field operators lowered to metadata-field terms
  * (reference query/parser/mod.rs:33-120 + plan/node.rs:128-172). */
class GrammarSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private lazy val corpus = Corpus.generate(spark, 400, seed = 33L).cache()
  private lazy val index = {
    val d = TestDirs("graftgr")
    IndexBuilder.build(spark, corpus, d,
      IndexBuilder.Config(numSegments = 3, indexMeta = true))
    new InvertedIndex(spark, d)
  }
  private lazy val docs = corpus.collect()

  test("site:/repo: restricts to the repo; plain terms rank within it") {
    val repo = docs.head.repo
    val hits = index.searchParsed(s"repo:$repo spark", 50)
    assert(hits.nonEmpty)
    assert(hits.forall(_.repo == repo))
    // alias
    val hits2 = index.searchParsed(s"site:$repo spark", 50)
    assert(hits.map(h => (h.repo, h.path)).toSeq ==
      hits2.map(h => (h.repo, h.path)).toSeq)
    // every doc of that repo matches (plain term is optional)
    assert(hits.length == docs.count(_.repo == repo))
  }

  test("lang: filter matches the doc-table language exactly") {
    val lang = docs.head.lang
    val hits = index.searchParsed(s"lang:$lang data", 400)
    val want = docs.filter(_.lang == lang).map(d => (d.repo, d.path)).toSet
    assert(hits.map(h => (h.repo, h.path)).toSet == want)
  }

  test("inurl:/path: matches path tokens") {
    val seg = Tokenizers.default(docs.head.path)
      .find(t => t.length > 2 && t.forall(_.isLetter)).get
    val hits = index.searchParsed(s"inurl:$seg", 400)
    val want = docs.filter(d => Tokenizers.default(d.path).contains(seg))
      .map(d => (d.repo, d.path)).toSet
    assert(hits.map(h => (h.repo, h.path)).toSet == want)
  }

  test("json: lowers to flattened-leaf must terms") {
    import spark.implicits._
    val docs = Seq(
      SourceDoc("r1", "a.md", "c", "en", "alpha text here",
        """{"k": 5, "tags": {"env": "prod"}}"""),
      SourceDoc("r2", "b.md", "c", "en", "beta text here",
        """{"k": 7, "tags": {"env": "prod"}}"""),
      SourceDoc("r3", "c.md", "c", "en", "gamma text here",
        """{"k": 5, "tags": {"env": "dev"}}"""))
    val dir = TestDirs("graftjs")
    IndexBuilder.build(spark, spark.createDataset(docs), dir,
      IndexBuilder.Config(numSegments = 1, indexJson = true))
    val idx = new InvertedIndex(spark, dir)
    assert(idx.searchParsed("json:k=5", 10).map(_.repo).toSet == Set("r1", "r3"))
    assert(idx.searchParsed("json:tags.env=prod", 10).map(_.repo).toSet == Set("r1", "r2"))
    // quoted value form + combination with a scoring term
    assert(idx.searchParsed("json:tags.env=\"dev\"", 10).map(_.repo).toSet == Set("r3"))
    assert(idx.searchParsed("json:k=5 alpha", 10).head.repo == "r1")
    // props alias
    assert(idx.searchParsed("props:k=7", 10).map(_.repo).toSet == Set("r2"))
    assert(idx.searchParsed("json:k=9", 10).isEmpty)
  }

  test("linksto:/linkto: lowers to Link-field terms and filters by outgoing links") {
    import spark.implicits._
    val docs = Seq(
      SourceDoc("app-a", "main.rs", "c", "rust", "alpha uses the parser",
        links = Seq("libfoo", "libbar")),
      SourceDoc("app-b", "main.rs", "c", "rust", "beta uses the parser",
        links = Seq("libfoo")),
      SourceDoc("app-c", "main.rs", "c", "rust", "gamma standalone parser",
        links = Seq.empty))
    val dir = TestDirs("graftlk")
    IndexBuilder.build(spark, spark.createDataset(docs), dir,
      IndexBuilder.Config(numSegments = 1, indexLinks = true))
    val idx = new InvertedIndex(spark, dir)
    // lowering: linksto:/linkto: -> one Link identity term, case-folded
    val (_, _, _, ops) = idx.parseOps("linksto:LibFoo")
    assert(ops == Seq(Fields.linkTerm("libfoo")))
    assert(idx.parseOps("linkto:libbar")._4 == Seq(Fields.linkTerm("libbar")))
    // membership: must clause over the Link field
    assert(idx.searchParsed("linksto:libfoo", 10).map(_.repo).toSet ==
      Set("app-a", "app-b"))
    assert(idx.searchParsed("linksto:libbar", 10).map(_.repo).toSet == Set("app-a"))
    assert(idx.searchParsed("linksto:libzz", 10).isEmpty)
    // composes with scoring terms and negation
    assert(idx.searchParsed("linksto:libfoo beta", 10).head.repo == "app-b")
    assert(idx.searchParsed("-linksto:libfoo parser", 10).map(_.repo).toSet ==
      Set("app-c"))
    // the Link field is scoped: a plain-text query never matches targets
    assert(idx.searchParsed("libfoo", 10).isEmpty)
  }

  test("safe:on lowers to the quality-marker must-not; safe:off is a no-op") {
    import spark.implicits._
    val good = "alpha beta gamma delta epsilon zeta distinct words here now"
    val bad = "spam spam spam spam spam spam spam spam spam eggs"  // 2 distinct / 10
    val docs = Seq(
      SourceDoc("g1", "a.md", "c", "en", good + " table"),
      SourceDoc("g2", "b.md", "c", "en", good + " table extra"),
      SourceDoc("b1", "c.md", "c", "en", bad + " table"),
      SourceDoc("b2", "d.md", "c", "en", "tiny table"))  // < 5 tokens
    val dir = TestDirs("graftsafe")
    IndexBuilder.build(spark, spark.createDataset(docs), dir,
      IndexBuilder.Config(numSegments = 1, indexQuality = true, indexMeta = true))
    val idx = new InvertedIndex(spark, dir)
    // parse: safe:on -> must-not marker; safe:off -> nothing
    val (body, _, minus, ops) = idx.parseOps("safe:on table")
    assert(body == "table" && ops.isEmpty && minus == Seq(Fields.QualityLowTerm))
    val off = idx.parseOps("safe:off table")
    assert(off._1 == "table" && off._3.isEmpty && off._4.isEmpty)
    // engine: low-quality docs drop under safe:on, stay under safe:off
    assert(idx.searchParsed("safe:on table", 10).map(_.repo).toSet == Set("g1", "g2"))
    assert(idx.searchParsed("safe:off table", 10).map(_.repo).toSet ==
      Set("g1", "g2", "b1", "b2"))
    // composes with a must operator (the boolean-tree path)
    assert(idx.searchParsed("safe:on repo:b1 table", 10).isEmpty)
    assert(idx.searchParsed("safe:on repo:g1 table", 10).map(_.repo).toSet == Set("g1"))
    // an index built WITHOUT the classification: safe:on is a df=0 no-op
    assert(index.searchParsed("safe:on spark", 10).map(h => (h.repo, h.path)).toSeq ==
      index.searchParsed("spark", 10).map(h => (h.repo, h.path)).toSeq)
  }

  test("negated operators survive the boolean-tree path (op + -op compose)") {
    // a lowered must-not (NUL-prefixed index term) combined with a must
    // operator used to be re-tokenized by the boolean branch and
    // silently dropped
    val repo = docs.head.repo
    val lang = docs.head.lang
    val withOp = index.searchParsed(s"repo:$repo -lang:$lang data", 50)
    val wantOp = docs.filter(d => d.repo == repo && d.lang != lang)
      .map(d => (d.repo, d.path)).toSet
    assert(withOp.map(h => (h.repo, h.path)).toSet == wantOp)
    val otherLang = docs.map(_.lang).distinct.find(_ != lang)
    otherLang.foreach { ol =>
      val hits = index.searchParsed(s"lang:$ol -repo:$repo data", 400)
      val want = docs.filter(d => d.lang == ol && d.repo != repo)
        .map(d => (d.repo, d.path)).toSet
      assert(hits.map(h => (h.repo, h.path)).toSet == want)
    }
  }

  test("intitle:/file: matches file-name tokens only") {
    val base = docs.head.path.substring(docs.head.path.lastIndexOf('/') + 1)
    val tok = Tokenizers.default(base).find(_.length > 2).get
    val hits = index.searchParsed(s"file:$tok", 400)
    val want = docs.filter { d =>
      val b = d.path.substring(d.path.lastIndexOf('/') + 1)
      Tokenizers.default(b).contains(tok)
    }.map(d => (d.repo, d.path)).toSet
    assert(hits.map(h => (h.repo, h.path)).toSet == want)
  }

  test("exacturl: matches exactly one document") {
    val d0 = docs.head
    val hits = index.searchParsed(s"exacturl:${d0.repo}/${d0.path}", 10)
    assert(hits.length == 1)
    assert(hits.head.repo == d0.repo && hits.head.path == d0.path)
  }

  test("operators compose with negation and body terms") {
    val repo = docs.head.repo
    val hits = index.searchParsed(s"repo:$repo data -spark", 50)
    val want = docs.filter { d =>
      val tf = Tokenizers.termFreqs(d.content)
      d.repo == repo && !tf.containsKey("spark")
    }.map(d => (d.repo, d.path)).toSet
    assert(hits.map(h => (h.repo, h.path)).toSet == want)
  }

  test("inbody: lowers to a required content term") {
    val hits = index.searchParsed("inbody:spark", 400)
    val want = docs.filter(d =>
      Tokenizers.termFreqs(d.content).containsKey("spark"))
      .map(d => (d.repo, d.path)).toSet
    assert(hits.map(h => (h.repo, h.path)).toSet == want)
  }

  test("\"...\"~N sloppy phrase: parse + engine set matches the slop kernel") {
    val toks = Tokenizers.default(docs.head.content)
    val i = toks.indices.find(i => i + 2 < toks.length &&
      toks(i) != toks(i + 2) &&
      toks(i).forall(_.isLetter) && toks(i + 2).forall(_.isLetter)).get
    val (t1, t2) = (toks(i), toks(i + 2))
    val q = "\"" + t1 + " " + t2 + "\"~2"
    val (body, mode, _, _) = index.parseOps(q)
    assert(body == s"$t1 $t2" && mode == "phrase~2")
    val hits = index.searchParsed(q, 400)
    val want = docs.filter { d =>
      val dt = Tokenizers.default(d.content)
      val p = Array(t1, t2).map(t =>
        dt.zipWithIndex.collect { case (w, j) if w == t => j })
      p.forall(_.nonEmpty) && graft.core.Phrase.phraseFreqSlop(p, 2) > 0
    }.map(d => (d.repo, d.path)).toSet
    assert(want.nonEmpty)
    assert(hits.map(h => (h.repo, h.path)).toSet == want)
    // exact-phrase matches are a subset of the sloppy set
    val exact = index.searchParsed("\"" + t1 + " " + t2 + "\"", 400)
    assert(exact.map(h => (h.repo, h.path)).toSet.subsetOf(want))
  }

  test("siteUrls/homepage generic queries list a repo best-first") {
    val repo = docs.head.repo
    val want = index.docs.filter(d => d.repo == repo)
      .orderBy("segment", "docId").collect().map(_.path).toSeq
    assert(want.nonEmpty)
    assert(index.siteUrls(repo, 1000) == want)
    // pagination slices the same order
    if (want.length >= 2)
      assert(index.siteUrls(repo, 1, offset = 1) == Seq(want(1)))
    val hp = index.homepage(repo)
    assert(hp.isDefined && hp.get.repo == repo)
    // the homepage is a shallowest path of the repo
    val minDepth = want.map(_.count(_ == '/')).min
    assert(hp.get.path.count(_ == '/') == minDepth)
    assert(index.homepage("no-such-repo-zz").isEmpty)
  }

  test("plain queries and quoted phrases are unchanged by the op parser") {
    assert(index.parse("“data table”") == ("data table", "phrase", Nil))
    assert(index.parse("spark -batch") == ("spark", "or", Seq("batch")))
    // unknown ops stay plain text (tokenizer splits the colon)
    val (body, mode, minus, ops) = index.parseOps("weird:thing spark")
    assert(ops.isEmpty && body == "weird:thing spark" && mode == "or")
  }
}
