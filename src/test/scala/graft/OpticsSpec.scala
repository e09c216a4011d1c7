package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.Optics
import graft.index.Optics._

/** Optics DSL: parser, pattern semantics, the reference boost fold
  * (computer/mod.rs:471-496) and the pipeline integration. */
class OpticsSpec extends AnyFunSuite {

  test("parser: rules, actions, host preferences, discard-non-matching") {
    val o = Optics.parse(
      """DiscardNonMatching;
        |Rule {
        |  Matches { Site("|github.com|") , Url("*scala*") },
        |  Matches { Title("readme*") },
        |  Action(Boost(3))
        |};
        |Rule { Matches { Domain("example") }, Action(Discard) }
        |Like(Site("good.org"));
        |Dislike(Site("bad.org"))""".stripMargin)
    assert(o.discardNonMatching)
    assert(o.rules.length == 4) // 2 rules + Like + Dislike
    assert(o.rules(0).matches.length == 2) // OR of two AND-groups
    assert(o.rules(0).matches(0).length == 2) // AND inside the first
    assert(o.rules(0).action == Boost(3))
    assert(o.rules(1).action == Discard)
    assert(o.rules(2).action == Boost(Optics.HostPrefWeight))
    assert(o.rules(3).action == Downrank(Optics.HostPrefWeight))
  }

  test("parser: a rule without an action defaults to Boost(0)") {
    val o = Optics.parse("""Rule { Matches { Site("x") } }""")
    assert(o.rules.head.action == Boost(0)) // reference lib.rs:130
  }

  test("parser: Content accepted (incl. end anchors); no-analog locations rejected") {
    val o = Optics.parse("""Rule { Matches { Content("foo * bar|") }, Action(Boost(1)) }""")
    assert(Optics.contentMatchings(o).length == 1)
    intercept[Optics.ParseError] { // no code-corpus analog
      Optics.parse("""Rule { Matches { Schema("Recipe") }, Action(Discard) }""")
    }
    intercept[Optics.ParseError] { // no literal run
      Optics.parse("""Rule { Matches { Content("*") }, Action(Discard) }""")
    }
  }

  test("pattern semantics: anchors, wildcards, substring default") {
    def m(pat: String, s: String): Boolean =
      java.util.regex.Pattern.compile(regexOf(lexPattern(pat))).matcher(s).matches()
    assert(m("|github.com|", "github.com"))
    assert(!m("|github.com|", "api.github.com"))  // full anchor
    assert(m("github", "api.github.com"))          // substring default
    assert(m("|org0*", "org001/repo1"))            // prefix + wildcard
    assert(!m("|org0*", "xorg001"))
    assert(m("*.md|", "docs/readme.md"))           // suffix anchor
    assert(!m("*.md|", "readme.md.bak"))
    assert(m("a*c", "abc") && m("a*c", "axxxc") && !m("a*c", "ab"))
    // regex metachars in raw text stay literal
    assert(m("|a.b|", "a.b") && !m("|a.b|", "axb"))
  }

  test("multiplier: the reference boost fold") {
    assert(Optics.multiplier(Nil).contains(1.0))
    assert(Optics.multiplier(Seq(Boost(3))).contains(4.0))
    assert(Optics.multiplier(Seq(Boost(3), Downrank(1))).contains(3.0))
    // downrank dominance switches to the reciprocal form
    assert(Optics.multiplier(Seq(Downrank(4))).contains(1.0 / 5.0))
    assert(Optics.multiplier(Seq(Boost(1), Downrank(3))).contains(1.0 / 3.0))
    assert(Optics.multiplier(Seq(Boost(2), Discard)).isEmpty)
  }

  test("scorer: discard and discard-non-matching gate candidates") {
    val o = Optics.parse(
      """DiscardNonMatching;
        |Rule { Matches { Site("|org001*") }, Action(Boost(2)) };
        |Rule { Matches { Title("*.rs|") }, Action(Discard) }""".stripMargin)
    val score = Optics.scorer(o)
    def hit(repo: String, path: String) =
      graft.index.Hit(1, 0, 0, 1.0f, repo, path)
    assert(score(hit("org001/repo1", "src/a.scala")).contains((3.0, true)))
    assert(score(hit("org001/repo1", "src/a.rs")).isEmpty)    // discard rule
    assert(score(hit("org999/repo9", "src/a.scala")).isEmpty) // non-matching
  }

  test("patternMatch: adjacency, wildcards, position-0 anchor") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val docs = Seq(
      graft.index.SourceDoc("r1", "a.md", "c", "en", "alpha beta gamma delta"),
      graft.index.SourceDoc("r2", "b.md", "c", "en", "alpha gamma beta delta"),
      graft.index.SourceDoc("r3", "c.md", "c", "en", "beta alpha beta gamma"),
      graft.index.SourceDoc("r4", "d.md", "c", "en", "gamma delta"))
    val dir = TestDirs("graftpat")
    graft.index.IndexBuilder.build(spark, spark.createDataset(docs), dir,
      graft.index.IndexBuilder.Config(numSegments = 2))
    val idx = new graft.index.InvertedIndex(spark, dir)
    def repos(pat: String): Set[String] = {
      val m = idx.patternMatch(Optics.lexPattern(pat))
      idx.resolve(m.map { case (s, d) => (s, d, 0.0f) }, m.length)
        .map(_.repo).toSet
    }
    assert(repos("alpha beta") == Set("r1", "r3"))     // adjacent run
    assert(repos("gamma delta") == Set("r1", "r4"))    // not r2 (gap)
    assert(repos("alpha * delta") == Set("r1", "r2"))  // ordered w/ gap
    assert(repos("beta * alpha") == Set("r3"))         // order matters
    assert(repos("|alpha beta") == Set("r1"))          // pos-0 anchor
    assert(repos("|beta") == Set("r3"))
    assert(repos("delta * alpha") == Set.empty)
    // end anchors: the exact per-doc token count (DocRow.numTokens)
    // pins the last run to the doc's end
    assert(repos("gamma delta|") == Set("r1", "r4"))   // both END with it
    assert(repos("delta|") == Set("r1", "r2", "r4"))
    assert(repos("gamma|") == Set("r3"))               // only r3 ends gamma
    assert(repos("|gamma delta|") == Set("r4"))        // both anchors
    assert(repos("|alpha * delta|") == Set("r1", "r2"))
    assert(repos("beta|") == Set.empty)
    // candidate restriction evaluates only the given docs
    val all = idx.patternMatch(Optics.lexPattern("alpha"))
    val one = all.take(1).toSet
    assert(idx.patternMatch(Optics.lexPattern("alpha"), Some(one)).toSet == one)
  }

  test("patternMatch == brute-force string matcher (120 random patterns)") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val rnd = new scala.util.Random(2024)
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = (0 until 40).map { i =>
      val n = 3 + rnd.nextInt(10)
      val toks = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
      graft.index.SourceDoc(s"r$i", "f.md", "c", "en", toks.mkString(" "))
    }
    val dir = TestDirs("graftpatp")
    graft.index.IndexBuilder.build(spark, spark.createDataset(docs), dir,
      graft.index.IndexBuilder.Config(numSegments = 3))
    val idx = new graft.index.InvertedIndex(spark, dir)
    val byRepo = docs.map(d => d.repo -> d.content.split(" ").toSeq).toMap

    // brute force: ordered run placement with gaps, both anchors
    def brute(parts: List[Optics.Part], toks: Seq[String]): Boolean = {
      val runs = parts.collect { case Optics.Raw(s) => s.split(" ").toSeq }
        .filter(_.nonEmpty)
      val anch = parts match {
        case Optics.Anchor :: Optics.Raw(_) :: _ => true; case _ => false
      }
      val endAnch = parts.length >= 2 && parts.last == Optics.Anchor &&
        parts(parts.length - 2).isInstanceOf[Optics.Raw]
      def starts(run: Seq[String]): Seq[Int] =
        (0 to toks.length - run.length)
          .filter(p => toks.slice(p, p + run.length) == run)
      def place(rs: List[Seq[String]], minPos: Int, first: Boolean): Boolean =
        rs match {
          case Nil => true
          case r :: Nil if endAnch =>
            val t = toks.length - r.length
            t >= minPos && (!(first && anch) || t == 0) && starts(r).contains(t)
          case r :: rest =>
            starts(r).exists(p => p >= minPos && (!(first && anch) || p == 0) &&
              place(rest, p + r.length, first = false))
        }
      runs.nonEmpty && place(runs, 0, first = true)
    }

    def randomPattern(): List[Optics.Part] = {
      val nRuns = 1 + rnd.nextInt(3)
      val runs = List.fill(nRuns) {
        val len = 1 + rnd.nextInt(3)
        Optics.Raw(Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val mid: List[Optics.Part] =
        runs.flatMap(r => List(r, Optics.Wildcard)).dropRight(1)
      val withStart = if (rnd.nextBoolean()) Optics.Anchor :: mid else mid
      if (rnd.nextBoolean()) withStart :+ Optics.Anchor else withStart
    }

    (1 to 120).foreach { _ =>
      val pat = randomPattern()
      val got = idx.patternMatch(pat)
      val gotRepos = idx.resolve(got.map { case (s, d) => (s, d, 0.0f) }, got.length)
        .map(_.repo).toSet
      val want = byRepo.collect { case (r, t) if brute(pat, t) => r }.toSet
      assert(gotRepos == want,
        s"pattern $pat: engine $gotRepos vs brute $want")
    }
  }

  test("pipeline integration: Content rule boosts docs matching the pattern") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val docs = Seq(
      graft.index.SourceDoc("r1", "a.md", "c", "en",
        "data table merge engine " * 5),
      graft.index.SourceDoc("r2", "b.md", "c", "en",
        "data stream table sink pipeline " * 5),
      graft.index.SourceDoc("r3", "c.md", "c", "en",
        "table data write merge reader " * 5))
    val dir = TestDirs("graftpat2")
    graft.index.IndexBuilder.build(spark, spark.createDataset(docs), dir,
      graft.index.IndexBuilder.Config(numSegments = 2, indexStemmed = true,
        indexBigrams = true, computeSimhash = true))
    val idx = new graft.index.InvertedIndex(spark, dir)
    // "data table" adjacent occurs only in r1; boost it above the rest
    val res = graft.index.SearchPipeline.run(idx, "table data", 3,
      cfg = graft.index.SearchPipeline.Config(optic = Some(Optics.parse(
        """Rule { Matches { Content("data table merge") }, Action(Boost(50)) }"""))))
    assert(res.nonEmpty)
    assert(res.head.repo == "r1", res.map(_.repo).toString)
  }

  test("wildcard Site blocklist prefilters at recall, not just post-recall") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    // 30 docs from mirror repos that OUTSCORE the one good doc (higher
    // tf), all matching a wildcard Site discard; with only post-recall
    // discarding and slack 1, the mirrors would fill the candidate page
    // and the good doc would never surface
    val docs = (0 until 30).map(i =>
      graft.index.SourceDoc(s"mirror-site-$i", "a.md", "c", "en",
        "data table " * 8)) :+
      graft.index.SourceDoc("good/repo", "b.md", "c", "en",
        "data table once here")
    val dir = TestDirs("graftwb")
    graft.index.IndexBuilder.build(spark, spark.createDataset(docs), dir,
      graft.index.IndexBuilder.Config(numSegments = 2, indexStemmed = true,
        indexBigrams = true, indexMeta = true, computeSimhash = true))
    val idx = new graft.index.InvertedIndex(spark, dir)
    val optic = Optics.parse(
      """Rule { Matches { Site("|mirror-site-*") }, Action(Discard) }""")
    // the pattern is wildcard (not exact-anchored): blockedSites must
    // NOT pick it up, blockedSitePatterns must
    assert(Optics.blockedSites(optic).isEmpty)
    assert(Optics.blockedSitePatterns(optic).nonEmpty)
    // resolution finds exactly the mirror repos
    val resolved = idx.reposMatching(
      Optics.blockedSitePatterns(optic).map(_.regex), Nil)
    assert(resolved.toSet == (0 until 30).map(i => s"mirror-site-$i").toSet)
    val res = graft.index.SearchPipeline.run(idx, "data table", 1,
      cfg = graft.index.SearchPipeline.Config(slack = 1, optic = Some(optic)))
    assert(res.map(_.repo) == Seq("good/repo"),
      s"wildcard-blocked repos must not consume candidate slots: $res")
    // Domain form prefilters too (org prefix of the repo)
    val oDom = Optics.parse(
      """Rule { Matches { Domain("|good|") }, Action(Discard) }""")
    val resolvedDom = idx.reposMatching(Nil,
      Optics.blockedSitePatterns(oDom).map(_.regex))
    assert(resolvedDom == Seq("good/repo"))
  }

  test("host preferences anchor to the exact host; empty Matches rejected") {
    // a bare Like host must NOT substring-match other sites
    val o = Optics.parse("""Like(Site("a.com"))""")
    val score = Optics.scorer(o)
    def hit(repo: String) = graft.index.Hit(1, 0, 0, 1.0f, repo, "f")
    assert(score(hit("a.com")).contains((5.0, true)))
    assert(score(hit("evil-a.com.example")).contains((1.0, false)))
    // pre-anchored spelling normalizes instead of doubling anchors
    val o2 = Optics.parse("""Dislike(Site("|b.org|"))""")
    assert(Optics.scorer(o2)(hit("b.org")).contains((1.0 / 5.0, true)))
    // rules without matches (or with an empty group) are parse errors,
    // not a columns-crash / scorer-matches-everything divergence
    intercept[Optics.ParseError](Optics.parse("""Rule { Action(Boost(2)) }"""))
    intercept[Optics.ParseError](
      Optics.parse("""Rule { Matches { }, Action(Boost(2)) }"""))
  }

  test("punctuation-only runs vanish as wildcards, not mis-bound anchors") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val docs = Seq(
      graft.index.SourceDoc("p1", "a.md", "c", "en", "alpha beta"),
      graft.index.SourceDoc("p2", "b.md", "c", "en", "beta alpha"))
    val dir = TestDirs("graftpat3")
    graft.index.IndexBuilder.build(spark, spark.createDataset(docs), dir,
      graft.index.IndexBuilder.Config(numSegments = 1))
    val idx = new graft.index.InvertedIndex(spark, dir)
    def repos(pat: String): Set[String] = {
      val m = idx.patternMatch(Optics.lexPattern(pat))
      idx.resolve(m.map { case (s, d) => (s, d, 0.0f) }, m.length)
        .map(_.repo).toSet
    }
    // a Raw that tokenizes to NOTHING (constructed directly — the
    // default tokenizer emits punctuation as real tokens, so ",," is a
    // genuine term constraint, but programmatic callers can hand over
    // empty runs) must vanish as a wildcard: the end anchor must not
    // re-bind to "alpha" and wrongly demand docs END with it
    def reposP(parts: List[Optics.Part]): Set[String] = {
      val m = idx.patternMatch(parts)
      idx.resolve(m.map { case (s, d) => (s, d, 0.0f) }, m.length)
        .map(_.repo).toSet
    }
    import Optics.{Anchor, Raw, Wildcard}
    assert(reposP(List(Raw("alpha"), Wildcard, Raw(""), Anchor)) ==
      Set("p1", "p2"))
    assert(reposP(List(Anchor, Raw(""), Wildcard, Raw("beta"))) ==
      Set("p1", "p2"))
    // and a punctuation run IS a real token constraint (absent here)
    assert(repos("alpha * ,,|") == Set.empty)
    assert(repos("alpha|") == Set("p2")) // control: real end anchor
  }

  test("blockedSites extracts only the exact-anchored Site discard shape") {
    val o = Optics.parse(
      """Rule { Matches { Site("|a.com|") }, Action(Discard) };
        |Rule { Matches { Site("b.com") }, Action(Discard) };
        |Rule { Matches { Site("|c.com|") }, Action(Boost(2)) };
        |Rule { Matches { Site("|d.com|"), Url("x") }, Action(Discard) }""".stripMargin)
    // unanchored / boosted / AND-compound rules are NOT blocklist
    // entries (reference as_blocked_sites, lib.rs:406-470)
    assert(Optics.blockedSites(o) == Seq("a.com"))
  }

  test("pipeline integration: boost reorders, discard removes") {
    val spark = SparkTestSession.spark
    val corpus = graft.index.Corpus.generate(spark, 300, seed = 55L).cache()
    val dir = TestDirs("graftoptic")
    graft.index.IndexBuilder.build(spark, corpus, dir,
      graft.index.IndexBuilder.Config(numSegments = 2, indexStemmed = true,
        indexBigrams = true, indexMeta = true, computeSimhash = true))
    val idx = new graft.index.InvertedIndex(spark, dir)
    val plain = graft.index.SearchPipeline.run(idx, "data table", 10)
    assert(plain.nonEmpty)
    val favourite = plain.last.repo // a low-ranked repo to boost up
    val boosted = graft.index.SearchPipeline.run(idx, "data table", 10,
      cfg = graft.index.SearchPipeline.Config(
        optic = Some(Optics.parse(s"""Like(Site("|$favourite|"))"""))))
    assert(boosted.head.repo == favourite,
      s"expected $favourite first, got ${boosted.head.repo}")
    val discarded = graft.index.SearchPipeline.run(idx, "data table", 10,
      cfg = graft.index.SearchPipeline.Config(
        optic = Some(Optics.parse(
          s"""Rule { Matches { Site("|$favourite|") }, Action(Discard) }"""))))
    assert(discarded.forall(_.repo != favourite))
  }
}
