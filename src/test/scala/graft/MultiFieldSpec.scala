package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Bm25, PorterStemmer, Tokenizers}
import graft.index._

class PorterStemmerSpec extends AnyFunSuite {
  test("classic examples") {
    val cases = Map(
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "caress" -> "caress", "cats" -> "cat",
      "agreed" -> "agre", "plastered" -> "plaster", "bled" -> "bled",
      "motoring" -> "motor", "sing" -> "sing",
      "conflated" -> "conflat", "troubled" -> "troubl", "sized" -> "size",
      "hopping" -> "hop", "tanned" -> "tan", "falling" -> "fall",
      "hissing" -> "hiss", "fizzed" -> "fizz", "failing" -> "fail",
      "filing" -> "file", "happy" -> "happi", "sky" -> "sky",
      "relational" -> "relat", "conditional" -> "condit",
      "rational" -> "ration", "valenci" -> "valenc",
      "digitizer" -> "digit", "operator" -> "oper",
      "triplicate" -> "triplic", "formative" -> "form",
      "formalize" -> "formal", "electrical" -> "electr",
      "hopeful" -> "hope", "goodness" -> "good",
      "revival" -> "reviv", "allowance" -> "allow",
      "inference" -> "infer", "airliner" -> "airlin",
      "adjustment" -> "adjust", "dependent" -> "depend",
      "adoption" -> "adopt", "activate" -> "activ",
      "probate" -> "probat", "rate" -> "rate", "cease" -> "ceas",
      "controll" -> "control", "roll" -> "roll")
    cases.foreach { case (in, want) =>
      assert(PorterStemmer.stem(in) == want, s"stem($in)")
    }
  }

  test("stability: stemming a stem is idempotent on common words") {
    Seq("running", "connection", "searches", "indexed", "merging").foreach { w =>
      val s1 = PorterStemmer.stem(w)
      assert(s1.nonEmpty && s1.length <= w.length)
    }
  }
}

/** Field-expanded queries: stemmed + bigram shadow fields. */
class MultiFieldSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def tmpDir(): String = TestDirs("graftmf")

  private lazy val corpus = Corpus.generate(spark, 500, seed = 11L).cache()

  private lazy val dir = {
    val d = tmpDir()
    IndexBuilder.build(spark, corpus, d, IndexBuilder.Config(
      numSegments = 3, indexStemmed = true, indexBigrams = true, indexTrigrams = true))
    d
  }
  private lazy val index = new InvertedIndex(spark, dir)

  test("expanded WAND == expanded exhaustive") {
    Seq("spark session", "merge sort", "data tables merging", "the license")
      .foreach { q =>
        val w = index.searchRaw(q, 20, "or+")
        val e = index.searchRaw(q, 20, "exhaustive+")
        assert(w.toSeq == e.toSeq, s"query '$q'")
      }
  }

  test("stemmed field recalls inflected forms") {
    // corpus vocab has "merge"; query "merging" stems to "merg" — both
    // sides meet in the stemmed field
    val plain = index.searchRaw("merging", 10, "or")
    val expanded = index.searchRaw("merging", 10, "or+")
    // "merging" never appears literally, so the unexpanded query is empty
    assert(plain.isEmpty)
    assert(expanded.nonEmpty)
    // and the top hit must actually contain "merge"
    val hits = index.resolve(expanded, expanded.length)
    val docsWithMerge = corpus.collect()
      .filter(d => Tokenizers.default(d.content).exists(t => PorterStemmer.stem(t) == PorterStemmer.stem("merging")))
      .map(d => (d.repo, d.path)).toSet
    assert(hits.map(h => (h.repo, h.path)).toSet.subsetOf(docsWithMerge))
  }

  test("compound bigram field boosts adjacent pairs") {
    // docs where "hash join" occurs adjacently get the bigram's extra
    // contribution; a doc with both words non-adjacent does not
    val expanded = index.searchRaw("hash join", 50, "or+").toSeq
    assert(expanded.nonEmpty)
    val adjacent = corpus.collect().filter { d =>
      Tokenizers.default(d.content).sliding(2).exists(p =>
        p.length == 2 && p(0) == "hash" && p(1) == "join")
    }.map(d => (d.repo, d.path)).toSet
    if (adjacent.nonEmpty) {
      val resolved = index.resolve(expanded.toArray, expanded.length)
      val topAdj = resolved.take(math.min(3, adjacent.size))
        .map(h => (h.repo, h.path))
      assert(topAdj.exists(adjacent.contains),
        "adjacent-pair docs should rank at the top under compound expansion")
    }
  }

  test("BM25F == brute-force shared-idf field-weighted scoring") {
    import graft.core.{Bm25FWeight, FieldNorm}
    val q = "merging data tables"
    val k = 15
    val got = index.searchBm25F(q, k)
    assert(got.nonEmpty)

    // brute-force oracle over the raw corpus, mirroring the plan order
    val base = Tokenizers.default(q).distinct.take(16).toSeq
    val N = index.stats.numDocs
    val avgFn = index.stats.avgFieldNorm
    val bigramAvg = math.max(index.stats.numTokens - N, 1L).toFloat / N.toFloat
    val coeffs = Fields.DefaultBm25fCoeffs
    // (idfText, field, tfOf(doc tokens))
    val plan: Seq[(String, Int, Array[String] => Int)] =
      base.map { t => (t, Fields.Content,
        (toks: Array[String]) => toks.count(_ == t)) } ++
      base.map { t => val s = PorterStemmer.stem(t)
        (s, Fields.Stemmed,
          (toks: Array[String]) => toks.count(x => PorterStemmer.stem(x) == s)) } ++
      base.sliding(2).map { p => (p(0) + p(1), Fields.Bigram,
        (toks: Array[String]) => toks.sliding(2).count(w =>
          w.length == 2 && w(0) == p(0) && w(1) == p(1))) }.toSeq
    // shared idf: content-field df of the idf text
    val allDocs = corpus.collect().map(d => (d, Tokenizers.default(d.content)))
    val dfOf: Map[String, Long] = plan.map(_._1).distinct.map { txt =>
      txt -> allDocs.count(_._2.contains(txt)).toLong
    }.toMap
    val weights = plan.map { case (txt, field, tfF) =>
      (new Bm25FWeight(Bm25.idf(dfOf(txt), N),
        if (field == Fields.Bigram) bigramAvg else avgFn, coeffs(field)), field, tfF)
    }
    val expected: Map[(String, String), Float] = allDocs.map { case (d, toks) =>
      var score = 0.0f
      weights.foreach { case (w, field, tfF) =>
        val tf = tfF(toks)
        if (tf > 0) {
          val fnId = field match {
            case Fields.Bigram => FieldNorm.fieldNormToId(math.max(toks.length - 1, 0).toLong)
            case _ => FieldNorm.fieldNormToId(toks.length.toLong)
          }
          score += w.score(fnId, tf)
        }
      }
      (d.repo, d.path) -> score
    }.toMap
    val resolved = index.resolve(got, got.length)
    resolved.foreach { h =>
      assert(math.abs(expected((h.repo, h.path)) - h.score) < 1e-5f,
        s"${h.repo}/${h.path}: got ${h.score}, want ${expected((h.repo, h.path))}")
    }
    // top-k multiset of scores must match the brute-force ranking
    val wantTop = expected.values.toSeq.sortBy(-_.toDouble).take(k)
    val gotTop = resolved.map(_.score).toSeq
    wantTop.zip(gotTop).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-5f, s"top-k score drift: $a vs $b")
    }
  }

  test("cogrouped fieldnorms score bit-identically to resident fieldnorms") {
    // a 0-byte resident cap sends every perSegment caller's fnorm rows
    // through the posting shuffle; the cap is read when the index is
    // built
    val cap = InvertedIndex.ResidentFnormBytesConf
    spark.conf.set(cap, "0")
    val cogrouped = try new InvertedIndex(spark, dir) finally spark.conf.unset(cap)
    assert(index.fnormsResident && !cogrouped.fnormsResident)

    val queries = Seq("spark session", "merge sort", "data tables merging", "the license")
    val plans = for {
      q <- queries
      mode <- Seq("or", "and", "phrase", "dismax", "exhaustive", "bitset", "or+")
      minus <- Seq(Nil, Seq("batch"))
    } yield (s"$q|$mode|$minus", q, 15, mode, minus)
    val want = index.searchBatchRaw(plans)
    val got = cogrouped.searchBatchRaw(plans)
    assert(want.values.exists(_.nonEmpty))
    plans.foreach(p => assert(got(p._1).toSeq == want(p._1).toSeq, p._1))

    val clauses = Seq(("spark", 2.0f), ("data", 1.0f),
      (Fields.bigramTerm("data", "tables"), 0.5f), (Fields.trigramTerm("merge", "sort", "data"), 1.5f))
    assert(cogrouped.searchBoosted(clauses, 15).toSeq == index.searchBoosted(clauses, 15).toSeq)

    import graft.core.BooleanQuery.{Bool, Term}
    val tree = Bool(must = Seq(Term("data")),
      should = Seq(Term("spark"), Term(Fields.bigramTerm("data", "tables"))),
      mustNot = Seq(Term("batch")))
    assert(cogrouped.searchBool(tree, 15).toSeq == index.searchBool(tree, 15).toSeq)

    queries.foreach { q =>
      assert(cogrouped.searchBm25F(q, 15).toSeq == index.searchBm25F(q, 15).toSeq, q)
      Seq(50, 10000).foreach { budget =>
        val (wh, wc, ws) = index.searchApprox(q, 10, budget)
        val (gh, gc, gs) = cogrouped.searchApprox(q, 10, budget)
        assert((gh.toSeq, gc, gs) == ((wh.toSeq, wc, ws)), s"$q budget=$budget")
      }
      val cands = index.searchRaw(q, InvertedIndex.candidateBudget(15), "or+")
      assert(cogrouped.rankSignalsOver(q, cands, 15).toSeq ==
        index.rankSignalsOver(q, cands, 15).toSeq, q)
    }
  }

  test("merge preserves multi-field results") {
    val d2 = tmpDir()
    // rebuild source dir to merge from (merge needs its own copy)
    val src = tmpDir()
    IndexBuilder.build(spark, corpus, src, IndexBuilder.Config(
      numSegments = 3, indexStemmed = true, indexBigrams = true, indexTrigrams = true))
    SegmentMerge.merge(spark, src, d2, fanIn = 3)
    val merged = new InvertedIndex(spark, d2)
    Seq("merging data", "hash join", "the license").foreach { q =>
      val a = index.search(q, 15, "or+").map(h => (h.repo, h.path, h.score)).toSet
      val b = merged.search(q, 15, "or+").map(h => (h.repo, h.path, h.score)).toSet
      assert(a == b, s"query '$q'")
    }
  }
}
