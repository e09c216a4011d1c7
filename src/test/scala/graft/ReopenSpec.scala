package graft

import java.lang.Float.floatToRawIntBits

import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tokenizers
import graft.index._
import graft.streaming.LiveIndex

/** A reopen reuses the fieldnorms and doc keys that an earlier instance
  * in the same session holds when its stat rows and files are the same,
  * and collects them otherwise (InvertedIndex's segment holder). Either
  * way, a reopened instance and a Searcher over it answer bit for bit as
  * a first open does (an instance in a new session, which holds
  * nothing), the residency cap still bounds what it holds, and a
  * rewritten segment id is never matched against the old segment's
  * entries. */
class ReopenSpec extends AnyFunSuite {
  import ResidentKeysSpec._

  lazy val spark: SparkSession = SparkTestSession.spark

  private val seed = 31L
  private val perBatch = 40L
  private val conf = InvertedIndex.ResidentFnormBytesConf
  private val cfg = IndexBuilder.Config(indexBigrams = true, indexTrigrams = true, indexMeta = true,
    computeSimhash = true)

  private def batch(b: Long): Dataset[SourceDoc] = {
    val sp = spark
    import sp.implicits._
    spark.createDataset((b * perBatch until (b + 1) * perBatch).map(i => Corpus.mkDoc(i, seed, skew = false)))
  }

  private def firstOpen(dir: String): InvertedIndex = new InvertedIndex(spark.newSession(), dir)

  private def withCap[T](s: SparkSession, cap: Long)(f: => T): T = {
    s.conf.set(conf, cap.toString)
    try f finally s.conf.unset(conf)
  }

  private def jobsOf[T](f: => T): Int = SparkJobs.count(spark)(f)

  private def warm(idx: InvertedIndex): Unit = idx.resolve(idx.searchRaw("spark data", 10), 10)

  private def segments(idx: InvertedIndex): Set[Int] = idx.segStats.collect().map(_.segment).toSet

  private def fnormBits(idx: InvertedIndex) =
    idx.residentFnormsLocal.map { case (s, fs) => s -> fs.map { case (f, a) => f -> a.toSeq } }

  private def rawBits(hs: Array[(Int, Int, Float)]) =
    hs.toSeq.map { case (s, d, x) => (s, d, floatToRawIntBits(x)) }

  /** or, and, phrase and or+ queries, each with and without a minus
    * term; the phrase is two adjacent tokens of doc `i`, its salt term
    * last. */
  private def queries(i: Long): Seq[(String, String, Seq[String])] = {
    val salt = s"zzsalt${i}a"
    val toks = Tokenizers.default(Corpus.mkDoc(i, seed, skew = false).content)
    val phrase = s"${toks(toks.indexOf(salt) - 1)} $salt"
    Seq(("spark data table", "or"), ("spark data", "and"), (phrase, "phrase"), ("merging data tables", "or+"))
      .flatMap { case (q, mode) => Seq((q, mode, Nil), (q, mode, Seq("session"))) }
  }

  /** Every answer of `got` equals `want`'s, bit for bit; with
    * `resident`, so do its fieldnorm arrays. */
  private def sameAnswers(tag: String, got: InvertedIndex, want: InvertedIndex,
                          qs: Seq[(String, String, Seq[String])], resident: Boolean = true): Unit = {
    var hits = 0
    qs.foreach { case (q, mode, minus) =>
      val t = s"$tag: '$q' $mode minus=$minus"
      val raw = want.searchRaw(q, 12, mode, minus)
      hits += raw.length
      assert(rawBits(got.searchRaw(q, 12, mode, minus)) == rawBits(raw), t)
      assert(hitBits(got.resolve(raw, 12)) == hitBits(want.resolve(raw, 12)), t)
    }
    assert(hits > 0, tag)
    qs.map(_._1).distinct.foreach { q =>
      assert(hitBits(got.searchDeduped(q, 8)) == hitBits(want.searchDeduped(q, 8)), s"$tag: searchDeduped '$q'")
      val cands = want.searchRaw(q, InvertedIndex.candidateBudget(10), "or+")
      assert(signalBits(got.rankSignalsOver(q, cands, 10)) == signalBits(want.rankSignalsOver(q, cands, 10)),
        s"$tag: rankSignalsOver '$q'")
    }
    if (resident) assert(fnormBits(got) == fnormBits(want), s"$tag: fieldnorms")
    val keys = allKeys(want)
    assert(got.docsOf(keys) == want.docsOf(keys), s"$tag: doc keys")
  }

  test("after each of 6 appends, a reopen and a Searcher over it equal a first open, bit for bit") {
    val dir = TestDirs("graftreopenprop")
    (0L until 6L).foreach { b =>
      LiveIndex.appendBatch(batch(b), b, dir, cfg)
      // the commit cleared what the previous generation's instances held
      assert(InvertedIndex.heldSegments(spark, dir) == ((Set.empty[Int], Set.empty[Int])), s"batch $b")
      val reopened = new InvertedIndex(spark, dir)
      val first = firstOpen(dir)
      val i = b * perBatch + 7
      val qs = queries(i)
      sameAnswers(s"batch $b, reopened", reopened, first, qs)
      // a reopen of the unchanged dir, and a Searcher over it, reuse what
      // `reopened` collected
      val unchanged = new InvertedIndex(spark, dir)
      unchanged.stats
      assert(jobsOf(unchanged.residentFnormsLocal) == 0 && jobsOf(unchanged.residentKeyBytes) == 0, s"batch $b")
      sameAnswers(s"batch $b, unchanged", unchanged, first, qs)
      sameAnswers(s"batch $b, Searcher", new Searcher(unchanged), first, qs)
      assert(first.docsOf(allKeys(first)).valuesIterator.exists(_.simhash != 0L))
      // the newest batch's salt term names its doc
      val want = Corpus.mkDoc(i, seed, skew = false)
      val salted = reopened.resolve(reopened.searchRaw(s"zzsalt${i}a", 5), 5)
      assert(salted.map(h => (h.repo, h.path)).toSeq == Seq((want.repo, want.path)), s"batch $b")
      // the holder keeps this generation's ids only
      val held = segments(first)
      assert(held.size == 4 * (b + 1))
      assert(InvertedIndex.heldSegments(spark, dir) == ((held, held)), s"batch $b")
    }
  }

  test("a capped reopen after a resident instance holds nothing resident and answers the same") {
    val dir = TestDirs("graftreopencapped")
    (0L until 2L).foreach(b => LiveIndex.appendBatch(batch(b), b, dir, cfg))
    val s = spark.newSession()
    warm(new InvertedIndex(s, dir))
    val capped = withCap(s, 1L)(new InvertedIndex(s, dir))
    assert(!capped.fnormsResident && capped.residentKeyBytes == 0)
    sameAnswers("capped", capped, firstOpen(dir), queries(perBatch + 7), resident = false)
    assert(!capped.fnormsResident && capped.residentKeyBytes == 0)
  }

  test("a reopen whose cap fits the fieldnorms but not the keys holds no more than the cap") {
    val dir = TestDirs("graftreopentight")
    (0L until 2L).foreach(b => LiveIndex.appendBatch(batch(b), b, dir, cfg))
    val s = spark.newSession()
    val resident = new InvertedIndex(s, dir)
    val (fn, keys) = (fnormBytes(resident), resident.residentKeyBytes)
    assert(fn > 0 && keys > 0)
    // unchanged dir: the held keys alone exceed the room, so none are
    // resident and nothing is collected
    val tight = withCap(s, fn + keys - 1)(new InvertedIndex(s, dir))
    tight.stats
    assert(jobsOf(tight.residentKeyBytes) == 0)
    assert(tight.fnormsResident && tight.residentKeyBytes == 0 && fnormBytes(tight) <= fn + keys - 1)

    // after an append nothing is held: the keys are collected again and
    // do not fit, so the collect's tasks return overflow markers
    LiveIndex.appendBatch(batch(2L), 2L, dir, cfg)
    val first = firstOpen(dir)
    val (fn2, keys2) = (fnormBytes(first), first.residentKeyBytes)
    val over = withCap(s, fn2 + keys2 - 1)(new InvertedIndex(s, dir))
    assert(fnormBytes(over) == fn2)
    assert(jobsOf(over.residentKeyBytes) == 1)
    assert(over.residentKeyBytes == 0)
    sameAnswers("over budget by one byte", over, first, queries(2 * perBatch + 7))
    // under the default cap the keys are resident
    val roomy = new InvertedIndex(s, dir)
    assert(roomy.residentKeyBytes == keys2)
    sameAnswers("default cap", roomy, first, queries(2 * perBatch + 7))
  }

  test("a dir deleted and rebuilt in place in the same session is never matched against its old segments") {
    val dir = TestDirs("graftrebuilt")
    val docs = Corpus.generate(spark, 300, seed = seed)
    IndexBuilder.build(spark, docs, dir, IndexBuilder.Config(numSegments = 4))
    val old = new InvertedIndex(spark, dir)
    warm(old)
    val oldStats = old.segStats.collect().toSeq
    val oldKeys = old.docsOf(allKeys(old))
    val other = spark.newSession()
    warm(new InvertedIndex(other, dir))
    Seq(spark, other).foreach(s =>
      assert(InvertedIndex.heldSegments(s, dir) == ((Set(0, 1, 2, 3), Set(0, 1, 2, 3)))))

    IndexBuilder.deleteRecursively(new java.io.File(dir))
    val repos = docs.select("repo").distinct().collect().map(_.getString(0)).sorted
    val centrality = repos.zipWithIndex.map { case (r, j) => r -> (j % 7 + 1).toLong }.toMap
    IndexBuilder.build(spark, docs, dir, IndexBuilder.Config(numSegments = 4, centrality = centrality))
    // the commit cleared the holder before adopting, in every session
    // that held the dir
    Seq(spark, other).foreach(s =>
      assert(InvertedIndex.heldSegments(s, dir) == ((Set.empty[Int], Set.empty[Int]))))

    val reopened = new InvertedIndex(spark, dir)
    val first = firstOpen(dir)
    // the same content under the same ids, in another doc order
    def content(st: Seq[SegStatRow]) = st.map(s => (s.segment, s.numDocs, s.numTokens, s.sha256Agg)).sortBy(_._1)
    assert(content(first.segStats.collect().toSeq) == content(oldStats))
    assert(first.docsOf(allKeys(first)) != oldKeys)
    sameAnswers("rebuilt", reopened, first, queries(7))
  }
}
