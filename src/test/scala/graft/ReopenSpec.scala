package graft

import java.lang.Float.floatToRawIntBits

import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tokenizers
import graft.index._
import graft.streaming.LiveIndex

/** A reopen reuses the fieldnorms and doc keys that its session's
  * segment holder holds when its stat rows and files are the same, and
  * collects them otherwise (InvertedIndex's segment holder). Every
  * commit forgets the segment ids it rewrites in every session's holder
  * and adds the segments its write handed over, so a holder of the
  * generation a commit appends to holds the next one. Either way, a
  * reopened instance and a Searcher over it answer bit for bit as a first
  * open does (an instance in a new session, which holds nothing), the
  * residency cap still bounds what it holds, and a rewritten segment id
  * is never matched against the old segment's entries. */
class ReopenSpec extends AnyFunSuite {
  import ResidentKeysSpec._

  lazy val spark: SparkSession = SparkTestSession.spark

  private val seed = 31L
  private val perBatch = 40L
  private val conf = InvertedIndex.ResidentFnormBytesConf
  private val cfg = IndexBuilder.Config(indexBigrams = true, indexTrigrams = true, indexMeta = true,
    computeSimhash = true)

  /** Batch `b`'s docs, in session `in` (the session its append runs in). */
  private def batch(b: Long, in: SparkSession = spark): Dataset[SourceDoc] = {
    import in.implicits._
    in.createDataset((b * perBatch until (b + 1) * perBatch).map(i => Corpus.mkDoc(i, seed, skew = false)))
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

  test("after each of 6 appends the holder holds the new generation, and a reopen and a Searcher over it equal a first open, bit for bit") {
    val dir = TestDirs("graftreopenprop")
    (0L until 6L).foreach { b =>
      LiveIndex.appendBatch(batch(b), b, dir, cfg)
      val first = firstOpen(dir)
      // the commit handed the batch to the holder of the previous
      // generation (none before the first reader)
      val ids = if (b == 0) Set.empty[Int] else segments(first)
      assert(ids.size == (if (b == 0) 0 else 4 * (b + 1)))
      assert(InvertedIndex.heldSegments(spark, dir) == ((ids, ids)), s"batch $b")
      val reopened = new InvertedIndex(spark, dir)
      reopened.stats
      val reads = if (b == 0) 1 else 0
      assert(jobsOf(reopened.residentFnormsLocal) == reads && jobsOf(reopened.residentKeyBytes) == reads,
        s"batch $b")
      val i = b * perBatch + 7
      val qs = queries(i)
      sameAnswers(s"batch $b, reopened", reopened, first, qs)
      // a reopen of the unchanged dir, and a Searcher over it, reuse what
      // `reopened` holds
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

  /** Appends batches `bs` to a new dir and opens it in a new session,
    * whose holder then holds that generation. */
  private def held(name: String, bs: Seq[Long]): (String, SparkSession) = {
    val dir = TestDirs(name)
    bs.foreach(b => LiveIndex.appendBatch(batch(b), b, dir, cfg))
    val s = spark.newSession()
    warm(new InvertedIndex(s, dir))
    assert(InvertedIndex.heldSegments(s, dir)._2.size == 4 * bs.size)
    (dir, s)
  }

  /** A reopen in `s` after a commit that handed it nothing: it collects
    * the fieldnorms and doc keys, and equals a first open. */
  private def collectsAgain(tag: String, s: SparkSession, dir: String, i: Long): InvertedIndex = {
    val reopened = new InvertedIndex(s, dir)
    reopened.stats
    assert(jobsOf(reopened.residentFnormsLocal) == 1, tag)
    sameAnswers(tag, reopened, firstOpen(dir), queries(i))
    reopened
  }

  test("an append whose rows pass the room its readers' cap leaves hands them nothing, and they hold no more than the cap") {
    val (dir, s) = held("graftreopenroom", Seq(0L, 1L))
    val reader = new InvertedIndex(s, dir)
    val bytes = fnormBytes(reader) + reader.residentKeyBytes
    // room for about half of the next batch's rows
    val cap = bytes + bytes / 4
    withCap(s, cap)(LiveIndex.appendBatch(batch(2L), 2L, dir, cfg))
    val reopened = withCap(s, cap)(collectsAgain("overflowed", s, dir, 2 * perBatch + 7))
    assert(fnormBytes(reopened) + reopened.residentKeyBytes <= cap)
    // the keys did not fit beside the fieldnorms: only these are held
    assert(reopened.residentKeyBytes == 0)
    assert(InvertedIndex.heldSegments(s, dir) == ((segments(reopened), Set.empty[Int])))
  }

  test("a holder left stale by a reader of an older generation: the reopen after the next append collects and equals a first open") {
    val dir = TestDirs("graftreopenstale")
    LiveIndex.appendBatch(batch(0L), 0L, dir, cfg)
    val s = spark.newSession()
    // a reader whose stat rows and table readers predate the next append
    val old = new InvertedIndex(s, dir)
    old.stats; old.fnorms; old.docs; old.postings
    // appended from a session that never opened the dir: nothing holds
    // the dir yet, so nothing is handed
    LiveIndex.appendBatch(batch(1L, spark.newSession()), 1L, dir, cfg)
    // the old reader now fills the holder with batch 0 alone; the next
    // append adds batch 2 to it, which leaves it holding no generation
    // of the dir
    warm(old)
    assert(InvertedIndex.heldSegments(s, dir)._2.size == 4)
    LiveIndex.appendBatch(batch(2L), 2L, dir, cfg)
    collectsAgain("stale", s, dir, 2 * perBatch + 7)
  }

  test("a commit adds its segments to each session only while they fit that session's cap") {
    val (dir, tight) = held("graftreopentwocaps", Seq(0L, 1L))
    val roomy = spark.newSession()
    warm(new InvertedIndex(roomy, dir))
    val reader = new InvertedIndex(tight, dir)
    // a cap that leaves `tight` no room beside what it holds
    val cap = fnormBytes(reader) + reader.residentKeyBytes
    withCap(tight, cap)(LiveIndex.appendBatch(batch(2L), 2L, dir, cfg))
    // the write reported its rows within `roomy`'s room, and only `roomy`
    // took them
    takesHanded("roomy", roomy, dir, 2 * perBatch + 7)
    val before = segments(reader)
    assert(InvertedIndex.heldSegments(tight, dir) == ((before, before)))
    withCap(tight, cap)(collectsAgain("tight", tight, dir, 2 * perBatch + 7))
  }

  test("a committed replay of a batch id hands nothing twice") {
    val (dir, s) = held("graftreopenreplay", Seq(0L))
    LiveIndex.appendBatch(batch(1L), 1L, dir, cfg)
    val ids = segments(firstOpen(dir))
    assert(InvertedIndex.heldSegments(s, dir) == ((ids, ids)))
    LiveIndex.appendBatch(batch(1L), 1L, dir, cfg) // a no-op
    assert(InvertedIndex.heldSegments(s, dir) == ((ids, ids)))
    val reopened = new InvertedIndex(s, dir)
    reopened.stats
    assert(jobsOf(reopened.residentFnormsLocal) == 0 && jobsOf(reopened.residentKeyBytes) == 0)
    assert(reopened.docsOf(allKeys(reopened)).size == 2 * perBatch)
    sameAnswers("replayed", reopened, firstOpen(dir), queries(perBatch + 7))
  }

  /** A reopen in `s` after a commit that handed it its segments: it
    * collects nothing, holds each doc key once, and equals a first open. */
  private def takesHanded(tag: String, s: SparkSession, dir: String, i: Long): Unit = {
    val reopened = new InvertedIndex(s, dir)
    reopened.stats
    assert(jobsOf(reopened.residentFnormsLocal) == 0 && jobsOf(reopened.residentKeyBytes) == 0, tag)
    val first = firstOpen(dir)
    assert(reopened.residentKeyBytes == first.residentKeyBytes, tag)
    sameAnswers(tag, reopened, first, queries(i))
  }

  test("an append that crashed after adopting and re-ran hands its segments over: the reopen collects nothing, and each doc key is held once") {
    val (dir, s) = held("graftreopencrash", Seq(0L))
    LiveIndex.appendBatch(batch(1L), 1L, dir, cfg)
    // the crash: the rows are adopted and manifested, the generation is
    // not; a reader in `s` then holds the generation before it
    Crashes.beforeGeneration(dir, "live1")
    warm(new InvertedIndex(s, dir))
    LiveIndex.appendBatch(batch(1L), 1L, dir, cfg)
    assert(IndexBuilder.batchCommitted(dir, "live1"))
    takesHanded("re-run", s, dir, perBatch + 7)
    assert(new InvertedIndex(s, dir).docsOf(allKeys(firstOpen(dir))).size == 2 * perBatch)
  }

  test("a SegmentMerge into a held dir hands it nothing") {
    val (dir, s) = held("graftreopenmerged", Seq(0L))
    val other = TestDirs("graftreopenmergein")
    (1L to 2L).foreach(b => LiveIndex.appendBatch(batch(b), b, other, cfg))
    SegmentMerge.merge(spark, other, dir, fanIn = 4, cfg)
    collectsAgain("merged into", s, dir, 2 * perBatch + 7)
  }

  test("a LiveIndex.start micro-batch hands its segments to a reader in the caller's session") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = TestDirs("graftreopenstream")
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SourceDoc]
    val query = LiveIndex.start(stream.toDS(), dir, TestDirs("graftreopenckpt"),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"), cfg)
    try {
      def add(b: Long): Unit = {
        stream.addData((b * perBatch until (b + 1) * perBatch).map(i => Corpus.mkDoc(i, seed, skew = false)))
        query.processAllAvailable()
      }
      add(0L)
      warm(new InvertedIndex(spark, dir))
      add(1L)
    } finally query.stop()
    val first = firstOpen(dir)
    val ids = segments(first)
    assert(ids.size == 8)
    assert(InvertedIndex.heldSegments(spark, dir) == ((ids, ids)))
    val reopened = new InvertedIndex(spark, dir)
    reopened.stats
    assert(jobsOf(reopened.residentFnormsLocal) == 0 && jobsOf(reopened.residentKeyBytes) == 0)
    sameAnswers("streamed", reopened, first, queries(perBatch + 7))
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

    // an append under that cap finds no room beside what `s` holds, so
    // it hands `s` nothing: the reopen collects the fieldnorms, and the
    // keys do not fit, so the key collect's tasks return overflow markers
    withCap(s, fn + keys - 1)(LiveIndex.appendBatch(batch(2L), 2L, dir, cfg))
    val first = firstOpen(dir)
    val (fn2, keys2) = (fnormBytes(first), first.residentKeyBytes)
    val over = withCap(s, fn2 + keys2 - 1)(new InvertedIndex(s, dir))
    over.stats
    assert(jobsOf(over.residentFnormsLocal) == 1)
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
    // the commit forgot the rewritten ids before adopting, in every
    // session that held the dir, and then handed both the new segments
    Seq(spark, other).foreach(s => takesHanded("rebuilt, handed", s, dir, 7))

    val reopened = new InvertedIndex(spark, dir)
    val first = firstOpen(dir)
    // the same content under the same ids, in another doc order
    def content(st: Seq[SegStatRow]) = st.map(s => (s.segment, s.numDocs, s.numTokens, s.sha256Agg)).sortBy(_._1)
    assert(content(first.segStats.collect().toSeq) == content(oldStats))
    assert(first.docsOf(allKeys(first)) != oldKeys)
    sameAnswers("rebuilt", reopened, first, queries(7))
  }

  test("property: after random appends in two sessions and from a fresh one, merges and crashed re-runs, a reopen in each session equals a first open; a doc file added outside a commit fails a fresh open, naming the file, and leaves an open instance as it was") {
    val rnd = new scala.util.Random(73L)
    (0 until 2).foreach { run =>
      val dir = TestDirs(s"graftreopenrandom$run")
      val (a, b) = (spark.newSession(), spark.newSession())
      def either: SparkSession = if (rnd.nextBoolean()) a else b
      var batches = 0L
      def append(in: SparkSession): Long = {
        val id = batches
        batches += 1
        LiveIndex.appendBatch(batch(id, in), id, dir, cfg)
        id
      }
      var merges = 0L
      val steps: Seq[(String, () => Unit)] = Seq(
        "append in A" -> (() => append(a)),
        "append in B" -> (() => append(b)),
        "append from a fresh session" -> (() => append(spark.newSession())),
        // another dir's batch, merged into one segment whose id no other
        // step writes
        "merge of another dir" -> { () =>
          val other = TestDirs(s"graftreopenrandomin$run")
          LiveIndex.appendBatch(batch(1000L + merges), 1000L + merges, other, cfg)
          merges += 1
          SegmentMerge.merge(spark, other, dir, fanIn = 4, cfg)
        },
        // the rows are adopted and manifested, the generation is not; a
        // reader may open the crashed dir before the re-run
        "crash after adopting, then a re-run" -> { () =>
          val id = append(either)
          Crashes.beforeGeneration(dir, s"live$id")
          if (rnd.nextBoolean()) warm(new InvertedIndex(either, dir))
          LiveIndex.appendBatch(batch(id, either), id, dir, cfg)
        })
      def reopens = Seq("A" -> a, "B" -> b).map { case (n, s) => n -> new InvertedIndex(s, dir) }
      append(a)
      reopens.foreach { case (_, r) => warm(r) }
      // every step once per run, in a random order
      rnd.shuffle(steps).zipWithIndex.foreach { case ((name, step), i) =>
        step()
        val first = firstOpen(dir)
        reopens.foreach { case (n, r) =>
          val tag = s"run $run, step $i ($name), reopen in $n"
          // both sessions held the dir before the step: a merge hands
          // them nothing, every other commit its segments
          val reads = if (name.startsWith("merge")) 1 else 0
          r.stats
          assert(jobsOf(r.residentFnormsLocal) == reads && jobsOf(r.residentKeyBytes) == reads, tag)
          sameAnswers(tag, r, first, queries(7).take(2))
        }
      }
      // a doc file added outside a commit: a copy of one already there.
      // A fresh open in either session fails, naming it; instances opened
      // before read their generation's files, and answer as they did
      val before = firstOpen(dir) +: reopens.map(_._2)
      before.foreach(warm)
      val docDir = new java.io.File(s"${IndexBuilder.dataDir(dir)}/kind=doc")
      val src = docDir.listFiles().filter(_.getName.endsWith(".parquet")).minBy(_.getName)
      java.nio.file.Files.copy(src.toPath, docDir.toPath.resolve("extra-0.parquet"))
      Seq("A" -> a, "B" -> b).foreach { case (n, s) =>
        val e = intercept[IllegalStateException](new InvertedIndex(s, dir))
        assert(e.getMessage.contains("data file kind=doc/extra-0.parquet is in no committed generation"),
          s"run $run, fresh open in $n: ${e.getMessage}")
      }
      before.tail.foreach(r => sameAnswers(s"run $run, opened before the copy", r, before.head, queries(7).take(2)))
      before.foreach(r => assert(r.docs.count() == r.stats.numDocs, s"run $run: the copy was read"))
    }
  }
}
