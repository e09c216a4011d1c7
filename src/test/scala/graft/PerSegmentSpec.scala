package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tokenizers
import graft.index._
import graft.streaming.LiveIndex

/** InvertedIndex.perSegment folds the df pass into its per-segment
  * shuffle: a query is one posting scan and one Spark job, and the df
  * it scores with equals the df computed independently from the rows. */
class PerSegmentSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val seed = 17L
  // a small shard cap splits every hot term into docId-range shards
  private lazy val dir = {
    val d = TestDirs("graftperseg")
    IndexBuilder.build(spark, Corpus.generate(spark, 600, seed = seed), d,
      IndexBuilder.Config(numSegments = 5, maxPostingsPerShard = 32))
    d
  }
  private lazy val index = new InvertedIndex(spark, dir)

  /** A fresh instance whose resident-fieldnorm cap (1 byte) is below
    * the index's fieldnorm bytes. */
  private def capped(s: SparkSession = spark): InvertedIndex = {
    val cap = InvertedIndex.ResidentFnormBytesConf
    s.conf.set(cap, "1")
    try new InvertedIndex(s, dir) finally s.conf.unset(cap)
  }

  /** An instance whose fnorm rows ride the posting shuffle. */
  private def shuffledFnorms(): InvertedIndex = {
    val idx = capped()
    assert(!idx.fnormsResident)
    idx
  }

  private def jobsOf[T](f: => T): Int = SparkJobs.count(spark)(f)

  test("warm: searchRaw and searchBatchRaw 1 job each, resolve 0 (resident) or 1") {
    assert(index.stats.numSegments == 5)
    Seq(index, shuffledFnorms()).foreach { idx =>
      val tag = if (idx.fnormsResident) "resident" else "shuffled fnorms"
      // warm: stats, the fieldnorm residency gate, the doc keys or the
      // doc table's reader
      val raw = idx.searchRaw("query engine table", 10)
      assert(raw.nonEmpty)
      idx.resolve(raw, 10)
      assert(jobsOf(idx.searchRaw("query engine table", 10)) == 1, tag)
      assert(jobsOf(idx.searchRaw("spark", 10, "or", Seq("data"))) == 1, tag)
      // resident doc keys answer with no job; without them, one scan
      assert(jobsOf(idx.resolve(raw, 10)) == (if (idx.fnormsResident) 0 else 1), tag)
      assert(jobsOf(idx.resolve(idx.searchRaw("spark", 10), 10)) == (if (idx.fnormsResident) 1 else 2), tag)
      val batch = Seq("spark session", "merge sort", "data table", "the license")
        .zipWithIndex.map { case (q, i) => (s"q$i", q, 10, if (i % 2 == 0) "or" else "and", Nil) }
      assert(jobsOf(idx.searchBatchRaw(batch)) == 1, tag)
    }
  }

  test("a fresh instance opens and reads its stats with no job: open 0, stats 0, first searchRaw 2, first resolve 1, Searcher open 1") {
    // a new session holds no earlier instance's segments, so each
    // instance below opens as the first over `dir`
    var opened = Seq.empty[InvertedIndex]
    assert(jobsOf { opened = Seq(new InvertedIndex(spark.newSession(), dir), capped(spark.newSession())) } == 0)
    opened.zip(Seq(true, false)).foreach { case (idx, resident) =>
      val tag = if (resident) "resident" else "capped at 1 byte"
      assert(jobsOf(idx.stats) == 0, tag) // read from the generation
      var raw = Array.empty[(Int, Int, Float)]
      // resident: the fieldnorm collect + the query; capped: the exact
      // residency count (numDocs x 3 exceeds the cap) + the query
      assert(jobsOf { raw = idx.searchRaw("query engine table", 10) } == 2, tag)
      assert(raw.nonEmpty && idx.fnormsResident == resident, tag)
      // resident: the doc-key collect; capped: the pushed-down scan
      assert(jobsOf(idx.resolve(raw, 10)) == 1, tag)
    }
    val fresh = new InvertedIndex(spark.newSession(), dir)
    assert(jobsOf(new Searcher(fresh)) == 1) // the fieldnorm collect
    // the broadcast reuses the fieldnorms the Searcher collected
    assert(jobsOf(fresh.searchRaw("query engine table", 10)) == 1)
  }

  test("a reopen of an unchanged dir starts no job to open: stats 0, first searchRaw 1, first resolve 0, Searcher open 0") {
    val s = spark.newSession()
    val first = new InvertedIndex(s, dir)
    first.resolve(first.searchRaw("query engine table", 10), 10) // fieldnorms and doc keys held
    val idx = new InvertedIndex(s, dir)
    assert(jobsOf(idx.stats) == 0)
    var raw = Array.empty[(Int, Int, Float)]
    assert(jobsOf { raw = idx.searchRaw("query engine table", 10) } == 1) // the query
    assert(raw.nonEmpty && idx.fnormsResident)
    assert(jobsOf(idx.resolve(raw, 10)) == 0)
    assert(jobsOf(new Searcher(new InvertedIndex(s, dir))) == 0)
  }

  test("a reopen after an append from another session takes the new segments from the commit: first searchRaw 1, first resolve 0") {
    val sp = spark
    import sp.implicits._
    // the appends run in `spark`, the readers in `s`: the commit hands
    // the new segments to every session that held the generation before
    val s = spark.newSession()
    val live = TestDirs("graftreopen")
    def append(b: Long): Unit = LiveIndex.appendBatch(spark.createDataset(
      (b * 60L until b * 60L + 60L).map(i => Corpus.mkDoc(i, seed, skew = false))), b, live)
    def warm(idx: InvertedIndex): Unit = idx.resolve(idx.searchRaw("query engine table", 10), 10)
    (0L to 1L).foreach(append)
    warm(new InvertedIndex(s, live))
    append(2L)
    val idx = new InvertedIndex(s, live)
    assert(jobsOf(idx.stats) == 0)
    var raw = Array.empty[(Int, Int, Float)]
    assert(jobsOf { raw = idx.searchRaw("query engine table", 10) } == 1) // the query
    assert(raw.nonEmpty && idx.fnormsResident)
    assert(jobsOf(idx.resolve(raw, 10)) == 0)
    val first = new InvertedIndex(spark.newSession(), live)
    assert(idx.searchRaw("query engine table", 10).toSeq == first.searchRaw("query engine table", 10).toSeq)
    assert(idx.resolve(raw, 10).toSeq == first.resolve(raw, 10).toSeq)

    // neither a reopen after the next append nor one of the unchanged
    // dir reads a fnorm or doc row
    append(3L)
    val (next, again) = (new InvertedIndex(s, live), new InvertedIndex(s, live))
    Seq(next, again).foreach(_.stats)
    assert(SparkJobs.inputRecords(spark)(next.residentFnormsLocal) == 0)
    assert(SparkJobs.inputRecords(spark)(next.residentKeyBytes) == 0)
    assert(next.residentKeyBytes > 0)
    assert(SparkJobs.inputRecords(spark)(again.residentFnormsLocal) == 0)
    assert(SparkJobs.inputRecords(spark)(again.residentKeyBytes) == 0)
  }

  test("a resident instance refuses an index whose fieldnorms exceed the cap, when it opens") {
    val e = intercept[IllegalArgumentException](new Searcher(capped()))
    assert(e.getMessage.contains(InvertedIndex.ResidentFnormBytesConf) && e.getMessage.contains("= 1 bytes"),
      e.getMessage)
  }

  test("scoreQuery is called only by InvertedIndex, and InvertedIndex broadcasts only its fieldnorms and patternMatch's candidates (source scan)") {
    val root = new java.io.File("src/main/scala")
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) scalaFiles(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    def code(f: java.io.File): String = comment.replaceAllIn(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "ISO-8859-1"),
      m => "\n" * m.matched.count(_ == '\n'))
    val files = scalaFiles(root)
    assert(files.size > 10, s"$root not found")
    val callers = files.filter(f => """\bscoreQuery\(""".r.findFirstIn(code(f)).nonEmpty).map(_.getName)
    assert(callers.toSet == Set("InvertedIndex.scala", "SegmentScoring.scala"), callers)
    val idx = files.find(_.getName == "InvertedIndex.scala").get
    val lines = code(idx).split("\n", -1).toSeq
    val broadcasts = lines.filter(_.contains("sparkContext.broadcast"))
    assert(broadcasts.length == 2 && broadcasts.exists(_.contains("broadcast(residentFnormsLocal)")) &&
      broadcasts.exists(_.contains("candidates.map")), broadcasts.mkString("\n"))
  }

  test("folded df: searchRaw == Searcher (df from its own rows) == exhaustive, on sharded postings") {
    val sp = spark
    import sp.implicits._
    assert(index.postings.filter($"shard" > 0).count() > 0, "no hot term was sharded")
    // doc 42's salt terms live in one segment only; its last vocabulary
    // token precedes them, so the phrase / and queries below match it
    val toks = Tokenizers.default(Corpus.mkDoc(42, seed, skew = false).content)
    val last = toks(toks.indexOf("zzsalt42a") - 1)
    val salt = "zzsalt42a"
    val cases = Seq(
      ("spark data", "or", Nil),
      ("spark data query", "or", Seq("session")),
      (s"data $salt", "or", Nil),
      (s"table $salt", "or", Seq("zzsalt7b")),
      (s"$last $salt", "or", Seq(last)),
      ("spark nosuchtok", "or", Nil),
      (s"$last $salt", "and", Nil),
      (s"spark $salt", "and", Nil),
      ("spark data", "and", Seq("table")),
      (s"$last $salt", "phrase", Nil),
      (s"$salt zzsalt42b", "phrase", Nil),
      (s"data $salt", "phrase", Nil))
    val searcher = new Searcher(index)
    val capped = shuffledFnorms()
    cases.foreach { case (q, mode, minus) =>
      val got = index.searchRaw(q, 15, mode, minus).toSeq
      val tag = s"'$q' mode=$mode minus=$minus"
      assert(got == searcher.searchRaw(q, 15, mode, minus).toSeq, tag)
      assert(got == capped.searchRaw(q, 15, mode, minus).toSeq, tag)
      if (mode == "or")
        assert(got == index.searchRaw(q, 15, "exhaustive", minus).toSeq, tag)
    }
    // the cases reach the paths they name
    assert(index.searchRaw(s"$last $salt", 15, "and").length == 1)
    assert(index.searchRaw(s"$last $salt", 15, "phrase").length == 1)
    assert(index.searchRaw("spark data query", 15, "or", Seq("session")).nonEmpty)
  }
}
