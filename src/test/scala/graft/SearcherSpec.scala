package graft

import java.lang.Double.doubleToRawLongBits
import java.lang.Float.floatToRawIntBits
import java.util.concurrent.{Callable, CyclicBarrier, Executors, FutureTask}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.BooleanQuery.{Bool, Term}
import graft.index._

/** Driver-side serving searcher == the distributed query path. */
class SearcherSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private lazy val corpus = Corpus.generate(spark, 500, seed = 88L).cache()
  private def build(segments: Int, shardCap: Int): InvertedIndex = {
    val d = TestDirs("graftsrv")
    IndexBuilder.build(spark, corpus, d, IndexBuilder.Config(numSegments = segments,
      indexStemmed = true, indexBigrams = true, indexMeta = true,
      maxPostingsPerShard = shardCap))
    new InvertedIndex(spark, d)
  }
  private lazy val index = build(3, 1 << 20)
  private lazy val searcher = new Searcher(index)
  // enough segments that the fan-out runs more tasks than cores; the
  // small shard cap chains every hot term's cursor from several shards
  private lazy val wide = build(16, 8)

  private def bits(hits: Array[(Int, Int, Float)]): Seq[(Int, Int, Int)] =
    hits.toSeq.map { case (s, d, sc) => (s, d, floatToRawIntBits(sc)) }

  /** Searcher == InvertedIndex bit for bit over every query mode. */
  private def sameAcrossModes(idx: InvertedIndex, srv: Searcher): Unit = {
    // the top hit's repo as a pre-lowered (field-prefixed) must-not term:
    // both paths must pass it through untokenized and exclude the repo
    val topRepo = idx.search("spark session", 1).head.repo
    val repoMinus = Seq(Fields.RepoPrefix + topRepo)
    val cases = Seq(
      ("spark session", "or", Nil), ("query engine data", "or", Nil),
      ("the license", "and", Nil), ("data table", "phrase", Nil),
      ("merging data tables", "or+", Nil), ("spark", "or", Seq("batch")),
      ("nosuchtok qqq", "or", Nil), ("spark data", "exhaustive", Nil),
      ("spark query data", "dismax", Nil), ("spark data", "bitset", Nil),
      ("data table", "phrase~2", Nil), ("spark data", "and+", Nil),
      ("merging data tables", "or+", Seq("batch")),
      ("spark session", "or", repoMinus))
    cases.foreach { case (q, mode, minus) =>
      val a = bits(srv.searchRaw(q, 15, mode, minus))
      val b = bits(idx.searchRaw(q, 15, mode, minus))
      assert(a == b, s"'$q' mode=$mode minus=$minus")
    }
    val excluded = idx.resolve(idx.searchRaw("spark session", 15, "or", repoMinus), 15)
    assert(excluded.nonEmpty && !excluded.exists(_.repo == topRepo))
  }

  test("serving results == distributed results across modes") {
    sameAcrossModes(index, searcher)
  }

  test("repeated queries are served from the term cache, identically") {
    val q = "spark data table"
    val first = searcher.searchRaw(q, 10).toSeq
    // cached path (no fetch) must return the same thing
    (0 until 3).foreach(_ => assert(searcher.searchRaw(q, 10).toSeq == first))
    // warm serving latency is driver-local: well under job latency
    val t0 = System.nanoTime()
    searcher.searchRaw(q, 10)
    val warmMs = (System.nanoTime() - t0) / 1e6
    assert(warmMs < 100.0, s"warm serving took ${warmMs}ms")
  }

  test("segment fan-out over 16 sharded segments == distributed results across modes") {
    val sp = spark
    import sp.implicits._
    assert(wide.stats.numSegments == 16)
    assert(wide.postings.filter($"shard" > 0).count() > 0, "no hot term was sharded")
    val srv = new Searcher(wide)
    sameAcrossModes(wide, srv)
    // the or query reaches every segment
    assert(srv.searchRaw("spark data", 500).map(_._1).distinct.length == 16)
  }

  test("8 client threads sharing one Searcher, hits and misses, get the sequential answers") {
    val qs = (0 until 24).map { i =>
      val mode = Seq("or", "and", "or+", "bitset")(i % 4)
      // every third query carries a per-doc salt term: a cache miss
      val text = if (i % 3 == 0) s"spark zzsalt${i * 7}a" else Seq("spark data", "query engine table",
        "data table session", "merging data tables")(i % 4)
      (text, mode)
    }
    val sequential = {
      val srv = new Searcher(wide)
      qs.map { case (q, m) => bits(srv.searchRaw(q, 20, m)) }
    }
    assert(sequential.count(_.nonEmpty) > qs.length / 2)
    val shared = new Searcher(wide)
    val clients = Executors.newFixedThreadPool(8)
    try {
      val runs = (0 until 8).map { c =>
        clients.submit(new Callable[Seq[(Int, Seq[(Int, Int, Int)])]] {
          def call(): Seq[(Int, Seq[(Int, Int, Int)])] =
            (0 until 3).flatMap(r => qs.indices.map(j => (j * (c + 1) + r) % qs.length))
              .map { j => j -> bits(shared.searchRaw(qs(j)._1, 20, qs(j)._2)) }
        })
      }
      runs.foreach(_.get().foreach { case (j, got) =>
        assert(got == sequential(j), s"'${qs(j)._1}' mode=${qs(j)._2}")
      })
    } finally clients.shutdown()
    // 8 concurrent FIRST calls on one new term share one fetch. The
    // client threads start inside the count, so they inherit its job group
    val fresh = new Searcher(wide)
    val (q, mode) = qs(3)
    var got = Seq.empty[Seq[(Int, Int, Int)]]
    val jobs = SparkJobs.count(spark) {
      val burst = Executors.newFixedThreadPool(8)
      val start = new CyclicBarrier(8)
      try got = (0 until 8).map(_ => burst.submit(new Callable[Seq[(Int, Int, Int)]] {
        def call(): Seq[(Int, Int, Int)] = { start.await(); bits(fresh.searchRaw(q, 20, mode)) }
      })).map(_.get())
      finally burst.shutdown()
    }
    assert(jobs == 1, s"8 concurrent first calls on '$q' started $jobs jobs")
    assert(got.forall(_ == sequential(3)))
  }

  test("Searchers share one pool: 20 of them leave the thread count within the pool size") {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    val poolSize = Runtime.getRuntime.availableProcessors
    def poolThreads = Thread.getAllStackTraces.keySet.asScala.count(_.getName.startsWith("graft-searcher-"))
    val t0 = mx.getThreadCount
    (0 until 20).foreach { i =>
      val srv = new Searcher(wide)
      assert(srv.searchRaw(s"spark data zzsalt${i}b", 10).nonEmpty)
    }
    assert(poolThreads <= poolSize)
    val grew = mx.getThreadCount - t0
    assert(grew <= poolSize, s"thread count grew by $grew")
  }

  test("a warm Searcher hit starts no Spark job and a miss exactly one, in the caller's job group") {
    val srv = new Searcher(wide)
    val q = "spark data table"
    val first = bits(srv.searchRaw(q, 10))
    var again = Seq.empty[(Int, Int, Int)]
    assert(SparkJobs.count(spark) { again = bits(srv.searchRaw(q, 10)) } == 0)
    assert(again == first)
    // SparkJobs counts the jobs of its own job group only: the fetch
    // runs on the calling thread, the scoring tasks never start a job
    var missed = Array.empty[(Int, Int, Float)]
    assert(SparkJobs.count(spark) { missed = srv.searchRaw("spark zzsalt77a", 10) } == 1)
    assert(missed.nonEmpty)
    assert(SparkJobs.count(spark)(srv.searchRaw("spark zzsalt77a", 10, "and")) == 0)
  }

  test("a scoring task's exception reaches the caller as thrown") {
    val tasks = Array.tabulate(6)(i => new FutureTask[Int](() =>
      if (i == 4) throw new IllegalStateException("segment 4") else i))
    val e = intercept[IllegalStateException](Searcher.fanOut(tasks))
    assert(e.getMessage == "segment 4")
    assert(Searcher.fanOut(Array.tabulate(6)(i => new FutureTask[Int](() => i))).toSeq == (0 until 6))
  }

  private def hitBits(hs: Array[(Hit, Map[String, Double])]) = hs.toSeq.map { case (h, v) =>
    ((h.rank, h.segment, h.docId, floatToRawIntBits(h.score), h.repo, h.path),
      v.toSeq.sorted.map { case (n, x) => (n, doubleToRawLongBits(x)) })
  }

  test("every perSegment caller and dfOf: the resident executor == the distributed one, bit for bit (16 sharded segments)") {
    val srv = new Searcher(wide)
    val rnd = new scala.util.Random(1101L)
    val words = Corpus.Vocab.take(90).toIndexedSeq
    def pick(n: Int): Seq[String] = Seq.fill(n)(words(rnd.nextInt(words.length)))
    val modes = Seq("or", "and", "phrase", "phrase~2", "or+", "and+", "dismax", "exhaustive", "bitset")
    val topRepo = wide.search("spark session", 1).head.repo
    val plans = (0 until 48).map { i =>
      val text = (pick(1 + rnd.nextInt(4)) ++ (if (i % 7 == 0) Seq(s"zzsalt${i}a") else Nil)).mkString(" ")
      val minus = rnd.nextInt(4) match {
        case 0 => pick(1)
        case 1 => Seq(Fields.RepoPrefix + topRepo)
        case _ => Nil
      }
      (s"q$i", text, 1 + rnd.nextInt(40), modes(i % modes.length), minus)
    }
    val want = wide.searchBatchRaw(plans)
    val got = srv.searchBatchRaw(plans)
    assert(want.values.count(_.nonEmpty) > plans.length / 2)
    plans.foreach { case (qid, q, k, mode, minus) =>
      val tag = s"'$q' k=$k mode=$mode minus=$minus"
      assert(bits(got(qid)) == bits(want(qid)), tag)
      assert(bits(srv.searchRaw(q, k, mode, minus)) == bits(want(qid)), tag)
    }

    (0 until 6).foreach { i =>
      val ws = pick(2 + rnd.nextInt(3))
      val clauses = ws.map(w => (w, 0.25f + rnd.nextInt(12) * 0.5f)) ++
        Seq((Fields.bigramTerm(ws(0), ws(1)), 1.5f), (Fields.StemPrefix + ws(0), 0.75f))
      assert(bits(srv.searchBoosted(clauses, 25)) == bits(wide.searchBoosted(clauses, 25)), s"boosted $clauses")
      val tree = Bool(must = Seq(Term(ws(0))),
        should = ws.drop(1).map(Term.apply) :+ Term(Fields.bigramTerm(ws(0), ws(1))),
        mustNot = if (i % 2 == 0) Seq(Term(pick(1).head)) else Nil)
      assert(bits(srv.searchBool(tree, 25)) == bits(wide.searchBool(tree, 25)), s"bool $tree")
      val q = ws.mkString(" ")
      assert(bits(srv.searchBm25F(q, 20)) == bits(wide.searchBm25F(q, 20)), s"bm25f '$q'")
      Seq(10, 10000).foreach { budget =>
        val (wh, wc, ws0) = wide.searchApprox(q, 15, budget)
        val (gh, gc, gs) = srv.searchApprox(q, 15, budget)
        assert((bits(gh), gc, gs) == ((bits(wh), wc, ws0)), s"approx '$q' budget=$budget")
        if (budget == 10) assert(ws0, "a 10-doc budget saturates a 31-doc segment")
      }
      if (i < 3) {
        val cands = wide.searchRaw(q, InvertedIndex.candidateBudget(10), "or+")
        assert(hitBits(srv.rankSignalsOver(q, cands, 10)) == hitBits(wide.rankSignalsOver(q, cands, 10)),
          s"signals '$q'")
      }
    }
    val dfTerms = pick(20) ++ Seq("nosuchtok", Fields.bigramTerm("spark", "data"), "zzsalt9a")
    assert(srv.dfOf(dfTerms) == wide.dfOf(dfTerms))
    assert(!srv.dfOf(dfTerms).contains("nosuchtok"))
  }

  test("a warm resident call starts no job, a miss exactly one, and rankSignalsOver keeps only its doc-table lookups") {
    val srv = new Searcher(wide)
    val clauses = Seq(("spark", 2.0f), ("data", 1.0f), (Fields.bigramTerm("data", "table"), 0.5f))
    val tree = Bool(must = Seq(Term("data")), should = Seq(Term("spark")), mustNot = Seq(Term("batch")))
    val cands = wide.searchRaw("spark data", InvertedIndex.candidateBudget(10), "or+")
    val calls: Seq[(String, () => Any)] = Seq(
      "searchBatchRaw" -> (() => srv.searchBatchRaw(Seq(("a", "spark data", 10, "or", Nil),
        ("b", "data table", 10, "phrase", Seq("session"))))),
      "searchBoosted" -> (() => srv.searchBoosted(clauses, 10)),
      "searchBool" -> (() => srv.searchBool(tree, 10)),
      "searchBm25F" -> (() => srv.searchBm25F("spark data", 10)),
      "searchApprox" -> (() => srv.searchApprox("spark data", 10, 10)),
      "dfOf" -> (() => srv.dfOf(Seq("spark", "data"))))
    calls.foreach { case (name, f) =>
      f()
      assert(SparkJobs.count(spark)(f()) == 0, s"warm $name")
    }
    // rankSignalsOver: the global-rank pass over the doc table stays;
    // the segment pass, which also brings the BM25F texts' dfs, and the
    // candidates' doc-key lookup (resident beside the fieldnorms) are gone
    def signals(idx: InvertedIndex) = idx.rankSignalsOver("spark data", cands, 10)
    signals(srv)
    signals(wide)
    val (resident, distributed) = (SparkJobs.count(spark)(signals(srv)), SparkJobs.count(spark)(signals(wide)))
    assert(resident == 3 && distributed == resident + 1, s"resident $resident, distributed $distributed")
    // a miss: one fetch job, on the calling thread
    assert(SparkJobs.count(spark)(srv.searchBoosted(Seq(("zzsalt31a", 1.0f), ("spark", 1.0f)), 10)) == 1)
    // dfOf's miss is one (term, docFreq) projection; its rows stay out
    // of the cache
    val held = srv.cachedRowBytes
    assert(SparkJobs.count(spark)(srv.dfOf(Seq("zzsalt31a", "zzsalt31b"))) == 1)
    assert(srv.cachedRowBytes == held)
    assert(SparkJobs.count(spark)(srv.dfOf(Seq("zzsalt31b"))) == 1)
  }

  test("the row cache is capped by bytes; a query whose rows exceed the cap still answers exactly") {
    val cap = 24L << 10
    val srv = new Searcher(wide, maxCachedBytes = cap)
    val hot = "spark data table session query engine the license"
    val uncapped = new Searcher(wide)
    uncapped.searchRaw(hot, 20)
    val rowBytes = uncapped.cachedRowBytes
    assert(rowBytes > cap, s"the hot query's rows ($rowBytes bytes) must exceed the $cap-byte cap")
    Seq("or", "and", "or+", "exhaustive").foreach { mode =>
      assert(bits(srv.searchRaw(hot, 20, mode)) == bits(wide.searchRaw(hot, 20, mode)), mode)
      assert(srv.cachedRowBytes <= cap)
    }
    Corpus.Vocab.take(60).grouped(3).foreach { ws =>
      val q = ws.mkString(" ")
      assert(bits(srv.searchRaw(q, 10)) == bits(wide.searchRaw(q, 10)), q)
      assert(srv.cachedRowBytes <= cap, q)
    }
    assert(srv.cachedRowBytes > 0)
  }
}
