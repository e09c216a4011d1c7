package graft

import java.lang.Float.floatToRawIntBits
import java.util.concurrent.{Callable, Executors, FutureTask}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
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
}
