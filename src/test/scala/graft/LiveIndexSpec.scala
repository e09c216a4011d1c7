package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.index._
import graft.streaming.LiveIndex

/** Streaming live-index: micro-batch appends must serve the same
  * results as a batch build of the same corpus; compaction preserves
  * them. */
class LiveIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("appendBatch replay is idempotent (foreachBatch is at-least-once)") {
    import spark.implicits._
    val docs = (0L until 50L).map(i => Corpus.mkDoc(i, 7L, skew = false))
    val dir = TestDirs("graftreplay")
    new java.io.File(IndexBuilder.manifestDir(dir)).mkdirs()
    val ds = spark.createDataset(docs)
    LiveIndex.appendBatch(ds, 0L, dir)
    assert(new InvertedIndex(spark, dir).stats.numDocs == 50)
    // full replay (the generation lists the batch) -> no-op
    LiveIndex.appendBatch(ds, 0L, dir)
    assert(new InvertedIndex(spark, dir).stats.numDocs == 50)
    // crash-before-generation replay (data adopted, generation missing)
    // -> the re-adoption replaces the earlier files instead of duplicating
    Crashes.beforeGeneration(dir, "live0")
    LiveIndex.appendBatch(ds, 0L, dir)
    assert(new InvertedIndex(spark, dir).stats.numDocs == 50)
  }

  test("an empty batch leaves no marker, staging dir or data; its id commits later") {
    import spark.implicits._
    val dir = TestDirs("graftempty")
    LiveIndex.appendBatch(spark.emptyDataset[SourceDoc], 3L, dir)
    assert(!IndexBuilder.batchCommitted(dir, "live3"))
    assert(!new java.io.File(s"${IndexBuilder.stagingDir(dir)}/live3").exists())
    assert(!new java.io.File(IndexBuilder.dataDir(dir)).exists())
    assert(new java.io.File(IndexBuilder.manifestDir(dir)).list().isEmpty)
    val docs = (0L until 40L).map(i => Corpus.mkDoc(i, 3L, skew = false))
    LiveIndex.appendBatch(spark.createDataset(docs), 3L, dir)
    assert(IndexBuilder.batchCommitted(dir, "live3"))
    assert(new InvertedIndex(spark, dir).stats.numDocs == 40)
  }

  test("appendBatch starts 2 Spark jobs: shuffle-map stage and write") {
    import spark.implicits._
    val dir = TestDirs("graftappendjobs")
    // a computed batch, like a streaming micro-batch, so that any extra
    // pass over it shows as a job (a local relation answers some
    // actions without one)
    def batch(b: Long) = spark.range(b * 50L, b * 50L + 50L)
      .map(i => Corpus.mkDoc(i, 4L, skew = false))
    LiveIndex.appendBatch(batch(0L), 0L, dir)
    assert(SparkJobs.count(spark)(LiveIndex.appendBatch(batch(1L), 1L, dir)) == 2)
    assert(new InvertedIndex(spark, dir).stats.numDocs == 100)
  }

  test("grank refresh policy: every-N appends rewrite the table, others leave a refused stale one") {
    import spark.implicits._
    val dir = TestDirs("graftlivegrank")
    new java.io.File(IndexBuilder.manifestDir(dir)).mkdirs()
    val cfg = IndexBuilder.Config(storeGlobalRank = true)
    def docsFor(b: Long) = spark.createDataset(
      (b * 40L until b * 40L + 40L).map(i => Corpus.mkDoc(i, 9L, skew = false)))
    def liveStats = new InvertedIndex(spark, dir).segStats.collect().toSeq
    // batch 0: refresh fires (0 % 2 == 0) -> table validates
    LiveIndex.appendBatch(docsFor(0), 0L, dir, cfg, grankRefreshEvery = 2)
    assert(GlobalRank.load(spark, dir, liveStats).nonEmpty)
    // batch 1: no refresh -> the table is STALE for the grown segment
    // set and must be refused, not served
    LiveIndex.appendBatch(docsFor(1), 1L, dir, cfg, grankRefreshEvery = 2)
    assert(GlobalRank.load(spark, dir, liveStats).isEmpty)
    // batch 2: refresh fires again -> valid for all 3 batches' docs,
    // and the ordinals obey the strict-precede law across mini-segments
    LiveIndex.appendBatch(docsFor(2), 2L, dir, cfg, grankRefreshEvery = 2)
    val g = GlobalRank.load(spark, dir, liveStats)
    assert(g.nonEmpty)
    val idx = new InvertedIndex(spark, dir)
    val all = idx.docs.collect()
    assert(all.length == 120)
    val stored = g.get.collect().map(r => (r.segment, r.docId) -> r.grank).toMap
    def precedes(x: DocRow, y: DocRow): Boolean =
      x.sortKey > y.sortKey || (x.sortKey == y.sortKey &&
        Ordering.Tuple3(Ordering.String, Ordering.String, Ordering.String)
          .lt((x.repo, x.path, x.commit), (y.repo, y.path, y.commit)))
    all.take(30).foreach { r =>
      assert(stored((r.segment, r.docId)) == all.count(o => precedes(o, r)).toLong)
    }
  }

  test("micro-batch ingest == batch build; compaction preserves results") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = (0L until 300L).map(i => Corpus.mkDoc(i, 42L, skew = false))
    val liveDir = TestDirs("graftlive")
    val ckpt = TestDirs("graftckpt")

    val stream = MemoryStream[SourceDoc]
    val query = LiveIndex.start(stream.toDS(), liveDir, ckpt,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    docs.grouped(100).foreach { g => stream.addData(g); query.processAllAvailable() }
    query.stop()

    val live = new InvertedIndex(spark, liveDir)
    assert(live.stats.numDocs == 300)

    // batch reference index over the same docs
    val batchDir = TestDirs("graftbatch")
    IndexBuilder.build(spark, spark.createDataset(docs), batchDir,
      IndexBuilder.Config(numSegments = 4))
    val batch = new InvertedIndex(spark, batchDir)

    val queries = Seq("spark session", "the license", "query engine data")
    queries.foreach { q =>
      assert(live.searchRaw(q, 15, "or").toSeq ==
        live.searchRaw(q, 15, "exhaustive").toSeq, s"live WAND '$q'")
      val a = live.search(q, 15).map(h => (h.repo, h.path, h.score)).toSet
      val b = batch.search(q, 15).map(h => (h.repo, h.path, h.score)).toSet
      assert(a == b, s"live vs batch '$q'")
    }

    // restart with same checkpoint: no duplicate ingestion
    val stream2 = MemoryStream[SourceDoc]
    val q2 = LiveIndex.start(stream2.toDS(), liveDir, ckpt,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    q2.processAllAvailable()
    q2.stop()
    assert(new InvertedIndex(spark, liveDir).stats.numDocs == 300)

    // TTL compaction: drop batch 0 (first 100 docs), keep batches >= 1
    val ttlDir = TestDirs("graftttl")
    LiveIndex.compact(spark, liveDir, ttlDir, minBatchId = 1L)
    val ttl = new InvertedIndex(spark, ttlDir)
    assert(ttl.stats.numDocs == 200, "TTL should expire batch 0's 100 docs")

    // compact all mini-segments into one batch-layout segment
    val compactDir = TestDirs("graftcompact")
    LiveIndex.compact(spark, liveDir, compactDir)
    val compacted = new InvertedIndex(spark, compactDir)
    assert(compacted.stats.numDocs == 300)
    assert(compacted.stats.numSegments == 1)
    queries.foreach { q =>
      val a = compacted.search(q, 15).map(h => (h.repo, h.path, h.score)).toSet
      val b = batch.search(q, 15).map(h => (h.repo, h.path, h.score)).toSet
      assert(a == b, s"compacted vs batch '$q'")
    }
  }
}
