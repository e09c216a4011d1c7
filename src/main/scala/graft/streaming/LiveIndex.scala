package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.index._

/** Live index — the Structured Streaming analog of the reference's
  * WAL-backed live index (crates/core/src/live_index/mod.rs:27-32,
  * live_index/index.rs:109-151,341): batched inserts become micro-batch
  * mini-segments, auto-commit becomes the streaming trigger, the
  * hourly age-based compaction becomes an explicit `compact()` batch
  * job over the accumulated mini-segments, and the WAL/restart story is
  * Spark's own checkpointLocation (exactly-once foreachBatch replay).
  *
  * Mini-segment ids are `LiveBase + batchId * SegsPerBatch + k`, so the
  * batch id (age) is recoverable from the segment id — that is what
  * TTL/compaction filters on, like the reference's segment-age cutoff.
  */
object LiveIndex {
  final val LiveBase = 1 << 20
  final val SegsPerBatch = 4

  def batchIdOf(segment: Int): Long = (segment - LiveBase) / SegsPerBatch

  /** Append one micro-batch as SegsPerBatch mini-segments + manifests.
    *
    * foreachBatch is only at-least-once, so the append must be
    * idempotent on replay: data is staged (overwrite), adopted into the
    * live data dir under deterministic per-batch file names (replacing
    * any partial earlier adoption), and a batch marker commits last —
    * a marker present means the batch is fully in, so the replay
    * becomes a no-op and a crash at any earlier point converges to
    * exactly one copy (the reference's WAL replay gives the same
    * guarantee, live_index/index.rs:109-151). */
  def appendBatch(batch: Dataset[SourceDoc], batchId: Long, dir: String,
                  cfg: IndexBuilder.Config = IndexBuilder.Config(),
                  grankRefreshEvery: Int = 8): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val tag = s"live$batchId"
    new java.io.File(IndexBuilder.manifestDir(dir)).mkdirs()
    if (IndexBuilder.batchCommitted(dir, tag)) return
    val base = LiveBase + (batchId * SegsPerBatch).toInt
    val tagged = batch.map { d =>
      IndexBuilder.Tagged(
        base + IndexBuilder.segmentOf(d.repo, d.path, SegsPerBatch),
        IndexBuilder.sortKeyOf(d.repo, d.path, d.commit),
        d.repo, d.path, d.commit, d.lang, d.content, d.props, d.links)
    }
    val staged = s"${IndexBuilder.stagingDir(dir)}/$tag"
    IndexBuilder.writeSegments(tagged, SegsPerBatch * 2, staged, cfg)
    // every non-empty segment writes a stat row, so no stat dir means
    // an empty batch: it leaves no data and no marker. Emptiness is read
    // off the write because a probe before it would be one more job
    // evaluating the micro-batch a second time.
    if (!new java.io.File(s"$staged/kind=stat").exists()) {
      IndexBuilder.deleteRecursively(new java.io.File(staged))
      return
    }
    // this batch's stats come from the STAGED output before adoption —
    // re-reading the live dir's whole stat table here grows O(total
    // batches) per batch over a long-running stream
    val stats = IndexBuilder.readKind(spark, staged, "stat")
      .select("stat.*").as[SegStatRow]
      .filter(s => s.segment >= base && s.segment < base + SegsPerBatch)
      .collect()
    IndexBuilder.adoptStaged(staged, dir, tag)
    stats.foreach { s =>
      val json = s"""{"segment":${s.segment},"numDocs":${s.numDocs},"numTokens":${s.numTokens},"batchId":$batchId}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(
        IndexBuilder.manifestDir(dir), f"seg-${s.segment}%07d.json"), json)
    }
    IndexBuilder.commitBatch(dir, tag, s""""batchId":$batchId""")
    // stored global-rank refresh policy: every append invalidates the
    // ordinal table (the validator then routes rankSignals to its
    // counting pass — correct, slower), and a refresh costs one narrow
    // pass over ALL docs accumulated so far, so refreshing every batch
    // is quadratic over a long stream. Every-N keeps the materialized
    // path warm at bounded amortized cost; queries between refreshes
    // just use the fallback.
    if (cfg.storeGlobalRank && grankRefreshEvery > 0 &&
        batchId % grankRefreshEvery == 0)
      GlobalRank.write(spark, dir)
  }

  /** Start the streaming ingestion: one mini-segment group per
    * micro-batch, exactly-once via checkpointed foreachBatch. `cfg`
    * flows into every micro-batch build (shadow fields, positions,
    * metadata operators all work on a live index too). */
  def start(stream: Dataset[SourceDoc], dir: String, checkpoint: String,
            trigger: Trigger = Trigger.AvailableNow(),
            cfg: IndexBuilder.Config = IndexBuilder.Config(),
            grankRefreshEvery: Int = 8): StreamingQuery = {
    new java.io.File(IndexBuilder.manifestDir(dir)).mkdirs()
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (b: Dataset[SourceDoc], id: Long) =>
        appendBatch(b, id, dir, cfg, grankRefreshEvery)
      }
      .start()
  }

  /** Age-based compaction: merge the live mini-segments whose batchId
    * is >= `minBatchId` (i.e. KEEP the newest batches; everything
    * older than the cutoff is dropped — the TTL) into the (batch)
    * index layout at outDir. The reference compacts hourly by segment
    * age (live_index/index.rs:341); here the age cutoff is the batch
    * id. */
  def compact(spark: SparkSession, liveDir: String, outDir: String,
              cfg: IndexBuilder.Config = IndexBuilder.Config(),
              minBatchId: Long = Long.MinValue): Unit = {
    // merge everything into segment-id space starting at 0; TTL: drop
    // mini-segments older than minBatchId (the reference's age-based
    // segment expiry, live_index/index.rs:341 + 60-day TTL)
    SegmentMerge.merge(spark, liveDir, outDir, fanIn = Int.MaxValue, cfg,
      segFilter = seg => batchIdOf(seg) >= minBatchId)
  }
}
