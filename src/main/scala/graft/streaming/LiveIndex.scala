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
    * idempotent on replay: it commits through IndexBuilder.commit
    * (staged write, adoption under deterministic per-batch file names
    * that replaces any partial earlier adoption, manifests, then the
    * next generation), so a replay of a committed batch is a no-op and a
    * crash at any earlier point converges to exactly one copy (the
    * reference's WAL replay gives the same guarantee,
    * live_index/index.rs:109-151). Every non-empty segment writes a
    * stat row, so an empty batch stages none and commit leaves no data
    * and no generation: emptiness is read off the write, because a probe
    * before it would be one more job evaluating the micro-batch a
    * second time.
    *
    * Two jobs: the shuffle-map stage and the write. The write's tasks
    * report the stat rows they wrote, so commit reads nothing back.
    * While an InvertedIndex in any session of the context holds segments
    * of the dir, they also report their fnorm rows and doc keys, within
    * the most room any such session's residency cap leaves, and commit
    * adds them to each holder they fit (InvertedIndex.SegmentHolder): a
    * holder of the previous generation then holds this one, and the next
    * reopen there collects only its stat rows, the way Lucene's
    * near-real-time reader takes new segments from the writer instead of
    * reading them back. */
  def appendBatch(batch: Dataset[SourceDoc], batchId: Long, dir: String,
                  cfg: IndexBuilder.Config = IndexBuilder.Config(),
                  grankRefreshEvery: Int = 8): Unit = {
    val spark = batch.sparkSession
    val base = LiveBase + (batchId * SegsPerBatch).toInt
    val lineage = s""""batchId":$batchId"""
    val committed = IndexBuilder.commit(spark, dir, s"live$batchId", lineage = _ => lineage) { stage =>
      IndexBuilder.writeSegments(IndexBuilder.tag(batch, base, SegsPerBatch, cfg.centrality),
        SegsPerBatch * 2, stage, cfg)
    }
    // stored global-rank refresh policy: every append invalidates the
    // ordinal table (the validator then routes rankSignals to its
    // counting pass — correct, slower), and a refresh costs one narrow
    // pass over ALL docs accumulated so far, so refreshing every batch
    // is quadratic over a long stream. Every-N keeps the materialized
    // path warm at bounded amortized cost; queries between refreshes
    // just use the fallback.
    if (committed && cfg.storeGlobalRank && grankRefreshEvery > 0 &&
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
