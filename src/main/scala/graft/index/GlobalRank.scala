package graft.index

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** Build-time materialization of the index-wide static-rank ordinal.
  *
  * The reference stores each page's precomputed centrality rank and
  * serves it as a query-independent signal; docids are assigned in
  * score order so the rank is an index-wide ordinal
  * (crates/core/src/inverted_index/mod.rs:195-204, ranking signals in
  * crates/core/src/ranking/signals). The Spark engine assigns docids
  * per SEGMENT in
  * the global (sortKey desc, repo, path, commit) order restricted to
  * the segment, so the global ordinal is not derivable from (segment,
  * docId) alone; `InvertedIndex.rankSignals` computes it per query
  * with a counting pass (O(N·k) codegen'd compares). This module is
  * the serving-tier alternative: one extra build-time pass persists
  * the ordinal per doc, and the per-query counting pass becomes a
  * keyed broadcast lookup.
  *
  * Scale shape: the pass touches only the NARROW doc-metadata columns
  * (6 of them — ~1% of index bytes; the postings never move). One
  * range shuffle into total order + per-partition count + prefix-sum
  * offsets (the standard distributed zip-with-index: no global sort on
  * one task, no window over a single partition). Rank semantics match
  * the counting pass exactly: rank = number of docs STRICTLY preceding
  * the doc, so full-key ties share a rank (range partitioning co-lots
  * equal keys, so tie groups never straddle partitions).
  *
  * Staleness: the table is DERIVED data, valid only for the exact
  * segment set it was computed over. A meta file records that set plus
  * the doc count; `load` re-validates against the live segment stats
  * and refuses mismatches (e.g. after a live-index append or a merge),
  * so a stale table degrades to the counting pass instead of serving
  * wrong ranks. */
object GlobalRank {

  def dirOf(indexDir: String): String = s"$indexDir/grank"
  private def metaPath(indexDir: String) = s"${dirOf(indexDir)}/_grank_meta.json"
  private def dataPath(indexDir: String) = s"${dirOf(indexDir)}/data"

  /** Write the table unless `load` accepts the current one for `stats`,
    * the index's segment stats: the one refresh after a build or a merge
    * (a merge renumbers docids, so a table from before it is refused).
    * A committed re-run thus heals a table lost to a crash between the
    * generation and the write, and otherwise writes nothing. */
  def refresh(spark: SparkSession, indexDir: String, stats: Seq[SegStatRow]): Unit =
    if (stats.exists(_.numDocs > 0) && load(spark, indexDir, stats).isEmpty)
      write(spark, indexDir)

  /** Compute and persist the ordinal table (overwrite — derived data,
    * recompute is idempotent). */
  def write(spark: SparkSession, indexDir: String): Unit = {
    import spark.implicits._
    val docs = IndexBuilder.readKind(spark, indexDir, Generation.latest(indexDir), "doc")
      .select("doc.*").as[DocRow]
    val keyed = docs
      .select($"segment", $"docId", $"sortKey", $"repo", $"path", $"commit")
    val parts = math.max(spark.sparkContext.defaultParallelism, 1)
    // freeze the arranged partitioning so the count pass and the emit
    // pass see the SAME layout (range-partitioner boundary sampling is
    // otherwise re-run, and need not resample identically)
    val arranged = keyed
      .repartitionByRange(parts, $"sortKey".desc, $"repo", $"path", $"commit")
      .sortWithinPartitions($"sortKey".desc, $"repo", $"path", $"commit")
      .localCheckpoint()
    val counts = arranged.rdd
      .mapPartitionsWithIndex { case (pid, it) =>
        Iterator.single((pid, it.size.toLong))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val ranked = arranged.rdd
      .mapPartitionsWithIndex { case (pid, it) =>
        val base = bOffsets.value(pid)
        var pos = 0L
        var prevKey: (Long, String, String, String) = null
        var prevRank = 0L
        it.map { r =>
          val key = (r.getLong(2), r.getString(3), r.getString(4), r.getString(5))
          val rank = if (key == prevKey) prevRank else base + pos
          prevKey = key; prevRank = rank; pos += 1
          GrankRow(r.getInt(0), r.getInt(1), rank)
        }
      }
    spark.createDataset(ranked)
      .write.mode("overwrite").parquet(dataPath(indexDir))
    val segs = docs.select($"segment").distinct().as[Int].collect().sorted
    val numDocs = offsets.last
    val meta =
      s"""{"segments":[${segs.mkString(",")}],"numDocs":$numDocs}"""
    Files.write(Paths.get(metaPath(indexDir)),
      meta.getBytes(StandardCharsets.UTF_8))
  }

  /** Load the table iff its meta matches the index's CURRENT segment
    * set and doc count (from the segment stats); None otherwise. */
  def load(spark: SparkSession, indexDir: String,
           segStats: Seq[SegStatRow]): Option[Dataset[GrankRow]] = {
    import spark.implicits._
    val mp = Paths.get(metaPath(indexDir))
    if (!Files.exists(mp)) return None
    val meta = new String(Files.readAllBytes(mp), StandardCharsets.UTF_8)
    val segRe = """"segments":\[([0-9,]*)\]""".r
    val ndRe = """"numDocs":([0-9]+)""".r
    val storedSegs = segRe.findFirstMatchIn(meta)
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(',').map(_.toInt).toSet).getOrElse(Set.empty[Int])
    val storedDocs = ndRe.findFirstMatchIn(meta).map(_.group(1).toLong)
      .getOrElse(-1L)
    // empty segments have stats but no doc rows, so compare against the
    // stats segments that actually carry docs
    val liveSegs = segStats.filter(_.numDocs > 0).map(_.segment).toSet
    val liveDocs = segStats.map(_.numDocs).sum
    if (storedSegs != liveSegs || storedDocs != liveDocs) None
    else Some(IndexBuilder.readTable(spark, dataPath(indexDir), Encoders.product[GrankRow].schema)
      .as[GrankRow])
  }
}
