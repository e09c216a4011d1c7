package graft.index

import java.util.concurrent.{ExecutionException, Executors, FutureTask, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import scala.reflect.ClassTag

/** Driver-side serving searcher — the Spark analog of the reference's
  * search shard, which serves queries from mmap'd segment files without
  * spinning up jobs (crates/core/src/inverted_index + the distributed
  * searcher's shard RPC). Fieldnorms (1 byte/doc) are collected once;
  * posting rows are fetched through the pushed-down parquet scan on
  * first use and LRU-cached per term, so a repeated-vocabulary query
  * stream runs entirely on the driver: no job, no shuffle, sub-ms
  * latency. Results are IDENTICAL to InvertedIndex.searchRaw because
  * both run the same code: InvertedIndex.lower lowers the query,
  * SegmentScoring.scoreQuery scores each segment's rows (same cursors,
  * same WAND) and SegmentScoring.cut merges (property tested).
  *
  * Segments score in parallel, as the reference's searcher runs its
  * per-segment collectors on its executor pool (crates/core/src/
  * executor.rs): one task per segment on the JVM's one serving pool
  * (`Searcher.fanOut`), each with its own cursors and TopK; the caller
  * joins them and merges with the total-order cut, so the fan-out cannot
  * change a result. The posting fetch stays on the calling thread, so a
  * miss's one Spark job runs in the caller's job group; scoring never
  * starts a job.
  *
  * Scale note: this is the SERVING tier. At web scale each serving node
  * holds a shard's segments; the cache cap bounds driver memory
  * (posting rows stay compressed in cache — decode happens per query
  * in the cursor, exactly like the mmap'd reference). Batch/analytical
  * paths keep using the distributed InvertedIndex. */
final class Searcher(idx: InvertedIndex, maxCachedTerms: Int = 4096) {

  private val stats = idx.stats

  // fieldnorms resident: segment -> field -> bytes; the instance's one
  // collect, shared with its query broadcast
  private val fnorms: Map[Int, Map[Int, Array[Byte]]] = idx.residentFnormsLocal

  // LRU posting cache: term -> rows across segments (compressed)
  private val cache = new java.util.LinkedHashMap[String, Array[PostingRow]](
    64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Array[PostingRow]]): Boolean =
      size() > maxCachedTerms
  }

  /** Fetch-and-cache posting rows for `terms`; one pushed-down scan for
    * all misses. Cache access synchronizes (an access-order
    * LinkedHashMap rewires its links on every get, so concurrent
    * serving calls would corrupt it), and the result assembles from a
    * LOCAL map — a single query whose vocabulary exceeds the cache cap
    * must not read back entries its own puts already evicted. */
  private def rowsFor(terms: Seq[String]): Map[String, Array[PostingRow]] = {
    val local = scala.collection.mutable.Map[String, Array[PostingRow]]()
    val missing = cache.synchronized {
      terms.filter { t =>
        val v = cache.get(t)
        if (v != null) { local(t) = v; false } else true
      }
    }
    if (missing.nonEmpty) {
      val fetched = idx.postingRows(missing)
      cache.synchronized {
        missing.foreach(t => cache.put(t, fetched.getOrElse(t, Array.empty)))
      }
      missing.foreach(t => local(t) = fetched.getOrElse(t, Array.empty))
    }
    terms.map(t => t -> local(t)).toMap
  }

  /** Same contract as InvertedIndex.searchRaw, served from the driver:
    * the cached rows grouped by segment go through the distributed
    * path's per-segment scoring and merge. */
  def searchRaw(query: String, k: Int, mode: String = "or",
                minusTerms: Seq[String] = Nil): Array[(Int, Int, Float)] = {
    val (terms, m, minus) = idx.lower(query, mode, minusTerms)
    if (terms.isEmpty || stats.numDocs == 0) return Array.empty
    val rows = rowsFor((terms ++ minus).distinct)
    val weights = SegmentScoring.weights(
      rows.map { case (t, rs) => t -> rs.map(_.docFreq.toLong).sum }, stats.numDocs)
    val tasks = rows.valuesIterator.flatten.toArray.groupBy(_.segment).toArray.map {
      case (seg, plist) => new FutureTask(() =>
        SegmentScoring.scoreQuery(terms, k, m, minus, plist.groupBy(_.term),
          fnorms(seg), weights, stats).map(h => (seg, h.doc, h.score)))
    }
    SegmentScoring.cut(Searcher.fanOut(tasks).flatten, k)
  }
}

object Searcher {

  /** The serving pool: one per JVM, not per Searcher (a server opens
    * several), daemon threads, one per core. It holds threads, not
    * derived index state, so it is not SessionMemo material: no Spark
    * session owns it and nothing in it goes stale. */
  private lazy val pool = {
    val n = new AtomicInteger()
    Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors, new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-searcher-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })
  }

  /** Runs `tasks` on the serving pool and returns their results in
    * order. The caller takes tasks from the back while the pool takes
    * them from the front (a FutureTask runs once; a later run is a
    * no-op), so a busy pool never leaves the caller idle. A task's
    * exception reaches the caller as thrown, not wrapped. */
  private[graft] def fanOut[T: ClassTag](tasks: Array[FutureTask[T]]): Array[T] = {
    if (tasks.length > 1) tasks.foreach(pool.execute)
    var i = tasks.length - 1
    while (i >= 0) { tasks(i).run(); i -= 1 }
    try tasks.map(_.get())
    catch { case e: ExecutionException => throw e.getCause }
  }
}
