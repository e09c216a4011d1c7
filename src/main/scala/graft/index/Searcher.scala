package graft.index

import java.util.concurrent.{CompletableFuture, ExecutionException, Executors, FutureTask, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import scala.reflect.ClassTag

/** Driver-side serving searcher — the Spark analog of the reference's
  * search shard, which serves queries from mmap'd segment files without
  * spinning up jobs (crates/core/src/inverted_index + the distributed
  * searcher's shard RPC; searcher/local/inner.rs runs every query shape
  * through per-segment collectors on its executor pool).
  *
  * A Searcher IS an InvertedIndex over `idx`'s directory, one that runs
  * on the resident executor (see InvertedIndex.perSegment): every
  * per-segment caller (searchRaw, searchBatchRaw, searchBoosted,
  * searchBool, searchBm25F, searchApprox, rankSignalsOver) reads
  * posting rows from a term cache and scores one task per segment on
  * the JVM's one serving pool, so a warm call starts no job. The
  * code is the distributed path's own, so the answers are identical
  * (property tested). It shares `idx`'s stats and driver-side
  * fieldnorms, collected when it opens, and its doc keys, collected by
  * the first `resolve` of either, and refuses an index whose fieldnorms
  * exceed `spark.graft.residentFnormBytes`.
  *
  * Scale note: this is the SERVING tier. At web scale each serving node
  * holds a shard's segments; `maxCachedBytes` bounds the cached posting
  * bytes (rows stay compressed in the cache — decode happens per query
  * in the cursor, exactly like the mmap'd reference). Batch/analytical
  * paths keep using the distributed InvertedIndex. */
final class Searcher(idx: InvertedIndex, maxCachedBytes: Long = 64L << 20)
    extends InvertedIndex(idx, maxCachedBytes) {
  require(fnormsResident, s"a Searcher keeps the fieldnorms on the driver, and this index's " +
    s"exceed ${InvertedIndex.ResidentFnormBytesConf} = ${idx.maxResidentFnormBytes} bytes")
  residentFnormsLocal // collected when the searcher opens
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

/** The resident executor's term -> posting rows cache (rows of every
  * segment, compressed), least recently used first out once the cached
  * bytes exceed `maxBytes`. An entry is a future: the caller that misses
  * a term puts it and fetches all its misses with one pushed-down scan
  * on its own thread; a caller that finds the term still in flight waits
  * for that fetch instead of starting another. */
private[index] final class RowCache(fetch: Seq[String] => Map[String, Array[PostingRow]],
                                    maxBytes: Long) {
  private type Entry = CompletableFuture[Array[PostingRow]]
  // access-order: a get rewires the links, so every access holds the lock
  private val lru = new java.util.LinkedHashMap[String, Entry](64, 0.75f, true)
  private var bytes = 0L

  def heldBytes: Long = synchronized(bytes)

  /** The rows of `terms`, read from this call's own entries: a query
    * whose rows exceed the cap must not lose rows its own puts evicted.
    * A call whose terms are all cached takes one lock and waits for
    * nothing. */
  def rows(terms: Seq[String]): Map[String, Array[PostingRow]] = {
    val held = cached(terms)
    val rest = terms.filterNot(held.contains)
    if (rest.isEmpty) held else held ++ fetchOrWait(rest.distinct)
  }

  /** The rows of `terms`, none of them cached when the caller looked: a
    * term still absent is fetched, one already in flight is waited
    * for. */
  private def fetchOrWait(terms: Seq[String]): Map[String, Array[PostingRow]] = {
    val mine = Map.newBuilder[String, Entry]
    val entries = synchronized(terms.map { t =>
      t -> Option(lru.get(t)).getOrElse { val e = new Entry; lru.put(t, e); mine += t -> e; e }
    })
    val misses = mine.result()
    if (misses.nonEmpty) {
      val fetched = try fetch(misses.keys.toSeq) catch {
        case e: Throwable =>
          synchronized(misses.foreach { case (t, f) => lru.remove(t, f); f.completeExceptionally(e) })
          throw e
      }
      synchronized {
        misses.foreach { case (t, f) =>
          f.complete(fetched.getOrElse(t, Array.empty))
          if (lru.get(t) eq f) bytes += bytesOf(t, f.join())
        }
        // evict done entries only: an in-flight one is not counted yet
        val it = lru.entrySet.iterator
        while (bytes > maxBytes && it.hasNext) {
          val e = it.next()
          if (e.getValue.isDone) { bytes -= bytesOf(e.getKey, e.getValue.join()); it.remove() }
        }
      }
    }
    entries.map { case (t, f) =>
      t -> (try f.get() catch { case e: ExecutionException => throw e.getCause })
    }.toMap
  }

  /** The rows of those `terms` whose fetch is done; neither fetches nor
    * waits. */
  def cached(terms: Seq[String]): Map[String, Array[PostingRow]] = synchronized {
    val out = Map.newBuilder[String, Array[PostingRow]]
    terms.foreach { t =>
      val f = lru.get(t)
      if (f != null && f.isDone) out += t -> f.join()
    }
    out.result()
  }

  /** An entry's bytes: the term, and each row's encoded postings,
    * block-max metadata and positions. */
  private def bytesOf(term: String, rows: Array[PostingRow]): Long =
    term.length + rows.iterator.map { r =>
      r.packedDocs.length.toLong + r.packedTfs.length + r.tailBytes.length +
        r.docBits.length + r.tfBits.length + r.bwFnormIds.length + r.bwTfs.length +
        r.posBytes.length + 4L * (r.lastDocs.length + r.posBlockOffsets.length)
    }.sum
}
