package graft.core

/** Bucket keys + simhash of one hit (reference Hashes,
  * crates/core/src/collector/top_docs.rs:230-287). For a source-code
  * corpus the web mapping site/url/title becomes repo / repo-path /
  * file name. */
final case class DocHashes(site: Long, url: Long, urlWithoutTld: Long,
                           title: Long, simhash: Long)

object DocHashes {
  /** The bucket keys of one source file: repo = site, repo/path = url,
    * path = url without tld, file name = title. */
  def of(repo: String, path: String, simhash: Long): DocHashes = {
    DocHashes(Fnv1a("site:" + repo), Fnv1a("url:" + repo + "/" + path), Fnv1a("path:" + path),
      Fnv1a("title:" + path.substring(path.lastIndexOf('/') + 1)), simhash)
  }
}

/** Penalty weights (reference defaults,
  * crates/core/src/config/defaults.rs:22-36). */
final case class CollectorConfig(sitePenalty: Double = 0.1,
                                 urlPenalty: Double = 20.0,
                                 urlWithoutTldPenalty: Double = 1.0,
                                 titlePenalty: Double = 1.0)

/** SimHash near-duplicate table (re-derivation of
  * crates/core/src/simhash.rs:66-135): hashes are indexed under
  * NUM_BLOCKS = K+1 disjoint 16-bit prefix slices; two hashes within
  * hamming distance K <= 3 must agree exactly on at least one slice
  * (pigeonhole), so `contains` only compares candidates sharing a
  * slice. The same decomposition drives the distributed
  * Dedup.simhashPairs bucket join. */
object SimhashTable {
  final val K = 3
  final val NumBlocks = K + 1
  final val BlockBits = 64 / NumBlocks

  /** Mask of block i: the top BlockBits bits shifted right by i blocks. */
  def mask(i: Int): Long = (-1L << (64 - BlockBits)) >>> (BlockBits * i)
}

final class SimhashTable {
  import SimhashTable._

  private val blocks = Array.fill(NumBlocks)(
    new java.util.HashMap[java.lang.Long, java.util.ArrayList[java.lang.Long]]())

  def insert(h: Long): Unit = {
    var i = 0
    while (i < NumBlocks) {
      val p = java.lang.Long.valueOf(h & mask(i))
      var l = blocks(i).get(p)
      if (l == null) { l = new java.util.ArrayList[java.lang.Long](2); blocks(i).put(p, l) }
      l.add(h)
      i += 1
    }
  }

  /** true iff an indexed hash is within hamming distance K of `h`. */
  def contains(h: Long): Boolean = {
    var i = 0
    while (i < NumBlocks) {
      val l = blocks(i).get(java.lang.Long.valueOf(h & mask(i)))
      if (l != null) {
        var j = 0
        while (j < l.size) {
          if (java.lang.Long.bitCount(h ^ l.get(j)) <= K) return true
          j += 1
        }
      }
      i += 1
    }
    false
  }
}

/** Site/url/title bucket-dedup collector (re-derivation of the
  * reference BucketCollector, collector/top_docs.rs:247-361 + drain
  * semantics :433-460): each candidate's effective score is
  * score / (1 + sum over its buckets of takenCount * penalty); taking a
  * result increments its buckets, lazily re-adjusting the remaining
  * heap maximum (adjusters only shrink as counts grow, so re-checking
  * the popped maximum suffices). With `deRankSimilar`, simhash
  * near-duplicates (hamming <= 3) of already-taken results drain to the
  * back and only fill leftover slots. Ties break by insertion order
  * (per-segment doc order), which the reference leaves to its heap. */
final class BucketCollector[T](topN: Int,
                               score: T => Double,
                               hashes: T => DocHashes,
                               cfg: CollectorConfig = CollectorConfig()) {
  require(topN > 0)

  // not a case class: a case class nested in a generic class compiles
  // an unchecked outer-reference test into its equals
  private final class Entry(val item: T, val seq: Int, val adjusted: Double)
  private val heap = new java.util.PriorityQueue[Entry](16,
    new java.util.Comparator[Entry] {
      def compare(a: Entry, b: Entry): Int = {
        val c = java.lang.Double.compare(b.adjusted, a.adjusted) // max-heap
        if (c != 0) c else Integer.compare(a.seq, b.seq)
      }
    })
  private val taken = new java.util.HashMap[java.lang.Long, Int]()
  private var seq = 0

  @inline private def takenCount(h: Long): Int =
    taken.getOrDefault(java.lang.Long.valueOf(h), 0)

  private def adjuster(h: DocHashes): Double =
    1.0 / (1.0 +
      takenCount(h.site) * cfg.sitePenalty +
      takenCount(h.url) * cfg.urlPenalty +
      takenCount(h.urlWithoutTld) * cfg.urlWithoutTldPenalty +
      takenCount(h.title) * cfg.titlePenalty)

  private def bump(h: Long): Unit =
    taken.merge(java.lang.Long.valueOf(h), 1, (a, b) => a + b)

  def insert(item: T): Unit = {
    heap.add(new Entry(item, seq, score(item) * adjuster(hashes(item))))
    seq += 1
  }

  /** Drain into the final order. */
  def sortedResults(deRankSimilar: Boolean): Seq[T] = {
    val res = scala.collection.mutable.ArrayBuffer[T]()
    val simhashDups = scala.collection.mutable.ArrayBuffer[T]()
    val table = new SimhashTable
    var done = false
    while (!done && !heap.isEmpty) {
      val e = heap.poll()
      // lazy re-adjustment: counts may have grown since this entry was
      // scored; if its fresh score is lower it goes back into the heap
      val fresh = score(e.item) * adjuster(hashes(e.item))
      if (fresh < e.adjusted) heap.add(new Entry(e.item, e.seq, fresh))
      else {
        val h = hashes(e.item)
        if (deRankSimilar && h.simhash != 0 && table.contains(h.simhash)) {
          simhashDups += e.item
        } else {
          if (deRankSimilar && h.simhash != 0) table.insert(h.simhash)
          if (deRankSimilar) {
            bump(h.site); bump(h.url); bump(h.urlWithoutTld); bump(h.title)
          }
          res += e.item
          if (res.length == topN) done = true
        }
      }
    }
    (res ++ simhashDups.take(math.max(0, topN - res.length))).toSeq
  }
}
