package graft.core

import scala.collection.mutable.ArrayBuffer

/** One scored hit (segment-local doc id). */
final case class ScoredDoc(doc: Int, score: Float)

/** Fixed-capacity top-k with the reference collector's semantics: final
  * order (score desc, doc asc); a doc enters only if it strictly beats
  * the current k-th score (tantivy TopNComputer + ComparableDoc,
  * top_collector.rs:44-65, top_score_collector.rs:500-544). Traversal is
  * in ascending doc order, so keeping the incumbent on score ties is
  * exactly the reference's lowest-doc-wins tie-break. */
final class TopK(k: Int) {
  // binary min-heap on (score asc, doc desc): root = current worst;
  // storage grows lazily toward k so huge k (collect-all) stays cheap
  private var scores = new Array[Float](math.max(1, math.min(k, 1024)))
  private var docs = new Array[Int](scores.length)
  private var n = 0

  private def ensure(): Unit = {
    if (n == scores.length && n < k) {
      val cap = math.min(k.toLong, scores.length * 2L).toInt
      scores = java.util.Arrays.copyOf(scores, cap)
      docs = java.util.Arrays.copyOf(docs, cap)
    }
  }

  @inline private def worseThan(s1: Float, d1: Int, s2: Float, d2: Int): Boolean =
    s1 < s2 || (s1 == s2 && d1 > d2)

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) >> 1
      if (worseThan(scores(i), docs(i), scores(p), docs(p))) {
        val ts = scores(i); scores(i) = scores(p); scores(p) = ts
        val td = docs(i); docs(i) = docs(p); docs(p) = td
        i = p
      } else return
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    while (true) {
      val l = 2 * i + 1
      val r = l + 1
      var m = i
      if (l < n && worseThan(scores(l), docs(l), scores(m), docs(m))) m = l
      if (r < n && worseThan(scores(r), docs(r), scores(m), docs(m))) m = r
      if (m == i) return
      val ts = scores(i); scores(i) = scores(m); scores(m) = ts
      val td = docs(i); docs(i) = docs(m); docs(m) = td
      i = m
    }
  }

  /** Current pruning threshold: k-th best score, or -inf while not full. */
  def threshold: Float =
    if (k == 0) Float.PositiveInfinity // nothing can ever enter
    else if (n < k) Float.NegativeInfinity
    else scores(0)

  /** Insert if it beats the threshold; returns the new threshold. */
  def push(doc: Int, score: Float): Float = {
    if (k == 0) return threshold
    if (n < k) {
      ensure()
      scores(n) = score; docs(n) = doc; n += 1; siftUp(n - 1)
    } else if (score > scores(0)) {
      scores(0) = score; docs(0) = doc; siftDown()
    }
    threshold
  }

  /** Hits sorted by (score desc, doc asc). */
  def sorted: Array[ScoredDoc] = {
    val out = Array.tabulate(n)(i => ScoredDoc(docs(i), scores(i)))
    java.util.Arrays.sort(out, new java.util.Comparator[ScoredDoc] {
      def compare(a: ScoredDoc, b: ScoredDoc): Int = {
        val c = java.lang.Float.compare(b.score, a.score)
        if (c != 0) c else Integer.compare(a.doc, b.doc)
      }
    })
    out
  }
}

/** Block-max WAND (Ding & Suel's BMW) over term cursors, re-derived from
  * the reference's implementation
  * (crates/tantivy/src/query/boolean_query/block_wand.rs:16-261):
  * pivot by cumulative max-score vs threshold, shallow-seek + block-max
  * upper-bound check, advance-one-scorer on bound failure, align + score
  * on success. Union (OR) semantics with summed BM25, exact top-k. */
object BlockWand {
  final val Terminated = Int.MaxValue

  /** Stable in-place insertion sort by doc: runs once per scored pivot
    * on a nearly sorted buffer, so it allocates nothing. Equal docs keep
    * their order, as the stable sort it replaced did, so every pivot
    * and f32 sum stays the same. */
  private def sortByDoc(s: ArrayBuffer[TermCursor]): Unit = {
    var i = 1
    while (i < s.length) {
      val c = s(i)
      val doc = c.doc
      var j = i - 1
      while (j >= 0 && s(j).doc > doc) { s(j + 1) = s(j); j -= 1 }
      s(j + 1) = c
      i += 1
    }
  }

  /** Packed pivot: (before << 48) | (pivotLen << 32) | pivotDoc, or
    * -1 when no pivot exists. Packed into one Long because this runs
    * once per scored pivot — a Tuple3 here boxes three Ints per
    * iteration of the hottest query loop. Cursor counts fit 16 bits
    * with huge margin (32-term parse cap x field expansion, term-set
    * cap 64); the doc id occupies the low 32 bits unsigned. */
  private def findPivot(s: ArrayBuffer[TermCursor], threshold: Float): Long = {
    var maxScore = 0.0f
    var before = 0
    var found = false
    while (before < s.length && !found) {
      maxScore += s(before).maxScore
      if (maxScore > threshold) found = true
      else before += 1
    }
    if (!found) return -1L
    val pivotDoc = s(before).doc
    if (pivotDoc == Terminated) return -1L
    var pivotLen = before + 1
    while (pivotLen < s.length && s(pivotLen).doc == pivotDoc) pivotLen += 1
    (before.toLong << 48) | (pivotLen.toLong << 32) | (pivotDoc.toLong & 0xffffffffL)
  }

  private def restoreOrdering(s: ArrayBuffer[TermCursor], ord: Int): Unit = {
    val doc = s(ord).doc
    var i = ord + 1
    while (i < s.length && s(i).doc < doc) {
      val t = s(i); s(i) = s(i - 1); s(i - 1) = t
      i += 1
    }
  }

  /** block_wand.rs:49-80 — pick the highest-max-score scorer among the
    * pivot candidates and seek it past the cheapest block boundary. */
  private def advanceOneScorer(s: ArrayBuffer[TermCursor], pivotLen: Int): Unit = {
    var toSeek = pivotLen - 1
    var globalMax = s(toSeek).maxScore
    var seekAfter = s(toSeek).lastDocInBlock
    var i = pivotLen - 2
    while (i >= 0) {
      if (s(i).lastDocInBlock <= seekAfter) seekAfter = s(i).lastDocInBlock
      if (s(i).maxScore > globalMax) { globalMax = s(i).maxScore; toSeek = i }
      i -= 1
    }
    if (seekAfter != Terminated) seekAfter += 1
    var j = pivotLen
    while (j < s.length) {
      if (s(j).doc <= seekAfter) seekAfter = s(j).doc
      j += 1
    }
    s(toSeek).seek(seekAfter)
    restoreOrdering(s, toSeek)
  }

  /** block_wand.rs:101-124 — returns false if some scorer overshot. */
  private def alignScorers(s: ArrayBuffer[TermCursor], pivotDoc: Int,
                           beforePivotLen: Int): Boolean = {
    var i = beforePivotLen - 1
    while (i >= 0) {
      val newDoc = s(i).seek(pivotDoc)
      if (newDoc != pivotDoc) {
        if (newDoc == Terminated) {
          // swap_remove
          s(i) = s(s.length - 1)
          s.remove(s.length - 1)
        }
        restoreOrdering(s, i)
        return false
      }
      i -= 1
    }
    true
  }

  private def advanceAllOnPivot(s: ArrayBuffer[TermCursor], pivotLen: Int): Unit = {
    var i = 0
    while (i < pivotLen) { s(i).advance(); i += 1 }
    i = 0
    while (i < s.length) {
      if (s(i).doc == Terminated) {
        s(i) = s(s.length - 1)
        s.remove(s.length - 1)
      } else i += 1
    }
    sortByDoc(s)
  }

  /** Main loop (block_wand.rs:148-212). `callback` returns the new
    * threshold (the collector's k-th best). */
  def run(cursors: Seq[TermCursor], threshold0: Float,
          callback: (Int, Float) => Float): Unit = {
    if (cursors.isEmpty) return
    if (cursors.length == 1) return runSingle(cursors.head, threshold0, callback)
    var threshold = threshold0
    val s = ArrayBuffer(cursors: _*)
    var o = 0
    while (o < s.length) { s(o).ord = o; o += 1 }
    val scoreBuf = new Array[Float](s.length)
    sortByDoc(s)
    var pivot = findPivot(s, threshold)
    while (pivot != -1L) {
      val beforePivotLen = (pivot >>> 48).toInt
      val pivotLen = ((pivot >>> 32) & 0xffff).toInt
      val pivotDoc = pivot.toInt
      var blockMaxUpper = 0.0f
      var i = 0
      while (i < pivotLen) {
        s(i).shallowSeek(pivotDoc)
        blockMaxUpper += s(i).blockMaxScore
        i += 1
      }
      if (blockMaxUpper <= threshold) {
        advanceOneScorer(s, pivotLen)
      } else if (alignScorers(s, pivotDoc, beforePivotLen)) {
        // sum in canonical ord order for bit-identical f32 totals
        java.util.Arrays.fill(scoreBuf, Float.NaN)
        var j = 0
        while (j < pivotLen) { scoreBuf(s(j).ord) = s(j).score; j += 1 }
        var score = 0.0f
        var m = 0
        while (m < scoreBuf.length) {
          if (!scoreBuf(m).isNaN) score += scoreBuf(m)
          m += 1
        }
        if (score > threshold) threshold = callback(pivotDoc, score)
        advanceAllOnPivot(s, pivotLen)
      }
      pivot = findPivot(s, threshold)
    }
  }

  /** Single-scorer fast path (block_wand.rs:222-261). */
  def runSingle(scorer: TermCursor, threshold0: Float,
                callback: (Int, Float) => Float): Unit = {
    var threshold = threshold0
    var doc = scorer.doc
    if (doc == Terminated) return
    while (true) { // exits via the Terminated returns only
      while (scorer.blockMaxScore < threshold) {
        val last = scorer.lastDocInBlock
        if (last == Terminated) return
        doc = last + 1
        scorer.shallowSeek(doc)
      }
      doc = scorer.seek(doc)
      if (doc == Terminated) return
      var inner = true
      while (inner) {
        val score = scorer.score
        if (score > threshold) threshold = callback(doc, score)
        if (doc == scorer.lastDocInBlock) inner = false
        else {
          doc = scorer.advance()
          if (doc == Terminated) return
        }
      }
      doc += 1
      scorer.shallowSeek(doc)
    }
  }

  /** Exhaustive k-way union scan — the oracle the WAND path must match
    * (mirrors the reference's own property-test oracle,
    * block_wand.rs:301-623). */
  def exhaustiveUnion(cursors: Seq[TermCursor], callback: (Int, Float) => Unit): Unit = {
    val s = cursors.toArray
    var live = s.count(_.doc != Terminated)
    while (live > 0) {
      var m = Terminated
      var i = 0
      while (i < s.length) {
        if (s(i).doc < m) m = s(i).doc
        i += 1
      }
      if (m == Terminated) return
      var score = 0.0f
      i = 0
      while (i < s.length) {
        if (s(i).doc == m) {
          score += s(i).score
          if (s(i).advance() == Terminated) live -= 1
        }
        i += 1
      }
      callback(m, score)
    }
  }

  /** Bitset-horizon union (re-derivation of tantivy's
    * BufferedUnionScorer, union.rs: docs are drained into a HORIZON-
    * sized bitset window with a parallel score buffer, then emitted in
    * doc order by scanning set bits word-by-word). Cursors are swept in
    * ord order within each window, so per-doc f32 accumulation order is
    * identical to `exhaustiveUnion` — bit-identical results (property
    * tested), better locality on dense unions (one pass per cursor per
    * window instead of a k-way min scan per doc). */
  def bitsetUnion(cursors: Seq[TermCursor], callback: (Int, Float) => Unit): Unit = {
    val Horizon = 4096
    val s = cursors.toArray
    val bits = new Array[Long](Horizon / 64)
    val scores = new Array[Float](Horizon)
    var base = 0
    locally {
      var m = Terminated
      var i = 0
      while (i < s.length) { if (s(i).doc < m) m = s(i).doc; i += 1 }
      if (m == Terminated) return
      base = m
    }
    var live = s.count(_.doc != Terminated)
    while (live > 0) {
      val limit = base + Horizon
      var next = Terminated
      var i = 0
      while (i < s.length) {
        val c = s(i)
        var d = c.doc
        while (d < limit) {
          val off = d - base
          bits(off >> 6) |= 1L << (off & 63)
          scores(off) += c.score
          d = c.advance()
          if (d == Terminated) { live -= 1; d = limit } // exit inner
        }
        if (c.doc != Terminated && c.doc < next) next = c.doc
        i += 1
      }
      // emit window in doc order
      var w = 0
      while (w < bits.length) {
        var word = bits(w)
        while (word != 0) {
          val b = java.lang.Long.numberOfTrailingZeros(word)
          val off = (w << 6) + b
          callback(base + off, scores(off))
          scores(off) = 0.0f
          word &= word - 1
        }
        bits(w) = 0L
        w += 1
      }
      if (live > 0) base = next
    }
  }

  /** Count-only union walk (no fieldnorm/score work) — the exact match
    * count for the unsaturated ApproxCount path. */
  def unionCount(cursors: Seq[TermCursor]): Long = {
    val s = cursors.toArray
    var count = 0L
    while (true) {
      var m = Terminated
      var i = 0
      while (i < s.length) {
        if (s(i).doc < m) m = s(i).doc
        i += 1
      }
      if (m == Terminated) return count
      count += 1
      i = 0
      while (i < s.length) {
        if (s(i).doc == m) s(i).advance()
        i += 1
      }
    }
    count
  }

  /** Union scan with a custom score combiner — DisjunctionMax support
    * (reference disjunction_max_query.rs: score = max over clauses +
    * tieBreaker * sum of the rest). */
  def exhaustiveCombine(cursors: Seq[TermCursor], tieBreaker: Float,
                        callback: (Int, Float) => Unit): Unit = {
    val s = cursors.toArray
    while (true) {
      var m = Terminated
      var i = 0
      while (i < s.length) {
        if (s(i).doc < m) m = s(i).doc
        i += 1
      }
      if (m == Terminated) return
      var best = 0.0f
      var sum = 0.0f
      i = 0
      while (i < s.length) {
        if (s(i).doc == m) {
          val sc = s(i).score
          if (sc > best) best = sc
          sum += sc
          s(i).advance()
        }
        i += 1
      }
      callback(m, best + tieBreaker * (sum - best))
    }
  }

  /** Leapfrog intersection (AND with summed scores), rarest-first driver
    * (reference: crates/core/src/query/intersection.rs:26-62). */
  def intersect(cursorsIn: Seq[TermCursor], callback: (Int, Float) => Unit): Unit = {
    if (cursorsIn.isEmpty) return
    val orig = cursorsIn.toArray // canonical summation order
    val s = cursorsIn.sortBy(_.docFreq).toArray // rarest-first driver
    var candidate = s(0).doc
    while (candidate != Terminated) {
      var agreed = 1
      var i = 1
      while (i < s.length && agreed == i) {
        val d = s(i).seek(candidate)
        if (d == candidate) agreed += 1
        else candidate = d
        i += 1
      }
      if (candidate == Terminated) return
      if (agreed == s.length) {
        var score = 0.0f
        var j = 0
        while (j < orig.length) { score += orig(j).score; j += 1 }
        callback(candidate, score)
        candidate = s(0).advance()
      } else {
        candidate = s(0).seek(candidate)
      }
    }
  }
}
