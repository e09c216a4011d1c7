package graft.core

/** One term's posting list: delta-encoded bit-packed 128-doc blocks with
  * per-block max-score metadata, plus a VInt tail.
  *
  * Field-by-field provenance (semantics, not layout, from /root/reference):
  *  - 128-doc blocks, strict-delta docs, minus-one tfs:
  *    crates/tantivy/src/postings/compression/mod.rs:4,33-73
  *  - per-block skip entry {lastDoc, docBits, tfBits, blockwand
  *    (fieldnormId, tf saturated at 255)}: postings/skip.rs:24-35,56-82
  *  - blockwand pair = argmax of tf_factor under the *segment-level*
  *    average fieldnorm: postings/serializer.rs:365-416 (the slight
  *    query-time mismatch vs collection average is intentional and
  *    reproduced — see term_scorer.rs:63-70)
  *  - VInt tail for the final partial block: serializer.rs:429-451
  *
  * `docIdBase` supports cheap segment merge: all doc ids in this list are
  * local and shifted by the base at read time, so concatenating segments
  * never re-encodes packed bytes.
  */
final case class PostingListData(
    term: String,
    docFreq: Int,
    docIdBase: Int,
    lastDocs: Array[Int],    // per full block, local ids
    docBits: Array[Byte],
    tfBits: Array[Byte],
    bwFnormIds: Array[Byte], // per full block: blockwand fieldnorm id
    bwTfs: Array[Byte],      // per full block: blockwand tf, saturated at 255
    packedDocs: Array[Byte],
    packedTfs: Array[Byte],
    tailBytes: Array[Byte],  // vint(sorted docs) ++ vint(unsorted tfs)
    // term positions (phrase support; reference positions/mod.rs): per
    // doc, tf vint-encoded gaps (first absolute); posBlockOffsets(b) =
    // byte offset of block b's first doc (one extra entry for the tail)
    posBytes: Array[Byte],
    posBlockOffsets: Array[Int]
) {
  def numFullBlocks: Int = lastDocs.length
  def tailCount: Int = docFreq - numFullBlocks * BlockCodec.BlockSize
  def hasPositions: Boolean = posBytes.length > 0

  /** Decode block `b` (a full block, or the vint tail at
    * b == numFullBlocks) into `docs`/`tfs`, doc ids shifted by
    * docIdBase; returns the block's length. `docOff`/`tfOff` are a full
    * block's byte offsets in packedDocs/packedTfs. */
  private[core] def decodeBlock(b: Int, docOff: Int, tfOff: Int,
                                docs: Array[Int], tfs: Array[Int]): Int = {
    val n =
      if (b < numFullBlocks) {
        BlockCodec.decodeSortedBlock(packedDocs, docOff,
          if (b == 0) -1 else lastDocs(b - 1), docBits(b) & 0xff, docs)
        BlockCodec.decodeTfBlock(packedTfs, tfOff, tfBits(b) & 0xff, tfs)
        BlockCodec.BlockSize
      } else {
        // the tail's vint base is the previous block's last doc, or 0
        val used = BlockCodec.unvintSorted(tailBytes, 0, tailCount,
          if (b == 0) 0 else lastDocs(b - 1), docs)
        BlockCodec.unvintUnsorted(tailBytes, used, tailCount, tfs)
        tailCount
      }
    if (docIdBase != 0) {
      var i = 0
      while (i < n) { docs(i) += docIdBase; i += 1 }
    }
    n
  }

  /** The whole list as (docs shifted by docIdBase, tfs). Positions need
    * no decode: posBytes already holds them per doc, in doc order. */
  def decode(): (Array[Int], Array[Int]) = {
    val docs = new Array[Int](docFreq)
    val tfs = new Array[Int](docFreq)
    val blockDocs = new Array[Int](BlockCodec.BlockSize)
    val blockTfs = new Array[Int](BlockCodec.BlockSize)
    var docOff = 0
    var tfOff = 0
    var out = 0
    var b = 0
    while (out < docFreq) {
      val n = decodeBlock(b, docOff, tfOff, blockDocs, blockTfs)
      System.arraycopy(blockDocs, 0, docs, out, n)
      System.arraycopy(blockTfs, 0, tfs, out, n)
      if (b < numFullBlocks) {
        docOff += BlockCodec.packedSize(docBits(b) & 0xff)
        tfOff += BlockCodec.packedSize(tfBits(b) & 0xff)
      }
      out += n
      b += 1
    }
    (docs, tfs)
  }
}

object PostingListData {

  /** Saturating decode of the blockwand tf (skip.rs:29-35). */
  @inline def decodeBwTf(b: Byte): Int =
    if ((b & 0xff) == 255) Int.MaxValue else b & 0xff

  /** Build a posting list from ascending (doc, tf) pairs.
    *
    * @param buildWeight BM25 weight computed from the *segment's* stats
    *                    (df of this term, segment docs, segment avg
    *                    fieldnorm) — used only for the per-block argmax.
    * @param fnorms      per-doc fieldnorm ids of the segment.
    * @param posBytes    the docs' positions, already encoded (per doc,
    *                    tf vint gaps, the first absolute; the build
    *                    encodes them as tokens arrive, a merge moves
    *                    them as bytes); null or empty for none.
    */
  def build(term: String, docs: Array[Int], tfs: Array[Int],
            buildWeight: Bm25Weight, fnorms: Array[Byte],
            posBytes: Array[Byte] = null): PostingListData = {
    val n = docs.length
    val numFull = n / BlockCodec.BlockSize
    val lastDocs = new Array[Int](numFull)
    val docBits = new Array[Byte](numFull)
    val tfBits = new Array[Byte](numFull)
    val bwFn = new Array[Byte](numFull)
    val bwTf = new Array[Byte](numFull)
    val docsOut = new BlockCodec.ByteBuf(64)
    val tfsOut = new BlockCodec.ByteBuf(64)
    val blockDocs = new Array[Int](BlockCodec.BlockSize)
    val blockTfs = new Array[Int](BlockCodec.BlockSize)
    var base = -1
    var b = 0
    while (b < numFull) {
      val off = b * BlockCodec.BlockSize
      System.arraycopy(docs, off, blockDocs, 0, BlockCodec.BlockSize)
      System.arraycopy(tfs, off, blockTfs, 0, BlockCodec.BlockSize)
      val (dw, dbytes) = BlockCodec.encodeSortedBlock(blockDocs, base)
      val (tw, tbytes) = BlockCodec.encodeTfBlock(blockTfs)
      lastDocs(b) = blockDocs(BlockCodec.BlockSize - 1)
      docBits(b) = dw
      tfBits(b) = tw
      docsOut.write(dbytes)
      tfsOut.write(tbytes)
      // blockwand argmax of tf_factor; ties keep the later pair, matching
      // the reference's max_by semantics (serializer.rs:389-410)
      var bestFn: Byte = 0
      var bestTf = 0
      var bestScore = -1.0f
      var i = 0
      while (i < BlockCodec.BlockSize) {
        val fn = fnorms(blockDocs(i))
        val s = buildWeight.tfFactor(fn, blockTfs(i))
        if (s >= bestScore) { bestScore = s; bestFn = fn; bestTf = blockTfs(i) }
        i += 1
      }
      bwFn(b) = bestFn
      bwTf(b) = (if (bestTf > 255) 255 else bestTf).toByte
      base = lastDocs(b)
      b += 1
    }
    val tailN = n - numFull * BlockCodec.BlockSize
    val tail = new BlockCodec.ByteBuf(16)
    if (tailN > 0) {
      val td = new Array[Int](tailN)
      val tt = new Array[Int](tailN)
      System.arraycopy(docs, numFull * BlockCodec.BlockSize, td, 0, tailN)
      System.arraycopy(tfs, numFull * BlockCodec.BlockSize, tt, 0, tailN)
      // the reference uses the block offset (previous last doc, or 0) as
      // the vint base (serializer.rs:437-441 with last_doc_id_encoded)
      tail.write(BlockCodec.vintSorted(td, tailN, if (base < 0) 0 else base))
      tail.write(BlockCodec.vintUnsorted(tt, tailN))
    }
    // posBlockOffsets(b) = byte offset of block b's first doc, one entry
    // per block including the tail
    val (pos, posOffs) =
      if (posBytes == null || posBytes.length == 0)
        (Array.emptyByteArray, Array.emptyIntArray)
      else {
        val perDoc = positionOffsets(posBytes, tfs)
        (posBytes, Array.tabulate((n + BlockCodec.BlockSize - 1) / BlockCodec.BlockSize)(
          blk => perDoc(blk * BlockCodec.BlockSize)))
      }
    PostingListData(term, n, 0, lastDocs, docBits, tfBits, bwFn, bwTf,
      docsOut.toByteArray, tfsOut.toByteArray, tail.toByteArray, pos, posOffs)
  }

  /** Byte offset of each doc's positions in `posBytes` (doc `i` holds
    * `tfs(i)` vints), plus posBytes.length at the end. */
  def positionOffsets(posBytes: Array[Byte], tfs: Array[Int]): Array[Int] = {
    val offs = new Array[Int](tfs.length + 1)
    var i = 0
    while (i < tfs.length) {
      offs(i + 1) = BlockCodec.skipVints(posBytes, offs(i), tfs(i))
      i += 1
    }
    offs
  }
}

/** Cursor interface consumed by the WAND loop. `maxScore` is the global
  * per-term bound (tantivy bm25.rs:187-189); `docFreq` drives
  * rarest-first ordering. */
trait TermCursor {
  def doc: Int
  def maxScore: Float
  def docFreq: Int
  def lastDocInBlock: Int
  def shallowSeek(target: Int): Unit
  def blockMaxScore: Float
  def seek(target: Int): Int
  def advance(): Int
  def score: Float
  /** Whether the cursor stands on `doc`, seeking forward to it when
    * behind and never moving back: the posting_contains probe of an
    * ascending doc walk (computer/mod.rs:154-160). */
  final def contains(doc: Int): Boolean =
    this.doc == doc || (this.doc < doc && seek(doc) == doc)
  /** Canonical position among the query's cursors. The WAND loop sums
    * per-term scores in this order, so a pruned traversal produces
    * bit-identical f32 sums to the exhaustive oracle (the reference
    * instead sums in doc-sorted order and compares with a 1e-4 relative
    * tolerance in its proptest, block_wand.rs:335-337; fixed-order
    * summation is strictly stronger). */
  var ord: Int = -1
  /** Token positions of the term in the current doc (phrase support). */
  def positions: Array[Int] =
    throw new UnsupportedOperationException("positions not recorded")
  /** Raw (fieldnormId, termFreq) of the current doc — the signal
    * framework computes several scoring functions from one cursor. */
  def termFreq: Int = throw new UnsupportedOperationException
  def fieldNormId: Byte = throw new UnsupportedOperationException
}

/** Cursor over one posting list — the analog of the reference's
  * SegmentPostings + SkipReader + TermScorer bundle. Doc ids emitted are
  * `docIdBase`-shifted. TERMINATED == Int.MaxValue. */
final class PostingsCursor(val data: PostingListData, fnorms: Array[Byte],
                           val queryWeight: TermWeight) extends TermCursor {
  import BlockCodec.BlockSize
  final val Terminated = Int.MaxValue

  val maxScore: Float = queryWeight.maxScore

  private val numFull = data.numFullBlocks
  private val tailN = data.tailCount
  private val numBlocks = numFull + (if (tailN > 0) 1 else 0)
  // byte offsets of each full block in the packed arrays (the tail's
  // entry is unused)
  private val docOffs = new Array[Int](numBlocks)
  private val tfOffs = new Array[Int](numBlocks)
  locally {
    var d = 0; var t = 0; var b = 0
    while (b < numFull) {
      docOffs(b) = d; tfOffs(b) = t
      d += BlockCodec.packedSize(data.docBits(b) & 0xff)
      t += BlockCodec.packedSize(data.tfBits(b) & 0xff)
      b += 1
    }
  }

  private val blockDocs = new Array[Int](BlockSize)
  private val blockTfs = new Array[Int](BlockSize)
  private var blockLen = 0
  private var blockIdx = 0      // shallow position (skip-reader position)
  private var loadedIdx = -1    // which block is decoded into blockDocs
  private var idx = 0           // position within loaded block
  private var curDoc = 0
  private var tailMaxCache = Float.NaN

  load(0)
  curDoc = if (data.docFreq == 0) Terminated else blockDocs(0)

  private def load(b: Int): Unit = {
    blockLen =
      if (b >= numBlocks) 0
      else data.decodeBlock(b, docOffs(b), tfOffs(b), blockDocs, blockTfs)
    loadedIdx = b
    idx = 0
  }

  def doc: Int = curDoc

  /** Last doc id of the current (shallow) block; TERMINATED on the tail,
    * matching the reference skip reader (skip.rs:186-234). */
  def lastDocInBlock: Int =
    if (blockIdx < numFull) data.lastDocs(blockIdx) + data.docIdBase
    else Terminated

  /** Move the skip position (only) to the block containing `target`. */
  def shallowSeek(target: Int): Unit = {
    while (blockIdx < numFull && data.lastDocs(blockIdx) + data.docIdBase < target)
      blockIdx += 1
  }

  /** Upper bound for the current (shallow) block, per the reference's
    * BlockSegmentPostings::block_max_score (block_segment_postings.rs:
    * 147-180): stored pair for full blocks; exact max if the tail is
    * loaded; global max score otherwise. */
  def blockMaxScore: Float = {
    if (blockIdx < numFull)
      queryWeight.score(data.bwFnormIds(blockIdx), PostingListData.decodeBwTf(data.bwTfs(blockIdx)))
    else if (loadedIdx == blockIdx && blockIdx < numBlocks) {
      if (tailMaxCache.isNaN) {
        var m = 0.0f
        var i = 0
        while (i < blockLen) {
          val s = queryWeight.score(fnorms(blockDocs(i)), blockTfs(i))
          if (s > m) m = s
          i += 1
        }
        tailMaxCache = m
      }
      tailMaxCache
    } else maxScore
  }

  /** Seek to the first doc >= target. Loads blocks as needed. */
  def seek(target: Int): Int = {
    if (curDoc >= target) return curDoc
    shallowSeek(target)
    if (blockIdx >= numBlocks) { curDoc = Terminated; return curDoc }
    if (loadedIdx != blockIdx) load(blockIdx)
    while (idx < blockLen && blockDocs(idx) < target) idx += 1
    if (idx >= blockLen) {
      // target beyond this block (possible only on the tail)
      blockIdx += 1
      curDoc = Terminated
      if (blockIdx < numBlocks) { load(blockIdx); if (blockLen > 0) curDoc = blockDocs(0) }
      return curDoc
    }
    curDoc = blockDocs(idx)
    curDoc
  }

  def advance(): Int = {
    if (loadedIdx != blockIdx) { load(blockIdx); idx = -1 }
    idx += 1
    if (idx >= blockLen) {
      blockIdx += 1
      if (blockIdx >= numBlocks) { curDoc = Terminated; return curDoc }
      load(blockIdx)
      if (blockLen == 0) { curDoc = Terminated; return curDoc }
    }
    curDoc = blockDocs(idx)
    curDoc
  }

  override def termFreq: Int = blockTfs(idx)
  override def fieldNormId: Byte = fnorms(curDoc)
  def score: Float = queryWeight.score(fieldNormId, termFreq)
  def docFreq: Int = data.docFreq

  // ---- positions (phrase support) ----
  private var posOffsets: Array[Int] = null // byte offset per doc of loaded block
  private var posLoadedFor = -1

  private def ensurePosOffsets(): Unit = {
    if (posLoadedFor == loadedIdx) return
    require(data.hasPositions, s"no positions recorded for term '${data.term}'")
    if (posOffsets == null) posOffsets = new Array[Int](BlockCodec.BlockSize)
    var off = data.posBlockOffsets(loadedIdx)
    var i = 0
    while (i < blockLen) {
      posOffsets(i) = off
      off = BlockCodec.skipVints(data.posBytes, off, blockTfs(i))
      i += 1
    }
    posLoadedFor = loadedIdx
  }

  /** Token positions of the term in the current doc (ascending). */
  override def positions: Array[Int] = {
    ensurePosOffsets()
    val out = new Array[Int](blockTfs(idx))
    BlockCodec.unvintSorted(data.posBytes, posOffsets(idx), out.length, 0, out)
    out
  }
}

/** Chains docId-range shards of one hot term (skew handling: a term whose
  * merged posting list exceeds the per-row budget is stored as several
  * rows with increasing `docIdBase`; see SegmentIndex). Shards must be
  * ordered by docIdBase with disjoint ascending doc ranges. */
final class ChainedCursor(shards: Array[PostingsCursor]) extends TermCursor {
  require(shards.nonEmpty)
  final val Terminated = Int.MaxValue
  private var cur = 0      // shard holding the cursor position (doc())
  private var shallow = 0  // shard holding the skip position

  val maxScore: Float = {
    var m = 0.0f; var i = 0
    while (i < shards.length) { if (shards(i).maxScore > m) m = shards(i).maxScore; i += 1 }
    m
  }
  val docFreq: Int = shards.map(_.docFreq).sum

  def doc: Int = if (cur < shards.length) shards(cur).doc else Terminated

  def lastDocInBlock: Int = {
    if (shallow >= shards.length) return Terminated
    val l = shards(shallow).lastDocInBlock
    // a tail block's boundary is TERMINATED within a shard; clamp it to
    // the next shard's first doc so WAND block skipping can cross shards
    if (l == Terminated && shallow < shards.length - 1)
      shards(shallow + 1).doc - 1
    else l
  }

  def shallowSeek(target: Int): Unit = {
    // a fresh (never-consumed) later shard reports its first doc via .doc
    while (shallow < shards.length - 1 && shards(shallow + 1).doc <= target)
      shallow += 1
    if (shallow < shards.length) shards(shallow).shallowSeek(target)
  }

  def blockMaxScore: Float =
    if (shallow < shards.length) shards(shallow).blockMaxScore
    else 0.0f

  def seek(target: Int): Int = {
    if (doc >= target) return doc
    shallowSeek(target)
    cur = shallow
    while (cur < shards.length) {
      val d = shards(cur).seek(target)
      if (d != Terminated) { shallow = cur; return d }
      cur += 1
      if (cur < shards.length && shards(cur).doc != Terminated) {
        // fresh shard is already positioned on its first doc (> target
        // is impossible here only if shallowSeek stopped early; either
        // way its current doc is the correct next candidate)
        shallow = cur
        return shards(cur).doc
      }
    }
    shallow = shards.length
    Terminated
  }

  def advance(): Int = {
    if (cur >= shards.length) return Terminated
    val d = shards(cur).advance()
    if (d != Terminated) { if (shallow < cur) shallow = cur; return d }
    cur += 1
    while (cur < shards.length) {
      val d2 = shards(cur).doc // fresh shard: positioned on first doc
      if (d2 != Terminated) { if (shallow < cur) shallow = cur; return d2 }
      cur += 1
    }
    Terminated
  }

  def score: Float = shards(cur).score
  override def positions: Array[Int] = shards(cur).positions
  override def termFreq: Int = shards(cur).termFreq
  override def fieldNormId: Byte = shards(cur).fieldNormId
}

/** Doc-id-horizon view of a cursor: docs >= maxDoc are invisible. This
  * is the ShortCircuit early-termination primitive (reference
  * shortcircuit.rs:1-60): segment doc ids are dense in
  * precomputed-score order, so [0, maxDoc) IS the segment's top-maxDoc
  * static-rank slice, and a budgeted query = WAND over the truncated
  * cursors — the traversal stays fully pruned (block skips intact;
  * partial-block max scores remain valid upper bounds). */
final class TruncatedCursor(inner: TermCursor, maxDoc: Int) extends TermCursor {
  final val Terminated = Int.MaxValue
  def doc: Int = { val d = inner.doc; if (d >= maxDoc) Terminated else d }
  def maxScore: Float = inner.maxScore
  def docFreq: Int = inner.docFreq
  def lastDocInBlock: Int = inner.lastDocInBlock
  def shallowSeek(target: Int): Unit = inner.shallowSeek(target)
  def blockMaxScore: Float = inner.blockMaxScore
  def seek(target: Int): Int = {
    val d = inner.seek(target)
    if (d >= maxDoc) Terminated else d
  }
  def advance(): Int = {
    val d = inner.advance()
    if (d >= maxDoc) Terminated else d
  }
  def score: Float = inner.score
  override def positions: Array[Int] = inner.positions
  override def termFreq: Int = inner.termFreq
  override def fieldNormId: Byte = inner.fieldNormId
}
