package graft.core

/** Posting-block compression kernels.
  *
  * Same *semantics* as the reference's codec — 128-entry blocks,
  * strict-delta (delta minus one) bit-packing for sorted doc ids,
  * minus-one bit-packing for term frequencies, VInt tails for the final
  * partial block (reference: crates/tantivy/src/postings/compression/
  * mod.rs:33-73,165-233 and compression/vint.rs) — but with our own
  * scalar little-endian bit layout instead of the reference's 4-lane
  * SIMD interleave. We own both encoder and decoder, so the lane layout
  * is free to choose; widths, deltas and tails carry the same
  * information bit-for-bit.
  */
object BlockCodec {
  final val BlockSize = 128

  /** Unsynchronized growable byte sink (ByteArrayOutputStream's
    * per-byte synchronized writes cost real CPU on vint-heavy paths). */
  final class ByteBuf(initial: Int = 64) {
    var arr = new Array[Byte](initial)
    var n = 0
    @inline def write(b: Int): Unit = {
      // max(1, ...) : a zero-capacity buffer must still grow
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, math.max(1, n * 2))
      arr(n) = b.toByte; n += 1
    }
    def write(bs: Array[Byte]): Unit = {
      if (n + bs.length > arr.length)
        arr = java.util.Arrays.copyOf(arr, math.max(n + bs.length, arr.length * 2))
      System.arraycopy(bs, 0, arr, n, bs.length); n += bs.length
    }
    /** Append one vint: little-endian 7-bit groups, the high bit SET on
      * a value's last byte (compression/vint.rs; the opposite of
      * protobuf). Every vint of the index is written here. */
    @inline def writeVint(value: Int): Unit = {
      var v = value
      while ((v >>> 7) != 0) { write(v & 0x7f); v >>>= 7 }
      write(v | 0x80)
    }
    def size(): Int = n
    def toByteArray: Array[Byte] = java.util.Arrays.copyOf(arr, n)
  }

  @inline def bitsFor(v: Int): Int = 32 - Integer.numberOfLeadingZeros(v | 0)

  /** Pack `n` values of `width` bits each (LSB-first, little-endian). */
  def pack(values: Array[Int], n: Int, width: Int): Array[Byte] = {
    if (width == 0) return Array.emptyByteArray
    val out = new Array[Byte]((n * width + 7) / 8)
    var bitPos = 0
    var i = 0
    while (i < n) {
      val v = values(i).toLong & 0xffffffffL
      var byteIdx = bitPos >> 3
      val bitOff = bitPos & 7
      var acc = v << bitOff
      var remaining = width + bitOff
      while (remaining > 0) {
        out(byteIdx) = (out(byteIdx) | (acc & 0xff)).toByte
        acc >>>= 8
        remaining -= 8
        byteIdx += 1
      }
      bitPos += width
      i += 1
    }
    out
  }

  /** Unpack `n` values of `width` bits from `bytes` starting at `byteOff`. */
  def unpack(bytes: Array[Byte], byteOff: Int, n: Int, width: Int, out: Array[Int]): Unit = {
    if (width == 0) { java.util.Arrays.fill(out, 0, n, 0); return }
    var i = 0
    var bitPos = 0
    while (i < n) {
      var byteIdx = byteOff + (bitPos >> 3)
      val bitOff = bitPos & 7
      var acc = 0L
      var got = -bitOff
      var shift = 0
      while (got < width) {
        acc |= (bytes(byteIdx).toLong & 0xff) << shift
        shift += 8
        got += 8
        byteIdx += 1
      }
      // the Long mask handles width == 32 too ((1L << 32) - 1 == 0xFFFFFFFFL)
      out(i) = ((acc >>> bitOff) & ((1L << width) - 1)).toInt
      bitPos += width
      i += 1
    }
  }

  /** Encode a full sorted block of 128 doc ids as strict deltas
    * (delta - 1) against `base` (the previous block's last doc, or -1 for
    * the first block — the reference's `None` offset). Returns
    * (numBits, packedBytes). */
  def encodeSortedBlock(docs: Array[Int], base: Int): (Byte, Array[Byte]) = {
    val deltas = new Array[Int](BlockSize)
    var prev = base
    var maxD = 0
    var i = 0
    while (i < BlockSize) {
      val d = docs(i) - prev - 1
      deltas(i) = d
      if (Integer.compareUnsigned(d, maxD) > 0) maxD = d
      prev = docs(i)
      i += 1
    }
    val w = bitsFor(maxD)
    (w.toByte, pack(deltas, BlockSize, w))
  }

  def decodeSortedBlock(bytes: Array[Byte], byteOff: Int, base: Int, numBits: Int,
                        out: Array[Int]): Unit = {
    unpack(bytes, byteOff, BlockSize, numBits, out)
    var prev = base
    var i = 0
    while (i < BlockSize) {
      prev = prev + out(i) + 1
      out(i) = prev
      i += 1
    }
  }

  /** Encode a full block of 128 term freqs, minus-one encoded (tf >= 1). */
  def encodeTfBlock(tfs: Array[Int]): (Byte, Array[Byte]) = {
    val m = new Array[Int](BlockSize)
    var maxV = 0
    var i = 0
    while (i < BlockSize) {
      m(i) = tfs(i) - 1
      if (Integer.compareUnsigned(m(i), maxV) > 0) maxV = m(i)
      i += 1
    }
    val w = bitsFor(maxV)
    (w.toByte, pack(m, BlockSize, w))
  }

  def decodeTfBlock(bytes: Array[Byte], byteOff: Int, numBits: Int, out: Array[Int]): Unit = {
    unpack(bytes, byteOff, BlockSize, numBits, out)
    var i = 0
    while (i < BlockSize) { out(i) += 1; i += 1 }
  }

  @inline def packedSize(numBits: Int): Int = (BlockSize * numBits + 7) / 8

  // ---- VInt (the final partial block's docs and tfs; positions) ----
  // Reference layout (compression/vint.rs): little-endian 7-bit groups,
  // HIGH BIT SET terminates a value; sorted = plain deltas vs offset.
  // Writing goes through ByteBuf.writeVint, reading through the
  // unvint/skipVints loops below: nothing else in the code base touches
  // vint bytes.

  def vintSorted(values: Array[Int], n: Int, offset: Int): Array[Byte] = {
    val out = new ByteBuf(n * 2)
    var prev = offset
    var i = 0
    while (i < n) { out.writeVint(values(i) - prev); prev = values(i); i += 1 }
    out.toByteArray
  }

  def vintUnsorted(values: Array[Int], n: Int): Array[Byte] = {
    val out = new ByteBuf(n * 2)
    var i = 0
    while (i < n) { out.writeVint(values(i)); i += 1 }
    out.toByteArray
  }

  /** Offset just past the `n` vints that start at `off`. */
  def skipVints(bytes: Array[Byte], off: Int, n: Int): Int = {
    var pos = off
    var left = n
    while (left > 0) {
      if ((bytes(pos) & 0x80) != 0) left -= 1
      pos += 1
    }
    pos
  }

  /** Decode `n` sorted vint values; returns bytes consumed. */
  def unvintSorted(bytes: Array[Byte], byteOff: Int, n: Int, offset: Int,
                   out: Array[Int]): Int = {
    var pos = byteOff
    var acc = offset
    var i = 0
    while (i < n) {
      var shift = 0
      var done = false
      while (!done) {
        val b = bytes(pos); pos += 1
        acc += (b & 0x7f) << shift
        if ((b & 0x80) != 0) done = true else shift += 7
      }
      out(i) = acc
      i += 1
    }
    pos - byteOff
  }

  def unvintUnsorted(bytes: Array[Byte], byteOff: Int, n: Int, out: Array[Int]): Int = {
    var pos = byteOff
    var i = 0
    while (i < n) {
      var v = 0
      var shift = 0
      var done = false
      while (!done) {
        val b = bytes(pos); pos += 1
        v += (b & 0x7f) << shift
        if ((b & 0x80) != 0) done = true else shift += 7
      }
      out(i) = v
      i += 1
    }
    pos - byteOff
  }
}
