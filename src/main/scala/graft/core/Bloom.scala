package graft.core

/** Bloom filters (reference: crates/bloom/src/lib.rs — the U64 and
  * bytes variants backing the reference's crawler/webgraph seen-sets).
  * Re-derived with the reference's own quirks intact and pinned by
  * BloomSpec rather than silently "fixed":
  *
  *  - num_bits = ceil(n · ln(fp) / (−8·ln²2)) (lib.rs:41-43) — the /8
  *    divisor makes the filter 8× smaller than the textbook formula,
  *    so the real false-positive rate is far above `fp`;
  *  - U64BloomFilter probes a SINGLE slot: (item ·wrap· LARGE_PRIME)
  *    interpreted unsigned, mod num_bits (lib.rs:85-103);
  *  - estimate_card = (−m as i64) · (ln(1 − ones/m) as i64) — the ln
  *    is TRUNCATED to an integer before multiplying (lib.rs:108-123),
  *    so estimates snap to multiples of m (0 until the fill ratio
  *    passes 1−1/e); full filter → u64::MAX (returned here as -1L,
  *    Long carrying the u64 bit pattern);
  *  - union = bitwise OR of equal-length filters.
  *
  * The bytes variant keeps the reference's universal-hash construction
  * h_i = (a·i + b) mod LARGE_PRIME mod m over a 128-bit base hash
  * (lib.rs:151-177) with ONE documented divergence: the base hash is
  * two FNV-1a-64 passes instead of xxh3-128-with-custom-secret (no JVM
  * xxh3-with-secret; any 128-bit hash satisfies the construction —
  * cross-engine artifacts are not interchangeable for the bytes
  * variant, unlike the u64 one, which is bit-compatible).
  *
  * Distributed build: `U64BloomAgg` is a Spark Aggregator whose
  * reduce sets one bit and whose merge ORs word arrays — the classic
  * map-side-combine sketch build (one small Array[Long] per partition
  * reaches the driver, never the items). */
object Bloom {

  /** 0x9E3779B97F4A7C15 + 52 — the reference's LARGE_PRIME (lib.rs:36),
    * here as the same u64 bit pattern in a signed Long. */
  final val LargePrime: Long = java.lang.Long.parseUnsignedLong("11400714819323198549")

  def numBits(estimatedItems: Long, fp: Double): Long = {
    // ln2*ln2 (not pow) so the DuckDB oracle's ln(2)*ln(2) is the
    // bit-identical divisor
    val ln2 = math.log(2.0)
    math.ceil(estimatedItems.toDouble * math.log(fp) / (-8.0 * ln2 * ln2)).toLong
  }

  def numHashes(numBits: Long, estimatedItems: Long): Long =
    math.max(math.ceil(numBits.toDouble / estimatedItems.toDouble *
      math.log(2.0)).toLong, 1L)

  final class U64BloomFilter private[graft] (val words: Array[Long],
                                             val numBitsLen: Long) {
    def this(estimatedItems: Long, fp: Double) =
      this(new Array[Long](((Bloom.numBits(estimatedItems, fp) + 63) / 64).toInt),
        Bloom.numBits(estimatedItems, fp))

    private def slot(item: Long): Long =
      java.lang.Long.remainderUnsigned(item * LargePrime, numBitsLen)

    def insert(item: Long): Unit = {
      val s = slot(item)
      words((s >>> 6).toInt) |= (1L << (s & 63L))
    }

    def contains(item: Long): Boolean = {
      val s = slot(item)
      (words((s >>> 6).toInt) & (1L << (s & 63L))) != 0L
    }

    def countOnes: Long = words.map(java.lang.Long.bitCount(_).toLong).sum

    /** lib.rs:107-123 with the integer-truncated ln reproduced; a full
      * filter returns u64::MAX's bit pattern (-1L). */
    def estimateCard: Long = {
      val ones = countOnes
      if (ones == 0 || numBitsLen == 0) return 0L
      if (ones == numBitsLen) return -1L
      val lnTrunc = math.log(1.0 - ones.toDouble / numBitsLen.toDouble).toLong
      val est = -numBitsLen * lnTrunc
      if (est < 0) 0L else est
    }

    def union(other: U64BloomFilter): Unit = {
      require(numBitsLen == other.numBitsLen, "bloom union: length mismatch")
      var i = 0
      while (i < words.length) { words(i) |= other.words(i); i += 1 }
    }

    def fill(): Unit = {
      var b = 0L
      while (b < numBitsLen) { words((b >>> 6).toInt) |= (1L << (b & 63L)); b += 1L }
    }
  }

  object U64BloomFilter {
    def emptyFrom(other: U64BloomFilter): U64BloomFilter =
      new U64BloomFilter(new Array[Long](other.words.length), other.numBitsLen)
  }

  /** BytesBloomFilter analog (documented base-hash divergence above). */
  final class BytesBloomFilter(estimatedItems: Long, fp: Double) {
    val numBitsLen: Long = Bloom.numBits(estimatedItems, fp)
    val hashes: Long = Bloom.numHashes(numBitsLen, estimatedItems)
    private val words = new Array[Long](((numBitsLen + 63) / 64).toInt)

    private def baseHash(item: Array[Byte]): (Long, Long) = {
      val a = Fnv1a.bytes(item)
      var b = a ^ 0x9e3779b97f4a7c15L
      var i = 0
      while (i < item.length) { b ^= (item(i) & 0xff); b *= 0x100000001b3L; b = java.lang.Long.rotateLeft(b, 17); i += 1 }
      (a, b)
    }

    private def slots(item: Array[Byte]): Iterator[Long] = {
      val (a, b) = baseHash(item)
      (0L until hashes).iterator.map { i =>
        java.lang.Long.remainderUnsigned(
          java.lang.Long.remainderUnsigned(a * i + b, LargePrime), numBitsLen)
      }
    }

    def insert(item: Array[Byte]): Unit =
      slots(item).foreach(s => words((s >>> 6).toInt) |= (1L << (s & 63L)))

    def contains(item: Array[Byte]): Boolean =
      slots(item).forall(s => (words((s >>> 6).toInt) & (1L << (s & 63L))) != 0L)
  }

  /** Distributed U64 filter build: reduce sets one bit, merge ORs word
    * arrays; only one Array[Long] per partition crosses the wire. */
  final class U64BloomAgg(numBitsLen: Long)
      extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Array[Long]] {
    private def wordsLen = ((numBitsLen + 63) / 64).toInt
    override def zero: Array[Long] = new Array[Long](wordsLen)
    override def reduce(buf: Array[Long], item: Long): Array[Long] = {
      val s = java.lang.Long.remainderUnsigned(item * LargePrime, numBitsLen)
      buf((s >>> 6).toInt) |= (1L << (s & 63L))
      buf
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    override def finish(buf: Array[Long]): Array[Long] = buf
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.Encoders.javaSerialization[Array[Long]]
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.Encoders.javaSerialization[Array[Long]]
  }
}
