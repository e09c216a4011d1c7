package graft.core

/** FNV-1a 64-bit, the project's one stable hash. Spark's Murmur3-based
  * `hash()` is stable only per Spark version; this gives the same value
  * on every JVM and Spark version, so segment assignment, sort keys,
  * bucket keys and sketch registers repeat across builds. */
object Fnv1a {
  private final val Offset = 0xcbf29ce484222325L
  private final val Prime = 0x100000001b3L

  /** Over a string's UTF-16 code units. */
  def apply(s: String): Long = {
    var h = Offset
    var i = 0
    while (i < s.length) { h ^= s.charAt(i) & 0xffffL; h *= Prime; i += 1 }
    h
  }

  /** Over bytes. */
  def bytes(b: Array[Byte]): Long = {
    var h = Offset
    var i = 0
    while (i < b.length) { h ^= b(i) & 0xffL; h *= Prime; i += 1 }
    h
  }
}
