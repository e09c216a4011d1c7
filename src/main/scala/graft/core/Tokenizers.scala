package graft.core

import java.text.Normalizer

/** Text tokenizers, re-derived (not ported) from the reference engine's
  * observable behavior.
  *
  * Semantics studied from /root/reference:
  *  - crates/core/src/tokenizer/fields/default.rs:59-80 (pipeline:
  *    segment -> script tokenize -> Lowercase -> NFKD -> strip diacritics)
  *  - crates/core/src/tokenizer/script_tokenizer.rs:27-42 (Latin splitter:
  *    whitespace split, then split-preserving every non-alphanumeric char
  *    as its own single-char token)
  *  - crates/core/src/tokenizer/segmenter.rs:73-108 (script segmentation;
  *    both scripts currently dispatch to the Latin splitter, so
  *    segmentation only splits a leading non-ASCII run from the rest)
  *  - crates/core/src/tokenizer/normalizer/unicode/diacritics.rs
  *    (diacritic ranges stripped after NFKD)
  *  - crates/core/src/tokenizer/fields/bigram.rs:39-47 (n-gram fields are
  *    concatenations of n consecutive default tokens, no separator)
  *
  * Token vectors from default.rs:142-218 are replicated in
  * TokenizerSpec. Everything here is pure Scala so it runs inside typed
  * Dataset stages (map/flatMap) and stays allocation-light; it is the
  * hottest function of the index build.
  */
object Tokenizers {

  @inline private def isDiacritic(cp: Int): Boolean =
    (cp >= 0x0300 && cp <= 0x036f) ||
      (cp >= 0x1ab0 && cp <= 0x1aff) ||
      (cp >= 0x1dc0 && cp <= 0x1dff) ||
      (cp >= 0x20d0 && cp <= 0x20ff) ||
      (cp >= 0xfe20 && cp <= 0xfe2f)

  /** Alphanumeric in the splitter's sense: Unicode alphabetic or numeric
    * (Nd, Nl, No) — the complement set each become single-char tokens. */
  @inline private def isTokenChar(cp: Int): Boolean = {
    if (Character.isAlphabetic(cp)) true
    else {
      val t = Character.getType(cp)
      t == Character.DECIMAL_DIGIT_NUMBER ||
      t == Character.LETTER_NUMBER ||
      t == Character.OTHER_NUMBER
    }
  }

  /** Normalize one raw token: lowercase, NFKD, strip combining
    * diacritics. Exposed within graft so offset-preserving re-scans
    * (snippet highlighting) can match tokens under the SAME transform
    * the index terms went through — bare toLowerCase misses every
    * accented match. */
  private[graft] def normalize(raw: String): String = {
    var s = raw
    // cheap ASCII fast path (dominant for a source-code corpus)
    var ascii = true
    var hasUpper = false
    var i = 0
    while (i < s.length && ascii) {
      val c = s.charAt(i)
      if (c >= 0x80) ascii = false
      else if (c >= 'A' && c <= 'Z') hasUpper = true
      i += 1
    }
    if (ascii) {
      if (!hasUpper) return s
      return s.toLowerCase(java.util.Locale.ROOT)
    }
    s = s.toLowerCase(java.util.Locale.ROOT)
    s = Normalizer.normalize(s, Normalizer.Form.NFKD)
    val sb = new java.lang.StringBuilder(s.length)
    var j = 0
    while (j < s.length) {
      val cp = s.codePointAt(j)
      if (!isDiacritic(cp)) sb.appendCodePoint(cp)
      j += Character.charCount(cp)
    }
    sb.toString
  }

  /** Latin-path split of one whitespace-free chunk: runs of alphanumeric
    * chars are tokens; every other char is its own single-char token. */
  private def splitChunk(chunk: String, out: java.util.ArrayList[String]): Unit = {
    var i = 0
    var runStart = -1
    while (i < chunk.length) {
      val cp = chunk.codePointAt(i)
      val n = Character.charCount(cp)
      if (isTokenChar(cp)) {
        if (runStart < 0) runStart = i
      } else {
        if (runStart >= 0) { out.add(chunk.substring(runStart, i)); runStart = -1 }
        out.add(chunk.substring(i, i + n))
      }
      i += n
    }
    if (runStart >= 0) out.add(chunk.substring(runStart))
  }

  /** The default tokenizer ("tokenizer" in the reference schema).
    * "example.com" -> [example, ., com]; "c++" -> [c, +, +];
    * "café" -> [cafe]. */
  def default(text: String): Array[String] = {
    if (text == null || text.isEmpty) return Array.empty
    val out = new java.util.ArrayList[String](16 + text.length / 6)
    // whitespace split (Unicode whitespace, empties skipped)
    var i = 0
    var start = -1
    while (i < text.length) {
      val cp = text.codePointAt(i)
      val n = Character.charCount(cp)
      if (Character.isWhitespace(cp) || Character.isSpaceChar(cp)) {
        if (start >= 0) {
          splitNormChunk(text.substring(start, i), out); start = -1
        }
      } else if (start < 0) start = i
      i += n
    }
    if (start >= 0) splitNormChunk(text.substring(start), out)
    out.toArray(new Array[String](out.size))
  }

  private def splitNormChunk(chunk: String, out: java.util.ArrayList[String]): Unit = {
    val tmp = new java.util.ArrayList[String](8)
    splitChunk(chunk, tmp)
    var k = 0
    while (k < tmp.size) {
      val t = normalize(tmp.get(k))
      if (t.nonEmpty) out.add(t)
      k += 1
    }
  }

  /** Receiver of streamed tokens from `tokenizeInto` — the
    * zero-allocation fast path of the index build. */
  trait TokenSink {
    /** An ASCII [0-9A-Za-z]+ run of `text`; the receiver must case-fold
      * each char with `(c | 0x20)` (maps A-Z to a-z, leaves a-z and
      * digits unchanged — the exact `normalize` result for this class). */
    def asciiToken(text: String, start: Int, end: Int, pos: Int): Unit
    /** A fully-normalized token string. */
    def token(s: String, pos: Int): Unit
  }

  // single-char ASCII tokens (punctuation etc.) are interned once
  private val AsciiSingles: Array[String] =
    Array.tabulate(128)(i => String.valueOf(i.toChar))

  // ASCII char classes: 1 = whitespace, 2 = token char, 3 = single-char token
  private val AsciiClass: Array[Byte] = Array.tabulate(128) { c =>
    if (Character.isWhitespace(c) || Character.isSpaceChar(c)) 1.toByte
    else if (isTokenChar(c)) 2.toByte
    else 3.toByte
  }

  /** Streaming variant of `default`: delivers each token to `sink`
    * without materializing Strings for ASCII content (the dominant case
    * for a source-code corpus — tokens arrive as (text, start, end)
    * slices to be |0x20-folded, single-char punctuation arrives
    * interned). Non-ASCII chunks fall back to the exact `default`
    * pipeline. Token ORDER, VALUES and COUNT are identical to
    * `default(text)` (property-tested in TokenizerSpec). Returns the
    * token count. */
  def tokenizeInto(text: String, sink: TokenSink): Int = {
    if (text == null || text.isEmpty) return 0
    var pos = 0
    val n = text.length
    var i = 0
    var start = -1
    var ascii = true
    while (i < n) {
      val ch = text.charAt(i)
      if (ch < 0x80) {
        if (AsciiClass(ch) == 1) {
          if (start >= 0) {
            pos = processChunk(text, start, i, ascii, sink, pos)
            start = -1; ascii = true
          }
        } else if (start < 0) start = i
        i += 1
      } else {
        val cp = text.codePointAt(i)
        val cc = Character.charCount(cp)
        if (Character.isWhitespace(cp) || Character.isSpaceChar(cp)) {
          if (start >= 0) {
            pos = processChunk(text, start, i, ascii, sink, pos)
            start = -1; ascii = true
          }
        } else {
          if (start < 0) start = i
          ascii = false
        }
        i += cc
      }
    }
    if (start >= 0) pos = processChunk(text, start, n, ascii, sink, pos)
    pos
  }

  private def processChunk(text: String, cs: Int, ce: Int, ascii: Boolean,
                           sink: TokenSink, pos0: Int): Int = {
    var pos = pos0
    if (ascii) {
      var i = cs
      var runStart = -1
      while (i < ce) {
        val c = text.charAt(i)
        if (AsciiClass(c) == 2) { if (runStart < 0) runStart = i }
        else {
          if (runStart >= 0) {
            sink.asciiToken(text, runStart, i, pos); pos += 1; runStart = -1
          }
          sink.token(AsciiSingles(c), pos); pos += 1
        }
        i += 1
      }
      if (runStart >= 0) { sink.asciiToken(text, runStart, ce, pos); pos += 1 }
    } else {
      val tmp = new java.util.ArrayList[String](8)
      splitChunk(text.substring(cs, ce), tmp)
      var k = 0
      while (k < tmp.size) {
        val t = normalize(tmp.get(k))
        if (t.nonEmpty) { sink.token(t, pos); pos += 1 }
        k += 1
      }
    }
    pos
  }

  /** N-gram shadow-field tokenizer: concatenation of n consecutive default
    * tokens ("this is a" -> [thisis, isa] for n=2). Empty stopword list,
    * matching the reference (bigram.rs:26-32). */
  def ngrams(text: String, n: Int): Array[String] = {
    val toks = default(text)
    if (toks.length < n) return Array.empty
    val out = new Array[String](toks.length - n + 1)
    var i = 0
    while (i + n <= toks.length) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < n) { sb.append(toks(i + j)); j += 1 }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  def bigrams(text: String): Array[String] = ngrams(text, 2)
  def trigrams(text: String): Array[String] = ngrams(text, 3)

  /** Identity tokenizer: the whole value as one token (exact-match fields). */
  def identity(text: String): Array[String] =
    if (text == null || text.isEmpty) Array.empty else Array(text)

  /** Newline tokenizer (key-phrase fields): split on newlines. */
  def newlines(text: String): Array[String] =
    if (text == null) Array.empty
    else text.split('\n').iterator.map(_.trim).filter(_.nonEmpty).toArray

  /** Whitespace word tokenizer. */
  def words(text: String): Array[String] =
    if (text == null) Array.empty
    else text.split("\\s+").iterator.filter(_.nonEmpty).toArray

  /** Flattened JSON leaf tokens (re-derivation of the reference's
    * FlattenedJson, tokenizer/fields/json.rs:33-97): every leaf becomes
    * `path.to.key="value"` (null leaves emit the bare key path; array
    * elements share their parent path; embedded quotes escape). Emitted
    * in document order (the reference's stack-pop order reverses
    * siblings — irrelevant for indexing, where tokens form a set). */
  def flattenJson(json: String): Seq[String] = {
    if (json == null || json.isEmpty) return Nil
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = try mapper.readTree(json) catch { case _: Exception => return Nil }
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def walk(node: com.fasterxml.jackson.databind.JsonNode, path: List[String]): Unit = {
      if (node.isObject) {
        val it = node.properties().iterator()
        while (it.hasNext) {
          val e = it.next()
          walk(e.getValue, e.getKey :: path)
        }
      } else if (node.isArray) {
        val it = node.elements()
        while (it.hasNext) walk(it.next(), path)
      } else {
        val key = path.reverse.mkString(".")
        if (node.isNull) out += key
        else {
          val v = node.asText().replace("\"", "\\\"")
          out += s"""$key="$v""""
        }
      }
    }
    walk(root, Nil)
    out.toSeq
  }

  /** Term-frequency map over the default tokenizer — the unit emitted per
    * document by the index build. Insertion-order independent. */
  def termFreqs(text: String): java.util.HashMap[String, Int] = {
    val toks = default(text)
    val m = new java.util.HashMap[String, Int](toks.length * 2)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      m.put(t, m.getOrDefault(t, 0) + 1)
      i += 1
    }
    m
  }
}
