package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Kernel tests mirroring the reference's own embedded tests:
  * token vectors (default.rs:142-218), fieldnorm table law
  * (code.rs:277-328), BM25 golden constants (fieldnorm/mod.rs:100-155),
  * codec round-trips (compression/mod.rs:266-372). */
class TokenizerSpec extends AnyFunSuite {
  import Tokenizers.default

  test("default tokenization") {
    assert(default("this is a relatively simple123 test    string").toSeq ==
      Seq("this", "is", "a", "relatively", "simple123", "test", "string"))
  }

  test("special characters") {
    assert(default("example.com").toSeq == Seq("example", ".", "com"))
    assert(default("example. com").toSeq == Seq("example", ".", "com"))
    assert(default("example . com").toSeq == Seq("example", ".", "com"))
    assert(default("a c++ blog post").toSeq == Seq("a", "c", "+", "+", "blog", "post"))
    assert(default("path/test").toSeq == Seq("path", "/", "test"))
  }

  test("scripts") {
    assert(default("test 漢.com").toSeq == Seq("test", "漢", ".", "com"))
    assert(default("test あ.com").toSeq == Seq("test", "あ", ".", "com"))
    assert(default("test ダ.com").toSeq == Seq("test", "ダ", ".", "com"))
    assert(default("test б.com").toSeq == Seq("test", "б", ".", "com"))
    assert(default("test ب.com").toSeq == Seq("test", "ب", ".", "com"))
  }

  test("case + diacritics") {
    assert(default("Hello WORLD").toSeq == Seq("hello", "world"))
    assert(default("café").toSeq == Seq("cafe"))
  }

  test("ngrams") {
    assert(Tokenizers.bigrams("this is a").toSeq == Seq("thisis", "isa"))
    assert(Tokenizers.trigrams("this is a test").toSeq == Seq("thisisa", "isatest"))
  }

  test("never panics on arbitrary strings") {
    val rnd = new scala.util.Random(42)
    (0 until 2000).foreach { _ =>
      val s = rnd.nextString(rnd.nextInt(64))
      default(s) // must not throw
    }
  }

  private def viaSink(s: String): (Seq[String], Int) = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val n = Tokenizers.tokenizeInto(s, new Tokenizers.TokenSink {
      def asciiToken(text: String, start: Int, end: Int, pos: Int): Unit = {
        assert(pos == out.length, s"pos $pos != ${out.length} in '$s'")
        val a = new Array[Char](end - start)
        var i = 0
        while (i < a.length) { a(i) = (text.charAt(start + i) | 0x20).toChar; i += 1 }
        out += new String(a)
      }
      def token(t: String, pos: Int): Unit = {
        assert(pos == out.length, s"pos $pos != ${out.length} in '$s'")
        out += t
      }
    })
    (out.toSeq, n)
  }

  test("flattenJson: nested objects, arrays, null, escapes (json.rs:33-97)") {
    assert(Tokenizers.flattenJson("""{"k": 69}""") == Seq("""k="69""""))
    assert(Tokenizers.flattenJson("""{"a": {"b": "x", "c": 1}}""").sorted ==
      Seq("""a.b="x"""", """a.c="1""""))
    assert(Tokenizers.flattenJson("""{"a": [1, 2]}""").sorted ==
      Seq("""a="1"""", """a="2""""))
    assert(Tokenizers.flattenJson("""{"a": null}""") == Seq("a"))
    assert(Tokenizers.flattenJson("{\"a\": \"say \\\"hi\\\"\"}") ==
      Seq("a=\"say \\\"hi\\\"\""))
    assert(Tokenizers.flattenJson("""{"b": true}""") == Seq("""b="true""""))
    assert(Tokenizers.flattenJson("not json").isEmpty)
    assert(Tokenizers.flattenJson("").isEmpty)
  }

  test("tokenizeInto == default: order, values, count (property)") {
    val fixed = Seq(
      "this is a relatively simple123 test    string",
      "example.com", "a c++ blog post", "path/test", "test 漢.com",
      "Hello WORLD", "café", "", " ", "  a  ", "MiXeD CaSe 42x",
      "tab\tsep\nnewline", "ünïcode mix ascii", "日本語テキスト solo",
      "trailing.", ".leading", "1234567890", "_und_er_", "a-b-c")
    val rnd = new scala.util.Random(1234)
    val randoms = (0 until 3000).map { _ =>
      if (rnd.nextBoolean()) { // ascii-ish (the fast path)
        val chars = "abcXYZ019 .+/\t_-$#"
        String.valueOf(Array.fill(rnd.nextInt(48))(chars.charAt(rnd.nextInt(chars.length))))
      } else rnd.nextString(rnd.nextInt(48))
    }
    (fixed ++ randoms).foreach { s =>
      val (toks, n) = viaSink(s)
      val ref = default(s).toSeq
      assert(toks == ref, s"mismatch for ${s.take(60).toList}")
      assert(n == ref.length)
    }
  }
}

class FieldNormSpec extends AnyFunSuite {
  test("table spot values match the reference literal table") {
    // code.rs:13-270
    assert(FieldNorm.Table(0) == 0L)
    assert(FieldNorm.Table(40) == 40L)
    assert(FieldNorm.Table(41) == 42L)
    assert(FieldNorm.Table(48) == 56L)
    assert(FieldNorm.Table(49) == 60L)
    assert(FieldNorm.Table(88) == 1048L)
    assert(FieldNorm.Table(255) == 2013265944L)
  }

  test("decode/encode law (code.rs:277-293)") {
    (0 until 41).foreach(i => assert(FieldNorm.fieldNormToId(i.toLong) == i.toByte))
    assert(FieldNorm.fieldNormToId(41) == 40.toByte)
    assert(FieldNorm.fieldNormToId(42) == 41.toByte)
    (43 until 256).foreach { id =>
      val fn = FieldNorm.Table(id)
      assert(FieldNorm.fieldNormToId(fn) == id.toByte)
      assert(FieldNorm.fieldNormToId(fn - 1) == (id - 1).toByte)
      assert(FieldNorm.fieldNormToId(fn + 1) == id.toByte)
    }
    assert(FieldNorm.fieldNormToId(0xffffffffL) == 255.toByte)
  }
}

class Bm25Spec extends AnyFunSuite {
  test("idf") {
    assert(math.abs(Bm25.idf(1, 2) - math.log(2.0).toFloat) < 1e-6f)
  }

  test("golden constants (tantivy fieldnorm/mod.rs:100-155)") {
    // two docs: "hello" (1 token), "hello hello hello" (3 tokens);
    // record option Basic => tf = 1; df = 2, N = 2, avg fieldnorm = 2.0
    val w = Bm25Weight.forTerm(2, 2, 2.0f)
    val s1 = w.score(FieldNorm.fieldNormToId(1), 1)
    val s3 = w.score(FieldNorm.fieldNormToId(3), 1)
    assert(math.abs(s1 - 0.22920431f) < 0.001f, s"s1=$s1")
    assert(math.abs(s3 - 0.15136132f) < 0.001f, s"s3=$s3")
  }
}

class BlockCodecSpec extends AnyFunSuite {
  import BlockCodec._

  test("sorted block round-trip") {
    val vals = Array.tabulate(128)(i => i * 7)
    val (bits, bytes) = encodeSortedBlock(vals, -1)
    val out = new Array[Int](128)
    decodeSortedBlock(bytes, 0, -1, bits & 0xff, out)
    assert(out.toSeq == vals.toSeq)
  }

  test("sorted block with offset") {
    val vals = Array.tabulate(128)(i => 11 + i * 7)
    val (bits, bytes) = encodeSortedBlock(vals, 10)
    val out = new Array[Int](128)
    decodeSortedBlock(bytes, 0, 10, bits & 0xff, out)
    assert(out.toSeq == vals.toSeq)
  }

  test("consecutive ints pack to zero bits") {
    val vals = Array.tabulate(128)(i => 5 + i)
    val (bits, bytes) = encodeSortedBlock(vals, 4)
    assert(bits == 0 && bytes.isEmpty)
    val out = new Array[Int](128)
    decodeSortedBlock(bytes, 0, 4, 0, out)
    assert(out.toSeq == vals.toSeq)
  }

  test("tf block minus-one round-trip") {
    val vals = Array.tabulate(128)(i => 11 + (i * 7) % 12)
    val (bits, bytes) = encodeTfBlock(vals)
    val out = new Array[Int](128)
    decodeTfBlock(bytes, 0, bits & 0xff, out)
    assert(out.toSeq == vals.toSeq)
  }

  test("vint round-trips") {
    val rnd = new scala.util.Random(7)
    (0 until 50).foreach { _ =>
      val n = 1 + rnd.nextInt(127)
      var acc = rnd.nextInt(100)
      val sorted = Array.fill(n) { acc += 1 + rnd.nextInt(50); acc }
      val offset = rnd.nextInt(100)
      val shifted = sorted.map(_ + offset)
      val enc = vintSorted(shifted, n, offset)
      val out = new Array[Int](n)
      val used = unvintSorted(enc, 0, n, offset, out)
      assert(used == enc.length)
      assert(out.toSeq == shifted.toSeq)

      val uns = Array.fill(n)(rnd.nextInt(1 << 20))
      val enc2 = vintUnsorted(uns, n)
      val out2 = new Array[Int](n)
      val used2 = unvintUnsorted(enc2, 0, n, out2)
      assert(used2 == enc2.length)
      assert(out2.toSeq == uns.toSeq)
    }
  }

  test("wide values (32-bit) round-trip") {
    val rnd = new scala.util.Random(3)
    val vals = Array.fill(128)(rnd.nextInt(Int.MaxValue)).sorted.distinct
    if (vals.length == 128) {
      val (bits, bytes) = encodeSortedBlock(vals, -1)
      val out = new Array[Int](128)
      decodeSortedBlock(bytes, 0, -1, bits & 0xff, out)
      assert(out.toSeq == vals.toSeq)
    }
  }

  test("posting list codec: decode, cursor and position offsets give back the input (property)") {
    val rnd = new scala.util.Random(2101)
    val lengths = Seq(1, 127, 128, 129, 256, 257, 1000) ++ Seq.fill(40)(1 + rnd.nextInt(1000))
    lengths.foreach { n =>
      var last = -1
      val docs = Array.fill(n) { last += 1 + rnd.nextInt(if (rnd.nextBoolean()) 3 else 400); last }
      val tfs = Array.fill(n)(1 + rnd.nextInt(5))
      // ascending positions per doc, gaps from 1 byte to 3-byte vints
      val positions = tfs.map { tf =>
        var p = -1
        Array.fill(tf) { p += 1 + rnd.nextInt(1 << rnd.nextInt(18)); p }
      }
      val enc = new ByteBuf()
      positions.foreach { ps =>
        var prev = 0
        ps.foreach { p => enc.writeVint(p - prev); prev = p }
      }
      val posBytes = enc.toByteArray
      val fnorms = Array.fill(last + 1)(rnd.nextInt(256).toByte)
      val w = Bm25Weight.forTerm(n.toLong, (last + 1).toLong, 37.5f)
      val base = 1 + rnd.nextInt(1 << 20)
      val data = PostingListData.build("t", docs, tfs, w, fnorms, posBytes).copy(docIdBase = base)

      val (gotDocs, gotTfs) = data.decode()
      assert(gotDocs.toSeq == docs.map(_ + base).toSeq, s"n=$n docs")
      assert(gotTfs.toSeq == tfs.toSeq, s"n=$n tfs")

      val offs = PostingListData.positionOffsets(posBytes, tfs)
      assert(offs.length == n + 1 && offs.last == posBytes.length, s"n=$n offsets")
      assert(data.posBlockOffsets.length == (n + BlockSize - 1) / BlockSize)
      data.posBlockOffsets.indices.foreach { b =>
        assert(data.posBlockOffsets(b) == offs(BlockSize * b), s"n=$n block $b")
      }

      val shiftedFnorms = new Array[Byte](base + last + 1)
      System.arraycopy(fnorms, 0, shiftedFnorms, base, fnorms.length)
      val c = new PostingsCursor(data, shiftedFnorms, w)
      var i = 0
      while (c.doc != Int.MaxValue) {
        assert(c.doc == docs(i) + base && c.termFreq == tfs(i), s"n=$n doc $i")
        assert(c.positions.toSeq == positions(i).toSeq, s"n=$n positions of doc $i")
        c.advance()
        i += 1
      }
      assert(i == n)
    }
  }

  test("every vint lives in BlockCodec: no vint bit pattern elsewhere in src/main (source scan)") {
    // a hand-rolled vint loop masks 7-bit groups (0x7f) or tests the
    // terminator bit (& 0x80); comments are blanked
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"$root not found")
    def scalaFiles(d: java.io.File): Seq[java.io.File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    val vintBits = """0x7f(?![0-9a-fA-F])|&\s*0x80\b""".r
    val hits = scalaFiles(root).flatMap { f =>
      val src = comment.replaceAllIn(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "ISO-8859-1"),
        m => "\n" * m.matched.count(_ == '\n'))
      val name = root.toPath.relativize(f.toPath).toString
      vintBits.findAllMatchIn(src).map(m => (name, src.substring(0, m.start).count(_ == '\n') + 1))
    }
    assert(hits.exists(_._1 == "graft/core/BlockCodec.scala"), "the scan must see BlockCodec's own loops")
    val outside = hits.filter(_._1 != "graft/core/BlockCodec.scala")
    assert(outside.isEmpty, outside.map { case (f, l) => s"$f:$l" }.mkString("; "))
    // core/ depends on nothing above it, and FNV-1a has one home there
    val upward = scalaFiles(new java.io.File(root, "graft/core")).filter(f =>
      comment.replaceAllIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "ISO-8859-1"), "")
        .contains("graft.index")).map(_.getName)
    assert(upward.isEmpty, s"core/ files naming graft.index: $upward")
    val fnv = scalaFiles(root).filter(f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath), "ISO-8859-1").contains("0xcbf29ce484222325L"))
      .map(f => root.toPath.relativize(f.toPath).toString)
    assert(fnv == Seq("graft/core/Fnv1a.scala"), fnv)
  }

  test("FNV-1a: the string and byte forms agree on ASCII and match the published 64-bit vectors") {
    assert(Fnv1a("") == 0xcbf29ce484222325L)
    assert(Fnv1a("a") == 0xaf63dc4c8601ec8cL)
    assert(Fnv1a("foobar") == 0x85944171f73967e8L)
    Seq("", "a", "foobar", "site:apache/spark", "hb:42").foreach { s =>
      assert(Fnv1a.bytes(s.getBytes("US-ASCII")) == Fnv1a(s), s)
    }
  }
}
