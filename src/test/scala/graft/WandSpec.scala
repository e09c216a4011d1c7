package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** The WAND-vs-exhaustive oracle property test — the rank-identity gate.
  * Mirrors the reference's proptest (block_wand.rs:301-623): over random
  * posting lists and fieldnorms, the pruned block-max WAND traversal must
  * produce exactly the same top-k (docId, score-f32) as a naive
  * exhaustive union scan. */
class WandSpec extends AnyFunSuite {

  private case class Fixture(lists: Array[PostingListData],
                             fnorms: Array[Byte],
                             weights: Array[Bm25Weight])

  /** Random single-segment fixture. Doc ranges replicated to force
    * multi-block lists (the reference multiplies docs by 64). */
  private def mkFixture(rnd: scala.util.Random, nTerms: Int, maxDoc: Int): Fixture = {
    val tokenCounts = Array.fill(maxDoc)(2 + rnd.nextInt(999))
    val fnorms = tokenCounts.map(c => FieldNorm.fieldNormToId(c.toLong))
    val avgFn = tokenCounts.map(_.toLong).sum.toFloat / maxDoc.toFloat
    val lists = new Array[PostingListData](nTerms)
    val weights = new Array[Bm25Weight](nTerms)
    var t = 0
    while (t < nTerms) {
      val density = 0.05 + rnd.nextDouble() * 0.6
      val docs = (0 until maxDoc).filter(_ => rnd.nextDouble() < density).toArray
      val docs2 = if (docs.isEmpty) Array(rnd.nextInt(maxDoc)) else docs
      val tfs = docs2.map(_ => 1 + rnd.nextInt(100))
      val bw = Bm25Weight.forTerm(docs2.length.toLong, maxDoc.toLong, avgFn)
      lists(t) = PostingListData.build(s"t$t", docs2, tfs, bw, fnorms)
      weights(t) = bw // single segment: query weight == build weight
      t += 1
    }
    Fixture(lists, fnorms, weights)
  }

  private def cursors(f: Fixture): Seq[TermCursor] =
    f.lists.indices.map(i => new PostingsCursor(f.lists(i), f.fnorms, f.weights(i)))

  private def topkWand(f: Fixture, k: Int): Seq[(Int, Float)] = {
    val topk = new TopK(k)
    BlockWand.run(cursors(f), Float.MinValue, (d, s) => topk.push(d, s))
    topk.sorted.toSeq.map(h => (h.doc, h.score))
  }

  private def topkExhaustive(f: Fixture, k: Int): Seq[(Int, Float)] = {
    val topk = new TopK(k)
    BlockWand.exhaustiveUnion(cursors(f), (d, s) => topk.push(d, s))
    topk.sorted.toSeq.map(h => (h.doc, h.score))
  }

  test("WAND == exhaustive union over 300 random fixtures") {
    val rnd = new scala.util.Random(42)
    (0 until 300).foreach { i =>
      val nTerms = 1 + rnd.nextInt(4)
      val maxDoc = 200 + rnd.nextInt(2800)
      val f = mkFixture(rnd, nTerms, maxDoc)
      (Seq(1, 2, 3, 4, 20)).foreach { k =>
        val w = topkWand(f, k)
        val e = topkExhaustive(f, k)
        assert(w == e, s"case $i k=$k terms=$nTerms maxDoc=$maxDoc\nwand=$w\nexh =$e")
      }
    }
  }

  test("WAND == exhaustive union with 5-16 cursors: colliding docs, early ends, chained shards") {
    val rnd = new scala.util.Random(4243)
    var chained, early = 0
    (0 until 150).foreach { i =>
      val nTerms = 5 + rnd.nextInt(12)
      val maxDoc = 200 + rnd.nextInt(2800)
      val tokenCounts = Array.fill(maxDoc)(2 + rnd.nextInt(999))
      val fnorms = tokenCounts.map(c => FieldNorm.fieldNormToId(c.toLong))
      val avgFn = tokenCounts.map(_.toLong).sum.toFloat / maxDoc.toFloat
      // docs most lists share, so many cursors sit on one doc at a pivot
      val shared = (0 until maxDoc).filter(_ => rnd.nextDouble() < 0.08).toSet
      val terms = Array.tabulate(nTerms) { _ =>
        // a third of the lists end early and leave the buffer mid-run
        val end = if (rnd.nextInt(3) == 0) { early += 1; 1 + rnd.nextInt(maxDoc / 3) } else maxDoc
        val density = 0.01 + rnd.nextDouble() * 0.4
        val docs0 = (0 until end).filter(d =>
          (shared(d) && rnd.nextDouble() < 0.9) || rnd.nextDouble() < density).toArray
        val docs = if (docs0.isEmpty) Array(rnd.nextInt(end)) else docs0
        // few tf values: equal scores across docs and cursors
        val tfs = docs.map(_ => 1 + rnd.nextInt(if (rnd.nextBoolean()) 3 else 60))
        val w = Bm25Weight.forTerm(docs.length.toLong, maxDoc.toLong, avgFn)
        // a third of the lists are docId-range shards, chained
        val shardSize = if (rnd.nextInt(3) == 0) 40 + rnd.nextInt(300) else docs.length
        val shards = docs.indices.by(shardSize).map { off =>
          val e = math.min(off + shardSize, docs.length)
          PostingListData.build("t", docs.slice(off, e), tfs.slice(off, e), w, fnorms)
        }.toArray
        (shards, w)
      }
      def cs(): Seq[TermCursor] = terms.toSeq.map { case (shards, w) =>
        if (shards.length == 1) new PostingsCursor(shards(0), fnorms, w)
        else new ChainedCursor(shards.map(s => new PostingsCursor(s, fnorms, w)))
      }
      if (terms.exists(_._1.length > 1)) chained += 1
      Seq(1, 3, 10, 50).foreach { k =>
        val wand = new TopK(k)
        BlockWand.run(cs(), Float.MinValue, (d, s) => wand.push(d, s))
        val exh = new TopK(k)
        BlockWand.exhaustiveUnion(cs(), (d, s) => exh.push(d, s))
        val (w, e) = (wand.sorted.toSeq, exh.sorted.toSeq)
        assert(w.map(h => (h.doc, java.lang.Float.floatToRawIntBits(h.score))) ==
          e.map(h => (h.doc, java.lang.Float.floatToRawIntBits(h.score))),
          s"case $i k=$k terms=$nTerms maxDoc=$maxDoc\nwand=$w\nexh =$e")
      }
    }
    assert(chained > 50 && early > 300, s"chained=$chained early=$early")
  }

  test("bitset-horizon union == exhaustive union, bit-identically") {
    val rnd = new scala.util.Random(1717)
    (0 until 100).foreach { i =>
      val nTerms = 1 + rnd.nextInt(4)
      // maxDoc beyond the 4096 horizon to force multiple windows
      val maxDoc = 200 + rnd.nextInt(12000)
      val f = mkFixture(rnd, nTerms, maxDoc)
      val a = scala.collection.mutable.ArrayBuffer[(Int, Float)]()
      BlockWand.bitsetUnion(cursors(f), (d, s) => a += ((d, s)))
      val b = scala.collection.mutable.ArrayBuffer[(Int, Float)]()
      BlockWand.exhaustiveUnion(cursors(f), (d, s) => b += ((d, s)))
      assert(a == b, s"case $i terms=$nTerms maxDoc=$maxDoc")
    }
  }

  test("single-term fast path == exhaustive") {
    val rnd = new scala.util.Random(7)
    (0 until 50).foreach { _ =>
      val f = mkFixture(rnd, 1, 1000 + rnd.nextInt(2000))
      assert(topkWand(f, 10) == topkExhaustive(f, 10))
    }
  }

  test("chained (sharded) cursor == single cursor") {
    val rnd = new scala.util.Random(11)
    (0 until 60).foreach { _ =>
      val maxDoc = 2000
      val tokenCounts = Array.fill(maxDoc)(2 + rnd.nextInt(400))
      val fnorms = tokenCounts.map(c => FieldNorm.fieldNormToId(c.toLong))
      val avgFn = tokenCounts.map(_.toLong).sum.toFloat / maxDoc.toFloat
      val docs = (0 until maxDoc).filter(_ => rnd.nextDouble() < 0.5).toArray
      val tfs = docs.map(_ => 1 + rnd.nextInt(50))
      val w = Bm25Weight.forTerm(docs.length.toLong, maxDoc.toLong, avgFn)
      val whole = PostingListData.build("t", docs, tfs, w, fnorms)
      // shard at 300-entry boundaries (unaligned with the 128 block size)
      val shardSize = 300
      val shards = docs.indices.by(shardSize).map { off =>
        val end = math.min(off + shardSize, docs.length)
        PostingListData.build("t", docs.slice(off, end), tfs.slice(off, end), w, fnorms)
      }.toArray
      val k = 1 + rnd.nextInt(20)
      val t1 = new TopK(k)
      BlockWand.run(Seq(new PostingsCursor(whole, fnorms, w)), Float.MinValue,
        (d, s) => t1.push(d, s))
      val t2 = new TopK(k)
      BlockWand.run(Seq(new ChainedCursor(shards.map(s => new PostingsCursor(s, fnorms, w)))),
        Float.MinValue, (d, s) => t2.push(d, s))
      assert(t1.sorted.toSeq == t2.sorted.toSeq)
      // and in a multi-term mix
      val other = {
        val d2 = (0 until maxDoc).filter(_ => rnd.nextDouble() < 0.3).toArray
        val tf2 = d2.map(_ => 1 + rnd.nextInt(10))
        val w2 = Bm25Weight.forTerm(math.max(d2.length, 1).toLong, maxDoc.toLong, avgFn)
        PostingListData.build("u", if (d2.isEmpty) Array(1) else d2,
          if (d2.isEmpty) Array(1) else tf2, w2, fnorms) -> w2
      }
      val t3 = new TopK(k)
      BlockWand.run(Seq(new PostingsCursor(whole, fnorms, w),
        new PostingsCursor(other._1, fnorms, other._2)), Float.MinValue,
        (d, s) => t3.push(d, s))
      val t4 = new TopK(k)
      BlockWand.run(Seq(new ChainedCursor(shards.map(s => new PostingsCursor(s, fnorms, w))),
        new PostingsCursor(other._1, fnorms, other._2)), Float.MinValue,
        (d, s) => t4.push(d, s))
      assert(t3.sorted.toSeq == t4.sorted.toSeq)
    }
  }

  test("intersection == brute-force AND") {
    val rnd = new scala.util.Random(5)
    (0 until 60).foreach { _ =>
      val maxDoc = 1500
      val tokenCounts = Array.fill(maxDoc)(2 + rnd.nextInt(200))
      val fnorms = tokenCounts.map(c => FieldNorm.fieldNormToId(c.toLong))
      val avgFn = tokenCounts.map(_.toLong).sum.toFloat / maxDoc.toFloat
      val nTerms = 2 + rnd.nextInt(3)
      val sets = Array.fill(nTerms) {
        (0 until maxDoc).filter(_ => rnd.nextDouble() < 0.4).toArray
      }
      val tfs = sets.map(s => s.map(_ => 1 + rnd.nextInt(20)))
      val ws = sets.map(s => Bm25Weight.forTerm(math.max(s.length, 1).toLong, maxDoc.toLong, avgFn))
      val lists = sets.indices.map { i =>
        val d = if (sets(i).isEmpty) Array(0) else sets(i)
        val t = if (sets(i).isEmpty) Array(1) else tfs(i)
        PostingListData.build(s"t$i", d, t, ws(i), fnorms)
      }
      val cs = lists.indices.map(i => new PostingsCursor(lists(i), fnorms, ws(i)))
      val got = scala.collection.mutable.ArrayBuffer[(Int, Float)]()
      BlockWand.intersect(cs, (d, s) => got += ((d, s)))
      // brute force
      val docTf = sets.indices.map(i => sets(i).zip(tfs(i)).toMap)
      val common = docTf.map(_.keySet).reduce(_ intersect _).toSeq.sorted
      val want = common.map { d =>
        var s = 0.0f
        sets.indices.foreach(i => s += ws(i).score(fnorms(d), docTf(i)(d)))
        (d, s)
      }
      assert(got.toSeq == want, s"nTerms=$nTerms")
    }
  }
}
