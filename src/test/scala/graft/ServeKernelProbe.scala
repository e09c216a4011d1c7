package graft

import java.util.concurrent.FutureTask

import scala.jdk.CollectionConverters._

import graft.core._
import graft.index.{Corpus, Searcher}

/** No-Spark probe of the serving kernels: a fixed 16-segment posting set
  * built with PostingListData.build from `Corpus.mkDoc` docs, and a
  * fixed stream of 1-4 term `or` queries drawn Zipf(1.1) over the
  * vocabulary (the `serve` benchmark's shape). Reports, per query:
  *  - wand: BlockWand.run alone over prebuilt cursors, segment by segment;
  *  - seq: cursor build + WAND + TopK per segment on the calling thread;
  *  - fanout: the same per-segment tasks through Searcher.fanOut.
  * Every mode runs the same query slice in each rep, after the warm-up
  * reps, so JIT state and host noise hit the three alike.
  *
  *   sbt -batch "Test/runMain graft.ServeKernelProbe [docs] [warmReps] [reps]"
  */
object ServeKernelProbe {
  val Segments = 16
  val K = 20
  val Queries = 512
  val PerRep = 16

  final class Segment(val fnorms: Array[Byte], val lists: Map[String, PostingListData])

  def main(args: Array[String]): Unit = {
    val numDocs = args.lift(0).fold(6000)(_.toInt)
    val warmReps = args.lift(1).fold(300)(_.toInt)
    val reps = args.lift(2).fold(400)(_.toInt)
    val vocab = Corpus.Vocab.toSet

    // doc i goes to segment i % Segments as doc id i / Segments
    val docs = (0 until numDocs).map { i =>
      val tf = Tokenizers.termFreqs(Corpus.mkDoc(i.toLong, 42L, skew = false).content)
      (tf.values.asScala.map(_.toLong).sum, tf.asScala.filter(e => vocab(e._1)).toMap)
    }
    val avgFn = docs.map(_._1).sum.toFloat / numDocs
    val df = docs.flatMap(_._2.keys).groupBy(identity).map { case (t, ts) => t -> ts.size.toLong }
    val weights = df.map { case (t, n) => t -> Bm25Weight.forTerm(n, numDocs.toLong, avgFn) }
    val segments = Array.tabulate(Segments) { s =>
      val mine = docs.indices.filter(_ % Segments == s).map(docs)
      val fnorms = mine.map(d => FieldNorm.fieldNormToId(d._1)).toArray
      val lists = mine.zipWithIndex.flatMap { case ((_, tfs), id) => tfs.map { case (t, f) => (t, id, f) } }
        .groupBy(_._1).map { case (t, ps) =>
          val sorted = ps.sortBy(_._2)
          t -> PostingListData.build(t, sorted.map(_._2).toArray, sorted.map(_._3).toArray,
            weights(t), fnorms)
        }
      new Segment(fnorms, lists)
    }
    println(s"[sk] $numDocs docs in $Segments segments, ${df.size} terms, " +
      s"${segments.map(_.lists.values.map(_.docFreq.toLong).sum).sum} postings")

    val cum = Corpus.Vocab.indices.map(i => 1.0 / math.pow(i + 1.0, 1.1)).scanLeft(0.0)(_ + _).tail
    val rnd = new scala.util.Random(4201)
    def zipfTerm(): String = {
      val x = rnd.nextDouble() * cum.last
      Corpus.Vocab(math.min(cum.indexWhere(_ >= x), Corpus.Vocab.length - 1))
    }
    val queries = Array.fill(Queries)(Seq.fill(1 + rnd.nextInt(4))(zipfTerm()).distinct)

    def cursors(seg: Segment, terms: Seq[String]): Seq[TermCursor] =
      terms.flatMap(t => seg.lists.get(t).map(l => new PostingsCursor(l, seg.fnorms, weights(t))))
    def scoreSegment(s: Int, terms: Seq[String]): Array[(Int, Int, Float)] = {
      val topk = new TopK(K)
      BlockWand.run(cursors(segments(s), terms), Float.MinValue, (d, sc) => topk.push(d, sc))
      topk.sorted.map(h => (s, h.doc, h.score))
    }
    def cut(hits: Array[(Int, Int, Float)]): Array[(Int, Int, Float)] =
      hits.sortBy(h => (-h._3, h._1, h._2)).take(K)
    def tasks(terms: Seq[String]) = Array.tabulate(Segments)(s => new FutureTask(() => scoreSegment(s, terms)))

    var sink = 0L
    // nanoseconds spent by each mode over one rep's query slice
    def rep(r: Int): (Long, Long, Long) = {
      val slice = (0 until PerRep).map(j => queries((r * PerRep + j) % Queries))
      val prebuilt = slice.map(q => segments.map(cursors(_, q)))
      var t = System.nanoTime()
      prebuilt.foreach(_.foreach { cs =>
        val topk = new TopK(K)
        BlockWand.run(cs, Float.MinValue, (d, sc) => topk.push(d, sc))
        sink += topk.sorted.length
      })
      val wand = System.nanoTime() - t
      t = System.nanoTime()
      val seq = slice.map(q => cut(Array.tabulate(Segments)(scoreSegment(_, q)).flatten))
      val seqNs = System.nanoTime() - t
      t = System.nanoTime()
      val fan = slice.map(q => cut(Searcher.fanOut(tasks(q)).flatten))
      val fanNs = System.nanoTime() - t
      seq.zip(fan).foreach { case (a, b) =>
        require(a.toSeq == b.toSeq, "fan-out answer differs from the sequential one")
      }
      sink += seq.map(_.length).sum
      (wand, seqNs, fanNs)
    }
    (0 until warmReps).foreach(rep)
    val timed = (0 until reps).map(r => rep(warmReps + r))
    def usPerQuery(f: ((Long, Long, Long)) => Long): Double = timed.map(f).sum / 1e3 / (reps * PerRep)
    val ratios = timed.map(t => t._2.toDouble / t._3).sorted
    println(f"[sk] after $warmReps warm-up reps, $reps reps of $PerRep queries: " +
      f"wand ${usPerQuery(_._1)}%.1f us/query, seq ${usPerQuery(_._2)}%.1f us/query, " +
      f"fanout ${usPerQuery(_._3)}%.1f us/query (median seq/fanout ${ratios(ratios.length / 2)}%.2f, " +
      s"${Runtime.getRuntime.availableProcessors} cores, check=$sink)")
  }
}
