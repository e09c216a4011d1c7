package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.core._
import graft.index.{Fields, InvertedIndex, PostingRow}

/** Kernel probe of a traced run: decode and WAND over an index's own
  * posting rows for the stream's `or` queries, driven through the public
  * cursor API on the driver. Counts repeat exactly for a given seed. */
object Probe {
  val Queries = 200
  private val Terminated = Int.MaxValue

  /** Encoded bytes of a posting row without positions: packed blocks,
    * the vint tail and the per-block skip metadata. */
  def rowBytes(r: PostingRow): Long =
    r.packedDocs.length.toLong + r.packedTfs.length + r.tailBytes.length +
      r.docBits.length + r.tfBits.length + r.bwFnormIds.length + r.bwTfs.length +
      4L * r.lastDocs.length

  def run(ctx: Ctx, idx: InvertedIndex, qs: Seq[Query]): Unit = {
    val tr = ctx.tracer
    val orQs = qs.filter(q => q.mode == "or" && q.minus.isEmpty).take(Queries)
    val qTerms = orQs.map(q => idx.queryTerms(q.text).toSeq)
    val rows = tr.span("probe.postingRows", "probe")(idx.postingRows(qTerms.flatten.distinct))
    val fnorms = tr.span("probe.fnorms", "probe")(idx.residentFnormsLocal)
    val stats = idx.stats
    val weights = rows.map { case (t, rs) =>
      t -> Bm25Weight.forTerm(rs.map(_.docFreq.toLong).sum, stats.numDocs, stats.avgFieldNorm) }
    def cursor(r: PostingRow) = new PostingsCursor(r.toData,
      fnorms(r.segment)(Fields.fnormFieldOf(Fields.fieldOf(r.term))), weights(r.term))

    val all = rows.values.flatten.toSeq
    val postings = all.map(_.docFreq.toLong).sum
    ctx.put("BlockCodec.bits_per_posting",
      if (postings == 0) 0.0 else all.map(rowBytes).sum * 8.0 / postings, "bits")

    // decode: walk every posting of every row, reading each tf
    var sink = 0L
    def decodeAll(): Unit = all.foreach { r =>
      val c = cursor(r)
      while (c.doc != Terminated) { sink += c.termFreq; c.advance() }
    }
    decodeAll()
    var passes = 0
    val t0 = System.nanoTime()
    while (passes < 3 || System.nanoTime() - t0 < 300000000L) { decodeAll(); passes += 1 }
    val sec = (System.nanoTime() - t0) / 1e9
    ctx.put("BlockCodec.decode_mpostings_per_s",
      if (sec > 0) postings * passes / sec / 1e6 else 0.0, "Mpostings/s")

    // WAND per segment, as the serving tier runs it
    def cursors(terms: Seq[String]): Seq[Seq[TermCursor]] = {
      val segs = terms.flatMap(t => rows.getOrElse(t, Array.empty[PostingRow]).map(_.segment)).distinct.sorted
      segs.map { seg =>
        terms.flatMap { t =>
          val rs = rows.getOrElse(t, Array.empty[PostingRow]).filter(_.segment == seg).sortBy(_.shard)
          if (rs.isEmpty) None
          else Some(if (rs.length == 1) cursor(rs(0)) else new ChainedCursor(rs.map(cursor)))
        }
      }
    }
    var scored = 0L
    var union = 0L
    val runUs = ArrayBuffer[Double]()
    def wand(terms: Seq[String], count: Boolean): Double = {
      var ns = 0L
      cursors(terms).foreach { cs =>
        val topk = new TopK(Workloads.K)
        val t = System.nanoTime()
        BlockWand.run(cs, Float.MinValue, (d, s) => { if (count) scored += 1; topk.push(d, s) })
        ns += System.nanoTime() - t
      }
      ns / 1e3
    }
    qTerms.foreach { terms =>
      wand(terms, count = true)
      cursors(terms).foreach(cs => union += BlockWand.unionCount(cs))
    }
    qTerms.foreach(terms => runUs += wand(terms, count = false))
    ctx.put("BlockWand.scored_per_union", if (union == 0) 0.0 else scored.toDouble / union, "ratio")
    ctx.put("BlockWand.run_us_p50", Stats.median(runUs), "us")
    ctx.info(s"probe: ${all.size} posting rows, $postings postings, ${orQs.size} or-queries, " +
      s"scored $scored of union $union (sink $sink)")
  }
}
