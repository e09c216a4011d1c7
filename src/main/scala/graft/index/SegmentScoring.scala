package graft.index

import graft.core._

/** Per-segment scoring shared by every InvertedIndex caller on both of
  * its executors (distributed, and resident in a Searcher). Each
  * decision below lives here only, so
  * bit-identity with BlockWand.exhaustiveUnion has one place to hold:
  *  - how a term's posting rows in one segment become one scored cursor;
  *  - how one lowered query scores over one segment (mode dispatch,
  *    must-not exclusion, per-segment TopK);
  *  - how per-segment hits merge: one (score desc, segment asc, docId
  *    asc) total-order cut, the reference's DocAddress tie-break
  *    (top_collector.rs:59-65).
  * How a segment's rows meet its fieldnorms is InvertedIndex.perSegment;
  * how a query string lowers to index terms is InvertedIndex.lower.
  *
  * Cursor order is the f32 summation order, so it is part of
  * bit-identity: every caller passes its cursors in its own order (query
  * order, term-sorted, plan order, per field) and nothing here reorders
  * them. */
private[index] object SegmentScoring {

  /** A term's rows in one segment as one cursor: docId-range shards
    * chain in shard order; an unsharded term is a plain cursor. */
  def cursor(rows: Array[PostingRow], fnorms: Array[Byte], w: TermWeight): TermCursor = {
    val sorted = rows.sortBy(_.shard)
    if (sorted.length == 1) new PostingsCursor(sorted(0).toData, fnorms, w)
    else new ChainedCursor(sorted.map(r => new PostingsCursor(r.toData, fnorms, w)))
  }

  /** A BM25 cursor in the term's own field: an n-gram shadow term scores
    * with its field's average norm and fieldnorm bytes. */
  def bm25Cursor(term: String, rows: Array[PostingRow], fnArrs: Map[Int, Array[Byte]],
                 weight: Float, stats: CollectionStats): TermCursor = {
    val field = Fields.fieldOf(term)
    cursor(rows, fnArrs(Fields.fnormFieldOf(field)), new Bm25Weight(weight, stats.avgNorm(field)))
  }

  /** Per-term BM25 query weight idf·(1+k1). */
  def weights(dfs: Map[String, Long], numDocs: Long): Map[String, Float] =
    dfs.map { case (t, df) => t -> (Bm25.idf(df, numDocs) * (1.0f + Bm25.K1)) }

  /** Top-k of one lowered query over one segment, in TopK order. mode:
    * "or" (block-max WAND), "and" (leapfrog intersection), "phrase" /
    * "phrase~N" (exact / sloppy phrase), "dismax", "exhaustive" (oracle
    * union scan) or "bitset" (horizon-buffered union, bit-identical).
    * `byTerm` holds this segment's rows per term; `minus` terms exclude
    * every doc they match. */
  def scoreQuery(terms: Seq[String], k: Int, mode: String, minus: Seq[String],
                 byTerm: Map[String, Array[PostingRow]], fnArrs: Map[Int, Array[Byte]],
                 weights: Map[String, Float], stats: CollectionStats): Array[ScoredDoc] = {
    // one fresh cursor per call: a phrase repeating a term needs one
    // cursor per occurrence
    def cursorOf(t: String): Option[TermCursor] =
      byTerm.get(t).map(bm25Cursor(t, _, fnArrs, weights(t), stats))
    val cs = terms.flatMap(cursorOf)
    if (cs.isEmpty) return Array.empty
    val negs = minus.flatMap(cursorOf).toArray
    @inline def excluded(doc: Int): Boolean = {
      var i = 0
      while (i < negs.length) {
        if (negs(i).contains(doc)) return true
        i += 1
      }
      false
    }
    val topk = new TopK(k)
    mode match {
      case pm if pm.startsWith("phrase") =>
        // every occurrence needs its own cursor; a term absent from this
        // segment means no phrase match here.
        // "phrase~N" = sloppy phrase with slop budget N
        if (cs.length == terms.length) {
          var wsum = 0.0f
          terms.foreach(t => wsum += weights(t))
          val pw = new Bm25Weight(wsum, stats.avgFieldNorm)
          Phrase.run(cs, pw, fnArrs(Fields.Content),
            (d, _, s) => if (!excluded(d)) topk.push(d, s),
            slop = Phrase.slopOfMode(pm))
        }
      case "and" =>
        // a query term absent from this segment means NO doc here
        // contains all terms — intersecting only the present cursors
        // would return partial matches (the phrase branch has the same
        // guard)
        if (cs.length == terms.length)
          BlockWand.intersect(cs, (d, s) => if (!excluded(d)) topk.push(d, s))
      case "dismax" =>
        BlockWand.exhaustiveCombine(cs, 0.0f, (d, s) => if (!excluded(d)) topk.push(d, s))
      case "exhaustive" =>
        BlockWand.exhaustiveUnion(cs, (d, s) => if (!excluded(d)) topk.push(d, s))
      case "bitset" =>
        BlockWand.bitsetUnion(cs, (d, s) => if (!excluded(d)) topk.push(d, s))
      case _ =>
        if (negs.isEmpty)
          BlockWand.run(cs, Float.MinValue, (d, s) => topk.push(d, s))
        else
          BlockWand.run(cs, Float.MinValue,
            (d, s) => if (excluded(d)) topk.threshold else topk.push(d, s))
    }
    topk.sorted
  }

  /** The merge of per-segment (segment, docId, score) hits: total order
    * (score desc, segment asc, docId asc), cut to k. */
  def cut(hits: Array[(Int, Int, Float)], k: Int): Array[(Int, Int, Float)] =
    hits.sortBy(t => (-t._3, t._1, t._2))(
        Ordering.Tuple3(Ordering.Float.TotalOrdering, Ordering.Int, Ordering.Int))
      .take(k)
}
