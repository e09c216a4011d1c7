package graft.index

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.{Fnv1a, PostingListData}

/** Record-level segment merge: K input segments -> K/fanIn output
  * segments, the Spark re-derivation of the reference's TermMerger
  * k-way sort-merge (crates/tantivy/src/indexer/merger.rs:394-430).
  *
  * Plan shape: ONE shuffle and ONE write. Doc, fieldnorm and posting
  * rows shuffle together, keyed by merged segment, and sort within the
  * partition by (kindOrder, term, doc order, oldSeg, shard); doc rows
  * carry an empty term and the other rows no doc. A task streams each
  * merged segment in three phases:
  *  - doc rows (kindOrder -1) in precomputed-score order, (sortKey desc,
  *    repo, path, commit) — the exact order IndexBuilder assigns fresh
  *    ids in — with (oldSeg, docId) as the final tie-break, so docs
  *    sharing that key still get a fixed order. Each doc's merged id is
  *    its running ordinal (the reference's doc_id_mapping,
  *    indexer/doc_id_mapping.rs:120-141): the task fills the
  *    concatenated-id -> merged-id `remap` and sums the clamped
  *    bigram/trigram token totals as the rows stream out. No window
  *    partition and no second pass over the doc table.
  *  - fieldnorm chunks (kindOrder 0) by (field, oldSeg, chunk): per field
  *    they concatenate in concatenated-id order (base(oldSeg) + docId,
  *    bases from the tiny per-segment stats), then permute through
  *    `remap` into score order.
  *  - posting sublists (kindOrder 1) grouped by term, in old-segment
  *    order: each sublist decodes through the codec
  *    (PostingListData.decode) and remaps its ids (base(oldSeg) + docId
  *    through `remap`). Positions never decode: they move as bytes, the
  *    sublists' position bytes concatenating and the re-sort moving each
  *    doc's byte range with it. Merged ids keep the index-wide
  *    docid-order invariant (inverted_index/mod.rs:195-204), so
  *    ShortCircuit/searchApprox truncation keeps its "top static-rank
  *    prefix" meaning on merged segments.
  *  - IndexBuilder.SegmentRows, the build's own encoder, writes the
  *    fnorm, posting and stat rows with the merged segment's stats (the
  *    reference recomputes block-max metadata the same way at merge
  *    time), so merged rows equal a fresh build's.
  *
  * Jobs: two — the shuffle-map stage and the write; the input stat
  * rows come from its generation. The merge commits through
  * IndexBuilder.commit like a build batch. Its driver-side table of
  * merged segments (one SegStatRow each: summed docs, tokens and
  * posting counts, XOR-ed sha256) feeds the emitter. The stat rows the
  * write emits come back through IndexBuilder.Reporting, as a build's
  * do, and become the manifests and the generation's, so the commit
  * reads nothing back and starts no job. The merge reports no fnorm
  * rows or doc keys: it hands the open readers nothing, and their next
  * reopen collects.
  *
  * Task memory per merged segment is `remap` plus the fieldnorm arrays;
  * doc rows stream through. Skew: the shuffled unit is a *compressed
  * posting-list row*, never individual postings, so a hot term
  * contributes at most fanIn x shardsPerSegment rows to one group, and
  * re-sharding on output bounds row size again.
  */
object SegmentMerge {

  final case class MergeRow(segment: Int, kindOrder: Int, term: String,
                            oldSeg: Int, shard: Int,
                            doc: Option[DocRow],
                            posting: Option[PostingRow],
                            fnorm: Option[FnormRow])

  def merge(spark: SparkSession, inDir: String, outDir: String,
            fanIn: Int, cfg: IndexBuilder.Config = IndexBuilder.Config(),
            segFilter: Int => Boolean = _ => true): Unit = {
    import spark.implicits._
    val in = new InvertedIndex(spark, inDir)

    // bases + merged stats from the input's generation (driver-side,
    // tiny, no job); segFilter drops expired segments (live-index TTL
    // compaction)
    val stats = in.segStatRows.filter(s => segFilter(s.segment)).sortBy(_.segment)
    if (stats.isEmpty) return
    // the tag folds the FULL filtered input set and its sha256 lineage,
    // not just the endpoint segment ids: two merges into the same
    // outDir that share endpoints but differ in membership or content
    // (a TTL filter dropping only middle segments; re-compacting the
    // same range after new data) must commit under DISTINCT tags —
    // an endpoint-only tag silently skipped them as already done
    val lineage = Fnv1a(
      stats.map(s => s"${s.segment}:${s.sha256Agg}").mkString(","))
    val tag = f"merge${stats.head.segment}-${stats.last.segment}-f$fanIn-$lineage%016x"
    val newSegOf: Int => Int = old => old / fanIn
    val grouped = stats.groupBy(s => newSegOf(s.segment))
    // the merged segments' stats: docs, tokens and posting entries sum;
    // sha256 aggregates XOR (associative over the doc union) — legacy
    // inputs with an empty sha propagate "" explicitly. The emitter
    // counts the terms.
    val merged: Map[Int, SegStatRow] = grouped.map { case (ns, g) =>
      val sha =
        if (g.exists(_.sha256Agg.isEmpty)) ""
        else g.map(_.sha256Agg).reduce { (a, b) =>
          a.grouped(2).zip(b.grouped(2)).map { case (x, y) =>
            f"${Integer.parseInt(x, 16) ^ Integer.parseInt(y, 16)}%02x"
          }.mkString
        }
      ns -> SegStatRow(ns, g.map(_.numDocs).sum, g.map(_.numTokens).sum, 0,
        g.map(_.numPostings).sum, sha, 0)
    }
    // a crashed merge re-run re-stages wholesale, a committed one is a
    // no-op — bare Append into the data dir would duplicate every row
    // on retry
    IndexBuilder.commit(spark, outDir, tag,
        lineage = ns => s""""mergedFrom":[${grouped(ns).map(_.segment).mkString(",")}]""") { stage =>
      // a merged id the out dir already holds would become a second copy
      // of that segment (a re-run of this same merge never gets here: its
      // generation makes the commit a no-op, and a crashed run's adopted
      // rows are gone before the write)
      val held = Generation.latest(outDir).stats.map(_.segment)
        .filter(merged.contains).distinct.sorted.mkString(", ")
      require(held.isEmpty,
        s"merge into $outDir refused: it already holds segment(s) $held, which this merge would write")
      val baseOf: Map[Int, Int] = grouped.values.flatMap { g =>
        var acc = 0
        g.sortBy(_.segment).map { s =>
          val b = s.segment -> acc
          acc += s.numDocs.toInt
          b
        }
      }.toMap
      val bBase = spark.sparkContext.broadcast(baseOf)
      val bMerged = spark.sparkContext.broadcast(merged)
      // the stat rows the write emits are the manifests' rows: reading
      // them back off the staged table would be one more job
      val written = stage.written
      val taskCfg = cfg.copy(centrality = Map.empty)

      // one shuffle per merged segment: doc rows (kindOrder -1) sort first
      // in score order, ties by (oldSeg, docId) in the shard slot, then
      // fnorm rows by (field, oldSeg, chunk) via the term slot so per-field
      // arrays concatenate correctly, then posting rows by term
      val docRows = in.docs.filter(d => segFilter(d.segment)).map(d =>
        MergeRow(newSegOf(d.segment), -1, "", d.segment, d.docId, Some(d), None, None))
      val fnRows = in.fnorms.filter(f => segFilter(f.segment)).map(f =>
        MergeRow(newSegOf(f.segment), 0,
          f"${f.chunk >> Fields.FnormFieldShift}%03d", f.segment, f.chunk,
          None, None, Some(f)))
      val postRows = in.postings.filter(p => segFilter(p.segment)).map(p =>
        MergeRow(newSegOf(p.segment), 1, p.term, p.segment, p.shard, None, Some(p), None))
      val parts = math.max(spark.sparkContext.defaultParallelism, merged.size)
      docRows.union(fnRows).union(postRows)
        .repartition(parts, col("segment"))
        .sortWithinPartitions(col("segment"), col("kindOrder"), col("term"),
          col("doc.sortKey").desc, col("doc.repo"), col("doc.path"),
          col("doc.commit"), col("oldSeg"), col("shard"))
        .mapPartitions { it =>
          new IndexBuilder.Reporting(
            new MergeEmitter(it, bBase.value, bMerged.value, taskCfg), None, written)
        }
        .write.mode(SaveMode.Overwrite).partitionBy("kind")
        .parquet(stage.dir) // Overwrite clears a crashed prior staging
      stage.writtenStats
    }
    // derived data, refreshed after the commit: a committed re-run heals
    // a table lost to a crash between the two
    if (cfg.storeGlobalRank) GlobalRank.refresh(spark, outDir, merged.values.toSeq)
  }

  /** Streams one sorted partition of MergeRows; per merged segment:
    * doc rows first, then fieldnorm chunks, then terms in sorted order. */
  private final class MergeEmitter(it: Iterator[MergeRow],
                                   bases: Map[Int, Int],
                                   merged: Map[Int, SegStatRow],
                                   cfg: IndexBuilder.Config)
      extends Iterator[IndexBuilder.BuildRow] {
    private val buf = it.buffered
    private var pending: Iterator[IndexBuilder.BuildRow] = Iterator.empty

    def hasNext: Boolean = pending.hasNext || buf.hasNext

    def next(): IndexBuilder.BuildRow = {
      while (!pending.hasNext) {
        if (!buf.hasNext) throw new NoSuchElementException
        pending = emitSegment()
      }
      pending.next()
    }

    /** Consumes all rows of one merged segment (rows arrive contiguous
      * and sorted) and emits doc/fnorm/posting/stat rows lazily. */
    private def emitSegment(): Iterator[IndexBuilder.BuildRow] = {
      val seg = buf.head.segment
      val nDocs = merged(seg).numDocs.toInt
      val remap = new Array[Int](nDocs)
      // clamped per-doc shadow-field token sums (IndexBuilder's rule)
      var bgTok = 0L
      var tgTok = 0L

      // doc rows (kindOrder -1) arrive in merged-id order: a doc's
      // merged id is its ordinal, and remap takes its concatenated id
      // (base(oldSeg) + oldDocId) to it
      val docRows: Iterator[IndexBuilder.BuildRow] = new Iterator[IndexBuilder.BuildRow] {
        private var newId = 0
        def hasNext: Boolean =
          buf.hasNext && buf.head.segment == seg && buf.head.kindOrder == -1
        def next(): IndexBuilder.BuildRow = {
          val r = buf.next()
          val d = r.doc.get
          remap(bases(r.oldSeg) + r.shard) = newId
          bgTok += math.max(d.numTokens - 1, 0)
          tgTok += math.max(d.numTokens - 2, 0)
          val row = IndexBuilder.BuildRow("doc", seg,
            Some(d.copy(segment = seg, docId = newId)), None, None, None)
          newId += 1
          row
        }
      }
      // `++` takes its operand by name: the rest runs once the last doc
      // row has streamed out, with remap and the totals complete
      docRows ++ indexRows(seg, nDocs, remap, bgTok, tgTok)
    }

    /** The fnorm, posting and stat rows of merged segment `seg`, after
      * its doc rows filled `remap` and the shadow-field totals. */
    private def indexRows(seg: Int, nDocs: Int, remap: Array[Int],
                          bgTok: Long, tgTok: Long): Iterator[IndexBuilder.BuildRow] = {
      // fieldnorms: kindOrder 0 rows, sorted by (field, oldSeg, chunk);
      // bases are ascending with oldSeg so per-field concatenation
      // indexes by concatenated id — then each array permutes into
      // score order
      val fnStreams = new java.util.TreeMap[Int, java.io.ByteArrayOutputStream]()
      while (buf.hasNext && buf.head.segment == seg && buf.head.kindOrder == 0) {
        val f = buf.next().fnorm.get
        val field = f.chunk >> Fields.FnormFieldShift
        var s = fnStreams.get(field)
        if (s == null) { s = new java.io.ByteArrayOutputStream(nDocs); fnStreams.put(field, s) }
        s.write(f.fnorms, 0, f.numDocs)
      }
      val fnArrs: Map[Int, Array[Byte]] = {
        val b = Map.newBuilder[Int, Array[Byte]]
        fnStreams.forEach { (k, v) =>
          val a = v.toByteArray
          // a field array shorter than the doc count means SOME input
          // segments carried this shadow field and others did not —
          // the permute below would scatter bytes to wrong ids, so
          // mixed shadow-field configs are rejected loudly
          require(a.length == nDocs,
            s"fnorm field $k has ${a.length} bytes != $nDocs docs in merged " +
              s"seg $seg — input segments disagree on shadow-field configs; " +
              "rebuild with a uniform config before merging")
          val out = new Array[Byte](a.length)
          var g = 0
          while (g < a.length) { out(remap(g)) = a(g); g += 1 }
          b += (k.toInt -> out)
        }
        b.result()
      }
      val m = merged(seg)
      val rows = new IndexBuilder.SegmentRows(seg, nDocs, m.numTokens, fnArrs,
        bgTok, tgTok, cfg)
      val postRows = new Iterator[Iterator[IndexBuilder.BuildRow]] {
        def hasNext: Boolean = buf.hasNext && buf.head.segment == seg
        def next(): Iterator[IndexBuilder.BuildRow] = {
          val (term, docs, tfs, posBytes) = mergeTerm(seg, remap)
          rows.postings(term, docs, tfs, posBytes)
        }
      }.flatten
      // lineage rides into the merged stat row (posting counts sum, sha
      // aggregates XOR) so a second-generation merge and the fidelity
      // witness keep working; `++` takes its operand by name, so the
      // stat row is made once the posting rows have drained
      rows.fnormRows ++ postRows ++ Iterator.single(rows.statRow(m.numPostings, m.sha256Agg, 0L))
    }

    /** k-way merge of the next term's sublists, which arrive ordered by
      * (oldSeg, shard): each decodes and remaps its ids, the position
      * bytes concatenate, and the re-sort moves each doc's tf and
      * position bytes with it. Returns (term, docs, tfs, posBytes or
      * null). */
    private def mergeTerm(seg: Int, remap: Array[Int])
        : (String, Array[Int], Array[Int], Array[Byte]) = {
      val term = buf.head.term
      val subs = scala.collection.mutable.ArrayBuffer.empty[(Int, PostingListData)]
      while (buf.hasNext && buf.head.segment == seg && buf.head.term == term) {
        val r = buf.next()
        subs += (bases(r.oldSeg) -> r.posting.get.toData)
      }
      // sublists must agree on positions: a mix means the input
      // segments were built with different recordPositions configs
      // (e.g. a live dir resumed under another cfg), and concatenating
      // them would misalign or silently drop positions
      val withPos = subs.count(_._2.hasPositions)
      if (withPos != 0 && withPos != subs.length)
        throw new IllegalStateException(
          s"term '$term' in merged seg $seg mixes position-bearing " +
            "and position-free sublists — input segments were built " +
            "with different recordPositions configs; rebuild uniformly")
      val df = subs.iterator.map(_._2.docFreq).sum
      val docs = new Array[Int](df)
      val tfs = new Array[Int](df)
      var off = 0
      subs.foreach { case (base, data) =>
        val (d, t) = data.decode()
        var i = 0
        while (i < d.length) { docs(off + i) = remap(base + d(i)); i += 1 }
        System.arraycopy(t, 0, tfs, off, t.length)
        off += d.length
      }
      val posBytes =
        if (withPos == 0) null else Array.concat(subs.map(_._2.posBytes).toSeq: _*)
      var sorted = true
      var q = 1
      while (sorted && q < df) { sorted = docs(q - 1) < docs(q); q += 1 }
      if (sorted) return (term, docs, tfs, posBytes)
      // global score re-sort (doc_id_mapping.rs:120-141): an indirect
      // sort on (newId << 32 | srcIdx) keys, allocation-light and stable
      val keys = new Array[Long](df)
      q = 0
      while (q < df) { keys(q) = (docs(q).toLong << 32) | q; q += 1 }
      java.util.Arrays.sort(keys)
      val posOffs =
        if (posBytes == null) null else PostingListData.positionOffsets(posBytes, tfs)
      val d2 = new Array[Int](df)
      val t2 = new Array[Int](df)
      val p2 = if (posBytes == null) null else new Array[Byte](posBytes.length)
      var pOff = 0
      q = 0
      while (q < df) {
        val src = keys(q).toInt
        d2(q) = (keys(q) >>> 32).toInt
        t2(q) = tfs(src)
        if (p2 != null) {
          val len = posOffs(src + 1) - posOffs(src)
          System.arraycopy(posBytes, posOffs(src), p2, pOff, len)
          pOff += len
        }
        q += 1
      }
      (term, d2, t2, p2)
    }
  }
}
