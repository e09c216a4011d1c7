package graft.index

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.{BlockCodec, Bm25Weight, PostingListData}

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
  *    order: each term's sublists decode, shift by their base, remap and
  *    re-sort (positions ride with their doc), and re-encode blocks with
  *    the merged segment's stats — the reference recomputes block-max
  *    metadata the same way at merge time. Merged ids keep the
  *    index-wide docid-order invariant (inverted_index/mod.rs:195-204),
  *    so ShortCircuit/searchApprox truncation keeps its "top static-rank
  *    prefix" meaning on merged segments.
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
    new java.io.File(IndexBuilder.manifestDir(outDir)).mkdirs()

    // bases + merged stats from the stat table (driver-side, tiny);
    // segFilter drops expired segments (live-index TTL compaction)
    val stats = in.segStats.collect().filter(s => segFilter(s.segment))
      .sortBy(_.segment)
    if (stats.isEmpty) return
    // the merge commits through the SAME staged->adopt->manifest->marker
    // protocol as build()/appendBatch (the exactly-once invariant): a
    // crashed merge re-run re-stages wholesale, a committed one is a
    // no-op — bare Append into the data dir would duplicate every row
    // on retry
    // the tag folds the FULL filtered input set and its sha256 lineage,
    // not just the endpoint segment ids: two merges into the same
    // outDir that share endpoints but differ in membership or content
    // (a TTL filter dropping only middle segments; re-compacting the
    // same range after new data) must commit under DISTINCT markers —
    // an endpoint-only tag silently skipped them as already done
    val lineage = IndexBuilder.fnv1a64(
      stats.map(s => s"${s.segment}:${s.sha256Agg}").mkString(","))
    val tag = f"merge${stats.head.segment}-${stats.last.segment}-f$fanIn-$lineage%016x"
    if (IndexBuilder.batchCommitted(outDir, tag)) {
      // committed merge re-run: heal a grank table lost to a crash
      // between the commit marker and the refresh (idempotent)
      refreshGlobalRank(spark, outDir, cfg)
      return
    }
    val staged = s"${IndexBuilder.stagingDir(outDir)}/$tag"
    val newSegOf: Int => Int = old => old / fanIn
    val grouped = stats.groupBy(s => newSegOf(s.segment))
    val baseOf: Map[Int, Int] = grouped.values.flatMap { g =>
      var acc = 0
      g.sortBy(_.segment).map { s =>
        val b = s.segment -> acc
        acc += s.numDocs.toInt
        b
      }
    }.toMap
    // lineage carried into the merged stat rows: posting-entry counts
    // sum; sha256 aggregates XOR (associative over the doc union) —
    // legacy inputs with an empty sha propagate "" explicitly
    val mergedMeta: Map[Int, (Long, String)] = grouped.map { case (ns, g) =>
      val sha =
        if (g.exists(_.sha256Agg.isEmpty)) ""
        else g.map(_.sha256Agg).reduce { (a, b) =>
          a.grouped(2).zip(b.grouped(2)).map { case (x, y) =>
            f"${Integer.parseInt(x, 16) ^ Integer.parseInt(y, 16)}%02x"
          }.mkString
        }
      ns -> (g.map(_.numPostings).sum, sha)
    }
    val mergedStats: Map[Int, (Long, Long)] = grouped.map { case (ns, g) =>
      ns -> (g.map(_.numDocs).sum, g.map(_.numTokens).sum)
    }
    val bBase = spark.sparkContext.broadcast(baseOf)
    val bStats = spark.sparkContext.broadcast(mergedStats)
    val bMeta = spark.sparkContext.broadcast(mergedMeta)
    val maxShard = cfg.maxPostingsPerShard
    val fnChunk = cfg.fnormChunkSize

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
    val parts = math.max(spark.sparkContext.defaultParallelism,
      mergedStats.size)
    docRows.union(fnRows).union(postRows)
      .repartition(parts, col("segment"))
      .sortWithinPartitions(col("segment"), col("kindOrder"), col("term"),
        col("doc.sortKey").desc, col("doc.repo"), col("doc.path"),
        col("doc.commit"), col("oldSeg"), col("shard"))
      .mapPartitions { it =>
        new MergeEmitter(it, bBase.value, bStats.value, bMeta.value,
          maxShard, fnChunk)
      }
      .write.mode(SaveMode.Overwrite).partitionBy("kind")
      .parquet(staged) // Overwrite clears a crashed prior staging

    // adopt the staged files, then manifests, then the commit marker
    // LAST (the exactly-once order)
    IndexBuilder.adoptStaged(staged, outDir, tag)

    // merged manifests (lineage: XOR of input sha aggregates combines)
    grouped.toSeq.sortBy(_._1).foreach { case (ns, g) =>
      val (nPost, sha) = mergedMeta(ns)
      val row = SegStatRow(ns, g.map(_.numDocs).sum, g.map(_.numTokens).sum,
        0, nPost, sha, 0)
      val json =
        s"""{"segment":${row.segment},"numDocs":${row.numDocs},"numTokens":${row.numTokens},
           |"numPostings":${row.numPostings},"sha256Agg":"${row.sha256Agg}",
           |"mergedFrom":[${g.map(_.segment).mkString(",")}]}""".stripMargin
      java.nio.file.Files.writeString(java.nio.file.Paths.get(
        IndexBuilder.manifestDir(outDir), f"seg-${row.segment}%05d.json"), json)
    }
    IndexBuilder.commitBatch(outDir, tag, s""""mergedSegments":${stats.length}""")
    refreshGlobalRank(spark, outDir, cfg)
  }

  /** Post-merge refresh of the stored global-rank ordinal: a merge
    * renumbers docids, so any table computed before it fails
    * GlobalRank.load validation (correct, but rankSignals degrades to
    * its counting pass). Runs AFTER the commit marker — derived data;
    * a crash between marker and refresh just leaves the fallback, and
    * the committed-merge re-run path below heals it idempotently. */
  private def refreshGlobalRank(spark: SparkSession, outDir: String,
                                cfg: IndexBuilder.Config): Unit =
    if (cfg.storeGlobalRank) {
      val stats = IndexBuilder.readStats(spark, outDir).toSeq
      if (stats.nonEmpty && GlobalRank.load(spark, outDir, stats).isEmpty)
        GlobalRank.write(spark, outDir)
    }

  /** Streams one sorted partition of MergeRows; per merged segment:
    * doc rows first, then fieldnorm chunks, then terms in sorted order. */
  private final class MergeEmitter(it: Iterator[MergeRow],
                                   bases: Map[Int, Int],
                                   stats: Map[Int, (Long, Long)],
                                   meta: Map[Int, (Long, String)],
                                   maxShard: Int, fnChunk: Int)
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
      val (nDocs64, nTokens) = stats(seg)
      val nDocs = nDocs64.toInt
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
      docRows ++ indexRows(seg, nDocs, nTokens, remap, bgTok, tgTok)
    }

    /** The fnorm, posting and stat rows of merged segment `seg`, after
      * its doc rows filled `remap` and the shadow-field totals. */
    private def indexRows(seg: Int, nDocs: Int, nTokens: Long, remap: Array[Int],
                          bgTok: Long, tgTok: Long): Iterator[IndexBuilder.BuildRow] = {
      val avgFn = if (nDocs == 0) 1.0f else nTokens.toFloat / nDocs.toFloat

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
      val fnArr = fnArrs(Fields.Content)
      // the merged average must equal the mean of the permuted fnorm
      // bytes even when the segment holds empty/1-token docs
      val bigramAvg = if (nDocs > 0)
        math.max(bgTok, 1L).toFloat / nDocs.toFloat else 1.0f
      val trigramAvg = if (nDocs > 0)
        math.max(tgTok, 1L).toFloat / nDocs.toFloat else 1.0f

      val fnRows = fnArrs.iterator.flatMap { case (field, arr) =>
        (0 until arr.length by fnChunk).iterator.map { off =>
          val end = math.min(off + fnChunk, arr.length)
          IndexBuilder.BuildRow("fnorm", seg, None, None,
            Some(FnormRow(seg,
              (field << Fields.FnormFieldShift) | (off / fnChunk),
              end - off, java.util.Arrays.copyOfRange(arr, off, end))), None)
        }
      }

      var numTerms = 0L
      val postRows: Iterator[IndexBuilder.BuildRow] = new Iterator[IndexBuilder.BuildRow] {
        private var out: Iterator[IndexBuilder.BuildRow] = Iterator.empty
        def hasNext: Boolean = {
          while (!out.hasNext && buf.hasNext && buf.head.segment == seg) out = nextTerm()
          out.hasNext
        }
        def next(): IndexBuilder.BuildRow = { hasNext; out.next() }

        /** k-way merge of one term: sublists arrive ordered by
          * (oldSeg, shard); decode, shift, concatenate, re-encode. */
        private def nextTerm(): Iterator[IndexBuilder.BuildRow] = {
          val term = buf.head.term
          val docs = new java.util.ArrayList[Array[Int]]
          val tfs = new java.util.ArrayList[Array[Int]]
          val poss = new java.util.ArrayList[Array[Int]]
          var df = 0
          var nPos = 0
          var anyPos = false
          while (buf.hasNext && buf.head.segment == seg && buf.head.term == term) {
            val row = buf.next()
            val p = row.posting.get
            val base = bases(row.oldSeg)
            val (d, t, ps) = decodeAll(p, base)
            docs.add(d); tfs.add(t); poss.add(ps); df += d.length
            if (ps != null) { anyPos = true; nPos += ps.length }
          }
          // sublists must agree on positions: a mix means the input
          // segments were built with different recordPositions configs
          // (e.g. a live dir resumed under another cfg) and the
          // concatenation below would NPE or silently drop positions
          if (anyPos) {
            var ci = 0
            while (ci < poss.size) {
              if (poss.get(ci) == null)
                throw new IllegalStateException(
                  s"term '$term' in merged seg $seg mixes position-bearing " +
                    "and position-free sublists — input segments were built " +
                    "with different recordPositions configs; rebuild uniformly")
              ci += 1
            }
          }
          numTerms += 1
          var allD = new Array[Int](df)
          var allT = new Array[Int](df)
          var allP = if (anyPos) new Array[Int](nPos) else null
          var off = 0
          var pOff = 0
          var i = 0
          while (i < docs.size) {
            System.arraycopy(docs.get(i), 0, allD, off, docs.get(i).length)
            System.arraycopy(tfs.get(i), 0, allT, off, tfs.get(i).length)
            if (anyPos) {
              System.arraycopy(poss.get(i), 0, allP, pOff, poss.get(i).length)
              pOff += poss.get(i).length
            }
            off += docs.get(i).length
            i += 1
          }
          // global score re-sort (doc_id_mapping.rs:120-141): remap the
          // concatenated ids to score-ordered merged ids and re-sort
          // the list, positions riding with their doc (indirect sort on
          // (newId << 32 | srcIdx) keys — allocation-light, stable)
          locally {
            var q = 0
            while (q < df) { allD(q) = remap(allD(q)); q += 1 }
            var isSorted = true
            q = 1
            while (isSorted && q < df) {
              if (allD(q) < allD(q - 1)) isSorted = false
              q += 1
            }
            if (!isSorted) {
              val keys = new Array[Long](df)
              q = 0
              while (q < df) { keys(q) = (allD(q).toLong << 32) | q.toLong; q += 1 }
              java.util.Arrays.sort(keys)
              val d2 = new Array[Int](df)
              val t2 = new Array[Int](df)
              var p2: Array[Int] = null
              var tfCumP: Array[Int] = null
              if (anyPos) {
                tfCumP = new Array[Int](df + 1)
                var w = 0
                while (w < df) { tfCumP(w + 1) = tfCumP(w) + allT(w); w += 1 }
                p2 = new Array[Int](nPos)
              }
              var o = 0
              q = 0
              while (q < df) {
                val src = (keys(q) & 0xffffffffL).toInt
                d2(q) = (keys(q) >>> 32).toInt
                t2(q) = allT(src)
                if (anyPos) {
                  var s0 = tfCumP(src)
                  val s1 = tfCumP(src + 1)
                  while (s0 < s1) { p2(o) = allP(s0); o += 1; s0 += 1 }
                }
                q += 1
              }
              allD = d2
              allT = t2
              if (anyPos) allP = p2
            }
          }
          val field = Fields.fieldOf(term)
          val termAvg = if (field == Fields.Bigram) bigramAvg
                        else if (field == Fields.Trigram) trigramAvg
                        else avgFn
          val termFn = fnArrs.getOrElse(Fields.fnormFieldOf(field), fnArr)
          val w = Bm25Weight.forTerm(df.toLong, nDocs.toLong, termAvg)
          if (df <= maxShard) {
            val pl = PostingListData.build(term, allD, allT, w, termFn, allP)
            Iterator.single(IndexBuilder.BuildRow("posting", seg, None,
              Some(PostingRow.from(seg, 0, 0, pl)), None, None))
          } else {
            val tfCum = new Array[Int](df + 1)
            locally { var q = 0
              while (q < df) { tfCum(q + 1) = tfCum(q) + allT(q); q += 1 } }
            (0 until df by maxShard).iterator.zipWithIndex.map { case (o, sh) =>
              val end = math.min(o + maxShard, df)
              val pSlice = if (allP == null) null
                else java.util.Arrays.copyOfRange(allP, tfCum(o), tfCum(end))
              val pl = PostingListData.build(term,
                java.util.Arrays.copyOfRange(allD, o, end),
                java.util.Arrays.copyOfRange(allT, o, end), w, termFn, pSlice)
              IndexBuilder.BuildRow("posting", seg, None,
                Some(PostingRow.from(seg, sh, 0, pl)), None, None)
            }
          }
        }
      }

      val statRow: Iterator[IndexBuilder.BuildRow] = new Iterator[IndexBuilder.BuildRow] {
        private var done = false
        def hasNext: Boolean = !done
        def next(): IndexBuilder.BuildRow = {
          done = true
          // lineage rides into the merged stat row (posting counts sum,
          // sha aggregates XOR) so a second-generation merge and the
          // fidelity witness keep working
          val (nPost, sha) = meta.getOrElse(seg, (0L, ""))
          IndexBuilder.BuildRow("stat", seg, None, None, None,
            Some(SegStatRow(seg, nDocs.toLong, nTokens, numTerms, nPost, sha, 0L)))
        }
      }
      fnRows ++ postRows ++ statRow
    }

    /** Decode a whole posting row into (docs+base, tfs, positions|null).
      * COUPLED to the codec conventions in core/Postings.scala
      * (block framing, tail vint base, position gap-vint terminator):
      * a framing change there must be mirrored here, and
      * SegmentMergeSpec's merged==fresh-build property is the gate
      * that catches a drift. */
    private def decodeAll(p: PostingRow, base: Int)
        : (Array[Int], Array[Int], Array[Int]) = {
      val data = p.toData
      val n = data.docFreq
      val d = new Array[Int](n)
      val t = new Array[Int](n)
      val blockD = new Array[Int](BlockCodec.BlockSize)
      val blockT = new Array[Int](BlockCodec.BlockSize)
      var dOff = 0
      var tOff = 0
      var out = 0
      var b = 0
      while (b < data.numFullBlocks) {
        val prev = if (b == 0) -1 else data.lastDocs(b - 1)
        BlockCodec.decodeSortedBlock(data.packedDocs, dOff, prev,
          data.docBits(b) & 0xff, blockD)
        BlockCodec.decodeTfBlock(data.packedTfs, tOff, data.tfBits(b) & 0xff, blockT)
        var i = 0
        while (i < BlockCodec.BlockSize) {
          d(out) = blockD(i) + data.docIdBase + base
          t(out) = blockT(i)
          out += 1; i += 1
        }
        dOff += BlockCodec.packedSize(data.docBits(b) & 0xff)
        tOff += BlockCodec.packedSize(data.tfBits(b) & 0xff)
        b += 1
      }
      val tailN = data.tailCount
      if (tailN > 0) {
        val baseDoc = if (data.numFullBlocks == 0) 0 else data.lastDocs(data.numFullBlocks - 1)
        val used = BlockCodec.unvintSorted(data.tailBytes, 0, tailN, baseDoc, blockD)
        BlockCodec.unvintUnsorted(data.tailBytes, used, tailN, blockT)
        var i = 0
        while (i < tailN) {
          d(out) = blockD(i) + data.docIdBase + base
          t(out) = blockT(i)
          out += 1; i += 1
        }
      }
      // positions: sequential vint gap decode across all docs
      var ps: Array[Int] = null
      if (data.hasPositions) {
        var total = 0
        var q = 0
        while (q < n) { total += t(q); q += 1 }
        ps = new Array[Int](total)
        var off = 0
        var o = 0
        q = 0
        while (q < n) {
          var acc = 0
          var j = 0
          while (j < t(q)) {
            var v = 0
            var shift = 0
            var done = false
            while (!done) {
              val b2 = data.posBytes(off); off += 1
              v += (b2 & 0x7f) << shift
              if ((b2 & 0x80) != 0) done = true else shift += 7
            }
            acc += v
            ps(o) = acc
            o += 1; j += 1
          }
          q += 1
        }
      }
      (d, t, ps)
    }
  }
}
