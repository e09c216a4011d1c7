package graft.index

import java.lang.ref.SoftReference
import java.util.concurrent.{ConcurrentHashMap, FutureTask}

import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.SessionMemo
import graft.core._

/** Query-side view of an index directory.
  *
  * A query is served as ONE Spark job: a parquet scan of the posting
  * rows for the query terms only (term filter pushed to parquet row
  * groups) -> one shuffle keyed by segment, which also carries each scan
  * task's per-term docFreq partial sums to every reduce task -> per
  * reduce task, the partials summed into the collection df, then
  * per-segment block-max WAND top-k with weights from that df -> tiny
  * driver-side merge ordered by (score desc, segment asc, docId asc),
  * matching the reference's DocAddress tie-break
  * (top_collector.rs:59-65). By default the fieldnorms are resident: one
  * driver collect, broadcast to every task. An index whose fieldnorms
  * exceed the session conf `spark.graft.residentFnormBytes` (bytes,
  * 64 MB default, read when the instance is built) instead sends its
  * fnorm rows through the same shuffle, keyed by segment, which scales
  * to any corpus. `perSegment` holds that shuffle for every scoring
  * path; SegmentScoring holds the per-segment scoring and the merge.
  * `resolve` names the hits from doc keys resident beside the
  * fieldnorms, under the same cap: the first call collects them in one
  * job and a warm call starts none. Above the cap it is one more job, a
  * pushed-down doc-table scan.
  *
  * That shuffle is the DISTRIBUTED executor. A resident instance (see
  * Searcher) runs the same callers on the RESIDENT executor instead:
  * posting rows come from a driver-side term cache and each segment
  * scores on the serving pool, so a warm call starts no job. Both
  * executors hand the scorers the same rows, fieldnorms and df, so a
  * caller's answer does not depend on where it ran.
  *
  * Opening reads the dir's newest Generation once, on the driver, and
  * starts no job: the stat rows (`stats`) come from it, and each file
  * it lists is checked against the file system (a missing, truncated or
  * unlisted file fails the open, see Generation.verify). The instance
  * stays pinned to that generation: every table is read through
  * IndexBuilder.readKind over the generation's fixed file list, with the
  * schema its writer declared, so a reader lists no directory and
  * infers no schema, and a commit made after the open changes none of
  * its answers. When resident, the first calls collect the fieldnorms
  * and the doc keys in one job each, unless this session's segment
  * holder holds them under the same stat rows and file names
  * (InvertedIndex.SegmentHolder). A reopen of an unchanged dir so
  * starts no job, and so does one after a commit made in this JVM,
  * which forgets the ids it rewrites in every session's holder and adds
  * the segments it wrote. The residency gate is free unless numDocs x 3
  * fnorm fields exceeds the cap.
  *
  * Collection statistics (N, total tokens -> avg fieldnorm) are summed
  * on the driver from the per-segment stat rows; per-term df is summed
  * from the posting rows' docFreq, per the north rule. BM25 weights use
  * collection-level stats while per-block max
  * metadata was computed with segment-level stats — the same deliberate
  * approximation as the reference (term_scorer.rs:63-70, which documents
  * that the stored (fieldnorm, tf) argmax under the segment average "may
  * lead us to return a lesser document" when the averages diverge).
  * Top-k is exact whenever segment avg == collection avg (single
  * segment, or uniformly distributed corpora); otherwise it inherits the
  * reference's approximation.
  */
class InvertedIndex private (private val spark: SparkSession, private val dir: String,
                             private val queryLang: String, origin: Option[InvertedIndex],
                             rowCacheBytes: Long) extends Serializable {
  import spark.implicits._

  def this(spark: SparkSession, dir: String, queryLang: String = "en") =
    this(spark, dir, queryLang, None, 0L)

  /** A resident view of `origin`: it shares origin's readers, stat rows,
    * residency gate, driver-side fieldnorms and doc keys, and caches
    * posting rows up to `rowCacheBytes`. */
  private[index] def this(origin: InvertedIndex, rowCacheBytes: Long) =
    this(origin.spark, origin.dir, origin.queryLang, Some(origin), rowCacheBytes)

  // query-side stemmer for field expansion (the reference stems queries
  // in the detected query language; doc-side stemming dispatched per
  // doc at build time)
  private val queryStem: String => String = Stemmers.forLanguage(queryLang)

  /** The generation this instance reads, fixed when it opens (checked
    * against the files then) and shared with its resident views.
    * Consumers build a fresh InvertedIndex after an append. */
  @transient private[index] val generation: Generation =
    origin.fold(Generation.open(dir))(_.generation)

  // one DataFrame handle per row kind, made on first use over the
  // generation's files: a reader lists nothing and its declared schema
  // (IndexBuilder.readKind) starts no Spark job, but resolving its plan
  // still costs a few ms, and a single search touches the
  // posting/fnorm/doc tables several times
  @transient private lazy val dataFrames: ConcurrentHashMap[String, DataFrame] =
    origin.fold(new ConcurrentHashMap[String, DataFrame]())(_.dataFrames)

  private def data(kind: String): DataFrame =
    dataFrames.computeIfAbsent(kind, k => IndexBuilder.readKind(spark, dir, generation, k))

  def docs: Dataset[DocRow] = data("doc").select("doc.*").as[DocRow]
  def postings: Dataset[PostingRow] = data("posting").select("posting.*").as[PostingRow]
  def fnorms: Dataset[FnormRow] = data("fnorm").select("fnorm.*").as[FnormRow]
  def segStats: Dataset[SegStatRow] = data("stat").select("stat.*").as[SegStatRow]

  /** Build-time global static-rank ordinal table (Config.
    * storeGlobalRank), validated against the CURRENT segment stats —
    * a table left stale by a live-index append or a merge is ignored
    * and rankSignals falls back to its per-query counting pass. */
  @transient private lazy val grankTable: Option[Dataset[GrankRow]] =
    GlobalRank.load(spark, dir, segStatRows)

  /** The validated stored ordinal table, if this index has one. */
  def storedGlobalRanks: Option[Dataset[GrankRow]] = grankTable

  /** The per-segment stat rows of the generation, for `stats` and
    * `grankTable`. */
  private[index] def segStatRows: Seq[SegStatRow] = generation.stats

  lazy val stats: CollectionStats =
    CollectionStats(segStatRows.map(_.numDocs).sum, segStatRows.map(_.numTokens).sum, segStatRows.length)

  /** Tokenize + dedup (the reference's clause deduplication,
    * plan/node.rs:276-305) + 32-term cap (parser/mod.rs:17). */
  def queryTerms(query: String): Array[String] =
    Tokenizers.default(query).distinct.take(32)

  /** Fieldnorms resident on the driver + broadcast when the corpus is
    * small enough (1 byte/doc per fnorm field — 64 MB default cap,
    * session conf `spark.graft.residentFnormBytes`, read once here). The
    * reference keeps fieldnorm files memory-mapped per shard for
    * serving; this is the Spark analog. Above the cap, queries send the
    * fnorm rows through the per-segment shuffle instead (scales to any
    * corpus). The same cap bounds the fieldnorms and the resident doc
    * keys together (`residentDocKeys`). */
  private[index] val maxResidentFnormBytes: Long = InvertedIndex.residentCap(spark)

  /** The residency gate: whether the fieldnorms fit the cap, so queries
    * read them resident rather than shuffling the fnorm rows. The cap
    * bounds the driver's memory, so the gate compares the TRUE resident
    * bytes: one per doc PER FNORM FIELD (content + optional
    * bigram/trigram shadows). numDocs x the field count bounds them
    * from the stat rows already collected, so only an index whose bound
    * exceeds the cap pays a job to sum the chunk metadata. */
  private[graft] lazy val fnormsResident: Boolean = origin.fold {
    val bound = stats.numDocs * InvertedIndex.FnormFields
    def residentBytes = fnorms.select($"numDocs").as[Int].collect().map(_.toLong).sum
    bound <= maxResidentFnormBytes || residentBytes <= maxResidentFnormBytes
  }(_.fnormsResident)

  /** The distributed executor's fieldnorm broadcast, made on its first
    * query; the resident executor reads `residentFnormsLocal` and never
    * makes it. */
  @transient private lazy val residentFnorms
      : Option[Broadcast[Map[Int, Map[Int, Array[Byte]]]]] =
    if (fnormsResident) Some(spark.sparkContext.broadcast(residentFnormsLocal)) else None

  /** This dir's segment holder in this session: what an earlier instance
    * collected, or a commit handed over (see InvertedIndex.SegmentHolder). */
  @transient private lazy val held: InvertedIndex.SegmentHolder = InvertedIndex.holder(spark, dir)

  /** What a held collect of the `kind` table is valid for: the
    * generation's stat rows, id for id, and the names of the table's
    * files it lists. */
  private def heldKey(kind: String): InvertedIndex.HeldKey =
    (segStatRows.map(s => s.segment -> s).toMap, generation.filesOf(kind).map(_.name).toSet)

  /** All fieldnorm arrays, held locally once per instance and its
    * resident views: the broadcast above and the resident executor share
    * them. The arrays this session holds are reused (no job) when the
    * stat rows and the fnorm files are the same; otherwise they are
    * collected and replace the held ones. */
  @transient lazy val residentFnormsLocal: Map[Int, Map[Int, Array[Byte]]] =
    origin.fold {
      val key = heldKey("fnorm")
      held.fnorms.get(key).getOrElse {
        val fn = fnorms.collect().groupBy(_.segment).map { case (seg, chunks) =>
          seg -> InvertedIndex.assembleFnorms(chunks)
        }
        held.fnorms.publish(key, Some(fn))
        fn
      }
    }(_.residentFnormsLocal)

  /** The doc keys on the driver, once per instance and its resident
    * views, the way the reference reads a hit's keys from memory-mapped
    * column fields: per segment, repo, path, sortKey, commit and simhash
    * columns indexed by docId, filled by one projected doc-table collect
    * on the first `docsOf`, or reused with no job from this session's
    * holder when the stat rows and the doc files are the same. They are
    * resident only when the fieldnorms are, and only while both fit the
    * residency cap together. The cap holds during the collect too: each
    * scan task returns an overflow marker instead of rows once its rows
    * pass its share of the room the fieldnorms leave, and one marker
    * leaves the keys out (None: `docsOf` scans) and the holder without
    * keys. An index too large even at the smallest key size pays no job
    * to find that out, nor does one whose held keys exceed the room. */
  @transient private lazy val residentDocKeys: Option[Map[Int, InvertedIndex.DocKeyColumns]] =
    origin.fold {
      if (!fnormsResident) None
      else {
        val room = maxResidentFnormBytes - InvertedIndex.fnormBytes(residentFnormsLocal)
        val key = heldKey("doc")
        held.keys.get(key).fold {
          val cols = if (stats.numDocs * InvertedIndex.MinKeyBytes > room) None else {
            val scan = docKeys.rdd
            val share = room / math.max(1, scan.getNumPartitions)
            val parts = scan.mapPartitions(rows => Iterator.single(InvertedIndex.keysWithin(rows, share)))
              .collect()
            if (parts.contains(None)) None
            else Some(InvertedIndex.keyColumns(parts.flatMap(_.get), segStatRows, dir))
          }
          held.keys.publish(key, cols)
          cols
        }(cols => Some(cols).filter(InvertedIndex.columnBytes(_) <= room))
      }
    }(_.residentDocKeys)

  /** Bytes the resident doc keys hold (charged as `keyBytes` counts
    * them), 0 when they are not resident. Collects them if no lookup
    * has yet. */
  private[graft] def residentKeyBytes: Long = residentDocKeys.fold(0L)(InvertedIndex.columnBytes)

  /** The doc table's key projection. */
  private def docKeys: Dataset[DocKeyRow] =
    docs.select($"segment", $"docId", $"repo", $"path", $"sortKey", $"commit", $"simhash")
      .as[DocKeyRow]

  /** The resident executor's posting rows; None on a distributed
    * instance. */
  @transient private lazy val rowCache: Option[RowCache] =
    origin.map(o => new RowCache(o.postingRows, rowCacheBytes))

  /** Posting bytes the resident executor holds in its row cache. */
  private[graft] def cachedRowBytes: Long = rowCache.fold(0L)(_.heldBytes)

  /** The one place posting rows are grouped by segment and scored, and
    * the one place the df of the scanned terms is computed. `scorer` is
    * given the collection df (summed docFreq of the terms that have
    * rows) and returns the segment scorer, which runs once per segment
    * holding any of the terms, with the segment's rows and fieldnorms:
    * the work that depends only on the df is done once per call, not
    * per segment. Neither may create a broadcast: the distributed
    * executor ships them in its task closure, and the resident one runs
    * them on the driver.
    *
    * Resident executor: the rows come from the row cache (one
    * pushed-down scan for all misses, on the calling thread, so the job
    * keeps the caller's job group), and each segment scores as one task
    * on the serving pool (Searcher.fanOut) with the driver-side
    * fieldnorms.
    *
    * Distributed executor: one Spark job, the term-filtered posting scan
    * as one shuffle keyed by segment. Each scan task also sums its rows'
    * docFreq per term and sends those partial sums once to every reduce
    * partition, where they sort ahead of the segments; a reduce task
    * adds them up before it scores its first segment. Above the
    * residency cap the fnorm rows ride the same shuffle, keyed by
    * segment. */
  private def perSegment[T: ClassTag](terms: Seq[String])(
      scorer: Map[String, Long] => InvertedIndex.SegmentScorer[T]): Array[T] = rowCache match {
    case Some(cache) =>
      val rows = cache.rows(terms)
      val score = scorer(InvertedIndex.dfSums(rows))
      val fn = residentFnormsLocal
      Searcher.fanOut(rows.valuesIterator.flatten.toArray.groupBy(_.segment).iterator
        .map { case (seg, plist) => new FutureTask(() => score(seg, plist, fn(seg)).toArray) }
        .toArray).flatten
    case None =>
      val n = math.max(1, math.min(
        spark.conf.get("spark.sql.shuffle.partitions").toInt, stats.numSegments))
      val scan = postings.filter($"term".isin(terms: _*)).rdd.mapPartitions { rows =>
        val part = scala.collection.mutable.HashMap[String, Long]()
        rows.map { r =>
          part(r.term) = part.getOrElse(r.term, 0L) + r.docFreq
          (r.segment, r: Any)
        } ++ { // by-name: evaluated once the rows are drained
          val d = InvertedIndex.DfPartial(part.toMap)
          if (part.isEmpty) Iterator.empty else Iterator.tabulate(n)(p => (-1 - p, d))
        }
      }
      val resident = residentFnorms
      val input = if (resident.isDefined) scan
        else scan.union(fnorms.rdd.map(f => (f.segment, f: Any)))
      input.repartitionAndSortWithinPartitions(new InvertedIndex.SegmentPartitioner(n))
        .mapPartitions(in => InvertedIndex.scoreSegments(in.buffered, resident, scorer))
        .collect()
  }

  /** Posting rows for `terms` via one pushed-down scan, grouped by
    * term (serving tier fetch). */
  def postingRows(terms: Seq[String]): Map[String, Array[PostingRow]] = {
    if (terms.isEmpty) return Map.empty
    postings.filter($"term".isin(terms: _*)).collect().groupBy(_.term)
  }

  /** Per-term collection document frequency, for dfs needed outside
    * any scan (`perSegment` hands its scorer the df of the terms it
    * scans). A resident instance sums the rows its cache
    * already holds; every other term costs one pushed-down (term,
    * docFreq) projection, summed on the driver, whose rows stay out of
    * the cache. A term with no rows has no entry. */
  def dfOf(terms: Seq[String]): Map[String, Long] = {
    val held = rowCache.fold(Map.empty[String, Array[PostingRow]])(_.cached(terms))
    val rest = terms.filterNot(held.contains)
    InvertedIndex.dfSums(held) ++ (if (rest.isEmpty) Nil else
      postings.filter($"term".isin(rest: _*)).select($"term", $"docFreq").as[(String, Int)]
        .collect().groupMapReduce(_._1)(_._2.toLong)(_ + _))
  }

  /** One query, exact BM25 top-k. mode: "or" (WAND), "and" (leapfrog
    * intersection), "exhaustive" (oracle union scan, no pruning). */
  def search(query: String, k: Int, mode: String = "or",
             minusTerms: Seq[String] = Nil): Array[Hit] = {
    val hits = searchRaw(query, k, mode, minusTerms)
    resolve(hits, k)
  }

  /** (segment, docId, score) before doc-table resolution. */
  def searchRaw(query: String, k: Int, mode: String = "or",
                minusTerms: Seq[String] = Nil): Array[(Int, Int, Float)] = {
    searchBatchRaw(Seq(("q", query, k, mode, minusTerms))).getOrElse("q", Array.empty)
  }

  /** Batch query execution: one distributed pass for many queries —
    * queries x segments fan-out, per-segment top-k, driver merge. */
  def searchBatchRaw(queries: Seq[(String, String, Int, String, Seq[String])])
      : Map[String, Array[(Int, Int, Float)]] =
    searchBatchRawTerms(queries.map { case (qid, q, k, mode0, minus) =>
      val (terms, mode, minusTerms) = lower(q, mode0, minus)
      (qid, terms, k, mode, minusTerms)
    })

  /** Lower one query string to (index terms, base mode, minus terms).
    * "<mode>+" =
    * field-expanded: each term ORs with its stemmed form, adjacent
    * pairs add compound bigram terms (the reference's field expansion +
    * compound augmentation, plan/node.rs:104-127 + plan/mod.rs:235-300).
    * Phrase modes keep every token occurrence, in order. */
  private def lower(q: String, mode0: String, minus: Seq[String])
      : (Seq[String], String, Seq[String]) = {
    val expanded = mode0.endsWith("+")
    val mode = if (expanded) mode0.dropRight(1) else mode0
    val terms: Seq[String] =
      if (mode.startsWith("phrase")) Tokenizers.default(q).take(32).toSeq
      else if (expanded)
        Fields.expand(Tokenizers.default(q).take(16).toSeq,
          stemmed = true, bigrams = true, stem = queryStem)
      else queryTerms(q).toSeq
    (terms, mode, lowerMinus(minus))
  }

  /** Must-not entries as index terms. A minus entry containing a NUL is
    * already a field-prefixed INDEX term (e.g. a lowered site:/repo:
    * must-not from optics blocklists, a negated operator, safe:on's
    * quality marker) and passes through untokenized — the tokenizer
    * would destroy the prefix; user text can never contain NUL. */
  private[index] def lowerMinus(minus: Seq[String]): Seq[String] =
    minus.flatMap(m =>
      if (m.indexOf('\u0000') >= 0) Seq(m) else queryTerms(m).toSeq).distinct

  /** Pre-lowered batch execution: plans carry INDEX terms directly —
    * the entry for term-set queries (prefix/regex/fuzzy/set expansions
    * up to their own caps) where a string round-trip through
    * `queryTerms` would silently re-tokenize and re-cap at 32. */
  def searchBatchRawTerms(plans: Seq[(String, Seq[String], Int, String, Seq[String])])
      : Map[String, Array[(Int, Int, Float)]] = {
    val allTerms = plans.flatMap(p => p._2 ++ p._5).distinct
    if (allTerms.isEmpty || stats.numDocs == 0) return plans.map(p => p._1 -> Array.empty[(Int, Int, Float)]).toMap
    val st = stats
    // per segment, one (plan index, hits) per plan
    val byPlan = Array.fill(plans.length)(Array.newBuilder[(Int, Int, Float)])
    perSegment(allTerms) { dfs =>
      val weights = SegmentScoring.weights(dfs, st.numDocs)
      (seg, plist, fnArrs) =>
        val byTerm = plist.groupBy(_.term)
        plans.iterator.zipWithIndex.map { case ((_, terms, k, mode, minus), i) =>
          (i, SegmentScoring.scoreQuery(terms, k, mode, minus, byTerm, fnArrs, weights, st)
            .map(h => (seg, h.doc, h.score)))
        }
    }.foreach { case (i, hits) => byPlan(i) ++= hits }
    plans.iterator.zip(byPlan).map { case ((qid, _, k, _, _), hits) =>
      qid -> SegmentScoring.cut(hits.result(), k)
    }.toMap
  }

  /** The first `k` hits resolved against the doc keys (see `docsOf`). */
  def resolve(hits: Array[(Int, Int, Float)], k: Int): Array[Hit] = {
    val named = hits.take(k)
    if (named.isEmpty) return Array.empty
    val info = docsOf(named.map(h => (h._1, h._2)))
    named.zipWithIndex.map { case ((seg, d, sc), i) =>
      val key = info((seg, d))
      Hit(i + 1, seg, d, sc, key.repo, key.path)
    }
  }

  /** The doc keys of (segment, docId) pairs. The resident keys answer
    * with no job; without them, one doc-table scan with `segment IN` and
    * `docId IN` (≤ candidateBudget(k) values) pushed to parquet, so
    * row-group min/max stats skip non-hit doc ranges. A pair with no doc
    * row fails, naming it. */
  private[graft] def docsOf(keys: Iterable[(Int, Int)]): Map[(Int, Int), DocKeyRow] = {
    val wanted = keys.toSet
    val found = residentDocKeys match {
      case Some(cols) => wanted.iterator.flatMap { case k @ (s, d) =>
          cols.get(s).filter(c => d >= 0 && d < c.size).map(c => k -> c(s, d))
        }.toMap
      case None =>
        docKeys.filter($"segment".isin(wanted.map(_._1).toSeq: _*) &&
            $"docId".isin(wanted.map(_._2).toSeq: _*))
          .collect().iterator.map(r => (r.segment, r.docId) -> r).filter(e => wanted(e._1)).toMap
    }
    wanted.find(k => !found.contains(k)).foreach { case (s, d) =>
      throw new IllegalStateException(s"hit (segment $s, docId $d) has no doc row in $dir")
    }
    found
  }

  /** Token-level pattern match (the reference's PatternQuery,
    * crates/core/src/query/pattern_query/): each Raw run of the optic
    * pattern aligns like an exact phrase (Phrase.phraseStarts over the
    * positions index), `*` wildcards allow any token gap between
    * consecutive runs (ordered, non-overlapping, greedy-earliest —
    * equivalent for existence), a leading `|` anchors the first run to
    * position 0, and a trailing `|` anchors the last run to the doc's
    * END — the exact per-doc token count lives in the doc table
    * (DocRow.numTokens), cogrouped into the segment pass as a dense
    * array beside the postings (fieldnorms are NOT used here: matching
    * never scores, so the pass ships (docId, numTokens) pairs instead
    * of fieldnorm blobs).
    *
    * Returns matching (segment, docId) pairs in (segment, docId)
    * order. `candidates` restricts evaluation to those docs (the
    * optics pipeline resolves each distinct Content matching against
    * exactly the k·slack candidate page); `cap` bounds BOTH the rows
    * each segment ships and the final result — a silent truncation, so
    * a caller needing exhaustive matches (e.g. an oracle face) must
    * size `cap` above the possible match count. The walk is driven by
    * the leapfrog intersection of ALL pattern terms, so positions
    * decode only for docs containing every term. */
  def patternMatch(parts: List[Optics.Part],
                   candidates: Option[Set[(Int, Int)]] = None,
                   cap: Int = 10000): Array[(Int, Int)] = {
    // normalize BEFORE reading anchors: Raw runs tokenize (a
    // punctuation-only run contributes no tokens and must vanish as a
    // WILDCARD, not leave its neighbouring anchor pointing at the
    // wrong surviving run — "alpha * ,,|" constrains nothing at the
    // end once ",," tokenizes away)
    val norm: List[Optics.Part] = parts.map {
      case Optics.Raw(s) =>
        val toks = Tokenizers.default(s).take(32)
        if (toks.isEmpty) Optics.Wildcard
        else Optics.Raw(toks.mkString(" "))
      case p => p
    }
    // anchors bind only when a run touches the '|' directly —
    // "|* foo" is anchored-then-wildcard, i.e. free, and "foo *|"
    // likewise (any tail always exists)
    val anchored = norm match {
      case Optics.Anchor :: Optics.Raw(_) :: _ => true
      case _                                   => false
    }
    val endAnchored = norm.length >= 2 && norm.last == Optics.Anchor &&
      norm(norm.length - 2).isInstanceOf[Optics.Raw]
    val runs: List[Seq[String]] = norm.collect {
      case Optics.Raw(s) => s.split(' ').toSeq
    }
    if (runs.isEmpty || stats.numDocs == 0) return Array.empty
    val allTerms = runs.flatten.distinct
    val bCand = candidates.map(c => spark.sparkContext.broadcast(c))

    def segPass(seg: Int, plist: Array[PostingRow],
                docLens: Array[Int]): Iterator[(Int, Int)] = {
      val byTerm = plist.groupBy(_.term)
      val dummy = new Bm25Weight(1.0f, 1.0f)
      val fnA = new Array[Byte](docLens.length) // matching never scores
      def cursor(t: String): Option[TermCursor] =
        byTerm.get(t).map(SegmentScoring.cursor(_, fnA, dummy))
      // one cursor per token OCCURRENCE (a term may repeat across runs)
      val runCursors: List[Seq[TermCursor]] = runs.map(_.flatMap(t => cursor(t)))
      if (runCursors.zip(runs).exists { case (cs, r) => cs.length != r.length })
        return Iterator.empty // some pattern term absent from this segment
      val lastIdx = runCursors.length - 1
      val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      BlockWand.intersect(runCursors.flatten, (doc, _) => {
        if (bCand.forall(_.value.contains((seg, doc)))) {
          var minPos = 0
          var okDoc = true
          var idx = 0
          runCursors.foreach { cs =>
            if (okDoc) {
              val pos = new Array[Array[Int]](cs.length)
              var i = 0
              while (i < cs.length) { pos(i) = cs(i).positions; i += 1 }
              val starts = Phrase.phraseStarts(pos)
              if (endAnchored && idx == lastIdx) {
                // the LAST run must END exactly at the doc's token
                // count — and, for a single doubly-anchored run, still
                // START at 0
                val target = docLens(doc) - cs.length
                okDoc = target >= minPos &&
                  (!(idx == 0 && anchored) || target == 0) &&
                  java.util.Arrays.binarySearch(starts, target) >= 0
              } else {
                val at = starts.indexWhere(_ >= minPos)
                if (at < 0 || (idx == 0 && anchored && starts(at) != 0))
                  okDoc = false
                else minPos = starts(at) + cs.length
              }
              idx += 1
            }
          }
          // the per-segment cap bounds rows shipped to the driver (a
          // pattern of only stop-word-common terms could match half
          // the corpus); the global sort+take below then cuts again
          if (okDoc && out.length < cap) out += ((seg, doc))
        }
      })
      out.iterator
    }

    val post = postings.filter($"term".isin(allTerms: _*))
    val lens = docs.select($"segment", $"docId", $"numTokens")
      .as[(Int, Int, Int)]
    val matched = post.groupByKey(_.segment)
      .cogroup(lens.groupByKey(_._1)) { (seg, ps, ds) =>
        val plist = ps.toArray
        if (plist.isEmpty) Iterator.empty
        else {
          val rows = ds.toArray
          val arr = new Array[Int](rows.length) // docIds are dense 0..n-1
          rows.foreach(r => arr(r._2) = r._3)
          segPass(seg, plist, arr)
        }
      }.collect()
    matched.sortBy(identity).take(cap)
  }

  /** Simhashes of a small candidate set, keyed by (repo, path) —
    * broadcast hash join on the tiny key side.
    * Only the candidate rows — join keys + simhash — ever reach the
    * driver, regardless of how many files the candidates' repos hold. */
  def simhashOf(keys: Seq[(String, String)]): Map[(String, String), Long] = {
    if (keys.isEmpty) return Map.empty
    val keyDS = spark.createDataset(keys.distinct).toDF("repo", "path")
    docs.join(broadcast(keyDS), Seq("repo", "path"))
      .select($"repo", $"path", $"simhash")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  /** Distinct repos whose Site (repo) or Domain (org prefix) matches
    * any of the given anchored regexes — the recall-stage resolution of
    * an optic's WILDCARD blocklist patterns (Optics.blockedSitePatterns)
    * into concrete must-not site terms. One narrow distinct scan of the
    * doc table's repo column, capped. An optic is long-lived serving
    * config: resolve once per optic (or per index generation) and reuse
    * — per-query resolution re-scans the column for nothing. */
  def reposMatching(siteRegexes: Seq[String], domainRegexes: Seq[String],
                    cap: Int = 1024): Seq[String] = {
    if (siteRegexes.isEmpty && domainRegexes.isEmpty) return Nil
    // memoized per pattern set: an optic is long-lived serving config
    // and this InvertedIndex instance is a fixed index generation, so
    // the distinct-repo scan runs once per (optic, generation), not
    // per query (a refreshed/live index is a NEW instance)
    reposMatchingMemo.computeIfAbsent((siteRegexes.toList, domainRegexes.toList, cap), { _ =>
      val preds =
        siteRegexes.map(r => $"repo".rlike(r)) ++
          domainRegexes.map(r => substring_index($"repo", "/", 1).rlike(r))
      docs.select($"repo").distinct()
        .filter(preds.reduce(_ || _))
        .limit(cap)
        .collect().map(_.getString(0)).toSeq
    })
  }

  @transient private lazy val reposMatchingMemo =
    new ConcurrentHashMap[(List[String], List[String], Int), Seq[String]]()

  /** Minimal query grammar (the core of the reference's nom parser,
    * query/parser/mod.rs:33-120): whole-query "quoted phrase" (incl.
    * smart quotes), `-term` negation, plain terms -> OR. Returns
    * (query-without-minus, mode, minusTerms). */
  def parse(q: String): (String, String, Seq[String]) = {
    val (body, mode, minus, _) = parseOps(q)
    (body, mode, minus)
  }

  /** Lower one `op:value` token to metadata-field index terms
    * (reference operator lowering, plan/node.rs:128-172; web operators
    * mapped to the code corpus — site->repo, url->path, title->file
    * name). Requires an index built with Config.indexMeta. */
  private[index] def lowerOp(op: String, v: String): Option[Seq[String]] = op match {
    case "site" | "repo"          => Some(Seq(Fields.repoTerm(v)))
    case "lang"                   => Some(Seq(Fields.langTerm(v.toLowerCase)))
    case "exacturl" | "exactpath" =>
      val slash = v.indexOf('/')
      if (slash < 0) Some(Seq(Fields.ExactPrefix + v.toLowerCase))
      else Some(Seq(Fields.exactTerm(v.substring(0, slash), v.substring(slash + 1))))
    case "inurl" | "path"         => Some(Tokenizers.default(v).map(Fields.urlTerm).toSeq)
    case "intitle" | "file"       => Some(Tokenizers.default(v).map(Fields.titleTerm).toSeq)
    case "inbody"                 => Some(Tokenizers.default(v).toSeq)
    case "linksto" | "linkto"     =>
      // restrict to docs whose outgoing links hit the target (the
      // reference lowers these to its link fields, plan/node.rs:128-172;
      // code-corpus analog: repo dependency-edge targets, indexed under
      // Config.indexLinks)
      Some(Seq(Fields.linkTerm(v)))
    case "json" | "props"         =>
      // json:path=value (value optionally quoted) -> the flattened-leaf
      // identity term `path="value"`; bare json:path matches null leaves
      val eq = v.indexOf('=')
      if (eq < 0) Some(Seq(Fields.jsonTerm(v)))
      else {
        val key = v.substring(0, eq)
        val raw = v.substring(eq + 1).stripPrefix("\"").stripSuffix("\"")
        Some(Seq(Fields.jsonTerm(s"""$key="$raw"""")))
      }
    case _                        => None
  }

  /** Full parse: (body, mode, minusTerms, loweredOpTerms). */
  def parseOps(q: String): (String, String, Seq[String], Seq[String]) = {
    val trimmed = q.trim
    val quotes = Set('"', '“', '”')
    if (trimmed.length >= 2 && quotes.contains(trimmed.head) && quotes.contains(trimmed.last))
      return (trimmed.substring(1, trimmed.length - 1), "phrase", Nil, Nil)
    // "quoted phrase"~N -> sloppy phrase (reference PhraseQuery::set_slop;
    // Lucene-style ~N suffix). Slop caps at 255 — see Phrase.phraseFreqSlop.
    if (trimmed.length >= 4 && quotes.contains(trimmed.head)) {
      val lastQ = trimmed.lastIndexWhere(quotes.contains)
      if (lastQ > 0 && lastQ < trimmed.length - 1) {
        val tail = trimmed.substring(lastQ + 1)
        // ASCII-digit check + toLongOption: Char.isDigit also accepts
        // Unicode digits (fullwidth, Arabic-Indic) whose toLong throws,
        // and a 20+-digit run overflows — neither may crash the parse.
        // An overflowing digit run is certainly > 255, so it saturates
        // to the slop cap instead of falling through to the term path.
        if (tail.length >= 2 && tail.charAt(0) == '~' &&
            tail.drop(1).forall(c => c >= '0' && c <= '9'))
          return (trimmed.substring(1, lastQ),
            "phrase~" + math.min(tail.drop(1).toLongOption.getOrElse(255L), 255L),
            Nil, Nil)
      }
    }
    val parts = trimmed.split("\\s+").filter(_.nonEmpty)
    val neg = scala.collection.mutable.ArrayBuffer[String]()
    val ops = scala.collection.mutable.ArrayBuffer[String]()
    val plain = scala.collection.mutable.ArrayBuffer[String]()
    parts.foreach { p =>
      if (p.length > 1 && p.charAt(0) == '-') {
        // a negated OPERATOR ('-site:x', '-lang:rust', ...) lowers to
        // its metadata index terms (NUL-prefixed, so the batch planner
        // passes them through untokenized) — tokenizing it would
        // must-not every doc containing the op's words as plain text
        val body = p.substring(1)
        val colon = body.indexOf(':')
        val lowered =
          if (colon > 0 && colon < body.length - 1)
            lowerOp(body.substring(0, colon).toLowerCase, body.substring(colon + 1))
          else None
        lowered match {
          case Some(ts) => neg ++= ts
          case None     => neg += body
        }
      } else if (p.length > 5 && p.substring(0, 5).equalsIgnoreCase("safe:")) {
        // safe-search flag (reference query/mod.rs:110-118 ANDs
        // NOT(classification) onto the query): `safe:on` lowers to a
        // must-not over the build-time quality marker term; `safe:off`
        // (or any other value) is a no-op. Indexes built without
        // Config.indexQuality have no marker postings, so the must-not
        // is a df=0 no-op there rather than an error.
        if (p.substring(5).equalsIgnoreCase("on")) neg += Fields.QualityLowTerm
      } else {
        val colon = p.indexOf(':')
        val lowered =
          if (colon > 0 && colon < p.length - 1)
            lowerOp(p.substring(0, colon).toLowerCase, p.substring(colon + 1))
          else None
        lowered match {
          case Some(ts) => ops ++= ts
          case None => plain += p
        }
      }
    }
    (plain.mkString(" "), "or", neg.toSeq, ops.toSeq)
  }

  /** Parse + search in one call. Field operators lower to metadata-term
    * MUST clauses of a boolean tree (RequiredOptionalScorer: plain
    * terms stay optional but scoring). */
  def searchParsed(q: String, k: Int): Array[Hit] = {
    val (body, mode, minus, ops) = parseOps(q)
    if (ops.isEmpty) search(body, k, mode, minus)
    else {
      val tree = BooleanQuery.Bool(
        must = ops.map(BooleanQuery.Term.apply),
        should = queryTerms(body).toSeq.map(BooleanQuery.Term.apply),
        // a NUL-carrying minus (a negated operator, or safe:on's
        // quality must-not) passes through untokenized, as on the
        // searchBatchRaw minus path
        mustNot = lowerMinus(minus).map(BooleanQuery.Term.apply))
      resolve(searchBool(tree, k), k)
    }
  }

  /** Term-dictionary scan: all distinct terms matching a predicate
    * pushed down to the posting scan (the FST-automaton analog:
    * reference phrase_prefix/fuzzy/regex queries expand to term sets,
    * automaton_weight.rs). Capped like the reference's expansions.
    * Expansion is CONTENT-field only: shadow-field terms carry a
    * NUL-tagged field prefix (Fields) and are excluded, exactly as the
    * reference's automata run over one field's dictionary range. */
  def termsWhere(pred: org.apache.spark.sql.Column, cap: Int = 64): Seq[String] =
    postings.filter(pred && !$"term".contains("\u0000"))
      .select($"term").distinct()
      .orderBy($"term").limit(cap).collect().map(_.getString(0)).toSeq

  /** GetSiteUrls analog (reference generic_query/get_site_urls.rs: a
    * SiteNoTokenizer TermQuery + TopDocs with limit/offset): every doc
    * of a repo in index order — docids are assigned in descending
    * static-rank order, so this lists the repo's paths best-first.
    * Spark-first note: the reference needs an identity index term
    * because tantivy cannot scan its doc store by attribute; the doc
    * table here is columnar parquet, so the repo filter pushes straight
    * into the scan and no index field is needed. */
  def siteUrls(repo: String, limit: Int, offset: Int = 0): Seq[String] =
    docs.filter($"repo" === repo)
      .orderBy($"segment", $"docId")
      .select($"path")
      .limit(offset + limit)
      .collect().iterator.map(_.getString(0)).drop(offset).take(limit).toSeq

  /** GetHomepage analog (reference generic_query/get_homepage.rs: the
    * SiteIfHomepageNoTokenizer term matches only the site's homepage
    * doc, FirstDocCollector takes the first). The code-corpus analog of
    * "homepage" is the repo's shallowest path; ties resolve in index
    * (static-rank) order like the reference's first-doc semantics. */
  def homepage(repo: String): Option[DocRow] =
    docs.filter($"repo" === repo)
      .orderBy(length(regexp_replace($"path", "[^/]", "")), $"segment", $"docId")
      .limit(1)
      .collect().headOption

  /** Corpus-level top key phrases served from the stored key_phrases
    * term dictionary (reference generic_query/top_key_phrases.rs +
    * collector/top_key_phrases.rs:124-170): per segment the top-n
    * phrases by doc_freq after the reference's filters (non-alphabetic
    * char ratio <= 0.25 — spaces count, so one-letter-word phrases
    * drop; balanced parens — approximated as EQUAL COUNTS of '(' and
    * ')', which admits a wrongly-ordered ") x (" that a nesting scan
    * would reject (kept count-based deliberately: the q_engine_keyphrases
    * oracle replicates the same count filter, and RAKE phrases are
    * stop-word-delimited runs where reversed parens do not occur);
    * non-empty), then phrases merge across
    * segments by SUMMING their scores, sorted and truncated to n. Tie
    * order at both cuts is canonical (score desc, phrase asc); the
    * reference's heap leaves ties unspecified. Requires an index built
    * with Config.indexKeyPhrases.
    *
    * Scale: the prefix filter pushes to the sorted-term parquet row
    * groups; the per-segment window partitions by segment; only
    * n-per-segment rows reach the driver-side merge. */
  def topKeyPhrases(n: Int): Seq[(String, Double)] = {
    import org.apache.spark.sql.expressions.Window
    val perSeg = postings.toDF()
      .filter($"term".startsWith(Fields.KeyPhrasePrefix))
      .groupBy($"segment", $"term").agg(sum($"docFreq").as("df"))
      .withColumn("phrase", substring($"term", Fields.KeyPhrasePrefix.length + 1,
        Int.MaxValue))
      .filter(length(trim($"phrase")) > 0)
      .filter(length(regexp_replace($"phrase", "\\p{L}", "")) <=
        length($"phrase") * lit(0.25))
      .filter(length(regexp_replace($"phrase", "[^(]", "")) ===
        length(regexp_replace($"phrase", "[^)]", "")))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"segment").orderBy($"df".desc, $"phrase")))
      .filter($"rn" <= n)
    perSeg.groupBy($"phrase").agg(sum($"df").cast("double").as("score"))
      .orderBy($"score".desc, $"phrase").limit(n)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
  }

  /** Prefix query: OR-WAND over all terms starting with `prefix`
    * (reference PhrasePrefixQuery's term-expansion path). */
  def searchPrefix(prefix: String, k: Int, cap: Int = 64): Array[(Int, Int, Float)] = {
    val terms = termsWhere($"term".startsWith(prefix), cap)
    if (terms.isEmpty) return Array.empty
    searchTermSet(terms, k)
  }

  /** Set query (reference set_query.rs): OR over an explicit term set.
    * Terms enter the batch planner AS-IS — a string round-trip would
    * re-tokenize them (destroying field prefixes) and re-cap at the
    * parser's 32 while the expansion caps above go to 64. */
  def searchTermSet(terms: Seq[String], k: Int): Array[(Int, Int, Float)] =
    searchBatchRawTerms(Seq(("q", terms.distinct, k, "or", Nil)))("q")

  /** Regex query (reference's automaton-over-termdict path,
    * automaton_weight.rs — the automaton accepts WHOLE terms, so the
    * pattern is anchored; rlike alone is an unanchored substring
    * search). */
  def searchRegex(pattern: String, k: Int, cap: Int = 64): Array[(Int, Int, Float)] = {
    val terms = termsWhere($"term".rlike(s"^(?:$pattern)$$"), cap)
    if (terms.isEmpty) Array.empty else searchTermSet(terms, k)
  }

  /** Range filter over doc attributes (reference range_query over
    * columnfields = a plain filter on the columnar doc table). */
  def docsInRange(minTokens: Int, maxTokens: Int): Dataset[DocRow] =
    docs.filter($"numTokens".between(minTokens, maxTokens))

  /** Boosted multi-clause query (reference BoostQuery score algebra:
    * weight scales linearly, bounds scale with it, WAND unchanged). */
  def searchBoosted(clauses: Seq[(String, Float)], k: Int): Array[(Int, Int, Float)] = {
    val terms = clauses.map(_._1).distinct
    if (terms.isEmpty || stats.numDocs == 0) return Array.empty
    val boosts = clauses.toMap
    val sorted = terms.sorted
    val st = stats
    SegmentScoring.cut(perSegment(terms) { dfs =>
      val boosted = SegmentScoring.weights(dfs, st.numDocs).map { case (t, w) =>
        t -> w * boosts.getOrElse(t, 1.0f)
      }
      // term-sorted cursors; an n-gram shadow term in a boosted clause
      // scores with ITS field's average and fnorm bytes
      (seg, plist, fnArrs) => SegmentScoring.scoreQuery(sorted, k, "or", Nil,
        plist.groupBy(_.term), fnArrs, boosted, st).iterator.map(h => (seg, h.doc, h.score))
    }, k)
  }

  /** Signal-framework ranking: recall via expanded WAND, then score
    * candidates with the LINEAR MODEL Σ coeff(signal)·signal (reference
    * initial.rs:79-93; signal set + transforms in graft.core.Signals).
    * Query-dependent signals (per-field BM25, BM25F, idf sums,
    * coverage) compute in one distributed segment pass from raw
    * (fieldnormId, tf) cursor reads; query-independent ones
    * (centrality, rank transform, path shape) come from the doc table.
    * Returns hits with their full signal vectors (the reference's
    * ranking explainability surface).
    *
    * The CentralityRank transform runs on the GLOBAL static-rank
    * ordinal (count of docs preceding the candidate in the index-wide
    * (sortKey desc, repo, path, commit) order — the docid-assignment
    * order), so the rank is continuous across segments exactly like the
    * reference's; see rankSignalsOver for the counting pass. The oracle
    * (q_engine_signals) pins this semantics. */
  def rankSignals(query: String, k: Int,
                  coeffs: Map[String, Double] = Signals.DefaultCoefficients,
                  minusTerms: Seq[String] = Nil)
      : Array[(Hit, Map[String, Double])] = {
    val cands = searchRaw(query, InvertedIndex.candidateBudget(k), "or+", minusTerms)
    rankSignalsOver(query, cands, k, coeffs)
  }

  /** Signal-model rerank over an externally recalled candidate set —
    * e.g. the pipeline's phrase route, where phrase-mode WAND supplies
    * the candidates and the signal computer then scores them exactly
    * like a term query's (the reference's ranking pipeline reranks
    * whatever the recall stage emitted regardless of the recall query
    * shape, ranking/pipeline/stages/initial.rs:79-93). `query` drives
    * the query-dependent signals (per-field BM25/BM25F/idf sums over
    * the tokenized terms); `cands` gates which docs get vectors. */
  def rankSignalsOver(query: String, cands: Array[(Int, Int, Float)], k: Int,
                      coeffs: Map[String, Double] = Signals.DefaultCoefficients)
      : Array[(Hit, Map[String, Double])] = {
    val base = Tokenizers.default(query).distinct.take(16).toSeq
    // the empty-candidate check comes BEFORE the segment pass below —
    // no point launching a cluster job to rank nothing
    if (base.isEmpty || cands.isEmpty || stats.numDocs == 0) return Array.empty
    val st = stats
    val N = st.numDocs
    val stems = base.map(t => Fields.StemPrefix + queryStem(t))
    val bigrams = if (base.length >= 2)
      base.sliding(2).map(p => Fields.bigramTerm(p(0), p(1))).toSeq else Nil
    val urlTerms = base.map(Fields.urlTerm)
    val repoTerms = base.map(t => Fields.RepoPrefix + t)
    val allTerms = (base ++ stems ++ bigrams ++ urlTerms ++ repoTerms).distinct
    // the segment pass hands over the per-field dfs for the per-field
    // bm25/idf signals and, as the stripped texts ride the scan, their
    // content dfs for the BM25F shared idf
    val idfTexts = (base ++ stems.map(_.substring(Fields.StemPrefix.length)) ++
      bigrams.map(_.substring(Fields.BigramPrefix.length))).distinct

    val candBySeg = cands.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).sorted }
    val fCoeffs = Fields.DefaultBm25fCoeffs

    // (seg, doc, bm25f, bm25Content, coverage, bm25Bigrams, bm25Stemmed,
    //  idfSumUrl, idfSumRepo)
    def sigSeg(seg: Int, plist: Array[PostingRow], fnArrs: Map[Int, Array[Byte]],
               dfs: Map[String, Long])
        : Iterator[(Int, Int, Double, Double, Double, Double, Double, Double, Double)] = {
      val candDocs = candBySeg.getOrElse(seg, Array.empty)
      if (candDocs.isEmpty) return Iterator.empty
      val byTerm = plist.groupBy(_.term)
      def cursor(term: String, field: Int): Option[(TermCursor, Bm25Weight, Bm25FWeight, Float)] =
        byTerm.get(term).map { rows =>
          val av = st.avgNorm(field)
          val df = dfs.getOrElse(term, 0L)
          val idf = Bm25.idf(df, N)
          val bw = new Bm25Weight(idf * (1.0f + Bm25.K1), av)
          val text = if (field == Fields.Content) term
            else term.substring(2) // strip the 2-char field prefix
          val sharedIdf = Bm25.idf(dfs.getOrElse(text, 0L), N)
          val bf = new Bm25FWeight(sharedIdf, av, fCoeffs.getOrElse(field, 0.0f))
          (SegmentScoring.cursor(rows, fnArrs(Fields.fnormFieldOf(field)), bw), bw, bf, idf)
        }
      val contentCs = base.flatMap(cursor(_, Fields.Content))
      val stemCs = stems.flatMap(cursor(_, Fields.Stemmed))
      val bigramCs = bigrams.flatMap(cursor(_, Fields.Bigram))
      val urlCs = urlTerms.flatMap(cursor(_, Fields.Url))
      val repoCs = repoTerms.flatMap(cursor(_, Fields.Repo))
      candDocs.iterator.map { doc =>
        var bm25f = 0.0; var bm25c = 0.0; var matched = 0
        contentCs.foreach { case (c, bw, bf, _) =>
          if (c.contains(doc)) {
            val fn = c.fieldNormId; val tf = c.termFreq
            bm25c += bw.score(fn, tf).toDouble
            bm25f += bf.score(fn, tf).toDouble
            matched += 1
          }
        }
        var bm25st = 0.0
        stemCs.foreach { case (c, bw, bf, _) =>
          if (c.contains(doc)) {
            val fn = c.fieldNormId; val tf = c.termFreq
            bm25st += bw.score(fn, tf).toDouble
            bm25f += bf.score(fn, tf).toDouble
          }
        }
        var bm25bi = 0.0
        bigramCs.foreach { case (c, bw, bf, _) =>
          if (c.contains(doc)) {
            val fn = c.fieldNormId; val tf = c.termFreq
            bm25bi += bw.score(fn, tf).toDouble
            bm25f += bf.score(fn, tf).toDouble
          }
        }
        var idfUrl = 0.0
        urlCs.foreach { case (c, _, _, idf) => if (c.contains(doc)) idfUrl += idf.toDouble }
        var idfRepo = 0.0
        repoCs.foreach { case (c, _, _, idf) => if (c.contains(doc)) idfRepo += idf.toDouble }
        (seg, doc, bm25f, bm25c, matched.toDouble / base.length, bm25bi,
          bm25st, idfUrl, idfRepo)
      }
    }

    val perCand = perSegment((allTerms ++ idfTexts).distinct)(dfs => sigSeg(_, _, _, dfs))

    // query-independent signals from the candidates' doc keys
    val candKeys = perCand.map(r => (r._1, r._2)).distinct.toSeq
    val meta = docsOf(candKeys)

    // GLOBAL static rank (the reference ranks its centrality ordinal
    // across the whole index, not per segment): rank(cand) = number of
    // docs strictly preceding it in the global (sortKey desc, repo,
    // path, commit) order — the exact order docids are assigned in, so
    // it is exact for ANY segmentation and continuous across segments.
    // One narrow 4-column doc-table pass against the broadcast
    // candidate keys (O(N·k) codegen'd compares, no global sort task,
    // no shuffle beyond the tiny count agg); a latency-critical serving
    // deployment would materialize the ordinal at build instead and pay
    // the extra terasort there.
    val granks: Map[(Int, Int), Long] = grankTable match {
      case Some(g) =>
        // build-time-materialized ordinal (Config.storeGlobalRank):
        // keyed broadcast lookup on exactly the candidate keys
        g.join(broadcast(candKeys.toDF("segment", "docId")), Seq("segment", "docId"))
          .select($"segment", $"docId", $"grank")
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      case None =>
        val candKeyDF = meta.valuesIterator.map(r =>
          (r.segment, r.docId, r.sortKey, r.repo, r.path, r.commit)
        ).toSeq.toDF("cseg", "cdoc", "csk", "crepo", "cpath", "ccommit")
        docs.join(broadcast(candKeyDF),
            $"sortKey" > $"csk" ||
              ($"sortKey" === $"csk" &&
                struct($"repo", $"path", $"commit") <
                  struct($"crepo", $"cpath", $"ccommit")))
          .groupBy($"cseg", $"cdoc").count()
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    }

    val scored = perCand.map { r =>
      val DocKeyRow(_, _, repo, path, sortKey, _, _) = meta((r._1, r._2))
      val slashes = path.count(_ == '/').toDouble
      val digits = path.count(_.isDigit).toDouble
      val values = Map(
        Signals.Bm25F -> r._3, Signals.Bm25Content -> r._4,
        Signals.ContentCoverage -> r._5, Signals.Bm25Bigrams -> r._6,
        Signals.Bm25Stemmed -> r._7, Signals.IdfSumUrl -> r._8,
        Signals.IdfSumRepo -> r._9,
        Signals.Centrality -> Signals.centralityOf(sortKey),
        Signals.CentralityRank ->
          Signals.scoreRank(granks.getOrElse((r._1, r._2), 0L).toDouble),
        Signals.UrlSlashes -> Signals.scoreCount(slashes),
        Signals.UrlDigits -> Signals.scoreCount(digits))
      (r._1, r._2, repo, path, values, Signals.linear(values, coeffs))
    }
    scored.sortBy(t => (-t._6, t._1, t._2))
      .take(k).zipWithIndex
      .map { case ((seg, doc, repo, path, values, total), i) =>
        (Hit(i + 1, seg, doc, total.toFloat, repo, path), values)
      }
  }

  /** LambdaMART rerank (the reference's coordinator recall stage runs
    * its LightGBM model over the candidates' signal vectors,
    * ranking/models/lambdamart.rs + pipeline stages): candidates come
    * from the segment-count-independent recall pool, signal vectors
    * compute exactly like rankSignals, and the final order is the
    * ensemble prediction (desc, seg, docid). Feature names are the
    * core.Signals constants; absent features read 0.0 like the
    * reference. Returns hits re-ranked with their ltr scores. */
  def rankLtr(query: String, k: Int, model: Ltr.Ensemble)
      : Array[(Hit, Double)] = {
    val cands = searchRaw(query, InvertedIndex.candidateBudget(k), "or+")
    if (cands.isEmpty) return Array.empty
    val withVecs = rankSignalsOver(query, cands, cands.length)
    withVecs.map { case (h, v) => (h, v, model.predict(v)) }
      .sortBy(t => (-t._3, t._1.segment, t._1.docId))(
        Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.Int, Ordering.Int))
      .take(k).zipWithIndex
      .map { case ((h, _, s), i) => (h.copy(rank = i + 1), s) }
  }

  /** Boolean query trees (reference boolean_weight.rs:112-147 +
    * reqopt_scorer.rs): arbitrary Must/Should/MustNot nesting with
    * RequiredOptionalScorer semantics — required clauses gate matching,
    * optional clauses add score when they co-match. Traversal drives on
    * the union of positive leaves per segment in ascending doc order;
    * per candidate the tree evaluates against monotone cursor seeks.
    * Apply BooleanQuery.factor first for the (A|B)&(A|C) -> A|(B&C)
    * planner rewrite. */
  def searchBool(node: BooleanQuery.Node, k: Int): Array[(Int, Int, Float)] = {
    val terms = BooleanQuery.allTerms(node)
    val posTerms = BooleanQuery.positiveTerms(node).toSet
    if (posTerms.isEmpty || stats.numDocs == 0) return Array.empty
    val st = stats

    def boolSegment(w: Map[String, Float])(seg: Int, plist: Array[PostingRow],
                    fnArrs: Map[Int, Array[Byte]]): Iterator[(Int, Int, Float)] = {
      // an n-gram shadow term in a boolean tree scores with ITS field's
      // average and bytes
      val cursors: Map[String, TermCursor] =
        plist.groupBy(_.term).map { case (t, rows) =>
          t -> SegmentScoring.bm25Cursor(t, rows, fnArrs, w(t), st)
        }
      val drivers = cursors.filter(c => posTerms.contains(c._1)).values.toArray
      if (drivers.isEmpty) return Iterator.empty
      val topk = new TopK(k)
      var cand = Int.MaxValue
      drivers.foreach(c => if (c.doc < cand) cand = c.doc)
      while (cand != BlockWand.Terminated) {
        val doc = cand
        val (m, s) = BooleanQuery.evaluate(node, t =>
          cursors.get(t) match {
            case Some(c) if c.contains(doc) => Some(c.score)
            case _ => None
          })
        if (m) topk.push(doc, s)
        cand = Int.MaxValue
        drivers.foreach { c =>
          val d = if (c.doc == doc) c.advance() else c.doc
          if (d < cand) cand = d
        }
      }
      topk.sorted.iterator.map(h => (seg, h.doc, h.score))
    }

    SegmentScoring.cut(perSegment(terms)(dfs => boolSegment(SegmentScoring.weights(dfs, st.numDocs))), k)
  }

  /** BM25F ranked search (re-derivation of the reference's two-stage
    * shape: WAND recall first, then the signal computer's per-doc bm25f
    * over candidates — ranking/computer/mod.rs:145-162 seeks each
    * field-term posting per candidate doc in ascending doc order). Per
    * (term, field): shared idf approximated by the CONTENT-field doc
    * freq of the term text (the reference's AllBody WeightCache,
    * bm25f.rs:27-50 — an unseen text, e.g. a compound bigram, gets the
    * rare-term idf), the field's own average fieldnorm, and the field
    * coefficient scaling tf inside the saturation (Bm25FWeight).
    * Final score sums over (term, field) in deterministic plan order. */
  def searchBm25F(query: String, k: Int,
                  coeffs: Map[Int, Float] = Fields.DefaultBm25fCoeffs)
      : Array[(Int, Int, Float)] = {
    val base = Tokenizers.default(query).distinct.take(16).toSeq
    if (base.isEmpty || stats.numDocs == 0) return Array.empty
    val fieldTerms: Seq[(String, Int, String)] = // (indexTerm, field, idfText)
      base.map(t => (t, Fields.Content, t)) ++
        (if (coeffs.contains(Fields.Stemmed))
          base.map { t => val s = queryStem(t)
            (Fields.StemPrefix + s, Fields.Stemmed, s) }
        else Nil) ++
        (if (coeffs.contains(Fields.Bigram) && base.length >= 2)
          base.sliding(2).map { p =>
            (Fields.bigramTerm(p(0), p(1)), Fields.Bigram, p(0) + p(1)) }.toSeq
        else Nil)
    // recall stage (per-segment budget independent of segment count)
    val cands = searchRaw(query, InvertedIndex.candidateBudget(k), "or+")
    if (cands.isEmpty) return Array.empty
    val candBySeg: Map[Int, Array[Int]] =
      cands.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).sorted }
    val st = stats

    def scoreSeg(plan: Seq[(String, Int, Float)])(seg: Int, plist: Array[PostingRow],
                 fnArrs: Map[Int, Array[Byte]]): Iterator[(Int, Int, Float)] = {
      val candDocs = candBySeg.getOrElse(seg, Array.empty)
      if (candDocs.isEmpty) return Iterator.empty
      val byTerm = plist.groupBy(_.term)
      // cursors in plan order => deterministic f32 summation order
      val cs: Array[TermCursor] = plan.flatMap { case (term, field, idf) =>
        byTerm.get(term).map(SegmentScoring.cursor(_, fnArrs(Fields.fnormFieldOf(field)),
          new Bm25FWeight(idf, st.avgNorm(field), coeffs(field))))
      }.toArray
      candDocs.iterator.map { doc =>
        var score = 0.0f
        var i = 0
        while (i < cs.length) {
          val c = cs(i)
          // posting_contains: ascending re-walk (computer/mod.rs:154-160)
          if (c.contains(doc)) score += c.score
          i += 1
        }
        (seg, doc, score)
      }
    }

    // the shared idf reads the content df of each term's text, which
    // rides the scan
    val scanned = (fieldTerms.map(_._1) ++ fieldTerms.map(_._3)).distinct
    SegmentScoring.cut(perSegment(scanned) { dfs =>
      scoreSeg(fieldTerms.map { case (term, field, idfText) =>
        (term, field, Bm25.idf(dfs.getOrElse(idfText, 0L), st.numDocs))
      })
    }.filter(_._3 > 0.0f), k)
  }

  /** Bucket-deduped search (reference BucketCollector,
    * collector/top_docs.rs:247-361): per-segment candidates fan in with
    * slack, then site/url/title bucket penalties divide each remaining
    * candidate's score as results are taken
    * (1 / (1 + Σ takenCount·penalty)) and simhash near-duplicates drain
    * to the back, filling only leftover slots. Web buckets map to the
    * code corpus as repo=site, repo/path=url, path=url-sans-tld,
    * file name=title. */
  def searchDeduped(query: String, k: Int, mode: String = "or"): Array[Hit] = {
    val raw = searchRaw(query, InvertedIndex.candidateBudget(k), mode)
    if (raw.isEmpty) return Array.empty
    val info = docsOf(raw.map(h => (h._1, h._2)))
    val cands = raw.map { case (seg, d, sc) =>
      val key = info((seg, d))
      (seg, d, sc, key.repo, key.path, key.simhash)
    }
    val coll = new BucketCollector[(Int, Int, Float, String, String, Long)](k,
      c => c._3.toDouble, c => DocHashes.of(c._4, c._5, c._6))
    cands.foreach(coll.insert) // already (score desc, segment, docId) order
    coll.sortedResults(deRankSimilar = true).zipWithIndex.map { case (c, i) =>
      Hit(i + 1, c._1, c._2, c._3, c._4, c._5)
    }.toArray
  }

  /** Fuzzy query (reference fuzzy_query.rs — Levenshtein automaton over
    * the term dictionary): expand to terms within `maxDist` edits,
    * cheap length prefilter first so the distance runs on few rows. */
  def searchFuzzy(term: String, k: Int, maxDist: Int = 1, cap: Int = 64)
      : Array[(Int, Int, Float)] = {
    import org.apache.spark.sql.functions.{length => slen, levenshtein, lit}
    val terms = termsWhere(
      slen($"term").between(term.length - maxDist, term.length + maxDist) &&
        levenshtein($"term", lit(term)) <= maxDist, cap)
    if (terms.isEmpty) Array.empty
    else searchTermSet(terms, k)
  }

  /** Spell correction (re-derivation of crates/web-spell: the
    * reference trains a char-level error model + a stupid-backoff
    * n-gram LM from harvested text; here the index IS the corpus —
    * unigram probabilities come from content-term doc frequencies,
    * bigram context from the compound-bigram shadow field when the
    * index has one). The edit penalty is a fixed per-edit factor by
    * default; pass a corpus-harvested `errorModel` (ops.SpellTrain)
    * to use the reference's noisy-channel 2^logProb edit-sequence
    * factor instead (spell_checker.rs:101-114 shape; no edit ⇒ 1).
    * Per query term: candidates within `maxDist` edits from the term
    * dictionary (length-prefiltered Levenshtein pushed into the scan),
    * scored by stupid backoff
    * S(c|prev) = df2(prev,c)/df(prev) if observed else alpha * df(c)/N
    * times the edit factor; the original term competes at dist 0, and
    * a correction must beat it by `margin`. Returns None if nothing
    * changed. */
  def spellCorrect(query: String, maxDist: Int = 2, cap: Int = 64,
                   penalty: Double = 0.06, alpha: Double = 0.4,
                   margin: Double = 2.0,
                   errorModel: Option[graft.core.ErrorModel] = None): Option[String] =
    spellCorrectBatch(Seq(query), maxDist, cap, penalty, alpha, margin,
      errorModel).head

  /** Batched spell correction: THREE distributed jobs total for any
    * number of queries (round 2 launched 3-4 jobs PER TERM) --
    *  1. one pushed-down dictionary scan ORing every term's
    *     length-band + Levenshtein predicate (candidate pools re-split
    *     per term on the driver, preserving the per-term sorted cap);
    *  2. one df fetch for all candidates;
    *  3. one bigram-field df fetch for every plausible (prev-candidate,
    *     candidate) context pair -- the corrected-prev chain then picks
    *     from these driver-side.
    * Scoring is unchanged (stupid backoff x edit factor: the fixed
    * per-edit penalty, or the harvested noisy-channel 2^logProb when
    * an ops.SpellTrain `errorModel` is passed). */
  def spellCorrectBatch(queries: Seq[String], maxDist: Int = 2, cap: Int = 64,
                        penalty: Double = 0.06, alpha: Double = 0.4,
                        margin: Double = 2.0,
                        errorModel: Option[graft.core.ErrorModel] = None)
      : Seq[Option[String]] = {
    import org.apache.spark.sql.functions.{length => slen, levenshtein, lit}
    val termLists = queries.map(q => Tokenizers.default(q).toSeq)
    val uniq = termLists.flatten.distinct
    if (uniq.isEmpty) return queries.map(_ => None)
    val N = math.max(stats.numDocs, 1L).toDouble

    def dist(t: String, c: String): Int = {
      val m = Array.tabulate(t.length + 1, c.length + 1) { (a, b) =>
        if (a == 0) b else if (b == 0) a else 0
      }
      var a = 1
      while (a <= t.length) {
        var b = 1
        while (b <= c.length) {
          val cost = if (t.charAt(a - 1) == c.charAt(b - 1)) 0 else 1
          m(a)(b) = math.min(math.min(m(a - 1)(b) + 1, m(a)(b - 1) + 1),
            m(a - 1)(b - 1) + cost)
          b += 1
        }
        a += 1
      }
      m(t.length)(c.length)
    }

    // job 1: one pushed-down dictionary scan; the per-term top-`cap`
    // pools (term-asc, the dictionary order) are computed IN the
    // cluster by a window over the (query-term, dict-term) candidate
    // pairs, so at most cap x terms rows ever reach the driver — no
    // driver-bounded safety collect, and the cap survives any
    // dictionary size.
    val pred = uniq.map(t =>
      slen($"term").between(t.length - maxDist, t.length + maxDist) &&
        levenshtein($"term", lit(t)) <= maxDist).reduce(_ || _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qt").orderBy($"term")
    val poolRows = postings.filter(pred && !$"term".contains("\u0000"))
      .select($"term").distinct()
      .select($"term", explode(array(uniq.map(lit): _*)).as("qt"))
      .where(slen($"term").between(slen($"qt") - maxDist, slen($"qt") + maxDist) &&
        levenshtein($"term", $"qt") <= maxDist)
      .withColumn("rn", row_number().over(w)).where($"rn" <= cap)
      .select($"qt", $"term", $"rn").collect()
    val byQt: Map[String, Seq[String]] = poolRows
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2).toSeq }
    val candsOf: Map[String, Seq[String]] = uniq.map { t =>
      t -> ((byQt.getOrElse(t, Seq.empty) :+ t).distinct)
    }.toMap

    // job 2: unigram dfs for all candidates
    val dfs = dfOf((candsOf.valuesIterator.flatten ++ uniq).toSeq.distinct)

    // job 3: context-bigram dfs for every plausible (prev, cand) pair
    val bigramTerms = termLists.flatMap { ts =>
      ts.sliding(2).filter(_.length == 2).flatMap { w =>
        for (p <- candsOf(w(0)); c <- candsOf(w(1)))
          yield Fields.bigramTerm(p, c)
      }
    }.distinct
    val df2 = dfOf(bigramTerms)

    termLists.map { terms =>
      if (terms.isEmpty) None
      else {
        var changed = false
        val out = new scala.collection.mutable.ArrayBuffer[String](terms.length)
        terms.zipWithIndex.foreach { case (t, i) =>
          val prev = if (i == 0) None else Some(out(i - 1))
          val cands = candsOf(t)
          val dfPrev = prev.map(p => dfs.getOrElse(p, 0L)).getOrElse(0L)
          def score(c: String): Double = {
            val uni = dfs.getOrElse(c, 0L).toDouble / N
            val ctx = prev match {
              case Some(_) if dfPrev > 0 =>
                val b = df2.getOrElse(Fields.bigramTerm(prev.get, c), 0L).toDouble
                if (b > 0) b / dfPrev.toDouble else alpha * uni
              case _ => uni
            }
            val edit = errorModel match {
              case Some(m) => m.editFactor(t, c)
              case None => math.pow(penalty, dist(t, c).toDouble)
            }
            ctx * edit
          }
          val own = score(t)
          val best = cands.maxBy(score)
          if (best != t && score(best) > own * margin && dfs.getOrElse(best, 0L) > 0) {
            out += best; changed = true
          } else out += t
        }
        if (changed) Some(out.mkString(" ")) else None
      }
    }
  }

  /** Approximate budgeted search (the ShortCircuitQuery + max-docs
    * path, reference shortcircuit.rs + top_docs.rs:100-124): each
    * segment only considers its top `maxDocsPerSegment` docs by static
    * rank — because doc ids are precomputed-score-sorted within a
    * segment (the index-wide invariant), that prefix is exactly
    * docId < budget, and the query runs as block-max WAND over
    * horizon-TRUNCATED cursors: the budgeted path stays fully pruned
    * (it is the one path that should be cheapest — round-1 review
    * flagged the old exhaustive-scan-under-budget as an anti-pattern).
    * Returns (hits, matchCount, saturated); when saturated, matchCount
    * is the term-independence estimate N * prod(df_i / N)
    * (approx_count.rs:169-179); when not, the exact union count via a
    * score-free walk. */
  def searchApprox(query: String, k: Int, maxDocsPerSegment: Int)
      : (Array[(Int, Int, Float)], Long, Boolean) = {
    val terms = queryTerms(query)
    if (terms.isEmpty || stats.numDocs == 0) return (Array.empty, 0L, false)
    val N = stats.numDocs
    val st = stats
    val budget = maxDocsPerSegment
    val perSeg = perSegment(terms.toSeq) { dfs =>
      val weights = SegmentScoring.weights(dfs, N)
      approxSegment(_, _, _, weights, st, k, budget)
    }
    val saturated = perSeg.exists(_._5)
    val exactCount = perSeg.groupBy(_._1).map { case (_, rows) => rows.head._4.toLong }.sum
    val count = if (!saturated) exactCount
    else {
      // term-independence estimate over the whole collection; only a
      // saturated query needs the dfs on the driver
      val dfs = dfOf(terms.toSeq)
      var est = N.toDouble
      terms.foreach(t => est *= dfs.getOrElse(t, 0L).toDouble / N.toDouble)
      math.round(est)
    }
    val hits = SegmentScoring.cut(perSeg.filter(_._2 >= 0).map(r => (r._1, r._2, r._3)), k)
    (hits, count, saturated)
  }

  private def approxSegment(seg: Int, plist: Array[PostingRow],
                            fnArrs: Map[Int, Array[Byte]],
                            weights: Map[String, Float], stats: CollectionStats,
                            k: Int, budget: Int)
      : Iterator[(Int, Int, Float, Int, Boolean)] = {
    val byTerm = plist.groupBy(_.term)
    // query terms are content terms: content norms and average
    def cursors(): Seq[TermCursor] = byTerm.toSeq.sortBy(_._1).map { case (t, rows) =>
      SegmentScoring.bm25Cursor(t, rows, fnArrs, weights(t), stats)
    }
    val nDocs = fnArrs(Fields.Content).length
    val saturated = nDocs > budget
    val cs: Seq[TermCursor] =
      if (saturated) cursors().map(new TruncatedCursor(_, budget)) else cursors()
    val topk = new TopK(k)
    BlockWand.run(cs, Float.MinValue, (d, s) => topk.push(d, s))
    // exact in-segment match count only when the horizon didn't bite
    // (otherwise the caller reports the collection-level estimate and
    // this walk would defeat the short circuit)
    val matched = if (saturated) 0 else BlockWand.unionCount(cursors()).toInt
    // sentinel row (doc = -1) carries count/saturation even when the
    // horizon leaves this segment with no top-k hits
    Iterator.single((seg, -1, 0.0f, matched, saturated)) ++
      topk.sorted.iterator.map(h => (seg, h.doc, h.score, matched, saturated))
  }
}

object InvertedIndex {
  /** Session conf key: the most driver bytes an instance keeps resident
    * for its queries, fieldnorms (summed over segments and fnorm fields)
    * and doc keys together. Fieldnorms that exceed it shuffle with the
    * postings instead, and doc keys that do not fit beside the
    * fieldnorms are scanned per lookup. */
  val ResidentFnormBytesConf = "spark.graft.residentFnormBytes"

  /** `s`'s residency cap, in bytes (64 MB unless its conf sets one). */
  private def residentCap(s: SparkSession): Long =
    s.conf.get(ResidentFnormBytesConf, (64L << 20).toString).toLong

  /** The least one doc's resident keys can be charged: two longs, and
    * for each of three strings 48 bytes for its reference and the
    * headers of the String and its array. */
  private val MinKeyBytes = 16L + 3 * 48L

  /** Driver bytes charged for one doc's resident keys: two bytes per
    * char, an upper bound for any string. */
  private[index] def keyBytes(r: DocKeyRow): Long =
    MinKeyBytes + 2L * (r.repo.length + r.path.length + r.commit.length)

  /** One scan task of the key collect: its rows, or None (the overflow
    * marker) once they are charged more than `share` bytes. */
  private def keysWithin(rows: Iterator[DocKeyRow], share: Long): Option[Array[DocKeyRow]] = {
    val out = Array.newBuilder[DocKeyRow]
    var bytes = 0L
    while (rows.hasNext) {
      val r = rows.next()
      bytes += keyBytes(r)
      if (bytes > share) return None
      out += r
    }
    Some(out.result())
  }

  /** One segment's resident doc keys, indexed by docId. */
  private[index] final class DocKeyColumns(val size: Int) {
    private val repo = new Array[String](size)
    private val path = new Array[String](size)
    private val sortKey = new Array[Long](size)
    private val commit = new Array[String](size)
    private val simhash = new Array[Long](size)
    private val filled = new java.util.BitSet(size)
    private var held = 0L

    /** Bytes charged for the keys put so far. */
    def bytes: Long = held

    def count: Int = filled.cardinality

    /** Puts `r` at its docId; false if that id is already filled. */
    def put(r: DocKeyRow): Boolean = !filled.get(r.docId) && {
      val d = r.docId
      filled.set(d)
      repo(d) = r.repo; path(d) = r.path; sortKey(d) = r.sortKey
      commit(d) = r.commit; simhash(d) = r.simhash
      held += keyBytes(r)
      true
    }

    def apply(segment: Int, d: Int): DocKeyRow =
      DocKeyRow(segment, d, repo(d), path(d), sortKey(d), commit(d), simhash(d))
  }

  /** The resident key columns of `rows`, one set per stat row. Each
    * segment's rows must fill its ids 0 until its stat row's numDocs,
    * each exactly once: a missing, truncated or duplicated doc file
    * fails here, naming the segment. */
  private def keyColumns(rows: Array[DocKeyRow], stats: Seq[SegStatRow],
                         dir: String): Map[Int, DocKeyColumns] = {
    def fail(seg: Int, what: String): Nothing =
      throw new IllegalStateException(s"doc table of $dir, segment $seg: $what")
    val cols = stats.map(s => s.segment -> new DocKeyColumns(s.numDocs.toInt)).toMap
    rows.foreach { r =>
      val c = cols.getOrElse(r.segment, fail(r.segment, "doc rows but no stat row"))
      if (r.docId < 0 || r.docId >= c.size)
        fail(r.segment, s"docId ${r.docId} outside 0 until ${c.size}, its stat row's numDocs")
      if (!c.put(r)) fail(r.segment, s"docId ${r.docId} has more than one doc row")
    }
    cols.foreach { case (s, c) =>
      if (c.count < c.size) fail(s, s"${c.size - c.count} of its ${c.size} doc ids have no doc row")
    }
    cols
  }

  /** SessionMemo name of a dir's segment holder. */
  private[index] val HolderName = "residentSegments"

  /** What a held collect is valid for: the stat rows by segment id and
    * the names of the files of the table it read. */
  private[index] type HeldKey = (Map[Int, SegStatRow], Set[String])

  private type Fnorms = Map[Int, Map[Int, Array[Byte]]]
  private type Keys = Map[Int, DocKeyColumns]

  private def fnormBytes(fn: Fnorms): Long =
    fn.valuesIterator.flatMap(_.valuesIterator).map(_.length.toLong).sum

  private def columnBytes(keys: Keys): Long = keys.valuesIterator.map(_.bytes).sum

  /** One table's resident values by segment and the key they are valid
    * for, behind a SoftReference: memory pressure may take them, and the
    * next instance then collects as a first one does. */
  private[index] final class Held[V] {
    private var gen = new SoftReference[(HeldKey, Map[Int, V])](null)

    def get(key: HeldKey): Option[Map[Int, V]] =
      synchronized(Option(gen.get).collect { case (k, v) if k == key => v })

    /** A collect's values replace the held ones; None leaves nothing held. */
    def publish(key: HeldKey, v: Option[Map[Int, V]]): Unit =
      synchronized { gen = new SoftReference(v.map(key -> _).orNull) }

    def values: Option[Map[Int, V]] = synchronized(Option(gen.get).map(_._2))

    /** Replaces the held key and values, if any, by `f` of them. */
    def update(f: (HeldKey, Map[Int, V]) => (HeldKey, Map[Int, V])): Unit = synchronized {
      Option(gen.get).foreach { case (k, v) => gen = new SoftReference(f(k, v)) }
    }

    /** The segment ids of the held key's stat rows. */
    def segments: Set[Int] = synchronized(Option(gen.get).fold(Set.empty[Int])(_._1._1.keySet))
  }

  /** One dir's resident state in one session, kept across instances so
    * a reopen collects nothing but its stat rows: fieldnorm arrays and
    * doc-key columns by segment, each held under the stat rows and the
    * table's file names it is valid for. A committed segment id is
    * immutable, so equal stat rows and file names mean equal rows. A
    * reader takes what is held only under its own key, and otherwise
    * collects and replaces it. IndexBuilder.commit, the one committer,
    * keeps the key true to the dir: before it adopts it forgets the ids
    * it rewrites and its tag's file names, so a rewrite never matches an
    * old entry, and after its generation it adds the segments its write
    * handed over, with the names the adoption gave them. A holder that
    * held the dir's generation then holds the next one; any other (a
    * stale or overflowed one, or one a merge handed nothing) keeps a key
    * no reader has, so the next reader collects. */
  private[index] final class SegmentHolder(session: SparkSession) {
    val fnorms = new Held[Map[Int, Array[Byte]]]
    val keys = new Held[DocKeyColumns]

    /** The bytes its session's cap leaves beside what it holds. */
    private def left: Long =
      residentCap(session) - fnorms.values.fold(0L)(fnormBytes) - keys.values.fold(0L)(columnBytes)

    /** The bytes this holder may still take; None while it holds nothing. */
    def room: Option[Long] = if (fnorms.values.isEmpty && keys.values.isEmpty) None else Some(left)

    /** Before a commit of `tag` adopts: forgets the segment ids it
      * manifests and the file names it adopts under (`<tag>-*`). */
    def forget(ids: Set[Int], tag: String): Unit = {
      def in[V](h: Held[V]): Unit = h.update { case ((stats, files), v) =>
        ((stats -- ids, files.filterNot(IndexBuilder.adoptedFor(tag, _))), v -- ids)
      }
      in(fnorms)
      in(keys)
    }

    /** After a commit's generation: adds the segments its write handed over
      * and the file names `adopted` (per kind) to each held table, while
      * they fit what the session's cap leaves. */
    def addHanded(w: Handed, adopted: Map[String, Seq[String]]): Unit = {
      def add[V](h: Held[V], kind: String, v: Map[Int, V], size: Long): Unit =
        if (size <= left) h.update { case ((stats, files), held) =>
          ((stats ++ w.stats.map(s => s.segment -> s), files ++ adopted.getOrElse(kind, Nil)), held ++ v)
        }
      add(fnorms, "fnorm", w.fnorms, fnormBytes(w.fnorms))
      add(keys, "doc", w.keys, columnBytes(w.keys))
    }
  }

  /** A local dir's one name, however a caller spells it. */
  private[index] def holderDir(dir: String): String =
    java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString

  private def holder(spark: SparkSession, dir: String): SegmentHolder =
    SessionMemo(spark, holderDir(dir), HolderName)(new SegmentHolder(spark))

  /** The fieldnorms and doc keys of a write's segments, assembled from
    * the rows its tasks reported as a collect assembles them, with the
    * same checks: keyColumns fails unless each segment's doc keys fill
    * its ids exactly once. */
  private[index] final class Handed(dir: String, val stats: Seq[SegStatRow], fnormRows: Seq[FnormRow],
                                    keyRows: Seq[DocKeyRow]) {
    val fnorms: Fnorms = fnormRows.toArray.groupBy(_.segment).map { case (seg, chunks) =>
      seg -> assembleFnorms(chunks)
    }
    val keys: Keys = keyColumns(keyRows.toArray, stats, dir)
  }

  /** The segment ids this session holds for `dir`: (fieldnorms, doc
    * keys). */
  private[graft] def heldSegments(spark: SparkSession, dir: String): (Set[Int], Set[Int]) = {
    val h = holder(spark, dir)
    (h.fnorms.segments, h.keys.segments)
  }

  /** Fieldnorm fields an index can store, one byte per doc each:
    * content and the bigram/trigram shadows. */
  private val FnormFields = 3L

  /** The collection df of fetched rows: docFreq summed per term, over
    * the terms that have rows (as the distributed executor's partials
    * count them). */
  private def dfSums(rows: Map[String, Array[PostingRow]]): Map[String, Long] =
    rows.collect { case (t, rs) if rs.nonEmpty => t -> rs.map(_.docFreq.toLong).sum }

  /** Scores one segment: (segment, its rows of the scanned terms, its
    * fieldnorms) => results. */
  private type SegmentScorer[T] = (Int, Array[PostingRow], Map[Int, Array[Byte]]) => Iterator[T]

  /** One scan task's per-term docFreq sums, sent to every reduce
    * partition of `perSegment`'s shuffle. */
  private final case class DfPartial(dfs: Map[String, Long])

  /** `perSegment`'s shuffle routing: segment s (key >= 0) goes to
    * partition s mod n; key -1 - r carries a df partial to partition r,
    * ahead of every segment in the key sort. */
  private final class SegmentPartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = {
      val k = key.asInstanceOf[Int]
      if (k >= 0) k % numPartitions else -1 - k
    }
  }

  /** One reduce partition of `perSegment`, sorted by key: sum the df
    * partials, then score each segment's run of rows. */
  private def scoreSegments[T](
      in: scala.collection.BufferedIterator[(Int, Any)],
      resident: Option[Broadcast[Map[Int, Map[Int, Array[Byte]]]]],
      scorer: Map[String, Long] => SegmentScorer[T]): Iterator[T] = {
    val sums = scala.collection.mutable.HashMap[String, Long]()
    while (in.hasNext && in.head._1 < 0) in.next()._2 match {
      case DfPartial(part) => part.foreach { case (t, c) => sums(t) = sums.getOrElse(t, 0L) + c }
    }
    val score = scorer(sums.toMap)
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val seg = in.head._1
      val ps = Array.newBuilder[PostingRow]
      val fs = Array.newBuilder[FnormRow]
      while (in.hasNext && in.head._1 == seg) in.next()._2 match {
        case p: PostingRow => ps += p
        case f: FnormRow => fs += f
      }
      val plist = ps.result()
      if (plist.isEmpty) Iterator.empty
      else score(seg, plist, resident.fold(assembleFnorms(fs.result()))(_.value(seg)))
    }
  }

  /** Per-field fnorm arrays of one segment (chunk encodes the field in
    * its high bits; see Fields). */
  private def assembleFnorms(fs: Array[FnormRow]): Map[Int, Array[Byte]] =
    fs.groupBy(_.chunk >> Fields.FnormFieldShift).map { case (field, rows) =>
      val chunks = rows.sortBy(_.chunk)
      val out = new Array[Byte](chunks.map(_.numDocs).sum)
      var off = 0
      chunks.foreach { c =>
        System.arraycopy(c.fnorms, 0, out, off, c.numDocs)
        off += c.numDocs
      }
      field -> out
    }

  /** Candidate budget of the two-stage rerank paths (rankSignals,
    * searchBm25F, searchDeduped): how many recall candidates feed the
    * rerank/collect stage. Deliberately a function of k ONLY — the
    * reference fetches a per-segment budget independent of segment
    * count (collector/top_docs.rs:100-124; the coordinator merge at
    * :433-460 then cuts over top_n per segment). searchBatchRaw gives
    * each segment a heap of this size and the driver merge cuts the
    * union back to it, so per-segment work and the rows shipped per
    * segment stay O(k) as the corpus (and its segment count) grows
    * 100x. The driver faces fetch the same budget for their tie-stable
    * cut (SparkEntry.canonicalTopK). */
  def candidateBudget(k: Int): Int = k + math.max(80, 4 * k)
}
