package graft.index

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.spark.util.CollectionAccumulator

import graft.SessionMemo
import graft.core.{BlockCodec, Bm25Weight, FieldNorm, Fnv1a, PostingListData, Tokenizers}

/** Distributed inverted-index build.
  *
  * Shape (re-derivation of the reference's indexer architecture,
  * entrypoint/indexer/mod.rs:43-89 + inverted_index/indexing.rs:32-47,
  * re-expressed Spark-first):
  *
  *   read -> tag (segment, sortKey, sha256-ready) [narrow]
  *        -> repartition by segment + sortWithinPartitions   [1 shuffle]
  *        -> mapPartitions: per segment, assign dense docIds in
  *           precomputed-score order, tokenize once, accumulate in-RAM
  *           postings (the Spark analog of the reference's writer arena),
  *           serialize blocks, emit doc/fnorm/posting/stat rows
  *        -> write parquet partitioned by row kind            [no shuffle]
  *
  * Scale notes:
  *  - exactly ONE full-data shuffle (the segment repartition). The
  *    reference avoids it by making "segment" == input file; we pay it to
  *    make the index byte-identical at any parallelism (needed for
  *    rank-identity + the N-vs-4N scaling protocol) and to balance
  *    segments. Everything after the shuffle is narrow.
  *  - a segment's postings must fit in task memory, like the reference's
  *    1 GB writer arena (indexing.rs:38-39). Segment count is chosen so
  *    corpus/numSegments stays in budget; at 10^12 files you raise
  *    numSegments, not executor memory.
  *  - hot terms are sharded at maxPostingsPerShard entries per posting
  *    row, bounding both row size and query-task memory per term.
  *  - checkpoint/resume at segment granularity: segments are built in
  *    batches; each batch commits through `commit` (a manifest JSON per
  *    segment, then the next Generation); a restarted job skips the
  *    batches the newest generation lists (north rule: "restarts at
  *    segment granularity").
  */
object IndexBuilder {

  final case class Config(
      numSegments: Int = 8,
      maxPostingsPerShard: Int = 1 << 20,
      fnormChunkSize: Int = 1 << 23,
      segmentsPerBatch: Int = 1 << 16,
      recordPositions: Boolean = true,
      indexStemmed: Boolean = false,
      indexBigrams: Boolean = false,
      indexTrigrams: Boolean = false,
      /** store a 64-bit SimHash per doc for the BucketCollector's
        * near-dup drain (costs a token re-walk; off for the north-rule
        * build config). */
      computeSimhash: Boolean = false,
      /** index repo/path/lang metadata as identity/tokenized shadow
        * fields so query-grammar operators (site:/repo:, inurl:/path:,
        * intitle:/file:, exacturl:, lang:) lower to index terms. */
      indexMeta: Boolean = false,
      /** index the flattened leaves of the optional `props` json column
        * as searchable terms (reference text_field.rs:1197-1240), so
        * `json:path=value` queries lower to must clauses like the meta
        * operators. */
      indexJson: Boolean = false,
      /** index each doc's RAKE keywords as whole-phrase terms of the
        * key_phrases shadow field (reference text_field.rs:1650-1688
        * newline-tokenizes webpage.keywords), so TopKeyPhrases serves
        * from the stored term dictionary instead of re-running RAKE. */
      indexKeyPhrases: Boolean = false,
      /** index each doc's outgoing-link targets (`SourceDoc.links`) as
        * identity terms of the Link shadow field, so `linksto:target`
        * lowers to a must clause (reference link fields + operator
        * lowering, plan/node.rs:128-172). */
      indexLinks: Boolean = false,
      /** classify each doc at build time and mark low-quality ones with
        * the Fields.QualityLowTerm marker term, so `safe:on` lowers to
        * a must-not over it — the safe-search analog (reference
        * query/mod.rs:110-118; no NSFW signal exists in a code corpus,
        * the quality gate stands in). */
      indexQuality: Boolean = false,
      /** persist the index-wide static-rank ordinal (GlobalRank) so
        * rankSignals serves CentralityRank from a keyed lookup instead
        * of its per-query counting pass — one extra narrow
        * doc-metadata range shuffle at build; same ranks either way. */
      storeGlobalRank: Boolean = false,
      /** Optional per-repo centrality scores (e.g. the output of
        * ops.Centrality.harmonicExact over a repo dependency graph),
        * broadcast into docid assignment: scored repos sort by
        * centrality (desc) with the fnv proxy as the within-repo
        * tie-break, so high-centrality repos get the SMALL docids the
        * ShortCircuit/static-rank machinery exploits — the Spark
        * analog of the reference's speedy-kv host-centrality lookup
        * feeding its precomputed score (ranking/computer/mod.rs:499-509).
        * Empty (default) = the deterministic fnv proxy, byte-identical
        * to every index built before this knob existed. */
      centrality: Map[String, Long] = Map.empty)

  final case class BuildReport(numDocs: Long, numTokens: Long,
                               segmentsBuilt: Int, segmentsSkipped: Int,
                               elapsedMs: Long)

  /** Internal union row so one pass writes every artifact kind. */
  final case class BuildRow(kind: String, segment: Int,
                            doc: Option[DocRow], posting: Option[PostingRow],
                            fnorm: Option[FnormRow], stat: Option[SegStatRow])

  /** Public: Spark codegen needs accessor visibility on encoder types. */
  final case class Tagged(segment: Int, sortKey: Long, repo: String,
                          path: String, commit: String, lang: String,
                          content: String, props: String = "",
                          links: Seq[String] = Seq.empty)

  /** Deterministic pseudo-centrality standing in for the reference's
    * query-independent precomputed score (ranking/computer/mod.rs:499-509;
    * the docid-order invariant of inverted_index/mod.rs:195-204). */
  def sortKeyOf(repo: String, path: String, commit: String): Long =
    Fnv1a(s"score:$repo/$path@$commit")

  def segmentOf(repo: String, path: String, numSegments: Int): Int = {
    val h = Fnv1a(repo + "|" + path)
    val m = (h % numSegments).toInt
    if (m < 0) m + numSegments else m
  }

  // JCA getInstance does provider lookup with shared-state contention —
  // at 32 threads it serializes the whole pipeline; thread-local reuse.
  private val shaLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-256")
  }
  private val HexChars = "0123456789abcdef".toCharArray

  def hex(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def sha256(s: String): Array[Byte] = {
    val md = shaLocal.get()
    md.reset()
    md.digest(s.getBytes("UTF-8"))
  }

  def sha256Hex(s: String): String = hex(sha256(s))

  // growable int buffer (avoids boxing in the hot accumulation path)
  private final class IntBuf(initial: Int = 8) {
    var arr = new Array[Int](initial)
    var n = 0
    def add(v: Int): Unit = {
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
      arr(n) = v; n += 1
    }
    def toArray: Array[Int] = java.util.Arrays.copyOf(arr, n)
  }

  private final class PostBuf {
    val docs = new IntBuf(4)
    val tfs = new IntBuf(4)
    // positions pre-encoded as vint gaps per doc (1 byte/token typical):
    // accumulating raw ints costs 4-8x the memory traffic and hits the
    // host's bandwidth wall at high thread counts
    var pos: BlockCodec.ByteBuf = null
  }

  /** Segment-lifetime term accumulator: ONE open-addressing table maps
    * term -> posting buffer AND carries the per-doc state (count, last
    * position), so the hot loop allocates nothing for known terms — no
    * per-doc HashMap, no boxed counts, no token Strings on the ASCII
    * fast path (lookup folds (text,start,end) slices in place; a String
    * is materialized once per DISTINCT term per segment). Positions are
    * gap-vint-encoded inline at arrival (same byte format as before).
    * This is the allocation fix for the build's memory-bandwidth wall
    * at high thread counts (the reference's indexer writes into a
    * term-interned arena for the same reason, indexing.rs:38-39). */
  private final class TermTable(recordPositions: Boolean)
      extends graft.core.Tokenizers.TokenSink {
    private var cap = 1 << 12
    private var mask = cap - 1
    private var keys = new Array[String](cap)
    private var hashes = new Array[Int](cap)
    private var bufs = new Array[PostBuf](cap)
    private var cnts = new Array[Int](cap)
    private var lastPos = new Array[Int](cap)
    private var size = 0
    private val touched = new IntBuf(256)

    def numTerms: Int = size

    def clear(): Unit = {
      java.util.Arrays.fill(keys.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(bufs.asInstanceOf[Array[AnyRef]], null)
      // cnts/lastPos are zeroed by endDoc; touched is drained there too
      size = 0
    }

    @inline private def fold(c: Char): Char = (c | 0x20).toChar

    private def grow(): Unit = {
      val oldKeys = keys; val oldHashes = hashes; val oldBufs = bufs
      val oldCnts = cnts; val oldLast = lastPos; val oldCap = cap
      cap <<= 1; mask = cap - 1
      keys = new Array[String](cap); hashes = new Array[Int](cap)
      bufs = new Array[PostBuf](cap); cnts = new Array[Int](cap)
      lastPos = new Array[Int](cap)
      var i = 0
      while (i < oldCap) {
        val k = oldKeys(i)
        if (k != null) {
          var idx = oldHashes(i) & mask
          while (keys(idx) != null) idx = (idx + 1) & mask
          keys(idx) = k; hashes(idx) = oldHashes(i); bufs(idx) = oldBufs(i)
          cnts(idx) = oldCnts(i); lastPos(idx) = oldLast(i)
        }
        i += 1
      }
      // remap touched slot ids (mid-doc growth)
      var t = 0
      while (t < touched.n) {
        val k = oldKeys(touched.arr(t))
        var idx = k.hashCode & mask
        while (keys(idx) ne k) idx = (idx + 1) & mask
        touched.arr(t) = idx
        t += 1
      }
    }

    @inline private def hit(idx: Int, pos: Int): Unit = {
      if (cnts(idx) == 0) { touched.add(idx); lastPos(idx) = 0 }
      cnts(idx) += 1
      if (recordPositions) {
        val pb = bufs(idx)
        if (pb.pos == null) pb.pos = new BlockCodec.ByteBuf(8)
        pb.pos.writeVint(pos - lastPos(idx))
        lastPos(idx) = pos
      }
    }

    private def insert(idx: Int, key: String, h: Int, pos: Int): Unit = {
      keys(idx) = key; hashes(idx) = h; bufs(idx) = new PostBuf
      cnts(idx) = 0; lastPos(idx) = 0
      size += 1
      hit(idx, pos)
      if (size * 2 > cap) grow()
    }

    def asciiToken(text: String, start: Int, end: Int, pos: Int): Unit = {
      var h = 0
      var i = start
      while (i < end) { h = 31 * h + fold(text.charAt(i)); i += 1 }
      var idx = h & mask
      var k = keys(idx)
      while (k != null) {
        if (hashes(idx) == h && k.length == end - start) {
          var j = 0
          var eq = true
          while (eq && j < k.length) {
            if (k.charAt(j) != fold(text.charAt(start + j))) eq = false
            j += 1
          }
          if (eq) { hit(idx, pos); return }
        }
        idx = (idx + 1) & mask
        k = keys(idx)
      }
      val a = new Array[Char](end - start)
      var j = 0
      while (j < a.length) { a(j) = fold(text.charAt(start + j)); j += 1 }
      insert(idx, new String(a), h, pos)
    }

    def token(s: String, pos: Int): Unit = {
      val h = s.hashCode
      var idx = h & mask
      var k = keys(idx)
      while (k != null) {
        if (hashes(idx) == h && k.equals(s)) { hit(idx, pos); return }
        idx = (idx + 1) & mask
        k = keys(idx)
      }
      insert(idx, s, h, pos)
    }

    /** Close the current doc: append (docId, tf) per touched term. */
    def endDoc(docId: Int): Unit = {
      var i = 0
      while (i < touched.n) {
        val idx = touched.arr(i)
        val pb = bufs(idx)
        pb.docs.add(docId)
        pb.tfs.add(cnts(idx))
        cnts(idx) = 0
        i += 1
      }
      touched.n = 0
    }

    /** Sorted (term, buffer) snapshot — safe to keep after clear(). */
    def sortedEntries(): (Array[String], Array[PostBuf]) = {
      val terms = new Array[String](size)
      val out = new Array[PostBuf](size)
      var i = 0
      var o = 0
      while (i < cap) {
        if (keys(i) != null) { terms(o) = keys(i); o += 1 }
        i += 1
      }
      java.util.Arrays.sort(terms, java.util.Comparator.naturalOrder[String]())
      i = 0
      while (i < size) {
        val h = terms(i).hashCode
        var idx = h & mask
        while (!(keys(idx) eq terms(i)) && !(hashes(idx) == h && keys(idx).equals(terms(i))))
          idx = (idx + 1) & mask
        out(i) = bufs(idx)
        i += 1
      }
      (terms, out)
    }
  }

  def manifestDir(outDir: String) = s"$outDir/manifest"
  def dataDir(outDir: String) = s"$outDir/data"
  def stagingDir(outDir: String) = s"$outDir/staging"

  private lazy val buildRowSchema: StructType = Encoders.product[BuildRow].schema

  /** The schema of one row kind's table: one column, the kind's struct,
    * as the writer's BuildRow encoder gave it. */
  def kindSchema(kind: String): StructType = StructType(Seq(buildRowSchema(kind)))

  /** The `kind` table of generation `gen` of the index at `dir`: the
    * files `gen` lists, read with the schema their writer declared. */
  def readKind(spark: SparkSession, dir: String, gen: Generation, kind: String): DataFrame =
    readTable(spark, gen.fileIndex(dir, kind), kindSchema(kind))

  /** The readers of index tables, both with the schema the writer
    * declared: `spark.read.parquet` without one starts a footer-merge
    * job on every call to infer the schema the writer already fixed.
    * A table read by path still lists its directory. */
  def readTable(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** A table read from a fixed file list: Spark plans the scan from
    * `files` and lists nothing, whatever the file count
    * (`spark.read.parquet(paths: _*)` starts a listing job above 32
    * paths). */
  def readTable(spark: SparkSession, files: FileIndex, schema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(files, new StructType(),
      nullable(schema).asInstanceOf[StructType], None, new ParquetFileFormat(), Map.empty)(spark))

  /** `t` with every field, array element and map value nullable: the
    * schema DataFrameReader gives a file table read with `t`. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Whether the newest generation of `outDir` lists batch `tag`: the
    * unit of exactly-once. A batch it lists is fully committed (data
    * adopted, manifests written, generation renamed into place); one it
    * does not is re-staged from scratch, and `commit` first deletes any
    * files a crashed run of the same batch adopted, so replay after a
    * PROCESS crash at any point (mid-stage, mid-adopt, mid-manifest,
    * before the rename) converges to exactly one copy of the batch's
    * rows. Durability caveat: the generation and the adopted files are
    * not fsynced, so an OS crash / power loss can leave a durable
    * generation over non-durable data — a filesystem-level hazard
    * shared with most local-FS commit protocols; on a real deployment
    * the data dir lives on a durable object store / HDFS whose
    * rename+close semantics provide the sync. */
  def batchCommitted(outDir: String, tag: String): Boolean =
    Generation.latest(outDir).committed(tag)

  /** Whether the data file `name` is one that adoptStaged names for
    * `prefix` (`<prefix>-<j>.parquet`). */
  private[index] def adoptedFor(prefix: String, name: String): Boolean = name.startsWith(prefix + "-")

  /** Delete the files a previous, uncommitted adoption of `prefix` left
    * in the data dir (idempotent on replay). */
  private def clearAdopted(outDir: String, prefix: String): Unit = {
    val dd = new java.io.File(dataDir(outDir))
    if (dd.isDirectory) {
      dd.listFiles().filter(_.isDirectory).foreach { kd =>
        Option(kd.listFiles()).getOrElse(Array.empty)
          .filter(f => adoptedFor(prefix, f.getName))
          .foreach(_.delete())
      }
    }
  }

  /** Move staged parquet files into the live data dir under
    * deterministic names `<prefix>-<j>.parquet`, and return them per row
    * kind with their byte lengths and, by `segmentsIn`, the segments
    * whose rows each staged file holds. The staging dir stays: the
    * commit deletes it once its generation is written. Local-FS rename
    * here; a real cluster deploy uses the same protocol through its
    * object-store committer. */
  def adoptStaged(staged: String, outDir: String, prefix: String,
                  segmentsIn: String => Seq[Int]): Map[String, Seq[Generation.DataFile]] = {
    val kinds = Option(new java.io.File(staged).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("kind="))
    kinds.map { kd =>
      val target = java.nio.file.Paths.get(dataDir(outDir), kd.getName)
      java.nio.file.Files.createDirectories(target)
      val parts = kd.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      kd.getName.stripPrefix("kind=") -> parts.toSeq.zipWithIndex.map { case (f, j) =>
        val name = s"$prefix-$j.parquet"
        val bytes = f.length()
        java.nio.file.Files.move(f.toPath, target.resolve(name),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Generation.DataFile(name, bytes, segmentsIn(f.getName))
      }
    }.toMap
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** What a commit hands its write: the staging dir to fill, and `room`,
    * set while some session's InvertedIndex holds segments of the index:
    * the most bytes any such holder may still take under its session's
    * residency cap. writeSegments reports its rows into `written`; with a
    * room, its fnorm rows and doc keys as well. */
  final class Stage private[index] (spark: SparkSession, val dir: String,
                                    private[index] val room: Option[Long]) {
    private[index] lazy val written: CollectionAccumulator[Written] =
      spark.sparkContext.collectionAccumulator[Written]("written rows")

    /** The stat rows the write's tasks reported. */
    private[index] def writtenStats: Seq[SegStatRow] = written.value.asScala.toSeq.flatMap(_.stats)

    /** The segments whose rows the staged file `name` holds: those of the
      * task that wrote it, whose partition id is the file's part number
      * (`part-<id>-...`). */
    private[index] def segmentsIn(name: String): Seq[Int] = {
      val part = """part-(\d+)-""".r.findPrefixMatchOf(name).map(_.group(1).toInt)
      written.value.asScala.toSeq.filter(w => part.contains(w.partition))
        .flatMap(_.stats.map(_.segment)).sorted
    }

    /** The segments of `stats` as the open readers hold them, when this
      * stage had a room and no task of the write overflowed it. */
    private[index] def handed(outDir: String, stats: Seq[SegStatRow]): Option[InvertedIndex.Handed] = {
      val rows = if (room.isEmpty) Nil else written.value.asScala.toSeq.map(_.resident)
      if (rows.isEmpty || rows.contains(None)) None
      else {
        val (fnorms, keys) = rows.flatten.unzip
        Some(new InvertedIndex.Handed(outDir, stats, fnorms.flatten, keys.flatten))
      }
    }
  }

  /** One task of writeSegments, reported once after its last row: its
    * partition id, its stat rows and, when its stage has a room, its
    * fnorm rows and doc keys, or None (the overflow marker) once they
    * pass the task's share of the room. */
  final case class Written(partition: Int, stats: Seq[SegStatRow],
                           resident: Option[(Seq[FnormRow], Seq[DocKeyRow])])

  /** The one commit of an index write: a build batch, a live append and
    * a merge all stage, adopt, manifest and publish a generation through
    * it (the exactly-once protocol; IndexPipelineSpec's source scan fails
    * on any other committer in src/main). Commits to one dir run one at
    * a time in this JVM: each writes the generation after the one it
    * read, like tantivy's single IndexWriter.
    *  1. Make the manifest dir and read the newest Generation. A `tag` it
    *     lists is a no-op (a staging dir a crash left after the
    *     generation goes); an unlisted one first loses what a crashed run
    *     of it adopted, so `write` sees the data dir without this batch's
    *     rows.
    *  2. `write` fills the Stage it is given and returns the stat rows it
    *     wrote, which it already holds on the driver.
    *  3. Every session's segment holder of `outDir` forgets the segment
    *     ids this commit manifests and the file names `<tag>-*` (a
    *     rewritten id must not match its old fieldnorms or doc keys);
    *     then the staged files are adopted, each segment's manifest
    *     written, and the next generation, which adds this batch's stat
    *     rows and files, renamed into place: the commit point. All but
    *     the newest two generations go, and then `staging/<tag>`, which
    *     until then tells a reader that the unlisted `<tag>-*` files
    *     beside the generation it opens are in flight (Generation.verify).
    *  4. When the write reported its fnorm rows and doc keys within the
    *     stage's room, every holder adds them with the adopted file names,
    *     while they fit its session's cap (InvertedIndex.SegmentHolder).
    *     A holder that held the generation this commit appends to now
    *     holds the next one; any other holds a key no reader has, and its
    *     next reader collects.
    * `segments` are manifested with zero rows when the write left them
    * no stat row (a build batch's empty segments); the generation lists
    * only the written stat rows, the stat table's. A write that leaves
    * nothing to manifest (an empty live batch) is dropped with its
    * staging and commits nothing. A manifest `seg-<id>.json` is its
    * segment's stat row plus `lineage(segment)`: one JSON field, or
    * nothing; no reader reads it. Returns whether this call committed. */
  def commit(spark: SparkSession, outDir: String, tag: String,
             segments: Seq[Int] = Nil, lineage: Int => String = _ => "")
            (write: Stage => Seq[SegStatRow]): Boolean =
    commitLocks.computeIfAbsent(InvertedIndex.holderDir(outDir), _ => new Object).synchronized {
      new java.io.File(manifestDir(outDir)).mkdirs()
      val staging = new java.io.File(s"${stagingDir(outDir)}/$tag")
      val prev = Generation.latest(outDir)
      if (prev.committed(tag)) {
        deleteRecursively(staging)
        return false
      }
      clearAdopted(outDir, tag)
      val holders = SessionMemo.everySession[InvertedIndex.SegmentHolder](spark,
        InvertedIndex.holderDir(outDir), InvertedIndex.HolderName)
      val stage = new Stage(spark, staging.getPath, holders.flatMap(_.room).maxOption.filter(_ > 0))
      val stats = write(stage)
      val seen = stats.map(_.segment).toSet
      val rows = stats ++ segments.filterNot(seen).map(SegStatRow(_, 0, 0, 0, 0, "0" * 64, 0))
      if (rows.isEmpty) {
        deleteRecursively(staging)
        return false
      }
      val handed = stage.handed(outDir, stats)
      holders.foreach(_.forget(rows.map(_.segment).toSet, tag))
      val adopted = adoptStaged(stage.dir, outDir, tag, stage.segmentsIn)
      val manifests = java.nio.file.Paths.get(manifestDir(outDir))
      rows.foreach { s =>
        val field = lineage(s.segment)
        val extra = if (field.isEmpty) "" else "," + field
        java.nio.file.Files.writeString(manifests.resolve(f"seg-${s.segment}%05d.json"),
          s"""{"segment":${s.segment},"numDocs":${s.numDocs},"numTokens":${s.numTokens},""" +
            s""""numTerms":${s.numTerms},"numPostings":${s.numPostings},""" +
            s""""sha256Agg":"${s.sha256Agg}","buildMs":${s.buildMs}$extra}""")
      }
      val next = prev.next(tag, stats, adopted)
      val tmp = java.nio.file.Files.createTempFile(manifests, "gen", ".tmp")
      java.nio.file.Files.writeString(tmp, next.json)
      java.nio.file.Files.move(tmp, Generation.file(outDir, next.number), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      Generation.numbers(outDir).drop(2).foreach(n => java.nio.file.Files.deleteIfExists(Generation.file(outDir, n)))
      deleteRecursively(staging)
      for (w <- handed; h <- holders) h.addHanded(w, adopted.map { case (k, fs) => k -> fs.map(_.name) })
      true
    }

  private val commitLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The one tagging of source docs for a segment build (the batch build
    * and the live append): segment `firstSegment + segmentOf(repo, path,
    * numSegments)` and the precomputed-score sortKey. */
  def tag(input: Dataset[SourceDoc], firstSegment: Int, numSegments: Int,
          centrality: Map[String, Long]): Dataset[Tagged] = {
    val spark = input.sparkSession
    import spark.implicits._
    val bCent = if (centrality.isEmpty) None else Some(spark.sparkContext.broadcast(centrality))
    input.map { d =>
      val base = sortKeyOf(d.repo, d.path, d.commit)
      // centrality occupies the high bits, the fnv proxy's top 40 the
      // low bits (within-repo tie-break); un-scored repos keep only the
      // low bits and therefore sort below any repo with centrality >= 1.
      // Scores saturate at 2^23-1: the keys compare as SIGNED longs, so
      // a larger score shifted by 40 would set the sign bit and invert
      // the ordering for exactly the most central repos (harmonicExact
      // emits up to ~60 x reachable-nodes — a 140k-node in-ball would
      // overflow without the clamp; ordering among such mega-hubs
      // degrades to the tie-break, never inverts).
      val key = bCent.fold(base) { b =>
        val c = math.min(math.max(b.value.getOrElse(d.repo, 0L), 0L), (1L << 23) - 1)
        (c << 40) | (base >>> 24)
      }
      Tagged(firstSegment + segmentOf(d.repo, d.path, numSegments), key,
        d.repo, d.path, d.commit, d.lang, d.content, d.props, d.links)
    }
  }

  def build(spark: SparkSession, input: Dataset[SourceDoc], outDir: String,
            cfg: Config = Config()): BuildReport = {
    val t0 = System.nanoTime()
    // a resume starts from whole committed files: a missing or truncated
    // one fails here, naming its segments and batch
    Generation.latest(outDir).verify(outDir)
    val S = cfg.numSegments
    val tagged = tag(input, 0, S, cfg.centrality)

    // batches are a STABLE grouping of all segments (independent of what
    // is already done) so the batch tags a generation lists stay
    // meaningful across resumes; an uncommitted batch is re-staged wholesale and
    // commit clears its partial files, so a crash between the data
    // append and the manifest write can never duplicate rows.
    // Each batch re-scans the input and filters to its segments — a
    // DELIBERATE trade: persisting the full tagged corpus to skip the
    // re-scans would materialize the entire (100 TB-class) input once,
    // which costs more than numBatches cheap columnar scans, and the
    // batching only engages when numSegments > segmentsPerBatch anyway
    // (single-batch builds scan once)
    var built = 0
    var skipped = 0
    (0 until S).grouped(cfg.segmentsPerBatch).zipWithIndex.foreach { case (batch, bi) =>
      val committed = commit(spark, outDir, s"b$bi", segments = batch) { stage =>
        val batchSet = batch.toSet
        val slice =
          if (batch.size == S) tagged
          else tagged.filter(t => batchSet.contains(t.segment))
        // over-partition well beyond the segment count: hash placement of S
        // segment keys into exactly S partitions leaves ~37% empty and some
        // with 3-4 segments (straggler waves); at 4x, surplus partitions are
        // cheap no-ops and the max per-task load stays ~1-2 segments. The
        // count never goes below defaultParallelism, so the task count
        // follows the cluster once it has more cores than 4 x segments; the
        // index bytes do not, since each segment lands whole in one
        // partition and its rows depend only on its docs' sort order.
        val parts = sys.env.get("GRAFT_BUILD_PARTS").map(_.toInt)
          .getOrElse(math.max(spark.sparkContext.defaultParallelism,
            math.min(batch.size * 4, 4096)))
        writeSegments(slice, parts, stage, cfg)
      }
      if (committed) built += batch.size else skipped += batch.size
    }

    // the stat rows of the newest generation, read on the driver: an
    // empty build commits a generation of zero rows, a valid
    // BuildReport(0, 0, ...)
    val allStats = Generation.latest(outDir).stats
    // serving-tier global static-rank ordinal: derived data computed
    // AFTER the commits (a crash here just loses the derived table; the
    // index itself is already committed, and rankSignals degrades to its
    // counting pass until a re-run re-derives it)
    if (cfg.storeGlobalRank) GlobalRank.refresh(spark, outDir, allStats)
    // skipped counts the batches the generation listed only: segment
    // manifests of a batch it does not list (a run that crashed before
    // its generation) are REBUILT, so they must not report as skipped
    BuildReport(allStats.map(_.numDocs).sum, allStats.map(_.numTokens).sum,
      built, skipped, (System.nanoTime() - t0) / 1000000)
  }

  /** Shared segment-build stage: shuffle to segments, sort, accumulate,
    * serialize, write parquet partitioned by row kind into
    * `<stage.dir>/kind=*` (overwrite — callers stage then adopt, see
    * commit). Used by the batch build and the live (streaming)
    * micro-batch append. Returns the stat rows it wrote: each task
    * reports its rows once, after its last one, into the stage's
    * accumulator (with a room, its fnorm rows and doc keys too, within
    * its share of the room), so nothing is read back. */
  def writeSegments(tagged: Dataset[Tagged], parts: Int, stage: Stage,
                    cfg: Config): Seq[SegStatRow] = {
    // the tagging already applied centrality: the tasks need no copy of
    // the (possibly large) map
    val taskCfg = cfg.copy(centrality = Map.empty)
    // a share per partition bounds the tasks' rows together by the room
    val share = stage.room.map(_ / parts)
    val written = stage.written
    import tagged.sparkSession.implicits._
    tagged
      .repartition(parts, col("segment"))
      .sortWithinPartitions(col("segment"), col("sortKey").desc,
        col("repo"), col("path"), col("commit"))
      .mapPartitions(it => new Reporting(new SegmentEmitter(it, taskCfg), share, written))
      .write.mode(SaveMode.Overwrite).partitionBy("kind")
      .parquet(stage.dir)
    stage.writtenStats
  }

  /** Passes one write task's rows through and reports them once, after
    * the last (the write's result stage, where Spark applies a task's
    * accumulator update once per partition): the stat rows, and with a
    * `share`, the fnorm rows and doc keys, charged as the key collect
    * charges them (InvertedIndex.keyBytes), until they pass it. The
    * build, the live append and the merge (with no share) all report
    * through it. */
  private[index] final class Reporting(rows: Iterator[BuildRow], share: Option[Long],
                                       written: CollectionAccumulator[Written]) extends Iterator[BuildRow] {
    private val stats = Seq.newBuilder[SegStatRow]
    private val fnorms = Seq.newBuilder[FnormRow]
    private val keys = Seq.newBuilder[DocKeyRow]
    private var within = share.isDefined
    private var charged = 0L
    private var reported = false

    def hasNext: Boolean = rows.hasNext || {
      if (!reported) {
        reported = true
        written.add(Written(TaskContext.getPartitionId(), stats.result(),
          if (within) Some((fnorms.result(), keys.result())) else None))
      }
      false
    }

    def next(): BuildRow = {
      val r = rows.next()
      r.stat.foreach(stats += _)
      if (within) {
        r.fnorm.foreach { f => fnorms += f; charged += f.numDocs }
        r.doc.foreach { d =>
          val k = DocKeyRow(d.segment, d.docId, d.repo, d.path, d.sortKey, d.commit, d.simhash)
          keys += k
          charged += InvertedIndex.keyBytes(k)
        }
        if (charged > share.get) {
          within = false
          fnorms.clear()
          keys.clear()
        }
      }
      r
    }
  }

  /** Streams a sorted partition, building one segment at a time fully
    * in RAM and flushing it as doc/fnorm/posting/stat rows. */
  private final class SegmentEmitter(it: Iterator[Tagged], cfg: Config)
      extends Iterator[BuildRow] {
    import cfg._
    private var pending: Iterator[BuildRow] = Iterator.empty
    private var curSeg = -1
    private var t0 = 0L
    private var docs = new scala.collection.mutable.ArrayBuffer[DocRow]
    private var fnorms = new java.io.ByteArrayOutputStream()
    private var fnormsBigram = new java.io.ByteArrayOutputStream()
    private var fnormsTrigram = new java.io.ByteArrayOutputStream()
    private val table = new TermTable(recordPositions)
    private var numTokens = 0L
    // the CLAMPED shadow-field totals SegmentRows averages over
    private var bigramTokens = 0L
    private var trigramTokens = 0L
    private var shaAgg = new Array[Byte](32)

    // curSeg >= 0 means the current segment is accumulated but not yet
    // flushed — without that clause the final segment of a partition is
    // silently dropped whenever `pending` drains exactly at input end
    // (e.g. a 1-doc segment sorted after a larger one).
    def hasNext: Boolean = pending.hasNext || it.hasNext || curSeg >= 0

    def next(): BuildRow = {
      while (!pending.hasNext) {
        if (!it.hasNext) {
          if (curSeg >= 0) { pending = flush(); curSeg = -1 }
          else throw new NoSuchElementException
        } else {
          val t = it.next()
          if (t.segment != curSeg) {
            val f = if (curSeg >= 0) flush() else Iterator.empty
            reset(t.segment)
            addDoc(t)
            if (f.hasNext) pending = f
          } else addDoc(t)
        }
      }
      pending.next()
    }

    private def reset(seg: Int): Unit = {
      curSeg = seg
      t0 = System.nanoTime()
      docs = new scala.collection.mutable.ArrayBuffer[DocRow]
      fnorms = new java.io.ByteArrayOutputStream()
      fnormsBigram = new java.io.ByteArrayOutputStream()
      fnormsTrigram = new java.io.ByteArrayOutputStream()
      table.clear() // flush() snapshotted its entries; buffers survive
      numTokens = 0L
      bigramTokens = 0L
      trigramTokens = 0L
      shaAgg = new Array[Byte](32)
    }

    /** Visit every indexed (term, position) of a doc: the content field
      * plus the stemmed / bigram shadow fields (reference field
      * expansion: each field is its own term space). The stemmer is
      * selected per document language (reference
      * schema/text_field.rs:294-326; non-natural languages fall back to
      * English, so a source-code corpus is unaffected). */
    @inline private def forEachTerm(toks: Array[String], stem: String => String)
                                   (f: (String, Int) => Unit): Unit = {
      var p = 0
      while (p < toks.length) {
        f(toks(p), p)
        if (indexStemmed) f(Fields.StemPrefix + stem(toks(p)), p)
        if (indexBigrams && p + 1 < toks.length)
          f(Fields.bigramTerm(toks(p), toks(p + 1)), p)
        if (indexTrigrams && p + 2 < toks.length)
          f(Fields.trigramTerm(toks(p), toks(p + 1), toks(p + 2)), p)
        p += 1
      }
    }

    private def addDoc(t: Tagged): Unit = {
      val docId = docs.length
      // the TermTable carries per-doc counts + inline position encoding,
      // so the content-only configuration streams tokens with ZERO
      // allocation for known terms (no per-doc map, no token Strings on
      // the ASCII path); shadow fields need materialized tokens and go
      // through the same table via the default tokenizer
      var simhash = 0L
      val nTok =
        if (!indexStemmed && !indexBigrams && !indexTrigrams &&
            !computeSimhash && !indexQuality)
          Tokenizers.tokenizeInto(t.content, table)
        else {
          val toks = Tokenizers.default(t.content)
          val stem = graft.core.Stemmers.forLanguage(t.lang)
          forEachTerm(toks, stem)((term, p) => table.token(term, p))
          if (computeSimhash) simhash = graft.ops.Dedup.simhash64(toks)
          // build-time safe-search classification: flagged docs carry
          // the marker term `safe:on` must-nots (position 0, not
          // counted into content stats, like the meta fields)
          if (indexQuality && Fields.lowQuality(toks))
            table.token(Fields.QualityLowTerm, 0)
          toks.length
        }
      if (indexMeta) {
        // metadata shadow terms (positions meaningless: all at 0; these
        // fields never run phrases and do not count into content stats)
        table.token(Fields.repoTerm(t.repo), 0)
        table.token(Fields.langTerm(t.lang), 0)
        table.token(Fields.exactTerm(t.repo, t.path), 0)
        val pToks = Tokenizers.default(t.path)
        var pi = 0
        while (pi < pToks.length) { table.token(Fields.urlTerm(pToks(pi)), 0); pi += 1 }
        val base = t.path.substring(t.path.lastIndexOf('/') + 1)
        val bToks = Tokenizers.default(base)
        pi = 0
        while (pi < bToks.length) { table.token(Fields.titleTerm(bToks(pi)), 0); pi += 1 }
      }
      if (indexJson && t.props.nonEmpty) {
        // flattened json leaves as identity terms (positions at 0; not
        // counted into content stats, like the meta fields)
        Tokenizers.flattenJson(t.props)
          .foreach(tok => table.token(Fields.jsonTerm(tok), 0))
      }
      if (indexLinks && t.links.nonEmpty) {
        // outgoing-link targets as identity terms (positions at 0, not
        // counted into content stats, like the meta fields). Callers
        // pass DISTINCT targets; duplicates would bump tf and shift the
        // term's BM25 for no semantic reason.
        t.links.foreach(l => table.token(Fields.linkTerm(l), 0))
      }
      if (indexKeyPhrases) {
        // per-doc RAKE keywords, each whole phrase ONE term (reference
        // newline-tokenizes webpage.keywords into key_phrases); the
        // dictionary walk scores by doc_freq, so tf/positions are moot
        graft.core.Rake.keywords(t.content)
          .foreach(k => table.token(Fields.keyPhraseTerm(k.text), 0))
      }
      table.endDoc(docId)
      val fnId = FieldNorm.fieldNormToId(nTok.toLong)
      fnorms.write(fnId & 0xff)
      if (indexBigrams) {
        fnormsBigram.write(FieldNorm.fieldNormToId(math.max(nTok - 1, 0).toLong) & 0xff)
        bigramTokens += math.max(nTok - 1, 0)
      }
      if (indexTrigrams) {
        fnormsTrigram.write(FieldNorm.fieldNormToId(math.max(nTok - 2, 0).toLong) & 0xff)
        trigramTokens += math.max(nTok - 2, 0)
      }
      numTokens += nTok
      val sha = sha256(t.content)
      var i = 0
      while (i < 32) { shaAgg(i) = (shaAgg(i) ^ sha(i)).toByte; i += 1 }
      docs += DocRow(curSeg, docId, t.repo, t.path, t.commit, t.lang, hex(sha),
        nTok, fnId, t.sortKey, simhash)
    }

    private def flush(): Iterator[BuildRow] = {
      // capture everything locally: the emitted iterator is consumed
      // lazily after reset() repoints the mutable fields
      val seg = curSeg
      val segDocs = docs
      val (terms, termBufs) = table.sortedEntries()
      var totalPostings = 0L
      locally { var i = 0
        while (i < terms.length) { totalPostings += termBufs(i).docs.n; i += 1 } }
      val buildMs = (System.nanoTime() - t0) / 1000000
      val fnArrs = Seq(Fields.Content -> fnorms, Fields.Bigram -> fnormsBigram,
        Fields.Trigram -> fnormsTrigram)
        .collect { case (field, s) if s.size > 0 => field -> s.toByteArray }.toMap
      val rows = new SegmentRows(seg, segDocs.length, numTokens, fnArrs,
        bigramTokens, trigramTokens, cfg)
      val segShaHex = hex(shaAgg)
      val postRows = terms.indices.iterator.flatMap { ti =>
        val pb = termBufs(ti)
        rows.postings(terms(ti), pb.docs.toArray, pb.tfs.toArray,
          if (pb.pos == null) null else pb.pos.toByteArray)
      }
      // `++` takes its operand by name: the stat row is made once the
      // posting rows have drained
      segDocs.iterator.map(d => BuildRow("doc", seg, Some(d), None, None, None)) ++
        rows.fnormRows ++ postRows ++
        Iterator.single(rows.statRow(totalPostings, segShaHex, buildMs))
    }
  }

  /** The one encoder of a segment's fnorm, posting and stat rows, shared
    * by the build (SegmentEmitter) and the merge (SegmentMerge). Fnorm
    * chunking, each term's fieldnorms and BM25 average and hot-term
    * sharding live here only, so a merged segment's rows are a fresh
    * build's rows by construction.
    *
    * @param fnorms        per fnorm field (Content always, Bigram and
    *                      Trigram when indexed), the per-doc fieldnorm ids
    * @param bigramTokens  the CLAMPED per-doc sums max(n-1, 0) and
    * @param trigramTokens max(n-2, 0): each shadow-field average is then
    *                      the mean of its stored norms even when the
    *                      segment holds empty or one-token docs
    */
  private[index] final class SegmentRows(seg: Int, numDocs: Int, numTokens: Long,
                                         fnorms: Map[Int, Array[Byte]],
                                         bigramTokens: Long, trigramTokens: Long,
                                         cfg: Config) {
    private val chunk = cfg.fnormChunkSize
    private val maxShard = cfg.maxPostingsPerShard
    private var numTerms = 0L

    /** Each field's fieldnorms in rows of fnormChunkSize docs, fields in
      * id order; a row's chunk id is (field << FnormFieldShift) | index. */
    def fnormRows: Iterator[BuildRow] =
      fnorms.toSeq.sortBy(_._1).iterator.flatMap { case (field, arr) =>
        Iterator.range(0, (arr.length + chunk - 1) / chunk).map { c =>
          val off = c * chunk
          val end = math.min(off + chunk, arr.length)
          BuildRow("fnorm", seg, None, None,
            Some(FnormRow(seg, (field << Fields.FnormFieldShift) | c, end - off,
              java.util.Arrays.copyOfRange(arr, off, end))), None)
        }
      }

    /** One term's posting rows. A term with more than
      * maxPostingsPerShard docs splits into shards of that many (bounding
      * row size and per-task query memory); each shard takes its docs'
      * position bytes. `posBytes` is null when positions are off. */
    def postings(term: String, docs: Array[Int], tfs: Array[Int],
                 posBytes: Array[Byte]): Iterator[BuildRow] = {
      numTerms += 1
      // shadow fields score against their own fieldnorms and averages
      val field = Fields.fieldOf(term)
      val avg =
        if (numDocs == 0) 1.0f
        else (if (field == Fields.Bigram) math.max(bigramTokens, 1L)
              else if (field == Fields.Trigram) math.max(trigramTokens, 1L)
              else numTokens).toFloat / numDocs.toFloat
      val w = Bm25Weight.forTerm(docs.length.toLong, numDocs.toLong, avg)
      val fn = fnorms.getOrElse(Fields.fnormFieldOf(field), fnorms(Fields.Content))
      def row(shard: Int, d: Array[Int], t: Array[Int], p: Array[Byte]): BuildRow =
        BuildRow("posting", seg, None,
          Some(PostingRow.from(seg, shard, 0, PostingListData.build(term, d, t, w, fn, p))),
          None, None)
      val df = docs.length
      if (df <= maxShard) Iterator.single(row(0, docs, tfs, posBytes))
      else {
        val posOffs =
          if (posBytes == null) null else PostingListData.positionOffsets(posBytes, tfs)
        Iterator.range(0, (df + maxShard - 1) / maxShard).map { sh =>
          val (from, to) = (sh * maxShard, math.min((sh + 1) * maxShard, df))
          row(sh, java.util.Arrays.copyOfRange(docs, from, to),
            java.util.Arrays.copyOfRange(tfs, from, to),
            if (posOffs == null) null
            else java.util.Arrays.copyOfRange(posBytes, posOffs(from), posOffs(to)))
        }
      }
    }

    /** The segment's stat row; make it after the posting rows have
      * drained, since it counts their terms. */
    def statRow(numPostings: Long, sha256Agg: String, buildMs: Long): BuildRow =
      BuildRow("stat", seg, None, None, None, Some(SegStatRow(seg, numDocs.toLong,
        numTokens, numTerms, numPostings, sha256Agg, buildMs)))
  }
}
