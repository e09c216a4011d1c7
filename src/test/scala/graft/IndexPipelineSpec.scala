package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.index._

/** The shared test session. A suite that stops it (SessionMemoSpec)
  * leaves the next caller a fresh session on a new context. */
object SparkTestSession {
  private var live: SparkSession = _

  def spark: SparkSession = synchronized {
    if (live == null || live.sparkContext.isStopped) {
      live = SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      live.sparkContext.setLogLevel("ERROR")
    }
    live
  }
}

/** Temp dirs for the specs' indexes and checkpoints. Each is deleted,
  * recursively, when the forked test JVM exits: File.deleteOnExit
  * cannot remove a non-empty directory. */
object TestDirs {
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    made.forEach(d => IndexBuilder.deleteRecursively(d))))

  /** A new empty dir named `prefix…` under the system temp dir. */
  def apply(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    made.add(d)
    d.getAbsolutePath
  }
}

/** End-to-end: corpus -> segmented index -> BM25 top-k, verified three
  * ways (SURVEY.md §7.2): WAND == exhaustive oracle, scores == the
  * relational (join/agg) BM25 computed from raw tokens, and per-row
  * sha256 fidelity. */
class IndexPipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def tmpDir(): String = TestDirs("graftidx")

  private lazy val corpus = Corpus.generate(spark, 800, seed = 42L, partitions = 7).cache()

  private lazy val (dir, index) = {
    val d = tmpDir()
    IndexBuilder.build(spark, corpus, d, IndexBuilder.Config(numSegments = 4))
    (d, new InvertedIndex(spark, d))
  }

  test("build is complete and idempotent (segment-granularity resume)") {
    assert(index.stats.numDocs == 800)
    assert(index.stats.numSegments == 4)
    val again = IndexBuilder.build(spark, corpus, dir, IndexBuilder.Config(numSegments = 4))
    assert(again.segmentsSkipped == 4)
    assert(again.numDocs == 800)
  }

  test("final 1-doc segment in a partition is not dropped (ADVICE r1 high)") {
    import spark.implicits._
    // one partition, sorted: 9 docs of segment 0, then a single doc of
    // segment 1 — the 1-doc final segment is consumed exactly at the
    // previous segment's flush boundary, the case the old
    // SegmentEmitter.hasNext silently dropped
    val rows = (0 until 9).map(i =>
      IndexBuilder.Tagged(0, 1000L - i, "r", s"p$i", "c", "en",
        s"alpha beta doc$i content")) :+
      IndexBuilder.Tagged(1, 1L, "r", "solo", "c", "en", "solo gamma text")
    val out = tmpDir()
    IndexBuilder.commit(spark, out, "b0") { stage =>
      IndexBuilder.writeSegments(spark.createDataset(rows), 1, stage,
        IndexBuilder.Config(numSegments = 2))
    }
    val idx = new InvertedIndex(spark, out)
    assert(idx.docs.count() == 10)
    val seg1 = idx.segStats.filter(_.segment == 1).collect()
    assert(seg1.length == 1 && seg1.head.numDocs == 1)
    assert(idx.docs.filter(_.segment == 1).count() == 1)
  }

  test("Ingest: format-agnostic table contract + fidelity report") {
    import spark.implicits._
    // parquet face of the exact Iceberg input schema
    val p = tmpDir() + "/src"
    corpus.toDF().write.parquet(p)
    val docs = Ingest.sourceDocs(spark, p, format = "parquet")
    assert(docs.count() == 800)
    // required contract columns + the defaulted optional props/links
    assert(docs.columns.toSeq == Ingest.Columns ++ Seq("props", "links"))
    assert(docs.head().props == "")
    assert(docs.head().links.isEmpty)
    val (ok, bad, missing) = Ingest.fidelityReport(spark, docs, dir)
    assert(ok == 800 && bad == 0 && missing == 0)
    // a corrupted row is caught
    val tampered = docs.map(d =>
      if (d.path.endsWith("file_0001.rs")) d.copy(content = d.content + " x") else d)
    val (_, bad2, _) = Ingest.fidelityReport(spark, tampered, dir)
    assert(bad2 == tampered.collect().count(_.content.endsWith(" x")))
  }

  test("per-row sha256 fidelity vs ingest") {
    import spark.implicits._
    val fromIndex = index.docs.map(d => (d.repo, d.path, d.sha256))
    val fromSource = corpus.map(c => (c.repo, c.path, IndexBuilder.sha256Hex(c.content)))
    assert(fromIndex.except(fromSource).count() == 0)
    assert(fromSource.except(fromIndex).count() == 0)
  }

  test("WAND == exhaustive oracle on the fixture query set") {
    val queries = Seq("spark session", "query engine", "the", "license apache spark",
      "great website", "tok011 tok012 tok013", "zzsalt5a", "data data data data",
      "c++", "nosuchtokenanywhere", "index merge sort hash join")
    queries.foreach { q =>
      val w = index.searchRaw(q, 20, "or")
      val e = index.searchRaw(q, 20, "exhaustive")
      assert(w.toSeq == e.toSeq, s"query '$q'")
    }
  }

  test("scores match relational BM25 (join/agg oracle)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val terms = index.queryTerms("spark session")
    val N = index.stats.numDocs
    val avgFn = index.stats.avgFieldNorm
    // relational path: explode tokens, tf per (doc, term), join stats
    val toks = corpus.flatMap { d =>
      val tf = graft.core.Tokenizers.termFreqs(d.content)
      val fnId = graft.core.FieldNorm.fieldNormToId(
        { var s = 0L; tf.values.forEach(v => s += v); s })
      terms.flatMap { t =>
        val c = tf.getOrDefault(t, 0)
        if (c > 0) Some((d.repo, d.path, t, c, fnId.toInt)) else None
      }
    }.toDF("repo", "path", "term", "tf", "fnId")
    val dfs = index.dfOf(terms.toSeq)
    val rows = toks.collect()
    val weights = dfs.map { case (t, df) =>
      t -> new graft.core.Bm25Weight(graft.core.Bm25.idf(df, N) * 2.2f, avgFn)
    }
    val scored = rows.groupBy(r => (r.getString(0), r.getString(1))).map { case (k, rs) =>
      var s = 0.0
      rs.sortBy(_.getString(2)).foreach { r =>
        s += weights(r.getString(2)).score(r.getInt(4).toByte, r.getInt(3)).toDouble
      }
      k -> s
    }
    val top = index.search("spark session", 10, "or")
    top.foreach { h =>
      val rel = scored((h.repo, h.path))
      assert(math.abs(rel - h.score) < 1e-4 * math.abs(rel),
        s"doc ${h.repo}/${h.path}: engine=${h.score} relational=$rel")
    }
  }

  test("AND intersection and negation semantics") {
    import spark.implicits._
    val hitsAnd = index.search("spark session", 50, "and")
    // brute force: docs containing BOTH tokens
    val expect = corpus.flatMap { d =>
      val tf = graft.core.Tokenizers.termFreqs(d.content)
      if (tf.containsKey("spark") && tf.containsKey("session")) Some((d.repo, d.path)) else None
    }.collect().toSet
    assert(hitsAnd.map(h => (h.repo, h.path)).toSet.subsetOf(expect))
    val andCount = index.searchRaw("spark session", Int.MaxValue - 1, "and").length
    assert(andCount == expect.size)

    val neg = index.searchRaw("spark", 1000, "or", minusTerms = Seq("session"))
    val negSet = index.resolve(neg, neg.length).map(h => (h.repo, h.path)).toSet
    val expectNeg = corpus.flatMap { d =>
      val tf = graft.core.Tokenizers.termFreqs(d.content)
      if (tf.containsKey("spark") && !tf.containsKey("session")) Some((d.repo, d.path)) else None
    }.collect().toSet
    assert(negSet == expectNeg)
  }

  test("phrase search matches brute-force positions scan") {
    import graft.core.{Bm25, Bm25Weight, FieldNorm, Tokenizers}
    val phrases = Seq("spark session", "the license", "data data",
      "query engine block", "table the")
    val N = index.stats.numDocs
    val avgFn = index.stats.avgFieldNorm
    phrases.foreach { p =>
      val ptoks = Tokenizers.default(p).toSeq
      val dfs = index.dfOf(ptoks.distinct)
      // expected: same float summation order as the engine
      var wsum = 0.0f
      ptoks.foreach(t => wsum += Bm25.idf(dfs(t), N) * (1.0f + Bm25.K1))
      val pw = new Bm25Weight(wsum, avgFn)
      val want = corpus.collect().flatMap { d =>
        val toks = Tokenizers.default(d.content)
        var freq = 0
        var i = 0
        while (i + ptoks.length <= toks.length) {
          var k = 0
          while (k < ptoks.length && toks(i + k) == ptoks(k)) k += 1
          if (k == ptoks.length) freq += 1
          i += 1
        }
        if (freq == 0) None
        else Some((d.repo, d.path,
          pw.score(FieldNorm.fieldNormToId(toks.length.toLong), freq)))
      }.toSet
      val got = index.search(p, 100000, "phrase")
        .map(h => (h.repo, h.path, h.score)).toSet
      assert(got == want, s"phrase '$p': got ${got.size}, want ${want.size}")
    }
  }

  test("hot-term sharding produces identical results") {
    val d2 = tmpDir()
    IndexBuilder.build(spark, corpus, d2,
      IndexBuilder.Config(numSegments = 4, maxPostingsPerShard = 64))
    val sharded = new InvertedIndex(spark, d2)
    import spark.implicits._
    assert(sharded.postings.filter(_.shard > 0).count() > 0, "expected shards")
    Seq("the", "license apache", "spark session query", "data index").foreach { q =>
      assert(sharded.searchRaw(q, 20, "or").toSeq == index.searchRaw(q, 20, "or").toSeq,
        s"query '$q'")
    }
  }

  test("empty input builds a zero-doc report instead of crashing") {
    import spark.implicits._
    val dir = tmpDir()
    val report = IndexBuilder.build(spark, spark.emptyDataset[SourceDoc], dir,
      IndexBuilder.Config(numSegments = 4))
    assert(report.numDocs == 0 && report.numTokens == 0)
    // and the committed (empty) batches resume as skipped
    val again = IndexBuilder.build(spark, spark.emptyDataset[SourceDoc], dir,
      IndexBuilder.Config(numSegments = 4))
    assert(again.segmentsSkipped == 4 && again.segmentsBuilt == 0)
  }

  test("AND: a term absent from a segment rules out that segment's docs") {
    import spark.implicits._
    // 'raretoken' lives in ONE doc (one segment); every other segment
    // still contains 'common' — intersecting only the PRESENT cursors
    // there would wrongly return common-only docs
    val docs = Seq(
      SourceDoc("r1", "a.md", "c", "en", "common raretoken words here"),
      SourceDoc("r2", "b.md", "c", "en", "common words appear here"),
      SourceDoc("r3", "c.md", "c", "en", "common and more words"),
      SourceDoc("r4", "d.md", "c", "en", "common words again here"))
    val dir = tmpDir()
    IndexBuilder.build(spark, spark.createDataset(docs), dir,
      IndexBuilder.Config(numSegments = 3))
    val idx = new InvertedIndex(spark, dir)
    val hits = idx.search("common raretoken", 10, "and")
    assert(hits.map(_.repo).toSet == Set("r1"), hits.map(_.repo).toSeq)
  }

  test("centrality store steers docid assignment (speedy-kv analog)") {
    import spark.implicits._
    val corpus = Corpus.generate(spark, 300, seed = 13L).cache()
    val favourite = corpus.map(_.repo).distinct().collect().sorted.head
    val d = tmpDir()
    IndexBuilder.build(spark, corpus, d,
      IndexBuilder.Config(numSegments = 4,
        centrality = Map(favourite -> 5L)))
    val idx = new InvertedIndex(spark, d)
    // within every segment, the scored repo's docs occupy the SMALLEST
    // docids (docids are assigned in sortKey-descending order and the
    // centrality key dominates the fnv tie-break bits)
    val rows = idx.docs.map(r => (r.segment, r.docId, r.repo)).collect()
    rows.groupBy(_._1).foreach { case (_, seg) =>
      val fav = seg.filter(_._3 == favourite).map(_._2)
      val rest = seg.filter(_._3 != favourite).map(_._2)
      if (fav.nonEmpty && rest.nonEmpty)
        assert(fav.max < rest.min,
          s"favourite docids $fav not all below ${rest.min}")
    }
    // default (empty map) stays byte-identical to the fnv proxy path:
    // golden fixtures elsewhere pin that invariant
    // overflow guard: a mega-hub score saturates instead of flipping
    // the signed sort-key ordering
    val d2 = tmpDir()
    IndexBuilder.build(spark, corpus, d2,
      IndexBuilder.Config(numSegments = 4,
        centrality = Map(favourite -> (1L << 30))))
    val idx2 = new InvertedIndex(spark, d2)
    idx2.docs.map(r => (r.segment, r.docId, r.repo)).collect()
      .groupBy(_._1).foreach { case (_, seg) =>
        val fav = seg.filter(_._3 == favourite).map(_._2)
        val rest = seg.filter(_._3 != favourite).map(_._2)
        if (fav.nonEmpty && rest.nonEmpty)
          assert(fav.max < rest.min, "saturated score must still sort first")
      }
  }

  test("determinism: same index at different parallelism") {
    val d3 = tmpDir()
    val corpus2 = Corpus.generate(spark, 800, seed = 42L, partitions = 3)
    IndexBuilder.build(spark, corpus2, d3, IndexBuilder.Config(numSegments = 4))
    val idx3 = new InvertedIndex(spark, d3)
    Seq("spark session", "the license", "query").foreach { q =>
      assert(idx3.searchRaw(q, 20, "or").toSeq == index.searchRaw(q, 20, "or").toSeq)
    }
    // doc ids themselves are identical
    import spark.implicits._
    val a = index.docs.map(d => (d.segment, d.docId, d.repo, d.path)).collect().toSet
    val b = idx3.docs.map(d => (d.segment, d.docId, d.repo, d.path)).collect().toSet
    assert(a == b)
  }

  test("multi-batch build resumes at segment granularity after a crash past adoption") {
    // 5 segments, 3 per batch: b0 = {0, 1, 2}, b1 = {3, 4}
    val cfg = IndexBuilder.Config(numSegments = 5, segmentsPerBatch = 3)
    val d = tmpDir()
    val first = IndexBuilder.build(spark, corpus, d, cfg)
    assert(first.segmentsBuilt == 5 && first.segmentsSkipped == 0)
    // a crash after b1's adoption: its rows are in, its manifests and
    // generation are not
    val manifest = (seg: Int) =>
      java.nio.file.Paths.get(IndexBuilder.manifestDir(d), f"seg-$seg%05d.json")
    Crashes.beforeGeneration(d, "b1")
    Seq(3, 4).foreach(seg => java.nio.file.Files.delete(manifest(seg)))
    val again = IndexBuilder.build(spark, corpus, d, cfg)
    assert(again.segmentsSkipped == 3 && again.segmentsBuilt == 2)
    assert(again.numDocs == 800)
    assert(IndexBuilder.batchCommitted(d, "b1"))
    assert((0 until 5).forall(seg => java.nio.file.Files.exists(manifest(seg))))
    val single = tmpDir()
    IndexBuilder.build(spark, corpus, single, IndexBuilder.Config(numSegments = 5))
    IndexRows.assertSame(spark, d, single)
  }

  test("build job counts: fresh single-batch builds, and a committed re-run only reads its stats") {
    // a computed input, so that any extra pass over it shows as a job;
    // 2 = shuffle-map stage and write (the write hands the commit its
    // stat rows, and the report reads them from the generation)
    val input = Corpus.generate(spark, 200, seed = 29L, partitions = 3)
    assert(SparkJobs.count(spark)(
      IndexBuilder.build(spark, input, tmpDir(), IndexBuilder.Config(numSegments = 4))) == 2)
    // + 7 for writing the rank table
    val d = tmpDir()
    val cfg = IndexBuilder.Config(numSegments = 4, storeGlobalRank = true)
    assert(SparkJobs.count(spark)(IndexBuilder.build(spark, input, d, cfg)) == 9)
    // the stored rank table still validates, so the re-run leaves it be
    assert(SparkJobs.count(spark)(IndexBuilder.build(spark, input, d, cfg)) == 0)
    assert(new InvertedIndex(spark, d).storedGlobalRanks.nonEmpty)
  }

  /** Each match of `pattern` in src/main/scala with comments blanked, as
    * (File.def, line): the file's name and the last `def` before it. */
  private def mainMatches(pattern: scala.util.matching.Regex): Seq[(String, Int)] = {
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) scalaFiles(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    val files = scalaFiles(new java.io.File("src/main/scala"))
    assert(files.size > 10, "src/main/scala not found")
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    files.flatMap { f =>
      val src = comment.replaceAllIn(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "ISO-8859-1"),
        m => "\n" * m.matched.count(_ == '\n'))
      pattern.findAllMatchIn(src).map { m =>
        val before = src.substring(0, m.start)
        val owner = """def\s+(\w+)""".r.findAllMatchIn(before).toSeq.lastOption
          .map(_.group(1)).getOrElse("")
        (s"${f.getName.stripSuffix(".scala")}.$owner", before.count(_ == '\n') + 1)
      }.toSeq
    }
  }

  private def show(hits: Seq[(String, Int)]): String = hits.map { case (o, l) => s"$o (line $l)" }.mkString("; ")

  test("one committer: no commit step or manifest name outside IndexBuilder.commit (source scan)") {
    // a call of adoptStaged / commitBatch / batchCommitted or a "seg-
    // manifest name in code (comments blanked) is a commit step; in
    // src/main only IndexBuilder.commit takes them
    val hits = mainMatches("""(?<!def )\b(?:adoptStaged|commitBatch|batchCommitted)\(|"seg-""".r)
    assert(hits.nonEmpty, "the scan found not even IndexBuilder.commit")
    assert(hits.map(_._1).distinct == Seq("IndexBuilder.commit"), show(hits))
    // so is a write, move or delete of a generation file: a file call that
    // names one (Generation.file or a "gen- literal) on the same line
    val genWrites = mainMatches(
      """(?:Files\.(?:write\w*|move|copy|delete\w*|new\w*Stream|newBufferedWriter|createFile)|\.delete|renameTo|FileOutputStream|FileWriter)\([^\n]*(?:Generation\.file\(|"gen-)""".r)
    assert(genWrites.map(_._1) == Seq("IndexBuilder.commit", "IndexBuilder.commit"), show(genWrites))
    assert(mainMatches(""""gen-""".r).map(_._1).forall(_.startsWith("Generation.")),
      "a generation file name outside Generation")
  }

  test("one holder rule: only IndexBuilder.commit forgets, adds to and lists every session's segment holders, and only IndexBuilder makes an accumulator (source scan)") {
    // the segment holder's forget and addHanded hooks and
    // SessionMemo.everySession are called by the commit alone
    val hooks = mainMatches("""(?<!def )\b(?:forget|addHanded|everySession)[\[(]""".r)
    assert(hooks.map(_._1).distinct == Seq("IndexBuilder.commit"), show(hooks))
    assert(hooks.size == 3, show(hooks))
    // a write reports what it wrote through IndexBuilder's Stage and
    // Reporting; no other accumulator carries rows to the driver
    val accumulators = mainMatches("""\bcollectionAccumulator\b|\bnew\s+CollectionAccumulator\b""".r)
    assert(accumulators.nonEmpty && accumulators.forall(_._1.startsWith("IndexBuilder.")), show(accumulators))
  }
}
