package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.index._

/** Record-level merge: K segments -> K/fanIn, results must stay exact. */
class SegmentMergeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def tmpDir(): String = TestDirs("graftmerge")

  private lazy val corpus = Corpus.generate(spark, 600, seed = 7L, partitions = 5).cache()

  private lazy val (srcDir, srcIdx) = {
    val d = tmpDir()
    IndexBuilder.build(spark, corpus, d, IndexBuilder.Config(numSegments = 6))
    (d, new InvertedIndex(spark, d))
  }

  private val queries = Seq("spark session", "the", "license apache spark",
    "query engine block", "zzsalt7a", "data table row")

  private def checkMerged(fanIn: Int, cfg: IndexBuilder.Config): Unit = {
    val out = tmpDir()
    SegmentMerge.merge(spark, srcDir, out, fanIn, cfg)
    val merged = new InvertedIndex(spark, out)
    assert(merged.stats.numDocs == 600)
    assert(merged.stats.numTokens == srcIdx.stats.numTokens)
    assert(merged.stats.numSegments == (6 + fanIn - 1) / fanIn)
    // rank-identity within the merged index: WAND == exhaustive
    queries.foreach { q =>
      val w = merged.searchRaw(q, 20, "or")
      val e = merged.searchRaw(q, 20, "exhaustive")
      assert(w.toSeq == e.toSeq, s"merged fanIn=$fanIn query '$q'")
    }
    // same documents and scores as the unmerged index (doc ids remap)
    queries.foreach { q =>
      val a = srcIdx.search(q, 20, "or").map(h => (h.repo, h.path, h.score)).toSet
      val b = merged.search(q, 20, "or").map(h => (h.repo, h.path, h.score)).toSet
      assert(a == b, s"fanIn=$fanIn query '$q'")
    }
    // positions survive the merge: phrase results identical
    Seq("the license", "spark session").foreach { p =>
      val a = srcIdx.search(p, 1000, "phrase").map(h => (h.repo, h.path, h.score)).toSet
      val b = merged.search(p, 1000, "phrase").map(h => (h.repo, h.path, h.score)).toSet
      assert(a == b, s"fanIn=$fanIn phrase '$p'")
    }
    // doc table integrity: every (repo, path) still present exactly once
    import spark.implicits._
    assert(merged.docs.map(d => (d.repo, d.path)).distinct().count() == 600)
  }

  test("merged doc ids are globally score-sorted (docid-order invariant)") {
    val out = tmpDir()
    SegmentMerge.merge(spark, srcDir, out, fanIn = 3, IndexBuilder.Config())
    val merged = new InvertedIndex(spark, out)
    merged.docs.collect().groupBy(_.segment).foreach { case (seg, ds) =>
      val byId = ds.sortBy(_.docId).map(d => (d.repo, d.path)).toSeq
      val byScore = ds.sortBy(d => (d.sortKey, d.repo, d.path, d.commit))(
        Ordering.Tuple4(Ordering.Long.reverse, Ordering.String,
          Ordering.String, Ordering.String)).map(d => (d.repo, d.path)).toSeq
      assert(byId == byScore, s"merged seg $seg lost the docid-order invariant")
    }
  }

  test("merge to one segment == fresh single-segment build (approx path)") {
    val out = tmpDir()
    SegmentMerge.merge(spark, srcDir, out, fanIn = 6, IndexBuilder.Config())
    val merged = new InvertedIndex(spark, out)
    val freshDir = tmpDir()
    IndexBuilder.build(spark, corpus, freshDir, IndexBuilder.Config(numSegments = 1))
    val fresh = new InvertedIndex(spark, freshDir)
    // identical score-ordered id assignment
    assert(merged.docs.collect().map(d => (d.docId, d.repo, d.path)).sortBy(_._1).toSeq ==
      fresh.docs.collect().map(d => (d.docId, d.repo, d.path)).sortBy(_._1).toSeq)
    // ShortCircuit/searchApprox truncation now means the same "top
    // static-rank prefix" on a merged index as on a fresh one
    Seq("spark session", "the license", "data table row").foreach { q =>
      val a = merged.searchApprox(q, 10, 200)
      val b = fresh.searchApprox(q, 10, 200)
      assert(a._1.toSeq == b._1.toSeq && a._2 == b._2 && a._3 == b._3,
        s"approx mismatch on '$q'")
    }
  }

  test("merge 6 -> 3 segments") { checkMerged(2, IndexBuilder.Config()) }
  test("merge 6 -> 1 segment") { checkMerged(6, IndexBuilder.Config()) }
  test("merge with hot-term re-sharding") {
    checkMerged(3, IndexBuilder.Config(maxPostingsPerShard = 128))
  }

  test("merge commits exactly-once: a re-run is a no-op, not a duplication") {
    val out = tmpDir()
    SegmentMerge.merge(spark, srcDir, out, fanIn = 3)
    val merged = new InvertedIndex(spark, out)
    val docsBefore = merged.docs.count()
    val hitsBefore = merged.search("spark session", 10, "or").toSeq
    // re-running the same merge must find its tag committed and change
    // NOTHING (bare Append would double every row)
    SegmentMerge.merge(spark, srcDir, out, fanIn = 3)
    val again = new InvertedIndex(spark, out)
    assert(again.docs.count() == docsBefore)
    assert(again.stats.numDocs == merged.stats.numDocs)
    assert(again.search("spark session", 10, "or").toSeq == hitsBefore)
  }

  test("a merge that crashed after adopting its rows re-runs to one copy, not a refusal") {
    val out = tmpDir()
    SegmentMerge.merge(spark, srcDir, out, fanIn = 3)
    // the crash: the rows are adopted, the manifests and generation are not
    new java.io.File(IndexBuilder.manifestDir(out)).listFiles().foreach(_.delete())
    SegmentMerge.merge(spark, srcDir, out, fanIn = 3)
    val merged = new InvertedIndex(spark, out)
    assert(merged.segStats.collect().map(_.segment).sorted.toSeq == Seq(0, 1))
    assert(merged.stats.numDocs == 600)
    import spark.implicits._
    assert(merged.docs.map(d => (d.segment, d.repo, d.path)).distinct().count() == 600)
    assert(merged.docs.count() == 600)
    assert(Generation.latest(out).batches.count(_.startsWith("merge")) == 1)
  }

  test("merge identity covers the full input set, not just endpoints") {
    // two filtered merges sharing first/last segment ids but differing
    // in membership are DIFFERENT merges: the endpoint-only tag used to
    // satisfy the second from the first's commit, silently skipping it
    // (ADVICE r04). Lineage-hashed tags commit each set separately,
    // while a true re-run of the same set stays a no-op.
    val out = tmpDir()
    def mergeTags(): Seq[String] = Generation.latest(out).batches.filter(_.startsWith("merge"))
    SegmentMerge.merge(spark, srcDir, out, fanIn = 6, segFilter = _ != 2)
    assert(mergeTags().size == 1)
    // exact re-run of the same filtered set: idempotent no-op
    SegmentMerge.merge(spark, srcDir, out, fanIn = 6, segFilter = _ != 2)
    assert(mergeTags().size == 1)
    // same endpoints (0..5), different middle: a different merge, so it
    // must NOT be skipped as done. Its merged segment 0 is already in
    // `out`, so it is refused before staging and the dir stays as it was
    val manifest = java.nio.file.Paths.get(IndexBuilder.manifestDir(out), "seg-00000.json")
    def state() = {
      val idx = new InvertedIndex(spark, out)
      (java.nio.file.Files.readString(manifest), idx.segStats.collect().toSeq,
        idx.docs.collect().toSeq.map(d => (d.segment, d.docId, d.repo, d.path)).sorted)
    }
    val before = state()
    val e = intercept[IllegalArgumentException] {
      SegmentMerge.merge(spark, srcDir, out, fanIn = 6, segFilter = _ != 3)
    }
    assert(e.getMessage.contains(out) && e.getMessage.contains("segment(s) 0,"), e.getMessage)
    assert(mergeTags().size == 1)
    assert(state() == before)
    // into a fresh dir the different set commits under its own tag
    val other = tmpDir()
    SegmentMerge.merge(spark, srcDir, other, fanIn = 6, segFilter = _ != 3)
    val otherTags = Generation.latest(other).batches.filter(_.startsWith("merge"))
    assert(otherTags.size == 1 && !mergeTags().contains(otherTags.head),
      "a different input set must commit its own tag")
  }

  test("merged segments preserve exact per-doc numTokens (end-anchor contract)") {
    // Content END-anchored patterns read DocRow.numTokens for the exact
    // token count; a merge that bucketed or recomputed it would silently
    // break end-anchored matches on compacted indexes
    val out = tmpDir()
    SegmentMerge.merge(spark, srcDir, out, fanIn = 3)
    val merged = new InvertedIndex(spark, out)
    import spark.implicits._
    val before = srcIdx.docs.map(d => ((d.repo, d.path), d.numTokens)).collect().toMap
    val after = merged.docs.map(d => ((d.repo, d.path), d.numTokens)).collect().toMap
    assert(after.size == before.size)
    assert(after == before, "numTokens must survive the merge bit-exactly")
  }

  test("merge refreshes the stored global-rank table; re-run heals a lost one") {
    val out = tmpDir()
    SegmentMerge.merge(spark, srcDir, out, fanIn = 3,
      IndexBuilder.Config(storeGlobalRank = true))
    val merged = new InvertedIndex(spark, out)
    val stats = merged.segStats.collect().toSeq
    val g0 = GlobalRank.load(spark, out, stats)
    assert(g0.nonEmpty, "post-merge table must validate against the merged segs")
    // ordinals equal the strict-precede law over the MERGED doc table
    val all = merged.docs.collect()
    val g = g0.get.collect().map(r => (r.segment, r.docId) -> r.grank).toMap
    def precedes(x: DocRow, y: DocRow): Boolean =
      x.sortKey > y.sortKey || (x.sortKey == y.sortKey &&
        Ordering.Tuple3(Ordering.String, Ordering.String, Ordering.String)
          .lt((x.repo, x.path, x.commit), (y.repo, y.path, y.commit)))
    all.take(50).foreach { r =>
      assert(g((r.segment, r.docId)) == all.count(o => precedes(o, r)).toLong)
    }
    // crash-between-commit-and-refresh: delete the table, re-run the
    // committed merge — the early-return path must heal it
    IndexBuilder.deleteRecursively(new java.io.File(GlobalRank.dirOf(out)))
    assert(GlobalRank.load(spark, out, stats).isEmpty)
    SegmentMerge.merge(spark, srcDir, out, fanIn = 3,
      IndexBuilder.Config(storeGlobalRank = true))
    assert(GlobalRank.load(spark, out, stats).nonEmpty)
    // and the merge itself stayed a no-op (no duplication)
    assert(new InvertedIndex(spark, out).stats.numDocs == 600)
  }

  test("mixed recordPositions segments refuse to merge loudly") {
    import spark.implicits._
    val dir = tmpDir()
    new java.io.File(IndexBuilder.manifestDir(dir)).mkdirs()
    val mk = (r: String, text: String) =>
      SourceDoc(r, "f.md", "c", "en", text)
    graft.streaming.LiveIndex.appendBatch(
      spark.createDataset(Seq(mk("r1", "alpha beta shared words"))), 0L, dir,
      IndexBuilder.Config(numSegments = 1, recordPositions = true))
    graft.streaming.LiveIndex.appendBatch(
      spark.createDataset(Seq(mk("r2", "alpha gamma shared words"))), 1L, dir,
      IndexBuilder.Config(numSegments = 1, recordPositions = false))
    val out = tmpDir()
    val e = intercept[Exception] {
      SegmentMerge.merge(spark, dir, out, fanIn = Int.MaxValue)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      c.getMessage != null && c.getMessage.contains("recordPositions")),
      s"expected the mixed-config rejection, got $e")
  }

  test("skew stress: 95%-df hot term shards through build and merge") {
    // FIXTURES.md §1 skew variant: 'license' injected into ~95% of docs
    val skew = Corpus.generate(spark, 500, seed = 13L, skew = true).cache()
    val src = tmpDir()
    IndexBuilder.build(spark, skew, src,
      IndexBuilder.Config(numSegments = 4, maxPostingsPerShard = 64))
    val idx = new InvertedIndex(spark, src)
    import spark.implicits._
    // the hot term must actually be sharded (df per segment ~119 > 64)
    val hotShards = idx.postings.filter(p => p.term == "license" && p.shard > 0).count()
    assert(hotShards > 0, "expected hot-term shards")
    val out = tmpDir()
    SegmentMerge.merge(spark, src, out, fanIn = 4,
      IndexBuilder.Config(maxPostingsPerShard = 64))
    val merged = new InvertedIndex(spark, out)
    // merged hot list re-sharded, results exact
    assert(merged.postings.filter(p => p.term == "license" && p.shard > 0).count() > 0)
    Seq("license", "license apache", "license spark data").foreach { q =>
      val w = merged.searchRaw(q, 20, "or")
      val e = merged.searchRaw(q, 20, "exhaustive")
      assert(w.toSeq == e.toSeq, s"skew query '$q'")
      val a = idx.search(q, 20, "or").map(h => (h.repo, h.path, h.score)).toSet
      val b = merged.search(q, 20, "or").map(h => (h.repo, h.path, h.score)).toSet
      assert(a == b, s"skew query '$q' merged vs source")
    }
    skew.unpersist()
  }

  private def assertSameRows(a: String, b: String): Unit = IndexRows.assertSame(spark, a, b)

  /** A live index of `batches` appended as batch ids 0, 1, ... */
  private def liveIndexOf(batches: Seq[Seq[SourceDoc]], cfg: IndexBuilder.Config): String = {
    import spark.implicits._
    val dir = tmpDir()
    new java.io.File(IndexBuilder.manifestDir(dir)).mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      graft.streaming.LiveIndex.appendBatch(spark.createDataset(b), i.toLong, dir, cfg)
    }
    dir
  }

  test("live compaction starts 2 Spark jobs: shuffle-map stage, write") {
    val live = liveIndexOf((0L until 3L).map(b =>
      (b * 60L until b * 60L + 60L).map(i => Corpus.mkDoc(i, 11L, skew = false))),
      IndexBuilder.Config())
    val out = tmpDir()
    // the input stat rows and the out dir's come from their generations
    assert(SparkJobs.count(spark)(graft.streaming.LiveIndex.compact(spark, live, out)) == 2)
    assert(new InvertedIndex(spark, out).stats.numDocs == 180)
  }

  test("shadow-field compaction == fresh build, rows and queries (docs of 0, 1, 2 and more tokens)") {
    // A full block stores the (fieldnorm, tf) pair that maximizes the
    // BM25 tf factor under the field's average length, so the clamped
    // shadow-field totals show in the posting bytes. The corpus puts the
    // clamped averages on the far side of a flip from the unclamped
    // ones (an empty doc would count -1 bigrams and -2 trigrams):
    //  - bigram "spark merge": (len 1, tf 1) vs (len 3, tf 2) flips at
    //    an average of 3; the bigram average is 3.5 clamped, 2.9 not;
    //  - trigram "index query block": (len 2, tf 1) vs (len 5, tf 2)
    //    flips at 3; the trigram average is 3.15 clamped, 1.9 not.
    // 256 docs carry each term, two full blocks holding both pairs.
    val kinds =
      Seq.fill(128)("spark merge") ++ Seq.fill(128)("spark merge spark merge") ++
      Seq.fill(128)("index query block table") ++
      Seq.fill(128)("index query block spark index query block") ++
      Seq.fill(384)(Seq.fill(7)("table data row").mkString(" ").split(' ').take(20).mkString(" ")) ++
      Seq.fill(128)("table") ++ Seq.fill(1536)("")
    assert(kinds.size == 2560)
    val docs = kinds.zipWithIndex.map { case (text, i) =>
      SourceDoc(s"org${i % 13}/repo${i % 5}", s"src/f$i.md", s"c$i", "en", text)
    }
    val cfg = IndexBuilder.Config(numSegments = 1, recordPositions = true,
      indexStemmed = true, indexBigrams = true, indexTrigrams = true,
      indexMeta = true, computeSimhash = true)
    val live = liveIndexOf(docs.grouped(640).toSeq, cfg)
    val compacted = tmpDir()
    graft.streaming.LiveIndex.compact(spark, live, compacted, cfg)
    val fresh = tmpDir()
    import spark.implicits._
    IndexBuilder.build(spark, spark.createDataset(docs), fresh, cfg)
    assertSameRows(compacted, fresh)

    val (c, f) = (new InvertedIndex(spark, compacted), new InvertedIndex(spark, fresh))
    // the clamped averages pick the tf-2 pair in every block
    Seq(Fields.bigramTerm("spark", "merge"), Fields.trigramTerm("index", "query", "block"))
      .foreach { t =>
        val rows = c.postings.filter(_.term == t).collect()
        assert(rows.map(_.bwTfs.length).sum == 2 && rows.forall(_.bwTfs.forall(_ == 2)), t)
      }
    assert(c.stats == f.stats && c.stats.numDocs == 2560)
    assert(c.segStats.collect().map(_.numTokens).toSeq == f.segStats.collect().map(_.numTokens).toSeq)
    val batch = Seq(("spark merge", "or"), ("index query table", "or"),
      ("spark merge", "and"), ("table block index", "and"),
      ("merge spark", "phrase"), ("query block table", "phrase"),
      ("spark merge index", "or+")).zipWithIndex.map { case ((q, m), i) =>
      (s"q$i", q, 30, m, Nil) }
    val (bc, bf) = (c.searchBatchRaw(batch), f.searchBatchRaw(batch))
    batch.foreach { case (id, q, _, m, _) =>
      assert(bc(id).nonEmpty, s"'$q' $m")
      assert(bc(id).toSeq == bf(id).toSeq, s"'$q' $m")
    }
    Seq(
      Seq(Fields.bigramTerm("spark", "merge") -> 1.0f, Fields.bigramTerm("data", "row") -> 2.0f),
      Seq(Fields.trigramTerm("index", "query", "block") -> 1.0f,
        Fields.trigramTerm("row", "table", "data") -> 1.5f, "spark" -> 0.5f)
    ).foreach { clauses =>
      val got = c.searchBoosted(clauses, 30)
      assert(got.nonEmpty && got.toSeq == f.searchBoosted(clauses, 30).toSeq, clauses.toString)
    }
  }

  test("positional hot-term shards and chunked fieldnorms: compaction == fresh build, row for row") {
    // 480-doc batches give ~120-doc mini-segments, so each holds two
    // 100-doc fnorm chunks the merge must concatenate in chunk order,
    // and the skew corpus's hot terms exceed 64 docs, so both sides
    // shard position-bearing lists
    val cfg = IndexBuilder.Config(numSegments = 1, maxPostingsPerShard = 64,
      fnormChunkSize = 100, recordPositions = true)
    val batches = (0L until 3L).map(b =>
      (b * 480L until b * 480L + 480L).map(i => Corpus.mkDoc(i, 17L, skew = true)))
    val live = liveIndexOf(batches, cfg)
    assert(new InvertedIndex(spark, live).fnorms.filter(_.chunk > 0).count() > 0,
      "live mini-segments should hold several fnorm chunks")
    val compacted = tmpDir()
    graft.streaming.LiveIndex.compact(spark, live, compacted, cfg)
    val fresh = tmpDir()
    import spark.implicits._
    IndexBuilder.build(spark, spark.createDataset(batches.flatten), fresh, cfg)
    assertSameRows(compacted, fresh)
    val merged = new InvertedIndex(spark, compacted)
    assert(merged.postings.filter(p => p.shard > 0 && p.posBytes.nonEmpty).count() > 0,
      "expected position-bearing hot-term shards")
    assert(merged.fnorms.count() > 1, "expected more than one fnorm row")
  }

  test("docs sharing (repo, path, commit) merge in a fixed order, each keeping its own terms") {
    // at-least-once delivery can bring the same key with different
    // content in several batches: equal (sortKey, repo, path, commit),
    // so only the (oldSeg, docId) tie-break orders them
    val versions = Seq("alphaq", "bravoq", "charlieq", "deltaq")
    def dup(v: String) = SourceDoc("dup/repo", "src/same.md", "c1", "en",
      s"shared spark words $v $v")
    val batches = versions.zipWithIndex.map { case (v, b) =>
      dup(v) +: (b * 40L until b * 40L + 40L).map(i => Corpus.mkDoc(i, 5L, skew = false))
    }
    val live = liveIndexOf(batches, IndexBuilder.Config())
    val (a, b) = (tmpDir(), tmpDir())
    graft.streaming.LiveIndex.compact(spark, live, a)
    graft.streaming.LiveIndex.compact(spark, live, b)
    assertSameRows(a, b)
    val idx = new InvertedIndex(spark, a)
    val docAt = idx.docs.collect().map(d => (d.segment, d.docId) -> d).toMap
    assert(docAt.values.count(_.repo == "dup/repo") == versions.size)
    versions.foreach { v =>
      val hits = idx.searchRaw(v, 5)
      assert(hits.length == 1, v)
      val d = docAt((hits.head._1, hits.head._2))
      assert(d.repo == "dup/repo" && d.sha256 == IndexBuilder.sha256Hex(dup(v).content), v)
    }
  }

  test("live appends key docids by centrality: compaction == fresh build, row for row") {
    // the live tagging is the build's, so a scored repo's docs take the
    // small docids in every mini-segment and the compacted index is the
    // fresh one
    val batches = (0L until 3L).map(b =>
      (b * 90L until b * 90L + 90L).map(i => Corpus.mkDoc(i, 19L, skew = false)))
    val repos = batches.flatten.map(_.repo).distinct.sorted
    val cfg = IndexBuilder.Config(numSegments = 1, centrality =
      repos.zipWithIndex.collect { case (r, i) if i % 3 == 0 => r -> (i + 1).toLong }.toMap)
    val live = liveIndexOf(batches, cfg)
    val compacted = tmpDir()
    graft.streaming.LiveIndex.compact(spark, live, compacted, cfg)
    val fresh = tmpDir()
    import spark.implicits._
    IndexBuilder.build(spark, spark.createDataset(batches.flatten), fresh, cfg)
    assertSameRows(compacted, fresh)
  }

  /** The fields of every seg-*.json manifest under `dir`, by segment. */
  private def manifests(dir: String): Map[Int, Map[String, String]] = {
    val field = """"(\w+)":("[^"]*"|\[[^\]]*\]|-?\d+)""".r
    new java.io.File(IndexBuilder.manifestDir(dir)).listFiles()
      .filter(_.getName.startsWith("seg-")).map { f =>
        val m = field.findAllMatchIn(java.nio.file.Files.readString(f.toPath))
          .map(x => x.group(1) -> x.group(2).stripPrefix("\"").stripSuffix("\"")).toMap
        m("segment").toInt -> m
      }.toMap
  }

  private def fieldsOf(s: SegStatRow): Map[String, String] =
    Map("segment" -> s.segment, "numDocs" -> s.numDocs, "numTokens" -> s.numTokens,
      "numTerms" -> s.numTerms, "numPostings" -> s.numPostings,
      "sha256Agg" -> s.sha256Agg, "buildMs" -> s.buildMs).map { case (k, v) => k -> v.toString }

  test("every manifest is its segment's stat row plus one lineage field: built, live and merged") {
    import spark.implicits._
    def statsOf(dir: String) = new InvertedIndex(spark, dir).segStats.collect().toSeq
    // 50 docs over 64 segments leave some segments empty: they get
    // zero-row manifests
    val built = tmpDir()
    IndexBuilder.build(spark, Corpus.generate(spark, 50, seed = 23L), built,
      IndexBuilder.Config(numSegments = 64))
    val bs = statsOf(built)
    val bm = manifests(built)
    assert(bm.keySet == (0 until 64).toSet && bs.size < 64)
    bs.foreach(s => assert(bm(s.segment) == fieldsOf(s), s"built seg ${s.segment}"))
    (bm.keySet -- bs.map(_.segment)).foreach { seg =>
      assert(bm(seg) == fieldsOf(SegStatRow(seg, 0, 0, 0, 0, "0" * 64, 0)), s"empty seg $seg")
    }

    val live = liveIndexOf((0L until 2L).map(b =>
      (b * 40L until b * 40L + 40L).map(i => Corpus.mkDoc(i, 23L, skew = false))),
      IndexBuilder.Config())
    val ls = statsOf(live)
    assert(manifests(live).keySet == ls.map(_.segment).toSet)
    ls.foreach { s =>
      assert(manifests(live)(s.segment) == fieldsOf(s) +
        ("batchId" -> graft.streaming.LiveIndex.batchIdOf(s.segment).toString),
        s"live seg ${s.segment}")
    }

    val merged = tmpDir()
    SegmentMerge.merge(spark, built, merged, fanIn = 16)
    val ms = statsOf(merged)
    assert(ms.map(_.segment).sorted == Seq(0, 1, 2, 3))
    assert(manifests(merged).keySet == ms.map(_.segment).toSet)
    ms.foreach { s =>
      val from = bs.map(_.segment).filter(_ / 16 == s.segment).sorted
      assert(manifests(merged)(s.segment) == fieldsOf(s) +
        ("mergedFrom" -> from.mkString("[", ",", "]")), s"merged seg ${s.segment}")
    }
  }
}
