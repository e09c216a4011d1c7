package graft

import java.lang.Double.doubleToRawLongBits
import java.lang.Float.floatToRawIntBits
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.index._
import graft.streaming.LiveIndex

/** Resident doc keys (InvertedIndex.docsOf): an instance whose keys are
  * resident, one whose keys do not fit beside its resident fieldnorms,
  * and one whose fieldnorms do not fit either name every hit the same,
  * the keys never take the driver past the residency cap, and a doc
  * table that does not fill its segments' ids fails naming the segment. */
class ResidentKeysSpec extends AnyFunSuite {
  import ResidentKeysSpec._

  lazy val spark: SparkSession = SparkTestSession.spark

  private val seed = 23L
  private val conf = InvertedIndex.ResidentFnormBytesConf
  private val defaultCap = 64L << 20
  private val cfg = IndexBuilder.Config(computeSimhash = true, indexMeta = true, indexBigrams = true)

  // 4 appends of 60 docs: 16 live mini-segments
  private lazy val liveDir = {
    val sp = spark
    import sp.implicits._
    val d = TestDirs("graftkeyslive")
    (0L until 4L).foreach { b =>
      LiveIndex.appendBatch(spark.createDataset(
        (b * 60L until b * 60L + 60L).map(i => Corpus.mkDoc(i, seed, skew = false))), b, d, cfg)
    }
    d
  }
  private lazy val compactDir = {
    val d = TestDirs("graftkeyscompact")
    LiveIndex.compact(spark, liveDir, d, cfg)
    d
  }

  private def withCap[T](cap: Long)(f: => T): T = {
    spark.conf.set(conf, cap.toString)
    try f finally spark.conf.unset(conf)
  }

  private def jobsOf[T](f: => T): Int = SparkJobs.count(spark)(f)

  /** (name, instance, its residency cap) for one index, the instance
    * with resident keys first. */
  private def instances(dir: String): Seq[(String, InvertedIndex, Long)] = {
    val resident = new InvertedIndex(spark, dir)
    val (fn, keys) = (fnormBytes(resident), resident.residentKeyBytes)
    assert(keys > 0 && fn + keys <= defaultCap, s"fieldnorms $fn + keys $keys bytes")
    // a new session holds none of `resident`'s segments: each capped
    // instance collects as a first open does
    def capped(cap: Long) = {
      val s = spark.newSession()
      s.conf.set(conf, cap.toString)
      new InvertedIndex(s, dir)
    }
    Seq(
      ("resident", resident, defaultCap),
      // the scan tasks' shares sum to less than the keys: some task
      // returns the overflow marker
      ("over budget by one byte", capped(fn + keys - 1), fn + keys - 1),
      // too little room for even the smallest keys: no collect at all
      ("over budget, room for no key", capped(fn + 1), fn + 1),
      ("capped", capped(1L), 1L))
  }

  Seq("live" -> (() => liveDir), "compacted" -> (() => compactDir)).foreach { case (kind, dirOf) =>
    test(s"resolve, searchDeduped and rankSignalsOver agree with keys resident, over budget and capped ($kind index)") {
      val dir = dirOf()
      val all = instances(dir)
      val (_, resident, _) = all.head
      assert(resident.stats.numSegments == (if (kind == "live") 16 else 1))
      val keys = allKeys(resident)
      assert(keys.length == 240)
      val want = resident.docsOf(keys)
      assert(want.size == 240 && want.valuesIterator.exists(_.simhash != 0L))
      val queries = Seq("spark data", "query engine table", "merging data tables zzsalt42a", "the license")
      all.foreach { case (name, idx, cap) =>
        val tag = s"$kind, $name"
        val keysResident = name == "resident"
        assert(idx.fnormsResident == (name != "capped"), tag)
        val fn = if (idx.fnormsResident) fnormBytes(idx) else 0L
        // the resident keys were collected above; a collect one byte over
        // budget is one job whose tasks return overflow markers; no room
        // or no resident fieldnorms starts none
        assert(jobsOf(idx.residentKeyBytes) == (if (name == "over budget by one byte") 1 else 0), tag)
        // the driver holds no more than the cap of fieldnorms + keys
        if (keysResident) assert(idx.residentKeyBytes > 0 && fn + idx.residentKeyBytes <= cap, tag)
        else assert(idx.residentKeyBytes == 0, tag)
        // strings, sortKey, commit and simhash of every doc
        assert(idx.docsOf(keys) == want, tag)
        queries.foreach { q =>
          val raw = resident.searchRaw(q, 12)
          assert(raw.nonEmpty, q)
          assert(hitBits(idx.resolve(raw, 12)) == hitBits(resident.resolve(raw, 12)), s"$tag resolve '$q'")
          assert(hitBits(idx.searchDeduped(q, 8)) == hitBits(resident.searchDeduped(q, 8)),
            s"$tag searchDeduped '$q'")
          val cands = resident.searchRaw(q, InvertedIndex.candidateBudget(10), "or+")
          assert(signalBits(idx.rankSignalsOver(q, cands, 10)) ==
            signalBits(resident.rankSignalsOver(q, cands, 10)), s"$tag rankSignalsOver '$q'")
        }
        val raw = resident.searchRaw("spark data", 12)
        assert(jobsOf(idx.resolve(raw, 12)) == (if (keysResident) 0 else 1), s"$tag warm resolve")
      }
    }
  }

  test("a hit with no doc row fails naming its segment and docId, with keys resident and not") {
    val resident = new InvertedIndex(spark, liveDir)
    val capped = withCap(1L)(new InvertedIndex(spark, liveDir))
    val stat = resident.segStats.collect().head
    val (seg, n) = (stat.segment, stat.numDocs.toInt)
    Seq(resident, capped).foreach { idx =>
      Seq((seg, n), (seg, -1), (12345, 0)).foreach { case (s, d) =>
        val e = intercept[IllegalStateException](idx.resolve(Array((seg, 0, 1.0f), (s, d, 0.5f)), 2))
        assert(e.getMessage.contains(s"segment $s, docId $d"), e.getMessage)
      }
    }
  }

  test("resolve names at most k hits, and looks up no key beyond them") {
    val idx = new InvertedIndex(spark, liveDir)
    val raw = idx.searchRaw("spark data", 5)
    assert(raw.length == 5)
    Seq(idx, withCap(1L)(new InvertedIndex(spark, liveDir))).foreach { i =>
      val hits = i.resolve(raw, 2)
      assert(hits.map(h => (h.rank, h.segment, h.docId)).toSeq ==
        raw.take(2).toSeq.zipWithIndex.map { case ((s, d, _), r) => (r + 1, s, d) })
      // a third hit with no doc row is never looked up
      assert(i.resolve(raw.take(2) :+ ((12345, 0, 0.1f)), 2).length == 2)
    }
  }

  private def copyDir(from: String, prefix: String): String = {
    val to = TestDirs(prefix)
    val src = Paths.get(from)
    Files.walk(src).iterator.asScala.foreach { p =>
      val t = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
    to
  }

  private def docFiles(dir: String, kind: String = "doc"): Seq[Path] =
    Files.list(Paths.get(IndexBuilder.dataDir(dir), s"kind=$kind")).iterator.asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)

  /** The segments whose `kind` rows `file` holds. */
  private def segmentsIn(dir: String, file: Path, kind: String = "doc"): Set[Int] = {
    IndexBuilder.readTable(spark, file.toString, IndexBuilder.kindSchema(kind)).select(s"$kind.segment").collect()
      .map(_.getInt(0)).toSet
  }

  /** `e` names a segment of `segs` and says `what`. */
  private def namesSegment(e: IllegalStateException, segs: Set[Int], what: String): Unit = {
    val named = "segment (\\d+):".r.findFirstMatchIn(e.getMessage).map(_.group(1).toInt)
    assert(named.exists(segs), s"$what: ${e.getMessage}")
    assert(e.getMessage.contains(what), e.getMessage)
  }

  /** The first resolve of a fresh instance over `dir` fails naming a
    * segment of `segs`. */
  private def failsNaming(dir: String, segs: Set[Int], what: String): Unit = {
    val idx = new InvertedIndex(spark, dir)
    val raw = idx.searchRaw("spark data", 5)
    assert(raw.nonEmpty)
    namesSegment(intercept[IllegalStateException](idx.resolve(raw, 5)), segs, what)
  }

  // Each damage below fails the open against the generation
  // (GenerationSpec); relisted, as by a generation written over it, the
  // key collect still catches it

  test("a missing, duplicated or truncated doc file fails the key collect, naming the segment") {
    val missing = copyDir(liveDir, "graftkeysmissing")
    val gone = docFiles(missing).head
    val goneSegs = segmentsIn(missing, gone)
    Files.delete(gone)
    relist(spark, missing)
    failsNaming(missing, goneSegs, "have no doc row")

    val duplicated = copyDir(liveDir, "graftkeysdup")
    val twice = docFiles(duplicated).head
    Files.copy(twice, twice.resolveSibling("dup-0.parquet"))
    relist(spark, duplicated)
    failsNaming(duplicated, segmentsIn(duplicated, twice), "more than one doc row")

    // a segment's last doc row dropped: its ids stop short of numDocs
    val truncated = copyDir(liveDir, "grafttrunc")
    val stat = new InvertedIndex(spark, truncated).segStats.collect().head
    val data = IndexBuilder.dataDir(truncated)
    val rewritten = s"$truncated/rewritten"
    IndexBuilder.readTable(spark, s"$data/kind=doc", IndexBuilder.kindSchema("doc"))
      .filter(!(org.apache.spark.sql.functions.col("doc.segment") === stat.segment &&
        org.apache.spark.sql.functions.col("doc.docId") === stat.numDocs.toInt - 1))
      .coalesce(1).write.parquet(rewritten)
    docFiles(truncated).foreach(f => Files.delete(f))
    Files.list(Paths.get(rewritten)).iterator.asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(f => Files.move(f, Paths.get(data, "kind=doc", f.getFileName.toString)))
    relist(spark, truncated)
    failsNaming(truncated, Set(stat.segment), "1 of its")
  }

  test("a dir damaged after a healthy open fails the key collect of a reopen in the same session") {
    // a stat file deleted, as by an append that never wrote it: its
    // segments' doc rows have no stat row
    val orphaned = copyDir(liveDir, "graftkeysorphan")
    assert(new InvertedIndex(spark, orphaned).residentKeyBytes > 0)
    val gone = docFiles(orphaned, "stat").last
    val orphans = segmentsIn(orphaned, gone, "stat")
    Files.delete(gone)
    relist(spark, orphaned)
    namesSegment(intercept[IllegalStateException](new InvertedIndex(spark, orphaned).residentKeyBytes),
      orphans, "doc rows but no stat row")

    // a doc file added under the same stat rows: the held keys are for
    // other files, so the reopen collects and sees the duplicates
    val duplicated = copyDir(liveDir, "graftkeysdupreopen")
    assert(new InvertedIndex(spark, duplicated).residentKeyBytes > 0)
    val twice = docFiles(duplicated).head
    Files.copy(twice, twice.resolveSibling("dup-0.parquet"))
    relist(spark, duplicated)
    failsNaming(duplicated, segmentsIn(duplicated, twice), "more than one doc row")
  }
}

/** What the resident-state specs compare: byte and bit views of an
  * instance's fieldnorms, doc keys and answers. */
object ResidentKeysSpec {
  def fnormBytes(idx: InvertedIndex): Long =
    idx.residentFnormsLocal.valuesIterator.flatMap(_.valuesIterator).map(_.length.toLong).sum

  /** Every (segment, docId) of the index. */
  def allKeys(idx: InvertedIndex): Seq[(Int, Int)] =
    idx.segStats.collect().toSeq.flatMap(s => (0 until s.numDocs.toInt).map(d => (s.segment, d)))

  def hitBits(hs: Array[Hit]) = hs.toSeq.map(h =>
    (h.rank, h.segment, h.docId, floatToRawIntBits(h.score), h.repo, h.path))

  def signalBits(hs: Array[(Hit, Map[String, Double])]) = hs.toSeq.map { case (h, v) =>
    (hitBits(Array(h)), v.toSeq.sorted.map { case (n, x) => (n, doubleToRawLongBits(x)) })
  }

  /** Commits `dir` as its files stand, outside IndexBuilder.commit: the
    * next generation lists every data file with its length, and the stat
    * rows the stat files hold, as a reader of the directories saw it. */
  def relist(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val g = Generation.latest(dir)
    val files = Generation.Kinds.map { k =>
      k -> Option(new java.io.File(s"${IndexBuilder.dataDir(dir)}/kind=$k").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .map(f => Generation.DataFile(f.getName, f.length(), Nil)).toSeq
    }.toMap
    val stats = IndexBuilder.readTable(spark, s"${IndexBuilder.dataDir(dir)}/kind=stat",
      IndexBuilder.kindSchema("stat")).select("stat.*").as[SegStatRow].collect().toSeq
    Files.writeString(Generation.file(dir, g.number + 1),
      g.copy(number = g.number + 1, stats = stats, files = files).json)
  }
}
