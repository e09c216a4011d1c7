package graft

import java.lang.Float.floatToRawIntBits
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.index._
import graft.streaming.LiveIndex

/** A reader opens a committed Generation, not a directory: it stays on
  * the generation it opened, a missing, truncated or unlisted data file
  * fails the open (and a build's resume) by name, and a commit that
  * crashes at any step re-runs to exactly one copy of every doc. */
class GenerationSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val seed = 37L
  private val perBatch = 40L

  private def batch(b: Long): Dataset[SourceDoc] = {
    val sp = spark
    import sp.implicits._
    spark.createDataset((b * perBatch until (b + 1) * perBatch).map(i => Corpus.mkDoc(i, seed, skew = false)))
  }

  private def rawBits(hs: Array[(Int, Int, Float)]) =
    hs.toSeq.map { case (s, d, x) => (s, d, floatToRawIntBits(x)) }

  test("an instance whose stats predate an append answers from its own generation (the stale-N probe)") {
    val dir = TestDirs("graftgenstale")
    LiveIndex.appendBatch(batch(0L), 0L, dir)
    val want = rawBits(new InvertedIndex(spark.newSession(), dir).searchRaw("spark data", 5))
    val idx = new InvertedIndex(spark, dir)
    assert(idx.stats.numDocs == perBatch)
    LiveIndex.appendBatch(batch(1L), 1L, dir)
    // armed: after the append a term's df exceeds the collection size the
    // instance opened with, so scoring the new rows under it fails
    val now = new InvertedIndex(spark.newSession(), dir)
    assert(now.stats.numDocs == 2 * perBatch)
    assert(now.dfOf(Seq("spark", "data")).values.max > perBatch)
    assert(rawBits(idx.searchRaw("spark data", 5)) == want)
    assert(idx.docs.count() == perBatch)
    assert(rawBits(now.searchRaw("spark data", 5)) != want)
  }

  private lazy val corpus = Corpus.generate(spark, 300, seed = seed)
  private val cfg = IndexBuilder.Config(numSegments = 4, segmentsPerBatch = 2)
  private lazy val built = {
    val d = TestDirs("graftgenbuilt")
    IndexBuilder.build(spark, corpus, d, cfg)
    d
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

  test("a truncated or deleted file of each kind fails the open and the build's resume, naming its segments and batch") {
    val gen = Generation.latest(built)
    assert(gen.batches == Seq("b0", "b1"))
    for (kind <- Generation.Kinds; damage <- Seq("truncated", "deleted")) {
      val dir = copyDir(built, "graftgendamage")
      // a file of the second batch, the one a resume would not rewrite
      val f = gen.filesOf(kind).filter(_.batch == "b1").head
      assert(f.segments.nonEmpty && f.segments.forall(Set(2, 3)), f.toString)
      val path = Paths.get(IndexBuilder.dataDir(dir), s"kind=$kind", f.name)
      if (damage == "deleted") Files.delete(path)
      else {
        val ch = java.nio.channels.FileChannel.open(path, java.nio.file.StandardOpenOption.WRITE)
        try ch.truncate(f.bytes - 1) finally ch.close()
      }
      val tag = s"$kind file $damage"
      def named(e: IllegalStateException): Unit = {
        val m = e.getMessage
        assert(m.contains(s"data file kind=$kind/${f.name} (batch b1, segment(s) ${f.segments.mkString(", ")})") &&
          m.contains(if (damage == "deleted") "is missing" else s"has ${f.bytes - 1} bytes, ${f.bytes} committed"),
          s"$tag: $m")
      }
      named(intercept[IllegalStateException](new InvertedIndex(spark.newSession(), dir)))
      named(intercept[IllegalStateException](IndexBuilder.build(spark, corpus, dir, cfg)))
    }
    // the undamaged dir opens and resumes
    assert(new InvertedIndex(spark, built).stats.numDocs == 300)
    assert(IndexBuilder.build(spark, corpus, built, cfg).segmentsSkipped == 4)
  }

  test("a commit that crashes after staging, adopting, manifesting or its generation re-runs to one copy of every doc") {
    val clean = TestDirs("graftgenclean")
    (0L to 1L).foreach(b => LiveIndex.appendBatch(batch(b), b, clean))
    def genFiles(dir: String) =
      new java.io.File(IndexBuilder.manifestDir(dir)).list().count(_.matches("""gen-\d+\.json"""))
    val staged = Paths.get(_: String, "staging", "live1")
    Seq("staged", "adopted", "manifests", "generation").foreach { step =>
      val dir = TestDirs(s"graftgencrash$step")
      LiveIndex.appendBatch(batch(0L), 0L, dir)
      if (step == "staged") {
        // the write stages its files; the process dies before adopting
        intercept[IllegalStateException](IndexBuilder.commit(spark, dir, "live1") { stage =>
          IndexBuilder.writeSegments(IndexBuilder.tag(batch(1L), LiveIndex.LiveBase + LiveIndex.SegsPerBatch,
            LiveIndex.SegsPerBatch, Map.empty), 8, stage, IndexBuilder.Config())
          throw new IllegalStateException("crash")
        })
        assert(Files.list(staged(dir)).iterator.asScala.nonEmpty, step)
      } else {
        LiveIndex.appendBatch(batch(1L), 1L, dir)
        step match {
          case "adopted" =>
            Crashes.beforeGeneration(dir, "live1")
            (0 until LiveIndex.SegsPerBatch).foreach(k => Files.deleteIfExists(Paths.get(
              IndexBuilder.manifestDir(dir), f"seg-${LiveIndex.LiveBase + LiveIndex.SegsPerBatch + k}%05d.json")))
          case "manifests" => Crashes.beforeGeneration(dir, "live1")
          case _ => Files.createDirectories(staged(dir)) // before the staging dir went
        }
      }
      // a reader of the crashed dir opens the newest generation
      val crashed = new InvertedIndex(spark.newSession(), dir)
      assert(crashed.stats.numDocs == (if (step == "generation") 2 else 1) * perBatch, step)
      assert(crashed.docs.count() == crashed.stats.numDocs, step)

      LiveIndex.appendBatch(batch(1L), 1L, dir)
      val idx = new InvertedIndex(spark.newSession(), dir)
      assert(idx.stats.numDocs == 2 * perBatch, step)
      val sp = spark
      import sp.implicits._
      assert(idx.docs.map(d => (d.repo, d.path)).distinct().count() == 2 * perBatch, step)
      assert(idx.residentKeyBytes > 0, step) // each doc id filled exactly once
      assert(Generation.latest(dir).batches == Seq("live0", "live1"), step)
      assert(!Files.exists(staged(dir)), step)
      assert(genFiles(dir) == 2, step)
      IndexRows.assertSame(spark, dir, clean)
    }
  }
}

/** Crash states of IndexBuilder.commit, made from a completed commit. */
object Crashes {
  /** What a commit of `tag` leaves when it dies before its generation's
    * rename: the newest generation, which lists `tag`, is gone, and its
    * staging dir, deleted only after the generation, is still there. */
  def beforeGeneration(dir: String, tag: String): Unit = {
    val g = Generation.latest(dir)
    assert(g.batches.lastOption.contains(tag), s"$tag is not the newest commit of $dir")
    Files.delete(Generation.file(dir, g.number))
    Files.createDirectories(Paths.get(IndexBuilder.stagingDir(dir), tag))
  }
}
