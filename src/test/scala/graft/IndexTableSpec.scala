package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.length
import org.scalatest.funsuite.AnyFunSuite

import graft.index._
import graft.streaming.LiveIndex

/** Index tables are read with the schema their writer declared
  * (IndexBuilder.readKind / readTable), never with a schema inferred
  * from the files: the declared reads return exactly what inference
  * would, and no other reader of an index directory exists. */
class IndexTableSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  // fills positions, meta terms, both shadow fieldnorms, simhash and grank
  private val cfg = IndexBuilder.Config(numSegments = 3, recordPositions = true,
    indexMeta = true, indexBigrams = true, indexTrigrams = true,
    computeSimhash = true, storeGlobalRank = true)

  /** A row as text, byte arrays in hex, nested values spelled out. */
  private def canonical(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case x => s"${x.getClass.getSimpleName}:$x"
  }

  private def sameRows(tag: String, declared: DataFrame, inferred: DataFrame): Unit = {
    assert(declared.schema == inferred.schema, tag)
    val a = declared.collect().map(canonical).sorted.toSeq
    val b = inferred.collect().map(canonical).sorted.toSeq
    assert(a.nonEmpty, s"$tag: no rows")
    assert(a == b, tag)
  }

  /** Every table of the index at `dir`, read through InvertedIndex, vs
    * the same directories read with an inferred schema. */
  private def checkIndex(name: String, dir: String): Unit = {
    val idx = new InvertedIndex(spark, dir)
    def inferred(kind: String) =
      spark.read.parquet(s"${IndexBuilder.dataDir(dir)}/kind=$kind").select(s"$kind.*")
    sameRows(s"$name doc", idx.docs.toDF(), inferred("doc"))
    sameRows(s"$name posting", idx.postings.toDF(), inferred("posting"))
    sameRows(s"$name fnorm", idx.fnorms.toDF(), inferred("fnorm"))
    sameRows(s"$name stat", idx.segStats.toDF(), inferred("stat"))
    val grank = idx.storedGlobalRanks
    assert(grank.nonEmpty, s"$name: no valid grank table")
    sameRows(s"$name grank", grank.get.toDF(),
      spark.read.parquet(s"${GlobalRank.dirOf(dir)}/data"))
  }

  test("declared-schema reads == inferred-schema reads: built, live and merged indexes") {
    import spark.implicits._
    val built = TestDirs("graftdeclbuilt")
    IndexBuilder.build(spark, Corpus.generate(spark, 300, seed = 5L), built, cfg)
    val bi = new InvertedIndex(spark, built)
    assert(bi.fnorms.map(_.chunk >> Fields.FnormFieldShift).distinct().count() == 3,
      "content, bigram and trigram fieldnorms")
    assert(bi.postings.filter(length($"posBytes") > 0).count() > 0, "positions")
    assert(bi.docs.filter($"simhash" =!= 0L).count() > 0)
    checkIndex("built", built)

    val live = TestDirs("graftdecllive")
    Seq(0L, 1L).foreach { b =>
      LiveIndex.appendBatch(spark.createDataset(
        (b * 60L until b * 60L + 60L).map(i => Corpus.mkDoc(i, 5L, skew = false))),
        b, live, cfg, grankRefreshEvery = 1)
    }
    checkIndex("live", live)

    val merged = TestDirs("graftdeclmerged")
    SegmentMerge.merge(spark, built, merged, fanIn = 2, cfg)
    checkIndex("merged", merged)
  }

  test("no reader of an index directory outside IndexBuilder.readTable") {
    // a `.read` ... `.parquet(` / `.load(` chain in code (comments
    // blanked) is a read, and so is a relation made into a DataFrame
    // (`baseRelationToDataFrame(`). Under index/ and streaming/ the only
    // readers are readTable (by path, and over a generation's file list)
    // and Ingest.sourceDocs, which reads the build's input table, not an
    // index.
    val roots = Seq("src/main/scala/graft/index", "src/main/scala/graft/streaming")
    val files = roots.flatMap { r =>
      val d = new java.io.File(r)
      assert(d.isDirectory, s"$r not found")
      d.listFiles().filter(_.getName.endsWith(".scala")).toSeq
    }
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    val call = """\.(read|write|readStream|writeStream)\b|\.(parquet|load|baseRelationToDataFrame)\(""".r
    val reads = files.flatMap { f =>
      val src = comment.replaceAllIn(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "ISO-8859-1"),
        m => "\n" * m.matched.count(_ == '\n'))
      var chain = ""
      call.findAllMatchIn(src).flatMap { m =>
        if (m.group(1) != null) { chain = m.group(1); None }
        else if (chain == "read" || m.group(2) == "baseRelationToDataFrame") {
          chain = ""
          val before = src.substring(0, m.start)
          val owner = """def\s+(\w+)""".r.findAllMatchIn(before).toSeq.lastOption
            .map(_.group(1)).getOrElse("")
          Some((s"${f.getName.stripSuffix(".scala")}.$owner", before.count(_ == '\n') + 1))
        } else None
      }.toSeq
    }
    assert(reads.map(_._1).sorted == Seq("IndexBuilder.readTable", "IndexBuilder.readTable", "Ingest.sourceDocs"),
      reads.map { case (o, l) => s"$o (line $l)" }.mkString("; "))
  }
}
