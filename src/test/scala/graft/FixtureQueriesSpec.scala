package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.index._

/** Runs the whole fixtures/queries.tsv set (FIXTURES.md §2) through the
  * parser + engine; OR-mode queries must be WAND==exhaustive
  * rank-identical, every query must complete without error. */
class FixtureQueriesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private lazy val index = {
    val d = TestDirs("graftfx")
    IndexBuilder.build(spark, Corpus.generate(spark, 600, seed = 42L), d,
      IndexBuilder.Config(numSegments = 4, indexStemmed = true, indexBigrams = true))
    new InvertedIndex(spark, d)
  }

  test("fixture query set runs; OR queries rank-identical to oracle") {
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("fixtures/queries.tsv"))
    assert(lines.size() >= 10)
    lines.forEach { line =>
      val Array(qid, q, kStr) = line.split("\t")
      val k = kStr.toInt
      val (body, mode, minus) = index.parse(q)
      val hits = index.search(body, k, mode, minus)
      assert(hits.length <= k, qid)
      if (mode == "or") {
        val w = index.searchRaw(body, k, "or", minus)
        val e = index.searchRaw(body, k, "exhaustive", minus)
        assert(w.toSeq == e.toSeq, s"$qid '$q'")
        // and the expanded variant stays consistent too
        val wx = index.searchRaw(body, k, "or+", minus)
        val ex = index.searchRaw(body, k, "exhaustive+", minus)
        assert(wx.toSeq == ex.toSeq, s"$qid '$q' expanded")
      }
    }
  }

  test("golden top-k: exhaustive-oracle outputs are stable across builds") {
    // FIXTURES.md §3: per-query (rank, segment, docId, score) from the
    // exhaustive scorer over the deterministic seed-42 index. On first
    // run the golden file is written (commit it); afterwards any
    // deviation is a cross-version rank-identity regression.
    val golden = java.nio.file.Paths.get("fixtures/golden/topk.tsv")
    val queries = Seq("spark session", "the", "license apache spark",
      "query engine block wand", "data table row", "zzsalt5a")
    val lines = queries.flatMap { q =>
      index.searchRaw(q, 10, "exhaustive").zipWithIndex.map { case ((s, d, sc), i) =>
        f"$q\t${i + 1}\t$s\t$d\t$sc%.6f"
      }
    }
    if (!java.nio.file.Files.exists(golden)) {
      java.nio.file.Files.write(golden, String.join("\n", lines: _*).getBytes)
      info(s"golden file bootstrapped with ${lines.size} rows — commit it")
    } else {
      val want = new String(java.nio.file.Files.readAllBytes(golden))
        .split("\n").toSeq
      assert(lines == want, "golden top-k drifted")
    }
  }

  test("parser: negation and phrase forms") {
    assert(index.parse("test -website") == (("test", "or", Seq("website"))))
    assert(index.parse("\"spark session\"") == (("spark session", "phrase", Nil)))
    assert(index.parse("plain query") == (("plain query", "or", Nil)))
  }
}
