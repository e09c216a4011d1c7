package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the deterministic 10× scale generator (GenScale): the
  * scale-headroom evidence in BENCH/BASELINE.md leans on these
  * invariants, so they are pinned here rather than trusted. */
class GenScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val in = "/root/testdata/sf0.001"
  private lazy val out: String = {
    val dir = TestDirs("genscale")
    GenScale.generate(spark, in, dir, 3)
    dir
  }

  private def rt(name: String) = spark.read.parquet(s"$in/$name.parquet")
  private def st(name: String) = spark.read.parquet(s"$out/$name.parquet")

  test("fact tables triple with disjoint key ranges; dimensions pass through") {
    Seq("customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderkey",
      "lineitem" -> "l_orderkey", "events" -> "event_id",
      "documents" -> "doc_id", "embeddings" -> "vec_id").foreach {
      case (tbl, key) =>
        val n0 = rt(tbl).count()
        assert(st(tbl).count() == 3 * n0, s"$tbl row count")
        // primary-keyed tables: distinct keys also triple (disjointness)
        if (tbl != "lineitem") {
          val k0 = rt(tbl).select(key).distinct().count()
          assert(st(tbl).select(key).distinct().count() == 3 * k0,
            s"$tbl key disjointness")
        }
    }
    Seq("region", "nation").foreach { tbl =>
      assert(st(tbl).count() == rt(tbl).count(), s"$tbl dimension")
    }
  }

  test("copy 0 is bit-identical to the input (documents)") {
    val span = rt("documents").agg(max("doc_id")).head().getLong(0) + 1
    val c0 = st("documents").where(col("doc_id") < span)
    assert(c0.exceptAll(rt("documents")).isEmpty &&
      rt("documents").exceptAll(c0).isEmpty)
  }

  test("referential integrity holds per copy") {
    val orders = st("orders")
    val cust = st("customer").select(col("c_custkey").as("o_custkey"))
    assert(orders.join(cust, Seq("o_custkey"), "left_anti").count() == 0)
    val lines = st("lineitem")
    val okeys = orders.select(col("o_orderkey").as("l_orderkey"))
    assert(lines.join(okeys, Seq("l_orderkey"), "left_anti").count() == 0)
  }

  test("copied document text is salted per copy and n_chars tracks it") {
    val span = rt("documents").agg(max("doc_id")).head().getLong(0) + 1
    val c2 = st("documents").where(col("doc_id") >= lit(2 * span))
    assert(c2.count() > 0)
    assert(c2.where(!col("text").endsWith(" scopy2")).count() == 0)
    assert(st("documents")
      .where(col("n_chars") =!= length(col("text"))).count() == 0)
    // salted copies are NEAR-duplicates: same text prefix, differing tail
    val joined = c2.select((col("doc_id") - lit(2 * span)).as("doc_id"),
        col("text").as("t2"))
      .join(rt("documents").select(col("doc_id"), col("text").as("t0")),
        Seq("doc_id"))
    assert(joined.where(!col("t2").startsWith(col("t0"))).count() == 0)
    assert(joined.where(col("t2") === col("t0")).count() == 0)
  }

  test("generation is deterministic: same input and factor give identical content") {
    val dir2 = TestDirs("genscale2")
    GenScale.generate(spark, in, dir2, 3)
    Seq("documents", "lineitem").foreach { tbl =>
      val a = st(tbl)
      val b = spark.read.parquet(s"$dir2/$tbl.parquet")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, tbl)
    }
  }
}
