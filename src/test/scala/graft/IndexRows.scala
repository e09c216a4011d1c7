package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._

import graft.index.InvertedIndex

/** Row-for-row comparison of two indexes. */
object IndexRows {
  private def hex(a: Array[Byte]): String = a.map(b => f"$b%02x").mkString

  /** Every doc, posting, fnorm and stat row of an index, rendered with
    * its byte arrays in hex and sorted; stat rows drop buildMs. */
  def of(spark: SparkSession, dir: String): Seq[Seq[String]] = {
    val idx = new InvertedIndex(spark, dir)
    Seq(
      idx.docs.collect().map(_.toString).toSeq,
      idx.postings.collect().map { p =>
        Seq(p.segment, p.term, p.shard, p.docFreq, p.docIdBase,
          p.lastDocs.mkString(","), hex(p.docBits), hex(p.tfBits),
          hex(p.bwFnormIds), hex(p.bwTfs), hex(p.packedDocs), hex(p.packedTfs),
          hex(p.tailBytes), hex(p.posBytes), p.posBlockOffsets.mkString(","))
          .mkString("|")
      }.toSeq,
      idx.fnorms.collect().map(f => s"${f.segment}|${f.chunk}|${f.numDocs}|${hex(f.fnorms)}").toSeq,
      idx.segStats.collect().map(_.copy(buildMs = 0L).toString).toSeq
    ).map(_.sorted)
  }

  def assertSame(spark: SparkSession, a: String, b: String): Unit =
    of(spark, a).zip(of(spark, b)).zip(Seq("doc", "posting", "fnorm", "stat")).foreach {
      case ((x, y), kind) =>
        assert(x.size == y.size, s"$kind row count")
        x.zip(y).find { case (p, q) => p != q }
          .foreach { case (p, q) => fail(s"$kind rows differ:\n$p\n$q") }
    }
}
