package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{Corpus, IndexBuilder, SourceDoc}

/** One query of the stream. `salted` queries carry a per-doc salt term,
  * which no serving cache can hold for long. */
final case class Query(mode: String, text: String, minus: Seq[String]) {
  def salted: Boolean = text.contains("zzsalt")
  def line: String = s"$mode\t$text\t${minus.mkString(" ")}"
}

/** Seeded inputs. Everything the program reads is written to files
  * first, and the benchmark reads the program's input back from them. */
object Inputs {
  /** Zipf exponent of query terms over Corpus.Vocab (the corpus uses the
    * same exponent, so query head terms are the corpus head terms). */
  val ZipfS = 1.1
  /** Query `i` is salted when `i % SaltEvery == SaltEvery - 1` (a 5%
    * share), `and` when `i % 10 == 4`, and carries a minus term when
    * `i % 10 == 8` (10% each). Fixed positions, not draws, so every
    * stretch of the stream has the same mix whatever the seed. */
  val SaltEvery = 20

  private lazy val zipfCum: Array[Double] = {
    val w = Array.tabulate(Corpus.Vocab.length)(i => 1.0 / math.pow(i + 1.0, ZipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  private def zipfTerm(r: java.util.SplittableRandom): String = {
    val p = java.util.Arrays.binarySearch(zipfCum, r.nextDouble())
    Corpus.Vocab(math.min(if (p >= 0) p else -p - 1, Corpus.Vocab.length - 1))
  }

  /** `n` queries of 1-4 Zipf terms; salt terms name docs in [saltLo, saltHi). */
  def queryStream(seed: Long, n: Int, saltLo: Long, saltHi: Long): Array[Query] = {
    val r = new java.util.SplittableRandom(seed * 0x9e3779b97f4a7c15L + 0x51ed)
    Array.tabulate(n) { i =>
      val terms = Seq.fill(1 + r.nextInt(4))(zipfTerm(r)).distinct
      val salt =
        if (i % SaltEvery == SaltEvery - 1)
          Seq(s"zzsalt${saltLo + r.nextLong(saltHi - saltLo)}${if (r.nextBoolean()) "a" else "b"}")
        else Nil
      val mode = if (i % 10 == 4) "and" else "or"
      val minus = if (i % 10 == 8) Seq(zipfTerm(r)).filterNot(terms.contains) else Nil
      Query(mode, (terms ++ salt).mkString(" "), minus)
    }
  }

  def writeQueries(qs: Array[Query], path: Path): String = {
    val bytes = qs.map(_.line).mkString("", "\n", "\n").getBytes(UTF_8)
    Files.createDirectories(path.getParent)
    Files.write(path, bytes)
    IndexBuilder.hex(java.security.MessageDigest.getInstance("SHA-256").digest(bytes))
  }

  def readQueries(path: Path): Array[Query] =
    new String(Files.readAllBytes(path), UTF_8).split("\n").filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      Query(f(0), f(1), f(2).split(" ").filter(_.nonEmpty).toSeq)
    }

  /** Docs [lo, hi) of the seeded corpus in the north-rule table shape,
    * written as parquet; with `batchDocs` > 0 the table is partitioned
    * into micro-batches of that many docs (column `batch`). */
  def writeDocs(spark: SparkSession, seed: Long, lo: Long, hi: Long, batchDocs: Long,
                path: String): Unit = {
    import spark.implicits._
    val out = spark.range(lo, hi, 1, 16)
      .map(i => (if (batchDocs > 0) (i - lo) / batchDocs else 0L, Corpus.mkDoc(i, seed, skew = false)))
      .select($"_1".as("batch"), $"_2.repo", $"_2.path", $"_2.commit", $"_2.lang", $"_2.content")
    if (batchDocs > 0) out.write.mode("overwrite").partitionBy("batch").parquet(path)
    else out.drop("batch").write.mode("overwrite").parquet(path)
  }

  /** The program's input: the parquet table as SourceDocs. */
  def read(spark: SparkSession, path: String, batch: Option[Long] = None): Dataset[SourceDoc] = {
    import spark.implicits._
    val t = spark.read.parquet(path)
    batch.fold(t)(b => t.where($"batch" === b))
      .select($"repo", $"path", $"commit", $"lang", $"content",
        lit("").as("props"), typedLit(Seq.empty[String]).as("links"))
      .as[SourceDoc]
  }

  /** (rows, content bytes, order-independent row hash) of a table. */
  def digest(spark: SparkSession, path: String): (Long, Long, String) = {
    val r = spark.read.parquet(path).agg(count(lit(1)), sum(octet_length(col("content"))),
      sum(xxhash64(col("repo"), col("path"), col("commit"), col("lang"), col("content")).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getLong(1), f"${r.getDecimal(2).toBigInteger.longValue}%016x")
  }
}
